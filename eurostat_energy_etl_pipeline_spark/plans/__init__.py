"""Declared query library (SURVEY.md §2.12) + registry plumbing.

Every query is registered twice: a Spark DataFrame builder in ``QUERIES``
(name -> callable(spark, sf_dir) -> DataFrame) and, when SQL-expressible, the
equivalent DuckDB oracle string in ``ORACLE``. The driver hash-compares the
two at sf0.01; `tests/test_oracle_differential.py` does the same locally at
sf0.001.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from eurostat_energy_etl_pipeline_spark import artifacts
from eurostat_energy_etl_pipeline_spark.artifacts import (  # noqa: F401
    at_rest,
    checkpoint_ids,
    checkpoint_users,
    pin,
    plan_checkpoint,
    release_pins,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# Prepared-plan cache per (session, sf_dir, query): rebuilding a query's
# DataFrame pays Catalyst analysis + optimization again (~200-450 ms/query,
# roughly half of repeated-workload wall clock at sf0.1) even though the
# resulting plan is identical. Real engines keep a plan cache for exactly
# this (prepared statements / Hive's PlanCache); we memoize the built
# DataFrame and let every call re-EXECUTE it — results are never cached
# here, only the plan. Inputs are immutable testdata dirs, so plans never
# go stale; the appId key drops the cache with the session.
#
# BOUNDED by default (r12): a retained DataFrame keeps its executed
# broadcasts / localCheckpoint RDDs / exchange state JVM-reachable, so an
# unbounded cache makes a one-shot 200+-query sweep accumulate every
# query's broadcast hash tables — which overflowed a 1g plain-session
# driver heap at sf0.1 even though no single query is large. A one-shot
# harness gets zero reuse from the memo anyway, so the default LRU cap
# costs it nothing and caps retention; repeated-workload harnesses
# (bench.py) raise SPARK_GRAFT_PLAN_CACHE_SIZE above the registry size
# to keep full reuse — exactly a real engine's sized prepared-statement
# cache.
_PLAN_CACHE: OrderedDict[tuple[str, str, str], DataFrame] = OrderedDict()
# bench's throughput pass hits the cache from 8 client threads; OrderedDict
# reordering is not atomic, so every cache touch takes this (uncontended,
# nanoseconds next to a 200 ms plan build)
_PLAN_CACHE_LOCK = threading.Lock()


def _plan_cache_cap() -> int:
    return int(os.environ.get("SPARK_GRAFT_PLAN_CACHE_SIZE", "32"))


def clear_plan_cache() -> None:
    """Drop memoized plans. Needed when a test wants the pre-execution plan:
    once a cached DataFrame has been executed, ``explain`` shows the
    AQE-finalized physical plan, not the static one."""
    with _PLAN_CACHE_LOCK:
        _PLAN_CACHE.clear()


def drop_plan(name: str) -> int:
    """Evict ``name``'s memoized plans (every session/sf_dir key).

    A ONE-SHOT harness (the driver's correctness sweep runs each query
    exactly once) should not retain executed plans: each kept DataFrame
    pins its executed broadcasts, localCheckpoint RDDs, and exchange
    state as JVM-reachable, so a 200+-query sweep accumulates every
    query's broadcast hash tables for the whole session — which
    overflows a small plain-session driver heap at sf0.1 even though no
    single query is large. Dropping the plan after its comparison lets
    ContextCleaner GC all of it; repeated-workload harnesses (bench)
    keep the cache, which is the whole point of the memo. Session-
    lifetime artifacts (``artifacts.session_value``/``session_table``)
    are not plan state and stay until the session stops."""
    with _PLAN_CACHE_LOCK:
        keys = [k for k in _PLAN_CACHE if k[2] == name]
        for k in keys:
            del _PLAN_CACHE[k]
    # the plan is gone, so its checkpoint declaration no longer describes
    # anything live
    artifacts.forget_checkpoints(name)
    return len(keys)


def query(name: str, oracle: str | None = None):
    """Register a declared query (and optionally its DuckDB oracle SQL).
    The registered callable is plan-memoized; the undecorated function is
    returned unchanged for direct use in tests."""

    def deco(fn):
        def prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
            key = (spark.sparkContext.applicationId, sf_dir, name)
            with _PLAN_CACHE_LOCK:
                df = _PLAN_CACHE.get(key)
                if df is not None:
                    _PLAN_CACHE.move_to_end(key)
                    return df
            with artifacts.building(name):
                df = fn(spark, sf_dir)
            with _PLAN_CACHE_LOCK:
                _PLAN_CACHE[key] = df
                cap = _plan_cache_cap()
                while len(_PLAN_CACHE) > cap:
                    _PLAN_CACHE.popitem(last=False)  # LRU eviction
            return df

        prepared.__name__ = f"{fn.__name__}_prepared"
        prepared.__doc__ = fn.__doc__
        QUERIES[name] = prepared
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from eurostat_energy_etl_pipeline_spark.plans import (  # noqa: F401
        relational,
        insights,
        analytics,
        northstar,
        events,
        corpus,
        graph,
        funnel,
    )
