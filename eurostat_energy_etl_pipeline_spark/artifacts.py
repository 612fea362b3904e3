"""The artifact store: every intermediate that outlives one action.

The reference caches state once per process (``st.cache_data`` on the
warehouse scan, ``lru_cache`` on the TF-IDF index; SURVEY §2.9 T4). The
engine keeps that idea in one place, with two lifetimes:

- **Session lifetime.** :func:`session_value` memoizes any value (a
  cached view, a prepared graph, a search index, trained centroids) per
  ``(applicationId, sf_dir, name)``. :func:`session_table` does the same
  for a table written to disk once and read by every later query (an
  at-rest index, a materialized view base); it returns the table's path.
  Tables live under ``SparkFiles.getRootDirectory()``, the per-application
  ``userFiles-*`` directory that Spark deletes when the context stops, so
  the store has no cleanup code. Only one SparkContext is live per
  process: a miss from a new application drops every entry of the old
  one, whose DataFrames and paths can never be hit again.
- **Plan lifetime.** While a registered query's plan is built (see
  :func:`building`), :func:`pin` and :func:`plan_checkpoint` record the
  persisted handles and checkpoint block ids under that query's name.
  The harness frees the pins with :func:`release_pins`; checkpoint
  blocks live as long as the plan and are freed when it is dropped and
  garbage-collected.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any

from pyspark import SparkFiles
from pyspark.sql import DataFrame, SparkSession

# --- session lifetime --------------------------------------------------------

_VALUES: dict[tuple[str, str, str], Any] = {}
# Held only on a miss, so a build happens once even under bench's threaded
# pass. Reentrant: builders call the store for their own inputs.
_BUILD_LOCK = threading.RLock()


def session_value(
    spark: SparkSession, sf_dir: str, name: str, build: Callable[[], Any]
) -> Any:
    """``build()`` once per (session, sf_dir, name), then the memoized value.
    ``sf_dir`` names the input the value derives from (a testdata dir, or
    any string that identifies the input)."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    try:
        return _VALUES[key]
    except KeyError:
        pass
    with _BUILD_LOCK:
        if key not in _VALUES:
            for stale in [k for k in _VALUES if k[0] != key[0]]:
                del _VALUES[stale]
            _VALUES[key] = build()
        return _VALUES[key]


def session_table(
    spark: SparkSession, sf_dir: str, name: str, write: Callable[[str], Any]
) -> str:
    """Path of a table ``write(path)`` stores once per (session, sf_dir,
    name), inside the application's SparkFiles root directory. Files a
    writer puts next to ``path`` (``{path}_centroids``) share its fate."""

    def build() -> str:
        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
        path = os.path.join(
            SparkFiles.getRootDirectory(), f"spark_graft_{name}_{tag}"
        )
        write(path)
        return path

    return session_value(spark, sf_dir, name, build)


# --- plan lifetime -----------------------------------------------------------


@dataclass
class _PlanRecord:
    """What one query's plan holds: the handles it pinned, and the
    checkpoint block ids its current build declared (None: none declared)."""

    pins: list[DataFrame] = field(default_factory=list)
    checkpoints: set[int] | None = None


_PLANS: dict[str, _PlanRecord] = {}
_PLANS_LOCK = threading.Lock()


class _Building(threading.local):
    """Per-thread query-name stack: bench.py's threaded throughput pass
    builds plans concurrently, and a shared stack would let one thread's
    pin register under another thread's query name."""

    def __init__(self) -> None:
        self.stack: list[str] = []


_BUILDING = _Building()


def _current() -> _PlanRecord:
    """The record of the query being built on this thread (lock held)."""
    stack = _BUILDING.stack
    return _PLANS.setdefault(stack[-1] if stack else "__anon__", _PlanRecord())


def forget_checkpoints(name: str) -> None:
    """Drop ``name``'s checkpoint declaration: its plan was dropped, or is
    being rebuilt and declares afresh."""
    with _PLANS_LOCK:
        rec = _PLANS.get(name)
        if rec is not None:
            rec.checkpoints = None


@contextmanager
def building(name: str) -> Iterator[None]:
    """Attribute pins and checkpoints made in the block to ``name``. The
    build starts from no checkpoint declaration, so the record describes
    the plan as built now."""
    forget_checkpoints(name)
    _BUILDING.stack.append(name)
    try:
        yield
    finally:
        _BUILDING.stack.pop()


def pin(df: DataFrame) -> DataFrame:
    """persist() + record the handle for :func:`release_pins`. Use for
    an expensive subtree referenced more than once in the SAME returned
    plan; the pin stays alive while the query is measured and is released
    by the harness afterwards (re-executing the memoized plan after a
    release is still correct — just recomputes the subtree)."""
    with _PLANS_LOCK:
        _current().pins.append(df.persist())
    return df


def plan_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """``localCheckpoint`` an intermediate AND record the resulting
    block ids as plan-lifetime under the query being built. The id
    capture diffs the session's persistent-RDD set around the
    checkpoint — exact in a single-threaded build; a concurrent build on
    another thread can at worst attribute its own fresh blocks here too,
    which only widens the gate's tolerated set (never hides a leak in
    the single-threaded gate run)."""
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=eager)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    with _PLANS_LOCK:
        rec = _current()
        rec.checkpoints = (rec.checkpoints or set()) | (after - before)
    return out


def at_rest(df: DataFrame) -> DataFrame:
    """Materialize an AT-REST ARTIFACT: eager localCheckpoint executes
    the build once and truncates lineage, so every consumer references a
    leaf RDD — the semantics of a stored table (incremental queries'
    artifacts ARE yesterday's persisted outputs). Load-bearing for plan
    size, not just fidelity: chaining artifact-on-artifact through lazy
    pins re-embeds each build subtree at every reference (q192's first
    cut produced a combinatorial ~24 MB logical plan that Catalyst
    re-optimized on EVERY action); leaf RDDs keep the returned plan
    proportional to the merge logic itself. Blocks are plan-lifetime
    (released when the plan is dropped and GC'd) and recorded with
    their ids by :func:`plan_checkpoint`."""
    return plan_checkpoint(df, eager=True)


def checkpoint_users() -> frozenset[str]:
    """Queries whose current build declared plan-lifetime checkpoint
    blocks (only plans BUILT in this process — build before asking)."""
    with _PLANS_LOCK:
        return frozenset(n for n, r in _PLANS.items() if r.checkpoints is not None)


def checkpoint_ids(name: str) -> frozenset[int] | None:
    """The plan-lifetime block ids ``name``'s current build declared, or
    None when it declared none."""
    with _PLANS_LOCK:
        rec = _PLANS.get(name)
        if rec is None or rec.checkpoints is None:
            return None
        return frozenset(rec.checkpoints)


def release_pins(name: str | None = None, blocking: bool = False) -> int:
    """Unpersist every handle pinned by ``name`` (or by all queries when
    None). Returns the number of handles released. ``blocking=False``
    (the default) is the harness hot path; the count-based lifetime test
    passes ``blocking=True`` because an async unpersist can land AFTER a
    later baseline snapshot and deflate it mid-measurement."""
    with _PLANS_LOCK:
        recs = list(_PLANS.values()) if name is None else [_PLANS.get(name, _PlanRecord())]
        handles = [df for r in recs for df in r.pins]
        for r in recs:
            r.pins = []
    n = 0
    for df in handles:
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n
