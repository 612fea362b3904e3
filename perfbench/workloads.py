"""The four workloads: each is a list of ops per pass, run closed loop.

An op is one user-visible call into the program: a registry query built
and collected, a chatbot answer, a JSON-stat decode, a warehouse merge,
read or compaction, a stream drain. Every call into a program module is
wrapped in a span named after that module (the layer), so the traced run
can split each op's time by layer; the op's own span carries the harness
time in between.
"""

from __future__ import annotations

import os
import queue
import threading
import time
import weakref
from collections import defaultdict
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from perfbench import checks, inputs as inputs_mod

# Ops whose DuckDB oracle is a brute-force ground truth, deliberately
# harder than the operator it certifies (bench.py's gt_oracles): they are
# checked against their own first result instead.
GT_ORACLES = {"q25_minhash_lsh_pairs", "q26_simhash_pairs"}

CURATION_QUERIES = (
    "q19_dedup_exact", "q23_dedup_hash_groups",  # exact / hash dedup
    "q24_ngram_jaccard", "q25_minhash_lsh_pairs", "q26_simhash_pairs",
    "q31_embedding_neardup", "q97_semantic_dedup",  # near duplicates
    "q141_substring_dedup", "q52_decontaminate",  # substring / decontamination
    "q145_repetition_filters",  # quality filters
    "q185_curation_funnel",  # the at_rest curation funnel
)

WORKLOADS = ("dashboard", "curation", "warehouse_load", "dashboard_concurrent")


# The q01-q22 operators whose reference source is the Streamlit app or its
# chart helpers (streamlit_app.py / viz_utils.py); the others model ETL, ML
# feature and LLM-pipeline steps, not dashboard actions.
DASHBOARD_CORE = ("q01_filter_project", "q05_year_extract", "q06_topk_avg",
                  "q07_topk_sum", "q08_latest_period", "q09_between",
                  "q10_pivot_conditional")


def dashboard_queries(registry) -> list[str]:
    """The reference's dashboard surface in the registry."""
    dash = sorted(n for n in registry if n.startswith("q_dash_"))
    return list(DASHBOARD_CORE) + ["q17b_insights_full"] + dash + [
        "q_dq_probes", "q35_forecast", "q74_forecast_features",
    ]


@dataclass
class Op:
    name: str
    fn: Callable[[str], Any]  # fn(op_id) -> result
    check: Callable[[Any], list[str]]  # problems with the result ([] = correct)
    rows: int = 0  # input rows the op processes


@dataclass
class Pass:
    phase: str
    idx: int
    traced: bool
    wall: float  # seconds
    rows: int  # input rows the pass's ops processed


@dataclass
class Sample:
    op: str
    phase: str  # "first", "warmup" or "steady"
    idx: int  # the pass it ran in
    traced: bool
    latency: float  # seconds
    ok: bool
    problems: list[str] = field(default_factory=list)


class Counters:
    """Per-layer counts taken at the layer boundaries, kept per pass kind so
    the report can use the traced steady passes only."""

    def __init__(self) -> None:
        self.values: dict[str, list[float]] = defaultdict(list)
        self.key = "first"
        self._lock = threading.Lock()

    def add(self, metric: str, value: float) -> None:
        with self._lock:
            self.values[f"{self.key}/{metric}"].append(value)

    def get(self, metric: str, key: str = "traced") -> list[float]:
        return self.values.get(f"{key}/{metric}", [])


class Context:
    """What ops share: the session, registry, inputs, tracer and counters."""

    def __init__(self, spark, inp: inputs_mod.Inputs, tracer, work: str) -> None:
        import __spark_entry__ as entry
        from eurostat_energy_etl_pipeline_spark import plans

        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.sf = inp.data_dir
        self.inputs = inp
        self.tracer = tracer
        self.work = work
        self.plans = plans
        self.registry = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        self.counters = Counters()
        self._last_build: dict[str, weakref.ref] = {}

    # -- layer boundaries ------------------------------------------------
    def build(self, op_id: str, name: str, fn=None):
        """Call a registry callable; a memo hit is the callable returning
        the very DataFrame object it returned last time."""
        fn = fn or self.registry[name]
        t = time.perf_counter()
        with self.tracer.span(f"build {name}", "plans", op_id, group=f"build:{op_id}"):
            df = fn(self.spark, self.sf)
        self.counters.add("plans.build_ms", 1e3 * (time.perf_counter() - t))
        last = self._last_build.get(name)
        self.counters.add("plans.memo_hit", 1.0 if last is not None and last() is df else 0.0)
        self._last_build[name] = weakref.ref(df)
        return df

    def collect(self, op_id: str, df):
        with self.tracer.span("collect", "spark", op_id, group=f"op:{op_id}"):
            return df.toPandas()

    def query_op(self, name: str, refs: checks.References, rows: int = 0,
                 fn=None, drop: bool = False) -> Op:
        def run(op_id: str):
            if drop:
                with self.tracer.span("drop_plan", "plans", op_id):
                    self.plans.drop_plan(name)
            out = self.collect(op_id, self.build(op_id, name, fn))
            if drop:
                with self.tracer.span("release_pins", "plans", op_id):
                    self.counters.add("plans.pins_released", self.plans.release_pins(name))
            return out

        return Op(name, run, lambda r: refs.check(name, r), rows)


def order(ops: list[Op], perm: list[int]) -> list[Op]:
    """``ops`` in the order of a seeded permutation of range(64)."""
    return [ops[i] for i in perm if i < len(ops)]


# ------------------------------------------------------------ dashboard

def dashboard_ops(ctx: Context, refs: checks.References) -> list[Op]:
    from eurostat_energy_etl_pipeline_spark.plans.insights import insights_table
    from eurostat_energy_etl_pipeline_spark.rag import chatbot

    ops = [ctx.query_op(n, refs) for n in dashboard_queries(ctx.registry)]
    ops.append(ctx.query_op("insights_table", refs, fn=insights_table))

    def ask(question: str) -> Op:
        route = chatbot.route(question)

        def run(op_id: str):
            t = time.perf_counter()
            with ctx.tracer.span(f"answer {route}", "rag", op_id, group=f"op:{op_id}"):
                out = chatbot.answer_question(ctx.spark, ctx.sf, question)
            ctx.counters.add(f"rag.answer_ms.{route}", 1e3 * (time.perf_counter() - t))
            return out

        key = f"ask:{question}"
        return Op(f"ask_{route}", run, lambda r: refs.check(key, r))

    ops.extend(ask(q) for q in ctx.inputs.questions)
    return ops


def dashboard_oracles(ctx: Context) -> list[str]:
    return [n for n in dashboard_queries(ctx.registry)
            if n in ctx.oracle_sql and n not in GT_ORACLES]


# ------------------------------------------------------------- curation

def curation_ops(ctx: Context, refs: checks.References) -> list[Op]:
    ops = []
    for n in CURATION_QUERIES:
        sql = ctx.oracle_sql.get(n, "")
        rows = sum(ctx.inputs.rows[t] for t in ("documents", "embeddings") if t in sql)
        ops.append(ctx.query_op(n, refs, rows=rows, drop=True))
    return ops


def curation_oracles(ctx: Context) -> list[str]:
    return [n for n in CURATION_QUERIES if n in ctx.oracle_sql and n not in GT_ORACLES]


# ------------------------------------------------------- warehouse_load

KEY_COLS = ["dataset_code", "country_code", "indicator_code", "unit_code", "year"]


def _dir_files(path: str) -> dict[str, tuple[int, int]]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def _files_per_partition(path: str) -> float:
    parts = defaultdict(int)
    for p in _dir_files(path):
        parts[os.path.dirname(p)] += 1
    return sum(parts.values()) / max(1, len(parts))


def warehouse_ops(ctx: Context, pass_idx: int) -> list[Op]:
    """Pass ``p`` loads batch ``p`` into the run's warehouse: decode its
    payloads, merge, a late-arriving append, read back and check, compact,
    and drain the batch's events slice through the streaming dedup."""
    from eurostat_energy_etl_pipeline_spark.etl import job, maintenance
    from eurostat_energy_etl_pipeline_spark.sources import jsonstat
    from eurostat_energy_etl_pipeline_spark.streaming import events

    batch = ctx.inputs.warehouse[pass_idx]
    wdir = os.path.join(ctx.work, "warehouse")
    spark, tracer, counters = ctx.spark, ctx.tracer, ctx.counters
    state: dict[str, Any] = {}

    def decode(payloads, op_id):
        t = time.perf_counter()
        with tracer.span("decode_jsonstat", "sources", op_id, group=f"op:{op_id}"):
            dfs = [jsonstat.decode_jsonstat(spark, p, ds) for ds, p in payloads]
        counters.add("sources.decode_ms", 1e3 * (time.perf_counter() - t))
        counters.add("sources.rows_decoded", sum(len(p["value"]) for _ds, p in payloads))
        return dfs

    def load(dfs, mode, op_id):
        before = _dir_files(wdir)
        t = time.perf_counter()
        with tracer.span(f"run_etl {mode}", "etl", op_id, group=f"op:{op_id}"):
            n = job.run_etl(spark, dfs, wdir, mode=mode)
        counters.add("etl.merge_ms", 1e3 * (time.perf_counter() - t))
        after = _dir_files(wdir)
        return n, sum(s for p, (s, m) in after.items() if before.get(p) != (s, m))

    def expect(n_rows, what):
        return lambda r: [] if r == n_rows else [f"{what}: {r} rows, expected {n_rows}"]

    def op_decode(op_id):
        state["dfs"] = decode(batch.payloads, op_id)
        return len(state["dfs"])

    def op_merge(op_id):
        n, written = load(state.pop("dfs"), "merge", op_id)
        counters.add("etl.write_amp", written / batch.decoded_bytes)
        return n

    def op_late(op_id):
        return load(decode([batch.late], op_id), "append", op_id)[0]

    def op_read(op_id):
        counters.add("etl.files_per_partition", _files_per_partition(wdir))
        t = time.perf_counter()
        with tracer.span("read_warehouse", "etl", op_id, group=f"op:{op_id}"):
            pdf = job.read_warehouse(spark, wdir).select(*KEY_COLS, "value").toPandas()
        counters.add("etl.read_ms", 1e3 * (time.perf_counter() - t))
        return pdf

    def read_check(pdf):
        got = {
            tuple(None if v != v else v for v in k[:-1]) + (int(k[-1]),): val
            for *k, val in pdf[KEY_COLS + ["value"]].itertuples(index=False, name=None)
        }
        want = {(ds, g, ind, "GWH" if ds == "nrg_cb_e" else None, yr): v
                for (ds, g, ind, yr), v in batch.expected.items()}
        if len(pdf) != len(want):
            return [f"warehouse holds {len(pdf)} rows, expected {len(want)} distinct keys"]
        bad = [k for k, v in want.items() if got.get(k) != v]
        return [f"{len(bad)} warehouse values differ, first {bad[0]}"] if bad else []

    def op_compact(op_id):
        t = time.perf_counter()
        with tracer.span("compact_warehouse", "etl", op_id, group=f"op:{op_id}"):
            out = maintenance.compact_warehouse(spark, wdir)
        counters.add("etl.compact_ms", 1e3 * (time.perf_counter() - t))
        return out

    def compact_check(out):
        n = job.read_warehouse(spark, wdir).count()
        problems = expect(len(batch.expected), "compacted warehouse")(n)
        if out["files_after"] > out["partitions_compacted"]:
            problems.append(f"compaction left {out['files_after']} files in "
                            f"{out['partitions_compacted']} partitions")
        return problems

    def op_drain(op_id):
        name = f"drain_p{pass_idx}"
        t = time.perf_counter()
        with tracer.span("drain", "streaming", op_id, group=f"op:{op_id}"):
            stream = events.dedup_stream(events.read_events_stream(spark, batch.events_dir))
            q = events.run_to_memory(stream, name, available_now=True)
        drain = time.perf_counter() - t
        progress = q.recentProgress
        counters.add("streaming.drain_ms", 1e3 * drain)
        counters.add("streaming.batches", sum(1 for p in progress if p.numInputRows))
        counters.add("streaming.rows", sum(p.numInputRows for p in progress))
        counters.add("streaming.drain_s", drain)
        return name

    def drained(name):
        n = spark.table(name).count()
        spark.catalog.dropTempView(name)
        return expect(batch.events_distinct, "deduplicated events")(n)

    # rows: the cells handed to the decoder (the allow-list filter runs in Spark)
    cells = sum(len(p["value"]) for _ds, p in batch.payloads)
    return [
        Op("decode", op_decode, expect(len(batch.payloads), "decoded payloads"), cells),
        Op("merge", op_merge, expect(batch.batch_rows, "merged batch")),
        Op("append_late", op_late, expect(len(batch.late[1]["value"]), "late rows"),
           len(batch.late[1]["value"])),
        Op("read", op_read, read_check),
        Op("compact", op_compact, compact_check),
        Op("drain", op_drain, drained, inputs_mod.WL_EVENTS_PER_SLICE),
    ]


# ------------------------------------------------------------- runner

class Runner:
    """Runs passes of ops, timing each op and checking its result."""

    def __init__(self, ctx: Context, clients: int = 1) -> None:
        self.ctx = ctx
        self.clients = clients
        self.samples: list[Sample] = []
        self.passes: list[Pass] = []
        self._lock = threading.Lock()

    def _one(self, op: Op, op_id: str, phase: str, idx: int, traced: bool) -> Sample:
        tracer = self.ctx.tracer
        t = time.perf_counter()
        try:
            with tracer.span(op.name, "bench", op_id):
                result = op.fn(op_id)
            latency = time.perf_counter() - t
            tracer.tag("harness")
            with tracer.span("check", "bench.check", op_id):
                problems = op.check(result)
        except Exception as exc:  # an op that raises counts as failed
            latency = time.perf_counter() - t
            problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
        if traced:
            self._sample_storage()
        return Sample(op.name, phase, idx, traced, latency, not problems, problems)

    def _sample_storage(self) -> None:
        infos = self.ctx.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        self.ctx.counters.add(
            "spark.storage_mb", sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        )

    def run_pass(self, ops: list[Op], phase: str, idx: int, traced: bool) -> float:
        self.ctx.tracer.enabled = traced
        if phase == "steady":
            self.ctx.counters.key = "traced" if traced else "plain"
        else:
            self.ctx.counters.key = phase
        prefix = f"{phase}{idx}"
        t = time.perf_counter()
        if self.clients == 1:
            got = [self._one(op, f"{prefix}.{i}:{op.name}", phase, idx, traced)
                   for i, op in enumerate(ops)]
        else:
            todo: queue.Queue = queue.Queue()
            for i, op in enumerate(ops):
                todo.put((i, op))
            got = []

            def client():
                mine = []
                while True:
                    try:
                        i, op = todo.get_nowait()
                    except queue.Empty:
                        return mine
                    mine.append(self._one(op, f"{prefix}.{i}:{op.name}", phase, idx, traced))

            with ThreadPoolExecutor(max_workers=self.clients) as pool:
                futures = [pool.submit(client) for _ in range(self.clients)]
                for f in futures:
                    got.extend(f.result())
        wall = time.perf_counter() - t
        self.ctx.tracer.enabled = False
        rows = sum(op.rows for op in ops)
        with self._lock:
            self.samples.extend(got)
            self.passes.append(Pass(phase, idx, traced, wall, rows))
        return wall
