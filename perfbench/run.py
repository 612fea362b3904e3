#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The run makes its inputs from ``--seed``,
starts a fresh Spark session through ``session.get_spark``, runs the
workload's first pass (cold) and then whole steady passes until
``--seconds`` have been measured, checks every op's output, and prints as
its last line one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. The exit code is 0 only when every output was
correct. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
# the program, the oracle registry and the harness the checks reuse
REQUIRED = (
    "eurostat_energy_etl_pipeline_spark/__init__.py",
    "eurostat_energy_etl_pipeline_spark/session.py",
    "__spark_entry__.py",
    "tests/harness.py",
)
DRIVER_MEMORY = "2g"
# Nominal steady-pass wall per workload on a 4-core box; --seconds / this
# gives the number of steady passes.
NOMINAL_PASS_S = {"dashboard": 3.5, "dashboard_concurrent": 2.5, "curation": 15.0,
                  "warehouse_load": 10.0}
E2E = ("setup_s", "latency_p50_ms", "latency_tail_ms", "ops_per_s")
# In these workloads the op the end-to-end metrics count is the whole pass:
# a warehouse_load user waits for an incremental batch to land, and its six
# steps, 0.2-4 s each, are single samples too short to give a steady median
# on a shared box. The steps are still checked, counted in attempted/failed
# and timed one by one in the printout and the per-layer metrics.
PASS_IS_OP = ("warehouse_load",)
# Cold-pass time and peak memory vary by more than a tenth between runs on a
# shared 4-core box, so they are reported with the per-layer metrics.
DEMOTED = ("first_pass_s", "peak_rss_mb")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _vmhwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _environment(work: str) -> dict[str, str]:
    """Environment the run sets before the session starts: Python workers
    import the package from this checkout, and every temporary file Spark,
    the JVM and Python make stays inside the run's work dir."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    submit = os.environ.get("SPARK_SUBMIT_OPTS", "")
    env = {
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # no hsperfdata file: the JVM would write it under /tmp
        "SPARK_SUBMIT_OPTS": f"{submit} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip(),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
    }
    os.environ.update(env)
    return env


def _cpu_times() -> list[int]:
    """Aggregate /proc/stat CPU jiffies: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _versions(spark) -> dict[str, str]:
    import pyspark

    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")) or not shutil.which("git"):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10, check=True)
    except (subprocess.SubprocessError, OSError):
        return None
    return out.stdout.strip()


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    context: dict = {"nproc": _nproc(), "loadavg_1m_start": os.getloadavg()[0]}
    cpu_start = _cpu_times()
    runs = os.path.join(HERE, ".work")
    work = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work, os.path.join(runs, "reports"), context, cpu_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, reports: str, context: dict, cpu_start: list[int]) -> int:
    from perfbench import inputs, tracing, workloads
    from statistics import median

    from perfbench.stats import tail

    context["env_set"] = _environment(work)
    os.chdir(work)  # spark-warehouse/ and other cwd-relative files land here
    n_steady = max(1, round(args.seconds / NOMINAL_PASS_S[args.workload]))
    if args.trace:
        n_steady *= 2  # untraced and traced passes alternate
    t = time.perf_counter()
    inp = inputs.generate(args.seed, os.path.join(work, "inputs"), passes=2 + n_steady)
    context["inputs_s"] = time.perf_counter() - t
    context["inputs_sha256"] = inputs.digest(inp, os.path.join(work, "inputs"))

    # ---- set-up: imports, session, autotune, registry (timed)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    with tracer.span("import", "plans"):
        before = list(sys.path)
        from eurostat_energy_etl_pipeline_spark import plans, session
        import __spark_entry__  # noqa: F401 - registers every query
        sys.path[:] = before  # the entry module prepends a fixed path
    extra = {}
    if args.trace:
        logdir = os.path.join(work, "eventlog")
        os.makedirs(logdir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
        }
    t = time.perf_counter()
    with tracer.span("get_spark", "session"):
        spark = session.get_spark("perfbench", cpus=context["nproc"], extra_conf=extra)
    session_start_ms = 1e3 * (time.perf_counter() - t)
    with tracer.span("autotune_for_input", "session"):
        context["autotune"] = session.autotune_for_input(spark, inp.data_dir)
    with tracer.span("load_all", "plans"):
        plans.load_all()
    setup_s = time.perf_counter() - t0
    tracer.sc = spark.sparkContext
    tracer.tag("harness")
    context.update(_versions(spark))
    context["git_commit"] = _git_commit()

    ctx = workloads.Context(spark, inp, tracer, work)
    try:
        runner, refs_n = _execute(args, ctx, n_steady)
        rss = _vmhwm_mb("self") + _vmhwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        released_at_end = plans.release_pins()
        checkpoint_queries = len(plans.checkpoint_users())
    finally:
        spark.stop()
        _stop_jvm()
    context["loadavg_1m_end"] = os.getloadavg()[0]
    delta = [b - a for a, b in zip(cpu_start, _cpu_times())]
    # time the hypervisor gave other guests: co-tenant noise during the run
    context["cpu_steal_frac"] = delta[7] / max(1, sum(delta))

    # ---- end-to-end metrics
    # (steady = every untraced pass after the first)
    plain = [s for s in runner.samples if s.phase == "steady" and not s.traced]
    walls = [w for w in runner.passes if w.phase == "steady" and not w.traced]
    if args.workload in PASS_IS_OP:
        # a batch's latency is its steps' latencies summed, checks excluded
        lat = [1e3 * sum(s.latency for s in plain if s.idx == w.idx) for w in walls]
    else:
        lat = [1e3 * s.latency for s in plain]
    tail_v, tail_pct, n = tail(lat)
    steady_wall = sum(w.wall for w in walls)
    attempted = len(runner.samples)
    failed = sum(1 for s in runner.samples if not s.ok)
    e2e = {
        "setup_s": (setup_s, "s"),
        "first_pass_s": (runner.passes[0].wall, "s"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_tail_ms": (tail_v, "ms"),
        "ops_per_s": (len(lat) / steady_wall, "1/s"),
        "input_rows_per_s": (sum(w.rows for w in walls) / steady_wall, "1/s"),
        "failed_frac": (failed / attempted, "share"),
        "peak_rss_mb": (rss, "MB"),
    }
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={len(runner.passes)} steady_ops={len(plain)}")
    for name, (value, unit) in e2e.items():
        extra_txt = f"  (p{tail_pct:.1f}, n={n}, {n - round(n * tail_pct / 100)} beyond)" \
            if name == "latency_tail_ms" else ""
        if name == "input_rows_per_s" and args.workload.startswith("dashboard"):
            extra_txt = "  (not applicable)"
        print(f"  {name:<18} {value:14.4f} {unit}{extra_txt}")
    print("  pass walls s: " + ", ".join(
        f"{w.phase}{'*' if w.traced else ''}={w.wall:.2f}" for w in runner.passes)
        + ("  (* traced)" if args.trace else ""))
    by_name: dict[str, list[float]] = {}
    for s in plain:
        by_name.setdefault(s.op, []).append(1e3 * s.latency)
    print("  steady latency by op, median ms (calls): " + ", ".join(
        f"{k}={median(v):.0f}({len(v)})" for k, v in sorted(by_name.items())))
    print("  first-pass latency by op, ms: " + ", ".join(
        f"{s.op}={1e3 * s.latency:.0f}" for s in runner.samples if s.phase == "first"))
    for s in runner.samples:
        if not s.ok:
            print(f"  FAILED {s.phase} {s.op}: {'; '.join(s.problems)[:400]}")
    context["oracle_checked_ops"] = refs_n

    if args.trace:
        layer = {k: e2e[k] for k in DEMOTED}
        layer.update(_per_layer(args, runner, ctx, tracer, session_start_ms,
                                released_at_end, checkpoint_queries, work, reports))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    else:
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in E2E}
    print("context " + json.dumps(context, sort_keys=True, default=str))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def _execute(args, ctx, n_steady: int):
    """First pass, one untimed warm-up pass, then whole steady passes. The
    steady pass count is ``--seconds`` over the workload's nominal pass
    time, fixed before the run, so the sample count (and with it the
    tail's percentile) does not depend on the speed of the code measured.
    With tracing, untraced and traced steady passes alternate, so the
    overhead is read off one session."""
    from perfbench import checks, workloads

    wl = args.workload
    inp = ctx.inputs
    oracle_names = {
        "dashboard": workloads.dashboard_oracles,
        "dashboard_concurrent": workloads.dashboard_oracles,
        "curation": workloads.curation_oracles,
    }.get(wl)
    oracle = {}
    if oracle_names is not None:
        from tests import harness

        con = harness.duckdb_conn(ctx.sf)
        oracle = {n: con.execute(ctx.oracle_sql[n]).df() for n in oracle_names(ctx)}
        con.close()
    refs = checks.References(oracle)
    if wl in ("dashboard", "dashboard_concurrent"):
        base = workloads.dashboard_ops(ctx, refs)
        orders = inp.dashboard_orders
    elif wl == "curation":
        base = workloads.curation_ops(ctx, refs)
        orders = inp.curation_orders
    else:
        base, orders = None, None

    def ops_for(p: int):
        if base is None:
            return workloads.warehouse_ops(ctx, p)
        return workloads.order(base, orders[p])

    runner = workloads.Runner(ctx, 1)
    runner.run_pass(ops_for(0), "first", 0, traced=bool(args.trace))
    if wl == "dashboard_concurrent":
        # sequential results are the reference for every concurrent result
        seq = dict(refs.oracle)
        for k, v in refs.first.items():
            seq.setdefault(k, v)
        refs.oracle, refs.first = seq, {}
        runner.clients = _nproc()
    # The pass after the cold one still runs 10-25 % slow while the JIT
    # compiles, and in warehouse_load it holds the first real merge.
    runner.run_pass(ops_for(1), "warmup", 1, traced=False)
    for p in range(2, 2 + n_steady):
        runner.run_pass(ops_for(p), "steady", p, traced=bool(args.trace) and p % 2 == 1)
    return runner, len(oracle)


def _per_layer(args, runner, ctx, tracer, session_start_ms, released_at_end,
               checkpoint_queries, work, reports) -> dict:
    """Per-layer metrics of the traced steady passes, from the spans, the
    boundary counters and the Spark event log."""
    from perfbench import tracing

    c = ctx.counters
    traced_ops = [s for s in runner.samples if s.phase == "steady" and s.traced]
    n_ops = max(1, len(traced_ops))
    walls = [w for w in runner.passes if w.phase == "steady"]
    traced_walls = [w.wall for w in walls if w.traced]
    plain_walls = [w.wall for w in walls if not w.traced]
    traced_wall = sum(traced_walls)

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    # event log: groups "op:steady<p>.<i>:<name>" / "build:..." of traced passes
    logdir = os.path.join(work, "eventlog")
    groups = tracing.parse_event_log(os.path.join(logdir, os.listdir(logdir)[0]))
    traced_prefixes = {f"steady{i}." for i in range(2, len(runner.passes)) if i % 2 == 1}

    def is_traced(g: str, kind: str) -> bool:
        if not g.startswith(kind + ":"):
            return False
        rest = g[len(kind) + 1:]
        return any(rest.startswith(pre) for pre in traced_prefixes)

    ops_g = [v for g, v in groups.items() if is_traced(g, "op") or is_traced(g, "build")]
    build_g = [v for g, v in groups.items() if is_traced(g, "build")]

    def tot(attr, gs=ops_g):
        return sum(getattr(g, attr) for g in gs)

    stages = tot("stages")
    mb = 2 ** 20
    layer = {
        "session.start_ms": (session_start_ms, "ms"),
        "plans.build_ms": (mean(c.get("plans.build_ms")), "ms"),
        "plans.build_jobs": (tot("jobs", build_g) / n_ops, "count"),
        "plans.memo_hit_ratio": (mean(c.get("plans.memo_hit")), "share"),
        "plans.pins_released": (sum(c.get("plans.pins_released")) + released_at_end, "count"),
        "plans.checkpoint_queries": (checkpoint_queries, "count"),
        "spark.storage_mb": (max(c.get("spark.storage_mb"), default=0.0), "MB"),
        "spark.jobs": (tot("jobs") / n_ops, "count"),
        "spark.stages": (stages / n_ops, "count"),
        "spark.tasks": (tot("tasks") / n_ops, "count"),
        "spark.single_task_stage_frac": (tot("single_task_stages") / max(1, stages), "share"),
        "spark.sched_delay_ms": (tot("sched_delay_ms") / n_ops, "ms"),
        "spark.busy_frac": (tot("run_ms") / 1e3 / (traced_wall * ctx.cores)
                            if traced_wall else 0.0, "share"),
        "spark.task_run_ms": (tot("run_ms") / n_ops, "ms"),
        "spark.task_cpu_ms": (tot("cpu_ms") / n_ops, "ms"),
        "spark.gc_ms": (tot("gc_ms") / n_ops, "ms"),
        "spark.deser_ms": (tot("deser_ms") / n_ops, "ms"),
        "spark.shuffle_write_mb": (tot("shuffle_write_b") / mb / n_ops, "MB"),
        "spark.shuffle_read_mb": (tot("shuffle_read_b") / mb / n_ops, "MB"),
        "spark.fetch_wait_ms": (tot("fetch_wait_ms") / n_ops, "ms"),
        "spark.spill_mb": (tot("spill_b") / mb / n_ops, "MB"),
        "operators.arrow_to_py_mb": (tot("to_py_b") / mb / n_ops, "MB"),
        "operators.arrow_from_py_mb": (tot("from_py_b") / mb / n_ops, "MB"),
        "operators.py_stage_run_ms": (tot("py_stage_run_ms") / n_ops, "ms"),
        "rag.answer_ms.intent": (mean(c.get("rag.answer_ms.intent")), "ms"),
        "rag.answer_ms.semantic": (mean(c.get("rag.answer_ms.semantic")), "ms"),
        "sources.decode_ms": (mean(c.get("sources.decode_ms")), "ms"),
        "sources.rows_decoded": (sum(c.get("sources.rows_decoded"))
                                 / max(1, len(traced_walls)), "count"),
        "etl.merge_ms": (mean(c.get("etl.merge_ms")), "ms"),
        "etl.write_amp": (mean(c.get("etl.write_amp")), "ratio"),
        "etl.files_per_partition": (mean(c.get("etl.files_per_partition")), "count"),
        "etl.compact_ms": (mean(c.get("etl.compact_ms")), "ms"),
        "etl.read_ms": (mean(c.get("etl.read_ms")), "ms"),
        "streaming.drain_ms": (mean(c.get("streaming.drain_ms")), "ms"),
        "streaming.batches": (mean(c.get("streaming.batches")), "count"),
        "streaming.rows_per_s": (sum(c.get("streaming.rows")) / sum(c.get("streaming.drain_s"))
                                 if c.get("streaming.drain_s") else 0.0, "1/s"),
    }

    # self time per layer and per op name, from the traced steady spans
    spans = [s for s in tracer.spans if s.op and any(s.op.startswith(p) for p in traced_prefixes)]
    selfs = tracing.self_times(spans)
    by_op: dict[str, dict[str, float]] = {}
    per_name: dict[str, dict[str, list[float]]] = {}
    roots = {s.op: s for s in spans if s.parent is None and s.layer == "bench"}
    for s in spans:
        by_op.setdefault(s.op, {}).setdefault(s.layer, 0.0)
        by_op[s.op][s.layer] += selfs[s.id]
    sum_err = 0.0
    for op_id, layers in by_op.items():
        root = roots[op_id]
        sum_err = max(sum_err, abs(sum(v for k, v in layers.items() if k != "bench.check")
                                   - (root.end - root.start)))
        name = op_id.split(":", 1)[1]
        for lay, v in layers.items():
            per_name.setdefault(name, {}).setdefault(lay, []).append(1e3 * v)
    all_layers = ("bench", "plans", "spark", "rag", "sources", "etl", "streaming")
    for lay in all_layers:
        total = sum(layers.get(lay, 0.0) for layers in by_op.values())
        layer[f"selftime.{lay}_ms"] = (1e3 * total / n_ops, "ms")
    overhead = 0.0
    if traced_walls and plain_walls:
        overhead = 100 * (statistics.median(traced_walls) / statistics.median(plain_walls) - 1)
    layer["trace.overhead_pct"] = (overhead, "%")
    layer["trace.selftime_sum_err_ms"] = (1e3 * sum_err, "ms")

    print("  per-layer (traced steady passes):")
    for k, (v, u) in layer.items():
        print(f"    {k:<30} {v:14.4f} {u}")
    print("  per-op self time, median ms per call (layer: ms):")
    table = {}
    for name in sorted(per_name):
        row = {lay: statistics.median(v) for lay, v in sorted(per_name[name].items())}
        table[name] = row
        print(f"    {name:<26} " + "  ".join(f"{lay}={v:.1f}" for lay, v in row.items()))
    os.makedirs(reports, exist_ok=True)
    stem = os.path.join(reports, f"{args.workload}-{args.seed}")
    tracer.dump(stem + "-spans.json")
    with open(stem + "-trace.json", "w") as f:
        json.dump({"per_layer": {k: v for k, (v, _u) in layer.items()},
                   "per_op_self_ms": table,
                   "groups": {g: v.__dict__ for g, v in groups.items()}}, f, indent=1)
    return layer


if __name__ == "__main__":
    sys.exit(main())
