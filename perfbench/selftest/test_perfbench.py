"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/selftest -q
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from perfbench import checks, inputs, stats, tracing, workloads

HERE = os.path.dirname(os.path.abspath(__file__))


# ---- the tail rule: highest percentile with >= 10 samples beyond it

def test_tail_has_ten_samples_beyond():
    value, pct, n = stats.tail([float(x) for x in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(1 for x in range(1, 101) if x > value) == 10


def test_tail_at_the_smallest_sample_count():
    value, pct, _ = stats.tail([float(x) for x in range(11, 0, -1)])
    assert value == 1.0 and pct == pytest.approx(100 / 11)


def test_tail_with_too_few_samples_is_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


# ---- self time

def _span(i, start, end, parent=None):
    return tracing.Span(i, f"s{i}", "x", start, end, parent, "op")


def test_self_time_subtracts_overlapping_children_once():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0)]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0)  # union [1, 6]
    assert st[1] == pytest.approx(3.0) and st[2] == pytest.approx(3.0)


def test_self_time_with_concurrent_and_overhanging_children():
    # two concurrent children of one parent, one running past the parent's end
    spans = [_span(0, 0.0, 10.0), _span(1, 2.0, 8.0, 0), _span(2, 5.0, 12.0, 0),
             _span(3, 9.5, 9.8, 0)]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 8.0)  # covered: [2, 10] clipped


def test_self_times_of_a_sequential_tree_sum_to_its_duration():
    spans = [_span(0, 0.0, 10.0), _span(1, 1.0, 4.0, 0), _span(2, 5.0, 9.0, 0),
             _span(3, 6.0, 7.0, 2)]
    assert sum(tracing.self_times(spans).values()) == pytest.approx(10.0)


def test_tracer_records_parent_and_op():
    tr = tracing.Tracer(enabled=True)
    with tr.span("op", "bench", "op1"):
        with tr.span("build", "plans", "op1"):
            pass
    build, op = tr.spans  # children close first
    assert build.parent == op.id and op.parent is None and build.op == "op1"
    off = tracing.Tracer(enabled=False)
    with off.span("op", "bench"):
        pass
    assert off.spans == []


# ---- event-log parser against the committed fixture

def test_event_log_parser_attributes_tasks_to_job_groups():
    groups = tracing.parse_event_log(os.path.join(HERE, "eventlog_fixture.jsonl"))
    q01 = groups["op:steady2.0:q01"]
    assert (q01.jobs, q01.stages, q01.single_task_stages, q01.tasks) == (1, 2, 1, 3)
    assert q01.run_ms == 170 and q01.deser_ms == 15 and q01.gc_ms == 5
    assert q01.cpu_ms == pytest.approx(140.0)
    assert q01.shuffle_write_b == 3072 and q01.shuffle_read_b == 3100
    assert q01.fetch_wait_ms == 7 and q01.spill_b == 1536
    # scheduler delay: 100-70-10-2, 50-40-5, 100-60-(1300-1290)
    assert q01.sched_delay_ms == 18 + 5 + 30
    assert q01.py_stage_run_ms == 0 and q01.to_py_b == 0

    q35 = groups["build:steady2.1:q35"]
    assert (q35.to_py_b, q35.from_py_b, q35.py_stage_run_ms) == (4096, 1024, 450)
    anon = groups[""]  # no job group; stage over a PythonRDD
    assert anon.jobs == 1 and anon.py_stage_run_ms == 8


# ---- failure counting

class _Ctx:
    def __init__(self):
        self.tracer = tracing.Tracer(enabled=False)
        self.counters = workloads.Counters()


def test_raising_and_wrong_ops_count_as_failed():
    refs = checks.References({"good": pd.DataFrame({"x": [1, 2]}),
                              "wrong": pd.DataFrame({"x": [1, 2]})})

    def boom(_op_id):
        raise RuntimeError("op failed")

    ops = [
        workloads.Op("good", lambda _i: pd.DataFrame({"x": [2, 1]}),
                     lambda r: refs.check("good", r)),
        workloads.Op("wrong", lambda _i: pd.DataFrame({"x": [1, 3]}),
                     lambda r: refs.check("wrong", r)),
        workloads.Op("raises", boom, lambda r: []),
        workloads.Op("repeat", lambda _i: pd.DataFrame({"y": [0.5]}),
                     lambda r: refs.check("repeat", r)),
    ]
    runner = workloads.Runner(_Ctx())
    runner.run_pass(ops, "first", 0, traced=False)
    ok = {s.op: s.ok for s in runner.samples}
    assert ok == {"good": True, "wrong": False, "raises": False, "repeat": True}
    assert "RuntimeError" in next(s for s in runner.samples if s.op == "raises").problems[0]
    # a later result differing from the op's first result is a mismatch
    assert refs.check("repeat", pd.DataFrame({"y": [0.75]}))
    assert not refs.check("repeat", pd.DataFrame({"y": [0.5000000001]}))


def test_concurrent_clients_record_every_op():
    ops = [workloads.Op(f"o{i}", lambda _i: 1, lambda r: []) for i in range(20)]
    runner = workloads.Runner(_Ctx(), clients=4)
    runner.run_pass(ops, "steady", 1, traced=False)
    assert sorted(s.op for s in runner.samples) == sorted(o.name for o in ops)


# ---- seed determinism

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = inputs.generate(5, str(tmp_path / "a"))
    b = inputs.generate(5, str(tmp_path / "b"))
    c = inputs.generate(6, str(tmp_path / "c"))
    da = inputs.digest(a, str(tmp_path / "a"))
    assert da == inputs.digest(b, str(tmp_path / "b"))
    assert da != inputs.digest(c, str(tmp_path / "c"))
    assert a.questions == b.questions and a.dashboard_orders == b.dashboard_orders


def test_warehouse_expectations_are_consistent(tmp_path):
    inp = inputs.generate(5, str(tmp_path))
    first, last = inp.warehouse[0], inp.warehouse[-1]
    # first load: every merged key and every late cell is new
    assert first.batch_rows + len(first.late[1]["value"]) == len(first.expected)
    assert len(last.expected) > len(first.expected)
    assert last.events_distinct < inputs.WL_EVENTS_PER_SLICE  # the slice holds duplicates
    # the first passes' inputs do not depend on how many passes were drawn
    longer = inputs.generate(5, str(tmp_path / "longer"), passes=10)
    assert longer.warehouse[0].expected == first.expected
    assert longer.dashboard_orders[:8] == inp.dashboard_orders
