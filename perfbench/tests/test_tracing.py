import types

import pytest

from tracing import (Tracer, attribute_jobs, jobs_from_events,
                     layer_self_time, op_breakdown, self_times, union_length)
from workloads import Ctx


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10.0)


def test_op_breakdown_gap_is_time_covered_by_no_job():
    op = {"id": 0, "kind": "upsert", "start": 10.0, "end": 11.0}
    jobs = [
        {"start": 10.1, "end": 10.4, "tasks": 4, "gc_ms": 5.0},
        {"start": 10.3, "end": 10.5, "tasks": 2, "gc_ms": 0.0},  # overlaps
        {"start": 10.9, "end": 11.5, "tasks": 1, "gc_ms": 1.0},  # runs past
    ]
    b = op_breakdown(op, jobs)
    assert b["jobs"] == 3 and b["tasks"] == 7 and b["gc_ms"] == 6.0
    assert b["job_ms"] == pytest.approx(300 + 200 + 600)
    # covered inside the op: [10.1, 10.5] + [10.9, 11.0] = 0.5 s
    assert b["gap_ms"] == pytest.approx(500.0)


def test_jobs_are_attributed_by_submission_time_not_group():
    ops = [{"id": 0, "kind": "a", "start": 0.0, "end": 1.0},
           {"id": 1, "kind": "b", "start": 2.0, "end": 3.0}]
    jobs = [{"start": 0.5}, {"start": 1.5}, {"start": 2.0}, {"start": 3.5}]
    got = attribute_jobs(ops, jobs)
    assert got[0] == [jobs[0]]
    assert got[1] == [jobs[2]]          # 1.5 and 3.5 fall between/after ops


def test_jobs_from_synthetic_event_log():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 7,
         "Submission Time": 1000, "Stage IDs": [3, 4]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Metrics": {"JVM GC Time": 12}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Metrics": {"JVM GC Time": 3}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 99,
         "Task Metrics": {"JVM GC Time": 50}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 4, "Accumulables": [
                {"Name": "time to initialize Python workers", "Value": "40"},
                {"Name": "data sent to Python workers", "Value": 1024},
                {"Name": "number of output rows", "Value": 9}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 7,
         "Completion Time": 1250},
        {"Event": "SparkListenerJobStart", "Job ID": 8,
         "Submission Time": 2000, "Stage IDs": [5]},   # never ends
    ]
    jobs = jobs_from_events(events)
    assert len(jobs) == 1
    j = jobs[0]
    assert (j["start"], j["end"]) == (1.0, 1.25)
    assert j["tasks"] == 2 and j["gc_ms"] == 15
    assert dict(j["py"]) == {"init_ms": 40.0, "bytes_sent": 1024.0}


def test_self_time_subtracts_children_and_groups_by_layer():
    spans = [
        {"name": "upsert", "start": 0.0, "end": 10.0, "parent": None, "op": 0},
        {"name": "io.writer.write_table_data", "start": 1.0, "end": 7.0,
         "parent": 0, "op": 0},
        {"name": "meta.store.commit", "start": 7.0, "end": 9.0,
         "parent": 0, "op": 0},
        {"name": "meta.store_io.put", "start": 7.5, "end": 8.0,
         "parent": 2, "op": 0},
    ]
    assert self_times(spans) == pytest.approx([2.0, 6.0, 1.5, 0.5])
    assert layer_self_time(spans) == pytest.approx(
        {"op": 2.0, "io.writer": 6.0, "meta.store": 1.5,
         "meta.store_io": 0.5})


def test_wrap_records_nested_spans_counts_and_restores():
    mod = types.SimpleNamespace()

    def inner(x):
        return [x, x]

    def outer(x):
        return mod.inner(x)

    mod.inner, mod.outer = inner, outer
    tr = Tracer()
    tr.wrap(mod, "inner", "layer.inner",
            after=lambda a, k, r: tr.count("layer.items", len(r)))
    tr.wrap(mod, "outer", "layer.outer")
    op = tr.begin_op("upsert")
    assert mod.outer(3) == [3, 3]
    tr.end_op(op)
    names = [(s["name"], s["parent"], s["op"]) for s in tr.spans]
    assert names == [("upsert", None, 0), ("layer.outer", 0, 0),
                     ("layer.inner", 1, 0)]
    assert tr.counts["layer.items"] == 2
    assert tr.op_counts[0]["layer.items"] == 2
    tr.uninstall()
    assert mod.inner is inner and mod.outer is outer


def test_wrap_error_hook_sees_exception_and_reraises():
    class Store:
        def commit(self):
            raise KeyError("conflict")

    seen = []
    tr = Tracer()
    tr.wrap(Store, "commit", "meta.store.commit", error=seen.append)
    with pytest.raises(KeyError):
        Store().commit()
    assert len(seen) == 1 and tr.spans[0]["end"] is not None
    tr.uninstall()


def test_failures_are_counted_against_attempts():
    ctx = Ctx(spark=None, work="/nonexistent", seed=0)
    # before timing starts a failure aborts the run
    with pytest.raises(RuntimeError):
        ctx.op("upsert", lambda: 1 / 0)
    ctx.recording = True
    assert ctx.op("upsert", lambda: 5, rows=10, check=lambda r: r == 5) == 5
    ctx.op("upsert", lambda: 1 / 0, rows=10)              # exception
    ctx.op("lookup", lambda: 4, rows=1, check=lambda r: r == 5)  # wrong
    ctx.check("final", lambda: True)
    ctx.check("final", lambda: False)
    assert (ctx.attempted, ctx.failed) == (5, 3)
    assert len(ctx.samples["upsert"]) == 1 and "lookup" not in ctx.samples
    assert ctx.rows == 10


def test_py4j_counts_engine_calls_of_the_current_op_only():
    class Conn:
        def send_command(self, command):
            return "yes"

    tr = Tracer()
    tr.wrap_py4j(Conn)
    c = Conn()
    c.send_command("c\nnot in an op\n")
    op = tr.begin_op("upsert")
    c.send_command("c\ncall\n")
    c.send_command("m\nd\no12\ne\n")          # proxy release: not counted
    with tr.quiet():
        c.send_command("c\nawait\n")         # harness wait: not counted
    c.send_command("c\ncall\n")
    tr.end_op(op)
    assert tr.py4j[0][0] == 2 and list(tr.py4j) == [0]
    tr.uninstall()
    assert Conn.send_command(c, "x") == "yes" and len(tr.py4j) == 1
