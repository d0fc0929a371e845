"""Unit tests of the benchmark's own machinery (no Spark session).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import spans  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    vals = [float(i) for i in range(1, 101)]  # 1..100
    pct, val, beyond = spans.tail(vals)
    assert (pct, val, beyond) == (90.0, 90.0, 10)
    pct, val, beyond = spans.tail([float(i) for i in range(1, 31)])
    assert val == 20.0 and beyond == 10 and pct == pytest.approx(66.67)


def test_tail_with_too_few_samples_is_the_maximum():
    assert spans.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    assert spans.tail([float(i) for i in range(10)]) == (100.0, 9.0, 0)


def test_union_length_merges_overlaps():
    assert spans.union_length([]) == 0.0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(0, 10), (2, 3)]) == 10


def _span(sid, parent, layer, start, end):
    return {"id": sid, "parent": parent, "layer": layer, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time_once():
    s = [
        _span(0, None, "bench", 0.0, 10.0),
        _span(1, 0, "queries", 1.0, 5.0),
        _span(2, 0, "spark", 4.0, 8.0),  # overlaps its sibling by 1 s
        _span(3, 1, "sources", 2.0, 3.0),
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10.0 - 7.0)
    assert st[1] == pytest.approx(4.0 - 1.0)
    assert st[2] == pytest.approx(4.0)
    assert st[3] == pytest.approx(1.0)
    by_layer = spans.layer_self_times(s)
    assert by_layer == pytest.approx(
        {"bench": 3.0, "queries": 3.0, "spark": 4.0, "sources": 1.0}
    )


def test_self_time_clips_children_to_parent():
    s = [_span(0, None, "a", 0.0, 2.0), _span(1, 0, "b", 1.0, 5.0)]
    assert spans.self_times(s)[0] == pytest.approx(1.0)


def test_tracer_records_parents_and_disabled_records_nothing():
    t = spans.Tracer("r1")
    with t.span("outer", "bench"):
        with t.span("inner", "spark", kind="action") as sp:
            sp["rows"] = 3
    assert [(s["name"], s["parent"], s["run"]) for s in t.spans] == [
        ("outer", None, "r1"), ("inner", 0, "r1")
    ]
    assert t.spans[1]["rows"] == 3 and t.spans[1]["end"] >= t.spans[1]["start"]
    off = spans.Tracer("r2", enabled=False)
    with off.span("x", "bench") as sp:
        assert sp is None
    assert off.spans == []


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "App ID": "local-1"},
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [
         {"nodeName": "ArrowEvalPython", "metrics": [
             {"name": "time to run Python workers", "accumulatorId": 77},
             {"name": "data sent to Python workers", "accumulatorId": 78}],
          "children": []}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 40, "Executor CPU Time": 30_000_000, "JVM GC Time": 2,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 500},
        "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
        "Input Metrics": {"Bytes Read": 1000}}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 60, "Executor CPU Time": 50_000_000, "JVM GC Time": 0,
        "Shuffle Read Metrics": {"Remote Bytes Read": 100, "Local Bytes Read": 400,
                                 "Fetch Wait Time": 7},
        "Memory Bytes Spilled": 64, "Disk Bytes Spilled": 32,
        "Output Metrics": {"Bytes Written": 900}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Accumulables": [
        {"ID": 77, "Name": "time to run Python workers", "Value": "15"},
        {"ID": 78, "Name": "data sent to Python workers", "Value": "2048"},
        {"ID": 5, "Name": "internal.metrics.executorRunTime", "Value": "40"}]}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Accumulables": []}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
    # a job outside the window
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000, "Stage IDs": [2]},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 999}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2, "Accumulables": []}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9100},
]


def test_event_log_parsing_on_canned_log(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    (d / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in CANNED_LOG) + "\nnot json\n"
    )
    (d / "appstatus_local-1.inprogress").write_text("")
    files = spans.event_log_files(str(tmp_path), "local-1")
    assert [os.path.basename(f) for f in files] == ["events_1_local-1"]
    ev = spans.read_event_logs(files, window=(900, 2000))
    assert ev["jobs"] == 1 and ev["stages"] == 2 and ev["tasks"] == 2
    assert ev["job_intervals_ms"] == [(1000, 1400)]
    assert ev["task_run_ms"] == 100 and ev["task_cpu_ns"] == 80_000_000
    assert ev["gc_ms"] == 2
    assert ev["shuffle_write_bytes"] == 500 and ev["shuffle_read_bytes"] == 500
    assert ev["fetch_wait_ms"] == 7 and ev["spill_bytes"] == 96
    assert ev["input_bytes"] == 1000 and ev["output_bytes"] == 900
    assert ev["python"] == {
        "time to run Python workers": 15.0, "data sent to Python workers": 2048.0
    }
    whole = spans.read_event_logs(files)
    assert whole["jobs"] == 2 and whole["task_run_ms"] == 1099


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    a = gen.ensure(str(tmp_path / "a"), workload, 7, 0.1)
    b = gen.ensure(str(tmp_path / "b"), workload, 7, 0.1)
    c = gen.ensure(str(tmp_path / "c"), workload, 8, 0.1)
    assert gen.digest(a) == gen.digest(b)
    assert gen.digest(a) != gen.digest(c)
    assert gen.table_sizes(a) and all(v["rows"] >= 0 for v in gen.table_sizes(a).values())


def test_generator_cache_is_reused_and_bounded(tmp_path):
    d1 = gen.ensure(str(tmp_path), "clinical_interactive", 1, 0.05, keep=2)
    mtime = os.path.getmtime(os.path.join(d1, "events.parquet"))
    assert gen.ensure(str(tmp_path), "clinical_interactive", 1, 0.05, keep=2) == d1
    assert os.path.getmtime(os.path.join(d1, "events.parquet")) == mtime
    for seed in (2, 3):
        gen.ensure(str(tmp_path), "clinical_interactive", seed, 0.05, keep=2)
    assert len(os.listdir(tmp_path / "data")) == 2


def test_clinical_events_are_stored_as_timestamp_nanos(tmp_path):
    import pyarrow.parquet as pq

    d = gen.ensure(str(tmp_path), "clinical_interactive", 1, 0.05)
    col = pq.ParquetFile(os.path.join(d, "events.parquet")).schema.column(1)
    assert col.name == "ts" and "NANOS" in str(col.logical_type).upper()


def test_every_ingest_cycle_holds_every_batch_kind():
    n = len(gen.CYCLE_KINDS)
    assert gen.INGEST_BATCHES % n == 0
    for c in range(gen.INGEST_BATCHES // n):
        kinds = [gen.batch_kind(b) for b in range(c * n, (c + 1) * n)]
        assert sorted(kinds) == ["dup", "empty", "fresh", "fresh"]


def test_op_stats_average_per_kind_medians():
    import worker

    run = {
        "ms": {"a": [10.0, 30.0, 20.0], "b": [100.0]},
        "cpu_ms": {"a": [1.0, 2.0, 9.0], "b": [4.0]},
        "jit_ms": {"a": [5.0], "b": [1.0]},
        "rows": 160,
    }
    st = worker.op_stats(run)
    assert st["op_ms"] == pytest.approx((20.0 + 100.0) / 2)
    assert st["op_cpu_ms"] == pytest.approx((2.0 + 4.0) / 2)
    assert st["rows_per_s"] == pytest.approx(160 / 0.16)
    assert st["jit_cpu_ms"] == 6.0
    # the mix of kinds in a window does not move the statistic
    run["ms"]["a"] += [20.0, 20.0]
    assert worker.op_stats(run)["op_ms"] == pytest.approx(60.0)


def test_ingest_ops_map_each_cycle_onto_its_four_batches():
    import workloads

    W = workloads.IncrementalIngest
    w = W.__new__(W)
    n = len(W.CYCLE)
    appends = [i for i in range(3 * n) if W.CYCLE[i % n] == "append"]
    assert [w.batch_of(i) for i in appends] == list(range(3 * len(gen.CYCLE_KINDS)))
    assert sorted(set(W.CYCLE)) == ["append", "compact", "drain", "read_ivf", "read_span"]
    # reads sit between appends, the drain and compaction after them
    assert W.CYCLE.index("read_span") < max(i for i, k in enumerate(W.CYCLE) if k == "append")
    assert W.CYCLE.index("compact") > W.CYCLE.index("drain")


def test_tree_cpu_counts_this_process():
    import context

    a, jit = context.tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert context.tree_cpu_s()[0] > a and jit == 0.0  # no JVM below this process


def test_clinical_corpus_holds_documents_below_the_gopher_minimum(tmp_path):
    import pyarrow.parquet as pq

    d = gen.ensure(str(tmp_path), "clinical_interactive", 3, 0.4)
    texts = pq.read_table(os.path.join(d, "documents.parquet")).column("text").to_pylist()
    short = sum(len(t.split(" ")) < 30 for t in texts) / len(texts)
    assert 0.1 < short < 0.4
