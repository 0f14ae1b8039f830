"""Tests of the benchmark's own logic: the tail-percentile rule, the
self-time subtraction, the event-log rollup, seeded inputs, and the DuckDB
restatement against one real ``run_pipeline``.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import harness as h  # noqa: E402


# --------------------------------------------------------------------------
# tail percentile
# --------------------------------------------------------------------------


def test_tail_has_ten_samples_beyond_it():
    values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order irrelevant
    value, pct, n = h.tail(list(reversed(values)))
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(v > value for v in values) == 10


def test_tail_twenty_samples_is_the_median_rank():
    values = [float(v) for v in range(20)]
    value, pct, n = h.tail(values)
    assert (value, pct, n) == (9.0, 50.0, 20)
    assert sum(v > value for v in values) == 10


def test_tail_eleven_samples_is_the_smallest_qualifying():
    value, pct, n = h.tail([float(v) for v in range(11)])
    assert (value, n) == (0.0, 11)
    assert pct == pytest.approx(100 / 11)


def test_tail_undersampled_falls_back_to_max():
    assert h.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    assert h.tail([5.0] * 10) == (5.0, 100.0, 10)
    with pytest.raises(ValueError):
        h.tail([])


def test_quartiles_match_statistics_quantiles():
    assert h.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (1.5, 3.0, 4.5)
    assert h.quartiles([7.0]) == (7.0, 7.0, 7.0)


# --------------------------------------------------------------------------
# self-time subtraction
# --------------------------------------------------------------------------


def test_self_times_subtract_adjacent_prefixes():
    got = h.self_times([("sources", 1.0), ("parse", 3.0), ("enrich", 3.5), ("route", 7.0)])
    assert got == pytest.approx({"sources": 1.0, "parse": 2.0, "enrich": 0.5, "route": 3.5})
    # the shares add back up to the longest prefix
    assert sum(got.values()) == pytest.approx(7.0)


def test_self_times_keep_negative_noise():
    assert h.self_times([("a", 2.0), ("b", 1.5)]) == pytest.approx({"a": 2.0, "b": -0.5})


def test_group_stats_minus_and_per():
    a = h.GroupStats(jobs=4, tasks=12, run_s=6.0, task_cpu_s=5.0, shuffle_bytes=100)
    b = h.GroupStats(jobs=2, tasks=8, run_s=2.0, task_cpu_s=1.0, shuffle_bytes=40)
    d = a.minus(b)
    assert (d.jobs, d.tasks, d.run_s, d.task_cpu_s, d.shuffle_bytes) == (2, 4, 4.0, 4.0, 60)
    half = a.per(2)
    assert (half.jobs, half.task_cpu_s) == (2, 2.5)


def test_layer_metrics_busy_share_uses_the_forcing_call():
    own = h.GroupStats(jobs=1, run_s=0.1)
    call = h.GroupStats(jobs=3, run_s=8.0)
    m = h.layer_metrics("route", own, call, call_wall_s=4.0, n_cores=4)
    assert m["route.jobs"] == 1
    assert m["route.busy_share"] == pytest.approx(0.5)


# --------------------------------------------------------------------------
# spans and the event-log rollup
# --------------------------------------------------------------------------


class _FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}

    def setJobGroup(self, group, desc):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_tracer_nests_spans_and_restores_job_groups():
    sc = _FakeContext()
    t = h.Tracer(sc=sc)
    t.new_trace()
    with t.span("catalog"):
        with t.span("catalog.q1"):
            assert sc.props["spark.jobGroup.id"] == "catalog.q1"
        assert sc.props["spark.jobGroup.id"] == "catalog"
    assert sc.props["spark.jobGroup.id"] is None
    inner, outer = t.spans
    assert (inner.name, inner.parent, outer.parent) == ("catalog.q1", "catalog", None)
    assert inner.trace_id == outer.trace_id == 1
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert len(t.walls("catalog")) == 1


def _event_log(path):
    py_plan = {"nodeName": "FlatMapGroupsInPandas", "metrics": [
        {"name": "number of output rows", "accumulatorId": 7},
        {"name": "data sent to Python workers", "accumulatorId": 8}],
        "children": [{"nodeName": "Scan parquet", "metrics": [
            {"name": "number of output rows", "accumulatorId": 9}], "children": []}]}
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 0, "physicalPlanDescription": "FileScan parquet [/in/batches/b-1]",
         "sparkPlanInfo": py_plan},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "parse", "spark.sql.execution.id": "0"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {}},
    ]
    for stage, cpu in ((0, 2e9), (1, 1e9), (2, 5e9)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"ID": 7, "Update": "50"}, {"ID": 8, "Update": 1000},
                {"ID": 9, "Update": "999"}]},
            "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": cpu,
                             "JVM GC Time": 100, "Disk Bytes Spilled": 3,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}}})
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")


def test_read_event_log_rolls_up_per_job_group(tmp_path):
    log = tmp_path / "app-1"
    _event_log(log)
    groups = h.read_event_log(str(log), scan_marker="/in/batches/")
    assert set(groups) == {"parse"}  # the ungrouped job is ignored
    g = groups["parse"]
    assert (g.jobs, g.tasks) == (1, 2)
    assert g.task_cpu_s == pytest.approx(3.0)
    assert g.run_s == pytest.approx(3.0)
    assert g.gc_s == pytest.approx(0.2)
    assert (g.shuffle_bytes, g.spill_bytes) == (20, 6)
    # only metrics of Python-boundary nodes count as Arrow traffic
    assert (g.arrow_rows, g.arrow_bytes) == (100, 2000)
    assert g.input_scans == 1


# --------------------------------------------------------------------------
# seeded inputs
# --------------------------------------------------------------------------


def _digest(path):
    import hashlib

    d = hashlib.sha256()
    for f in sorted(os.listdir(path)):
        with open(os.path.join(path, f), "rb") as fh:
            d.update(fh.read())
    return d.hexdigest()


def test_inputs_follow_the_seed(tmp_path):
    import pyarrow.parquet as pq

    import workloads

    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        workloads.write_sequences(str(tmp_path / name), 400, seed, files=3)
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")
    assert _digest(tmp_path / "a") != _digest(tmp_path / "c")
    t = pq.read_table(str(tmp_path / "a"))
    assert t.num_rows == 400 and len(os.listdir(tmp_path / "a")) == 3
    n_tok = t.column("n_tok").to_pylist()
    assert n_tok == [len(x) for x in t.column("tokens").to_pylist()]
    assert 1 <= min(n_tok) and max(n_tok) <= 4096


# --------------------------------------------------------------------------
# DuckDB restatement against one real run_pipeline
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pipeline_run(tmp_path_factory):
    import checks
    import workloads
    from hypertrace_ingester_spark.plans.pipeline import PipelineConfig, run_pipeline

    work = str(tmp_path_factory.mktemp("perfbench"))
    src = os.path.join(work, "input")
    workloads.write_sequences(src, 3000, seed=11, files=4)
    spark = h.start_spark(work, 2, 1024, None)
    try:
        out = os.path.join(work, "out")
        manifest = run_pipeline(spark, spark.read.parquet(src), PipelineConfig(out_dir=out))
    finally:
        spark.stop()
    con = checks.connect(2, os.path.join(work, "duckdb"))
    yield con, h.parquet_files(src), out, manifest
    con.close()


def test_restatement_matches_run_pipeline(pipeline_run):
    import checks

    con, files, out, manifest = pipeline_run
    expected = checks.restate(con, files)
    assert set(expected) == {"sink-0", "sink-1", "sink-2"}
    assert sum(v[0] for v in expected.values()) == manifest["total_routed_rows"]
    # ~1% missing tenant and ~2% healthcheck rows are not routed
    assert 0.9 * 3000 < manifest["total_routed_rows"] < 3000
    assert checks.check_pipeline(con, expected, out) == []


def test_restatement_catches_a_lost_file(pipeline_run, tmp_path):
    import checks

    con, files, out, _ = pipeline_run
    expected = checks.restate(con, files)
    broken = str(tmp_path / "out")
    shutil.copytree(out, broken)
    sink_dir = os.path.join(broken, "routed", "sink=sink-0")
    victim = sorted(f for f in os.listdir(sink_dir) if f.endswith(".parquet"))[0]
    os.remove(os.path.join(sink_dir, victim))
    problems = checks.check_pipeline(con, expected, broken)
    assert problems and problems[0].startswith("routed sink")


def test_restatement_catches_a_changed_token(pipeline_run, tmp_path):
    """Same rows and token counts, one token id changed: only the token
    checksum can see it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import checks

    con, files, out, _ = pipeline_run
    expected = checks.restate(con, files)
    broken = str(tmp_path / "out")
    shutil.copytree(out, broken)
    sink_dir = os.path.join(broken, "routed", "sink=sink-1")
    victim = os.path.join(sink_dir, sorted(
        f for f in os.listdir(sink_dir) if f.endswith(".parquet"))[0])
    t = pq.read_table(victim)
    tokens = t.column("tokens").to_pylist()
    tokens[0] = [tokens[0][0] + 1] + tokens[0][1:]
    t = t.set_column(t.schema.get_field_index("tokens"), "tokens",
                     pa.array(tokens, type=t.schema.field("tokens").type))
    pq.write_table(t, victim)
    problems = checks.check_pipeline(con, expected, broken)
    assert len(problems) == 1 and problems[0].startswith("routed sink")
