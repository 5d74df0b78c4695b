"""Tests of the benchmark itself: span arithmetic, the event-log parser,
patching, the metric lists in BENCHMARK.json, input generation and the
determinism of the CDC workload.

Run from the repository root: ``python -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import pyarrow.parquet as pq  # noqa: E402
import pytest  # noqa: E402

import inputs  # noqa: E402
import spans  # noqa: E402
from spans import Patcher, Recorder, Span  # noqa: E402


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent)


def test_self_time_subtracts_direct_children_only():
    tree = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "query", 1.0, 9.0, 0),
        _span(2, "queries.build", 1.0, 4.0, 1),
        _span(3, "sources.catalog.load", 1.5, 2.5, 2),
        _span(4, "sources.catalog.load", 3.0, 3.5, 2),
        _span(5, "spark.exec", 5.0, 8.0, 1),
    ]
    own = spans.self_times(tree)
    assert own == {0: 2.0, 1: 2.0, 2: 1.5, 3: 1.0, 4: 0.5, 5: 3.0}
    layers = spans.layer_self_times(tree, 0)
    assert layers["sources.catalog.load"] == 1.5
    assert sum(layers.values()) == pytest.approx(10.0)  # self times tile the root
    assert spans.layer_self_times(tree, 2) == {"queries.build": 1.5, "sources.catalog.load": 1.5}


def test_recorder_nests_and_restores_job_groups():
    groups = []
    rec = Recorder(groups.append)
    with rec.span("pass"):
        with rec.span("queries.build"):
            pass
        with rec.span("spark.exec"):
            pass
    assert [(s.name, s.parent) for s in rec.spans] == [
        ("pass", None), ("queries.build", 0), ("spark.exec", 0)]
    assert groups == ["pass:0", "queries.build:1", "pass:0", "spark.exec:2", "pass:0", None]


def test_recorder_closes_span_on_error():
    rec = Recorder()
    with pytest.raises(ValueError):
        with rec.span("pass"):
            raise ValueError
    assert rec.spans[0].end >= rec.spans[0].start > 0
    with rec.span("next"):
        pass
    assert rec.spans[1].parent is None


EVENT_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.jobGroup.id": "queries.build:3"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
        "Executor Run Time": 120, "Executor CPU Time": 90_000_000,
        "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
        "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
        "Executor Run Time": 30, "Executor CPU Time": 10_000_000,
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1000}}},
    # a later job reuses stage 1 (skipped) and runs stage 2
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
     "Properties": {"spark.jobGroup.id": "spark.exec:4"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
        "Executor Run Time": 50, "Executor CPU Time": 40_000_000,
        "Output Metrics": {"Bytes Written": 300, "Records Written": 12}}},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
    {"Event": "SparkListenerApplicationEnd", "Timestamp": 1},
]


def test_event_log_parser_charges_tasks_to_job_groups():
    lines = [json.dumps(e) for e in EVENT_LOG] + [""]
    metrics, jobs, stages = spans.parse_event_log(lines)
    assert jobs == {"queries.build:3": 1, "spark.exec:4": 1, None: 1}
    b = metrics["queries.build:3"]
    assert b["tasks"] == 2 and stages["queries.build:3"] == 2
    assert b["run_s"] == pytest.approx(0.15)
    assert b["cpu_s"] == pytest.approx(0.1)
    assert b["shuffle_write_bytes"] == 1000 and b["shuffle_read_bytes"] == 1000
    assert b["spill_bytes"] == 12
    e = metrics["spark.exec:4"]
    assert (e["tasks"], e["output_bytes"], e["output_records"]) == (1, 300, 12)
    assert stages["spark.exec:4"] == 1


def test_patcher_swaps_module_references_and_restores():
    from bigdatapipelinepysparksqlserver_spark import sources
    from bigdatapipelinepysparksqlserver_spark.sources import catalog

    original = catalog.load_table
    rec = Recorder()
    p = Patcher()
    p.function(original, rec.wrap("sources.catalog.load", original))
    assert catalog.load_table is not original
    assert sources.load_table is catalog.load_table  # `from .. import` copies too
    p.restore()
    assert catalog.load_table is original and sources.load_table is original


def test_plan_kind_classification():
    assert spans.plan_kind("ShuffleExchangeExec") == "exchange"
    assert spans.plan_kind("BroadcastHashJoinExec") == "bhj"
    assert spans.plan_kind("ArrowEvalPythonExec") == "python_eval"
    assert spans.plan_kind("MapInPandasExec") == "python_eval"
    assert spans.plan_kind("FileSourceScanExec") == "scan"
    assert spans.plan_kind("InMemoryTableScanExec") == "in_memory_scan"
    assert spans.plan_kind("ProjectExec") is None


def test_benchmark_json_matches_the_metrics_the_runner_prints():
    import layers
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert e2e == {k: v[0] for k, v in run.END_TO_END.items()}
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.per_layer_units()
    assert all(m["bound"] <= 0.25 for m in bench["end_to_end"])
    from workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


def test_inputs_are_seeded(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    inputs.generate(a, 7, 0.001)
    inputs.generate(b, 7, 0.001)
    inputs.generate(c, 8, 0.001)
    for t in ("lineitem", "documents", "embeddings", "events"):
        ta, tb, tc = (pq.read_table(os.path.join(d, f"{t}.parquet")) for d in (a, b, c))
        assert ta.equals(tb)
        assert not ta.equals(tc) and ta.num_rows == tc.num_rows


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("spark"))
    session = run.Session(work, traced=False)
    yield session.spark
    session.stop()


def _cdc_run(spark, work: str, seed: int, cycles: int):
    from workloads import CdcWorkload

    wl = CdcWorkload()
    wl.setup(spark, work, seed)
    rec = Recorder()
    for k in range(cycles + 1):
        wl.prepare(k)
        wl.run_pass(rec, False, False)
    _n, failed, msgs = wl.check()
    assert failed == 0, msgs
    _n, failed, msgs = wl.finish()
    assert failed == 0, msgs
    return wl.batches, wl.partitions_changed, wl.lake_bytes_per_row()


def test_cdc_cycle_is_deterministic_per_seed(spark, tmp_path):
    first = _cdc_run(spark, str(tmp_path / "a"), 5, cycles=2)
    again = _cdc_run(spark, str(tmp_path / "b"), 5, cycles=2)
    assert first == again
    batches, parts, bytes_per_row = first
    assert len(batches) == 2 and all(b["inserts"] > 0 for b in batches)
    assert len(parts) == 3 and parts[0] >= parts[1] > 0  # full load, then incremental
    assert bytes_per_row > 0


def test_change_batches_follow_the_seed():
    from workloads import CdcWorkload

    a, b, c = CdcWorkload(), CdcWorkload(), CdcWorkload()
    a.seed, b.seed, c.seed = 5, 5, 6
    batches = [a.change_batch(k) for k in range(1, 30)]
    assert batches == [b.change_batch(k) for k in range(1, 30)]
    assert batches != [c.change_batch(k) for k in range(1, 30)]
    assert all(sum(x.values()) == CdcWorkload.OPS_PER_CYCLE for x in batches)
    assert sum(x["updates"] for x in batches) > sum(x["deletes"] for x in batches) > 0
