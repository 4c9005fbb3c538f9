"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import gen  # noqa: E402
from perfbench.stats import mix_median, percentile, quartile_spread, tail_percentile  # noqa: E402
from perfbench.trace import Span, Tracer, read_event_log, self_times  # noqa: E402
from perfbench.workloads import check_sinks, oracle_mismatch  # noqa: E402

# --- percentile rule --------------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None  # median rank 10, only 9 beyond
    assert tail_percentile(20) == 50
    assert tail_percentile(39) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(99) == 75  # p90 rank 90 leaves 9
    assert tail_percentile(100) == 90
    assert tail_percentile(200) == 95
    assert tail_percentile(1000) == 99


def test_percentile_nearest_rank_and_spread():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile([7.0], 99) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)
    assert quartile_spread([10.0] * 4) == 0.0
    assert quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(0.15)


def test_mix_median_weights_per_type_medians():
    assert mix_median([("b", 3.0), ("b", 1.0), ("b", 2.0)]) == 2.0  # one type: the median
    # one burst-slowed sample per type does not move a type's median of three
    samples = [("a", 100.0), ("a", 100.0), ("a", 900.0), ("b", 400.0), ("b", 400.0), ("b", 50.0)]
    assert mix_median(samples) == pytest.approx(250.0)
    assert mix_median(samples, {"a": 2}) == pytest.approx((2 * 100.0 + 400.0) / 3)


# --- spans ------------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span("root", 0.0, 10.0, None, "r", 0),
        Span("a", 1.0, 4.0, 0, "r", 1),
        Span("b", 3.0, 6.0, 0, "r", 2),  # overlaps a: union 1..6
        Span("c", 8.0, 12.0, 0, "r", 3),  # clipped to the parent: 8..10
        Span("leaf", 1.5, 2.0, 1, "r", 4),  # grandchild: not subtracted from root
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_keeps_request_ids():
    t = Tracer()

    def inner(x):
        return x + 1

    wrapped = t.wrap(inner, "layer.inner")
    with t.span("request", req="q1"):
        assert wrapped(1) == 2
    by_name = {s.name: s for s in t.spans}
    assert by_name["layer.inner"].parent == by_name["request"].sid
    assert by_name["layer.inner"].req == "q1"
    assert by_name["request"].end >= by_name["layer.inner"].end


# --- event log --------------------------------------------------------------


def _task(stage, run_ms, gc=0, sw=0, sr=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc,
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": sr},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
        },
    }


def test_event_log_attributes_work_by_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "r1|build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Properties": {"spark.jobGroup.id": "r1|exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "x", "streaming.sql.batchId": "4"}},
        _task(0, 100), _task(1, 10), _task(2, 30, gc=5, sw=1000), _task(2, 90, sr=500, spill=7),
        _task(3, 1),
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart", "executionId": 9,
         "description": "d", "physicalPlanDescription": "Insert /out/fact", "time": 1000},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd", "executionId": 9, "time": 1250},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events))
    by_group, sql = read_event_log(str(path))
    build, exe = by_group["r1|build"], by_group["r1|exec"]
    assert (build.jobs, build.tasks, build.task_ms, build.stages) == (1, 2, 110, 1)
    assert (exe.jobs, exe.tasks, exe.task_ms, exe.gc_ms) == (1, 2, 120, 5)
    assert (exe.shuffle_write_b, exe.shuffle_read_b, exe.spill_b) == (1000, 500, 7)
    assert exe.skews == [pytest.approx(90 / 60)]
    assert by_group["streaming:4"].task_ms == 1
    assert sql == [("Insert /out/fact", 250)]


# --- generators -------------------------------------------------------------


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(os.path.basename(p).encode() + f.read())
    return h.hexdigest()


def test_generators_are_deterministic(tmp_path):
    for run, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_events(str(tmp_path / run / "tables"), seed=seed, n=500, n_users=20)
        gen.write_ingest_backlog(str(tmp_path / run / "src"), str(tmp_path / run / "dim"),
                                 seed=seed, n_files=3, n_stations=40)
    a, b, c = (_digest(glob.glob(str(tmp_path / run / "*" / "*"))) for run in "abc")
    assert a == b
    assert a != c


def test_ingest_backlog_is_time_ordered_with_fixed_late_share(tmp_path):
    pred = gen.write_ingest_backlog(str(tmp_path / "src"), str(tmp_path / "dim"), seed=3, n_files=4, n_stations=50)
    files = sorted(glob.glob(str(tmp_path / "src" / "*.json")))
    mtimes = [os.path.getmtime(p) for p in files]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    assert pred.rows == 4 * (50 + gen.LATE_PER_CYCLE)
    assert pred.fact + pred.dlq < pred.rows  # F1 drops are silent
    assert sum(pred.levels.values()) == pred.alerts == pred.archive == pred.fact


def test_alert_level_model():
    st = {"attwl": "3.0", "wrnwl": "4.5", "almwl": "6.0", "srswl": "7.5"}
    rec = lambda wl, fw="1.00": {"wlobscd": "1", "ymdhm": "202501010600", "wl": wl, "fw": fw}  # noqa: E731
    assert gen.alert_level(rec("7.50"), st) == "CRITICAL"
    assert gen.alert_level(rec("3.00"), st) == "ATTENTION"
    assert gen.alert_level(rec("2.99"), st) == "NORMAL"
    assert gen.alert_level(rec("55.0"), st) == "ANOMALY"
    assert gen.alert_level(rec("NaN"), st) == "ANOMALY"
    assert gen.alert_level(rec("abc"), st) == "NORMAL"
    assert gen.alert_level(rec("", " "), st) is None  # both measurements blank: dropped
    assert gen.alert_level(rec("9.0"), None) == "NORMAL"  # no station row
    assert gen.alert_level(rec("9.0"), {"attwl": None, "wrnwl": None, "almwl": None, "srswl": "8.0"}) == "NORMAL"


# --- output checks ----------------------------------------------------------


def _fake_sinks(out, pred):
    """Write sink files holding exactly what ``pred`` says."""
    levels = [lvl for lvl, n in pred.levels.items() for _ in range(n)]
    os.makedirs(f"{out}/fact/obs_date=2025-01-01")
    pq.write_table(pa.table({"n": list(range(pred.fact))}), f"{out}/fact/obs_date=2025-01-01/p.parquet")
    os.makedirs(f"{out}/alerts")
    pq.write_table(pa.table({"warning_level": levels}), f"{out}/alerts/p.parquet")
    os.makedirs(f"{out}/dlq")
    pq.write_table(pa.table({"n": list(range(pred.dlq))}), f"{out}/dlq/p.parquet")
    for kind, n in (("anomalies", pred.archive_anomalies), ("normal", pred.archive - pred.archive_anomalies)):
        os.makedirs(f"{out}/archive/kind={kind}/obs_date=2025-01-01")
        with open(f"{out}/archive/kind={kind}/obs_date=2025-01-01/p.json", "w") as f:
            f.write("".join("{}\n" for _ in range(n)))


def test_sink_check_passes_on_match_and_fails_on_tampered_count(tmp_path):
    pred = gen.write_ingest_backlog(str(tmp_path / "src"), str(tmp_path / "dim"), seed=9, n_files=2, n_stations=30)
    out = str(tmp_path / "out")
    _fake_sinks(out, pred)
    assert check_sinks(out, pred) == []
    pred.dlq += 1  # a sink that lost one envelope
    assert check_sinks(out, pred) == [f"dlq: sink has {pred.dlq - 1}, generator predicts {pred.dlq}"]


def test_oracle_rule_is_order_insensitive_and_value_exact():
    import duckdb

    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) t(k, v)"
    assert oracle_mismatch(con, sql, ["v", "k"], [("b", 2), ("a", 1)]) is None
    assert "rows" in oracle_mismatch(con, sql, ["k", "v"], [(1, "a")])
    assert "values" in oracle_mismatch(con, sql, ["k", "v"], [(1, "a"), (2, "c")])
    assert "columns" in oracle_mismatch(con, sql, ["k", "w"], [(1, "a"), (2, "b")])
