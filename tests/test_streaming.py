"""E2E streaming pipeline tests: file source → foreachBatch fan-out to the four sinks."""

from __future__ import annotations

import pytest

from hrfco_data_pipeline_spark.plans.wire import synthetic_wire
from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations
from hrfco_data_pipeline_spark.streaming import (
    observations_file_stream,
    run_stream,
)

SF = "/root/testdata/sf0.001"


def test_stream_fanout(spark, tmp_path):
    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    synthetic_wire(spark, SF).select("value").coalesce(2).write.mode(
        "overwrite"
    ).text(src)

    q = run_stream(
        spark,
        observations_file_stream(spark, src),
        synthetic_stations(spark),
        out,
        ckpt,
    )
    assert q.awaitTermination(300)

    archive = spark.read.json(f"{out}/archive")
    fact = spark.read.parquet(f"{out}/fact")
    dlq = spark.read.parquet(f"{out}/dlq")
    alerts = spark.read.parquet(f"{out}/alerts")

    n = archive.count()
    assert n > 0 and n == fact.count() == alerts.count()
    # parse-corrupt records are DLQ'd (W8), F1 drops are NOT (silent)
    assert dlq.count() > 0
    kinds = {r["kind"] for r in archive.select("kind").distinct().collect()}
    assert kinds == {"normal", "anomalies"}
    levels = {r["warning_level"] for r in alerts.select("warning_level").distinct().collect()}
    assert "ANOMALY" in levels and "NORMAL" in levels
    # C5: internal levels never leak into the published alerts
    assert not levels & {"NO_THRESHOLD", "PARTIAL_THRESHOLD"}


def test_stream_restart_exactly_once_fact_rows(spark, tmp_path):
    """R3/W4 continuity: stop after batch 1, add data, restart on the
    same checkpoint — the fact sink ends with exactly the union of both
    runs' valid rows, no duplicates and no loss."""
    import pyspark.sql.functions as F

    src, out, ckpt = str(tmp_path / "src2"), str(tmp_path / "o2"), str(tmp_path / "ck2")
    wire = synthetic_wire(spark, SF).select("obs_id", "value")
    first = wire.filter(F.col("obs_id") < 500)
    second = wire.filter(F.col("obs_id") >= 500)
    first.select("value").coalesce(1).write.mode("overwrite").text(src)

    def run_once():
        q = run_stream(
            spark,
            observations_file_stream(spark, src),
            synthetic_stations(spark),
            out,
            ckpt,
        )
        assert q.awaitTermination(300)

    run_once()
    n1 = spark.read.parquet(f"{out}/fact").count()
    assert n1 > 0

    # land the second half as NEW files (append-only source contract)
    second.select("value").coalesce(1).write.mode("append").text(src)
    run_once()
    n2 = spark.read.parquet(f"{out}/fact").count()
    assert n2 > n1
    # exactly-once: fact row count equals the batch twin over BOTH
    # landed files — a replayed batch would overshoot, a lost one undershoot
    from hrfco_data_pipeline_spark.operators.classify import process_observations

    batch_raw = (
        spark.read.text(src)
        .select(
            F.from_json(
                "value", "wlobscd string, ymdhm string, wl string, fw string"
            ).alias("r")
        )
        .select("r.*")
        .filter(F.col("wlobscd").isNotNull())
    )
    want = process_observations(batch_raw, synthetic_stations(spark)).count()
    assert n2 == want


def _sink_rows(spark, out: str) -> dict:
    """Every sink's rows as a multiset, without the batch-clock columns
    (two runs of the same input stamp different clocks)."""
    from collections import Counter

    rows = {}
    for sink in ("archive", "fact", "alerts", "dlq"):
        path = f"{out}/{sink}"
        df = spark.read.json(path) if sink == "archive" else spark.read.parquet(path)
        df = df.drop("created_at", "timestamp")
        rows[sink] = Counter(tuple(r) for r in df.select(*sorted(df.columns)).collect())
    return rows


@pytest.fixture(scope="module")
def clean_sinks(spark, tmp_path_factory):
    """The sinks of one fault-free run over ``_polling_files(src, 8)``
    (two micro-batches)."""
    base = tmp_path_factory.mktemp("clean")
    src, out = str(base / "src"), str(base / "out")
    _polling_files(src, 8)
    q = run_stream(spark, observations_file_stream(spark, src), synthetic_stations(spark), out, str(base / "ck"))
    assert q.awaitTermination(300)
    return _sink_rows(spark, out)


@pytest.mark.parametrize("fault", ["archive", "fact", "alerts", "dlq", "move"])
def test_stream_restart_after_fault_exactly_once_every_sink(spark, tmp_path, monkeypatch, clean_sinks, fault):
    """Fail-stop faults in the second micro-batch, then a restart on the
    same checkpoint: the restart replays the batch, and every sink ends
    with the rows of a clean single run, no duplicates and no loss.
    A sink fault is raised right after that sink's write returned; a
    ``move`` fault is a non-``OSError`` ``BaseException`` (a kill) at
    the fact sink's second file move, after one file of the batch has
    moved into place and before the marker is bumped."""
    import glob
    import os

    from pyspark.errors import StreamingQueryException

    import hrfco_data_pipeline_spark.streaming.pipeline as pl

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _polling_files(src, 8)
    fired = []

    class Killed(BaseException):
        pass

    if fault == "move":
        real_rename = os.rename

        def rename(a, b):
            if "/fact/" in b and os.path.basename(b).startswith("b000000000001-"):
                fired.append(b)
                if len(fired) == 2:
                    raise Killed()
            real_rename(a, b)

        monkeypatch.setattr(os, "rename", rename)
        write_fact = pl.write_fact

        def killed_in_fact(*a, **k):
            # a BaseException would hang the py4j callback; the sink is
            # left as a kill leaves it, and the query ends with an error
            try:
                write_fact(*a, **k)
            except Killed as exc:
                raise RuntimeError("killed mid-commit") from exc

        monkeypatch.setattr(pl, "write_fact", killed_in_fact)
    else:
        write = getattr(pl, f"write_{fault}")

        def write_then_fail(*a, **k):
            write(*a, **k)
            fired.append(1)
            if len(fired) == 2:
                raise RuntimeError(f"fault after the {fault} write")

        monkeypatch.setattr(pl, f"write_{fault}", write_then_fail)

    def run_once():
        q = pl.run_stream(spark, pl.observations_file_stream(spark, src), synthetic_stations(spark), out, ckpt)
        return q.awaitTermination(300)

    with pytest.raises(StreamingQueryException):
        run_once()
    assert len(fired) == 2
    assert os.path.isdir(f"{out}/fact/_staging") == (fault == "move")
    monkeypatch.undo()
    assert run_once()
    assert _sink_rows(spark, out) == clean_sinks
    assert not glob.glob(f"{out}/*/_staging")


def test_failed_guarded_write_leaves_no_staging(spark, tmp_path, monkeypatch):
    """A write that fails mid-commit under a breaker is undone before
    the breaker sees the error: no staging dir and none of the batch's
    files stay behind, the failure lands in the DLQ, and the stream
    carries on."""
    import glob
    import os

    import hrfco_data_pipeline_spark.streaming.pipeline as pl
    from hrfco_data_pipeline_spark.sinks.reliability import SinkCircuitBreaker

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _polling_files(src, 8)
    real_rename, moved = os.rename, []

    def rename(a, b):  # the second file move of the fact sink's batch 1 fails
        if "/fact/" in b and os.path.basename(b).startswith("b000000000001-"):
            moved.append(b)
            if len(moved) == 2:
                raise OSError("disk gone")
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", rename)
    q = pl.run_stream(
        spark,
        pl.observations_file_stream(spark, src),
        synthetic_stations(spark),
        out,
        ckpt,
        breakers={"fact": SinkCircuitBreaker(name="fact")},
    )
    assert q.awaitTermination(300)
    monkeypatch.undo()
    assert len(moved) == 2
    assert not glob.glob(f"{out}/*/_staging")
    assert not glob.glob(f"{out}/fact/*/b000000000001-*")
    assert glob.glob(f"{out}/fact/*/b000000000000-*")
    reasons = [r.error_reason for r in spark.read.parquet(f"{out}/dlq").collect()]
    assert "Storage failed: fact: OSError" in reasons
    assert spark.read.parquet(f"{out}/alerts").count() == 2 * spark.read.parquet(f"{out}/fact").count()


def test_snapshot_sink_complete_mode(spark, tmp_path):
    """A complete-mode aggregate materialized through snapshot_sink is
    a consistent, atomically-replaced parquet view of the latest state
    and equals the batch aggregate over the same input."""
    import json as _json

    from hrfco_data_pipeline_spark.sinks.writers import snapshot_sink

    src = tmp_path / "src"
    src.mkdir()
    rows = [{"k": "a"}, {"k": "b"}, {"k": "a"}, {"k": "c"}, {"k": "a"}]
    (src / "1.json").write_text("\n".join(_json.dumps(r) for r in rows))
    stream = spark.readStream.schema("k string").json(str(src))
    agg = stream.groupBy("k").count()
    out = str(tmp_path / "snap")
    q = (
        agg.writeStream.foreachBatch(snapshot_sink(out))
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {r.k: r["count"] for r in spark.read.parquet(out).collect()}
    assert got == {"a": 3, "b": 1, "c": 1}
    import os

    assert not [
        d
        for d in os.listdir(tmp_path)
        if d.endswith("__staging__") or d.endswith("__old__")
    ]


def _polling_files(src, n_files: int, dates=("01", "02")) -> None:
    """``n_files`` JSON-lines files, file ``i`` carrying minute ``i`` in
    every observation time (one record per station and date, so each
    micro-batch reaches every partition) and one corrupt line naming it.
    Modification times follow ``i``, so the file source takes them in
    that order."""
    import json
    import os

    os.makedirs(src)
    for i in range(n_files):
        lines = [
            json.dumps({"wlobscd": str(c), "ymdhm": f"202501{d}12{i:02d}", "wl": f"{c}.50", "fw": "1.0"})
            for d in dates
            for c in range(10)
        ]
        path = os.path.join(src, f"f{i:02d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join([*lines, f"not json {i}"]) + "\n")
        os.utime(path, (1_000 + i, 1_000 + i))


def _batch_clock(ckpt: str) -> tuple[dict[int, int], dict[int, int]]:
    """(batchTimestampMs per batch id, batch id per source file index),
    read from the checkpoint's offset log and file-source log."""
    import glob
    import json
    import os

    clock, batch_of = {}, {}
    for path in glob.glob(f"{ckpt}/offsets/[0-9]*"):
        with open(path) as fh:
            clock[int(os.path.basename(path))] = json.loads(fh.read().splitlines()[1])["batchTimestampMs"]
    for path in glob.glob(f"{ckpt}/sources/0/[0-9]*"):
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                batch_of[int(entry["path"].rsplit("/f", 1)[1][:2])] = entry["batchId"]
    return clock, batch_of


@pytest.mark.parametrize("dedup", [False, True])
def test_stream_one_file_per_batch_stamped_by_batch_clock(spark, tmp_path, monkeypatch, dedup):
    """Two micro-batches of four polling files. Each micro-batch writes
    one data file per sink and partition directory, and every timestamp
    it stamps — fact ``created_at``, alert and DLQ ``timestamp``, a
    storage-failure envelope's included — is that batch's
    ``batchTimestampMs`` from the offset log. With ``dedup`` the batch
    comes out of the stateful duplicate drop, whose advancing watermark
    makes Spark run a third, no-data micro-batch; it writes one empty
    file to each unpartitioned sink (alerts, DLQ)."""
    import glob
    import json
    import os
    import pyarrow as pa
    import pyarrow.parquet as pq

    import hrfco_data_pipeline_spark.streaming.pipeline as pl
    from hrfco_data_pipeline_spark.sinks.reliability import SinkCircuitBreaker

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _polling_files(src, 8)

    write_archive, calls = pl.write_archive, []

    def archive_down_once(*a, **k):  # the first micro-batch's archive write fails
        calls.append(1)
        if len(calls) == 1:
            raise IOError("object store down")
        write_archive(*a, **k)

    monkeypatch.setattr(pl, "write_archive", archive_down_once)
    q = pl.run_stream(
        spark,
        pl.observations_file_stream(spark, src),
        synthetic_stations(spark),
        out,
        ckpt,
        dedup=dedup,
        breakers={"archive": SinkCircuitBreaker(name="archive")},
    )
    assert q.awaitTermination(300)
    clock, batch_of = _batch_clock(ckpt)
    assert sorted(clock) == ([0, 1, 2] if dedup else [0, 1]) and sorted(set(batch_of.values())) == [0, 1]

    def dlq_batch(value: str) -> int:
        n = int(value.split()[-1])  # "not json <file>" or "batch <id>"
        return n if value.startswith("batch ") else batch_of[n]

    def stamped(sink: str, path: str) -> list[tuple[int, int | None]]:
        """(micro-batch the row came from, its timestamp in epoch ms) per row."""
        if sink == "archive":
            with open(path) as fh:
                return [(batch_of[int(json.loads(line)["ymdhm"][-2:])], None) for line in fh]
        table = pq.read_table(path)
        rows = table.to_pylist()
        if sink == "fact":
            created = table.column("created_at").cast(pa.timestamp("ms"), safe=False).cast(pa.int64())
            return [(batch_of[r["observation_time"].minute], c) for r, c in zip(rows, created.to_pylist())]
        if sink == "alerts":
            return [(batch_of[int(r["observation_time"][-2:])], r["timestamp"]) for r in rows]
        return [(dlq_batch(r["original_value"]), r["timestamp"]) for r in rows]

    dirs = {}
    for path in glob.glob(f"{out}/**/*", recursive=True):
        if os.path.isfile(path) and not os.path.basename(path).startswith((".", "_")):
            dirs.setdefault(os.path.dirname(os.path.relpath(path, out)), []).append(path)
    assert sorted(dirs) == [
        "alerts", "archive/kind=normal/obs_date=2025-01-01", "archive/kind=normal/obs_date=2025-01-02",
        "dlq", "fact/obs_date=2025-01-01", "fact/obs_date=2025-01-02",
    ]
    for d, files in dirs.items():
        batches = []
        for path in files:
            rows = stamped(d.split("/")[0], path)
            if not rows:  # the no-data micro-batch
                assert dedup and d in ("alerts", "dlq"), f"{path} is empty"
                batches.append(2)
                continue
            assert len({b for b, _ in rows}) == 1, f"{path} mixes micro-batches"
            batches.append(rows[0][0])
            assert all(ts is None or ts == clock[b] for b, ts in rows), f"{path} not stamped by its batch clock"
        # the archive write of batch 0 failed; everything else has both
        expected = [1] if d.startswith("archive") else [0, 1]
        assert sorted(batches) == expected + ([2] if dedup and d in ("alerts", "dlq") else []), d
    dlq = [r for path in dirs["dlq"] for r in pq.read_table(path).to_pylist()]
    envelopes = [(r["original_value"], r["timestamp"]) for r in dlq if r["error_reason"].startswith("Storage failed")]
    assert envelopes == [("batch 0", clock[0])]
    # every unparseable line reaches the DLQ, with or without dedup
    assert sorted(r["original_value"] for r in dlq if r["error_reason"].startswith("Processing")) == [
        f"not json {i}" for i in range(8)
    ]


def test_stream_steady_batches_reuse_generated_code(spark, tmp_path, monkeypatch):
    """Steady micro-batches reuse the sinks' generated classes. Only the
    batch's source stage compiles again: Spark folds the batch clock
    into a literal in that stage's code, so its class differs from batch
    to batch (2 compilation events per batch on pyspark 4.1.2). A sink
    that stamped its own ``current_timestamp()`` would compile its stage
    anew every batch (6 events per batch before the batch clock)."""
    import hrfco_data_pipeline_spark.streaming.pipeline as pl

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _polling_files(src, 12)
    compiled = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    write_dlq, after = pl.write_dlq, []

    def counted(*a, **k):  # the DLQ write ends every micro-batch
        write_dlq(*a, **k)
        after.append(compiled.getCount())

    monkeypatch.setattr(pl, "write_dlq", counted)
    q = pl.run_stream(spark, pl.observations_file_stream(spark, src), synthetic_stations(spark), out, ckpt)
    assert q.awaitTermination(300)
    assert len(after) == 3
    steady = [after[1] - after[0], after[2] - after[1]]  # batch 0 compiles every stage
    assert max(steady) <= 2, f"compilations per steady micro-batch: {steady}"


def test_station_merge_between_batches_is_seen(spark, tmp_path):
    """J1: a running stream over a file-backed stations dim classifies
    each micro-batch against the dim's current rows. Batch 0 sees the
    old thresholds of station 0; ``merge_stations`` then raises them
    (swapping the dim's files away); batch 1 sees the new ones, and the
    query is still running."""
    import os
    import time

    import pyspark.sql.functions as F

    from hrfco_data_pipeline_spark.operators.classify import process_observations
    from hrfco_data_pipeline_spark.sinks.writers import committed_batch, merge_stations

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    dim = str(tmp_path / "stations")
    synthetic_stations(spark).write.parquet(dim)
    old_dim = spark.createDataFrame(spark.read.parquet(dim).collect())
    raised = spark.createDataFrame(
        [("0", "Station 0", "Addr 0", "20.00", "30.00", "40.00", "50.00")],
        "wlobscd string, obsnm string, addr string, attwl string, wrnwl string, almwl string, srswl string",
    )
    os.makedirs(src)

    def land(minute: int) -> None:
        with open(os.path.join(src, f"f{minute}.json"), "w") as fh:
            fh.write(f'{{"wlobscd": "0", "ymdhm": "2025010112{minute:02d}", "wl": "7.00", "fw": "1.0"}}\n')

    def await_batch(batch_id: int) -> None:
        deadline = time.monotonic() + 120
        while committed_batch(f"{out}/fact") < batch_id:
            assert q.isActive, q.exception()
            assert time.monotonic() < deadline, f"batch {batch_id} not committed"
            time.sleep(0.2)

    def expected(stations) -> str:
        record = spark.createDataFrame([("0", "202501011200", "7.00", "1.0")], "wlobscd string, ymdhm string, wl string, fw string")
        return process_observations(record, stations).first()["flood_warning_level"]

    land(0)
    q = run_stream(spark, observations_file_stream(spark, src), spark.read.parquet(dim), out, ckpt, trigger_seconds=1)
    try:
        await_batch(0)
        merge_stations(spark, dim, raised)
        land(1)
        await_batch(1)
        assert q.isActive and q.exception() is None
    finally:
        q.stop()
    levels = {
        r["observation_time"].minute: r["flood_warning_level"]
        for r in spark.read.parquet(f"{out}/fact").select("observation_time", "flood_warning_level").collect()
    }
    before, after = expected(old_dim), expected(raised)
    assert before != after
    assert levels == {0: before, 1: after}


def test_base_exception_in_batch_fails_query(spark, tmp_path, monkeypatch, clean_sinks):
    """A non-``Exception`` ``BaseException`` (a kill stand-in) raised by a
    sink inside the micro-batch ends the query with an error instead of
    hanging it; a restart on the same checkpoint leaves every sink with
    the rows of a clean run."""
    import glob

    from pyspark.errors import StreamingQueryException

    import hrfco_data_pipeline_spark.streaming.pipeline as pl

    src, out, ckpt = str(tmp_path / "src"), str(tmp_path / "out"), str(tmp_path / "ck")
    _polling_files(src, 8)

    class Killed(BaseException):
        pass

    write_fact, fired = pl.write_fact, []

    def killed_after_fact(*a, **k):
        write_fact(*a, **k)
        fired.append(1)
        if len(fired) == 2:
            raise Killed()

    monkeypatch.setattr(pl, "write_fact", killed_after_fact)
    q = pl.run_stream(spark, pl.observations_file_stream(spark, src), synthetic_stations(spark), out, ckpt)
    # no stop() on failure: a query whose callback died would hang it
    with pytest.raises(StreamingQueryException, match="Killed"):
        q.awaitTermination(60)
    assert len(fired) == 2
    monkeypatch.undo()
    q = pl.run_stream(spark, pl.observations_file_stream(spark, src), synthetic_stations(spark), out, ckpt)
    assert q.awaitTermination(300)
    assert _sink_rows(spark, out) == clean_sinks
    assert not glob.glob(f"{out}/*/_staging")
