"""Building a plan runs no hidden work: loading a driver table runs no
Spark job, and neither does building a dashboard request's plan, which
also leaves the session's conf as it found it."""

from __future__ import annotations

import pytest

# (build(), the Spark jobs it ran), counted as the CLI's explain and census count them
from hrfco_data_pipeline_spark.__main__ import _build_jobs as _jobs
from hrfco_data_pipeline_spark.sources.tables import TABLES, load_table

TESTDATA = "/root/testdata"
SF001, SF01 = f"{TESTDATA}/sf0.001", f"{TESTDATA}/sf0.01"


def test_load_table_runs_no_job(spark):
    """Every driver table loads with its footer read on the driver: no
    job, and the schema ``spark.read.parquet`` infers (with its job)."""
    for name in TABLES:
        df, jobs = _jobs(spark, f"load-{name}", lambda: load_table(spark, SF001, name))
        assert jobs == 0, name
        ref, ref_jobs = _jobs(spark, f"infer-{name}", lambda: spark.read.parquet(f"{SF001}/{name}.parquet").schema)
        assert ref_jobs > 0  # the counter sees a footer job
        assert df.schema == ref, name


def test_load_table_reads_a_spark_written_directory(spark, tmp_path):
    """A table Spark wrote as a directory (part files next to hidden
    ``_SUCCESS`` / ``.crc`` files, as a merged stations dim is) loads
    without a job too, with the schema Spark infers."""
    from hrfco_data_pipeline_spark.sources.synthetic import synthetic_stations

    synthetic_stations(spark).write.parquet(str(tmp_path / "stations.parquet"))
    df, jobs = _jobs(spark, "load-stations-dir", lambda: load_table(spark, str(tmp_path), "stations"))
    assert jobs == 0
    assert df.schema == spark.read.parquet(str(tmp_path / "stations.parquet")).schema
    assert df.count() == 100


def test_load_table_nanos_events(spark, tmp_path):
    """A TIMESTAMP(NANOS) ``events.ts`` loads without a job too, and
    yields the same TIMESTAMP_NTZ values as the µs file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    table = pq.read_table(f"{SF001}/events.parquet")
    assert table.schema.field("ts").type == pa.timestamp("us")
    nanos = table.set_column(table.schema.get_field_index("ts"), "ts", table.column("ts").cast(pa.timestamp("ns")))
    pq.write_table(nanos, str(tmp_path / "events.parquet"), coerce_timestamps=None)
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type == pa.timestamp("ns")

    df, jobs = _jobs(spark, "load-nanos-events", lambda: load_table(spark, str(tmp_path), "events"))
    assert jobs == 0
    assert df.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    micros = load_table(spark, SF001, "events")
    assert sorted(df.select("event_id", "ts").collect()) == sorted(micros.select("event_id", "ts").collect())


def test_dashboard_requests_build_without_jobs_or_session_state(spark):
    """Each of perfbench's nine dashboard requests builds its plan over
    sf0.01 with no Spark job and leaves ``spark.conf`` unchanged, so no
    request depends on session state an earlier one left behind."""
    import __spark_entry__
    from perfbench.workloads import DASHBOARD_MIX

    queries = __spark_entry__.queries()
    for name in DASHBOARD_MIX:
        conf = spark.conf.getAll
        _, jobs = _jobs(spark, f"build-{name}", lambda: queries[name](spark, SF01))
        assert jobs == 0, name
        assert spark.conf.getAll == conf, name


@pytest.mark.parametrize("sf", ["sf0.01", "sf0.1"])
def test_dashboard_spread_follows_the_size_floor(spark, sf):
    """The hydro wire source spreads `events` only at or above
    ``hints.SPREAD_MIN_BYTES``: the sf0.01 table (221 KB) scans
    straight into the classify chain, the sf0.1 one (2 MB) keeps its
    round-robin exchange."""
    import os

    from hrfco_data_pipeline_spark.functions.hints import SPREAD_MIN_BYTES
    from hrfco_data_pipeline_spark.plans import hydro

    path = f"{TESTDATA}/{sf}"
    plan = hydro.alerts(spark, path)._jdf.queryExecution().optimizedPlan().toString()
    big = os.path.getsize(f"{path}/events.parquet") >= SPREAD_MIN_BYTES
    assert big == (sf == "sf0.1")
    assert ("Repartition" in plan) == big
