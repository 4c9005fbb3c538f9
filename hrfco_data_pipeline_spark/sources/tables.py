"""Parquet table loading for the driver's synthetic star schema.

At 100 TB these reads are the dominant cost; everything here keeps the
scan prunable: no casts or projections are applied at load time, so
Catalyst can push filters and prune columns all the way into the
parquet reader (check ``PushedFilters`` / ``ReadSchema`` in
``.explain("formatted")``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _nanos_to_ntz(col: F.Column) -> F.Column:
    """INT64 nano-epoch (naive wall time) → TIMESTAMP_NTZ, independent of
    the session timezone.

    ``timestamp_micros`` yields an instant; casting to NTZ renders it in
    the session TZ, so converting that rendering session-TZ→UTC recovers
    the original naive wall time no matter what the session TZ is.
    """
    ltz = F.timestamp_micros((col / F.lit(1000)).cast("long"))
    return F.convert_timezone(
        F.current_timezone(), F.lit("UTC"), ltz.cast("timestamp_ntz")
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table.

    `events.ts` has shipped as TIMESTAMP(NANOS) in some testdata
    generations (Spark's vectorized reader rejects it — read as long
    via the legacy conf and rebuild TIMESTAMP_NTZ) and as naive
    timestamp[us] in others (arrives as TIMESTAMP_NTZ directly). Both
    paths yield the same NTZ column DuckDB sees.

    NOTE on small-file parallelism: the driver testdata is one
    single-row-group parquet file per table, so the scan runs as ONE
    task regardless of split configuration. An automatic
    ``repartition(cores)`` after the scan was tried and REVERTED: it
    sped the narrow CPU-bound pipelines up slightly (classify 3.5s →
    3.2s at sf0.1) but cost far more on every window/aggregation query
    (the extra round-robin shuffle ahead of the hash shuffle took
    events_asof_last_error from ~0.9s to ~14s in the same bench). At
    cluster scale inputs span many row groups and the question is moot.
    A narrower variant — conditional round-robin spread only ahead of
    the compute-heavy doc pipelines (minhash signatures, shingle
    explodes) — was also tried and REVERTED (r3): end-to-end it made
    docs_ngram_jaccard_pairs ~2× slower (min 1.9s → 4.2s at sf0.1) and
    never beat the plain plan on the others; the post-exchange cache
    and AQE-coalesced downstream shuffles already absorb the narrow
    scan better than a forced exchange does.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = df.schema["ts"].dataType.simpleString()
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) generation, read as long via legacy conf
            return df.withColumn("ts", _nanos_to_ntz(F.col("ts")))
        if ts_type != "timestamp_ntz":
            # An LTZ (or other) ts here means a reader conf is
            # misconfigured (e.g. inferTimestampNTZ disabled): a silent
            # cast would resolve through the session timezone and shift
            # every wall time. Fail loudly instead — the fix is the
            # reader conf, not a rebase.
            raise ValueError(
                f"events.ts read as {ts_type}, expected timestamp_ntz "
                "or bigint(nanos); check "
                "spark.sql.parquet.inferTimestampNTZ.enabled"
            )
        return df
    return spark.read.parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}

