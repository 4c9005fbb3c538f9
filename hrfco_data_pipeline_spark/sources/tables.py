"""Parquet table loading for the driver's synthetic star schema.

At 100 TB these reads are the dominant cost; everything here keeps the
scan prunable: no casts or projections are applied at load time, so
Catalyst can push filters and prune columns all the way into the
parquet reader (check ``PushedFilters`` / ``ReadSchema`` in
``.explain("formatted")``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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


def _nanos_to_ntz(col: str) -> F.Column:
    """INT64 nano-epoch column ``col`` (naive wall time) → TIMESTAMP_NTZ,
    independent of the session timezone.

    The nanos are divided in integer arithmetic (``div``): a double
    cannot hold a 2024 nano-epoch exactly, and ``col / 1000`` put about
    2% of the rows one microsecond early. ``timestamp_micros`` yields an
    instant; casting to NTZ renders it in the session TZ, so converting
    that rendering session-TZ→UTC recovers the original naive wall time
    no matter what the session TZ is.
    """
    ltz = F.timestamp_micros(F.expr(f"`{col}` div 1000"))
    return F.convert_timezone(
        F.current_timezone(), F.lit("UTC"), ltz.cast("timestamp_ntz")
    )


def _footer(spark: SparkSession, path: str):
    """The parquet footer of ``path`` if it is a file, else of the first
    data file in it, read on the driver (no row groups); None if there
    is none. A directory is a table Spark wrote, such as a merged
    stations dim: ``_``/``.`` names are its markers and checksums,
    hidden as Spark's listing hides them."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):
        return None
    status = fs.getFileStatus(root)
    if status.isDirectory():
        listing = fs.listStatus(root)
        status = next((s for s in listing if not s.getPath().getName().startswith(("_", "."))), None)
        if status is None:
            return None
    meta = jvm.org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader.readFooter(
        jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(status, conf),
        jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS,
    )
    return jvm.org.apache.parquet.hadoop.Footer(status.getPath(), meta)


def _spark_schema(spark: SparkSession, footer) -> StructType:
    """The schema Spark's own schema inference derives from ``footer``
    under the session's current conf (its converter, its Spark-schema
    metadata key)."""
    parquet = spark._jvm.org.apache.spark.sql.execution.datasources.parquet
    converter = parquet.ParquetToSparkSchemaConverter(
        spark._jsparkSession.sessionState().conf()
    )
    schema = parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
    return StructType.fromJson(json.loads(schema.json()))


def _is_nanos(footer, column: str) -> bool:
    """Whether ``column`` is stored as TIMESTAMP(NANOS)."""
    schema = footer.getParquetMetadata().getFileMetaData().getSchema()
    annotation = schema.getType(column).getLogicalTypeAnnotation()
    return annotation is not None and annotation.toString().startswith("TIMESTAMP(NANOS")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table without running a Spark job.

    ``spark.read.parquet`` infers the schema with a Spark job that reads
    the footer. Here the driver reads the footer of the table's (first)
    data file itself, converts it with Spark's own converter, and hands
    the schema to ``spark.read.schema(...)``: the same schema, no job.

    `events.ts` has shipped as TIMESTAMP(NANOS) in some testdata
    generations and as naive timestamp[us] in others. A NANOS file is
    read as long (Spark's readers reject NANOS unless
    ``spark.sql.legacy.parquet.nanosAsLong`` is set, which this path,
    and only this path, sets on the session: the scan needs it when it
    runs) and rebuilt as TIMESTAMP_NTZ; a µs file arrives as
    TIMESTAMP_NTZ directly. Both paths yield the same NTZ column DuckDB
    sees.

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
    footer = _footer(spark, path)
    if footer is None:
        return spark.read.parquet(path)  # Spark raises its own error
    if name == "events" and _is_nanos(footer, "ts"):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.schema(_spark_schema(spark, footer)).parquet(path)
    if name != "events":
        return df
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        # TIMESTAMP(NANOS) generation, read as long via legacy conf
        return df.withColumn("ts", _nanos_to_ntz("ts"))
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


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}

