"""Deterministic wire-format derivation from the driver's `events` table.

The reference ingests HRFCO REST JSON: all-string records with blank/
garbage/out-of-range dirt (FIXTURES.md §1-2). The driver's testdata has
no observation table, so we derive one — deterministically — from
`events`, and a stations dimension from a code range. The DuckDB oracle
(``__spark_entry__.oracle_sql``) mirrors these expressions verbatim,
which makes the full hydrology pipeline hash-checkable end to end.

Parity design: every numeric string is built from INTEGER arithmetic
("cents"), formatted as ``%d.%02d``. Float→string formatting is NOT
portable between engines (Java Formatter rounds the shortest decimal
repr HALF_UP; C printf and DuckDB's DECIMAL cast round variants of the
exact binary value — all three disagree on e.g. 31.4/40 and 8.2/40),
but integer formatting is bit-exact everywhere. Dirt is injected by
``event_id % k`` switches so every F1/F2/C1-C5 branch has population
at every scale factor.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from hrfco_data_pipeline_spark.functions.exprcache import cached_exprs
from hrfco_data_pipeline_spark.functions.hints import parallelize_small_scan
from hrfco_data_pipeline_spark.sources.tables import load_table


def _cents_str(c: Column) -> Column:
    """integer cents → '<units>.<2-digit cents>' string, exactly."""
    return F.format_string(
        "%d.%02d", ((c - c % 100) / F.lit(100)).cast("long"), c % 100
    )


def synthetic_observations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire-format observation records derived from `events`.

    Columns: obs_id (= event_id, passthrough key), wlobscd, ymdhm, wl,
    fw — all strings, with deterministic dirty cases:
    - wlobscd: ``''``/``' '`` blanks (F1 drops), codes 100-119 have no
      station row (NO_THRESHOLD), else ``user_id % 120``;
    - ymdhm: null / wrong-length (T5 passthrough) / ``yyyyMMddHHmm``;
    - wl: blank/garbage → null-coerce (T4), ``55.0``/``-15.0`` out of
      physical range (F2→C1 anomaly), else 0.00-12.99 (integer-cents
      hash of event_id) which sweeps the full threshold ladder;
    - fw: null/blank/out-of-range ``60000.0``, else 0.00-39999.99.
    """
    # The classify/wire pipelines downstream are compute-bound string
    # work with NO shuffle of their own; a single-row-group events file
    # scans as one task and would serialize them on one core. Spreading
    # the input here is safe exactly because nothing below needs a
    # particular partitioning (the window/aggregation queries read
    # events directly and are NOT affected — see load_table's note).
    # It happens only from functions/hints.SPREAD_MIN_BYTES up: the sf0.1
    # events (2 MB) spread; the sf0.01 and perfbench ones (221 KB) scan
    # straight into the chain, where the exchange and its one-task scan
    # stage cost a dashboard request more than the spread saves.
    # NOTE (r17): this spread only helps if downstream filters on
    # DERIVED (parse/classify) columns are shielded with
    # functions/hints.no_pushdown — PushDownPredicates otherwise
    # re-inlines the whole derivation tree below this exchange, into the
    # single scan task (hydro_station_crosscorr profiled 1.7 s of
    # classify work under the round-robin Exchange before the r17
    # no_pushdown sweep). A checkpoint barrier here was tried and
    # reverted: it fixed those sites but taxed every other classify
    # consumer ~0.3-0.6 s per run (classify_alerts 0.92→1.04,
    # resample_10min 3.42→3.98 warm medians).
    ev = parallelize_small_scan(load_table(spark, sf_dir, "events"))

    # constant unresolved expression trees, built once per JVM
    # (functions/exprcache — the derivation is ~1,000 py4j calls)
    def _build():
        eid = F.col("event_id")
        code = (F.col("user_id") % 120).cast("string")
        wl_cents = (eid * 7919 + F.col("user_id") * 13) % 1300
        fw_cents = (eid * 104729) % 4000000
        return [
            eid.alias("obs_id"),
            F.when(eid % 37 == 0, "")
            .when(eid % 37 == 1, " ")
            .otherwise(code)
            .alias("wlobscd"),
            F.when(eid % 41 == 0, F.lit(None).cast("string"))
            .when(eid % 41 == 1, F.date_format("ts", "yyyyMMdd"))
            .otherwise(F.date_format("ts", "yyyyMMddHHmm"))
            .alias("ymdhm"),
            F.when(eid % 43 == 0, "")
            .when(eid % 43 == 1, "abc")
            .when(eid % 43 == 2, F.lit(None).cast("string"))
            .when(eid % 43 == 3, "55.0")
            .when(eid % 43 == 4, "-15.0")
            .when(eid % 43 == 5, " ")
            .otherwise(_cents_str(wl_cents))
            .alias("wl"),
            F.when(eid % 47 == 0, F.lit(None).cast("string"))
            .when(eid % 47 == 1, "")
            .when(eid % 47 == 2, "60000.0")
            .otherwise(_cents_str(fw_cents))
            .alias("fw"),
        ]

    return ev.select(*cached_exprs("synthetic_observations", _build))


def synthetic_stations(spark: SparkSession) -> DataFrame:
    """Stations dimension: codes 0-99, threshold mix per ``code % 5``.

    - 0: four valid tiers att/wrn/alm/srs = base, base+2, base+4, base+6
      with base = 2 + (code%7)*0.5 (in cents: 200 + (code%7)*50);
    - 1: only srswl (PARTIAL_THRESHOLD);
    - 2: garbage tiers ('0', '-1', '', 'x') → 0 valid (NO_THRESHOLD);
    - 3: all-null tiers → NO_THRESHOLD for non-null wl, NORMAL else;
    - 4: two valid tiers (attwl + srswl).
    Mirrors the dirty-case matrix in FIXTURES.md §2 / the reference's
    StationThresholdTest.
    """
    df = spark.range(0, 100).select(F.col("id"))

    def _build():
        code = F.col("id")
        att_c = F.lit(200) + (code % 7) * F.lit(50)
        m = code % 5
        return [
            code.cast("string").alias("wlobscd"),
            F.when(code % 17 == 0, F.lit(None).cast("string"))
            .otherwise(F.concat(F.lit("Station "), code.cast("string")))
            .alias("obsnm"),
            F.concat(F.lit("Addr "), code.cast("string")).alias("addr"),
            F.when(m == 0, _cents_str(att_c))
            .when(m == 2, "0")
            .when(m == 4, _cents_str(att_c))
            .alias("attwl"),
            F.when(m == 0, _cents_str(att_c + 200))
            .when(m == 2, "-1")
            .alias("wrnwl"),
            F.when(m == 0, _cents_str(att_c + 400))
            .when(m == 2, "")
            .alias("almwl"),
            F.when(m == 0, _cents_str(att_c + 600))
            .when(m == 1, _cents_str(F.lit(800) + (code % 3) * F.lit(100)))
            .when(m == 2, "x")
            .when(m == 4, _cents_str(att_c + 600))
            .alias("srswl"),
        ]

    return df.select(*cached_exprs("synthetic_stations", _build))


# ---------------------------------------------------------------------------
# DuckDB twins of the derivations above, used as CTE prefixes by the
# oracle SQL in __spark_entry__.py. Keep these textually in sync with
# the Spark expressions.
# ---------------------------------------------------------------------------

OBS_SQL = """
  SELECT
    event_id AS obs_id,
    CASE WHEN event_id % 37 = 0 THEN ''
         WHEN event_id % 37 = 1 THEN ' '
         ELSE CAST(user_id % 120 AS VARCHAR) END AS wlobscd,
    CASE WHEN event_id % 41 = 0 THEN NULL
         WHEN event_id % 41 = 1 THEN strftime(ts, '%Y%m%d')
         ELSE strftime(ts, '%Y%m%d%H%M') END AS ymdhm,
    CASE WHEN event_id % 43 = 0 THEN ''
         WHEN event_id % 43 = 1 THEN 'abc'
         WHEN event_id % 43 = 2 THEN NULL
         WHEN event_id % 43 = 3 THEN '55.0'
         WHEN event_id % 43 = 4 THEN '-15.0'
         WHEN event_id % 43 = 5 THEN ' '
         ELSE printf('%d.%02d', ((event_id * 7919 + user_id * 13) % 1300) // 100,
                                ((event_id * 7919 + user_id * 13) % 1300) % 100) END AS wl,
    CASE WHEN event_id % 47 = 0 THEN NULL
         WHEN event_id % 47 = 1 THEN ''
         WHEN event_id % 47 = 2 THEN '60000.0'
         ELSE printf('%d.%02d', ((event_id * 104729) % 4000000) // 100,
                                ((event_id * 104729) % 4000000) % 100) END AS fw
  FROM events
"""

STATIONS_SQL = """
  SELECT
    CAST(code AS VARCHAR) AS wlobscd,
    CASE WHEN code % 17 = 0 THEN NULL
         ELSE 'Station ' || CAST(code AS VARCHAR) END AS obsnm,
    'Addr ' || CAST(code AS VARCHAR) AS addr,
    CASE WHEN code % 5 = 0 THEN printf('%d.%02d', (200 + (code % 7) * 50) // 100, (200 + (code % 7) * 50) % 100)
         WHEN code % 5 = 2 THEN '0'
         WHEN code % 5 = 4 THEN printf('%d.%02d', (200 + (code % 7) * 50) // 100, (200 + (code % 7) * 50) % 100)
         END AS attwl,
    CASE WHEN code % 5 = 0 THEN printf('%d.%02d', (400 + (code % 7) * 50) // 100, (400 + (code % 7) * 50) % 100)
         WHEN code % 5 = 2 THEN '-1' END AS wrnwl,
    CASE WHEN code % 5 = 0 THEN printf('%d.%02d', (600 + (code % 7) * 50) // 100, (600 + (code % 7) * 50) % 100)
         WHEN code % 5 = 2 THEN '' END AS almwl,
    CASE WHEN code % 5 = 0 THEN printf('%d.%02d', (800 + (code % 7) * 50) // 100, (800 + (code % 7) * 50) % 100)
         WHEN code % 5 = 1 THEN printf('%d.%02d', (800 + (code % 3) * 100) // 100, (800 + (code % 3) * 100) % 100)
         WHEN code % 5 = 2 THEN 'x'
         WHEN code % 5 = 4 THEN printf('%d.%02d', (800 + (code % 7) * 50) // 100, (800 + (code % 7) * 50) % 100)
         END AS srswl
  FROM (SELECT range AS code FROM range(100)) t
"""
