"""Per-station time-series regularization via grouped-map pandas.

The reference stores raw observations and lets the dashboard render
whatever cadence arrives (SURVEY §1/§2: the hypertable keeps the raw
event times); any downstream model wants a regular grid. This operator
snaps each station's series to a fixed frequency and linearly
interpolates interior holes — a genuinely non-relational, per-group
imperative computation, which is exactly the case for
``applyInPandas`` (Arrow-batched grouped map) rather than joins or
window tricks.

Scale shape: one shuffle on the station key; per-group memory is the
station's grid span (bounded by the retention window ÷ frequency —
e.g. 500 points for 500 × 10 min, per K2's retention cap), independent
of corpus size. No driver collection, no row-at-a-time UDFs.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

RESAMPLED_SCHEMA = (
    "wlobscd string, grid_ts timestamp, water_level double, interpolated boolean"
)
# the grid step both forms snap to
FREQ_MINUTES = 10


def _resample_fn():
    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("obs_ts").dropna(subset=["obs_ts"])
        if pdf.empty:
            return pd.DataFrame(
                columns=["wlobscd", "grid_ts", "water_level", "interpolated"]
            )
        key = pdf["wlobscd"].iloc[0]
        s = pdf.set_index("obs_ts")["water_level"]
        # bucket mean snaps in-bucket readings to the grid; empty
        # buckets become NaN holes for the interpolator
        g = s.resample(f"{FREQ_MINUTES}min").mean()
        filled = g.interpolate(method="linear", limit_area="inside")
        out = pd.DataFrame(
            {
                "wlobscd": key,
                "grid_ts": filled.index,
                "water_level": filled.to_numpy(),
                "interpolated": (g.isna() & filled.notna()).to_numpy(),
            }
        )
        # leading/trailing holes stay NaN -> drop (no extrapolation)
        return out[out["water_level"].notna()]

    return fn


def resample_stations(df: DataFrame) -> DataFrame:
    """Regularize (wlobscd, obs_ts, water_level) to a ``FREQ_MINUTES``
    grid per station; interior holes linearly interpolated, edges never
    extrapolated. Input needs exactly those three columns."""
    return (
        df.select("wlobscd", "obs_ts", "water_level")
        .groupBy("wlobscd")
        .applyInPandas(_resample_fn(), RESAMPLED_SCHEMA)
    )


def resample_stations_sql(df: DataFrame) -> DataFrame:
    """JVM-side twin of :func:`resample_stations`: the same
    (wlobscd, grid_ts, water_level, interpolated) contract, but the
    whole grid-snap + linear interpolation runs in codegen'd built-ins
    — no Arrow transfer, no Python in the path.

    Input must already be bucket-aligned with <= 1 row per
    (station, bucket) — i.e. the exact pre-aggregated frame
    plans/hydro.resample_10min feeds the pandas form. Shape: ONE
    station-keyed window (lead) over the real points, then ONE
    generate: each row explodes into itself plus its gap's interior
    grid points (own point ++ sequence() of interpolants) — a single
    scan of the input, no dense-grid join, no union re-scan (a
    union-of-branches draft recomputed the upstream per branch:
    warm 5.0 s vs 2.6 s at sf0.1), and no
    CurrentRow→UnboundedFollowing frame (whose first/last IGNORE NULLS
    re-scans the tail per row: O(n²) per partition in WindowExec — the
    first draft of this operator paid 9 s there). The interpolation
    arithmetic — slope = Δy/Δsteps, value = slope·steps + y₀ over
    exactly-representable step counts — is term-for-term np.interp
    (and the DuckDB oracle), so it is bit-identical to the pandas
    path. Same scale posture: everything keys on the station; the
    explode fan-out equals the hole count, bounded by the retention
    window ÷ frequency per station.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("wlobscd").orderBy("obs_ts")
    nx = df.select(
        "wlobscd",
        "obs_ts",
        "water_level",
        F.lead("obs_ts").over(w).alias("nts"),
        F.lead("water_level").over(w).alias("nwl"),
    )
    steps = (
        F.timestamp_diff("MINUTE", F.col("obs_ts"), F.col("nts"))
        / F.lit(FREQ_MINUTES)
    ).cast("bigint")
    own = F.array(
        F.struct(
            F.col("obs_ts").alias("t"),
            F.col("water_level").alias("wl"),
            F.lit(False).alias("interp"),
        )
    )
    gap_pts = F.transform(
        F.sequence(F.lit(1).cast("bigint"), steps - 1),
        lambda k: F.struct(
            (
                F.col("obs_ts")
                + F.make_interval(mins=(k * FREQ_MINUTES).cast("int"))
            ).alias("t"),
            (
                (F.col("nwl") - F.col("water_level"))
                / steps.cast("double")
                * k.cast("double")
                + F.col("water_level")
            ).alias("wl"),
            F.lit(True).alias("interp"),
        ),
    )
    pts = F.when(
        F.col("nts").isNotNull() & (steps > 1), F.concat(own, gap_pts)
    ).otherwise(own)
    return nx.select("wlobscd", F.explode(pts).alias("p")).select(
        "wlobscd",
        F.col("p.t").cast("timestamp").alias("grid_ts"),
        F.col("p.wl").alias("water_level"),
        F.col("p.interp").alias("interpolated"),
    )
