"""Skew-resistant join: explicit key salting.

At 100 TB a handful of hot keys (one viral order, one mega-customer,
one empty-string default) can put >10 GB behind a single shuffle key —
one straggler task owns the join. AQE's skew-join split handles the
SORT-merge case after the fact; explicit salting is the planable,
engine-portable fix that also works for hash joins, works under
``spark.sql.adaptive.enabled=false``, and keeps the partition count
honest in the shuffle-write stage (AQE only splits on the read side).

Mechanics: the big (skewed) side scatters each key across ``salt``
sub-keys by hashing a high-cardinality column; the small side is
replicated ``salt`` times (one copy per sub-key) so every scattered
row still finds its match. The join result is row-for-row identical
to the unsalted join — salting only changes WHERE rows meet, never
WHICH rows meet. Replication multiplies the small side by ``salt``,
so this is for moderate dims (too big or too risky to broadcast, small
enough that salt× copies beat one straggler); for tiny dims just
``F.broadcast``.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    scatter_on: Column,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``big`` with ``small`` on ``big_key == small_key``,
    scattering the big side over ``salt`` sub-keys.

    ``scatter_on`` must be a high-cardinality DETERMINISTIC column of
    ``big`` (a row id, not ``rand()``): re-executed tasks must land
    every row in the same sub-key or an exchange retry double-counts.
    Output columns = join output minus the internal salt columns.
    """
    if salt < 1:
        raise ValueError("salt must be >= 1")
    allowed = {
        "inner",
        "left",
        "left_outer",
        "leftouter",
        "left_semi",
        "leftsemi",
        "left_anti",
        "leftanti",
    }
    if how.lower() not in allowed:
        # right/full joins would emit every UNMATCHED small-side row
        # once per replica (salt× duplicates) — no way to dedup them
        # without a second shuffle, so refuse instead of corrupting
        raise ValueError(
            f"salted_join supports big-side-preserving joins only, got {how!r}"
        )
    b = big.withColumn("_salt", F.pmod(F.xxhash64(scatter_on), F.lit(salt)))
    s = small.withColumn(
        "_salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1)).cast("array<bigint>")),
    )
    joined = b.join(
        s.hint("shuffle_hash"),
        (b[big_key] == s[small_key]) & (b["_salt"] == s["_salt"]),
        how,
    )
    return joined.drop("_salt")


@dataclass(frozen=True)
class JoinStrategy:
    """The decision plus the profile it was made from (so callers can
    log WHY a join was salted)."""

    strategy: str  # 'broadcast' | 'salted' | 'plain'
    salt: int  # > 1 only when strategy == 'salted'
    small_rows: int
    small_bytes_est: int  # -1 when unknown (no usable stats)
    big_rows: int
    n_keys: int
    max_key_rows: int
    hot_key_share: float  # max_key_rows / big_rows
    mean_ratio: float  # max_key_rows / mean rows-per-key


def choose_join_strategy(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    *,
    broadcast_max_rows: int | None = None,
    skew_mean_ratio: float = 4.0,
    max_salt: int = 32,
) -> JoinStrategy:
    """Pre-flight profile of a big⋈small equi-join that returns the
    measured SCALE.md decision rule as a value: **broadcast if you
    can, salt if you can't and the key profile shows hot keys, plain
    otherwise** (the r7 20M-row/90%-hot probe, docs/ROUND7.md §Measured
    scale probes: broadcast 2.5 s < salted 6.4 s when the dim fits;
    salted beats AQE-skew-split sort-merge 4.2-4.5x when it doesn't).

    Runs TWO bounded actions (an aggregate over the small side and a
    two-level aggregate over the big side's key counts — map-side
    combined, 1-row results), so call it once per pipeline at plan
    time, not per batch. The skew profile is exactly what
    lineitem_key_skew_profile reports, reduced to the decision inputs.

    - ``broadcast`` when the small side fits under 64 MiB (Catalyst's
      size estimate when it has one; pass ``broadcast_max_rows`` to
      decide on row count where byte stats are unavailable or a
      portable rule is needed).
    - ``salted`` when broadcast is out AND the hottest key holds
      ``skew_mean_ratio``x the mean rows-per-key; the salt spreads
      the hot key back to ~mean task size: next power of two >=
      mean_ratio, capped at ``max_salt``.
    - ``plain`` otherwise — let AQE handle residual mild skew.
    """
    small_rows = small.count()
    try:
        est = int(
            small._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # Catalyst reports LONG-max-ish sentinels when it has no stats
        small_bytes = est if 0 <= est < (1 << 60) else -1
    except Exception:
        small_bytes = -1

    counts = big.groupBy(big_key).agg(F.count("*").alias("n"))
    prof = counts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("total"),
        F.count("*").alias("n_keys"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_n"),
    ).collect()[0]
    big_rows, n_keys, max_n = int(prof.total), int(prof.n_keys), int(prof.max_n)
    share = (max_n / big_rows) if big_rows else 0.0
    # float-cast numerator and denominator BEFORE dividing: Python's
    # int/int true division is correctly rounded from the exact
    # rational, but the DuckDB oracle (and Spark's DOUBLE arithmetic)
    # casts each side to double first — the two differ by 1 ulp once
    # max_n*n_keys exceeds 2^53, plausible at 100 TB key cardinalities.
    mean_ratio = (float(max_n * n_keys) / float(big_rows)) if big_rows else 0.0

    if broadcast_max_rows is not None:
        fits = small_rows <= broadcast_max_rows
    else:
        fits = 0 <= small_bytes <= 64 * 1024 * 1024
    if fits:
        strategy, salt = "broadcast", 1
    elif mean_ratio >= skew_mean_ratio:
        strategy = "salted"
        salt = int(min(max_salt, 2 ** math.ceil(math.log2(max(2.0, mean_ratio)))))
    else:
        strategy, salt = "plain", 1
    return JoinStrategy(
        strategy=strategy,
        salt=salt,
        small_rows=small_rows,
        small_bytes_est=small_bytes,
        big_rows=big_rows,
        n_keys=n_keys,
        max_key_rows=max_n,
        hot_key_share=share,
        mean_ratio=mean_ratio,
    )


def apply_join_strategy(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    scatter_on: Column,
    decision: JoinStrategy,
) -> DataFrame:
    """Execute a ``choose_join_strategy`` decision as an inner join:
    broadcast hint, ``salted_join`` with the chosen salt, or the plain
    equi-join (AQE's problem). All three produce row-identical output."""
    if decision.strategy == "broadcast":
        return big.join(F.broadcast(small), big[big_key] == small[small_key])
    if decision.strategy == "salted":
        return salted_join(
            big, small, big_key, small_key, scatter_on, decision.salt
        )
    return big.join(small, big[big_key] == small[small_key])
