"""Deterministic sampling, domain mixing, and sequence packing.

The corpus-curation operators a training-data pipeline runs between
dedup and tokenization:

- hash-bucket sampling (exact, reproducible): the scalable stand-in for
  `DataFrame.sample` — a pure integer-arithmetic bucket per key, so the
  same rows are kept across runs, engines, retries, and AQE re-plans
  (unlike `F.rand`, whose draw depends on partition layout);
- stratified rates per stratum (language, source, quality band);
- domain-mixing rate computation: given target corpus proportions,
  derive the per-source keep rate;
- sequence packing: assign documents to fixed token-budget packs with a
  running-sum window — the distributed approximation of greedy bin
  packing (exact FFD is inherently sequential; a per-stratum running
  sum is the shape that scales, and overpacks a pack by at most one
  document).

All integer arithmetic stays in BIGINT range: doc_id × KNUTH < 2^63 for
doc_id < ~3.4e9; beyond that, pre-reduce the key with xxhash64 & mask.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Knuth's multiplicative constant (2^32 / phi); bucket in [0, 1000).
KNUTH = 2654435761
BUCKETS = 1000


def hash_bucket(key: Column | str, buckets: int = BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets) from an integer key.

    The key is pre-reduced mod 2^31 before the multiply so the product
    stays inside BIGINT under ANSI mode (2^31 · KNUTH < 2^63) for the
    full long-key domain; for keys in [0, 2^31) — every id in the test
    corpus — the pre-reduction is the identity, which is what the
    DuckDB oracles mirror. The final double-mod canonicalizes negative
    keys (Spark's and DuckDB's % both keep the dividend's sign) so the
    bucket is always in [0, buckets).
    """
    if isinstance(key, str):
        key = F.col(key)
    b = F.lit(buckets)
    m = F.lit(2_147_483_648)
    h = ((key.cast("long") % m) * F.lit(KNUTH)) % m % b
    return (h + b) % b


def sample_exact(df: DataFrame, key: str, rate: float) -> DataFrame:
    """Keep rows whose hash bucket < rate·BUCKETS — an exact,
    engine-portable Bernoulli sample at resolution 1/BUCKETS."""
    return df.filter(hash_bucket(key) < int(rate * BUCKETS))


def stratified_sample(
    df: DataFrame, key: str, stratum: str, rates: dict[str, float], default: float = 0.0
) -> DataFrame:
    """Per-stratum keep rates (e.g. language balancing). Rows in strata
    absent from ``rates`` keep with ``default``. Pure filter — no
    shuffle; the per-stratum threshold folds into one codegen'd CASE."""
    thresh = F.lit(int(default * BUCKETS))
    for s, r in rates.items():
        thresh = F.when(F.col(stratum) == s, int(r * BUCKETS)).otherwise(thresh)
    return df.filter(hash_bucket(key) < thresh)


def domain_mix_rates(
    df: DataFrame, domain: str, targets: dict[str, float]
) -> DataFrame:
    """Per-domain keep rates that realize a target corpus mixture.

    With N total docs and target fraction t_d for domain d holding n_d
    docs, the achievable scale is bounded by the scarcest domain:
    s = min_d(n_d / (t_d·N)); rate_d = min(1, s·t_d·N / n_d) keeps every
    domain in exact target proportion without upsampling. Output is the
    per-domain plan (counts, fractions, rates) — tiny, broadcastable
    into the actual sample filter.
    """
    import json

    tgt = F.from_json(
        F.lit(json.dumps(targets)), "map<string,double>"
    )
    counts = df.groupBy(F.col(domain).alias("domain")).agg(F.count("*").alias("n_docs"))
    w = Window.partitionBy()
    withn = counts.withColumn("n_total", F.sum("n_docs").over(w)).withColumn(
        "target_frac", F.coalesce(tgt[F.col("domain")], F.lit(0.0))
    )
    # scale s: the largest multiple of the target mixture that fits
    need = F.col("target_frac") * F.col("n_total")
    s = F.min(
        F.when(need > 0, F.col("n_docs") / need)
    ).over(w)
    rate = F.when(need > 0, F.least(F.lit(1.0), s * need / F.col("n_docs"))).otherwise(
        F.lit(0.0)
    )
    # no rounding: rate is the same double-op sequence on both engines
    # (oracle parity), and rounding near ties is engine-specific
    return withn.select(
        "domain",
        "n_docs",
        "n_total",
        "target_frac",
        rate.alias("keep_rate"),
        F.floor(rate * F.col("n_docs")).alias("n_kept"),
    )


def pack_sequences(
    df: DataFrame,
    token_col: str,
    order_col: str,
    budget: int = 2048,
    stratum: str | None = None,
) -> DataFrame:
    """Assign each row a pack id under a token budget.

    Running-sum packing: within a stratum (ordered by ``order_col``),
    pack_id = floor((cumsum - n_tokens) / budget) — each document joins
    the pack where it *starts*, so a pack overflows by at most one
    document (the standard streaming-pack trade; exact first-fit is
    sequential and cannot scale). One window shuffle per stratum; at
    100 TB the stratum (source file / shard) keeps window partitions
    bounded — never pack over a global ordering.
    """
    part = [stratum] if stratum else []
    w = (
        Window.partitionBy(*part)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(token_col).over(w)
    return df.withColumn(
        "pack_id", F.floor((cum - F.col(token_col)) / F.lit(budget))
    )


FFD_SCHEMA = "doc_id long, n_tokens long, pack_id long"


def pack_sequences_ffd(df: DataFrame) -> DataFrame:
    """First-fit-decreasing packing of ``(doc_id, n_tokens)`` rows into
    2048-token packs: sort items by (tokens desc, id asc) and place
    each into the first open pack with room — the classic bin-packing
    heuristic (≤ 11/9·OPT + 1 bins), tighter than the streaming
    running-sum pack at the cost of holding the open-pack table in
    memory.

    Spark shape: one ``applyInPandas`` group — the packing itself is
    inherently sequential. Deterministic: the sort key is total and
    placement is first-fit."""
    import pandas as pd

    def _ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True], kind="stable"
        )
        loads: list[int] = []
        out = []
        for row in pdf.itertuples(index=False):
            toks = int(row.n_tokens)
            placed = None
            for i, load in enumerate(loads):
                if load + toks <= 2048:
                    placed = i
                    break
            if placed is None:
                placed = len(loads)
                loads.append(0)
            loads[placed] += toks
            out.append((int(row.doc_id), toks, placed))
        return pd.DataFrame(out, columns=["doc_id", "n_tokens", "pack_id"])

    base = df.select("doc_id", "n_tokens").withColumn("_stratum", F.lit(1))
    return base.groupBy("_stratum").applyInPandas(_ffd, FFD_SCHEMA)
