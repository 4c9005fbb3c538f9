"""Near-duplicate detection at scale: MinHash-LSH, SimHash, embedding LSH.

Hot-path split: shingling + string hashing stay JVM-side (codegen'd
array functions + xxhash64); the k-permutation MinHash step is an
Arrow-vectorized pandas UDF — nested higher-order functions are
*interpreted* in Spark (no whole-stage codegen), and k×|shingles|
interpreted evals measured ~50× slower than the numpy formulation.
Scale shape:

- ``minhash_signatures``: one pass over documents — JVM shingle hash,
  numpy k-permutation min;
- ``lsh_candidate_pairs``: signatures → (band_id, band_hash) keys →
  self-join per bucket. Unlike the all-pairs shingle join
  (plans/llm.py), the shuffle key space is bands×buckets, so the join
  fan-out is bounded by bucket size — this is the 100 TB path;
- ``simhash_64``: 64-bit fingerprint; near-dups differ in few bits.
- ``random_hyperplane_signature``: sign-LSH for embedding cosine
  near-dup — planes are deterministic literals (seeded), the dot
  products fold JVM-side.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType
from pyspark.storagelevel import StorageLevel

from hrfco_data_pipeline_spark.functions.hints import materialized


def shingle_array(text: Column, n: int = 5) -> Column:
    """Distinct n-token shingles of a whitespace-tokenized text column."""
    toks = F.split(F.trim(text), r"\s+")
    cnt = F.size(toks)
    return F.when(
        cnt >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), cnt - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, F.lit(n))),
            )
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_params(k: int) -> tuple[np.ndarray, np.ndarray]:
    """The (a, b) linear-permutation family, shared by the production
    signatures, the portable kernel probe, and its DuckDB oracle (the
    oracle embeds these exact constants — one source, no drift)."""
    rng = np.random.RandomState(42)
    a = rng.randint(1, 2**63 - 1, size=k, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.randint(0, 2**63 - 1, size=k, dtype=np.uint64)
    return a, b


def _min_perm_kernel(k: int):
    """pandas_udf computing h_i(S) = min_s (a_i·base(s) + b_i) over
    uint64 wraparound (≡ mod 2**64), output as wrapped int64."""
    a, b = minhash_params(k)

    @pandas_udf(ArrayType(LongType()))
    def _sigs(bases: pd.Series) -> pd.Series:
        # Per-doc numpy: the (k × |S|) multiply-add fits in L2 and the
        # loop costs ~25 µs/doc. Batch-level rewrites measured FAR
        # slower: one batch-wide (k × Σ|S|) temp is ~1 GB at 10k-row
        # Arrow batches, and ufunc.reduceat over axis=1 segments is
        # ~1000× slower than contiguous .min(axis=1) — keep the loop.
        out = []
        for arr in bases:
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            vals = a[:, None] * h[None, :] + b[:, None]  # uint64 wraps
            out.append(vals.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return _sigs


def minhash_signatures(df: DataFrame, k: int = 64) -> DataFrame:
    """id → k-element MinHash signature over the shingle set.

    Stage 1 (JVM, codegen): shingle strings → one xxhash64 long each.
    Stage 2 (Arrow batch, numpy): the min-permutation kernel — the
    classic linear family, vectorized as a (k × |S|) broadcastted
    multiply-add. The JVM cannot express this cheaply: long
    multiplication overflows throw under ANSI, and nested array
    lambdas evaluate interpreted (measured ~200 s for k=64 over 5k
    docs vs ~2 s here).
    """
    base = F.transform(
        shingle_array(F.col("text")), lambda s: F.xxhash64(s)
    )
    staged = df.select(F.col("doc_id").alias("id"), base.alias("base"))
    return staged.select("id", _min_perm_kernel(k)("base").alias("sig"))


def minhash_signatures_portable(df: DataFrame, k: int = 2) -> DataFrame:
    """The SAME min-permutation kernel over a portable base hash:
    60-bit md5 prefix (conv of 15 hex chars) instead of xxhash64, so an
    independent SQL engine can recompute every signature value exactly
    (HUGEINT mod-2**64 arithmetic in the DuckDB twin). This is the
    oracle-verifiable probe of the MinHash math — the production
    variant differs ONLY in the base hash function.
    """
    base = F.transform(
        shingle_array(F.col("text")),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    staged = df.select(F.col("doc_id").alias("id"), base.alias("base"))
    return staged.select("id", _min_perm_kernel(k)("base").alias("sig"))


def lsh_candidate_pairs(
    sig_df: DataFrame, bands: int = 16, k: int = 64
) -> DataFrame:
    """Band the signatures; docs sharing any band bucket are candidates.

    rows/band = k/bands. Output: (id_a, id_b, est_jaccard) where
    est_jaccard = fraction of equal minhashes — the unbiased Jaccard
    estimator. Shuffle key = (band, band_hash): bounded buckets, no
    quadratic blowup.
    """
    rows = k // bands
    sigs = sig_df.persist()
    # band keys only — the 64-long sig arrays do NOT ride the 16×
    # exploded self-join shuffle (measured ~2× query time when they
    # did); they re-attach to the tiny deduped pair set afterwards.
    banded = sigs.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig", b * rows + 1, rows),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    enriched = pairs.join(sa, "id_a").join(sb, "id_b")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        ).cast("double")
        / F.size("sig_a")
    )
    out = enriched.select("id_a", "id_b", est.alias("est_jaccard"))
    # materialize the (small) pair set now so the sig cache can be
    # released before returning (repeated calls in one session would
    # otherwise accumulate cache blocks; bench.py used to need
    # clearCache() to stay honest). Reliable checkpoint() when a
    # checkpoint dir is configured — same cluster-survivability rule as
    # connected_components; localCheckpoint is the local-mode fallback
    # and its blocks live until the returned frame is GC'd (a bounded
    # pair set, vs the full exploded sig cache).
    out = materialized(out)
    sigs.unpersist()
    return out


def minhash_dedup(df: DataFrame, threshold: float = 0.7) -> DataFrame:
    """End-to-end near-dup pairs above the estimated-Jaccard threshold."""
    sigs = minhash_signatures(df)
    pairs = lsh_candidate_pairs(sigs)
    return pairs.filter(F.col("est_jaccard") >= threshold)


def simhash_64_from_token_hashes(token_hashes: Column) -> Column:
    """64-bit SimHash from an array of per-token xxhash64 longs.

    bit_j(doc) = sign of Σ_tokens (±1 per bit j of the token hash).
    Same split as MinHash: token hashing is JVM-side codegen; the
    64-bit vote tally is an Arrow-vectorized numpy kernel — the
    equivalent fold over nested array lambdas evaluates interpreted
    and measured ~300 s over 5k docs vs ~2 s here.
    """

    @pandas_udf(LongType())
    def _simhash(hashes: pd.Series) -> pd.Series:
        bit_idx = np.arange(64, dtype=np.uint64)
        out = np.empty(len(hashes), dtype=np.int64)
        for i, arr in enumerate(hashes):
            h = np.asarray(arr, dtype=np.int64).astype(np.uint64)
            bits = (h[:, None] >> bit_idx[None, :]) & np.uint64(1)
            votes = (2 * bits.astype(np.int64) - 1).sum(axis=0)
            sh = np.uint64(0)
            for j in np.nonzero(votes > 0)[0]:
                sh |= np.uint64(1) << np.uint64(j)
            out[i] = np.int64(sh.astype(np.int64))
        return pd.Series(out)

    return _simhash(token_hashes)


def simhash_64(text: Column) -> Column:
    """64-bit SimHash of the whitespace token multiset."""
    toks = F.split(F.trim(text), r"\s+")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    return simhash_64_from_token_hashes(hashes)


def simhash_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance ≤ max_hamming.

    Candidate generation blocks on 16-bit chunks (pigeonhole: distance
    ≤3 ⇒ at least one of 4 chunks equal), so the join key space is
    chunk values, not all-pairs.
    """
    hashed = df.select(
        F.col("doc_id").alias("id"), simhash_64(F.col("text")).alias("sh")
    )
    return simhash_pairs_from(hashed, max_hamming)


def simhash_pairs_from(
    hashed: DataFrame, max_hamming: int | None = 3
) -> DataFrame:
    """Pigeonhole pairing over a precomputed ``(id, sh)`` fingerprint
    frame — shared by the production xxhash64 path (simhash_pairs) and
    the portable-hash probe (plans/llm.simhash_pairs_probe), so the
    oracle exercises the identical chunking/join/Hamming code.

    ``max_hamming=None`` returns the UNFILTERED candidate population
    (every deduped pair sharing a 16-bit chunk) — the calibration
    substrate of plans/llm.docs_simhash_hamming_histogram. The
    pigeonhole guarantee only makes the population complete up to
    Hamming 3; above that it is the candidate set, by design."""
    chunked = hashed.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright("sh", c * 16)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("cv"),
    ).select("id", "sh", F.col("cv.chunk").alias("chunk"), F.col("cv.val").alias("val"))
    a, b = chunked.alias("a"), chunked.alias("b")
    hamming = F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh")))
    out = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    if max_hamming is not None:
        out = out.filter(F.col("hamming") <= max_hamming)
    return out


def dedup_keep_best(
    df: DataFrame, key: Column | str, order: list[Column]
) -> DataFrame:
    """Exact dedup with a deterministic keep policy.

    ``dropDuplicates`` keeps an arbitrary row per key; training-data
    pipelines need a *policy* (keep longest / newest / lowest id). One
    window per key, rank 1 wins. Same single shuffle as dropDuplicates.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )


def incremental_dedup(new_docs: DataFrame, seen: DataFrame) -> DataFrame:
    """Dedup a new batch against the accumulated corpus: keep new rows
    whose content key is absent from ``seen`` (left-anti join), then
    dedup within the batch itself (first occurrence by the key).

    The recurring-crawl shape: ``seen`` is the historical key index —
    a narrow one-column table, so at 100 TB it stays a fraction of the
    corpus (16-byte md5 per distinct doc) and the anti-join shuffles
    only keys. If the index fits the broadcast threshold Spark
    broadcasts it automatically; pre-bucket both sides on the key to
    elide the shuffle entirely on repeated runs (operators/bucketing).
    """
    survivors = new_docs.join(
        seen.select("text_hash").distinct(), "text_hash", "left_anti"
    )
    return dedup_keep_best(survivors, "text_hash", [F.asc("doc_id")])


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    strict: bool = True,
    distinct_pairs: bool = False,
) -> DataFrame:
    """Duplicate-cluster labeling: connected components of the near-dup
    pair graph via iterative min-label propagation + pointer jumping.

    The classic post-pass after MinHash/SimHash: transitive closure
    groups pairwise matches into clusters so one canonical doc per
    cluster survives. Iterative (non-SQL-expressible) algorithm: each
    round every node adopts the min label among itself and its
    neighbors, then labels are pointer-jumped (label := label of the
    label node), so a path of diameter d converges in O(log d) rounds
    rather than d — a 20-iteration budget covers components of
    diameter ~2^20.

    Durability: each round truncates lineage through
    ``functions/hints.materialized`` (reliable ``checkpoint()`` when a
    checkpoint dir is set, ``localCheckpoint`` otherwise).

    ``strict=True`` raises RuntimeError if the fixpoint is not reached
    within ``max_iterations`` — silently returning half-propagated
    labels would split real clusters.

    ``distinct_pairs=True`` (r17, guide §2.4 — remove shuffles
    outright) declares that ``pairs`` is already one row per
    UNDIRECTED edge (e.g. the output of a groupBy or dropDuplicates
    pair generator — every in-repo generator is), so the
    bidirectional union is distinct BY CONSTRUCTION and the edge
    dedup exchange is skipped. The LABELING is identical either way —
    min-propagation is duplicate-insensitive (min over a multiset ==
    min over its support) — so the flag is purely a size/shuffle
    guard: leave it False for pair lists of unknown provenance, where
    deduping once may shrink the per-iteration join input.

    Returns (id, component) where component = min node id in the
    cluster. Nodes only appear if they occur in ``pairs``.
    """
    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    ).unionByName(
        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    )
    if not distinct_pairs:
        edges = edges.distinct()
    edges = edges.persist()
    # Seed label = least(id, min neighbor): one aggregation over the
    # bidirectional edge table (covers every node, since each node
    # appears as src) that ABSORBS the first min-propagation round —
    # the identity seed always spent iteration 1 computing exactly
    # this. Same unique fixpoint (min node id per component), one
    # fewer round to reach it. (r16 optimization: guide §2.4 — the
    # seed's groupBy is the same shuffle shape the old round 1 paid,
    # so this removes a full iteration's joins and checkpoint.)
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("nbr"))
        .select(
            F.col("src").alias("id"),
            F.least("src", "nbr").alias("component"),
        )
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["id"])
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
            .select(
                "id",
                # carry the pre-iteration label so convergence is a
                # FILTER on the checkpointed output instead of a
                # shuffle join back against the previous labels
                # (r16 optimization: one job + one exchange fewer per
                # iteration; same convergence predicate)
                F.col("component").alias("prev"),
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        # pointer jumping: component ids are themselves node ids, so one
        # extra self-join halves the remaining propagation distance
        lookup = updated.select(
            F.col("id").alias("cid"), F.col("component").alias("cc")
        )
        jumped = (
            updated.alias("x")
            .join(lookup, F.col("x.component") == F.col("cid"), "left")
            .select(
                F.col("x.id").alias("id"),
                F.col("x.prev").alias("prev"),
                F.coalesce("cc", F.col("x.component")).alias("component"),
            )
        )
        jumped = materialized(jumped)
        changed = (
            jumped.filter(F.col("component") != F.col("prev"))
            .limit(1)
            .count()
        )
        labels = jumped.select("id", "component")
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged and strict:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (diameter coverage doubles "
            "per extra iteration) or pass strict=False"
        )
    return labels


def prefix_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """Exact Jaccard ≥ t = 0.5 set-similarity self-join via prefix
    filtering (the All-Pairs / PPJoin candidate scheme, re-expressed as
    DataFrame ops in the Vernica-et-al. distributed formulation).

    Where the all-shingles self-join (plans/llm.docs_ngram_jaccard_pairs)
    explodes *every* shingle into the candidate join, prefix filtering
    explodes only each set's first ``n - ceil(t*n) + 1`` elements under
    a single global ordering (document frequency ascending, shingle
    ascending — rarest first). Completeness: if J(x,y) >= t then
    |x∩y| >= ceil(t*max(|x|,|y|)), so the globally-smallest common
    element must sit inside both prefixes — any pair the prefix join
    misses is provably below threshold. Rare-first ordering makes the
    exploded keys the most selective ones, so bucket fan-out stays
    near-constant even when boilerplate shingles are corpus-hot; a
    length filter (least >= t * greatest) prunes cross-size candidates
    before the exact verify.

    Scale shape: candidate generation shuffles ~(1-t)·|set| xxhash64
    keys per doc (collisions harmless — verification is exact on the
    string sets); verification joins the bounded candidate set back to
    the per-doc shingle arrays on doc_id. No all-pairs stage anywhere;
    the df ranking reuses one (shingle→df) aggregate that
    partial-aggregates map-side.
    """
    from pyspark.sql import Window

    # Shingles are hashed to int64 AT THE SOURCE: every downstream
    # stage (df aggregate, df join, prefix window, candidate join,
    # verify intersect) shuffles and compares 8-byte longs instead of
    # ~40-byte shingle strings. Exactness is unchanged: the global
    # prefix order just becomes (df(h), h) — completeness only needs
    # both docs to share ONE total order — and verification counts
    # hashed-set intersections exactly as docs_ngram_jaccard_pairs
    # does (xxhash64 collisions ~2^-64, same accepted basis).
    #
    # The HASHED arrays are persisted (the raw STRING arrays were
    # measured earlier as a 7x-cost cache and deliberately not): the
    # long-array form is ~8 bytes/shingle, and the plan reads it four
    # times (df aggregate, df join probe, verify a-side, verify
    # b-side) — each read otherwise re-runs the tokenize+shingle+hash
    # scan (~2.5 s of the measured 12 s at sf0.1). Together with the
    # int64 keys this took the query 12.5 s → ~4 s at sf0.1; at 100 TB
    # the cache spills to disk (MEMORY_AND_DISK) and stays a fraction
    # of corpus size.
    sh = (
        docs.select(
            "doc_id",
            F.transform(
                shingle_array(F.col("text")),
                lambda s: F.xxhash64(s),
            ).alias("sh"),
        )
        .withColumn("n_sh", F.size("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ex = sh.select("doc_id", "n_sh", F.explode("sh").alias("h"))
    df_tbl = ex.groupBy("h").agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("h"))
    prefix_len = F.col("n_sh") - F.ceil(F.lit(0.5) * F.col("n_sh")) + 1
    prefix = (
        ex.join(df_tbl, "h")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= prefix_len)
        .select("doc_id", "n_sh", "h")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least("a.n_sh", "b.n_sh")
                >= F.lit(0.5) * F.greatest("a.n_sh", "b.n_sh")
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na")
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb")
    )
    common = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "common", "jaccard")
    )
