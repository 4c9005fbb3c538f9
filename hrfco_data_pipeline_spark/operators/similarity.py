"""Similarity search over embedding columns (array<float>).

Two tiers, per the scale guidance in BASELINE.json:
- ``brute_force_topk``: exact cosine top-k of a bounded query set —
  broadcast the queries, one corpus scan. Right answer for
  |queries| ≪ |corpus|; linear in corpus size.
- ``hyperplane_lsh_topk``: sign-LSH bucketing (random hyperplanes) —
  queries only compare against corpus vectors sharing a signature
  prefix band. Sub-linear candidate set; the 100 TB path for
  corpus×corpus workloads. Planes are deterministic literals (seeded),
  so results are reproducible across runs and engines.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Fixed-point scale of the exact-integer centroid means (ivf_centroids,
# pq_subcentroids, kmeans_iterate): components sum as floor(v * QUANT).
QUANT = 1_000_000
# neighbours kept per query by the approximate top-k searches
# (hyperplane_lsh_topk, ivf_topk, pq_adc_topk, ivfpq_topk)
TOPK = 5


def dot(a: Column | str, b: Column | str) -> Column:
    """Fold-left dot product of two equal-length double arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def as_double_vec(col: str) -> Column:
    return F.transform(col, lambda x: x.cast("double")).alias("v")


def with_norm(df: DataFrame, vec: str = "v", out: str = "nrm") -> DataFrame:
    return df.withColumn(out, F.sqrt(dot(vec, vec)))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast queries × corpus scan + window."""
    c = with_norm(corpus.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")), "cv", "cn")
    q = with_norm(queries.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")), "qv", "qn")
    joined = c.join(F.broadcast(q), F.col("cid") != F.col("qid"))
    cos = dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        joined.select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hyperplane_planes(dim: int, n_planes: int = 16, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-ish random hyperplanes (pure-python PRNG)."""
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / n for x in v])
    return planes


def hyperplane_signature(
    vec: Column | str, planes: list[list[float]]
) -> Column:
    """Sign-LSH signature as a long bitmask: bit_i = 1{dot(v, p_i) > 0}."""
    bits = [
        F.when(
            dot(vec, F.array(*[F.lit(x) for x in p])) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def hyperplane_lsh_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate cosine top-k: candidates share ≥1 signature band.

    64-dim vectors, 16 sign planes in 4 bands of 4 bits; join key =
    (band, band_bits). Recall rises with bands; cost with bucket size.
    Same output schema as ``brute_force_topk`` (qid, cid, cos_sim,
    rank) for easy A/B.
    """
    bands, rows = 4, 4
    planes = hyperplane_planes(64, bands * rows)
    mask = (1 << rows) - 1

    def banded(df: DataFrame, idn: str, vecn: str, nrm: str) -> DataFrame:
        sig = hyperplane_signature(vecn, planes)
        d = df.withColumn("sig", sig)
        return d.select(
            idn,
            vecn,
            nrm,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(bnd).alias("band"),
                            F.shiftright("sig", bnd * rows)
                            .bitwiseAND(F.lit(mask))
                            .alias("bits"),
                        )
                        for bnd in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select(idn, vecn, nrm, F.col("bb.band").alias("band"), F.col("bb.bits").alias("bits"))

    c = with_norm(corpus.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")), "cv", "cn")
    q = with_norm(queries.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")), "qv", "qn")
    cb = banded(c, "cid", "cv", "cn")
    qb = banded(q, "qid", "qv", "qn")
    cand = cb.join(
        F.broadcast(qb),
        (cb["band"] == qb["band"])
        & (cb["bits"] == qb["bits"])
        & (cb["cid"] != qb["qid"]),
    ).dropDuplicates(["qid", "cid"])
    cos = dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        cand.select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
    )


def lsh_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-dup: corpus×corpus pairs with cos ≥ τ over
    64-dim vectors, 16 sign planes in 4 bands of 4 bits.

    Candidate pairs must share a signature band (self-join on
    (band, bits) — bounded buckets, the 100 TB shape), then the exact
    cosine filters. Output: (id_a, id_b, cos_sim).
    """
    bands, rows = 4, 4
    planes = hyperplane_planes(64, bands * rows)
    mask = (1 << rows) - 1
    v = with_norm(
        vectors.select(F.col("vec_id").alias("id"), F.col("v").alias("vv")),
        "vv",
        "nn",
    ).withColumn("sig", hyperplane_signature("vv", planes))
    banded = v.select(
        "id",
        "vv",
        "nn",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("sig", b * rows)
                        .bitwiseAND(F.lit(mask))
                        .alias("bits"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "vv", "nn", "bb.band", "bb.bits")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.vv").alias("va"),
            F.col("b.vv").alias("vb"),
            F.col("a.nn").alias("na"),
            F.col("b.nn").alias("nb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return cand.select("id_a", "id_b", cos.alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = 16,
    dim: int | None = None,
) -> list[list[float]]:
    """Deterministic IVF centroids: one averaging pass over a hashed
    pre-assignment (a single Lloyd step from a deterministic seed —
    enough structure for probing, no iterative training loop).

    Every arithmetic step is engine-portable and summation-order
    independent, so any engine (the DuckDB oracle twin included)
    recomputes the exact same centroid doubles:

    - cell pre-assignment: md5-60bit(id) % n_centroids — md5 of the
      decimal string rendering, first 15 hex digits as an integer
      (the same portable base hash the MinHash/SimHash probes use;
      xxhash64 is engine-specific).
    - mean arithmetic: each component is quantized q = floor(v*QUANT)
      (both ops IEEE-exact-defined on doubles), summed as exact
      integers (DECIMAL(38,0) — no float summation order anywhere),
      and the centroid component is the correctly-rounded double of
      the rational S / (n*QUANT) (Python int/int true division).
      Exact reproduction in double-only engines requires |S| < 2^53 —
      holds through ~10^9 vectors per cell at |v| <= 1; beyond that
      the twin must divide as DECIMAL.

    Driver-side collect is bounded: n_centroids rows. ``dim`` should
    be passed explicitly; the ``None`` fallback costs one extra
    ``first()`` job to sniff it.
    """
    if dim is None:
        dim = len(vectors.select("v").first()[0])
    cell = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % n_centroids
    ).alias("c")
    # Melted (cell, component) aggregation: ONE agg column over a
    # posexplode instead of ``dim`` separate DECIMAL agg expressions —
    # the wide-agg form spent ~2.5 s in codegen/planning alone (64
    # generated sum expressions) vs ~0.4 s here; the collect stays
    # bounded at n_centroids x dim rows and the arithmetic (exact
    # integer sums of floor-quantized components) is identical.
    seeded = vectors.select(
        cell,
        F.posexplode(
            F.transform("v", lambda x: F.floor(x * QUANT))
        ).alias("i", "q"),
    )
    sums = seeded.groupBy("c", "i").agg(
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.count("*").alias("n"),
    )
    rows = {(r["c"], r["i"]): r for r in sums.collect()}
    cents = []
    for c in range(n_centroids):
        if (c, 0) not in rows:
            cents.append([0.0] * dim)
        else:
            cents.append(
                [
                    int(rows[(c, i)]["s"]) / (rows[(c, i)]["n"] * QUANT)
                    for i in range(dim)
                ]
            )
    return cents


def _nearest_centroid(vec: Column | str, cents: list[list[float]]) -> Column:
    """argmax of centroid dot products over a literal centroid matrix.

    One ``transform`` over an array-of-arrays literal computes all dots;
    argmax = position of the max (first occurrence wins ties, same as a
    strict > scan). Plan size is LINEAR in n_centroids — the previous
    unrolled when-chain re-nested every earlier dot expression and blew
    up quadratically beyond ~64 centroids.
    """
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
    dots = F.transform(cent_arr, lambda c: dot(vec, c))
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[float]],
) -> DataFrame:
    """IVF-flat ANN: corpus partitioned by nearest centroid; each query
    probes only its own cell (nprobe=1). The inverted-file analog of the
    sign-LSH variant: the shuffle key is the centroid id, candidate cost
    is |cell| not |corpus|.
    """
    c = with_norm(
        corpus.select(F.col("vec_id").alias("cid"), F.col("v").alias("cv")),
        "cv",
        "cn",
    ).withColumn("cell", _nearest_centroid("cv", cents))
    q = with_norm(
        queries.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")),
        "qv",
        "qn",
    ).withColumn("cell", _nearest_centroid("qv", cents))
    joined = c.join(F.broadcast(q), (c["cell"] == q["cell"]) & (c["cid"] != q["qid"]))
    cos = dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("cid"))
    return (
        joined.select("qid", "cid", cos.alias("cos_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
    )


def l2sq(a: Column | str, b: Column | str) -> Column:
    """Fold-left squared-L2 distance of two equal-length double arrays
    (same 0.0-seeded association order as ``dot`` — engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_subcentroids(
    vectors: DataFrame,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
) -> list[list[list[float]]]:
    """Deterministic product-quantization codebook: ``m`` sub-spaces of
    ``dim/m`` components, ``ksub`` sub-centroids each, trained exactly
    like ivf_centroids (one averaging step over a portable md5 cell
    pre-assignment — here md5(id || ':' || j) so each sub-space gets an
    independent partition) with floor-quantized DECIMAL sums, so every
    centroid double is engine-reproducible.

    One melt-explode pass → one (j, cell) groupBy (m*ksub groups);
    driver collect bounded at m*ksub rows. Returns cents[j][i] = the
    dsub-float sub-centroid.
    """
    dsub = dim // m
    q = F.transform("v", lambda x: F.floor(x * QUANT))
    structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat(
                                    F.col("vec_id").cast("string"), F.lit(f":{j}")
                                )
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("long")
                    % ksub
                ).alias("cell"),
                F.slice(q, j * dsub + 1, dsub).alias("qs"),
            )
            for j in range(m)
        ]
    )
    melted = vectors.select(F.explode(structs).alias("s")).select(
        "s.j", "s.cell", "s.qs"
    )
    sums = melted.groupBy("j", "cell").agg(
        *[
            F.sum(F.element_at("qs", t + 1).cast("decimal(38,0)")).alias(f"s{t}")
            for t in range(dsub)
        ],
        F.count("*").alias("n"),
    )
    rows = {(r["j"], r["cell"]): r for r in sums.collect()}
    cents: list[list[list[float]]] = []
    for j in range(m):
        sub = []
        for i in range(ksub):
            r = rows.get((j, i))
            if r is None:
                sub.append([0.0] * dsub)
            else:
                sub.append(
                    [int(r[f"s{t}"]) / (r["n"] * QUANT) for t in range(dsub)]
                )
        cents.append(sub)
    return cents


def _cmat_lit(cent_j: list[list[float]]) -> Column:
    return F.array(*[F.array(*[F.lit(x) for x in c]) for c in cent_j])


def pq_codes(cents: list[list[list[float]]]) -> Column:
    """PQ encoding: per sub-space, index of the nearest (squared-L2)
    sub-centroid — first index wins ties, matching list_position-of-min.
    The resulting m-int array is the 32x-compressed representation the
    ADC scan reads instead of the raw floats."""
    m = len(cents)
    dsub = len(cents[0][0])
    codes = []
    for j in range(m):
        sub = F.slice("v", j * dsub + 1, dsub)
        dists = F.transform(_cmat_lit(cents[j]), lambda c: l2sq(sub, c))
        codes.append((F.array_position(dists, F.array_min(dists)) - 1).cast("int"))
    return F.array(*codes)


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[list[float]]],
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: each query precomputes its
    m × ksub table of sub-distances to every sub-centroid, then scores
    a corpus row with m table lookups over its code array — never
    touching the raw corpus floats. This is the compressed-domain scan
    that makes billion-vector ANN feasible: the corpus shrinks from
    dim*4 bytes to m bytes per vector, and the scan cost is m adds per
    candidate. Compose with the IVF cell routing (ivf_topk) for the
    full IVF-PQ structure; here the scan covers the whole corpus so
    recall loss comes only from quantization.
    """
    m = len(cents)
    dsub = len(cents[0][0])
    enc = corpus.select(
        F.col("vec_id").alias("cid"), pq_codes(cents).alias("codes")
    )
    def _sub_table(j: int) -> Column:
        sub = F.slice("v", j * dsub + 1, dsub)
        return F.transform(_cmat_lit(cents[j]), lambda c: l2sq(sub, c))

    qtab = F.array(*[_sub_table(j) for j in range(m)])
    q = queries.select(F.col("vec_id").alias("qid"), qtab.alias("qtab"))
    joined = enc.join(F.broadcast(q), F.col("cid") != F.col("qid"))
    approx = F.aggregate(
        F.zip_with("qtab", "codes", lambda t, c: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("approx_dist"), F.asc("cid"))
    return (
        joined.select("qid", "cid", approx.alias("approx_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    coarse_cents: list[list[float]],
    pq_cents: list[list[list[float]]],
) -> DataFrame:
    """The full IVF-PQ structure: the coarse quantizer (ivf_centroids)
    routes each query to one inverted list (nprobe=1) and PQ ADC
    scores only that cell's candidates from their m-byte codes — the
    billion-vector layout where candidate count is |cell| and per-
    candidate cost is m table lookups. Pure composition of the two
    certified operators; no new arithmetic."""
    m = len(pq_cents)
    dsub = len(pq_cents[0][0])
    enc = corpus.select(
        F.col("vec_id").alias("cid"),
        _nearest_centroid("v", coarse_cents).alias("cell"),
        pq_codes(pq_cents).alias("codes"),
    )

    def _sub_table(j: int) -> Column:
        sub = F.slice("v", j * dsub + 1, dsub)
        return F.transform(_cmat_lit(pq_cents[j]), lambda c: l2sq(sub, c))

    q = queries.select(
        F.col("vec_id").alias("qid"),
        _nearest_centroid("v", coarse_cents).alias("qcell"),
        F.array(*[_sub_table(j) for j in range(m)]).alias("qtab"),
    )
    joined = enc.join(
        F.broadcast(q),
        (F.col("cell") == F.col("qcell")) & (F.col("cid") != F.col("qid")),
    )
    approx = F.aggregate(
        F.zip_with("qtab", "codes", lambda t, c: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("qid").orderBy(F.asc("approx_dist"), F.asc("cid"))
    return (
        joined.select("qid", "cid", approx.alias("approx_dist"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
    )


def assign_cells(
    vectors: DataFrame,
    cents: list[list[float]],
) -> DataFrame:
    """E-step: cell = argmax centroid dot (first max wins), plus the
    vector norm and the cosine to the assigned centroid.

    All arithmetic is fold-left over literal centroid arrays, so any
    engine recomputes bit-identical doubles (same guarantee the IVF /
    PQ family relies on). Zero shuffles — a pure projection.
    """
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in c]) for c in cents])
    cnorms = F.transform(cent_arr, lambda c: F.sqrt(dot(c, c)))
    out = vectors.select(
        F.col("vec_id"),
        F.col("v"),
        F.transform(cent_arr, lambda c: dot("v", c)).alias("dots"),
        F.sqrt(dot("v", "v")).alias("nrm"),
    )
    out = out.withColumn(
        "cell", (F.array_position("dots", F.array_max("dots")) - 1).cast("int")
    )
    return out.withColumn(
        "cos_cent",
        F.element_at("dots", F.col("cell") + 1)
        / (F.col("nrm") * F.element_at(cnorms, F.col("cell") + 1)),
    ).drop("dots")


def kmeans_iterate(
    vectors: DataFrame,
    cents: list[list[float]],
    iters: int = 1,
) -> list[list[float]]:
    """Lloyd refinement: ``iters`` rounds of (nearest-centroid E-step,
    exact-integer M-step). Each M-step uses the same floor-quantized
    DECIMAL(38,0) sums as ``ivf_centroids`` so the refined centroids
    stay engine-reproducible doubles — an empty cell keeps its previous
    centroid (standard Lloyd convention, deterministic).

    Driver collect per round is bounded at n_centroids rows; the data
    pass is one zero-shuffle projection plus one n_centroids-key
    groupBy per round. At 100 TB this is the canonical Spark k-means
    loop shape (broadcast centroids out, reduce sums back).
    """
    dim = len(cents[0])
    n_centroids = len(cents)
    for _ in range(iters):
        assigned = assign_cells(vectors, cents)
        # melted M-step: one agg column over posexplode (see
        # ivf_centroids — the wide dim-column agg is codegen-bound)
        seeded = assigned.select(
            "cell",
            F.posexplode(
                F.transform("v", lambda x: F.floor(x * QUANT))
            ).alias("i", "q"),
        )
        sums = seeded.groupBy("cell", "i").agg(
            F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
            F.count("*").alias("n"),
        )
        rows = {(r["cell"], r["i"]): r for r in sums.collect()}
        nxt = []
        for c in range(n_centroids):
            if (c, 0) not in rows:
                nxt.append(list(cents[c]))
            else:
                nxt.append(
                    [
                        int(rows[(c, i)]["s"]) / (rows[(c, i)]["n"] * QUANT)
                        for i in range(dim)
                    ]
                )
        cents = nxt
    return cents


def semantic_dedup(
    vectors: DataFrame,
    cents: list[list[float]],
    threshold: float = 0.35,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus, then prune near-duplicate
    pairs *within* each cluster, keeping the member closer to its
    centroid (the paper's low-similarity-to-centroid variant inverted
    to a deterministic keep rule; ties keep the smaller id).

    Scale shape: candidate generation joins on the cell id only, so
    pair cost is Σ|cell|² not |corpus|² — at scale ``n_centroids``
    grows with the corpus (the paper uses ~100k clusters for LAION-
    scale data) to hold cells at ~10³ rows; the cell id is the only
    shuffle key. A vector is pruned iff some same-cell neighbor with
    cosine ≥ threshold dominates it (strictly higher cos-to-centroid,
    or equal and smaller id) — one semi-join against the bounded
    pruned set, no iteration.

    Returns (vec_id, cell, cos_cent, kept).
    """
    from pyspark.storagelevel import StorageLevel

    # the assignment is read three times (both pair sides + the final
    # labeling join) and its centroid fold-dot expression tree is the
    # expensive part to re-plan/execute — materialize it once, the
    # same "write cluster assignments first" shape production SemDeDup
    # uses (spills to disk at corpus scale)
    base = assign_cells(vectors, cents).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    a = base.select(
        F.col("vec_id").alias("id_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
        "cell",
        F.col("cos_cent").alias("ca"),
    )
    b = base.select(
        F.col("vec_id").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        "cell",
        F.col("cos_cent").alias("cb"),
    )
    cos_ab = dot("va", "vb") / (F.col("na") * F.col("nb"))
    pairs = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(cos_ab >= threshold)
    )
    dominated = F.when(
        (F.col("ca") > F.col("cb"))
        | ((F.col("ca") == F.col("cb")) & (F.col("id_a") < F.col("id_b"))),
        F.col("id_b"),
    ).otherwise(F.col("id_a"))
    pruned = pairs.select(dominated.alias("vec_id")).distinct()
    return base.join(
        pruned.withColumn("_pruned", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        "cos_cent",
        F.col("_pruned").isNull().alias("kept"),
    )
