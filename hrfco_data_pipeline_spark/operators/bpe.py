"""BPE vocabulary training as a distributed iterative loop.

The classic tokenizer-training algorithm (Sennrich et al. 2016,
arXiv:1508.07909) over a corpus: repeat n times — count adjacent
symbol pairs across the (frequency-weighted) vocabulary, merge the
most frequent pair everywhere. The two single-shot faces are
oracle-certified as queries (plans/llm.docs_bpe_pair_counts /
docs_bpe_apply_merge); this module runs the actual loop.

Scale shape per round: the corpus stays collapsed to its VOCABULARY
(one row per distinct word, weight = frequency) after one initial
groupBy — every subsequent round is one pair-explode + one pair-key
aggregate over vocab-sized data plus a 1-row driver collect (the
argmax pair). Word symbol arrays update via a fold-left merge
expression (greedy left-to-right, the standard BPE application
order), entirely JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _merge_pair_expr(syms: Column | str, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol
    occurrences in a symbol array: fold with a (out, carry) state —
    carry holds the last unmerged symbol; a (carry=left, x=right) hit
    appends the joined symbol and clears the carry. Non-overlapping by
    construction (a merged symbol can't be the carry for the same
    round's pair)."""
    merged = left + right
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("carry"),
    )

    def step(acc: Column, x: Column) -> Column:
        hit = acc["carry"].isNotNull() & (acc["carry"] == left) & (x == right)
        flushed = F.when(
            acc["carry"].isNotNull(),
            F.concat(acc["out"], F.array(acc["carry"])),
        ).otherwise(acc["out"])
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(F.lit(merged))).alias("out"),
                F.lit(None).cast("string").alias("carry"),
            ),
        ).otherwise(F.struct(flushed.alias("out"), x.alias("carry")))

    def finish(acc: Column) -> Column:
        return F.when(
            acc["carry"].isNotNull(),
            F.concat(acc["out"], F.array(acc["carry"])),
        ).otherwise(acc["out"])

    return F.aggregate(syms, init, step, finish)


def _pair_counts(vocab: DataFrame) -> DataFrame:
    pairs = F.when(
        F.size("syms") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("syms") - 1),
            lambda i: F.struct(
                F.element_at("syms", i.cast("int")).alias("l"),
                F.element_at("syms", (i + 1).cast("int")).alias("r"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
    return (
        vocab.select("wn", F.explode(pairs).alias("p"))
        .groupBy("p.l", "p.r")
        .agg(F.sum("wn").alias("n"))
    )


def bpe_learn(
    docs: DataFrame,
    n_merges: int = 8,
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges over the corpus. Returns the merge
    table [(left, right, count), ...] in learned order. Ties break on
    (count desc, left asc, right asc) — a total order, so the learned
    table is deterministic at any parallelism."""
    words = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w0")
    ).select(F.lower("w0").alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("wn"))
        .select(
            "wn",
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ).alias("syms"),
        )
        .persist()
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merges.append((left, right, int(n)))
        nxt = vocab.select(
            "wn", _merge_pair_expr("syms", left, right).alias("syms")
        ).persist()
        vocab.unpersist()
        vocab = nxt
    vocab.unpersist()
    return merges


def bpe_token_counts(
    docs: DataFrame,
    n_merges: int = 8,
) -> DataFrame:
    """Corpus-scale BPE ENCODING under a freshly learned merge table:
    per-document token counts after applying all merges.

    The trick that makes apply cheap at 100 TB: encoding is a pure
    function of the WORD, so the merge loop runs on the collapsed
    vocabulary only (bpe_learn's shape), and the resulting
    word -> n_subtokens mapping joins back to the exploded corpus —
    documents themselves are never re-folded per merge. The mapping is
    vocabulary-sized (broadcast while it fits, shuffle-hash join
    beyond).

    Returns (id, n_words, n_bpe_tokens).
    """
    words = docs.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w0"),
    ).select("id", F.lower("w0").alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").alias("wn"))
        .select(
            "w",
            "wn",
            F.transform(
                F.sequence(F.lit(1), F.length("w")),
                lambda i: F.col("w").substr(i, F.lit(1)),
            ).alias("syms"),
        )
        .persist()
    )
    for _ in range(n_merges):
        top = (
            _pair_counts(vocab)
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["l"], top[0]["r"]
        nxt = vocab.select(
            "w", "wn", _merge_pair_expr("syms", left, right).alias("syms")
        ).persist()
        vocab.unpersist()
        vocab = nxt
    mapping = vocab.select("w", F.size("syms").alias("n_sub"))
    out = (
        words.join(mapping, "w")
        .groupBy("id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )
    return out.select(
        F.col("id").alias("doc_id"), "n_words", "n_bpe_tokens"
    )
