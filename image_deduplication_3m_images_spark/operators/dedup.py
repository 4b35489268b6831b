"""Stand-alone dedup operators beyond the LSH pipeline: exact hash dedup,
SimHash-block dedup, n-gram Jaccard pairs.  These are the training-data-
pipeline primitives a 100 TB corpus job composes (exact pass first — it is
nearly free — then MinHash-LSH for near-dups).

Reference analog: stage 1 alone was sometimes used as an exact-ish dedup
(identical wavelet hash == identical band keys); here exact dedup is a
groupBy on sha256(text) — one shuffle, fully codegen'd, no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.functions.text import (
    sha256_expr,
    tokens_expr,
    word_ngrams_window_expr,
)
from image_deduplication_3m_images_spark.operators.lsh import bucket_pairs


def exact_duplicates(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """(id, text) -> (id, text_sha256, cluster_id, cluster_size, is_best).

    cluster_id = min id sharing the hash; is_best = that min id (deterministic).
    Single hash-shuffle on the 64-hex sha; at 100 TB this is the cheapest pass
    and removes the bulk of duplicates before any MinHash work.
    """
    hashed = df.select(
        F.col(id_col), sha256_expr(F.col(text_col)).alias("text_sha256")
    )
    w = Window.partitionBy("text_sha256")
    return hashed.select(
        id_col,
        "text_sha256",
        F.min(id_col).over(w).alias("cluster_id"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("is_best"),
    )


def _hamming_chunks_expr(hash_col: str, radius: int):
    """THE pigeonhole chunk layout: radius+1 chunks covering all 64 bits
    (last chunk takes the remaining high bits)."""
    n_chunks = radius + 1
    width = 64 // n_chunks

    def chunk_expr(i: int):
        bits = 64 - width * i if i == n_chunks - 1 else width
        shifted = F.shiftright(F.col(hash_col), width * i)
        if bits >= 64:
            # radius=0 degenerate case: the single chunk is the whole hash.
            # (1<<64)-1 overflows LongType; the all-ones long is -1, and
            # masking with it is the identity — skip it.
            return shifted
        return shifted.bitwiseAND(F.lit((1 << bits) - 1))

    return F.array(*[chunk_expr(i) for i in range(n_chunks)])


def hamming_block_pairs(
    df: DataFrame, hash_col: str, id_col: str, radius: int = 3,
    bucket_cap: int = 256,
) -> DataFrame:
    """Candidate pairs within Hamming ``radius`` of a 64-bit hash column, by
    pigeonhole chunk blocking: hamming <= h implies at least one of h+1
    equal chunks, so splitting the hash into h+1 chunks and bucketing on
    (chunk_id, chunk) finds every qualifying pair WITHOUT an all-pairs scan.
    Exact bit_count filter afterwards removes chunk-collision false
    positives.  Returns (id_a, id_b, hamming), distinct, hamming <= radius.

    Scale shape: one explode (x(h+1) rows of (id, 16ish-bit chunk, hash)),
    then the ``bucket_pairs`` operator (``operators/lsh.py``) over
    (chunk_id, chunk) with (id, hash) struct members in exact mode:
    buckets over ``bucket_cap`` (degenerate corpora — e.g. thousands of
    all-zero hashes) take an exact self-join instead of a collect, because
    Hamming semantics need EVERY qualifying pair.
    """
    if radius < 0:
        raise ValueError(f"radius must be >= 0, got {radius}")
    # NULL hashes would sail past the hot-tier split (the stats equality
    # join never matches a null chunk, so a million null-hash rows would
    # all land in ONE unbounded collect_list) and their pairs are discarded
    # by the bit_count filter anyway — drop them up front
    df = df.where(F.col(hash_col).isNotNull())
    blocks = df.select(
        F.col(id_col), F.col(hash_col).alias("h"),
        F.posexplode(_hamming_chunks_expr(hash_col, radius)).alias("chunk_id", "chunk"),
    )
    # sort_array on (id, h) structs orders by id, so id_a < id_b
    member = F.struct(F.col(id_col).alias("id"), F.col("h"))
    pairs = bucket_pairs(blocks, ["chunk_id", "chunk"], member, bucket_cap)
    return (
        pairs.select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h"))).alias("hamming"),
        )
        .where(F.col("hamming") <= radius)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_block_pairs(
    sig_df: DataFrame, cfg: DedupConfig, id_col: str = "doc_id"
) -> DataFrame:
    """SimHash near-dup candidates: Hamming <= ``cfg.hamming_max`` via
    (hamming_max+1)-chunk pigeonhole blocking (see hamming_block_pairs).
    The radius comes from the config — hard-coding 3 here made the
    ``hamming_max`` knob a silent no-op for this operator while verify.py
    honored it."""
    return hamming_block_pairs(sig_df, "simhash", id_col, radius=cfg.hamming_max)


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    prefilter_broadcast: bool = False,
) -> DataFrame:
    """Exact token n-gram Jaccard for given candidate pairs (never all-pairs).

    Returns integer intersection/union sizes (float-drift-free for the oracle)
    plus the ratio.  Set semantics: distinct n-grams per doc.

    ``prefilter_broadcast``: broadcast the pair-id set and LEFT SEMI filter
    the corpus BEFORE building gram arrays — the n-gram expression chain
    (sequence + transform + concat_ws + array_distinct per doc) then runs
    only for docs that actually appear in a pair, and the corpus-wide gram
    arrays never enter a shuffle.  OPT-IN (default False): an unconditional
    broadcast of an unbounded pair set risks OOM, so callers enable it only
    when the pair set is known/measured small — the same contract as
    verify_pairs, whose callers gate on estimated pair-set bytes.
    """
    if prefilter_broadcast:
        ids = (
            pairs.select(F.col("id_a").alias(id_col))
            .unionByName(pairs.select(F.col("id_b").alias(id_col)))
            .dropDuplicates([id_col])
        )
        df = df.join(F.broadcast(ids), id_col, "leftsemi")
    toks = tokens_expr(F.col(text_col))
    n_toks = F.size(toks)
    grams = F.when(
        n_toks >= n,
        F.array_distinct(word_ngrams_window_expr(toks, n)),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    gdf = df.select(F.col(id_col), grams.alias("grams"))
    a = gdf.select(F.col(id_col).alias("id_a"), F.col("grams").alias("grams_a"))
    b = gdf.select(F.col(id_col).alias("id_b"), F.col("grams").alias("grams_b"))
    joined = pairs.select("id_a", "id_b").join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return joined.select(
        "id_a",
        "id_b",
        inter.alias("n_intersect"),
        union.alias("n_union"),
        (inter.cast("double") / union.cast("double")).alias("jaccard"),
    )


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals.

    (id, text) -> (id, n_tokens, n_distinct, n_bigrams, top_bigram_count,
    dup_token_frac, top_bigram_frac).  ``dup_token_frac`` is the fraction of
    tokens that are repeats of an earlier token (1 - distinct/total);
    ``top_bigram_frac`` is the share of all word bigrams taken by the most
    frequent one — the two cheapest of the Gopher repetition filters
    (Rae et al. 2021, table A1) and the standard pre-LSH quality gate in a
    web-corpus pipeline.

    Scale shape (round 6): ZERO shuffles — every output is a per-row
    codegen expression.  The mode of a doc's bigram multiset equals the
    longest equal-run in the SORTED bigram array, so ``top_bigram_count``
    is one `aggregate` fold over `sort_array(bigrams)` with a
    (prev, run, best) struct accumulator — per-row O(n log n) on n ≈
    doc-token counts, instead of exploding every bigram of the corpus into
    a two-level groupBy (the previous shape shuffled one row per bigram
    occurrence corpus-wide, then joined back; at 100 TB that is a shuffle
    proportional to the token count of the corpus, for a statistic each
    row can compute locally).  Fractions are emitted as plain IEEE
    divisions (no rounding) so the DuckDB oracle reproduces them
    bit-for-bit — the oracle still computes the mode the explode/groupBy
    way, which is exactly what makes this rewrite oracle-checked.
    """
    toks = tokens_expr(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("toks")).select(
        id_col,
        F.size("toks").cast("int").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("int").alias("n_distinct"),
        "toks",
    )
    # total expression (empty array below 2 tokens, like word_ngrams_expr):
    # the window formula is only valid for size >= n, and guarding at the
    # CONSUMING expression is not enough — subexpression elimination may
    # hoist a shared subtree above its CASE WHEN and evaluate it eagerly
    sorted_bigrams = F.sort_array(
        F.when(
            F.size("toks") >= 2, word_ngrams_window_expr(F.col("toks"), 2)
        ).otherwise(F.expr("CAST(array() AS array<string>)"))
    )
    # longest equal-run in the sorted array == max multiplicity of any
    # bigram; fold state: (prev value, current run, best run)
    best_run = F.aggregate(
        sorted_bigrams,
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
        ),
        lambda acc, b: F.struct(
            b.alias("prev"),
            F.when(acc["prev"].isNotNull() & (acc["prev"] == b), acc["run"] + 1)
            .otherwise(F.lit(1))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(
                    acc["prev"].isNotNull() & (acc["prev"] == b), acc["run"] + 1
                ).otherwise(F.lit(1)),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    n_tok_d = F.col("n_tokens").cast("double")
    n_bigrams = F.when(
        F.col("n_tokens") >= 2, (F.col("n_tokens") - 1).cast("int")
    ).otherwise(F.lit(0))
    top_count = best_run.cast("int")  # empty bigram array folds to 0
    return base.select(
        id_col,
        "n_tokens",
        "n_distinct",
        n_bigrams.alias("n_bigrams"),
        top_count.alias("top_bigram_count"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(F.lit(1.0) - F.col("n_distinct").cast("double") / n_tok_d)
        .alias("dup_token_frac"),
        F.when(F.col("n_tokens") < 2, F.lit(0.0))
        .otherwise(
            top_count.cast("double") / n_bigrams.cast("double")
        )
        .alias("top_bigram_frac"),
    )


def boilerplate_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_docs: int = 3,
) -> DataFrame:
    """C4-style cross-document boilerplate detection: word ``n``-grams that
    occur in at least ``min_docs`` DISTINCT documents (navigation chrome,
    cookie banners, license footers).  (corpus) -> (ngram, n_docs,
    n_occurrences), the removal list a training-data pipeline anti-joins
    against before tokenization (Raffel et al. 2020 §2.2 dropped any
    three-sentence span seen more than once; the n-gram form is the
    word-level equivalent).

    Scale shape: explode to (id, ngram) rows, then TWO explicit hash
    aggregations — per (ngram, id) first, per ngram second — so map-side
    partial aggregation applies at both levels and no countDistinct expand
    is ever planned; only (8-byte id, n-token string) rows shuffle, the text
    column never does.  At 100 TB the ngram strings would be fingerprinted
    to 8-byte hashes before the exchange (same trick as the LSH band keys);
    kept as strings here so the output is directly greppable/joinable.
    """
    toks = tokens_expr(F.col(text_col))
    toked = df.select(F.col(id_col), toks.alias("toks")).where(F.size("toks") >= n)
    grams = toked.select(
        id_col,
        F.explode(word_ngrams_window_expr(F.col("toks"), n)).alias("ngram"),
    )
    return (
        grams.groupBy("ngram", id_col)
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("c").cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
