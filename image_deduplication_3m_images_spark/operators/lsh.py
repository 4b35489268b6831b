"""LSH banding + candidate-pair generation — the heart of the pipeline.

Reference analog: in-memory band-key dict + within-bucket pair loops with a
silent >1000-bucket skip and 50k pair cap
(``/root/reference/modules/deduplication.py:270-346``).  Spark-first design:
the shuffle on ``(band_id, band_key)`` *is* the LSH index; skewed ("hot")
buckets emit star edges to the bucket representative instead of O(n^2) pairs,
which preserves connectivity exactly (never silently drops a component link,
unlike the reference's cap) while bounding pair count linearly in bucket size.
That bucketing is ``bucket_pairs``, the one blocking operator: Hamming
(SimHash, phash) and substring blocking call it too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.config import DedupConfig


def explode_bands(sig_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, band_keys) -> (id, band_id, band_key).

    ``band_keys`` (array<long>) is computed JVM-side from the packed MinHash
    by ``band_keys_from_packed_expr``, so this is a plain posexplode:
    whole-stage codegen, no shuffle yet.
    """
    return sig_df.select(
        F.col(id_col), F.posexplode("band_keys").alias("band_id", "band_key")
    )


def _bucket_pairs_expr(ms):
    """All (i < j) pairs from a SORTED member array as a codegen'd
    expression: for each element x at index i, pair it with every later
    element.  Input arrays are bounded by the tier caps, so the output per
    row is bounded (cap=64 -> <= 2016 pairs)."""
    n = F.size(ms)
    return F.flatten(
        F.transform(
            ms,
            lambda x, i: F.transform(
                F.slice(ms, i + 2, n),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    member: str | Column,
    cap: int,
    salt_factor: int | None = None,
    max_bucket_hint: int | None = None,
) -> DataFrame:
    """The skew-aware blocking operator: bucket ``rows`` by ``keys`` and
    emit the member pairs inside each bucket.  Returns (*keys, a, b) with
    a < b; a pair may repeat within a key (star edges beside salted
    sub-buckets, repeated rows in a hot bucket), so callers dedupe.

    ``member`` is a column name or an orderable Column — a bare id for LSH
    and substring blocking, ``struct(id, hash)`` for Hamming blocking.

    Physical shape: ONE shuffle of the rows into a groupBy(keys) with a
    sorted collect_list, then pairs are expanded map-side by a codegen'd
    array expression — vs the naive self-join, this halves the shuffled
    bytes (the rows move once, not twice as both join sides) and replaces
    the hash-probe with array iteration.  collect_list is safe ONLY because
    every grouped tier is size-bounded (below); hot buckets never collect
    whole.

    Tiers by bucket size (hot buckets detected with a map-side-combined
    groupBy of (keys, count, min) — tiny bytes — joined back broadcast
    under AQE; nothing is persisted, so repeated calls leave no cached
    blocks behind):
      * size <= cap: all pairs, collect_list bounded by ``cap``;
      * size > cap, ``salt_factor=None``: all pairs by an exact self-join
        restricted to the hot keys — for callers whose result is the pair
        set itself (Hamming radius, exact substring);
      * size > cap, ``salt_factor=S``: connectivity only.  Up to cap*S,
        SALTED sub-buckets — deterministic salt in [0, S), all pairs only
        within (keys, salt), ~cap members per collect_list — and above it
        no grouping at all; either way PLUS a star edge from every member
        to the bucket min, so cross-salt and mega-bucket connectivity is
        exact at O(n) edges.  (The reference silently
        DROPPED pairs past its caps, deduplication.py:314-326; no tier here
        loses a component link.)

    ``max_bucket_hint``: a caller-supplied bucket-profile statistic (see
    ``max_bucket_size``).  When it proves no bucket exceeds ``cap``, the
    stats shuffle, tier join and branch union are skipped entirely — one
    groupBy, one pair expansion (statistics-driven plan selection).
    """
    m = F.col(member) if isinstance(member, str) else member

    def grouped_pairs(df: DataFrame, by: list[str]) -> DataFrame:
        # array_distinct: a member repeated in a bucket (e.g. a doc id on
        # two input rows) must not pair with itself
        ms = F.array_distinct(F.sort_array(F.collect_list(m)))
        return (
            df.groupBy(*by)
            .agg(ms.alias("_ms"))
            .select(*keys, F.explode(_bucket_pairs_expr(F.col("_ms"))).alias("_p"))
            .select(*keys, "_p.a", "_p.b")
        )

    if max_bucket_hint is not None and max_bucket_hint <= cap:
        return grouped_pairs(rows, keys)

    stats = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_n"), F.min(m).alias("_min"))
        .where(F.col("_n") > cap)
    )
    tiered = rows.join(stats, keys, "left")
    pairs = grouped_pairs(tiered.where(F.col("_n").isNull()), keys)
    hot = tiered.where(F.col("_n").isNotNull())

    if salt_factor is None:
        hot = hot.select(*keys, m.alias("_m"))
        return pairs.unionByName(
            hot.select(*keys, F.col("_m").alias("a"))
            .join(hot.select(*keys, F.col("_m").alias("b")), keys)
            .where(F.col("a") < F.col("b"))
        )

    salted = hot.where(F.col("_n") <= cap * salt_factor).withColumn(
        "_salt", F.pmod(F.xxhash64(m), F.lit(salt_factor))
    )
    star = hot.where(m != F.col("_min")).select(
        *keys, F.col("_min").alias("a"), m.alias("b")
    )
    return pairs.unionByName(grouped_pairs(salted, [*keys, "_salt"])).unionByName(
        star
    )


def max_bucket_size(rows: DataFrame, keys: list[str]) -> int:
    """The bucket profile behind ``max_bucket_hint``: the largest number of
    rows sharing one ``keys`` value (0 for no rows) — one job."""
    row = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def candidate_pairs(
    sig_df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "doc_id",
    max_bucket_hint: int | None = None,
) -> DataFrame:
    """Band-bucket grouping -> distinct candidate pairs (a < b): the
    ``bucket_pairs`` operator over (band_id, band_key) with the salted
    connectivity tiers (cap ``bucket_star_cap``, ``salt_factor``).

    ``max_bucket_hint``: caller-supplied bucket-profile statistic (the
    pipeline computes it for lineage anyway); see ``bucket_pairs``.

    Returns (id_a, id_b, n_bands) with id_a < id_b, distinct.
    """
    pairs = bucket_pairs(
        explode_bands(sig_df, id_col),
        ["band_id", "band_key"],
        id_col,
        cfg.bucket_star_cap,
        cfg.salt_factor,
        max_bucket_hint,
    )
    # renamed before the groupBy, so its exchange keys are (id_a, id_b)
    return (
        pairs.withColumnsRenamed({"a": "id_a", "b": "id_b"})
        .groupBy("id_a", "id_b")
        .agg(F.count_distinct("band_id").alias("n_bands"))
    )


# largest bucket the fast path is allowed to absorb undetected: C(4096, 2)
# ~ 8.4M pair structs in one task (~130 MB) — bounded; see hot_bucket_probe
_PROBE_MISS_CAP = 4096
# below this row count the probe is EXACT (fraction 1.0) — callers use it
# to decide whether a pre-collapsed reps_df will actually be consumed
PROBE_TARGET_SAMPLE = 50_000


def hot_bucket_probe(
    narrow_sig: DataFrame,
    cfg: DedupConfig,
    id_col: str = "sid",
    sha_col: str = "text_sha256",
    n_rows: int | None = None,
    target_sample: int = PROBE_TARGET_SAMPLE,
    seed: int = 42,
    reps_df: DataFrame | None = None,
) -> dict:
    """Sampled skew probe for the candidate-pair plan choice.

    The exact bucket profile costs a full explode + corpus-wide groupBy —
    a duplicate of the candidate stage's heaviest shuffle, run purely to
    decide whether the skew tiers are needed.  This probe samples ~50k docs
    (exact below that), collapses exact-duplicate texts (matching rep_bands
    semantics), and measures the max band-bucket size in the sample.

    Decision rule: hot iff ``sample_max > bucket_star_cap * fraction`` —
    at fraction=1 this is exactly the old ``max_bucket > cap`` test; at
    2M docs (fraction ~0.025) it fires on any bucket with >= 2 sampled
    members.  SENSITIVITY FLOOR: a fixed ~50k sample thins with corpus
    size, and at (say) 100M rows a 3000-member bucket would land ~1.5
    sampled members — a ~22% chance of zero, and a miss routes the plan
    to the fast path whose per-bucket pair expansion is O(B^2).  The
    sampled fraction therefore has a floor (see the miss-cap math below —
    the cap scales with a user-raised ``bucket_star_cap``): any bucket the
    fast path could not absorb (> ~_PROBE_MISS_CAP members,
    ~C(cap,2)=8.4M pairs in one task) lands >= ~10 expected sampled
    members ABOVE the decision threshold, P(miss) <= e^-10, AT ANY corpus
    size — while the probe stays ~400x cheaper than the exact profile.
    Buckets between star_cap and _PROBE_MISS_CAP may still slip, which is
    bounded-harmless (their collect_list and pair counts are capped by
    construction).  Being wrong in the other direction just runs the
    general tiers on a clean corpus — correct, slightly slower.  The probe
    result is logged to lineage, so tier activation is never silent.

    ``reps_df``: optional pre-collapsed representative frame (id + band
    keys, one row per distinct text).  When the probe is EXACT (fraction
    >= 1, i.e. small inputs) the caller's rep frame is the identical
    groupBy and is used instead.  It is ignored when sampling: the sampled
    path must collapse after sampling.  NOTE: the probe's collect is its
    own action, so the sha shuffle is only actually shared with the
    caller's later consumption if the caller PERSISTS reps_df across both
    actions (the pipeline does, gated on ``PROBE_TARGET_SAMPLE``).
    """
    # The miss condition is sample_max <= star_cap * fraction (not zero
    # sampled members), so the floor must keep a miss-cap-sized bucket's
    # EXPECTED sample ~10 above that threshold — scale the miss cap with a
    # user-raised star cap, else a star_cap near _PROBE_MISS_CAP would put
    # the threshold at the expected count itself (a coin-flip miss).
    miss_cap = max(_PROBE_MISS_CAP, 2 * cfg.bucket_star_cap)
    floor = min(1.0, 10.0 / max(1, miss_cap - cfg.bucket_star_cap))
    fraction = (
        1.0
        if not n_rows or n_rows <= target_sample
        else max(target_sample / n_rows, floor)
    )
    if fraction >= 1.0 and reps_df is not None:
        # exact probe + caller already built the collapsed rep frame (the
        # pipeline's rep_bands is this very groupBy): reuse it instead of
        # re-running the sha shuffle.  Only legal un-sampled — a sample
        # must collapse AFTER sampling to keep the fraction math honest.
        reps = reps_df
    else:
        s = (
            narrow_sig
            if fraction >= 1.0
            else narrow_sig.sample(False, fraction, seed)
        )
        reps = s.groupBy(sha_col).agg(
            F.min(id_col).alias(id_col), F.first("band_keys").alias("band_keys")
        )
    sample_max = max_bucket_size(
        explode_bands(reps, id_col), ["band_id", "band_key"]
    )
    # integer evidence floor (ADVICE r5): past ~3.2M rows the threshold
    # cap*fraction drops below 1, so ANY sampled 2-member bucket flagged
    # hot and the probe degenerated to always-hot at scale.  Requiring
    # >= 2 sampled co-bucketed members keeps a lone singleton from
    # triggering the tiers while leaving the miss-cap math above intact
    # (a miss-cap bucket lands ~10 expected members, far above 2).
    hot = sample_max > cfg.bucket_star_cap * fraction and sample_max >= 2
    return {
        "probe_fraction": round(fraction, 6),
        "sample_max_bucket": sample_max,
        "hot_detected": bool(hot),
    }
