"""Packed-signature equivalence: MinHash leaves the kernel as ONE packed
binary cell (Arrow list-conversion costs ~4us/element — measured 55 s per
100k docs for array<long>(128)); these tests pin both packed UDFs byte for
byte against the pure-Python reference ``signature_py``, the JVM band-key
expression against the reference array formula the DuckDB oracle mirrors,
and the packed matches kernel against an equal-position count.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.functions.signature_core import signature_py
from image_deduplication_3m_images_spark.functions.signatures import (
    band_keys_from_packed_expr,
    make_extract_signature_packed_udf,
    make_signature_packed_udf,
)
from image_deduplication_3m_images_spark.operators.verify import sig_matches_packed
from image_deduplication_3m_images_spark.sources.pages_fixture import (
    generate_pages,
    pages_dataframe,
)

CFG = DedupConfig()


def band_key_expr(minhash_col, band_id: int, rows_per_band: int):
    """Reference band key over an array<long> MinHash: 60-bit integer = md5
    of the '_'-joined signature slice, first 15 hex chars.  Mirrored exactly
    in the DuckDB oracle:
    ``('0x' || substr(md5(array_to_string(slice, '_')), 1, 15))::BIGINT``.
    """
    lo = band_id * rows_per_band + 1  # slice() is 1-based
    sl = F.slice(minhash_col, lo, rows_per_band)
    joined = F.concat_ws("_", F.transform(sl, lambda x: x.cast("string")))
    return F.conv(F.substring(F.md5(joined.cast("binary")), 1, 15), 16, 10).cast("long")


@pytest.fixture(scope="module")
def packed_rows(spark):
    """(url, oracle_text, text, n_shingles, simhash, minhash_bin) via the
    fused html UDF, plus the text UDF's columns over the extracted text."""
    pages = pages_dataframe(spark, generate_pages(n_rows=80, seed=5))
    fused = pages.select(
        "url",
        F.col("text").alias("oracle_text"),
        make_extract_signature_packed_udf(CFG)(F.col("html")).alias("s"),
    ).select("url", "oracle_text", "s.*")
    return fused.select(
        "*", make_signature_packed_udf(CFG)(F.col("text")).alias("t")
    ).collect()


def _unpack(b: bytes) -> list[int]:
    return np.frombuffer(b, dtype=">i8").tolist()


def test_packed_minhash_bytes_equal_array(packed_rows):
    """Both packed UDFs (html input and text input) give the reference's
    text, n_shingles, simhash and MinHash array, byte for byte."""
    rows = packed_rows
    assert len(rows) >= 80
    for r in rows:
        assert r["text"] == r["oracle_text"]
        ref = signature_py(r["text"], CFG)
        for sig in (r, r["t"]):
            assert sig["n_shingles"] == ref["n_shingles"]
            assert sig["simhash"] == ref["simhash"]
            assert len(sig["minhash_bin"]) == 8 * CFG.num_perm
            assert _unpack(sig["minhash_bin"]) == ref["minhash"]


def test_packed_band_keys_equal_jvm_expr(spark, packed_rows):
    """The packed-binary band-key expression (conv/hex unpack -> md5) must
    byte-match the reference array formula over ``signature_py`` MinHash
    arrays (the formula the DuckDB oracle mirrors)."""
    rows = packed_rows
    schema = StructType(
        [
            StructField("url", StringType(), False),
            StructField("minhash", ArrayType(LongType(), False), False),
        ]
    )
    ref = spark.createDataFrame(
        [(r["url"], signature_py(r["text"], CFG)["minhash"]) for r in rows], schema
    ).select(
        "url",
        F.array(
            *[band_key_expr(F.col("minhash"), b, CFG.rows_per_band) for b in range(CFG.bands)]
        ).alias("keys"),
    )
    packed = spark.createDataFrame(
        [(r["url"], r["minhash_bin"]) for r in rows], "url string, minhash_bin binary"
    ).select("url", band_keys_from_packed_expr(CFG).alias("keys"))
    a = {r["url"]: list(r["keys"]) for r in ref.collect()}
    b = {r["url"]: list(r["keys"]) for r in packed.collect()}
    assert len(a) == len(rows) and a == b


def test_packed_matches_equal_array_matches(spark, packed_rows):
    """sig_matches_packed equals the equal-position count over the
    reference MinHash arrays on every pair, including near-duplicates."""
    rows = packed_rows
    sig = spark.createDataFrame(
        [(r["url"], r["minhash_bin"]) for r in rows], "url string, minhash_bin binary"
    )
    pairs = (
        sig.alias("x")
        .crossJoin(sig.alias("y"))
        .where(F.col("x.url") < F.col("y.url"))
        .select(
            F.col("x.url").alias("xu"),
            F.col("y.url").alias("yu"),
            sig_matches_packed(F.col("x.minhash_bin"), F.col("y.minhash_bin")).alias("m"),
        )
        .collect()
    )
    ref = {r["url"]: signature_py(r["text"], CFG)["minhash"] for r in rows}
    assert len(pairs) == len(rows) * (len(rows) - 1) // 2
    assert any(r["m"] >= 90 for r in pairs)  # near-dup pairs are exercised
    for r in pairs:
        want = sum(x == y for x, y in zip(ref[r["xu"]], ref[r["yu"]]))
        assert r["m"] == want, (r["xu"], r["yu"])


def test_pipeline_verify_stage_single_python_boundary(spark):
    """The verify stage's only Python is the ONE batch-vectorized Arrow
    matches kernel — hamming/containment/verdict are codegen exprs, and no
    row-at-a-time BatchEvalPython ever appears.  (A zero-Python
    expression variant was measured slower at 128 perms — see
    sig_matches_packed — so exactly one ArrowEvalPython is the intended
    shape.)"""
    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.operators.verify import verify_pairs
    from image_deduplication_3m_images_spark.plans.dedupe import build_signatures
    from image_deduplication_3m_images_spark.sources.pages_fixture import (
        generate_pages,
        pages_dataframe,
    )
    import io
    from contextlib import redirect_stdout

    pages = pages_dataframe(spark, generate_pages(n_rows=60, seed=5))
    sig = build_signatures(pages, DedupConfig()).localCheckpoint(eager=True)
    pairs = spark.createDataFrame(
        [(r1, r2) for r1, r2 in zip(*[iter(sorted(x["url"] for x in sig.select("url").collect()))] * 2)][:10],
        ["id_a", "id_b"],
    )
    out = verify_pairs(
        F.broadcast(pairs), sig, DedupConfig(), id_col="url",
        prefilter_broadcast=True,
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    import re

    ids = set(re.findall(r"\((\d+)\) ArrowEvalPython", plan))
    assert len(ids) == 1, f"expected exactly one Arrow boundary, got {ids}"
    assert "BatchEvalPython" not in plan, plan[:1500]


def test_verify_deferred_containment_equivalent_verdicts(spark):
    """defer_containment: identical (id_a, id_b, sig_matches, hamming,
    verified) to the full form; `containment` may be False where the full
    form says True ONLY for pairs that already pass the signature tests
    (the rescue was not needed) — never the other way around."""
    from image_deduplication_3m_images_spark.operators.lsh import candidate_pairs
    from image_deduplication_3m_images_spark.operators.verify import verify_pairs
    from image_deduplication_3m_images_spark.plans.dedupe import build_signatures

    pages = pages_dataframe(spark, generate_pages(n_rows=200, seed=7))
    sig = build_signatures(pages, CFG).localCheckpoint(eager=True)
    pairs = candidate_pairs(sig, CFG, id_col="url").select("id_a", "id_b")
    kw = dict(id_col="url", prefilter_broadcast=True)
    full = verify_pairs(F.broadcast(pairs), sig, CFG, **kw).collect()
    defer = verify_pairs(
        F.broadcast(pairs), sig, CFG, defer_containment=True, **kw
    ).collect()
    fm = {(r["id_a"], r["id_b"]): r for r in full}
    dm = {(r["id_a"], r["id_b"]): r for r in defer}
    assert fm.keys() == dm.keys() and fm, f"{len(fm)} vs {len(dm)} pairs"
    # the fixture must actually exercise the rescue path
    assert any(r["containment"] and not (r["sig_matches"] >= 90 or r["hamming"] <= 3) for r in full)
    for k, f in fm.items():
        d = dm[k]
        assert (f["sig_matches"], f["hamming"], f["verified"]) == (
            d["sig_matches"], d["hamming"], d["verified"]
        ), (k, f, d)
        if f["containment"] != d["containment"]:
            # only allowed on sim-passing pairs, and only full=True/defer=False
            assert f["containment"] and not d["containment"], (k, f, d)
            assert f["sig_matches"] >= 90 or f["hamming"] <= 3, (k, f, d)
