"""Worker-persistent token-hash memo (``functions/signatures.py``): the
kernel has THREE dynamic behaviors the small-data tests never reach —
the warm-memo hit path, the high-entropy ESCAPE path (memo >= 100k
entries with a ~zero sample hit rate routes the batch to plain hashing
with no inserts), and the cap-clear.  These tests pin byte-equality of
every path against the cold run and the memory bound of each.

Pure-pandas (no SparkSession): ``_batch_signatures`` is the exact kernel
the pandas UDFs wrap, so equality here is equality of the UDF output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from image_deduplication_3m_images_spark.config import DedupConfig
from image_deduplication_3m_images_spark.functions import signatures as S

CFG = DedupConfig()


@pytest.fixture(autouse=True)
def _clean_memo():
    S._TOKEN_HASH_MEMO.clear()
    yield
    S._TOKEN_HASH_MEMO.clear()


def _prose(n=48, seed=7) -> pd.Series:
    """Zipf-ish repeat-heavy vocabulary — the memo's win case."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"word{i}" for i in range(200)], dtype=object)
    return pd.Series(
        [" ".join(rng.choice(vocab, size=30).tolist()) for _ in range(n)]
    )


def _high_entropy(n=48, seed=11) -> pd.Series:
    """Near-zero cross-batch repeats (urls/ids/numbers) — the escape case."""
    rng = np.random.default_rng(seed)
    return pd.Series(
        [
            " ".join(f"tok{int(v):x}" for v in rng.integers(1 << 60, size=30))
            for _ in range(n)
        ]
    )


def _assert_sig_equal(a: pd.DataFrame, b: pd.DataFrame) -> None:
    assert a["n_shingles"].tolist() == b["n_shingles"].tolist()
    assert a["simhash"].tolist() == b["simhash"].tolist()
    assert a["minhash_bin"].tolist() == b["minhash_bin"].tolist()


def test_escape_path_byte_equals_memo_path():
    """A memo filled past the 100k gate with FOREIGN keys (sample hit rate
    0) must route to the no-insert escape path and produce byte-identical
    signatures — and must not grow the memo."""
    texts = _high_entropy()
    cold = S._batch_signatures(texts, CFG)  # memo path (inserts)

    S._TOKEN_HASH_MEMO.clear()
    S._TOKEN_HASH_MEMO.update({f"\x00foreign{i}": i for i in range(100_000)})
    escaped = S._batch_signatures(texts, CFG)
    _assert_sig_equal(cold, escaped)
    # escape path inserts nothing: the batch's tokens are absent afterwards
    assert len(S._TOKEN_HASH_MEMO) == 100_000
    assert "tok" not in "".join(list(S._TOKEN_HASH_MEMO)[:5])


def test_warm_memo_hits_byte_equal_cold():
    """Second run over the same vocabulary takes the hit path (md5 skipped
    per known token) and must be byte-identical to the cold run."""
    texts = _prose()
    cold = S._batch_signatures(texts, CFG)
    size_after_cold = len(S._TOKEN_HASH_MEMO)
    assert size_after_cold > 0  # cold run populated it
    warm = S._batch_signatures(texts, CFG)
    _assert_sig_equal(cold, warm)
    # pure hits: vocabulary already present, nothing new inserted
    assert len(S._TOKEN_HASH_MEMO) == size_after_cold


def test_warm_memo_above_gate_still_takes_hit_path():
    """With >=100k entries AND a high sample hit rate the gate must keep
    the memo path (prose case), not escape — outputs byte-equal, no md5
    re-runs needed for known tokens (observable: memo size is stable)."""
    texts = _prose(seed=3)
    cold = S._batch_signatures(texts, CFG)
    S._TOKEN_HASH_MEMO.update({f"\x00pad{i}": i for i in range(100_000)})
    size_padded = len(S._TOKEN_HASH_MEMO)
    warm = S._batch_signatures(texts, CFG)
    _assert_sig_equal(cold, warm)
    assert len(S._TOKEN_HASH_MEMO) == size_padded  # hits only, no inserts


def test_memo_cap_clear_bounds_memory_and_preserves_bytes(monkeypatch):
    """Exceeding the cap clears the dict (bounded worker memory) and the
    post-clear output still byte-matches a fresh cold run."""
    monkeypatch.setattr(S, "_TOKEN_HASH_MEMO_CAP", 64)
    texts = _prose(seed=5)  # 200-word vocabulary > 64-entry cap
    capped = S._batch_signatures(texts, CFG)
    assert len(S._TOKEN_HASH_MEMO) == 0  # cap exceeded -> cleared
    monkeypatch.setattr(S, "_TOKEN_HASH_MEMO_CAP", 1_500_000)
    fresh = S._batch_signatures(texts, CFG)
    _assert_sig_equal(capped, fresh)


def test_token_hash_spellings_are_value_identical():
    """The 64-bit token-hash primitive exists in three spellings that MUST
    stay value-identical: signature_core.token_hash (hexdigest[:16] base
    16, the documented oracle-shared form), the vectorized kernel's inline
    digest[:8] big-endian (both memo branches), and the DuckDB oracle's
    ('0x'||substr(md5(t),1,16))::UBIGINT.  This pin makes a one-sided edit
    fail loudly instead of silently breaking signature parity."""
    import hashlib

    from image_deduplication_3m_images_spark.functions.signature_core import (
        token_hash,
    )

    for t in ["", "a", "hello", "ünïcödé", "tok123", "x" * 100]:
        assert token_hash(t) == int.from_bytes(
            hashlib.md5(t.encode("utf-8")).digest()[:8], "big"
        )
