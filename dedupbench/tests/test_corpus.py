"""The generators are byte-deterministic per seed and plant what they say."""

import hashlib
import os
from collections import Counter

import corpus
import pytest


def _tree_digest(path: str) -> str:
    """sha256 over every file's relative path and bytes."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            f = os.path.join(root, name)
            h.update(os.path.relpath(f, path).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _write(kind: str, seed: int, path: str) -> None:
    if kind == "catalog":
        corpus.write_parts(corpus.documents_table(corpus.catalog_documents(seed, 300)), path)
    else:
        gen = {"unique": corpus.crawl_unique, "dupskew": corpus.crawl_dupskew}[kind]
        corpus.write_parts(corpus.pages_table(gen(seed, 1500)), path)


@pytest.mark.parametrize("kind", ["unique", "dupskew", "catalog"])
def test_same_seed_same_bytes(kind, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    _write(kind, 7, a)
    _write(kind, 7, b)
    _write(kind, 8, c)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)


def test_dupskew_groups_straddle_the_bucket_tiers():
    sizes = Counter(corpus.crawl_dupskew(3).truth.values()).values()
    assert any(1 < s < corpus.STAR_CAP for s in sizes)
    assert any(corpus.STAR_CAP < s <= corpus.SALT_CAP for s in sizes)
    assert any(s > corpus.SALT_CAP for s in sizes)
    # most pages sit in a duplicate group
    assert sum(s for s in sizes if s > 1) > 0.8 * corpus.DUPSKEW_DOCS


def test_crawl_unique_is_mostly_unique():
    p = corpus.crawl_unique(3)
    sizes = Counter(p.truth.values()).values()
    assert len(p) == corpus.UNIQUE_DOCS
    assert max(sizes) <= 4
    assert sum(s for s in sizes if s > 1) < 0.05 * len(p)
    assert all(50 <= len(b.split(" ")) <= 360 for b in p.bodies)
