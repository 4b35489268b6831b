"""Property-based tests (hypothesis) for the pure-expression operators.

The reference has no property testing (SURVEY.md §5); these go beyond it on
the operators whose contracts are algebraic: the distributed prefix-sum
must equal the sequential one for ANY input and ANY bucketing, URL
canonicalization must be idempotent and mirror its Python reference
implementation, and the skew-tiered bucket-pairs operator must agree with
all-pairs-per-key in every tier.  Each example batches its rows into ONE Spark job so the
suite stays fast.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from image_deduplication_3m_images_spark.functions.text import (
    canonical_url_expr,
)
from image_deduplication_3m_images_spark.operators.decontaminate import (
    word_ngrams_expr,
)
from image_deduplication_3m_images_spark.operators.lsh import (
    bucket_pairs,
    max_bucket_size,
)
from image_deduplication_3m_images_spark.operators.packing import (
    pack_documents,
)

_settings = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@_settings
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 10**6), st.integers(0, 500)),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    bucket_rows=st.sampled_from([1, 7, 100, 10**9]),
    budget=st.integers(1, 1000),
)
def test_packing_equals_sequential_cumsum(spark, rows, bucket_rows, budget):
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"]).repartition(4)
    got = {
        r["doc_id"]: (r["offset"], r["pack_id"])
        for r in pack_documents(
            df, budget=budget, bucket_rows=bucket_rows
        ).collect()
    }
    run = 0
    for doc_id, n_tokens in sorted(rows):
        assert got[doc_id] == (run, run // budget), (doc_id, bucket_rows)
        run += n_tokens
    assert len(got) == len(rows)


def _canon_py(u: str) -> str:
    u = u.lower()
    u = re.sub(r"^(https?://)+", "", u)
    u = re.sub(r"^(www\.)+", "", u)
    u = re.sub(r"[?#].*$", "", u, flags=re.S)
    return re.sub(r"/+$", "", u)


_url_st = st.builds(
    lambda scheme, www, host, path, tail: scheme + www + host + path + tail,
    scheme=st.sampled_from(["", "http://", "https://", "HTTPS://", "http://http://"]),
    www=st.sampled_from(["", "www.", "WWW.", "www.www."]),
    host=st.from_regex(r"[A-Za-z0-9-]{1,10}(\.[A-Za-z0-9-]{1,8}){1,3}", fullmatch=True),
    path=st.from_regex(r"(/[A-Za-z0-9._~-]{0,12}){0,4}/{0,3}", fullmatch=True),
    tail=st.sampled_from(["", "?a=1&b=2", "#frag", "?UTM=x#y", "?", "#"]),
)


@_settings
@given(urls=st.lists(_url_st, min_size=1, max_size=50))
def test_canonical_url_matches_python_and_is_idempotent(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], ["raw"])
    rows = df.select(
        "raw",
        canonical_url_expr(F.col("raw")).alias("c1"),
        canonical_url_expr(canonical_url_expr(F.col("raw"))).alias("c2"),
    ).collect()
    for r in rows:
        assert r["c1"] == _canon_py(r["raw"]), r["raw"]
        assert r["c2"] == r["c1"], r["raw"]  # idempotent


@_settings
@given(
    texts=st.lists(
        st.text(alphabet=" abcdef", min_size=0, max_size=80), min_size=1, max_size=40
    ),
    n=st.integers(2, 6),
)
def test_word_ngrams_match_python(spark, texts, n):
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    rows = df.select("t", word_ngrams_expr(F.col("t"), n).alias("g")).collect()
    for r in rows:
        toks = [w for w in r["t"].split(" ") if w]
        expect = list(dict.fromkeys(
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ))
        assert r["g"] == expect, (r["t"], n)


def test_pages_distributed_bytes_are_pinned(spark):
    """The scaling fixture's claim 'fixtures <= 10M rows regenerate
    byte-identically' (sources/pages_fixture.py seed-namespace note) is
    load-bearing: banked BENCH evidence references inputs by construction,
    not by stored bytes.  Pin a content digest of the 2000-row fixture so
    any seed/vocab/render change fails loudly here instead of silently
    detaching the banked numbers from reproducible inputs."""
    from pyspark.sql import functions as F

    from image_deduplication_3m_images_spark.sources.pages_fixture import (
        pages_distributed,
    )

    df = pages_distributed(spark, 2000, seed=42, partitions=8)
    row = (
        df.select(
            F.sha2(F.concat_ws("\x1f", "url", "text", "lang"), 256).alias("h")
        )
        .agg(
            F.sha2(
                F.concat_ws("", F.sort_array(F.collect_list("h"))), 256
            ).alias("digest")
        )
        .collect()[0]
    )
    assert (
        row["digest"]
        == "1956a9d634038c32347811bb6fbd76bf670e3c22fa5f3c1b810eb1997cbf8ed9"
    )


# shrunk tier caps: buckets of <= 3 rows are small, 4-6 salted, > 6 star
_CAP, _SALT = 3, 2


def _components(edges, nodes):
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        parent[find(a)] = find(b)
    groups: dict = {}
    for v in nodes:
        groups.setdefault(find(v), set()).add(v)
    return sorted(map(sorted, groups.values()))


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    cases=st.lists(
        st.lists(st.tuples(st.integers(0, 4), st.integers(0, 30)), max_size=40),
        min_size=1,
        max_size=8,
    )
)
@example(
    cases=[
        [(0, 1), (0, 2), (1, 5)],  # no hot bucket: fast path
        [(0, i) for i in range(2)] + [(1, i) for i in range(5)]
        + [(2, i) for i in range(9)],  # one bucket per tier
        [(0, 7), (0, 7), (0, 8), (1, 7)] * 2,  # repeated members
    ]
)
def test_bucket_pairs_matches_brute_force(spark, cases):
    """Exact mode = every pair sharing a key; salted mode = a subset with
    the same components per key and every pair of a bucket <= cap; the
    hinted fast path = the tiered plan, planned without a join.  Each
    case's rows are keyed apart by a case column, so one Spark job per
    mode checks every case of the example."""
    rows = [(c, k, i) for c, case in enumerate(cases) for k, i in case]
    keys = ["c", "k"]
    df = spark.createDataFrame(rows, "c long, k long, id long")
    members: dict = {}
    size: dict = {}
    for c, k, i in rows:
        members.setdefault((c, k), set()).add(i)
        size[(c, k)] = size.get((c, k), 0) + 1
    model = {
        (ck, a, b) for ck, ids in members.items() for a in ids for b in ids if a < b
    }
    assert max_bucket_size(df, keys) == max(size.values(), default=0)

    def run(frame, salt, hint=None):
        out = bucket_pairs(frame, keys, "id", _CAP, salt, hint)
        got = sorted(((r["c"], r["k"]), r["a"], r["b"]) for r in out.collect())
        assert all(a < b for _, a, b in got)
        return out, got

    exact = run(df, None)[1]
    assert set(exact) == model

    salted = run(df, _SALT)[1]
    assert set(salted) <= model
    for ck, ids in members.items():
        edges = [(a, b) for kk, a, b in salted if kk == ck]
        assert _components(edges, ids) == [sorted(ids)], ck
        if size[ck] <= _CAP:
            assert set(edges) == {(a, b) for kk, a, b in model if kk == ck}

    # the fast path over the cases whose buckets all fit the cap
    hot = {c for (c, _), n in size.items() if n > _CAP}
    clean = [c for c in range(len(cases)) if c not in hot]
    hint = max((n for (c, _), n in size.items() if c not in hot), default=0)
    fast, got = run(df.where(F.col("c").isin(clean)), _SALT, hint)
    for tiered in (exact, salted):
        assert got == [p for p in tiered if p[0][0] not in hot]
    buf = io.StringIO()
    with redirect_stdout(buf):
        fast.explain("formatted")
    assert "Join" not in buf.getvalue()
