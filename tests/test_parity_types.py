"""Regression tests for the driver-faithful type gate in tools/parity_check.

Round-2 postmortem: two oracles omitted an outer ::BIGINT cast, DuckDB
returned HUGEINT, and the driver's type-sensitive hash failed — while the
local parity harness (Python fetchall, which collapses HUGEINT to int)
passed.  These tests pin the failure mode: the Arrow-level canonicalizer
must distinguish DuckDB's sum(BIGINT) -> HUGEINT from a Spark BIGINT, and
must treat the properly cast form as equal.
"""

from __future__ import annotations

import sys

import duckdb
import pytest

sys.path.insert(0, "tools")

from parity_check import canon_arrow_type, canon_spark_type, table_hash, type_mismatches


class FakeSdf:
    def __init__(self, dtypes):
        self.dtypes = dtypes


def test_hugeint_sum_is_flagged_against_spark_bigint():
    con = duckdb.connect()
    # the exact pre-fix oracle shape: sum over a BIGINT -> HUGEINT
    tbl = con.execute(
        "SELECT sum(x::BIGINT) AS revenue_cents FROM (VALUES (1),(2)) v(x)"
    ).fetch_arrow_table()
    bad = type_mismatches(FakeSdf([("revenue_cents", "bigint")]), tbl)
    assert bad == [("revenue_cents", "int64", "decimal(38,0)")]


def test_outer_bigint_cast_matches_spark_bigint():
    con = duckdb.connect()
    tbl = con.execute(
        "SELECT sum(x::BIGINT)::BIGINT AS revenue_cents FROM (VALUES (1),(2)) v(x)"
    ).fetch_arrow_table()
    assert type_mismatches(FakeSdf([("revenue_cents", "bigint")]), tbl) == []


def test_canonical_mapping_covers_catalog_types():
    con = duckdb.connect()
    tbl = con.execute(
        """
        SELECT 1::INT AS i, 1::BIGINT AS l, 1.5::DOUBLE AS d,
               'x' AS s, true AS b, now() AS t,
               [1.0::FLOAT, 2.0::FLOAT] AS v
        """
    ).fetch_arrow_table()
    got = {f.name: canon_arrow_type(f.type) for f in tbl.schema}
    want_spark = {
        "i": "int", "l": "bigint", "d": "double", "s": "string",
        "b": "boolean", "t": "timestamp", "v": "array<float>",
    }
    for name, sdt in want_spark.items():
        assert canon_spark_type(sdt) == got[name], (name, sdt, got[name])


# Catalog queries that read the shared signatures frame (``_sig``): each is
# checked against its DuckDB oracle at sf0.001 exactly as parity_check does
# (row count, columns, canonical Arrow types, order-insensitive value hash).
SIG_QUERIES = (
    "signature_digest",
    "lsh_bands",
    "candidate_pairs",
    "verified_pairs",
    "containment_pairs",
    "dup_clusters",
    "simhash_pairs",
)


@pytest.fixture(scope="module")
def oracle_con():
    from parity_check import TABLES
    from test_plans import SF

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", SIG_QUERIES)
def test_signature_queries_match_duckdb_oracle(spark, oracle_con, name):
    from test_plans import SF

    from image_deduplication_3m_images_spark.config import DedupConfig
    from image_deduplication_3m_images_spark.operators.lsh import (
        explode_bands,
        max_bucket_size,
    )
    from image_deduplication_3m_images_spark.oracles import oracle_sql_map
    from image_deduplication_3m_images_spark.plans.queries import ALL_QUERIES, _sig

    # the pair oracles model full within-bucket pairs: only comparable
    # while no bucket reaches the engine's star/salt tiers
    cfg = DedupConfig()
    bands = explode_bands(_sig(spark, SF), "doc_id")
    assert max_bucket_size(bands, ["band_id", "band_key"]) <= cfg.bucket_star_cap

    sdf = dict(ALL_QUERIES)[name](spark, SF)
    srows = sdf.collect()
    atbl = oracle_con.execute(oracle_sql_map()[name]).fetch_arrow_table()
    dcols = atbl.column_names
    assert sorted(sdf.columns) == sorted(dcols)
    assert type_mismatches(sdf, atbl) == []
    assert len(srows) == atbl.num_rows and srows
    assert table_hash(
        sdf.columns, [[r[c] for c in sdf.columns] for r in srows]
    ) == table_hash(dcols, [[r[c] for c in dcols] for r in atbl.to_pylist()])
