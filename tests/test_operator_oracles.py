"""Per-query DuckDB oracle checks for operators that run a single
physical path: each registered query below is compared with its
`oracle_sql()` at sf0.001 the way tools/check_oracle.py compares the
whole registry (row count, dtype family per column, order-insensitive
value hash), and must return at least one row so an empty result
cannot pass by matching an empty oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

import __spark_entry__ as entry

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from check_oracle import TABLES, dtype_family, value_hash  # noqa: E402

QUERIES = [
    "knn_lsh",
    "margin_pairs_embeddings",
    "embedding_near_dup_pairs",
    "semantic_dedup_embeddings",
    "rolling_fingerprints_docs",
    "bpe_segment_docs",
    "gopher_repetition_docs",
    "density_topic_assignments",
    "semantic_decontaminate_embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    from parlerproject_spark.caching import release_all

    try:
        got = entry.queries()[name](spark, sf_dir).toPandas()
    finally:
        release_all(spark)
    want = duck.execute(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert len(got) == len(want)
    assert ({c: dtype_family(got[c]) for c in got.columns}
            == {c: dtype_family(want[c]) for c in want.columns})
    assert value_hash(got) == value_hash(want)
