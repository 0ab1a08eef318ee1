"""Query <-> oracle contract for the queries that call library operators.

Each listed query runs through its library operator (``fog_spark.algorithms``
/ ``fog_spark.datapipe``) on the sf0.001 smoke tables and must match its
``oracle_sql()`` replayed in DuckDB: same column names, same row count,
same order-insensitive values — the comparison ``tools/check_contract.py``
makes for all 110 queries. The list is every query that delegates to one
of those operators, plus queries composed on top of them.
"""

import importlib.util
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

_TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools", "check_contract.py")
_spec = importlib.util.spec_from_file_location("check_contract", _TOOL)
check_contract = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(check_contract)

LIBRARY_QUERIES = [
    "pagerank_fog_k3",
    "repo_pagerank_top",
    "cc_hashmin",
    "lpa_k2",
    "bfs_k4",
    "sssp_k4",
    "spmv",
    "scc_fwbw_k6",
    "minhash_signatures",
    "token_jaccard_pairs",
    "ngram3_stats",
    "embedding_knn_top1",
    "embedding_knn_top3",
    # built on the queries above
    "lsh_buckets",
    "modularity",
    "pagerank_top100",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in check_contract.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{entrymod.SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", LIBRARY_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    sdf = entrymod.queries()[name](spark, entrymod.SF_SMOKE)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.sql(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows) > 0
    assert check_contract.norm_rows(sdf.columns, srows) == check_contract.norm_rows(dcols, drows)
