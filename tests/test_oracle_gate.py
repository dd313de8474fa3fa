"""The geo and embedding-scoring part of the correctness gate, under
pytest.

Every ``geo_*`` entry of ``__spark_entry__.queries_extended()``, plus
the entries scored by the broadcast embedding kernel (``EMBEDDING``),
runs at sf0.001 and must equal its ``oracle_sql_extended()`` DuckDB
query: same row count, same column names, same order-insensitive
values (``tools/check_oracles.py::canon``, NaN == NaN). The test keeps
its ``geo`` name for stable test ids. Codegen is strict, as
in ``tools/check_oracles.py``: a stage that exceeds janino's 64 KB
method limit fails instead of silently running interpreted.
"""

from __future__ import annotations

import os

import pytest

duckdb = pytest.importorskip("duckdb")

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracles import TABLES, canon  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
if not os.path.isdir(SF_DIR):
    pytest.skip(f"fixture dir {SF_DIR} missing", allow_module_level=True)

QUERIES = entry.queries_extended()
ORACLES = entry.oracle_sql_extended()
GEO = [name for name in QUERIES if name.startswith("geo_")]
EMBEDDING = ["emb_kmeans", "ann_ivf_topk", "ann_ivf_trained_topk",
             "dedup_semantic", "dedup_semantic_trained",
             "doc_semantic_dedup", "hybrid_search_rrf"]

FALLBACK = "spark.sql.codegen.fallback"


@pytest.fixture(scope="module")
def oracle_db():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def strict_codegen(spark):
    old = spark.conf.get(FALLBACK)
    spark.conf.set(FALLBACK, "false")
    yield
    spark.conf.set(FALLBACK, old)


@pytest.mark.parametrize("name", GEO + EMBEDDING)
def test_geo_query_matches_oracle(spark, oracle_db, strict_codegen, name):
    got = QUERIES[name](spark, SF_DIR).toPandas()
    exp = oracle_db.execute(ORACLES[name]).df()
    assert len(got) == len(exp)
    assert sorted(got.columns) == sorted(exp.columns)
    assert canon(got) == canon(exp)
