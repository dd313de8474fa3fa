"""The correctness gate, under pytest.

Every entry of ``__spark_entry__.queries_extended()`` runs at sf0.001
and must equal its ``oracle_sql_extended()`` DuckDB query: same row
count, same column names, same order-insensitive values
(``tools/check_oracles.py::canon``, NaN == NaN). The test keeps its
``geo`` name for stable test ids. Codegen is strict, as in
``tools/check_oracles.py``: a stage that exceeds janino's 64 KB method
limit fails instead of silently running interpreted.

Each ``geo_*`` entry that runs the transform (``transform_points``,
directly or through the raster and sampled modes) must also run it
with no Python worker: neither the entry's executed plan nor the plan
of any transform output holds a Python node.
"""

from __future__ import annotations

import os

import pytest

duckdb = pytest.importorskip("duckdb")

import __spark_entry__ as entry  # noqa: E402
from tools.check_oracles import TABLES, canon  # noqa: E402
from vyperdatum_spark.engine import transform as tx  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
if not os.path.isdir(SF_DIR):
    pytest.skip(f"fixture dir {SF_DIR} missing", allow_module_level=True)

QUERIES = entry.queries_extended()
ORACLES = entry.oracle_sql_extended()

FALLBACK = "spark.sql.codegen.fallback"
PYTHON_NODES = ("MapInArrow", "ArrowEvalPython", "BatchEvalPython")


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


@pytest.mark.parametrize("name", list(QUERIES))
def test_geo_query_matches_oracle(spark, oracle_db, strict_codegen,
                                  monkeypatch, name):
    transformed = []
    if name.startswith("geo_"):
        real = tx.transform_points

        def recording(*args, **kwargs):
            out = real(*args, **kwargs)
            transformed.append(out)
            return out

        monkeypatch.setattr(tx, "transform_points", recording)
    df = QUERIES[name](spark, SF_DIR)
    got = df.toPandas()
    exp = oracle_db.execute(ORACLES[name]).df()
    assert len(got) == len(exp)
    assert sorted(got.columns) == sorted(exp.columns)
    assert canon(got) == canon(exp)
    if name.startswith("geo_transform"):
        assert transformed  # the recording hook sees the engine
    if transformed:
        for plan_df in [df, *transformed]:
            plan = plan_df._jdf.queryExecution().executedPlan().toString()
            assert not [n for n in PYTHON_NODES if n in plan], (name, plan[:3000])
