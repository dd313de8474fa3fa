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

Building an entry's DataFrame starts no Spark job, except for the
entries of ``BUILD_JOBS``, which materialize on purpose. The count is
the scheduler's job-id counter before and after the build, so it sees
every job the build starts, also the micro-batches a streaming query
runs on its own thread.
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

# entries whose build runs Spark jobs by design, with the reason
_W2 = "W2 precedence: the per-cell count collect (transform_sql)"
_SINK = "sink round trip: write, then read back"
_KMEANS = "k-means training: one centroid collect per round"
_BM25 = "BM25: localCheckpoint of the term base, corpus-stats collect"
_DRAIN = "AvailableNow drain runs the stream at build"
BUILD_JOBS = {
    "geo_count_precedence": _W2,
    "geo_raster_transform": _W2,
    "geo_geotiff_roundtrip": _SINK,
    "geo_csv_roundtrip": _SINK,
    "geo_parquet_sink_roundtrip": _SINK,
    "dedup_cluster_canonical": "per-round localCheckpoint",
    "dedup_semantic_trained": _KMEANS,
    "emb_kmeans": _KMEANS,
    "ann_ivf_trained_topk": _KMEANS,
    "text_bm25_topk": _BM25,
    "hybrid_search_rrf": _BM25,
    "dsir_weights": "localCheckpoint and the importance-weight collect",
    "doc_semantic_dedup": "localCheckpoint of the embedded corpus",
    "graph_pagerank": "per-round localCheckpoint",
    "pipeline_end_to_end": "checkpoint, sink round trip, identity check",
    "stream_events_hourly": _DRAIN,
    "stream_events_sessions": _DRAIN,
    "stream_first_per_source": _DRAIN,
    "stream_curated_capture": _DRAIN,
}

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
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    first_job = scheduler.nextJobId()
    df = QUERIES[name](spark, SF_DIR)
    build_jobs = scheduler.nextJobId() - first_job
    assert (build_jobs > 0) == (name in BUILD_JOBS), (name, build_jobs)
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
