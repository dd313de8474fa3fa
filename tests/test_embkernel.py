"""The broadcast-matrix Arrow kernels (ops/embkernel), the one
embedding-scoring engine: zero-row inputs, and the dim=768 / k=256
scale case — run with codegen fallback disabled so any giant
generated expression would fail loudly rather than fall back to the
interpreter.  Oracle parity of each op is pinned in
tests/test_clustering.py, tests/test_webtext_ops.py and
tests/test_oracle_gate.py."""

import numpy as np
import pandas as pd
import pytest

from vyperdatum_spark.ops import clustering as C
from vyperdatum_spark.ops import similarity as sim

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embs(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.mark.parametrize(
    "op", [C.kmeans_assign, sim.ann_ivf_trained_topk,
           sim.semantic_dedup_trained],
    ids=lambda op: op.__name__)
def test_zero_row_input_gives_zero_row_frame(spark, embs, op):
    """An empty input seeds an empty codebook; each trained op must
    still build and return zero rows (as its DuckDB oracle does) with
    the schema of a non-empty run."""
    got = op(embs.limit(0))
    assert got.collect() == []
    assert got.dtypes == op(embs).dtypes


def _big_model_df(spark, n=600, dim=768, seed=5):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, dim)).round(3)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [r.tolist() for r in mat],
    })
    return (
        spark.createDataFrame(pdf, "vec_id long, embedding array<double>"),
        mat,
    )


def _numpy_assign(mat, cents):
    """Ordered-fold squared-L2 argmin — the kernel's exact op order."""
    Cm = np.asarray(cents, dtype=np.float64)
    acc = np.zeros((mat.shape[0], Cm.shape[0]))
    for j in range(Cm.shape[1]):
        d = mat[:, j, None] - Cm[None, :, j]
        acc += d * d
    cl = np.argmin(acc, axis=1)
    return cl + 1, acc[np.arange(len(mat)), cl]


def test_dim768_k256_runs_without_codegen_fallback(spark):
    """Real model size: the whole job — training aggregations
    included — must build and run with
    spark.sql.codegen.fallback=false (no silent interpreter fallback,
    no janino blowup), matching a numpy replication exactly."""
    df, mat = _big_model_df(spark)
    old = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = (
            C.kmeans_assign(df, k=256, iters=2, dim=768)
            .toPandas().sort_values("vec_id").reset_index(drop=True)
        )
        cents = C.kmeans_train(df, k=256, iters=2, dim=768)
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)
    assert len(out) == len(mat)
    assert out["cluster"].between(1, 256).all()
    exp_cl, exp_sq = _numpy_assign(mat, cents)
    assert (out["cluster"].values == exp_cl).all()
    assert np.allclose(out["dist"].values, np.round(np.sqrt(exp_sq), 6),
                       atol=0, rtol=0)


def test_centroid_kernel_runs_once_per_scan(spark, embs):
    """ann_ivf_topk scans the embeddings twice (the indexed corpus and
    the query sample); the centroid-cosine kernel must run once per
    scan. Catalyst used to push the probe join's inferred
    isnotnull(cell) filter below the projection with the UDF inlined,
    running the kernel twice per scan (4 nodes)."""
    out = sim.ann_ivf_topk(embs)
    out.collect()  # AQE: read the final plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("ArrowEvalPython [cosines") == 2, final
