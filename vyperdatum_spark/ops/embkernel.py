"""Broadcast-matrix Arrow kernels: the one embedding-scoring engine
for k-means assignment, IVF probing, SemDeDup cell assignment and the
hybrid-search vector leg.

The codebook (or query matrix) is an EXPLICIT Spark broadcast — one
numpy matrix per executor, shipped once instead of inside every task
closure — and scoring is an Arrow-batched UDF: vectorized numpy over
each batch, never per-row Python.  Per-batch cost is a dim-step loop of n×k fused
multiply-adds; plan-build and compile cost are O(1) in the model size,
so dim=768 / k=256 codebooks run under ``codegen.fallback=false``
(an unrolled k×dim expression tree cannot: janino fails past ~1,024
terms).

Exactness vs the DuckDB oracles (``clustering.kmeans_ctes``,
``similarity.centroid_cos_array_sql`` and the ``*_sql`` twins): every
accumulation runs in float64 in the SAME left-to-right dimension
order as the oracle folds —

- squared L2: the oracle folds ``0.0 + (x₁-w₁)² + (x₂-w₂)² + …``; the
  kernel starts from zeros and adds the j-th term for all
  (row, centroid) pairs at once, j = 1..dim — identical op order per
  accumulator element.
- cosine: ``(0.0 + w₁x₁ + …) / (nrm · cnorm)`` with nrm the left fold
  of xⱼ² and cnorm folded left-to-right (or passed in, for codebooks
  whose oracle bakes pre-computed norms); the kernel mirrors all
  three folds.
- argmin/argmax ties: ``np.argmin``/``np.argmax`` return the FIRST
  extremal index — the same rule as ``array_position(arr,
  array_min(arr))`` and the oracles' ``ORDER BY dist, cluster``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # Spark 4.1+: pyarrow in/out, no pandas detour (see _flat below)
    from pyspark.sql.functions import arrow_udf as _arrow_udf
except ImportError:  # pragma: no cover — older clusters
    _arrow_udf = None


def _stack(emb: pd.Series, dim: int) -> np.ndarray:
    """n×dim float64 matrix from an Arrow list column's pandas Series.
    Widening float32 → float64 is exact, and happens BEFORE any
    arithmetic — mirroring the oracles' CAST(… AS DOUBLE)."""
    if len(emb) == 0:
        return np.empty((0, dim), dtype=np.float64)
    return np.vstack(emb.to_numpy()).astype(np.float64, copy=False)


def _flat(emb: pa.Array, dim: int) -> np.ndarray:
    """n×dim float64 matrix from an Arrow ListArray, zero-copy.

    This is why the kernels prefer `arrow_udf` when the runtime has
    it: the pandas route materializes a python object PER ROW (a
    Series of small ndarrays) and re-stacks them — measured ~44 ms
    per 10k×64 batch, >60% of the kernel's python time — while
    `flatten().reshape()` is one offsets-aware buffer view (~0.3 ms).
    float32 → float64 widening is exact and happens before any
    arithmetic, mirroring the oracles' CAST(… AS DOUBLE)."""
    flat = emb.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(-1, dim).astype(np.float64, copy=False)


def _list_array(mat: np.ndarray) -> pa.ListArray:
    """list<double> column from an n×q float64 matrix, zero-copy: one
    flat values buffer + an arithmetic offsets vector."""
    n, q = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * q, q, dtype=np.int32))
    return pa.ListArray.from_arrays(
        offsets, pa.array(mat.ravel(), type=pa.float64()))


def kmeans_assign_broadcast_col(df: DataFrame, cents: list[list[float]],
                                emb_col: str = "embedding") -> Column:
    """struct<cluster:int, sqdist:double> column: nearest trained
    centroid per row, computed against a broadcast k×dim matrix.
    Exactly equals the squared-L2 argmin of `clustering.kmeans_ctes`
    on the same centroids."""
    if not cents:  # seeded from a zero-row input: nothing to score
        return F.lit(None).cast("struct<cluster:int, sqdist:double>")
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(cents, dtype=np.float64))
    dim = len(cents[0])

    def _score(E: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        C = bc.value                       # k×dim
        n = E.shape[0]
        acc = np.zeros((n, C.shape[0]))
        for j in range(C.shape[1]):        # dimension order = oracle fold order
            d = E[:, j, None] - C[None, :, j]
            acc += d * d
        if n == 0:
            return (np.empty(0, dtype=np.int32),
                    np.empty(0, dtype=np.float64))
        cl = np.argmin(acc, axis=1)        # first min = array_position rule
        return (cl + 1).astype(np.int32), acc[np.arange(n), cl]

    if _arrow_udf is not None:
        @_arrow_udf("struct<cluster:int, sqdist:double>")
        def assign(emb: pa.Array) -> pa.Array:
            cl, d = _score(_flat(emb, dim))
            return pa.StructArray.from_arrays(
                [pa.array(cl, type=pa.int32()),
                 pa.array(d, type=pa.float64())],
                names=["cluster", "sqdist"])
    else:  # pragma: no cover — pre-4.1 fallback, same math
        @F.pandas_udf("struct<cluster:int, sqdist:double>")
        def assign(emb: pd.Series) -> pd.DataFrame:
            cl, d = _score(_stack(emb, dim))
            return pd.DataFrame({"cluster": cl, "sqdist": d})

    return assign(F.col(emb_col))


def dot_array_broadcast_col(df: DataFrame, vecs: list[list[float]],
                            emb_col: str = "embedding") -> Column:
    """array<double> of dot(emb, vec_i) against a broadcast matrix of
    fixed vectors (e.g. the hybrid-search query embeddings) — exactly
    equals the oracle's per-vector ``0.0 + list_reduce(…, +)`` left
    fold: the accumulator adds the j-th product for every (row, vec)
    pair at once, j = 1..dim."""
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast(np.asarray(vecs, dtype=np.float64))
    dim = len(vecs[0])

    def _score(E: np.ndarray) -> np.ndarray:
        Q = bc.value                      # q×dim
        acc = np.zeros((E.shape[0], Q.shape[0]))
        for j in range(Q.shape[1]):       # dimension order = fold order
            acc += E[:, j, None] * Q[None, :, j]
        return acc

    if _arrow_udf is not None:
        @_arrow_udf("array<double>")
        def dots(emb: pa.Array) -> pa.Array:
            return _list_array(_score(_flat(emb, dim)))
    else:  # pragma: no cover — pre-4.1 fallback, same math
        @F.pandas_udf("array<double>")
        def dots(emb: pd.Series) -> pd.Series:
            return pd.Series(list(_score(_stack(emb, dim))))

    return dots(F.col(emb_col))


def centroid_cos_broadcast_col(df: DataFrame, cents: list[list[float]],
                               emb_col: str = "embedding",
                               cnorms: list[float] | None = None) -> Column:
    """array<double> column of cosine(emb, centroid_i) against a
    broadcast codebook — exactly equals the oracles' cosine folds
    (``similarity.centroid_cos_array_sql``, the trained ``cellcos``
    CTEs) on the same centroids.

    ``cnorms`` overrides the centroid norms for codebooks whose
    oracle bakes PRE-COMPUTED norms (the seeded
    `similarity.CENTROID_NORMS` are numpy pairwise sums, which can
    differ from this left-to-right fold by an ulp)."""
    if not cents:  # seeded from a zero-row input: nothing to score
        return F.lit(None).cast("array<double>")
    sc = df.sparkSession.sparkContext
    C = np.asarray(cents, dtype=np.float64)
    if cnorms is None:
        # centroid norms: the trained oracle folds these left to
        # right (list_reduce) — do the identical fold once
        cn = np.empty(C.shape[0])
        for i, cent in enumerate(cents):
            acc = 0.0
            for w in cent:
                acc += float(w) * float(w)
            cn[i] = acc ** 0.5
    else:
        cn = np.asarray(cnorms, dtype=np.float64)
    bc = sc.broadcast((C, cn))
    dim = len(cents[0])

    def _score(E: np.ndarray) -> np.ndarray:
        Cm, cnv = bc.value
        n = E.shape[0]
        dot = np.zeros((n, Cm.shape[0]))
        nrm2 = np.zeros(n)
        for j in range(Cm.shape[1]):       # same left-to-right folds
            dot += E[:, j, None] * Cm[None, :, j]
            nrm2 += E[:, j] * E[:, j]
        return dot / (np.sqrt(nrm2)[:, None] * cnv[None, :])

    if _arrow_udf is not None:
        @_arrow_udf("array<double>")
        def cosines(emb: pa.Array) -> pa.Array:
            return _list_array(_score(_flat(emb, dim)))
    else:  # pragma: no cover — pre-4.1 fallback, same math
        @F.pandas_udf("array<double>")
        def cosines(emb: pd.Series) -> pd.Series:
            return pd.Series(list(_score(_stack(emb, dim))))

    # marked nondeterministic so Catalyst never copies it: a filter
    # inferred on a column derived from it (isnotnull(cell) from the
    # probe join) would otherwise be pushed below the projection with
    # the UDF inlined, and the kernel would run twice per scan
    return cosines.asNondeterministic()(F.col(emb_col))
