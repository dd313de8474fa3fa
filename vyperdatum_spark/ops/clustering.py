"""Distributed k-means (Lloyd's) over an embedding column.

Closes the honest gap in ``ops/similarity.py``: the IVF index there
partitions by *seeded* centroids ("a production IVF trains these with
k-means"); this module IS that trainer, expressed Spark-first:

- **assignment** is one Arrow-batch kernel per scan against the
  broadcast k×dim codebook (``ops/embkernel``): squared-L2 per
  centroid is a left-to-right float64 fold (same bit-exact discipline
  as ``similarity.dot_col``), argmin takes the first minimum (lowest
  cluster wins ties).  Zero shuffle, no per-row Python, and the plan
  does not grow with k×dim.
- **update** is one map-side-combined partial aggregation per
  iteration (``groupBy(cluster).agg(sum(scaled dim_i) …)``) — each
  executor emits k×dim partial sums, the driver collects k tiny rows
  and broadcasts the 1e-6-grid means as the next iteration's
  codebook.  At 10^12 rows this is the canonical scale shape:
  per-iteration cost is one scan + a k×dim-wide combine; nothing
  grows with n on the driver.
- **determinism**: seeds are the k vectors with the smallest
  ``md5(cast(id as string))`` (portable to the DuckDB oracle), and
  every distance is a left-to-right double fold — the final
  assignment is hash-exact against an unrolled-CTE SQL oracle.  The
  mean update is ORDER-INSENSITIVE (ADVICE r4): each component is
  quantized to the 1e-6 grid (``floor(x·10⁶ + 0.5) → bigint`` —
  half-toward-+inf, a pure ``Math.floor`` that stays inside
  whole-stage codegen; Spark's ``round(double, 0)`` allocates a
  BigDecimal per value and measured ~7× slower over 48M×16
  components) and summed as an exact integer, so the mean is
  identical no matter how Spark
  orders the partial aggregation across partitions/cores — a plain
  ``avg(double)`` sums in partition order and can land on either side
  of a rounding boundary, flaking the cross-engine gate and the
  bench's cross-parallelism checksum.  The quantization moves each
  mean by ≤ 5e-7 (half a grid cell) vs the avg-then-round value —
  inside the 1e-6 grid the algorithm already rounds to.

Empty-cluster rule: a cluster that captures no points keeps its
previous centroid (COALESCE in the oracle's update CTE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EMB_DIM = 64
K_CLUSTERS = 8
N_ITERS = 3


def seed_centroids(df: DataFrame, k: int, id_col: str,
                   emb_col: str) -> list[list[float]]:
    """The k vectors with the smallest md5(cast(id as string)) — a
    deterministic, data-independent sample (same device as the
    repo's stratified sampler), portable to SQL verbatim."""
    rows = (
        df.select(id_col, emb_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(k)
        .collect()
    )
    return [[float(v) for v in r[emb_col]] for r in rows]


def kmeans_train(df: DataFrame, k: int = K_CLUSTERS, iters: int = N_ITERS,
                 id_col: str = "vec_id", emb_col: str = "embedding",
                 dim: int = EMB_DIM) -> list[list[float]]:
    """Lloyd's iterations; returns the trained centroid list (each a
    dim-long list of doubles rounded to 6 dp, except iteration-0 seeds
    which are the raw vectors).  ``iters`` assignments are implied;
    only ``iters - 1`` mean-updates run (the final assignment is the
    caller's, e.g. ``kmeans_assign``)."""
    from .embkernel import kmeans_assign_broadcast_col

    cents = seed_centroids(df, k, id_col, emb_col)
    for _ in range(iters - 1):
        a = kmeans_assign_broadcast_col(df, cents, emb_col)
        means = (
            df.select(a.getField("cluster").alias("cluster"),
                      F.col(emb_col).alias("e"))
            .groupBy("cluster")
            .agg(*[
                # exact integer sum of 1e-6-quantized components →
                # order-insensitive mean (see module docstring); the
                # bigint sum is exact below 2^53-scale totals and the
                # single division + round(6) is deterministic.
                # floor(x+0.5), not round(x, 0): same grid point
                # (half-toward-+inf), but Math.floor instead of a
                # per-value BigDecimal — ~7× faster over 48M×16.
                # Rendered as ONE F.expr per component (r6): the
                # Column-DSL form paid a py4j round-trip per operator
                # across dim×~12 ops per iteration; tree identical.
                F.expr(
                    "round(CAST(sum(floor((CAST(element_at(e, "
                    f"{i}) AS DOUBLE) * 1000000.0D) + 0.5D)) AS DOUBLE)"
                    " / (1000000.0D * count(1)), 6)"
                ).alias(f"m{i}")
                for i in range(1, dim + 1)
            ])
            .collect()
        )
        nxt = [list(c) for c in cents]  # empty cluster keeps previous
        for r in means:
            nxt[r["cluster"] - 1] = [float(r[f"m{i}"])
                                     for i in range(1, dim + 1)]
        cents = nxt
    return cents


def kmeans_assign(df: DataFrame, k: int = K_CLUSTERS, iters: int = N_ITERS,
                  id_col: str = "vec_id", emb_col: str = "embedding",
                  dim: int = EMB_DIM) -> DataFrame:
    """Train, then return the final assignment — (id, cluster, dist)
    with dist = round(sqrt(squared-L2), 6).  The returned plan is one
    Arrow-batch kernel over one scan: 0 shuffles, zero per-row Python.
    Training cost is ``iters - 1`` tiny map-side-combined
    aggregations."""
    from .embkernel import kmeans_assign_broadcast_col

    cents = kmeans_train(df, k=k, iters=iters, id_col=id_col,
                         emb_col=emb_col, dim=dim)
    a = kmeans_assign_broadcast_col(df, cents, emb_col)
    return df.select(
        F.col(id_col),
        a.getField("cluster").alias("cluster"),
        F.round(F.sqrt(a.getField("sqdist")), 6).alias("dist"),
    )


def kmeans_ctes(table: str = "embeddings", k: int = K_CLUSTERS,
                iters: int = N_ITERS, id_col: str = "vec_id",
                emb_col: str = "embedding",
                dim: int = EMB_DIM) -> tuple[list[str], str]:
    """The unrolled training CTE chain: seeds → (assign → update) ×
    (iters-1), plus the final assignment ``a{iters}``.  Returns
    (cte_parts, trained_centroid_cte_name) so composed oracles (e.g.
    the trained-IVF search) can build on the SAME training the Spark
    side ran.  Every float op mirrors ``kmeans_train`` bit-for-bit
    (see module docstring); means are rounded to the same 1e-6 grid
    before feeding the next iteration."""

    def dist(e: str, c: str) -> str:
        term = (f"(CAST({e}[i] AS DOUBLE) - {c}[i]) * "
                f"(CAST({e}[i] AS DOUBLE) - {c}[i])")
        return (f"(0.0 + list_reduce(list_transform("
                f"generate_series(1, {dim}), i -> {term}), "
                f"(x, y) -> x + y))")

    mean_list = ", ".join(
        # same order-insensitive mean as kmeans_train: exact bigint
        # sum of 1e-6-quantized components (floor(x+0.5), matching
        # the Spark side's half-toward-+inf), one division, round(6)
        f"round(CAST(sum(CAST(floor(CAST(e[{i}] AS DOUBLE) * 1000000.0 "
        f"+ 0.5) AS BIGINT)) AS DOUBLE) / (1000000.0 * count(*)), 6)"
        for i in range(1, dim + 1)
    )
    d = dist("e", "cent")
    parts = [
        f"emb AS (SELECT {id_col} AS vid, {emb_col} AS e FROM {table})",
        (f"seeds AS (SELECT vid, e FROM emb "
         f"ORDER BY md5(CAST(vid AS VARCHAR)), vid LIMIT {k})"),
        (f"c0 AS (SELECT CAST(row_number() OVER "
         f"(ORDER BY md5(CAST(vid AS VARCHAR)), vid) AS INT) AS cluster, "
         f"list_transform(generate_series(1, {dim}), "
         f"i -> CAST(e[i] AS DOUBLE)) AS cent FROM seeds)"),
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"a{t} AS (SELECT vid, e, cluster, dist FROM ("
            f"SELECT p.vid, p.e, c.cluster, {d} AS dist, "
            f"row_number() OVER (PARTITION BY p.vid "
            f"ORDER BY {d}, c.cluster) AS rn "
            f"FROM emb p CROSS JOIN c{t - 1} c) WHERE rn = 1)"
        )
        if t < iters:
            parts.append(
                f"m{t} AS (SELECT cluster, [{mean_list}] AS cent "
                f"FROM a{t} GROUP BY cluster)"
            )
            parts.append(
                f"c{t} AS (SELECT p.cluster, coalesce(m.cent, p.cent) AS cent "
                f"FROM c{t - 1} p LEFT JOIN m{t} m USING (cluster))"
            )
    return parts, f"c{iters - 1}"


def kmeans_assign_sql(table: str = "embeddings", k: int = K_CLUSTERS,
                      iters: int = N_ITERS, id_col: str = "vec_id",
                      emb_col: str = "embedding",
                      dim: int = EMB_DIM) -> str:
    """DuckDB oracle for ``kmeans_assign``."""
    parts, _ = kmeans_ctes(table, k, iters, id_col, emb_col, dim)
    return (
        "WITH " + ", ".join(parts) +
        f" SELECT vid AS {id_col}, cluster, round(sqrt(dist), 6) AS dist "
        f"FROM a{iters} ORDER BY {id_col}"
    )
