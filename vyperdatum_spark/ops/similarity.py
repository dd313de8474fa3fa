"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k (the exactness baseline): cross join
  pruned by a label/bucket key, dot products as built-in
  ``zip_with``/``aggregate`` column math (JVM-side), window top-k.
- random-hyperplane LSH (the scale path): 8 seeded hyperplanes →
  sign-bit bucket (pure column math), equi-join on bucket, top-k
  within bucket. At 10^12 rows the bucket join replaces the O(n²)
  cross join. ``ann_lsh_multi_topk`` runs N_TABLES independent
  hyperplane tables and unions candidates — the standard recall
  lever (P(miss) decays exponentially in tables) — still oracle-exact.

Float discipline: embeddings are float32 on disk; every product is
computed after an explicit cast to double, and accumulation is
left-to-right (F.aggregate from 0.0 ≡ SQL list_reduce from x1), so
Spark and DuckDB produce bit-identical cosines.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8
EMB_DIM = 64
# multi-table LSH: L independent hyperplane sets; a pair missed by one
# table's buckets is recovered by another — P(miss) decays
# exponentially in L, the standard recall lever
N_TABLES = 3


def _hyperplanes(dim: int = EMB_DIM, n: int = N_PLANES, seed: int = 7):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n, dim)).round(6)  # short literals, exact doubles


PLANES = _hyperplanes()
TABLE_PLANES = [_hyperplanes(seed=7 + t) for t in range(N_TABLES)]


def dot_col(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def dot_sql(a: str, b: str, dim: int = EMB_DIM) -> str:
    terms = f"list_transform(generate_series(1, {dim}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))"
    return f"(0.0 + list_reduce({terms}, (x, y) -> x + y))"


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def cosine_sql(a: str, b: str) -> str:
    return (
        f"({dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})))"
    )


# ---------------------------------------------------------- brute force
def ann_bruteforce_topk(df: DataFrame, id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        n_queries: int = 10, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids.

    Norms are materialized per VECTOR before the join (computing them
    inside the pair expression would redo the 64-term reduction per
    pair — n_q× redundant work on the candidate side)."""
    q = df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("q_emb"),
        norm_col(F.col(emb_col)).alias("q_norm"),
    )
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("c_emb"),
        norm_col(F.col(emb_col)).alias("c_norm"),
    )
    joined = q.crossJoin(c).filter(F.col("neighbor_id") != F.col("query_id"))
    cos = dot_col(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r"))
    )


def ann_bruteforce_topk_sql(table: str = "embeddings", id_col: str = "vec_id",
                            emb_col: str = "embedding",
                            n_queries: int = 10, k: int = 5) -> str:
    cos = cosine_sql("q.q_emb", "c.c_emb")
    return (
        f"WITH q AS (SELECT {id_col} AS query_id, {emb_col} AS q_emb FROM {table} "
        f"WHERE {id_col} < {n_queries}), "
        f"c AS (SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb FROM {table}), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id) AS rank "
        f"FROM q CROSS JOIN c WHERE neighbor_id <> query_id) "
        f"SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r "
        f"FROM scored WHERE rank <= {k}"
    )


# ------------------------------------------------------------------ lsh
def lsh_bucket_col(emb: Column, planes=None) -> Column:
    """Sign-bit bucket from the seeded hyperplanes (pure column math)."""
    v = F.lit(0).cast("long")
    for i, plane in enumerate(PLANES if planes is None else planes):
        dot = F.lit(0.0)
        for j, wgt in enumerate(plane):
            dot = dot + F.lit(float(wgt)) * F.element_at(emb, j + 1).cast("double")
        v = v + F.when(dot > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0))
    return v


def lsh_bucket_sql(emb: str, planes=None) -> str:
    parts = []
    for i, plane in enumerate(PLANES if planes is None else planes):
        dot = " + ".join(
            f"{float(w)!r} * CAST({emb}[{j + 1}] AS DOUBLE)"
            for j, w in enumerate(plane)
        )
        parts.append(f"(CASE WHEN (0.0 + {dot}) > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(parts) + ")"


def ann_lsh_topk(df: DataFrame, id_col: str = "vec_id",
                 emb_col: str = "embedding",
                 n_queries: int = 10, k: int = 3) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket."""
    with_b = df.select(
        F.col(id_col),
        F.col(emb_col),
        lsh_bucket_col(F.col(emb_col)).alias("bucket"),
        norm_col(F.col(emb_col)).alias("nrm"),
    )
    q = with_b.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"),
        "bucket", F.col("nrm").alias("q_norm"),
    )
    c = with_b.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb"),
        "bucket", F.col("nrm").alias("c_norm"),
    )
    joined = q.join(c, "bucket").filter(F.col("neighbor_id") != F.col("query_id"))
    cos = dot_col(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r"))
    )


def ann_lsh_topk_sql(table: str = "embeddings", id_col: str = "vec_id",
                     emb_col: str = "embedding",
                     n_queries: int = 10, k: int = 3) -> str:
    cos = cosine_sql("q.q_emb", "c.c_emb")
    b = lsh_bucket_sql(emb_col)
    return (
        f"WITH wb AS (SELECT {id_col}, {emb_col}, {b} AS bucket FROM {table}), "
        f"q AS (SELECT {id_col} AS query_id, {emb_col} AS q_emb, bucket FROM wb "
        f"WHERE {id_col} < {n_queries}), "
        f"c AS (SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb, bucket FROM wb), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id) AS rank "
        f"FROM q JOIN c USING (bucket) WHERE neighbor_id <> query_id) "
        f"SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r "
        f"FROM scored WHERE rank <= {k}"
    )


def ann_lsh_multi_topk(df: DataFrame, id_col: str = "vec_id",
                       emb_col: str = "embedding",
                       n_queries: int = 10, k: int = 3,
                       n_tables: int = N_TABLES) -> DataFrame:
    """Multi-table LSH top-k: candidates share the query's bucket in
    ANY of the N_TABLES independent hyperplane tables (union →
    distinct pair → exact cosine re-rank). Raises recall over the
    single-table variant at the cost of L bucket joins — the
    production configuration; scale shape stays bucketed equi-joins,
    never all-pairs."""
    # stage the three 512-term bucket expressions as real columns
    # BEFORE the explode: inlined into the struct array they are
    # re-evaluated per output element and balloon the codegen/task
    # binary (OOMs a default-1g driver); staged, the explode input is
    # three column references
    staged = df.select(
        F.col(id_col), F.col(emb_col), norm_col(F.col(emb_col)).alias("nrm"),
        *[
            lsh_bucket_col(F.col(emb_col), TABLE_PLANES[t]).alias(f"_b{t}")
            for t in range(n_tables)
        ],
    )
    tb = F.explode(F.array(*[
        F.struct(F.lit(t).alias("t"), F.col(f"_b{t}").alias("bucket"))
        for t in range(n_tables)
    ])).alias("tb")
    with_b = staged.select(
        F.col(id_col), F.col(emb_col), F.col("nrm"), tb
    ).select(id_col, emb_col, "nrm", "tb.t", "tb.bucket")
    q = with_b.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(emb_col).alias("q_emb"),
        F.col("nrm").alias("q_norm"), "t", "bucket",
    )
    c = with_b.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb"),
        F.col("nrm").alias("c_norm"), "t", "bucket",
    )
    pairs = (
        q.join(c, ["t", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", "q_emb", "c_emb", "q_norm", "c_norm")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = dot_col(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        pairs.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r"))
    )


def ann_lsh_multi_topk_sql(table: str = "embeddings", id_col: str = "vec_id",
                           emb_col: str = "embedding",
                           n_queries: int = 10, k: int = 3) -> str:
    cos = cosine_sql("q_emb", "c_emb")
    buckets = " UNION ALL ".join(
        f"SELECT {id_col}, {emb_col}, {t} AS t, "
        f"{lsh_bucket_sql(emb_col, TABLE_PLANES[t])} AS bucket FROM {table}"
        for t in range(N_TABLES)
    )
    return (
        f"WITH wb AS ({buckets}), "
        f"q AS (SELECT {id_col} AS query_id, {emb_col} AS q_emb, t, bucket "
        f"FROM wb WHERE {id_col} < {n_queries}), "
        f"c AS (SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb, t, bucket FROM wb), "
        f"pairs AS (SELECT DISTINCT query_id, neighbor_id, q_emb, c_emb "
        f"FROM q JOIN c USING (t, bucket) WHERE neighbor_id <> query_id), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id) AS rank "
        f"FROM pairs) "
        f"SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r "
        f"FROM scored WHERE rank <= {k}"
    )


# ------------------------------------------------------------------ ivf
# Deterministic seeded centroids (a production IVF trains these with
# k-means; a fixed codebook keeps the oracle exact and the plumbing —
# assignment, inverted lists, multi-probe — identical).
N_CENTROIDS = 16
N_PROBE = 2


def _centroids(dim: int = EMB_DIM, n: int = N_CENTROIDS, seed: int = 11):
    rng = np.random.default_rng(seed)
    c = rng.standard_normal((n, dim)).round(6)
    return c


CENTROIDS = _centroids()
CENTROID_NORMS = [float(np.sqrt((c * c).sum())) for c in CENTROIDS]


def centroid_cos_array_sql(emb: str, nrm: str) -> str:
    parts = []
    for i, cent in enumerate(CENTROIDS):
        dot = " + ".join(
            f"{float(w)!r} * CAST({emb}[{j + 1}] AS DOUBLE)"
            for j, w in enumerate(cent)
        )
        parts.append(f"((0.0 + {dot}) / ({nrm} * {CENTROID_NORMS[i]!r}))")
    return "[" + ", ".join(parts) + "]"


def _ivf_body(base: DataFrame, id_col: str, emb_col: str,
              n_queries: int, k: int, nprobe: int) -> DataFrame:
    """Shared IVF probe/re-rank stage over a ``base`` carrying
    (id, emb, nrm, _ca, cell): nprobe closest lists per query →
    (cell) equi-join → exact cosine top-k within candidates."""
    q = base.filter(F.col(id_col) < n_queries)
    probes = (
        q.select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("q_emb"),
            F.col("nrm").alias("q_norm"),
            F.posexplode(F.col("_ca")).alias("cidx0", "ccos"),
        )
        .withColumn("cidx", F.col("cidx0") + 1)
        .withColumn("prk", F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("ccos").desc(), F.col("cidx"))))
        .filter(F.col("prk") <= nprobe)
        .select("query_id", "q_emb", "q_norm", F.col("cidx").alias("cell"))
    )
    c = base.select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("c_emb"),
        F.col("nrm").alias("c_norm"), "cell",
    )
    joined = probes.join(c, "cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = dot_col(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_norm") * F.col("c_norm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cos"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", 6).alias("cos_r"))
    )


def _cell_assign(df: DataFrame, id_col: str, emb_col: str,
                 centroids: list[list[float]] | None = None) -> DataFrame:
    """(id, emb, nrm, _ca, cell): cosine to every centroid (``_ca``,
    one broadcast Arrow-kernel pass, ops/embkernel) and the nearest
    centroid's 1-based id (first max ⇒ lowest cell wins ties) —
    shared by IVF ANN and SemDeDup.

    ``centroids`` None → the seeded module codebook, scored with the
    same pre-computed ``CENTROID_NORMS`` its oracle bakes; a runtime
    codebook (k-means output) folds its norms left to right, like the
    trained oracles."""
    from .embkernel import centroid_cos_broadcast_col

    ca = centroid_cos_broadcast_col(
        df, CENTROIDS.tolist() if centroids is None else centroids, emb_col,
        cnorms=CENTROID_NORMS if centroids is None else None)
    return df.select(
        F.col(id_col), F.col(emb_col),
        norm_col(F.col(emb_col)).alias("nrm"),
        ca.alias("_ca"),
    ).select(
        id_col, emb_col, "nrm", "_ca",
        F.array_position(F.col("_ca"), F.array_max(F.col("_ca")))
        .cast("int").alias("cell"),
    )


def ann_ivf_topk(df: DataFrame, id_col: str = "vec_id",
                 emb_col: str = "embedding",
                 n_queries: int = 10, k: int = 3,
                 nprobe: int = N_PROBE) -> DataFrame:
    """IVF approximate top-k: vectors land in the inverted list of
    their nearest centroid; a query probes its ``nprobe`` closest
    lists; exact cosine only within the probed lists.

    Scale shape: assignment is one broadcast-kernel scoring pass; the
    probe join is a (centroid_id) equi-join — candidates per query ≈
    nprobe/C of the corpus, never all-pairs; raising nprobe trades
    cost for recall.
    """
    return _ivf_body(_cell_assign(df, id_col, emb_col), id_col, emb_col,
                     n_queries, k, nprobe)


def ann_ivf_trained_topk(df: DataFrame, id_col: str = "vec_id",
                         emb_col: str = "embedding",
                         n_queries: int = 10, k: int = 3,
                         nprobe: int = N_PROBE, k_clusters: int = 8,
                         iters: int = 2, dim: int = EMB_DIM) -> DataFrame:
    """IVF whose codebook is TRAINED in-job (``ops/clustering``
    Lloyd's) instead of seeded — the full train → index → search
    composition.  Training adds ``iters - 1`` tiny map-side-combined
    aggregations up front; the search plan is then identical in shape
    to ``ann_ivf_topk`` (kernel assignment, (cell) equi-join probes,
    exact re-rank on candidates only)."""
    from .clustering import kmeans_train

    cents = kmeans_train(df, k=k_clusters, iters=iters, id_col=id_col,
                         emb_col=emb_col, dim=dim)
    return _ivf_body(_cell_assign(df, id_col, emb_col, cents), id_col,
                     emb_col, n_queries, k, nprobe)


def ann_ivf_trained_topk_sql(table: str = "embeddings",
                             id_col: str = "vec_id",
                             emb_col: str = "embedding",
                             n_queries: int = 10, k: int = 3,
                             nprobe: int = N_PROBE, k_clusters: int = 8,
                             iters: int = 2, dim: int = EMB_DIM) -> str:
    """Oracle: the k-means training CTE chain (bit-identical to the
    Spark trainer) feeds centroid rows; assignment/probing computes
    cosines against those rows instead of baked literals."""
    from .clustering import kmeans_ctes

    parts, cfinal = kmeans_ctes(table, k_clusters, iters, id_col,
                                emb_col, dim)
    cdot = (f"(0.0 + list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> CAST(b.e[i] AS DOUBLE) * t.cent[i]), (x, y) -> x + y))")
    cnorm = (f"sqrt(0.0 + list_reduce(list_transform("
             f"generate_series(1, {dim}), i -> cent[i] * cent[i]), "
             f"(x, y) -> x + y))")
    vnorm_terms = (f"list_transform(generate_series(1, {dim}), "
                   f"i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))")
    vnorm = f"sqrt(0.0 + list_reduce({vnorm_terms}, (x, y) -> x + y))"
    ccos = f"({cdot} / (b.nrm * t.cnorm))"
    cos = cosine_sql("p.q_emb", "c.c_emb")
    parts += [
        (f"codebook AS (SELECT cluster, cent, {cnorm} AS cnorm "
         f"FROM {cfinal})"),
        f"vecs AS (SELECT vid, e, {vnorm} AS nrm FROM emb)",
        (f"cellcos AS (SELECT b.vid, b.e, b.nrm, t.cluster, {ccos} AS ccos, "
         f"row_number() OVER (PARTITION BY b.vid "
         f"ORDER BY {ccos} DESC, t.cluster) AS crk "
         f"FROM vecs b CROSS JOIN codebook t)"),
        "assigned AS (SELECT vid, e, cluster AS cell FROM cellcos WHERE crk = 1)",
        (f"p AS (SELECT vid AS query_id, e AS q_emb, cluster AS cell "
         f"FROM cellcos WHERE vid < {n_queries} AND crk <= {nprobe})"),
        "c AS (SELECT vid AS neighbor_id, e AS c_emb, cell FROM assigned)",
        (f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos, "
         f"row_number() OVER (PARTITION BY query_id "
         f"ORDER BY {cos} DESC, neighbor_id) AS rank "
         f"FROM p JOIN c USING (cell) WHERE neighbor_id <> query_id)"),
    ]
    return (
        "WITH " + ", ".join(parts) +
        f" SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, "
        f"round(cos, 6) AS cos_r FROM scored WHERE rank <= {k}"
    )


def ann_ivf_topk_sql(table: str = "embeddings", id_col: str = "vec_id",
                     emb_col: str = "embedding",
                     n_queries: int = 10, k: int = 3,
                     nprobe: int = N_PROBE) -> str:
    nrm = f"sqrt({dot_sql(emb_col, emb_col)})"
    ca = centroid_cos_array_sql(emb_col, nrm)
    cos = cosine_sql("p.q_emb", "c.c_emb")
    return (
        f"WITH base AS (SELECT {id_col}, {emb_col}, {ca} AS ca FROM {table}), "
        f"assigned AS (SELECT {id_col}, {emb_col}, "
        f"CAST(list_position(ca, list_max(ca)) AS INT) AS cell, ca FROM base), "
        f"qp AS (SELECT {id_col} AS query_id, {emb_col} AS q_emb, "
        f"u.cidx AS cell, ROW_NUMBER() OVER (PARTITION BY {id_col} "
        f"ORDER BY u.ccos DESC, u.cidx) AS prk "
        f"FROM assigned, LATERAL (SELECT unnest(ca) AS ccos, "
        f"unnest(generate_series(1, {N_CENTROIDS})) AS cidx) u "
        f"WHERE {id_col} < {n_queries}), "
        f"p AS (SELECT query_id, q_emb, cell FROM qp WHERE prk <= {nprobe}), "
        f"c AS (SELECT {id_col} AS neighbor_id, {emb_col} AS c_emb, cell FROM assigned), "
        f"scored AS (SELECT query_id, neighbor_id, {cos} AS cos, "
        f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY {cos} DESC, neighbor_id) AS rank "
        f"FROM p JOIN c USING (cell) WHERE neighbor_id <> query_id) "
        f"SELECT query_id, neighbor_id, rank, ROUND(cos, 6) AS cos_r "
        f"FROM scored WHERE rank <= {k}"
    )


# --------------------------------------------- embedding near-dup pairs
def cosine_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                     emb_col: str = "embedding", label_col: str = "label",
                     threshold: float = 0.9) -> DataFrame:
    """Near-duplicate pairs by cosine within a blocking key (label)."""
    a = df.select(
        F.col(label_col),
        F.col(id_col).alias("vec_a"),
        F.col(emb_col).alias("emb_a"),
        norm_col(F.col(emb_col)).alias("norm_a"),
    )
    b = df.select(
        F.col(label_col),
        F.col(id_col).alias("vec_b"),
        F.col(emb_col).alias("emb_b"),
        norm_col(F.col(emb_col)).alias("norm_b"),
    )
    joined = a.join(b, label_col).filter(F.col("vec_a") < F.col("vec_b"))
    cos = dot_col(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    return (
        joined.select("vec_a", "vec_b", F.round(cos, 6).alias("cos_r"))
        .filter(F.col("cos_r") >= threshold)
    )


def cosine_dup_pairs_sql(table: str = "embeddings", id_col: str = "vec_id",
                         emb_col: str = "embedding", label_col: str = "label",
                         threshold: float = 0.9) -> str:
    cos = cosine_sql("a.emb_a", "b.emb_b")
    return (
        f"WITH a AS (SELECT {label_col}, {id_col} AS vec_a, {emb_col} AS emb_a FROM {table}), "
        f"b AS (SELECT {label_col}, {id_col} AS vec_b, {emb_col} AS emb_b FROM {table}) "
        f"SELECT vec_a, vec_b, ROUND({cos}, 6) AS cos_r "
        f"FROM a JOIN b USING ({label_col}) WHERE vec_a < vec_b "
        f"AND ROUND({cos}, 6) >= {threshold!r}"
    )


# ---------------------------------------------------- semantic dedup
def semantic_dedup(df: DataFrame, id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   threshold: float = 0.3, salt: int = 1,
                   centroids: list[list[float]] | None = None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are clustered by nearest centroid,
    and within each cluster a vector is DROPPED iff some lower-id
    vector in the same cluster has cosine similarity >= threshold
    (cosine rounded to 6 dp so both engines agree bit-for-bit).

    Scale shape: the centroid assignment is one broadcast Arrow-kernel
    pass (``centroids`` None → the seeded codebook, else e.g. a
    trained one); the only join is the within-cell self-join — the cells are
    the blocking key, so the pair space is sum(|cell|²), never n².
    At 100 TB the control knob is N_CENTROIDS (the paper uses ~11k
    clusters for 5B embeddings); skewed cells are split by raising
    it, exactly like IVF list sizing. Drop decisions against
    lower-id-in-cell (not against the transitively-kept set) keep the
    rule one anti-join instead of an iterative fixpoint — the
    standard practical relaxation.

    Output: (id, cell, keep) for every input row — an auditable
    keep/drop verdict, not just the survivor list.

    Plan note: the assignment is materialized through ONE explicit
    repartition(cell) exchange so BOTH self-join sides read the same
    shuffle via ReusedExchange instead of each re-scanning the table
    and re-running the centroid-scoring kernel (3 scans → 2 in the
    physical plan). The remaining scan is the verdict join-back,
    which column-pruning reduces to (id, cell) — at petabyte scale
    persist the assignment explicitly if even that pass matters.

    ``salt`` (skew lever, BENCH/ANN.md "skew note for 100 TB" made
    code): with salt=s > 1 each cell's O(|cell|²) pair space is split
    across s sub-blocks — side b gets a deterministic sub-block key
    xxhash64(id) % s, side a is replicated once per sub-block, and
    the self-join key becomes (cell, sub-block). Per-task work drops
    to |cell|²/s (the straggler bound under clustered embeddings)
    for an s× replication of the smaller a-projection; the pair
    space — and therefore the output — is EXACTLY the unsalted one
    (parity-asserted in tests/test_webtext_ops.py).
    """
    if salt < 1:
        raise ValueError(f"salt must be >= 1, got {salt}")
    base = (_cell_assign(df, id_col, emb_col, centroids).drop("_ca")
            .repartition(F.col("cell")))
    a = base.select(
        F.col("cell"),
        F.col(id_col).alias("_ia"), F.col(emb_col).alias("_ea"),
        F.col("nrm").alias("_na"),
    )
    b = base.select(
        F.col("cell"),
        F.col(id_col).alias("_ib"), F.col(emb_col).alias("_eb"),
        F.col("nrm").alias("_nb"),
    )
    join_key = ["cell"]
    if salt > 1:
        sub = F.pmod(F.xxhash64(F.col("_ib")), F.lit(salt)).cast("int")
        b = b.withColumn("_sub", sub)
        a = a.withColumn(
            "_sub",
            F.explode(F.array(*[F.lit(j) for j in range(salt)])),
        )
        join_key = ["cell", "_sub"]
    cos = F.round(
        dot_col(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb")),
        6,
    )
    drops = (
        a.join(b, join_key)
        .filter(F.col("_ia") < F.col("_ib"))
        .filter(cos >= threshold)
        .select(F.col("_ib").alias(id_col))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    return (
        base.join(drops, id_col, "left")
        .select(
            F.col(id_col), F.col("cell"),
            F.col("_drop").isNull().alias("keep"),
        )
    )


def semantic_dedup_sql(table: str = "embeddings", id_col: str = "vec_id",
                       emb_col: str = "embedding",
                       threshold: float = 0.3) -> str:
    nrm = f"sqrt({dot_sql(emb_col, emb_col)})"
    ca = centroid_cos_array_sql(emb_col, nrm)
    cos = cosine_sql("a._ea", "b._eb")
    return (
        f"WITH base AS (SELECT {id_col}, {emb_col}, "
        f"CAST(list_position({ca}, list_max({ca})) AS INT) AS cell "
        f"FROM {table}), "
        f"a AS (SELECT cell, {id_col} AS _ia, {emb_col} AS _ea FROM base), "
        f"b AS (SELECT cell, {id_col} AS _ib, {emb_col} AS _eb FROM base), "
        f"drops AS (SELECT DISTINCT _ib FROM a JOIN b USING (cell) "
        f"WHERE _ia < _ib AND ROUND({cos}, 6) >= {threshold!r}) "
        f"SELECT {id_col}, cell, (_ib IS NULL) AS keep "
        f"FROM base LEFT JOIN drops ON {id_col} = _ib"
    )


def semantic_dedup_trained(df: DataFrame, id_col: str = "vec_id",
                           emb_col: str = "embedding",
                           threshold: float = 0.3, k_clusters: int = 8,
                           iters: int = 2, dim: int = EMB_DIM,
                           salt: int = 1) -> DataFrame:
    """SemDeDup as the paper actually runs it (arXiv:2303.09540 §3):
    k-means is TRAINED on the corpus in-job (``ops/clustering``
    Lloyd's, the same trainer the IVF index uses), then duplicates
    are dropped within the trained clusters — cluster sizing tracks
    the data instead of a fixed seeded codebook.  Scoring is the
    broadcast Arrow kernel, as in ``ann_ivf_trained_topk``, so the
    composition holds at real embedding dimensions; ``salt`` passes
    through as the hot-cluster skew lever."""
    from .clustering import kmeans_train

    cents = kmeans_train(df, k=k_clusters, iters=iters, id_col=id_col,
                         emb_col=emb_col, dim=dim)
    return semantic_dedup(df, id_col=id_col, emb_col=emb_col,
                          threshold=threshold, salt=salt, centroids=cents)


def semantic_dedup_trained_sql(table: str = "embeddings",
                               id_col: str = "vec_id",
                               emb_col: str = "embedding",
                               threshold: float = 0.3,
                               k_clusters: int = 8, iters: int = 2,
                               dim: int = EMB_DIM) -> str:
    """Oracle: the k-means training CTE chain (bit-identical to the
    Spark trainer) feeds a cosine-argmax assignment (the trained-IVF
    oracle's cellcos/crk=1 pattern), then the within-cell lower-id
    drop rule of ``semantic_dedup_sql``."""
    from .clustering import kmeans_ctes

    parts, cfinal = kmeans_ctes(table, k_clusters, iters, id_col,
                                emb_col, dim)
    cdot = (f"(0.0 + list_reduce(list_transform(generate_series(1, {dim}), "
            f"i -> CAST(b.e[i] AS DOUBLE) * t.cent[i]), (x, y) -> x + y))")
    cnorm = (f"sqrt(0.0 + list_reduce(list_transform("
             f"generate_series(1, {dim}), i -> cent[i] * cent[i]), "
             f"(x, y) -> x + y))")
    vnorm_terms = (f"list_transform(generate_series(1, {dim}), "
                   f"i -> CAST(e[i] AS DOUBLE) * CAST(e[i] AS DOUBLE))")
    vnorm = f"sqrt(0.0 + list_reduce({vnorm_terms}, (x, y) -> x + y))"
    ccos = f"({cdot} / (b.nrm * t.cnorm))"
    cos = cosine_sql("_ea", "_eb")
    parts += [
        (f"codebook AS (SELECT cluster, cent, {cnorm} AS cnorm "
         f"FROM {cfinal})"),
        f"vecs AS (SELECT vid, e, {vnorm} AS nrm FROM emb)",
        (f"cellcos AS (SELECT b.vid, b.e, t.cluster, "
         f"row_number() OVER (PARTITION BY b.vid "
         f"ORDER BY {ccos} DESC, t.cluster) AS crk "
         f"FROM vecs b CROSS JOIN codebook t)"),
        ("assigned AS (SELECT vid, e, CAST(cluster AS INT) AS cell "
         "FROM cellcos WHERE crk = 1)"),
        "pa AS (SELECT cell, vid AS _ia, e AS _ea FROM assigned)",
        "pb AS (SELECT cell, vid AS _ib, e AS _eb FROM assigned)",
        (f"drops AS (SELECT DISTINCT _ib FROM pa JOIN pb USING (cell) "
         f"WHERE _ia < _ib AND ROUND({cos}, 6) >= {threshold!r})"),
    ]
    return (
        "WITH " + ", ".join(parts) +
        f" SELECT vid AS {id_col}, cell, (_ib IS NULL) AS keep "
        f"FROM assigned LEFT JOIN drops ON vid = _ib"
    )
