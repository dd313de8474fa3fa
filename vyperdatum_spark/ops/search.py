"""BM25 keyword search — the lexical complement to ``ops/similarity``'s
embedding ANN (a training-data pipeline needs both: ANN for semantic
retrieval, BM25 for exact-term retrieval/inspection).

Spark-first shape (term-at-a-time over a literal query set):

- **No explode, no postings shuffle for scoring**: per-document term
  frequencies for the (few) query terms are pure column math —
  ``size(filter(toks, x == t))`` per literal term — so the corpus scan
  stays one pass of whole-stage codegen.  The classic inverted-index
  build (explode → groupBy) is only worth materializing when the
  query workload is unbounded; for a fixed query set the scan-side
  evaluation reads strictly less data than building the index.
- **Tiny eager stats pass**: one aggregation computes N, avgdl and
  per-term document frequencies (sums of ints — exact in double), and
  the resulting idf values are baked as literals.
- **Scoring** sums per-term BM25 contributions in a FIXED literal
  order (sorted terms), every operand cast to double with matching
  parenthesization on the oracle side, so scores are bit-identical
  (mod 1-ulp libm ``ln`` divergence, absorbed by round-6).
- **Top-k**: docs with zero matched terms are filtered BEFORE the
  window (candidates only — at 10^12 docs the sort input is the
  posting-list union, not the corpus), then row_number per query over
  (score desc, doc_id).

BM25 (Robertson/Spärck Jones): idf = ln((N - df + 0.5)/(df + 0.5) + 1),
contrib = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import hash60, hash60_sql, tokens_col

K1 = 1.2
B = 0.75
TOP_K = 10

# (query_id, terms) — a fixed literal workload over the synthetic
# document vocabulary; terms are kept sorted so both engines fold
# contributions in the same order.
SEARCH_QUERIES: list[tuple[int, list[str]]] = [
    (1, ["merge", "vector"]),
    (2, ["join", "spark", "window"]),
    (3, ["customer", "filter", "slow"]),
]


N_TOPK_SALTS = 16


def _topk_per_qid(cand: DataFrame, id_col: str, score_col: str,
                  k: int) -> DataFrame:
    """Two-phase top-k per qid — the scale-safe replacement for a
    window partitioned by qid alone: with a literal handful of
    queries, a plain window funnels EVERY candidate into ≤|queries|
    tasks (a single-partition sort at corpus scale).  Phase 1 takes a
    local top-k within (qid, salt = hash(id) % 16) — 16-way parallel,
    candidate volume cut to ≤ 16k rows/query — and phase 2 ranks the
    survivors.  The union of per-salt top-ks contains the global
    top-k, so the result is row-identical to the single window (ties
    broken by id both times)."""
    salt = F.pmod(F.hash(F.col(id_col)), F.lit(N_TOPK_SALTS))
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.desc(score_col), F.col(id_col))
    w2 = Window.partitionBy("qid").orderBy(
        F.desc(score_col), F.col(id_col))
    return (
        cand.withColumn("_salt", salt)
        .withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .drop("_salt", "_r1")
    )


def _tf_col(toks: Column, term: str) -> Column:
    return F.size(F.filter(toks, lambda x: x == F.lit(term)))


def _contrib(tf: Column, dl: Column, idf: float, avgdl: float) -> Column:
    """idf * (tf*2.2) / (tf + 1.2*(0.25 + 0.75*(dl/avgdl))) with the
    exact parenthesization the oracle uses.  tf == 0 contributes an
    exact 0.0 (numerator zero), keeping the fold uniform."""
    tfd = tf.cast("double")
    dld = dl.cast("double")
    denom = tfd + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * (dld / F.lit(avgdl)))
    return (F.lit(idf) * (tfd * F.lit(K1 + 1.0))) / denom


def _idf(n: int, df_t: int) -> float:
    import math

    return math.log((n - df_t + 0.5) / (df_t + 0.5) + 1.0)


def _query_list(queries: list[tuple[int, list[str]]] | None):
    """``queries``, or the seeded SEARCH_QUERIES when None. An empty
    list is refused on the driver: its plan would fail deep in Spark
    analysis (an empty ``array()`` is typed VOID)."""
    queries = SEARCH_QUERIES if queries is None else queries
    if not queries:
        raise ValueError("queries is empty: pass at least one (qid, terms) pair")
    return queries


def bm25_topk(df: DataFrame, queries: list[tuple[int, list[str]]] | None = None,
              id_col: str = "doc_id", text_col: str = "text",
              k: int = TOP_K) -> DataFrame:
    """(qid, doc_id, score, rank) — BM25 top-k per query.  Scores are
    rounded to 6 dp and the rank is computed on the ROUNDED score so
    the ordering is engine-portable."""
    queries = _query_list(queries)
    all_terms = sorted({t for _, ts in queries for t in ts})
    toks = tokens_col(F.col(text_col))
    dl = F.size(toks)
    # stage the narrow (id, dl, tf…) base ONCE (r6, guide §8 "decide
    # with small rows"): the stats pass and the scoring pass both need
    # only these few ints per doc, so tokenizing the corpus twice —
    # once inside corpus_stats, once for scoring — paid double the
    # dominant cost.  The checkpointed base is O(|terms|) ints/doc;
    # stats become integer sums over it, bit-identical to the
    # corpus_stats formulation (same counts → same idf doubles).
    base = df.select(
        F.col(id_col),
        dl.alias("dl"),
        *[_tf_col(toks, t).alias(f"tf_{t}") for t in all_terms],
    ).localCheckpoint()
    row = base.select(
        F.count(F.lit(1)).alias("n"),
        F.sum("dl").alias("total"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{i}")
            for i, t in enumerate(all_terms)
        ],
    ).collect()[0]
    n = int(row["n"])
    avgdl = float(row["total"]) / n
    dfs = {t: int(row[f"df_{i}"]) for i, t in enumerate(all_terms)}
    idf = {t: _idf(n, dfs[t]) for t in all_terms}
    per_q = []
    for qid, terms in queries:
        terms = sorted(terms)
        score = F.lit(0.0)
        matched = F.lit(0)
        for t in terms:
            score = score + _contrib(F.col(f"tf_{t}"), F.col("dl"),
                                     idf[t], avgdl)
            matched = matched + F.col(f"tf_{t}")
        per_q.append(F.struct(
            F.lit(qid).alias("qid"),
            F.round(score, 6).alias("score"),
            matched.alias("matched"),
        ))
    # one corpus scan for ALL queries: per-query (score, matched)
    # structs stacked with a single explode, then non-matches dropped
    cand = (
        base.select(F.col(id_col), F.explode(F.array(*per_q)).alias("q"))
        .where(F.col("q.matched") > 0)
        .select(F.col("q.qid").alias("qid"), F.col(id_col),
                F.col("q.score").alias("score"))
    )
    return _topk_per_qid(cand, id_col, "score", k).select(
        "qid", id_col, "score", "rank"
    )


def bm25_topk_sql(table: str = "documents",
                  queries: list[tuple[int, list[str]]] | None = None,
                  id_col: str = "doc_id", text_col: str = "text",
                  k: int = TOP_K) -> str:
    """DuckDB oracle with the same literal fold order and
    parenthesization; N/avgdl/df computed in CTEs (bit-equal to the
    Spark side's eager stats — integer sums + one IEEE division)."""
    queries = queries if queries is not None else SEARCH_QUERIES
    all_terms = sorted({t for _, ts in queries for t in ts})

    def tf(t: str) -> str:
        return f"len(list_filter(toks, x -> x = '{t}'))"

    tf_cols = ", ".join(f"{tf(t)} AS tf_{t}" for t in all_terms)
    df_cols = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in all_terms
    )
    selects = []
    for qid, terms in queries:
        terms = sorted(terms)
        score = "0.0"
        matched = "0"
        for t in terms:
            idf = (f"ln((CAST(s.n - s.df_{t} AS DOUBLE) + 0.5) / "
                   f"(CAST(s.df_{t} AS DOUBLE) + 0.5) + 1.0)")
            denom = (f"(CAST(tf_{t} AS DOUBLE) + {K1} * ({1.0 - B} + "
                     f"{B} * (CAST(dl AS DOUBLE) / s.avgdl)))")
            score = (f"({score} + ({idf} * "
                     f"(CAST(tf_{t} AS DOUBLE) * {K1 + 1.0})) / {denom})")
            matched = f"({matched} + tf_{t})"
        selects.append(
            f"SELECT {qid} AS qid, {id_col}, round({score}, 6) AS score "
            f"FROM base, stats s WHERE {matched} > 0"
        )
    union = " UNION ALL ".join(selects)
    return (
        f"WITH toked AS (SELECT {id_col}, "
        f"string_split({text_col}, ' ') AS toks FROM {table}), "
        f"base AS (SELECT {id_col}, len(toks) AS dl, {tf_cols} FROM toked), "
        f"stats AS (SELECT count(*) AS n, "
        f"CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, {df_cols} FROM base), "
        f"cand AS ({union}), "
        f"ranked AS (SELECT qid, {id_col}, score, CAST(row_number() OVER ("
        f"PARTITION BY qid ORDER BY score DESC, {id_col}) AS INT) AS rank "
        f"FROM cand) "
        f"SELECT qid, {id_col}, score, rank FROM ranked WHERE rank <= {k} "
        f"ORDER BY qid, rank"
    )


# ------------------------------------------------- hashed doc embeddings
# Feature-hashing embeddings (Weinberger et al. 2009): unit-L2 hashed
# unigram TF vectors.  No external model — the whole text→vector step
# is md5-bucket column math, so semantic ops (ANN, SemDeDup, k-means)
# compose onto raw documents with zero Python and zero shuffle.
EMBED_DIM = 64


def _bucket_col(t: Column) -> Column:
    return (hash60(t) % EMBED_DIM).cast("int")


def _bucket_sql(t: str) -> str:
    return f"({hash60_sql(t)} % {EMBED_DIM})"


def _bucket_py(t: str) -> int:
    import hashlib

    return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % EMBED_DIM


def doc_hash_embed(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, embedding array<double>[64]) — unit-L2 hashed-TF vector.

    Shape: explode tokens → md5 bucket → 64 conditional-sum aggregates
    (``dedup.minhash_sig_df``'s lesson, one step further): the whole
    pipeline — Generate, md5, the 64 sums, the unrolled norm — runs in
    whole-stage codegen with map-side partial aggregation, one shuffle
    keyed by the id.  The zero-shuffle scan-side alternative (per-row
    ``filter`` counts) is interpreted CodegenFallback and costs
    O(dim · n_tokens)/row of Python-speed expression walking — measured
    7× slower on the bench corpus.  The norm is the same left-assoc
    ``0.0 + c₀² + c₁² + …`` fold as the oracle's ``list_reduce``, so
    embeddings stay bit-exact."""
    toks = tokens_col(F.col(text_col))
    ex = df.select(F.col(id_col), F.explode(toks).alias("_t"))
    bk = ex.select(F.col(id_col), _bucket_col(F.col("_t")).alias("_b"))
    # two-stage count matrix (same shape as ops/dsir, r5): the
    # token-level pass keeps ONE count buffer keyed by (id, bucket) —
    # map-side combine — and the 64-column widening runs over the
    # n_docs×64 pre-aggregate instead of every token row; identical
    # values (exact integer counts)
    cnt = bk.groupBy(id_col, "_b").agg(
        F.count(F.lit(1)).cast("double").alias("_n"))
    # wide lists as SQL strings + one F.expr each (r6): the Column-DSL
    # builders paid ~1 s of py4j round-trips per build (same trap as
    # dsir/transform); parsed trees identical
    agg = cnt.groupBy(id_col).agg(*[
        F.expr(f"sum(CASE WHEN _b = {i} THEN _n ELSE 0.0D END)")
        .alias(f"_c{i}")
        for i in range(EMBED_DIM)
    ])
    nrm = "0.0D"
    for i in range(EMBED_DIM):
        nrm = f"({nrm} + (_c{i} * _c{i}))"
    # stage the norm as a REAL column (r6): referenced once per array
    # element, the inlined 64-term sum tree blows the projection up to
    # 64×64 terms — the repo's recurring O(n²) inlining trap (measured
    # ~5 s of the 6.7 s isolated widening stage at sf0.1)
    staged = agg.selectExpr("*", f"SQRT({nrm}) AS _nrm")
    return staged.selectExpr(
        f"`{id_col}`",
        "array(" + ", ".join(
            f"_c{i} / _nrm" for i in range(EMBED_DIM)
        ) + ") AS embedding",
    )


def _embed_counts_sql(text_col: str) -> str:
    """64-slot hashed-TF count vector over string_split(text_col)."""
    bks = f"list_transform(string_split({text_col}, ' '), t -> {_bucket_sql('t')})"
    return (f"list_transform(generate_series(0, {EMBED_DIM - 1}), "
            f"b -> CAST(len(list_filter({bks}, x -> x = b)) AS DOUBLE))")


def doc_hash_embed_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    counts = _embed_counts_sql(text_col)
    return (
        f"WITH c AS (SELECT {id_col}, {counts} AS cnt FROM {table}), "
        f"n AS (SELECT {id_col}, cnt, sqrt(0.0 + list_reduce("
        f"list_transform(cnt, c -> c * c), (x, y) -> x + y)) AS nrm FROM c) "
        f"SELECT {id_col}, list_transform(cnt, c -> c / nrm) AS embedding "
        f"FROM n ORDER BY {id_col}"
    )


# ----------------------------------------------- hybrid retrieval (RRF)
RRF_K = 60
HYBRID_TOP_K = 10


def _query_embed_py(terms: list[str]) -> list[float]:
    """Unit-L2 hashed-TF vector of the query terms, computed with the
    SAME md5-bucket device in pure Python — a query-derived constant
    baked identically into the Spark plan and the SQL oracle."""
    counts = [0.0] * EMBED_DIM
    for t in terms:
        counts[_bucket_py(t)] += 1.0
    acc = 0.0
    for c in counts:
        acc += c * c
    nrm = acc ** 0.5
    return [c / nrm for c in counts]


def hybrid_search_rrf(df: DataFrame,
                      queries: list[tuple[int, list[str]]] | None = None,
                      id_col: str = "doc_id", text_col: str = "text",
                      k: int = HYBRID_TOP_K) -> DataFrame:
    """Hybrid retrieval: BM25 (lexical) and hashed-embedding cosine
    (semantic) lists fused with reciprocal-rank fusion
    (Cormack et al. 2009): rrf = Σ_lists 1/(60 + rank).

    The vector leg here scores the full corpus per query (|queries| is
    a literal handful); at 10^12 docs it swaps in the trained-IVF
    probe (`ops/similarity.ann_ivf_trained_topk`) over the SAME
    hashed embeddings — the fusion join is unchanged."""
    queries = _query_list(queries)
    bm = bm25_topk(df, queries=queries, id_col=id_col,
                   text_col=text_col, k=k).select(
        "qid", id_col, F.col("rank").alias("rank_bm"))
    emb = doc_hash_embed(df, id_col=id_col, text_col=text_col)
    qvs = [_query_embed_py(sorted(terms)) for _qid, terms in queries]
    from .embkernel import dot_array_broadcast_col

    # all queries at once: one Arrow matmul against the broadcast
    # |q|×dim query matrix, exploded back to (qid, doc, dot)
    qid_arr = F.array(*[F.lit(q) for q, _t in queries])
    vec_cand = (
        emb.select(
            F.col(id_col),
            F.posexplode(
                dot_array_broadcast_col(emb, qvs, "embedding")
            ).alias("_qi", "dot"),
        )
        .select(F.element_at(qid_arr, F.col("_qi") + 1).alias("qid"),
                id_col, "dot")
    )
    vec = _topk_per_qid(vec_cand, id_col, "dot", k).select(
        "qid", id_col, F.col("rank").alias("rank_v")
    )
    fused = bm.join(vec, ["qid", id_col], "full_outer")
    rrf = (
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_bm")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_v")), F.lit(0.0))
    )
    # fusion input is ≤ 2k rows per query — a plain window is fine here
    w = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.col(id_col))
    return (
        fused.select("qid", id_col, F.round(rrf, 6).alias("rrf"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("qid", id_col, "rrf", "rank")
    )


def hybrid_search_rrf_sql(table: str = "documents",
                          queries: list[tuple[int, list[str]]] | None = None,
                          id_col: str = "doc_id", text_col: str = "text",
                          k: int = HYBRID_TOP_K) -> str:
    queries = queries if queries is not None else SEARCH_QUERIES
    bm = bm25_topk_sql(table, queries=queries, id_col=id_col,
                       text_col=text_col, k=k)
    counts = _embed_counts_sql(text_col)
    vec_selects = []
    for qid, terms in queries:
        qv = _query_embed_py(sorted(terms))
        qlist = "[" + ", ".join(repr(v) for v in qv) + "]"
        dot = (f"(0.0 + list_reduce(list_transform("
               f"generate_series(1, {EMBED_DIM}), "
               f"i -> emb[i] * ({qlist})[i]), (x, y) -> x + y))")
        vec_selects.append(
            f"SELECT {qid} AS qid, {id_col}, {dot} AS dot FROM embdocs"
        )
    vec_union = " UNION ALL ".join(vec_selects)
    return (
        f"WITH bmtop AS ({bm}), "
        f"ecnt AS (SELECT {id_col}, {counts} AS cnt FROM {table}), "
        f"enrm AS (SELECT {id_col}, cnt, sqrt(0.0 + list_reduce("
        f"list_transform(cnt, c -> c * c), (x, y) -> x + y)) AS nrm "
        f"FROM ecnt), "
        f"embdocs AS (SELECT {id_col}, "
        f"list_transform(cnt, c -> c / nrm) AS emb FROM enrm), "
        f"vecscored AS ({vec_union}), "
        f"vectop AS (SELECT qid, {id_col}, rank_v FROM ("
        f"SELECT qid, {id_col}, row_number() OVER (PARTITION BY qid "
        f"ORDER BY dot DESC, {id_col}) AS rank_v FROM vecscored) "
        f"WHERE rank_v <= {k}), "
        f"fused AS (SELECT coalesce(b.qid, v.qid) AS qid, "
        f"coalesce(b.{id_col}, v.{id_col}) AS {id_col}, "
        f"round(coalesce(1.0 / ({RRF_K} + b.rank), 0.0) + "
        f"coalesce(1.0 / ({RRF_K} + v.rank_v), 0.0), 6) AS rrf "
        f"FROM bmtop b FULL OUTER JOIN vectop v "
        f"ON b.qid = v.qid AND b.{id_col} = v.{id_col}) "
        f"SELECT qid, {id_col}, rrf, CAST(rank AS INT) AS rank FROM ("
        f"SELECT qid, {id_col}, rrf, row_number() OVER ("
        f"PARTITION BY qid ORDER BY rrf DESC, {id_col}) AS rank "
        f"FROM fused) WHERE rank <= {k} ORDER BY qid, rank"
    )
