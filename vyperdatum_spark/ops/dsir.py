"""DSIR-style data selection: hashed n-gram importance weights
(Xie et al., arXiv:2302.03169 — "Data Selection for Language Models
via Importance Resampling").

Estimate two bag-of-hashed-ngram distributions — a TARGET domain
(here: the ``lang = 'en'`` slice, the exemplar of "data I want more
of") and the RAW corpus — then score every raw document by its log
importance weight  Σ_grams  ln(p_target(bucket) / p_raw(bucket)).
High-weight documents look like the target domain; selection keeps
the top slice (at production scale via a quantile threshold, not a
global sort — see ``ops/quantiles``).

Spark-first shape:

- **training** shares the scoring aggregation: the corpus-level B=64
  bucket counts (raw + target, add-one smoothed) are COLUMN SUMS of
  the per-document count matrix that scoring needs anyway, so the
  corpus is exploded and scanned exactly once; the resulting λ_b =
  ln(p̂_t(b)/p̂_r(b)) table is tiny and baked as a 64-slot literal
  array.
- **scoring** is explode → groupBy(id): per-(doc, bucket) counts come
  out of one id-keyed aggregation (exact integers, map-side combined),
  then weight = Σ_b n_b·λ_b is folded in BUCKET order as unrolled
  codegen arithmetic — deterministic on both engines because the
  integer counts make the fold order-insensitive (the DuckDB oracle
  recomputes the training in CTEs and folds the same bucket-count
  vector).  One shuffle keyed by the document id, zero Python; the
  scan-side ``aggregate ∘ transform`` alternative was measured ~5×
  slower (interpreted CodegenFallback per row).

Features are unigrams + word bigrams hashed to 64 buckets with the
repo's portable ``hash60`` (md5-prefix) device.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash60_sql, hash_bucket, shingles_from_tokens, tokens_col

N_BUCKETS = 64


def _grams_sql(toks: str) -> str:
    bi = (f"list_transform(generate_series(1, len({toks}) - 1), "
          f"i -> {toks}[i] || ' ' || {toks}[i + 1])")
    return f"list_concat({toks}, {bi})"


def _bucket_sql(g: str) -> str:
    return f"({hash60_sql(g)} % {N_BUCKETS})"


def _bucketed_grams(df: DataFrame, target_filter: Column, id_col: str,
                    text_col: str) -> DataFrame:
    """(id, is_t, b) — one gram (unigrams ++ word bigrams, in document
    order) per row with its hash bucket."""
    toks = F.col("_toks")
    return (
        df.select(
            F.col(id_col),
            target_filter.cast("long").alias("is_t"),
            tokens_col(F.col(text_col)).alias("_toks"),
        )
        .select(
            F.col(id_col), "is_t",
            F.explode(F.concat(toks, shingles_from_tokens(toks, 2))).alias("g"),
        )
        .select(F.col(id_col), "is_t", hash_bucket(F.col("g"), N_BUCKETS).alias("b"))
    )


def dsir_weights(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text",
                 target_lang: str = "en") -> DataFrame:
    """(id, n_grams, weight, avg_weight) — per-document DSIR log
    importance weight vs the ``lang = target_lang`` target slice.

    Scoring shape: explode grams → md5 bucket → 64 conditional-sum
    aggregates per document, then weight = Σ_b n_b·λ_b folded in
    BUCKET order as unrolled codegen arithmetic.  The per-(doc,
    bucket) counts are exact integers, so the bucket-order fold is
    deterministic on both engines — unlike a per-gram shuffle sum —
    and the whole plan (Generate, md5, sums, fold) is whole-stage
    codegen with map-side partial aggregation (a per-row interpreted
    HOF fold over the grams was measured ~5× slower).

    Training shares the SAME per-doc aggregation instead of re-reading
    the raw gram table: the corpus bucket counts are column sums of
    the per-doc count matrix (exact integers either way, so the
    lambdas are bit-identical to training from raw grams — the oracle
    still trains from raw grams and matches).  Only the SMALL
    aggregate (n_docs × 65) is materialized (``localCheckpoint``, so
    blocks are released by the ContextCleaner when the returned plan
    is GC'd — ADVICE r4); the heavy explode + md5 pass runs once and
    is never cached (r5: checkpointing the exploded gram table was
    measured 2.4× slower end-to-end than this shape)."""
    bk = _bucketed_grams(df, F.col("lang") == target_lang, id_col,
                         text_col)
    # two-stage count-matrix build (r5 perf): the gram-level pass
    # keeps ONE count buffer keyed by (id, bucket) — map-side combine
    # shrinks the 64-aggregate conditional work from every gram row
    # (~50 grams/doc) to the n_docs×64 pre-aggregate (measured 2.3×
    # end-to-end vs running the 65-buffer aggregation over raw grams);
    # the unrolled 64-column widening is bit-identical either way
    # (exact integer counts)
    cnt = bk.groupBy(id_col, "b").agg(
        F.count(F.lit(1)).cast("double").alias("_c"),
        F.max("is_t").alias("_t"),
    )
    # wide aggregate lists built as SQL strings + one F.expr each (r6):
    # the Column-DSL form paid ~2.3 s of py4j round-trips per build
    # (cProfile — same trap as the transform staged expressions);
    # parsed trees identical (0.0D double literals, same CASE shape)
    agg = cnt.groupBy(id_col).agg(
        F.max("_t").alias("_is_t"),
        *[
            F.expr(f"sum(CASE WHEN b = {i} THEN _c ELSE 0.0D END)")
            .alias(f"_n{i}")
            for i in range(N_BUCKETS)
        ],
    ).localCheckpoint()
    tot = agg.agg(
        *[F.expr(f"sum(_n{i})").alias(f"r{i}") for i in range(N_BUCKETS)],
        *[
            F.expr(f"sum(CASE WHEN _is_t = 1 THEN _n{i} ELSE 0.0D END)")
            .alias(f"t{i}")
            for i in range(N_BUCKETS)
        ],
    ).collect()[0]
    r = [int(tot[f"r{i}"] or 0) for i in range(N_BUCKETS)]
    t = [int(tot[f"t{i}"] or 0) for i in range(N_BUCKETS)]
    rr, tt = sum(r), sum(t)
    lam = [
        math.log(
            ((t[b] + 1.0) / (tt + N_BUCKETS))
            / ((r[b] + 1.0) / (rr + N_BUCKETS))
        )
        for b in range(N_BUCKETS)
    ]
    # same left-assoc folds as before, rendered once as SQL text
    s = "0.0D"
    n = "0.0D"
    for i in range(N_BUCKETS):
        s = f"({s} + (_n{i} * {lam[i]!r}D))"
        n = f"({n} + _n{i})"
    return agg.selectExpr(
        f"`{id_col}`",
        f"CAST({n} AS BIGINT) AS n_grams",
        f"round({s}, 6) AS weight",
        f"round({s} / {n}, 6) AS avg_weight",
    )


def dsir_weights_sql(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text",
                     target_lang: str = "en") -> str:
    """Oracle: recomputes the training (same explode/agg, same add-one
    smoothing, missing buckets filled via generate_series LEFT JOIN)
    and folds Σ_b n_b·λ_b over the per-document bucket-count vector in
    the same BUCKET order as the Spark side's unrolled sum."""
    b = _bucket_sql("g")
    lam_expr = (
        f"ln(((coalesce(bc.t, 0) + 1.0) / (tot.tt + {N_BUCKETS})) / "
        f"((coalesce(bc.r, 0) + 1.0) / (tot.rr + {N_BUCKETS})))"
    )
    return (
        f"WITH toked AS (SELECT {id_col}, lang, "
        f"string_split({text_col}, ' ') AS toks FROM {table}), "
        f"gr AS (SELECT {id_col}, lang, {_grams_sql('toks')} AS gs "
        f"FROM toked), "
        f"flat AS (SELECT lang, unnest(gs) AS g FROM gr), "
        f"bc AS (SELECT {b} AS b, count(*) AS r, "
        f"sum(CASE WHEN lang = '{target_lang}' THEN 1 ELSE 0 END) AS t "
        f"FROM flat GROUP BY 1), "
        f"tot AS (SELECT sum(r) AS rr, sum(t) AS tt FROM bc), "
        f"lam AS (SELECT gs.b, {lam_expr} AS lam "
        f"FROM generate_series(0, {N_BUCKETS - 1}) gs(b) "
        f"LEFT JOIN bc USING (b) CROSS JOIN tot), "
        f"ltab AS (SELECT list(lam ORDER BY b) AS ll FROM lam), "
        f"bks AS (SELECT {id_col}, "
        f"list_transform(gs, g -> {b}) AS bl, len(gs) AS n_grams "
        f"FROM gr), "
        f"nv AS (SELECT {id_col}, n_grams, "
        f"list_transform(generate_series(0, {N_BUCKETS - 1}), "
        f"b -> CAST(len(list_filter(bl, x -> x = b)) AS DOUBLE)) AS cnt "
        f"FROM bks), "
        f"scored AS (SELECT {id_col}, n_grams, "
        f"(0.0 + list_reduce(list_transform("
        f"generate_series(1, {N_BUCKETS}), i -> cnt[i] * ll[i]), "
        f"(x, y) -> x + y)) AS s "
        f"FROM nv CROSS JOIN ltab) "
        f"SELECT {id_col}, CAST(n_grams AS BIGINT) AS n_grams, "
        f"round(s, 6) AS weight, "
        f"round(s / CAST(n_grams AS DOUBLE), 6) AS avg_weight FROM scored"
    )
