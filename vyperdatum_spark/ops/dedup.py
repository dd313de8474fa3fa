"""Deduplication operators for web-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band →
bucket-join), SimHash, and n-gram Jaccard — all expressed with
built-in ``pyspark.sql.functions`` column math (JVM-side, whole-stage
codegen; no Python UDFs anywhere), so each operator has an exactly
equivalent ANSI-SQL oracle built from the same constants.

Shared hash primitive (bit-identical in Spark, DuckDB and Python):
    h(s) = int64(first 15 hex chars of md5(s))        (60-bit, ≥ 0)
MinHash permutations: h_k = (a_k · (h mod P) + b_k) mod P with
P = 2^31 − 1 (Mersenne), a_k/b_k seeded — products stay < 2^62, so
the arithmetic is exact int64 everywhere.

At 100 TB scale: everything here is one shuffle per groupBy/join;
the LSH band join is an equi-join on (band_idx, band_val) — skew-safe
because near-duplicate buckets are small by construction; the O(n²)
same-language Jaccard join is a *verification* stage meant to run on
LSH candidates, not the full corpus (exposed separately so the
composed pipeline is LSH → verify).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MERSENNE_P = (1 << 31) - 1
N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_W = 3


def _perm_constants(k: int = N_MINHASH, seed: int = 42):
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=k, dtype=np.int64)
    b = rng.integers(0, MERSENNE_P, size=k, dtype=np.int64)
    return [(int(x), int(y)) for x, y in zip(a, b)]


PERMS = _perm_constants()


# ---------------------------------------------------------------- exact
def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical texts (md5 fingerprint)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_dups") > 1)
    )


def exact_duplicates_sql(table: str = "documents", id_col: str = "doc_id",
                         text_col: str = "text") -> str:
    return (
        f"SELECT md5({text_col}) AS content_md5, COUNT(*) AS n_dups, "
        f"MIN({id_col}) AS min_doc_id FROM {table} "
        f"GROUP BY md5({text_col}) HAVING COUNT(*) > 1"
    )


# ------------------------------------------------------------- shingles
def tokens_col(text: Column) -> Column:
    """The word tokenizer of every text op: split on each single space,
    so a double space yields an empty token, "" yields [""] and a NULL
    text a NULL array — Python's ``str.split`` with an explicit single
    space separator, and the oracles' ``string_split(text, ' ')``."""
    return F.split(text, " ")


def tokens_spark_sql(text: str) -> str:
    """:func:`tokens_col` as Spark SQL text over a column reference."""
    return f"split({text}, ' ')"


def shingles_from_tokens(toks: Column, w: int = SHINGLE_W) -> Column:
    """The word n-gram builder of every text op: the space-joined
    ``w``-token windows of a MATERIALIZED token-array column, in
    document order (Python ``[" ".join(t[i:i + w]) for i in
    range(len(t) - w + 1)]``); fewer than ``w`` tokens or NULL
    tokens give [].

    Two pitfalls shape this function:
    - Spark's sequence(1, 0) yields a DESCENDING [1, 0] (not an empty
      list like SQL generate_series) — short docs map to [] explicitly.
    - ``toks`` must be a real column, not an inlined split(): lambda
      bodies re-evaluate inlined subtrees per element, turning the
      shingle build into O(n_tokens²) string splitting per document
      (observed: 29 s for 5 k docs vs <2 s staged). Stage it in a
      projection below the ``Generate`` that explodes the grams; a
      Generate is not a Project, so CollapseProject keeps the staging."""
    n = F.size(toks) - (w - 1)
    sh = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(w)]),
    )
    return F.when(n >= 1, sh).otherwise(F.array().cast("array<string>"))


def shingled_df(df: DataFrame, id_col: str, text_col: str,
                w: int = SHINGLE_W, extra_cols: tuple = ()) -> DataFrame:
    """(id, [extra...], _sh array<string>) with tokens staged."""
    toks = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        tokens_col(F.col(text_col)).alias("_toks"),
    )
    return toks.select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        shingles_from_tokens(F.col("_toks"), w).alias("_sh"),
    )


def shingles_sql(text: str = "text", w: int = SHINGLE_W) -> str:
    parts = " || ' ' || ".join(f"w[i + {j}]" for j in range(w))
    return (
        f"list_transform(generate_series(1, greatest(len(string_split({text}, ' ')) - {w - 1}, 0)), "
        f"i -> {parts})".replace("w[", f"string_split({text}, ' ')[")
    )


def hash60(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def hash_bucket(col: Column, n: int) -> Column:
    """The feature-hashing bucket of every hashed-TF op: hash60 mod
    ``n``, as int."""
    return (hash60(col) % n).cast("int")


# -------------------------------------------------------------- minhash
def minhash_sig_df(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig array<long>) via STAGED projections.

    Materializing shingles → hashes → sig as separate select steps is
    load-bearing for performance: higher-order functions are
    interpreted (CodegenFallback), and inlining the shingle+md5
    pipeline into all 16 signature expressions both re-evaluates it
    16× per row and blows up Catalyst planning time (~60 s fixed cost
    observed). With materialized columns each stage is evaluated once
    per row."""
    sh = shingled_df(df, id_col, text_col)
    # explode + codegen'd min-aggregates: the per-row formulation (16
    # interpreted F.transform/array_min passes over the shingle-hash
    # array) is CodegenFallback; exploding once and taking
    # whole-stage-codegen MIN((a*h+b) % P) per permutation keeps the
    # md5 + permutation math JVM-side. Map-side partial aggregation
    # collapses to one row per (doc, partition) pre-shuffle. A doc too
    # short to shingle (explode_outer null) or with null text keeps
    # the empty-set signature [P, P, ...] via the coalesce.
    ex = sh.select(F.col(id_col), F.explode_outer(F.col("_sh")).alias("_s"))
    hx = ex.select(
        F.col(id_col), (hash60(F.col("_s")) % MERSENNE_P).alias("_h")
    )
    mins = [
        F.expr(
            f"coalesce(min((({a} * _h) + {b}) % {MERSENNE_P}), "
            f"CAST({MERSENNE_P} AS BIGINT))"
        ).alias(f"_m{i}")
        for i, (a, b) in enumerate(PERMS)
    ]
    agg = hx.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col),
        F.array(*[F.col(f"_m{i}") for i in range(len(PERMS))]).alias("sig"),
    )


def minhash_sql(text: str = "text") -> str:
    hashes = (
        f"list_transform({shingles_sql(text)}, s -> {hash60_sql('s')} % {MERSENNE_P})"
    )
    sigs = ", ".join(
        f"coalesce(list_min(list_transform({hashes}, h -> ({a} * h + {b}) % {MERSENNE_P})), {MERSENNE_P})"
        for a, b in PERMS
    )
    return f"[{sigs}]"


def band_col(sig: Column, band: int, rows: int) -> Column:
    """Combine one band's rows into a single int64 (base-31 fold —
    values < 2^31 so the fold stays < 2^52, exact in int64)."""
    v = F.lit(0).cast("long")
    for r in range(rows):
        v = v * F.lit(31) + F.element_at(sig, band * rows + r + 1)
    return v


def band_sql(sig_expr: str, band: int, rows: int) -> str:
    v = "CAST(0 AS BIGINT)"
    for r in range(rows):
        v = f"({v} * 31 + {sig_expr}[{band * rows + r + 1}])"
    return v


def _band_pairs(sig: DataFrame, id_col: str, bands: list,
                payload: tuple = ()) -> DataFrame:
    """The LSH banding join of every symmetric dedup stage: ids that
    share at least one band value, as distinct (doc_a < doc_b) pairs.

    ``bands`` holds one int64 Column per band over ``sig``'s columns;
    each row explodes into (band_idx, band_val) structs and the set
    self-joins on both (one shuffle on the band key). Each ``payload``
    column of ``sig`` rides along as ``<c>_a`` / ``<c>_b`` for a verify
    stage on the candidates."""
    ex = sig.select(
        F.col(id_col), *[F.col(c) for c in payload],
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band_idx"), v.alias("band_val"))
            for b, v in enumerate(bands)
        ])).alias("bd"),
    ).select(id_col, *payload, "bd.band_idx", "bd.band_val")

    def side(s: str) -> DataFrame:
        return ex.withColumnsRenamed(
            {id_col: f"doc_{s}", **{c: f"{c}_{s}" for c in payload}})

    return (
        side("a").join(side("b"), ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b",
                *[f"{c}_{s}" for s in "ab" for c in payload])
        .distinct()
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing ≥1 LSH band."""
    rows = N_MINHASH // N_BANDS
    sig = minhash_sig_df(df, id_col, text_col)
    return _band_pairs(sig, id_col, [band_col(F.col("sig"), b, rows)
                                     for b in range(N_BANDS)])


def minhash_lsh_pairs_sql(table: str = "documents", id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    rows = N_MINHASH // N_BANDS
    band_structs = ", ".join(
        f"{{'band_idx': {b}, 'band_val': {band_sql('sig', b, rows)}}}"
        for b in range(N_BANDS)
    )
    return (
        f"WITH sig AS (SELECT {id_col}, {minhash_sql(text_col)} AS sig FROM {table}), "
        f"bands AS (SELECT {id_col}, unnest([{band_structs}], recursive := true) FROM sig) "
        f"SELECT DISTINCT l.{id_col} AS doc_a, r.{id_col} AS doc_b "
        f"FROM bands l JOIN bands r USING (band_idx, band_val) "
        f"WHERE l.{id_col} < r.{id_col}"
    )


# -------------------------------------------------------------- simhash
# 60 bits (the full width of the md5-derived 60-bit token hashes).
# Round 1 used 16-bit simhash with exact-equality grouping — at 10^12
# docs that is 65,536 buckets ⇒ giant collision groups; production
# simhash dedup needs the wide hash + Hamming-distance banding below.
N_SIMHASH_BITS = 60
# Hamming LSH: split the 60 bits into 4 bands of 15; by pigeonhole any
# pair within Hamming distance 3 shares at least one untouched band,
# so the band equi-join has FULL recall for d ≤ 3 and each band bucket
# stays selective (2^15 values) — the standard 64-bit/4-table layout.
N_SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3


def simhash_df(df: DataFrame, id_col: str, text_col: str,
               bits: int = N_SIMHASH_BITS) -> DataFrame:
    """(id, simhash) via explode + ``bits`` codegen'd bit-count
    aggregates.

    The per-row formulation (``bits`` interpreted ``F.filter`` passes
    over a token-hash array — CodegenFallback, ~60 array scans per
    row) measured 2-3× slower than this shape: explode tokens, hash
    once, then one whole-stage-codegen HashAggregate of 0/1 bit sums.
    Map-side partial aggregation collapses the exploded rows back to
    one row per (doc, partition) before the shuffle, so shuffle volume
    is docs × (bits+1) longs — negligible at any scale. Assumes
    ``id_col`` is unique per document (same-id rows would merge).

    A doc with NULL text yields simhash 0 (token count 0 — split() of
    any non-null text has ≥1 element, so _n = 0 identifies NULL text
    exactly): every majority vote fails, matching both the previous
    per-row formulation and the SQL oracle's CASE…ELSE 0 sum.
    """
    toks = df.select(
        F.col(id_col),
        F.explode_outer(tokens_col(F.col(text_col))).alias("_t"),
    )
    hs = toks.select(F.col(id_col), hash60(F.col("_t")).alias("_h"))
    # wide lists as SQL strings + one F.expr each (r6): the 60-column
    # Column-DSL builders paid ~1 s of py4j round-trips per build
    # (same trap as dsir/doc_hash_embed); parsed trees identical
    bit_sums = [
        F.expr(f"sum((shiftright(_h, {i}) & 1))").alias(f"_b{i}")
        for i in range(bits)
    ]
    agg = hs.groupBy(id_col).agg(F.count(F.col("_h")).alias("_n"), *bit_sums)
    v = "CAST(0 AS BIGINT)"
    for i in range(bits):
        v = (f"({v} + (CASE WHEN (_b{i} * 2) > _n THEN "
             f"CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END))")
    return agg.selectExpr(
        f"`{id_col}`",
        f"(CASE WHEN _n > 0 THEN {v} ELSE CAST(0 AS BIGINT) END) AS simhash",
    )


def simhash_sql(text: str = "text", bits: int = N_SIMHASH_BITS) -> str:
    hashes = f"list_transform(string_split({text}, ' '), t -> {hash60_sql('t')})"
    n = f"len(string_split({text}, ' '))"
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({hashes}, h -> (h >> {i}) & 1 = 1)) > {n} "
        f"THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(bits)
    )
    return f"({terms})"


def simhash_groups(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Docs bucketed by identical SimHash (candidate near-dups)."""
    return (
        simhash_df(df, id_col, text_col)
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def simhash_groups_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    return (
        f"SELECT {simhash_sql(text_col)} AS simhash, COUNT(*) AS n_docs, "
        f"MIN({id_col}) AS min_doc_id FROM {table} "
        f"GROUP BY 1 HAVING COUNT(*) > 1"
    )


def simhash_hamming_pairs(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text",
                          max_hamming: int = SIMHASH_MAX_HAMMING) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance: band the 60-bit
    hash into 4×15-bit keys, equi-join per band (bucketed LSH, never
    all-pairs), then verify the exact popcount on candidates only.

    Scale shape: one shuffle on (band_idx, band_val); candidate volume
    is bounded by band-bucket selectivity (2^15 values per band), and
    the exact xor/bit_count verify touches candidates, not the corpus.
    """
    bits_per = N_SIMHASH_BITS // N_SIMHASH_BANDS
    mask = F.lit((1 << bits_per) - 1)
    sh = F.col("simhash")
    cand = _band_pairs(
        simhash_df(df, id_col, text_col), id_col,
        [F.shiftright(sh, b * bits_per).bitwiseAND(mask)
         for b in range(N_SIMHASH_BANDS)],
        payload=("simhash",),
    )
    dist = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.withColumn("hamming", dist.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_hamming_pairs_sql(table: str = "documents",
                              id_col: str = "doc_id",
                              text_col: str = "text",
                              max_hamming: int = SIMHASH_MAX_HAMMING) -> str:
    bits_per = N_SIMHASH_BITS // N_SIMHASH_BANDS
    band_structs = ", ".join(
        f"{{'band_idx': {b}, 'band_val': (sh >> {b * bits_per})"
        f" & {(1 << bits_per) - 1}}}"
        for b in range(N_SIMHASH_BANDS)
    )
    return (
        f"WITH sig AS (SELECT {id_col}, {simhash_sql(text_col)} AS sh FROM {table}), "
        f"bands AS (SELECT {id_col}, sh, "
        f"unnest([{band_structs}], recursive := true) FROM sig), "
        f"cand AS (SELECT DISTINCT l.{id_col} AS doc_a, r.{id_col} AS doc_b, "
        f"l.sh AS sh_a, r.sh AS sh_b "
        f"FROM bands l JOIN bands r USING (band_idx, band_val) "
        f"WHERE l.{id_col} < r.{id_col}) "
        f"SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming "
        f"FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {max_hamming}"
    )


# -------------------------------------------------- decontamination
def _hashed_shingles(df: DataFrame, id_col: str, text_col: str, w: int,
                     keep_id: bool) -> DataFrame:
    """Each doc's distinct word w-grams as 60-bit md5 hashes: rows of
    (id, _s), or of _s alone without ``keep_id``.

    Shingles are compared by hash, not string: the distinct + join then
    shuffle 8-byte longs instead of ~50-char strings (≈3× wall
    measured), and both engines derive the hash identically, so the
    (astronomically rare) collision is part of the spec, exactly as in
    MinHash. explode_OUTER + null filter, not inner explode: for a
    CodegenFallback generator input (the interpreted shingle HOF) the
    codegen'd inner-explode path re-evaluates the input per OUTPUT
    element — measured 8 s vs 0.4 s on 258k shingles; outer generate
    evaluates it once per row."""
    cols = [F.col(id_col)] if keep_id else []
    return (
        shingled_df(df, id_col, text_col, w)
        .select(*cols, F.explode_outer(F.col("_sh")).alias("_raw"))
        .filter(F.col("_raw").isNotNull())
        .select(*cols, hash60(F.col("_raw")).alias("_s"))
        .distinct()
    )


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  id_col: str = "doc_id", text_col: str = "text",
                  w: int = SHINGLE_W) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the fraction of its
    distinct word w-grams that appear anywhere in the benchmark set
    (the standard eval-leak check in training-data pipelines).

    Scale shape: the benchmark shingle set is small by definition
    (eval suites, not corpora) ⇒ forced broadcast LEFT join against
    the exploded corpus shingles; one groupBy(doc) shuffle for the
    counts. Never all-pairs, never per-row Python.

    Output: (id, n_sh, n_hit, contamination∈[0,1] | null for
    unshingleable docs).
    """
    bench_sh = _hashed_shingles(benchmark, id_col, text_col, w,
                                keep_id=False).withColumn("_hit", F.lit(1))
    corp = _hashed_shingles(corpus, id_col, text_col, w, keep_id=True)
    marked = corp.join(F.broadcast(bench_sh), "_s", "left")
    # one aggregate produces both counts — totals and hits as separate
    # aggregations would recompute the whole explode+distinct lineage
    # twice (measured 2× wall time) and add a merge join
    agg = marked.groupBy(id_col).agg(
        F.count("*").alias("_t"), F.count("_hit").alias("_h"))
    out = corpus.select(F.col(id_col)).join(agg, id_col, "left")
    n_sh = F.coalesce(F.col("_t"), F.lit(0)).cast("long")
    n_hit = F.coalesce(F.col("_h"), F.lit(0)).cast("long")
    contamination = F.when(
        n_sh > 0, n_hit.cast("double") / n_sh.cast("double")
    )
    return out.select(
        F.col(id_col),
        n_sh.alias("n_sh"),
        n_hit.alias("n_hit"),
        contamination.alias("contamination"),
    )


def decontaminate_sql(corpus: str, benchmark: str,
                      id_col: str = "doc_id", text_col: str = "text",
                      w: int = SHINGLE_W) -> str:
    sh = f"list_transform({shingles_sql(text_col, w)}, s -> {hash60_sql('s')})"
    return (
        f"WITH bench AS (SELECT DISTINCT unnest({sh}) AS _s FROM {benchmark}), "
        f"corp AS (SELECT DISTINCT {id_col}, unnest({sh}) AS _s FROM {corpus}), "
        f"tot AS (SELECT {id_col}, COUNT(*) AS _t FROM corp GROUP BY {id_col}), "
        f"hit AS (SELECT {id_col}, COUNT(*) AS _h "
        f"FROM corp JOIN bench USING (_s) GROUP BY {id_col}) "
        f"SELECT d.{id_col}, CAST(coalesce(_t, 0) AS BIGINT) AS n_sh, "
        f"CAST(coalesce(_h, 0) AS BIGINT) AS n_hit, "
        f"CASE WHEN coalesce(_t, 0) > 0 THEN "
        f"CAST(coalesce(_h, 0) AS DOUBLE) / CAST(coalesce(_t, 0) AS DOUBLE) "
        f"END AS contamination "
        f"FROM (SELECT {id_col} FROM {corpus}) d "
        f"LEFT JOIN tot USING ({id_col}) LEFT JOIN hit USING ({id_col})"
    )


# ------------------------------------------------------ n-gram jaccard
def _shingle_sets(df: DataFrame, id_col: str, text_col: str,
                  extra_cols: tuple = ()) -> DataFrame:
    """(id, [extra...], sset): each doc's DISTINCT word shingles."""
    return shingled_df(df, id_col, text_col, extra_cols=extra_cols).select(
        F.col(id_col), *[F.col(c) for c in extra_cols],
        F.array_distinct(F.col("_sh")).alias("sset"),
    )


def _jaccard_verify(pairs: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ threshold) over pairs carrying the two
    shingle sets ``set_a``/``set_b``. Two empty sets (docs shorter
    than the shingle width) have undefined similarity → NULL, which
    the threshold drops."""
    staged = pairs.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("set_a", "set_b")).alias("_i"),
        F.size(F.array_union("set_a", "set_b")).alias("_u"),
    )
    jac = F.when(F.col("_u") > 0, F.col("_i").cast("double") / F.col("_u").cast("double"))
    return (
        staged.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def jaccard_pairs(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", lang_col: str = "lang",
                  threshold: float = 0.5,
                  candidates: DataFrame | None = None,
                  allow_all_pairs: bool = False) -> DataFrame:
    """Word-shingle Jaccard over same-language pairs — the VERIFY stage
    of the dedup pipeline.

    Scale guardrail: the pair space is the caller's ``candidates``
    (doc_a/doc_b columns, e.g. :func:`minhash_lsh_pairs`) so the exact
    Jaccard runs on O(candidates), never all-pairs. The full
    O(n²)-within-language cross join — safe only at test scale or as a
    recall oracle — must be requested explicitly with
    ``allow_all_pairs=True``. With neither, this raises: MinHash-LSH
    candidates plus verify is :func:`lsh_verified_pairs`.
    """
    if candidates is None and not allow_all_pairs:
        raise ValueError(
            "jaccard_pairs needs candidates=<doc_a/doc_b pairs> or "
            "allow_all_pairs=True; for MinHash-LSH candidates with exact "
            "Jaccard verify use lsh_verified_pairs")
    sets = _shingle_sets(df, id_col, text_col, extra_cols=(lang_col,))
    a = sets.select(
        F.col(lang_col).alias("_lang_a"),
        F.col(id_col).alias("doc_a"),
        F.col("sset").alias("set_a"),
        F.size("sset").alias("sz_a"),
    )
    b = sets.select(
        F.col(lang_col).alias("_lang_b"),
        F.col(id_col).alias("doc_b"),
        F.col("sset").alias("set_b"),
        F.size("sset").alias("sz_b"),
    )
    if candidates is not None:
        # normalize caller-supplied pairs: canonical (min, max) order,
        # no self-pairs, no duplicates — an unordered or duplicated
        # candidate feed must not yield mirrored/self output rows
        norm = (
            candidates.select(
                F.least("doc_a", "doc_b").alias("doc_a"),
                F.greatest("doc_a", "doc_b").alias("doc_b"),
            )
            .filter(F.col("doc_a") != F.col("doc_b"))
            .distinct()
        )
        joined = (
            norm
            .join(a, "doc_a")
            .join(b, "doc_b")
            .filter(F.col("_lang_a") == F.col("_lang_b"))
        )
    else:
        joined = (
            a.join(b, a["_lang_a"] == b["_lang_b"])
            .filter(F.col("doc_a") < F.col("doc_b"))
        )
    # lossless size prune: jaccard ≥ τ ⟹ min(|A|,|B|) ≥ τ·max(|A|,|B|)
    # (I ≤ min, U ≥ max) — cuts the pair count before set intersection
    joined = joined.filter(
        F.least("sz_a", "sz_b").cast("double")
        >= F.lit(threshold) * F.greatest("sz_a", "sz_b").cast("double")
    )
    return _jaccard_verify(joined, threshold)


def lsh_verified_pairs(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       threshold: float = 0.5) -> DataFrame:
    """THE scale path: MinHash-LSH candidate generation followed by
    exact Jaccard verification on candidates only — O(n·bands) +
    O(candidates) instead of the all-pairs O(n²) join."""
    cand = minhash_lsh_pairs(df, id_col, text_col)
    sets = _shingle_sets(df, id_col, text_col)
    a = sets.select(F.col(id_col).alias("doc_a"), F.col("sset").alias("set_a"))
    b = sets.select(F.col(id_col).alias("doc_b"), F.col("sset").alias("set_b"))
    return _jaccard_verify(cand.join(a, "doc_a").join(b, "doc_b"), threshold)


def lsh_verified_pairs_sql(table: str = "documents", id_col: str = "doc_id",
                           text_col: str = "text",
                           threshold: float = 0.5) -> str:
    rows = N_MINHASH // N_BANDS
    band_structs = ", ".join(
        f"{{'band_idx': {b}, 'band_val': {band_sql('sig', b, rows)}}}"
        for b in range(N_BANDS)
    )
    sset = f"list_distinct({shingles_sql(text_col)})"
    jac = (
        "CASE WHEN len(list_distinct(list_concat(sa.sset, sb.sset))) > 0 THEN "
        "CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(sa.sset, sb.sset))) AS DOUBLE) END"
    )
    return (
        f"WITH sig AS (SELECT {id_col}, {minhash_sql(text_col)} AS sig FROM {table}), "
        f"bands AS (SELECT {id_col}, unnest([{band_structs}], recursive := true) FROM sig), "
        f"cand AS (SELECT DISTINCT l.{id_col} AS doc_a, r.{id_col} AS doc_b "
        f"FROM bands l JOIN bands r USING (band_idx, band_val) "
        f"WHERE l.{id_col} < r.{id_col}), "
        f"sets AS (SELECT {id_col}, {sset} AS sset FROM {table}) "
        f"SELECT doc_a, doc_b, {jac} AS jaccard "
        f"FROM cand JOIN sets sa ON cand.doc_a = sa.{id_col} "
        f"JOIN sets sb ON cand.doc_b = sb.{id_col} "
        f"WHERE {jac} >= {threshold!r}"
    )


def jaccard_pairs_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text", lang_col: str = "lang",
                      threshold: float = 0.5) -> str:
    sset = f"list_distinct({shingles_sql(text_col)})"
    jac = (
        "CASE WHEN len(list_distinct(list_concat(a.sset, b.sset))) > 0 THEN "
        "CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE) / "
        "CAST(len(list_distinct(list_concat(a.sset, b.sset))) AS DOUBLE) END"
    )
    return (
        f"WITH sets AS (SELECT {id_col}, {lang_col}, {sset} AS sset FROM {table}) "
        f"SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, {jac} AS jaccard "
        f"FROM sets a JOIN sets b ON a.{lang_col} = b.{lang_col} "
        f"AND a.{id_col} < b.{id_col} "
        f"WHERE {jac} >= {threshold!r}"
    )


# -------------------------------------------- connected-component clusters
def _canonical_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """(u, v) with u = max(id), v = min(id), self-loops dropped."""
    return (
        pairs.select(
            F.greatest(F.col(a), F.col(b)).alias("u"),
            F.least(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every neighbor strictly larger than u is re-pointed
    at min(Γ(u) ∪ {u}).  Input/output canonical (u > v)."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    nbr = sym.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m"),
        F.collect_set("v").alias("vs"),
    )
    out = (
        nbr.select("m", F.explode("vs").alias("w"), "u")
        .filter(F.col("w") > F.col("u"))
        .select(F.col("w").alias("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: all smaller-side neighbors (and u itself) are
    pointed at m = min(Γ(u) ∪ {u}).  Input canonical (u > v)."""
    nbr = edges.groupBy("u").agg(
        F.min("v").alias("m"), F.collect_set("v").alias("vs")
    )
    out = nbr.select(
        "m",
        F.explode(F.array_union("vs", F.array("u"))).alias("w"),
    ).filter(F.col("w") != F.col("m"))
    return (
        out.select(F.col("w").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(pairs: DataFrame, a: str = "doc_a",
                         b: str = "doc_b",
                         max_iter: int = 25,
                         rounds_out: list | None = None) -> DataFrame:
    """Distributed connected components over an undirected edge list →
    one row per non-isolated node: (node, comp) with comp = the
    component's minimum node id.

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in
    O(log² n) rounds, each round two shuffles (groupBy u).  This is
    the 100-TB-safe shape — no driver-side graph, no per-row Python;
    per-iteration ``localCheckpoint`` truncates the lineage so the
    plan does not grow exponentially (on a real cluster use
    ``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for
    executor-fault-tolerant truncation).

    Convergence test: the (count, xxhash64-bit_xor) signature of the
    edge set — two scalars to the driver per round, no edge-set diff
    join (bit_xor is order-independent and cannot overflow under ANSI
    arithmetic, unlike a hash sum).

    Near-dup graphs from LSH are unions of near-cliques (tiny
    diameter), so in practice this exits after 2-3 rounds.
    """
    edges = _canonical_edges(pairs, a, b).localCheckpoint()
    sig_prev = None
    for it in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint()
        row = edges.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (row["n"], row["h"])
        if sig == sig_prev:
            if rounds_out is not None:
                rounds_out.append(it + 1)
            break
        sig_prev = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # fixpoint edges form stars (u -> component min); add the roots
    roots = edges.select(F.col("v").alias("u"), F.col("v").alias("v")).distinct()
    return edges.union(roots).distinct().select(
        F.col("u").alias("node"), F.col("v").alias("comp")
    )


def cluster_canonical(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text",
                      threshold: float = 0.5) -> DataFrame:
    """Web-corpus near-dup clustering: LSH→verify pairs → connected
    components → per-doc (doc_id, cluster_id, is_canonical) where
    cluster_id is the min doc id of the cluster and the canonical
    (kept) doc is that minimum member.  Docs with no verified
    near-dup form singleton clusters (canonical by definition).

    This is the standard CC-corpus dedup shape (MinHash-LSH candidate
    buckets, exact-Jaccard verify, transitive closure, keep-one) —
    reference analog: region-precedence "first wins" selection
    (reference/vyperdatum/points.py:67) generalized to duplicate
    clusters."""
    pairs = lsh_verified_pairs(df, id_col, text_col, threshold)
    comp = connected_components(pairs, "doc_a", "doc_b")
    cluster = F.coalesce(F.col("comp"), F.col(id_col))
    return (
        df.select(id_col)
        .join(comp, F.col(id_col) == F.col("node"), "left")
        .select(
            F.col(id_col),
            cluster.alias("cluster_id"),
            (F.col(id_col) == cluster).cast("int").alias("is_canonical"),
        )
    )


def cluster_canonical_sql(table: str = "documents", id_col: str = "doc_id",
                          text_col: str = "text",
                          threshold: float = 0.5) -> str:
    """DuckDB oracle: recursive-CTE reachability (src → min reachable
    node) — independent of the star-contraction algorithm, so it
    cross-checks the transitive closure itself."""
    pairs = lsh_verified_pairs_sql(table, id_col, text_col, threshold)
    # lsh_verified_pairs_sql starts WITH its own CTEs; inline as subquery
    return (
        f"WITH RECURSIVE pairs AS ({pairs}), "
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION SELECT doc_b, doc_a FROM pairs), "
        "reach(src, dst) AS ("
        "SELECT u, u FROM (SELECT DISTINCT u FROM edges) "
        "UNION SELECT r.src, e.v FROM reach r JOIN edges e ON r.dst = e.u), "
        "comp AS (SELECT src, MIN(dst) AS comp FROM reach GROUP BY src) "
        f"SELECT d.{id_col}, COALESCE(c.comp, d.{id_col}) AS cluster_id, "
        f"CAST(d.{id_col} = COALESCE(c.comp, d.{id_col}) AS INT) AS is_canonical "
        f"FROM {table} d LEFT JOIN comp c ON d.{id_col} = c.src"
    )


# ------------------------------------------------- incremental dedup
def incremental_exact_dedup(spark, source_dir: str, out_dir: str,
                            id_col: str = "doc_id",
                            text_col: str = "text") -> dict:
    """Crawl-over-crawl exact dedup as an exactly-once incremental
    snapshot consumer: each newly appended source increment is
    content-hashed, deduped within itself (min id per hash wins),
    anti-joined against every hash already ACCEPTED in the output
    table, and committed atomically with the consumer watermark
    (sources.tables.process_incremental).

    The seen-set is the output table itself — no side state to drift
    or lose; a crash before the commit reprocesses the same range
    against the same seen-set, so no committed snapshot ever holds a
    duplicate. At 10^12 rows the anti-join is a hash join on the
    16-byte content hash; the accepted side stays partitionable and
    the increment side is only the new crawl.
    """
    from pyspark.sql import functions as F  # noqa: F811 (local dialect)

    from ..sources import tables

    def dedupe(rows):
        hashed = rows.withColumn("content_hash", F.md5(F.col(text_col)))
        # within-increment: deterministic winner (min id) per hash
        winners = (
            hashed.groupBy("content_hash")
            .agg(F.min_by(F.struct(*hashed.columns), F.col(id_col)).alias("_r"))
            .select("_r.*")
        )
        try:
            seen = tables.read_table(spark, out_dir).select(
                "content_hash"
            ).distinct()
        except (ValueError, FileNotFoundError):
            return winners  # first run: nothing accepted yet
        return winners.join(seen, "content_hash", "left_anti")

    return tables.process_incremental(spark, source_dir, out_dir, dedupe)
