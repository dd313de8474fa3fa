"""Text analysis for training-data curation.

Language-ID (marker-word heuristic), quality scoring (length / word /
stopword ratios), token counting (whitespace + regex "BPE-ish"
word/number pieces), and document fingerprinting (winnowing: k-gram
rolling hashes, min per sliding window). All built-in column math —
no Python UDFs — with exact DuckDB oracle equivalents.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..spatial.cells import dlit
from . import sql_ref, sql_str
from .dedup import (hash60, hash60_sql, shingles_from_tokens, tokens_col,
                    tokens_spark_sql)

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "at", "for")

# marker words per language for the n-gram/marker heuristic; the
# fixture corpus is synthetic word-soup, so markers double as a
# deterministic scoring exercise (argmax with lexicographic tiebreak)
LANG_MARKERS = {
    "en": ("the", "and", "value", "table"),
    "es": ("el", "la", "los", "valor"),
    "de": ("der", "die", "und", "wert"),
    "fr": ("le", "la", "et", "valeur"),
}

TOKEN_RE = "[a-z]+|[0-9]+"

KGRAM = 5
WINNOW_W = 4


# ---------------------------------------------------- document signals
def _count_in_sql(arr: str, words, lower: bool) -> str:
    """Spark SQL: how many elements of the array ``arr`` are in
    ``words`` (compared lower-cased when ``lower``)."""
    x = "lower(_x)" if lower else "_x"
    return (f"size(filter({arr}, _x -> {x} IN "
            f"({', '.join(map(sql_str, words))})))")


def text_signals_spark_sql(text: str, toks: str) -> dict[str, str]:
    """The one Spark builder of the per-document word signals, as
    unrounded SQL text over a text column and its STAGED token array
    (``dedup.tokens_spark_sql``; ``repetition_spark_sql`` says why):
    n_chars, n_words, n_distinct, n_stop (STOPWORDS hits, any case),
    avg_wl (mean word length) and dup_frac (share of repeat tokens)."""
    n_words = f"size({toks})"
    n_distinct = f"size(array_distinct({toks}))"
    return {
        "n_chars": f"length({text})",
        "n_words": n_words,
        "n_distinct": n_distinct,
        "n_stop": _count_in_sql(toks, STOPWORDS, lower=True),
        "avg_wl": (f"(CAST(length({text}) - ({n_words} - 1) AS DOUBLE)"
                   f" / CAST({n_words} AS DOUBLE))"),
        "dup_frac": (f"({dlit(1.0)} - CAST({n_distinct} AS DOUBLE)"
                     f" / CAST({n_words} AS DOUBLE))"),
    }


def _signals_df(df: DataFrame, id_col: str,
                text_col: str) -> tuple[DataFrame, dict[str, str]]:
    """(id, <signal columns>) over one staged token column, and the
    signals as column references."""
    text, sig = f"`{text_col}`", text_signals_spark_sql("_tx", "_tk")
    staged = df.selectExpr(f"`{id_col}`", f"{text} AS _tx",
                           f"{tokens_spark_sql(text)} AS _tk")
    return (staged.selectExpr(f"`{id_col}`",
                              *[f"{e} AS {n}" for n, e in sig.items()]),
            {n: n for n in sig})


# ------------------------------------------------------------- quality
def quality_df(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, n_chars_c, n_words, avg_word_len, stop_ratio, quality): the
    score favours long-enough docs with a sane stopword share."""
    sig_df, sig = _signals_df(df, id_col, text_col)
    n = f"CAST({sig['n_words']} AS DOUBLE)"
    stop_r = f"round(CAST({sig['n_stop']} AS DOUBLE) / {n}, 6)"
    return sig_df.selectExpr(
        f"`{id_col}`",
        f"CAST({sig['n_chars']} AS BIGINT) AS n_chars_c",
        f"CAST({sig['n_words']} AS BIGINT) AS n_words",
        f"round({sig['avg_wl']}, 6) AS avg_word_len",
        f"{stop_r} AS stop_ratio",
        f"round(least({n} / {dlit(100.0)}, {dlit(1.0)})"
        f" * ({dlit(1.0)} - {stop_r}), 6) AS quality",
    )


def quality_sql(table: str = "documents", id_col: str = "doc_id",
                text_col: str = "text") -> str:
    toks = f"string_split({text_col}, ' ')"
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_chars = f"length({text_col})"
    n_words = f"len({toks})"
    n_stop = f"len(list_filter({toks}, t -> lower(t) IN ({stop_list})))"
    avg_wl = f"ROUND(CAST({n_chars} - ({n_words} - 1) AS DOUBLE) / CAST({n_words} AS DOUBLE), 6)"
    stop_r = f"ROUND(CAST({n_stop} AS DOUBLE) / CAST({n_words} AS DOUBLE), 6)"
    score = (
        f"ROUND(LEAST(CAST({n_words} AS DOUBLE) / 100.0, 1.0) * "
        f"(1.0 - {stop_r}), 6)"
    )
    return (
        f"SELECT {id_col}, CAST({n_chars} AS BIGINT) AS n_chars_c, "
        f"CAST({n_words} AS BIGINT) AS n_words, {avg_wl} AS avg_word_len, "
        f"{stop_r} AS stop_ratio, {score} AS quality FROM {table}"
    )


# -------------------------------------------------------------- langid
def _lang_argmax_sql(arr: str, profiles: dict, lower: bool) -> str:
    """Spark SQL struct<score, lang>: the language whose profile
    (marker words or trigrams) has the most hits in ``arr``; ties go to
    the lexicographically LAST lang (struct max compares score, then
    lang), deterministic on both engines.  NULL when ``arr`` is NULL:
    a missing text has no language (``greatest`` over all-NULL scores
    would name the last one)."""
    return f"CASE WHEN {arr} IS NOT NULL THEN greatest(" + ", ".join(
        f"named_struct('score', {_count_in_sql(arr, profiles[lang], lower)}"
        f", 'lang', {sql_str(lang)})" for lang in sorted(profiles)) + ") END"


def langid_df(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """(id, pred_lang, marker_hits): marker-word language ID."""
    best = df.selectExpr(
        f"`{id_col}`", f"{tokens_spark_sql(f'`{text_col}`')} AS _tk",
    ).selectExpr(f"`{id_col}`",
                 f"{_lang_argmax_sql('_tk', LANG_MARKERS, True)} AS _b")
    return best.selectExpr(f"`{id_col}`", "_b.lang AS pred_lang",
                           "CAST(_b.score AS BIGINT) AS marker_hits")


def _lang_best_sql(text_col: str, structs: list[str]) -> str:
    """DuckDB twin of ``_lang_argmax_sql``'s pick over per-language
    ``{score, lang}`` struct literals: NULL for a NULL text."""
    return (f"(CASE WHEN {text_col} IS NOT NULL "
            f"THEN list_max([{', '.join(structs)}]) END)")


def langid_sql(table: str = "documents", id_col: str = "doc_id",
               text_col: str = "text") -> str:
    toks = f"string_split({text_col}, ' ')"
    structs = []
    for lang in sorted(LANG_MARKERS):
        markers = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        cnt = f"len(list_filter({toks}, t -> lower(t) IN ({markers})))"
        structs.append(f"{{'score': {cnt}, 'lang': '{lang}'}}")
    best = _lang_best_sql(text_col, structs)
    return (
        f"SELECT {id_col}, {best}['lang'] AS pred_lang, "
        f"CAST({best}['score'] AS BIGINT) AS marker_hits FROM {table}"
    )


# -------------------------------------------------- trigram language ID
def _trigram_profiles() -> dict[str, list[str]]:
    """Per-language character-trigram profiles, derived
    deterministically from the marker lexicon (a real system ships
    corpus-learned profiles; the derivation rule is the contract here
    so Spark and the DuckDB oracle share one table)."""
    profs: dict[str, list[str]] = {}
    for lang in sorted(LANG_MARKERS):
        grams: list[str] = []
        for w in LANG_MARKERS[lang]:
            token = f" {w} "  # boundary-marked, textcat-style
            grams.extend(token[i:i + 3] for i in range(len(token) - 2))
        profs[lang] = sorted(set(grams))
    return profs


def langid_trigram_df(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """(id, pred_lang, tri_hits): character-trigram language ID — the
    n-gram upgrade of the marker-word heuristic (langid_df). The text
    is boundary-padded, its DISTINCT trigrams intersected with each
    language's profile, argmax with the same struct tie-break as
    langid_df. Zero shuffle; the per-language filters are HOFs
    (CodegenFallback), bounded by O(distinct trigrams × profile).

    Both the padded text and the distinct-trigram array are STAGED
    projections (r5): the trigram lambda's ``substr`` over an inlined
    concat∘lower re-lowers the whole text once per POSITION (O(n²)
    chars/doc), and the per-language filters would each re-build the
    trigram array (lambda bodies and repeated HOF inputs re-evaluate
    inlined subtrees; multi-referenced non-cheap aliases survive
    CollapseProject)."""
    staged_t = df.selectExpr(f"`{id_col}`",
                             f"concat(' ', lower(`{text_col}`), ' ') AS _t3")
    n3 = "(length(_t3) - 2)"
    staged_tris = staged_t.selectExpr(
        f"`{id_col}`",
        f"array_distinct(transform(CASE WHEN {n3} >= 1 THEN sequence(1, {n3})"
        " WHEN _t3 IS NOT NULL THEN CAST(array() AS array<int>) END,"
        " _i -> substr(_t3, _i, 3))) AS _tris",
    )
    argmax = _lang_argmax_sql("_tris", _trigram_profiles(), False)
    best = staged_tris.selectExpr(f"`{id_col}`", f"{argmax} AS _b")
    return best.selectExpr(f"`{id_col}`", "_b.lang AS pred_lang",
                           "CAST(_b.score AS BIGINT) AS tri_hits")


def langid_trigram_sql(table: str = "documents", id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    t = f"(' ' || lower({text_col}) || ' ')"
    tris = (
        f"list_distinct(list_transform(generate_series(1, "
        f"length({t}) - 2), i -> substr({t}, i, 3)))"
    )
    structs = []
    for lang, prof in _trigram_profiles().items():
        lits = ", ".join("'" + g.replace("'", "''") + "'" for g in prof)
        cnt = f"len(list_filter({tris}, g -> g IN ({lits})))"
        structs.append(f"{{'score': {cnt}, 'lang': '{lang}'}}")
    best = _lang_best_sql(text_col, structs)
    return (
        f"SELECT {id_col}, {best}['lang'] AS pred_lang, "
        f"CAST({best}['score'] AS BIGINT) AS tri_hits FROM {table}"
    )


# --------------------------------------------- repetition / gopher rules
# Gopher-style repetition bounds (Rae et al. 2021, public): documents
# dominated by repeated tokens are template/spam, not prose. Tuned to
# the synthetic fixture corpus; the thresholds are parameters in the
# production signature.
GOPHER_MIN_WORDS = 10
GOPHER_MAX_WORDS = 100_000
GOPHER_MAX_DUP_WORD_FRAC = 0.75
GOPHER_WORD_LEN_RANGE = (2.0, 12.0)


def gopher_rules_sql(sig: dict[str, str]) -> list[tuple[str, str]]:
    """The Gopher rules in order, as (reason, pass condition) Spark SQL
    over ``text_signals_spark_sql`` signals (expressions, or the names
    of columns holding them) — the one Spark builder of the rules.

    The repetition rule compares the UNROUNDED duplicate fraction, and
    is exact against the rounded ``dup_word_frac`` output: while
    n_words <= GOPHER_MAX_WORDS, a fraction (n - d) / n above 3/4
    exceeds it by at least 1/(4n) >= 2.5e-6, so rounding to 6 places
    cannot move it across the bound; past that, too_long fails."""
    n, wl = sig["n_words"], sig["avg_wl"]
    lo, hi = GOPHER_WORD_LEN_RANGE
    return [
        ("too_short", f"{n} >= {GOPHER_MIN_WORDS}"),
        ("too_long", f"{n} <= {GOPHER_MAX_WORDS}"),
        ("repetitive",
         f"{sig['dup_frac']} <= {dlit(GOPHER_MAX_DUP_WORD_FRAC)}"),
        ("word_len", f"{wl} >= {dlit(lo)} AND {wl} <= {dlit(hi)}"),
    ]


def repetition_spark_sql(text: str, toks: str | None = None) -> dict[str, str]:
    """Repetition signals + the composite Gopher keep decision as Spark
    SQL text over column references (zero shuffle), for
    ``selectExpr``/``filter``/``F.expr``; ``repetition_sql`` is its
    DuckDB twin.

    top_word_frac (share of the modal token) is computed as a fold
    over the DISTINCT token list counting occurrences in the full
    list — O(d·n) per doc on both engines, bounded by doc length.

    Pass ``toks`` as a STAGED token-array column when the caller can
    project one (r5 perf): the top_cnt fold's inner ``filter(toks, …)``
    sits in a lambda body, and lambda bodies re-evaluate inlined
    subtrees per element — with an inlined split() that is one full
    re-split of the text per DISTINCT TOKEN (measured 3× on
    text_repetition at sf0.1; same trap as dedup.shingles_from_tokens).

    Staging in a projection is not enough under a ``Filter`` on these
    columns: predicate pushdown substitutes aliases as it moves the
    filter below the projections, so a staged ``toks`` (and whatever
    computes ``text``) is re-inlined into the condition, and Spark does
    not eliminate common subexpressions inside a ``Filter``.  Stage
    ``text`` and ``toks`` behind a ``Generate`` instead, as fields of
    a one-row ``explode(array(struct(...)))``, which the filter cannot
    cross (see ``queries.webtext.q_curation_end_to_end``)."""
    toks = tokens_spark_sql(text) if toks is None else toks
    sig = text_signals_spark_sql(text, toks)
    # lambda names no caller's column is expected to carry
    top_cnt = (f"aggregate(array_distinct({toks}), 0, (_acc, _w) -> "
               f"greatest(_acc, size(filter({toks}, _t -> _t = _w))))")
    return {
        "n_words": f"CAST({sig['n_words']} AS BIGINT)",
        "n_distinct_words": f"CAST({sig['n_distinct']} AS BIGINT)",
        "dup_word_frac": f"round({sig['dup_frac']}, 6)",
        "top_word_frac": (f"round(CAST({top_cnt} AS DOUBLE)"
                          f" / CAST({sig['n_words']} AS DOUBLE), 6)"),
        "gopher_keep":
            "(" + " AND ".join(ok for _, ok in gopher_rules_sql(sig)) + ")",
    }


def repetition_cols(text: Column,
                    toks: Column | None = None) -> dict[str, Column]:
    """``repetition_spark_sql`` as Columns, for callers that compose
    Columns; ``text`` and ``toks`` must be plain column references."""
    cols = repetition_spark_sql(
        sql_ref(text), None if toks is None else sql_ref(toks))
    return {n: F.expr(e) for n, e in cols.items()}


def repetition_df(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """(id, n_words, n_distinct_words, dup_word_frac, top_word_frac,
    gopher_keep) — repetition_spark_sql projected per document."""
    text = f"`{text_col}`"
    staged = df.selectExpr(f"`{id_col}`", text,
                           f"{tokens_spark_sql(text)} AS _tk")
    cols = repetition_spark_sql(text, toks="_tk")
    return staged.selectExpr(
        f"`{id_col}`", *[f"{e} AS {n}" for n, e in cols.items()]
    )


def repetition_sql(table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    toks = f"string_split({text_col}, ' ')"
    dtoks = f"list_distinct({toks})"
    n_words = f"len({toks})"
    n_distinct = f"len({dtoks})"
    dup = (
        f"ROUND(1.0 - CAST({n_distinct} AS DOUBLE) / "
        f"CAST({n_words} AS DOUBLE), 6)"
    )
    top_cnt = (
        f"list_aggregate(list_transform({dtoks}, "
        f"w -> len(list_filter({toks}, t -> t = w))), 'max')"
    )
    top = f"ROUND(CAST({top_cnt} AS DOUBLE) / CAST({n_words} AS DOUBLE), 6)"
    n_chars = f"length({text_col})"
    avg_wl = (
        f"(CAST({n_chars} - ({n_words} - 1) AS DOUBLE) / "
        f"CAST({n_words} AS DOUBLE))"
    )
    lo, hi = GOPHER_WORD_LEN_RANGE
    keep = (
        f"({n_words} >= {GOPHER_MIN_WORDS} AND "
        f"{n_words} <= {GOPHER_MAX_WORDS} AND "
        f"{dup} <= {GOPHER_MAX_DUP_WORD_FRAC} AND "
        f"{avg_wl} >= {lo} AND {avg_wl} <= {hi})"
    )
    return (
        f"SELECT {id_col}, CAST({n_words} AS BIGINT) AS n_words, "
        f"CAST({n_distinct} AS BIGINT) AS n_distinct_words, "
        f"{dup} AS dup_word_frac, {top} AS top_word_frac, "
        f"{keep} AS gopher_keep FROM {table}"
    )


# ------------------------------------------------------- top-k n-grams
def top_ngrams(df: DataFrame, n: int = 2, k: int = 20,
               text_col: str = "text") -> DataFrame:
    """(ngram, n_docs, n_occurrences) for the corpus's top-k word
    n-grams — the corpus-statistics op behind boilerplate discovery
    and contamination triage. Deterministic order: occurrences DESC,
    then ngram ASC (total tie-break, engine-portable).

    Scale shape: explode n-gram positions (projection) → ONE hash
    shuffle with map-side partial aggregation → a k-row ordered take.
    The final global sort is over the aggregated (distinct-ngram)
    table, not the corpus."""
    staged = df.select(tokens_col(F.col(text_col)).alias("_tk"))
    grams = shingles_from_tokens(F.col("_tk"), n)
    ex = staged.select(F.explode(grams).alias("ngram"))
    agg = ex.groupBy("ngram").agg(F.count("*").alias("n_occurrences"))
    docs = (
        staged.select(F.explode(F.array_distinct(grams)).alias("ngram"))
        .groupBy("ngram").agg(F.count("*").alias("n_docs"))
    )
    return (
        agg.join(docs, "ngram")
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram"))
        .limit(k)
        .select("ngram", "n_docs", "n_occurrences")
    )


def top_ngrams_sql(table: str = "documents", n: int = 2, k: int = 20,
                   text_col: str = "text") -> str:
    toks = f"string_split({text_col}, ' ')"
    grams = (
        f"list_transform(generate_series(1, len({toks}) - {n - 1}), "
        f"i -> array_to_string({toks}[i : i + {n - 1}], ' '))"
    )
    return (
        f"WITH _g AS (SELECT unnest({grams}) AS ngram FROM {table}), "
        f"_d AS (SELECT unnest(list_distinct({grams})) AS ngram "
        f"FROM {table}), "
        "_occ AS (SELECT ngram, COUNT(*) AS n_occurrences FROM _g "
        "GROUP BY ngram), "
        "_nd AS (SELECT ngram, COUNT(*) AS n_docs FROM _d GROUP BY ngram) "
        "SELECT o.ngram, CAST(d.n_docs AS BIGINT) AS n_docs, "
        "CAST(o.n_occurrences AS BIGINT) AS n_occurrences "
        "FROM _occ o JOIN _nd d USING (ngram) "
        f"ORDER BY o.n_occurrences DESC, o.ngram LIMIT {k}"
    )


# -------------------------------------------------------- token counts
def token_counts_df(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    ws = F.size(tokens_col(F.col(text_col)))
    re_toks = F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_RE), 0))
    return df.select(
        F.col(id_col),
        ws.cast("long").alias("ws_tokens"),
        re_toks.cast("long").alias("re_tokens"),
    )


def token_counts_sql(table: str = "documents", id_col: str = "doc_id",
                     text_col: str = "text") -> str:
    return (
        f"SELECT {id_col}, "
        f"CAST(len(string_split({text_col}, ' ')) AS BIGINT) AS ws_tokens, "
        f"CAST(len(regexp_extract_all({text_col}, '{TOKEN_RE}')) AS BIGINT) AS re_tokens "
        f"FROM {table}"
    )


# --------------------------------------------------------- fingerprint
def fingerprint_df(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Winnowing fingerprint: md5-derived k-gram hashes, min per
    sliding window of WINNOW_W, distinct mins summarized.

    Staged projections are load-bearing: with the k-gram transform
    inlined into the window lambda, interpreted HOF evaluation
    re-derives ALL k-gram md5s per window position — O(n²) md5 per
    document. Materializing `_kg` first makes each slice O(w)."""
    t = F.col(text_col)
    n_k = F.length(t) - (KGRAM - 1)
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0] (unlike SQL
    # generate_series, which is empty) — docs shorter than
    # KGRAM+WINNOW_W-1 chars must fold to zero fingerprints on BOTH
    # engines (n_fp=0, null min/max), not crash the query.
    #
    # Shape: explode k-gram positions, hash once per position, then a
    # sliding-window MIN (WindowExec, JVM-side) instead of interpreted
    # array_min-over-slice HOFs per window. The window's
    # partitionBy(id) shuffle is reused by the groupBy(id) aggregate
    # (same partitioning); rows with incomplete trailing windows are
    # filtered before aggregation.
    empty = F.array().cast("array<int>")
    kseq = F.when(n_k >= 1, F.sequence(F.lit(1), n_k)).otherwise(empty)
    # explode_OUTER: the codegen'd inner-explode path re-evaluates its
    # input expression per OUTPUT element — for a length-n sequence
    # that is O(n²) ints per doc (same trap as the shingle explode in
    # dedup.decontaminate, measured 20× there). Outer + null filter
    # evaluates once per row; empty docs drop at the filter.
    ex = df.select(
        F.col(id_col),
        (n_k - (WINNOW_W - 1)).alias("_nw"),
        t.alias("_t"),
        F.explode_outer(kseq).alias("_i"),
    ).filter(F.col("_i").isNotNull())
    hx = ex.select(
        F.col(id_col), F.col("_nw"), F.col("_i"),
        hash60(F.col("_t").substr(F.col("_i"), F.lit(KGRAM))).alias("_h"),
    )
    win = (
        Window.partitionBy(id_col).orderBy("_i")
        .rowsBetween(Window.currentRow, WINNOW_W - 1)
    )
    mins = hx.select(
        F.col(id_col), F.col("_nw"), F.col("_i"),
        F.min("_h").over(win).alias("_wm"),
    )
    agg = (
        mins.filter(F.col("_i") <= F.col("_nw"))
        .groupBy(id_col)
        .agg(
            F.countDistinct("_wm").alias("_n_fp"),
            F.min("_wm").alias("fp_min"),
            F.max("_wm").alias("fp_max"),
        )
    )
    return df.select(F.col(id_col)).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("_n_fp"), F.lit(0)).cast("long").alias("n_fp"),
        F.col("fp_min"),
        F.col("fp_max"),
    )


def fingerprint_sql(table: str = "documents", id_col: str = "doc_id",
                    text_col: str = "text") -> str:
    n_k = f"(length({text_col}) - {KGRAM - 1})"
    kgrams = (
        f"list_transform(generate_series(1, {n_k}), "
        f"i -> {hash60_sql(f'substr({text_col}, i, {KGRAM})')})"
    )
    mins = (
        f"list_transform(generate_series(1, {n_k} - {WINNOW_W - 1}), "
        f"j -> list_min(({kgrams})[j : j + {WINNOW_W - 1}]))"
    )
    fps = f"list_distinct({mins})"
    return (
        f"SELECT {id_col}, CAST(len({fps}) AS BIGINT) AS n_fp, "
        f"list_min({fps}) AS fp_min, list_max({fps}) AS fp_max FROM {table}"
    )


# ------------------------------------------------- stratified sampling
# Per-language keep rates for corpus balancing (languages absent from
# the map keep everything). Deterministic and PORTABLE: the sample key
# is md5-derived (hash60 of seed||id, scaled to [0,1)), so any engine
# — and any rerun — reproduces the exact kept set; no RNG state, no
# shuffle, embarrassingly parallel at any scale.
SAMPLE_RATES = {"en": 0.5, "de": 0.25}
_U_SCALE = float(1 << 60)


def sample_stratified(df: DataFrame, id_col: str = "doc_id",
                      lang_col: str = "lang", seed: str = "s42",
                      rates: dict | None = None) -> DataFrame:
    """Hash-based stratified sampling: keep a row iff its uniform
    sample key u = hash60(seed||id)/2^60 falls below its stratum's
    rate. The standard down-sampling primitive of training-data
    pipelines (dominant-language rebalancing)."""
    rates = SAMPLE_RATES if rates is None else rates
    u = hash60(
        F.concat(F.lit(seed), F.col(id_col).cast("string"))
    ) / F.lit(_U_SCALE)
    rate = F.lit(1.0)
    for lang, r in sorted(rates.items()):
        rate = F.when(F.col(lang_col) == lang, F.lit(r)).otherwise(rate)
    # keep the FULL row (+ sample_u): a sampler that projects away the
    # document would force every caller into a re-join to recover it
    return df.withColumn("sample_u", u).filter(F.col("sample_u") < rate)


def sample_stratified_sql(table: str = "documents", id_col: str = "doc_id",
                          lang_col: str = "lang", seed: str = "s42",
                          rates: dict | None = None) -> str:
    rates = SAMPLE_RATES if rates is None else rates
    h = hash60_sql(f"'{seed}' || CAST({id_col} AS VARCHAR)")
    whens = " ".join(
        f"WHEN '{lang}' THEN {r!r}" for lang, r in sorted(rates.items())
    )
    return (
        f"SELECT * FROM (SELECT *, "
        f"(CAST({h} AS DOUBLE) / {_U_SCALE!r}) AS sample_u FROM {table}) "
        f"WHERE sample_u < CASE {lang_col} {whens} ELSE 1.0 END"
    )


def sample_token_budget(df: DataFrame, budget: int,
                        id_col: str = "doc_id",
                        tokens_col: str = "ws_tokens",
                        group_col: str = "source",
                        seed: str = "s42") -> DataFrame:
    """Data-mixing by token budget: fill each group's budget in
    deterministic hash order (u = hash60(seed||id)), keeping rows
    while the cumulative token count BEFORE the row is < budget —
    so each group overshoots by at most one document (the standard
    fill rule).  This is the mixture-weights primitive of corpus
    assembly ("B tokens of source X, C of source Y"): rerun- and
    engine-portable like sample_stratified, one window shuffle on the
    group key, and composes with pack_sequences downstream."""
    u = hash60(
        F.concat(F.lit(seed), F.col(id_col).cast("string"))
    ) / F.lit(_U_SCALE)
    w = (
        Window.partitionBy(group_col)
        .orderBy("sample_u", id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("sample_u", u)
        .withColumn(
            "taken_before",
            F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long"),
        )
        .filter(F.col("taken_before") < budget)
    )


def sample_token_budget_sql(table: str, budget: int,
                            id_col: str = "doc_id",
                            tokens_expr: str =
                            "CAST(len(string_split(text, ' ')) AS BIGINT)",
                            group_col: str = "source",
                            seed: str = "s42") -> str:
    h = hash60_sql(f"'{seed}' || CAST({id_col} AS VARCHAR)")
    return (
        f"SELECT * FROM ("
        f"  SELECT *, CAST(COALESCE(SUM(ws_tokens) OVER ("
        f"    PARTITION BY {group_col} ORDER BY sample_u, {id_col} "
        f"    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)"
        f"  AS taken_before FROM ("
        f"    SELECT *, {tokens_expr} AS ws_tokens, "
        f"    (CAST({h} AS DOUBLE) / {_U_SCALE!r}) AS sample_u FROM {table})) "
        f"WHERE taken_before < {budget}"
    )


# ------------------------------------------------------ curation policy
def curation_policy_df(df: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Composite quality policy: every Gopher-style rule evaluated
    independently, emitting (id, keep, reasons) where reasons is the
    comma-joined sorted list of FAILED rules — the auditable form a
    production curation run logs per document (why a doc was dropped,
    not just that it was).  A NULL text is dropped with the one reason
    ``no_text``, as ``gopher_keep`` drops it.  SQL-text projections over
    ``text_signals_spark_sql`` and ``gopher_rules_sql``; zero shuffle,
    zero Python."""
    sig_df, sig = _signals_df(df, id_col, text_col)
    failed = [f"CASE WHEN NOT ({ok}) THEN {sql_str(r)} END"
              for r, ok in gopher_rules_sql(sig)]
    failed.append(f"CASE WHEN {sig['n_stop']} = 0 THEN 'no_stopwords' END")
    return sig_df.selectExpr(
        f"`{id_col}`", f"CASE WHEN {sig['n_chars']} IS NULL "
        "THEN array('no_text') ELSE array_sort(filter(array("
        f"{', '.join(failed)}), _x -> _x IS NOT NULL)) END AS _f",
    ).selectExpr(f"`{id_col}`", "CAST(size(_f) = 0 AS INT) AS keep",
                 "concat_ws(',', _f) AS reasons")


def curation_policy_sql(table: str = "documents", id_col: str = "doc_id",
                        text_col: str = "text") -> str:
    toks = f"string_split({text_col}, ' ')"
    n_words = f"len({toks})"
    n_distinct = f"len(list_distinct({toks}))"
    dup = f"(1.0 - CAST({n_distinct} AS DOUBLE) / CAST({n_words} AS DOUBLE))"
    n_chars = f"length({text_col})"
    avg_wl = (
        f"(CAST({n_chars} - ({n_words} - 1) AS DOUBLE) / "
        f"CAST({n_words} AS DOUBLE))"
    )
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    n_stop = f"len(list_filter({toks}, t -> lower(t) IN ({stop_list})))"
    lo, hi = GOPHER_WORD_LEN_RANGE
    cases = ", ".join([
        f"CASE WHEN {n_words} < {GOPHER_MIN_WORDS} THEN 'too_short' END",
        f"CASE WHEN {n_words} > {GOPHER_MAX_WORDS} THEN 'too_long' END",
        f"CASE WHEN {dup} > {GOPHER_MAX_DUP_WORD_FRAC} THEN 'repetitive' END",
        f"CASE WHEN {avg_wl} < {lo} OR {avg_wl} > {hi} THEN 'word_len' END",
        f"CASE WHEN {n_stop} = 0 THEN 'no_stopwords' END",
    ])
    failed = (f"(CASE WHEN {text_col} IS NULL THEN ['no_text'] ELSE "
              f"list_sort(list_filter([{cases}], x -> x IS NOT NULL)) END)")
    return (
        f"SELECT {id_col}, CAST(len({failed}) = 0 AS INT) AS keep, "
        # COALESCE: DuckDB string_agg over an empty list is NULL;
        # Spark concat_ws over an empty array is ''
        f"COALESCE(list_aggregate({failed}, 'string_agg', ','), '') AS reasons "
        f"FROM {table}"
    )


# ----------------------------------------- corpus-trained LM quality
# CCNet (Wenzek et al. 2020, arXiv:1911.00359) ranks documents by LM
# fit; the LM here is a word-bigram model TRAINED ON THE CORPUS
# ITSELF in the same job (two aggregations), so the score is fully
# deterministic and needs no external model file. The score is the
# arithmetic-mean conditional likelihood avg P(w_i | w_{i-1}) under
# the corpus MLE — a portable surrogate for perplexity: the log
# variant needs ln(), whose last-ulp rounding differs between JVM
# Math.log and C libm, so it cannot pass a bit-exact cross-engine
# gate. Semantics of in-corpus MLE (vs CCNet's external smoothed LM):
# a doc is penalized for taking RARE continuations of SHARED contexts
# (lazy->cat scores 1/3 when lazy->dog holds 2/3 of the mass), while
# a doc whose contexts are corpus-singletons degenerates to exactly
# 1.0 — so the score ranks typicality among overlapping-vocabulary
# docs; at web scale (every context shared) that is all docs. A
# production deployment swaps the in-job counts for a reference-
# corpus count table; the plan shape is identical.
def lm_score_df(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """(id, n_bigrams, avg_cond_p): mean corpus-MLE conditional
    bigram probability per document.

    Scale shape: the corpus is scanned/exploded TWICE and shuffled
    at vocab scale, never at corpus scale — (a) the bigram-count agg
    (map-side combine shrinks each task to its distinct bigrams
    before the exchange), (b) context counts derived FROM the bigram
    counts (vocab-sized agg, no corpus scan), (c) the per-doc score
    join streams the exploded corpus against an EXPLICIT broadcast
    of the vocab-bounded probability dim — without the hint, AQE
    size-flaps between broadcasting the corpus-scale exploded side
    and a full SMJ shuffle (measured 4.5 s vs 43 s on the same
    input). If the bigram vocabulary outgrows broadcast at extreme
    scale, drop the hint and pre-partition both sides by gram. The
    per-doc sum folds a sorted array left-to-right so Spark and
    DuckDB agree bit-for-bit regardless of join/aggregation order."""
    staged = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_tk"))
    grams = shingles_from_tokens(F.col("_tk"), 2)
    # explode_outer + filter: the inner-explode codegen path
    # re-evaluates its input per OUTPUT element (O(n^2) per doc)
    ex = (
        staged.select(F.col(id_col), F.explode_outer(grams).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    c2 = (
        ex.groupBy("gram").agg(F.count("*").alias("_c2"))
        .select(
            "gram", "_c2",
            F.substring_index(F.col("gram"), " ", 1).alias("_w1"),
        )
    )
    # context counts: sum the bigram counts per first word — the
    # corpus is NOT rescanned for this (c1[w] == count of w in any
    # non-final position == sum over bigrams starting with w)
    c1 = c2.groupBy("_w1").agg(F.sum("_c2").alias("_c1"))
    # ROUND(9) before the fold: the division is correctly-rounded
    # IEEE on both engines, rounding pins the summands exactly
    probs = c2.join(c1, "_w1").select(
        "gram",
        F.round(
            F.col("_c2").cast("double") / F.col("_c1").cast("double"), 9
        ).alias("_p"),
    )
    per_doc = (
        ex.join(F.broadcast(probs), "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.aggregate(
                    F.sort_array(F.collect_list("_p")),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ) / F.count("*"),
                6,
            ).alias("avg_cond_p"),
        )
    )
    return df.select(F.col(id_col)).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("n_bigrams"), F.lit(0)).cast("long")
        .alias("n_bigrams"),
        F.col("avg_cond_p"),
    )


def lm_score_sql(table: str = "documents", id_col: str = "doc_id",
                 text_col: str = "text") -> str:
    toks = f"string_split({text_col}, ' ')"
    grams = (
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> array_to_string({toks}[i : i + 1], ' '))"
    )
    return (
        f"WITH _ex AS (SELECT {id_col}, gram, split_part(gram, ' ', 1) AS w1 "
        f"FROM (SELECT {id_col}, unnest({grams}) AS gram FROM {table})), "
        "_c2 AS (SELECT gram, w1, COUNT(*) AS c2 FROM _ex GROUP BY gram, w1), "
        "_c1 AS (SELECT w1, COUNT(*) AS c1 FROM _ex GROUP BY w1), "
        "_p AS (SELECT gram, ROUND(CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE), 9) AS p "
        "FROM _c2 JOIN _c1 USING (w1)), "
        f"_doc AS (SELECT {id_col}, COUNT(*) AS n_bigrams, "
        "ROUND((0.0 + list_reduce(list_sort(list(p)), (x, y) -> x + y)) "
        "/ COUNT(*), 6) AS avg_cond_p "
        f"FROM _ex JOIN _p USING (gram) GROUP BY {id_col}) "
        f"SELECT d.{id_col}, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams, "
        f"avg_cond_p FROM {table} d LEFT JOIN _doc USING ({id_col})"
    )


# -------------------------------------- duplicate-substring spans
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499) remove substrings of >=50 BPE tokens
# that occur more than once in the corpus, found via suffix arrays.
# This is the k-gram-granularity distributed equivalent: every
# duplicated token run of length >= DUP_K is found (a run of length
# L >= DUP_K contains L-DUP_K+1 duplicated k-grams, all of which
# collide by hash), and overlapping/adjacent duplicated k-gram
# intervals are merged into maximal spans per document.
DUP_K = 8


def dup_substring_spans(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text",
                        k: int = DUP_K) -> DataFrame:
    """(id, span_start, span_end, n_grams): maximal token spans whose
    every k-gram occurs more than once in the corpus (1-based,
    inclusive token positions).

    Scale shape: ONE k-gram explode (corpus-token scale), ONE
    corpus-scale shuffle — duplicate discovery is a COUNT window
    partitioned by the k-gram hash, not a groupBy+self-join, so the
    corpus is scanned once instead of twice (distinct k-grams are
    ~corpus-sized in a deduplicated corpus, so the agg's map-side
    combine would not shrink that shuffle anyway) — then the
    surviving-hit minority flows into the per-doc window + island
    agg, which share one (id) shuffle. No Python, no all-pairs."""
    staged = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_tk"))
    grams = shingles_from_tokens(F.col("_tk"), k)
    ex = (
        staged.select(
            F.col(id_col),
            F.posexplode_outer(grams).alias("_p0", "_g"),
        )
        .filter(F.col("_g").isNotNull())
        .select(
            id_col,
            (F.col("_p0") + 1).alias("pos"),
            hash60(F.col("_g")).alias("_h"),
        )
    )
    hits = (
        ex.select(
            F.col(id_col), F.col("pos"),
            F.count("*").over(Window.partitionBy("_h")).alias("_n"),
        )
        .filter(F.col("_n") > 1)
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    # interval [pos, pos+k-1]: merge when the next start is within k
    # of the previous (overlap or exact adjacency)
    marked = hits.select(
        F.col(id_col), F.col("pos"),
        F.when(F.col("pos") > F.lag("pos").over(w) + k, F.lit(1))
        .otherwise(F.lit(0)).alias("_brk"),
    )
    isl = marked.select(
        F.col(id_col), F.col("pos"),
        F.sum("_brk").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("_isl"),
    )
    return (
        isl.groupBy(id_col, "_isl")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (k - 1)).alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def dup_substring_spans_sql(table: str = "documents",
                            id_col: str = "doc_id",
                            text_col: str = "text",
                            k: int = DUP_K) -> str:
    toks = f"string_split({text_col}, ' ')"
    n_pos = f"(len({toks}) - {k - 1})"
    grams = (
        f"list_transform(generate_series(1, {n_pos}), "
        f"j -> array_to_string({toks}[j : j + {k - 1}], ' '))"
    )
    return (
        f"WITH _ex AS (SELECT {id_col}, u.i AS pos, "
        f"{hash60_sql('u.g')} AS h "
        f"FROM {table}, LATERAL (SELECT unnest({grams}) AS g, "
        f"unnest(generate_series(1, {n_pos})) AS i) u), "
        f"_hits AS (SELECT {id_col}, pos FROM (SELECT {id_col}, pos, "
        "COUNT(*) OVER (PARTITION BY h) AS n FROM _ex) WHERE n > 1), "
        f"_mark AS (SELECT {id_col}, pos, CASE WHEN pos > "
        f"LAG(pos) OVER (PARTITION BY {id_col} ORDER BY pos) + {k} "
        "THEN 1 ELSE 0 END AS brk FROM _hits), "
        f"_isl AS (SELECT {id_col}, pos, SUM(brk) "
        f"OVER (PARTITION BY {id_col} ORDER BY pos "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl "
        "FROM _mark) "
        f"SELECT {id_col}, MIN(pos) AS span_start, "
        f"MAX(pos) + {k - 1} AS span_end, "
        "CAST(COUNT(*) AS BIGINT) AS n_grams "
        f"FROM _isl GROUP BY {id_col}, isl"
    )
