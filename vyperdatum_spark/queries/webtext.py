"""Webtext training-data queries (dedup / similarity / text analysis)
for the driver's correctness gate, over documents + embeddings."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.inputs import local_df
from ..ops import clustering, dedup, dsir, search, similarity, textstats


def _docs(spark: SparkSession, sf_dir: str,
          parallel: bool = True) -> DataFrame:
    from ..engine.inputs import read_input

    if not parallel:
        # aggregation-bound consumers: the fan-out only adds a stage
        return spark.read.parquet(f"{sf_dir}/documents.parquet")
    return read_input(spark, f"{sf_dir}/documents.parquet")


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT read_input: the embeddings fixture is consumed by iterative
    # Arrow-kernel scorers (k-means train rounds, IVF probes) whose
    # per-round cost is dominated by task/worker fan-out, not per-row
    # math - fanning 2k tiny vectors over 32 partitions measured
    # emb_kmeans 3.5 -> 10-13 s and ann_lsh_multi_topk 2x worse.  At
    # scale the table arrives as many files and parallelizes at the
    # scan without any repartition.
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs_with_dups(spark: SparkSession, sf_dir: str,
                    parallel: bool = True) -> DataFrame:
    """documents plus a deterministic duplicated subset (doc_id % 7)
    so exact-dedup has real groups to find at every scale factor."""
    d = _docs(spark, sf_dir, parallel=parallel)
    dups = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    return d.unionByName(dups)


DUPS_SQL = (
    "(SELECT * FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars "
    "FROM documents WHERE doc_id % 7 = 0)"
)


# planted policy edge cases: one doc per failure rule (plus one clean
# keeper), appended to the corpus so curation_policy exercises every
# branch at every scale factor
_POLICY_PLANTS = [
    (2000001, "tiny doc"),
    (2000002, " ".join(["spam"] * 40)),
    (2000003, " ".join(f"hyperextended{i}word" for i in range(12))),
    (2000004, "the quick brown fox and the lazy dog in a sunny park today"),
]


def _policy_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    plants = local_df(spark, _POLICY_PLANTS, "doc_id long, text string")
    return _docs(spark, sf_dir).select("doc_id", "text").unionByName(plants)


_POLICY_DOCS_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL SELECT * FROM (VALUES "
    + ", ".join(f"({i}, '{t}')" for i, t in _POLICY_PLANTS)
    + ") v(doc_id, text)"
)


def _media_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text re-encoded as opaque binary payloads, a rotating
    subset prefixed with real codec magic bytes — deterministic stand-in
    for a multimodal (image/audio) column at any scale factor."""
    d = F.col("doc_id")
    prefix = (
        F.when(d % 7 == 0, F.lit(b"\x89PNG"))
        .when(d % 7 == 1, F.lit(b"GIF8"))
        .when(d % 7 == 2, F.lit(b"\xff\xd8\xff"))
        .otherwise(F.lit(b""))
    )
    return _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(prefix, F.encode(F.col("text"), "UTF-8")).alias("payload"),
    )


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops import multimodal

    return multimodal.media_meta(
        _media_payloads(spark, sf_dir), "doc_id", "payload", hash_mode="hex"
    )


def multimodal_meta_sql() -> str:
    from ..ops.multimodal import MAGIC

    sniff = "ELSE 'bin' END"
    whens = " ".join(
        f"WHEN starts_with(hex(payload), '{magic.hex().upper()}') "
        f"THEN '{kind}'"
        for magic, kind in MAGIC.items()
    )
    return (
        "WITH p AS (SELECT doc_id, "
        "(CASE WHEN doc_id % 7 = 0 THEN '\\x89PNG'::BLOB "
        "WHEN doc_id % 7 = 1 THEN 'GIF8'::BLOB "
        "WHEN doc_id % 7 = 2 THEN '\\xFF\\xD8\\xFF'::BLOB "
        "ELSE ''::BLOB END || encode(text)) AS payload FROM documents) "
        "SELECT doc_id, octet_length(payload) AS byte_len, "
        "md5(hex(payload)) AS content_md5, "
        f"CASE {whens} {sniff} AS media_kind FROM p"
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 JSON scalar functions (reference uses them only in the
    web-API client, SURVEY §2.1 S10): build a deterministic JSON
    metadata column and parse it back with the engine's JSON path
    functions — round-trips construction + extraction + typed cast."""
    js = F.concat(
        F.lit('{"src":"'), F.col("source"),
        F.lit('","n":'), F.col("n_chars").cast("string"),
        F.lit(',"lang":"'), F.col("lang"), F.lit('"}'),
    )
    return _docs(spark, sf_dir).select(
        F.col("doc_id"),
        F.get_json_object(js, "$.src").alias("meta_src"),
        F.get_json_object(js, "$.n").cast("long").alias("meta_n"),
        F.get_json_object(js, "$.lang").alias("meta_lang"),
    )


def json_extract_sql() -> str:
    js = (
        "('{\"src\":\"' || source || '\",\"n\":' || CAST(n_chars AS VARCHAR)"
        " || ',\"lang\":\"' || lang || '\"}')"
    )
    return (
        f"SELECT doc_id, json_extract_string({js}, '$.src') AS meta_src, "
        f"CAST(json_extract_string({js}, '$.n') AS BIGINT) AS meta_n, "
        f"json_extract_string({js}, '$.lang') AS meta_lang FROM documents"
    )


def q_stream_first_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator (applyInPandasWithState,
    §2.8) under the oracle gate: drain documents as a stream, keyed
    state per source emitting (first doc_id, batch count) — equals the
    per-key batch aggregate on a single-batch drain."""
    from ..streaming import stateful
    from ..streaming.windows import query_work_dir

    return stateful.stream_first_per_key(
        spark, f"{sf_dir}/documents.parquet",
        query_work_dir("first_per_source"), "source", "doc_id"
    )


# Synthetic page fields in SQL text that Spark and DuckDB both parse,
# so one builder serves the Spark plan (through F.expr: one py4j call
# per column) and its oracle.

# Deterministic synthetic URL per document (from doc_id+source),
# exercising every canonicalization rule on rotating subsets:
# scheme/host case, default :443 port, trailing slash, leading utm_*
# param, fragment. The case-varied '/Docs/' path proves case-folding
# stays off the path.
_URL_SQL = (
    "(CASE WHEN doc_id % 4 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)"
    " || source || "
    "(CASE WHEN doc_id % 4 = 0 THEN '.EXAMPLE.com' ELSE '.example.com' END)"
    " || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)"
    " || '/Docs/' || CAST(doc_id % 50 AS STRING)"
    " || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)"
    " || (CASE WHEN doc_id % 2 = 0 THEN '?utm_source=feed&ref=' ||"
    " CAST(doc_id % 9 AS STRING) ELSE '' END)"
    " || (CASE WHEN doc_id % 6 = 0 THEN '#sec2' ELSE '' END)"
)


def _url_col() -> F.Column:
    """The synthetic URL over (doc_id, source)."""
    return F.expr(_URL_SQL)


def _doc_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir, parallel=False).select(
        F.col("doc_id"), _url_col().alias("url")
    )


_DOC_URLS_SQL = f"SELECT doc_id, {_URL_SQL} AS url FROM documents"


def url_dedup_oracle_sql() -> str:
    """DuckDB twin of ops.urls.url_dedup over the synthetic URLs —
    canonicalization SQL shared with the op module (single source of
    truth for the regex sequence)."""
    from ..ops import urls

    canon = urls.canonical_url_sql(_DOC_URLS_SQL)
    return (
        f"WITH c AS ({canon}) "
        "SELECT canonical_url, MIN(doc_id) AS keeper_id, "
        "COUNT(*) AS n_members FROM c GROUP BY canonical_url "
        "HAVING COUNT(*) > 1"
    )


# ------------------------------------------------------- round-4 fixtures
# Synthetic capture timestamp (epoch seconds, long): canonical URL
# groups span many ts values with planted ties broken by id.
_WARC_TS_SQL = (
    "CAST(1700000000 + (doc_id % 89) * 3600 + (doc_id % 13) AS BIGINT)"
)


def _warc_ts_col() -> F.Column:
    """The synthetic capture timestamp over doc_id."""
    return F.expr(_WARC_TS_SQL)


def _doc_urls_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic (doc_id, warc_ts, url) captures: canonical URLs
    collide across ~source×50 path groups so latest-capture has real
    work."""
    return _docs(spark, sf_dir, parallel=False).select(
        "doc_id", _warc_ts_col().alias("warc_ts"), _url_col().alias("url")
    )


_DOC_URLS_TS_SQL = (
    f"SELECT doc_id, {_WARC_TS_SQL} AS warc_ts, url FROM ("
    + _DOC_URLS_SQL + ")"
)


def _page_html_sql(text_expr: str = "text") -> str:
    """documents.text wrapped in an html page string exercising every
    extraction rule on rotating subsets — uppercase SCRIPT tags,
    multi-line script bodies, comments containing tag-like junk,
    numeric/named entity encodings. Built so the extracted text is
    BYTE-IDENTICAL to the source text (the north-rule per-row
    invariant)."""
    return (
        "'<!DOCTYPE html><html><head><title></title>'"
        " || (CASE WHEN doc_id % 3 = 0 THEN"
        " '<SCRIPT type=\"text/javascript\">var a=1;</SCRIPT>'"
        " ELSE '<script>if(a<b){' || chr(10) || 'f(\"x &amp; y\");}</script>'"
        " END)"
        " || '<style>.c{color:#fff}</style></head><body class=\"m\">'"
        " || (CASE WHEN doc_id % 5 = 0 THEN"
        " '<!--<p>junk ' || CAST(doc_id AS STRING) || '</p>-->'"
        " ELSE '<!-- c' || CAST(doc_id AS STRING) || ' -->' END)"
        " || '<p>' || (CASE WHEN doc_id % 11 = 0 THEN"
        f" replace(replace({text_expr}, 'e', '&#101;'), ' ', '&nbsp;')"
        f" ELSE replace({text_expr}, 'e', '&#101;') END)"
        " || '</p><br/></body></html>'"
    )


def _page_html_col(text_col: str = "text") -> F.Column:
    """The synthetic page string over (doc_id, ``text_col``)."""
    return F.expr(_page_html_sql(f"`{text_col}`"))


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, html:binary) — the minimal extraction fixture."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id"), F.encode(_page_html_col(), "UTF-8").alias("html")
    )


def _cc_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL north-rule input shape (BASELINE.json input_hint):
    (url, warc_ts, html:binary, text, lang) per page, synthesized
    deterministically from documents — html wraps the text so
    extraction reproduces `text` byte-identically."""
    return _docs(spark, sf_dir).select(
        F.col("doc_id"),
        _url_col().alias("url"),
        _warc_ts_col().alias("warc_ts"),
        F.encode(_page_html_col(), "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


_PAGES_SQL = (
    f"SELECT doc_id, encode({_page_html_sql()}) AS html FROM documents"
)

_CC_PAGES_SQL = (
    f"SELECT doc_id, {_URL_SQL} AS url, {_WARC_TS_SQL} AS warc_ts, "
    f"encode({_page_html_sql()}) AS html, text, lang FROM documents"
)


def _ml_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-line documents: the content line plus rotating boilerplate
    (two template lines far above the removal threshold) and a
    long-tail 'promo code N' line (~2 docs each, below threshold, must
    survive). concat_ws skips nulls identically on both engines."""
    d = F.col("doc_id")
    bp1 = F.when(d % 2 == 0, F.lit("subscribe to our newsletter today"))
    promo = F.when(d % 5 == 0,
                   F.concat(F.lit("promo code "), (d % 997).cast("string")))
    bp2 = F.when(d % 3 == 0, F.lit("all rights reserved"))
    return _docs(spark, sf_dir, parallel=False).select(
        d.alias("doc_id"),
        F.concat_ws("\n", F.col("text"), bp1, promo, bp2).alias("text"),
    )


_ML_DOCS_SQL = (
    "SELECT doc_id, concat_ws(chr(10), text, "
    "CASE WHEN doc_id % 2 = 0 THEN 'subscribe to our newsletter today' END, "
    "CASE WHEN doc_id % 5 = 0 THEN 'promo code ' || "
    "CAST(doc_id % 997 AS VARCHAR) END, "
    "CASE WHEN doc_id % 3 = 0 THEN 'all rights reserved' END) AS text "
    "FROM documents"
)


# documents.text with synthetic PII appended on rotating subsets: an
# e-mail, an IPv4, a phone number — each kind independently
# present/absent so counts vary 0..3 per row.
_PII_TEXT_SQL = (
    "text || "
    "(CASE WHEN doc_id % 3 = 0 THEN ' contact user' || "
    "CAST(doc_id % 50 AS STRING) || '@mail' || "
    "CAST(doc_id % 7 AS STRING) || '.example.com now' ELSE '' END) || "
    "(CASE WHEN doc_id % 4 = 0 THEN ' server ' || "
    "CAST(doc_id % 256 AS STRING) || '.0.' || "
    "CAST(doc_id % 100 AS STRING) || '.7 up' ELSE '' END) || "
    "(CASE WHEN doc_id % 6 = 0 THEN ' call +1-555-' || "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END)"
)

_PII_DOCS_SQL = (
    f"SELECT doc_id, source, {_PII_TEXT_SQL} AS text FROM documents"
)


def _pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, text) with the synthetic PII appended."""
    return _docs(spark, sf_dir).select(
        "doc_id", "source", F.expr(_PII_TEXT_SQL).alias("text"))


# exact host + parent-domain entries, exercising both match modes
# (fixture hosts are www.srcN.example.com / www.srcN.EXAMPLE.com:443)
BLOCKED_HOSTS = ["www.src0.example.com", "src1.example.com"]


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ops import urls

    return urls.blocklist_filter(_doc_urls(spark, sf_dir), BLOCKED_HOSTS)


def q_stream_curated_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING curation front-end in one query: drain documents
    as a stream, page-ify (html:binary + url + warc_ts), extract text
    (JVM regexp chain — stateless, streaming-safe), canonicalize the
    URL, then a keyed-state first-capture dedup per canonical URL
    (applyInPandasWithState). On a single-batch drain this equals the
    batch 'earliest (ts, id) per canonical URL' aggregate — closed
    form, so the whole streaming composition is oracle-checkable;
    cross-batch state behavior is pytest-covered."""
    from ..ops import html as html_ops
    from ..ops import urls
    from ..streaming import stateful
    from ..streaming.windows import drain_to_parquet, query_work_dir

    def build(docs_stream: DataFrame) -> DataFrame:
        pages = docs_stream.select(
            F.col("doc_id"),
            _warc_ts_col().alias("warc_ts"),
            _url_col().alias("url"),
            F.encode(_page_html_col(), "UTF-8").alias("html"),
        )
        canon = urls.canonical_url_df(pages, extra_cols=["warc_ts", "html"])
        enriched = canon.select(
            "doc_id", "warc_ts", "canonical_url",
            html_ops.extract_text_col(F.col("html")).alias("text_out"),
        )
        return stateful.stream_first_capture(enriched)

    return drain_to_parquet(
        spark, f"{sf_dir}/documents.parquet",
        query_work_dir("curated_capture"), build,
    )


def stream_curated_capture_sql() -> str:
    from ..ops import html as html_ops
    from ..ops import urls

    canon = urls.canonical_url_sql(
        _CC_PAGES_SQL, extra_cols=["warc_ts", "html"]
    )
    ext = html_ops.extract_expr_sql("html")
    return (
        f"WITH c AS ({canon}), "
        f"e AS (SELECT doc_id, warc_ts, canonical_url, {ext} AS text_out "
        "FROM c) "
        "SELECT canonical_url, doc_id AS first_id, warc_ts AS first_ts, "
        "text_out, n_in_batch FROM ("
        "SELECT *, COUNT(*) OVER (PARTITION BY canonical_url) AS n_in_batch, "
        "ROW_NUMBER() OVER (PARTITION BY canonical_url "
        "ORDER BY warc_ts, doc_id) AS rn FROM e) WHERE rn = 1"
    )


def q_curation_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch Common-Crawl curation chain in ONE Spark plan:
    pages (html:binary with PII planted in the text) → HTML→text
    extraction → PII redaction (column-preserving) → Gopher repetition
    filter → latest-capture-per-canonical-URL dedup. Output: one clean
    row per kept page.

    Plan shape at 100 TB: projections (extract/redact), the token
    Generate and the filter fuse into one codegen stage, with every
    regexp chain evaluated once per row; the only shuffles are the
    latest-capture aggregate on the canonical key and its join back —
    the same two-exchange shape as dedup.exact_duplicates + keeper
    join."""
    from ..ops import html as html_ops
    from ..ops import pii as pii_ops
    from ..ops import textstats as ts
    from ..ops import urls

    # _url_col()/_warc_ts_col() depend only on doc_id+source, which
    # the PII-augmented docs carry — page-ification stays one scan
    pages = _pii_docs(spark, sf_dir).select(
        F.col("doc_id"),
        _warc_ts_col().alias("warc_ts"),
        _url_col().alias("url"),
        F.encode(_page_html_col("text"), "UTF-8").alias("html"),
    )
    canon = urls.canonical_url_df(pages, extra_cols=["warc_ts", "html"])
    # extraction and redaction are plain projections, where codegen
    # evaluates each regexp chain once per row
    ext = canon.select(
        "doc_id", "canonical_url",
        html_ops.extract_text_col(F.col("html")).alias("text_out"),
    )
    red = pii_ops.pii_annotate(ext, "text_out")
    # 1-row explode = a Generate barrier the Gopher filter cannot cross.
    # Without it, predicate pushdown substitutes clean_text's alias into
    # the filter (~10 copies of the PII chain; a Filter has no common-
    # subexpression elimination).  The text travels inside the struct:
    # as a plain child column, constraint inference would push
    # isnotnull(<whole HTML+PII chain>) down to the scan instead.
    tok = red.select(
        "doc_id", "canonical_url", "n_email", "n_ip", "n_phone",
        F.explode(F.array(F.struct(
            F.col("clean_text").alias("t"),
            dedup.tokens_col(F.col("clean_text")).alias("tk"),
        ))).alias("_r"),
    )
    rep = ts.repetition_cols(F.col("_r.t"), toks=F.col("_r.tk"))
    kept = tok.filter(rep["gopher_keep"])
    # latest capture per canonical key, directly on the already-
    # canonical column (same map-combining max-struct shape as
    # urls.latest_capture, minus the redundant re-canonicalization);
    # built from canon, so column pruning drops html from this branch
    latest_ids = (
        canon.groupBy("canonical_url")
        .agg(F.max(F.struct("warc_ts", "doc_id")).alias("_b"))
        .select(F.col("_b.doc_id").alias("doc_id"))
    )
    out = kept.join(latest_ids, "doc_id")
    return out.select(
        "doc_id", "canonical_url", F.col("_r.t").alias("clean_text"),
        (F.col("n_email") + F.col("n_ip") + F.col("n_phone"))
        .cast("long").alias("n_pii"),
        rep["n_words"].alias("n_words"),
    )


def curation_end_to_end_sql() -> str:
    from ..ops import html as html_ops
    from ..ops import pii as pii_ops
    from ..ops import textstats as ts
    from ..ops import urls

    pii_pages = (
        f"SELECT doc_id, {_URL_SQL} AS url, {_WARC_TS_SQL} AS warc_ts, "
        f"encode({_page_html_sql('text')}) AS html "
        f"FROM ({_PII_DOCS_SQL})"
    )
    canon = urls.canonical_url_sql(pii_pages, extra_cols=["warc_ts", "html"])
    ext = html_ops.extract_expr_sql("html")
    red = pii_ops.pii_redact_sql(
        table="(SELECT doc_id, text_out AS text FROM e)")
    rep = ts.repetition_sql(
        table="(SELECT doc_id, clean_text AS text FROM r)")
    return (
        f"WITH c AS ({canon}), "
        f"e AS (SELECT doc_id, warc_ts, canonical_url, {ext} AS text_out "
        "FROM c), "
        f"r AS ({red}), "
        f"g AS ({rep}), "
        "l AS (SELECT doc_id FROM ("
        "SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY canonical_url "
        "ORDER BY warc_ts DESC, doc_id DESC) AS rn FROM e) WHERE rn = 1) "
        "SELECT e.doc_id, e.canonical_url, r.clean_text, "
        "CAST(r.n_email + r.n_ip + r.n_phone AS BIGINT) AS n_pii, "
        "g.n_words "
        "FROM e JOIN r USING (doc_id) JOIN g USING (doc_id) "
        "JOIN l USING (doc_id) WHERE g.gopher_keep"
    )


def q_text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length distribution (p50/p90/p99) via the exact
    distributed percentile — bit-identical to DuckDB quantile_cont on
    integer inputs.  The sketch twin (approx_percentile) is the
    100-TB path; its rank error is pinned in tests/test_quantiles.py."""
    from ..ops.quantiles import group_quantiles

    return group_quantiles(
        _docs(spark, sf_dir), ["lang"], "n_chars", [0.5, 0.9, 0.99]
    ).orderBy("lang")


def q_text_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold curation: keep docs at-or-above their
    language's p90 length.  Cutoff dim = one row per language,
    broadcast back — the filter pass adds no shuffle."""
    from ..ops.quantiles import quantile_threshold_filter

    return quantile_threshold_filter(
        _docs(spark, sf_dir).select("doc_id", "lang", "n_chars"),
        ["lang"],
        "n_chars",
        0.9,
    )


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing offsets: per source shard, each doc's
    start offset in the concatenated (tokens + 1 EOS) stream and the
    512-token sequence indexes it spans — the integer window math a
    distributed sequence writer needs (`ops/packing.py`)."""
    from ..ops.packing import pack_sequences

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(dedup.tokens_col(F.col("text"))).cast("long").alias("ws_tokens"),
    )
    return pack_sequences(docs, seq_len=512, sep_tokens=1)


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing: fill a 500-token budget per source in
    deterministic hash order (`ops/textstats.sample_token_budget`) —
    rerun/engine-portable, overshoot ≤ 1 doc per group."""
    from ..ops.textstats import sample_token_budget

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.size(dedup.tokens_col(F.col("text"))).cast("long").alias("ws_tokens"),
    )
    return sample_token_budget(docs, budget=500).select(
        "doc_id", "source", "ws_tokens", "taken_before"
    )


def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over a deterministic synthetic link graph on the
    documents table (doc i links to (3i+1) mod N, (7i+2) mod N, and
    floor(i/2); docs with doc_id % 17 == 0 are dangling).  Since
    round 5 the per-round sums are order-insensitive (1e-15 integer
    grid, ops/graph docstring), so the unrolled recursive-CTE DuckDB
    twin (`ops.graph.pagerank_doc_graph_sql`) matches HASH-EXACT
    after round(12) — the former rows-only asterisk is closed; numpy
    power-iteration parity stays pinned in tests/test_graph.py."""
    from ..ops.graph import pagerank

    ids = _docs(spark, sf_dir).select("doc_id")
    n = ids.count()
    edges = (
        ids.filter(F.col("doc_id") % 17 != 0)
        .select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    (F.col("doc_id") * 3 + 1) % n,
                    (F.col("doc_id") * 7 + 2) % n,
                    F.floor(F.col("doc_id") / 2),
                )
            ).alias("dst"),
        )
    )
    return (
        pagerank(edges, n_iter=20)
        .select(F.col("node").alias("doc_id"), F.round("rank", 12).alias("rank"))
    )


def queries() -> dict:
    from ..ops import html, lines, pii, urls

    return {
        "url_canonical_dedup": lambda s, d: urls.url_dedup(_doc_urls(s, d)),
        "url_latest_capture": lambda s, d: urls.latest_capture(
            _doc_urls_ts(s, d)
        ),
        "html_extract_text": lambda s, d: html.extract_text(_pages(s, d)),
        "line_dedup": lambda s, d: lines.remove_common_lines(_ml_docs(s, d)),
        # keep-FIRST exact substring dedup (arXiv:2107.06499) — the
        # boilerplate lines survive exactly once, in the lowest doc
        "dedup_paragraphs": lambda s, d: lines.dedup_paragraphs_keepfirst(
            _ml_docs(s, d)
        ),
        "pii_redact": lambda s, d: pii.pii_redact(_pii_docs(s, d)),
        "text_repetition": lambda s, d: textstats.repetition_df(_docs(s, d)),
        "curation_policy": lambda s, d: textstats.curation_policy_df(
            _policy_docs(s, d)
        ),
        "curation_end_to_end": q_curation_end_to_end,
        "stream_curated_capture": q_stream_curated_capture,
        "url_blocklist_filter": q_url_blocklist,
        "dedup_exact": lambda s, d: dedup.exact_duplicates(_docs_with_dups(s, d)),
        "dedup_minhash_lsh": lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)),
        "dedup_simhash": lambda s, d: dedup.simhash_groups(_docs(s, d)),
        "dedup_simhash_hamming": lambda s, d: dedup.simhash_hamming_pairs(
            _docs_with_dups(s, d)
        ),
        # explicit all-pairs opt-in: the oracle is the O(n²)-within-
        # language recall reference, safe at test scale only — the
        # production default (no flag) verifies LSH candidates
        "dedup_ngram_jaccard": lambda s, d: dedup.jaccard_pairs(
            _docs(s, d), threshold=0.5, allow_all_pairs=True
        ),
        "dedup_lsh_verified": lambda s, d: dedup.lsh_verified_pairs(
            _docs(s, d), threshold=0.5
        ),
        # parallel=False: the CC fixpoint loop re-materializes tiny
        # edge lists per round, and fanning the 5k-doc scan over 32
        # partitions costs more in round overhead than the shingle
        # hashing gains (measured +1.2 s at sf0.1)
        "dedup_cluster_canonical": lambda s, d: dedup.cluster_canonical(
            _docs_with_dups(s, d, parallel=False), threshold=0.5
        ),
        "dedup_embedding_cosine": lambda s, d: similarity.cosine_dup_pairs(
            _embs(s, d), threshold=0.35
        ),
        # SemDeDup (arXiv:2303.09540): centroid-blocked semantic dedup
        # with an auditable per-row keep/drop verdict
        "dedup_semantic": lambda s, d: similarity.semantic_dedup(_embs(s, d)),
        # SemDeDup as the paper runs it: cluster on k-means TRAINED
        # in-job (the IVF trainer), then drop within trained clusters
        "dedup_semantic_trained": lambda s, d: similarity.semantic_dedup_trained(
            _embs(s, d)
        ),
        "ann_bruteforce_topk": lambda s, d: similarity.ann_bruteforce_topk(
            _embs(s, d)
        ),
        "ann_lsh_topk": lambda s, d: similarity.ann_lsh_multi_topk(
            _embs(s, d), n_tables=1),
        "ann_lsh_multi_topk": lambda s, d: similarity.ann_lsh_multi_topk(
            _embs(s, d)
        ),
        "ann_ivf_topk": lambda s, d: similarity.ann_ivf_topk(_embs(s, d)),
        # Lloyd's k-means trained in-job (the trainer the IVF index's
        # seeded centroids stand in for); final assignment is one
        # broadcast Arrow-kernel pass over the scan — 0 shuffles
        "emb_kmeans": lambda s, d: clustering.kmeans_assign(_embs(s, d)),
        # train → index → search composition: IVF over the k-means
        # codebook trained in-job (vs ann_ivf_topk's seeded codebook)
        "ann_ivf_trained_topk": lambda s, d: similarity.ann_ivf_trained_topk(
            _embs(s, d)
        ),
        # BM25 keyword search: lexical top-k complement to the ANN ops
        "text_bm25_topk": lambda s, d: search.bm25_topk(_docs(s, d)),
        # DSIR importance weights (arXiv:2302.03169): hashed-ngram
        # target-vs-raw log ratios; scoring is one explode → groupBy
        # (id) pass over a shared (localCheckpoint'd) bucketed-gram
        # table, then an unrolled bucket-order codegen fold
        "dsir_weights": lambda s, d: dsir.dsir_weights(_docs(s, d)),
        # text → unit-L2 hashed-TF vector, no external model (feature
        # hashing): the on-ramp from raw documents to every
        # embedding op (ANN / SemDeDup / k-means)
        "doc_hash_embed": lambda s, d: search.doc_hash_embed(_docs(s, d)),
        # hybrid retrieval: BM25 + hashed-embedding cosine fused with
        # reciprocal-rank fusion
        "hybrid_search_rrf": lambda s, d: search.hybrid_search_rrf(
            _docs(s, d)
        ),
        # SemDeDup over RAW TEXT: hashed embeddings feed the
        # centroid-blocked semantic dedup — no external vectors;
        # threshold 0.95 sits above the shared-vocabulary cosine bulk
        # (p99.9 ≈ 0.93) and below the exact-dup tail (1.0)
        # the materialization boundary makes the embedding ONE input:
        # without it the explode → two-groupBy embed pipeline re-runs
        # under every consumer (kernel, self-join sides, verdict
        # join-back — 10 document scans in the plan instead of 0;
        # measured 5.2 s vs 3.2 s warm at sf0.01 local[4], checkpoint
        # job included). localCheckpoint (not persist): same boundary,
        # but the blocks are released by the ContextCleaner when the
        # plan is GC'd instead of accumulating in a long-lived driver
        "doc_semantic_dedup": lambda s, d: similarity.semantic_dedup(
            search.doc_hash_embed(_docs_with_dups(s, d)).localCheckpoint(),
            id_col="doc_id", threshold=0.95,
        ),
        "text_quality": lambda s, d: textstats.quality_df(_docs(s, d)),
        "text_langid": lambda s, d: textstats.langid_df(_docs(s, d)),
        "text_langid_trigram": lambda s, d: textstats.langid_trigram_df(
            _docs(s, d)
        ),
        "text_token_counts": lambda s, d: textstats.token_counts_df(_docs(s, d)),
        "text_top_ngrams": lambda s, d: textstats.top_ngrams(_docs(s, d)),
        # CCNet-style LM quality: word-bigram model trained on the
        # corpus itself in-job, mean conditional likelihood per doc
        "text_lm_score": lambda s, d: textstats.lm_score_df(_docs(s, d)),
        # Lee et al. 2022 duplicate-substring removal at k-gram
        # granularity: maximal cross-corpus duplicated token spans
        "dedup_substring_spans": lambda s, d: textstats.dup_substring_spans(
            _docs(s, d)
        ),
        "doc_fingerprint": lambda s, d: textstats.fingerprint_df(_docs(s, d)),
        "multimodal_meta": q_multimodal_meta,
        "decontaminate": lambda s, d: dedup.decontaminate(
            _docs(s, d).filter(F.col("doc_id") % 97 != 0),
            _docs(s, d).filter(F.col("doc_id") % 97 == 0),
        ),
        # bloom-prefiltered variant: identical exact output (bloom has
        # no false negatives; survivors are exact-verified), same
        # oracle — the scale path when the eval n-gram set is too big
        # to broadcast raw
        "decontaminate_bloom": lambda s, d: dedup.decontaminate_bloom(
            _docs(s, d).filter(F.col("doc_id") % 97 != 0),
            _docs(s, d).filter(F.col("doc_id") % 97 == 0),
        ),
        "sample_stratified": lambda s, d: textstats.sample_stratified(
            _docs(s, d)
        ),
        "json_extract": q_json_extract,
        "stream_first_per_source": q_stream_first_per_source,
        "text_length_quantiles": q_text_length_quantiles,
        "text_quantile_filter": q_text_quantile_filter,
        # oracle-gated since round 5: order-insensitive scaled-integer
        # sums make the unrolled recursive-CTE twin hash-exact
        "graph_pagerank": q_graph_pagerank,
        "pack_sequences": q_pack_sequences,
        "sample_token_budget": q_sample_token_budget,
    }


def oracle_sql() -> dict:
    from ..ops import graph, html, lines, packing, pii, urls

    return {
        "url_canonical_dedup": url_dedup_oracle_sql(),
        "url_latest_capture": urls.latest_capture_sql(_DOC_URLS_TS_SQL),
        "html_extract_text": html.extract_text_sql(f"({_PAGES_SQL})"),
        "line_dedup": lines.remove_common_lines_sql(f"({_ML_DOCS_SQL})"),
        "dedup_paragraphs": lines.dedup_paragraphs_keepfirst_sql(
            f"({_ML_DOCS_SQL})"
        ),
        "pii_redact": pii.pii_redact_sql(f"({_PII_DOCS_SQL})"),
        "text_repetition": textstats.repetition_sql(),
        "curation_policy": textstats.curation_policy_sql(
            table=f"({_POLICY_DOCS_SQL})"),
        "curation_end_to_end": curation_end_to_end_sql(),
        "stream_curated_capture": stream_curated_capture_sql(),
        "url_blocklist_filter": urls.blocklist_filter_sql(
            _DOC_URLS_SQL, BLOCKED_HOSTS),
        "dedup_exact": dedup.exact_duplicates_sql(table=DUPS_SQL),
        "dedup_minhash_lsh": dedup.minhash_lsh_pairs_sql(),
        "dedup_simhash": dedup.simhash_groups_sql(),
        "dedup_simhash_hamming": dedup.simhash_hamming_pairs_sql(table=DUPS_SQL),
        "dedup_ngram_jaccard": dedup.jaccard_pairs_sql(threshold=0.5),
        "dedup_lsh_verified": dedup.lsh_verified_pairs_sql(threshold=0.5),
        "dedup_cluster_canonical": dedup.cluster_canonical_sql(
            table=DUPS_SQL, threshold=0.5),
        "dedup_embedding_cosine": similarity.cosine_dup_pairs_sql(threshold=0.35),
        "dedup_semantic": similarity.semantic_dedup_sql(),
        "dedup_semantic_trained": similarity.semantic_dedup_trained_sql(),
        "ann_bruteforce_topk": similarity.ann_bruteforce_topk_sql(),
        "ann_lsh_topk": similarity.ann_lsh_topk_sql(),
        "ann_lsh_multi_topk": similarity.ann_lsh_multi_topk_sql(),
        "ann_ivf_topk": similarity.ann_ivf_topk_sql(),
        "emb_kmeans": clustering.kmeans_assign_sql(),
        "ann_ivf_trained_topk": similarity.ann_ivf_trained_topk_sql(),
        "text_bm25_topk": search.bm25_topk_sql(),
        "dsir_weights": dsir.dsir_weights_sql(),
        "doc_hash_embed": search.doc_hash_embed_sql(),
        "hybrid_search_rrf": search.hybrid_search_rrf_sql(),
        "doc_semantic_dedup": similarity.semantic_dedup_sql(
            table=f"({search.doc_hash_embed_sql(table=DUPS_SQL, id_col='doc_id')})",
            id_col="doc_id", threshold=0.95,
        ),
        "text_quality": textstats.quality_sql(),
        "text_langid": textstats.langid_sql(),
        "text_langid_trigram": textstats.langid_trigram_sql(),
        "text_token_counts": textstats.token_counts_sql(),
        "text_top_ngrams": textstats.top_ngrams_sql(),
        "text_lm_score": textstats.lm_score_sql(),
        "dedup_substring_spans": textstats.dup_substring_spans_sql(),
        "doc_fingerprint": textstats.fingerprint_sql(),
        "multimodal_meta": multimodal_meta_sql(),
        "decontaminate": dedup.decontaminate_sql(
            corpus="(SELECT * FROM documents WHERE doc_id % 97 <> 0)",
            benchmark="(SELECT * FROM documents WHERE doc_id % 97 = 0)",
        ),
        "decontaminate_bloom": dedup.decontaminate_sql(
            corpus="(SELECT * FROM documents WHERE doc_id % 97 <> 0)",
            benchmark="(SELECT * FROM documents WHERE doc_id % 97 = 0)",
        ),
        "sample_stratified": textstats.sample_stratified_sql(),
        "json_extract": json_extract_sql(),
        "stream_first_per_source": (
            "SELECT source AS key, MIN(doc_id) AS first_id, "
            "CAST(COUNT(*) AS BIGINT) AS n_in_batch "
            "FROM documents GROUP BY source"
        ),
        "text_length_quantiles": (
            "SELECT lang, quantile_cont(n_chars, 0.5) AS p50, "
            "quantile_cont(n_chars, 0.9) AS p90, "
            "quantile_cont(n_chars, 0.99) AS p99 "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "text_quantile_filter": (
            "SELECT d.doc_id, d.lang, d.n_chars "
            "FROM documents d JOIN ("
            "  SELECT lang, quantile_cont(n_chars, 0.9) AS cut "
            "  FROM documents GROUP BY lang) c ON d.lang = c.lang "
            "WHERE d.n_chars >= c.cut"
        ),
        "pack_sequences": packing.pack_sequences_sql(
            "documents", seq_len=512, sep_tokens=1
        ),
        "sample_token_budget": (
            "SELECT doc_id, source, ws_tokens, taken_before FROM ("
            + textstats.sample_token_budget_sql("documents", budget=500)
            + ") t"
        ),
        "graph_pagerank": graph.pagerank_doc_graph_sql("documents"),
    }
