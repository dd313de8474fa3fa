"""Round-4 curation ops: HTML extraction, latest-capture, line dedup,
PII redaction, repetition stats — golden unit tests (the sf-level
oracle gate covers the corpus-scale behavior)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from vyperdatum_spark.ops import html, lines, pii, textstats, urls


# ------------------------------------------------------------ html
def _extract_one(spark, payload: str) -> str:
    pdf = pd.DataFrame({"doc_id": [0], "html": [payload.encode("utf-8")]})
    out = html.extract_text(spark.createDataFrame(pdf)).toPandas()
    return out.loc[0, "text_out"]


def test_html_tag_strip_and_ws_collapse(spark):
    got = _extract_one(
        spark, "<html>\n  <body><h1>a b</h1>\n\t<p>c</p> </body></html>"
    )
    assert got == "a b c"


def test_html_script_style_comment_removed(spark):
    payload = (
        '<body><!-- <p>junk</p> --><SCRIPT a="1">if(a<b){x();}\n'
        "more</SCRIPT>keep<style>.c{}</style>"
        "<!--one--><b>two</b><!--three--></body>"
    )
    assert _extract_one(spark, payload) == "keeptwo"


def test_html_entity_decode_order(spark):
    # &amp; decoded LAST: '&amp;lt;' must become the literal '&lt;'
    got = _extract_one(spark, "<p>a &amp;lt; b &lt; c &#101;nd &amp; x</p>")
    assert got == "a &lt; b < c end & x"


def test_html_extended_entity_table(spark):
    """Round-5 contract table: typographic punctuation, symbols,
    decimal twins, the nbsp/shy normalization overrides — and parity
    with the DuckDB oracle expression on the same payload."""
    import duckdb

    payload = (
        "<p>&ldquo;A&rdquo;&nbsp;&ndash;&#160;B&shy;C &hellip; "
        "&copy;&nbsp;2024 &laquo;D&raquo; &#8217;E&#8221; "
        "3&deg; &euro;5 &pound;6 &bull; x&middot;y &trade;&reg;</p>"
    )
    got = _extract_one(spark, payload)
    exp = ("“A” – BC … © 2024 «D» "
           "’E” 3° €5 £6 • x·y "
           "™®")
    assert got == exp
    sql = html.extract_text_sql(
        "(SELECT 0 AS doc_id, encode(?) AS html)"
    )
    oracle = duckdb.execute(sql, [payload]).df()
    assert oracle.loc[0, "text_out"] == exp


# adversarial entity pieces: near-misses of table keys, a key without
# its ';', wrong case, empty and trailing pieces, deletions that must
# not cascade into a new entity, quotes, and pages without any '&'
_ENTITY_CASES = {
    "a &amp;lt; b": "a &lt; b",
    "&ltx;": "&ltx;",
    "&#101": "&#101",
    "&#101;nd": "end",
    "&LT;": "&LT;",
    "&&amp;": "&&",
    "trailing &": "trailing &",
    "&;": "&;",
    "&nbsp;&shy;": " ",
    "&am&shy;p;": "&amp;",
    "&apos;&quot;&#39;": "'\"'",
    "no entity here": "no entity here",
    "": "",
}


def test_entity_decode_matches_duckdb_twin(spark):
    """The literal-map decode and its DuckDB twin (first-match CASE)
    agree with each other and with the expected decode on every
    adversarial piece."""
    import duckdb

    src = pd.DataFrame({"s": list(_ENTITY_CASES)})
    got = dict(
        spark.createDataFrame(src)
        .select("s", html._decode_entities(F.col("s")).alias("d"))
        .toPandas().values.tolist()
    )
    con = duckdb.connect()
    con.register("t", src)
    twin = dict(con.execute(
        f"SELECT s, {html.decode_entities_sql('s')} AS d FROM t"
    ).fetchall())
    assert got == _ENTITY_CASES
    assert twin == _ENTITY_CASES


def test_html_byte_identity_contract(spark):
    """The north-rule invariant: extracted text byte-identical to the
    source text through the synthetic page builder, every rotation."""
    from vyperdatum_spark.queries.webtext import _docs, _pages

    sf = "/root/testdata/sf0.001"
    src = _docs(spark, sf).select("doc_id", "text")
    got = html.extract_text(_pages(spark, sf))
    bad = (
        got.join(src, "doc_id")
        .filter(F.col("text_out") != F.col("text"))
        .count()
    )
    assert bad == 0
    assert got.count() == src.count()


# -------------------------------------------------------- latest capture
def test_latest_capture_picks_max_ts_then_id(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3, 4, 5],
        "warc_ts": [100, 300, 300, 50, 10],
        "url": [
            "https://a.example.com/p",
            "HTTPS://A.EXAMPLE.com:443/p#f",   # same canonical
            "https://a.example.com/p/",        # same canonical, ts tie
            "https://a.example.com/p?utm_x=1", # same canonical
            "https://b.example.com/q",         # singleton group
        ],
    })
    got = (
        urls.latest_capture(spark.createDataFrame(pdf))
        .toPandas().set_index("canonical_url").sort_index()
    )
    assert len(got) == 2
    a = got.loc["https://a.example.com/p"]
    assert a["latest_id"] == 3          # ts tie 300 broken by larger id
    assert a["latest_ts"] == 300
    assert a["n_captures"] == 4
    assert got.loc["https://b.example.com/q", "latest_id"] == 5


# ------------------------------------------------------------ line dedup
def test_remove_common_lines_threshold_and_order(spark):
    bp = "all rights reserved"
    rows = [
        (0, f"alpha\n{bp}\nbeta"),
        (1, f"{bp}\ngamma"),
        (2, f"delta\n{bp}"),
        (3, f"{bp}"),               # only boilerplate -> empty doc
        (4, "epsilon\nzeta"),       # untouched
        (5, f"twice\n{bp}\ntwice"), # in-doc dup counts ONE doc
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = (
        lines.remove_common_lines(spark.createDataFrame(pdf), min_docs=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert got.loc[0, "clean_text"] == "alpha\nbeta"
    assert got.loc[0, "n_lines_in"] == 3 and got.loc[0, "n_lines_kept"] == 2
    assert got.loc[3, "clean_text"] == "" and got.loc[3, "n_lines_kept"] == 0
    assert got.loc[4, "clean_text"] == "epsilon\nzeta"
    # 'twice' occurs in ONE distinct doc -> kept, order preserved
    assert got.loc[5, "clean_text"] == "twice\ntwice"


def test_remove_common_lines_below_threshold_survives(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["shared\na", "shared\nb"],   # 2 docs < min_docs=3
    })
    got = (
        lines.remove_common_lines(spark.createDataFrame(pdf), min_docs=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    assert got.loc[0, "clean_text"] == "shared\na"
    assert got.loc[1, "clean_text"] == "shared\nb"


def test_composed_chains_compile_under_codegen_limits(spark):
    """Regression guard for the janino 64 KB method limit: with
    codegen fallback DISABLED, a stage that fails to compile raises
    instead of silently running interpreted. The curation chain used
    to blow the limit because the pushed-down gopher filter duplicated
    the whole HTML-extraction expression; the one-row token Generate
    keeps the filter above every regexp chain."""
    import __spark_entry__ as entry

    qs = entry.queries_extended()
    old = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        for name in ("curation_end_to_end", "pipeline_end_to_end",
                     "html_extract_text"):
            qs[name](spark, "/root/testdata/sf0.001") \
                .write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.codegen.fallback", old)


def test_dedup_paragraphs_keepfirst_semantics(spark):
    """Keep-FIRST exact dedup (arXiv:2107.06499): a repeated line
    survives only at its earliest (doc_id, pos); in-doc repeats also
    collapse to the first; unique lines untouched."""
    bp = "all rights reserved"
    rows = [
        (0, f"alpha\n{bp}\nbeta"),
        (1, f"{bp}\ngamma"),
        (2, f"delta\n{bp}"),
        (3, f"{bp}"),                # duplicate-only doc -> empty
        (4, "epsilon\nzeta"),        # untouched
        (5, "twice\nother\ntwice"),  # in-doc repeat keeps the first
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    got = (
        lines.dedup_paragraphs_keepfirst(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert got.loc[0, "clean_text"] == f"alpha\n{bp}\nbeta"  # first copy kept
    assert got.loc[1, "clean_text"] == "gamma"
    assert got.loc[2, "clean_text"] == "delta"
    assert got.loc[3, "clean_text"] == "" and got.loc[3, "n_parts_kept"] == 0
    assert got.loc[4, "clean_text"] == "epsilon\nzeta"
    assert got.loc[5, "clean_text"] == "twice\nother"
    assert got.loc[5, "n_parts_in"] == 3 and got.loc[5, "n_parts_kept"] == 2


# ------------------------------------------------------------------ pii
def test_pii_redaction_goldens(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3],
        "text": [
            "mail me at a.b+c@sub.example.org today",
            "host 192.168.0.1 and 10.0.0.255 up",
            "call +1-555-0199 or +44-201-555-7777",
            "user@203.0.113.9 mixed",   # e-mail wins over the IP inside
        ],
    })
    got = (
        pii.pii_redact(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert got.loc[0, "clean_text"] == "mail me at [EMAIL] today"
    assert (got.loc[0, ["n_email", "n_ip", "n_phone"]] == [1, 0, 0]).all()
    assert got.loc[1, "clean_text"] == "host [IP] and [IP] up"
    assert got.loc[1, "n_ip"] == 2
    assert got.loc[2, "clean_text"] == "call [PHONE] or [PHONE]"
    assert got.loc[2, "n_phone"] == 2
    assert got.loc[3, "clean_text"] == "[EMAIL] mixed"
    assert (got.loc[3, ["n_email", "n_ip"]] == [1, 0]).all()


# ------------------------------------------------------------ repetition
def test_repetition_stats_goldens(spark):
    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "text": [
            "spam " * 19 + "spam",                 # 20x one word
            " ".join(f"w{i:02d}" for i in range(20)),  # all distinct
        ],
    })
    df = spark.createDataFrame(pdf)
    got = (
        textstats.repetition_df(df)
        .toPandas().set_index("doc_id").sort_index()
    )
    cols = textstats.repetition_cols(F.col("text"))
    assert df.select("doc_id", *[c.alias(n) for n, c in cols.items()]) \
        .toPandas().set_index("doc_id").sort_index().equals(got)
    assert got.loc[0, "n_words"] == 20 and got.loc[0, "n_distinct_words"] == 1
    assert got.loc[0, "dup_word_frac"] == 0.95
    assert got.loc[0, "top_word_frac"] == 1.0
    assert not got.loc[0, "gopher_keep"]           # dup frac over bound
    assert got.loc[1, "dup_word_frac"] == 0.0
    assert got.loc[1, "top_word_frac"] == 0.05
    assert got.loc[1, "gopher_keep"]


# ------------------------------------------------- compositions
def test_curation_end_to_end_semantics(spark):
    """Composition invariants at sf0.001: latest-capture dedup leaves
    one row per canonical URL, redaction leaves no raw PII span, and
    the Gopher filter bounds word counts."""
    from vyperdatum_spark.ops.textstats import GOPHER_MIN_WORDS
    from vyperdatum_spark.queries.webtext import q_curation_end_to_end

    out = q_curation_end_to_end(spark, "/root/testdata/sf0.001")
    out.cache()
    assert out.count() > 0
    dup_canon = (
        out.groupBy("canonical_url").count().filter("count > 1").count()
    )
    assert dup_canon == 0
    leaked = out.filter(
        F.col("clean_text").contains("@mail")
        | F.col("clean_text").rlike(r"\+1-555-\d{4}")
    ).count()
    assert leaked == 0
    assert out.filter(F.col("n_words") < GOPHER_MIN_WORDS).count() == 0
    # redaction evidence survives the filter chain on some rows
    assert out.filter(F.col("n_pii") > 0).count() > 0
    out.unpersist()


def _write_docs(d) -> None:
    """documents.parquet in ``d``: six pages, odd ids with text that has
    no 'e'; no id is a multiple of 3 or 4, so none gets planted PII
    text containing an 'e'."""
    no_e = "a quick brown fox jumps high on a sunny day with my cat"
    with_e = "the quick brown fox jumps over the lazy dog in the sun"
    ids = [1, 2, 5, 7, 10, 13]
    texts = [no_e if i % 2 else with_e for i in ids]
    pd.DataFrame({
        "doc_id": ids, "text": texts, "lang": "en", "source": "src0",
        "n_chars": [len(t) for t in texts],
    }).to_parquet(d / "documents.parquet", index=False)


def test_curation_oracle_keeps_pages_without_entities(spark, tmp_path):
    """A page whose text has no 'e' carries no '&' into the entity
    decode (the page builder writes 'e' as '&#101;'); it must survive
    the DuckDB twin of the curation chain as it survives Spark's."""
    import duckdb

    from vyperdatum_spark.queries.webtext import (
        curation_end_to_end_sql, q_curation_end_to_end)

    _write_docs(tmp_path)
    got = q_curation_end_to_end(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    want = con.execute(curation_end_to_end_sql()).df()
    assert sorted(got["doc_id"]) == [1, 2, 5, 7, 10, 13]
    assert sorted(got.columns) == sorted(want.columns)
    cols = list(got.columns)
    assert (got.sort_values("doc_id").values.tolist()
            == want[cols].sort_values("doc_id").values.tolist())


def test_curation_plan_runs_each_regex_chain_once(spark, tmp_path):
    """Optimized-plan shape of q_curation_end_to_end: each PII rule is
    one regexp_extract_all + one regexp_replace and each HTML strip
    pattern appears once (no alias substitution into the Gopher
    filter, which Spark does not de-duplicate); the filter sits right
    above the token Generate; and no isnotnull over the regex chain was
    inferred below it (that would run the whole chain twice)."""
    import re

    from vyperdatum_spark.ops.textstats import GOPHER_MIN_WORDS
    from vyperdatum_spark.queries.webtext import q_curation_end_to_end

    _write_docs(tmp_path)
    df = q_curation_end_to_end(spark, str(tmp_path))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    for pat, _ in pii.PII_RULES:
        assert plan.count(pat) == 2, pat
        assert len(re.findall(
            r"regexp_extract_all\([^,]*, " + re.escape(pat), plan)) == 1
        assert len(re.findall(
            r"regexp_replace\([^,]*, " + re.escape(pat), plan)) == 1
    for pat in (html.RE_COMMENT, html.RE_SCRIPT, html.RE_STYLE,
                html.RE_TAG, html.RE_WS):
        assert plan.count(pat) == 1, pat

    lines = plan.splitlines()
    gopher = [i for i, ln in enumerate(lines)
              if "Filter" in ln and f">= {GOPHER_MIN_WORDS})" in ln]
    assert len(gopher) == 1
    assert lines[gopher[0] + 1].lstrip(" :").startswith("+- Generate ")
    below = "\n".join(lines[gopher[0] + 1:])
    assert not re.search(r"isnotnull\([^)]*regexp_replace", below)


def _write_capture_pairs(d) -> None:
    """documents.parquet in ``d``: two canonical URLs, two captures
    each (ids 11/61 share '/Docs/11', ids 5/55 share '/Docs/5/'; the
    higher id is the later capture, and no id gets planted PII).  The
    latest capture of '/Docs/11' fails the Gopher filter while the
    older one passes; on '/Docs/5/' it is the other way round."""
    spam = " ".join(["spam"] * 20)
    prose = "the quick brown fox jumps over the lazy dog in the sun"
    texts = {11: prose, 61: spam, 5: spam, 55: prose}
    pd.DataFrame({
        "doc_id": list(texts), "text": list(texts.values()), "lang": "en",
        "source": "src0", "n_chars": [len(t) for t in texts.values()],
    }).to_parquet(d / "documents.parquet", index=False)


def test_curation_picks_latest_capture_before_filtering(spark, tmp_path):
    """The latest capture is picked over all captures, not over the
    Gopher survivors: a URL whose latest capture fails gives no row
    (filtering first would give its older capture, id 11), and a URL
    whose latest capture passes gives that capture.  The DuckDB twin
    agrees."""
    import duckdb

    from vyperdatum_spark.queries.webtext import (
        _doc_urls_ts, curation_end_to_end_sql, q_curation_end_to_end)

    _write_capture_pairs(tmp_path)
    canon = urls.canonical_url_df(
        _doc_urls_ts(spark, str(tmp_path)), extra_cols=["warc_ts"]
    ).toPandas().set_index("doc_id")
    assert canon.loc[11, "canonical_url"] == canon.loc[61, "canonical_url"]
    assert canon.loc[5, "canonical_url"] == canon.loc[55, "canonical_url"]
    assert canon.loc[61, "warc_ts"] > canon.loc[11, "warc_ts"]
    assert canon.loc[55, "warc_ts"] > canon.loc[5, "warc_ts"]

    got = q_curation_end_to_end(spark, str(tmp_path)).toPandas()
    assert got["doc_id"].tolist() == [55]
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    want = con.execute(curation_end_to_end_sql()).df()
    cols = list(got.columns)
    assert got.values.tolist() == want[cols].values.tolist()


def _plan_nodes(node):
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_curation_plan_picks_latest_capture_below_extraction(spark, tmp_path):
    """Optimized-plan shape of q_curation_end_to_end: the join of the
    pages with the latest captures on doc_id sits under the projection
    that runs the HTML strip, so only latest captures are extracted;
    and the canonical-URL chain runs once, on the latest-capture side."""
    import re

    from vyperdatum_spark.queries.webtext import q_curation_end_to_end

    _write_docs(tmp_path)
    df = q_curation_end_to_end(spark, str(tmp_path))
    plan = df._jdf.queryExecution().optimizedPlan()
    (strip,) = [
        n for n in _plan_nodes(plan)
        if n.nodeName() == "Project"
        and html.RE_TAG in n.expressions().toString()
    ]
    joins = [n for n in _plan_nodes(strip) if n.nodeName() == "Join"]
    assert len(joins) == 1
    assert re.fullmatch(r"\(doc_id#\d+L = doc_id#\d+L\)",
                        joins[0].condition().get().toString())
    assert plan.toString().count(urls._AUTH_RE) == 1


# Warm-build py4j round-trips of q_curation_end_to_end, measured at 32
# as one spark.sql statement over a schema-typed scan (524 as a chain
# of DataFrame steps over an inferred-schema read, 1,138 with the
# Gopher stage built as Column DSL).
_CURATION_PY4J_PIN = 40


def test_warm_curation_build_py4j_budget(spark, tmp_path, count_py4j,
                                         monkeypatch):
    """The warm build is one ``spark.sql`` statement (one parse, one
    analysis) and a few dozen py4j round-trips."""
    from pyspark.sql import SparkSession

    from vyperdatum_spark.queries.webtext import q_curation_end_to_end

    _write_docs(tmp_path)
    q_curation_end_to_end(spark, str(tmp_path))
    statements = []
    real_sql = SparkSession.sql

    def counting_sql(self, query, *args, **kwargs):
        statements.append(query)
        return real_sql(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", counting_sql)
    with count_py4j() as calls:
        q_curation_end_to_end(spark, str(tmp_path))
    assert calls[0] < _CURATION_PY4J_PIN, calls[0]
    assert len(statements) == 1


def test_stream_first_capture_across_batches(spark, tmp_path):
    """Keyed first-capture state survives micro-batches: a canonical
    URL introduced in batch 1 must not re-emit in batch 2, even with
    an earlier timestamp (first-wins is per STREAM, not per batch)."""
    import os

    import pandas as pd

    from vyperdatum_spark.streaming import stateful
    from vyperdatum_spark.streaming.windows import run_available_now

    in_dir = str(tmp_path / "fc_in")
    out_dir = str(tmp_path / "fc_out")
    ck_dir = str(tmp_path / "fc_ck")
    os.makedirs(in_dir)

    def run():
        rows = spark.readStream.schema(
            "canonical_url string, warc_ts long, doc_id long, text_out string"
        ).parquet(in_dir)
        run_available_now(stateful.stream_first_capture(rows), out_dir, ck_dir)
        return spark.read.parquet(out_dir).toPandas()

    pd.DataFrame({
        "canonical_url": ["a", "a", "b"],
        "warc_ts": [200, 100, 50],
        "doc_id": [1, 2, 3],
        "text_out": ["a200", "a100", "b50"],
    }).to_parquet(f"{in_dir}/b1.parquet")
    out1 = run().set_index("canonical_url").sort_index()
    assert len(out1) == 2
    # within the introducing batch, earliest (ts, id) wins
    assert out1.loc["a", "first_id"] == 2 and out1.loc["a", "first_ts"] == 100
    assert out1.loc["a", "text_out"] == "a100"
    assert out1.loc["a", "n_in_batch"] == 2

    pd.DataFrame({
        "canonical_url": ["a", "c"],
        "warc_ts": [10, 999],   # 'a' earlier than batch 1 — still held
        "doc_id": [9, 4],
        "text_out": ["a10", "c999"],
    }).to_parquet(f"{in_dir}/b2.parquet")
    out2 = run()
    assert len(out2) == 3      # only 'c' newly emitted
    assert sorted(out2["canonical_url"]) == ["a", "b", "c"]
    a = out2.set_index("canonical_url").loc["a"]
    assert a["first_id"] == 2 and a["first_ts"] == 100


def test_incremental_curation_consumer_exactly_once(spark, tmp_path):
    """Curation as an incremental snapshot consumer: only newly
    crawled pages are extracted/redacted per run, the watermark
    commits atomically with the curated rows, and a replay with
    nothing new is a no-op — the north-rule checkpointed-consumer
    shape applied to the curation chain."""
    import pandas as pd

    from vyperdatum_spark.ops.html import extract_text_col
    from vyperdatum_spark.sources import tables

    src = str(tmp_path / "crawl")
    out = str(tmp_path / "curated")

    def crawl_batch(lo, hi):
        return spark.createDataFrame(pd.DataFrame({
            "doc_id": list(range(lo, hi)),
            "html": [
                f"<html><body><p>doc {k} mail a@b{k}.example.net</p></body></html>"
                .encode() for k in range(lo, hi)
            ],
        }))

    def curate(rows):
        from vyperdatum_spark.ops import pii
        ext = rows.select(
            "doc_id", extract_text_col(F.col("html")).alias("text_out"))
        return pii.pii_annotate(ext, "text_out").select(
            "doc_id", "clean_text", "n_email")

    tables.write_table(crawl_batch(0, 50), src, mode="overwrite")
    r1 = tables.process_incremental(spark, src, out, curate)
    assert not r1["skipped"] and (r1["since"], r1["until"]) == (0, 1)
    got1 = tables.read_table(spark, out)
    assert got1.count() == 50
    assert got1.filter(F.col("clean_text").contains("[EMAIL]")).count() == 50

    tables.write_table(crawl_batch(50, 80), src, mode="append")
    r2 = tables.process_incremental(spark, src, out, curate)
    assert (r2["since"], r2["until"]) == (1, 2)
    got2 = tables.read_table(spark, out)
    assert got2.count() == 80                      # no re-curation of 0..49
    assert got2.select("doc_id").distinct().count() == 80

    r3 = tables.process_incremental(spark, src, out, curate)
    assert r3["skipped"]
    assert tables.consumer_watermark(out) == 2


def test_cc_pages_is_the_input_hint_shape(spark):
    """_cc_pages synthesizes the exact north-rule input table shape —
    (url, warc_ts, html:binary, text, lang) — and extraction over its
    html column reproduces `text` byte-identically."""
    from vyperdatum_spark.ops.html import extract_text_col
    from vyperdatum_spark.queries.webtext import _cc_pages

    pages = _cc_pages(spark, "/root/testdata/sf0.001")
    fields = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert fields == {
        "doc_id": "bigint", "url": "string", "warc_ts": "bigint",
        "html": "binary", "text": "string", "lang": "string",
    }
    bad = pages.select(
        (extract_text_col(F.col("html")) != F.col("text")).alias("ne")
    ).filter("ne").count()
    assert bad == 0


# ------------------------------------------------------------ blocklist
def test_blocklist_filter_exact_and_parent_domain(spark):
    from vyperdatum_spark.ops import urls as u

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2, 3, 4, 5],
        "url": [
            "https://bad.example.com/x",          # exact host block
            "https://ads.bad.example.com/y",      # parent-domain block
            "HTTPS://BAD.EXAMPLE.com:443/z",      # case/port still blocked
            "https://user:pw@bad.example.com/w",  # userinfo stripped
            "https://goodbad.example.com/ok",     # NOT a label suffix
            "https://fine.example.org/ok",
        ],
    })
    got = (
        u.blocklist_filter(spark.createDataFrame(pdf), ["bad.example.com"])
        .toPandas()
    )
    assert sorted(got["doc_id"]) == [4, 5]


def test_blocklist_keeps_all_when_no_hit(spark):
    from vyperdatum_spark.ops import urls as u

    pdf = pd.DataFrame({
        "doc_id": [0, 1],
        "url": ["https://a.example.com/x", "https://b.example.org/y"],
    })
    got = u.blocklist_filter(
        spark.createDataFrame(pdf), ["nowhere.example.net"]
    )
    assert got.count() == 2
    assert set(got.columns) == {"doc_id", "url"}


# ----------------------------------------------------- trigram language ID
def test_langid_trigram_goldens(spark):
    from vyperdatum_spark.ops import textstats as ts

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": [
            "the value and the table",    # en markers
            "el valor la los",            # es markers
            "",                           # empty: zero hits everywhere
        ],
    })
    got = (
        ts.langid_trigram_df(spark.createDataFrame(pdf))
        .toPandas().set_index("doc_id").sort_index()
    )
    assert got.loc[0, "pred_lang"] == "en" and got.loc[0, "tri_hits"] > 0
    assert got.loc[1, "pred_lang"] == "es" and got.loc[1, "tri_hits"] > 0
    # all-zero scores: struct max falls to the lexicographically last
    assert got.loc[2, "tri_hits"] == 0
    assert got.loc[2, "pred_lang"] == sorted(ts.LANG_MARKERS)[-1]


def test_top_ngrams_counts_and_order(spark):
    from vyperdatum_spark.ops import textstats as ts

    pdf = pd.DataFrame({
        "doc_id": [0, 1, 2],
        "text": ["a b a b", "a b c", "z"],   # 'a b' x3 across 2 docs
    })
    got = ts.top_ngrams(spark.createDataFrame(pdf), n=2, k=3).toPandas()
    assert list(got.columns) == ["ngram", "n_docs", "n_occurrences"]
    assert got.iloc[0].tolist() == ["a b", 2, 3]
    rest = set(map(tuple, got.iloc[1:].values.tolist()))
    assert rest == {("b a", 1, 1), ("b c", 1, 1)}


def test_curation_policy_reasons_per_rule(spark):
    """Each policy rule fires independently and reasons are the
    sorted comma-joined failed-rule names ('' when kept)."""
    from vyperdatum_spark.ops.textstats import curation_policy_df

    rows = [
        (1, "tiny doc"),                                         # too_short
        (2, " ".join(["spam"] * 40)),                            # repetitive
        (3, " ".join(f"hyperextended{i}word" for i in range(12))),  # word_len
        (4, "the quick brown fox and the lazy dog in a sunny park today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["keep"], r["reasons"])
           for r in curation_policy_df(df).collect()}
    assert got[1] == (0, "no_stopwords,too_short")
    assert got[2] == (0, "no_stopwords,repetitive")
    assert got[3] == (0, "no_stopwords,word_len")
    assert got[4] == (1, "")


# ------------------------------------------------- document text signals
# NULL, empty, blank, a double space, quoting, unicode, and duplicate
# fractions at and just over the Gopher bound (12 words of 3 distinct
# give exactly 0.75)
_EDGE_TEXTS = [
    None, "", " ", "  ",
    'it\'s a "quote" with a \\ backslash and the end of it',
    "héllo wörld ünïcode naïve café the straße über déjà vu señor",
    " ".join(["alpha", "beta", "gamma"] * 4),
    " ".join(["alpha", "beta", "gamma"] * 4 + ["alpha"]),
    "THE AND VALUE TABLE the and value table der die und wert",
]


def _failed_rules(text: str) -> set[str]:
    """The curation policy's failing rules for one text, in Python."""
    toks = text.split(" ")
    n = len(toks)
    avg_wl = (len(text) - (n - 1)) / n
    lo, hi = textstats.GOPHER_WORD_LEN_RANGE
    failed = {
        "too_short": n < textstats.GOPHER_MIN_WORDS,
        "too_long": n > textstats.GOPHER_MAX_WORDS,
        "repetitive": (1.0 - len(set(toks)) / n
                       > textstats.GOPHER_MAX_DUP_WORD_FRAC),
        "word_len": not lo <= avg_wl <= hi,
        "no_stopwords": not any(t.lower() in textstats.STOPWORDS
                                for t in toks),
    }
    return {rule for rule, bad in failed.items() if bad}


def test_policy_agrees_with_gopher_keep(spark, tmp_path):
    """The policy keeps a doc iff its ``gopher_keep`` holds and it has
    a stopword, and its reasons name exactly the rules that a
    plain-Python evaluation fails; a NULL text, which ``gopher_keep``
    does not keep, is dropped with the one reason ``no_text``."""
    from vyperdatum_spark.engine import datagen
    from vyperdatum_spark.queries.webtext import _POLICY_PLANTS

    _write_docs(tmp_path)
    texts = (pd.read_parquet(tmp_path / "documents.parquet")["text"].tolist()
             + [t for _, t in _POLICY_PLANTS] + _EDGE_TEXTS
             + datagen.pages_pdf(40)["text"].tolist())
    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    policy = {r["doc_id"]: (r["keep"], r["reasons"])
              for r in textstats.curation_policy_df(df).collect()}
    gopher = {r["doc_id"]: r["gopher_keep"]
              for r in textstats.repetition_df(df).collect()}
    kept = 0
    for i, text in enumerate(texts):
        if text is None:
            assert not gopher[i] and policy[i] == (0, "no_text")
            continue
        failed = _failed_rules(text)
        assert gopher[i] == (not failed - {"no_stopwords"}), text
        keep = gopher[i] and "no_stopwords" not in failed
        assert policy[i] == (int(keep), ",".join(sorted(failed))), text
        kept += keep
    assert 0 < kept < len(texts) - 1


def test_langid_and_policy_twins_agree_on_null_text(spark):
    """Spark and DuckDB give the same rows for language ID (marker and
    trigram) and the curation policy over edge texts: a NULL text has
    no language (NULL ``pred_lang``, NULL hit count) and fails the
    policy with the one reason ``no_text``."""
    import duckdb

    from tools.check_oracles import canon

    texts = [None, "", "the value and the table", "el valor la los",
             "der die und wert " * 3, *_EDGE_TEXTS[1:]]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    for spark_op, duck_sql, hits in (
            (textstats.langid_df, textstats.langid_sql(), "marker_hits"),
            (textstats.langid_trigram_df, textstats.langid_trigram_sql(),
             "tri_hits"),
            (textstats.curation_policy_df, textstats.curation_policy_sql(),
             None)):
        got = spark_op(df).toPandas()
        want = con.execute(duck_sql).df()
        assert canon(got) == canon(want), spark_op.__name__
        null = got.set_index("doc_id").loc[0]
        if hits:
            assert null["pred_lang"] is None and pd.isna(null[hits])
        else:
            assert (null["keep"], null["reasons"]) == (0, "no_text")
    con.close()


def test_text_signal_ops_take_a_dashed_text_col(spark):
    df = spark.createDataFrame(
        [(1, "the value and the table of the data"),
         (2, "el valor la tabla los datos el la"), (3, None)],
        "doc_id long, text string",
    )
    dashed = df.withColumnRenamed("text", "clean-text")
    for op in (textstats.quality_df, textstats.langid_df,
               textstats.langid_trigram_df, textstats.curation_policy_df,
               textstats.repetition_df):
        got = op(dashed, text_col="clean-text").collect()
        assert sorted(got) == sorted(op(df).collect()), op.__name__


def test_repetition_cols_takes_column_references_only(spark):
    """Names are backtick-quoted into the SQL text (a dash is not a
    minus); any Column that is not a plain reference raises."""
    df = spark.createDataFrame([(1, "spam spam spam and eggs")],
                               "doc_id long, text string")
    dashed = df.withColumnRenamed("text", "clean-text")
    cols = textstats.repetition_cols(F.col("clean-text"))
    got = dashed.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    assert got.collect() == textstats.repetition_df(df).collect()
    split = F.split(F.col("clean-text"), " ")
    with pytest.raises(ValueError, match="plain column reference"):
        textstats.repetition_cols(split)
    with pytest.raises(ValueError, match="plain column reference"):
        textstats.repetition_cols(F.col("clean-text"), toks=split)


# Warm-build py4j round-trips of the text-signal registry entries,
# measured at 45, 36, 43 and 87 (392, 487, 821 and 511 with their
# Column-DSL builders).
_TEXT_SIGNAL_PY4J_PINS = {
    "text_quality": 100,
    "text_langid": 100,
    "text_langid_trigram": 300,
    "curation_policy": 150,
}


def test_warm_text_signal_build_py4j_budget(spark, tmp_path, count_py4j):
    from vyperdatum_spark.queries.webtext import queries

    _write_docs(tmp_path)
    reg = queries()
    over = {}
    for name, pin in _TEXT_SIGNAL_PY4J_PINS.items():
        reg[name](spark, str(tmp_path))
        with count_py4j() as calls:
            reg[name](spark, str(tmp_path))
        if calls[0] >= pin:
            over[name] = (calls[0], pin)
    assert not over, over
