"""HTML → text extraction over Common-Crawl-shaped pages.

The north-star input table carries ``html:binary`` next to
``text:string`` with a byte-identical-extracted-text-per-url contract
(BASELINE.json input_hint). This module is the extraction stage: an
opaque HTML payload goes in, the visible text comes out, expressed as
a pure JVM regexp/string column chain — zero Python crossings, so the
stage rides whole-stage codegen and scales as a projection (no
shuffle, no UDF serialization) on a 10^12-row table.

Extraction contract (deterministic, engine-portable):
  1. UTF-8 decode the binary payload;
  2. remove HTML comments ``<!-- … -->`` (non-greedy, dot-matches-all);
  3. remove ``<script …>…</script>`` and ``<style …>…</style>``
     including their contents (case-insensitive, dot-matches-all);
  4. strip every remaining tag ``<…>``;
  5. decode a FIXED entity table (the common named entities plus the
     numeric forms the fixtures exercise) in ONE pass — split on
     '&', one literal-map lookup per piece, rejoin — so decoded
     output is never re-scanned and ``&amp;lt;`` round-trips to the
     literal ``&lt;`` and not ``<``;
  6. collapse runs of whitespace to one space and trim.

Rules 2–4 are shared verbatim (same regex source text) with the
DuckDB oracle, so both engines evaluate the identical transformation.
The reference has no HTML stage (it consumes point/raster files); this
is part of the webtext graft surface mandated by the north rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import sql_ref, sql_str

# regex source shared by the Spark plan and the DuckDB oracle
RE_COMMENT = r"(?s)<!--.*?-->"
RE_SCRIPT = r"(?is)<script\b[^>]*>.*?</script>"
RE_STYLE = r"(?is)<style\b[^>]*>.*?</style>"
RE_TAG = r"(?s)<[^>]*>"
RE_WS = r"[ \t\r\n]+"

# Fixed entity table — the engine's DOCUMENTED normalization
# contract, not the full WHATWG list (~2,200 names, which as a
# replace chain would scan every string 2,200×/row).  The set below
# is the high-coverage head of real web text: the structural five
# (amp/lt/gt/quot/apos), the typographic punctuation family
# (dashes, curly quotes, ellipsis, guillemets, bullet, middot), the
# symbol head (copy/reg/trade/deg/euro/pound), and the decimal
# numeric twins of the frequent ones.  Published Common-Crawl
# extraction pipelines decode the same head set; the long tail
# (accented-letter names, math, Greek) is left encoded BY CONTRACT —
# at 10^12 rows a bounded, corpus-measured table is the right trade
# (tools/entity_freq.py measures the synthetic corpus: the head set
# covers 100% of fixture occurrences).  Values are generated from
# the stdlib's WHATWG table at import, so each mapping is
# spec-correct by construction; two normalization OVERRIDES are part
# of the contract: &nbsp;/&#160; → ASCII space (so the whitespace
# collapse merges it) and &shy;/&#173; → removed (soft hyphen).
# Double-encoded entities round-trip (&amp;lt; → &lt;, not <) because
# the decode is one pass that never re-scans its output.
_NAMED_HEAD = (
    "lt", "gt", "quot", "apos",
    "ndash", "mdash", "lsquo", "rsquo", "ldquo", "rdquo", "hellip",
    "laquo", "raquo", "bull", "middot",
    "copy", "reg", "trade", "deg", "euro", "pound",
)
_NUMERIC_HEAD = (34, 39, 60, 62, 101, 8211, 8212, 8216, 8217,
                 8220, 8221, 8230)


def _build_entities() -> tuple:
    import html as _html

    pairs: list[tuple[str, str]] = []
    for name in _NAMED_HEAD:
        pairs.append((f"&{name};", _html.unescape(f"&{name};")))
    for cp in _NUMERIC_HEAD:
        pairs.append((f"&#{cp};", chr(cp)))
    # contract overrides (normalization, not decoding)
    pairs += [("&nbsp;", " "), ("&#160;", " "),
              ("&shy;", ""), ("&#173;", "")]
    pairs += [("&amp;", "&"), ("&#38;", "&")]
    return tuple(pairs)


ENTITIES = _build_entities()


# the table as one literal map, keyed on the entity text after the '&'
_ENTITY_MAP_SQL = "map(" + ", ".join(
    f"{sql_str(ent[1:])}, {sql_str(ch)}" for ent, ch in ENTITIES) + ")"


def decode_entities_spark_sql(expr: str) -> str:
    """Single-pass entity decode as Spark SQL text: split on '&',
    decode the ≤1 entity that can start each piece after the first,
    rejoin.

    One string scan regardless of table size, and decoded output is
    never re-scanned, so double-encoded entities round-trip
    (&amp;lt; → &lt;) and a deletion (&shy;) can never cascade into a
    NEW entity match (&am&shy;p; → &amp;, not &, as in real HTML
    parsers).  Every table key is ``#?[A-Za-z0-9]+;``, so a piece
    starts with a key exactly when its prefix through the first ';' is
    one: the decode is one lookup of that prefix in a literal map, with
    '&' + piece as the miss.  ``expr`` appears once (the first piece
    is kept by index inside the same ``transform``), so an expensive
    input is evaluated once per row even where no projection stages it.
    The DuckDB twin (decode_entities_sql) is generated from the same
    tuple."""
    semi = "instr(_p, ';')"
    hit = (f"concat(try_element_at({_ENTITY_MAP_SQL}, "
           f"substring(_p, 1, {semi})), "
           f"substring(_p, {semi} + 1, length(_p)))")
    return (f"array_join(transform(split({expr}, '&', -1), (_p, _i) -> "
            f"CASE WHEN _i = 0 THEN _p "
            f"ELSE coalesce({hit}, concat('&', _p)) END), '')")


def _decode_entities(c: Column) -> Column:
    """``decode_entities_spark_sql`` over a plain column reference."""
    return F.expr(decode_entities_spark_sql(sql_ref(c)))


def decode_entities_sql(expr: str) -> str:
    """DuckDB twin of ``decode_entities_spark_sql`` — split,
    first-match CASE per piece, rejoin — generated from the same
    ENTITIES tuple.  The rejoin is coalesced because DuckDB's
    ``array_to_string`` of an empty list (a string without '&') is
    NULL where Spark's ``array_join`` is ''."""
    ps = f"string_split({expr}, '&')"
    cases = " ".join(
        f"WHEN starts_with(p, '{ent[1:]}') "
        f"THEN '{ch.replace(chr(39), chr(39) * 2)}' || p[{len(ent)}:]"
        for ent, ch in ENTITIES
    )
    piece = f"CASE {cases} ELSE '&' || p END"
    return (
        f"(({ps})[1] || coalesce(array_to_string("
        f"list_transform(({ps})[2:], p -> {piece}), ''), ''))"
    )


def extract_text_spark_sql(html_expr: str) -> str:
    """The one Spark builder of the extraction chain: Spark SQL text
    over a BINARY expression.  Each stage, the entity decode included,
    references its input once, so each regexp runs once per row with
    no staging projection."""
    s = f"decode({html_expr}, 'UTF-8')"
    for pat in (RE_COMMENT, RE_SCRIPT, RE_STYLE, RE_TAG):
        s = f"regexp_replace({s}, {sql_str(pat)}, '')"
    s = decode_entities_spark_sql(s)
    return f"trim(regexp_replace({s}, {sql_str(RE_WS)}, ' '))"


def extract_text_col(html_col: Column) -> Column:
    """``extract_text_spark_sql`` over a plain column reference."""
    return F.expr(extract_text_spark_sql(sql_ref(html_col)))


def extract_text(df: DataFrame, id_col: str = "doc_id",
                 html_col: str = "html") -> DataFrame:
    """(id, text_out, n_html_bytes): visible text per page."""
    raw = f"`{html_col}`"
    return df.selectExpr(
        f"`{id_col}`", f"{extract_text_spark_sql(raw)} AS text_out",
        f"CAST(octet_length({raw}) AS BIGINT) AS n_html_bytes",
    )


def extract_expr_sql(html_expr: str) -> str:
    """The extraction chain as one DuckDB expression over a BLOB
    expression — the DuckDB twin of extract_text_spark_sql. Flags: 'g'
    replaces all (Spark's regexp_replace always does); 's'/'i'
    carried inline in the shared patterns."""
    s = f"decode({html_expr})"
    for pat in (RE_COMMENT, RE_SCRIPT, RE_STYLE, RE_TAG):
        s = f"regexp_replace({s}, '{pat}', '', 'g')"
    s = decode_entities_sql(s)
    return f"trim(regexp_replace({s}, '{RE_WS}', ' ', 'g'))"


def extract_text_sql(pages: str, id_col: str = "doc_id",
                     html_col: str = "html") -> str:
    """DuckDB twin of extract_text over a subquery/table `pages`
    whose html column is a BLOB."""
    s = extract_expr_sql(html_col)
    return (
        f"SELECT {id_col}, {s} AS text_out, "
        f"CAST(octet_length({html_col}) AS BIGINT) AS n_html_bytes "
        f"FROM {pages}"
    )
