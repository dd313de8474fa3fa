"""PII redaction for web-corpus curation.

Standard pre-training scrub stage: replace e-mail addresses, IPv4
addresses, and phone numbers with stable placeholder tokens and count
what was removed (the counts feed curation dashboards and per-source
quality gates). Pure JVM regexp column math — no Python, no shuffle;
at 100 TB this is a codegen projection like every other per-row text
stage.

Regex notes: patterns are RE2-compatible (no lookbehind/backrefs) so
the DuckDB oracle evaluates the byte-identical transformation; the
e-mail pass runs FIRST because an address like user@203.0.113.9 must
become [EMAIL], not a half-redacted [IP] remnant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from . import sql_over, sql_str

# (pattern, placeholder) in application order — e-mail before IP
PII_RULES = (
    # final domain label is alphanumeric (not alpha-only) so addresses
    # with IP-literal domains (user@203.0.113.9) redact as ONE e-mail
    # span instead of leaving a half-redacted user@[IP] remnant
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z0-9]+", "[EMAIL]"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "[IP]"),
    (r"\+\d{1,3}-\d{3}-\d{3,4}(?:-\d{4})?", "[PHONE]"),
)
_KINDS = ("email", "ip", "phone")


def pii_redact(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """(id, clean_text, n_email, n_ip, n_phone): placeholder-redacted
    text plus per-kind match counts. Counts are taken on the staged
    text (post prior rules) so kinds never double-count the same span."""
    counts = ", ".join(f"n_{k}" for k in _KINDS)
    return sql_over(df, lambda rel: (
        f"SELECT `{id_col}`, clean_text, {counts} FROM ("
        f"{pii_annotate_spark_sql(rel, [id_col, text_col], text_col)})"))


def pii_annotate_spark_sql(rel: str, cols: list[str],
                           text_col: str = "text") -> str:
    """The one Spark builder of PII redaction: a SELECT over the
    relation ``rel`` (columns ``cols``) that APPENDS (clean_text,
    n_email, n_ip, n_phone), keeping every other column — for
    pipelines that carry url/ts/lineage alongside the text.

    One nested SELECT per rule, in rule order: a rule reads its input
    twice (count + replace), so the stages stay apart and each regexp
    runs once per row.  The last stage names the text ``clean_text``
    and puts the columns in output order."""
    counts = [f"n_{k}" for k in _KINDS]
    keep = [f"`{c}`" for c in cols if c not in ("clean_text", *counts)]
    src, t = rel, f"`{text_col}`"
    for i, ((pat, tok), kind) in enumerate(zip(PII_RULES, _KINDS)):
        p = sql_str(pat)
        n = (f"CAST(size(regexp_extract_all({t}, {p}, 0)) AS BIGINT) "
             f"AS n_{kind}")
        last = i == len(PII_RULES) - 1
        red = (f"regexp_replace({t}, {p}, {sql_str(tok)}) AS "
               + ("clean_text" if last else "_t"))
        sel = ([*keep, red, *counts[:i], n] if last
               else [*keep, *counts[:i], n, red])
        s = f"SELECT {', '.join(sel)} FROM {src}"
        src, t = f"({s})", "_t"
    return s


def pii_annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``pii_annotate_spark_sql`` over ``df``: its columns, then
    (clean_text, n_email, n_ip, n_phone)."""
    return sql_over(df, lambda rel: pii_annotate_spark_sql(
        rel, df.columns, text_col))


def pii_redact_sql(table: str = "documents", id_col: str = "doc_id",
                   text_col: str = "text") -> str:
    """DuckDB twin: identical patterns, staged in the same order."""
    s = text_col
    count_exprs = []
    for (pat, tok), kind in zip(PII_RULES, _KINDS):
        p = pat.replace("'", "''")
        count_exprs.append(
            f"CAST(len(regexp_extract_all({s}, '{p}')) AS BIGINT) AS n_{kind}"
        )
        s = f"regexp_replace({s}, '{p}', '{tok}', 'g')"
    return (
        f"SELECT {id_col}, {s} AS clean_text, "
        + ", ".join(count_exprs)
        + f" FROM {table}"
    )
