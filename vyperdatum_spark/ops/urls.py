"""URL canonicalization + canonical-URL deduplication.

A standard web-corpus pipeline stage (Common-Crawl-shaped inputs key
on `url`): near-identical fetches of the same resource differ only in
scheme/host case, default ports, fragments, tracking parameters, and
trailing slashes. Canonicalizing before exact dedup collapses them
without touching `text` (the byte-identity contract).

Rules (all pure JVM regexp/string column math, zero Python):
  1. lowercase the scheme+authority (NOT the path/query — paths are
     case-sensitive per RFC 3986);
  2. strip the fragment (``#…``);
  3. drop default ports (``:80`` for http, ``:443`` for https);
  4. remove ``utm_*`` tracking parameters (leading-separator form);
  5. strip a trailing slash from a non-root path.

At 100 TB this is a projection + one hash-groupBy on the canonical
key — the same single-shuffle shape as `dedup.exact_duplicates`.
Every rule is expressed with portable regexes so the DuckDB oracle
evaluates the identical transformation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.inputs import local_df
from . import sql_over, sql_str

# scheme://authority (everything before the first path slash)
_AUTH_RE = r"^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)"


def url_dedup(df: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """Groups of rows collapsing to one canonical URL: (canonical_url,
    keeper_id = min id, n_members). One hash shuffle on the canonical
    key; only groups with >1 member are returned (the dedup report
    shape, mirroring dedup.exact_duplicates)."""
    canon = canonical_url_df(df, url_col, id_col)
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.min(F.col(id_col)).alias("keeper_id"),
            F.count("*").alias("n_members"),
        )
        .filter(F.col("n_members") > 1)
    )


def host_of(url_col) -> F.Column:
    """Registrable host of a URL (lowercased authority minus port and
    userinfo) — the key for domain-blocklist filtering."""
    auth = F.lower(F.regexp_extract(F.col(url_col) if isinstance(url_col, str)
                                    else url_col, _AUTH_RE, 1))
    host = F.regexp_replace(auth, r"^[a-z][a-z0-9+.-]*://", "")
    host = F.regexp_replace(host, r"^[^@]*@", "")
    return F.regexp_replace(host, r":\d+$", "")


def blocklist_filter(df: DataFrame, blocked_hosts: list[str],
                     url_col: str = "url") -> DataFrame:
    """Domain-blocklist URL filtering (the UT1/adult-list stage of a
    web-corpus pipeline): drop rows whose host OR any parent domain is
    blocked ('ads.example.com' is blocked by 'example.com').

    Scale shape: the blocklist ships as a BROADCAST dim (real lists
    are ~10^6 hosts ≈ tens of MB — well inside broadcast range) and
    the match is a left_anti join on the exploded suffix chain of each
    host (a host yields ≤ label-count suffixes, ~3-5), so the corpus
    side never shuffles."""
    spark = df.sparkSession
    bl = local_df(
        spark, [(h.lower(),) for h in blocked_hosts], "blocked_host string"
    )
    host = host_of(url_col)
    with_host = df.withColumn("_host", host)
    # suffix chain: ['a.b.c', 'b.c', 'c'] via array slicing of labels
    labels = F.split(F.col("_host"), r"\.")
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(labels)),
        lambda i: F.array_join(F.slice(labels, i, F.size(labels)), "."),
    )
    exploded = with_host.withColumn("_sfx", F.explode(suffixes))
    hit_ids = (
        exploded.join(F.broadcast(bl),
                      exploded["_sfx"] == bl["blocked_host"], "inner")
        .select("_host").distinct()
    )
    return (
        with_host.join(F.broadcast(hit_ids), "_host", "left_anti")
        .drop("_host")
    )


def blocklist_filter_sql(inner_sql: str, blocked_hosts: list[str],
                         url_col: str = "url") -> str:
    """DuckDB twin: same host extraction + suffix-chain membership."""
    hosts = ", ".join(f"('{h.lower()}')" for h in blocked_hosts)
    auth = f"lower(regexp_extract({url_col}, '{_AUTH_RE}', 1))"
    host = (
        f"regexp_replace(regexp_replace(regexp_replace({auth}, "
        "'^[a-z][a-z0-9+.-]*://', ''), '^[^@]*@', ''), ':[0-9]+$', '')"
    )
    return (
        f"WITH _in AS (SELECT *, {host} AS _host FROM ({inner_sql})), "
        f"_bl(blocked_host) AS (VALUES {hosts}), "
        "_hit AS (SELECT DISTINCT i._host FROM _in i, _bl b "
        "WHERE i._host = b.blocked_host "
        "OR i._host LIKE '%.' || b.blocked_host) "
        "SELECT * EXCLUDE (_host) FROM _in "
        "WHERE _host NOT IN (SELECT _host FROM _hit)"
    )


def latest_capture_spark_sql(rel: str, url_col: str = "url",
                             ts_col: str = "warc_ts",
                             id_col: str = "doc_id") -> str:
    """The one Spark builder of the latest capture per canonical URL —
    the Common-Crawl snapshot dedup: a crawl re-fetches the same
    resource across snapshots and downstream wants exactly one row per
    page, the freshest.  Spark SQL text over the relation ``rel``
    yielding (canonical_url, latest_id, latest_ts, n_captures).

    Shape at 100 TB: canonicalize (projection) + ONE hash shuffle on
    the canonical key with a map-side-combining ``max(struct(ts, id))``
    aggregate — deliberately NOT a window ``row_number`` (a window
    sorts every group and carries all rows through the shuffle; the
    struct-max agg combines partially before it). Ties on ts break to
    the larger id, deterministically on both engines."""
    canon = canonical_url_spark_sql(rel, url_col, id_col, [ts_col])
    best = f"max(struct(`{ts_col}`, `{id_col}`))"
    return (
        f"SELECT canonical_url, {best}.`{id_col}` AS latest_id, "
        f"{best}.`{ts_col}` AS latest_ts, count(*) AS n_captures "
        f"FROM ({canon}) GROUP BY canonical_url"
    )


def latest_capture(df: DataFrame, url_col: str = "url",
                   ts_col: str = "warc_ts", id_col: str = "doc_id") -> DataFrame:
    """``latest_capture_spark_sql`` over ``df``: (canonical_url,
    latest_id, latest_ts, n_captures)."""
    return sql_over(df, lambda rel: latest_capture_spark_sql(
        rel, url_col, ts_col, id_col))


def latest_capture_sql(inner_sql: str, url_col: str = "url",
                       ts_col: str = "warc_ts",
                       id_col: str = "doc_id") -> str:
    """DuckDB twin of latest_capture_spark_sql over `inner_sql` — a
    subquery yielding (id, ts, url). Window form (oracle clarity over
    the map-combine shape the Spark plan uses)."""
    canon = canonical_url_sql(inner_sql, url_col=url_col, id_col=id_col,
                              extra_cols=[ts_col])
    return (
        f"WITH c AS ({canon}) "
        f"SELECT canonical_url, {id_col} AS latest_id, "
        f"{ts_col} AS latest_ts, n_captures FROM ("
        f"SELECT *, COUNT(*) OVER (PARTITION BY canonical_url) AS n_captures, "
        f"ROW_NUMBER() OVER (PARTITION BY canonical_url "
        f"ORDER BY {ts_col} DESC, {id_col} DESC) AS rn FROM c) WHERE rn = 1"
    )


def canonical_url_sql(inner_sql: str, url_col: str = "url",
                      id_col: str = "doc_id",
                      extra_cols: list[str] | None = None) -> str:
    """DuckDB twin of canonical_url_spark_sql: the same staged regex
    sequence ('g' flag where Spark's regexp_replace replaces all
    occurrences). Returns a SELECT yielding (id, *extra_cols,
    canonical_url)."""
    extra = "".join(f"{c}, " for c in (extra_cols or []))
    return (
        f"WITH _u0 AS (SELECT {id_col}, {extra}"
        f"regexp_replace({url_col}, '#.*$', '') AS u FROM ({inner_sql})), "
        f"_u1 AS (SELECT {id_col}, {extra}"
        "regexp_replace(regexp_replace(u, "
        "'\\?utm_[^&#]*&', '?', 'g'), '[?&]utm_[^&#]*', '', 'g') AS u "
        "FROM _u0), "
        f"_u2 AS (SELECT {id_col}, {extra}u, "
        f"regexp_extract(u, '{_AUTH_RE}', 1) AS auth FROM _u1) "
        f"SELECT {id_col}, {extra}"
        "regexp_replace(regexp_replace(lower(auth), '^(https://.*):443$', "
        "'\\1'), '^(http://.*):80$', '\\1') || "
        "regexp_replace(substr(u, length(auth) + 1), '(.+)/$', '\\1') "
        "AS canonical_url FROM _u2"
    )


def canonical_url_spark_sql(rel: str, url_col: str = "url",
                            id_col: str = "doc_id",
                            extra_cols: list[str] | None = None) -> str:
    """The one Spark builder of the canonical URL: a SELECT over the
    relation ``rel`` yielding (id, *extra_cols, canonical_url).  A
    stage whose output is read twice is its own nested SELECT, so
    each regexp runs once per row."""
    keep = ", ".join(f"`{c}`" for c in (id_col, *(extra_cols or [])))
    frag, utm_lead, utm, p443, p80, slash = map(sql_str, (
        r"#.*$", r"\?utm_[^&#]*&", r"[?&]utm_[^&#]*",
        r"^(https://.*):443$", r"^(http://.*):80$", r"(.+)/$"))
    u = (f"regexp_replace(regexp_replace(regexp_replace(`{url_col}`, "
         f"{frag}, ''), {utm_lead}, '?'), {utm}, '')")
    s = f"SELECT {keep}, {u} AS _u FROM {rel}"
    s = (f"SELECT {keep}, _u, regexp_extract(_u, {sql_str(_AUTH_RE)}, 1) "
         f"AS _auth FROM ({s})")
    auth = (f"regexp_replace(regexp_replace(lower(_auth), {p443}, '$1'), "
            f"{p80}, '$1')")
    rest = f"regexp_replace(substring(_u, length(_auth) + 1), {slash}, '$1')"
    return f"SELECT {keep}, concat({auth}, {rest}) AS canonical_url FROM ({s})"


def canonical_url_df(df: DataFrame, url_col: str = "url",
                     id_col: str = "doc_id",
                     extra_cols: list[str] | None = None) -> DataFrame:
    """``canonical_url_spark_sql`` over ``df``: (id, *extra_cols,
    canonical_url)."""
    return sql_over(df, lambda rel: canonical_url_spark_sql(
        rel, url_col, id_col, extra_cols))
