"""The end-to-end training-data pipeline query (oracle-gated).

Composes the full graft story in ONE dataflow — the cluster-native
equivalent of the reference's quickstart run (reference README.md:49-67
is a single end-to-end transform; the north rule demands the pipeline,
not isolated operators):

    pages (url, warc_ts, text, lang)
      → geoparse (regexp column math, text untouched)
      → vertical transform ellipse→mllw (broadcast joins + codegen,
        zero shuffle)
      → exact dedup (md5 groupBy, min-url keeper)
      → benchmark decontamination (broadcast semi-join of eval
        n-gram hashes; drop any doc sharing a shingle)
      → stratified hash sampling (per-lang rates, portable key)
      → cell-partitioned parquet sink → read back

The read-back rows are the query result, so the driver's value-hash
compares every surviving row — including the raw ``text`` bytes —
against a DuckDB oracle that re-derives the identical pipeline in pure
SQL. The byte-identical-text-per-url invariant is additionally
asserted eagerly against the ORIGINAL page table before returning.

Page synthesis is deterministic from the driver's ``events`` table
with exact-decimal coordinates; every 5th page duplicates its
predecessor's content (exact-dup fodder) and pages whose id ≡ 0
(mod 97) form the held-out eval set (decontamination fodder, famous
coordinates leak across it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import geoparse, sinks
from ..engine import transform as tx
from ..engine.inputs import read_input
from ..ops import dedup, textstats
from ..spatial import cells
from .fixtures import EVENTS
from .geo import region_case_sql, unc_case_sql, z_out_case_sql

FAMOUS_LAT = 34.7512345
FAMOUS_LONW = 76.7512345  # rendered positive with W suffix (x = −lon)


def synth_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-Crawl-shaped pages with parseable coordinate mentions."""
    ev = read_input(spark, f"{sf_dir}/events.parquet", EVENTS)
    k = F.col("event_id")
    cid = k - F.when(k % 5 == 4, F.lit(1)).otherwise(F.lit(0))
    st = ev.select(k.alias("pid"), F.col("ts").alias("warc_ts"),
                   cid.alias("cid"))
    c = F.col("cid")
    famous = (c % 10) == 0
    lat = F.when(famous, F.lit(FAMOUS_LAT)).otherwise(
        F.lit(33.0) + ((c * 7919) % 300).cast("double") * F.lit(0.01)
        + F.lit(0.0021)
    )
    lonw = F.when(famous, F.lit(FAMOUS_LONW)).otherwise(
        F.lit(78.0) - ((c * 131) % 400).cast("double") * F.lit(0.01)
        - F.lit(0.0037)
    )
    zv = ((c * 57) % 2000).cast("double") * F.lit(0.01) - F.lit(5.0)
    lang = (
        F.when(c % 4 == 0, F.lit("en"))
        .when(c % 4 == 1, F.lit("de"))
        .when(c % 4 == 2, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    text = F.concat(
        F.lit("Site "), c.cast("string"), F.lit(" located at "),
        F.format_string("%.5f", lat), F.lit("N, "),
        F.format_string("%.5f", lonw), F.lit("W, elevation "),
        F.format_string("%.2f", zv), F.lit(" m."),
    )
    url = F.concat(
        F.lit("https://pages.test/"),
        F.lpad(F.col("pid").cast("string"), 7, "0"),
    )
    return st.select(
        F.col("pid"), url.alias("url"), F.col("warc_ts"),
        text.alias("text"), lang.alias("lang"),
    )


def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import query_work_dir

    pages = synth_pages(spark, sf_dir)
    bench = pages.filter(F.col("pid") % 97 == 0)
    corpus = pages.filter(F.col("pid") % 97 != 0).drop("pid")

    # geoparse + transform: text rides through untouched (projection
    # guarantee); the transform plan never ships it to Python.
    # localCheckpoint boundary (r5): the transform subtree is
    # zero-shuffle, so ReuseExchange cannot deduplicate it — without
    # the boundary the dedup self-join and the decontamination/keep
    # joins re-evaluate geoparse+transform ~4× inside one write job
    # (measured 12.0 → 8.2 s at sf0.1).  At cluster scale this
    # boundary is the engine's checkpoint layer (run_with_checkpoint)
    # or a persist(DISK_ONLY); blocks release via ContextCleaner.
    parsed = geoparse.geoparse(corpus)
    # checkpoint only the columns the rest of the pipeline reads (r6,
    # guide §2.3 "project before you materialize"): x/y/z, warc_ts,
    # region_ord, sep, covered never leave the transform stage, so the
    # checkpointed blocks shrink by ~7 columns
    out = tx.transform_points(
        spark, parsed, "ellipse", "mllw", key_col="url",
    ).select(
        "url", "lang", "cell5", "region_id", "z_out", "unc", "text"
    ).localCheckpoint()

    # exact dedup: min-url keeper per content hash (dedup_exact's
    # grouping, applied as a filter)
    keepers = (
        out.groupBy(F.md5(F.col("text")).alias("_k"))
        .agg(F.min("url").alias("url"))
        .select("url")
    )
    deduped = out.join(keepers, "url", "left_semi")

    # decontamination: drop every doc sharing ANY word shingle with
    # the eval set (threshold 0 — the strictest policy)
    contam = dedup.decontaminate(deduped, bench, id_col="url",
                                 text_col="text")
    clean_urls = contam.filter(F.col("n_hit") == 0).select("url")
    clean = deduped.join(clean_urls, "url", "left_semi")

    # stratified down-sample (en 0.5 / de 0.25 / rest 1.0)
    sampled = textstats.sample_stratified(clean, id_col="url",
                                          lang_col="lang")

    # cell-partitioned sink (S6 layout) + read back
    d = query_work_dir("pipeline_e2e")
    cols = ["url", "lang", "cell5", "region_id", "z_out", "unc", "text"]
    sinks.to_cell_partitioned_parquet(sampled.select(*cols), f"{d}/pq")
    back = spark.read.schema(
        "url string, lang string, region_id string, z_out double, "
        "unc double, text string, cell5 long"
    ).option("basePath", f"{d}/pq").parquet(f"{d}/pq")

    # the per-row invariant (input_hint): byte-identical text per url,
    # asserted at the SINK against the original page table
    mismatches = (
        back.select("url", F.col("text").alias("_t"))
        .join(pages.select("url", "text"), "url")
        .filter(~F.col("_t").eqNullSafe(F.col("text")))
        .count()
    )
    if mismatches:
        raise AssertionError(
            f"text byte-identity violated for {mismatches} urls at the sink"
        )
    return back.select(*cols)


def pipeline_oracle_sql() -> str:
    """The identical pipeline in DuckDB SQL (one WITH chain)."""
    lat = ("CASE WHEN cid % 10 = 0 THEN 34.7512345 "
           "ELSE 33.0 + CAST((cid * 7919) % 300 AS DOUBLE) * 0.01 + 0.0021 END")
    lonw = ("CASE WHEN cid % 10 = 0 THEN 76.7512345 "
            "ELSE 78.0 - CAST((cid * 131) % 400 AS DOUBLE) * 0.01 - 0.0037 END")
    zv = "CAST((cid * 57) % 2000 AS DOUBLE) * 0.01 - 5.0"
    lang = ("CASE WHEN cid % 4 = 0 THEN 'en' WHEN cid % 4 = 1 THEN 'de' "
            "WHEN cid % 4 = 2 THEN 'fr' ELSE 'es' END")
    text = (
        f"('Site ' || CAST(cid AS VARCHAR) || ' located at ' || "
        f"printf('%.5f', {lat}) || 'N, ' || printf('%.5f', {lonw}) || "
        f"'W, elevation ' || printf('%.2f', {zv}) || ' m.')"
    )
    coord_re = geoparse.COORD_RE
    elev_re = geoparse.ELEV_RE
    x_expr = (
        f"(CASE WHEN regexp_extract(_m, '{coord_re}', 4) = 'W' "
        f"THEN -TRY_CAST(regexp_extract(_m, '{coord_re}', 3) AS DOUBLE) "
        f"ELSE TRY_CAST(regexp_extract(_m, '{coord_re}', 3) AS DOUBLE) END)"
    )
    y_expr = (
        f"(CASE WHEN regexp_extract(_m, '{coord_re}', 2) = 'S' "
        f"THEN -TRY_CAST(regexp_extract(_m, '{coord_re}', 1) AS DOUBLE) "
        f"ELSE TRY_CAST(regexp_extract(_m, '{coord_re}', 1) AS DOUBLE) END)"
    )
    z_expr = f"TRY_CAST(regexp_extract(_e, '{elev_re}', 1) AS DOUBLE)"
    sh = f"list_transform({dedup.shingles_sql('text')}, s -> {dedup.hash60_sql('s')})"
    cell5 = cells.encode_sql("x", "y", cells.COARSE_RES)
    u = dedup.hash60_sql("'s42' || url")
    rates = " ".join(
        f"WHEN '{lg}' THEN {r!r}"
        for lg, r in sorted(textstats.SAMPLE_RATES.items())
    )
    return (
        "WITH base AS (SELECT event_id AS pid, "
        "event_id - CASE WHEN event_id % 5 = 4 THEN 1 ELSE 0 END AS cid "
        "FROM events), "
        f"pages AS (SELECT pid, 'https://pages.test/' || "
        f"lpad(CAST(pid AS VARCHAR), 7, '0') AS url, {lang} AS lang, "
        f"{text} AS text FROM base), "
        "bench AS (SELECT * FROM pages WHERE pid % 97 = 0), "
        "corpus AS (SELECT url, lang, text FROM pages WHERE pid % 97 <> 0), "
        f"parsed AS (SELECT url, lang, text, "
        f"regexp_extract(text, '{coord_re}', 0) AS _m, "
        f"regexp_extract(text, '{elev_re}', 0) AS _e FROM corpus), "
        f"pts AS (SELECT url, lang, text, {x_expr} AS x, {y_expr} AS y, "
        f"{z_expr} AS z FROM parsed), "
        f"assigned AS (SELECT url, lang, text, x, y, z, "
        f"{region_case_sql()} AS region_id FROM pts), "
        "deduped AS (SELECT * FROM assigned "
        "QUALIFY url = MIN(url) OVER (PARTITION BY md5(text))), "
        f"bench_sh AS (SELECT DISTINCT unnest({sh}) AS _s FROM bench), "
        f"corp_sh AS (SELECT DISTINCT url, unnest({sh}) AS _s FROM deduped), "
        "dirty AS (SELECT DISTINCT url FROM corp_sh JOIN bench_sh USING (_s)), "
        "clean AS (SELECT d.* FROM deduped d ANTI JOIN dirty USING (url)), "
        f"sampled AS (SELECT * FROM clean WHERE "
        f"(CAST({u} AS DOUBLE) / {float(1 << 60)!r}) < "
        f"CASE lang {rates} ELSE 1.0 END) "
        f"SELECT url, lang, {cell5} AS cell5, region_id, "
        f"{z_out_case_sql('ellipse', 'mllw')} AS z_out, "
        f"{unc_case_sql('mllw')} AS unc, text FROM sampled"
    )


def queries() -> dict:
    return {"pipeline_end_to_end": q_pipeline_end_to_end}


def oracle_sql() -> dict:
    return {"pipeline_end_to_end": pipeline_oracle_sql()}
