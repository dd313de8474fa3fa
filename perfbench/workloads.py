"""The benchmark workloads: one timed pass, its verification, and the
traced per-layer breakdown for each.

A workload object is built once per run with its generated inputs and
bound to a session by :meth:`bind` (again after every session restart).
:meth:`run_pass` is one closed-loop operation; :meth:`verify` checks
the output of the last pass against an independent reference, outside
the timed passes; :meth:`trace` materializes each prefix of the call
chain to the noop sink and returns per-layer values.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from urllib.parse import urlparse

import duckdb

# Input sizes per scale.  "bench" is what BENCHMARK.json describes;
# "tiny" is the smoke scale the benchmark's own tests use.
SIZES = {
    "curation": {"bench": {"documents": 8_000},
                 "tiny": {"documents": 600}},
    "pipeline_checkpoint": {"bench": {"events": 10_000, "pages": 40_000},
                            "tiny": {"events": 2_000, "pages": 3_000}},
}
N_BUCKETS = 2
CRASH_AFTER = 1


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn, *a, **k) -> float:
    t0 = time.perf_counter()
    fn(*a, **k)
    return time.perf_counter() - t0


def dir_bytes(d: str) -> int:
    n = 0
    for root, _, files in os.walk(d):
        for f in files:
            n += os.path.getsize(os.path.join(root, f))
    return n


def _duck(threads: int, tmp: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def except_all_both(con, got: str, want: str) -> tuple[int, int, int, int]:
    """(rows got, rows want, got − want, want − got) with EXCEPT ALL:
    row-level multiset difference, exact doubles, NULL = NULL."""
    con.execute(f"CREATE TEMP TABLE _got AS {got}")
    con.execute(f"CREATE TEMP TABLE _want AS {want}")
    n_got = con.execute("SELECT count(*) FROM _got").fetchone()[0]
    n_want = con.execute("SELECT count(*) FROM _want").fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (FROM _got EXCEPT ALL "
                        "FROM _want)").fetchone()[0]
    missing = con.execute("SELECT count(*) FROM (FROM _want EXCEPT ALL "
                          "FROM _got)").fetchone()[0]
    return n_got, n_want, extra, missing


def curation_reference_sql() -> str:
    """``curation_end_to_end_sql()`` with its entity decoder's rejoin
    coalesced to ``''``.

    The library's DuckDB twin of the decoder splits on ``&`` and joins
    the pieces after the first with ``array_to_string``, which DuckDB
    returns as NULL for an empty list where Spark's ``array_join``
    returns ``''``.  So the uncorrected reference turns every page
    without an ``&`` (here: a page whose text has no ``e``, which the
    page renderer writes as ``&#101;``) into NULL text and drops it,
    while the Spark query keeps it.  If the library's twin stops
    producing the uncoalesced form, it is used as it is.
    """
    from vyperdatum_spark.ops import html as html_ops
    from vyperdatum_spark.queries import webtext

    library = html_ops.decode_entities_sql
    join = " || array_to_string("

    def coalesced(expr: str) -> str:
        s = library(expr)
        head, sep, tail = s.partition(join)
        if not sep or not tail.endswith(", ''))"):
            return s
        return f"{head} || coalesce(array_to_string({tail[:-1]}, ''))"

    html_ops.decode_entities_sql = coalesced
    try:
        return webtext.curation_end_to_end_sql()
    finally:
        html_ops.decode_entities_sql = library


def _transform_counts(df) -> tuple[int, int, int]:
    """(rows, covered rows, rows with a parsed x/y) of transform output."""
    from pyspark.sql import functions as F

    r = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum(F.col("covered").cast("long")), F.lit(0)),
        F.coalesce(F.sum((F.col("x").isNotNull() & F.col("y").isNotNull())
                         .cast("long")), F.lit(0))).first()
    return int(r[0]), int(r[1]), int(r[2])


class Workload:
    name = ""

    def __init__(self, inputs: dict, work: str, cores: int, tracer):
        self.inputs = inputs
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.spark = None

    @property
    def rows(self) -> int:
        return sum(g["rows"] for g in self.inputs.values())

    def bind(self, spark) -> None:
        self.spark = spark

    def extra_metrics(self) -> dict:
        return {}


# ------------------------------------------------------------ curation

class Curation(Workload):
    """documents → q_curation_end_to_end → collected to the driver (the
    curated rows are a few hundred; the last pass's rows are verified)."""

    name = "curation"

    @property
    def sf_dir(self) -> str:
        return self.inputs["documents"]["dir"]

    def run_pass(self) -> None:
        from vyperdatum_spark.queries import webtext

        with self.tracer.span("queries.webtext.q_curation_end_to_end"):
            self.last = webtext.q_curation_end_to_end(self.spark, self.sf_dir)
        with self.tracer.span("sink.collect"):
            self.rows_out = self.last.toArrow()

    def verify(self) -> tuple[bool, str]:
        got = self.rows_out
        con = _duck(self.cores, os.path.join(self.work, "duck"))
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{self.inputs['documents']['path']}')")
        con.register("spark_out", got)
        n_got, n_want, extra, missing = except_all_both(
            con, "SELECT * FROM spark_out", curation_reference_sql())
        con.close()
        ok = n_got == n_want and n_got > 0 and extra == 0 and missing == 0
        return ok, (f"curation: {n_got} rows vs oracle {n_want}, "
                    f"{extra} extra, {missing} missing")

    def trace(self) -> dict:
        """Prefixes of the q_curation_end_to_end chain, rebuilt from the
        same public calls in the same order."""
        from pyspark.sql import functions as F

        from vyperdatum_spark.ops import html as html_ops
        from vyperdatum_spark.ops import pii as pii_ops
        from vyperdatum_spark.ops import textstats as ts
        from vyperdatum_spark.ops import urls
        from vyperdatum_spark.queries import webtext

        tr, spark = self.tracer, self.spark
        times = {}

        def prefix(name, df):
            with tr.phase(f"prefix.{name}"):
                times[name] = _timed(noop, df)

        docs = webtext._pii_docs(spark, self.sf_dir)
        pages = docs.select(
            F.col("doc_id"), webtext._warc_ts_col().alias("warc_ts"),
            webtext._url_col().alias("url"),
            F.encode(webtext._page_html_col("text"), "UTF-8").alias("html"))
        prefix("scan", pages)
        with tr.span("ops.urls.canonical_url_df"):
            canon = urls.canonical_url_df(pages, extra_cols=["warc_ts", "html"])
        prefix("canonical", canon)
        with tr.span("ops.html.extract_text_col"):
            ext = canon.select(
                "doc_id", "warc_ts", "canonical_url",
                F.explode(F.array(html_ops.extract_text_col(F.col("html"))))
                .alias("text_out"))
        prefix("extract", ext)
        with tr.span("ops.pii.pii_annotate"):
            red = pii_ops.pii_annotate(ext, "text_out")
        prefix("pii", red)
        with tr.span("ops.textstats.repetition_cols"):
            rep = ts.repetition_cols(F.col("clean_text"))
            kept = red.withColumn("n_words", rep["n_words"]).filter(
                rep["gopher_keep"])
        prefix("repetition", kept)
        latest_ids = (canon.groupBy("canonical_url")
                      .agg(F.max(F.struct("warc_ts", "doc_id")).alias("_b"))
                      .select(F.col("_b.doc_id").alias("doc_id")))
        out = kept.join(latest_ids, "doc_id").select(
            "doc_id", "canonical_url", "clean_text",
            (F.col("n_email") + F.col("n_ip") + F.col("n_phone"))
            .cast("long").alias("n_pii"), "n_words")
        prefix("latest", out)

        with tr.phase("counts"):
            n_ext = ext.count()
            n_kept = kept.count()
            same = (ext.select("doc_id", "text_out")
                    .join(docs.select("doc_id", "text"), "doc_id")
                    .agg(F.avg((F.col("text_out") == F.col("text"))
                               .cast("double"))).first()[0])
            replica_ok = (out.exceptAll(self.last).count() == 0
                          and self.last.exceptAll(out).count() == 0)
        t = times
        return {
            "replica_ok": replica_ok,
            "layers": {
                "sources.scan_s": t["scan"],
                "ops.urls.canonical_s": t["canonical"] - t["scan"],
                "ops.html.extract_s": t["extract"] - t["canonical"],
                "ops.pii.annotate_s": t["pii"] - t["extract"],
                "ops.textstats.repetition_s": t["repetition"] - t["pii"],
                "ops.urls.latest_capture_s": t["latest"] - t["repetition"],
                "ops.html.identical_text_frac": float(same or 0.0),
                "ops.textstats.kept_frac": n_kept / max(n_ext, 1),
            },
            "attributed_s": t["latest"],
        }


# ------------------------------------------------- pipeline + checkpoint

class PipelineCheckpoint(Workload):
    """Two legs per pass, one after the other:

    1. events → q_pipeline_end_to_end (geoparse → transform →
       localCheckpoint → exact dedup → decontaminate → stratified
       sample → cell-partitioned parquet sink → read-back) → noop;
    2. pages → geoparse → run_with_checkpoint(transform_points
       ellipse→mllw) into a fresh output table.
    """

    name = "pipeline_checkpoint"

    def bind(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.inputs["pages"]["path"])
        self._ck_n = 0

    @property
    def sf_dir(self) -> str:
        return self.inputs["events"]["dir"]

    def _transform_fn(self):
        from vyperdatum_spark.engine import transform as tx

        tr = self.tracer

        def fn(spark, df):
            with tr.span("engine.transform.transform_points"):
                return tx.transform_points(spark, df, "ellipse", "mllw",
                                           key_col="url")
        return fn

    def _ck_dir(self) -> str:
        self._ck_n += 1
        d = os.path.join(self.work, "ckpt", f"run{self._ck_n:04d}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def _checkpoint(self, out_dir, run_id, fn=None, fail_after=None):
        from vyperdatum_spark.engine import checkpoint, geoparse

        with self.tracer.span("engine.geoparse.geoparse"):
            pts = geoparse.geoparse(self.pages)
        with self.tracer.span("engine.checkpoint.run_with_checkpoint"):
            return checkpoint.run_with_checkpoint(
                self.spark, pts, fn or self._transform_fn(), out_dir, run_id,
                key_col="url", n_buckets=N_BUCKETS, fail_after=fail_after)

    def run_pass(self) -> None:
        from vyperdatum_spark.queries import pipeline

        t0 = time.perf_counter()
        with self.tracer.span("queries.pipeline.q_pipeline_end_to_end"):
            self.last = pipeline.q_pipeline_end_to_end(self.spark, self.sf_dir)
        with self.tracer.span("sink.noop"):
            noop(self.last)
        t1 = time.perf_counter()
        prev = getattr(self, "straight_dir", None)
        self.straight_dir = self._ck_dir()
        self._checkpoint(self.straight_dir, "straight")
        self.leg_s = {"pipeline": t1 - t0,
                      "checkpoint": time.perf_counter() - t1}
        if prev:
            shutil.rmtree(prev, ignore_errors=True)
        # the pipeline's read-back scans exactly the files its sink wrote
        sink_b = sum(os.path.getsize(urlparse(f).path)
                     for f in self.last.inputFiles())
        self.written_b = dir_bytes(self.straight_dir) + sink_b

    def _crash_resume(self) -> dict:
        d = self._ck_dir()
        try:
            self._checkpoint(d, "resumed", fail_after=CRASH_AFTER)
            raise AssertionError("fail_after did not stop the run")
        except RuntimeError as e:
            if "simulated failure" not in str(e):
                raise
        t0 = time.perf_counter()
        resumed = self._checkpoint(d, "resumed")
        self.resume_dir = d
        return {"resume_s": time.perf_counter() - t0,
                "buckets_resumed": resumed}

    @staticmethod
    def _checksum(df):
        from pyspark.sql import functions as F

        h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(h.cast("decimal(38,0)")).alias("s")).first()
        return int(r["n"]), str(r["s"])

    def verify(self) -> tuple[bool, str]:
        from pyspark.sql import functions as F

        from vyperdatum_spark.engine import checkpoint
        from vyperdatum_spark.queries import pipeline

        # pipeline leg: the read-back of the last pass against the oracle
        got = self.last.toArrow()
        con = _duck(self.cores, os.path.join(self.work, "duck"))
        con.execute("CREATE VIEW events AS SELECT * FROM read_parquet("
                    f"'{self.inputs['events']['path']}')")
        con.register("spark_out", got)
        n_got, n_want, extra, missing = except_all_both(
            con, "SELECT * FROM spark_out", pipeline.pipeline_oracle_sql())
        con.close()
        ok_p = n_got == n_want and n_got > 0 and extra == 0 and missing == 0

        # checkpoint leg: crash + resume must reproduce the straight run
        self.cr = self._crash_resume()
        straight = self._checksum(
            checkpoint.read_output(self.spark, self.straight_dir))
        resumed = self._checksum(
            checkpoint.read_output(self.spark, self.resume_dir))
        m = checkpoint.read_metrics(self.spark, self.resume_dir, "resumed")
        rows_in = m.agg(F.sum("rows_in")).first()[0] or 0
        ok_c = (straight == resumed and rows_in == resumed[0]
                and resumed[0] == self.inputs["pages"]["rows"]
                and self.cr["buckets_resumed"] == N_BUCKETS - CRASH_AFTER)
        return ok_p and ok_c, (
            f"pipeline: {n_got} rows vs oracle {n_want}, {extra} extra, "
            f"{missing} missing; checkpoint: straight {straight} vs resumed "
            f"{resumed}, sidecar rows_in {rows_in}, buckets resumed "
            f"{self.cr['buckets_resumed']}")

    def extra_metrics(self) -> dict:
        out = {"written_mb": (self.written_b / 2**20, "MB")}
        if hasattr(self, "cr"):
            out["resume_s"] = (self.cr["resume_s"], "s")
        return out

    # ---------------------------------------------------------- traced

    def trace(self) -> dict:
        from pyspark.sql import functions as F

        from vyperdatum_spark.engine import checkpoint, geoparse, sinks
        from vyperdatum_spark.engine import transform as tx
        from vyperdatum_spark.ops import dedup, textstats
        from vyperdatum_spark.queries import pipeline
        from vyperdatum_spark.sources import tables
        from vyperdatum_spark.streaming.windows import query_work_dir

        tr, spark = self.tracer, self.spark
        t: dict[str, float] = {}

        def prefix(name, df):
            with tr.phase(f"prefix.{name}"):
                t[name] = _timed(noop, df)

        # ---- pipeline leg, rebuilt from the query's public calls
        pages = pipeline.synth_pages(spark, self.sf_dir)
        prefix("p.scan", pages)
        bench = pages.filter(F.col("pid") % 97 == 0)
        corpus = pages.filter(F.col("pid") % 97 != 0).drop("pid")
        with tr.span("engine.geoparse.geoparse"):
            parsed = geoparse.geoparse(corpus)
        prefix("p.geoparse", parsed)
        with tr.phase("transform.plan.p"):
            t0 = time.perf_counter()
            full = tx.transform_points(spark, parsed, "ellipse", "mllw",
                                       key_col="url")
            t["p.plan"] = time.perf_counter() - t0
        cols = ["url", "lang", "cell5", "region_id", "z_out", "unc", "text"]
        prefix("p.transform", full.select(*cols))
        with tr.phase("counts"):
            p_cnt = _transform_counts(full)
        with tr.phase("prefix.p.materialize"):
            t0 = time.perf_counter()
            out = full.select(*cols).localCheckpoint()
            t["p.materialize"] = time.perf_counter() - t0
        prefix("p.read", out)
        with tr.span("ops.dedup.exact"):
            keepers = (out.groupBy(F.md5(F.col("text")).alias("_k"))
                       .agg(F.min("url").alias("url")).select("url"))
            deduped = out.join(keepers, "url", "left_semi")
        prefix("p.dedup", deduped)
        with tr.span("ops.dedup.decontaminate"):
            contam = dedup.decontaminate(deduped, bench, id_col="url",
                                         text_col="text")
            clean = deduped.join(
                contam.filter(F.col("n_hit") == 0).select("url"),
                "url", "left_semi")
        prefix("p.decontaminate", clean)
        with tr.span("ops.textstats.sample_stratified"):
            sampled = textstats.sample_stratified(clean, id_col="url",
                                                  lang_col="lang")
        prefix("p.sample", sampled)
        d = query_work_dir("perfbench_trace_sink")
        with tr.phase("prefix.p.sink"):
            t0 = time.perf_counter()
            sinks.to_cell_partitioned_parquet(sampled.select(*cols),
                                              f"{d}/pq")
            t["p.sink"] = time.perf_counter() - t0
        sink_files = sum(1 for _, _, fs in os.walk(f"{d}/pq")
                         for f in fs if f.endswith(".parquet"))
        with tr.phase("counts"):
            replica_ok = (spark.read.parquet(f"{d}/pq").count()
                          == self.last.count())
        shutil.rmtree(d, ignore_errors=True)

        # ---- checkpoint leg
        prefix("c.scan", self.pages)
        with tr.span("engine.geoparse.geoparse"):
            pts = geoparse.geoparse(self.pages)
        prefix("c.geoparse", pts)
        with tr.phase("transform.plan.c"):
            t0 = time.perf_counter()
            c_full = tx.transform_points(spark, pts, "ellipse", "mllw",
                                         key_col="url")
            t["c.plan"] = time.perf_counter() - t0
        prefix("c.transform", c_full)
        with tr.phase("counts"):
            c_cnt = _transform_counts(c_full)

        # straight checkpointed run with one timestamp per transform_fn
        # call: bucket i lasts from call i to call i+1 (the last one to
        # the return of run_with_checkpoint)
        calls: list[float] = []
        inner = self._transform_fn()

        def stamped(s, df):
            calls.append(time.perf_counter())
            return inner(s, df)

        ck_dir = self._ck_dir()
        n_plan_before = len(tr.durations("engine.transform.transform_points"))
        with tr.phase("checkpoint.straight"):
            t0 = time.perf_counter()
            self._checkpoint(ck_dir, "traced", fn=stamped)
            t1 = time.perf_counter()
        bucket_s = [b - a for a, b in zip(calls, calls[1:] + [t1])]
        stage_s = calls[0] - t0 if calls else 0.0
        ck_plan = sum(tr.durations("engine.transform.transform_points")
                      [n_plan_before:])
        staged = tables.read_table(spark, os.path.join(ck_dir, "stage"))
        noop_s = []
        for b in range(N_BUCKETS):
            part = staged.filter(F.col("bucket") == b).drop("bucket")
            with tr.phase("checkpoint.bucket_noop"):
                noop_s.append(_timed(noop, inner(spark, part)))
        with tr.phase("checkpoint.crash_resume"):
            cr = self._crash_resume()
        # rows the crashed and the resumed leg committed, beyond the input:
        # a bucket transformed twice would count twice
        m = checkpoint.read_metrics(spark, self.resume_dir, "resumed")
        recomputed = ((m.agg(F.sum("rows_in")).first()[0] or 0)
                      - self.inputs["pages"]["rows"])
        data_dir = os.path.join(self.resume_dir, "data")
        stage_dir = os.path.join(self.resume_dir, "stage")
        manifests = [os.path.join(p, "_snapshots.json")
                     for p in (data_dir, stage_dir)]
        n_snap = sum(len(tables.snapshot_ids(p)) for p in (data_dir, stage_dir))
        shutil.rmtree(ck_dir, ignore_errors=True)

        rows, covered, parsed_n = (a + b for a, b in zip(p_cnt, c_cnt))
        # what each leg of a full pass is made of: the pipeline's
        # materialized transform + the per-step deltas, and the
        # checkpoint's staging + buckets
        p_attr = (t["p.plan"] + t["p.materialize"]
                  + (t["p.sink"] - t["p.read"]))
        c_attr = stage_s + sum(bucket_s)
        return {
            "replica_ok": replica_ok,
            "attributed_s": p_attr + c_attr,
            "transform_phases": ("prefix.p.transform", "prefix.c.transform"),
            "layers": {
                "sources.scan_s": t["p.scan"] + t["c.scan"],
                "engine.geoparse.exec_s": (t["p.geoparse"] - t["p.scan"])
                + (t["c.geoparse"] - t["c.scan"]),
                "engine.geoparse.parsed_frac": parsed_n / max(rows, 1),
                "engine.transform.plan_s": t["p.plan"] + ck_plan,
                "engine.transform.exec_s": (t["p.transform"]
                                            - t["p.geoparse"])
                + (t["c.transform"] - t["c.geoparse"]),
                "engine.transform.covered_frac": covered / max(rows, 1),
                "ops.dedup.exact_s": t["p.dedup"] - t["p.read"],
                "ops.dedup.decontaminate_s": t["p.decontaminate"]
                - t["p.dedup"],
                "ops.textstats.sample_s": t["p.sample"] - t["p.decontaminate"],
                "engine.sinks.write_s": t["p.sink"] - t["p.sample"],
                "engine.sinks.files": sink_files,
                # leg_s still holds the legs of the traced full pass
                "queries.pipeline.unattributed_s": self.leg_s["pipeline"]
                - p_attr,
                "engine.checkpoint.stage_s": stage_s,
                "engine.checkpoint.bucket_s_p50": statistics.median(bucket_s),
                "engine.checkpoint.bucket_s_max": max(bucket_s),
                "engine.checkpoint.commit_overhead_s": sum(bucket_s)
                - sum(noop_s),
                "engine.checkpoint.buckets_resumed": cr["buckets_resumed"],
                "engine.checkpoint.recomputed_rows": recomputed,
                "sources.tables.snapshots": n_snap,
                "sources.tables.manifest_kb": sum(
                    os.path.getsize(p) for p in manifests
                    if os.path.exists(p)) / 1024,
            },
        }


WORKLOADS = {"curation": Curation, "pipeline_checkpoint": PipelineCheckpoint}
