"""Extra benchmarks for the optimization round (bench.py is frozen).

Per-query phase breakdown at $SPARK_GRAFT_SF_DIR:
    python bench_extra.py phases <query> [query ...]
prints, for each query and pass: build (Python construction of the
DataFrame, incl. any eager sub-jobs), analyze (df.schema — Catalyst
analysis), exec (noop materialization).

    python bench_extra.py time <query> [query ...]
bench.py-identical timing (2 passes, min) for a subset, quiet.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as entry
    from vyperdatum_spark.session import get_spark

    mode = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench-extra",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    qs = entry.queries_extended()
    # same warm-up as bench.py
    _materialize(qs["geo_transform_mllw"](spark, sf_dir))

    if mode == "phases":
        for name in names:
            for p in (1, 2):
                t0 = time.perf_counter()
                df = qs[name](spark, sf_dir)
                t1 = time.perf_counter()
                _ = df.schema
                t2 = time.perf_counter()
                _materialize(df)
                t3 = time.perf_counter()
                print(json.dumps({
                    "query": name, "pass": p,
                    "build": round(t1 - t0, 3),
                    "analyze": round(t2 - t1, 3),
                    "exec": round(t3 - t2, 3),
                    "total": round(t3 - t0, 3),
                }))
    elif mode == "scale10":
        # order-of-magnitude step (VERDICT r5 #7): replicate the sf0.1
        # documents/events/embeddings 10x with id offsets into a
        # scratch dir, then time the given queries there vs sf0.1.
        # A scaling PROBE for superlinear surprises, not a correctness
        # gate (the replica changes content distributions: dup groups
        # and LSH buckets grow 10x denser than a true sf1 would).
        import shutil
        from pyspark.sql import functions as F
        x_dir = "/tmp/vyspark_scale10"
        sources = (("documents", "doc_id", 10_000_000),
                   ("events", "event_id", 100_000_000),
                   ("embeddings", "vec_id", 10_000_000))
        # the replica is keyed on its sources: rebuilt when sf_dir or the
        # size or mtime of a source table differs from the last build
        stats = [os.stat(f"{sf_dir}/{t}.parquet") for t, _c, _o in sources]
        key = json.dumps([os.path.abspath(sf_dir)] + [
            (t, st.st_size, st.st_mtime_ns)
            for (t, _c, _o), st in zip(sources, stats)
        ])
        try:
            with open(f"{x_dir}/_DONE") as f:
                built = f.read()
        except OSError:
            built = None
        if built != key:
            shutil.rmtree(x_dir, ignore_errors=True)
            os.makedirs(x_dir, exist_ok=True)
            for table, id_c, off in sources:
                src = spark.read.parquet(f"{sf_dir}/{table}.parquet")
                uni = None
                for r in range(10):
                    d = src.withColumn(id_c, F.col(id_c) + F.lit(r * off))
                    uni = d if uni is None else uni.unionByName(d)
                uni.repartition(32).write.mode("overwrite").parquet(
                    f"{x_dir}/{table}.parquet")
            with open(f"{x_dir}/_DONE", "w") as f:
                f.write(key)
        out = {}
        for name in names:
            t_small = None
            t_big = None
            for _ in range(2):
                t0 = time.perf_counter()
                _materialize(qs[name](spark, sf_dir))
                s = time.perf_counter() - t0
                t_small = s if t_small is None else min(t_small, s)
                t0 = time.perf_counter()
                _materialize(qs[name](spark, x_dir))
                b = time.perf_counter() - t0
                t_big = b if t_big is None else min(t_big, b)
            out[name] = {"sf0.1_sec": round(t_small, 3),
                         "x10_sec": round(t_big, 3),
                         "ratio": round(t_big / t_small, 2)}
            print(json.dumps({name: out[name]}))
        print(json.dumps({"scale10": out}))
    elif mode == "time":
        timings = {}
        for _ in range(2):
            for name in names:
                t0 = time.perf_counter()
                _materialize(qs[name](spark, sf_dir))
                sec = round(time.perf_counter() - t0, 3)
                timings[name] = min(timings.get(name, sec), sec)
        print(json.dumps(timings))
    spark.stop()


if __name__ == "__main__":
    main()
