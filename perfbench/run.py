"""Benchmark runner: one workload, one seed, one Spark application.

Run from the repository root:

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

The run generates (or reuses) the seeded input, sets the session up
twice and keeps the median (the mean of the two) as ``setup_s``, runs
closed-loop timed passes for ``--seconds`` seconds, verifies the last
pass's output against an independent reference, and prints every
metric by name and unit.  ``--trace 1`` sets up once with the Spark
event log on and, after the untraced passes, adds one traced pass and
the per-layer breakdown.  The last line of standard output is one JSON
object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

Everything the run writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback


def _process_age() -> float:
    """Seconds since this process started (from /proc; 0 elsewhere)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
        return max(uptime - start_ticks / os.sysconf("SC_CLK_TCK"), 0.0)
    except (OSError, ValueError, IndexError):
        return 0.0


T_START = time.perf_counter() - _process_age()

HERE = os.path.dirname(os.path.abspath(__file__))
N_SETUPS = 2

E2E = {"rows_per_s": "1/s", "setup_s": "s"}
PER_LAYER = {
    "engine.transform.plan_s": "s",
    "engine.transform.exec_s": "s",
    "engine.transform.covered_frac": "ratio",
    "engine.transform.broadcast_mb": "MB",
    "sources.scan_s": "s",
    "spark.input_mb": "MB",
    "engine.geoparse.exec_s": "s",
    "engine.geoparse.parsed_frac": "ratio",
    "ops.urls.canonical_s": "s",
    "ops.html.extract_s": "s",
    "ops.pii.annotate_s": "s",
    "ops.textstats.repetition_s": "s",
    "ops.urls.latest_capture_s": "s",
    "ops.html.identical_text_frac": "ratio",
    "ops.textstats.kept_frac": "ratio",
    "ops.dedup.exact_s": "s",
    "ops.dedup.decontaminate_s": "s",
    "ops.textstats.sample_s": "s",
    "engine.sinks.write_s": "s",
    "engine.sinks.files": "count",
    "queries.pipeline.unattributed_s": "s",
    "engine.checkpoint.stage_s": "s",
    "engine.checkpoint.bucket_s_p50": "s",
    "engine.checkpoint.bucket_s_max": "s",
    "engine.checkpoint.commit_overhead_s": "s",
    "engine.checkpoint.buckets_resumed": "count",
    "engine.checkpoint.recomputed_rows": "count",
    "sources.tables.snapshots": "count",
    "sources.tables.manifest_kb": "KB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "spark.cpu_frac": "ratio",
    "peak_rss_mb": "MB",
    "resume_s": "s",
    "written_mb": "MB",
    "failed_frac": "ratio",
    "trace.full_pass_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_s": "s",
}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input scale; 'tiny' is for smoke tests")
    return p.parse_args(argv)


def _env(work: str) -> int:
    """Keep every file Spark, Python and DuckDB write inside ``work``;
    return the task-slot count (never above nproc)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    local = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir
    # hsperfdata would go to /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    nproc = os.cpu_count() or 1
    try:
        nproc = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    want = os.environ.get("SPARK_GRAFT_CPUS")
    cores = min(int(want), nproc) if want else nproc
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return cores


def _session(work: str, cores: int, event_log: bool):
    from vyperdatum_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "3g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + d,
                     "spark.eventLog.compress": "false"})
    else:
        conf["spark.eventLog.enabled"] = "false"
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def _vm_hwm_mb(pid) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and the
    Python workers it started have exited."""
    import signal

    from pyspark import SparkContext

    proc = _jvm_proc()
    workers = _descendants(proc.pid) if proc is not None else []
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def _emit(values: dict, units: dict) -> dict:
    return {k: {"value": float(values.get(k, 0.0)), "unit": units[k]}
            for k in units}


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "vyperdatum_spark",
                                       "__init__.py")):
        print("perfbench: vyperdatum_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    import gen
    import spans
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work")
    cores = _env(work)
    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)

    # ---- load generator (its time is reported apart from setup_s)
    t0 = time.perf_counter()
    inputs = {
        table: gen.generate(table, args.seed, n, os.path.join(work, "cache"))
        for table, n in workloads.SIZES[args.workload][args.scale].items()
    }
    gen_s = time.perf_counter() - t0

    tracer = spans.Tracer(enabled=False)
    wl = workloads.WORKLOADS[args.workload](inputs, work, cores, tracer)

    # ---- set-up, N_SETUPS times: session, input registration, dims and
    # one warm-up pass each; the first is timed from process start.  A
    # traced run sets up once, with the event log on from the start.
    setups, spark = [], None
    for i in range(1 if args.trace else N_SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = _session(work, cores, event_log=bool(args.trace))
        wl.bind(spark)
        wl.run_pass()
        end = time.perf_counter()
        setups.append(end - T_START - gen_s if i == 0 else end - t0)

    # ---- timed closed loop: one client, one pass at a time
    passes, legs, attempted, failed = [], {}, 0, 0
    t_loop = time.perf_counter()
    while time.perf_counter() - t_loop < args.seconds:
        attempted += 1
        t0 = time.perf_counter()
        try:
            wl.run_pass()
            passes.append(time.perf_counter() - t0)
            for leg, v in getattr(wl, "leg_s", {}).items():
                legs.setdefault(leg, []).append(v)
        except Exception:
            failed += 1
            traceback.print_exc()

    # ---- verification of the last pass, outside the timed passes
    attempted += 1
    t_verify = time.perf_counter()
    try:
        ok, detail = wl.verify()
    except Exception:
        traceback.print_exc()
        ok, detail = False, "verification raised"
    if not ok:
        failed += 1
    verify_s = time.perf_counter() - t_verify
    print(f"verify: {'ok' if ok else 'MISMATCH'} — {detail}")
    print("setups_s: " + " ".join(f"{v:.3f}" for v in setups))
    print("passes_s: " + " ".join(f"{v:.3f}" for v in passes))

    med = statistics.median(passes) if passes else float("nan")
    e2e = {
        "rows_per_s": wl.rows / med if passes else 0.0,
        "setup_s": statistics.median(setups),
    }
    extra = {
        "failed_frac": (failed / attempted, "ratio"),
        "passes": (len(passes), "count"),
        "pass_s_median": (med, "s"),
        "pass_s_min": (min(passes) if passes else 0.0, "s"),
        "pass_s_max": (max(passes) if passes else 0.0, "s"),
        "setup_first_s": (setups[0], "s"),
        "gen_s": (gen_s, "s"),
        "verify_s": (verify_s, "s"),
        "input_rows": (wl.rows, "count"),
        **{f"{leg}_leg_s_median": (statistics.median(v), "s")
           for leg, v in legs.items()},
        **wl.extra_metrics(),
    }

    layers = {}
    if args.trace:
        layers = _traced(wl, tracer, spark, med, log_dir, spans)
        spark = wl.spark
        layers["failed_frac"] = failed / attempted
        for k, (v, _) in wl.extra_metrics().items():
            layers[k] = v

    proc = _jvm_proc()
    rss_py = _vm_hwm_mb("self")
    rss_jvm = _vm_hwm_mb(proc.pid) if proc is not None else 0.0
    extra["peak_rss_mb"] = (rss_py + rss_jvm, "MB")
    layers["peak_rss_mb"] = rss_py + rss_jvm
    extra["peak_rss_python_mb"] = (rss_py, "MB")
    extra["peak_rss_jvm_mb"] = (rss_jvm, "MB")
    t0 = time.perf_counter()
    _shutdown(spark)
    extra["shutdown_s"] = (time.perf_counter() - t0, "s")
    if args.trace:
        path = os.path.join(work, "trace",
                            f"spans-{args.workload}-{tracer.run_id}.jsonl")
        tracer.write(path)
        print(f"trace: spans written to {path}")
        bad = spans.nesting_violations(tracer.spans)
        if bad:
            print(f"trace: spans outside their parent: {bad}")
            ok = False

    for k, u in E2E.items():
        print(f"metric {k} = {e2e[k]:.6g} {u}")
    for k, (v, u) in extra.items():
        print(f"metric {k} = {v:.6g} {u}")
    for k, u in PER_LAYER.items():
        if args.trace:
            print(f"layer {k} = {layers.get(k, 0.0):.6g} {u}")
    result = {
        "correct": bool(ok),
        "attempted": attempted,
        "failed": failed,
        "metrics": _emit(layers, PER_LAYER) if args.trace else _emit(e2e, E2E),
    }
    print(json.dumps(result))
    return 0


def _traced(wl, tracer, spark, untraced_med, log_dir, spans) -> dict:
    """One traced full pass in the same session as the untraced passes,
    then the workload's prefix breakdown; Spark totals come from the
    session's event log."""
    tracer.sc = spark.sparkContext
    tracer.enabled = True
    with tracer.phase("full"):
        t0 = time.perf_counter()
        wl.run_pass()
        full_s = time.perf_counter() - t0
    res = wl.trace()
    if not res["replica_ok"]:
        print("trace: the rebuilt call chain no longer matches the query's "
              "output; prefix times may be misattributed")
    spark.stop()  # finalizes the event log
    wl.spark = None

    stats = spans.parse_event_log(log_dir)
    full = stats.get("full") or spans.PhaseStats()
    transform = spans.merge([v for k, v in stats.items()
                             if k in res.get("transform_phases", ())])
    out = dict(res["layers"])
    out.update({
        "engine.transform.broadcast_mb": transform.broadcast_b / 2**20,
        "spark.input_mb": full.input_b / 2**20,
        "spark.jobs": full.jobs,
        "spark.stages": full.stages,
        "spark.shuffle_write_mb": full.shuffle_write_b / 2**20,
        "spark.spill_mb": full.spill_b / 2**20,
        "spark.gc_s": full.gc_ms / 1e3,
        "spark.task_skew": full.task_skew(),
        "spark.cpu_frac": (full.cpu_ns / 1e6) / full.run_ms
        if full.run_ms else 0.0,
        "trace.full_pass_s": full_s,
        "trace.overhead_frac": full_s / untraced_med - 1.0,
        "trace.unattributed_s": full_s - res["attributed_s"],
    })
    return out


if __name__ == "__main__":
    sys.exit(main())
