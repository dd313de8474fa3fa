"""SparkSession factory tuned for this engine.

Local-mode testing uses ``local[N]``; the same config block is what we
would submit with ``spark-submit --py-files`` on a real cluster (AQE,
Arrow, skew-join handling are cluster-relevant, not local-only).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "vyperdatum_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    cores: parallelism for local mode (defaults to $SPARK_GRAFT_CPUS or *).
    shuffle_partitions: defaults to cores (local mode — 200 would be wrong).
    """
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores_s = env if env else "*"
    else:
        cores_s = str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores_s == "*" else max(int(cores_s), 4)

    builder = (
        SparkSession.builder.master(f"local[{cores_s}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is a two-sided trade measured on this box:
        # tiny batches pay per-batch Python plumbing, but BIG batches of
        # heavy (html/text) columns put gigabytes in flight across the
        # 32 worker sockets and melt the JVM heap into full-GC storms
        # (100k-row batches: 5-33 s wall variance on the same job; 8-10k
        # rows: stable). 10k × ~1 KB rows ≈ 10 MB per batch per worker.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        # NOT bigger-is-better: oversized local heaps (48g) trigger
        # kernel page-management storms on this box (40-70% sys time,
        # 3-10× slowdowns); 8-12g is the sweet spot for these jobs
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # The transform plan fuses 7+ broadcast joins and the
        # PIP/bilinear math into ONE whole-stage-codegen method that
        # can exceed HotSpot's 8000-byte JIT ceiling; without this flag
        # the stage silently runs in the bytecode INTERPRETER (measured
        # 10× slower: 28 s → 2.9 s on an 8M-row transform).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
    )
    # shuffle/spill scratch (guide §2.1: the map side writes every
    # shuffle block to spark.local.dir). Opt-in: point
    # $SPARK_GRAFT_LOCAL_DIR at fast local storage (an SSD array, or
    # tmpfs on a host whose disk serializes concurrent writers); unset,
    # Spark's own default applies. A RAM-backed default would fill
    # memory on any host whose shuffles outgrow it.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    # ad-hoc conf overrides for experiments: "k=v;k=v"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, v = kv.split("=", 1)
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
