"""Table storage abstraction: snapshot-versioned tables on parquet.

The north_rule's storage model is Iceberg (snapshots, time travel,
checkpoint anti-joins). This sandbox has no Iceberg runtime jars, so
the engine programs against THIS interface instead of raw paths; the
parquet implementation provides honest snapshot semantics with
Iceberg's core mechanics re-expressed minimally:

- every commit is a new immutable SNAPSHOT manifest listing the data
  directories it comprises;
- ``append`` commits a manifest referencing the previous snapshot's
  dirs plus one new dir — no data rewrite, O(1) metadata, exactly how
  Iceberg fast-appends work;
- ``overwrite`` commits a manifest referencing only the new dir (old
  data dirs stay on disk for time travel);
- reads resolve a snapshot id (default: current) to its dir list —
  time travel is just reading an older manifest.

On a cluster with Iceberg configured, ``fmt='iceberg'`` would route to
``df.writeTo(name)`` / ``spark.read.table(name)`` with ``VERSION AS
OF``; the call sites don't change. Manifest writes are atomic via
os.replace (rename) — the same single-pointer commit Iceberg relies on.
"""

from __future__ import annotations

import functools
import json
import os
import time
import uuid

from pyspark.errors import ParseException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import _parse_datatype_string

_MANIFEST = "_snapshots.json"


def _load(table_dir: str) -> dict:
    p = os.path.join(table_dir, _MANIFEST)
    if not os.path.exists(p):
        return {"current": None, "snapshots": []}
    with open(p) as f:
        return json.load(f)


def _commit(table_dir: str, meta: dict) -> None:
    tmp = os.path.join(table_dir, f"{_MANIFEST}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(table_dir, _MANIFEST))  # atomic commit


def write_table(
    df: DataFrame,
    table_dir: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
    properties: dict | None = None,
) -> int:
    """Commit ``df`` as a new snapshot; returns the snapshot id.

    ``properties`` are free-form strings recorded on the snapshot
    record — the analog of Iceberg snapshot summary properties.
    Consumers use them to commit a source watermark ATOMICALLY with
    the data (exactly-once incremental processing: the watermark and
    the rows it covers land in one manifest commit).
    """
    if mode not in ("overwrite", "append", "compact"):
        raise ValueError(
            f"mode {mode!r} not in ('overwrite', 'append', 'compact')")
    os.makedirs(table_dir, exist_ok=True)
    meta = _load(table_dir)
    snap_id = (meta["current"] or 0) + 1
    data_dir = f"data-{snap_id:05d}-{uuid.uuid4().hex[:8]}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(os.path.join(table_dir, data_dir))

    if mode == "append" and meta["current"] is not None:
        prev = snapshot_meta(table_dir, meta["current"])
        dirs = [*prev["dirs"], data_dir]
    else:
        dirs = [data_dir]
    meta["snapshots"].append({
        "id": snap_id,
        "ts": time.time(),
        "mode": mode,
        "dirs": dirs,
        # per-snapshot schema fingerprint: appends with a WIDER schema
        # (added columns) are legal — read_table turns on parquet
        # mergeSchema only when a snapshot's dirs actually span more
        # than one recorded schema (the Iceberg add-column evolution;
        # type CHANGES are not supported and fail at read)
        "schema": df.schema.simpleString(),
        # a partitioned dir is its own partition root: read_table reads
        # such dirs one at a time (see _read_dirs)
        "partition_by": list(partition_by),
        "properties": dict(properties or {}),
    })
    meta["current"] = snap_id
    _commit(table_dir, meta)
    return snap_id


def compact_table(spark: SparkSession, table_dir: str,
                  target_files: int = 8,
                  properties: dict | None = None) -> int:
    """Small-files compaction — Iceberg's ``rewrite_data_files``:
    rewrite the CURRENT snapshot's rows into one new data directory
    with a bounded file count and commit it as a ``compact`` snapshot.

    Why it exists: streaming/chunked ingest commits one dir (≥1 file)
    per micro-batch; after 10^4 commits a scan's file listing and task
    granularity are dominated by tiny files. Compaction is
    row-identical by construction (same rows, new layout); superseded
    dirs stay on disk, so every pre-compaction snapshot remains
    time-travelable. ``compact`` starts a new chain like ``overwrite``
    (the rewritten data is complete), so checkpoint-resume semantics
    are unchanged."""
    meta = _load(table_dir)
    if meta["current"] is None:
        raise ValueError(f"{table_dir} has no committed snapshots")
    prev_id = meta["current"]
    prev_dirs = snapshot_meta(table_dir, prev_id)["dirs"]
    df = read_table(spark, table_dir).coalesce(target_files)
    props = {"compacted_from": str(prev_id),
             "compacted_dirs": str(len(prev_dirs)),
             **(properties or {})}
    return write_table(df, table_dir, mode="compact", properties=props)


def adopt_parquet_dir(table_dir: str, properties: dict | None = None) -> int:
    """Adopt an existing raw parquet directory as snapshot 1 — the
    Iceberg ``migrate``/``snapshot`` pattern: commit a manifest that
    references the existing files WITHOUT rewriting them. No-op if the
    table already has snapshots.

    The adopted files are exposed through a ``data-00001-adopt``
    directory of symlinks rather than as ``dirs=['.']``: later appends
    nest new ``data-NNNNN`` dirs inside the table root, and a reader
    resolving ``'.'`` would then depend on Spark never recursing into
    subdirectories — an implicit invariant that breaks under
    ``recursiveFileLookup`` or file-index changes. Symlinking makes
    every snapshot's dir list explicit and disjoint."""
    meta = _load(table_dir)
    if meta["current"] is not None:
        return meta["current"]
    adopt_dir = "data-00001-adopt"
    adopt_path = os.path.join(table_dir, adopt_dir)
    os.makedirs(adopt_path, exist_ok=True)
    for name in sorted(os.listdir(table_dir)):
        if name.startswith("_") or name == adopt_dir or name.startswith("data-"):
            continue
        link = os.path.join(adopt_path, name)
        if not os.path.lexists(link):
            os.symlink(os.path.join("..", name), link)
    meta["snapshots"].append({
        "id": 1, "ts": time.time(), "mode": "adopt", "dirs": [adopt_dir],
        "properties": dict(properties or {}),
    })
    meta["current"] = 1
    _commit(table_dir, meta)
    return 1


def snapshot_ids(table_dir: str) -> list[int]:
    return [s["id"] for s in _load(table_dir)["snapshots"]]


def current_chain(table_dir: str) -> list[dict]:
    """Snapshot records reachable from the CURRENT snapshot, oldest
    first: the current snapshot plus its append ancestors back to (and
    including) the overwrite/adopt that started the live lineage.
    Snapshots superseded by a later overwrite are excluded — they are
    time-travel-only history, not part of the current table state.
    Checkpoint resume must consult only this chain (a bucket committed
    by a run whose output was later overwritten is NOT done for the
    current table)."""
    meta = _load(table_dir)
    if meta["current"] is None:
        return []
    by_id = {s["id"]: s for s in meta["snapshots"]}
    chain: list[dict] = []
    sid = meta["current"]
    while sid in by_id:
        snap = by_id[sid]
        chain.append(snap)
        if snap.get("mode") != "append":
            break  # overwrite/adopt starts the chain
        sid -= 1  # ids are sequential; an append's parent is id-1
    return list(reversed(chain))


def snapshot_meta(table_dir: str, snap_id: int) -> dict:
    for s in _load(table_dir)["snapshots"]:
        if s["id"] == snap_id:
            return s
    raise ValueError(f"snapshot {snap_id} not found in {table_dir}")


def _read_dirs(spark: SparkSession, table_dir: str, meta: dict,
               dirs: list[str]) -> DataFrame:
    """Read data dirs of ``table_dir`` as one DataFrame.

    Schema evolution: when the dirs were written by commits with
    DIFFERENT recorded schemas (columns added by a later append), the
    read unions by name via parquet ``mergeSchema`` — rows from
    pre-evolution dirs surface the new columns as null, Iceberg's
    add-column semantics. Homogeneous dirs skip the merge (no
    footer-merge cost on the common path) and read with the recorded
    schema, so planning the read runs no schema-inference job. Adopted
    dirs have no recorded schema and keep inference, as does a recorded
    schema that does not parse back (field names the simple form cannot
    quote).

    Partitioned dirs: each ``data-*`` dir is its own partition root,
    and one parquet read over several of them fails partition discovery
    (``CONFLICTING_DIRECTORY_STRUCTURES``). More than one dir with a
    partitioned writer is therefore read one dir at a time, each with
    its own recorded schema, and unioned by name."""
    by_id = {s["id"]: s for s in meta["snapshots"]}
    writers = []
    for d in dirs:
        # data dirs are named data-{snap_id:05d}-…; adopted dirs have
        # no recorded schema (unknown → treated as one fingerprint)
        try:
            writers.append(by_id[int(d.split("-")[1])])
        except (IndexError, ValueError, KeyError):
            writers.append({})
    paths = [os.path.join(table_dir, d) for d in dirs]
    if len(dirs) > 1 and any(w.get("partition_by") for w in writers):
        parts = [_reader(spark, {w.get("schema", "?")}).parquet(p)
                 for w, p in zip(writers, paths)]
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    return _reader(spark, {w.get("schema", "?") for w in writers}) \
        .parquet(*paths)


def _reader(spark: SparkSession, fps: set[str]):
    """``spark.read`` for dirs whose writers recorded the schema
    fingerprints ``fps`` (``?`` = unknown)."""
    reader = spark.read
    if len(fps) > 1:
        return reader.option("mergeSchema", "true")
    if fps != {"?"}:
        try:
            return reader.schema(_parse_datatype_string(fps.pop()))
        except ParseException:
            pass
    return reader


def read_table(
    spark: SparkSession,
    table_dir: str,
    as_of: int | None = None,
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``as_of`` (schema
    evolution and partitioned dirs: see :func:`_read_dirs`)."""
    meta = _load(table_dir)
    if meta["current"] is None:
        raise ValueError(f"{table_dir} has no committed snapshots")
    snap = snapshot_meta(table_dir, as_of if as_of is not None else meta["current"])
    return _read_dirs(spark, table_dir, meta, snap["dirs"])


def incremental_rows(
    spark: SparkSession,
    table_dir: str,
    since: int,
    until: int | None = None,
) -> DataFrame:
    """Rows added between two snapshots — the incremental-read shape a
    checkpointed consumer uses instead of rescanning the table (reads
    only the data dirs the newer manifest added)."""
    meta = _load(table_dir)
    until = until if until is not None else meta["current"]
    old = set(snapshot_meta(table_dir, since)["dirs"]) if since else set()
    new = [d for d in snapshot_meta(table_dir, until)["dirs"] if d not in old]
    if not new:
        raise ValueError(f"no new data dirs between snapshots {since}..{until}")
    return _read_dirs(spark, table_dir, meta, new)


def consumer_watermark(out_dir: str, key: str = "source_until") -> int:
    """Highest source snapshot id any committed output snapshot covers
    (0 if the output table is empty) — the resume point."""
    wm = 0
    for s in _load(out_dir)["snapshots"]:
        v = s.get("properties", {}).get(key)
        if v is not None:
            wm = max(wm, int(v))
    return wm


def process_incremental(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    transform_fn,
    partition_by: tuple[str, ...] = (),
) -> dict:
    """Exactly-once incremental consumption of a snapshot table (the
    north_rule's checkpointed Iceberg consumer): transform only the
    rows the source appended since the last committed watermark, and
    commit the result + the new watermark in ONE snapshot.

    Crash anywhere before the output manifest commit leaves at most an
    orphan (unreferenced) data dir; the watermark is unchanged, so the
    rerun reprocesses the same source range and no committed snapshot
    ever holds duplicates. A no-op call (nothing new) commits nothing.
    """
    src = _load(source_dir)
    if src["current"] is None:
        raise ValueError(f"{source_dir} has no committed snapshots")
    since = consumer_watermark(out_dir)
    until = src["current"]
    if since >= until:
        return {"since": since, "until": until, "skipped": True}
    out_df = transform_fn(incremental_rows(spark, source_dir, since, until))
    snap = write_table(
        out_df, out_dir, mode="append", partition_by=partition_by,
        properties={"source_since": str(since), "source_until": str(until)},
    )
    return {"snapshot": snap, "since": since, "until": until, "skipped": False}
