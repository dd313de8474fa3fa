"""Seeded load generator for the benchmark workloads.

Every table is a pure function of (table, seed, size): the same
arguments give byte-identical parquet files, another seed gives other
bytes.  Output is cached under ``perfbench/_work/cache``; a cache entry
is reused only when its manifest records the same table, seed, size
and source hash (this file plus the library generator it calls), and
every data file it lists still has its recorded size.  There is no
source fixture: the tables are synthesized from the templates below,
so the source hash is the whole cache key beyond (table, seed, size).

Tables (written with pyarrow, no Spark, so generation never shares the
benchmark's JVM):

- ``documents.parquet`` — the fixture schema
  ``(doc_id, text, lang, source, n_chars)``: 10–100 words from the
  fixture vocabulary, ~5 % tagged ``dup``, ``source = src{doc_id % 20}``,
  doc ids from a seeded offset; ~10 % are short or repetitive pages the
  Gopher filter drops.
- ``events.parquet`` — the fixture schema
  ``(event_id, ts, user_id, event_type, value, props)`` with event ids
  from a seeded offset (the pipeline query derives its pages from them).
- ``pages/`` — ``engine.datagen.pages_pdf`` pages
  ``(url, warc_ts, html, text, lang)``: ~20 % at one hot coordinate, a
  tail outside coverage, ~10 % without a coordinate, ~5 % malformed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "de", "es", "fr", "zh", "en", "de", "es", "fr",
         "zh", "en", "en")  # en ≈ 40 %, the rest ≈ 15 % each
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
# ids stay below 10^7: the pipeline renders pids with lpad(…, 7)
ID_OFFSET_MAX = 2_000_000
N_FILES = 8

GEN_SOURCES = (
    os.path.join(HERE, "gen.py"),
    os.path.join(ROOT, "vyperdatum_spark", "engine", "datagen.py"),
)


def source_hash() -> str:
    h = hashlib.sha256()
    for p in GEN_SOURCES:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _write(table: pa.Table, path: str, n_files: int = 1) -> None:
    """Deterministic parquet: fixed row-group size, no timestamps in
    the footer beyond the writer version, ``n_files`` equal slices."""
    if n_files == 1:
        pq.write_table(table, path, row_group_size=1 << 20,
                       compression="snappy")
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"),
                       row_group_size=1 << 20, compression="snappy")


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    off = int(rng.integers(0, ID_OFFSET_MAX))
    doc_id = np.arange(off, off + n, dtype=np.int64)
    # ~90 % fixture-like prose; the Gopher filter rejects the ~5 % of
    # short pages (< 10 words) and the ~5 % built from two words
    kind = rng.random(n)
    short, repetitive = kind < 0.05, kind >= 0.95
    n_words = rng.integers(10, 101, n)
    n_words[short] = rng.integers(4, 10, int(short.sum()))
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    dup = rng.random(n) < 0.05
    vocab = np.array(VOCAB, dtype=object)
    texts, pos = [], 0
    for k in range(n):
        idx = words[pos:pos + n_words[k]]
        pos += n_words[k]
        t = " ".join(vocab[idx % 2 if repetitive[k] else idx])
        texts.append(t + " dup" if dup[k] else t)
    lang = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n)]
    source = np.array([f"src{d % 20}" for d in doc_id], dtype=object)
    n_chars = np.fromiter((len(t) for t in texts), np.int64, n)
    return pa.table({"doc_id": doc_id, "text": texts, "lang": lang,
                     "source": source, "n_chars": n_chars})


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    off = int(rng.integers(0, ID_OFFSET_MAX))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n)).astype(
        "timedelta64[us]")
    return pa.table({
        "event_id": np.arange(off, off + n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.uniform(0.0, 560.0, n), 2),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          dtype=object),
    })


def _pages(seed: int, n: int) -> pa.Table:
    from vyperdatum_spark.engine import datagen

    pdf = datagen.pages_pdf(n, seed)
    pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
    return pa.Table.from_pandas(pdf, preserve_index=False)


# table -> (relative output path, n_files, make(seed, size))
TABLES = {
    "documents": ("documents.parquet", 1,
                  lambda s, n: _documents(np.random.default_rng(s), n)),
    "events": ("events.parquet", 1,
               lambda s, n: _events(np.random.default_rng(s), n)),
    "pages": ("pages", N_FILES, _pages),
}


def _listing(d: str) -> dict:
    out = {}
    for root, _, files in os.walk(d):
        for f in files:
            if f == "manifest.json":
                continue
            p = os.path.join(root, f)
            out[os.path.relpath(p, d)] = os.path.getsize(p)
    return out


def _prune(cache_root: str, table: str, keep: str, n_keep: int = 4) -> None:
    """Drop all but the ``n_keep`` newest cache entries of ``table``."""
    entries = sorted(
        (os.path.join(cache_root, e) for e in os.listdir(cache_root)
         if e.startswith(f"{table}-")),
        key=os.path.getmtime, reverse=True)
    for e in entries[n_keep:]:
        if e != keep:
            shutil.rmtree(e, ignore_errors=True)


def generate(table: str, seed: int, size: int, cache_root: str) -> dict:
    """Return ``{"dir", "path", "rows", "gen_s", "cached"}`` for one
    input table, generating it unless a valid cache entry exists."""
    rel, n_files, make = TABLES[table]
    key = {"table": table, "seed": seed, "size": size,
           "source": source_hash()}
    d = os.path.join(cache_root, f"{table}-{size}-{seed}")
    man = os.path.join(d, "manifest.json")
    t0 = time.perf_counter()
    if os.path.exists(man):
        with open(man) as f:
            m = json.load(f)
        if m.get("key") == key and _listing(d) == m.get("files"):
            return {"dir": d, "path": os.path.join(d, rel), "rows": size,
                    "gen_s": time.perf_counter() - t0, "cached": True}
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    _write(make(seed, size), os.path.join(d, rel), n_files)
    files = _listing(d)
    with open(man + ".tmp", "w") as f:
        json.dump({"key": key, "files": files}, f)
    os.replace(man + ".tmp", man)
    _prune(cache_root, table, keep=d)
    return {"dir": d, "path": os.path.join(d, rel), "rows": size,
            "gen_s": time.perf_counter() - t0, "cached": False}
