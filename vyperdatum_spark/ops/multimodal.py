"""Multimodal column handling: opaque binary payloads + typed metadata.

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; decode / feature-extract / resize / frame-sample run as
Arrow-batched pandas functions over ``mapInPandas``. The container
has no image/audio libraries, so the actual codec step is STUBBED: a
seeded, content-addressed fake decode (md5-derived pixel stats)
exercises the real Spark-side plumbing — schema, batch iteration,
partition sizing — which is what matters at 100 TB.

Metadata extraction (byte length, content hash, magic-prefix sniff)
is pure column math and oracle-checkable.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAGIC = {
    b"\x89PNG": "png",
    b"\xff\xd8\xff": "jpeg",
    b"GIF8": "gif",
    b"<htm": "html",
    b"<!DO": "html",
}


def media_meta(df: DataFrame, id_col: str, bin_col: str,
               hash_mode: str = "raw") -> DataFrame:
    """Typed metadata over an opaque binary column (no decode).

    ``hash_mode="raw"`` hashes the payload bytes directly;
    ``hash_mode="hex"`` hashes the uppercase hex encoding instead — a
    bijective re-encoding, so still an exact content hash, but
    portable to SQL engines whose hash functions are VARCHAR-only
    (DuckDB's md5 rejects BLOB; used by the oracle gate).
    """
    if hash_mode not in ("raw", "hex"):
        raise ValueError(f"hash_mode {hash_mode!r} not in ('raw', 'hex')")
    b = F.col(bin_col)
    sniff = F.lit("bin")
    for magic, kind in MAGIC.items():
        hexpref = magic.hex()
        sniff = F.when(
            F.startswith(F.hex(b), F.lit(hexpref.upper())), F.lit(kind)
        ).otherwise(sniff)
    hashed = F.md5(F.hex(b)) if hash_mode == "hex" else F.md5(b)
    return df.select(
        F.col(id_col),
        F.octet_length(b).cast("long").alias("byte_len"),
        hashed.alias("content_md5"),
        sniff.alias("media_kind"),
    )


DECODE_SCHEMA = (
    "id long, width int, height int, n_frames int, mean_lum double, feat array<float>"
)
FEAT_DIM = 8  # feature-vector length of the fake decode (digest bytes 4..11)


def decode_image_batches(
    it: Iterator[pd.DataFrame],
    id_col: str,
    digest_col: str = "_digest",
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: content digest → (dims, frame count,
    luminance, feature vector). Real decoding is stubbed (no codec
    libs in this container) — a REAL codec would iterate per blob
    RIGHT HERE; the deterministic fake instead consumes a 16-byte md5
    computed JVM-side (``F.unhex(F.md5(bin))``), so the kernel is pure
    vectorized numpy with no Python-level hashing."""
    for pdf in it:
        n = len(pdf)
        if n == 0:
            continue
        # one digest matrix, numpy column math, no per-row assembly
        d = np.frombuffer(
            b"".join(pdf[digest_col]), dtype=np.uint8
        ).reshape(n, 16)
        feat_mat = (d[:, 4:4 + FEAT_DIM].astype(np.float32) / 255.0)
        yield pd.DataFrame(
            {
                "id": pdf[id_col].to_numpy(),
                "width": (16 + d[:, 0] % 64).astype(np.int32),
                "height": (16 + d[:, 1] % 64).astype(np.int32),
                "n_frames": (1 + d[:, 2] % 4).astype(np.int32),
                "mean_lum": np.round(d[:, 3] / 255.0, 6),
                "feat": list(feat_mat),
            }
        )


def decode_media(df: DataFrame, id_col: str, bin_col: str) -> DataFrame:
    def fn(it):
        return decode_image_batches(it, id_col, "_digest")

    # content hash computed in whole-stage codegen; only the 16-byte
    # digest crosses the Arrow socket, never the blob itself
    narrow = df.select(
        F.col(id_col), F.unhex(F.md5(F.col(bin_col))).alias("_digest")
    )
    return narrow.mapInPandas(fn, DECODE_SCHEMA)


RESIZE_SCHEMA = (
    "id long, out_width int, out_height int, scale_x double, "
    "scale_y double, resized_md5 string"
)


def resize_media(df: DataFrame, id_col: str, bin_col: str,
                 target_w: int = 32, target_h: int = 32) -> DataFrame:
    """Resize plumbing over mapInPandas: per-blob target dims, scale
    factors vs the (fake-)decoded source dims, and a content-addressed
    digest of the 'resized' payload. The pixel resample itself is the
    stubbed codec step (no image libs in this container); the Spark
    side — batch iteration, schema, derived-scale math — is real.
    """

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            # a REAL pixel resample would loop per blob RIGHT HERE;
            # the fake path is fully vectorized over the JVM-computed
            # digest + resized-hash columns
            n = len(pdf)
            if n == 0:
                continue
            d = np.frombuffer(
                b"".join(pdf["_digest"]), dtype=np.uint8
            ).reshape(n, 16)
            src_w = (16 + d[:, 0] % 64).astype(np.float64)
            src_h = (16 + d[:, 1] % 64).astype(np.float64)
            yield pd.DataFrame({
                "id": pdf[id_col].to_numpy(),
                "out_width": np.full(n, target_w, dtype=np.int32),
                "out_height": np.full(n, target_h, dtype=np.int32),
                "scale_x": target_w / src_w,
                "scale_y": target_h / src_h,
                "resized_md5": pdf["_resized_md5"],
            })

    # both hashes in whole-stage codegen: the source digest and the
    # content hash of the 'resized' payload (digest ‖ "|WxH") — only
    # 16 + 32 bytes per row cross the Arrow socket
    digest = F.unhex(F.md5(F.col(bin_col)))
    suffix = F.lit(f"|{target_w}x{target_h}".encode())
    narrow = df.select(
        F.col(id_col),
        digest.alias("_digest"),
        F.md5(F.concat(digest, suffix)).alias("_resized_md5"),
    )
    return narrow.mapInPandas(fn, RESIZE_SCHEMA)


def frame_sample(df: DataFrame, id_col: str, bin_col: str,
                 every_n: int = 2) -> DataFrame:
    """Frame-sampling plumbing: decode (fake) then explode frame
    indices 0..n_frames-1 keeping every ``every_n``-th — the schema
    and explode mechanics a video pipeline needs."""
    dec = decode_media(df, id_col, bin_col)
    frames = dec.select(
        "id",
        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)).alias("frame_idx"),
        "width",
        "height",
    )
    return frames.filter(F.col("frame_idx") % every_n == 0)
