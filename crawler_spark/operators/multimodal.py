"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed in Arrow-batched pandas UDFs.

The container has no image/audio codecs, so the *decode kernels* are
deterministic fakes — but the Spark-side plumbing
(schemas, ``mapInPandas`` batch shape, partition sizing, metadata structs)
is real and tested.  On a real cluster only the kernel body changes
(PIL/libav call instead of the fake), the plan stays identical.

Reference context: the F# crawler stores photo bytes to disk and validates
them with ImageSharp ``Image.LoadAsync`` (``CrawlerLib/Images.fs:12-24``) and
maps mime→extension (``Images.fs:26-34``); those two behaviors are ported in
``operators/photos.py``.  This module generalizes them to the feature-
extraction surface a training pipeline needs.

Scale notes: media bytes dominate I/O, so every operator (a) prunes to the
binary column + key only, (b) caps Arrow batch bytes via the
``maxRecordsPerBatch`` session setting, (c) returns fixed-width features so
downstream joins shuffle features, never bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = (
    "media_id string, kind string, mime string, data binary, "
    "meta struct<width:int,height:int,duration_ms:int>"
)

IMAGE_FEATURE_SCHEMA = (
    "media_id string, ok boolean, width int, height int, "
    "mean_luma double, phash long, error string"
)

FRAME_SAMPLE_SCHEMA = "media_id string, frame_idx int, frame_phash long"


def _fake_decode_image(data: bytes) -> np.ndarray:
    """Deterministic stand-in for an image decoder.

    Real deployment::

        from PIL import Image
        img = np.asarray(Image.open(io.BytesIO(data)).convert("L"))

    Here: the byte stream itself is interpreted as an 8x8 grayscale tile
    (repeating), which makes every downstream feature deterministic and
    testable without codecs.  Raises ValueError on empty payloads the same
    way a decoder raises on truncated files.
    """
    if not data:
        raise ValueError("empty media payload")
    arr = np.frombuffer(data, dtype=np.uint8)
    reps = -(-64 // len(arr))  # ceil
    return np.tile(arr, reps)[:64].reshape(8, 8)


def extract_image_features(media: DataFrame,
                           id_col: str = "media_id",
                           data_col: str = "data") -> DataFrame:
    """Decode + feature-extract images via ``mapInPandas``.

    Output: (media_id, ok, width, height, mean_luma, phash, error) — one
    fixed-width row per input, errors captured per-row (a bad file never
    fails the job; mirrors the reference's per-photo error propagation,
    ``PhotosForCardCrawler.fs:57-62``).
    """
    pruned = media.select(F.col(id_col).alias("media_id"), F.col(data_col).alias("data"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in
                   ("media_id", "ok", "width", "height", "mean_luma", "phash", "error")}
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                out["media_id"].append(mid)
                try:
                    img = _fake_decode_image(bytes(data) if data is not None else b"")
                    h, w = img.shape
                    luma = float(img.mean())
                    # dct-free perceptual hash: sign of each cell vs mean
                    bits = (img.astype(np.float64) >= luma).ravel()
                    ph = 0
                    for i, b in enumerate(bits):
                        if b:
                            ph |= 1 << i
                    # keep within signed int64
                    ph &= (1 << 63) - 1
                    out["ok"].append(True)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["mean_luma"].append(round(luma, 6))
                    out["phash"].append(ph)
                    out["error"].append(None)
                except (ValueError, NotImplementedError) as e:
                    out["ok"].append(False)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["mean_luma"].append(None)
                    out["phash"].append(None)
                    out["error"].append(str(e))
            yield pd.DataFrame(out)

    return pruned.mapInPandas(kernel, IMAGE_FEATURE_SCHEMA)


def resize_images(media: DataFrame, target: tuple[int, int] = (4, 4),
                  id_col: str = "media_id", data_col: str = "data") -> DataFrame:
    """Resize kernel plumbing: returns (media_id, resized binary).

    The fake decoder's 8x8 tile is mean-pooled to ``target``; a real
    deployment swaps in ``Image.resize``.  Bytes in → bytes out keeps the
    operator composable with the write path (partition by size class).
    """
    th, tw = target
    pruned = media.select(F.col(id_col).alias("media_id"), F.col(data_col).alias("data"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                try:
                    img = _fake_decode_image(bytes(data) if data is not None else b"")
                    pooled = img.reshape(th, 8 // th, tw, 8 // tw).mean(axis=(1, 3))
                    blobs.append(pooled.astype(np.uint8).tobytes())
                except ValueError:
                    blobs.append(None)
                ids.append(mid)
            yield pd.DataFrame({"media_id": ids, "resized": blobs})

    return pruned.mapInPandas(kernel, "media_id string, resized binary")


def sample_frames(media: DataFrame, every_nth: int = 2, max_frames: int = 4,
                  id_col: str = "media_id", data_col: str = "data") -> DataFrame:
    """Video frame-sampling plumbing: fan OUT rows (one per sampled frame).

    The fake "video" treats each 64-byte window of the payload as a frame.
    Demonstrates the mapInPandas shape where output rows != input rows.
    """
    pruned = media.select(F.col(id_col).alias("media_id"), F.col(data_col).alias("data"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, idxs, hashes = [], [], []
            for mid, data in zip(pdf["media_id"], pdf["data"]):
                raw = bytes(data) if data is not None else b""
                n_frames = max(len(raw) // 64, 1 if raw else 0)
                for fi in range(0, min(n_frames, max_frames * every_nth), every_nth):
                    window = raw[fi * 64:(fi + 1) * 64]
                    img = _fake_decode_image(window or raw)
                    mids.append(mid)
                    idxs.append(fi)
                    hashes.append(int(img.sum()))
            yield pd.DataFrame(
                {"media_id": mids, "frame_idx": idxs, "frame_phash": hashes}
            )

    return pruned.mapInPandas(kernel, FRAME_SAMPLE_SCHEMA)


def synthesize_media(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Derive a deterministic media table from the documents table (for
    tests/bench — no external data): payload = utf-8 bytes of the text,
    kind/mime fixed, meta from the payload length."""
    data = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.concat(F.lit("m"), F.col(id_col).cast("string")).alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("image/x-fake").alias("mime"),
        data.alias("data"),
        F.struct(
            F.lit(8).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            (F.length(data) * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
