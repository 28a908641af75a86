"""Image column plumbing: frames as opaque binary columns with typed
metadata, processed via Arrow-batched mapInPandas.

Frames decode through kernels.decode_image (SYNF/PNG/JPEG/BMP/TIFF/GIF/PNM,
pure numpy). The column functions here are the image-side curation passes:
metadata + features (media_metadata), resize (resize_frames), the EXIF
census and GPS scrub (exif_meta, scrub_gps) and perceptual-hash near-dup
(phash_frames, phash_near_dup_pairs). Each is one Arrow crossing, no
shuffle.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import kernels as K

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

_N_FEATURES = 16


def decode_frame(data: bytes) -> np.ndarray:
    """Decode a binary media payload to a grayscale uint8 frame via the
    polymorphic reader (kernels.decode_image)."""
    return K.decode_image(data)


def frame_features(img: np.ndarray, n: int = _N_FEATURES) -> np.ndarray:
    """Deterministic toy feature vector: n horizontal-band mean intensities
    (stands in for a CNN embedding; same signature, same batch shape)."""
    h = img.shape[0]
    bands = np.array_split(np.arange(h), n)
    return np.array([float(img[b].mean()) if len(b) else 0.0 for b in bands], np.float32)


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        out = {c.name: [] for c in MEDIA_META_SCHEMA.fields}
        for ref, blob in zip(pdf["media_ref"], pdf["image"]):
            data = bytes(blob)
            try:
                img = decode_frame(data)
                fmt = "synf" if data[:4] == K.SYNF_MAGIC else "png"
                w, h = img.shape[1], img.shape[0]
                feats = frame_features(img).tolist()
            except (NotImplementedError, ValueError):
                fmt, w, h, feats = "unsupported", -1, -1, [0.0] * _N_FEATURES
            out["media_ref"].append(ref)
            out["format"].append(fmt)
            out["width"].append(w)
            out["height"].append(h)
            out["n_bytes"].append(len(data))
            out["features"].append(feats)
        yield pd.DataFrame(out)


def media_metadata(media: DataFrame) -> DataFrame:
    """media(media_ref, image binary, …) → typed metadata + features.

    One Arrow crossing, whole table scan-shaped: at 10^12 scale this runs as
    a narrow map stage with no shuffle.
    """
    return media.select("media_ref", "image").mapInPandas(
        _meta_batches, MEDIA_META_SCHEMA
    )


def resize_frames(media: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Decode → bilinear resize → re-encode (SYNF); the standard image
    normalization stage of a multimodal training pipeline."""
    schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("image", media.schema["image"].dataType),
        ]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, imgs = [], []
            for ref, blob in zip(pdf["media_ref"], pdf["image"]):
                img = decode_frame(bytes(blob))
                imgs.append(K.encode_synf(K.resize_bilinear(img, out_h, out_w)))
                refs.append(ref)
            yield pd.DataFrame({"media_ref": refs, "image": imgs})

    return media.select("media_ref", "image").mapInPandas(fn, schema)



EXIF_META_SCHEMA = (
    "media_ref string, has_exif boolean, has_gps boolean, "
    "has_text_meta boolean, orientation int, gps_lat double, "
    "gps_lon double, datetime string"
)


def exif_meta(media: DataFrame) -> DataFrame:
    """Per-image EXIF audit over media(media_ref, image) — one Arrow
    crossing, no shuffle: the geo-tag census a corpus runs BEFORE the
    privacy scrub (exif.py parse_exif; non-JPEG/torn rows report
    has_exif=false rather than failing the batch)."""
    from ..exif import parse_exif

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for ref, img in zip(pdf["media_ref"], pdf["image"]):
                try:
                    m = parse_exif(bytes(img))
                except Exception:
                    m = {"has_exif": False, "has_gps": False}
                rows.append(
                    (
                        ref,
                        bool(m.get("has_exif")),
                        bool(m.get("has_gps")),
                        bool(m.get("has_text_meta")),
                        m.get("orientation"),
                        m.get("gps_lat"),
                        m.get("gps_lon"),
                        m.get("datetime"),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_ref", "has_exif", "has_gps", "has_text_meta",
                    "orientation", "gps_lat", "gps_lon", "datetime",
                ],
            )

    return media.mapInPandas(fn, EXIF_META_SCHEMA)


def scrub_gps(media: DataFrame) -> DataFrame:
    """The image-privacy pass: rewrite every JPEG/PNG/GIF/TIFF's metadata
    to the safe-tag whitelist (GPS/MakerNotes/serials gone by
    construction, pixels untouched — exif.py scrub_exif); bytes of any
    other container pass through unchanged. Fails closed: a frame of a
    known container that cannot be scrubbed (a geo-tagged TIFF, a torn
    header) raises ValueError naming its media_ref instead of emitting
    the original bytes. Same (media_ref, image) schema out, so the scrub
    composes anywhere in a media pipeline."""
    from ..exif import SCRUB_MAGICS, scrub_exif

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for ref, img in zip(pdf["media_ref"], pdf["image"]):
                b = bytes(img)
                if b.startswith(SCRUB_MAGICS):
                    try:
                        b = scrub_exif(b)
                    except Exception as e:
                        raise ValueError(
                            f"media_ref {ref!r}: metadata scrub failed "
                            f"({type(e).__name__}: {e})"
                        ) from e
                out.append(bytearray(b))
            pdf = pdf.copy()
            pdf["image"] = out
            yield pdf

    return media.mapInPandas(fn, media.schema)


# --------------------------------------------------------------------------
# Perceptual image hashing — frame-level near-dup for multimodal corpora
# --------------------------------------------------------------------------

_PHASH_N = 32  # DCT input side
_DCT32 = None  # lazy 32x32 DCT-II basis


def _dct32() -> np.ndarray:
    global _DCT32
    if _DCT32 is None:
        n = _PHASH_N
        k = np.arange(n)[:, None]
        x = np.arange(n)[None, :]
        m = np.cos(np.pi * (2 * x + 1) * k / (2 * n))
        m[0] *= 1 / np.sqrt(2)
        _DCT32 = m * np.sqrt(2 / n)
    return _DCT32


def phash64(img: np.ndarray) -> int:
    """64-bit perceptual hash (classic pHash): resize to 32x32 → 2D DCT-II
    → top-left 8x8 low-frequency block → threshold against the median of
    the 63 AC coefficients (bit 0, the DC slot, is fixed 0). Hamming
    distance between hashes tracks visual similarity — robust to resize,
    mild noise, and re-encoding, which content (exact) hashes are not.
    Pure float64 numpy: deterministic across partitions/platforms."""
    small = K.resize_bilinear(img, _PHASH_N, _PHASH_N).astype(np.float64)
    d = _dct32()
    coef = d @ small @ d.T
    block = coef[:8, :8].reshape(-1)
    med = float(np.median(block[1:]))
    h = 0
    for i in range(1, 64):
        if block[i] > med:
            h |= 1 << i
    return h - (1 << 64) if h >= 1 << 63 else h  # signed 64-bit for Spark


PHASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("phash", LongType()),
    ]
)


def phash_frames(media: DataFrame) -> DataFrame:
    """media(media_ref, image) → (media_ref, phash) — one Arrow crossing,
    decode via the polymorphic reader; undecodable frames are dropped
    (they cannot be near anything)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            refs, hashes = [], []
            for ref, blob in zip(pdf["media_ref"], pdf["image"]):
                try:
                    img = K.decode_image(bytes(blob))
                except (ValueError, NotImplementedError):
                    continue
                refs.append(ref)
                hashes.append(phash64(img))
            yield pd.DataFrame({"media_ref": refs, "phash": hashes})

    return media.select("media_ref", "image").mapInPandas(fn, PHASH_SCHEMA)


def phash_near_dup_pairs(
    media: DataFrame, max_hamming: int = 6, max_bucket: int | None = 4096
) -> DataFrame:
    """Frame-level near-duplicate pairs: pHash + the SAME banded-pigeonhole
    candidate machinery as SimHash text dedup (functions/dedup.py:
    simhash_candidates — 64-bit hashes, (max_hamming+1) bands, oversized
    buckets re-split, exact popcount verify). The image analog of
    text near-dedup for a multimodal training corpus: resized / lightly
    noised / re-encoded copies of a frame land within max_hamming bits.

    Returns (ref_a, ref_b, hamming)."""
    from pyspark.sql import functions as F

    from .dedup import simhash_candidates

    hashes = phash_frames(media).select(
        F.col("media_ref").alias("doc_id"), F.col("phash").alias("simhash")
    )
    cand = simhash_candidates(
        hashes, bits=64, max_hamming=max_hamming, max_bucket=max_bucket
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sim_a ^ sim_b)"))
        .where(F.col("hamming") <= max_hamming)
        .select(
            F.col("doc_a").alias("ref_a"),
            F.col("doc_b").alias("ref_b"),
            "hamming",
        )
    )

