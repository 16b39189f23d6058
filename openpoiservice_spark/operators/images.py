"""Image feature extraction over the binary payload column.

The multimodal-pipeline operator set (build brief): decode -> per-image
features (intensity moments, per-channel means, an 8-bin luminance
histogram).  Decode rides the in-repo codecs (imaging.py — PNG real, JPEG
stand-in documented there); swapping in PIL/turbojpeg on a real cluster
changes only imaging.decode_image.

Arrow batch in, one feature row per image out; `bytes` crosses the Python
boundary exactly once.  At 10^12 rows this stage is embarrassingly parallel
and decode-bound — it is the compute body of the scaling-efficiency
evidence job in bench.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .. import imaging

_FEAT_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("std_lum", T.DoubleType()),
        T.StructField("hist", T.ArrayType(T.LongType())),
    ]
)


def _decode_or_none(raw, fmt, on_error: str):
    """Decode one payload; on_error='skip' turns decode errors into None
    (row dropped by the caller), 'fail' re-raises — a 100 TB ingest cannot
    afford one corrupt file killing the stage, but silent skipping must be
    an explicit choice (pair with scan_bad_payloads for the quarantine)."""
    try:
        return imaging.decode_image(raw, fmt)
    except (ValueError, NotImplementedError):
        if on_error == "skip":
            return None
        raise


def image_features(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """df needs (image_id, bytes, fmt); returns one feature row per image.
    on_error='skip' drops undecodable rows instead of failing the stage."""
    src = df.select("image_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {"image_id": [], "mean_r": [], "mean_g": [], "mean_b": [],
                   "std_lum": [], "hist": []}
            for i in range(len(b)):
                px = _decode_or_none(raws[i], fmts[i], on_error)
                if px is None:
                    continue
                px = px.astype(np.float64)
                ch = px.mean(axis=(0, 1))
                lum = px.mean(axis=2)
                out["image_id"].append(ids[i])
                out["mean_r"].append(float(ch[0]))
                out["mean_g"].append(float(ch[1]))
                out["mean_b"].append(float(ch[2]))
                out["std_lum"].append(float(lum.std()))
                hist, _ = np.histogram(lum, bins=8, range=(0.0, 256.0))
                out["hist"].append(hist.astype(np.int64))
            if out["image_id"]:  # empty frames break Arrow's list<long> cast
                yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_FEAT_SCHEMA)


_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
    ]
)


def resize_images(df: DataFrame, size: int = 16, on_error: str = "fail") -> DataFrame:
    """Decode -> nearest-neighbour resize to (size x size) -> re-encode PNG.

    Real implementation (numpy index-grid sampling); swap the interpolation
    for PIL/cv2 on a cluster that has them — schema/batching unchanged."""
    src = df.select("image_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {"image_id": [], "bytes": [], "w": [], "h": [], "fmt": []}
            for i in range(len(b)):
                px = _decode_or_none(raws[i], fmts[i], on_error)
                if px is None:
                    continue
                ys = (np.arange(size) * px.shape[0] // size)
                xs = (np.arange(size) * px.shape[1] // size)
                small = px[ys][:, xs]
                out["image_id"].append(ids[i])
                out["bytes"].append(imaging.encode_png(small))
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append("png")
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_RESIZE_SCHEMA)


_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def sample_frames(df: DataFrame, n_frames: int = 4, on_error: str = "fail") -> DataFrame:
    """Frame sampling over video payloads — REAL for AVI containers.

    fmt='avi' decodes through the in-repo RIFF parser (video.py: MJPEG via
    the spec-compliant JPEG decoder, plus uncompressed BI_RGB DIB):
    `n_frames` evenly-spaced frames per clip, and only those frames are
    entropy-decoded (chunk-level random access from the container index).
    fmt in (mp4, webm, mkv) still raises ``NotImplementedError`` — those
    codecs (H.264/VP9) genuinely need an external library; plug pyav/ffmpeg
    there on a real cluster.  Image rows are 1-frame videos.  Corrupt
    containers follow the standard on_error contract ('skip' drops the row,
    pair with scan_bad_payloads for the quarantine).
    """
    from .. import video as _video

    src = df.select("image_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {"image_id": [], "frame_idx": [], "frame_bytes": []}
            for i in range(len(b)):
                if fmts[i] in ("mp4", "webm", "mkv"):
                    raise NotImplementedError(
                        "sample_frames: no H.264/VP9 codec in this container "
                        f"(fmt={fmts[i]!r}); plug pyav/ffmpeg decode here"
                    )
                if fmts[i] == "avi":
                    try:
                        raw = bytes(raws[i])
                        info = _video.probe_avi(raw)
                        picks = _video.sample_indices(len(info["frames"]), n_frames)
                        decoded = [(int(f), _video.decode_frame(raw, info, int(f)))
                                   for f in picks]
                    except (ValueError, NotImplementedError):
                        # NotImplementedError here = a frame whose mutated
                        # markers select an unsupported JPEG mode — a decode
                        # failure, same contract as _decode_or_none
                        if on_error == "skip":
                            continue
                        raise
                    for f, px in decoded:
                        out["image_id"].append(ids[i])
                        out["frame_idx"].append(f)
                        out["frame_bytes"].append(imaging.encode_png(px))
                    continue
                px = _decode_or_none(raws[i], fmts[i], on_error)
                if px is None:
                    continue
                out["image_id"].append(ids[i])
                out["frame_idx"].append(0)
                out["frame_bytes"].append(imaging.encode_png(px))
            if out["image_id"]:
                yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_FRAME_SCHEMA)


_PHASH_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("dct_phash", T.LongType()),
    ]
)


def dct_phash(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """64-bit DCT perceptual hash per image (classic pHash shape): decode ->
    grayscale -> resize to 32x32 -> 2D DCT -> keep the 8x8 low-frequency
    corner -> bit b set iff coefficient > the median of the 64.

    mapInPandas, bytes cross Arrow once; the int64 output column is the
    input of `phash_near_dup_pairs` (banded hamming join), which is where
    the 10^12-row dedup actually scales — this stage is embarrassingly
    parallel decode."""
    # 32-point orthonormal DCT-II basis (same construction as jpeg._C)
    n = 32
    basis = np.zeros((n, n))
    for k in range(n):
        a = np.sqrt(1.0 / n) if k == 0 else np.sqrt(2.0 / n)
        basis[k] = a * np.cos(np.pi * (2 * np.arange(n) + 1) * k / (2 * n))

    src = df.select("image_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {"image_id": [], "dct_phash": []}
            for i in range(len(b)):
                px = _decode_or_none(raws[i], fmts[i], on_error)
                if px is None:
                    continue
                out["image_id"].append(ids[i])
                lum = px.astype(np.float64).mean(axis=2)
                ys = (np.arange(n) * lum.shape[0] // n)
                xs = (np.arange(n) * lum.shape[1] // n)
                small = lum[ys][:, xs]
                coef = basis @ small @ basis.T
                low = coef[:8, :8].ravel()
                med = np.median(low)
                # MSB-first bit pack (packbits packs bit 0 of the array into
                # the byte's MSB — identical to the former shift-or loop);
                # two's-complement reinterpretation via Python int: NumPy 2.x
                # raises OverflowError on np.int64(uint64-with-bit-63-set)
                hv = int.from_bytes(np.packbits(low > med).tobytes(), "big")
                out["dct_phash"].append(hv - (1 << 64) if hv >= (1 << 63) else hv)
            if out["image_id"]:
                yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_PHASH_SCHEMA)


def hamming_pairs(df: DataFrame, col: str = "phash", key: str = "image_id",
                  max_dist: int = 3, bands: int | None = None,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs over a 64-bit fingerprint column: banded hamming
    LSH + exact popcount verification.

    Pigeonhole guarantee: with `bands` equal bit-slices, any pair within
    hamming distance < bands shares at least one identical band, so the
    banded bucket pairing finds EVERY pair with distance <= bands-1 (default
    4 bands -> exhaustive for max_dist <= 3); the exact bit_count(xor)
    filter then removes false candidates.  Same shape as the MinHash/LSH
    text pipeline: shuffle keys are (band, band_bits), no all-pairs stage,
    `max_bucket` caps degenerate fingerprint clusters (e.g. monochrome
    thumbnails all hashing to one value).
    """
    from pyspark.sql import functions as F

    from .pairs import bucket_pairs

    if bands is None:
        # smallest divisor of 64 exceeding max_dist keeps the pigeonhole
        # guarantee with the widest (most selective) band slices
        bands = next(b for b in (2, 4, 8, 16, 32, 64) if b > max_dist)
    if not 64 % bands == 0:
        raise ValueError("bands must divide 64")
    if max_dist >= bands:
        raise ValueError("banded search is exhaustive only for max_dist < bands")
    width = 64 // bands
    mask = (1 << width) - 1
    b = df.select(F.col(key).alias("k"), F.col(col).alias("fp"))
    slices = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned(F.col("fp"), i * width).bitwiseAND(F.lit(mask)).alias("bh"),
        )
        for i in range(bands)
    ])
    e = b.select("k", "fp", F.explode(slices).alias("bb")) \
         .select("k", "fp", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
    p = bucket_pairs(e, ["band", "bh"], F.struct("k", "fp"), max_bucket)
    cand = (
        # strict <: the key column may repeat (the prepared table holds
        # several rows per image_id), and equal keys are not a pair
        p.filter(F.col("a.k") < F.col("b.k"))
        .select(F.col("a.k").alias("key_a"), F.col("b.k").alias("key_b"),
                F.col("a.fp").alias("fp_a"), F.col("b.fp").alias("fp_b"))
        .distinct()
    )
    dist = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_dist)
        .select("key_a", "key_b", "hamming")
    )


def curate_images(df: DataFrame, min_std_lum: float = 4.0,
                  max_dist: int = 3,
                  max_bucket: int | None = None) -> DataFrame:
    """Image-side curation pipeline — the multimodal twin of
    operators/text.curate: keep images that are (a) not the dropped side of
    a perceptual-hash near-dup pair (the larger image_id of each pair drops,
    deterministic), and (b) not degenerate content (luminance std below
    `min_std_lum` ~ blank/monochrome thumbnails).

    One decode pass feeds BOTH gates: `dct_phash` and the feature extract
    run over the same rows; the dedup stage is the banded hamming join —
    every stage a column join/filter, no collect.  Returns
    (image_id, dct_phash, std_lum) for survivors."""
    from pyspark.sql import functions as F

    hashed = dct_phash(df)
    losers = (
        hamming_pairs(hashed, col="dct_phash", key="image_id",
                      max_dist=max_dist, max_bucket=max_bucket)
        .select(F.col("key_b").alias("image_id")).distinct()
    )
    feats = image_features(df).select("image_id", "std_lum")
    return (
        hashed.join(losers, "image_id", "left_anti")
        .join(feats, "image_id")
        .filter(F.col("std_lum") >= min_std_lum)
        .select("image_id", "dct_phash", "std_lum")
    )


_BAD_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


def scan_bad_payloads(df: DataFrame) -> DataFrame:
    """Quarantine scan: one row per UNDECODABLE payload with the error
    message — the observability companion of on_error='skip' (route these
    to a quarantine table; the skip path stays silent by design).  Healthy
    rows emit nothing, so the output is tiny at any scale."""
    src = df.select("image_id", "bytes", "fmt")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ids = b["image_id"].to_numpy()
            raws = b["bytes"].to_numpy()
            fmts = b["fmt"].to_numpy()
            out = {"image_id": [], "fmt": [], "error": []}
            for i in range(len(b)):
                try:
                    imaging.decode_image(raws[i], fmts[i])
                except (ValueError, NotImplementedError) as e:
                    out["image_id"].append(ids[i])
                    out["fmt"].append(fmts[i])
                    out["error"].append(f"{type(e).__name__}: {e}"[:200])
            yield pd.DataFrame(out)

    return src.mapInPandas(run, schema=_BAD_SCHEMA)
