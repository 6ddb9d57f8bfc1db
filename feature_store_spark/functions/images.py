"""Image codec, perceptual hash, and the vectorized Spark UDFs over them.

The container has no Pillow/libjpeg, so the *codec* is a deterministic
pure-numpy stand-in (clearly marked below): ``FSPNG`` is a lossless
zlib-compressed raw-RGB format and ``FSJPG`` is a lossy uniform-quantization
format whose reconstruction error is bounded (quantization step q=4 →
PSNR ≈ 46.9 dB > 40 dB gate).  Everything around the codec — binary columns,
Arrow batch transfer, schema, partitioning — is real and is exactly what a
Pillow-backed codec would plug into: swap ``decode_image`` and the pipeline
is production-shaped.

Reference parity: the reference's only scalar UDF is row-wise ``unidecode``
(``featurestore/preprocess/item_feature_preprocessing.py:182-185``); per
BASELINE.json input_hint our engine bans per-row Python, so every function
here is a pandas UDF over Arrow batches (Series → Series / DataFrame).
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column

# --------------------------------------------------------------------------
# Deterministic stand-in codec (STUB for Pillow — see module docstring).
# --------------------------------------------------------------------------

_MAGIC_PNG = b"FSPN"
_MAGIC_JPG = b"FSJP"
_JPEG_Q = 4  # uniform quantization step; PSNR = 10*log10(255^2/(q^2/12)) ≈ 46.9 dB


def encode_image(pixels: np.ndarray, fmt: str) -> bytes:
    """Encode an HxWx3 uint8 array. fmt ∈ {"png" (lossless), "jpeg" (lossy)}."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected HxWx3 uint8 pixels")
    h, w = pixels.shape[:2]
    header = np.array([w, h], dtype="<u2").tobytes()
    if fmt == "png":
        return _MAGIC_PNG + header + zlib.compress(pixels.tobytes(), 6)
    if fmt == "jpeg":
        quant = (pixels // _JPEG_Q).astype(np.uint8)
        return _MAGIC_JPG + header + zlib.compress(quant.tobytes(), 6)
    raise NotImplementedError(f"unknown format {fmt!r}")


def decode_image(data: bytes) -> np.ndarray:
    """Decode bytes produced by :func:`encode_image` back to HxWx3 uint8."""
    magic, header, payload = data[:4], data[4:8], data[8:]
    w, h = np.frombuffer(header, dtype="<u2")
    raw = np.frombuffer(zlib.decompress(payload), dtype=np.uint8)
    arr = raw.reshape(int(h), int(w), 3)
    if magic == _MAGIC_PNG:
        return arr
    if magic == _MAGIC_JPG:
        # mid-rise reconstruction: bin center
        return (arr.astype(np.int32) * _JPEG_Q + _JPEG_Q // 2).clip(0, 255).astype(np.uint8)
    raise NotImplementedError(f"unknown magic {magic!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


# --------------------------------------------------------------------------
# Perceptual hash (classic 64-bit DCT pHash, deterministic numpy impl).
# --------------------------------------------------------------------------

_PHASH_RESIZE = 32
_PHASH_KEEP = 8
_DCT_MAT = None


def _dct_matrix(n: int) -> np.ndarray:
    global _DCT_MAT
    if _DCT_MAT is None:
        k = np.arange(n)[:, None]
        m = np.arange(n)[None, :]
        c = np.sqrt(2.0 / n) * np.cos(np.pi * (m + 0.5) * k / n)
        c[0, :] /= np.sqrt(2.0)
        _DCT_MAT = c
    return _DCT_MAT


_PHASH_POWS = None


def _phash_pows() -> np.ndarray:
    global _PHASH_POWS
    if _PHASH_POWS is None:
        _PHASH_POWS = (
            np.uint64(1) << np.arange(_PHASH_KEEP * _PHASH_KEEP - 1,
                                      dtype=np.uint64)
        )
    return _PHASH_POWS


def phash64(pixels: np.ndarray) -> int:
    """64-bit DCT perceptual hash of an HxWx3 uint8 image (signed int64).

    Luma → nearest-neighbor 32x32 resize → 2D DCT-II → top-left 8x8 minus DC
    → bit i set iff coeff > median.  Deterministic; shared by the engine's
    pandas UDF and the pandas oracle.

    Hot-path notes (bit-exact rewrites of the obvious formulation,
    verified value-identical): luma is computed AFTER the subsample
    (elementwise op commutes with row/col selection), the 63-element
    median is the middle order statistic via ``np.partition`` (odd count —
    identical to ``np.median``), and the bit pack is one uint64 dot
    (all powers distinct, no overflow below 2^63).
    """
    h, w = pixels.shape[:2]
    ri = (np.arange(_PHASH_RESIZE) * h // _PHASH_RESIZE).clip(0, h - 1)
    ci = (np.arange(_PHASH_RESIZE) * w // _PHASH_RESIZE).clip(0, w - 1)
    ps = pixels[np.ix_(ri, ci)]
    small = 0.299 * ps[:, :, 0] + 0.587 * ps[:, :, 1] + 0.114 * ps[:, :, 2]
    c = _dct_matrix(_PHASH_RESIZE)
    dct = c @ small @ c.T
    block = dct[:_PHASH_KEEP, :_PHASH_KEEP].flatten()[1:]  # drop DC term
    med = np.partition(block, block.size // 2)[block.size // 2]
    bits = (block > med).astype(np.uint64)
    return int(np.dot(bits, _phash_pows()))


_SUBSAMPLE_CACHE: dict = {}


def _subsample_idx(h: int, w: int) -> tuple[np.ndarray, np.ndarray]:
    """Cached 32x32 nearest-neighbor index maps for (h, w) — the same
    formula :func:`phash64` computes per call; images repeat a small set
    of dimensions, so the arange/clip work is paid once per (h, w)."""
    key = (h, w)
    r = _SUBSAMPLE_CACHE.get(key)
    if r is None:
        ri = (np.arange(_PHASH_RESIZE) * h // _PHASH_RESIZE).clip(0, h - 1)
        ci = (np.arange(_PHASH_RESIZE) * w // _PHASH_RESIZE).clip(0, w - 1)
        r = _SUBSAMPLE_CACHE[key] = (ri, ci)
    return r


def phash64_batch(stack: np.ndarray) -> np.ndarray:
    """Vectorized :func:`phash64` over a pre-subsampled (n, 32, 32, 3)
    uint8 stack — BIT-IDENTICAL to the per-image function (verified over
    20k random images and invariant to batch size): the luma/DCT/median/
    pack steps are the same float64 element-wise ops, per-slice dgemms,
    per-row partitions and exact integer dot, merely dispatched once per
    Arrow batch instead of ~12 numpy calls per row.  On the 8-32 px
    synthetic corpus the per-row numpy dispatch overhead WAS the decode
    stage (round-6 profile: ~600 µs/row), so batching it is the §4.2
    "hand whole batches to vectorized native code" move."""
    n = len(stack)
    small = (
        0.299 * stack[:, :, :, 0]
        + 0.587 * stack[:, :, :, 1]
        + 0.114 * stack[:, :, :, 2]
    )
    c = _dct_matrix(_PHASH_RESIZE)
    dct = np.matmul(np.matmul(c, small), c.T)
    block = dct[:, :_PHASH_KEEP, :_PHASH_KEEP].reshape(
        n, _PHASH_KEEP * _PHASH_KEEP
    )[:, 1:]
    mid = block.shape[1] // 2
    med = np.partition(block, mid, axis=1)[:, mid]
    bits = (block > med[:, None]).astype(np.uint64)
    return bits @ _phash_pows()


def decode_stats(pixels: np.ndarray) -> tuple[float, ...]:
    """Per-channel mean and std of decoded pixels — the numeric feature
    vector carried through as-of joins (bytes are projected away first)."""
    f = pixels.astype(np.float64)
    means = f.mean(axis=(0, 1))
    stds = f.std(axis=(0, 1))
    return (*means.tolist(), *stds.tolist())


# --------------------------------------------------------------------------
# Spark-side vectorized UDFs (Arrow batches, no per-row Python dispatch
# beyond the inner loop over the batch — numpy does the pixel math).
# --------------------------------------------------------------------------

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("phash", T.LongType()),
        T.StructField("dec_w", T.IntegerType()),
        T.StructField("dec_h", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("std_r", T.DoubleType()),
        T.StructField("std_g", T.DoubleType()),
        T.StructField("std_b", T.DoubleType()),
    ]
)


def _features_batch(data: pd.Series, tolerant: bool) -> pd.DataFrame:
    # Per-row work is ONLY what cannot batch (zlib decode, per-image
    # stats over variable dims); the pHash pipeline is collected into one
    # (n, 32, 32, 3) stack and hashed by :func:`phash64_batch` — same
    # bits, one numpy dispatch per batch instead of ~12 per row.
    n = len(data)
    out = {name: [None] * n for name in IMAGE_FEATURES_SCHEMA.fieldNames()}
    stack = np.empty((n, _PHASH_RESIZE, _PHASH_RESIZE, 3), dtype=np.uint8)
    valid: list[int] = []
    for i, buf in enumerate(data):
        px = None
        if buf is not None:
            if tolerant:
                try:
                    px = decode_image(bytes(buf))
                except Exception:
                    px = None  # corrupt payload → null features, keep the row
            else:
                px = decode_image(bytes(buf))
        if px is None:
            continue
        h, w = px.shape[:2]
        ri, ci = _subsample_idx(h, w)
        stack[len(valid)] = px[np.ix_(ri, ci)]
        valid.append(i)
        stats = decode_stats(px)
        out["dec_h"][i] = h
        out["dec_w"][i] = w
        for name, val in zip(
            ("mean_r", "mean_g", "mean_b", "std_r", "std_g", "std_b"), stats
        ):
            out[name][i] = val
    if valid:
        hashes = phash64_batch(stack[: len(valid)])
        ph = out["phash"]
        for j, i in enumerate(valid):
            ph[i] = int(hashes[j])
    return pd.DataFrame(out)


@F.pandas_udf(IMAGE_FEATURES_SCHEMA)
def image_features_udf(data: pd.Series) -> pd.DataFrame:
    """bytes → (phash, w, h, per-channel mean/std). One Arrow batch per call.
    Strict: corrupt payloads abort the job (loud by default)."""
    return _features_batch(data, tolerant=False)


@F.pandas_udf(IMAGE_FEATURES_SCHEMA)
def image_features_tolerant_udf(data: pd.Series) -> pd.DataFrame:
    """Like :func:`image_features_udf` but corrupt payloads yield null
    features instead of failing the task — the right default for web-scale
    corpora where a few broken blobs must not kill a 10^12-row job; count
    the nulls downstream for data-quality lineage."""
    return _features_batch(data, tolerant=True)


def resize_nn(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize of an HxWx3 uint8 array (same kernel the
    pHash pipeline uses — deterministic, no interpolation libs needed)."""
    h, w = pixels.shape[:2]
    ri = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    ci = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return pixels[np.ix_(ri, ci)]


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ]
)


def resize_udf(out_w: int, out_h: int, fmt: str = "png"):
    """Factory: Arrow-batched UDF decoding each payload, nearest-neighbor
    resizing to (out_w, out_h), and re-encoding as ``fmt``."""

    @F.pandas_udf(RESIZED_SCHEMA)
    def _resize(data: pd.Series) -> pd.DataFrame:
        out = {"bytes": [], "w": [], "h": []}
        for buf in data:
            if buf is None:
                out["bytes"].append(None)
                out["w"].append(None)
                out["h"].append(None)
                continue
            small = resize_nn(decode_image(bytes(buf)), out_w, out_h)
            out["bytes"].append(encode_image(small, fmt))
            out["w"].append(out_w)
            out["h"].append(out_h)
        return pd.DataFrame(out)

    return _resize


def with_resized_images(df, out_w: int, out_h: int, fmt: str = "png",
                        bytes_col: str = "bytes"):
    """Replace the image payload with a (out_w x out_h) thumbnail —
    decode → resize → re-encode in one Arrow-batched map stage (the
    training-data "resize" transform).  Output bytes REPLACE the input
    column in place, so the no-bytes-through-shuffles contract is the
    caller's as before: resize in the scan stage, write or feature-extract
    before any wide operator."""
    u = resize_udf(out_w, out_h, fmt)
    keep = [c for c in df.columns if c not in (bytes_col, "w", "h")]
    return df.withColumn("__r", u(F.col(bytes_col))).select(
        *keep,
        F.col("__r.bytes").alias(bytes_col),
        F.col("__r.w").alias("w"),
        F.col("__r.h").alias("h"),
    )


def with_image_features(df, bytes_col: str = "bytes", out_col: str = "img",
                        on_error: str = "fail"):
    """Attach the decoded feature struct and DROP the binary payload.

    ``on_error``: "fail" (default — corrupt bytes abort loudly) or "null"
    (corrupt bytes yield null features; rows are preserved so the
    row-preservation lineage invariant still holds).

    Decoded fields REPLACE same-named input columns (e.g. the stored
    ``phash`` is re-derived from bytes).  Projecting bytes away before any
    shuffle is the single most important scale decision for a 10^12-image
    table: joins and windows downstream move ~72 bytes of numeric features
    per row, not megabyte blobs.
    """
    if on_error not in ("fail", "null"):
        raise ValueError(f"on_error must be 'fail' or 'null', got {on_error!r}")
    udf = image_features_udf if on_error == "fail" else image_features_tolerant_udf
    struct_fields = set(IMAGE_FEATURES_SCHEMA.fieldNames())
    keep = [c for c in df.columns if c != bytes_col and c not in struct_fields]
    return (
        df.withColumn(out_col, udf(F.col(bytes_col)))
        .select(*keep, f"{out_col}.*")
    )
