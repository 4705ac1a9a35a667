"""Multimodal column operators: images as opaque binary + typed metadata.

The Spark-side plumbing (schemas, Arrow batch shapes, partitioning) is real
and tested.  The engine's own payload formats (npy-u16[-z], png-u16,
jq75) and the built-in containers (tiff/geotiff through core.tiff, jpeg
through core.jpeg) all decode through :func:`kernels.decode_payload`;
container formats whose libraries are not in this image (webp/mp4/...)
raise ``NotImplementedError`` until a decoder is plugged in through
:func:`register_decoder` (closure-snapshotted per operator so
registrations reach remote executors; seam proven by the toy-codec e2e
test).

Operators:
- :func:`decode_stats`   decode + per-band statistics (mapInPandas)
- :func:`thumbnails`     decode -> bilinear resize -> re-encode
- :func:`verify_phash`   recompute the content hash, compare to the column
- :func:`frame_sample`   sample every k-th video frame — real decoded
  pixels when a codec is registered for the fmt, labeled byte-slice
  fallback otherwise
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import kernels

# decoded by kernels.decode_payload (container dispatch on magic bytes)
SUPPORTED_FMTS = {"npy-u16", "npy-u16-z", "jq75", "png-u16", "tiff", "geotiff", "jpeg"}

# Pluggable decoder seam for foreign container formats (webp/mp4/...):
# fmt -> callable(bytes) -> ndarray.  A real deployment adds them, e.g.
#   register_decoder("webp", lambda b: np.asarray(PIL.Image.open(BytesIO(b))))
# Registrations are snapshotted INTO each operator's closure at plan-build
# time (see _decoder_snapshot), so they serialize with the mapInPandas
# function and work on remote executors — a module-global lookup at decode
# time would only work in local mode.
_DECODERS: dict = {}


def register_decoder(fmt: str, fn) -> None:
    """Plug a foreign-format decoder: ``fn(payload: bytes) -> ndarray``
    shaped (bands, h, w) or (h, w); values saturate to the engine's uint16
    band layout (:func:`kernels.saturate_to_u16`).  Takes effect for
    operators PLANNED after registration."""
    _DECODERS[fmt] = fn


def unregister_decoder(fmt: str) -> None:
    _DECODERS.pop(fmt, None)


def _decoder_snapshot() -> dict:
    return dict(_DECODERS)


def _decode(payload: bytes, fmt: str, extra: dict | None = None) -> np.ndarray:
    if fmt in SUPPORTED_FMTS:
        return kernels.decode_payload(payload)
    dec = (extra or {}).get(fmt)
    if dec is not None:
        arr = np.asarray(dec(payload))
        if arr.ndim == 2:
            arr = arr[None, :, :]
        if arr.ndim != 3:
            raise ValueError(f"decoder for {fmt!r} returned ndim={arr.ndim}")
        return kernels.saturate_to_u16(arr)
    # external container formats: decoder libs not present in this image
    raise NotImplementedError(
        f"decoder for fmt={fmt!r} requires an image library not present in "
        "this environment; plug one in via operators.multimodal.register_decoder"
    )


def decode_stats(images: DataFrame) -> DataFrame:
    """Per-image, per-band stats over decoded pixels (data cells only)."""
    decoders = _decoder_snapshot()  # captured -> serialized to executors

    def fn(batches):
        for pdf in batches:
            rows = dict(image_id=[], band=[], n_data=[], mean=[], p_min=[], p_max=[])
            for r in pdf.itertuples(index=False):
                arr = _decode(r.bytes, r.fmt, decoders)
                for b in range(arr.shape[0]):
                    band = arr[b]
                    data = band[band != 0]
                    rows["image_id"].append(r.image_id)
                    rows["band"].append(b)
                    rows["n_data"].append(int(data.size))
                    rows["mean"].append(float(data.mean()) if data.size else None)
                    rows["p_min"].append(int(data.min()) if data.size else None)
                    rows["p_max"].append(int(data.max()) if data.size else None)
            yield pd.DataFrame(rows)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, band int, n_data long, mean double, p_min int, p_max int",
    )


def thumbnails(images: DataFrame, size: int = 64, out_fmt: str = "npy-u16-z") -> DataFrame:
    """Decode -> NaN-aware bilinear resize to (size, size) -> re-encode.
    Caption and id carried through (the multimodal resize op)."""
    decoders = _decoder_snapshot()  # captured -> serialized to executors

    def fn(batches):
        for pdf in batches:
            out = dict(image_id=[], caption=[], w=[], h=[], fmt=[], thumb=[])
            for r in pdf.itertuples(index=False):
                arr = _decode(r.bytes, r.fmt, decoders)
                nb, h, w = arr.shape
                th = kernels.regrid_to_extent(
                    arr, (0.0, 0.0, float(w), float(h)), (0.0, 0.0, float(w), float(h)),
                    (size, size),
                )
                out["image_id"].append(r.image_id)
                out["caption"].append(r.caption)
                out["w"].append(size)
                out["h"].append(size)
                out["fmt"].append(out_fmt)
                out["thumb"].append(kernels.encode_payload(th, out_fmt))
            yield pd.DataFrame(out)

    return images.select("image_id", "caption", "bytes", "fmt").mapInPandas(
        fn,
        schema="image_id string, caption string, w int, h int, fmt string, thumb binary",
    )


def verify_phash(images: DataFrame) -> DataFrame:
    """Recompute the content hash (first 8 bytes of sha256(bytes), signed)
    and compare to the stored phash column — integrity scan."""

    @F.pandas_udf("long")
    def rehash(payloads: pd.Series) -> pd.Series:
        return pd.Series(
            [
                int.from_bytes(hashlib.sha256(p).digest()[:8], "big", signed=True)
                for p in payloads
            ],
            dtype="int64",
        )

    return images.select(
        "image_id",
        "phash",
        rehash(F.col("bytes")).alias("recomputed"),
    ).withColumn("ok", F.col("phash") == F.col("recomputed"))


def image_ahash(images: DataFrame, hash_size: int = 8) -> DataFrame:
    """Perceptual average-hash over DECODED pixels (real, not a stub, for
    the engine's payload formats): NaN-aware bilinear downsample of band 0
    to hash_size x hash_size, bit = cell > mean.  Identical pixels ->
    identical hash; small edits -> small hamming distance.  Returns
    (image_id, ahash bigint)."""
    decoders = _decoder_snapshot()  # captured -> serialized to executors

    def fn(batches):
        for pdf in batches:
            out = dict(image_id=[], ahash=[])
            for r in pdf.itertuples(index=False):
                arr = _decode(r.bytes, r.fmt, decoders)
                nb, h, w = arr.shape
                small = kernels.regrid_to_extent(
                    arr[:1],
                    (0.0, 0.0, float(w), float(h)),
                    (0.0, 0.0, float(w), float(h)),
                    (hash_size, hash_size),
                )[0].astype("f8")
                bits = (small > small.mean()).ravel()
                val = 0
                for i, b in enumerate(bits):
                    if b:
                        val |= 1 << i
                if val >= 1 << 63:
                    val -= 1 << 64
                out["image_id"].append(r.image_id)
                out["ahash"].append(val)
            yield pd.DataFrame(out)

    return images.select("image_id", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, ahash long"
    )


def image_features(images: DataFrame, grid: int = 4) -> DataFrame:
    """Real image feature extraction: per band, NaN-aware bilinear
    mean-pool to a grid x grid patch; flattened (band-major) into an
    ``array<float>`` embedding column — directly consumable by the
    similarity operators (cosine_topk / lsh_near_dup_pairs / ivf_topk).
    Returns (image_id, caption, embedding array<float>)."""
    decoders = _decoder_snapshot()  # captured -> serialized to executors

    def fn(batches):
        for pdf in batches:
            out = dict(image_id=[], caption=[], embedding=[])
            for r in pdf.itertuples(index=False):
                arr = _decode(r.bytes, r.fmt, decoders)
                nb, h, w = arr.shape
                small = kernels.to_double(
                    kernels.regrid_to_extent(
                        arr,
                        (0.0, 0.0, float(w), float(h)),
                        (0.0, 0.0, float(w), float(h)),
                        (grid, grid),
                    )
                )
                vec = np.nan_to_num(small, nan=0.0).ravel() / 65535.0
                out["image_id"].append(r.image_id)
                out["caption"].append(r.caption)
                out["embedding"].append([float(v) for v in vec])
            yield pd.DataFrame(out)

    return images.select("image_id", "caption", "bytes", "fmt").mapInPandas(
        fn, schema="image_id string, caption string, embedding array<float>"
    )


def frame_sample(videos: DataFrame, every_k: int = 4) -> DataFrame:
    """Video frame sampling: one input row -> one row per sampled frame
    (index, content hash, height/width when decoded).

    If a decoder is registered for the row's ``fmt`` (see
    :func:`register_decoder`; a video decoder returns an ndarray shaped
    (n_frames, h, w)), frames are REAL decoded pixels and ``frame_hash``
    hashes the frame's bytes.  Otherwise the decode falls back to a
    deterministic byte-slice fake (codec libs absent in this image) —
    the Spark shapes (explode fan-out, schema, batching) are identical
    either way, so plugging a codec changes no plan."""
    decoders = _decoder_snapshot()  # captured -> serialized to executors

    def fn(batches):
        for pdf in batches:
            out = dict(image_id=[], frame=[], frame_hash=[], h=[], w=[])
            for r in pdf.itertuples(index=False):
                dec = decoders.get(getattr(r, "fmt", None))
                if dec is not None:
                    frames = np.asarray(dec(r.bytes))
                    for fi in range(0, frames.shape[0], every_k):
                        fr = np.ascontiguousarray(frames[fi])
                        out["image_id"].append(r.image_id)
                        out["frame"].append(fi)
                        out["frame_hash"].append(
                            int.from_bytes(
                                hashlib.sha256(fr.tobytes()).digest()[:8],
                                "big",
                                signed=True,
                            )
                        )
                        out["h"].append(int(fr.shape[0]))
                        out["w"].append(int(fr.shape[1]))
                    continue
                n_frames = max(1, len(r.bytes) // 4096)
                for fi in range(0, n_frames, every_k):
                    chunk = r.bytes[fi * 4096 : (fi + 1) * 4096]
                    out["image_id"].append(r.image_id)
                    out["frame"].append(fi)
                    out["frame_hash"].append(
                        int.from_bytes(
                            hashlib.sha256(chunk).digest()[:8], "big", signed=True
                        )
                    )
                    out["h"].append(None)
                    out["w"].append(None)
            yield pd.DataFrame(out)

    cols = ["image_id", "bytes"] + (["fmt"] if "fmt" in videos.columns else [])
    return videos.select(*cols).mapInPandas(
        fn, schema="image_id string, frame int, frame_hash long, h int, w int"
    )
