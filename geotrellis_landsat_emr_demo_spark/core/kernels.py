"""Vectorized raster kernels — the engine's scalar-function library.

Re-expresses the reference's per-cell/per-tile operators (SURVEY §2.8) as
numpy over decoded ``(bands, h, w)`` arrays.  The Spark layer calls these
inside Arrow/pandas UDF batches only — never per row.

Conventions (matching the reference):
- storage cell type: uint16 with NoData sentinel 0
  (UShortCellType, ingest/.../LandsatInput.scala:47)
- band order: red, green, blue, nir, QA (conf/input.json:7 bandsWanted)
- math cell type: float64 with NaN = NoData (convert(DoubleCellType),
  server/.../NDVI.scala:7)
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import png as _png

NODATA_U16 = 0

# --------------------------------------------------------------- codecs ---
# Payload formats for the `bytes` column of the images table (input_hint) and
# the `tile` column of the tiles table.  Self-describing 16-byte header:
#   magic 'GTRS' | u8 version | u8 fmtcode | u16 nbands | u32 h | u32 w
# followed by the body. Replaces the reference's Avro tile codec
# (server/.../TileReader.scala:12-14) with a numpy-native one.

_MAGIC = b"GTRS"
_FMT = {"npy-u16": 1, "npy-u16-z": 2, "jq75": 3, "png-u16": 4}
_FMT_INV = {v: k for k, v in _FMT.items()}
_HDR = struct.Struct(">4sBBHII")


def encode_payload(arr: np.ndarray, fmt: str = "npy-u16-z") -> bytes:
    """(bands, h, w) uint16 -> bytes in ``fmt``.

    - npy-u16    raw little-endian C-order (lossless)
    - npy-u16-z  zlib of the above (lossless; default at-rest format)
    - jq75       deterministic lossy stand-in for JPEG q75 (no libjpeg in
                 this image): uniform 16->8-bit quantization per band then
                 zlib.  Quantization step 257 keeps PSNR ~58 dB >= the 40 dB
                 gate (BASELINE.md correctness row).
    - png-u16    per-band 16-bit grayscale PNGs (lossless, interchange)
    """
    if arr.ndim == 2:
        arr = arr[None, :, :]
    assert arr.dtype == np.uint16 and arr.ndim == 3
    nb, h, w = arr.shape
    code = _FMT[fmt]
    hdr = _HDR.pack(_MAGIC, 1, code, nb, h, w)
    if fmt == "npy-u16":
        body = arr.astype("<u2").tobytes()
    elif fmt == "npy-u16-z":
        body = zlib.compress(arr.astype("<u2").tobytes(), 1)
    elif fmt == "jq75":
        # NoData (0) must survive exactly: quantize data cells 1..65535 into
        # 1..255 (so no data cell ever decodes back to the sentinel)
        q = np.where(
            arr == 0,
            0,
            1 + ((arr.astype("u8") - 1) * 254 + 32767) // 65534,
        ).astype("u1")
        body = zlib.compress(q.tobytes(), 6)
    elif fmt == "png-u16":
        parts = [_png.encode_gray16(arr[b]) for b in range(nb)]
        body = struct.pack(f">{nb}I", *(len(p) for p in parts)) + b"".join(parts)
    else:  # pragma: no cover
        raise ValueError(fmt)
    return hdr + body


def saturate_to_u16(arr: np.ndarray) -> np.ndarray:
    """Any-dtype decoded raster -> uint16 with saturating semantics:
    floats are rounded half-to-even first and NaN maps to the NoData
    sentinel 0 (a NaN through ``np.clip`` survives and would hit an
    undefined float->uint16 cast); integers clip to [0, 65535] instead
    of wrapping mod 65536.  The ONE cast both ingest routes share —
    :func:`decode_payload` and the windowed COG source
    (sources/cog.py) — so inline and windowed reads of the same float
    source are bitwise-identical."""
    if arr.dtype == np.uint16:
        return np.ascontiguousarray(arr)
    if np.issubdtype(arr.dtype, np.floating):
        arr = np.where(np.isnan(arr), 0.0, np.rint(arr))
    arr = np.clip(arr, 0, 65535)
    return np.ascontiguousarray(arr).astype(np.uint16, copy=False)


def bands_u16(arr: np.ndarray) -> np.ndarray:
    """Decoded container raster, (h, w) or (h, w, samples) -> the
    engine's (bands, h, w) uint16 layout through :func:`saturate_to_u16`.
    The one conversion for TIFF, JPEG and windowed COG pixels."""
    return saturate_to_u16(arr[None] if arr.ndim == 2 else arr.transpose(2, 0, 1))


def decode_payload(data: bytes) -> np.ndarray:
    """bytes -> (bands, h, w) uint16, an array that owns its pixels (also
    for a zero-copy ``pyarrow.Buffer``).  Inverse of :func:`encode_payload`,
    plus container dispatch on magic bytes: GeoTIFF (``II*``/``MM*``) and
    baseline JPEG (``FFD8``) payloads decode through the built-in
    pure-numpy codecs, so scenes can arrive in the reference's actual
    container (GeoTIFF — ingest/.../LandsatInput.scala:23-27) with no
    ingest-side changes.

    Plays the role of the reference's raster fetch+decode
    (ingest/.../LandsatInput.scala:23-27).
    """
    if data[:2] in (b"II", b"MM"):  # TIFF / GeoTIFF container
        from . import tiff

        return bands_u16(tiff.decode(data))
    if data[:2] == b"\xff\xd8":  # baseline JPEG container
        from . import jpeg

        return bands_u16(jpeg.decode(data))
    magic, _ver, code, nb, h, w = _HDR.unpack_from(data)
    assert magic == _MAGIC, "bad payload magic"
    fmt = _FMT_INV[code]
    body = data[_HDR.size :]
    if fmt == "npy-u16":
        return np.frombuffer(body, dtype="<u2").reshape(nb, h, w).astype(np.uint16)
    if fmt == "npy-u16-z":
        return (
            np.frombuffer(zlib.decompress(body), dtype="<u2")
            .reshape(nb, h, w)
            .astype(np.uint16)
        )
    if fmt == "jq75":
        q = np.frombuffer(zlib.decompress(body), dtype="u1").reshape(nb, h, w)
        return np.where(
            q == 0, 0, 1 + ((q.astype("u8") - 1) * 65534 + 127) // 254
        ).astype(np.uint16)
    if fmt == "png-u16":
        sizes = struct.unpack_from(f">{nb}I", body)
        off = 4 * nb
        bands = []
        for s in sizes:
            bands.append(_png.decode(body[off : off + s]))
            off += s
        return np.stack(bands).astype(np.uint16)
    raise ValueError(fmt)  # pragma: no cover


def payload_fmt(data: bytes) -> str:
    return _FMT_INV[_HDR.unpack_from(data)[2]]


def payload_dims(data: bytes) -> tuple:
    """(bands, h, w) from the payload header — no decode."""
    _, _, _, nb, h, w = _HDR.unpack_from(data)
    return nb, h, w


# ----------------------------------------------------------- cell casts ---

def to_double(arr_u16: np.ndarray) -> np.ndarray:
    """uint16 (NoData=0) -> float64 (NoData=NaN).  F3: convert(DoubleCellType)."""
    out = arr_u16.astype("f8")
    out[arr_u16 == NODATA_U16] = np.nan
    return out


def from_double(arr_f8: np.ndarray) -> np.ndarray:
    """float64 (NaN NoData) -> uint16 (0 NoData), rounding half up."""
    out = np.where(np.isnan(arr_f8), 0.0, np.clip(np.rint(arr_f8), 0, 65535))
    return out.astype(np.uint16)


# ----------------------------------------------------------- band math ----

def ndvi(arr: np.ndarray) -> np.ndarray:
    """(nir - r) / (nir + r) over bands (0, 3) — NDVI.scala:5-10.  Only
    the two bands read are converted."""
    r, nir = to_double(arr[0]), to_double(arr[3])
    with np.errstate(invalid="ignore", divide="ignore"):
        return (nir - r) / (nir + r)


def ndwi(arr: np.ndarray) -> np.ndarray:
    """(g - nir) / (g + nir) over bands (1, 3) — NDWI.scala:5-10."""
    g, nir = to_double(arr[1]), to_double(arr[3])
    with np.errstate(invalid="ignore", divide="ignore"):
        return (g - nir) / (g + nir)


# ------------------------------------------------------- render pipeline --
# Faithful re-expression of Render.image (server/.../Render.scala:19-86).

CLAMP_MIN, CLAMP_MAX = 4000, 15176  # "magic numbers", Render.scala:24
BRIGHTNESS = 15                      # Render.scala:52-56
GAMMA = 0.8                          # Render.scala:58-62
CONTRAST = 30.0                      # Render.scala:64-68


def _normalize_band(band_u16: np.ndarray) -> np.ndarray:
    """clamp to [4000,15176] then linear rescale -> [0,255] (int), NoData -> -1.

    Mirrors convert(IntCellType).map(clamp).normalize(min,max,0,255),
    Render.scala:25-33. Returns int32 with -1 marking NoData.
    """
    data = band_u16 != NODATA_U16
    v = band_u16.astype("f8")
    v = np.clip(v, CLAMP_MIN, CLAMP_MAX)
    out = (v - CLAMP_MIN) * (255.0 - 0.0) / (CLAMP_MAX - CLAMP_MIN) + 0.0
    out = out.astype("i4")
    out[~data] = -1
    return out


def _adjust(v: np.ndarray) -> np.ndarray:
    """brightness -> gamma -> contrast, each clamped to [0,255]; NoData (-1)
    passes through.  Render.scala:45-80 (adjust)."""
    data = v >= 0
    x = v.astype("f8")
    # brightnessCorrect: if (v > 0) v + brightness
    x = np.where(data & (x > 0), x + BRIGHTNESS, x)
    x = np.where(data, np.clip(x, 0, 255), x)
    # gammaCorrect: (255 * (v/255)^(1/gamma)).toInt
    g = np.floor(255.0 * np.power(np.maximum(x, 0) / 255.0, 1.0 / GAMMA))
    x = np.where(data, np.clip(g, 0, 255), x)
    # contrastCorrect: (factor * (v - 128) + 128).toInt  (trunc toward zero)
    factor = (259.0 * (CONTRAST + 255.0)) / (255.0 * (259.0 - CONTRAST))
    c = np.trunc(factor * (x - 128.0) + 128.0)
    x = np.where(data, np.clip(c, 0, 255), x)
    out = x.astype("i4")
    out[~data] = -1
    return out


# The clamp/normalize/adjust chain per uint16 value (NoData 0 -> 0): the
# chain above stays the definition, evaluated once over all 65,536 values.
_RGB_LUT = np.clip(
    _adjust(_normalize_band(np.arange(65536, dtype=np.uint16))), 0, 255
).astype(np.uint8)


def render_rgb(arr: np.ndarray) -> np.ndarray:
    """MultibandTile -> (h, w, 4) uint8 RGBA. NoData -> fully transparent.

    Render.image for the Landsat (UShortCellType) branch,
    Render.scala:19-86: each of bands 0/1/2 through the chain's lookup
    table, alpha 255 where all three are data."""
    rgba = np.empty(arr.shape[1:] + (4,), dtype=np.uint8)
    for b in range(3):
        rgba[..., b] = _RGB_LUT.take(arr[b])
    data = (arr[0] != NODATA_U16) & (arr[1] != NODATA_U16) & (arr[2] != NODATA_U16)
    rgba[..., 3] = np.where(data, 255, 0)
    return rgba


def mask_by_qa(arr: np.ndarray, qa_band: int = 3) -> np.ndarray:
    """Planet-branch mask: zero out pixels where the mask band == 0
    (Render.scala:38-40)."""
    m = arr[qa_band] == 0
    out = arr.copy()
    out[:, m] = 0
    return out


def render_rgb_8bit(arr: np.ndarray) -> np.ndarray:
    """Render.image's non-Landsat (Planet Labs, 8-bit) branch
    (Render.scala:35-49): bands 0/1/2 taken directly (values already
    0..255), zeroed where the band-3 mask == 0, then the SAME
    brightness/gamma/contrast adjust chain as the Landsat branch
    (Render.scala:70-85).  8-bit cells have no NoData sentinel, so every
    pixel is data (alpha 255)."""
    m = arr[3] == 0
    chans = []
    for b in range(3):
        v = arr[b].astype("i4")
        v[m] = 0
        chans.append(np.clip(_adjust(np.clip(v, 0, 255)), 0, 255).astype(np.uint8))
    alpha = np.full(arr.shape[1:], 255, dtype=np.uint8)
    return np.stack(chans + [alpha], axis=-1)


# ------------------------------------------------------------ color maps --

def _parse_color_ramp(spec: str):
    """'0.05:ffffe5aa;...' -> (breaks float64[n], rgba uint8[n,4]).

    ColorMap.fromStringDouble semantics (Render.scala:7-17): value <= break
    picks the break's RGBA; above the last break or NaN -> transparent.
    """
    breaks, colors = [], []
    for part in spec.split(";"):
        b, c = part.split(":")
        breaks.append(float(b))
        v = int(c, 16)
        colors.append([(v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF])
    return np.asarray(breaks, dtype="f8"), np.asarray(colors, dtype=np.uint8)


# Ramps verbatim from Render.scala:7-17
NDVI_RAMP = _parse_color_ramp(
    "0.05:ffffe5aa;0.1:f7fcb9ff;0.2:d9f0a3ff;0.3:addd8eff;0.4:78c679ff;"
    "0.5:41ab5dff;0.6:238443ff;0.7:006837ff;1:004529ff"
)
NDWI_RAMP = _parse_color_ramp(
    "0:aacdff44;0.1:70abffff;0.2:3086ffff;0.3:1269e2ff;0.4:094aa5ff;1:012c69ff"
)
NDVI_DIFF_RAMP = _parse_color_ramp(
    "-0.6:FF4040FF;-0.5:FF5353FF;-0.4:FF6666FF;-0.3:FF7979FF;-0.2:FF8C8CFF;"
    "-0.1:FF9F9FFF;0:709AB244;0.1:81D3BBFF;0.2:67CAAEFF;0.3:4EC2A0FF;"
    "0.4:35B993FF;0.5:1CB085FF;0.6:03A878FF"
)
NDWI_DIFF_RAMP = _parse_color_ramp(
    "0.2:aacdff44;0.3:1269e2ff;0.4:094aa5ff;1:012c69ff"
)


def classify(values: np.ndarray, ramp) -> np.ndarray:
    """float64 field -> RGBA via <=-break classification (F10)."""
    breaks, colors = ramp
    # searchsorted puts NaN and values above the last break at index n:
    # the transparent entry of the (n + 1)-entry RGBA table
    table = np.zeros(len(breaks) + 1, dtype=np.uint32)
    table[:-1] = colors.view(np.uint32).ravel()
    idx = np.searchsorted(breaks, values, side="left")
    return table.take(idx).view(np.uint8).reshape(values.shape + (4,))


# ---------------------------------------------------------- resampling ----

def bilinear_sample_u16(
    src_u16: np.ndarray,
    fx: np.ndarray,
    fy: np.ndarray,
    nodata_free: bool = False,
) -> np.ndarray:
    """NaN-aware bilinear sample of a raw (nb, h, w) uint16 raster (0 =
    NoData) at fractional pixel coords shared across bands (fx = col-space,
    fy = row-space, pixel centers at integers).  Output float64, NaN =
    NoData.  The sampler of warp grids (non-3857 CRS), whose coords are
    genuinely 2-D; axis-aligned grids (ingest regrid, overzoom serving,
    F16 / ReaderSet.scala:54-72) use :func:`bilinear_sample_u16_axis`.

    value = sum(w_i * v_i * m_i) / sum(w_i * m_i) with m_i = (v_i != 0):
    an interpolation of value*mask over an interpolation of mask, i.e.
    NoData neighbors are dropped and the remaining weights renormalized,
    with no NaN branching.  All-NoData neighborhoods and samples outside
    the raster by more than half a pixel (fx < -0.5, fx > w - 0.5, and
    likewise fy) -> NaN.

    Gathering the uint16 source directly costs 2 bytes of random-access
    traffic per neighbor and derives the mask from the gathered values;
    precomputed float64 (value*mask, mask) planes would cost 16 — the
    gathers dominate the chunk kernel (profiled: the sampler body is ~2/3
    of ingest's python time)."""
    nb, h, w = src_u16.shape
    x0 = np.floor(fx).astype("i8")
    y0 = np.floor(fy).astype("i8")
    tx = fx - x0
    ty = fy - y0
    x0c = np.clip(x0, 0, w - 1)
    x1c = np.clip(x0 + 1, 0, w - 1)
    y0c = np.clip(y0, 0, h - 1)
    y1c = np.clip(y0 + 1, 0, h - 1)
    w00 = (1 - tx) * (1 - ty)
    w01 = tx * (1 - ty)
    w10 = (1 - tx) * ty
    w11 = tx * ty
    g00 = src_u16[:, y0c, x0c]
    g01 = src_u16[:, y0c, x1c]
    g10 = src_u16[:, y1c, x0c]
    g11 = src_u16[:, y1c, x1c]
    num = w00 * g00
    num += w01 * g01
    num += w10 * g10
    num += w11 * g11
    if nodata_free:
        # caller guarantees no 0 pixel in src: every mask gather is 1.0,
        # so the accumulation below is w00+w01+w10+w11 in the SAME order
        # — bitwise-identical den, no gathers/compares.  (The sum is NOT
        # folded to the constant 1.0: it differs from 1.0 in the last
        # ulp for some (tx, ty), and the division must see the same
        # value the masked path produces.)
        den = w00 + w01
        den += w10
        den += w11
        den = np.broadcast_to(den, num.shape)
    else:
        den = w00 * (g00 != NODATA_U16)
        den += w01 * (g01 != NODATA_U16)
        den += w10 * (g10 != NODATA_U16)
        den += w11 * (g11 != NODATA_U16)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = num / den
    out[den <= 0] = np.nan
    oob = (fx < -0.5) | (fx > w - 0.5) | (fy < -0.5) | (fy > h - 0.5)
    if oob.any():
        out[:, oob] = np.nan
    return out


def bilinear_sample_u16_axis(
    src_u16: np.ndarray,
    fx: np.ndarray,
    fy: np.ndarray,
    nodata_free: bool = False,
) -> np.ndarray:
    """:func:`bilinear_sample_u16` for an AXIS-ALIGNED grid (the 3857
    ingest chunker, regrid, overzoom): ``fx`` (W,) per-column and ``fy``
    (H,) per-row fractional source coords.  Output (nb, H, W) float with
    NaN NoData — the joint sampler's value*mask / mask semantics on
    ``meshgrid(fx, fy)``, at most 1-ulp-of-u16 drift on half-integer
    ties.  Warp grids (non-3857 CRS) use the joint sampler (their FX/FY
    are genuinely 2-D).

    Separable float32 evaluation: the 2-D weight w_ij = wy_i * wx_j is an
    outer product, so sum(w_ij * v_ij) factors into a horizontal lerp per
    source row followed by a vertical lerp per output row — O(H*W)
    multiply-adds instead of O(4*H*W), on f4 instead of f8 (half the
    stream bytes; it won the ingest A/B 22.4 vs 27.6 s over the joint f8
    form, BENCH/BASELINE.md round 7).  Gathers stay on the raw uint16
    source (2 B/neighbor); only source rows inside the grid's row support
    are touched."""
    nb, h, w = src_u16.shape
    x0 = np.floor(fx).astype("i8")
    y0 = np.floor(fy).astype("i8")
    tx = (fx - x0).astype("f4")
    ty = (fy - y0).astype("f4")
    x0c = np.clip(x0, 0, w - 1)
    x1c = np.clip(x0 + 1, 0, w - 1)
    y0c = np.clip(y0, 0, h - 1)
    y1c = np.clip(y0 + 1, 0, h - 1)
    r0 = int(min(y0c.min(), y1c.min()))
    r1 = int(max(y0c.max(), y1c.max())) + 1
    sub = src_u16[:, r0:r1, :]
    g0 = sub[:, :, x0c]
    g1 = sub[:, :, x1c]
    i0 = y0c - r0
    i1 = y1c - r0
    wy1 = ty[:, None]
    # lerp form a + t*(b-a) with in-place accumulation: one (nb, rh, W)
    # f4 temporary per plane instead of four, u16*f4 promoting straight
    # to f4 (no materialized casts)
    f0 = g0.astype("f4")
    hnum = g1.astype("f4")
    hnum -= f0
    hnum *= tx
    hnum += f0  # (nb, rh, W)
    h0 = hnum[:, i0, :]
    num = hnum[:, i1, :]
    num -= h0
    num *= wy1
    num += h0
    if nodata_free:
        # all masks are 1: den = lerp of 1-vectors — exactly 1.0 in the
        # lerp form (1 + t*(1-1)); x / 1.0 is the IEEE identity, so the
        # division is skipped outright
        out = num
    else:
        m0 = (g0 != NODATA_U16).astype("f4")
        hden = (g1 != NODATA_U16).astype("f4")
        hden -= m0
        hden *= tx
        hden += m0
        d0 = hden[:, i0, :]
        den = hden[:, i1, :]
        den -= d0
        den *= wy1
        den += d0
        with np.errstate(invalid="ignore", divide="ignore"):
            out = num / den
        bad = den <= 0
        if bad.any():
            out[bad] = np.nan
    oobx = (fx < -0.5) | (fx > w - 0.5)
    ooby = (fy < -0.5) | (fy > h - 0.5)
    if oobx.any():
        out[:, :, oobx] = np.nan
    if ooby.any():
        out[:, ooby, :] = np.nan
    return out


def regrid_to_extent(
    src_u16: np.ndarray,
    src_extent,
    dst_extent,
    dst_shape=(256, 256),
) -> np.ndarray:
    """Bilinear-resample a (bands,h,w) uint16 raster from src_extent onto a
    dst_extent/dst_shape grid -> (bands, H, W) uint16.

    The work inside tileToLayout(metadata, Bilinear) (LandsatIngest.scala:39)
    and the overzoom resample (ReaderSet.scala:54-72)."""
    sxmin, symin, sxmax, symax = src_extent
    dxmin, dymin, dxmax, dymax = dst_extent
    nb, sh, sw = src_u16.shape
    H, W = dst_shape
    cw = (sxmax - sxmin) / sw
    ch = (symax - symin) / sh
    dcw = (dxmax - dxmin) / W
    dch = (dymax - dymin) / H
    px = dxmin + (np.arange(W, dtype="f8") + 0.5) * dcw
    py = dymax - (np.arange(H, dtype="f8") + 0.5) * dch
    fx = (px - sxmin) / cw - 0.5
    fy = (symax - py) / ch - 0.5
    return from_double(bilinear_sample_u16_axis(src_u16, fx, fy))


def warp_to_extent(
    src_u16: np.ndarray,
    src_extent,
    src_crs: str,
    dst_extent_3857,
    dst_shape=(256, 256),
) -> np.ndarray:
    """General reprojection (F13): inverse-mapped bilinear warp of a
    (bands, h, w) uint16 raster in ``src_crs`` (UTM zone or 3857) onto an
    EPSG:3857 destination grid.

    Each destination pixel center is mapped 3857 -> lat/lng -> src CRS via
    the closed forms in core.proj, then bilinear-sampled in the source
    grid — the reproject-before-tiling of the reference ingest
    (LandsatInput.scala:72; NoData fills outside the curved scene image).

    A test reference: ingest warps per tile inside
    :func:`split_to_tiles_cropped`, which the reprojection tests pin
    bitwise-equal to this whole-tile warp.
    """
    from . import proj as _proj

    sxmin, symin, sxmax, symax = src_extent
    dxmin, dymin, dxmax, dymax = dst_extent_3857
    nb, sh, sw = src_u16.shape
    H, W = dst_shape
    cw = (sxmax - sxmin) / sw
    ch = (symax - symin) / sh
    px = dxmin + (np.arange(W, dtype="f8") + 0.5) * ((dxmax - dxmin) / W)
    py = dymax - (np.arange(H, dtype="f8") + 0.5) * ((dymax - dymin) / H)
    PX, PY = np.meshgrid(px, py)
    UX, UY = _proj.mercator_to_crs(PX.ravel(), PY.ravel(), src_crs)
    FX = ((UX - sxmin) / cw - 0.5).reshape(H, W)
    FY = ((symax - UY) / ch - 0.5).reshape(H, W)
    return from_double(bilinear_sample_u16(src_u16, FX, FY))


def split_to_tiles_cropped(
    src_u16: np.ndarray,
    src_extent,
    zoom: int,
    tile_range,
    tile_size: int = 256,
    src_crs: str = "EPSG:3857",
):
    """Regrid a scene onto the aligned tile grid covering it and yield
    ((col, row), (ox, oy), (bands, fh, fw) uint16) CROPPED fragments —
    only the tile pixels with any in-source bilinear support.

    Every pixel outside the crop is NoData: the samplers return NaN for
    any coordinate outside [-0.5, w-0.5] x [-0.5, h-0.5], and the crop is
    the bounding box of the tile pixels whose coordinates are inside.  So
    :func:`pad_to_tile` of a fragment at (ox, oy) onto a NoData canvas is
    bitwise-equal to the full-tile sample (``regrid_to_extent`` /
    ``warp_to_extent`` of the tile extent), which the parity tests pin.

    Why cropped: a scene's covering tile set includes many partially
    covered border tiles; padded full tiles inflated the ingest
    shuffle/Arrow byte volume ~4x over the source pixels (measured,
    BENCH/BASELINE.md §r6 ingest write-side) and sampled NoData pixels
    for nothing.  Cropping shrinks both the sampling work and every
    downstream byte movement; fragments are padded back only at the
    merge reduce side (small groups) and in the stored full tiles.

    A tile in range with ZERO supported pixels still yields a 1x1 NoData
    fragment, preserving the layer's tile set exactly.

    A non-3857 ``src_crs`` (UTM) switches the per-tile sample coordinates
    to the inverse-mapped projection chain (same math as
    :func:`warp_to_extent`, bitwise-parity tested); ``src_extent`` is then
    in source-CRS units while ``tile_range`` addresses the 3857 grid."""
    from . import proj as _proj
    from . import tiling as _tiling

    native_3857 = str(src_crs).upper() in ("EPSG:3857", "3857")
    c0, r0, c1, r1 = tile_range
    sxmin, symin, sxmax, symax = src_extent
    nb, sh, sw = src_u16.shape
    cw = (sxmax - sxmin) / sw
    ch = (symax - symin) / sh
    idx = np.arange(tile_size, dtype="f8") + 0.5
    empty = np.full((nb, 1, 1), NODATA_U16, dtype=np.uint16)
    # one scan per scene; full scenes (no NoData) skip every mask gather
    ndf = not (src_u16 == NODATA_U16).any()
    for r in range(r0, r1 + 1):
        for c in range(c0, c1 + 1):
            dxmin, dymin, dxmax, dymax = _tiling.tile_extent(c, r, zoom)
            px = dxmin + idx * ((dxmax - dxmin) / tile_size)
            py = dymax - idx * ((dymax - dymin) / tile_size)
            if native_3857:
                fx = (px - sxmin) / cw - 0.5
                fy = (symax - py) / ch - 0.5
                jv = np.nonzero((fx >= -0.5) & (fx <= sw - 0.5))[0]
                iv = np.nonzero((fy >= -0.5) & (fy <= sh - 0.5))[0]
                if len(jv) == 0 or len(iv) == 0:
                    yield (c, r), (0, 0), empty
                    continue
                j0, j1 = int(jv[0]), int(jv[-1]) + 1
                i0, i1 = int(iv[0]), int(iv[-1]) + 1
                yield (c, r), (j0, i0), from_double(
                    bilinear_sample_u16_axis(
                        src_u16, fx[j0:j1], fy[i0:i1], nodata_free=ndf
                    )
                )
                continue
            else:
                PX, PY = np.meshgrid(px, py)
                UX, UY = _proj.mercator_to_crs(PX.ravel(), PY.ravel(), src_crs)
                FXa = ((UX - sxmin) / cw - 0.5).reshape(tile_size, tile_size)
                FYa = ((symax - UY) / ch - 0.5).reshape(tile_size, tile_size)
                valid = (
                    (FXa >= -0.5) & (FXa <= sw - 0.5)
                    & (FYa >= -0.5) & (FYa <= sh - 0.5)
                )
                jv = np.nonzero(valid.any(axis=0))[0]
                iv = np.nonzero(valid.any(axis=1))[0]
                if len(jv) == 0 or len(iv) == 0:
                    yield (c, r), (0, 0), empty
                    continue
                j0, j1 = int(jv[0]), int(jv[-1]) + 1
                i0, i1 = int(iv[0]), int(iv[-1]) + 1
                FX = FXa[i0:i1, j0:j1]
                FY = FYa[i0:i1, j0:j1]
            yield (c, r), (j0, i0), from_double(
                bilinear_sample_u16(src_u16, FX, FY, nodata_free=ndf)
            )


def pad_to_tile(
    arr: np.ndarray, ox: int, oy: int, tile_size: int = 256, fill=NODATA_U16
) -> np.ndarray:
    """Cropped fragment -> full (bands, tile_size, tile_size) canvas with
    ``fill`` outside; exact inverse of the split crop.  ``fill=NO_WINNER``
    pads provenance winner maps."""
    nb, fh, fw = arr.shape
    if fh == tile_size and fw == tile_size:
        return arr
    full = np.full((nb, tile_size, tile_size), fill, dtype=arr.dtype)
    full[:, oy : oy + fh, ox : ox + fw] = arr
    return full


def union_bbox(offsets, shapes):
    """Union rect of fragment rects [(ox, oy)] x [(nb, fh, fw)] ->
    (x0, y0, x1, y1).  Pure rectangle arithmetic (no mask scan): the
    union of contributor support rects bounds every data pixel a merge
    of those fragments can produce."""
    x0 = min(o[0] for o in offsets)
    y0 = min(o[1] for o in offsets)
    x1 = max(o[0] + s[2] for o, s in zip(offsets, shapes))
    y1 = max(o[1] + s[1] for o, s in zip(offsets, shapes))
    return x0, y0, x1, y1


def downsample_2x2(child_f8: np.ndarray) -> np.ndarray:
    """(bands, 2n, 2n) float64 -> (bands, n, n): NaN-aware mean of each 2x2
    block — the z -> z-1 pyramid resample (Pyramid.upLevels Bilinear at
    exactly half resolution, LandsatIngest.scala:42)."""
    nb, h, w = child_f8.shape
    v = child_f8.reshape(nb, h // 2, 2, w // 2, 2)
    with np.errstate(invalid="ignore"):
        s = np.nansum(np.nansum(v, axis=4), axis=2)
        c = np.sum(np.sum(~np.isnan(v), axis=4), axis=2)
        out = np.where(c > 0, s / np.maximum(c, 1), np.nan)
    return out


def assemble_parent(children: dict, tile_size: int = 256) -> np.ndarray:
    """{quadrant: (bands,ts,ts) uint16} -> parent (bands,ts,ts) uint16.

    Quadrant = 2*dy + dx (0 = NW).  Missing children stay NoData — matching
    Pyramid.upLevels on sparse layers."""
    nb = next(iter(children.values())).shape[0]
    half = tile_size // 2
    parent = np.full((nb, tile_size, tile_size), np.nan, dtype="f8")
    for quad, child in children.items():
        dy, dx = divmod(int(quad), 2)
        ds = downsample_2x2(to_double(child))
        parent[:, dy * half : (dy + 1) * half, dx * half : (dx + 1) * half] = ds
    return from_double(parent)


# -------------------------------------------------------------- merging ---

def merge_fragments(fragments, image_ids) -> np.ndarray:
    """Merge co-keyed tile fragments: first-data-wins in ascending image_id
    order (order-insensitized version of GeoTrellis tile merge,
    LandsatIngest.scala:39-40; SURVEY §7 'merge determinism').

    A test reference: ingest merges through :func:`combine_ranked`, which
    the ingest tests and perfbench's oracle pin equal to this definition.

    fragments: list of (bands, h, w) uint16;  image_ids: parallel list.
    """
    order = np.argsort(np.asarray(image_ids, dtype=object))
    out = fragments[order[0]].copy()
    for i in order[1:]:
        f = fragments[i]
        fill = out == NODATA_U16
        out[fill] = f[fill]
    return out


NO_WINNER = np.uint16(0xFFFF)


def combine_ranked(parts):
    """The one ranked merge: [(pixels, winner | None, ids), ...] ->
    (merged, winner, ids), all arrays (bands, h, w) and aligned.

    ``winner[b, y, x]`` indexes the contributor of a cell into ``ids``
    (sorted, 0xFFFF = no data); ``None`` means one contributor, ``ids[0]``,
    wherever the part's pixels are not NoData (a fragment).  Each part's
    indices map through a small lookup table to ranks over the sorted
    union of ids, and the lowest rank wins per (band, cell); a tie keeps
    the earlier part.  Ranks come from Python's ``sorted``, the order
    :func:`merge_fragments` sorts by, so any grouping of fragments into
    parts, combined in any number of steps, gives its pixels — the
    skew-salting correctness requirement (north_rule)."""
    ids = sorted({i for _, _, pids in parts for i in pids})
    rank_of = {iid: r for r, iid in enumerate(ids)}
    merged = np.full(parts[0][0].shape, NODATA_U16, dtype=np.uint16)
    winner = np.full(merged.shape, NO_WINNER, dtype=np.uint16)
    for pixels, widx, pids in parts:
        if widx is None:
            rank = np.where(
                pixels != NODATA_U16, np.uint16(rank_of[pids[0]]), NO_WINNER
            )
        else:
            # NO_WINNER clips onto the table's last entry, itself NO_WINNER
            lut = np.array([rank_of[i] for i in pids] + [NO_WINNER], np.uint16)
            rank = lut.take(widx, mode="clip")
        better = rank < winner
        np.copyto(winner, rank, where=better)
        np.copyto(merged, pixels, where=better)
    return merged, winner, ids


# ------------------------------------------------------------ zonal ops ---

def masked_sum_count(values_f8: np.ndarray, mask: np.ndarray):
    """(sum, count) of non-NaN values under a boolean mask — the per-tile
    partial of polygonalMean (Router.scala:151,162)."""
    sel = mask & ~np.isnan(values_f8)
    return float(values_f8[sel].sum()) if sel.any() else 0.0, int(sel.sum())
