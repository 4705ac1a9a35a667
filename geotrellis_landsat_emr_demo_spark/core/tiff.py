"""Pure-numpy baseline TIFF / GeoTIFF codec — no libtiff/GDAL/PIL.

The reference demo's actual scene payload container is GeoTIFF: the
landsat-util fetch in ``ingest/src/main/scala/demo/etl/landsat/
LandsatInput.scala:24`` (``getRasterFromS3`` / ``getFromGoogle``) hands
GeoTrellis a GeoTIFF per band, which GeoTrellis's own reader decodes.
This module is the engine's built-in equivalent, sized like the baseline
JPEG codec (core.jpeg): enough of TIFF 6.0 + the GeoTIFF extension to
read real uncompressed / deflate / LZW / PackBits / JPEG-in-TIFF
(TechNote 2, 8- AND 12-bit, chunky or planar) Landsat-style rasters out
of the box, with the honest ``NotImplementedError`` seam for anything
else a user can cover via
:func:`operators.multimodal.register_decoder`.

Coverage:

- both byte orders (``II`` little / ``MM`` big), classic TIFF magic 42
  AND BigTIFF magic 43 (8-byte offsets/counts, LONG8/SLONG8/IFD8 types —
  the layout files past 4 GiB require)
- any SamplesPerPixel, chunky (PlanarConfiguration 1) or planar (2)
- 8/16/32-bit unsigned, 16/32-bit signed, 32/64-bit float samples
- striped AND tiled layouts (StripOffsets/RowsPerStrip, TileWidth/...)
- Compression 1 (none), 8 / 32946 (zlib deflate), 5 (LZW, TIFF 6.0 §13
  early-change variable-width codes), 32773 (PackBits), 7 (JPEG, 8- and
  12-bit, with or without shared JPEGTables)
- Predictor 2 (horizontal differencing; undone with a wrapping cumsum)
  on integer samples
- GeoTIFF georeferencing surfaced in :func:`read` metadata:
  ModelPixelScale (33550), ModelTiepoint (33922), GeoKeyDirectory
  (34735) inline SHORT keys (model type, raster type, EPSG codes)

Encoder (fixture/writer side): little-endian, striped or tiled, chunky
or planar, none/deflate/PackBits/LZW/JPEG (8-bit gray/RGB, 12-bit
gray), optional predictor 2, optional GeoTIFF tags — enough to
roundtrip every decoder path and to write valid GeoTIFF tiles other
tools read.

This is the only module that knows the container format.  Its pieces —
:func:`parse_header`, :func:`parse_layout` (one IFD's validated
:class:`Layout`), :func:`geo_meta`, :func:`read_window` (the one block
assembler: which blocks a window touches, in every plane, and where
their decoded pixels go), :func:`sample_spec`, :func:`pack_blocks`,
:func:`ifd_entries`, :func:`serialize_ifd` and :func:`header` — serve
both :func:`read` / :func:`encode` and the windowed reader / COG writer
in ``core/cog.py``, so the two accept, reject, decode and write exactly
the same files, planar ones included.
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

import numpy as np

# TIFF field types -> (struct letter, byte size)
_TYPES = {
    1: ("B", 1),   # BYTE
    2: ("s", 1),   # ASCII
    3: ("H", 2),   # SHORT
    4: ("I", 4),   # LONG
    5: ("II", 8),  # RATIONAL (2x LONG)
    6: ("b", 1),   # SBYTE
    7: ("B", 1),   # UNDEFINED (opaque bytes, e.g. JPEGTables)
    8: ("h", 2),   # SSHORT
    9: ("i", 4),   # SLONG
    11: ("f", 4),  # FLOAT
    12: ("d", 8),  # DOUBLE
    16: ("Q", 8),  # LONG8 (BigTIFF)
    17: ("q", 8),  # SLONG8 (BigTIFF)
    18: ("Q", 8),  # IFD8 (BigTIFF)
}

_T_WIDTH, _T_HEIGHT = 256, 257
_T_BITS, _T_COMPRESSION, _T_PHOTOMETRIC = 258, 259, 262
_T_STRIP_OFFSETS, _T_SPP, _T_ROWS_PER_STRIP, _T_STRIP_COUNTS = 273, 277, 278, 279
_T_PLANAR, _T_PREDICTOR = 284, 317
_T_TILE_W, _T_TILE_H, _T_TILE_OFFSETS, _T_TILE_COUNTS = 322, 323, 324, 325
_T_SAMPLE_FORMAT = 339
_T_PIXEL_SCALE, _T_TIEPOINT, _T_GEOKEYS = 33550, 33922, 34735

_COMP_NONE, _COMP_DEFLATE_ADOBE, _COMP_PACKBITS, _COMP_DEFLATE = 1, 8, 32773, 32946
_COMP_LZW = 5
_COMP_JPEG = 7  # "new-style" JPEG-in-TIFF (TIFF TechNote 2)
_T_JPEG_TABLES = 347

# encoder compression names -> Compression tag values
_COMPRESSIONS = {
    "none": _COMP_NONE, "deflate": _COMP_DEFLATE_ADOBE,
    "packbits": _COMP_PACKBITS, "lzw": _COMP_LZW, "jpeg": _COMP_JPEG,
}
# (BitsPerSample, SampleFormat) -> numpy dtype code
_DTYPES = {
    (8, 1): "u1", (16, 1): "u2", (32, 1): "u4",
    (16, 2): "i2", (32, 2): "i4", (32, 3): "f4", (64, 3): "f8",
}


# ---------------------------------------------------------------- decoder --


def _read_ifd(data: bytes, bo: str, off: int, big: bool = False) -> dict:
    """IFD at ``off`` -> {tag: numpy array of values} (+ next-IFD offset
    under key -1).  ``big``: BigTIFF layout (8-byte count/offsets, 20-byte
    entries, inline values up to 8 bytes — TIFF supplement "BigTIFF")."""
    if big:
        hdr_w, ent_w, inline, cnt_fmt, off_fmt = 8, 20, 8, "HHQ", "Q"
    else:
        hdr_w, ent_w, inline, cnt_fmt, off_fmt = 2, 12, 4, "HHI", "I"
    (n,) = struct.unpack_from(bo + ("Q" if big else "H"), data, off)
    n = int(n)
    out: dict = {}
    for i in range(n):
        tag, typ, cnt = struct.unpack_from(bo + cnt_fmt, data, off + hdr_w + ent_w * i)
        if typ not in _TYPES:
            continue  # unknown type: skip per TIFF 6.0 guidance
        letter, size = _TYPES[typ]
        cnt = int(cnt)
        # _TYPES size is the FULL element size (RATIONAL's 8 covers both
        # LONGs) — an extra ×2 here made a count-1 BigTIFF RATIONAL (8
        # bytes, legitimately inline) look external and dereferenced its
        # value as an offset.
        nbytes = size * cnt
        voff = off + hdr_w + ent_w * i + (ent_w - inline)
        if nbytes > inline:
            (voff,) = struct.unpack_from(bo + off_fmt, data, voff)
            voff = int(voff)
        if typ == 2:
            out[tag] = data[voff : voff + cnt].split(b"\0", 1)[0].decode(
                "ascii", "replace"
            )
            continue
        if typ == 5:
            raw = struct.unpack_from(bo + "II" * cnt, data, voff)
            out[tag] = np.asarray(
                [raw[2 * j] / max(1, raw[2 * j + 1]) for j in range(cnt)]
            )
            continue
        out[tag] = np.asarray(struct.unpack_from(bo + letter * cnt, data, voff))
    (nxt,) = struct.unpack_from(bo + off_fmt, data, off + hdr_w + ent_w * n)
    out[-1] = int(nxt)
    return out


def _jpeg_splice_tables(tables: bytes, block: bytes) -> bytes:
    """TIFF TechNote 2 JPEGTables: a tables-only abbreviated stream
    (SOI..DQT/DHT..EOI) shared by every block whose own stream omits the
    tables.  Splice = tables without its EOI + block without its SOI, so
    the decoder sees one well-formed stream."""
    if not tables:
        return block
    t = tables[:-2] if tables[-2:] == b"\xff\xd9" else tables
    b = block[2:] if block[:2] == b"\xff\xd8" else block
    return t + b


def _jpeg_block(
    raw: bytes, tables: bytes | None, bw: int, bh: int, spp: int
) -> np.ndarray:
    """Decode one JPEG-compressed block -> (bh, bw, spp) uint8 (padded /
    cropped to the block grid; the writer pads tiles, foreign files may
    encode exact edge dims)."""
    from . import jpeg

    arr = jpeg.decode(_jpeg_splice_tables(tables or b"", raw))
    if arr.ndim == 2:
        arr = arr[:, :, None]
    if arr.shape[2] != spp:
        raise ValueError(
            f"JPEG block has {arr.shape[2]} samples, IFD says {spp}"
        )
    out = np.zeros((bh, bw, spp), dtype=arr.dtype)
    ys, xs = min(bh, arr.shape[0]), min(bw, arr.shape[1])
    out[:ys, :xs] = arr[:ys, :xs]
    return out


def _packbits_decode(src: bytes, expect: int) -> bytes:
    out = bytearray()
    i, n = 0, len(src)
    while i < n and len(out) < expect:
        c = src[i]
        i += 1
        if c < 128:  # literal run of c+1 bytes
            out += src[i : i + c + 1]
            i += c + 1
        elif c > 128:  # repeat next byte 257-c times
            out += src[i : i + 1] * (257 - c)
            i += 1
        # c == 128: no-op
    return bytes(out)


def _lzw_decode(src: bytes, expect: int) -> bytes:
    """TIFF 6.0 §13 LZW: MSB-first variable-width codes (9->12 bits),
    ClearCode 256 / EOI 257, and the spec's early-change convention
    (the code width bumps when the NEXT table entry would be
    2^width - 1, one code earlier than vanilla LZW)."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    table = list(base)
    width = 9
    acc = nbits = 0
    prev = b""
    out = bytearray()
    total_bits = 8 * len(src)
    bits_done = 0
    for byte in src:
        acc = (acc << 8) | byte
        nbits += 8
        bits_done += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == CLEAR:
                table = list(base)
                width = 9
                prev = b""
                continue
            if code == EOI:
                return bytes(out[:expect])
            # Early-change off-by-one at stream end: the encoder's final
            # flush code adds no table entry, so when the decoder's table
            # hits the bump threshold exactly on that last data code the
            # decoder widens but the encoder doesn't — its EOI arrives at
            # the PRE-bump width.  If the decoder is EXACTLY at a
            # just-bumped width (table length still at the bump threshold
            # — any post-bump data code would have grown it), the top
            # width-1 bits spell EOI, and nothing but byte padding can
            # follow (a real EOI would need >= 9 more bits), this IS the
            # end of the stream.  The table-length clause keeps ordinary
            # final data codes (514/515 at a non-threshold state, in a
            # stream that omits EOI) from matching.
            if (
                (code >> 1) == EOI
                and len(table) == (1 << (width - 1)) - 2
                and (total_bits - bits_done) + nbits + 1 < 8
            ):
                return bytes(out[:expect])
            if code < len(table):
                entry = table[code]
            elif code == len(table) and prev:
                entry = prev + prev[:1]  # KwKwK case
            else:
                raise ValueError(f"corrupt LZW stream (code {code})")
            out += entry
            if prev:
                table.append(prev + entry[:1])
                # the decoder's table trails the encoder's by one entry,
                # so the early-change bump fires one entry sooner here
                if len(table) >= (1 << width) - 2 and width < 12:
                    width += 1
            prev = entry
            if len(out) >= expect:
                return bytes(out[:expect])
        acc &= (1 << width) - 1  # keep the accumulator bounded
    return bytes(out[:expect])


def _lzw_encode(raw: bytes) -> bytes:
    """TIFF 6.0 §13 LZW encoder (mirror of :func:`_lzw_decode`): emits
    ClearCode up front and again when the table fills at 4094 entries."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)
        acc &= (1 << nbits) - 1 if nbits else 0

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    w = b""
    for b in raw:
        c = bytes([b])
        wc = w + c
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # early change: bump width when the next code to be WRITTEN
        # would not fit (table about to reach 2^width - 1)
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code > 4093:  # table full: reset (keeps width <= 12)
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        w = c
    if w:
        emit(table[w], width)
    emit(EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def _undo_predictor(block: np.ndarray) -> np.ndarray:
    """Horizontal differencing inverse: wrapping cumsum along columns.
    block shape (rows, cols, spp); integer dtypes only (predictor 2)."""
    wide = np.cumsum(block.astype(np.int64), axis=1)
    return wide.astype(block.dtype)  # mod-2^bits wrap == spec semantics


def parse_header(data: bytes) -> tuple[str, bool, int]:
    """File head -> (struct byte order, BigTIFF?, first IFD offset)."""
    if data[:2] == b"II":
        bo = "<"
    elif data[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError("not a TIFF (bad byte-order mark)")
    (magic,) = struct.unpack_from(bo + "H", data, 2)
    if magic == 43:
        # BigTIFF header: offset-size (must be 8) + reserved, then Q offset
        (osize,) = struct.unpack_from(bo + "H", data, 4)
        if osize != 8:
            raise NotImplementedError(f"BigTIFF offset size {osize}")
        return bo, True, int(struct.unpack_from(bo + "Q", data, 8)[0])
    if magic != 42:
        raise ValueError(f"not a TIFF (magic {magic})")
    return bo, False, int(struct.unpack_from(bo + "I", data, 4)[0])


@dataclass
class Layout:
    """One IFD's validated block layout: the raster, its sample type and
    codec, and where each block's bytes live."""

    width: int
    height: int
    tile_w: int
    tile_h: int
    offsets: np.ndarray  # per-block byte offset, row-major (plane-major when planar)
    counts: np.ndarray  # per-block byte count
    dtype: np.dtype  # file-order dtype
    spp: int
    bits: int
    comp: int
    pred: int
    planar: int
    # striped files (classic Landsat L1 layout) are modeled as one-tile-
    # wide rows: tile_w = width, tile_h = rows_per_strip.  Row windows
    # still prune to the intersecting strips; column windows necessarily
    # fetch full strip widths (inherent to the layout, not the reader).
    striped: bool
    # comp 7: shared abbreviated-stream tables (TIFF TechNote 2), spliced
    # into each block before decode; None when blocks are self-contained
    jpeg_tables: bytes | None

    @property
    def tiles_across(self) -> int:
        return (self.width + self.tile_w - 1) // self.tile_w

    @property
    def tiles_down(self) -> int:
        return (self.height + self.tile_h - 1) // self.tile_h

    @property
    def block_spp(self) -> int:
        """Samples per block: planar blocks hold one sample each."""
        return 1 if self.planar == 2 else self.spp


def parse_layout(ifd: dict, bo: str) -> Layout:
    """IFD tags -> :class:`Layout`.  Raises NotImplementedError for every
    variant :func:`decode_block` cannot decode exactly."""
    w = int(ifd[_T_WIDTH][0])
    h = int(ifd[_T_HEIGHT][0])
    bits_arr = ifd.get(_T_BITS, np.asarray([1]))
    if len(set(int(b) for b in bits_arr)) != 1:
        raise NotImplementedError("heterogeneous BitsPerSample")
    bits = int(bits_arr[0])
    comp = int(ifd.get(_T_COMPRESSION, [1])[0])
    fmt = int(ifd.get(_T_SAMPLE_FORMAT, [1])[0])
    pred = int(ifd.get(_T_PREDICTOR, [1])[0])
    planar = int(ifd.get(_T_PLANAR, [1])[0])
    if planar not in (1, 2):
        raise NotImplementedError(f"PlanarConfiguration {planar}")
    if pred not in (1, 2):
        raise NotImplementedError(f"predictor {pred}")
    dt = _DTYPES.get((bits, fmt))
    if comp == _COMP_JPEG and bits == 12 and fmt == 1:
        dt = "u2"  # 12-bit JPEG blocks decode into uint16 samples
    if dt is None:
        raise NotImplementedError(f"bits={bits} sample_format={fmt}")
    if pred == 2 and dt in ("f4", "f8"):
        raise NotImplementedError("predictor 2 on float samples")
    if comp not in (*_COMPRESSIONS.values(), _COMP_DEFLATE):
        raise NotImplementedError(
            f"TIFF compression {comp} (plug a whole-file decoder in "
            "via operators.multimodal.register_decoder)"
        )
    if comp == _COMP_JPEG and bits not in (8, 12):
        raise NotImplementedError(f"JPEG-in-TIFF at {bits} bits")
    if _T_TILE_OFFSETS in ifd:
        tw, th = int(ifd[_T_TILE_W][0]), int(ifd[_T_TILE_H][0])
        offs, cnts = ifd[_T_TILE_OFFSETS], ifd[_T_TILE_COUNTS]
    else:
        rps = int(ifd.get(_T_ROWS_PER_STRIP, [h])[0])
        tw, th = w, min(max(1, rps), h)
        offs, cnts = ifd[_T_STRIP_OFFSETS], ifd[_T_STRIP_COUNTS]
    return Layout(
        width=w, height=h, tile_w=tw, tile_h=th,
        offsets=np.asarray(offs, dtype=np.int64),
        counts=np.asarray(cnts, dtype=np.int64),
        dtype=np.dtype(bo + dt), spp=int(ifd.get(_T_SPP, [1])[0]),
        bits=bits, comp=comp, pred=pred, planar=planar,
        striped=_T_TILE_OFFSETS not in ifd,
        jpeg_tables=(
            ifd[_T_JPEG_TABLES].astype(np.uint8).tobytes()
            if comp == _COMP_JPEG and _T_JPEG_TABLES in ifd
            else None
        ),
    )


def geo_meta(ifd: dict) -> dict:
    """GeoTIFF tags -> {pixel_scale, tiepoint, geo_keys, epsg} (only the
    keys the IFD carries)."""
    meta = {}
    if _T_PIXEL_SCALE in ifd:
        meta["pixel_scale"] = tuple(float(v) for v in ifd[_T_PIXEL_SCALE])
    if _T_TIEPOINT in ifd:
        meta["tiepoint"] = tuple(float(v) for v in ifd[_T_TIEPOINT])
    if _T_GEOKEYS in ifd:
        kd = ifd[_T_GEOKEYS]
        keys = {}
        for j in range(int(kd[3])):
            kid, loc, _cnt, val = (int(v) for v in kd[4 + 4 * j : 8 + 4 * j])
            if loc == 0:  # inline SHORT value
                keys[kid] = val
        meta["geo_keys"] = keys
        # 3072 ProjectedCSTypeGeoKey / 2048 GeographicTypeGeoKey
        epsg = keys.get(3072) or keys.get(2048)
        if epsg:
            meta["epsg"] = int(epsg)
    return meta


def decode_block(raw: bytes, lv: Layout) -> np.ndarray:
    """One stored block -> (tile_h, tile_w, block_spp) samples, zero-padded
    when the block is short (a final strip)."""
    bw, bh, bspp = lv.tile_w, lv.tile_h, lv.block_spp
    if lv.comp == _COMP_JPEG:
        return _jpeg_block(raw, lv.jpeg_tables, bw, bh, bspp)
    n = bw * bh * bspp
    if lv.comp in (_COMP_DEFLATE, _COMP_DEFLATE_ADOBE):
        raw = zlib.decompress(raw)
    elif lv.comp == _COMP_PACKBITS:
        raw = _packbits_decode(raw, n * lv.dtype.itemsize)
    elif lv.comp == _COMP_LZW:
        raw = _lzw_decode(raw, n * lv.dtype.itemsize)
    arr = np.frombuffer(raw, dtype=lv.dtype, count=min(len(raw) // lv.dtype.itemsize, n))
    if arr.size < n:
        arr = np.concatenate([arr, np.zeros(n - arr.size, lv.dtype)])
    blk = arr.reshape(bh, bw, bspp)
    return _undo_predictor(blk) if lv.pred == 2 else blk


def read_window(lv: Layout, x0: int, y0: int, x1: int, y1: int, fetch) -> np.ndarray:
    """Pixels [y0, y1) x [x0, x1) of one IFD's raster -> (h, w) for one
    sample, else (h, w, spp).  ``fetch(indices)`` returns the raw bytes
    of those blocks, in order: every block the window touches, in every
    plane of a planar file (plane-major, one sample per block, TIFF 6.0
    §Planar Configuration)."""
    tx0, tx1 = x0 // lv.tile_w, (x1 - 1) // lv.tile_w
    ty0, ty1 = y0 // lv.tile_h, (y1 - 1) // lv.tile_h
    ntx, bspp = lv.tiles_across, lv.block_spp
    per = ntx * lv.tiles_down
    wanted = [
        s * per + ty * ntx + tx
        for s in range(lv.spp // bspp)
        for ty in range(ty0, ty1 + 1)
        for tx in range(tx0, tx1 + 1)
    ]
    out = np.zeros((y1 - y0, x1 - x0, lv.spp), dtype=lv.dtype.newbyteorder("="))
    for k, raw in zip(wanted, fetch(wanted)):
        s, (ty, tx) = k // per, divmod(k % per, ntx)
        bx0, by0 = tx * lv.tile_w, ty * lv.tile_h
        sx0, sy0 = max(x0, bx0), max(y0, by0)
        sx1, sy1 = min(x1, bx0 + lv.tile_w), min(y1, by0 + lv.tile_h)
        out[sy0 - y0 : sy1 - y0, sx0 - x0 : sx1 - x0, s * bspp : (s + 1) * bspp] = (
            decode_block(raw, lv)[sy0 - by0 : sy1 - by0, sx0 - bx0 : sx1 - bx0]
        )
    return out[..., 0] if lv.spp == 1 else out


def read(data: bytes):
    """TIFF bytes -> (array, meta).  array: (h, w) for grayscale, else
    (h, w, spp).  meta: dims/layout plus GeoTIFF georeferencing when the
    tags are present (``pixel_scale``, ``tiepoint``, ``geo_keys``,
    ``epsg`` when derivable)."""
    bo, big, ifd_off = parse_header(data)
    ifd = _read_ifd(data, bo, ifd_off, big=big)
    lv = parse_layout(ifd, bo)
    out = read_window(
        lv, 0, 0, lv.width, lv.height,
        lambda ks: (
            bytes(data[lv.offsets[k] : lv.offsets[k] + lv.counts[k]]) for k in ks
        ),
    )
    meta = dict(
        width=lv.width, height=lv.height, bits=lv.bits, samples=lv.spp,
        compression=lv.comp, tiled=not lv.striped, predictor=lv.pred,
        planar=lv.planar, dtype=str(out.dtype),
    )
    meta.update(geo_meta(ifd))
    return out, meta


def decode(data: bytes) -> np.ndarray:
    """TIFF bytes -> pixel array ((h, w) grayscale or (h, w, spp))."""
    return read(data)[0]


# ---------------------------------------------------------------- encoder --


def _packbits_encode(row: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(row)
    while i < n:
        # find run length of equal bytes
        j = i + 1
        while j < n and j - i < 128 and row[j] == row[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), row[i]])
            i = j
        else:
            # literal run until the next >=3 repeat (or 128 cap)
            j = i + 1
            while (
                j < n
                and j - i < 128
                and not (j + 2 < n and row[j] == row[j + 1] == row[j + 2])
            ):
                j += 1
            out += bytes([j - i - 1]) + row[i:j]
            i = j
    return bytes(out)


def _apply_predictor(block: np.ndarray) -> np.ndarray:
    d = np.diff(block.astype(np.int64), axis=1)
    return np.concatenate(
        [block[:, :1].astype(np.int64), d], axis=1
    ).astype(block.dtype)


def sample_spec(
    img: np.ndarray, compression: str, predictor: int, planar: int = 1
) -> tuple[int, int, int]:
    """Check that (h, w, spp) little-endian ``img`` can be written with
    these options -> (Compression, BitsPerSample, SampleFormat)."""
    if predictor == 2 and img.dtype.kind == "f":
        raise NotImplementedError("predictor 2 on float samples")
    comp = _COMPRESSIONS[compression]
    bits = img.dtype.itemsize * 8
    if comp == _COMP_JPEG:
        if img.dtype == np.uint16 and (img.shape[2] == 1 or planar == 2):
            if img.max(initial=0) > 4095:
                raise ValueError("12-bit JPEG-in-TIFF samples must be <= 4095")
            bits = 12  # BitsPerSample 12, samples ride uint16 arrays
        elif img.dtype != np.uint8 or img.shape[2] not in (1, 3):
            raise NotImplementedError(
                "JPEG-in-TIFF needs uint8 gray / RGB or uint16 gray samples"
            )
        if predictor != 1:
            raise ValueError("predictor does not apply to JPEG blocks")
    if planar not in (1, 2):
        raise ValueError(f"PlanarConfiguration {planar}")
    return comp, bits, {"u": 1, "i": 2, "f": 3}[img.dtype.kind]


def _pack_block(block: np.ndarray, comp: int, predictor: int, quality: int) -> bytes:
    if comp == _COMP_JPEG:
        from . import jpeg

        if block.dtype == np.uint16:  # 12-bit (SOF1) streams
            return jpeg.encode_gray12(block[:, :, 0], quality=quality)
        if block.shape[2] == 1:  # gray image OR one planar plane
            return jpeg.encode_gray(block[:, :, 0], quality=quality)
        return jpeg.encode_rgb(block, quality=quality)
    if predictor == 2:
        block = _apply_predictor(block)
    raw = block.tobytes()
    if comp == _COMP_DEFLATE_ADOBE:
        return zlib.compress(raw, 6)
    if comp == _COMP_PACKBITS:
        return _packbits_encode(raw)
    if comp == _COMP_LZW:
        return _lzw_encode(raw)
    return raw


def pack_blocks(
    img: np.ndarray, block: tuple[int, int], comp: int, predictor: int,
    quality: int, pad: bool = True,
) -> list[bytes]:
    """(h, w, spp) samples -> one stored block per ``block`` = (w, h)
    cell, row-major.  ``pad``: tiles are zero-padded to the full block;
    strips (``pad=False``) keep a short final strip short."""
    bw, bh = block
    out = []
    for y0 in range(0, img.shape[0], bh):
        for x0 in range(0, img.shape[1], bw):
            blk = img[y0 : y0 + bh, x0 : x0 + bw]
            if pad:
                blk = np.pad(blk, ((0, bh - blk.shape[0]), (0, bw - blk.shape[1]), (0, 0)))
            out.append(_pack_block(blk, comp, predictor, quality))
    return out


def ifd_entries(
    shape, spec, predictor: int, planar: int, tiled: bool, block,
    offsets, counts, geo: dict | None = None, big: bool = False,
) -> list:
    """One image's IFD entries [(tag, type, count, value)]: the base
    tags, the block layout (``block`` = (tile w, tile h), or (w,
    rows per strip) when not ``tiled``) and the GeoTIFF tags of ``geo``
    ({"pixel_scale", "tiepoint", "epsg", "projected"})."""
    h, w, spp = shape
    comp, bits, fmt = spec
    ent = [
        (_T_WIDTH, 4, 1, w),
        (_T_HEIGHT, 4, 1, h),
        (_T_BITS, 3, spp, [bits] * spp),
        (_T_COMPRESSION, 3, 1, comp),
        (_T_PHOTOMETRIC, 3, 1, 2 if spp == 3 else 1),
        (_T_SPP, 3, 1, spp),
        (_T_PLANAR, 3, 1, planar),
        (_T_SAMPLE_FORMAT, 3, spp, [fmt] * spp),
    ]
    if predictor != 1:
        ent.append((_T_PREDICTOR, 3, 1, predictor))
    if tiled:
        ent += [(_T_TILE_W, 3, 1, block[0]), (_T_TILE_H, 3, 1, block[1])]
        offsets_tag, counts_tag = _T_TILE_OFFSETS, _T_TILE_COUNTS
    else:
        ent.append((_T_ROWS_PER_STRIP, 4, 1, block[1]))
        offsets_tag, counts_tag = _T_STRIP_OFFSETS, _T_STRIP_COUNTS
    # BigTIFF: LONG8 offsets (files past 4 GiB need them)
    ent.append((offsets_tag, 16 if big else 4, len(offsets), offsets))
    ent.append((counts_tag, 4, len(counts), counts))
    geo = geo or {}
    ps = list(geo.get("pixel_scale", ()))
    if ps:
        ent.append((_T_PIXEL_SCALE, 12, 3, (ps + [0.0, 0.0])[:3]))
    tp = geo.get("tiepoint")
    if tp:
        ent.append((_T_TIEPOINT, 12, 6, list(tp)[:6]))
    epsg = geo.get("epsg")
    if epsg:
        projected = bool(geo.get("projected", True))
        keys = [
            (1024, 0, 1, 1 if projected else 2),  # GTModelType
            (1025, 0, 1, 1),  # GTRasterType = PixelIsArea
            ((3072 if projected else 2048), 0, 1, int(epsg)),
        ]
        kd = [1, 1, 0, len(keys)] + [v for k in keys for v in k]
        ent.append((_T_GEOKEYS, 3, len(kd), kd))
    return ent


def serialize_ifd(
    entries, ext_off: int, next_off: int = 0, big: bool = False
) -> tuple[bytes, bytes]:
    """IFD entries -> (IFD table, external values), little-endian.
    Values wider than an entry's inline slot go to the external area,
    word-aligned, which the caller places at file offset ``ext_off``."""
    cnt_fmt, off_fmt, inline = ("<HHQ", "<Q", 8) if big else ("<HHI", "<I", 4)
    table = [struct.pack("<Q" if big else "<H", len(entries))]
    ext = bytearray()
    for tag, typ, cnt, val in sorted(entries, key=lambda e: e[0]):  # tags ascend
        vals = val if isinstance(val, (list, tuple)) else [val]
        raw = struct.pack("<" + _TYPES[typ][0] * cnt, *vals)
        if len(raw) > inline:
            table.append(struct.pack(cnt_fmt, tag, typ, cnt) + struct.pack(off_fmt, ext_off + len(ext)))
            ext += raw + b"\0" * (len(raw) % 2)
        else:
            table.append(struct.pack(cnt_fmt, tag, typ, cnt) + raw.ljust(inline, b"\0"))
    table.append(struct.pack(off_fmt, next_off))
    return b"".join(table), bytes(ext)


def header(ifd_off: int, big: bool = False) -> bytes:
    """Little-endian file header pointing at the first IFD."""
    if big:
        return struct.pack("<2sHHHQ", b"II", 43, 8, 0, ifd_off)
    return struct.pack("<2sHI", b"II", 42, ifd_off)


def encode(
    img: np.ndarray,
    compression: str = "deflate",
    rows_per_strip: int = 64,
    tiled: bool = False,
    tile: tuple[int, int] = (256, 256),
    predictor: int = 1,
    geo: dict | None = None,
    quality: int = 85,
    planar: int = 1,
) -> bytes:
    """Array -> little-endian TIFF bytes.

    ``img``: (h, w) or (h, w, 3), dtype uint8/uint16/int16/int32/float32.
    ``compression``: "none" | "deflate" | "packbits" | "lzw" | "jpeg"
    (lossy, uint8 gray/RGB or uint16 gray <= 4095 as 12-bit streams,
    ``quality`` applies; blocks are self-contained streams — legal per
    TIFF TechNote 2, no JPEGTables).
    ``geo``: optional {"pixel_scale": (sx, sy[, sz]), "tiepoint":
    (i, j, k, x, y, z), "epsg": int, "projected": bool} -> GeoTIFF tags.
    """
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    img = img.astype(img.dtype.newbyteorder("<"))
    spec = sample_spec(img, compression, predictor, planar)
    block = tile if tiled else (img.shape[1], rows_per_strip)
    # planar=2: all of plane 0's blocks, then plane 1's, ... (TIFF 6.0
    # §Planar Configuration, plane-major order)
    planes = [img[:, :, s : s + 1] for s in range(img.shape[2])] if planar == 2 else [img]
    payloads = [
        p for plane in planes
        for p in pack_blocks(plane, block, spec[0], predictor, quality, pad=tiled)
    ]

    # layout: header(8) | payloads (word-aligned) | external tag values | IFD
    body, offsets = bytearray(), []
    for p in payloads:
        offsets.append(8 + len(body))
        body += p + b"\0" * (len(p) % 2)
    entries = ifd_entries(
        img.shape, spec, predictor, planar, tiled, block,
        offsets, [len(p) for p in payloads], geo,
    )
    table, ext = serialize_ifd(entries, 8 + len(body))
    return header(8 + len(body) + len(ext)) + bytes(body) + ext + table


def encode_gray(img: np.ndarray, **kw) -> bytes:
    img = np.asarray(img)
    if img.ndim != 2:
        raise ValueError("encode_gray needs (h, w)")
    return encode(img, **kw)


def encode_rgb(img: np.ndarray, **kw) -> bytes:
    img = np.asarray(img)
    if img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_rgb needs (h, w, 3)")
    return encode(img, **kw)
