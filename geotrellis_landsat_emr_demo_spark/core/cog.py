"""Cloud-Optimized GeoTIFF: windowed byte-range reads + overview chain.

Scale rationale (100 TB): the scene archive lives on object storage; a
reader that must fetch whole files to answer an AOI query moves ~the
whole archive per query.  The COG layout — header and ALL IFDs at the
file head, tiled payloads behind them — lets a reader satisfy ANY
window at ANY pyramid level with

    1 small header read  +  a few coalesced tile-range reads,

which is exactly the S3 ``GET Range`` access pattern.  This module
implements both halves on :mod:`core.tiff`'s container pieces (header,
validated per-IFD block layout, block assembler and packer, IFD
serializer), so a windowed read accepts, rejects and decodes exactly the
files :func:`core.tiff.read` does, chunky or planar; only where the
block bytes come from differs:

- :func:`write_cog` produces the layout (classic-TIFF IFD chain at the
  head, full-res IFD first, tile data written coarsest-overview-first
  like GDAL's COG driver, 2x2-mean overviews down to one tile), and
- :class:`CogReader` reads back any sub-rectangle at any level through
  a :class:`RangeReader`, issuing byte-range requests only.  Request
  count and bytes are accounted on the reader, and the tests assert
  window reads cost a small fraction of the file.

Reference parity: the reference fetches whole band GeoTIFFs from S3
(``ingest/src/main/scala/demo/etl/landsat/LandsatInput.scala:23-27``)
and crops afterwards; the COG path moves the crop INTO the read.  The
:class:`RangeReader` seam is where an object-store client plugs in (an
S3 implementation is ``read(off, n) -> GET Range: bytes=off-off+n-1``);
the sandbox ships the local-file and in-memory implementations.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

import numpy as np

from . import tiff

_T_SUBFILE = 254  # NewSubfileType: 1 = reduced-resolution (overview)

# ranges closer than this are fetched as one request: below typical
# object-store per-request latency*bandwidth, reading the gap is cheaper
# than a second round trip (GDAL uses the same heuristic)
RANGE_COALESCE_GAP = 32 * 1024
_HEADER_GUESS = 64 * 1024  # COG convention: header+IFDs within the head
_HEADER_CAP = 16 * 1024 * 1024


# ------------------------------------------------------------- readers --


class RangeReader:
    """Byte-range access seam (the S3 ``GET Range`` shape).

    Implementations provide ``_read``/``_size``; accounting (``requests``,
    ``bytes_read``) is kept here so every backend reports cost the same
    way."""

    def __init__(self):
        self.requests = 0
        self.bytes_read = 0

    def read(self, off: int, length: int) -> bytes:
        self.requests += 1
        out = self._read(off, length)
        self.bytes_read += len(out)
        return out

    def size(self) -> int:
        return self._size()

    def _read(self, off: int, length: int) -> bytes:  # pragma: no cover
        raise NotImplementedError

    def _size(self) -> int:  # pragma: no cover
        raise NotImplementedError


class FileRangeReader(RangeReader):
    def __init__(self, path: str):
        super().__init__()
        self.path = path
        self._n = os.path.getsize(path)

    def _read(self, off: int, length: int) -> bytes:
        with open(self.path, "rb") as f:
            f.seek(off)
            return f.read(length)

    def _size(self) -> int:
        return self._n


class BytesRangeReader(RangeReader):
    def __init__(self, data: bytes):
        super().__init__()
        self._data = data

    def _read(self, off: int, length: int) -> bytes:
        return self._data[off : off + length]

    def _size(self) -> int:
        return len(self._data)


class HttpRangeReader(RangeReader):
    """``GET Range`` over HTTP(S) via stdlib urllib — the object-store
    front door (S3/GCS/Azure presigned URLs and plain HTTP mirrors all
    expose these semantics; the reference reads scenes from S3,
    ingest/.../LandsatInput.scala:23-27).

    Cost model differs from a local file in two ways this reader owns:

    - **every request pays a round trip** — ``size()`` is learned from
      the FIRST ranged GET's ``Content-Range`` total (no separate HEAD),
      and that same response body is cached so :func:`parse_chain`'s
      immediately-following prefix read costs zero extra requests: one
      HTTP request per well-formed COG header, total;
    - **the coalescing gap is latency-priced** — fetching a hole is
      cheaper than a new round trip up to ``latency x bandwidth`` bytes,
      so :attr:`coalesce_gap` adapts from EWMAs of both, clamped to
      [RANGE_COALESCE_GAP, 8 MiB].  A same-DC object store (~1 ms, ~100
      MB/s per stream) prices to ~100 KiB; cross-region (~60 ms) to the
      8 MiB cap.

    Transient failures (5xx, connection resets, short bodies) retry with
    exponential backoff.  Servers that ignore ``Range`` (200 with the
    full body) are handled by slicing.  ``http_requests`` /
    ``transport_bytes`` count the wire cost separately from the logical
    ``requests`` / ``bytes_read`` accounting shared with every backend.
    """

    def __init__(
        self,
        url: str,
        retries: int = 4,
        backoff_s: float = 0.1,
        timeout_s: float = 30.0,
        prefetch: int | None = None,
    ):
        super().__init__()
        self.url = url
        self.retries = retries
        self.backoff_s = backoff_s
        self.timeout_s = timeout_s
        self._prefetch_len = _HEADER_GUESS if prefetch is None else prefetch
        self._n: int | None = None
        self._head: bytes | None = None  # body of the size-learning GET
        self.http_requests = 0
        self.transport_bytes = 0
        self._lat_ewma: float | None = None  # seconds/request
        self._bw_ewma: float | None = None  # bytes/second

    # -- transport ---------------------------------------------------

    def _fetch(self, off: int, length: int) -> tuple[bytes, int | None]:
        """One ranged GET with retries -> (body, total_size_or_None)."""
        import time
        import urllib.error
        import urllib.request

        req = urllib.request.Request(
            self.url, headers={"Range": f"bytes={off}-{off + length - 1}"}
        )
        last_err: Exception | None = None
        for attempt in range(self.retries + 1):
            try:
                t0 = time.monotonic()
                with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                    body = resp.read()
                    status = resp.status
                    crange = resp.headers.get("Content-Range", "")
                dt = max(1e-6, time.monotonic() - t0)
                self.http_requests += 1
                self.transport_bytes += len(body)
                a = 0.3  # EWMA weight: adapt fast, forget noise
                self._lat_ewma = (
                    dt if self._lat_ewma is None
                    else (1 - a) * self._lat_ewma + a * dt
                )
                bw = len(body) / dt
                self._bw_ewma = (
                    bw if self._bw_ewma is None
                    else (1 - a) * self._bw_ewma + a * bw
                )
                total = None
                if "/" in crange:
                    tail = crange.rsplit("/", 1)[1]
                    if tail.isdigit():
                        total = int(tail)
                if status == 200:  # server ignored Range: slice full body
                    return body[off : off + length], len(body)
                return body, total
            except urllib.error.HTTPError as e:
                if e.code in (404, 403, 416):
                    raise  # permanent: no retry
                last_err = e
            except Exception as e:  # URLError, resets, short reads
                last_err = e
            if attempt < self.retries:
                time.sleep(self.backoff_s * (2**attempt))
        raise OSError(f"GET {self.url} failed after {self.retries + 1} tries: {last_err}")

    @property
    def coalesce_gap(self) -> int:
        if self._lat_ewma is None or self._bw_ewma is None:
            return RANGE_COALESCE_GAP
        gap = int(self._lat_ewma * self._bw_ewma)
        return max(RANGE_COALESCE_GAP, min(gap, 8 << 20))

    # -- RangeReader interface ----------------------------------------

    def _ensure_head(self):
        if self._n is None:
            body, total = self._fetch(0, self._prefetch_len)
            self._head = body
            if total is None:
                # 206 without a parsable Content-Range total: adopting
                # len(body) (the PREFETCH length) would silently misreport
                # size()/file_bytes for the whole read session, so ask the
                # server directly instead.
                total = self._head_content_length()
            if total is None:
                raise OSError(
                    f"{self.url}: ranged response carried no usable total "
                    "size (no Content-Range total, no HEAD Content-Length)"
                )
            self._n = total

    def _head_content_length(self):
        import urllib.request

        try:
            req = urllib.request.Request(self.url, method="HEAD")
            with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
                self.http_requests += 1
                cl = resp.headers.get("Content-Length")
                return int(cl) if cl is not None and str(cl).isdigit() else None
        except Exception:
            return None

    def _size(self) -> int:
        self._ensure_head()
        return int(self._n)

    def _read(self, off: int, length: int) -> bytes:
        self._ensure_head()
        head = self._head or b""
        if off + length <= len(head):  # parse_chain prefix: already here
            return head[off : off + length]
        body, _ = self._fetch(off, length)
        return body


def open_range_reader(path: str) -> RangeReader:
    """Path/URL -> the right reader: ``http(s)://`` gets the GET-Range
    adapter, anything else the local-file reader.  The single dispatch
    point the Spark sources go through, so an archive of URLs and an
    archive of paths are the same DataFrame."""
    if path.startswith(("http://", "https://")):
        return HttpRangeReader(path)
    return FileRangeReader(path)


# -------------------------------------------------------------- parsing --


@dataclass
class CogInfo:
    levels: list  # tiff.Layout, index 0 = full resolution
    geo: dict = field(default_factory=dict)  # tiff.geo_meta of the first georeferenced IFD
    header_bytes: int = 0  # prefix consumed to parse the chain
    # bytes fetched while parsing (64 KiB for a proper COG; grows to the
    # IFD span for foreign tail-IFD layouts) — kept so window reads can
    # be served from it instead of re-fetching the same ranges
    prefix: bytes = field(default=b"", repr=False)

    @property
    def extent(self):
        """(xmin, ymin, xmax, ymax) in the file CRS (north-up model)."""
        ps = self.geo.get("pixel_scale")
        tp = self.geo.get("tiepoint")
        if not ps or not tp:
            return None
        lv = self.levels[0]
        i, j, _k, x, y, _z = tp[:6]
        sx, sy = ps[0], ps[1]
        xmin = x - i * sx
        ymax = y + j * sy
        return (xmin, ymax - lv.height * sy, xmin + lv.width * sx, ymax)

    @property
    def crs(self) -> str:
        epsg = self.geo.get("epsg")
        return f"EPSG:{epsg}" if epsg else "EPSG:3857"

    def pixel_size(self, level: int) -> float:
        """Ground units per pixel at ``level`` (x axis)."""
        ps = self.geo.get("pixel_scale")
        base = ps[0] if ps else 1.0
        return base * (self.levels[0].width / self.levels[level].width)

    def select_level(self, resolution: float) -> int:
        """Coarsest level whose pixels are still <= ``resolution`` ground
        units (the finest-sufficient overview); level 0 when none coarser
        qualifies."""
        best = 0
        for i in range(len(self.levels)):
            if self.pixel_size(i) <= resolution * (1 + 1e-9):
                best = i
        return best


def parse_chain(reader: RangeReader):
    """Parse the IFD chain from the file head -> :class:`CogInfo`.

    Fetches a 64 KiB prefix (the COG convention puts every IFD there)
    and grows it geometrically if an offset lands beyond — so foreign,
    non-cloud-optimized TIFFs still parse, they just cost more reads."""
    n = reader.size()
    prefix = reader.read(0, min(_HEADER_GUESS, n))
    while True:
        try:
            return _parse_chain_buf(prefix, reader)
        except (struct.error, IndexError, _NeedMore):
            if len(prefix) >= min(_HEADER_CAP, n):
                raise NotImplementedError(
                    "IFD chain not within the first 16 MiB — not a COG "
                    "layout this baseline reader supports"
                )
            more = reader.read(len(prefix), min(_HEADER_CAP, n) - len(prefix))
            prefix = prefix + more


class _NeedMore(Exception):
    pass


def _parse_chain_buf(data: bytes, reader: RangeReader) -> CogInfo:
    bo, big, off = tiff.parse_header(data)
    hdr_w, ent_w = (8, 20) if big else (2, 12)
    levels, geo = [], {}
    seen = 0
    while off:
        if off + hdr_w > len(data):
            raise _NeedMore
        (cnt,) = struct.unpack_from(bo + ("Q" if big else "H"), data, off)
        if off + hdr_w + ent_w * int(cnt) + (8 if big else 4) > len(data):
            raise _NeedMore
        ifd = tiff._read_ifd(data, bo, off, big=big)
        lv = tiff.parse_layout(ifd, bo)
        levels.append((lv, int(ifd.get(_T_SUBFILE, [0])[0])))
        geo = geo or tiff.geo_meta(ifd)
        off = ifd[-1]
        seen += 1
        if seen > 64:
            raise ValueError("IFD chain too long (>64)")
    # full-res first, then overviews by decreasing size
    levels.sort(key=lambda t: (t[1] != 0, -t[0].width))
    return CogInfo(
        levels=[lv for lv, _ in levels], geo=geo,
        header_bytes=reader.bytes_read, prefix=data,
    )


# -------------------------------------------------------------- reading --


def _coalesce(ranges, gap: int = RANGE_COALESCE_GAP):
    """[(off, cnt)] -> merged [(off, cnt)] covering all inputs, merging
    neighbors closer than ``gap`` (one round trip beats re-reading a
    small hole)."""
    if not ranges:
        return []
    ranges = sorted(ranges)
    out = [list(ranges[0])]
    for off, cnt in ranges[1:]:
        end = out[-1][0] + out[-1][1]
        if off <= end + gap:
            out[-1][1] = max(end, off + cnt) - out[-1][0]
        else:
            out.append([off, cnt])
    return [(o, c) for o, c in out]


class CogReader:
    """Windowed access over one COG through a :class:`RangeReader`."""

    def __init__(self, reader: RangeReader):
        self.reader = reader
        self.info = parse_chain(reader)
        # ranges inside the already-fetched parse prefix are served from
        # it (a foreign tail-IFD file costs ONE pass, not two; a proper
        # COG's 64 KiB prefix rarely contains payload tiles)
        self.prefix = self.info.prefix

    def window(self, level: int, x0: int, y0: int, w: int, h: int) -> np.ndarray:
        """Pixel window at ``level`` -> (h, w) or (h, w, spp) array.

        Fetches only the blocks the window intersects (in every plane of
        a planar file), coalescing adjacent byte ranges into single
        requests."""
        lv = self.info.levels[level]
        x0c, y0c = max(0, x0), max(0, y0)
        x1c, y1c = min(lv.width, x0 + w), min(lv.height, y0 + h)
        if x1c <= x0c or y1c <= y0c:
            raise ValueError("window outside raster")
        return tiff.read_window(lv, x0c, y0c, x1c, y1c, lambda ks: self._fetch(lv, ks))

    def _fetch(self, lv, ks) -> list:
        """Raw bytes of blocks ``ks`` of ``lv``, in order: one read per
        coalesced range, served from the parse prefix when inside it."""
        wanted = [(int(lv.offsets[k]), int(lv.counts[k])) for k in ks]
        fetched = {}
        gap = getattr(self.reader, "coalesce_gap", RANGE_COALESCE_GAP)
        for off, cnt in _coalesce(wanted, gap=gap):
            if off + cnt <= len(self.prefix):
                fetched[off] = self.prefix[off : off + cnt]
            else:
                fetched[off] = self.reader.read(off, cnt)

        def block_bytes(off: int, cnt: int) -> bytes:
            for base, buf in fetched.items():
                if base <= off and off + cnt <= base + len(buf):
                    return buf[off - base : off - base + cnt]
            raise AssertionError("range not fetched")

        return [block_bytes(off, cnt) for off, cnt in wanted]

    def window_by_extent(self, extent, resolution: float | None = None):
        """Map-space window (file CRS) -> (array, actual_extent, level).

        ``resolution``: requested ground units/pixel; the coarsest
        overview still at least that sharp serves the read (None ->
        level 0).  The returned extent is the read window snapped to the
        chosen level's pixel grid."""
        full = self.info.extent
        if full is None:
            raise ValueError("file has no GeoTIFF georeferencing")
        level = 0 if resolution is None else self.info.select_level(resolution)
        lv = self.info.levels[level]
        fx0, fy0, fx1, fy1 = full
        px = (fx1 - fx0) / lv.width
        py = (fy1 - fy0) / lv.height
        xmin, ymin, xmax, ymax = extent
        x0 = int(np.floor((max(xmin, fx0) - fx0) / px))
        x1 = int(np.ceil((min(xmax, fx1) - fx0) / px))
        y0 = int(np.floor((fy1 - min(ymax, fy1)) / py))
        y1 = int(np.ceil((fy1 - max(ymin, fy0)) / py))
        x1, y1 = min(x1, lv.width), min(y1, lv.height)
        if x1 <= x0 or y1 <= y0:
            raise ValueError("extent does not intersect raster")
        arr = self.window(level, x0, y0, x1 - x0, y1 - y0)
        actual = (
            fx0 + x0 * px, fy1 - y1 * py, fx0 + x1 * px, fy1 - y0 * py,
        )
        return arr, actual, level


def open_cog(path_or_reader) -> CogReader:
    if isinstance(path_or_reader, RangeReader):
        return CogReader(path_or_reader)
    if isinstance(path_or_reader, (bytes, bytearray)):
        return CogReader(BytesRangeReader(bytes(path_or_reader)))
    return CogReader(FileRangeReader(path_or_reader))


# -------------------------------------------------------------- writing --


def _downsample2(img: np.ndarray) -> np.ndarray:
    """2x2 mean with edge replication for odd dims (GDAL AVERAGE)."""
    h, w, s = img.shape
    if h % 2:
        img = np.concatenate([img, img[-1:]], axis=0)
    if w % 2:
        img = np.concatenate([img, img[:, -1:]], axis=1)
    h2, w2 = img.shape[0] // 2, img.shape[1] // 2
    acc = img.reshape(h2, 2, w2, 2, s).astype(np.float64).mean(axis=(1, 3))
    if img.dtype.kind in "ui":
        acc = np.rint(acc)
    return acc.astype(img.dtype)


def write_cog(
    img: np.ndarray,
    geo: dict | None = None,
    tile: tuple[int, int] = (256, 256),
    compression: str = "deflate",
    predictor: int = 1,
    min_overview: int | None = None,
    bigtiff: bool = False,
    quality: int = 85,
) -> bytes:
    """Array -> COG bytes: tiled levels, IFD chain at the file head,
    tile data coarsest-overview-first.

    ``img``: (h, w) or (h, w, 3); ``geo`` as in :func:`core.tiff.encode`.
    Overviews halve until the raster fits one tile (or ``min_overview``
    pixels on the long edge).  ``bigtiff``: the 8-byte-offset BigTIFF
    layout (magic 43) — required past 4 GiB, standard for large scene
    mosaics; the reader auto-detects either flavor.  ``compression
    ="jpeg"`` writes lossy self-contained JPEG tiles at ``quality`` —
    uint8 gray/RGB (the common visual-product COG layout) or uint16
    gray <= 4095 (12-bit SOF1 tiles, BitsPerSample 12 — the real
    remote-sensing archive precision)."""
    img = np.asarray(img)
    if img.ndim == 2:
        img = img[:, :, None]
    img = img.astype(img.dtype.newbyteorder("<"))
    spec = tiff.sample_spec(img, compression, predictor)
    floor = min_overview if min_overview is not None else max(tile)

    levels = [img]
    while max(levels[-1].shape[0], levels[-1].shape[1]) > floor:
        levels.append(_downsample2(levels[-1]))
    payloads = [
        tiff.pack_blocks(lv, tile, spec[0], predictor, quality) for lv in levels
    ]

    def ifd(i: int, offsets: list[int], ext_off: int = 0, next_off: int = 0):
        ent = tiff.ifd_entries(
            levels[i].shape, spec, predictor, 1, True, tile, offsets,
            [len(p) for p in payloads[i]], None if i else geo, big=bigtiff,
        )
        if i > 0:
            ent.append((_T_SUBFILE, 4, 1, 1))
        return tiff.serialize_ifd(ent, ext_off, next_off, big=bigtiff)

    # pass 1: IFD sizes with placeholder offsets (same entry shapes)
    sized = [ifd(i, [0] * len(payloads[i])) for i in range(len(levels))]
    ifd_offsets = []
    cur = len(tiff.header(0, bigtiff))
    for table, ext in sized:
        ifd_offsets.append(cur)
        cur += len(table) + len(ext)

    # tile data: coarsest overview first (readers that walk overviews
    # for thumbnails touch only the head of the data area)
    tile_offsets: list[list[int]] = [None] * len(levels)
    for i in reversed(range(len(levels))):
        offs = []
        for p in payloads[i]:
            offs.append(cur)
            cur += len(p) + (len(p) % 2)
        tile_offsets[i] = offs

    out = bytearray(tiff.header(ifd_offsets[0], bigtiff))
    for i, (table, _) in enumerate(sized):
        nxt = ifd_offsets[i + 1] if i + 1 < len(levels) else 0
        out += b"".join(ifd(i, tile_offsets[i], ifd_offsets[i] + len(table), nxt))
    for i in reversed(range(len(levels))):
        for p in payloads[i]:
            out += p + b"\0" * (len(p) % 2)
    assert len(out) == cur
    return bytes(out)
