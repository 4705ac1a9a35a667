"""Pure-numpy core tests: tiling math, cell index, geometry, kernels, PNG."""

import itertools

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from geotrellis_landsat_emr_demo_spark.core import (
    cellindex as ci,
    geom,
    kernels as K,
    png,
    tiling,
)

# ------------------------------------------------------------------ tiling


@given(
    zoom=st.integers(1, 20),
    fx=st.floats(0.0001, 0.9999),
    fy=st.floats(0.0001, 0.9999),
)
@settings(max_examples=200, deadline=None)
def test_map_to_tile_roundtrip(zoom, fx, fy):
    n = 1 << zoom
    col = int(fx * n)
    row = int(fy * n)
    ext = tiling.tile_extent(col, row, zoom)
    cx, cy = (ext[0] + ext[2]) / 2, (ext[1] + ext[3]) / 2
    c2, r2 = tiling.map_to_tile(cx, cy, zoom)
    assert (int(c2), int(r2)) == (col, row)


def test_tile_boundary_point_assignment():
    # a point exactly on a tile's min edge belongs to that tile
    ext = tiling.tile_extent(100, 50, 10)
    c, r = tiling.map_to_tile(ext[0], ext[3], 10)
    assert (int(c), int(r)) == (100, 50)


def test_extent_to_tile_range_halfopen():
    # extent exactly equal to one tile covers exactly that tile
    ext = tiling.tile_extent(7198, 3266, 13)
    assert tiling.extent_to_tile_range(*ext, 13) == (7198, 3266, 7198, 3266)


def test_world_cover_at_zoom1():
    assert tiling.extent_to_tile_range(
        -tiling.ORIGIN, -tiling.ORIGIN, tiling.ORIGIN, tiling.ORIGIN, 1
    ) == (0, 0, 1, 1)


@given(z=st.integers(0, 28), fx=st.floats(0, 1), fy=st.floats(0, 1))
@settings(max_examples=200, deadline=None)
def test_morton_roundtrip(z, fx, fy):
    n = 1 << z
    col, row = min(int(fx * n), n - 1), min(int(fy * n), n - 1)
    k = ci.cell_key(z, col, row)
    zz, cc, rr = ci.cell_decode(k)
    assert (int(zz), int(cc), int(rr)) == (z, col, row)
    assert int(k) >= 0  # fits signed int64 for zoom <= 28


def test_morton_locality():
    # adjacent cells differ in few key bits; parent relation holds
    k = ci.cell_key(13, 1000, 2000)
    p = ci.cell_to_parent(k)
    z, c, r = ci.cell_decode(p)
    assert (int(z), int(c), int(r)) == (12, 500, 1000)
    kids = ci.cell_to_children(p)
    assert int(k) in [int(x) for x in kids]


def test_k_ring_and_cover():
    k = ci.cell_key(10, 100, 100)
    assert len(ci.k_ring(k, 2)) == 25
    assert len(ci.ring_only(k, 1)) == 8
    ext = tiling.tile_extent(100, 100, 10)
    cover = ci.cover_extent(10, ext[0] - 1, ext[1] - 1, ext[2] + 1, ext[3] + 1)
    assert len(cover) == 9  # spills one tile in every direction


# -------------------------------------------------------------------- geom


def test_mercator_roundtrip():
    lng = np.array([-179.0, -45.0, 0.0, 136.35, 179.0])
    lat = np.array([-80.0, -33.0, 0.0, 34.2, 80.0])
    x, y = geom.lnglat_to_mercator(lng, lat)
    lng2, lat2 = geom.mercator_to_lnglat(x, y)
    np.testing.assert_allclose(lng2, lng, atol=1e-9)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)


def test_pip_concave_and_hole():
    concave = geom.parse_geojson(
        '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[3,4],[3,1],[1,1],[1,4],[0,4],[0,0]]]}'
    )
    # the notch (2, 3) is outside; (0.5, 3) inside the left arm
    res = geom.points_in_multipolygon([2.0, 0.5], [3.0, 3.0], concave)
    assert res.tolist() == [False, True]
    withhole = geom.parse_geojson(
        '{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],'
        "[[4,4],[6,4],[6,6],[4,6],[4,4]]]}"
    )
    res = geom.points_in_multipolygon([5.0, 2.0], [5.0, 2.0], withhole)
    assert res.tolist() == [False, True]  # even-odd: hole excluded


def test_multipolygon_pip():
    mp = geom.parse_geojson(
        '{"type":"MultiPolygon","coordinates":[[[[0,0],[2,0],[2,2],[0,2],[0,0]]],'
        "[[[5,5],[7,5],[7,7],[5,7],[5,5]]]]}"
    )
    res = geom.points_in_multipolygon([1.0, 6.0, 3.5], [1.0, 6.0, 3.5], mp)
    assert res.tolist() == [True, True, False]


def _random_multipolygon(rng, shape, xs, ys):
    """A seeded polygon of one of five kinds over a tile's pixel-centre
    grid, in mercator: ``rect``, ``star`` (concave, ring left unclosed),
    ``hole`` (star with a rectangular hole), ``multi`` (2-3 overlapping
    rectangles/stars) or ``centres`` (every vertex on a pixel centre, so
    vertices and horizontal edges lie exactly on pixel-centre rows)."""
    cw = xs[1] - xs[0]
    ch = ys[0] - ys[1]

    def at(u, v):  # tile-relative pixel coordinates -> mercator
        return np.column_stack([xs[0] + (u - 0.5) * cw, ys[0] - (v - 0.5) * ch])

    def rect(lo=-40, hi=296):
        u0, u1 = np.sort(rng.uniform(lo, hi, 2))
        v0, v1 = np.sort(rng.uniform(lo, hi, 2))
        return at(np.array([u0, u1, u1, u0, u0]), np.array([v0, v0, v1, v1, v0]))

    def star():
        n = int(rng.integers(5, 12))
        ang = np.sort(rng.uniform(0, 2 * np.pi, 2 * n))
        rad = np.where(np.arange(2 * n) % 2 == 0, rng.uniform(60, 160), rng.uniform(10, 60))
        cu, cv = rng.uniform(40, 216, 2)
        return at(cu + rad * np.cos(ang), cv + rad * np.sin(ang))  # unclosed

    if shape == "rect":
        return [[rect()]]
    if shape == "star":
        return [[star()]]
    if shape == "hole":
        ext = star()
        cu, cv = ext[:, 0].mean(), ext[:, 1].mean()
        du, dv = rng.uniform(2, 30, 2) * (cw, ch)
        hole = np.array([[cu - du, cv - dv], [cu + du, cv - dv], [cu + du, cv + dv], [cu - du, cv + dv]])
        return [[ext, hole]]
    if shape == "multi":
        return [[rect(0, 256)] if rng.random() < 0.5 else [star()] for _ in range(rng.integers(2, 4))]
    i = rng.integers(0, 256, (int(rng.integers(3, 9)), 2))
    return [[np.column_stack([xs[i[:, 0]], ys[i[:, 1]]])], [rect(0, 256)]]


def test_grid_mask_equals_point_in_polygon():
    """The scanline grid_mask is the even-odd ray cast of every pixel
    centre, bit for bit, on real z13 tile grids: rectangles, unclosed
    concave stars, holes, multipolygons and polygons whose vertices and
    edges lie exactly on pixel centres."""
    rng = np.random.default_rng(20260)
    for case in range(200):
        shape = ("rect", "star", "hole", "multi", "centres")[case % 5]
        tx, ty = (int(v) for v in rng.integers(0, 1 << 13, 2))
        xs, ys = tiling.pixel_centers(*tiling.tile_extent(tx, ty, 13), 256, 256)
        mp = _random_multipolygon(rng, shape, xs, ys)
        gx, gy = np.meshgrid(xs, ys)
        expect = geom.points_in_multipolygon(gx.ravel(), gy.ravel(), mp).reshape(256, 256)
        assert np.array_equal(geom.grid_mask(xs, ys, mp), expect), (case, shape)


def test_rect_intersects_cases():
    tri = geom.parse_geojson(
        '{"type":"Polygon","coordinates":[[[0,0],[10,0],[5,10],[0,0]]]}'
    )
    assert geom.rect_intersects_multipolygon(4, 4, 6, 6, tri)  # rect inside
    assert geom.rect_intersects_multipolygon(-5, -5, 15, 15, tri)  # poly inside
    assert geom.rect_intersects_multipolygon(-1, -1, 0.5, 0.5, tri)  # corner touch
    assert not geom.rect_intersects_multipolygon(8, 8, 12, 12, tri)  # env overlap, no hit
    assert not geom.rect_intersects_multipolygon(20, 20, 30, 30, tri)


def test_rects_batch_matches_scalar():
    """Vectorized rects_intersect_multipolygon == scalar loop on random
    rects against concave / holed / multi polygons (incl. chunking)."""
    import numpy as np

    shapes = [
        geom.parse_geojson(
            '{"type":"Polygon","coordinates":[[[0,0],[10,0],[5,10],[0,0]]]}'
        ),
        geom.parse_geojson(
            '{"type":"Polygon","coordinates":[[[0,0],[4,0],[4,4],[3,4],[3,1],[1,1],[1,4],[0,4],[0,0]]]}'
        ),
        geom.parse_geojson(
            '{"type":"Polygon","coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]],'
            "[[4,4],[6,4],[6,6],[4,6],[4,4]]]}"
        ),
        geom.parse_geojson(
            '{"type":"MultiPolygon","coordinates":[[[[0,0],[2,0],[2,2],[0,2],[0,0]]],'
            "[[[5,5],[7,5],[7,7],[5,7],[5,5]]]]}"
        ),
    ]
    rng = np.random.default_rng(11)
    n = 500
    x0 = rng.uniform(-6, 12, n)
    y0 = rng.uniform(-6, 12, n)
    w = rng.uniform(0, 6, n)
    h = rng.uniform(0, 6, n)
    x1, y1 = x0 + w, y0 + h
    for mp in shapes:
        want = np.array(
            [
                geom.rect_intersects_multipolygon(x0[i], y0[i], x1[i], y1[i], mp)
                for i in range(n)
            ]
        )
        got = geom.rects_intersect_multipolygon(x0, y0, x1, y1, mp, chunk=64)
        assert (got == want).all()
    assert want.any() and not want.all()  # non-vacuous over the sweep


def test_extents_to_mercator_matches_scalar():
    import numpy as np

    from geotrellis_landsat_emr_demo_spark.core import proj

    rng = np.random.default_rng(5)
    n = 40
    e0 = rng.uniform(300_000, 600_000, n)
    n0 = rng.uniform(3_500_000, 4_500_000, n)
    xmin, ymin = e0, n0
    xmax, ymax = e0 + rng.uniform(1e3, 2e5, n), n0 + rng.uniform(1e3, 2e5, n)
    for crs in ("EPSG:32654", "EPSG:32618"):
        bx0, by0, bx1, by1 = proj.extents_to_mercator(xmin, ymin, xmax, ymax, crs)
        for i in range(n):
            want = proj.extent_to_mercator(
                (xmin[i], ymin[i], xmax[i], ymax[i]), crs
            )
            got = (bx0[i], by0[i], bx1[i], by1[i])
            assert np.allclose(got, want, rtol=0, atol=1e-9), (i, got, want)


# ----------------------------------------------------------------- kernels


@pytest.mark.parametrize("fmt", ["npy-u16", "npy-u16-z", "png-u16"])
def test_codec_lossless(fmt):
    rng = np.random.default_rng(1)
    arr = rng.integers(0, 65536, size=(5, 64, 64)).astype(np.uint16)
    arr[:, :8, :8] = 0
    out = K.decode_payload(K.encode_payload(arr, fmt))
    assert (out == arr).all()
    assert K.payload_fmt(K.encode_payload(arr, fmt)) == fmt


def test_codec_lossy_psnr_and_nodata():
    rng = np.random.default_rng(2)
    arr = rng.integers(0, 65536, size=(5, 128, 128)).astype(np.uint16)
    arr[:, :16, :16] = 0
    dec = K.decode_payload(K.encode_payload(arr, "jq75"))
    assert ((dec == 0) == (arr == 0)).all()  # NoData exact through lossy
    mse = ((dec.astype("f8") - arr) ** 2).mean()
    assert 10 * np.log10(65535.0**2 / mse) >= 40  # PSNR gate (input_hint)


def test_ndvi_ndwi_formulas():
    arr = np.zeros((5, 2, 2), dtype=np.uint16)
    arr[0] = 4000  # red
    arr[1] = 6000  # green
    arr[3] = 8000  # nir
    arr[:, 0, 0] = 0  # NoData pixel
    nv = K.ndvi(arr)
    nw = K.ndwi(arr)
    assert np.isnan(nv[0, 0]) and np.isnan(nw[0, 0])
    np.testing.assert_allclose(nv[1, 1], (8000 - 4000) / (8000 + 4000))
    np.testing.assert_allclose(nw[1, 1], (6000 - 8000) / (6000 + 8000))


def test_render_chain_values():
    # golden arithmetic check of clamp -> normalize -> brightness -> gamma
    # -> contrast, from the formulas at Render.scala:24-80
    v = np.array([[4000, 15176, 9588, 0]], dtype=np.uint16)
    norm = K._normalize_band(v)
    assert norm.tolist() == [[0, 255, 127, -1]]
    adj = K._adjust(norm)
    # v=0: brightness skips (v>0 false) -> 0; gamma: 0 -> 0; contrast:
    # factor=(259*285)/(255*229)=1.2639; trunc(1.2639*(0-128)+128)=trunc(-33.78)=-33 -> clamp 0
    assert adj[0, 0] == 0
    # v=255: +15 -> clamp 255; gamma 255; contrast trunc(1.2639*127+128)=288 -> 255
    assert adj[0, 1] == 255
    assert adj[0, 3] == -1  # NoData passthrough


def test_render_8bit_branch_golden():
    """Non-Landsat (Planet) branch, Render.scala:35-49 + adjust chain:
    band-3 mask zeroes rgb, then brightness/gamma/contrast — checked
    against an independent per-pixel Python recomputation of the Scala
    formulas."""
    import math

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(4, 8, 8)).astype(np.uint16)
    arr[3, :2, :2] = 0  # masked corner
    got = K.render_rgb_8bit(arr)

    def scala_adjust(v):
        # Render.scala:52-80 with Int truncation semantics
        if v > 0:
            v = v + 15
        v = min(max(v, 0), 255)
        v = int(255 * math.pow(v / 255.0, 1 / 0.8))
        v = min(max(v, 0), 255)
        factor = (259 * (30.0 + 255)) / (255 * (259 - 30.0))
        v = int(factor * (v - 128) + 128)
        return min(max(v, 0), 255)

    for y in range(8):
        for x in range(8):
            for b in range(3):
                z = 0 if arr[3, y, x] == 0 else int(arr[b, y, x])
                assert got[y, x, b] == scala_adjust(z), (y, x, b)
            assert got[y, x, 3] == 255  # 8-bit cells have no NoData


def test_classify_break_semantics():
    # value <= break picks that break's color; above last break transparent
    vals = np.array([0.04, 0.05, 0.051, 0.95, 1.5, np.nan])
    rgba = K.classify(vals, K.NDVI_RAMP)
    assert rgba[0].tolist() == [0xFF, 0xFF, 0xE5, 0xAA]  # <= 0.05
    assert rgba[1].tolist() == [0xFF, 0xFF, 0xE5, 0xAA]  # == 0.05 inclusive
    assert rgba[2].tolist() == [0xF7, 0xFC, 0xB9, 0xFF]  # next class
    assert rgba[3].tolist() == [0x00, 0x45, 0x29, 0xFF]  # <= 1
    assert rgba[4].tolist() == [0, 0, 0, 0]  # above last break
    assert rgba[5].tolist() == [0, 0, 0, 0]  # NaN -> noDataColor


# The formulations the serving kernels replaced, kept as oracles: the
# float64 clamp/normalize/adjust chain per pixel, the boolean-mask colour
# scatter, and band math over every band converted to float64.


def _render_rgb_chain(arr):
    r, g, b = (K._adjust(K._normalize_band(arr[i])) for i in range(3))
    alpha = np.where((r >= 0) & (g >= 0) & (b >= 0), 255, 0).astype(np.uint8)
    chans = [np.clip(c, 0, 255).astype(np.uint8) for c in (r, g, b)]
    return np.stack(chans + [alpha], axis=-1)


def _classify_scatter(values, ramp):
    breaks, colors = ramp
    idx = np.searchsorted(breaks, values, side="left")
    out = np.zeros(values.shape + (4,), dtype=np.uint8)
    ok = ~np.isnan(values) & (idx < len(breaks))
    out[ok] = colors[idx[ok]]
    return out


def _index_all_bands(arr, a, b):
    d = K.to_double(arr)
    with np.errstate(invalid="ignore", divide="ignore"):
        return (d[b] - d[a]) / (d[b] + d[a])


def test_render_rgb_lut_every_value():
    """Every uint16 value in every band, each band in a different order
    so the NoData value 0 sits alone in one band at a time."""
    rng = np.random.default_rng(5)
    v = np.arange(65536, dtype=np.uint16)
    arr = np.stack([v, rng.permutation(v), rng.permutation(v)]).reshape(3, 256, 256)
    got = K.render_rgb(arr)
    assert got.dtype == np.uint8 and got.shape == (256, 256, 4)
    np.testing.assert_array_equal(got, _render_rgb_chain(arr))


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_render_rgb_lut_random_tiles(seed):
    """Random 5-band tiles with NoData in single bands, in every band
    combination, and values around the clamp bounds."""
    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 20000, size=(5, 256, 256)).astype(np.uint16)
    arr[:, :8] = rng.choice([1, 3999, 4000, 4001, 15175, 15176, 15177, 65535], (5, 8, 256))
    for b in range(5):
        arr[b][rng.random((256, 256)) < 0.1] = 0
    np.testing.assert_array_equal(K.render_rgb(arr), _render_rgb_chain(arr))


@pytest.mark.parametrize(
    "ramp", [K.NDVI_RAMP, K.NDWI_RAMP, K.NDVI_DIFF_RAMP, K.NDWI_DIFF_RAMP]
)
def test_classify_table_matches_scatter(ramp):
    """NaN, +-inf, -0.0, every break, its two neighbouring doubles and a
    random field: one colour-table gather equals the masked scatter."""
    breaks = ramp[0]
    rng = np.random.default_rng(9)
    vals = np.concatenate(
        [
            [np.nan, np.inf, -np.inf, 0.0, -0.0],
            breaks,
            np.nextafter(breaks, np.inf),
            np.nextafter(breaks, -np.inf),
            rng.uniform(-2, 2, 4096),
        ]
    )
    np.testing.assert_array_equal(K.classify(vals, ramp), _classify_scatter(vals, ramp))
    field = rng.uniform(-1.2, 1.2, (256, 256))
    field[rng.random((256, 256)) < 0.1] = np.nan
    got = K.classify(field, ramp)
    assert got.dtype == np.uint8 and got.shape == (256, 256, 4)
    np.testing.assert_array_equal(got, _classify_scatter(field, ramp))


def test_band_index_matches_all_band_conversion():
    """ndvi/ndwi convert only the bands they read: same doubles, same NaN
    positions, as converting all five bands; and the 1x1 window the
    /series route evaluates gives the full-tile value at that pixel."""
    rng = np.random.default_rng(4)
    arr = rng.integers(0, 20000, size=(5, 256, 256)).astype(np.uint16)
    for b in range(5):
        arr[b][rng.random((256, 256)) < 0.1] = 0
    pixels = rng.integers(0, 256, size=(256, 2))
    for fn, a, b in ((K.ndvi, 0, 3), (K.ndwi, 3, 1)):
        got, want = fn(arr), _index_all_bands(arr, a, b)
        np.testing.assert_array_equal(np.isnan(got), np.isnan(want))
        assert got.tobytes() == want.tobytes()
        win = np.array([fn(arr[:, r : r + 1, c : c + 1])[0, 0] for r, c in pixels])
        assert win.tobytes() == got[pixels[:, 0], pixels[:, 1]].tobytes()


def test_bilinear_identity_and_gradient():
    rng = np.random.default_rng(3)
    src = rng.integers(1, 60000, size=(2, 64, 64)).astype(np.uint16)
    out = K.regrid_to_extent(src, (0, 0, 64, 64), (0, 0, 64, 64), (64, 64))
    assert (out == src).all()
    # smooth gradient upsampled 2x: PSNR vs analytic field >= 40 dB
    xs = np.linspace(0, 1, 128)
    grad = (10000 + 20000 * np.outer(xs, xs)).astype(np.uint16)[None]
    up = K.regrid_to_extent(grad, (0, 0, 1, 1), (0, 0, 1, 1), (256, 256))
    xs2 = (np.arange(256) + 0.5) / 256
    truth = 10000 + 20000 * np.outer(xs2, xs2)
    mse = ((up[0].astype("f8") - truth) ** 2).mean()
    assert 10 * np.log10(65535.0**2 / mse) >= 40


def test_separable_f4_sampler_contract():
    """The axis-aligned separable-f4 sampler vs the joint-f8 sampler (the
    warp path) on the same grid: identical NaN/NoData mask, value drift
    bounded by 1 u16 step (half-integer ties under f4 rounding), and the
    nodata_free fast path bitwise-equal to the masked path on a
    NoData-free source."""
    rng = np.random.default_rng(11)
    src = rng.integers(0, 65535, size=(4, 192, 192)).astype(np.uint16)
    src[:, 30:40, 20:120] = 0  # NoData patch
    fx = np.linspace(-3.0, 194.0, 123)  # straddles oob on both sides
    fy = np.linspace(-2.0, 193.5, 87)
    a = K.bilinear_sample_u16(src, *np.meshgrid(fx, fy))
    b = K.bilinear_sample_u16_axis(src, fx, fy)
    assert (np.isnan(a) == np.isnan(b)).all()
    ua, ub = K.from_double(a), K.from_double(b)
    diff = np.abs(ua.astype("i8") - ub.astype("i8"))
    assert diff.max() <= 1
    assert (diff != 0).mean() < 0.01  # ties are rare
    # nodata_free == masked, bitwise, on a NoData-free source (sep path:
    # the mask lerp is exactly 1.0, and x/1.0 is the IEEE identity)
    src2 = np.clip(src, 1, None)
    nf = K.bilinear_sample_u16_axis(src2, fx, fy, nodata_free=True)
    mk = K.bilinear_sample_u16_axis(src2, fx, fy, nodata_free=False)
    assert np.array_equal(K.from_double(nf), K.from_double(mk))
    # identity grid is exact (weights are exactly {0, 1})
    out = K.regrid_to_extent(src2, (0, 0, 192, 192), (0, 0, 192, 192), (192, 192))
    assert (out == src2).all()


def test_downsample_nan_aware():
    child = np.full((1, 4, 4), np.nan)
    child[0, 0, 0] = 100.0
    child[0, 2:, 2:] = 50.0
    out = K.downsample_2x2(child)
    assert out[0, 0, 0] == 100.0  # single data cell in block
    assert out[0, 1, 1] == 50.0
    assert np.isnan(out[0, 0, 1])


def _groupings(n: int, k: int):
    """Every partition of range(n) into k non-empty blocks."""
    for labels in itertools.product(range(k), repeat=n):
        firsts = [labels.index(b) for b in range(k) if b in labels]
        if len(firsts) == k and firsts == sorted(firsts):
            yield [[i for i in range(n) if labels[i] == b] for b in range(k)]


# id sets: plain ASCII; non-ASCII; and ids sharing their first 70 bytes,
# which a byte-string compare truncated to 64 bytes would tie
_MERGE_ID_SETS = [
    [f"scene-{i:05d}" for i in [6, 2, 4, 0, 5, 1, 3]],
    [f"scène-ñ-{c}" for c in "ΩzéaЖ0ß"],
    ["L" * 70 + f"-{i}" for i in [6, 2, 4, 0, 5, 1, 3]],
]


def test_merge_equivalence_salted():
    """combine_ranked of any 2- or 3-way grouping of 7 fragments — a
    one-fragment block as a provenance-less part, a larger block as its
    own ranked partial — gives the pixels of merge_fragments and the
    winner map and ids of the one-shot combine, for every id set."""
    for ids in _MERGE_ID_SETS:
        _check_merge_groupings(ids)


def _check_merge_groupings(ids):
    rng = np.random.default_rng(4)
    frags = [
        (rng.integers(0, 3, size=(5, 32, 32)) * 1500).astype(np.uint16)
        for _ in range(7)
    ]
    ref = K.merge_fragments(frags, ids)
    whole, widx, wids = K.combine_ranked([(f, None, [i]) for f, i in zip(frags, ids)])
    assert (ref == whole).all()
    assert widx.dtype == np.uint16  # compact provenance (2 bytes/cell)
    assert wids == sorted(ids)

    def part(block):
        if len(block) == 1:
            return frags[block[0]], None, [ids[block[0]]]
        return K.combine_ranked([(frags[j], None, [ids[j]]) for j in block])

    # any partition of fragments into salt groups combines to the same tile
    n_groupings = 0
    for k in (2, 3):
        for grouping in _groupings(len(frags), k):
            got, gidx, gids = K.combine_ranked([part(b) for b in grouping])
            assert (ref == got).all(), grouping
            # provenance decodes identically to the whole-group run
            assert gids == wids and (gidx == widx).all(), grouping
            n_groupings += 1
    assert n_groupings == 63 + 301  # Stirling numbers S(7, 2) + S(7, 3)


def test_png_roundtrip():
    rng = np.random.default_rng(5)
    rgba = rng.integers(0, 256, size=(48, 32, 4)).astype(np.uint8)
    assert (png.decode(png.encode_rgba(rgba)) == rgba).all()
    g16 = rng.integers(0, 65536, size=(20, 20)).astype(np.uint16)
    assert (png.decode(png.encode_gray16(g16)) == g16).all()


def test_mask_by_qa():
    arr = np.ones((5, 4, 4), dtype=np.uint16) * 100
    arr[3, 1, 1] = 0  # default qa_band=3
    out = K.mask_by_qa(arr)
    assert (out[:, 1, 1] == 0).all()
    assert (out[:, 0, 0] == 100).all()


def test_cell_lat_lng_api():
    # H3-style cell() agrees with map_to_tile via mercator
    from geotrellis_landsat_emr_demo_spark.core.geom import lnglat_to_mercator

    k = ci.cell(34.2, 136.35, 13)
    mx, my = lnglat_to_mercator(136.35, 34.2)
    c, r = tiling.map_to_tile(float(mx), float(my), 13)
    z, cc, rr = ci.cell_decode(k)
    assert (int(z), int(cc), int(rr)) == (13, int(c), int(r))


def test_haversine_known_distance():
    # London -> Paris ~ 343-344 km on the sphere
    d = geom.haversine_m(51.5074, -0.1278, 48.8566, 2.3522)
    assert 330_000 < float(d) < 355_000


def test_day_bucket():
    assert int(ci.day_bucket(86_400_000)) == 1
    assert int(ci.day_bucket(86_399_999)) == 0
