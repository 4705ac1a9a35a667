"""General raster reprojection: closed-form UTM (WGS84 transverse
Mercator) <-> lat/lng <-> Web Mercator, fully vectorized numpy.

The reference warps every scene from its native UTM zone to WebMercator
BEFORE tiling (ingest/src/main/scala/demo/etl/landsat/LandsatInput.scala:72,
with an explicit note that reprojecting per-chunk avoids NoData edge
artifacts).  This module supplies the projection math so the chunk kernel
can inverse-map destination (3857) pixel centers back into the source UTM
grid and bilinear-sample there — same semantics, no GDAL.

Formulas: Krüger flattening series for the transverse Mercator (standard
published form, exact to << 1 mm over a UTM zone), written once — UTM is
that projection with the UTM constants; spherical Web Mercator closed
forms live in core.geom.  One densified-boundary builder gives extent
envelopes in both directions (source CRS -> 3857 and back), and
:func:`is_3857` is the one test for "already Web Mercator".
"""

from __future__ import annotations

import numpy as np

# WGS84
_A = 6378137.0
_F = 1.0 / 298.257223563
_K0 = 0.9996
_E0 = 500_000.0  # false easting
_N0_SOUTH = 10_000_000.0

_N = _F / (2.0 - _F)  # third flattening n
# rectifying radius A = a/(1+n) * (1 + n^2/4 + n^4/64)
_AR = _A / (1.0 + _N) * (1.0 + _N**2 / 4.0 + _N**4 / 64.0)
_E = np.sqrt(_F * (2.0 - _F))  # first eccentricity

# Krüger series coefficients (order n^3 — sub-mm over a zone)
_ALPHA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 5.0 * _N**3 / 16.0,
    13.0 * _N**2 / 48.0 - 3.0 * _N**3 / 5.0,
    61.0 * _N**3 / 240.0,
)
_BETA = (
    _N / 2.0 - 2.0 * _N**2 / 3.0 + 37.0 * _N**3 / 96.0,
    _N**2 / 48.0 + _N**3 / 15.0,
    17.0 * _N**3 / 480.0,
)
_DELTA = (
    2.0 * _N - 2.0 * _N**2 / 3.0 - 2.0 * _N**3,
    7.0 * _N**2 / 3.0 - 8.0 * _N**3 / 5.0,
    56.0 * _N**3 / 15.0,
)


def parse_utm_epsg(crs: str):
    """'EPSG:326zz'/'EPSG:327zz' -> (zone, is_north). Raises on non-UTM."""
    code = int(str(crs).upper().replace("EPSG:", ""))
    if 32601 <= code <= 32660:
        return code - 32600, True
    if 32701 <= code <= 32760:
        return code - 32700, False
    raise ValueError(f"not a UTM EPSG code: {crs}")


def utm_central_meridian_deg(zone: int) -> float:
    return -183.0 + 6.0 * zone


def lnglat_to_utm(lng_deg, lat_deg, zone: int, north: bool = True):
    """Vectorized WGS84 forward UTM -> (easting, northing)."""
    return _tmerc_forward(
        lng_deg, lat_deg, utm_central_meridian_deg(zone), _K0, _E0,
        0.0 if north else _N0_SOUTH,
    )


def utm_to_lnglat(easting, northing, zone: int, north: bool = True):
    """Vectorized inverse UTM -> (lng_deg, lat_deg)."""
    return _tmerc_inverse(
        easting, northing, utm_central_meridian_deg(zone), _K0, _E0,
        0.0 if north else _N0_SOUTH,
    )


def _tmerc_forward(lng_deg, lat_deg, lng0, k0, fe, fn):
    """General WGS84 transverse Mercator via the Krüger series above."""
    lam0 = np.radians(lng0)
    phi = np.radians(np.asarray(lat_deg, dtype="f8"))
    lam = np.radians(np.asarray(lng_deg, dtype="f8")) - lam0
    s = np.sin(phi)
    # conformal latitude via t = sinh(atanh(sin) - e*atanh(e*sin))
    t = np.sinh(np.arctanh(s) - _E * np.arctanh(_E * s))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.hypot(t, np.cos(lam)))
    xi, eta = xi_p.copy(), eta_p.copy()
    for j, a in enumerate(_ALPHA, start=1):
        xi += a * np.sin(2 * j * xi_p) * np.cosh(2 * j * eta_p)
        eta += a * np.cos(2 * j * xi_p) * np.sinh(2 * j * eta_p)
    return fe + k0 * _AR * eta, fn + k0 * _AR * xi


def _tmerc_inverse(x, y, lng0, k0, fe, fn):
    lam0 = np.radians(lng0)
    xi = (np.asarray(y, dtype="f8") - fn) / (k0 * _AR)
    eta = (np.asarray(x, dtype="f8") - fe) / (k0 * _AR)
    xi_p, eta_p = xi.copy(), eta.copy()
    for j, b in enumerate(_BETA, start=1):
        xi_p -= b * np.sin(2 * j * xi) * np.cosh(2 * j * eta)
        eta_p -= b * np.cos(2 * j * xi) * np.sinh(2 * j * eta)
    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))  # conformal latitude
    phi = chi.copy()
    for j, d in enumerate(_DELTA, start=1):
        phi += d * np.sin(2 * j * chi)
    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    return np.degrees(lam + lam0), np.degrees(phi)


# ------------------------------------------------- arbitrary-CRS seam ---
#
# The reference reprojects whatever CRS the scene GeoTIFF declares
# (LandsatInput.scala:72 hands the warp to proj4 via GeoTrellis).  The
# engine's equivalent seam: a registry of CRS RESOLVERS.  A resolver maps
# a CRS string to a (to_lnglat, from_lnglat) pair of vectorized
# transforms, or None if it does not recognize the string.  Built-ins
# cover the UTM EPSG family (closed-form Krüger above) and proj4-style
# "+proj=aea/+proj=lcc/+proj=tmerc" strings (ellipsoidal closed forms,
# Snyder, Map Projections: A Working Manual, USGS PP 1395 — public).
# ``register_crs`` plugs in anything else (a GDAL/pyproj adapter on a
# real deployment) without touching the ingest chunk kernel, which only
# ever calls mercator_to_crs / crs_to_mercator.

_RESOLVERS: list = []
_RESOLVED: dict = {}  # crs string -> (to_lnglat, from_lnglat) cache


def register_crs(resolver) -> None:
    """Add a CRS resolver: ``resolver(crs_str) -> (to_lnglat,
    from_lnglat) | None``.  Both transforms are vectorized
    ``(x, y) -> (lng_deg, lat_deg)`` / ``(lng_deg, lat_deg) -> (x, y)``.
    Later registrations win (checked first)."""
    _RESOLVERS.insert(0, resolver)
    _RESOLVED.clear()


def _utm_resolver(crs: str):
    try:
        zone, north = parse_utm_epsg(crs)
    except (ValueError, TypeError):
        return None
    return (
        lambda x, y: utm_to_lnglat(x, y, zone, north),
        lambda lng, lat: lnglat_to_utm(lng, lat, zone, north),
    )


def resolve_crs(crs: str):
    """CRS string -> (to_lnglat, from_lnglat); raises ValueError with the
    accepted families if nothing recognizes it."""
    key = str(crs)
    hit = _RESOLVED.get(key)
    if hit is not None:
        return hit
    for r in _RESOLVERS:
        hit = r(key)
        if hit is not None:
            _RESOLVED[key] = hit
            return hit
    raise ValueError(
        f"unsupported CRS {crs!r}: built-ins are EPSG:3857, UTM "
        "(EPSG:326zz/327zz) and proj4 '+proj=aea|lcc|tmerc' strings; "
        "register others via core.proj.register_crs"
    )


def is_3857(crs) -> bool:
    """Is ``crs`` Web Mercator?  A missing CRS (None or empty) is: scene
    and footprint rows without one are in EPSG:3857."""
    return not crs or str(crs).upper() in ("EPSG:3857", "3857")


def mercator_to_crs(mx, my, crs: str):
    """EPSG:3857 coords -> coords in ``crs`` (any resolvable CRS)."""
    from . import geom

    if is_3857(crs):
        return np.asarray(mx, dtype="f8"), np.asarray(my, dtype="f8")
    _, from_ll = resolve_crs(crs)
    lng, lat = geom.mercator_to_lnglat(np.asarray(mx, "f8"), np.asarray(my, "f8"))
    return from_ll(lng, lat)


def crs_to_mercator(x, y, crs: str):
    """Coords in ``crs`` -> EPSG:3857."""
    from . import geom

    if is_3857(crs):
        return np.asarray(x, dtype="f8"), np.asarray(y, dtype="f8")
    to_ll, _ = resolve_crs(crs)
    lng, lat = to_ll(np.asarray(x, "f8"), np.asarray(y, "f8"))
    return geom.lnglat_to_mercator(lng, lat)


# ---------------------------------------- conic families (ellipsoidal) ---
#
# Albers equal-area (Snyder eq. 14-19..14-21, 3-16) and Lambert
# conformal conic 2SP (Snyder eq. 15-1..15-11) on the WGS84 ellipsoid,
# vectorized.  These are the two conic families continental mosaics
# declare (CONUS Albers, national LCC grids); together with tmerc they
# make the proj4 resolver cover every CRS the Landsat/NAIP/Sentinel
# family of sources actually ships.

_E2 = _E * _E


def _q_auth(phi):
    """Authalic q(φ), Snyder 3-12."""
    s = np.sin(phi)
    return (1.0 - _E2) * (
        s / (1.0 - _E2 * s * s)
        - (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
    )


def _m_rad(phi):
    """m(φ) = cosφ/√(1−e²sin²φ), Snyder 14-15."""
    s = np.sin(phi)
    return np.cos(phi) / np.sqrt(1.0 - _E2 * s * s)


def _aea_consts(lat1, lat2, lat0):
    p1, p2, p0 = np.radians([lat1, lat2, lat0])
    m1, m2 = _m_rad(p1), _m_rad(p2)
    q1, q2, q0 = _q_auth(p1), _q_auth(p2), _q_auth(p0)
    n = (m1 * m1 - m2 * m2) / (q2 - q1) if lat1 != lat2 else np.sin(p1)
    C = m1 * m1 + n * q1
    rho0 = _A * np.sqrt(C - n * q0) / n
    return n, C, rho0


def aea_forward(lng_deg, lat_deg, lat1, lat2, lat0=0.0, lng0=0.0,
                fe=0.0, fn=0.0):
    """WGS84 Albers equal-area forward (Snyder 14-1..14-4)."""
    n, C, rho0 = _aea_consts(lat1, lat2, lat0)
    phi = np.radians(np.asarray(lat_deg, "f8"))
    theta = n * (np.radians(np.asarray(lng_deg, "f8")) - np.radians(lng0))
    rho = _A * np.sqrt(C - n * _q_auth(phi)) / n
    return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)


def aea_inverse(x, y, lat1, lat2, lat0=0.0, lng0=0.0, fe=0.0, fn=0.0):
    """WGS84 Albers inverse; φ from q by Newton iteration (Snyder 3-16)."""
    n, C, rho0 = _aea_consts(lat1, lat2, lat0)
    dx = np.asarray(x, "f8") - fe
    dy = rho0 - (np.asarray(y, "f8") - fn)
    rho = np.hypot(dx, dy)
    if n < 0:  # southern-aspect cone: angles measure from the other side
        rho, dx, dy = -rho, -dx, -dy
    theta = np.arctan2(dx, dy)
    q = (C - (rho * n / _A) ** 2) / n
    # Newton on q(φ) = q, seeded with the authalic-sphere arcsine
    phi = np.arcsin(np.clip(q / 2.0, -1.0, 1.0))
    for _ in range(8):
        s = np.sin(phi)
        one = 1.0 - _E2 * s * s
        f = (
            q / (1.0 - _E2)
            - s / one
            + (1.0 / (2.0 * _E)) * np.log((1.0 - _E * s) / (1.0 + _E * s))
        )
        phi = phi + one * one / (2.0 * np.cos(phi)) * f
    return np.degrees(np.radians(lng0) + theta / n), np.degrees(phi)


def _lcc_t(phi):
    """t(φ), Snyder 15-9."""
    s = np.sin(phi)
    return np.tan(np.pi / 4.0 - phi / 2.0) / (
        (1.0 - _E * s) / (1.0 + _E * s)
    ) ** (_E / 2.0)


def _lcc_consts(lat1, lat2, lat0):
    p1, p2, p0 = np.radians([lat1, lat2, lat0])
    t1, t2, t0 = _lcc_t(p1), _lcc_t(p2), _lcc_t(p0)
    m1, m2 = _m_rad(p1), _m_rad(p2)
    n = (
        (np.log(m1) - np.log(m2)) / (np.log(t1) - np.log(t2))
        if lat1 != lat2
        else np.sin(p1)
    )
    F = m1 / (n * t1**n)
    rho0 = _A * F * t0**n
    return n, F, rho0


def lcc_forward(lng_deg, lat_deg, lat1, lat2, lat0=0.0, lng0=0.0,
                fe=0.0, fn=0.0):
    """WGS84 Lambert conformal conic 2SP forward (Snyder 15-1..15-4)."""
    n, F, rho0 = _lcc_consts(lat1, lat2, lat0)
    phi = np.radians(np.asarray(lat_deg, "f8"))
    theta = n * (np.radians(np.asarray(lng_deg, "f8")) - np.radians(lng0))
    rho = _A * F * _lcc_t(phi) ** n
    return fe + rho * np.sin(theta), fn + rho0 - rho * np.cos(theta)


def lcc_inverse(x, y, lat1, lat2, lat0=0.0, lng0=0.0, fe=0.0, fn=0.0):
    """WGS84 LCC inverse; φ by fixed-point on Snyder 7-9 (converges in
    a handful of rounds at |φ| < 89°)."""
    n, F, rho0 = _lcc_consts(lat1, lat2, lat0)
    dx = np.asarray(x, "f8") - fe
    dy = rho0 - (np.asarray(y, "f8") - fn)
    rho = np.sign(n) * np.hypot(dx, dy)
    theta = np.arctan2(np.sign(n) * dx, np.sign(n) * dy)
    t = (rho / (_A * F)) ** (1.0 / n)
    phi = np.pi / 2.0 - 2.0 * np.arctan(t)
    for _ in range(8):
        s = _E * np.sin(phi)
        phi = np.pi / 2.0 - 2.0 * np.arctan(
            t * ((1.0 - s) / (1.0 + s)) ** (_E / 2.0)
        )
    return np.degrees(np.radians(lng0) + theta / n), np.degrees(phi)


def parse_proj4(crs: str) -> dict | None:
    """Minimal proj4-string parser: ``+proj=aea|lcc|tmerc`` with
    +lat_1/+lat_2/+lat_0/+lon_0/+x_0/+y_0/+k_0 on WGS84.  Returns the
    param dict or None if not a proj4 string."""
    s = str(crs).strip()
    if "+proj=" not in s:
        return None
    out: dict = {}
    for tok in s.split():
        if not tok.startswith("+") or "=" not in tok:
            continue
        k, v = tok[1:].split("=", 1)
        out[k] = v
    if out.get("proj") not in ("aea", "lcc", "tmerc"):
        return None
    for k in ("lat_1", "lat_2", "lat_0", "lon_0", "x_0", "y_0", "k_0", "k"):
        if k in out:
            out[k] = float(out[k])
    return out


def _proj4_resolver(crs: str):
    p = parse_proj4(crs)
    if p is None:
        return None
    proj = p["proj"]
    lat0 = p.get("lat_0", 0.0)
    lng0 = p.get("lon_0", 0.0)
    fe, fn = p.get("x_0", 0.0), p.get("y_0", 0.0)
    if proj == "tmerc":
        k0 = p.get("k_0", p.get("k", 1.0))
        return (
            lambda x, y: _tmerc_inverse(x, y, lng0, k0, fe, fn),
            lambda lng, lat: _tmerc_forward(lng, lat, lng0, k0, fe, fn),
        )
    lat1 = p.get("lat_1", lat0)
    lat2 = p.get("lat_2", lat1)
    fwd = aea_forward if proj == "aea" else lcc_forward
    inv = aea_inverse if proj == "aea" else lcc_inverse
    return (
        lambda x, y: inv(x, y, lat1, lat2, lat0, lng0, fe, fn),
        lambda lng, lat: fwd(lng, lat, lat1, lat2, lat0, lng0, fe, fn),
    )


_RESOLVERS.extend([_utm_resolver, _proj4_resolver])


def extent_to_mercator(extent, crs: str, densify: int = 16):
    """Source-CRS extent -> its EPSG:3857 envelope, via a densified
    boundary (a projected rectangle's image is curved, so corners alone
    under-cover; 16 points/edge bounds the envelope error well below one
    pixel at Landsat scene scale)."""
    if is_3857(crs):
        return tuple(float(v) for v in extent)
    xmin, ymin, xmax, ymax = (float(v) for v in extent)
    t = np.linspace(0.0, 1.0, densify + 1)
    bx = np.concatenate(
        [xmin + (xmax - xmin) * t, np.full_like(t, xmax),
         xmax - (xmax - xmin) * t, np.full_like(t, xmin)]
    )
    by = np.concatenate(
        [np.full_like(t, ymin), ymin + (ymax - ymin) * t,
         np.full_like(t, ymax), ymax - (ymax - ymin) * t]
    )
    mx, my = crs_to_mercator(bx, by, crs)
    return float(mx.min()), float(my.min()), float(mx.max()), float(my.max())


def extents_to_mercator(xmin, ymin, xmax, ymax, crs: str, densify: int = 16):
    """Vectorized :func:`extent_to_mercator` over n same-CRS extents:
    four (n,) arrays in, four (n,) arrays out."""
    xmin, ymin, xmax, ymax = (
        np.atleast_1d(np.asarray(v, dtype="f8")) for v in (xmin, ymin, xmax, ymax)
    )
    if is_3857(crs):
        return xmin, ymin, xmax, ymax
    return _envelopes(xmin, ymin, xmax, ymax, crs_to_mercator, crs, densify)


def extent_from_mercator(extent, crs: str):
    """EPSG:3857 extent -> its covering envelope in ``crs``: the inverse
    direction of :func:`extent_to_mercator`, by the same densified
    boundary."""
    if is_3857(crs):
        return tuple(float(v) for v in extent)
    env = _envelopes(
        *(np.asarray([v], dtype="f8") for v in extent), mercator_to_crs, crs
    )
    return tuple(float(v[0]) for v in env)


def _envelopes(xmin, ymin, xmax, ymax, transform, crs: str, densify: int = 16):
    """(n,) extents -> the (n,) envelopes of their boundaries under
    ``transform(x, y, crs)``.  Every extent's boundary is densified to
    ``densify + 1`` points per edge, built as one (n, 4*(densify+1))
    block and projected in a single vectorized call — no per-extent
    Python."""
    t = np.linspace(0.0, 1.0, densify + 1)  # (d,)
    d = t.size
    w, h = (xmax - xmin)[:, None], (ymax - ymin)[:, None]
    rep = lambda v: np.repeat(v[:, None], d, axis=1)  # noqa: E731
    bx = np.concatenate(
        [xmin[:, None] + w * t, rep(xmax), xmax[:, None] - w * t, rep(xmin)],
        axis=1,
    )
    by = np.concatenate(
        [rep(ymin), ymin[:, None] + h * t, rep(ymax), ymax[:, None] - h * t],
        axis=1,
    )
    mx, my = transform(bx.ravel(), by.ravel(), crs)
    mx, my = mx.reshape(bx.shape), my.reshape(by.shape)
    return mx.min(axis=1), my.min(axis=1), mx.max(axis=1), my.max(axis=1)
