"""Minimal pure-numpy CRS transforms (WGS84 geodetic <-> UTM <-> Web
Mercator).

The reference delegates coordinate transforms to GDAL/osr
(reproj.py:221-234, corner reprojection). This engine uses neither
GDAL nor pyproj: every reprojection goes through ``make_transform``,
and the supported-CRS subset (EPSG:4326, EPSG:3857 and WGS84 UTM zones
EPSG:326zz/327zz) is implemented directly from public definitions: the
USGS ellipsoidal Transverse Mercator series (Snyder, *Map Projections —
A Working Manual*, USGS PP 1395, pp. 60-64) and the spherical
Pseudo-Mercator formulas of EPSG:3857. Accuracy within a zone is
sub-millimeter — far below raster resolution.

Everything is vectorized over numpy arrays so the same functions serve
driver-side corner envelopes (P10) and the per-pixel index maps of the
cross-CRS warp kernel. Axis order is ALWAYS (x, y) = (easting/lon,
northing/lat) — the P11 axis-swap guard (reference reproj.py:264-271)
by construction.
"""

from __future__ import annotations

import numpy as np

# WGS84
A = 6378137.0
F = 1.0 / 298.257223563
E2 = F * (2.0 - F)
EP2 = E2 / (1.0 - E2)
K0 = 0.9996
FE = 500000.0

_M1 = 1 - E2 / 4 - 3 * E2**2 / 64 - 5 * E2**3 / 256
_M2 = 3 * E2 / 8 + 3 * E2**2 / 32 + 45 * E2**3 / 1024
_M3 = 15 * E2**2 / 256 + 45 * E2**3 / 1024
_M4 = 35 * E2**3 / 3072
_E1 = (1 - np.sqrt(1 - E2)) / (1 + np.sqrt(1 - E2))


class MoaCrsError(Exception):
    pass


def parse_epsg(crs: str | int) -> int:
    if isinstance(crs, int):
        return crs
    s = str(crs).strip().upper()
    if s.startswith("EPSG:"):
        s = s[5:]
    if not s.isdigit():
        raise MoaCrsError(f"unsupported CRS spec: {crs!r} (EPSG codes only)")
    return int(s)


def utm_params(epsg: int) -> tuple[float, float] | None:
    """(central meridian radians, false northing) for WGS84 UTM codes;
    None if the code is not a UTM zone."""
    if 32601 <= epsg <= 32660:
        zone, fn = epsg - 32600, 0.0
    elif 32701 <= epsg <= 32760:
        zone, fn = epsg - 32700, 10000000.0
    else:
        return None
    lon0 = np.deg2rad(zone * 6 - 183)
    return lon0, fn


def merc_forward(lon_deg, lat_deg):
    """Geodetic degrees -> EPSG:3857 Web ("Pseudo") Mercator meters.
    Spherical Mercator on the WGS84 semi-major axis — the published
    definition (no ellipsoidal correction, by design of the CRS)."""
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    return A * lam, A * np.log(np.tan(np.pi / 4 + phi / 2))


def merc_inverse(x, y):
    """EPSG:3857 meters -> geodetic degrees."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lam = x / A
    phi = 2.0 * np.arctan(np.exp(y / A)) - np.pi / 2
    return np.rad2deg(lam), np.rad2deg(phi)


def _meridian_arc(phi):
    return A * (
        _M1 * phi
        - _M2 * np.sin(2 * phi)
        + _M3 * np.sin(4 * phi)
        - _M4 * np.sin(6 * phi)
    )


def tm_forward(lon_deg, lat_deg, lon0: float, fn: float):
    """Geodetic degrees -> TM easting/northing (Snyder eqs. 8-9..8-13)."""
    phi = np.deg2rad(np.asarray(lat_deg, dtype=np.float64))
    lam = np.deg2rad(np.asarray(lon_deg, dtype=np.float64))
    sin_p, cos_p, tan_p = np.sin(phi), np.cos(phi), np.tan(phi)
    n = A / np.sqrt(1 - E2 * sin_p**2)
    t = tan_p**2
    c = EP2 * cos_p**2
    a_ = (lam - lon0) * cos_p
    m = _meridian_arc(phi)
    x = FE + K0 * n * (
        a_
        + (1 - t + c) * a_**3 / 6
        + (5 - 18 * t + t**2 + 72 * c - 58 * EP2) * a_**5 / 120
    )
    y = fn + K0 * (
        m
        + n * tan_p * (
            a_**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * a_**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * EP2) * a_**6 / 720
        )
    )
    return x, y


def tm_inverse(x, y, lon0: float, fn: float):
    """TM easting/northing -> geodetic degrees (Snyder eqs. 8-17..8-25)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    m = (y - fn) / K0
    mu = m / (A * _M1)
    phi1 = (
        mu
        + (3 * _E1 / 2 - 27 * _E1**3 / 32) * np.sin(2 * mu)
        + (21 * _E1**2 / 16 - 55 * _E1**4 / 32) * np.sin(4 * mu)
        + (151 * _E1**3 / 96) * np.sin(6 * mu)
        + (1097 * _E1**4 / 512) * np.sin(8 * mu)
    )
    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = EP2 * cos1**2
    t1 = tan1**2
    n1 = A / np.sqrt(1 - E2 * sin1**2)
    r1 = A * (1 - E2) / (1 - E2 * sin1**2) ** 1.5
    d = (x - FE) / (n1 * K0)
    phi = phi1 - (n1 * tan1 / r1) * (
        d**2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1**2 - 9 * EP2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1**2 - 252 * EP2 - 3 * c1**2)
        * d**6
        / 720
    )
    lam = lon0 + (
        d
        - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1**2 + 8 * EP2 + 24 * t1**2) * d**5 / 120
    ) / cos1
    return np.rad2deg(lam), np.rad2deg(phi)


def _unsupported(epsg: int) -> MoaCrsError:
    return MoaCrsError(
        f"EPSG:{epsg} not in the built-in subset (4326, 3857, WGS84 UTM "
        "326zz/327zz), the only CRSes reprojection supports (pyproj is not used)"
    )


def make_transform(src_crs: str | int, dst_crs: str | int):
    """Vectorized (x, y) -> (x', y') between two supported CRSes.
    Raises MoaCrsError for unsupported codes."""
    src, dst = parse_epsg(src_crs), parse_epsg(dst_crs)
    if src == dst:
        # identity — valid for ANY code, including ones outside the
        # built-in subset (no actual transform is needed)
        return lambda x, y: (np.asarray(x, np.float64), np.asarray(y, np.float64))

    def to_geodetic(epsg):
        if epsg == 4326:
            return lambda x, y: (np.asarray(x, np.float64), np.asarray(y, np.float64))
        if epsg == 3857:
            return merc_inverse
        p = utm_params(epsg)
        if p is None:
            raise _unsupported(epsg)
        return lambda x, y: tm_inverse(x, y, p[0], p[1])

    def from_geodetic(epsg):
        if epsg == 4326:
            return lambda lon, lat: (np.asarray(lon, np.float64), np.asarray(lat, np.float64))
        if epsg == 3857:
            return merc_forward
        p = utm_params(epsg)
        if p is None:
            raise _unsupported(epsg)
        return lambda lon, lat: tm_forward(lon, lat, p[0], p[1])

    inv = to_geodetic(src)
    fwd = from_geodetic(dst)

    def transform(x, y):
        lon, lat = inv(x, y)
        return fwd(lon, lat)

    return transform


# ---------------------------------------------------------------------------
# SQL renderers: the SAME series as lateral-alias column chains, so a
# DuckDB oracle can replay the warp per-pixel. Constants are emitted
# with full double precision from the definitions above; trig ops map
# 1:1 (sin/cos/tan/sqrt/pow), so any engine/libm divergence is a few
# ulps — orders of magnitude below the pixel-index floor boundaries.
# ---------------------------------------------------------------------------

DEG2RAD = float(np.deg2rad(1.0))
RAD2DEG = float(np.rad2deg(1.0))

_D1 = 3 * _E1 / 2 - 27 * _E1**3 / 32
_D2 = 21 * _E1**2 / 16 - 55 * _E1**4 / 32
_D3 = 151 * _E1**3 / 96
_D4 = 1097 * _E1**4 / 512


def tm_inverse_sql(x_expr: str, y_expr: str, epsg: int, p: str = "q"):
    """Column-step list computing geodetic DEGREES (p_lon, p_lat) from
    TM coords — mirror of tm_inverse. Returns (steps, lon_alias,
    lat_alias); steps are 'expr AS alias' strings relying on DuckDB
    lateral column aliases."""
    lon0, fn = utm_params(epsg)
    s = [
        f"(({y_expr}) - {fn!r}) / {K0!r} / {A * _M1!r} AS {p}_mu",
        f"{p}_mu + {_D1!r}*sin(2*{p}_mu) + {_D2!r}*sin(4*{p}_mu)"
        f" + {_D3!r}*sin(6*{p}_mu) + {_D4!r}*sin(8*{p}_mu) AS {p}_phi1",
        f"sin({p}_phi1) AS {p}_sin1",
        f"cos({p}_phi1) AS {p}_cos1",
        f"tan({p}_phi1) AS {p}_tan1",
        f"{EP2!r} * {p}_cos1 * {p}_cos1 AS {p}_c1",
        f"{p}_tan1 * {p}_tan1 AS {p}_t1",
        f"{A!r} / sqrt(1 - {E2!r}*{p}_sin1*{p}_sin1) AS {p}_n1",
        f"{A * (1 - E2)!r} / pow(1 - {E2!r}*{p}_sin1*{p}_sin1, 1.5) AS {p}_r1",
        f"(({x_expr}) - {FE!r}) / ({p}_n1 * {K0!r}) AS {p}_d",
        f"{p}_phi1 - ({p}_n1*{p}_tan1/{p}_r1) * ("
        f"{p}_d*{p}_d/2"
        f" - (5 + 3*{p}_t1 + 10*{p}_c1 - 4*{p}_c1*{p}_c1 - {9 * EP2!r})"
        f"*pow({p}_d, 4)/24"
        f" + (61 + 90*{p}_t1 + 298*{p}_c1 + 45*{p}_t1*{p}_t1 - {252 * EP2!r}"
        f" - 3*{p}_c1*{p}_c1)*pow({p}_d, 6)/720) AS {p}_phi",
        f"{lon0!r} + ({p}_d - (1 + 2*{p}_t1 + {p}_c1)*pow({p}_d, 3)/6"
        f" + (5 - 2*{p}_c1 + 28*{p}_t1 - 3*{p}_c1*{p}_c1 + {8 * EP2!r}"
        f" + 24*{p}_t1*{p}_t1)*pow({p}_d, 5)/120) / {p}_cos1 AS {p}_lam",
        f"{p}_lam * {RAD2DEG!r} AS {p}_lon",
        f"{p}_phi * {RAD2DEG!r} AS {p}_lat",
    ]
    return s, f"{p}_lon", f"{p}_lat"


def tm_forward_sql(lon_expr: str, lat_expr: str, epsg: int, p: str = "r"):
    """Column-step list computing TM coords (p_x, p_y) from geodetic
    DEGREES — mirror of tm_forward. Returns (steps, x_alias, y_alias)."""
    lon0, fn = utm_params(epsg)
    s = [
        f"({lat_expr}) * {DEG2RAD!r} AS {p}_phi",
        f"({lon_expr}) * {DEG2RAD!r} AS {p}_lam",
        f"sin({p}_phi) AS {p}_sin",
        f"cos({p}_phi) AS {p}_cos",
        f"tan({p}_phi) AS {p}_tan",
        f"{A!r} / sqrt(1 - {E2!r}*{p}_sin*{p}_sin) AS {p}_n",
        f"{p}_tan * {p}_tan AS {p}_t",
        f"{EP2!r} * {p}_cos * {p}_cos AS {p}_c",
        f"({p}_lam - {lon0!r}) * {p}_cos AS {p}_a",
        f"{A!r} * ({_M1!r}*{p}_phi - {_M2!r}*sin(2*{p}_phi)"
        f" + {_M3!r}*sin(4*{p}_phi) - {_M4!r}*sin(6*{p}_phi)) AS {p}_m",
        f"{FE!r} + {K0!r}*{p}_n*({p}_a + (1 - {p}_t + {p}_c)*pow({p}_a, 3)/6"
        f" + (5 - 18*{p}_t + {p}_t*{p}_t + 72*{p}_c - {58 * EP2!r})"
        f"*pow({p}_a, 5)/120) AS {p}_x",
        f"{fn!r} + {K0!r}*({p}_m + {p}_n*{p}_tan*({p}_a*{p}_a/2"
        f" + (5 - {p}_t + 9*{p}_c + 4*{p}_c*{p}_c)*pow({p}_a, 4)/24"
        f" + (61 - 58*{p}_t + {p}_t*{p}_t + 600*{p}_c - {330 * EP2!r})"
        f"*pow({p}_a, 6)/720)) AS {p}_y",
    ]
    return s, f"{p}_x", f"{p}_y"


def merc_forward_sql(lon_expr: str, lat_expr: str, p: str = "w"):
    """Column-step list computing EPSG:3857 (p_x, p_y) from geodetic
    DEGREES — mirror of merc_forward."""
    s = [
        f"({lon_expr}) * {DEG2RAD!r} * {A!r} AS {p}_x",
        f"{A!r} * ln(tan({np.pi / 4!r} + ({lat_expr}) * {DEG2RAD!r} / 2)) AS {p}_y",
    ]
    return s, f"{p}_x", f"{p}_y"


def merc_inverse_sql(x_expr: str, y_expr: str, p: str = "v"):
    """Column-step list computing geodetic DEGREES (p_lon, p_lat) from
    EPSG:3857 — mirror of merc_inverse."""
    s = [
        f"({x_expr}) / {A!r} * {RAD2DEG!r} AS {p}_lon",
        f"(2 * atan(exp(({y_expr}) / {A!r})) - {np.pi / 2!r}) * {RAD2DEG!r} AS {p}_lat",
    ]
    return s, f"{p}_lon", f"{p}_lat"
