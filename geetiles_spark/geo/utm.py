"""Pure-numpy WGS84 <-> UTM transverse-Mercator projection (vectorized).

The reference projects geometries between EPSG:4326 and a per-AOI UTM CRS with
pyproj (``/root/reference/geetiles/utils.py:253-270``,
``cmds.py:319,344-351``).  pyproj is not available here, so we implement the
Krüger series form of the transverse Mercator (Karney 2011, "Transverse
Mercator with an accuracy of a few nanometers") to 4th order in the third
flattening n.  For WGS84 (n ≈ 1.679e-3) the truncation error is < 1e-7 m —
far below the 5-decimal-degree rounding used by the reference's tile hashes
(``utils.py:237``).

Everything is vectorized over numpy arrays so it can run inside Arrow-batched
pandas UDFs with zero per-row Python.
"""

from __future__ import annotations

import numpy as np

# WGS84 ellipsoid
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563
K0_UTM = 0.9996
FALSE_EASTING = 500000.0
FALSE_NORTHING_SOUTH = 10000000.0

_n = F_WGS84 / (2.0 - F_WGS84)
_n2, _n3, _n4 = _n**2, _n**3, _n**4

# rectifying radius
RECT_A = A_WGS84 / (1.0 + _n) * (1.0 + _n2 / 4.0 + _n4 / 64.0)

# Krüger series coefficients (Karney 2011 eq. 35/36; Kawase 2011), order n^4.
_ALPHA = np.array(
    [
        _n / 2.0 - 2.0 / 3.0 * _n2 + 5.0 / 16.0 * _n3 + 41.0 / 180.0 * _n4,
        13.0 / 48.0 * _n2 - 3.0 / 5.0 * _n3 + 557.0 / 1440.0 * _n4,
        61.0 / 240.0 * _n3 - 103.0 / 140.0 * _n4,
        49561.0 / 161280.0 * _n4,
    ]
)
_BETA = np.array(
    [
        _n / 2.0 - 2.0 / 3.0 * _n2 + 37.0 / 96.0 * _n3 - 1.0 / 360.0 * _n4,
        1.0 / 48.0 * _n2 + 1.0 / 15.0 * _n3 - 437.0 / 1440.0 * _n4,
        17.0 / 480.0 * _n3 - 37.0 / 840.0 * _n4,
        4397.0 / 161280.0 * _n4,
    ]
)
_DELTA = np.array(
    [
        2.0 * _n - 2.0 / 3.0 * _n2 - 2.0 * _n3 + 116.0 / 45.0 * _n4,
        7.0 / 3.0 * _n2 - 8.0 / 5.0 * _n3 - 227.0 / 45.0 * _n4,
        56.0 / 15.0 * _n3 - 136.0 / 35.0 * _n4,
        4279.0 / 630.0 * _n4,
    ]
)

_E_SQRT = 2.0 * np.sqrt(_n) / (1.0 + _n)  # = 2*sqrt(n)/(1+n)


def utm_zone(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """UTM zone number(s) for lon/lat degrees.

    Mirrors pyproj ``query_utm_crs_info`` first-match behaviour
    (``utils.py:253-270``) including the Norway (32V) and Svalbard
    exceptions baked into the EPSG areas of use.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    zone = (np.floor((lon + 180.0) / 6.0).astype(np.int64) % 60) + 1
    # Norway: zone 32 extended west over 3..12E between 56N and 64N
    norway = (lat >= 56.0) & (lat < 64.0) & (lon >= 3.0) & (lon < 12.0)
    zone = np.where(norway, 32, zone)
    # Svalbard
    sval = (lat >= 72.0) & (lat < 84.0)
    zone = np.where(sval & (lon >= 0.0) & (lon < 9.0), 31, zone)
    zone = np.where(sval & (lon >= 9.0) & (lon < 21.0), 33, zone)
    zone = np.where(sval & (lon >= 21.0) & (lon < 33.0), 35, zone)
    zone = np.where(sval & (lon >= 33.0) & (lon < 42.0), 37, zone)
    return zone


def utm_epsg(lon: float, lat: float) -> int:
    """EPSG code of the UTM CRS containing (lon, lat) — 326xx N / 327xx S."""
    z = int(utm_zone(np.float64(lon), np.float64(lat)))
    return (32600 if lat >= 0 else 32700) + z


def lonlat_to_utm(
    lon: np.ndarray, lat: np.ndarray, zone: int, south: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Forward transverse Mercator: degrees -> UTM easting/northing (meters)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    lam0 = np.deg2rad(zone * 6.0 - 183.0)
    phi = np.deg2rad(lat)
    lam = np.deg2rad(lon) - lam0

    sphi = np.sin(phi)
    # conformal latitude tangent
    t = np.sinh(np.arctanh(sphi) - _E_SQRT * np.arctanh(_E_SQRT * sphi))
    xi_p = np.arctan2(t, np.cos(lam))
    eta_p = np.arcsinh(np.sin(lam) / np.sqrt(t * t + np.cos(lam) ** 2))

    xi = xi_p.copy()
    eta = eta_p.copy()
    for j in range(4):
        k = 2.0 * (j + 1)
        xi = xi + _ALPHA[j] * np.sin(k * xi_p) * np.cosh(k * eta_p)
        eta = eta + _ALPHA[j] * np.cos(k * xi_p) * np.sinh(k * eta_p)

    easting = FALSE_EASTING + K0_UTM * RECT_A * eta
    northing = K0_UTM * RECT_A * xi
    if south:
        northing = northing + FALSE_NORTHING_SOUTH
    return easting, northing


def utm_to_lonlat(
    easting: np.ndarray, northing: np.ndarray, zone: int, south: bool = False
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse transverse Mercator: UTM meters -> lon/lat degrees."""
    easting = np.asarray(easting, dtype=np.float64)
    northing = np.asarray(northing, dtype=np.float64)
    if south:
        northing = northing - FALSE_NORTHING_SOUTH
    xi = northing / (K0_UTM * RECT_A)
    eta = (easting - FALSE_EASTING) / (K0_UTM * RECT_A)

    xi_p = xi.copy()
    eta_p = eta.copy()
    for j in range(4):
        k = 2.0 * (j + 1)
        xi_p = xi_p - _BETA[j] * np.sin(k * xi) * np.cosh(k * eta)
        eta_p = eta_p - _BETA[j] * np.cos(k * xi) * np.sinh(k * eta)

    chi = np.arcsin(np.sin(xi_p) / np.cosh(eta_p))
    phi = chi.copy()
    for j in range(4):
        k = 2.0 * (j + 1)
        phi = phi + _DELTA[j] * np.sin(k * chi)

    lam = np.arctan2(np.sinh(eta_p), np.cos(xi_p))
    lam0 = np.deg2rad(zone * 6.0 - 183.0)
    return np.rad2deg(lam + lam0), np.rad2deg(phi)
