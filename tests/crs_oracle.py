"""Independent numpy oracles for the EPSG:3857 and UTM projections.

Hand-written against fixed WGS84 constants, separately from the
``crs_conic`` ops-shim formulas the engine runs
(:class:`~geowave_spark.crs_conic.MercatorSpherical`,
:class:`~geowave_spark.crs_conic.TransverseMercatorGeneric`), so the
tests compare two implementations rather than one against itself.

UTM is the Krüger n-series to n⁴ (Karney 2011, "Transverse Mercator
with an accuracy of a few nanometers"; coefficients also in IOGP
Guidance Note 7-2).
"""

import math

import numpy as np

A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563

# third flattening and rectifying radius (Krüger)
N = F_WGS84 / (2.0 - F_WGS84)
A1 = A_WGS84 / (1.0 + N) * (1.0 + N**2 / 4.0 + N**4 / 64.0)

# forward series α, inverse series β, conformal→geodetic series δ
ALPHA = (
    N / 2.0 - 2.0 * N**2 / 3.0 + 5.0 * N**3 / 16.0 + 41.0 * N**4 / 180.0,
    13.0 * N**2 / 48.0 - 3.0 * N**3 / 5.0 + 557.0 * N**4 / 1440.0,
    61.0 * N**3 / 240.0 - 103.0 * N**4 / 140.0,
    49561.0 * N**4 / 161280.0,
)
BETA = (
    N / 2.0 - 2.0 * N**2 / 3.0 + 37.0 * N**3 / 96.0 - N**4 / 360.0,
    N**2 / 48.0 + N**3 / 15.0 - 437.0 * N**4 / 1440.0,
    17.0 * N**3 / 480.0 - 37.0 * N**4 / 840.0,
    4397.0 * N**4 / 161280.0,
)
DELTA = (
    2.0 * N - 2.0 * N**2 / 3.0 - 2.0 * N**3 + 116.0 * N**4 / 45.0,
    7.0 * N**2 / 3.0 - 8.0 * N**3 / 5.0 - 227.0 * N**4 / 45.0,
    56.0 * N**3 / 15.0 + 136.0 * N**4 / 35.0,
    4279.0 * N**4 / 630.0,
)

K0_UTM = 0.9996
FE_UTM = 500000.0
# eccentricity term used by the conformal-latitude forward step
E2N = 2.0 * math.sqrt(N) / (1.0 + N)

# EPSG:3857's latitude domain: atan(sinh(π)); poles lie outside it
WEB_MERCATOR_MAX_LAT = math.degrees(math.atan(math.sinh(math.pi)))


def webmerc_forward(lon, lat):
    d2r = math.pi / 180.0
    lat_c = np.clip(lat, -WEB_MERCATOR_MAX_LAT, WEB_MERCATOR_MAX_LAT)
    return (
        lon * d2r * A_WGS84,
        np.log(np.tan(math.pi / 4.0 + lat_c * d2r / 2.0)) * A_WGS84,
    )


def webmerc_inverse(x, y):
    return (
        np.degrees(x / A_WGS84),
        np.degrees(2.0 * np.arctan(np.exp(y / A_WGS84)) - math.pi / 2.0),
    )


def utm_forward(lon, lat, lon0, fn):
    """(lon°, lat°) → UTM (E, N) for central meridian ``lon0``° and
    false northing ``fn`` (0 north, 10 000 000 south)."""
    phi = np.radians(lat)
    lam = np.radians(lon - lon0)
    sphi = np.sin(phi)
    t = np.sinh(np.arctanh(sphi) - E2N * np.arctanh(E2N * sphi))
    xi = np.arctan2(t, np.cos(lam))
    eta = np.arctanh(np.sin(lam) / np.sqrt(1.0 + t * t))
    xs, es = xi.copy(), eta.copy()
    for j, a in enumerate(ALPHA, start=1):
        xs += a * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        es += a * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    return FE_UTM + K0_UTM * A1 * es, fn + K0_UTM * A1 * xs


def utm_inverse(x, y, lon0, fn):
    xi = (y - fn) / (K0_UTM * A1)
    eta = (x - FE_UTM) / (K0_UTM * A1)
    xp, ep = xi.copy(), eta.copy()
    for j, b in enumerate(BETA, start=1):
        xp -= b * np.sin(2.0 * j * xi) * np.cosh(2.0 * j * eta)
        ep -= b * np.cos(2.0 * j * xi) * np.sinh(2.0 * j * eta)
    chi = np.arcsin(np.sin(xp) / np.cosh(ep))
    phi = chi.copy()
    for j, d in enumerate(DELTA, start=1):
        phi += d * np.sin(2.0 * j * chi)
    lam = np.arctan2(np.sinh(ep), np.cos(xp))
    return lon0 + np.degrees(lam), np.degrees(phi)
