"""Coordinate reference system transforms — Catalyst-native.

Reference parity: the reference runs its KDE / raster-resize pipeline in
a custom CRS (test/.../CustomCRSKDERasterResizeIT.java:88-89) and
reprojects raster coverage envelopes into the index CRS on ingest
(core/geotime/.../RasterDataAdapter.java:444-550, via geotools).  No
geotools/pyproj/GDAL exists in this container: this module resolves CRS
strings to :mod:`crs_conic` projections, which write every published
formula once against an ops shim, and evaluates them as pure
``pyspark.sql.functions`` column expressions (JVM-side, whole-stage
codegen, zero Python in the hot path) or as numpy (driver-side envelope
densification).

Supported CRS strings:

* ``EPSG:4326`` — lon/lat WGS84 (identity; the engine's index CRS)
* ``EPSG:3857`` — WGS84 spherical web mercator (``MercatorSpherical``)
* ``EPSG:326zz`` / ``EPSG:327zz`` — UTM zone zz north / south: WGS84
  ``TransverseMercatorGeneric`` (Krüger n⁴, well under a millimeter
  inside the zone — the reference's geotools ``lenient=true``
  tolerance), k₀ = 0.9996, FE = 500 000 m, FN = 0 / 10 000 000 m
* any :func:`crs_conic.resolve` code or ``+proj=`` string: LCC, Albers,
  LAEA, ellipsoidal Mercator, generic TM, polar stereographic, and
  datum-shifted (Helmert) codes
"""

from __future__ import annotations

import functools
import math
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import crs_conic

# WGS84 ellipsoid
A_WGS84 = 6378137.0
F_WGS84 = 1.0 / 298.257223563

WEB_MERCATOR_EXTENT = A_WGS84 * math.pi  # 20037508.342789244

_UTM_RE = re.compile(r"^EPSG:32([67])(\d\d)$")


@functools.lru_cache(maxsize=256)
def _parse(crs: str):
    """→ (kind, proj, area).  ``proj`` is the :mod:`crs_conic` projection
    that holds every formula (None for lon/lat); ``kind`` ("lonlat" |
    "webmerc" | "utm" | "ext") and the lon/lat ``area`` of use only pick
    :func:`crs_extent`'s rule.  Cached: extension parsing tokenizes a
    proj string and precomputes transcendental scalar constants, and
    driver planning loops (warp block plans) call transform_np thousands
    of times."""
    c = crs.upper().replace(" ", "")
    if c in ("EPSG:4326", "CRS:84", "WGS84"):
        return ("lonlat", None, None)
    if c in ("EPSG:3857", "EPSG:900913"):
        return ("webmerc", crs_conic.MercatorSpherical(A_WGS84, 0.0, 0.0, 0.0, 0.0, c), None)
    m = _UTM_RE.match(c)
    if m:
        zone = int(m.group(2))
        if not 1 <= zone <= 60:
            raise ValueError(f"bad UTM zone in {crs}")
        lon0 = -183.0 + 6.0 * zone
        fn = 10000000.0 if m.group(1) == "7" else 0.0
        proj = crs_conic.TransverseMercatorGeneric(
            A_WGS84, F_WGS84, 0.0, math.radians(lon0), 500000.0, fn, k0=0.9996, name=c
        )
        return ("utm", proj, (lon0 - 3.0, -80.0, lon0 + 3.0, 84.0))
    ext = crs_conic.resolve(crs)
    if ext is not None:
        return ("ext", ext[0], ext[1])
    raise ValueError(
        f"unsupported CRS {crs!r} (EPSG:4326, EPSG:3857, EPSG:326xx/327xx, "
        f"a crs_conic EPSG registry code, or a +proj= string)"
    )


def crs_extent(crs: str) -> tuple[float, float, float, float]:
    """Full valid (minx, miny, maxx, maxy) of the CRS plane — the KDE /
    tile grid extent (mirrors the reference's CRS-bounds-driven grid)."""
    kind, _, area = _parse(crs)
    if kind == "lonlat":
        return (-180.0, -90.0, 180.0, 90.0)
    if kind == "webmerc":
        e = WEB_MERCATOR_EXTENT
        return (-e, -e, e, e)
    if kind == "ext":
        # extension CRS: the registry's area-of-use bbox projected.
        # densify=181 (2° steps): polar caps trace a full circle along
        # one lon/lat edge, and coarse sampling would undercut its bbox
        # radius by up to cos(half-step)
        return reproject_envelope(area, "EPSG:4326", crs, densify=181)
    # UTM: the official zone box (6° wide, 84N..80S) projected
    west, south, east, north = area
    lon0 = (west + east) / 2.0
    xs, ys = transform_np(
        np.array([west, east, lon0, lon0]),
        np.array([0.0, 0.0, south, north]),
        "EPSG:4326",
        crs,
    )
    return (float(xs.min()), float(ys[2]), float(xs.max()), float(ys[3]))


# --------------------------------------------------------------------------
# Catalyst expressions
# --------------------------------------------------------------------------


def _arrow_transform_cols(proj, a: Column, b: Column, inverse: bool) -> tuple[Column, Column]:
    """Datum-shifted transforms as ONE Arrow-batched numpy evaluation.

    Inlined as a Catalyst expression, a DatumShifted chain (geodetic→
    geocentric→Helmert→geodetic→projection) duplicates its subtree at
    every reuse point (expressions have no let-binding); inside KDE
    binning the generated code outgrew janino (measured OutOfMemoryError
    on KDE + EPSG:23032).  One vectorized pandas UDF returning a struct
    evaluates the numpy backend once per Arrow batch; both output columns
    read fields of that same call, on the same parse-time literals."""

    @F.pandas_udf("x double, y double")
    def _tx(u: pd.Series, v: pd.Series) -> pd.DataFrame:
        fn = proj.inverse if inverse else proj.forward
        X, Y = fn(crs_conic.NUMPY_OPS, u.to_numpy(np.float64), v.to_numpy(np.float64))
        return pd.DataFrame({"x": X, "y": Y})

    out = _tx(a, b)
    return out.getField("x"), out.getField("y")


def _transform_cols(crs: str, a: Column | str, b: Column | str, inverse: bool):
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    proj = _parse(crs)[1]
    if proj is None:
        return a, b
    if isinstance(proj, crs_conic.DatumShifted):
        return _arrow_transform_cols(proj, a, b, inverse)
    return (proj.inverse if inverse else proj.forward)(crs_conic.CATALYST_OPS, a, b)


def forward_cols(crs: str, lon: Column | str, lat: Column | str) -> tuple[Column, Column]:
    """(lon°, lat°) → projected (x, y) as Catalyst columns."""
    return _transform_cols(crs, lon, lat, inverse=False)


def inverse_cols(crs: str, x: Column | str, y: Column | str) -> tuple[Column, Column]:
    """projected (x, y) → (lon°, lat°) as Catalyst columns."""
    return _transform_cols(crs, x, y, inverse=True)


def transform_df(
    df: DataFrame,
    src: str,
    dst: str,
    x: str = "lon",
    y: str = "lat",
    out_x: str = "x",
    out_y: str = "y",
) -> DataFrame:
    """Add columns ``out_x/out_y`` = ``(x, y)`` reprojected src → dst.
    Pure column expressions; the scan's pushed filters and pruning are
    untouched."""
    lon, lat = inverse_cols(src, x, y)
    px, py = forward_cols(dst, lon, lat)
    return df.withColumn(out_x, px).withColumn(out_y, py)


# --------------------------------------------------------------------------
# numpy (driver-side envelopes and metadata)
# --------------------------------------------------------------------------


def _transform_arrays(crs: str, a: np.ndarray, b: np.ndarray, inverse: bool):
    proj = _parse(crs)[1]
    if proj is None:
        return a.copy(), b.copy()
    return (proj.inverse if inverse else proj.forward)(crs_conic.NUMPY_OPS, a, b)


def transform_np(
    x: np.ndarray, y: np.ndarray, src: str, dst: str
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized numpy reprojection src → dst (driver-side metadata and
    oracle use; the distributed path is :func:`transform_df`)."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    lon, lat = _transform_arrays(src, x, y, inverse=True)
    return _transform_arrays(dst, lon, lat, inverse=False)


def reproject_envelope(
    bounds: tuple[float, float, float, float],
    src: str,
    dst: str,
    densify: int = 21,
) -> tuple[float, float, float, float]:
    """Envelope src → dst by densified boundary sampling — the geotools
    ``ReferencedEnvelope.transform(…, true)`` behavior the reference uses
    for raster ingest (RasterDataAdapter.convertToIndex): project
    ``densify`` points along each edge and take the bbox, so curved edges
    (e.g. UTM ↔ lon/lat) don't under-cover."""
    minx, miny, maxx, maxy = bounds
    ts = np.linspace(0.0, 1.0, densify)
    edges_x = np.concatenate(
        [
            minx + ts * (maxx - minx),  # bottom
            minx + ts * (maxx - minx),  # top
            np.full(densify, minx),  # left
            np.full(densify, maxx),  # right
        ]
    )
    edges_y = np.concatenate(
        [
            np.full(densify, miny),
            np.full(densify, maxy),
            miny + ts * (maxy - miny),
            miny + ts * (maxy - miny),
        ]
    )
    px, py = transform_np(edges_x, edges_y, src, dst)
    return (float(px.min()), float(py.min()), float(px.max()), float(py.max()))
