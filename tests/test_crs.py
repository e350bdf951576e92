"""CRS transform tests — web mercator known vectors, the engine's shim
formulas against the hand-written oracles in crs_oracle.py, Krüger-vs-
Snyder independent series cross-check, round trips, envelope
densification, and Catalyst/numpy backend agreement
(CustomCRSKDERasterResizeIT analog)."""

import crs_oracle
import numpy as np
import pytest
from pyspark.sql import functions as F

from geowave_spark.crs import (
    A_WGS84,
    F_WGS84,
    WEB_MERCATOR_EXTENT,
    _parse,
    crs_extent,
    forward_cols,
    inverse_cols,
    reproject_envelope,
    transform_df,
    transform_np,
)


def test_web_mercator_known_vectors():
    lon = np.array([0.0, 180.0, -180.0, 20.0])
    lat = np.array([0.0, 0.0, 0.0, 0.0])
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:3857")
    assert x[0] == 0.0 and y[0] == 0.0
    # the canonical web-mercator extent constant
    assert abs(x[1] - 20037508.342789244) < 1e-6
    assert abs(x[2] + 20037508.342789244) < 1e-6
    # the web-mercator "square world" latitude maps to +extent
    _, ytop = transform_np(np.array([0.0]), np.array([85.05112877980659]), "EPSG:4326", "EPSG:3857")
    assert abs(ytop[0] - WEB_MERCATOR_EXTENT) < 1e-5
    assert abs(WEB_MERCATOR_EXTENT - 20037508.342789244) < 1e-6
    # the shim's op order is the hand-written oracle's, clamp included
    lon = np.array([-179.5, -20.0, 0.0, 33.3, 179.9, 10.0, -10.0])
    lat = np.array([-84.9, 12.5, 85.06, -89.0, 90.0, -90.0, 60.0])
    got = transform_np(lon, lat, "EPSG:4326", "EPSG:3857")
    np.testing.assert_array_equal(got, crs_oracle.webmerc_forward(lon, lat))
    back = transform_np(*got, "EPSG:3857", "EPSG:4326")
    np.testing.assert_array_equal(back, crs_oracle.webmerc_inverse(*got))


def test_rectifying_radius_constant():
    # A = a/(1+n)(1+n²/4+n⁴/64) for WGS84 is the published 6367449.1458 m,
    # in the hand-written oracle and in the engine's UTM projection alike
    assert abs(crs_oracle.A1 - 6367449.145823415) < 1e-3
    assert abs(_parse("EPSG:32631")[1].A1 - crs_oracle.A1) < 1e-6


def _snyder_utm_forward(lon, lat, lon0, fn):
    """Independent transverse-mercator forward — Snyder, 'Map Projections:
    A Working Manual' (USGS PP 1395), eqs. 8-9..8-15 / 3-21: a different
    published series (powers of e² with ν/T/C/A terms) than the Krüger
    n-series in geowave_spark.crs_conic."""
    a = A_WGS84
    f = F_WGS84
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    k0 = 0.9996
    phi = np.radians(lat)
    lam = np.radians(lon - lon0)
    sin_phi, cos_phi, tan_phi = np.sin(phi), np.cos(phi), np.tan(phi)
    N = a / np.sqrt(1 - e2 * sin_phi**2)
    T = tan_phi**2
    C = ep2 * cos_phi**2
    A = lam * cos_phi
    M = a * (
        (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
        - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * np.sin(2 * phi)
        + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * np.sin(4 * phi)
        - (35 * e2**3 / 3072) * np.sin(6 * phi)
    )
    x = k0 * N * (
        A
        + (1 - T + C) * A**3 / 6
        + (5 - 18 * T + T**2 + 72 * C - 58 * ep2) * A**5 / 120
    )
    y = k0 * (
        M
        + N
        * tan_phi
        * (
            A**2 / 2
            + (5 - T + 9 * C + 4 * C**2) * A**4 / 24
            + (61 - 58 * T + T**2 + 600 * C - 330 * ep2) * A**6 / 720
        )
    )
    return 500000.0 + x, fn + y


def test_utm_kruger_matches_snyder_series():
    rng = np.random.default_rng(11)
    lon = 3.0 + rng.uniform(-2.9, 2.9, 200)  # zone 31N (lon0 = 3°E)
    lat = rng.uniform(-75.0, 80.0, 200)
    xk, yk = transform_np(lon, lat, "EPSG:4326", "EPSG:32631")
    xs, ys = _snyder_utm_forward(lon, lat, 3.0, 0.0)
    # two independent published series: agree to a few mm inside the zone
    # (Snyder's A^6 truncation dominates the residual at high |lat|·|λ−λ0|)
    assert np.max(np.abs(xk - xs)) < 5e-3
    assert np.max(np.abs(yk - ys)) < 5e-3


def test_utm_central_meridian_and_equator():
    x, y = transform_np(np.array([3.0]), np.array([0.0]), "EPSG:4326", "EPSG:32631")
    assert abs(x[0] - 500000.0) < 1e-9
    assert abs(y[0]) < 1e-9
    # south zone adds the 10,000 km false northing
    xs, ys = transform_np(np.array([3.0]), np.array([0.0]), "EPSG:4326", "EPSG:32731")
    assert abs(ys[0] - 10000000.0) < 1e-9
    # meridian scale factor: meridian arc × k0
    x1, y1 = transform_np(np.array([3.0, 3.0]), np.array([45.0, 45.001]), "EPSG:4326", "EPSG:32631")
    # geodesic meridian distance for 0.001° at 45° ≈ 111.131 m; on the grid × 0.9996
    assert abs((y1[1] - y1[0]) / 111.1318 / 0.9996 - 1.0) < 1e-4


@pytest.mark.parametrize("crs", ["EPSG:3857", "EPSG:32631", "EPSG:32733"])
def test_round_trip_numpy(crs):
    rng = np.random.default_rng(4)
    if crs == "EPSG:3857":
        lon = rng.uniform(-179, 179, 300)
        lat = rng.uniform(-85, 85, 300)
    else:
        zone = int(crs[-2:])
        lon0 = -183.0 + 6 * zone
        lon = lon0 + rng.uniform(-2.99, 2.99, 300)
        lat = rng.uniform(-79, 83, 300)
    x, y = transform_np(lon, lat, "EPSG:4326", crs)
    lon2, lat2 = transform_np(x, y, crs, "EPSG:4326")
    assert np.max(np.abs(lon2 - lon)) < 1e-8
    assert np.max(np.abs(lat2 - lat)) < 1e-8


def test_catalyst_matches_numpy_twins(spark):
    import pandas as pd

    rng = np.random.default_rng(9)
    # random points plus the web-mercator clamp edges and the poles
    edge = np.array([85.06, -85.06, 89.0, -89.0, 90.0, -90.0])
    lon = np.concatenate([rng.uniform(-179, 179, 500), np.linspace(-170, 170, 6)])
    lat = np.concatenate([rng.uniform(-84, 84, 500), edge])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat}))
    for crs in ("EPSG:3857", "EPSG:32615", "EPSG:32733"):
        out = transform_df(df, "EPSG:4326", crs).orderBy("i").toPandas()
        xs, ys = transform_np(lon, lat, "EPSG:4326", crs)
        # same IEEE formulas, JVM vs numpy: essentially bit-identical
        np.testing.assert_allclose(out["x"].to_numpy(), xs, rtol=1e-13, atol=1e-6)
        np.testing.assert_allclose(out["y"].to_numpy(), ys, rtol=1e-13, atol=1e-6)
        if crs == "EPSG:3857":  # the clamp: beyond ±85.0511° y is ±a·π
            np.testing.assert_allclose(
                out["y"].to_numpy()[-6:], np.sign(edge) * WEB_MERCATOR_EXTENT, rtol=1e-12
            )
    # ... and a null latitude stays null instead of clamping to an edge
    nul = spark.createDataFrame([(None,)], "lat double")
    assert tuple(nul.select(*forward_cols("EPSG:3857", F.lit(0.0), "lat")).first()) == (0.0, None)


def test_inverse_cols_catalyst(spark):
    import pandas as pd

    rng = np.random.default_rng(3)
    lon = 3.0 + rng.uniform(-2.9, 2.9, 100)
    lat = rng.uniform(-70, 70, 100)
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:32631")
    df = spark.createDataFrame(pd.DataFrame({"x": x, "y": y, "i": np.arange(100)}))
    lo, la = inverse_cols("EPSG:32631", "x", "y")
    out = df.select("i", lo.alias("lon"), la.alias("lat")).orderBy("i").toPandas()
    np.testing.assert_allclose(out["lon"], lon, atol=1e-9)
    np.testing.assert_allclose(out["lat"], lat, atol=1e-9)


def test_reproject_envelope_covers_interior():
    # a lon/lat box through a UTM zone: every interior point's projection
    # must fall inside the densified envelope (geotools transform(…, true))
    box = (0.5, 40.0, 5.5, 55.0)
    env = reproject_envelope(box, "EPSG:4326", "EPSG:32631")
    rng = np.random.default_rng(7)
    lon = rng.uniform(box[0], box[2], 2000)
    lat = rng.uniform(box[1], box[3], 2000)
    x, y = transform_np(lon, lat, "EPSG:4326", "EPSG:32631")
    assert (x >= env[0] - 1e-6).all() and (x <= env[2] + 1e-6).all()
    assert (y >= env[1] - 1e-6).all() and (y <= env[3] + 1e-6).all()
    # and the curved-edge margin is real: the naive 4-corner bbox is smaller
    cx, cy = transform_np(
        np.array([box[0], box[2], box[0], box[2]]),
        np.array([box[1], box[1], box[3], box[3]]),
        "EPSG:4326",
        "EPSG:32631",
    )
    # (grid northings rise away from the central meridian, so the bottom
    # edge dips below every corner at the CM crossing)
    assert env[1] < min(cy) - 1.0


def test_crs_extent():
    assert crs_extent("EPSG:4326") == (-180.0, -90.0, 180.0, 90.0)
    e = crs_extent("EPSG:3857")
    assert abs(e[2] - WEB_MERCATOR_EXTENT) < 1e-6 and abs(e[0] + e[2]) < 1e-9
    minx, miny, maxx, maxy = crs_extent("EPSG:32631")
    assert minx < 500000.0 < maxx
    assert miny < 0 < maxy  # 80S..84N straddles the equator northing 0


def test_kde_in_web_mercator_matches_numpy(spark):
    """KDE with crs=EPSG:3857: cell weights equal an independent numpy
    recomputation of project→bin→stencil-smear (the reference's custom-CRS
    KDE invariant: same pipeline, different grid geometry)."""
    import pandas as pd

    from geowave_spark.operators.kde import KERNEL_RADIUS, gaussian_stencil, kde

    rng = np.random.default_rng(21)
    lon = rng.uniform(-170, 170, 400)
    lat = rng.uniform(-80, 80, 400)
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    level = 4
    out = kde(df, level, crs="EPSG:3857").toPandas()

    nx, ny = 1 << (level + 1), 1 << level
    ext = WEB_MERCATOR_EXTENT
    x, y = crs_oracle.webmerc_forward(lon, lat)
    px = np.clip(np.floor((x + ext) / (2 * ext) * nx).astype(np.int64), 0, nx - 1)
    py = np.clip(np.floor((y + ext) / (2 * ext) * ny).astype(np.int64), 0, ny - 1)
    want: dict[tuple[int, int], float] = {}
    for bx, by in zip(px, py):
        for dx, dy, w in gaussian_stencil():
            cx, cy = bx + dx, by + dy
            if 0 <= cx < nx and 0 <= cy < ny:
                want[(cx, cy)] = want.get((cx, cy), 0.0) + w
    got = {(int(r["cx"]), int(r["cy"])): r["weight"] for _, r in out.iterrows()}
    assert set(got) == set(want)
    for k_ in want:
        assert abs(got[k_] - want[k_]) < 1e-9
    assert KERNEL_RADIUS == 3