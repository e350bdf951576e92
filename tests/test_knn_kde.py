"""kNN (FIXTURES.md F6) and KDE (F7) parity vs numpy oracles."""

import math

import numpy as np
import pytest

from geowave_spark.operators.binning import bbox_agg, binned_agg, fixed_bin_histogram, subsample_per_cell
from geowave_spark.operators.kde import gaussian_stencil, kde
from geowave_spark.operators.knn import knn_join
from geowave_spark.sources.fixtures import points_pdf

from pyspark.sql import functions as F

N = 900


@pytest.fixture(scope="module")
def pts_pdf():
    return points_pdf(N)


@pytest.fixture(scope="module")
def pts(spark, pts_pdf):
    return spark.createDataFrame(pts_pdf).cache()


def oracle_knn(pdf, k, max_dist, exclude_self=True):
    """Brute-force per-point neighbor lists with (d2, id) tie-break."""
    x = pdf["lon"].to_numpy()
    y = pdf["lat"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    out = {}
    d2 = (x[:, None] - x[None, :]) ** 2 + (y[:, None] - y[None, :]) ** 2
    for i in range(len(pdf)):
        cand = [
            (d2[i, j], ids[j]) for j in range(len(pdf))
            if d2[i, j] <= max_dist * max_dist and (not exclude_self or j != i)
        ]
        cand.sort()
        out[ids[i]] = [(c, r + 1) for r, (_, c) in enumerate(cand[:k])]
    return out


def test_knn_dense_cell_path_parity(spark, pts, pts_pdf):
    """Force the hot-cell chunked plan (dense_cell_threshold below the
    cluster occupancy) and assert row-identical output to the join plan /
    brute oracle — the skew-split must not change results."""
    got_rows = knn_join(
        pts,
        pts.select(pts.image_id.alias("cid"), "lon", "lat"),
        k=3,
        max_distance=0.2,
        query_id="image_id",
        candidate_id="cid",
        exclude_self=True,
        dense_cell_threshold=20,  # every cluster cell goes dense + chunked
    ).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["image_id"], []).append((r["cid"], r["rank"]))
    for qid in got:
        got[qid].sort(key=lambda t: t[1])
    want = {q: v for q, v in oracle_knn(pts_pdf, 3, 0.2).items() if v}
    assert got == want


def test_knn_coincident_tiebreak(spark):
    """Exactly-equidistant candidates at the k boundary (coincident
    points) select by (d2, candidate_id), independent of probe order —
    pins the ring-path merge's secondary sort key."""
    import pandas as pd

    locs = [(float(i), float(i % 5)) for i in range(10)]
    q = pd.DataFrame(
        {
            "qid": [f"q{i}" for i in range(10)],
            "lon": [x for x, _ in locs],
            "lat": [y for _, y in locs],
        }
    )
    r = np.random.default_rng(3)
    rows = []
    for i, (x, y) in enumerate(locs):
        for j in r.permutation(8):  # insertion order != id order
            rows.append((f"c{i}_{j}", x, y))
    c = pd.DataFrame(rows, columns=["cid", "lon", "lat"])
    got_rows = knn_join(
        spark.createDataFrame(q),
        spark.createDataFrame(c),
        k=3,
        max_distance=0.5,
        query_id="qid",
        candidate_id="cid",
    ).collect()
    got = {}
    for rr in got_rows:
        got.setdefault(rr["qid"], []).append((rr["rank"], rr["cid"]))
    for i in range(10):
        assert sorted(got[f"q{i}"]) == [(rk + 1, f"c{i}_{rk}") for rk in range(3)]


def test_knn_group_target_changes_plan_not_rows(spark, pts, pts_pdf):
    """``group_target`` picks the supercell factor S (the plan's supercell
    edge max_distance·S); the rows must not depend on it."""
    import re

    def run(group_target):
        df = knn_join(
            pts,
            pts.select(pts.image_id.alias("cid"), "lon", "lat"),
            k=3,
            max_distance=0.2,
            query_id="image_id",
            candidate_id="cid",
            exclude_self=True,
            group_target=group_target,
        )
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        spans = set(re.findall(r"\+ 180\.0\) / ([0-9.E]+)\)", plan)) - {"0.2"}
        return spans, sorted((r["image_id"], r["cid"], r["rank"]) for r in df.collect())

    fine_spans, fine_rows = run(10**9)  # every factor fits: S = 1
    coarse_spans, coarse_rows = run(1)
    assert fine_spans == set() and coarse_spans, (fine_spans, coarse_spans)
    assert fine_rows == coarse_rows and len(fine_rows) > 0


@pytest.mark.parametrize("k,max_dist", [(1, 0.05), (5, 0.2)])
def test_knn_parity(spark, pts, pts_pdf, k, max_dist):
    got_rows = knn_join(
        pts,
        pts.select(pts.image_id.alias("cid"), "lon", "lat"),
        k=k,
        max_distance=max_dist,
        query_id="image_id",
        candidate_id="cid",
        exclude_self=True,
    ).collect()
    got = {}
    for r in got_rows:
        got.setdefault(r["image_id"], []).append((r["cid"], r["rank"]))
    for qid in got:
        got[qid].sort(key=lambda t: t[1])
    want = {q: v for q, v in oracle_knn(pts_pdf, k, max_dist).items() if v}
    assert got == want
    assert len(want) > 50  # skewed clusters guarantee neighbors


def test_kde_parity(spark, pts, pts_pdf):
    level = 4
    nx, ny = 1 << (level + 1), 1 << level
    got = {(r["cx"], r["cy"]): r["weight"] for r in kde(pts, level).collect()}
    # numpy oracle using the same decimal-constant stencil
    grid = np.zeros((nx, ny))
    px = np.clip(np.floor((pts_pdf["lon"].to_numpy() + 180.0) / 360.0 * nx).astype(int), 0, nx - 1)
    py = np.clip(np.floor((pts_pdf["lat"].to_numpy() + 90.0) / 180.0 * ny).astype(int), 0, ny - 1)
    for dx, dy, w in gaussian_stencil():
        cx = px + dx
        cy = py + dy
        m = (cx >= 0) & (cx < nx) & (cy >= 0) & (cy < ny)
        np.add.at(grid, (cx[m], cy[m]), w)
    want = {(i, j): grid[i, j] for i in range(nx) for j in range(ny) if grid[i, j] > 0}
    assert set(got) == set(want)
    for key in want:
        assert math.isclose(got[key], want[key], rel_tol=1e-9), key
    # percentile sanity: max-weight cell has pct == 1.0
    top = max(got, key=got.get)
    rows = {(r["cx"], r["cy"]): r["pct"] for r in kde(pts, level).collect()}
    assert rows[top] == 1.0


def test_kde_ext_crs_parity(spark, pts, pts_pdf):
    """KDE in an extension CRS (EPSG:3035 Europe LAEA via crs_conic):
    the binning must match a numpy twin that projects with transform_np
    and bins over crs_extent — proving the arbitrary-CRS hookup runs
    inside the same codegen stage end-to-end (CustomCRSKDERasterResizeIT
    analog beyond the built-in 4326/3857/UTM set)."""
    from geowave_spark.crs import crs_extent, transform_np

    level = 4
    code = "EPSG:3035"
    nx, ny = 1 << (level + 1), 1 << level
    got = {(r["cx"], r["cy"]): r["weight"] for r in kde(pts, level, crs=code).collect()}
    minx, miny, maxx, maxy = crs_extent(code)
    X, Y = transform_np(pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy(), "EPSG:4326", code)
    grid = np.zeros((nx, ny))
    px = np.clip(np.floor((X - minx) / (maxx - minx) * nx).astype(int), 0, nx - 1)
    py = np.clip(np.floor((Y - miny) / (maxy - miny) * ny).astype(int), 0, ny - 1)
    for dx, dy, w in gaussian_stencil():
        cx = px + dx
        cy = py + dy
        m = (cx >= 0) & (cx < nx) & (cy >= 0) & (cy < ny)
        np.add.at(grid, (cx[m], cy[m]), w)
    want = {(i, j): grid[i, j] for i in range(nx) for j in range(ny) if grid[i, j] > 0}
    assert set(got) == set(want)
    for key in want:
        assert math.isclose(got[key], want[key], rel_tol=1e-9), key


def test_kde_datum_shifted_crs_parity(spark, pts, pts_pdf):
    """KDE through a datum-SHIFTED CRS (EPSG:23032, ED50/UTM 32N — r5
    Helmert path): the full chain geodetic→geocentric→Helmert→geodetic→
    Krüger TM runs inside the binning codegen stage and must match the
    numpy-twin projection bin-for-bin, proving DatumShifted projections
    plug into operators exactly like every other CRS."""
    from geowave_spark.crs import crs_extent, transform_np

    level = 4
    code = "EPSG:23032"
    nx, ny = 1 << (level + 1), 1 << level
    got = {(r["cx"], r["cy"]): r["weight"] for r in kde(pts, level, crs=code).collect()}
    minx, miny, maxx, maxy = crs_extent(code)
    X, Y = transform_np(pts_pdf["lon"].to_numpy(), pts_pdf["lat"].to_numpy(), "EPSG:4326", code)
    grid = np.zeros((nx, ny))
    px = np.clip(np.floor((X - minx) / (maxx - minx) * nx).astype(int), 0, nx - 1)
    py = np.clip(np.floor((Y - miny) / (maxy - miny) * ny).astype(int), 0, ny - 1)
    for dx, dy, w in gaussian_stencil():
        cx = px + dx
        cy = py + dy
        m = (cx >= 0) & (cx < nx) & (cy >= 0) & (cy < ny)
        np.add.at(grid, (cx[m], cy[m]), w)
    want = {(i, j): grid[i, j] for i in range(nx) for j in range(ny) if grid[i, j] > 0}
    assert set(got) == set(want)
    for key in want:
        assert math.isclose(got[key], want[key], rel_tol=1e-9), key


def test_kde_distributed_percentile(spark):
    """A level-12 grid routes through the bucketed two-pass rank: no
    single-partition window exchange in the executed plan, and pct equals
    the naive global percent_rank formula (exact, tie-heavy input)."""
    import pandas as pd

    r = np.random.default_rng(31)
    pdf = pd.DataFrame(
        {"lon": r.uniform(-170, 170, 400), "lat": r.uniform(-80, 80, 400)}
    )
    df = kde(spark.createDataFrame(pdf), level=12)
    got = df.toPandas()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    n = len(got)
    order = got.sort_values(["weight", "cx", "cy"]).index.to_numpy()
    pct = np.empty(n)
    pct[order] = np.arange(n) / max(n - 1, 1)
    assert np.allclose(got["pct"].to_numpy(), pct, atol=1e-12)


def test_binned_agg_grid(spark, pts, pts_pdf):
    got = {
        (r["cx"], r["cy"]): r["n"]
        for r in binned_agg(pts, [F.count(F.lit(1)).alias("n")], cell_deg=10.0).collect()
    }
    cx = np.floor((pts_pdf["lon"].to_numpy() + 180) / 10).astype(int)
    cy = np.floor((pts_pdf["lat"].to_numpy() + 90) / 10).astype(int)
    import collections

    want = collections.Counter(zip(cx.tolist(), cy.tolist()))
    assert got == dict(want)


def test_binned_agg_geohash_and_hilbert(spark, pts):
    total = pts.count()
    gh = binned_agg(pts, [F.count(F.lit(1)).alias("n")], scheme="geohash", geohash_precision=3)
    hb = binned_agg(pts, [F.count(F.lit(1)).alias("n")], scheme="hilbert", tier=8)
    assert gh.agg(F.sum("n")).first()[0] == total
    assert hb.agg(F.sum("n")).first()[0] == total


def test_bbox_agg(spark, pts, pts_pdf):
    r = bbox_agg(pts).first()
    assert r["minx"] == pts_pdf["lon"].min() and r["maxy"] == pts_pdf["lat"].max()


def test_fixed_bin_histogram(spark, pts, pts_pdf):
    got = {r["bin"]: r["cnt"] for r in fixed_bin_histogram(pts, "lon", -180, 180, 16).collect()}
    bins = np.clip(np.floor((pts_pdf["lon"].to_numpy() + 180) / 360 * 16).astype(int), 0, 15)
    import collections

    want = collections.Counter(bins.tolist())
    assert got == dict(want)


def test_subsample_one_per_cell(spark, pts):
    out = subsample_per_cell(pts, order_by="image_id", cell_deg=10.0)
    cnt = out.groupBy("cx", "cy").count()
    assert cnt.where(F.col("count") > 1).count() == 0
    # deterministic: picks min image_id per cell
    row = out.orderBy("cx", "cy").first()
    full = pts.withColumn("cx", F.floor((F.col("lon") + 180) / 10)).withColumn(
        "cy", F.floor((F.col("lat") + 90) / 10)
    )
    want = (
        full.where((F.col("cx") == row["cx"]) & (F.col("cy") == row["cy"]))
        .agg(F.min("image_id"))
        .first()[0]
    )
    assert row["image_id"] == want


def test_kde_tiles_reassemble_exactly(spark):
    """KDE raster tiles (the vector→raster stage) reassemble to exactly
    the cell grid the kde() DataFrame reports."""
    import pandas as pd

    from geowave_spark.operators.kde import kde, kde_tiles

    r = np.random.default_rng(41)
    pdf = pd.DataFrame({"lon": r.uniform(-160, 160, 300), "lat": r.uniform(-75, 75, 300)})
    df = spark.createDataFrame(pdf)
    level, ts = 4, 8
    cells = {(row["cx"], row["cy"]): row["pct"] for row in kde(df, level).collect()}
    tiles = kde_tiles(df, level, tile_size=ts).collect()
    seen = {}
    for t in tiles:
        arr = np.frombuffer(t["tile"], dtype=np.float32).reshape(ts, ts)
        for yy in range(ts):
            for xx in range(ts):
                if arr[yy, xx] != 0.0:
                    seen[(t["tx"] * ts + xx, t["ty"] * ts + yy)] = arr[yy, xx]
    assert set(seen) <= set(cells)
    for k, v in seen.items():
        assert v == pytest.approx(cells[k], rel=1e-6)
    # every nonzero-pct cell appears in some tile
    nz = {k for k, v in cells.items() if v > 0}
    assert nz <= set(seen)
