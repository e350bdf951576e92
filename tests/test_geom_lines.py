"""LINESTRING / MULTI* geometry end-to-end (round-3 verdict #1).

The reference's flagship join fixture is point × LINE within-distance
(hail × tornado_tracks, test/.../GeoWaveSparkSpatialJoinIT.java:111-172);
round 2 closed every non-POINT WKT into a phantom polygon ring.  These
tests pin the open-polyline semantics at every layer: numpy kernels,
ST UDFs, the broadcast and shuffle join plans, and the extended×extended
pair join — against independent brute oracles (explicit per-segment
distance loops, closed-form rectangle distances)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowave_spark.encode import DEFAULT_STRATEGY
from geowave_spark.geom import (
    GeomBatch,
    parse_wkt_multi,
    points_geoms_dist2_batch,
    points_intersect_geoms_batch,
)
from geowave_spark.operators.join import (
    _geom_pair_candidates,
    geom_pair_join,
    geometry_distance_join,
)
from geowave_spark.sources.fixtures import points_pdf, tracks_pdf


def brute_d2_to_parts(px, py, parts):
    """Independent oracle: min squared distance to the REAL segments of
    each part (no closing edge), plain double loop."""
    best = np.full(len(px), np.inf)
    for p in parts:
        if len(p) == 1:
            best = np.minimum(best, (px - p[0, 0]) ** 2 + (py - p[0, 1]) ** 2)
            continue
        for k in range(len(p) - 1):
            x1, y1 = p[k]
            x2, y2 = p[k + 1]
            dx, dy = x2 - x1, y2 - y1
            L = dx * dx + dy * dy
            t = np.clip(((px - x1) * dx + (py - y1) * dy) / (L if L else 1.0), 0, 1)
            cx, cy = x1 + t * dx, y1 + t * dy
            best = np.minimum(best, (px - cx) ** 2 + (py - cy) ** 2)
    return best


class TestLineKernels:
    def test_phantom_ring_regression(self):
        """Point inside the hull of an L-shaped line: distance must be >0
        (the round-2 bug returned 0)."""
        k, parts = parse_wkt_multi("LINESTRING (0 0, 10 0, 10 10)")
        gb = GeomBatch([(k, parts)])
        d2 = points_geoms_dist2_batch(
            np.array([5.0]), np.array([5.0]), np.zeros(1, np.int64), gb
        )
        assert d2[0] == 25.0

    def test_random_lines_vs_brute(self):
        rng = np.random.default_rng(3)
        for trial in range(20):
            nv = int(rng.integers(2, 8))
            p = rng.uniform(-50, 50, (nv, 2))
            wkt = "LINESTRING (" + ", ".join(f"{x:.9g} {y:.9g}" for x, y in p) + ")"
            k, parts = parse_wkt_multi(wkt)
            gb = GeomBatch([(k, parts)])
            px = rng.uniform(-60, 60, 200)
            py = rng.uniform(-60, 60, 200)
            got = points_geoms_dist2_batch(px, py, np.zeros(200, np.int64), gb)
            want = brute_d2_to_parts(px, py, parts)
            # 1-ulp tolerance: numpy's SIMD path may fuse multiply-adds
            # differently than the scalar loop
            assert np.allclose(got, want, rtol=1e-12, atol=1e-12)

    def test_multilinestring_min_over_parts(self):
        k, parts = parse_wkt_multi("MULTILINESTRING ((0 0, 1 0), (10 10, 11 10))")
        gb = GeomBatch([(k, parts)])
        px = np.array([0.5, 10.5])
        py = np.array([2.0, 9.0])
        got = points_geoms_dist2_batch(px, py, np.zeros(2, np.int64), gb)
        assert np.allclose(got, [4.0, 1.0])

    def test_closed_linestring_is_not_a_polygon(self):
        """A LINESTRING that returns to its start still has no interior."""
        k, parts = parse_wkt_multi("LINESTRING (0 0, 10 0, 10 10, 0 10, 0 0)")
        gb = GeomBatch([(k, parts)])
        d2 = points_geoms_dist2_batch(
            np.array([5.0]), np.array([5.0]), np.zeros(1, np.int64), gb
        )
        assert d2[0] == 25.0  # distance to the ring boundary, not 0
        hit = points_intersect_geoms_batch(
            np.array([5.0]), np.array([5.0]), np.zeros(1, np.int64), gb
        )
        assert not hit[0]

    def test_point_on_line_intersects(self):
        k, parts = parse_wkt_multi("LINESTRING (0 0, 10 0)")
        gb = GeomBatch([(k, parts)])
        hit = points_intersect_geoms_batch(
            np.array([5.0, 5.0]), np.array([0.0, 0.1]), np.zeros(2, np.int64), gb
        )
        assert list(hit) == [True, False]

    def test_multipolygon_batch(self):
        k, parts = parse_wkt_multi(
            "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))"
        )
        gb = GeomBatch([(k, parts)])
        px = np.array([1.0, 11.0, 6.0])
        py = np.array([1.0, 11.0, 1.0])
        assert list(
            points_intersect_geoms_batch(px, py, np.zeros(3, np.int64), gb)
        ) == [True, True, False]
        d2 = points_geoms_dist2_batch(px, py, np.zeros(3, np.int64), gb)
        assert np.allclose(d2, [0.0, 0.0, 16.0])  # (6,1)→edge x=2: 4²


class TestStLineFunctions:
    def test_st_distance_point_line_vs_brute(self, spark):
        """The verdict's explicit gate: st_distance on point × LINESTRING
        equals the brute per-segment oracle (no phantom closing edge)."""
        from geowave_spark.functions.registry import register_all

        register_all(spark)
        rng = np.random.default_rng(9)
        rows = []
        for i in range(150):
            nv = int(rng.integers(2, 6))
            p = rng.uniform(-20, 20, (nv, 2))
            wkt = "LINESTRING (" + ", ".join(f"{x:.9g} {y:.9g}" for x, y in p) + ")"
            rows.append((i, float(rng.uniform(-25, 25)), float(rng.uniform(-25, 25)), wkt))
        df = spark.createDataFrame(rows, "id int, px double, py double, wkt string")
        got = {
            r["id"]: r["d"]
            for r in df.select(
                "id",
                F.expr("st_distance(st_point(px, py), wkt)").alias("d"),
            ).collect()
        }
        for i, px, py, wkt in rows:
            parts = parse_wkt_multi(wkt)[1]
            want = float(np.sqrt(brute_d2_to_parts(np.array([px]), np.array([py]), parts)[0]))
            assert got[i] == pytest.approx(want, rel=0, abs=1e-12)

    def test_st_within_distance_hull_point(self, spark):
        from geowave_spark.functions.registry import register_all

        register_all(spark)
        df = spark.createDataFrame(
            [(1, "POINT (5 5)", "LINESTRING (0 0, 10 0, 10 10)")],
            "id int, a string, b string",
        )
        r = df.select(
            F.expr("st_within_distance(a, b, 4.9)").alias("no"),
            F.expr("st_within_distance(a, b, 5.1)").alias("yes"),
            F.expr("st_intersects(a, b)").alias("inter"),
        ).collect()[0]
        assert not r["no"] and r["yes"] and not r["inter"]

    def test_st_intersects_line_cases(self, spark):
        from geowave_spark.functions.registry import register_all

        register_all(spark)
        cases = [
            ("LINESTRING (0 0, 10 10)", "LINESTRING (0 10, 10 0)", True),   # cross
            ("LINESTRING (0 0, 1 0)", "LINESTRING (0 2, 1 2)", False),      # apart
            ("LINESTRING (2 2, 3 3)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", True),  # inside
            ("LINESTRING (-5 5, 15 5)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", True),  # through
            ("LINESTRING (20 20, 30 30)", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))", False),
            ("MULTILINESTRING ((0 0, 1 0), (5 5, 6 6))", "POINT (5.5 5.5)", True),
        ]
        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b, _) in enumerate(cases)], "id int, a string, b string"
        )
        got = {
            r["id"]: r["v"]
            for r in df.select("id", F.expr("st_intersects(a, b)").alias("v")).collect()
        }
        for i, (_, _, want) in enumerate(cases):
            assert got[i] == want, cases[i]


class TestLineDistanceJoin:
    """points × tracks within-distance — the hail × tornado_tracks shape."""

    N_PTS = 1500
    N_TRK = 400
    R = 2.5

    @pytest.fixture(scope="class")
    def pts(self, spark):
        return spark.createDataFrame(points_pdf(self.N_PTS)).cache()

    @pytest.fixture(scope="class")
    def trk(self, spark):
        return spark.createDataFrame(tracks_pdf(self.N_TRK)).cache()

    def _oracle(self):
        pa = points_pdf(self.N_PTS)
        px = pa["lon"].to_numpy()
        py = pa["lat"].to_numpy()
        want = set()
        for _, row in tracks_pdf(self.N_TRK).iterrows():
            parts = parse_wkt_multi(row.wkt)[1]
            d2 = brute_d2_to_parts(px, py, parts)
            want |= {
                (pa["image_id"].iloc[i], row.track_id)
                for i in np.nonzero(d2 <= self.R * self.R)[0]
            }
        return want

    def test_broadcast_plan_parity(self, spark, pts, trk):
        got = {
            tuple(r)
            for r in geometry_distance_join(
                pts, trk, self.R, "image_id", "track_id", plan="broadcast"
            ).collect()
        }
        want = self._oracle()
        assert got == want
        assert len(want) > 30

    def test_shuffle_plan_parity(self, spark, pts, trk):
        got = {
            tuple(r)
            for r in geometry_distance_join(
                pts, trk, self.R, "image_id", "track_id", plan="shuffle"
            ).collect()
        }
        assert got == self._oracle()


def _rects_pdf(n, seed, prefix):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x0 = rng.uniform(-160, 160)
        y0 = rng.uniform(-75, 75)
        w = 10 ** rng.uniform(-1.5, 1.0)
        h = 10 ** rng.uniform(-1.5, 1.0)
        wkt = (
            f"POLYGON (({x0:.9g} {y0:.9g}, {x0 + w:.9g} {y0:.9g}, "
            f"{x0 + w:.9g} {y0 + h:.9g}, {x0:.9g} {y0 + h:.9g}, {x0:.9g} {y0:.9g}))"
        )
        rows.append((f"{prefix}{i:05d}", wkt, x0, y0, x0 + w, y0 + h))
    return pd.DataFrame(rows, columns=["gid", "wkt", "x0", "y0", "x1", "y1"])


class TestGeomPairJoin:
    """Extended × extended (polygon×polygon, line×polygon) — closed-form
    axis-aligned-rectangle oracles (independent of the engine kernels)."""

    NA, NB = 250, 220

    @pytest.fixture(scope="class")
    def ra(self):
        return _rects_pdf(self.NA, 21, "a")

    @pytest.fixture(scope="class")
    def rb(self):
        return _rects_pdf(self.NB, 22, "b")

    @staticmethod
    def _rect_d2(ra, rb):
        """Closed form: squared distance between two axis-aligned rects."""
        dx = np.maximum(
            0.0,
            np.maximum(
                ra["x0"].to_numpy()[:, None] - rb["x1"].to_numpy()[None, :],
                rb["x0"].to_numpy()[None, :] - ra["x1"].to_numpy()[:, None],
            ),
        )
        dy = np.maximum(
            0.0,
            np.maximum(
                ra["y0"].to_numpy()[:, None] - rb["y1"].to_numpy()[None, :],
                rb["y0"].to_numpy()[None, :] - ra["y1"].to_numpy()[:, None],
            ),
        )
        return dx * dx + dy * dy

    def test_intersects_parity(self, spark, ra, rb):
        da = spark.createDataFrame(ra[["gid", "wkt"]]).withColumnRenamed("gid", "aid")
        db = spark.createDataFrame(rb[["gid", "wkt"]]).withColumnRenamed("gid", "bid")
        got = {
            tuple(r)
            for r in geom_pair_join(da, db, "aid", "bid").collect()
        }
        d2 = self._rect_d2(ra, rb)
        ii, jj = np.nonzero(d2 == 0.0)
        want = {(ra["gid"].iloc[i], rb["gid"].iloc[j]) for i, j in zip(ii, jj)}
        assert got == want
        assert len(want) > 10

    def test_within_distance_parity(self, spark, ra, rb):
        r = 1.5
        da = spark.createDataFrame(ra[["gid", "wkt"]]).withColumnRenamed("gid", "aid")
        db = spark.createDataFrame(rb[["gid", "wkt"]]).withColumnRenamed("gid", "bid")
        got = {
            tuple(x)
            for x in geom_pair_join(da, db, "aid", "bid", radius=r).collect()
        }
        d2 = self._rect_d2(ra, rb)
        ii, jj = np.nonzero(d2 <= r * r)
        want = {(ra["gid"].iloc[i], rb["gid"].iloc[j]) for i, j in zip(ii, jj)}
        assert got == want

    def test_world_polygon_candidates_stay_linear(self, spark, ra, rb):
        """A world polygon on each side pairs once with every row of the
        other side; rows that only cover its tier-0 cell never meet."""
        w = ("world", "POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))",
             -180.0, -90.0, 180.0, 90.0)
        wa, wb = (pd.concat([r, pd.DataFrame([w], columns=r.columns)], ignore_index=True)
                  for r in (ra, rb))
        da = spark.createDataFrame(wa[["gid", "wkt"]]).toDF("aid", "wkt")
        db = spark.createDataFrame(wb[["gid", "wkt"]]).toDF("bid", "wkt")
        # max_duplicates=4 puts each world polygon at tier 1 (2 × 2 cells)
        cand = _geom_pair_candidates(da.toDF("_pid", "_pwkt"), db.toDF("_gid", "_gwkt"),
                                     0.0, DEFAULT_STRATEGY, 4).count()
        # the world pairs alone are len(wa) + len(wb) - 1; covering rows
        # meeting at tier 0 would make it len(wa) * len(wb)
        assert cand < 3 * (len(wa) + len(wb)), cand
        got = {tuple(r) for r in geom_pair_join(da, db, "aid", "bid", max_duplicates=4).collect()}
        ii, jj = np.nonzero(self._rect_d2(wa, wb) == 0.0)
        assert got == {(wa["gid"].iloc[i], wb["gid"].iloc[j]) for i, j in zip(ii, jj)}

    def test_line_polygon_intersects(self, spark, ra):
        """Tracks × rectangles: oracle is the brute segment-vs-rect clip
        test (numpy, independent of the join machinery)."""
        trk = tracks_pdf(300, seed=77)
        da = spark.createDataFrame(trk).withColumnRenamed("track_id", "aid")
        db = spark.createDataFrame(ra[["gid", "wkt"]]).withColumnRenamed("gid", "bid")
        got = {
            tuple(r) for r in geom_pair_join(da, db, "aid", "bid").collect()
        }
        want = set()
        for _, t in trk.iterrows():
            parts = parse_wkt_multi(t.wkt)[1]
            for j in range(len(ra)):
                x0, y0, x1, y1 = ra[["x0", "y0", "x1", "y1"]].iloc[j]
                hit = False
                for p in parts:
                    for k in range(len(p) - 1):
                        if _seg_hits_rect(p[k], p[k + 1], x0, y0, x1, y1):
                            hit = True
                            break
                    if hit:
                        break
                if hit:
                    want.add((t.track_id, ra["gid"].iloc[j]))
        assert got == want
        assert len(want) > 5


def _seg_hits_rect(p, q, x0, y0, x1, y1):
    """Liang-Barsky segment × rect test (scalar, independent oracle)."""
    dx, dy = q[0] - p[0], q[1] - p[1]
    t0, t1 = 0.0, 1.0
    for pp, qq in ((-dx, p[0] - x0), (dx, x1 - p[0]), (-dy, p[1] - y0), (dy, y1 - p[1])):
        if pp == 0:
            if qq < 0:
                return False
            continue
        r = qq / pp
        if pp < 0:
            t0 = max(t0, r)
        else:
            t1 = min(t1, r)
    return t0 <= t1


def _lattice_rects_pdf(n, seed, prefix):
    """Integer-lattice rectangles: shared edges, exact containments and
    duplicates occur with high frequency, exercising every DE-9IM branch."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x0 = int(rng.integers(0, 12))
        y0 = int(rng.integers(0, 12))
        w = int(rng.integers(1, 4))
        h = int(rng.integers(1, 4))
        wkt = (
            f"POLYGON (({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, "
            f"{x0} {y0 + h}, {x0} {y0}))"
        )
        rows.append((f"{prefix}{i:05d}", wkt, x0, y0, x0 + w, y0 + h))
    return pd.DataFrame(rows, columns=["gid", "wkt", "x0", "y0", "x1", "y1"])


class TestPredicateJoin:
    """geom_pair_join(predicate=…) — the SpatialJoinRunner GeomFunction
    parameter — against closed-form axis-aligned-rectangle oracles."""

    NA, NB = 120, 110

    @pytest.fixture(scope="class")
    def ra(self):
        return _lattice_rects_pdf(self.NA, 31, "a")

    @pytest.fixture(scope="class")
    def rb(self):
        return _lattice_rects_pdf(self.NB, 32, "b")

    @staticmethod
    def _flags(ra, rb):
        ax0 = ra["x0"].to_numpy()[:, None]; ax1 = ra["x1"].to_numpy()[:, None]
        ay0 = ra["y0"].to_numpy()[:, None]; ay1 = ra["y1"].to_numpy()[:, None]
        bx0 = rb["x0"].to_numpy()[None, :]; bx1 = rb["x1"].to_numpy()[None, :]
        by0 = rb["y0"].to_numpy()[None, :]; by1 = rb["y1"].to_numpy()[None, :]
        closures = (ax0 <= bx1) & (bx0 <= ax1) & (ay0 <= by1) & (by0 <= ay1)
        interiors = (
            (np.minimum(ax1, bx1) > np.maximum(ax0, bx0))
            & (np.minimum(ay1, by1) > np.maximum(ay0, by0))
        )
        a_covers_b = (ax0 <= bx0) & (ax1 >= bx1) & (ay0 <= by0) & (ay1 >= by1)
        b_covers_a = (bx0 <= ax0) & (bx1 >= ax1) & (by0 <= ay0) & (by1 >= ay1)
        return closures, interiors, a_covers_b, b_covers_a

    def _check(self, spark, ra, rb, predicate, want_mask):
        da = spark.createDataFrame(ra[["gid", "wkt"]]).withColumnRenamed("gid", "aid")
        db = spark.createDataFrame(rb[["gid", "wkt"]]).withColumnRenamed("gid", "bid")
        got = {
            tuple(r)
            for r in geom_pair_join(da, db, "aid", "bid", predicate=predicate).collect()
        }
        ii, jj = np.nonzero(want_mask)
        want = {(ra["gid"].iloc[i], rb["gid"].iloc[j]) for i, j in zip(ii, jj)}
        assert got == want, f"{predicate}: {len(got)} vs {len(want)}"
        assert len(want) >= 2, f"oracle degenerate for {predicate}"

    def test_touches(self, spark, ra, rb):
        cl, ii, _, _ = self._flags(ra, rb)
        self._check(spark, ra, rb, "touches", cl & ~ii)

    def test_overlaps(self, spark, ra, rb):
        cl, ii, acb, bca = self._flags(ra, rb)
        self._check(spark, ra, rb, "overlaps", ii & ~acb & ~bca)

    def test_contains(self, spark, ra, rb):
        _, _, acb, _ = self._flags(ra, rb)
        self._check(spark, ra, rb, "contains", acb)

    def test_within(self, spark, ra, rb):
        _, _, _, bca = self._flags(ra, rb)
        self._check(spark, ra, rb, "within", bca)

    def test_equals(self, spark, ra, rb):
        _, _, acb, bca = self._flags(ra, rb)
        self._check(spark, ra, rb, "equals", acb & bca)

    def test_crosses_line_polygon(self, spark, ra):
        """Vertical unit-step lines × lattice rects: crosses ⇔ the line's
        open interior meets both the rect's interior and its exterior."""
        rows = []
        rng = np.random.default_rng(33)
        for i in range(150):
            x = int(rng.integers(0, 13))
            y = int(rng.integers(-1, 12))
            rows.append((f"l{i:04d}", f"LINESTRING ({x} {y}, {x} {y + 3})", x, y))
        lines = pd.DataFrame(rows, columns=["gid", "wkt", "lx", "ly"])
        da = spark.createDataFrame(lines[["gid", "wkt"]]).withColumnRenamed("gid", "aid")
        db = spark.createDataFrame(ra[["gid", "wkt"]]).withColumnRenamed("gid", "bid")
        got = {
            tuple(r)
            for r in geom_pair_join(da, db, "aid", "bid", predicate="crosses").collect()
        }
        want = set()
        for _, l in lines.iterrows():
            ly0, ly1 = l.ly, l.ly + 3
            for j in range(len(ra)):
                x0, y0, x1, y1 = (
                    ra["x0"].iloc[j], ra["y0"].iloc[j], ra["x1"].iloc[j], ra["y1"].iloc[j]
                )
                # vertical line at lx strictly inside (x0, x1): interior
                # segment inside the rect iff y-ranges overlap openly
                if not (x0 < l.lx < x1):
                    continue
                inter_lo, inter_hi = max(ly0, y0), min(ly1, y1)
                entered = inter_lo < inter_hi
                exits = ly0 < y0 or ly1 > y1
                if entered and exits:
                    want.add((l.gid, ra["gid"].iloc[j]))
        assert got == want
        assert len(want) > 3

    def test_radius_with_predicate_rejected(self, spark, ra, rb):
        da = spark.createDataFrame(ra[["gid", "wkt"]]).withColumnRenamed("gid", "aid")
        db = spark.createDataFrame(rb[["gid", "wkt"]]).withColumnRenamed("gid", "bid")
        with pytest.raises(ValueError):
            geom_pair_join(da, db, "aid", "bid", radius=1.0, predicate="touches")
