"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names (SURVEY.md §2 inventory + the
training-data operators) to callables ``(spark, sf_dir) -> DataFrame``;
``oracle_sql()`` maps the same names to ANSI SQL that DuckDB runs on the
same parquet tables.  Spatial inputs are derived **deterministically in
SQL-identical arithmetic** from the integer keys of the TPC-H-ish tables,
so the Spark engine and the DuckDB oracle see bit-identical doubles.

Non-SQL-expressible operators (Hilbert cell assignment, MinHash/SimHash,
IVF ANN, raster tiling) have no oracle entry → the driver records the
weaker rows-only check; their exact oracles live in tests/ (numpy).
"""

from __future__ import annotations

import math
import os
import sys
from collections.abc import Callable

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geowave_spark.deploy import ensure_py_files

from geowave_spark.operators.binning import (
    bbox_agg,
    binned_agg,
    fixed_bin_histogram,
    subsample_per_cell,
)
from geowave_spark.operators.dedup import exact_dedup, minhash_lsh_dedup, simhash_pairs
from geowave_spark.operators.join import distance_join, point_in_polygon_join
from geowave_spark.operators.kde import gaussian_stencil, kde
from geowave_spark.operators.knn import knn_join
from geowave_spark.operators.similarity import brute_topk, cosine_neardup_pairs, ivf_topk
from geowave_spark.operators.text import (
    fingerprint,
    language_id,
    quality_features,
    token_count,
)
from geowave_spark.session import cache_per_call

# ---- deterministic spatial derivations (identical text in Spark & DuckDB)

# The integer part is computed exactly, then every floating op is an IEEE
# double op in BOTH engines (Spark parses bare x.y literals as decimal and
# would otherwise carry decimal(28,6) columns; DuckDB computes doubles —
# the round-1 spatial_bbox_agg hash mismatch).  CAST(int AS DOUBLE) is
# exact, double/decimal-literal division and addition promote the literal
# exactly, so both engines round identically at each step.
CLON = "-180.0 + (CAST((c_custkey * 48271) % 360000 AS DOUBLE) / 1000.0)"
CLAT = "-90.0 + (CAST((c_custkey * 69621) % 180000 AS DOUBLE) / 1000.0)"
SLON = "-180.0 + (CAST((s_suppkey * 16807) % 360000 AS DOUBLE) / 1000.0)"
SLAT = "-90.0 + (CAST((s_suppkey * 65539) % 180000 AS DOUBLE) / 1000.0)"
# rectangle regions derived from part
RCX = "-180.0 + (CAST((p_partkey * 24693) % 360000 AS DOUBLE) / 1000.0)"
RCY = "-90.0 + (CAST((p_partkey * 48271) % 180000 AS DOUBLE) / 1000.0)"
RW = "0.5 + (CAST(p_partkey % 37 AS DOUBLE) / 10.0)"
RH = "0.25 + (CAST(p_partkey % 23 AS DOUBLE) / 20.0)"

JOIN_RADIUS = 5.0
KNN_K = 3
KNN_DIST = 8.0
KDE_LEVEL = 3

# tracks: 3-vertex open polylines derived from supplier keys (the
# reference's hail × tornado_tracks fixture shape, point × LINESTRING
# within-distance — GeoWaveSparkSpatialJoinIT.java:111-172)
TKX = "-180.0 + (CAST((s_suppkey * 24693) % 360000 AS DOUBLE) / 1000.0)"
TKY = "-90.0 + (CAST((s_suppkey * 12289) % 180000 AS DOUBLE) / 1000.0)"
TDX1 = "(CAST((s_suppkey * 7) % 17 AS DOUBLE) / 10.0) - 0.8"
TDY1 = "(CAST((s_suppkey * 11) % 13 AS DOUBLE) / 10.0) - 0.6"
TDX2 = "(CAST((s_suppkey * 5) % 19 AS DOUBLE) / 10.0) - 0.9"
TDY2 = "(CAST((s_suppkey * 3) % 11 AS DOUBLE) / 10.0) - 0.5"
LINE_JOIN_RADIUS = 1.75
# second rectangle table (for the polygon×polygon pair join) from supplier
QCX = "-180.0 + (CAST((s_suppkey * 39916801) % 360000 AS DOUBLE) / 1000.0)"
QCY = "-90.0 + (CAST((s_suppkey * 92683) % 180000 AS DOUBLE) / 1000.0)"
QW = "0.4 + (CAST(s_suppkey % 31 AS DOUBLE) / 12.0)"
QH = "0.3 + (CAST(s_suppkey % 29 AS DOUBLE) / 16.0)"
POLY_JOIN_RADIUS = 1.25


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_py_files(spark)  # executors must import geowave_spark for UDFs
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# the driver's oracle compare runs at sf0.01 (TESTDATA.md); the
# VALUES-embedded oracles below recompute expected outputs for exactly
# that scale
ORACLE_SF_DIR = "/root/testdata/sf0.01"


def _ov():
    from tools import oracle_values

    return oracle_values


def _customer_points(spark, sf_dir):
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.expr(CLON).alias("lon"),
        F.expr(CLAT).alias("lat"),
    )


def _supplier_points(spark, sf_dir):
    return _t(spark, sf_dir, "supplier").select(
        "s_suppkey", F.expr(SLON).alias("lon"), F.expr(SLAT).alias("lat")
    )


def _part_rects(spark, sf_dir):
    """Rectangles as WKT (double→string→double round-trips exactly)."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(RCX).alias("cx"),
        F.expr(RCY).alias("cy"),
        F.expr(RW).alias("w"),
        F.expr(RH).alias("h"),
    )
    x0 = F.col("cx") - F.col("w")
    x1 = F.col("cx") + F.col("w")
    y0 = F.col("cy") - F.col("h")
    y1 = F.col("cy") + F.col("h")

    def s(c):
        return c.cast("string")

    wkt = F.concat(
        F.lit("POLYGON (("),
        s(x0), F.lit(" "), s(y0), F.lit(", "),
        s(x1), F.lit(" "), s(y0), F.lit(", "),
        s(x1), F.lit(" "), s(y1), F.lit(", "),
        s(x0), F.lit(" "), s(y1), F.lit(", "),
        s(x0), F.lit(" "), s(y0),
        F.lit("))"),
    )
    return p.select("p_partkey", wkt.alias("wkt"))


def _supplier_tracks(spark, sf_dir):
    """LINESTRING WKT tracks (double→string→double round-trips exactly)."""
    t = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(TKX).alias("x0"),
        F.expr(TKY).alias("y0"),
        F.expr(TDX1).alias("dx1"),
        F.expr(TDY1).alias("dy1"),
        F.expr(TDX2).alias("dx2"),
        F.expr(TDY2).alias("dy2"),
    )
    x1 = F.col("x0") + F.col("dx1")
    y1 = F.col("y0") + F.col("dy1")
    x2 = x1 + F.col("dx2")
    y2 = y1 + F.col("dy2")

    def s(c):
        return c.cast("string")

    wkt = F.concat(
        F.lit("LINESTRING ("),
        s(F.col("x0")), F.lit(" "), s(F.col("y0")), F.lit(", "),
        s(x1), F.lit(" "), s(y1), F.lit(", "),
        s(x2), F.lit(" "), s(y2),
        F.lit(")"),
    )
    return t.select("s_suppkey", wkt.alias("wkt"))


def _supplier_rects(spark, sf_dir):
    s_ = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.expr(QCX).alias("cx"),
        F.expr(QCY).alias("cy"),
        F.expr(QW).alias("w"),
        F.expr(QH).alias("h"),
    )
    x0 = F.col("cx") - F.col("w")
    x1 = F.col("cx") + F.col("w")
    y0 = F.col("cy") - F.col("h")
    y1 = F.col("cy") + F.col("h")

    def s(c):
        return c.cast("string")

    wkt = F.concat(
        F.lit("POLYGON (("),
        s(x0), F.lit(" "), s(y0), F.lit(", "),
        s(x1), F.lit(" "), s(y0), F.lit(", "),
        s(x1), F.lit(" "), s(y1), F.lit(", "),
        s(x0), F.lit(" "), s(y1), F.lit(", "),
        s(x0), F.lit(" "), s(y0),
        F.lit("))"),
    )
    return s_.select("s_suppkey", wkt.alias("wkt"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def q_spatial_line_distance_join(spark, sf_dir):
    """Point × LINESTRING within-distance (hail × tornado_tracks,
    GeoWaveSparkSpatialJoinIT.java:111-172): customers within
    LINE_JOIN_RADIUS of a supplier track — open-polyline distance, no
    phantom closing edge.  The oracle unrolls the two segments and
    recomputes the clamped point→segment projection with the identical
    IEEE ops."""
    from geowave_spark.operators.join import geometry_distance_join

    return geometry_distance_join(
        _customer_points(spark, sf_dir),
        _supplier_tracks(spark, sf_dir),
        LINE_JOIN_RADIUS,
        "c_custkey",
        "s_suppkey",
    )


def q_spatial_polygon_polygon_join(spark, sf_dir):
    """Extended × extended within-distance (TieredSpatialJoin's general
    geometry-pair case): part rectangles within POLY_JOIN_RADIUS of
    supplier rectangles via the tiered pair join (both sides
    cell-exploded, no driver geometry collect).  The oracle is the
    closed-form axis-aligned rectangle distance."""
    from geowave_spark.operators.join import geom_pair_join

    return geom_pair_join(
        _part_rects(spark, sf_dir),
        _supplier_rects(spark, sf_dir),
        "p_partkey",
        "s_suppkey",
        radius=POLY_JOIN_RADIUS,
    )


def q_spatial_distance_join(spark, sf_dir):
    return distance_join(
        _customer_points(spark, sf_dir),
        _supplier_points(spark, sf_dir),
        JOIN_RADIUS,
        "c_custkey",
        "s_suppkey",
    )


def q_spatial_distance_join_anti(spark, sf_dir):
    return distance_join(
        _customer_points(spark, sf_dir),
        _supplier_points(spark, sf_dir),
        JOIN_RADIUS,
        "c_custkey",
        "s_suppkey",
        negative=True,
    )


def q_spatial_distance_join_salted(spark, sf_dir):
    """Census-driven auto-salting (skew handling): only over-cap cells
    split, each by its own ⌈count/cap⌉ factor; row set identical to the
    unsalted join (same oracle)."""
    return distance_join(
        _customer_points(spark, sf_dir),
        _supplier_points(spark, sf_dir),
        JOIN_RADIUS,
        "c_custkey",
        "s_suppkey",
        salt="auto",
        salt_cap=50,
    )


# bucketed tables already written this session, keyed by (sf tag) — the
# persist-indexed-once gate writes once and every later call just joins
_BUCKETED_WRITTEN: set = set()


def q_spatial_distance_join_bucketed(spark, sf_dir):
    """Persist-indexed-once distance join (GeoWaveRDDLoader.loadIndexedRDD
    / RDDUtils.writeRDDToGeoWave semantics, GeoWaveRDDLoader.java:31-188):
    the customer points are written ONCE as a cell-bucketed catalog table
    (bucketBy on the tier cell = the reference's pre-partitioned index
    splits), and the join scans them with ZERO Exchange — only the small
    exploded supplier build side shuffles, into the table's bucket count.
    Same output row set as spatial_distance_join (same SQL oracle); the
    single-Exchange plan shape is pinned in tests/test_bucketing.py.

    At 100 TB this is the flagship repeat-join design: the indexed corpus
    never re-shuffles — every query shuffles only its own geometries."""
    from geowave_spark.sources.bucketing import (
        bucketed_distance_join,
        write_bucketed_points,
    )

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    table = f"gw_bucketed_cust_{tag}"
    if table not in _BUCKETED_WRITTEN:
        write_bucketed_points(
            _customer_points(spark, sf_dir).select("c_custkey", "lon", "lat"),
            table,
            JOIN_RADIUS,
            n_buckets=16,
        )
        _BUCKETED_WRITTEN.add(table)
    return bucketed_distance_join(
        spark, table, _supplier_points(spark, sf_dir), JOIN_RADIUS,
        "c_custkey", "s_suppkey",
    )


HAVERSINE_RADIUS_M = 500_000.0


def q_spatial_distance_join_meters(spark, sf_dir):
    """Geodesic within-distance join (meters, haversine) — the
    OrthodromicDistancePartitioner semantics; oracle recomputes the same
    haversine formula in SQL."""
    from geowave_spark.operators.join import haversine_distance_join

    return haversine_distance_join(
        _customer_points(spark, sf_dir),
        _supplier_points(spark, sf_dir),
        HAVERSINE_RADIUS_M,
        "c_custkey",
        "s_suppkey",
    )


def q_spatial_knn(spark, sf_dir):
    return knn_join(
        _supplier_points(spark, sf_dir),
        _customer_points(spark, sf_dir),
        k=KNN_K,
        max_distance=KNN_DIST,
        query_id="s_suppkey",
        candidate_id="c_custkey",
    )


def q_spatial_pip_join(spark, sf_dir):
    return point_in_polygon_join(
        _customer_points(spark, sf_dir),
        _part_rects(spark, sf_dir),
        "c_custkey",
        "p_partkey",
    )


def q_spatial_grid_bin_count(spark, sf_dir):
    return binned_agg(
        _customer_points(spark, sf_dir),
        [F.count(F.lit(1)).alias("n")],
        cell_deg=15.0,
    )


def q_spatial_bbox_agg(spark, sf_dir):
    return bbox_agg(_customer_points(spark, sf_dir), by=["c_mktsegment"])


def q_spatial_range_query(spark, sf_dir):
    """BBox filter — coarse cell-range pruning + fine filter collapses to a
    plain predicate for points; Catalyst pushes it to the scan."""
    pts = _customer_points(spark, sf_dir)
    return pts.where(
        (F.col("lon") >= -30.0) & (F.col("lon") <= 30.0) & (F.col("lat") >= -20.0) & (F.col("lat") <= 20.0)
    ).select("c_custkey")


def q_spatial_subsample(spark, sf_dir):
    return subsample_per_cell(
        _customer_points(spark, sf_dir), order_by="c_custkey", cell_deg=15.0
    ).select("cx", "cy", "c_custkey")


# web mercator's square-world latitude bound (atan(sinh(π)) in degrees)
MERC_MAX_LAT = 85.05112877980659


def q_spatial_kde(spark, sf_dir):
    """KDE in the default index CRS UNION the same job in EPSG:3857 —
    the reference's CustomCRSKDERasterResizeIT runs the identical
    pipeline in a non-default CRS (reprojection is a Catalyst expression
    fused into the cell binning, geowave_spark/crs.py).  The query feeds
    raw latitudes, so the engine's own square-world clamp (applied inside
    the EPSG:3857 projection) is what keeps the poles finite; the oracle
    clamps independently.  One driver entry (the gate caps at 50 rows),
    two value-gated grids."""
    pts = _customer_points(spark, sf_dir)
    base = kde(pts, KDE_LEVEL).select(
        F.lit("EPSG:4326").alias("crs"),
        "cx",
        "cy",
        F.round("weight", 6).alias("weight"),
    )
    merc = kde(pts, KDE_LEVEL, crs="EPSG:3857").select(
        F.lit("EPSG:3857").alias("crs"),
        "cx",
        "cy",
        F.round("weight", 6).alias("weight"),
    )
    return base.unionByName(merc)




def _kde_mercator_oracle_sql() -> str:
    """DuckDB twin of q_kde_mercator: project → bin → stencil-smear with
    the same literals and op order as the Catalyst expressions."""
    nx, ny = 1 << (KDE_LEVEL + 1), 1 << KDE_LEVEL
    from geowave_spark.crs import A_WGS84, WEB_MERCATOR_EXTENT

    e = WEB_MERCATOR_EXTENT
    vals = ", ".join(f"({dx}, {dy}, {w!r})" for dx, dy, w in gaussian_stencil())
    clat = f"greatest({-MERC_MAX_LAT!r}, least({MERC_MAX_LAT!r}, {CLAT}))"
    d2r = repr(math.pi / 180.0)
    mx = f"(({CLON}) * {d2r} * {A_WGS84!r})"
    my = f"(ln(tan({math.pi / 4.0!r} + ({clat}) * {d2r} / 2.0)) * {A_WGS84!r})"
    return f"""
WITH pts AS (
  SELECT CAST(least({nx - 1}, greatest(0, CAST(floor(({mx} - {-e!r}) / {2.0 * e!r} * {nx}) AS BIGINT))) AS BIGINT) AS px,
         CAST(least({ny - 1}, greatest(0, CAST(floor(({my} - {-e!r}) / {2.0 * e!r} * {ny}) AS BIGINT))) AS BIGINT) AS py
  FROM customer
), k(dx, dy, w) AS (VALUES {vals})
SELECT px + dx AS cx, py + dy AS cy, round(sum(1.0 * w), 6) AS weight
FROM pts, k
WHERE px + dx >= 0 AND px + dx < {nx} AND py + dy >= 0 AND py + dy < {ny}
GROUP BY 1, 2
"""


def q_sfc_bin_counts(spark, sf_dir):
    """Geohash + Hilbert + S2 binning in ONE gated query (scheme, bin, n)
    — consolidation so every queries() entry fits the driver's 50-row
    artifact cap (round-3 verdict #4); each scheme's oracle is the same
    generated-SQL state machine as before, UNION ALL-ed."""
    pts = _customer_points(spark, sf_dir)
    g = binned_agg(
        pts, [F.count(F.lit(1)).alias("n")], scheme="geohash", geohash_precision=3
    ).select(F.lit("geohash").alias("scheme"), F.col("geohash").alias("bin"), "n")
    h = binned_agg(
        pts, [F.count(F.lit(1)).alias("n")], scheme="hilbert", tier=8
    ).select(F.lit("hilbert").alias("scheme"), F.col("cell").cast("string").alias("bin"), "n")
    s = binned_agg(
        pts, [F.count(F.lit(1)).alias("n")], scheme="s2", s2_level=6
    ).select(F.lit("s2").alias("scheme"), F.col("s2_cell").cast("string").alias("bin"), "n")
    return g.unionByName(h).unionByName(s)


GEOHASH_PRECISION = 3
HILBERT_BIN_TIER = 8


def _geohash_oracle_sql() -> str:
    """Pure-SQL geohash (precision 3 = 15 bits: 8 lon + 7 lat, MSB-first
    interleave starting with longitude, base-32 alphabet) — mirrors
    sfc/geohash.py bit for bit."""
    terms = []
    for b in range(15):
        if b % 2 == 0:
            terms.append(f"(((ix >> {7 - b // 2}) & 1) << {14 - b})")
        else:
            terms.append(f"(((iy >> {6 - b // 2}) & 1) << {14 - b})")
    code = " | ".join(terms)
    alpha = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{alpha}', CAST(((code >> {5 * (2 - c)}) & 31) AS INT) + 1, 1)"
        for c in range(3)
    )
    return f"""
WITH c AS (SELECT {CLON} AS lon, {CLAT} AS lat FROM customer),
g AS (
  SELECT least(255, CAST(floor(least(1.0, greatest(0.0, (lon + 180.0) / 360.0)) * 256) AS BIGINT)) AS ix,
         least(127, CAST(floor(least(1.0, greatest(0.0, (lat + 90.0) / 180.0)) * 128) AS BIGINT)) AS iy
  FROM c),
coded AS (SELECT {code} AS code FROM g)
SELECT {chars} AS geohash, count(*) AS n FROM coded GROUP BY 1
"""


def _hilbert_oracle_sql(tier: int = HILBERT_BIN_TIER) -> str:
    """Pure-SQL 2-D Hilbert index at ``tier`` bits: the xy→d iteration of
    sfc/hilbert.py unrolled into chained CTEs (one per bit, MSB first).
    Integer wraparound semantics match: numpy uint64 two's-complement
    low bits == BIGINT arithmetic under &-masking."""
    n = 1 << tier
    steps = []
    prev = "h0"
    for k in range(tier - 1, -1, -1):
        s = 1 << k
        quad = (
            f"(CASE WHEN (x & {s}) > 0 THEN (CASE WHEN (y & {s}) > 0 THEN 2 ELSE 3 END) "
            f"ELSE (CASE WHEN (y & {s}) > 0 THEN 1 ELSE 0 END) END)"
        )
        nxt = f"h{tier - k}"
        steps.append(
            f"{nxt} AS (SELECT "
            f"CASE WHEN (y & {s}) = 0 THEN (CASE WHEN (x & {s}) > 0 THEN {s - 1} - y ELSE y END) ELSE x END AS x, "
            f"CASE WHEN (y & {s}) = 0 THEN (CASE WHEN (x & {s}) > 0 THEN {s - 1} - x ELSE x END) ELSE y END AS y, "
            f"d + {s * s} * {quad} AS d FROM {prev})"
        )
        prev = nxt
    chain = ",\n".join(steps)
    return f"""
WITH c AS (SELECT {CLON} AS lon, {CLAT} AS lat FROM customer),
h0 AS (
  SELECT least({n - 1}, CAST(floor(least(1.0, greatest(0.0, (lon + 180.0) / 360.0)) * {n}) AS BIGINT)) AS x,
         least({n - 1}, CAST(floor(least(1.0, greatest(0.0, (lat + 90.0) / 180.0)) * {n}) AS BIGINT)) AS y,
         CAST(0 AS BIGINT) AS d
  FROM c),
{chain}
SELECT d AS cell, count(*) AS n FROM {prev} GROUP BY d
"""


def q_h3_bin_count(spark, sf_dir):
    """Hexagonal (H3-scheme aperture-7 icosahedral) binning — value-gated
    (r3) against an independent numpy reimplementation of the pinned
    scheme committed as a VALUES oracle (tools/oracle_values.h3_rows);
    property tests in tests/test_sfc.py::TestHexBinning."""
    return binned_agg(
        _customer_points(spark, sf_dir),
        [F.count(F.lit(1)).alias("n")],
        scheme="h3",
        h3_res=2,
    )


def q_s2_bin_count(spark, sf_dir):
    """Canonical S2 cell binning (S2BinningHelper.java analog) —
    value-exact gate: the oracle recomputes the full S2 pipeline (face
    projection, quadratic ST, 30-level Hilbert state machine, level mask)
    as generated SQL (see _s2_oracle_sql); structural property tests in
    tests/test_sfc.py::TestS2."""
    return binned_agg(
        _customer_points(spark, sf_dir),
        [F.count(F.lit(1)).alias("n")],
        scheme="s2",
        s2_level=6,
    )


S2_BIN_LEVEL = 6
_S2_IJ_TO_POS = [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]]


def _s2_oracle_sql(level: int = S2_BIN_LEVEL) -> str:
    """Pure-SQL S2 cell ids, bit-for-bit vs sfc/s2.py: lon/lat → cube
    face (CASE cascade), gnomonic uv, quadratic ST, 2^30 leaf
    quantization, then the kIJtoPos/kPosToOrientation Hilbert state
    machine unrolled into 30 chained CTEs; packing runs in HUGEINT and
    wraps to signed 64 exactly like numpy's uint64→int64 view.  The
    level mask reproduces `(cell & ~(lsb-1)) | lsb` as
    (q + 1 - q%2) * lsb on the quotient."""
    L = 1 << 30
    pre = f"""
WITH c AS (SELECT {CLON} AS lon, {CLAT} AS lat FROM customer),
xyz AS (
  SELECT cos(radians(lon)) * cos(radians(lat)) AS px,
         sin(radians(lon)) * cos(radians(lat)) AS py,
         sin(radians(lat)) AS pz
  FROM c),
f0 AS (
  SELECT px, py, pz,
    CASE WHEN abs(px) >= abs(py) THEN (CASE WHEN abs(px) >= abs(pz) THEN 0 ELSE 2 END)
         ELSE (CASE WHEN abs(py) >= abs(pz) THEN 1 ELSE 2 END) END AS f
  FROM xyz),
fc AS (
  SELECT px, py, pz,
    f + (CASE WHEN (CASE f WHEN 0 THEN px WHEN 1 THEN py ELSE pz END) < 0 THEN 3 ELSE 0 END) AS face
  FROM f0),
uv AS (
  SELECT face,
    CASE face WHEN 0 THEN py / px WHEN 1 THEN -px / py WHEN 2 THEN -px / pz
              WHEN 3 THEN pz / px WHEN 4 THEN pz / py ELSE -py / pz END AS u,
    CASE face WHEN 0 THEN pz / px WHEN 1 THEN pz / py WHEN 2 THEN -py / pz
              WHEN 3 THEN py / px WHEN 4 THEN -px / py ELSE -px / pz END AS v
  FROM fc),
st AS (
  SELECT face,
    CASE WHEN u >= 0 THEN 0.5 * sqrt(1 + 3 * u) ELSE 1 - 0.5 * sqrt(1 - 3 * u) END AS s,
    CASE WHEN v >= 0 THEN 0.5 * sqrt(1 + 3 * v) ELSE 1 - 0.5 * sqrt(1 - 3 * v) END AS t
  FROM uv),
ij AS (
  SELECT face,
    least({L - 1}, CAST(floor(least(1.0, greatest(0.0, s)) * {L}.0) AS BIGINT)) AS i,
    least({L - 1}, CAST(floor(least(1.0, greatest(0.0, t)) * {L}.0) AS BIGINT)) AS j
  FROM st),
g0 AS (SELECT face, i, j, face & 1 AS bits, CAST(0 AS BIGINT) AS pos FROM ij)"""
    steps = []
    prev = "g0"
    for n, k in enumerate(range(29, -1, -1), start=1):
        p_case = (
            f"CASE bits * 4 + (((i >> {k}) & 1) * 2 + ((j >> {k}) & 1)) "
            + " ".join(
                f"WHEN {b * 4 + ij} THEN {_S2_IJ_TO_POS[b][ij]}"
                for b in range(4)
                for ij in range(4)
            )
            + " END"
        )
        bits_next = (
            f"CASE ({p_case}) WHEN 0 THEN (CASE bits WHEN 0 THEN 1 WHEN 1 THEN 0 WHEN 2 THEN 3 ELSE 2 END) "
            f"WHEN 3 THEN (CASE bits WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE 0 END) ELSE bits END"
        )
        nxt = f"g{n}"
        steps.append(
            f"{nxt} AS (SELECT face, i, j, {bits_next} AS bits, pos * 4 + ({p_case}) AS pos FROM {prev})"
        )
        prev = nxt
    lsb = 1 << (2 * (30 - level))
    return (
        pre
        + ",\n"
        + ",\n".join(steps)
        + f"""
SELECT s2_cell, count(*) AS n FROM (
  SELECT CAST(
    CASE WHEN wrapped >= 9223372036854775808 THEN wrapped - 18446744073709551616 ELSE wrapped END
    AS BIGINT) AS s2_cell
  FROM (
    SELECT (q + 1 - (q % 2)) * {lsb} AS wrapped FROM (
      SELECT (CAST(face AS HUGEINT) * 2305843009213693952 + CAST(pos AS HUGEINT) * 2 + 1) // {lsb} AS q
      FROM {prev})))
GROUP BY s2_cell
"""
    )


# ---- generic engine operators over the TPC-H-ish tables


def q_agg_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("2024-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_window_top_order_per_cust(spark, sf_dir):
    """Per-group window top-1 + GWQL global sort/LIMIT in one gate: each
    customer's best order, globally ranked, top 10 overall (the former
    standalone topk_orders gate folded in r5 to free a slot for
    spatial_distance_join_bucketed under the 50-entry driver cap; the
    TakeOrderedAndProject global top-N is still value-gated here)."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def q_set_except_customers(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    with_orders = o.select(F.col("o_custkey").alias("c_custkey")).distinct()
    negative_bal = c.where(F.col("c_acctbal") < 0).select("c_custkey").distinct()
    return with_orders.exceptAll(negative_bal)


def q_text_predicates_parts(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.where(
        F.col("p_name").startswith("small") | F.col("p_name").endswith("bolt") | F.col("p_name").contains("widg")
    ).select("p_partkey", "p_name")


def q_temporal_event_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.year("ts").alias("yr"), F.month("ts").alias("mo"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("sum_value"))


def q_temporal_range_agg(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    from geowave_spark.operators.binning import time_range_agg

    return time_range_agg(e, "ts", by=["event_type"])


def q_fixed_bin_histogram(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return fixed_bin_histogram(li, "l_extendedprice", 900.0, 105000.0, 20)


def q_stats_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("l_quantity").alias("cnt"),
        F.round(F.min("l_quantity"), 6).alias("min_q"),
        F.round(F.max("l_quantity"), 6).alias("max_q"),
        F.round(F.sum("l_quantity"), 4).alias("sum_q"),
        F.round(F.avg("l_quantity"), 6).alias("avg_q"),
    )



def q_filter_expression(spark, sf_dir):
    """Filter-expression tree parity (And/Or/Not/Between/IsNull over
    numeric/text fields — core/store/.../query/filter/expression/*) plus
    the scalar-function surface (ABS / CONCAT / numeric+text casts,
    GWQLCoreExtensions.java:53-66) in the projection — one driver entry
    covering both §2.2/§2.8 rows (consolidated r4 to stay inside the
    50-entry driver cap while the freed slot gates phash_neardup)."""
    o = _t(spark, sf_dir, "orders")
    return o.where(
        (
            F.col("o_totalprice").between(1000.0, 50000.0)
            & (F.col("o_orderpriority") != "5-LOW")
        )
        | (~F.col("o_orderstatus").isin("F", "O") & F.col("o_custkey").isNotNull())
    ).select(
        "o_orderkey",
        F.abs(F.col("o_totalprice") - F.lit(3000.0)).alias("abs_price_delta"),
        F.concat(F.col("o_orderstatus"), F.lit("-"), F.col("o_orderpriority")).alias(
            "status_priority"
        ),
        F.col("o_custkey").cast("string").alias("custkey_text"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("price_e2"),
    )


def q_temporal_predicates(spark, sf_dir):
    """BEFORE / DURING / AFTER temporal operators (TemporalOperators.java):
    events DURING [2024-01-10, 2024-01-20) joined to their type's first day."""
    e = _t(spark, sf_dir, "events")
    return (
        e.where(
            (F.col("ts") >= F.lit("2024-01-10"))
            & (F.col("ts") < F.lit("2024-01-20"))
        )
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("first_ts"))
    )


PHASH_N = 1200  # images in the phash near-dup gate (oracle pinned to it)

def q_phash_neardup(spark, sf_dir):
    """Image near-duplicate detection by 64-bit perceptual hash over the
    input-hint images table (driver-brief image axis; the reference has
    no image-dedup operator — LLM-pipeline family, operators/imagedup.py).

    The 100 TB shape, end-to-end in Catalyst: collapse exact duplicates
    first (groupBy phash — one shuffle, class representative + size),
    run the multi-index Hamming band join (Norouzi et al. pigeonhole,
    d=4 / m=2 → 15 bands on 20-bit keys) over DISTINCT signatures only,
    then join class sizes back.  Value-exact vs the independent
    brute-force popcount oracle (tools/oracle_values.phash_pair_rows)."""
    from geowave_spark.operators.imagedup import hamming_pairs
    from geowave_spark.sources.images import images_table

    ensure_py_files(spark)
    # the class table is referenced four times downstream (two band-join
    # sides, two size join-backs); without persist each reference
    # regenerates + rehashes every image.  The next call releases it.
    classes = cache_per_call(
        "q_phash_neardup",
        images_table(spark, PHASH_N)
        .groupBy(F.col("phash").alias("_sig"))
        .agg(F.min("image_id").alias("_id"), F.count(F.lit(1)).alias("cnt")),
    )
    pairs = hamming_pairs(
        classes.select("_id", "_sig"), max_hamming=4, blocks_per_key=2
    )
    n_a = classes.select(F.col("_id").alias("id_a"), F.col("cnt").alias("n_a"))
    n_b = classes.select(F.col("_id").alias("id_b"), F.col("cnt").alias("n_b"))
    return (
        pairs.join(n_a, "id_a")
        .join(n_b, "id_b")
        .select("id_a", "id_b", "hamming", "n_a", "n_b")
    )


XZ_QBOX = (-60.0, -30.0, 10.0, 25.0)


def q_xz_range_query(spark, sf_dir):
    """Extent query through the XZ-order index (XZOrderSFC.java /
    XZHierarchicalIndexStrategy.java:46-107): encode each part rectangle
    to its XZ code (pandas UDF), prune with the query box's code ranges
    (coarse filter), then exact envelope intersection — output equals the
    plain SQL intersection, which is the oracle."""

    from geowave_spark.sfc import xz_encode, xz_query_ranges

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.expr(RCX) - F.expr(RW)).alias("x0"),
        (F.expr(RCX) + F.expr(RW)).alias("x1"),
        (F.expr(RCY) - F.expr(RH)).alias("y0"),
        (F.expr(RCY) + F.expr(RH)).alias("y1"),
    )

    @F.pandas_udf("long")
    def _xz(x0: pd.Series, y0: pd.Series, x1: pd.Series, y1: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(
            xz_encode(
                (x0.to_numpy(np.float64) + 180.0) / 360.0,
                (y0.to_numpy(np.float64) + 90.0) / 180.0,
                (x1.to_numpy(np.float64) + 180.0) / 360.0,
                (y1.to_numpy(np.float64) + 90.0) / 180.0,
            )
        )

    qx0, qy0, qx1, qy1 = XZ_QBOX
    ranges = xz_query_ranges(
        (qx0 + 180.0) / 360.0,
        (qy0 + 90.0) / 180.0,
        (qx1 + 180.0) / 360.0,
        (qy1 + 90.0) / 180.0,
    )
    coded = p.withColumn("xz", _xz("x0", "y0", "x1", "y1"))
    coarse = F.lit(False)
    for lo, hi in ranges:
        coarse = coarse | F.col("xz").between(int(lo), int(hi))
    return (
        coded.where(coarse)
        .where(
            (F.col("x0") <= qx1)
            & (F.col("x1") >= qx0)
            & (F.col("y0") <= qy1)
            & (F.col("y1") >= qy0)
        )
        .select("p_partkey")
    )


EV_LON = "-180.0 + (CAST((event_id * 48271) % 360000 AS DOUBLE) / 1000.0)"
EV_LAT = "-90.0 + (CAST((event_id * 69621) % 180000 AS DOUBLE) / 1000.0)"
ST_BBOX = (-60.0, -30.0, 40.0, 30.0)
ST_T0, ST_T1 = "2024-01-08 00:00:00", "2024-01-22 00:00:00"


def q_spatial_temporal_range_query(spark, sf_dir):
    """"This bbox, this time window" through the 3-D spatial-temporal
    index (SpatialTemporalDimensionalityTypeProvider.java:57 +
    TemporalBinningStrategy year bins): encode (year, tier, cell) point
    keys, prune with decomposed Morton ranges, exact-filter — output
    equals the plain bbox+time SQL predicate, which is the oracle."""
    from geowave_spark.encode import with_spatiotemporal_cells
    from geowave_spark.plans.prune import pruned_spatiotemporal_scan
    from geowave_spark.sfc import DEFAULT_ST_STRATEGY

    e = _t(spark, sf_dir, "events").select(
        "event_id", "ts", F.expr(EV_LON).alias("lon"), F.expr(EV_LAT).alias("lat")
    )
    idx = with_spatiotemporal_cells(e)
    return pruned_spatiotemporal_scan(
        idx, DEFAULT_ST_STRATEGY, ST_BBOX, ST_T0, ST_T1
    ).select("event_id")


def q_audio_features(spark, sf_dir):
    """Multimodal binary-column plumbing (brief): per-clip audio features
    over a deterministic synthetic PCM table — rows-only gate (binary
    decode is not SQL-expressible); sized from sf_dir's scale."""
    from geowave_spark.sources.multimodal import audio_features, audio_table

    ensure_py_files(spark)  # synthetic source — no _t() call ships the pkg
    n = 2000 if "0.1" in sf_dir else 500
    return audio_features(audio_table(spark, n)).select(
        "audio_id", F.round("duration_s", 6).alias("duration_s"), F.round("rms", 6).alias("rms")
    )


def q_video_frame_sample(spark, sf_dir):
    """Frame sampling over video binary columns — rows-only gate."""
    from geowave_spark.sources.multimodal import video_frame_sample, video_table

    ensure_py_files(spark)
    n = 1000 if "0.1" in sf_dir else 300
    return video_frame_sample(video_table(spark, n), every_n=2).select(
        "video_id", "frame_idx", F.round("mean_r", 4).alias("mean_r")
    )


def q_dbscan_clusters(spark, sf_dir):
    """DBSCAN cluster summary (DBScanMapReduce analog) — rows-only gate
    (iterative connected components, not SQL-expressible; exact numpy
    oracle in tests/test_dbscan.py).  Output is deterministic: the
    cluster label is the minimum member key of the component."""
    from geowave_spark.operators.dbscan import dbscan

    out = dbscan(
        _customer_points(spark, sf_dir), eps=8.0, min_pts=3, id_col="c_custkey"
    )
    return (
        out.where(F.col("cluster").isNotNull())
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def q_kmeans_hulls(spark, sf_dir):
    """KMeans + convex hull per cluster (KMeansRunner.java:201-211,
    KMeansHullGenerator).  Uses the deterministic Lloyd variant
    (grid-snapped int sums, k-lowest-id init) so the iterative algorithm
    is value-gated against an independent numpy oracle: output is
    (cluster, n_points, sum_x, sum_y) with exact integer centroid sums.
    The MLlib path (`kmeans_clusters`) stays the production default; the
    hull WKTs are exercised here but gated in pytest (FP-sensitive
    collinear formatting kept out of the hash)."""
    from geowave_spark.operators.kmeans import cluster_hulls, lloyd_kmeans

    # small input: coalesce so the iterative jobs don't pay
    # many-partition scheduling overhead per iteration
    assigned = lloyd_kmeans(
        _customer_points(spark, sf_dir).coalesce(4), k=8, id_col="c_custkey"
    )
    hulls = cluster_hulls(assigned).select("cluster", "n_points")
    sums = assigned.groupBy("cluster").agg(
        F.sum(F.floor(F.col("lon") * 1000.0 + 0.5).cast("long")).alias("sum_x"),
        F.sum(F.floor(F.col("lat") * 1000.0 + 0.5).cast("long")).alias("sum_y"),
    )
    return hulls.join(F.broadcast(sums), "cluster").select(
        "cluster", "n_points", "sum_x", "sum_y"
    )


def _customer_pts_view(spark, sf_dir):
    """Register `customer_pts` (id, segment, WKT geom) for GWQL queries —
    the type-name → view mapping of the reference's adapter store."""
    df = _customer_points(spark, sf_dir).withColumn(
        "geom",
        F.concat(
            F.lit("POINT ("),
            F.col("lon").cast("string"),
            F.lit(" "),
            F.col("lat").cast("string"),
            F.lit(")"),
        ),
    )
    df.createOrReplaceTempView("customer_pts")


def _supplier_pts_view(spark, sf_dir):
    df = _supplier_points(spark, sf_dir).withColumn(
        "geom",
        F.concat(
            F.lit("POINT ("),
            F.col("lon").cast("string"),
            F.lit(" "),
            F.col("lat").cast("string"),
            F.lit(")"),
        ),
    )
    df.createOrReplaceTempView("supplier_pts")


def q_gwql_select(spark, sf_dir):
    """GWQL SELECT with BBOX + text predicate (GWQL.g4:75-105 surface)."""
    from geowave_spark.gwql import run as gwql_run

    _customer_pts_view(spark, sf_dir)
    return gwql_run(
        spark,
        "SELECT c_custkey FROM customer_pts "
        "WHERE BBOX(geom, -30, -20, 30, 20) AND strContains(c_mktsegment, 'BUILD')",
    )


def q_gwql_agg(spark, sf_dir):
    """GWQL aggregate selectors: COUNT + BBOX envelope aggregate."""
    from geowave_spark.gwql import run as gwql_run

    _customer_pts_view(spark, sf_dir)
    return gwql_run(
        spark,
        "SELECT COUNT(*) AS n, BBOX(geom) FROM customer_pts "
        "WHERE strStartsWith(c_mktsegment, 'MACH')",
    )


def q_gwql_delete(spark, sf_dir):
    """GWQL DELETE compiles to the surviving rows (copy-on-write)."""
    from geowave_spark.gwql import run as gwql_run

    _t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return gwql_run(
        spark,
        "DELETE FROM events WHERE ts BEFORE '2024-01-10T00:00:00'::date "
        "OR strContains(event_type, 'click')",
    ).select("event_id", "event_type", "value")


def q_cql_select(spark, sf_dir):
    """ECQL front-end (CQLQueryFilter/OptimalCQLQuery analog): BBOX +
    comparison + LIKE filter compiled to Catalyst — oracle is the same
    predicate in plain SQL."""
    from geowave_spark.cql import cql_filter

    df = _customer_points(spark, sf_dir).withColumn(
        "geom",
        F.concat(
            F.lit("POINT ("), F.col("lon").cast("string"),
            F.lit(" "), F.col("lat").cast("string"), F.lit(")"),
        ),
    )
    return cql_filter(
        df,
        "BBOX(geom, -50, -30, 60, 40) AND c_custkey > 100 "
        "AND NOT c_mktsegment LIKE 'AUTO%'",
    ).select("c_custkey")


def q_sql_injected_join(spark, sf_dir):
    """SQL spatial-join injection (SqlQueryRunner analog): the indexed
    join pre-filters the relations, then the original SQL re-runs —
    output equals direct evaluation, which the plain-SQL oracle states."""
    from geowave_spark.sql_join import run_spatial_sql

    _customer_pts_view(spark, sf_dir)
    _supplier_pts_view(spark, sf_dir)
    return run_spatial_sql(
        spark,
        "SELECT c.c_custkey, s.s_suppkey FROM customer_pts c, supplier_pts s "
        f"WHERE st_within_distance(c.geom, s.geom, {JOIN_RADIUS})",
    )


def q_stats_store_merge(spark, sf_dir):
    """Persisted incremental statistics store: write customers partitioned
    by segment with statistics-on-write, answer count/min/max/sum from
    merged partials (OptimalCountAggregation + NumericRangeStatistic
    semantics) — the oracle recomputes the same aggregates by scanning."""
    import shutil
    import tempfile

    from geowave_spark.sources.catalog import checkpointed_write
    from geowave_spark.sources.statistics import merged_statistics

    pts = _customer_points(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="gw_stats_")
    shutil.rmtree(path, ignore_errors=True)
    checkpointed_write(pts, path, "c_mktsegment", stats_fields=["lon"])
    m = merged_statistics(spark, path, "lon")
    shutil.rmtree(path, ignore_errors=True)
    return spark.createDataFrame(
        [
            (
                int(m["count"]),
                float(m["min"]),
                float(m["max"]),
                round(float(m["sum"]), 6),
            )
        ],
        "cnt bigint, min_lon double, max_lon double, sum_lon double",
    )


def q_spatial_touches_join(spark, sf_dir):
    """Exact DE-9IM TOUCHES join (r3, geowave_spark.relate via
    geom_pair_join(predicate="touches") — the SpatialJoinRunner
    GeomFunction parameter): occupied 15° grid cells as rectangle
    polygons, self-joined on touching (shared edge OR corner, interiors
    disjoint).  The DuckDB oracle is pure lattice arithmetic — two
    same-lattice squares touch iff their Chebyshev cell distance is
    exactly 1 — so the gate value-checks the topological predicate
    itself, not a reimplementation."""
    from geowave_spark.operators.join import geom_pair_join

    pts = _customer_points(spark, sf_dir)
    cells = (
        pts.select(
            F.floor(F.col("lon") / 15.0).cast("long").alias("cx"),
            F.floor(F.col("lat") / 15.0).cast("long").alias("cy"),
        )
        .distinct()
        .withColumn("cell_id", (F.col("cx") + 1000) * 100000 + (F.col("cy") + 1000))
        .withColumn("x0", F.col("cx") * 15.0)
        .withColumn("y0", F.col("cy") * 15.0)
        .withColumn(
            "wkt",
            F.concat(
                F.lit("POLYGON (("),
                F.col("x0").cast("string"), F.lit(" "), F.col("y0").cast("string"), F.lit(", "),
                (F.col("x0") + 15.0).cast("string"), F.lit(" "), F.col("y0").cast("string"), F.lit(", "),
                (F.col("x0") + 15.0).cast("string"), F.lit(" "), (F.col("y0") + 15.0).cast("string"), F.lit(", "),
                F.col("x0").cast("string"), F.lit(" "), (F.col("y0") + 15.0).cast("string"), F.lit(", "),
                F.col("x0").cast("string"), F.lit(" "), F.col("y0").cast("string"),
                F.lit("))"),
            ),
        )
        .select("cell_id", "wkt")
    )
    left = cells.select(F.col("cell_id").alias("a_id"), "wkt")
    right = cells.select(F.col("cell_id").alias("b_id"), "wkt")
    return (
        geom_pair_join(left, right, "a_id", "b_id", predicate="touches")
        .where(F.col("a_id") < F.col("b_id"))
        .select(F.col("a_id").alias("a_cell"), F.col("b_id").alias("b_cell"))
    )


def q_spatial_crosses_join(spark, sf_dir):
    """Exact DE-9IM CROSSES join over NON-rectangular geometry (r4,
    VERDICT r3 Next #2): horizontal line segments (from supplier points,
    four deterministic families — cell-spanning, short-interior,
    hypotenuse-exiting, boundary-collinear) × right triangles on the
    customer-occupied 15° lattice.  Exercises relate.py's diagonal-edge
    classification, collinear-boundary handling, and the within-vs-crosses
    distinction (an interior segment does NOT cross).  The DuckDB oracle
    is closed-form interval arithmetic: a horizontal segment [a,b]×{c}
    crosses the triangle ((x0,y0),(x0+15,y0),(x0,y0+15)) iff
    y0 < c < y0+15, max(a,x0) < min(b,e) with e = x0+15-(c-y0), and part
    of the segment lies outside [x0,e] — pure integers, exact in doubles.
    Reference semantics: GeomCrosses.java via JTS RelateOp
    (analytics/spark/.../sparksql/udf/GeomFunction.java)."""
    from geowave_spark.operators.join import geom_pair_join

    pts = _customer_points(spark, sf_dir)
    tri = (
        pts.select(
            F.floor(F.col("lon") / 15.0).cast("long").alias("cx"),
            F.floor(F.col("lat") / 15.0).cast("long").alias("cy"),
        )
        .distinct()
        .withColumn("tri_id", (F.col("cx") + 1000) * 100000 + (F.col("cy") + 1000))
        .withColumn("x0", F.col("cx") * 15.0)
        .withColumn("y0", F.col("cy") * 15.0)
        .withColumn(
            "wkt",
            F.concat(
                F.lit("POLYGON (("),
                F.col("x0").cast("string"), F.lit(" "), F.col("y0").cast("string"), F.lit(", "),
                (F.col("x0") + 15.0).cast("string"), F.lit(" "), F.col("y0").cast("string"), F.lit(", "),
                F.col("x0").cast("string"), F.lit(" "), (F.col("y0") + 15.0).cast("string"), F.lit(", "),
                F.col("x0").cast("string"), F.lit(" "), F.col("y0").cast("string"),
                F.lit("))"),
            ),
        )
        .select("tri_id", "wkt")
    )
    sp = _supplier_points(spark, sf_dir)
    fam = F.col("s_suppkey") % 4
    sx0 = F.floor(F.col("lon") / 15.0) * 15.0
    sy0 = F.floor(F.col("lat") / 15.0) * 15.0
    yc = F.when(fam == 3, sy0).otherwise(sy0 + 3.0 + 3.0 * (F.col("s_suppkey") % 3))
    xa = sx0 + F.when(fam == 0, F.lit(-5.0)).when(fam == 1, F.lit(1.0)).otherwise(F.lit(2.0))
    xb = sx0 + F.when(fam == 0, F.lit(20.0)).when(fam == 1, F.lit(3.0)).when(fam == 2, F.lit(40.0)).otherwise(F.lit(8.0))
    seg = sp.select(
        F.col("s_suppkey").alias("seg_id"),
        F.concat(
            F.lit("LINESTRING ("),
            xa.cast("string"), F.lit(" "), yc.cast("string"), F.lit(", "),
            xb.cast("string"), F.lit(" "), yc.cast("string"),
            F.lit(")"),
        ).alias("wkt"),
    )
    return geom_pair_join(
        seg, tri, "seg_id", "tri_id", left_wkt="wkt", right_wkt="wkt", predicate="crosses"
    ).select("seg_id", "tri_id")


# ---- training-data operators


def q_dedup_exact_docs(spark, sf_dir):
    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))



def q_text_quality_lang(spark, sf_dir):
    """Quality scoring + language ID in one per-document pass (r4: the
    former quality_scores and language_id entries, merged to free a
    driver slot for spatial_crosses_join — both expression families stay
    value-gated by the combined oracle)."""
    d = _t(spark, sf_dir, "documents")
    return quality_features(d).join(
        d.select("doc_id", language_id(F.col("text")).alias("lang_pred")), "doc_id"
    )


def q_embedding_topk(spark, sf_dir):
    """Exact cosine top-k, two tagged execution paths in one gate:

    - ``brute``: one-pass numpy matmul scan with per-batch partial top-k
      (the float32-bandwidth baseline);
    - ``sq_exact``: the scalar-quantized path (operators/similarity.py
      sq_topk) in branch-and-bound mode — int8 code scan keeps every row
      within 2ε of the batch k-th quantized score (ε = ‖scales‖/min‖x‖
      bounds the quantization error on the cosine), exact re-rank over
      the candidate sliver — output provably equals brute top-k, so the
      same SQL oracle gates both value-exact.  The heuristic-overfetch
      regime is recall-tested in tests/test_trainops.py."""
    from geowave_spark.operators.similarity import sq_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    brute = (
        brute_topk(q, emb, k=5, exclude_self=True)
        .withColumnRenamed("query_id", "vec_id")
        .withColumn("variant", F.lit("brute"))
    )
    sq = (
        sq_topk(q, emb, k=5, exact=True, exclude_self=True)
        .withColumnRenamed("query_id", "vec_id")
        .withColumn("variant", F.lit("sq_exact"))
    )
    return brute.unionByName(sq)


def q_minhash_neardup(spark, sf_dir):
    return minhash_lsh_dedup(_t(spark, sf_dir, "documents"), threshold=0.6)


def q_simhash_pairs(spark, sf_dir):
    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=4)


def q_cosine_neardup(spark, sf_dir):
    return cosine_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_ivf_topk(spark, sf_dir):
    """IVF with exhaustive probing (nprobe == num_centroids): exercises
    the full bucket/equi-join machinery while the output provably equals
    exact top-k, so the brute-force SQL oracle gates it value-exact.  The
    approximate regime (nprobe < C) is recall-tested in
    tests/test_trainops.py."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return ivf_topk(q, emb, k=5, num_centroids=8, nprobe=8, exclude_self=True).withColumnRenamed(
        "query_id", "vec_id"
    )


# ---- raster tiling queries

TILE_N = 800  # images synthesized per run (deterministic)
TILE_SIZE = 16
# SQL-identical geometry derivation for the tile oracle (img_i = integer id)
TLON = "-180.0 + (CAST((img_i * 48271) % 360000 AS DOUBLE) / 1000.0)"
TLAT = "-90.0 + (CAST((img_i * 69621) % 180000 AS DOUBLE) / 1000.0)"
_RES_BY_MOD = [0.002, 0.004, 0.008, 0.016]


def _tile_tier_table():
    from geowave_spark.raster.tiling import pick_tier
    from geowave_spark.sfc.tiered import TieredStrategy

    strat = TieredStrategy()
    return [(m, r, pick_tier(r, TILE_SIZE, strat)) for m, r in enumerate(_RES_BY_MOD)]


def _tile_images_df(spark):
    from geowave_spark.sources.images import images_table

    res_case = "CASE img_i % 4 " + " ".join(
        f"WHEN {m} THEN {r!r}" for m, r, _ in _tile_tier_table()
    ) + " END"
    return (
        images_table(spark, TILE_N)
        .withColumn("img_i", F.expr("CAST(substring(image_id, 4, 10) AS BIGINT)"))
        .withColumn("lon", F.expr(TLON.replace("img_i", "img_i")))
        .withColumn("lat", F.expr(TLAT))
        .withColumn("res", F.expr(res_case))
    )



def q_tile_assignment(spark, sf_dir):
    """Full per-image tile assignment as (image_id, tier, cx, cy) grid
    coordinates — value-exact gate: the oracle enumerates each image's
    covering cell rectangle in pure SQL (RasterDataAdapter.convertToIndex
    cell rule).  The Hilbert encoding of (cx, cy) → cell is pinned
    separately by the numpy oracle in tests/test_raster.py and the
    hilbert_bin_count SQL state machine."""
    from geowave_spark.raster.tiling import tile_images
    from geowave_spark.sfc.hilbert import hilbert_to_xy
    from pyspark.sql.types import ArrayType, LongType
    import numpy as np

    _t(spark, sf_dir, "region")
    tiles = tile_images(_tile_images_df(spark), tile_size=TILE_SIZE)

    @F.pandas_udf(ArrayType(LongType()))
    def _xy(cell: pd.Series, tier: pd.Series) -> pd.Series:
        c = cell.to_numpy(np.int64)
        t = tier.to_numpy(np.int64)
        out = np.zeros((len(c), 2), dtype=np.int64)
        for tv in np.unique(t):
            m = t == tv
            if tv > 0:
                x, y = hilbert_to_xy(c[m].astype(np.uint64), int(tv))
                out[m, 0] = x.astype(np.int64)
                out[m, 1] = y.astype(np.int64)
        return pd.Series(list(out))

    return tiles.select(
        "image_id", "tier", _xy("cell", "tier").alias("_xy")
    ).select(
        "image_id",
        "tier",
        F.element_at("_xy", 1).alias("cx"),
        F.element_at("_xy", 2).alias("cy"),
    )


def _tile_cells_cte() -> str:
    """Shared CTE chain: per image, the (tier, [ax..bx]×[ay..by]) covering
    cell rectangle from pure grid arithmetic (convertToIndex rule)."""
    tiers = _tile_tier_table()
    res_case = "CASE i % 4 " + " ".join(f"WHEN {m} THEN {r!r}" for m, r, _ in tiers) + " END"
    tier_case = "CASE i % 4 " + " ".join(f"WHEN {m} THEN {t}" for m, _, t in tiers) + " END"
    w_case = "CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 64 WHEN 3 THEN 256 END"
    h_case = "CASE ((i // 4) + i) % 4 WHEN 0 THEN 16 WHEN 1 THEN 32 WHEN 2 THEN 64 WHEN 3 THEN 256 END"
    return f"""
WITH base AS (
  SELECT i,
         'img' || lpad(CAST(i AS VARCHAR), 10, '0') AS image_id,
         {TLON.replace("img_i", "i")} AS lon,
         {TLAT.replace("img_i", "i")} AS lat,
         {res_case} AS res,
         {tier_case} AS tier,
         {w_case} AS w,
         {h_case} AS h
  FROM range(0, {TILE_N}) t(i)
), env AS (
  SELECT image_id, tier,
         lon AS minx, lat AS miny,
         least(lon + w * res, 180.0) AS maxx,
         least(lat + h * res, 90.0) AS maxy,
         CAST(power(2.0, tier) AS BIGINT) AS n
  FROM base
), cells AS (
  SELECT image_id, tier,
         least(n - 1, CAST(floor((minx + 180.0) / 360.0 * n) AS BIGINT)) AS ax,
         least(n - 1, CAST(floor((maxx + 180.0) / 360.0 * n) AS BIGINT)) AS bx,
         least(n - 1, CAST(floor((miny + 90.0) / 180.0 * n) AS BIGINT)) AS ay,
         least(n - 1, CAST(floor((maxy + 90.0) / 180.0 * n) AS BIGINT)) AS by
  FROM env
)"""


def _tile_assignment_oracle_sql() -> str:
    """Every (image, tier, cx, cy) of the covering rectangle, enumerated
    with lateral generate_series."""
    return (
        _tile_cells_cte()
        + """
, xs AS (
  SELECT image_id, tier, ay, by, unnest(generate_series(ax, bx)) AS cx FROM cells
)
SELECT image_id, tier, cx, unnest(generate_series(ay, by)) AS cy FROM xs
"""
    )


# ---------------------------------------------------------------------------
# driver surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: tiered spatial distance join at sf0.001."""
    return q_spatial_distance_join(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "spatial_line_distance_join": q_spatial_line_distance_join,
        "spatial_polygon_polygon_join": q_spatial_polygon_polygon_join,
        "spatial_distance_join": q_spatial_distance_join,
        "spatial_distance_join_anti": q_spatial_distance_join_anti,
        "spatial_distance_join_salted": q_spatial_distance_join_salted,
        "spatial_distance_join_meters": q_spatial_distance_join_meters,
        "spatial_knn": q_spatial_knn,
        "spatial_pip_join": q_spatial_pip_join,
        "spatial_grid_bin_count": q_spatial_grid_bin_count,
        "spatial_bbox_agg": q_spatial_bbox_agg,
        "spatial_range_query": q_spatial_range_query,
        "spatial_subsample": q_spatial_subsample,
        "spatial_kde": q_spatial_kde,
        "spatial_temporal_range_query": q_spatial_temporal_range_query,
        "sfc_bin_counts": q_sfc_bin_counts,
        "agg_pricing_summary": q_agg_pricing_summary,
        "spatial_distance_join_bucketed": q_spatial_distance_join_bucketed,
        "window_top_order_per_cust": q_window_top_order_per_cust,
        "set_except_customers": q_set_except_customers,
        "text_predicates_parts": q_text_predicates_parts,
        "temporal_event_rollup": q_temporal_event_rollup,
        "temporal_range_agg": q_temporal_range_agg,
        "fixed_bin_histogram": q_fixed_bin_histogram,
        "stats_lineitem": q_stats_lineitem,
        "filter_expression": q_filter_expression,
        "temporal_predicates": q_temporal_predicates,
        "phash_neardup": q_phash_neardup,
        "xz_range_query": q_xz_range_query,
        "dbscan_clusters": q_dbscan_clusters,
        "audio_features": q_audio_features,
        "video_frame_sample": q_video_frame_sample,
        "gwql_select": q_gwql_select,
        "gwql_agg": q_gwql_agg,
        "gwql_delete": q_gwql_delete,
        "spatial_touches_join": q_spatial_touches_join,
        "cql_select": q_cql_select,
        "sql_injected_join": q_sql_injected_join,
        "stats_store_merge": q_stats_store_merge,
        "dedup_exact_docs": q_dedup_exact_docs,
        "doc_fingerprint": q_doc_fingerprint,
        "text_quality_lang": q_text_quality_lang,
        "spatial_crosses_join": q_spatial_crosses_join,
        "embedding_topk": q_embedding_topk,
        "minhash_neardup": q_minhash_neardup,
        "simhash_pairs": q_simhash_pairs,
        "cosine_neardup": q_cosine_neardup,
        "ivf_topk": q_ivf_topk,
        "tile_assignment": q_tile_assignment,
        "h3_bin_count": q_h3_bin_count,
        "kmeans_hulls": q_kmeans_hulls,
    }


def _kde_oracle_sql() -> str:
    nx, ny = 1 << (KDE_LEVEL + 1), 1 << KDE_LEVEL
    vals = ", ".join(f"({dx}, {dy}, {w!r})" for dx, dy, w in gaussian_stencil())
    return f"""
WITH pts AS (
  SELECT CAST(least({nx - 1}, greatest(0, CAST(floor(({CLON} + 180.0) / 360.0 * {nx}) AS BIGINT))) AS BIGINT) AS px,
         CAST(least({ny - 1}, greatest(0, CAST(floor(({CLAT} + 90.0) / 180.0 * {ny}) AS BIGINT))) AS BIGINT) AS py
  FROM customer
), k(dx, dy, w) AS (VALUES {vals})
SELECT px + dx AS cx, py + dy AS cy, round(sum(1.0 * w), 6) AS weight
FROM pts, k
WHERE px + dx >= 0 AND px + dx < {nx} AND py + dy >= 0 AND py + dy < {ny}
GROUP BY 1, 2
"""


def oracle_sql() -> dict[str, str]:
    r2 = JOIN_RADIUS * JOIN_RADIUS
    cust_pts = f"SELECT c_custkey, c_mktsegment, {CLON} AS lon, {CLAT} AS lat FROM customer"
    supp_pts = f"SELECT s_suppkey, {SLON} AS lon, {SLAT} AS lat FROM supplier"
    rects = (
        f"SELECT p_partkey, {RCX} - ({RW}) AS x0, {RCX} + ({RW}) AS x1, "
        f"{RCY} - ({RH}) AS y0, {RCY} + ({RH}) AS y1 FROM part"
    )
    dist_join = f"""
WITH c AS ({cust_pts}), s AS ({supp_pts})
SELECT c.c_custkey, s.s_suppkey FROM c, s
WHERE (c.lon - s.lon) * (c.lon - s.lon) + (c.lat - s.lat) * (c.lat - s.lat) <= {r2!r}
"""
    # point × LINESTRING: unroll the 2 segments; the clamped projection
    # mirrors the engine kernel's op order exactly (t numerator, then
    # cx = ax + t*dx, then (lon - cx)^2) so both engines round identically
    lr2 = LINE_JOIN_RADIUS * LINE_JOIN_RADIUS
    line_join = f"""
WITH c AS ({cust_pts}),
t AS (
  SELECT s_suppkey, {TKX} AS x0, {TKY} AS y0,
         {TDX1} AS dx1, {TDY1} AS dy1, {TDX2} AS dx2, {TDY2} AS dy2
  FROM supplier),
v AS (
  SELECT s_suppkey, x0, y0, x0 + dx1 AS x1, y0 + dy1 AS y1,
         (x0 + dx1) + dx2 AS x2, (y0 + dy1) + dy2 AS y2
  FROM t),
seg AS (
  SELECT s_suppkey, x0 AS ax, y0 AS ay, x1 AS bx, y1 AS by FROM v
  UNION ALL
  SELECT s_suppkey, x1 AS ax, y1 AS ay, x2 AS bx, y2 AS by FROM v),
cand AS (
  SELECT c.c_custkey, seg.s_suppkey, c.lon, c.lat,
         seg.ax, seg.ay, seg.bx - seg.ax AS dx, seg.by - seg.ay AS dy
  FROM c, seg),
proj AS (
  SELECT c_custkey, s_suppkey, lon, lat, ax, ay, dx, dy,
         least(1.0, greatest(0.0,
           ((lon - ax) * dx + (lat - ay) * dy)
           / (CASE WHEN dx * dx + dy * dy = 0.0 THEN 1.0 ELSE dx * dx + dy * dy END))) AS tt
  FROM cand)
SELECT DISTINCT c_custkey, s_suppkey FROM proj
WHERE (lon - (ax + tt * dx)) * (lon - (ax + tt * dx))
    + (lat - (ay + tt * dy)) * (lat - (ay + tt * dy)) <= {lr2!r}
"""
    # rect × rect within-distance: closed-form axis-aligned distance
    pr2 = POLY_JOIN_RADIUS * POLY_JOIN_RADIUS
    polypoly_join = f"""
WITH a AS ({rects}),
b AS (
  SELECT s_suppkey, {QCX} - ({QW}) AS x0, {QCX} + ({QW}) AS x1,
         {QCY} - ({QH}) AS y0, {QCY} + ({QH}) AS y1
  FROM supplier),
d AS (
  SELECT a.p_partkey, b.s_suppkey,
         greatest(0.0, a.x0 - b.x1, b.x0 - a.x1) AS dx,
         greatest(0.0, a.y0 - b.y1, b.y0 - a.y1) AS dy
  FROM a, b)
SELECT p_partkey, s_suppkey FROM d WHERE dx * dx + dy * dy <= {pr2!r}
"""
    return {
        "spatial_line_distance_join": line_join,
        "spatial_polygon_polygon_join": polypoly_join,
        "spatial_distance_join": dist_join,
        "spatial_distance_join_salted": dist_join,
        "spatial_distance_join_bucketed": dist_join,
        "spatial_distance_join_meters": f"""
WITH c AS ({cust_pts}), s AS ({supp_pts})
SELECT c.c_custkey, s.s_suppkey FROM c, s
WHERE 2 * 6371008.8 * asin(sqrt(
  pow(sin(radians(s.lat - c.lat) / 2), 2)
  + cos(radians(c.lat)) * cos(radians(s.lat)) * pow(sin(radians(s.lon - c.lon) / 2), 2)
)) <= {HAVERSINE_RADIUS_M!r}
""",
        "spatial_distance_join_anti": f"""
WITH c AS ({cust_pts}), s AS ({supp_pts})
SELECT c.c_custkey FROM c
WHERE NOT EXISTS (
  SELECT 1 FROM s
  WHERE (c.lon - s.lon) * (c.lon - s.lon) + (c.lat - s.lat) * (c.lat - s.lat) <= {r2!r})
""",
        "spatial_knn": f"""
WITH c AS ({cust_pts}), s AS ({supp_pts}), d AS (
  SELECT s.s_suppkey, c.c_custkey,
         (s.lon - c.lon) * (s.lon - c.lon) + (s.lat - c.lat) * (s.lat - c.lat) AS d2
  FROM s, c)
SELECT s_suppkey, c_custkey, rank FROM (
  SELECT s_suppkey, c_custkey,
         CAST(row_number() OVER (PARTITION BY s_suppkey ORDER BY d2 ASC, c_custkey ASC) AS INT) AS rank
  FROM d WHERE d2 <= {KNN_DIST * KNN_DIST!r}) t
WHERE rank <= {KNN_K}
""",
        "spatial_pip_join": f"""
WITH c AS ({cust_pts}), r AS ({rects})
SELECT c.c_custkey, r.p_partkey FROM c, r
WHERE c.lon BETWEEN r.x0 AND r.x1 AND c.lat BETWEEN r.y0 AND r.y1
""",
        "spatial_grid_bin_count": f"""
WITH c AS ({cust_pts})
SELECT CAST(floor((lon + 180.0) / 15.0) AS BIGINT) AS cx,
       CAST(floor((lat + 90.0) / 15.0) AS BIGINT) AS cy,
       count(*) AS n
FROM c GROUP BY 1, 2
""",
        "spatial_bbox_agg": f"""
WITH c AS ({cust_pts})
SELECT c_mktsegment, min(lon) AS minx, max(lon) AS maxx, min(lat) AS miny, max(lat) AS maxy
FROM c GROUP BY c_mktsegment
""",
        "spatial_range_query": f"""
WITH c AS ({cust_pts})
SELECT c_custkey FROM c
WHERE lon >= -30.0 AND lon <= 30.0 AND lat >= -20.0 AND lat <= 20.0
""",
        "spatial_subsample": f"""
WITH c AS ({cust_pts}), g AS (
  SELECT c_custkey,
         CAST(floor((lon + 180.0) / 15.0) AS BIGINT) AS cx,
         CAST(floor((lat + 90.0) / 15.0) AS BIGINT) AS cy
  FROM c)
SELECT cx, cy, min(c_custkey) AS c_custkey FROM g GROUP BY cx, cy
""",
        "spatial_kde": f"""
SELECT 'EPSG:4326' AS crs, cx, cy, weight FROM ({_kde_oracle_sql()})
UNION ALL
SELECT 'EPSG:3857' AS crs, cx, cy, weight FROM ({_kde_mercator_oracle_sql()})
""",
        "spatial_temporal_range_query": f"""
SELECT event_id FROM (
  SELECT event_id, ts, {EV_LON} AS lon, {EV_LAT} AS lat FROM events)
WHERE lon >= {ST_BBOX[0]!r} AND lon <= {ST_BBOX[2]!r}
  AND lat >= {ST_BBOX[1]!r} AND lat <= {ST_BBOX[3]!r}
  AND ts >= TIMESTAMP '{ST_T0}' AND ts < TIMESTAMP '{ST_T1}'
""",
        "agg_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
        "window_top_order_per_cust": """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
  FROM orders) t
WHERE rn = 1
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
""",
        "set_except_customers": """
SELECT DISTINCT o_custkey AS c_custkey FROM orders
EXCEPT
SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal < 0
""",
        "text_predicates_parts": """
SELECT p_partkey, p_name FROM part
WHERE p_name LIKE 'small%' OR p_name LIKE '%bolt' OR p_name LIKE '%widg%'
""",
        "temporal_event_rollup": """
SELECT CAST(EXTRACT(YEAR FROM ts) AS INT) AS yr, CAST(EXTRACT(MONTH FROM ts) AS INT) AS mo,
       event_type, count(*) AS n, round(sum(value), 3) AS sum_value
FROM events GROUP BY 1, 2, 3
""",
        "temporal_range_agg": """
SELECT event_type, min(ts) AS min_ts, max(ts) AS max_ts FROM events GROUP BY event_type
""",
        "fixed_bin_histogram": """
SELECT least(19, greatest(0, CAST(floor((l_extendedprice - 900.0) / 104100.0 * 20) AS BIGINT))) AS bin,
       count(*) AS cnt
FROM lineitem GROUP BY 1
""",
        "stats_lineitem": """
SELECT count(l_quantity) AS cnt,
       round(min(l_quantity), 6) AS min_q,
       round(max(l_quantity), 6) AS max_q,
       round(sum(l_quantity), 4) AS sum_q,
       round(avg(l_quantity), 6) AS avg_q
FROM lineitem
""",
        "spatial_touches_join": f"""
WITH c AS ({cust_pts}),
cells AS (
  SELECT DISTINCT CAST(floor(lon / 15.0) AS BIGINT) AS cx,
                  CAST(floor(lat / 15.0) AS BIGINT) AS cy
  FROM c
),
ids AS (SELECT cx, cy, (cx + 1000) * 100000 + (cy + 1000) AS cell_id FROM cells)
SELECT a.cell_id AS a_cell, b.cell_id AS b_cell
FROM ids a JOIN ids b
  ON greatest(abs(a.cx - b.cx), abs(a.cy - b.cy)) = 1
WHERE a.cell_id < b.cell_id
""",
        "cql_select": f"""
WITH c AS ({cust_pts})
SELECT c_custkey FROM c
WHERE lon >= -50 AND lon <= 60 AND lat >= -30 AND lat <= 40
  AND c_custkey > 100 AND NOT c_mktsegment LIKE 'AUTO%'
""",
        "sql_injected_join": dist_join,
        "stats_store_merge": f"""
WITH c AS ({cust_pts})
SELECT count(*) AS cnt, min(lon) AS min_lon, max(lon) AS max_lon,
       round(sum(lon), 6) AS sum_lon
FROM c
""",
        "filter_expression": """
SELECT o_orderkey,
       abs(o_totalprice - 3000.0) AS abs_price_delta,
       o_orderstatus || '-' || o_orderpriority AS status_priority,
       CAST(o_custkey AS VARCHAR) AS custkey_text,
       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_e2
FROM orders
WHERE (o_totalprice BETWEEN 1000.0 AND 50000.0 AND o_orderpriority <> '5-LOW')
   OR (o_orderstatus NOT IN ('F', 'O') AND o_custkey IS NOT NULL)
""",
        "temporal_predicates": """
SELECT event_type, count(*) AS n, min(ts) AS first_ts FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type
""",
        "phash_neardup": _ov().values_sql(
            _ov().phash_pair_rows(PHASH_N, max_hamming=4),
            "t(id_a, id_b, hamming, n_a, n_b)",
        ),
        "xz_range_query": f"""
SELECT p_partkey FROM (
  SELECT p_partkey,
         {RCX} - ({RW}) AS x0, {RCX} + ({RW}) AS x1,
         {RCY} - ({RH}) AS y0, {RCY} + ({RH}) AS y1
  FROM part)
WHERE x0 <= {XZ_QBOX[2]!r} AND x1 >= {XZ_QBOX[0]!r}
  AND y0 <= {XZ_QBOX[3]!r} AND y1 >= {XZ_QBOX[1]!r}
""",
        "gwql_select": f"""
WITH c AS ({cust_pts})
SELECT c_custkey FROM c
WHERE lon BETWEEN -30 AND 30 AND lat BETWEEN -20 AND 20
  AND c_mktsegment LIKE '%BUILD%'
""",
        "gwql_agg": f"""
WITH c AS ({cust_pts})
SELECT count(*) AS n,
       min(lon) AS bbox_minx, min(lat) AS bbox_miny,
       max(lon) AS bbox_maxx, max(lat) AS bbox_maxy
FROM c WHERE c_mktsegment LIKE 'MACH%'
""",
        "gwql_delete": """
SELECT event_id, event_type, value FROM events
WHERE NOT (ts < TIMESTAMP '2024-01-10 00:00:00' OR event_type LIKE '%click%')
""",
        "dedup_exact_docs": """
SELECT min(doc_id) AS doc_id, count(*) AS dup_count FROM documents GROUP BY text
""",
        "doc_fingerprint": """
SELECT doc_id, substr(md5(text), 1, 16) AS fp FROM documents
""",
        # both variants are exact top-k (sq_exact is branch-and-bound with
        # a proven error bound), so the oracle is the same exact ranking
        # emitted once per tag
        "embedding_topk": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
d AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
  FROM q, embeddings c WHERE q.vec_id <> c.vec_id),
r AS (
SELECT vec_id, neighbor_id, rank FROM (
  SELECT vec_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM d) t
WHERE rank <= 5)
SELECT vec_id, neighbor_id, rank, 'brute' AS variant FROM r
UNION ALL
SELECT vec_id, neighbor_id, rank, 'sq_exact' AS variant FROM r
""",
        # quality_scores / language_id oracles are generated to mirror the
        # exact replace/length arithmetic of operators/text.py
        "text_quality_lang": f"""
WITH q AS ({_quality_oracle_sql()}), l AS ({_language_oracle_sql()})
SELECT q.*, l.lang_pred FROM q JOIN l USING (doc_id)
""",
        "spatial_crosses_join": f"""
WITH c AS ({cust_pts}),
cells AS (
  SELECT DISTINCT CAST(floor(lon / 15.0) AS BIGINT) AS cx,
                  CAST(floor(lat / 15.0) AS BIGINT) AS cy
  FROM c
),
tri AS (
  SELECT (cx + 1000) * 100000 + (cy + 1000) AS tri_id,
         cx * 15.0 AS x0, cy * 15.0 AS y0
  FROM cells
),
s AS ({supp_pts}),
seg AS (
  SELECT s_suppkey AS seg_id,
         CASE WHEN s_suppkey % 4 = 3 THEN floor(lat / 15.0) * 15.0
              ELSE floor(lat / 15.0) * 15.0 + 3 + 3 * (s_suppkey % 3) END AS yc,
         floor(lon / 15.0) * 15.0 +
           CASE s_suppkey % 4 WHEN 0 THEN -5 WHEN 1 THEN 1 ELSE 2 END AS xa,
         floor(lon / 15.0) * 15.0 +
           CASE s_suppkey % 4 WHEN 0 THEN 20 WHEN 1 THEN 3 WHEN 2 THEN 40 ELSE 8 END AS xb
  FROM s
)
SELECT seg.seg_id, tri.tri_id
FROM seg, tri
WHERE seg.yc > tri.y0 AND seg.yc < tri.y0 + 15
  AND greatest(seg.xa, tri.x0) < least(seg.xb, tri.x0 + 15 - (seg.yc - tri.y0))
  AND (seg.xa < tri.x0 OR seg.xb > tri.x0 + 15 - (seg.yc - tri.y0))
""",
        # independent-recomputation VALUES oracles (tools/oracle_values.py):
        # a second numpy implementation of each pipeline, embedded as a
        # DuckDB VALUES relation (pinned to the driver's sf0.01 compare)
        "minhash_neardup": _ov().values_sql(
            _ov().minhash_pair_rows(ORACLE_SF_DIR, threshold=0.6),
            "t(id_a, id_b, jaccard)",
        ),
        "simhash_pairs": _ov().values_sql(
            _ov().simhash_pair_rows(ORACLE_SF_DIR, max_hamming=4),
            "t(id_a, id_b, hamming)",
        ),
        "cosine_neardup": _ov().values_sql(
            _ov().cosine_pair_rows(ORACLE_SF_DIR, threshold=0.4),
            "t(id_a, id_b, sim)",
        ),
        "audio_features": _ov().values_sql(
            _ov().audio_rows(500), "t(audio_id, duration_s, rms)"
        ),
        "video_frame_sample": _ov().values_sql(
            _ov().video_rows(300, every_n=2), "t(video_id, frame_idx, mean_r)"
        ),
        "dbscan_clusters": _ov().values_sql(
            _ov().dbscan_rows(ORACLE_SF_DIR, CLON, CLAT, eps=8.0, min_pts=3),
            "t(cluster, n_points)",
        ),
        "kmeans_hulls": _ov().values_sql(
            _ov().kmeans_rows(ORACLE_SF_DIR, CLON, CLAT, k=8),
            "t(cluster, n_points, sum_x, sum_y)",
        ),
        "h3_bin_count": _ov().values_sql(
            _ov().h3_rows(ORACLE_SF_DIR, CLON, CLAT, res=2), "t(h3_cell, n)"
        ),
        "tile_assignment": _tile_assignment_oracle_sql(),
        "sfc_bin_counts": f"""
SELECT 'geohash' AS scheme, geohash AS bin, n FROM ({_geohash_oracle_sql()})
UNION ALL
SELECT 'hilbert' AS scheme, CAST(cell AS VARCHAR) AS bin, n FROM ({_hilbert_oracle_sql()})
UNION ALL
SELECT 's2' AS scheme, CAST(s2_cell AS VARCHAR) AS bin, n FROM ({_s2_oracle_sql()})
""",
        # exhaustive-probe IVF == exact top-k (same tie-break) — reuse the
        # brute-force oracle shape
        "ivf_topk": """
WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
d AS (
  SELECT q.vec_id AS vec_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS sim
  FROM q, embeddings c WHERE q.vec_id <> c.vec_id)
SELECT vec_id, neighbor_id, rank FROM (
  SELECT vec_id, neighbor_id,
         CAST(row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM d) t
WHERE rank <= 5
""",
    }


def _quality_oracle_sql() -> str:
    occ = lambda s, needle: f"CAST((length({s}) - length(replace({s}, '{needle}', ''))) / {len(needle)} AS BIGINT)"
    pad = "(' ' || text || ' ')"
    stop = " + ".join(occ(pad, f" {w} ") for w in ("the", "a", "of", "and"))
    digits = " + ".join(occ("text", d) for d in "0123456789")
    ntok = f"({occ('text', ' ')} + 1)"
    return f"""
SELECT doc_id,
       length(text) AS n_chars_c,
       CAST({ntok} AS BIGINT) AS n_tokens,
       round(length(text) / CAST({ntok} AS DOUBLE), 6) AS mean_tok_len,
       round(({stop}) / CAST({ntok} AS DOUBLE), 6) AS stopword_ratio,
       round(({digits}) / CAST(length(text) AS DOUBLE), 6) AS digit_ratio
FROM documents
"""


def _language_oracle_sql() -> str:
    from geowave_spark.operators.text import _LANG_MARKERS

    occ = lambda s, needle: f"CAST((length({s}) - length(replace({s}, '{needle}', ''))) / {len(needle)} AS BIGINT)"
    pad = "(' ' || text || ' ')"
    scores = {
        lang: "(" + " + ".join(occ(pad, m) for m in markers) + ")"
        for lang, markers in _LANG_MARKERS.items()
    }
    langs = sorted(scores)
    best_s = scores[langs[0]]
    best_l = f"'{langs[0]}'"
    for lang in langs[1:]:
        s = scores[lang]
        best_l = f"CASE WHEN {s} > {best_s} THEN '{lang}' ELSE {best_l} END"
        best_s = f"greatest({best_s}, {s})"
    return f"""
SELECT doc_id, CASE WHEN {best_s} > 0 THEN {best_l} ELSE 'und' END AS lang_pred
FROM documents
"""
