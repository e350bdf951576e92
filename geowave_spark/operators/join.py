"""Spatial joins as cell-key hash joins.

From-scratch Spark-first re-expression of GeoWave's TieredSpatialJoin
(analytics/spark/.../spatial/TieredSpatialJoin.java:76-551) and
SpatialJoinRunner (SpatialJoinRunner.java:90-107).  The reference cogroups
per tier with a nested-loop predicate inside each cell; here each join
picks the cheapest Spark plan that preserves those row-set semantics:

- **point × point distance** (:func:`distance_join`): single-tier grid
  sized driver-side from the radius (the reference's NN partitioner rule,
  AbstractPartitioner.java:230-267) → flat mapInPandas cell explode of the
  buffered build side → shuffled **hash** equi-join on the cell id →
  whole-stage-codegen distance post-filter.  No dedupe stage: a pair can
  meet in at most one cell (build rows hold one tier/disjoint cells, probe
  points truncate to one cell), so the reference's reduceByKey dedupe
  (TieredSpatialJoin.java:349) has nothing to remove.
- **point × polygon** (PIP / within-distance): the polygon side is small
  relative to a planetary point table, so it broadcasts as a
  :class:`~geowave_spark.geom.LocalPolygonGrid` cell-key hash index and
  the probe side streams through ONE map stage (candidate hash lookup +
  exact numpy predicate per Arrow batch) — zero shuffle.

Scale notes: the distance join's only shuffle is the hash join itself;
hot cells (Zipfian data) can additionally be salted (build rows replicate
``salt`` ways, probe rows pick one salt deterministically) on top of AQE's
skew splitting.  The polygon joins shuffle nothing and scale linearly in
the point count; their polygon side is bounded by driver memory
(~10^6 polygons), which matches the reference's broadcast of the indexing
strategy + its per-executor geometry caches.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..encode import (
    DEFAULT_STRATEGY,
    cell_at_tier,
    distinct_polygon_tiers,
    explode_envelope_cells,
    explode_polygon_cells,
    point_cell_at_tier_udf,
    point_cell_udf,
)
from ..geom import parse_wkt  # noqa: F401  (re-export for callers)
from ..sfc import DEFAULT_MAX_DUPLICATES, JOIN_MAX_DUPLICATES, TieredStrategy

# Above this many polygon rows the build side no longer collects/broadcasts;
# the join falls back to the reference's big-both-sides tiered shuffle shape
# (cell-explode both sides + equi-join + exact post-filter + dedupe).  The
# limit bounds driver memory: ~10^5 rings × ~100 vertices × 16 B ≈ 160 MB
# padded, comfortably under a 1 GiB broadcast budget.
POLYGON_BROADCAST_LIMIT = 100_000


def _apply_salt(build: DataFrame, probe: DataFrame, salt: int) -> tuple[DataFrame, DataFrame]:
    """Replicate build rows across `salt` buckets; probe rows hash into one.

    Explicit skew handling (north rule): hot cell keys are spread over
    `salt` reducers.  Deterministic: probe salt = pmod(xxhash64(probe
    row), salt).
    """
    spark = build.sparkSession
    salts = spark.createDataFrame([(i,) for i in range(salt)], "_salt int")
    build_s = build.crossJoin(F.broadcast(salts))
    probe_s = probe.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(salt)).cast("int")
    )
    return build_s, probe_s


MAX_SALT_FACTOR = 64


def _apply_auto_salt(
    build: DataFrame, probe: DataFrame, cap: int
) -> tuple[DataFrame, DataFrame]:
    """Census-driven salting: split ONLY cells whose probe occupancy
    exceeds ``cap`` rows, each by its own factor ⌈count/cap⌉ (≤64).

    A fixed global salt replicates the whole build side and widens the
    shuffle whether or not any key is actually hot — measurably slower
    than unsalted when skew is mild.  The census (one map-side-combined
    count per cell; only over-cap cells reach the driver) prices the
    skew first, so cold keys keep a single reducer and each hot key gets
    exactly the parallelism its row count warrants — the same
    stats-driven sizing the reference's SplitsProvider applies to scan
    splits (SplitsProvider.java:148-228).  Deterministic given the data
    AND the cluster: the factor is also capped by defaultParallelism, so
    the plan adapts to cluster size the way AQE does — row sets are
    identical at every parallelism, only reducer fan-out differs.
    """
    spark = build.sparkSession
    # the split factor is additionally capped by the CLUSTER's parallelism:
    # splitting a hot key across more reducers than there are cores buys
    # no wall-clock and pays full build-replication overhead (measured:
    # factor-64 salting ran 1.8× slower than unsalted at local[2] while
    # winning at local[32]) — so the factor scales with the cluster, and
    # the same job stays optimal from a laptop to 1000 executors
    par_cap = max(2, int(spark.sparkContext.defaultParallelism))
    hot = (
        probe.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .where(F.col("_cnt") > cap)
        .select(
            "cell",
            F.least(
                F.lit(min(MAX_SALT_FACTOR, par_cap)),
                F.ceil(F.col("_cnt") / F.lit(cap)),
            ).cast("int").alias("_f"),
        )
    )
    hot_rows = hot.collect()  # over-cap cells only — tiny by construction
    if not hot_rows:
        return (
            build.withColumn("_salt", F.lit(0)),
            probe.withColumn("_salt", F.lit(0)),
        )
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    hot_df = F.broadcast(
        spark.createDataFrame([(r["cell"], r["_f"]) for r in hot_rows], "cell long, _f int")
    )
    build_s = (
        build.join(hot_df, "cell", "left")
        .withColumn("_f", F.coalesce(F.col("_f"), F.lit(1)))
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.col("_f") - 1)))
        .drop("_f")
    )
    probe_s = (
        probe.join(hot_df, "cell", "left")
        .withColumn("_f", F.coalesce(F.col("_f"), F.lit(1)))
        .withColumn(
            "_salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in probe.columns]), F.col("_f")
            ).cast("int"),
        )
        .drop("_f")
    )
    # explicit numbered repartition on the salted key: AQE's partition
    # coalescing targets shuffle BYTES, and a hot cell's shuffle input is
    # tiny while its join work is quadratic — left to itself AQE folds
    # the freshly-separated salt buckets back into one reducer.
    # repartition(n, keys) (REPARTITION_BY_NUM) must be honored exactly,
    # and the join reuses this distribution with no extra exchange.
    return (
        build_s.repartition(n_parts, "cell", "_salt"),
        probe_s.repartition(n_parts, "cell", "_salt"),
    )


def distance_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_id: str,
    right_id: str,
    left_lon: str = "lon",
    left_lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = DEFAULT_MAX_DUPLICATES,
    negative: bool = False,
    salt: int | str | None = None,
    salt_cap: int = 100_000,
    broadcast_build: bool = False,
    dedupe_pairs: bool = False,
) -> DataFrame:
    """Point×point within-distance join → distinct (left_id, right_id) pairs.

    Precondition: ``left_id`` / ``right_id`` are unique keys of their
    inputs — then output pairs are distinct with no dedupe stage (see the
    single-meeting-cell argument below).  If either id can repeat, pass
    ``dedupe_pairs=True`` to add the reference's identity dedupe
    (DedupeFilter semantics) as a final ``dropDuplicates``.

    ``max_duplicates`` defaults to the reference's ingest-path 4 (2/dim,
    TieredSFCIndexStrategy.java:58) rather than its join-path 80
    (GeoWaveIndexedRDD.java:193): fewer duplicates pick a coarser tier, so
    the exploded build side is ~4 rows/point instead of ~40 — an order of
    magnitude less shuffle — while the extra candidate pairs are absorbed
    by the whole-stage-codegen distance predicate.  Row-set output is
    identical either way (the exact post-filter guarantees it).

    ``negative=True`` returns left rows with **no** right point within the
    radius (the reference's negative-predicate subtractByKey,
    TieredSpatialJoin.java:360-378).

    ``salt``: ``"auto"`` prices skew with a per-cell probe census and
    salts only cells above ``salt_cap`` rows, each by its own factor
    (:func:`_apply_auto_salt` — the recommended mode); an int is the
    legacy fixed global factor.  Either way the output row set is
    unchanged.

    Distance is planar Euclidean on (lon, lat) — identical to the
    reference's GeomWithinDistance degree-radius semantics
    (analytics/spark/.../sparksql/udf/GeomWithinDistance.java:42-46).
    """
    # All buffered point envelopes share the same size (2r × 2r), so the
    # selected tier is known driver-side with NO data scan: the finest tier
    # whose cell covers the envelope (≤2 cells/dim ⇒ ≤4 duplicates) — the
    # reference's NN grid rule (AbstractPartitioner.java:230-267), which its
    # tiered join would converge to anyway for constant-size envelopes.
    # This removes the tier-collect job and the probe-side tier explosion;
    # the join key collapses to the single-tier cell id.
    t_star = strategy.tier_for_width(2.0 * radius, 2.0 * radius)
    # build side = right, buffered by the radius (TieredSpatialJoin.java:146-166:
    # only the buffered side expands its envelope); flat mapInPandas explode
    # keeps the Arrow exchange object-free at millions-of-cells scale
    build = explode_envelope_cells(
        right.select(
            F.col(right_id).alias("_rid"),
            F.col(right_lon).alias("_rlon"),
            F.col(right_lat).alias("_rlat"),
        ),
        F.col("_rlon") - radius,
        F.col("_rlat") - radius,
        F.col("_rlon") + radius,
        F.col("_rlat") + radius,
        keep=["_rid", "_rlon", "_rlat"],
        strategy=strategy,
        max_duplicates=max_duplicates,
        tier=t_star,
    ).drop("tier")

    probe = left.select(
        F.col(left_id).alias("_lid"),
        F.col(left_lon).alias("_llon"),
        F.col(left_lat).alias("_llat"),
    ).withColumn(
        "cell", point_cell_at_tier_udf(strategy, t_star)(F.col("_llon"), F.col("_llat"))
    )

    keys = ["cell"]
    if salt == "auto":
        # census-driven: salt only cells with > salt_cap probe rows, by
        # ⌈count/cap⌉ (see _apply_auto_salt) — eager census collect
        build, probe = _apply_auto_salt(build, probe, salt_cap)
        keys = keys + ["_salt"]
    elif salt:
        build, probe = _apply_salt(build, probe, int(salt))
        keys = keys + ["_salt"]
    b = F.broadcast(build) if broadcast_build else build

    r2 = radius * radius
    dx = F.col("_llon") - F.col("_rlon")
    dy = F.col("_llat") - F.col("_rlat")
    # No dedupe stage needed: each build row lands at exactly ONE tier with a
    # disjoint cell set, and a probe point truncates to exactly one cell per
    # tier — so a (left, right) pair can meet in at most one (tier, cell).
    # (Buffered point envelopes clamp at ±180 rather than wrap, so the
    # dateline split can't produce a second tier for the same row.)  This
    # removes the reference's reduceByKey dedupe (TieredSpatialJoin.java:349)
    # and its full extra shuffle — the hottest stage at high parallelism.
    # shuffle_hash: both sides are already exploded/pre-projected, and a hash
    # join avoids sort-merge's two full sorts of the candidate sets.
    pairs = (
        probe.join(b.hint("shuffle_hash"), keys)
        .where(dx * dx + dy * dy <= F.lit(r2))
        .select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id))
    )
    if dedupe_pairs:
        pairs = pairs.dropDuplicates([left_id, right_id])
    if negative:
        return (
            left.select(F.col(left_id))
            .distinct()
            .join(pairs.select(left_id).distinct(), left_id, "left_anti")
        )
    return pairs


EARTH_RADIUS_M = 6371008.8
_M_PER_DEG = EARTH_RADIUS_M * np.pi / 180.0


def haversine_expr(llon, llat, rlon, rlat):
    """Great-circle distance in meters (haversine), pure Catalyst."""
    return (
        F.lit(2.0 * EARTH_RADIUS_M)
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians(rlat - llat) / 2), 2)
                + F.cos(F.radians(llat))
                * F.cos(F.radians(rlat))
                * F.pow(F.sin(F.radians(rlon - llon) / 2), 2)
            )
        )
    )


def haversine_distance_join(
    left: DataFrame,
    right: DataFrame,
    radius_m: float,
    left_id: str,
    right_id: str,
    left_lon: str = "lon",
    left_lat: str = "lat",
    right_lon: str = "lon",
    right_lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
) -> DataFrame:
    """Point×point join within ``radius_m`` METERS of great-circle
    distance — the geodesic semantics of the reference's
    OrthodromicDistancePartitioner (analytics/api/.../partitioner/
    OrthodromicDistancePartitioner.java:95-132: neighbor-expansion
    envelopes sized in meters, converted to degrees per latitude).

    Plan = the planar join's single-tier cell equi-join, with
    latitude-aware buffering on the build side:

    - Δlat = r / (111.2 km/deg) is latitude-independent; the tier comes
      from it exactly like the planar radius;
    - Δlon(row) = Δlat / cos(φ_worst) where φ_worst is the largest |lat|
      inside the row's lat band — an upper bound of the longitudinal
      separation any within-r partner can have, so coverage is complete
      (rows whose band reaches ±89.9° buffer the full lon ring);
    - envelopes crossing the antimeridian split into wrapped parts
      (LongitudeDefinition dateline semantics) so cross-dateline pairs
      are found — the planar join clamps instead, consistent with its
      planar-degrees oracle;
    - exact post-filter: whole-stage-codegen haversine ≤ r.

    A pair can meet in at most one (part, cell), so no dedupe stage —
    same argument as the planar join (wrap parts are disjoint lon
    intervals; the full-ring case emits no wrap parts).
    """
    dlat = radius_m / _M_PER_DEG
    t_star = strategy.tier_for_width(2.0 * dlat, 2.0 * dlat)

    r = right.select(
        F.col(right_id).alias("_rid"),
        F.col(right_lon).alias("_rlon"),
        F.col(right_lat).alias("_rlat"),
    )
    phi_worst = F.least(F.abs(F.col("_rlat")) + F.lit(dlat), F.lit(89.9))
    polar = (F.abs(F.col("_rlat")) + F.lit(dlat)) >= F.lit(89.9)
    # exact lon-separation bound: Δλ = 2·asin(sin(d/2R)/cos φ) — the linear
    # Δlat/cos φ underestimates it by up to ~0.007° at r=500 km, φ=60°, so
    # boundary pairs in that sliver could be missed (round-2 ADVICE); the
    # asin form is a true upper bound and still pure Catalyst.
    dlon = F.when(polar, F.lit(180.0)).otherwise(
        F.degrees(
            2.0
            * F.asin(
                F.least(
                    F.lit(1.0),
                    F.sin(F.radians(F.lit(dlat)) / 2) / F.cos(F.radians(phi_worst)),
                )
            )
        )
    )
    r = r.withColumn("_dlon", dlon)
    minx = F.col("_rlon") - F.col("_dlon")
    maxx = F.col("_rlon") + F.col("_dlon")
    # Δlon ≥ 180 ⇒ the buffer wraps the whole ring regardless of center
    not_ring = F.col("_dlon") < 180.0
    prim = F.when(
        not_ring,
        F.struct(
            F.greatest(minx, F.lit(-180.0)).alias("lo"),
            F.least(maxx, F.lit(180.0)).alias("hi"),
        ),
    ).otherwise(
        F.struct(F.lit(-180.0).alias("lo"), F.lit(180.0).alias("hi"))
    )
    wrap_lo = F.when(
        (minx < F.lit(-180.0)) & not_ring,
        F.struct((minx + 360.0).alias("lo"), F.lit(180.0).alias("hi")),
    )
    wrap_hi = F.when(
        (maxx > F.lit(180.0)) & not_ring,
        F.struct(F.lit(-180.0).alias("lo"), (maxx - 360.0).alias("hi")),
    )
    parts = r.withColumn(
        "_part", F.explode(F.filter(F.array(prim, wrap_lo, wrap_hi), lambda x: x.isNotNull()))
    )
    build = explode_envelope_cells(
        parts,
        F.col("_part.lo"),
        F.col("_rlat") - F.lit(dlat),
        F.col("_part.hi"),
        F.col("_rlat") + F.lit(dlat),
        keep=["_rid", "_rlon", "_rlat"],
        strategy=strategy,
        tier=t_star,
    ).drop("tier")

    probe = left.select(
        F.col(left_id).alias("_lid"),
        F.col(left_lon).alias("_llon"),
        F.col(left_lat).alias("_llat"),
    ).withColumn(
        "cell", point_cell_at_tier_udf(strategy, t_star)(F.col("_llon"), F.col("_llat"))
    )
    return (
        probe.join(build.hint("shuffle_hash"), ["cell"])
        .where(
            haversine_expr(
                F.col("_llon"), F.col("_llat"), F.col("_rlon"), F.col("_rlat")
            )
            <= F.lit(float(radius_m))
        )
        .select(F.col("_lid").alias(left_id), F.col("_rid").alias(right_id))
    )


def _local_grid_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    polygon_id: str,
    lon: str,
    lat: str,
    wkt: str,
    radius: float | None,
) -> DataFrame:
    """Shared core of the point⋈polygon joins: one map-side pass.

    The polygon side of a planetary point⋈region join is small relative to
    the point side (10^3–10^6 regions vs 10^12 points), so it is collected
    once, indexed into a :class:`LocalPolygonGrid` (cell-key hash index)
    and broadcast.  The probe side then runs a single ``mapInPandas`` —
    candidate lookup (numpy hash probe on packed cell keys) + exact
    predicate per Arrow batch — with NO shuffle, NO tier explosion and no
    pair materialization beyond true matches.  This is the broadcast-side
    specialization of the reference's TieredSpatialJoin; its cogrouped
    shuffle plan only wins when *both* sides are too big to broadcast.

    ``radius=None`` ⇒ boundary-inclusive point-in-geometry (containment
    for closed rings, exact on-segment for polylines); otherwise
    within-distance (GeomWithinDistance semantics, buffered grid).  The
    build side takes ANY WKT kind — POINT / LINESTRING / POLYGON /
    MULTI\\* — via the kind-aware :class:`LocalGeomGrid`, covering the
    reference's point × line flagship fixture
    (GeoWaveSparkSpatialJoinIT.java:111-172).
    """
    from ..geom import LocalGeomGrid, parse_wkt_multi

    spark = points.sparkSession
    rows = polygons.select(polygon_id, wkt).collect()
    ids = [r[0] for r in rows]
    geoms = [parse_wkt_multi(r[1]) for r in rows]
    grid_bc = spark.sparkContext.broadcast(
        LocalGeomGrid(ids, geoms, buffer=radius or 0.0)
    )
    r2 = None if radius is None else radius * radius

    src = points.select(
        F.col(point_id).alias("_pid"),
        F.col(lon).alias("_plon"),
        F.col(lat).alias("_plat"),
    )
    out_schema = StructType(
        [
            StructField(point_id, points.schema[point_id].dataType),
            StructField(polygon_id, polygons.schema[polygon_id].dataType),
        ]
    )

    def _gen(batches):
        g = grid_bc.value
        for pdf in batches:
            px = pdf["_plon"].to_numpy(np.float64)
            py = pdf["_plat"].to_numpy(np.float64)
            rowrep, codes = g.candidates(px, py)
            if len(rowrep):
                if r2 is None:
                    m = g.intersects(px[rowrep], py[rowrep], codes)
                else:
                    m = g.dist2(px[rowrep], py[rowrep], codes) <= r2
            else:
                m = np.zeros(0, dtype=bool)
            yield pd.DataFrame(
                {
                    point_id: pdf["_pid"].to_numpy()[rowrep[m]],
                    polygon_id: g.ids[codes[m]],
                }
            )

    return src.mapInPandas(_gen, out_schema)


def _pair_match_udf(radius: float | None):
    """Pandas UDF: (lon, lat, wkt) → does the exact predicate hold?

    Runs after the (tier, cell) equi-join of the shuffle plan.  Each Arrow
    batch factorizes its WKT values, parses each distinct geometry once and
    evaluates the whole batch in one vectorized pass — candidate pairs of
    the same geometry cluster in a batch because the join key is its cell.
    Kind-aware: polylines keep open-segment distances, closed rings keep
    containment.
    """
    r2 = None if radius is None else radius * radius

    @F.pandas_udf("boolean")
    def _m(lon: pd.Series, lat: pd.Series, wkt: pd.Series) -> pd.Series:
        from ..geom import (
            GeomBatch,
            parse_wkt_multi,
            points_geoms_dist2_batch,
            points_intersect_geoms_batch,
        )

        px = lon.to_numpy(np.float64)
        py = lat.to_numpy(np.float64)
        codes, uniq = pd.factorize(wkt)
        if not len(uniq):
            return pd.Series(np.zeros(0, dtype=bool))
        gb = GeomBatch([parse_wkt_multi(w) for w in uniq])
        if r2 is None:
            m = points_intersect_geoms_batch(px, py, codes, gb)
        else:
            m = points_geoms_dist2_batch(px, py, codes, gb) <= r2
        return pd.Series(m)

    return _m


def _shuffle_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    polygon_id: str,
    lon: str,
    lat: str,
    wkt: str,
    radius: float | None,
    strategy: TieredStrategy,
    max_duplicates: int,
    salt: int | None = None,
) -> DataFrame:
    """Big-both-sides point⋈polygon join — the reference's actual
    TieredSpatialJoin dataflow (TieredSpatialJoin.java:76-551), with no
    driver collect of geometry:

    1. build side: flat ``mapInPandas`` explode of each (buffered) polygon
       to its insertion cells with trimIndexIds pruning
       (:func:`~geowave_spark.encode.explode_polygon_cells`) — geometry
       stays on executors, carried as WKT through the one shuffle;
    2. tier plan: the distinct build tiers come from a light tier-only scan
       (:func:`~geowave_spark.encode.distinct_polygon_tiers` — only tier
       ints reach the driver, the analog of the tier-byte collectAsync);
    3. probe side: one top-tier point cell (Arrow UDF), then one row per
       (point, build tier) via a broadcast cross join with the tiny tier
       list — tier re-projection is a Catalyst bit shift
       (:func:`~geowave_spark.encode.cell_at_tier`), the cheap analog of
       reprojectToTier (TieredSpatialJoin.java:471-511);
    4. shuffled hash equi-join on (tier, cell) + exact vectorized
       post-filter (:func:`_pair_match_udf`) + dropDuplicates — the
       reference's cogroup + nested-loop predicate + reduceByKey dedupe.

    At 1000 executors this is one shuffle of |polygons|·dup + |points|·|tiers|
    rows on a uniform key space (Hilbert cells), no single-node bottleneck.
    """
    buffer = radius or 0.0
    build = explode_polygon_cells(
        polygons.select(
            F.col(polygon_id).alias("_gid"), F.col(wkt).alias("_gwkt")
        ),
        "_gwkt",
        keep=["_gid", "_gwkt"],
        strategy=strategy,
        max_duplicates=max_duplicates,
        buffer=buffer,
    )
    tiers = distinct_polygon_tiers(
        polygons, wkt, strategy, max_duplicates=max_duplicates, buffer=buffer
    )
    spark = points.sparkSession
    tiers_df = spark.createDataFrame([(int(t),) for t in tiers], "tier int")
    probe = (
        points.select(
            F.col(point_id).alias("_pid"),
            F.col(lon).alias("_plon"),
            F.col(lat).alias("_plat"),
        )
        .withColumn("_top", point_cell_udf(strategy)(F.col("_plon"), F.col("_plat")))
        .crossJoin(F.broadcast(tiers_df))
        .withColumn("cell", cell_at_tier("_top", "tier", strategy.max_bits))
        .drop("_top")
    )
    keys = ["tier", "cell"]
    if salt:
        # hot (tier, cell) buckets (many points meeting one big polygon's
        # cell) spread across `salt` reducers: build rows replicate,
        # probe rows hash into one — same mechanics as the point join
        build, probe = _apply_salt(build, probe, int(salt))
        keys = keys + ["_salt"]
    return (
        probe.join(build.hint("shuffle_hash"), keys)
        .where(_pair_match_udf(radius)(F.col("_plon"), F.col("_plat"), F.col("_gwkt")))
        .select(F.col("_pid").alias(point_id), F.col("_gid").alias(polygon_id))
        .dropDuplicates([point_id, polygon_id])
    )


def _polygon_join_plan(polygons: DataFrame, plan: str, broadcast_limit: int) -> str:
    """Resolve plan='auto' with a bounded count probe (scans at most
    broadcast_limit+1 polygon rows; never the whole table)."""
    if plan != "auto":
        return plan
    n = polygons.limit(broadcast_limit + 1).count()
    return "broadcast" if n <= broadcast_limit else "shuffle"


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str,
    polygon_id: str,
    lon: str = "lon",
    lat: str = "lat",
    wkt: str = "wkt",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = JOIN_MAX_DUPLICATES,
    negative: bool = False,
    salt: int | None = None,
    plan: str = "auto",
    broadcast_limit: int = POLYGON_BROADCAST_LIMIT,
) -> DataFrame:
    """Point-in-polygon join → distinct (point_id, polygon_id) pairs.

    Plan selection (``plan='auto'``): up to ``broadcast_limit`` polygons
    the join runs as a zero-shuffle broadcast cell-grid
    (:func:`_local_grid_polygon_join`); above it — or with
    ``plan='shuffle'`` — it falls back to the reference's big-both-sides
    tiered shuffle join (:func:`_shuffle_polygon_join`), which never
    collects geometry to the driver.  The probe is a bounded
    ``limit(broadcast_limit+1).count()``, not a full count.
    ``salt`` (int) spreads hot (tier, cell) buckets on the shuffle plan
    (same replicate/hash mechanics as the distance joins); the broadcast
    plan has no shuffle, so salt is a no-op there.
    """
    if salt == "auto":
        raise ValueError(
            "salt='auto' is point-join-only (its census prices point cell "
            "occupancy); pass an int factor for polygon joins"
        )
    how = _polygon_join_plan(polygons, plan, broadcast_limit)
    if how == "shuffle":
        pairs = _shuffle_polygon_join(
            points, polygons, point_id, polygon_id, lon, lat, wkt,
            radius=None, strategy=strategy, max_duplicates=max_duplicates,
            salt=salt,
        )
    else:
        pairs = _local_grid_polygon_join(
            points, polygons, point_id, polygon_id, lon, lat, wkt, radius=None
        )
    if negative:
        return (
            points.select(F.col(point_id))
            .distinct()
            .join(pairs.select(point_id).distinct(), point_id, "left_anti")
        )
    return pairs


def polygon_distance_join(
    points: DataFrame,
    polygons: DataFrame,
    radius: float,
    point_id: str,
    polygon_id: str,
    lon: str = "lon",
    lat: str = "lat",
    wkt: str = "wkt",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = JOIN_MAX_DUPLICATES,
    plan: str = "auto",
    broadcast_limit: int = POLYGON_BROADCAST_LIMIT,
    negative: bool = False,
    salt: int | None = None,
) -> DataFrame:
    """Point within `radius` of polygon → distinct pairs (GeomWithinDistance
    against extended geometries, the hail×tornado_tracks fixture shape).
    Broadcast cell-grid plan up to ``broadcast_limit`` polygons, tiered
    shuffle join beyond it — same plan selection as
    :func:`point_in_polygon_join`.

    ``negative=True`` returns the points with NO polygon within the
    radius (JoinOptions negative-predicate semantics; one distinct +
    left_anti over the positive pairs).  ``salt`` (int) spreads hot
    (tier, cell) buckets on the shuffle plan; the broadcast plan has no
    shuffle, so salt is a documented no-op there."""
    if salt == "auto":
        raise ValueError(
            "salt='auto' is point-join-only (its census prices point cell "
            "occupancy); pass an int factor for polygon distance joins"
        )
    how = _polygon_join_plan(polygons, plan, broadcast_limit)
    if how == "shuffle":
        pairs = _shuffle_polygon_join(
            points, polygons, point_id, polygon_id, lon, lat, wkt,
            radius=radius, strategy=strategy, max_duplicates=max_duplicates,
            salt=salt,
        )
    else:
        pairs = _local_grid_polygon_join(
            points, polygons, point_id, polygon_id, lon, lat, wkt, radius=radius
        )
    if negative:
        return (
            points.select(F.col(point_id))
            .distinct()
            .join(pairs.select(point_id).distinct(), point_id, "left_anti")
        )
    return pairs


# The kind-aware grid/kernels make the "polygon" joins correct for ANY WKT
# build side (LINESTRING / MULTI* included) — export the honest names.
# ``geometry_distance_join`` is the reference's hail × tornado_tracks
# flagship shape (point × line GeomWithinDistance,
# GeoWaveSparkSpatialJoinIT.java:111-172).
geometry_distance_join = polygon_distance_join
geometry_intersects_join = point_in_polygon_join


def geom_pair_join(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    left_wkt: str = "wkt",
    right_wkt: str = "wkt",
    radius: float | None = None,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = JOIN_MAX_DUPLICATES,
    predicate: str | None = None,
) -> DataFrame:
    """Extended-geometry × extended-geometry join (polygon×polygon,
    line×polygon, …): INTERSECTS when ``radius`` is None, else
    within-distance — TieredSpatialJoin's general case
    (TieredSpatialJoin.java:76-551 accepts arbitrary JTS geometry pairs).

    ``predicate`` swaps the fine filter for any exact DE-9IM relation
    (touches / crosses / overlaps / contains / within / covers /
    covered_by / equals — the SpatialJoinRunner GeomFunction parameter);
    the coarse cell phase is unchanged because every one of these
    relations implies envelope intersection.

    Plan: each side sits at its natural tier (finest tier with at most
    ``max_duplicates`` envelope cells; only the build envelope grows by
    the radius, TieredSpatialJoin.java:146-166).  A pair meets once, at
    the coarser of its two tiers, in the coarser side's own cells, which
    the finer side covers with its envelope (the reference's
    reprojection of the finer side, TieredSpatialJoin.java:471-511).  A
    ``role`` key (0: build coarser or level, 1: probe strictly coarser)
    keeps two covering rows from meeting, so a world-spanning geometry
    pairs once with each row of the other side; a level pair meets in
    both sides' own cells.  One shuffled hash join on (role, tier, cell),
    the exact kind-aware predicate, then dropDuplicates (a pair can share
    several cells — the reference's reduceByKey dedupe,
    TieredSpatialJoin.java:349).  Each row emits at most (1 + |other
    side's tiers|)·dup cells; no driver geometry collect.
    """
    if predicate is not None and radius is not None:
        raise ValueError(
            "predicate joins take no radius (use radius= for within-distance)"
        )
    return (
        _geom_pair_candidates(
            left.select(F.col(left_id).alias("_pid"), F.col(left_wkt).alias("_pwkt")),
            right.select(F.col(right_id).alias("_gid"), F.col(right_wkt).alias("_gwkt")),
            radius or 0.0, strategy, max_duplicates,
        )
        .where(
            _geom_pair_match_udf(radius, predicate)(
                F.col("_pwkt"), F.col("_gwkt")
            )
        )
        .select(F.col("_pid").alias(left_id), F.col("_gid").alias(right_id))
        .dropDuplicates([left_id, right_id])
    )


def _geom_pair_candidates(
    probe: DataFrame,
    build: DataFrame,
    buffer: float,
    strategy: TieredStrategy,
    max_duplicates: int,
) -> DataFrame:
    """Cell-join phase of :func:`geom_pair_join` over (_pid, _pwkt) ×
    (_gid, _gwkt): one row per candidate pair and shared cell."""
    probe_tiers = distinct_polygon_tiers(probe, "_pwkt", strategy, max_duplicates)
    build_tiers = distinct_polygon_tiers(build, "_gwkt", strategy, max_duplicates, buffer)
    return _explode_pair_cells(
        probe, "_pwkt", 1, build_tiers, strategy, max_duplicates
    ).join(
        _explode_pair_cells(
            build, "_gwkt", 0, probe_tiers, strategy, max_duplicates, buffer
        ).hint("shuffle_hash"),
        ["role", "tier", "cell"],
    )


def _explode_pair_cells(
    df: DataFrame,
    wkt_col: str,
    role: int,
    cover_tiers: list[int],
    strategy: TieredStrategy,
    max_duplicates: int,
    buffer: float = 0.0,
) -> DataFrame:
    """Explode each WKT row to the cells covering its (buffered) envelope
    at its natural tier, tagged ``role``, and at each tier of
    ``cover_tiers`` coarser than its own, tagged with the other role.
    Level pairs meet own cell to own cell under role 0, so role-1 rows
    repeat their own cells there (flat mapInPandas, object-free Arrow
    exchange)."""
    from pyspark.sql.types import IntegerType, LongType

    out_schema = StructType(
        list(df.schema.fields)
        + [StructField(c, IntegerType()) for c in ("role", "tier")]
        + [StructField("cell", LongType())]
    )

    def _gen(batches):
        from ..geom import flatten_parts, parse_wkt_multi

        for pdf in batches:
            env = np.array([
                (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
                for c in (np.vstack(flatten_parts(parse_wkt_multi(w))) for w in pdf[wkt_col])
            ]).reshape(-1, 4) + [-buffer, -buffer, buffer, buffer]
            own = strategy.envelope_tiers(*env.T, max_duplicates=max_duplicates)

            def cells(mask, t, tag):
                sel = np.nonzero(mask)[0]
                row, cell = strategy.envelope_cells_at_tier(*env[sel].T, t)
                out = pdf.iloc[sel[row]].reset_index(drop=True)
                out["role"] = np.full(len(row), tag, dtype=np.int32)
                out["tier"] = np.full(len(row), t, dtype=np.int32)
                out["cell"] = cell
                return out

            for t in np.unique(own):
                yield cells(own == t, t, role)
            for t in cover_tiers:
                yield cells(own > t, t, 1 - role)
                if role == 1:
                    yield cells(own == t, t, 0)

    return df.mapInPandas(_gen, out_schema)


def _geom_pair_match_udf(radius: float | None, predicate: str | None = None):
    """Pandas UDF: (wkt_a, wkt_b) → exact pair predicate for extended
    geometries.  Factorizes both columns so each distinct geometry parses
    once per batch; the pair evaluation itself is per-candidate (bounded by
    the cell join's selectivity), each pair running the vectorized
    vertex/edge kernels.

    ``predicate`` selects the exact DE-9IM relation (the reference's
    SpatialJoinRunner GeomFunction parameter, GeomFunction.java subtypes):
    touches / crosses / overlaps / contains / within / covers /
    covered_by / equals / intersects; None = distance semantics."""
    r2 = 0.0 if radius is None else radius * radius

    if predicate is not None and predicate != "intersects":
        from ..relate import (
            relate_contains,
            relate_covers,
            relate_crosses,
            relate_equals,
            relate_intersects,
            relate_overlaps,
            relate_touches,
        )

        fns = {
            "touches": relate_touches,
            "crosses": relate_crosses,
            "overlaps": relate_overlaps,
            "contains": relate_contains,
            "within": lambda a, b: relate_contains(b, a),
            "covers": relate_covers,
            "covered_by": lambda a, b: relate_covers(b, a),
            "equals": relate_equals,
            "intersects": relate_intersects,
        }
        if predicate not in fns:
            raise ValueError(f"unknown join predicate: {predicate}")
        fn = fns[predicate]

        @F.pandas_udf("boolean")
        def _mr(wa: pd.Series, wb: pd.Series) -> pd.Series:
            from ..geom import parse_wkt_multi
            from ..relate import prepare

            cache: dict[str, object] = {}

            def p(w):
                g = cache.get(w)
                if g is None:
                    g = prepare(parse_wkt_multi(w))
                    cache[w] = g
                return g

            return pd.Series([bool(fn(p(x), p(y))) for x, y in zip(wa, wb)])

        return _mr

    @F.pandas_udf("boolean")
    def _m(wa: pd.Series, wb: pd.Series) -> pd.Series:
        from ..geom import any_pair_dist2, parse_wkt_multi

        cache: dict[str, tuple[str, list[np.ndarray]]] = {}

        def p(w):
            g = cache.get(w)
            if g is None:
                g = parse_wkt_multi(w)
                cache[w] = g
            return g

        out = np.zeros(len(wa), dtype=bool)
        for i, (x, y) in enumerate(zip(wa, wb)):
            d2 = any_pair_dist2(p(x), p(y))
            out[i] = d2 <= r2
        return pd.Series(out)

    return _m
