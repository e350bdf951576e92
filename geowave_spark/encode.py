"""DataFrame cell-indexing transforms (the engine's encode stage).

The DataFrame analog of GeoWave's GeoWaveIndexedRDD.getIndexedGeometryRDD
(analytics/spark/.../GeoWaveIndexedRDD.java:148-223): map each entity to its
tiered-SFC insertion ids and explode to one row per (tier, cell).  All
heavy math runs as Arrow-batched pandas UDFs over numpy (no per-row
Python), and the rest of the plan stays in Catalyst so column pruning and
predicate pushdown keep working.

Key layout on the DataFrame side:
  tier: int   — bits of precision (partition-key first byte in the reference)
  cell: long  — Hilbert index at that tier (sort key in the reference)
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .geom import (
    as_components,
    cell_rect_intersects_geom,
    cell_rect_intersects_polygon,  # noqa: F401  (re-export)
    flatten_parts,
    geom_is_closed,
    parse_wkt,  # noqa: F401  (re-export)
    parse_wkt_multi,
    polygon_envelope,  # noqa: F401  (re-export)
)
from .sfc import TieredStrategy
from .sfc.geohash import geohash_encode
from .sfc.hilbert import hilbert_to_xy

DEFAULT_STRATEGY = TieredStrategy()

_INS_SCHEMA = ArrayType(
    StructType(
        [StructField("tier", IntegerType()), StructField("cell", LongType())]
    )
)


def point_cell_udf(strategy: TieredStrategy = DEFAULT_STRATEGY):
    """Pandas UDF: (lon, lat) → top-tier Hilbert cell id (long)."""

    @F.pandas_udf(LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = strategy.point_cells(lon.to_numpy(np.float64), lat.to_numpy(np.float64))
        return pd.Series(c.astype(np.int64))

    return _cell


def s2_cell_udf(level: int = 12):
    """Pandas UDF: (lon, lat) → canonical S2 cell id at `level`
    (S2BinningHelper.java analog; numpy S2 in sfc/s2.py)."""

    @F.pandas_udf(LongType())
    def _s2(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from .sfc.s2 import s2_cell_id

        return pd.Series(
            s2_cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), level)
        )

    return _s2


def h3_udf(res: int = 7):
    """Pandas UDF: (lon, lat) → aperture-7 icosahedral hex cell id at
    ``res`` (SpatialBinningType.H3 analog; see sfc/h3hex.py for the
    documented id-interop caveat)."""

    @F.pandas_udf(LongType())
    def _h3(lon: pd.Series, lat: pd.Series) -> pd.Series:
        from .sfc.h3hex import hex_cell_id

        return pd.Series(
            hex_cell_id(lon.to_numpy(np.float64), lat.to_numpy(np.float64), res)
        )

    return _h3


def geohash_udf(precision: int = 7):
    """Pandas UDF: (lon, lat) → geohash string (spatial binning)."""

    @F.pandas_udf(StringType())
    def _gh(lon: pd.Series, lat: pd.Series) -> pd.Series:
        g = geohash_encode(lon.to_numpy(np.float64), lat.to_numpy(np.float64), precision)
        return pd.Series(g)

    return _gh


def with_point_cells(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    cell_col: str = "cell",
    tier_col: str = "tier",
) -> DataFrame:
    """Add (tier, cell) for point rows — single id at the top tier
    (TieredSFCIndexStrategy point fast path)."""
    return df.withColumn(cell_col, point_cell_udf(strategy)(F.col(lon), F.col(lat))).withColumn(
        tier_col, F.lit(strategy.max_bits)
    )


def envelope_cells_udf(
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
):
    """Pandas UDF: envelope (minx,miny,maxx,maxy) → array<struct<tier,cell>>."""

    @F.pandas_udf(_INS_SCHEMA)
    def _ins(minx: pd.Series, miny: pd.Series, maxx: pd.Series, maxy: pd.Series) -> pd.Series:
        row, tier, cell = strategy.envelope_insertion_ids(
            minx.to_numpy(np.float64),
            miny.to_numpy(np.float64),
            maxx.to_numpy(np.float64),
            maxy.to_numpy(np.float64),
            max_duplicates=max_duplicates,
        )
        n = len(minx)
        out: list[list[dict]] = [[] for _ in range(n)]
        for r, t, c in zip(row.tolist(), tier.tolist(), cell.tolist()):
            out[r].append({"tier": int(t), "cell": int(c)})
        return pd.Series(out)

    return _ins


def polygon_cells_udf(
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
    trim: bool = True,
):
    """Pandas UDF: WKT polygon → array<struct<tier,cell>> with cell trimming.

    Trimming mirrors RDDUtils.trimIndexIds (RDDUtils.java:158-184): when an
    entity received more than 3 cells, drop cells whose rectangle does not
    intersect the (buffered) geometry — fewer join candidates, same result
    after the exact post-filter.
    """

    @F.pandas_udf(_INS_SCHEMA)
    def _ins(wkt: pd.Series) -> pd.Series:
        row, tier, cell = polygon_cells_np(
            list(wkt), strategy, max_duplicates, buffer, trim
        )
        out: list[list[dict]] = [[] for _ in range(len(wkt))]
        for r, t, c in zip(row.tolist(), tier.tolist(), cell.tolist()):
            out[r].append({"tier": int(t), "cell": int(c)})
        return pd.Series(out)

    return _ins


def with_polygon_cells(
    df: DataFrame,
    wkt_col: str = "wkt",
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
    trim: bool = True,
) -> DataFrame:
    ins = polygon_cells_udf(strategy, max_duplicates, buffer, trim)(F.col(wkt_col))
    return (
        df.withColumn("_ins", F.explode(ins))
        .withColumn("tier", F.col("_ins.tier"))
        .withColumn("cell", F.col("_ins.cell"))
        .drop("_ins")
    )


def st_point_cell_udf(strategy=None):
    """Pandas UDF: (lon, lat, ts) → top-tier 3-D Morton cell of the
    spatial-temporal index (year bin is Catalyst ``year(ts)``)."""
    from .sfc.spatial_temporal import DEFAULT_ST_STRATEGY

    strat = strategy or DEFAULT_ST_STRATEGY

    @F.pandas_udf(LongType())
    def _cell(lon: pd.Series, lat: pd.Series, ts: pd.Series) -> pd.Series:
        ms = ts.to_numpy().astype("datetime64[ms]").astype(np.int64)
        _, cell = strat.point_keys(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), ms
        )
        return pd.Series(cell)

    return _cell


def with_spatiotemporal_cells(
    df: DataFrame,
    lon: str = "lon",
    lat: str = "lat",
    ts: str = "ts",
    strategy=None,
) -> DataFrame:
    """Add (year, tier, cell) spatial-temporal index columns for
    point/instant rows (SpatialTemporalDimensionalityTypeProvider.java:57
    analog; year bin per TemporalBinningStrategy YEAR periodicity).

    ``year`` is computed by Catalyst's ``year(ts)``, which agrees with the
    numpy year binning for session-naive timestamps; the Morton cell runs
    as one Arrow UDF.  Write the result partitioned by (year, tier) with
    cell min/max statistics and the coarse predicate of
    :func:`~geowave_spark.plans.prune.st_cell_predicate` prunes both the
    partition listing and row groups.
    """
    from .sfc.spatial_temporal import DEFAULT_ST_STRATEGY

    strat = strategy or DEFAULT_ST_STRATEGY
    return (
        df.withColumn("year", F.year(F.col(ts)).cast("int"))
        .withColumn("tier", F.lit(strat.max_bits))
        .withColumn(
            "cell", st_point_cell_udf(strat)(F.col(lon), F.col(lat), F.col(ts))
        )
    )


def distinct_polygon_tiers(
    df: DataFrame,
    wkt_col: str,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
) -> list[int]:
    """Distinct insertion tiers of a polygon table from a light WKT scan
    (no cell explosion, no persist) — the analog of the reference's
    tier-byte collectAsync (TieredSpatialJoin.java:174-191).  Only tier
    ints reach the driver."""

    @F.pandas_udf(ArrayType(IntegerType()))
    def _tiers(wkt: pd.Series) -> pd.Series:
        coords = [np.vstack(flatten_parts(parse_wkt_multi(w))) for w in wkt]
        env = np.array(
            [
                (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
                for c in coords
            ],
            dtype=np.float64,
        ).reshape(len(coords), 4)
        t = strategy.envelope_tiers(
            env[:, 0] - buffer,
            env[:, 1] - buffer,
            env[:, 2] + buffer,
            env[:, 3] + buffer,
            max_duplicates=max_duplicates,
        )
        u = np.unique(t).astype(np.int32).tolist()
        out: list[list[int]] = [[] for _ in range(len(wkt))]
        if out:
            out[0] = u
        return pd.Series(out)

    rows = (
        df.select(F.explode(_tiers(F.col(wkt_col))).alias("tier")).distinct().collect()
    )
    return sorted(int(r["tier"]) for r in rows)


def point_cell_at_tier_udf(strategy: TieredStrategy, tier: int):
    """Pandas UDF: (lon, lat) → Hilbert cell at one fixed tier.

    Marked nondeterministic (it IS deterministic) so Catalyst cannot
    duplicate it: the join's pushed-down ``isnotnull(cell)`` otherwise
    clones the Arrow eval below the filter and the probe side pays two
    Python exchanges for one column (round-1 plan-audit artifact).
    """

    @F.pandas_udf(LongType())
    def _cell(lon: pd.Series, lat: pd.Series) -> pd.Series:
        c = strategy.point_cells_at_tier(
            lon.to_numpy(np.float64), lat.to_numpy(np.float64), tier
        )
        return pd.Series(c)

    return _cell.asNondeterministic()


def explode_envelope_cells(
    df: DataFrame,
    minx: Column,
    miny: Column,
    maxx: Column,
    maxy: Column,
    keep: list[str],
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    tier: int | None = None,
) -> DataFrame:
    """Flat explode of envelope insertion ids via ``mapInPandas``.

    Output = one row per (tier, cell) per input row with columns
    ``keep + [tier, cell]``.  Unlike :func:`envelope_cells_udf` (which
    materializes array<struct> as Python dicts and then explodes), every
    column here stays a numpy array end-to-end — the Arrow exchange carries
    no Python objects, which is ~an order of magnitude cheaper at the
    millions-of-cells scale the join build side produces.
    """
    src = df.select(
        *[F.col(c) for c in keep],
        minx.alias("_minx"),
        miny.alias("_miny"),
        maxx.alias("_maxx"),
        maxy.alias("_maxy"),
    )
    out_schema = StructType(
        [src.schema[c] for c in keep]
        + [StructField("tier", IntegerType()), StructField("cell", LongType())]
    )

    def _gen(batches):
        for pdf in batches:
            env = (
                pdf["_minx"].to_numpy(np.float64),
                pdf["_miny"].to_numpy(np.float64),
                pdf["_maxx"].to_numpy(np.float64),
                pdf["_maxy"].to_numpy(np.float64),
            )
            if tier is None:
                row, tiers, cell = strategy.envelope_insertion_ids(
                    *env, max_duplicates=max_duplicates
                )
            else:
                row, cell = strategy.envelope_cells_at_tier(*env, tier)
                tiers = np.full(len(row), tier, dtype=np.int64)
            out = pdf.iloc[row, : len(keep)].reset_index(drop=True)
            out["tier"] = tiers.astype(np.int32)
            out["cell"] = cell
            yield out

    return src.mapInPandas(_gen, out_schema)


def polygon_cells_np(
    wkts,
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
    trim: bool = True,
    polys=None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Insertion cells for a batch of WKT geometries → (row_index, tier,
    cell) numpy arrays, with trimIndexIds pruning (RDDUtils.java:158-184:
    when an entity received more than 3 cells, drop cells whose rectangle
    does not intersect the buffered geometry).  Kind-aware: polylines trim
    against their real segments (a cell inside a line's phantom hull does
    NOT keep the line), closed rings use the exact polygon test.  Shared
    by the executor-side mapInPandas explode and the driver-side
    broadcast-build path."""
    n = len(wkts)
    if polys is not None:
        geoms = [("POLYGON", [p]) for p in polys]
    else:
        geoms = [parse_wkt_multi(w) for w in wkts]
    env = np.empty((n, 4), dtype=np.float64)
    for i, g in enumerate(geoms):
        c = np.vstack(flatten_parts(g))
        env[i] = (c[:, 0].min(), c[:, 1].min(), c[:, 0].max(), c[:, 1].max())
    row, tier, cell = strategy.envelope_insertion_ids(
        env[:, 0] - buffer,
        env[:, 1] - buffer,
        env[:, 2] + buffer,
        env[:, 3] + buffer,
        max_duplicates=max_duplicates,
    )
    keep_mask = np.ones(len(row), dtype=bool)
    if trim and len(row):
        counts = np.bincount(row, minlength=n)
        for i in np.nonzero(counts > 3)[0]:
            m = row == i
            t = int(tier[m][0])
            if t == 0:
                continue
            cx, cy = hilbert_to_xy(cell[m].astype(np.uint64), t)
            span_x = strategy.dim_x.range / (1 << t)
            span_y = strategy.dim_y.range / (1 << t)
            rminx = strategy.dim_x.min + cx.astype(np.float64) * span_x - buffer
            rminy = strategy.dim_y.min + cy.astype(np.float64) * span_y - buffer
            hit = np.zeros(int(m.sum()), dtype=bool)
            for kind, parts in as_components(geoms[i]):
                hit |= cell_rect_intersects_geom(
                    rminx, rminy,
                    rminx + span_x + 2 * buffer, rminy + span_y + 2 * buffer,
                    parts, geom_is_closed(kind),
                )
            keep_mask[np.nonzero(m)[0][~hit]] = False
    return row[keep_mask], tier[keep_mask], cell[keep_mask]


def explode_polygon_cells(
    df: DataFrame,
    wkt_col: str,
    keep: list[str],
    strategy: TieredStrategy = DEFAULT_STRATEGY,
    max_duplicates: int = 4,
    buffer: float = 0.0,
    trim: bool = True,
) -> DataFrame:
    """Flat explode of polygon insertion ids (with trimIndexIds pruning)
    via ``mapInPandas`` — see :func:`explode_envelope_cells`."""
    src = df.select(*[F.col(c) for c in keep], F.col(wkt_col).alias("_wkt"))
    out_schema = StructType(
        [src.schema[c] for c in keep]
        + [StructField("tier", IntegerType()), StructField("cell", LongType())]
    )

    def _gen(batches):
        for pdf in batches:
            row, tier, cell = polygon_cells_np(
                list(pdf["_wkt"]), strategy, max_duplicates, buffer, trim
            )
            out = pdf.iloc[row, : len(keep)].reset_index(drop=True)
            out["tier"] = tier.astype(np.int32)
            out["cell"] = cell
            yield out

    return src.mapInPandas(_gen, out_schema)


def cell_at_tier(top_cell: str, tier: str, max_bits: int = 31) -> Column:
    """Re-project a top-tier point cell to a coarser tier — pure Catalyst.

    Hilbert hierarchy makes tier re-projection a bit shift (2 bits/tier in
    2-D), the cheap analog of TieredSpatialJoin.reprojectToTier
    (TieredSpatialJoin.java:471-511) with no geometry re-encode.
    ``top_cell`` / ``tier`` are column names (SQL expression under the hood
    because the shift amount is itself a column).
    """
    return F.expr(
        f"CASE WHEN {tier} = 0 THEN CAST(0 AS BIGINT) "
        f"ELSE shiftrightunsigned({top_cell}, CAST(2 * ({max_bits} - {tier}) AS INT)) END"
    )
