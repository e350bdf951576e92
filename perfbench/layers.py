"""Per-layer probes for the traced run: timed calls into single engine
modules (sfc, encode, geom, crs, raster codecs, the bucketed index and
the checkpointed catalog) on the workload's own points, polygons and
image bytes."""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from geowave_spark.crs import forward_cols
from geowave_spark.encode import explode_envelope_cells, point_cell_at_tier_udf
from geowave_spark.geom import pad_rings, parse_wkt, points_in_polygons_batch
from geowave_spark.operators.join import distance_join
from geowave_spark.raster.codec import decode_image
from geowave_spark.sfc.tiered import TieredStrategy
from geowave_spark.sources.bucketing import (
    bucketed_bbox_scan,
    bucketed_distance_join,
    count_exchanges,
    write_bucketed_points,
)
from geowave_spark.sources.catalog import checkpointed_write, verify_lineage

from harness import dir_bytes, dir_files, median
from workloads import same_rows

RADIUS = 0.02
MIN_TIMED_S = 0.2


def _rate(fn, units: float, min_s: float = MIN_TIMED_S) -> float:
    """units per second of ``fn``, repeated until ``min_s`` has elapsed."""
    fn()
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return units * reps / dt


def _timed(fn, reps: int = 3) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return median(out)


def layer_metrics(spark, points: pd.DataFrame, regions: pd.DataFrame,
                  images: pd.DataFrame, tracer) -> dict[str, float]:
    lon, lat = points["lon"].to_numpy(), points["lat"].to_numpy()
    strat = TieredStrategy()
    tier = strat.tier_for_width(2 * RADIUS, 2 * RADIUS)
    n = len(lon)
    out: dict[str, float] = {}

    with tracer.span("layer.sfc"):
        out["sfc.point_cells_per_s"] = _rate(
            lambda: strat.point_cells_at_tier(lon, lat, tier), n)
        env = (lon - RADIUS, lat - RADIUS, lon + RADIUS, lat + RADIUS)
        rows, _cells = strat.envelope_cells_at_tier(*env, tier)
        out["sfc.envelope_cells_per_s"] = _rate(
            lambda: strat.envelope_cells_at_tier(*env, tier), n)
        out["sfc.cells_per_envelope"] = len(rows) / n

    pts = spark.createDataFrame(pd.DataFrame(
        {"pid": np.arange(n, dtype=np.int64), "lon": lon, "lat": lat})).persist()
    pts.count()
    try:
        build = explode_envelope_cells(
            pts, F.col("lon") - RADIUS, F.col("lat") - RADIUS,
            F.col("lon") + RADIUS, F.col("lat") + RADIUS,
            keep=["pid", "lon", "lat"], strategy=strat, tier=tier,
        ).drop("tier")
        with tracer.span("layer.encode"):
            counts = []
            out["encode.explode_s"] = _timed(lambda: counts.append(build.count()))
            out["encode.explode_rows_per_input"] = counts[-1] / n
        with tracer.span("layer.join"):
            probe = pts.select(
                F.col("pid").alias("qid"), F.col("lon").alias("qlon"),
                F.col("lat").alias("qlat"),
            ).withColumn("cell", point_cell_at_tier_udf(strat, tier)(F.col("qlon"), F.col("qlat")))
            cand = probe.join(build, "cell")
            dx, dy = F.col("qlon") - F.col("lon"), F.col("qlat") - F.col("lat")
            row = cand.agg(
                F.count(F.lit(1)).alias("cand"),
                F.sum(F.when(dx * dx + dy * dy <= RADIUS * RADIUS, 1).otherwise(0)).alias("out"),
            ).collect()[0]
            out["join.candidates_per_output"] = row["cand"] / max(1, row["out"])
        with tracer.span("layer.crs"):
            x, y = forward_cols("EPSG:3857", "lon", "lat")
            out["crs.project_s"] = _timed(lambda: pts.agg(F.sum(x), F.sum(y)).collect())
    finally:
        pts.unpersist()

    with tracer.span("layer.geom"):
        rings = [parse_wkt(w)[1] for w in regions["wkt"]]
        padded = pad_rings(rings)
        m = min(n, 2000)
        k = len(rings)
        px = np.repeat(lon[:m], k)
        py = np.repeat(lat[:m], k)
        codes = np.tile(np.arange(k), m)
        out["geom.pip_tests_per_s"] = _rate(
            lambda: points_in_polygons_batch(px, py, codes, padded), m * k)

    with tracer.span("layer.raster"):
        # megapixels per second: the seeded image mix differs in size from
        # seed to seed, so images per second would not compare
        for fmt in ("png", "jpeg", "bmp"):
            sel = images[images["fmt"] == fmt]
            blobs = [bytes(b) for b in sel["bytes"]]
            if not blobs:
                raise RuntimeError(f"no {fmt} images to decode")
            mpx = float((sel["w"] * sel["h"]).sum()) / 1e6
            out[f"raster.decode_{fmt}_per_s"] = _rate(
                lambda: [decode_image(b, fmt) for b in blobs], mpx)
    return out


INDEX_RADIUS = 0.05
INDEX_BUCKETS = 16
INDEX_TABLE = "perfbench_points"


def index_metrics(spark, points: pd.DataFrame, data_dir: str, seed: int,
                  tracer) -> tuple[dict[str, float], list[str]]:
    """Write the points once as a bucketed index and once as a
    checkpointed catalog, probe both, and check every result.  Returns
    (metrics, errors)."""
    rng = np.random.default_rng(seed)
    pts = points.assign(
        zone=np.floor((points["lon"] + 180.0) / 45.0).clip(0, 7).astype(np.int32))
    # one input partition: a small batch writes one file per bucket and
    # zone instead of one per (task, bucket)
    df = spark.createDataFrame(pts).coalesce(1).persist()
    df.count()
    pick = rng.choice(len(pts), min(300, len(pts)), replace=False)
    probe = spark.createDataFrame(pd.DataFrame({
        "pid": [f"p{i:05d}" for i in range(len(pick))],
        "lon": np.clip(pts["lon"].to_numpy()[pick] + rng.normal(0, 0.02, len(pick)), -180, 180),
        "lat": np.clip(pts["lat"].to_numpy()[pick] + rng.normal(0, 0.02, len(pick)), -90, 90),
    })).persist()
    c = int(rng.integers(len(pts)))
    window = (float(pts["lon"].iloc[c]) - 0.5, float(pts["lat"].iloc[c]) - 0.5,
              float(pts["lon"].iloc[c]) + 0.5, float(pts["lat"].iloc[c]) + 0.5)
    zones = sorted(str(z) for z in set(pts["zone"].tolist()))
    out: dict[str, float] = {}
    errs: list[str] = []
    try:
        with tracer.span("layer.bucketing"):
            t0 = time.perf_counter()
            write_bucketed_points(df, INDEX_TABLE, INDEX_RADIUS, n_buckets=INDEX_BUCKETS)
            out["bucketing.write_s"] = time.perf_counter() - t0
            joined = bucketed_distance_join(spark, INDEX_TABLE, probe, INDEX_RADIUS,
                                            "image_id", "pid")
            # the planned (not yet adaptive-final) plan, as the engine's tests read it
            out["bucketing.probe_exchanges"] = float(count_exchanges(joined))
            t0 = time.perf_counter()
            got = joined.toPandas()
            out["bucketing.join_s"] = time.perf_counter() - t0
            want = distance_join(df, probe, INDEX_RADIUS, "image_id", "pid").toPandas()
            err = same_rows(got, want, "bucketed_distance_join vs distance_join")
            if err:
                errs.append(err)
            scan = bucketed_bbox_scan(spark, INDEX_TABLE, window).select("image_id").toPandas()
            minx, miny, maxx, maxy = window
            inside = ((pts["lon"] >= minx) & (pts["lon"] <= maxx)
                      & (pts["lat"] >= miny) & (pts["lat"] <= maxy))
            if sorted(scan["image_id"]) != sorted(pts["image_id"][inside]):
                errs.append("bucketed_bbox_scan: window rows differ from a numpy filter")
            wh = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "", 1)
            out["bucketing.stored_bytes_per_row"] = (
                dir_bytes(os.path.join(wh, INDEX_TABLE)) / len(pts))
        with tracer.span("layer.catalog"):
            path = os.path.join(data_dir, "catalog")
            t0 = time.perf_counter()
            res = checkpointed_write(df, path, "zone", stats_fields=["lon"])
            out["catalog.write_s"] = time.perf_counter() - t0
            if res["written"] != zones or res["skipped"]:
                errs.append(f"checkpointed_write wrote {res['written']}")
            if not verify_lineage(spark, path, df, "zone"):
                errs.append("checkpointed_write: verify_lineage is false")
            again = checkpointed_write(df, path, "zone", stats_fields=["lon"])
            if again["written"] or again["skipped"] != zones:
                errs.append(f"a second checkpointed_write wrote {again['written']}")
            out["catalog.files_written"] = float(dir_files(path))
            out["catalog.bytes_written_mb"] = dir_bytes(path) / 2**20
    finally:
        df.unpersist()
        probe.unpersist()
    return out, errs
