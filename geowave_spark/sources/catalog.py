"""Indexed table sink with per-partition lineage + metrics (checkpoint/resume).

North-rule requirement: "checkpoints per-partition with lineage + metrics
tables so any stage resumes without recompute".  On a production cluster
this is an Iceberg table partitioned by ``(tier, bucket(cell))`` with
snapshot isolation; this container has no Iceberg runtime jar, so the same
layout is expressed as partitioned parquet plus two side tables —
swapping ``format("parquet")`` for ``format("iceberg")`` is the only change
needed (the write path never relies on parquet-specific behavior beyond
directory-partition append).

Layout for a logical table at ``path``:
  {path}/data/part_key=<v>/...parquet     — the rows, partitioned
  {path}/lineage/...parquet               — (part_key, n_rows, fingerprint)
                                            one row per completed partition
  {path}/metrics/...parquet               — (part_key, n_rows, minx/maxx/
                                            miny/maxy) per partition

``checkpointed_write`` is idempotent per partition: partitions already
recorded in lineage are skipped (resume after a crash recomputes nothing
that finished).  The fingerprint (xxhash64-sum of the partition's rows)
lets an auditor verify a resumed table matches a from-scratch one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _existing_partitions(spark: SparkSession, path: str) -> set:
    lineage = f"{path}/lineage"
    try:
        return {r["part_key"] for r in spark.read.parquet(lineage).select("part_key").distinct().collect()}
    except Exception:
        return set()


def checkpointed_write(
    df: DataFrame,
    path: str,
    part_col: str,
    lon: str | None = "lon",
    lat: str | None = "lat",
    stats_fields: list[str] | None = None,
    histogram_field: tuple[str, float, float] | None = None,
) -> dict:
    """Write df partitioned by part_col, skipping already-written partitions.

    ``stats_fields`` additionally maintains the persisted incremental
    statistics store (``sources/statistics.py`` — count/range/stats/HLL/
    Bloom partials per partition, the reference's statistics-on-write);
    resumed writes only append stats for newly-written partitions.
    ``histogram_field=(col, lo, hi)`` also appends the fixed-bin
    histogram partial that powers histogram-balanced split planning
    (``plans/splits.py``, the reference's RowRangeHistogramStatistics-
    on-write).

    Returns {"written": [...], "skipped": [...]}.
    """
    spark = df.sparkSession
    done = _existing_partitions(spark, path)
    todo_df = df.withColumn("part_key", F.col(part_col).cast("string"))
    if done:
        todo_df = todo_df.where(~F.col("part_key").isin(list(done)))
    todo_df = todo_df.persist()

    parts = [r["part_key"] for r in todo_df.select("part_key").distinct().collect()]
    if parts:
        todo_df.write.mode("append").partitionBy("part_key").parquet(f"{path}/data")
        aggs = [
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.pmod(F.xxhash64(*[c for c in df.columns]), F.lit(2147483647))).alias("fingerprint"),
        ]
        lineage = todo_df.groupBy("part_key").agg(*aggs)
        lineage.write.mode("append").parquet(f"{path}/lineage")
        m_aggs = [F.count(F.lit(1)).alias("n_rows")]
        if lon and lon in df.columns:
            m_aggs += [
                F.min(lon).alias("minx"),
                F.max(lon).alias("maxx"),
                F.min(lat).alias("miny"),
                F.max(lat).alias("maxy"),
            ]
        todo_df.groupBy("part_key").agg(*m_aggs).write.mode("append").parquet(f"{path}/metrics")
        if stats_fields:
            from .statistics import update_statistics

            update_statistics(todo_df, path, "part_key", stats_fields)
        if histogram_field:
            from ..plans.splits import update_histogram_statistics

            col, lo, hi = histogram_field
            update_histogram_statistics(todo_df, path, "part_key", col, lo, hi)
    todo_df.unpersist()
    return {"written": sorted(parts), "skipped": sorted(done)}


def read_indexed(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/data")


def read_metrics(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/metrics")


def read_lineage(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(f"{path}/lineage")


def verify_lineage(spark: SparkSession, path: str, df: DataFrame, part_col: str) -> bool:
    """Recompute partition fingerprints from df and compare to lineage."""
    want = {
        r["part_key"]: (r["n_rows"], r["fingerprint"])
        for r in df.withColumn("part_key", F.col(part_col).cast("string"))
        .groupBy("part_key")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.pmod(F.xxhash64(*[c for c in df.columns]), F.lit(2147483647))).alias("fingerprint"),
        )
        .collect()
    }
    got = {
        r["part_key"]: (r["n_rows"], r["fingerprint"])
        for r in read_lineage(spark, path).collect()
    }
    return got == want
