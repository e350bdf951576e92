"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_CALL_CACHES: dict[str, DataFrame] = {}


def cache_per_call(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` as operator ``key``'s working cache, unpersisting the
    one its previous call left, so a long-lived session holds one cache
    per operator instead of one per call.  A result of the previous call
    stays correct but recomputes its input once that cache is gone."""
    old = _CALL_CACHES.pop(key, None)
    if old is not None and old.sparkSession is df.sparkSession:
        old.unpersist()
    _CALL_CACHES[key] = df = df.persist()
    return df


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, another user's
        pass
    return True


def local_dirs() -> str:
    """This process's Spark scratch: ``pid-<pid>`` under each of
    SPARK_LOCAL_DIRS, else SPARK_GRAFT_LOCAL_DIR, else
    /dev/shm/spark-local.  A JVM the kernel kills never deletes its
    ``blockmgr-*`` dirs, so sibling ``pid-<n>`` dirs whose process is
    gone are removed first."""
    own = f"pid-{os.getpid()}"
    roots = (
        os.environ.get("SPARK_LOCAL_DIRS")
        or os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        or ("/dev/shm/spark-local" if os.path.isdir("/dev/shm") else "/tmp/spark-local")
    )
    dirs = []
    for root in roots.split(","):
        if os.path.basename(os.path.normpath(root)) == own:  # resolved earlier
            dirs.append(root)
            continue
        for name in os.listdir(root) if os.path.isdir(root) else []:
            if name[:4] == "pid-" and name[4:].isdigit() and not _pid_alive(int(name[4:])):
                shutil.rmtree(os.path.join(root, name), ignore_errors=True)
        dirs.append(os.path.join(root, own))
    return ",".join(dirs)


def get_spark(
    app: str = "geowave_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build a session with AQE, Arrow and sane shuffle sizing enabled.

    These mirror what a production deployment would set cluster-wide:
    adaptive execution (runtime shuffle coalescing + skew-join splitting —
    our analog of the reference's histogram-balanced SplitsProvider),
    Arrow-batched Python exchange for every pandas UDF.
    """
    scratch = local_dirs()
    if "SPARK_LOCAL_DIRS" in os.environ:  # the JVM prefers it to spark.local.dir
        os.environ["SPARK_LOCAL_DIRS"] = scratch
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    shuffle = shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", max(cpus, 8)))
    compress = os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "false")
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # scan parallelism for small local files (cluster defaults are fine
        # at TB scale); post-shuffle sizing is left to AQE's default 64 MB
        # advisory + parallelismFirst — forcing a small advisory size
        # measurably hurts (many tiny partitions ⇒ per-task overhead)
        .config("spark.sql.files.maxPartitionBytes", "32m")
        # local mode shuffles through RAM (spark.local.dir on /dev/shm) with
        # no network hop, so compression is pure CPU cost; a real cluster
        # re-enables it via SPARK_GRAFT_SHUFFLE_COMPRESS=true
        .config("spark.shuffle.compress", compress)
        .config("spark.shuffle.spill.compress", compress)
        # no-combine shuffles with ≤200 partitions default to the
        # bypass-merge writer, one FILE per reduce partition per map task,
        # whose directory-op contention serialized 32 concurrent writers
        # (KDE halo exchange 8 s → 42 s going 8→32 cores); the single-file
        # sort writer avoids that fan-out (and inode storms on clusters).
        .config(
            "spark.shuffle.sort.bypassMergeThreshold",
            os.environ.get("SPARK_GRAFT_BYPASS_THRESHOLD", "4"),
        )
        # bucketed tables here are deliberate (sources/bucketing.py: the
        # persist-indexed-once layout); auto-de-bucketing would silently
        # drop bucket PRUNING on join-less range scans (measured: the
        # cell IN (...) filter loses its SelectedBucketsCount skip)
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # shuffle/spill scratch: prefer RAM-backed storage in local mode —
        # a single VM disk serializes 32 concurrent shuffle writers (3×
        # slowdown measured); a real cluster instead sets this to per-node
        # NVMe via SPARK_GRAFT_LOCAL_DIR / spark-defaults
        .config("spark.local.dir", scratch)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
