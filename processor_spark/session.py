"""SparkSession builder with engine-wide configuration.

Scale posture (SURVEY.md §4, §7 Phase 6): AQE enabled so skew joins
split and shuffle partitions coalesce at runtime; UTC pinned so
timestamp semantics match the DuckDB oracle; Arrow enabled for the
(rare) pandas-UDF paths.  ``shuffle_partitions`` defaults to the local
core count — on a real cluster this would be set to ~2-3× total cores
or left to AQE's coalescing with a high initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "processor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # correctness-critical: oracle (DuckDB) compares naive/UTC timestamps
        .config("spark.sql.session.timeZone", "UTC")
        # scale posture: runtime re-planning (coalesce shuffles, skew-join split,
        # broadcast conversion) — free wins at 100 TB per SURVEY.md §4
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE: parallelismFirst=false (respect 64 MB advisory when
        # coalescing) was measured 20% SLOWER at fixture scale — it
        # collapses the 100 k-row window sorts to one partition.  The
        # default (true) is kept; on a real cluster with TB shuffles the
        # advisory size governs either way.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast policy: distrust STATIC size estimates (a raw-scan
        # estimate can nominate the pruned FACT scan as the build side —
        # observed at sf0.1: the planner broadcast the 600 k-row lineitem
        # scan of q_join_5way), but trust RUNTIME-observed sizes.  Low
        # static threshold + high adaptive threshold = broadcasts are
        # decided from real post-shuffle sizes, which is exactly the
        # decision procedure that stays correct at 100 TB.
        .config("spark.sql.autoBroadcastJoinThreshold", str(2 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # events.parquet carries TIMESTAMP(NANOS) which Spark's reader
        # rejects; read as long and convert in the loader (µs-lossless —
        # fixture ns values are µs-aligned, verified in tests)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for pandas UDF / toPandas boundary crossings
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # keep the tiny-file fixtures from fragmenting into 1-row tasks locally
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # keep managed-table output (bucketed tables) out of the repo tree
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/processor_spark-warehouse"))
        # incremental pipelines overwrite only the partitions present in
        # the written batch, not the whole table (100 TB backfill safety)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # streaming state on RocksDB, not the default in-heap HDFS-backed
        # map: at 100 TB/day the session/dedup/join state exceeds executor
        # heap — RocksDB spills to local SSD and bounds GC pressure, and
        # changelog checkpointing uploads per-batch deltas instead of full
        # snapshots.  All streaming tests (incl. cross-run restarts) run
        # under this provider.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # Python workers import processor_spark inside tasks (the stream
        # IVF serve, the streaming SemDeDup state fn): put the package's
        # parent dir on their path, so a driver started outside the
        # checkout works too; a caller's PYTHONPATH stays after it
        .config(
            "spark.executorEnv.PYTHONPATH",
            os.pathsep.join(filter(None, [pkg_parent, os.environ.get("PYTHONPATH")])),
        )
    )
    return builder.getOrCreate()


def get_session() -> SparkSession:
    """Return the active session, building one if needed."""
    active = SparkSession.getActiveSession()
    return active if active is not None else build_session()
