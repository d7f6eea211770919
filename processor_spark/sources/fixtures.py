"""Fixture table loaders with pinned schemas.

The ten driver-generated tables (TESTDATA.md, FIXTURES.md) are the
engine's canonical sources.  Schemas are declared explicitly so every
registered query binds to a stable schema (SURVEY.md §1.3) — inference
is for dev only.  At 100 TB the same loaders would point at a
partitioned lake layout (e.g. orders partitioned by month of
o_orderdate) and Catalyst's partition pruning would kick in; the query
builders are written against logical columns only, so the storage
layout can change freely underneath them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Fixture parquet stores timestamps with isAdjustedToUTC=false → Spark
# reads them as TimestampNTZType (naive), which is exactly what the
# DuckDB oracle sees.  events.ts is the exception: it arrives as ns
# (read as long, converted via timestamp_micros → TimestampType); under
# the pinned UTC session timezone the two behave identically.

# Pinned schemas, dumped from the parquet footers (FIXTURES.md).
# Parquet ns timestamps (events.ts) read as Spark TimestampType (µs,
# truncated) — the oracle side truncates identically (DuckDB µs).
_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampNTZType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES: tuple[str, ...] = tuple(_SCHEMAS)

# Dimension tables small enough to broadcast at ANY scale factor — at
# TPC-H proportions region/nation are constant-size and supplier/part
# grow slowly; broadcast hints on these are safe at 100 TB.
BROADCAST_DIMS: frozenset[str] = frozenset({"region", "nation"})


def schema_for(table: str) -> T.StructType:
    return _SCHEMAS[table]


def row_key(table: str) -> str:
    """The table's row key: the first field of its pinned schema, which
    in every fixture table is the id column."""
    return _SCHEMAS[table].fields[0].name


def _starts_no_job(df: DataFrame) -> bool:
    """True when building ``df``'s RDD starts no Spark job: its executed
    plan holds no exchange (shuffle, broadcast or reused), no subquery,
    and is not adaptive — AQE wraps exactly the plans that hold one of
    those, and materializing an adaptive plan runs its query stages."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        p = todo.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan" or name.endswith("Exchange") or not p.subqueries().isEmpty():
            return False
        kids = p.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return True


def is_one_task(df: DataFrame) -> bool:
    """True when ``df`` runs as ONE task, read without running a job.

    The partition count is read only where reading it is free — a plan
    with no exchange and no subquery (``_starts_no_job``): there it is
    the scan's own split count, planned on the driver from the file
    listing under the calling session's split settings
    (``spark.sql.files.maxPartitionBytes``, ``openCostInBytes``, the
    default parallelism).  On an aggregated or joined frame (AQE on)
    ``df.rdd.getNumPartitions()`` would run the upstream stages
    eagerly, so such frames count as more than one task."""
    return _starts_no_job(df) and df.rdd.getNumPartitions() <= 1


def load(
    spark: SparkSession, sf_dir: str, table: str, spread: bool = False
) -> DataFrame:
    """Load one fixture table as a batch DataFrame with its pinned schema.

    A table that the calling session reads as ONE file split
    (``is_one_task`` on the bare scan: Spark's own split count, planned
    on the driver with no job) is returned as ``coalesce(1)`` of that
    scan.  The coalesce is narrow — it moves no row — but it declares
    the scan's one partition as ``SinglePartition``, which satisfies
    every clustered, ordered and all-tuples distribution.  So the first
    grouping, window, global sort or unpartitioned total over such a
    table plans no exchange, and under AQE the query runs as one job
    where it ran one per query stage.  The deciding size is the split
    count alone.  Spark cuts a file into splits of
    ``min(maxPartitionBytes, max(openCostInBytes, bytes / parallelism))``,
    so under the defaults a one-file table up to 4 MiB is one split,
    and a larger one — sf0.1 lineitem, any lake table — keeps the
    scan's own partitions and every scale plan is unchanged.

    ``spread=True`` bypasses the gate, because its whole point is the
    opposite: it hash-partitions the rows on the table's row key
    (``row_key(table)``: the first field of the pinned schema, its id
    column) across the session's default parallelism straight off the
    scan. Use it ONLY ahead of compute-dense per-row/per-pair stages
    (vector scoring, simhash bit voting): a small table arrives as a
    single file split, so without it the expensive stage runs on one
    core no matter how many the cluster has. The row key is unique
    (lineitem: a handful of lines per order), so the hash still splits
    the rows evenly. Hashing on the id rather than round-robin also
    pays for the next wide operator: its HashPartitioning satisfies the
    clustered distribution of every grouping, window or join whose keys
    include the id, so the first such operator plans no exchange of its
    own. Filter-then-aggregate paths should NOT spread — the extra
    exchange would cost more than the map work it balances.
    """
    if table not in _SCHEMAS:
        raise KeyError(f"unknown fixture table {table!r}; known: {TABLES}")
    if table == "events":
        # events.ts is parquet TIMESTAMP(NANOS): Spark refuses it unless
        # nanosAsLong is on.  The driver (and any embedding app) calls us
        # with its OWN session, so the conf must be set here at runtime —
        # it is a plain SQL conf, not a session-start-only one.  It only
        # affects nanos columns, which only events has.  The pinned
        # schema can't be passed on this read (ts arrives as long and is
        # normalized below), so events skips the .schema() pin.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ts becomes TimestampType, whose wall-clock (date_trunc, hour,
        # window boundaries) follows the session timezone.  The engine
        # contract and the DuckDB oracle are both naive/UTC, so pin it
        # here too — operators must be correct under ANY caller session
        # (the driver brings its own), not just build_session()'s.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    else:
        # Pin the declared schema on the read so column types are the
        # documented contract, not whatever the parquet footer says.
        df = spark.read.schema(_SCHEMAS[table]).parquet(f"{sf_dir}/{table}.parquet")
    if spread:
        df = df.repartition(
            spark.sparkContext.defaultParallelism, F.col(row_key(table))
        )
    elif is_one_task(df):
        df = df.coalesce(1)
    if table == "events":
        # normalize ts to the pinned TimestampType whatever the layout:
        # - driver fixture: TIMESTAMP(NANOS) surfaced as long nanos via
        #   spark.sql.legacy.parquet.nanosAsLong → timestamp_micros
        #   (lossless: fixture ns values are µs-aligned, asserted in tests)
        # - µs layouts: NTZ → TIMESTAMP under the pinned UTC session tz
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view (SQL entry point EP2)."""
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)


def load_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Load a fixture table as a *streaming* DataFrame (file source).

    Streaming file sources require an explicit schema; we reuse the
    pinned one.  ``maxFilesPerTrigger`` is left default — tests use
    ``trigger(availableNow=True)`` for deterministic drains.
    """
    return (
        spark.readStream.schema(_SCHEMAS[table])
        .parquet(f"{sf_dir}/{table}.parquet")
    )
