"""Batch↔stream equivalence + incremental/late-data tests (SURVEY.md §5.3-4).

The events fixture is split into chronological chunk files and fed to
a file-source stream one file per micro-batch; results drained with
availableNow must equal the batch twin — Structured Streaming's
prefix-consistency guarantee as a test.
"""

from __future__ import annotations

import shutil

import pytest

from pyspark.sql import Window
from pyspark.sql import functions as F

from processor_spark.sources import load
from processor_spark.streaming import pipelines as P
from tests.conftest import SF_SMALL

N_CHUNKS = 5


@pytest.fixture(scope="module")
def events_chunks_dir(spark, tmp_path_factory):
    """Split events chronologically into N parquet chunk files (ts as µs
    longs — Spark's parquet writer has no ns type and the stream reader
    converts back; see read_events_stream)."""
    base = tmp_path_factory.mktemp("events_chunks")
    e = (
        load(spark, SF_SMALL, "events")
        .withColumn("ts", F.unix_micros("ts"))
        .orderBy("ts")
        .withColumn("chunk", F.ntile(N_CHUNKS).over(Window.orderBy("ts")))
    )
    pdf = e.toPandas()
    for i, grp in pdf.groupby("chunk"):
        grp.drop(columns=["chunk"]).to_parquet(base / f"chunk_{i:02d}.parquet", index=False)
    yield str(base)
    shutil.rmtree(base, ignore_errors=True)


def _drain(spark, df, name, mode="append"):
    P.run_to_memory(df, name, output_mode=mode)
    return spark.sql(f"SELECT * FROM {name}")


def _sorted_rows(df, cols):
    return [tuple(r) for r in df.select(*cols).orderBy(*cols).collect()]


def test_stream_tumbling_equals_batch(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.tumbling_counts(stream), "t_tumbling")
    want = P.tumbling_counts(load(spark, SF_SMALL, "events"))
    cols = ["bucket_start", "event_type", "n_events", "total_value"]
    # append mode emits only watermark-closed windows: a strict prefix
    # of the batch result; the batch run must contain every emitted row
    got_rows = set(_sorted_rows(got, cols))
    want_rows = set(_sorted_rows(want, cols))
    assert got_rows <= want_rows
    # and all but the last open hour must have been emitted
    assert len(got_rows) >= len(want_rows) - 26  # ≤ #event_types windows open at EOF + late tail


def test_stream_sessions_equal_batch_prefix(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.session_counts(stream), "t_sessions")
    want = P.session_counts(load(spark, SF_SMALL, "events"))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert set(_sorted_rows(got, cols)) <= set(_sorted_rows(want, cols))
    assert got.count() > 0


def test_stream_dedup(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.dedup_events(stream), "t_dedup")
    batch = load(spark, SF_SMALL, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_stream_dedup_late_rows_across_drains(spark, tmp_path):
    """dedup_events drained twice on one checkpoint.  The first drain
    runs one micro-batch, and the commit of that batch persists the
    watermark it computed (08:00 − 1 h); the second drain's late filter
    drops a row older than it (id 4).
    The dedup state is never evicted, so id 1, whose first row is
    older than that watermark, is still a duplicate when it comes back
    on time.  The streamed ids equal the batch twin: the distinct ids
    minus the late row."""
    import pandas as pd

    data = tmp_path / "events"
    data.mkdir()
    ckpt = str(tmp_path / "ckpt")
    us = lambda s: int(pd.Timestamp(s).value // 1000)

    def chunk(ids, stamps):
        return pd.DataFrame(
            {
                "event_id": ids,
                "ts": [us(f"2024-01-01 {t}") for t in stamps],
                "user_id": [1] * len(ids),
                "event_type": ["click"] * len(ids),
                "value": [1.0] * len(ids),
                "props": ["{}"] * len(ids),
            }
        )

    first = chunk([1, 2, 3], ["00:10", "01:10", "08:00"])
    second = chunk([1, 4, 5, 3], ["08:30", "00:20", "09:00", "08:10"])
    got = []

    def sink(batch_df, _):
        got.extend(r.event_id for r in batch_df.select("event_id").collect())

    for i, c in enumerate((first, second)):
        c.to_parquet(data / f"c{i}.parquet", index=False)
        stream = P.read_events_stream(spark, str(data))
        P.run_foreach_batch_ckpt(P.dedup_events(stream), sink, ckpt, output_mode="append")
    raw = pd.concat([first, second])["event_id"]
    assert sorted(got) == sorted(set(raw) - {4}) == [1, 2, 3, 5]


def _event_chunk(ids, stamps):
    """Event rows of user 1 on 2024-01-01 at the given HH:MM stamps,
    ts as µs longs (the chunk-file layout read_events_stream reads)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "event_id": ids,
            "ts": [pd.Timestamp(f"2024-01-01 {t}").value // 1000 for t in stamps],
            "user_id": [1] * len(ids),
            "event_type": ["click"] * len(ids),
            "value": [1.0] * len(ids),
            "props": ["{}"] * len(ids),
        }
    )


def _dedup_drains(spark, data, ckpt, groups):
    """Land each group of chunks in ``data`` and drain dedup_events
    once per group on one checkpoint; (streamed ids, progress entries
    per drain)."""
    got, progress = [], []

    def sink(batch_df, _):
        got.extend(r.event_id for r in batch_df.select("event_id").collect())

    for group in groups:
        for c in group:
            c.to_parquet(data / f"c{len(list(data.iterdir()))}.parquet", index=False)
        stream = P.read_events_stream(spark, str(data))
        progress.append(
            P.run_foreach_batch_ckpt(P.dedup_events(stream), sink, ckpt, output_mode="append")
        )
    return got, progress


def test_stream_dedup_resume_is_one_batch_one_job(spark, tmp_path):
    """A resumed dedup_events drain with one new chunk runs one
    micro-batch and one Spark job (the sink's collect): no trailing
    no-data batch.  The default drain runs two of each."""
    data = tmp_path / "events"
    data.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _dedup_drains(spark, data, ckpt, [[_event_chunk([1, 2], ["00:00", "01:00"])]])
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    j0 = next_job()
    got, (progress,) = _dedup_drains(
        spark, data, ckpt, [[_event_chunk([3, 1], ["02:00", "02:30"])]]
    )
    assert next_job() - j0 == 1
    assert len(progress) == 1 and progress[0]["numInputRows"] == 2
    assert got == [3]


def test_stream_drain_restores_session_conf(spark, tmp_path):
    """The one-batch drain sets its two streaming confs only for the
    query's start: the caller's values (one set, one unset) are back
    after the drain, and also after a start() that raises."""
    from pyspark.errors import AnalysisException

    multi = "spark.sql.streaming.statefulOperator.allowMultiple"
    nodata = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = {k: spark.conf.get(k, None) for k in (multi, nodata)}
    try:
        spark.conf.unset(multi)
        spark.conf.set(nodata, "true")
        data = tmp_path / "events"
        data.mkdir()
        _event_chunk([1], ["00:00"]).to_parquet(data / "c0.parquet", index=False)
        stream = P.dedup_events(P.read_events_stream(spark, str(data)))
        progress = P.run_foreach_batch_ckpt(
            stream, lambda b, i: b.collect(), str(tmp_path / "ckpt"), output_mode="append"
        )
        assert len(progress) == 1
        assert spark.conf.get(multi, None) is None
        assert spark.conf.get(nodata, None) == "true"
        with pytest.raises(AnalysisException):
            P.run_to_memory(stream, "t_conf_complete", output_mode="complete")
        assert spark.conf.get(multi, None) is None
        assert spark.conf.get(nodata, None) == "true"
    finally:
        for k, v in before.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_stream_dedup_ids_independent_of_drain_grouping(spark, tmp_path):
    """Three chunks drained once or as three drains stream the same
    ids.  Row 5 (10:30) is older than the 11:00 watermark set by the
    chunk before it, so it is late either way; Spark's default late
    filter, one batch behind, let it through in the single drain."""
    chunks = [
        _event_chunk([1, 2, 3], ["00:00", "05:00", "10:00"]),
        _event_chunk([4], ["12:00"]),
        _event_chunk([5, 6], ["10:30", "13:00"]),
    ]
    runs = {}
    for name, groups in (("once", [chunks]), ("thrice", [[c] for c in chunks])):
        data = tmp_path / name
        data.mkdir()
        runs[name], _ = _dedup_drains(spark, data, str(tmp_path / f"ckpt_{name}"), groups)
    assert sorted(runs["once"]) == sorted(runs["thrice"]) == [1, 2, 3, 4, 6]


def test_one_batch_rule_only_for_a_plain_dedup(spark, events_chunks_dir):
    """The one-batch drain fires only for a plain dropDuplicates: not
    for the watermark-bounded dedup, a windowed aggregate or a
    stream-stream join.  A tumbling drain keeps its trailing no-data
    batch: one progress entry per chunk file plus one."""
    stream = P.read_events_stream(spark, events_chunks_dir)
    assert P._plain_dedup_only(P.dedup_events(stream))
    for build in (
        P.dedup_events_within_watermark,
        P.tumbling_counts,
        P.purchases_with_recent_clicks,
    ):
        assert not P._plain_dedup_only(build(stream)), build.__name__
    progress = P.run_to_memory(P.tumbling_counts(stream), "t_tumbling_progress")
    assert len(progress) == N_CHUNKS + 1
    assert progress[-1]["numInputRows"] == 0


def test_stream_static_enrichment_matches_batch_join(spark, events_chunks_dir):
    dim = (
        load(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total_events"))
    )
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.enrich_with_static(stream, dim), "t_enrich")
    want = P.enrich_with_static(load(spark, SF_SMALL, "events"), dim)
    assert got.count() == want.count()
    cols = ["event_id", "user_total_events"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_stream_stream_join_subset_of_batch(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.purchases_with_recent_clicks(stream), "t_ssjoin")
    want = P.purchases_with_recent_clicks(load(spark, SF_SMALL, "events"))
    cols = ["purchase_id", "click_id"]
    got_rows = set(_sorted_rows(got, cols))
    want_rows = set(_sorted_rows(want, cols))
    assert got_rows <= want_rows
    assert len(got_rows) > 0.8 * len(want_rows)  # only the watermark tail may be missing


def test_stateful_running_totals(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.running_totals(stream), "t_state", mode="update")
    # update mode re-emits a user's row each micro-batch; the LAST emit per
    # user must equal the batch totals
    batch = (
        load(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
    )
    last = {}
    for r in got.collect():
        last[r.user_id] = (r.n_events, r.total_value)
    want = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    # every user seen before the final watermark must converge to batch truth
    converged = sum(1 for u, v in want.items() if last.get(u) == v)
    assert converged >= 0.9 * len(want), f"{converged}/{len(want)} users converged"


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Late-data policy + checkpoint recovery: a second availableNow run
    resuming from the first run's checkpoint starts with the persisted
    watermark; events older than it are dropped (numRowsDroppedByWatermark).

    NOTE (empirical, Spark 4.1): within a SINGLE availableNow run the
    watermark advanced by earlier micro-batches is not applied as a
    late-row filter to later ones — all input present at trigger start
    is treated as on-time.  Late-data tests must therefore span runs,
    which is also the realistic restart scenario.
    """
    import pandas as pd

    data = tmp_path / "late"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    data.mkdir()
    us = lambda s: int(pd.Timestamp(s).value // 1000)
    chunk1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [us("2024-01-01 00:10:00"), us("2024-01-01 01:10:00"), us("2024-01-01 08:00:00")],
            "user_id": [1, 1, 1],
            "event_type": ["click"] * 3,
            "value": [1.0, 1.0, 1.0],
            "props": ["{}"] * 3,
        }
    )
    # run 2 input: one event for hour 00 (late: watermark is 07:30 by then)
    chunk2 = chunk1.assign(
        event_id=[4, 5, 6],
        ts=[us("2024-01-01 00:20:00"), us("2024-01-01 08:30:00"), us("2024-01-01 09:30:00")],
    )

    def run_once():
        stream = P.read_events_stream(spark, str(data))
        P.write_parquet_stream(
            P.tumbling_counts(stream, watermark="30 minutes"), out, ckpt
        )

    chunk1.to_parquet(data / "c1.parquet", index=False)
    run_once()
    chunk2.to_parquet(data / "c2.parquet", index=False)
    run_once()

    counts = {
        r.bucket_start.isoformat(): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    # hour-00 window: closed with count 1; the late event_id=4 was dropped
    assert counts.get("2024-01-01T00:00:00") == 1, counts
    # on-time hour-08 window accumulated across both runs
    assert counts.get("2024-01-01T08:00:00") == 2, counts


def test_complete_mode_global_agg(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.type_totals_complete(stream), "t_complete", mode="complete")
    want = P.type_totals_complete(load(spark, SF_SMALL, "events"))
    cols = ["event_type", "n_events", "total_value"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_foreach_batch_collects_all_batches(spark, events_chunks_dir):
    seen = {"rows": 0, "batches": 0}

    def sink(batch_df, batch_id):
        seen["rows"] += batch_df.count()
        seen["batches"] += 1

    stream = P.read_events_stream(spark, events_chunks_dir)
    P.run_foreach_batch(stream, sink)
    assert seen["rows"] == load(spark, SF_SMALL, "events").count()
    assert seen["batches"] >= N_CHUNKS  # one per chunk file (maxFilesPerTrigger=1)


def test_rate_source_feeds_pipelines(spark):
    """Dev rate source drains through the tumbling pipeline (one short
    processing-time batch, then stop)."""
    stream = P.read_rate_stream(spark, rows_per_second=500)
    agg = P.type_totals_complete(stream)
    q = (
        agg.writeStream.format("memory").queryName("t_rate")
        .outputMode("complete").trigger(processingTime="1 second").start()
    )
    import time

    deadline = time.time() + 30
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.5)
    q.stop()
    rows = spark.sql("SELECT sum(n_events) AS n FROM t_rate").first().n
    assert rows and rows > 0


def test_session_implementations_agree(spark):
    """q_sessionization (gap-and-islands) and q_session_window (native
    session_window) must produce identical per-user session structure —
    the engine-internal equivalence behind the shared oracle."""
    from processor_spark import registry

    a = registry.get("q_sessionization").fn(spark, SF_SMALL)
    b = registry.get("q_session_window").fn(spark, SF_SMALL)
    sa = sorted((r.user_id, r.session_start, r.n_events) for r in a.collect())
    sb = sorted((r.user_id, r.session_start, r.n_events) for r in b.collect())
    assert sa == sb


def test_stream_sliding_equals_batch_prefix(spark, events_chunks_dir):
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.sliding_counts(stream), "t_sliding")
    want = P.sliding_counts(load(spark, SF_SMALL, "events"))
    cols = ["window_start", "event_type", "n_events", "total_value"]
    got_rows = set(_sorted_rows(got, cols))
    want_rows = set(_sorted_rows(want, cols))
    assert got_rows <= want_rows
    assert len(got_rows) > 0.8 * len(want_rows)


def test_streaming_asof_matches_batch_asof(spark, events_chunks_dir):
    """The stateful streaming as-of must agree with the batch
    union-and-carry q_join_asof on every purchase (chronological feed,
    no late data)."""
    from processor_spark import registry

    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.asof_enrich_stateful(stream), "t_asof", mode="append")
    want = registry.get("q_join_asof").fn(spark, SF_SMALL)
    g = {r.purchase_id: r.last_click_ts for r in got.collect()}
    w = {r.purchase_id: r.last_click_ts for r in want.collect()}
    assert set(g) == set(w), "every purchase must be emitted exactly once"
    mismatches = {k: (g[k], w[k]) for k in w if g[k] != w[k]}
    assert not mismatches, f"{len(mismatches)} mismatched enrichments: {list(mismatches.items())[:3]}"


def test_restart_resumes_from_offsets_exactly_once(spark, tmp_path):
    """Exactly-once across restarts: the checkpoint's offset log records
    which source files batch N consumed; a restarted query must process
    only files added since — no duplicates, no gaps (the file-sink
    commit protocol is the other half of the guarantee)."""
    import pandas as pd

    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    data.mkdir()
    us = lambda s: int(pd.Timestamp(s).value // 1000)
    mk = lambda ids: pd.DataFrame(
        {
            "event_id": ids,
            "ts": [us("2024-01-01 00:00:00") + i * 1_000_000 for i in ids],
            "user_id": [1] * len(ids),
            "event_type": ["click"] * len(ids),
            "value": [1.0] * len(ids),
            "props": ["{}"] * len(ids),
        }
    )

    def run_once():
        stream = P.read_events_stream(spark, str(data)).select("event_id", "ts")
        P.write_parquet_stream(stream, out, ckpt)

    mk([1, 2, 3]).to_parquet(data / "c1.parquet", index=False)
    run_once()
    mk([4, 5, 6]).to_parquet(data / "c2.parquet", index=False)
    run_once()
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == [1, 2, 3, 4, 5, 6], got


def test_streaming_throttle_matches_batch_throttle(spark, events_chunks_dir):
    from processor_spark.registry import get

    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.throttle_stateful(stream), "t_throttle")
    want = get("q_event_throttle").fn(spark, SF_SMALL)
    cols = ["event_id", "user_id", "event_type", "ts"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)


def test_streaming_ohlc_matches_batch_resample(spark, events_chunks_dir):
    """Streaming 6-hour OHLC bars (min_by/max_by window agg) must be a
    prefix of the batch twin's bars — first/last semantics survive
    incremental micro-batch merging of window state."""
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.ohlc_bars(stream), "t_ohlc")
    want = P.ohlc_bars(load(spark, SF_SMALL, "events"))
    cols = ["bucket_epoch", "event_type", "open", "high", "low", "close", "n_events"]
    got_rows = set(_sorted_rows(got, cols))
    want_rows = set(_sorted_rows(want, cols))
    assert got_rows <= want_rows
    # only the bars still open at EOF (≤ event_types x 1 bucket) plus
    # the late tail may be unemitted
    assert len(got_rows) >= len(want_rows) - 10


def _mk_events(rows):
    import pandas as pd

    us = lambda s: int(pd.Timestamp(s).value // 1000)
    return pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": [us(r[1]) for r in rows],
            "user_id": [r[2] for r in rows],
            "event_type": [r[3] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )


def test_session_window_state_survives_restart(spark, tmp_path):
    """A session OPEN at the end of run 1 must merge with run-2 events
    after a checkpointed restart: the session-window state (RocksDB
    provider, set engine-wide in build_session) is part of the
    checkpoint, not the JVM.  If state were lost, user 1 would emit two
    fragment sessions (2 + 1 events) instead of one merged 3-event
    session."""
    assert "RocksDB" in spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    data.mkdir()

    def run_once():
        stream = P.read_events_stream(spark, str(data))
        P.write_parquet_stream(P.session_counts(stream, watermark="30 minutes"), out, ckpt)

    # run 1: user 1 has an open 2-event session; user 2 a 1-event session
    _mk_events(
        [(1, "2024-01-01 00:00:00", 1, "click"),
         (2, "2024-01-01 00:10:00", 1, "click"),
         (3, "2024-01-01 00:05:00", 2, "view")]
    ).to_parquet(data / "c1.parquet", index=False)
    run_once()
    # run 2: event 4 EXTENDS user 1's restored session (gap < 30 min from
    # 00:10); event 5 advances the watermark to 04:30, closing both
    _mk_events(
        [(4, "2024-01-01 00:20:00", 1, "click"),
         (5, "2024-01-01 05:00:00", 3, "view")]
    ).to_parquet(data / "c2.parquet", index=False)
    run_once()

    got = {
        (r.user_id, r.session_start.isoformat(), r.session_end.isoformat()): r.n_events
        for r in spark.read.parquet(out).collect()
    }
    assert got.get((1, "2024-01-01T00:00:00", "2024-01-01T00:50:00")) == 3, got
    assert got.get((2, "2024-01-01T00:05:00", "2024-01-01T00:35:00")) == 1, got


def test_stream_stream_join_state_survives_restart(spark, tmp_path):
    """A click buffered in stream-stream join state during run 1 must
    join a purchase that only arrives in run 2: the RocksDB-backed join
    buffers are restored from the checkpoint on restart."""
    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    data.mkdir()

    def run_once():
        stream = P.read_events_stream(spark, str(data))
        P.write_parquet_stream(P.purchases_with_recent_clicks(stream), out, ckpt)

    # run 1: a click only — no output, but the click enters join state
    _mk_events([(1, "2024-01-01 00:00:00", 1, "click")]).to_parquet(
        data / "c1.parquet", index=False
    )
    run_once()
    # run 2: the matching purchase 30 min later (inside the 1 h bound)
    _mk_events([(2, "2024-01-01 00:30:00", 1, "purchase")]).to_parquet(
        data / "c2.parquet", index=False
    )
    run_once()

    rows = spark.read.parquet(out).collect()
    assert [(r.purchase_id, r.click_id) for r in rows] == [(2, 1)], rows


def test_transform_with_state_running_totals(spark, events_chunks_dir):
    """transformWithStateInPandas twin of running_totals.  The API's
    Python worker needs google.protobuf, absent from this container —
    when missing, the gate must say so (and the applyInPandasWithState
    path above remains the tested production implementation)."""
    if not P._has_tws_deps():
        pytest.skip("google.protobuf not installed; transformWithState gated")
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.running_totals_tws(stream), "t_tws", mode="update")
    batch = (
        load(spark, SF_SMALL, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
    )
    last = {}
    for r in got.collect():
        last[r.user_id] = (r.n_events, r.total_value)
    want = {r.user_id: (r.n_events, r.total_value) for r in batch.collect()}
    converged = sum(1 for u, v in want.items() if last.get(u) == v)
    assert converged >= 0.9 * len(want), f"{converged}/{len(want)} users converged"


def test_outer_stream_stream_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: a purchase with no click inside
    its hour must STILL emit (null click columns) — but only after the
    watermark proves no match can arrive, i.e. in the follow-up run."""
    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    data.mkdir()

    def run_once():
        stream = P.read_events_stream(spark, str(data))
        P.write_parquet_stream(P.purchases_with_recent_clicks_outer(stream), out, ckpt)

    # user 1: click then purchase 30 min later (matched pair)
    # user 2: purchase with NO click at all (must emit with nulls)
    _mk_events(
        [(1, "2024-01-01 00:00:00", 1, "click"),
         (2, "2024-01-01 00:30:00", 1, "purchase"),
         (3, "2024-01-01 00:30:00", 2, "purchase")]
    ).to_parquet(data / "c1.parquet", index=False)
    run_once()
    # advance the watermark well past 00:30 + 1 h so the unmatched
    # purchase's state can expire — the advancing events must be a
    # click AND a purchase: each branch's watermark column sits AFTER
    # its event-type filter, so other event types never move it (and
    # the global watermark is the min of the two branches)...
    _mk_events(
        [(4, "2024-01-01 05:00:00", 8, "click"),
         (5, "2024-01-01 05:00:00", 9, "purchase")]
    ).to_parquet(data / "c2.parquet", index=False)
    run_once()
    # ...and run once more: the watermark computed from run 2's data
    # only takes effect at the NEXT batch (same availableNow semantics
    # as the late-data test), which is when the null row flushes
    _mk_events(
        [(6, "2024-01-01 06:00:00", 8, "click"),
         (7, "2024-01-01 06:00:00", 9, "purchase")]
    ).to_parquet(data / "c3.parquet", index=False)
    run_once()

    rows = {r.purchase_id: r.click_id for r in spark.read.parquet(out).collect()}
    assert rows.get(2) == 1, rows       # matched purchase joined its click
    assert 3 in rows and rows[3] is None, rows  # unmatched purchase emitted with NULL


def test_dedup_within_watermark_bounds_state(spark, events_chunks_dir):
    """dropDuplicatesWithinWatermark must agree with unbounded-state
    dedup on the fixture (no cross-chunk duplicate is older than the
    watermark) while keeping per-key state bounded."""
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.dedup_events_within_watermark(stream), "t_dedup_wm")
    batch = load(spark, SF_SMALL, "events")
    assert got.count() == batch.select("event_id").distinct().count()


def test_stream_dynamic_gap_sessions_equal_batch_prefix(spark, events_chunks_dir):
    """The PER-EVENT-gap session operator must produce, incrementally,
    a subset of the batch answer over the same data — proving the
    dynamic interval-merge rule survives micro-batched execution and
    watermark-driven state eviction."""
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.dynamic_session_counts(stream), "t_dyn_sessions")
    want = P.dynamic_session_counts(load(spark, SF_SMALL, "events"))
    cols = ["user_id", "session_start", "session_end", "n_events"]
    assert set(_sorted_rows(got, cols)) <= set(_sorted_rows(want, cols))
    assert got.count() > 0


def test_kafka_gate_is_loud_when_connector_absent(spark):
    """VERDICT r5 #6: the Kafka hookup cannot be exercised here (no
    connector jar, no broker) — the gate must say so explicitly
    instead of failing deep inside source resolution.  If a future
    environment ships the connector, the gate flips and this test
    documents that the raise no longer applies."""
    if P.has_kafka_connector(spark):
        pytest.skip("connector present in this environment; gate inert")
    with pytest.raises(RuntimeError, match="unverified in this container"):
        P.read_kafka_stream(spark, "localhost:9092", "events")


def test_kafka_value_parsing_shapes_events(spark):
    """parse_kafka_events over Kafka-wire-shaped frames: JSON payloads
    land in the events schema; a malformed payload becomes an all-NULL
    row (poison messages must not kill the stream)."""
    import json

    def frame(i, payload):
        return (
            bytearray(f"k{i}", "utf8"),
            bytearray(payload, "utf8"),
            "events",
            0,
            i,
        )

    good = json.dumps(
        {
            "event_id": 1,
            "ts": "2024-01-01T00:00:05",
            "user_id": 7,
            "event_type": "click",
            "value": 1.5,
            "props": "{}",
        }
    )
    raw = spark.createDataFrame(
        [frame(0, good), frame(1, "{not json at all")],
        "key binary, value binary, topic string, partition int, offset long",
    )
    got = P.parse_kafka_events(raw).orderBy(F.col("event_id").asc_nulls_last()).collect()
    assert [f.name for f in P.parse_kafka_events(raw).schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    assert got[0].event_id == 1 and got[0].event_type == "click"
    assert got[0].value == 1.5 and got[0].user_id == 7
    assert all(got[1][c] is None for c in ("event_id", "user_id", "event_type", "value"))


def test_streaming_hll_registers_equal_batch_sketch(spark, events_chunks_dir):
    """Sketches ARE streaming state: the HLL register table maintained
    by the stream (max-agg, complete mode, no watermark needed) must
    equal the batch-built registers over the same events EXACTLY —
    register max commutes with any arrival order/chunking — and
    therefore so does the distinct estimate.  State is bounded at
    64 x |event types| rows by construction."""
    from processor_spark.operators.sketches import _hll_estimate_cols

    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.hll_user_registers(stream), "t_hll_regs", mode="complete")
    want = P.hll_user_registers(load(spark, SF_SMALL, "events"))
    cols = ["grp", "bucket", "r"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    aggs, est_col = _hll_estimate_cols()
    est = lambda regs: {
        r.grp: r.est
        for r in regs.groupBy("grp")
        .agg(*aggs)
        .select("grp", est_col().alias("est"))
        .collect()
    }
    assert est(got) == est(want)


def test_streaming_cms_cells_equal_batch_sketch(spark, events_chunks_dir):
    """The count-min cell table maintained by the stream (count-agg,
    complete mode, no watermark) must equal the batch-built cells over
    the same events EXACTLY — counts commute with arrival order — so
    point-frequency estimates served from the live sketch match the
    offline sketch.  State is bounded at d*w = 1024 cells."""
    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.cms_user_cells(stream), "t_cms_cells", mode="complete")
    want = P.cms_user_cells(load(spark, SF_SMALL, "events"))
    cols = ["s", "c", "cnt"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # mass conservation: every row lands in exactly one cell per seed
    n = load(spark, SF_SMALL, "events").count()
    per_seed = {r.s: r.total for r in got.groupBy("s").agg(
        F.sum("cnt").alias("total")).collect()}
    assert per_seed == {0: n, 1: n, 2: n, 3: n}

    # probe a known-active user: min over its d cells >= its exact count
    from processor_spark.operators.sketches import _CMS_W
    ev = load(spark, SF_SMALL, "events")
    uid = ev.groupBy("user_id").count().orderBy(F.desc("count"), "user_id").first()
    import hashlib
    digest = hashlib.md5(f"cms:{uid.user_id}".encode()).hexdigest()
    cells = {(j, int(digest[8 * j:8 * j + 8], 16) % _CMS_W) for j in range(4)}
    got_map = {(r.s, r.c): r.cnt for r in got.collect()}
    est = min(got_map[sc] for sc in cells)
    assert est >= uid["count"]


def test_streaming_hll_daily_merge_equal_batch(spark, events_chunks_dir):
    """r8 (VERDICT r7 #3): the DAILY HLL register table maintained by
    the stream must equal the batch build exactly, AND the register-
    wise max rollup of those daily sketches must equal a direct batch
    build at the coarse grain — mergeability proven under incremental
    execution, which is the whole 100 TB claim of the sketch tier."""
    from processor_spark.operators.sketches import _hll_estimate_cols

    stream = P.read_events_stream(spark, events_chunks_dir)
    got = _drain(spark, P.hll_daily_registers(stream), "t_hll_daily", mode="complete")
    want = P.hll_daily_registers(load(spark, SF_SMALL, "events"))
    cols = ["day", "grp", "bucket", "r"]
    assert _sorted_rows(got, cols) == _sorted_rows(want, cols)

    # rollup across days == direct build at (grp, bucket) grain
    merged = got.groupBy("grp", "bucket").agg(F.max("r").alias("r"))
    direct = P.hll_user_registers(load(spark, SF_SMALL, "events"))
    assert _sorted_rows(merged, ["grp", "bucket", "r"]) == _sorted_rows(
        direct, ["grp", "bucket", "r"]
    )

    # and therefore the rolled-up estimates agree too
    aggs, est_col = _hll_estimate_cols()
    est = lambda regs: {
        r.grp: r.est
        for r in regs.groupBy("grp")
        .agg(*aggs)
        .select("grp", est_col().alias("est"))
        .collect()
    }
    assert est(merged) == est(direct)


def test_streaming_hll_daily_registers_survive_restart(spark, tmp_path):
    """The open day's registers live in the checkpoint: run 1 ends with
    day 1 still open (watermark not yet past its end); run 2's events
    extend day 1's registers AND close the day.  The emitted day-1
    sketch must equal a batch build over BOTH runs' day-1 events —
    impossible if register state were lost at restart."""
    import pandas as pd

    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    data.mkdir()

    def run_once():
        stream = P.read_events_stream(spark, str(data))
        P.write_parquet_stream(
            P.hll_daily_registers_windowed(stream, watermark="1 hour"), out, ckpt
        )

    # run 1: three day-1 users
    _mk_events(
        [(1, "2024-01-01 02:00:00", 11, "click"),
         (2, "2024-01-01 03:00:00", 12, "click"),
         (3, "2024-01-01 04:00:00", 13, "click")]
    ).to_parquet(data / "c1.parquet", index=False)
    run_once()
    # run 2: two MORE day-1 users (late but above watermark), then a
    # day-2 05:00 event pushing the watermark past day-1 end
    _mk_events(
        [(4, "2024-01-01 20:00:00", 14, "click"),
         (5, "2024-01-01 21:00:00", 15, "click"),
         (6, "2024-01-02 05:00:00", 16, "click")]
    ).to_parquet(data / "c2.parquet", index=False)
    run_once()

    got = {
        (r.day.isoformat(), r.grp, r.bucket): r.r
        for r in spark.read.parquet(out).collect()
    }
    day1 = {k: v for k, v in got.items() if k[0] == "2024-01-01"}
    ev = (
        spark.createDataFrame(
            pd.DataFrame({"user_id": [11, 12, 13, 14, 15]})
        )
        .select(F.col("user_id").cast("long"))
        .withColumn("event_type", F.lit("click"))
        .withColumn("ts", F.lit("2024-01-01 12:00:00").cast("timestamp"))
    )
    want = {
        ("2024-01-01", r.grp, r.bucket): r.r
        for r in P.hll_daily_registers(ev).collect()
    }
    assert day1 == want, (day1, want)


def test_streaming_kmv_equal_batch(spark, events_chunks_dir):
    """Streaming KMV (bounded k-long state per group via
    applyInPandasWithState) must converge to the SAME k-th minimum
    hash as the batch rank over distinct hashes — arrival order and
    chunking never change the k smallest of a set."""
    stream = P.read_events_stream(spark, events_chunks_dir)
    got_df = _drain(spark, P.kmv_user_hashes(stream), "t_kmv", mode="update")
    # update mode emits one row per (grp, batch); keep the latest per grp
    latest = {}
    for r in got_df.collect():
        if r.grp not in latest or r.version > latest[r.grp].version:
            latest[r.grp] = r
    got = {g: (r.n_mins, r.kth_h) for g, r in latest.items()}

    ev = load(spark, SF_SMALL, "events")
    dig = F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string")).cast("binary"))
    h = F.conv(F.substring(dig, 1, 12), 16, 10).cast("long")
    hs = ev.select(F.col("event_type").alias("grp"), h.alias("h")).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    ranked = hs.withColumn("rn", F.row_number().over(w))
    from processor_spark.streaming.pipelines import KMV_STREAM_K

    n_mins = {
        r.grp: r.n
        for r in ranked.groupBy("grp")
        .agg(F.least(F.count(F.lit(1)), F.lit(KMV_STREAM_K)).alias("n"))
        .collect()
    }
    kth = {
        r.grp: r.h
        for r in ranked.where(F.col("rn") == KMV_STREAM_K).collect()
    }
    want = {g: (int(n_mins[g]), int(kth.get(g, -1))) for g in n_mins}
    assert got == want, (got, want)


def test_streaming_kmv_state_survives_restart(spark, tmp_path):
    """KMV state (the k smallest hashes) must be restored from the
    checkpoint: run 2 alone carries fewer than K distinct users, so a
    lost-state restart could never produce a k-th minimum — the final
    sketch must equal a batch build over BOTH runs' events."""
    import pandas as pd

    from processor_spark.streaming.pipelines import KMV_STREAM_K

    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    out.mkdir()
    data.mkdir()

    def sink(batch_df, batch_id):
        if batch_df.count():
            batch_df.write.mode("append").parquet(str(out / "rows"))

    def run_once():
        stream = P.read_events_stream(spark, str(data))
        P.run_foreach_batch_ckpt(P.kmv_user_hashes(stream), sink, ckpt)

    # run 1: 20 distinct users (> K) of one type
    _mk_events(
        [(i, "2024-01-01 00:00:00", 100 + i, "click") for i in range(1, 21)]
    ).to_parquet(data / "c1.parquet", index=False)
    run_once()
    # run 2: 6 users — 3 new, 3 repeats; alone they could never fill K
    _mk_events(
        [(100 + i, "2024-01-01 01:00:00", u, "click")
         for i, u in enumerate([101, 102, 103, 501, 502, 503])]
    ).to_parquet(data / "c2.parquet", index=False)
    run_once()

    rows = spark.read.parquet(str(out / "rows")).collect()
    final = max(rows, key=lambda r: r.version)
    assert final.n_mins == KMV_STREAM_K

    ev = spark.createDataFrame(
        pd.DataFrame({"user_id": [100 + i for i in range(1, 21)] + [501, 502, 503]})
    ).select(F.col("user_id").cast("long"))
    dig = F.md5(F.concat(F.lit("kmv:"), F.col("user_id").cast("string")).cast("binary"))
    h = F.conv(F.substring(dig, 1, 12), 16, 10).cast("long")
    want_kth = sorted(r.h for r in ev.select(h.alias("h")).distinct().collect())[
        KMV_STREAM_K - 1
    ]
    assert final.kth_h == want_kth, (final.kth_h, want_kth)


def test_streaming_quality_model_stats_equal_batch(spark, tmp_path):
    """r8: the learned-quality-model fit is streamable — its normal-
    equation statistics are commutative integer sums, so the streamed
    complete-mode stats row must equal the batch fit input exactly,
    and therefore the solved weights are identical.  Documents arrive
    as chunk files (the file-source analogue of continuous corpus
    ingest)."""
    from pyspark.sql import types as T

    from processor_spark.operators.quality_model import (
        _feat_from,
        _ols_stats_frame,
    )
    from processor_spark.sources import load

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    batch = load(spark, SF_SMALL, "documents")
    pdf = batch.toPandas()
    n = len(pdf)
    for i, lo in enumerate(range(0, n, max(1, n // 3 + 1))):
        pdf.iloc[lo : lo + max(1, n // 3 + 1)].to_parquet(
            docs_dir / f"chunk_{i:02d}.parquet", index=False
        )

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
        .parquet(str(docs_dir))
    )
    got = _drain(spark, P.quality_model_stats(stream), "t_qm_stats", mode="complete")
    want = _ols_stats_frame(_feat_from(batch))
    cols = sorted(got.columns)
    assert cols == sorted(want.columns)
    grow = got.select(*cols).collect()[0]
    wrow = want.select(*cols).collect()[0]
    assert [str(v) for v in grow] == [str(v) for v in wrow]


def test_streaming_kmv_tolerates_null_user_ids(spark, tmp_path):
    """r9 (ADVICE r8): a null user_id hashes to NULL, which pandas
    delivers as NaN — the sketch must drop it relationally before the
    stateful apply (the batch twin ignores nulls the same way), not
    die on int(NaN) inside applyInPandasWithState."""
    import pandas as pd

    from processor_spark.sources import load as _load

    base = tmp_path / "null_chunks"
    base.mkdir()
    ev = (
        _load(spark, SF_SMALL, "events")
        .limit(20)
        .withColumn("ts", F.unix_micros("ts"))
        .toPandas()
    )
    ev.loc[ev.index[:5], "user_id"] = pd.NA
    ev["user_id"] = ev["user_id"].astype("Int64")
    ev.to_parquet(base / "chunk_00.parquet", index=False)

    stream = P.read_events_stream(spark, str(base))
    got_df = _drain(spark, P.kmv_user_hashes(stream), "t_kmv_null", mode="update")
    latest = {}
    for r in got_df.collect():
        if r.grp not in latest or r.version > latest[r.grp].version:
            latest[r.grp] = r

    src = spark.createDataFrame(ev).withColumn("ts", F.timestamp_micros("ts"))
    dig = F.md5(
        F.concat(F.lit("kmv:"), F.col("user_id").cast("string")).cast("binary")
    )
    h = F.conv(F.substring(dig, 1, 12), 16, 10).cast("long")
    hs = (
        src.where(F.col("user_id").isNotNull())
        .select(F.col("event_type").alias("grp"), h.alias("h"))
        .distinct()
    )
    want = {
        r.grp: r.n for r in hs.groupBy("grp").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {g: r.n_mins for g, r in latest.items()}
    from processor_spark.streaming.pipelines import KMV_STREAM_K

    assert got == {g: min(n, KMV_STREAM_K) for g, n in want.items()}, (got, want)


def _docs_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )


def test_streaming_minhash_band_flags_equal_batch(spark, tmp_path):
    """r10 (VERDICT r9 missing #2): streaming MinHash near-dup — new
    docs probe the standing corpus' band buckets held as stream state.
    With id-ordered ingest the streamed flags must equal the batch
    twin exactly: the same band frame through a per-bucket window min
    (flag iff the bucket's earliest member precedes the doc)."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id")
    n = len(pdf)
    step = max(1, n // 2 + 1)
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            docs_dir / f"chunk_{i:02d}.parquet", index=False
        )
    # planted near-dups in a LATER chunk: copies of the two lowest-id
    # texts under fresh ids — guaranteed cross-batch band agreements,
    # so the test can never pass vacuously on a dup-free fixture
    planted = pdf.head(2).copy()
    planted["doc_id"] = [int(pdf["doc_id"].max()) + 1 + k for k in range(2)]
    planted.to_parquet(docs_dir / "chunk_99.parquet", index=False)

    stream = (
        spark.readStream.schema(_docs_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(str(docs_dir))
    )
    got_df = _drain(spark, P.minhash_band_flags(stream), "t_mh_bands", mode="update")
    got = {(r.doc_id, r.band_id, r.dup_of) for r in got_df.collect()}

    batch = spark.read.schema(_docs_schema()).parquet(str(docs_dir))
    bands = P._minhash_bands_frame(batch)
    w = Window.partitionBy("band_id", "band_key")
    twin = (
        bands.withColumn("mn", F.min("doc_id").over(w))
        .where(F.col("mn") < F.col("doc_id"))
        .select("doc_id", "band_id", F.col("mn").alias("dup_of"))
    )
    want = {(r.doc_id, r.band_id, r.dup_of) for r in twin.collect()}
    assert got == want
    planted_ids = set(planted["doc_id"])
    assert planted_ids <= {d for d, _, _ in got}, "planted dups must be flagged"


def test_streaming_minhash_band_state_survives_restart(spark, tmp_path):
    """The band-bucket registry must be restored from the checkpoint:
    run 2 contains ONLY copies of run-1 docs, so every flag it emits
    references a run-1 doc_id — impossible if the standing-bucket
    state was lost on restart."""
    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    data.mkdir()
    out.mkdir()

    def sink(batch_df, batch_id):
        if batch_df.count():
            batch_df.write.mode("append").parquet(str(out / "rows"))

    def run_once():
        stream = (
            spark.readStream.schema(_docs_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data))
        )
        P.run_foreach_batch_ckpt(P.minhash_band_flags(stream), sink, ckpt)

    pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id").head(20)
    pdf.to_parquet(data / "c1.parquet", index=False)
    run_once()

    copies = pdf.head(5).copy()
    base_ids = set(int(d) for d in copies["doc_id"])
    copies["doc_id"] = [int(pdf["doc_id"].max()) + 1 + k for k in range(5)]
    copies.to_parquet(data / "c2.parquet", index=False)
    run_once()

    rows = spark.read.parquet(str(out / "rows")).collect()
    new_ids = set(int(d) for d in copies["doc_id"])
    flagged_new = {r.doc_id for r in rows if r.doc_id in new_ids}
    assert flagged_new == new_ids, "every copied doc must flag against run 1"
    for r in rows:
        if r.doc_id in new_ids:
            assert r.dup_of in base_ids or r.dup_of < min(new_ids)


def test_stream_ivf_ingest_equals_batch_assignment_and_replay_safe(spark, tmp_path):
    """r10: embeddings chunks streamed into the generational IVF index
    must serve EXACTLY what a batch assignment of the full corpus
    under the same frozen centroids serves; and a full replay (wiped
    checkpoint, same chunks) must converge to the identical layout —
    the idempotent-sink half of the exactly-once contract."""
    import os

    from processor_spark.operators.similarity import (
        IVFK_NLIST,
        KNN_QUERIES,
        _assign_cells,
        _micro_arr,
    )

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    n = len(pdf)
    step = n // 3 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)

    path = str(tmp_path / "ivf_stream")
    ckpt = str(tmp_path / "ckpt")
    P.stream_ivf_ingest(spark, str(chunks), path, ckpt)

    gens = sorted(
        d for d in os.listdir(os.path.join(path, "assignments")) if d.startswith("gen=")
    )
    assert len(gens) == 3, gens

    qv = (
        load(spark, SF_SMALL, "embeddings")
        .where(F.col("vec_id") <= KNN_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _micro_arr("embedding").alias("qm"))
    )
    got = sorted(
        tuple(r) for r in P.serve_ivf_stream_index(spark, path, qv).collect()
    )
    assert len(got) > 0

    # batch twin: assign the FULL corpus against the stream-trained
    # frozen centroids into a single-generation layout, serve identically
    batch_path = str(tmp_path / "ivf_batch")
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    cents.write.parquet(os.path.join(batch_path, "centroids"))
    vecs = load(spark, SF_SMALL, "embeddings").select(
        "vec_id", _micro_arr("embedding").alias("vm")
    )
    flat = _assign_cells(vecs, cents, IVFK_NLIST, two_level=False)
    flat.write.partitionBy("cell").parquet(
        os.path.join(batch_path, "assignments", "gen=0")
    )
    want = sorted(
        tuple(r) for r in P.serve_ivf_stream_index(spark, batch_path, qv).collect()
    )
    assert got == want

    # full replay with a fresh checkpoint: idempotent sink, same layout
    import shutil

    shutil.rmtree(ckpt)
    P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / "ckpt2"))
    gens2 = sorted(
        d for d in os.listdir(os.path.join(path, "assignments")) if d.startswith("gen=")
    )
    assert gens2 == gens
    again = sorted(
        tuple(r) for r in P.serve_ivf_stream_index(spark, path, qv).collect()
    )
    assert again == got


def test_stream_ivf_ingest_first_batch_without_low_ids(spark, tmp_path):
    """ADVICE r10 (medium): centroid seeding used absolute vec_ids
    1..nlist, so a first micro-batch that happens to lack those ids
    (file listing order is not contractual) trained an EMPTY centroid
    table and every later assign silently emitted zero rows.  Seeds
    now come from the batch's own lowest vec_ids — this feeds the
    HIGHEST third of the corpus first and asserts the whole corpus is
    visible in the index afterward."""
    import os

    from processor_spark.operators.similarity import KNN_QUERIES, _micro_arr

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    n = len(pdf)
    step = n // 3 + 1
    # reverse the chunk order: chunk_00 = highest vec_ids (no 1..nlist)
    splits = [pdf.iloc[lo : lo + step] for lo in range(0, n, step)]
    for i, part in enumerate(reversed(splits)):
        part.to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)

    path = str(tmp_path / "ivf_stream")
    P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / "ckpt"))

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    from processor_spark.operators.similarity import IVFK_NLIST

    assert cents.count() == IVFK_NLIST
    assigned = spark.read.schema("vec_id bigint, vm array<bigint>, cell bigint").parquet(
        os.path.join(path, "assignments")
    )
    assert assigned.count() == n, "every ingested vector must be indexed"

    qv = (
        load(spark, SF_SMALL, "embeddings")
        .where(F.col("vec_id") <= KNN_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _micro_arr("embedding").alias("qm"))
    )
    assert len(P.serve_ivf_stream_index(spark, path, qv).collect()) > 0


def test_stream_ivf_retrain_compaction_handles_drift(spark, tmp_path):
    """VERDICT r10 missing #3: stream_ivf_ingest freezes first-batch
    centroids forever, so a drifting embedding distribution degrades
    the index with no recovery path.  compact_ivf_stream_index(
    retrain=True) must (a) fold generations to one, (b) actually move
    the centroids, and (c) converge to EXACTLY the layout a fresh
    single-batch ingest of the full corpus builds — served rows
    identical — because the retrain uses the ingest's own seeding
    rule (lowest vec_ids, cid by rank)."""
    import os

    import numpy as np

    from processor_spark.operators.similarity import KNN_QUERIES, _micro_arr

    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    half = len(pdf) // 2
    base = pdf.iloc[:half]
    drift = pdf.iloc[half:].copy()
    drift["vec_id"] = drift["vec_id"] + 10_000_000
    # distribution shift: every element moves +0.75 — batch 2 lives in
    # a region the frozen batch-1 centroids never saw
    drift["embedding"] = drift["embedding"].apply(
        lambda a: (np.asarray(a, dtype=np.float32) + np.float32(0.75))
    )

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    base.to_parquet(chunks / "chunk_00.parquet", index=False)
    drift.to_parquet(chunks / "chunk_01.parquet", index=False)
    path = str(tmp_path / "ivf_stream")
    P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / "ckpt"))
    frozen = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )

    P.compact_ivf_stream_index(spark, path, retrain=True)
    gens = sorted(
        d for d in os.listdir(os.path.join(path, "assignments")) if d.startswith("gen=")
    )
    assert gens == ["gen=1"], gens
    retrained = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    assert retrained != frozen, "retrain must move the centroids under drift"

    # rebuild twin: the FULL corpus as one chunk -> one-batch ingest
    full = tmp_path / "full"
    full.mkdir()
    import pandas as pd

    pd.concat([base, drift]).to_parquet(full / "chunk_00.parquet", index=False)
    path2 = str(tmp_path / "ivf_fresh")
    P.stream_ivf_ingest(spark, str(full), path2, str(tmp_path / "ckpt2"))

    qv = (
        load(spark, SF_SMALL, "embeddings")
        .where(F.col("vec_id") <= KNN_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _micro_arr("embedding").alias("qm"))
    )
    got = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, qv).collect())
    want = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path2, qv).collect())
    assert got == want and len(got) > 0


def test_stream_text_index_bm25_equals_full_rebuild_and_replay_safe(spark, tmp_path):
    """r10: documents streamed into the generational text index must
    answer the BM25 query EXACTLY like the one-shot full-corpus key
    (q_bm25 — the registered oracle contract), and a full replay with
    a fresh checkpoint must converge to the identical answer (the
    sealed per-generation stats make double-counting impossible)."""
    import os

    from processor_spark.operators.text import q_bm25

    chunks = tmp_path / "docs"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id")
    n = len(pdf)
    step = n // 3 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)

    path = str(tmp_path / "text_stream")
    P.stream_text_index_ingest(spark, str(chunks), path, str(tmp_path / "ckpt"))
    gens = sorted(
        g for g in os.listdir(os.path.join(path, "postings")) if g.startswith("gen=")
    )
    assert len(gens) == 3, gens

    got = sorted(tuple(r) for r in P.serve_text_stream_bm25(spark, path).collect())
    want = sorted(tuple(r) for r in q_bm25.__wrapped__(spark, SF_SMALL).collect())
    assert got == want and len(got) > 0

    # full replay, fresh checkpoint: same generations, same answer
    P.stream_text_index_ingest(spark, str(chunks), path, str(tmp_path / "ckpt2"))
    gens2 = sorted(
        g for g in os.listdir(os.path.join(path, "postings")) if g.startswith("gen=")
    )
    assert gens2 == gens
    again = sorted(tuple(r) for r in P.serve_text_stream_bm25(spark, path).collect())
    assert again == want

    # compaction folds the generations and changes NOTHING served
    P.compact_text_stream_index(spark, path)
    gens3 = sorted(
        g for g in os.listdir(os.path.join(path, "postings")) if g.startswith("gen=")
    )
    assert gens3 == ["gen=2"], gens3
    compacted = sorted(
        tuple(r) for r in P.serve_text_stream_bm25(spark, path).collect()
    )
    assert compacted == want
    # idempotent: compacting a compact index is a no-op
    P.compact_text_stream_index(spark, path)
    assert sorted(
        g for g in os.listdir(os.path.join(path, "postings")) if g.startswith("gen=")
    ) == ["gen=2"]


def test_stream_text_index_ingest_job_budget(spark, tmp_path, monkeypatch):
    """A one-file text micro-batch's Spark jobs, counted with the DAG
    scheduler's job counter: one stats aggregate (which also decides
    emptiness and the spread) plus the postings write — the batch is
    not counted a second time.  Below TEXT_INGEST_SPREAD_MIN_DOCS a
    batch costs 6 jobs; with the spread forced it costs 7 (the doc_id
    shuffle), and both write the same sealed stats and serve the same
    BM25 rows."""
    import json
    import os

    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id")
    step = len(pdf) // 3 + 1
    served, stats = {}, {}
    for spread_min, budget in ((P.TEXT_INGEST_SPREAD_MIN_DOCS, 6), (1, 7)):
        monkeypatch.setattr(P, "TEXT_INGEST_SPREAD_MIN_DOCS", spread_min)
        chunks = tmp_path / f"docs{budget}"
        chunks.mkdir()
        path = str(tmp_path / f"text{budget}")
        per_batch = []
        for i, lo in enumerate(range(0, len(pdf), step)):
            pdf.iloc[lo : lo + step].to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)
            j0 = next_job()
            P.stream_text_index_ingest(spark, str(chunks), path, str(tmp_path / f"ckpt{budget}"))
            per_batch.append(next_job() - j0)
        assert all(n <= budget for n in per_batch), (spread_min, per_batch)
        root = os.path.join(path, "postings")
        stats[budget] = [
            json.load(open(os.path.join(root, f"gen={g}", "_GEN_STATS.json")))
            for g in P._gen_ids(root)
        ]
        served[budget] = sorted(tuple(r) for r in P.serve_text_stream_bm25(spark, path).collect())
    assert len(stats[6]) == 3 and stats[6] == stats[7]
    assert served[6] and served[6] == served[7]


def test_stream_text_index_autofold_bounds_generations(
    spark, tmp_path, monkeypatch
):
    """r15 (VERDICT r14 next #6): the ingest folds the index in-stream
    once the generation count reaches TEXT_FOLD_MAX_GENS, so serve
    fan-out stays bounded across arbitrarily many ingests (the r14
    probe measured 20× cold serve degradation at 16 generations).
    With the trigger forced to 3, six one-file batches must leave at
    most 3 generations on disk — and the served BM25 must still equal
    the one-shot full-corpus key exactly (folding changes layout,
    never answers).  A fold keeps the high-water name gen=<hi>, so
    both a same-checkpoint resume and a fresh-checkpoint replay of the
    same chunk log skip every folded batch id
    (test_stream_index_fresh_checkpoint_over_folded_index)."""
    import os

    from processor_spark.operators.text import q_bm25

    chunks = tmp_path / "docs"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id")
    n = len(pdf)
    step = n // 6 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            chunks / f"chunk_{i:02d}.parquet", index=False
        )
    monkeypatch.setattr(P, "TEXT_FOLD_MAX_GENS", 3)
    path = str(tmp_path / "text_stream_fold")
    P.stream_text_index_ingest(spark, str(chunks), path, str(tmp_path / "ckptf"))
    gens = sorted(
        g for g in os.listdir(os.path.join(path, "postings")) if g.startswith("gen=")
    )
    # without the fold 6 batches leave 6 generations; the forced
    # trigger folds {0,1,2} → gen=2 at batch 3 and {2,3,4} → gen=4 at
    # batch 5, leaving {gen=4, gen=5}
    assert len(gens) <= 3, gens
    got = sorted(tuple(r) for r in P.serve_text_stream_bm25(spark, path).collect())
    want = sorted(tuple(r) for r in q_bm25.__wrapped__(spark, SF_SMALL).collect())
    assert got == want and len(got) > 0


@pytest.mark.parametrize("index", ["text", "ivf"])
def test_stream_index_fresh_checkpoint_over_folded_index(
    spark, tmp_path, monkeypatch, index
):
    """ADVICE r15 medium: a fold names its generation after the highest
    batch id it holds, and both ingest sinks skip every batch id at or
    below that high-water mark.  A fresh checkpoint (batch ids restart
    at 0) replaying the same chunk log in the same order over a folded
    index is therefore a no-op: same generations, same answers.  When a
    fold wrote gen=0, the replay of batch 0 deleted the folded
    multi-batch generation and re-wrote batch 0 alone."""
    import json
    import os

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    path = str(tmp_path / "index")
    if index == "text":
        from processor_spark.operators.text import q_bm25

        pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id")
        step = len(pdf) // 6 + 1
        parts = [pdf.iloc[lo : lo + step] for lo in range(0, len(pdf), step)]
        monkeypatch.setattr(P, "TEXT_FOLD_MAX_GENS", 3)
        root = os.path.join(path, "postings")

        def ingest(ckpt):
            P.stream_text_index_ingest(spark, str(chunks), path, str(tmp_path / ckpt))

        def served():
            return sorted(tuple(r) for r in P.serve_text_stream_bm25(spark, path).collect())
    else:
        pdf, parts = _ivf_chunk_frames(spark, 3)
        root = os.path.join(path, "assignments")
        qdf = _local_queries(spark)

        def ingest(ckpt):
            P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / ckpt))

        def served():
            return sorted(
                tuple(r) for r in P.serve_ivf_stream_index(spark, path, qdf).collect()
            )

    for i, part in enumerate(parts):
        part.to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)
    ingest("ckpt")
    if index == "ivf":
        P.compact_ivf_stream_index(spark, path)

    def gens():
        return sorted(g for g in os.listdir(root) if g.startswith("gen="))

    folded = gens()
    assert len(folded) < len(parts), folded
    before = served()
    assert len(before) > 0

    ingest("ckpt_fresh")
    assert gens() == folded
    assert served() == before
    if index == "text":
        n_docs = 0
        for g in folded:
            with open(os.path.join(root, g, "_GEN_STATS.json")) as fh:
                n_docs += json.load(fh)["n_docs"]
        assert n_docs == len(pdf)
        want = sorted(tuple(r) for r in q_bm25.__wrapped__(spark, SF_SMALL).collect())
        assert before == want


@pytest.mark.parametrize("index", ["text", "ivf"])
def test_stream_index_ingest_heals_interrupted_swap(spark, tmp_path, index):
    """A compaction that crashed between _swap_root's two renames leaves
    no live root and one complete ``.old-*`` survivor.  The next ingest
    must rename the survivor back before it reads the high-water mark:
    otherwise it starts a fresh root (the IVF index even retrains its
    centroids on the one new batch) and strands the earlier batches."""
    import json
    import os

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    path = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    if index == "text":
        from processor_spark.operators.text import q_bm25

        pdf = load(spark, SF_SMALL, "documents").toPandas().sort_values("doc_id")
        step = len(pdf) // 3 + 1
        parts = [pdf.iloc[lo : lo + step] for lo in range(0, len(pdf), step)]
        swapped = gen_root = os.path.join(path, "postings")

        def ingest(p, c):
            P.stream_text_index_ingest(spark, str(chunks), p, c)

        def served(p):
            return sorted(tuple(r) for r in P.serve_text_stream_bm25(spark, p).collect())
    else:
        pdf, parts = _ivf_chunk_frames(spark, 3)
        swapped, gen_root = path, os.path.join(path, "assignments")
        qdf = _local_queries(spark)

        def ingest(p, c):
            P.stream_ivf_ingest(spark, str(chunks), p, c)

        def served(p):
            return sorted(
                tuple(r) for r in P.serve_ivf_stream_index(spark, p, qdf).collect()
            )

    assert len(parts) == 3
    for i, part in enumerate(parts[:2]):
        part.to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)
        ingest(path, ckpt)
    os.replace(swapped, swapped + ".old-deadbeef")  # crash mid-swap
    parts[2].to_parquet(chunks / "chunk_02.parquet", index=False)
    ingest(path, ckpt)

    assert sorted(g for g in os.listdir(gen_root) if g.startswith("gen=")) == [
        "gen=0", "gen=1", "gen=2"
    ]
    parent = os.path.dirname(swapped)
    assert not [d for d in os.listdir(parent) if ".old-" in d]
    got = served(path)
    assert len(got) > 0
    if index == "text":
        n_docs = 0
        for g in ("gen=0", "gen=1", "gen=2"):
            with open(os.path.join(gen_root, g, "_GEN_STATS.json")) as fh:
                n_docs += json.load(fh)["n_docs"]
        assert n_docs == len(pdf)
        assert got == sorted(
            tuple(r) for r in q_bm25.__wrapped__(spark, SF_SMALL).collect()
        )
    else:
        n = spark.read.schema("vec_id bigint, vm array<bigint>, cell bigint").parquet(
            gen_root
        ).count()
        assert n == len(pdf)
        # the twin: the same three chunks ingested with no crash
        twin = str(tmp_path / "twin")
        ingest(twin, str(tmp_path / "ckpt_twin"))
        assert got == served(twin)


def _emb_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )


def _batch_twin(static, cents, nlist, **assign_kw):
    """Batch SemDeDup verdicts over the CATALYST assignment
    (_assign_cells) — independent of the numpy kernel the stream
    assigns with.  Below TWOLEVEL_MIN_NLIST that is the flat crossJoin
    the registered oracles encode."""
    from processor_spark.operators.similarity import (
        SEMDEDUP_EPS,
        _assign_cells,
        _micro_arr,
        _semdedup_from_assign,
    )

    svecs = static.select("vec_id", _micro_arr("embedding").alias("vm"))
    twin = _semdedup_from_assign(
        _assign_cells(svecs, cents, nlist, **assign_kw), SEMDEDUP_EPS
    )
    return {(r.vec_id, int(r.cell), r.kept, r.dup_of) for r in twin.collect()}


def _epoch_twin(spark, chunks, root):
    """_batch_twin over the whole chunk log under the current epoch's
    centroids and nlist."""
    return _batch_twin(
        spark.read.schema(_emb_schema()).parquet(str(chunks)),
        spark.read.parquet(root + "/centroids"),
        P._semdedup_epoch(root)["nlist"],
    )


class _FakeGroupState:
    """Minimal applyInPandasWithState GroupState double for driving
    _semdedup_state_fn directly (exists/get/update are all it uses)."""

    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_semdedup_state_fn_hot_cell_vectorized():
    """r15 (VERDICT r14 next #4): the vectorized _semdedup_state_fn
    must emit verdict-for-verdict what the r11-r14 sequential loop
    emitted — same dup_of (MIN lower-id in-ball neighbor over
    state ∪ earlier batch rows), same final state content — across
    two batches with a hot cell, an exact eps-boundary pair, and
    OUT-OF-ORDER arrivals (batch 2 delivers ids below existing state
    ids: the late row must keep its own verdict against lower ids
    only, and join the membership for later rows)."""
    import numpy as np
    import pandas as pd

    from processor_spark.operators.similarity import SEMDEDUP_EPS
    from processor_spark.streaming.pipelines import _semdedup_state_fn

    rng = np.random.default_rng(7)
    d = 64
    base = rng.integers(0, 4_000_000, size=(40, d))
    side = int(SEMDEDUP_EPS**0.5 // 8)  # offsets well inside the ball

    def rows(ids_vecs):
        return pd.DataFrame(
            {
                "vec_id": pd.Series([i for i, _ in ids_vecs], dtype="int64"),
                "vm": pd.Series([np.asarray(v) for _, v in ids_vecs]),
            }
        )

    # batch 1: 40 originals + 40 in-ball clones (hot cell), shuffled
    b1 = [(100 + i, base[i]) for i in range(40)]
    b1 += [(200 + i, base[i] + side) for i in range(40)]
    # threshold pinned from BOTH sides: isqrt(eps)² ≤ eps (dropped),
    # (isqrt(eps)+1)² > eps (kept)
    import math

    s = math.isqrt(SEMDEDUP_EPS)
    bnd = np.full(d, 4_000_000, dtype=np.int64)
    just_in = bnd.copy()
    just_in[0] += s  # dist² = isqrt(eps)² ≤ eps → drops
    bnd_b = np.full(d, 1_000_000, dtype=np.int64)
    just_out = bnd_b.copy()
    just_out[0] += s + 1  # dist² = (isqrt(eps)+1)² > eps → kept
    b1 += [(300, bnd), (301, just_in), (310, bnd_b), (311, just_out)]
    rng.shuffle(b1)

    # batch 2: out-of-order LOW ids (50..59) cloning originals, plus
    # fresh high ids cloning the late rows
    b2 = [(50 + i, base[i] + 2 * side) for i in range(10)]
    b2 += [(400 + i, base[i] + 2 * side) for i in range(10)]

    def reference(batches):
        mem_ids, mem, out = [], [], {}
        for batch in batches:
            for v, x in sorted((int(i), list(map(int, x))) for i, x in batch):
                xa = np.asarray(x, dtype=np.int64)
                dup = -1
                cands = [
                    (int(dist), mid)
                    for mid, mv in zip(mem_ids, mem)
                    if mid < v
                    for dist in [((np.asarray(mv) - xa) ** 2).sum()]
                    if dist <= SEMDEDUP_EPS
                ]
                if cands:
                    dup = min(mid for _, mid in cands)
                out[v] = dup
                mem_ids.append(v)
                mem.append(list(map(int, xa)))
        return out, mem_ids, mem

    st = _FakeGroupState()
    got = {}
    for batch in (b1, b2):
        (res,) = list(_semdedup_state_fn((5,), iter([rows(batch)]), st))
        got.update(dict(zip(res["vec_id"], res["dup_of"])))
        assert (res["kept"] == (res["dup_of"] == -1).astype("int64")).all()
        assert (res["cell"] == 5).all()
    want, ref_ids, ref_mem = reference((b1, b2))
    assert {int(k): int(v) for k, v in got.items()} == want
    # the threshold is INCLUSIVE and sharp: isqrt(eps)² drops,
    # (isqrt(eps)+1)² keeps
    assert want[301] == 300
    assert want[311] == -1
    # final state content identical to the sequential reference
    assert list(st.get[0]) == ref_ids
    assert list(st.get[1]) == [e for row in ref_mem for e in row]


def test_streaming_semdedup_equals_batch(spark, tmp_path):
    """r11: streaming SemDeDup — arriving embeddings probe the
    standing corpus' k-means cells held as stream state.  With
    id-ordered ingest the streamed verdicts must equal the batch
    twin (same frozen centroids, Catalyst flat assignment) EXACTLY,
    including planted cross-batch clones."""
    from processor_spark.operators.similarity import (
        IVFK_NLIST,
        _cents_np,
        _ivfk_cents,
        _micro_arr,
    )

    chunks = tmp_path / "emb_chunks"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    n = len(pdf)
    step = n // 2 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            chunks / f"chunk_{i:02d}.parquet", index=False
        )
    # planted clones of the two LOWEST-id vectors in a later chunk:
    # distance-0 cross-batch near-dups, guaranteed dropped
    planted = pdf.head(2).copy()
    planted["vec_id"] = [int(pdf["vec_id"].max()) + 1 + k for k in range(2)]
    planted.to_parquet(chunks / "chunk_99.parquet", index=False)

    static = spark.read.schema(_emb_schema()).parquet(str(chunks))
    cents = _ivfk_cents(static.select("vec_id", _micro_arr("embedding").alias("vm")))

    stream = (
        spark.readStream.schema(_emb_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunks))
    )
    got_df = _drain(
        spark,
        P.semdedup_stream_flags(stream, _cents_np(cents)),
        "t_semdedup",
        mode="update",
    )
    got = {
        (r.vec_id, int(r.cell), r.kept, r.dup_of) for r in got_df.collect()
    }

    assert got == _batch_twin(static, cents, IVFK_NLIST)
    planted_ids = {int(v) for v in planted["vec_id"]}
    origin_ids = {int(v) for v in pdf.head(2)["vec_id"]}
    dropped = {v: d for v, _, k, d in got if v in planted_ids and k == 0}
    assert set(dropped) == planted_ids, "planted clones must be dropped"
    assert set(dropped.values()) <= origin_ids | {
        v for v, *_ in got if v < max(planted_ids)
    }


def test_streaming_semdedup_state_survives_restart(spark, tmp_path):
    """The cell-membership state must be restored from the
    checkpoint: run 2 contains ONLY clones of run-1 vectors, so every
    drop it emits references a run-1 vec_id — impossible if the
    standing membership was lost on restart."""
    from processor_spark.operators.similarity import (
        _cents_np,
        _ivfk_cents,
        _micro_arr,
    )

    data = tmp_path / "inbox"
    ckpt = str(tmp_path / "ckpt")
    out = tmp_path / "out"
    data.mkdir()
    out.mkdir()

    pdf = (
        load(spark, SF_SMALL, "embeddings")
        .toPandas()
        .sort_values("vec_id")
        .head(40)
    )
    pdf.to_parquet(data / "c1.parquet", index=False)
    static = spark.read.schema(_emb_schema()).parquet(str(data))
    cents = _cents_np(
        _ivfk_cents(static.select("vec_id", _micro_arr("embedding").alias("vm")))
    )

    def sink(batch_df, batch_id):
        if batch_df.count():
            batch_df.write.mode("append").parquet(str(out / "rows"))

    def run_once():
        stream = (
            spark.readStream.schema(_emb_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data))
        )
        P.run_foreach_batch_ckpt(
            P.semdedup_stream_flags(stream, cents), sink, ckpt
        )

    run_once()

    copies = pdf.head(5).copy()
    base_ids = {int(v) for v in copies["vec_id"]}
    copies["vec_id"] = [int(pdf["vec_id"].max()) + 1 + k for k in range(5)]
    copies.to_parquet(data / "c2.parquet", index=False)
    run_once()

    rows = spark.read.parquet(str(out / "rows")).collect()
    new_ids = {int(v) for v in copies["vec_id"]}
    verdicts = {r.vec_id: (r.kept, r.dup_of) for r in rows if r.vec_id in new_ids}
    assert set(verdicts) == new_ids
    for v, (kept, dup) in verdicts.items():
        assert kept == 0 and dup in base_ids, (
            "every clone must drop against its run-1 original"
        )


def test_streaming_semdedup_retrain_recells_after_drift(spark, tmp_path):
    """r12 (VERDICT r11 missing #3): streaming SemDeDup retrain/re-cell
    compaction.  Batch 1 ingests under epoch-0 centroids; batch 2 is a
    SHIFTED distribution; retrain opens epoch 1 with centroids trained
    on the full accumulated log, and the epoch-1 replay's verdicts
    must equal a fresh-trained batch twin over the same corpus —
    i.e. the standing membership was re-celled, not frozen.  A second
    run on the same epoch with no new data must emit nothing
    (replay-idempotent within an epoch)."""
    import numpy as np

    chunks = tmp_path / "inbox"
    out = tmp_path / "out"
    root = str(tmp_path / "semstream")
    chunks.mkdir()
    out.mkdir()

    pdf = (
        load(spark, SF_SMALL, "embeddings")
        .toPandas()
        .sort_values("vec_id")
        .head(80)
    )
    a = pdf.head(40).copy()
    a.to_parquet(chunks / "c1.parquet", index=False)

    epoch0 = P.retrain_semdedup_stream(spark, str(chunks), root)
    assert epoch0 == 0
    cents0 = {
        (r.cid, tuple(r.cm))
        for r in spark.read.parquet(root + "/centroids").collect()
    }

    def sink(batch_df, batch_id):
        if batch_df.count():
            batch_df.write.mode("append").parquet(str(out / "rows"))

    P.run_semdedup_stream(spark, str(chunks), root, sink)

    # batch 2: a shifted distribution (all coordinates +0.9) — the
    # epoch-0 centroids know nothing about this region
    b = pdf.tail(40).copy()
    b["embedding"] = [
        np.asarray(e, dtype=np.float32) + np.float32(0.9) for e in b["embedding"]
    ]
    b.to_parquet(chunks / "c2.parquet", index=False)
    P.run_semdedup_stream(spark, str(chunks), root, sink)

    epoch1 = P.retrain_semdedup_stream(spark, str(chunks), root)
    assert epoch1 == 1
    cents1 = {
        (r.cid, tuple(r.cm))
        for r in spark.read.parquet(root + "/centroids").collect()
    }
    assert cents1 != cents0, "retrain must move centroids under drift"

    import shutil

    shutil.rmtree(out / "rows", ignore_errors=True)
    P.run_semdedup_stream(spark, str(chunks), root, sink)
    got = {
        (r.vec_id, int(r.cell), r.kept, r.dup_of)
        for r in spark.read.parquet(str(out / "rows")).collect()
    }

    assert got == _epoch_twin(spark, chunks, root), (
        "epoch-1 replay must equal the fresh-trained batch twin"
    )

    # same epoch, no new data: nothing re-emitted
    shutil.rmtree(out / "rows", ignore_errors=True)
    P.run_semdedup_stream(spark, str(chunks), root, sink)
    import os

    assert not (out / "rows").exists() or not [
        f for f in os.listdir(out / "rows") if f.endswith(".parquet")
    ]


def test_streaming_semdedup_twolevel_router_equals_batch(
    spark, tmp_path, monkeypatch
):
    """Past NUMPY_FLAT_MAX_NLIST the streaming SemDeDup routes through
    the shared numpy policy at rprobe=TWOLEVEL_RPROBE_PAIR: with the
    ceiling lowered below an 80-centroid table (ncoarse=8, a real
    3-probe) the streamed verdicts must equal the batch twin built on
    the CATALYST two-level router at rprobe=3."""
    from processor_spark.operators import similarity as S

    chunks = tmp_path / "emb_chunks"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    n = len(pdf)
    step = n // 2 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            chunks / f"chunk_{i:02d}.parquet", index=False
        )

    static = spark.read.schema(_emb_schema()).parquet(str(chunks))
    svecs = static.select("vec_id", S._micro_arr("embedding").alias("vm"))
    cents = spark.createDataFrame(
        [
            (1000 + i, [int(e) for e in r.vm])
            for i, r in enumerate(svecs.orderBy("vec_id").limit(80).collect())
        ],
        "cid long, cm array<bigint>",
    )
    monkeypatch.setattr(S, "NUMPY_FLAT_MAX_NLIST", 64)

    stream = (
        spark.readStream.schema(_emb_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunks))
    )
    got_df = _drain(
        spark,
        P.semdedup_stream_flags(stream, S._cents_np(cents)),
        "t_semdedup_routed",
        mode="update",
    )
    got = {(r.vec_id, int(r.cell), r.kept, r.dup_of) for r in got_df.collect()}
    want = _batch_twin(static, cents, 80, two_level=True, rprobe=3)
    assert got == want and len(got) == n
    # non-vacuous: rp3 routing differs from the exact flat cells here
    flat = _batch_twin(static, cents, 80, two_level=False)
    assert {(v, c) for v, c, *_ in want} != {(v, c) for v, c, *_ in flat}


def test_streaming_semdedup_numpy_router_equals_batch(
    spark, tmp_path, monkeypatch
):
    """The full streaming SemDeDup path on TRAINED fixture-floor
    centroids (nlist=8) with the flat ceiling lowered below nlist, so
    the numpy router (ncoarse=isqrt(8)=2, rprobe=3) assigns every
    arrival: the streamed verdicts must equal the Catalyst two-level
    batch twin, and — since rprobe covers every router group — the
    exact flat twin too."""
    from processor_spark.operators import similarity as S

    chunks = tmp_path / "emb_chunks_np"
    chunks.mkdir()
    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    n = len(pdf)
    step = n // 2 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            chunks / f"chunk_{i:02d}.parquet", index=False
        )

    static = spark.read.schema(_emb_schema()).parquet(str(chunks))
    svecs = static.select("vec_id", S._micro_arr("embedding").alias("vm"))
    cents = S._ivfk_cents(svecs, 8)
    monkeypatch.setattr(S, "NUMPY_FLAT_MAX_NLIST", 4)

    stream = (
        spark.readStream.schema(_emb_schema())
        .option("maxFilesPerTrigger", 1)
        .parquet(str(chunks))
    )
    got_df = _drain(
        spark,
        P.semdedup_stream_flags(stream, S._cents_np(cents)),
        "t_semdedup_np",
        mode="update",
    )
    got = {(r.vec_id, int(r.cell), r.kept, r.dup_of) for r in got_df.collect()}
    assert len(got) == n
    assert got == _batch_twin(static, cents, 8, two_level=True, rprobe=3)
    assert got == _batch_twin(static, cents, 8)


def test_semdedup_literal_router_skips_empty_group(spark, monkeypatch):
    """Duplicate trained centroids can tie-route a router seed's own
    group EMPTY: cid 1 and cid 2 share a vector, both are router seeds
    (ncoarse=isqrt(4)=2) and every fine centroid tie-routes to seed 1.
    The streaming assign, routed once the flat ceiling sits below
    nlist, must skip the empty group, equal the Catalyst two-level
    router cell-for-cell, and never select cell 2."""
    import numpy as np

    from processor_spark.operators import similarity as S

    static = load(spark, SF_SMALL, "embeddings")
    svecs = static.select("vec_id", S._micro_arr("embedding").alias("vm"))
    base = [[int(e) for e in r.vm] for r in svecs.orderBy("vec_id").limit(3).collect()]
    dup_rows = [(1, base[0]), (2, base[0]), (3, base[1]), (4, base[2])]
    ncoarse, rassign = S._router_groups_np(
        np.asarray([cm for _, cm in dup_rows], dtype=np.float64)
    )
    assert ncoarse == 2 and not (rassign == 1).any()  # the hazard pinned

    cents = spark.createDataFrame(dup_rows, "cid long, cm array<bigint>")
    monkeypatch.setattr(S, "NUMPY_FLAT_MAX_NLIST", 2)
    npy = {
        (r.vec_id, int(r.cell))
        for r in P.semdedup_assign_frame(static, S._cents_np(cents)).collect()
    }
    cat = {
        (r.vec_id, int(r.cell))
        for r in S._assign_cells(
            svecs, cents, 4, two_level=True, rprobe=3
        ).collect()
    }
    assert npy == cat and len(npy) == static.count()
    assert not any(c == 2 for _, c in npy)  # empty group never selected


def test_semdedup_assign_refuses_unrepresentable_cells(spark):
    """The streaming SemDeDup cell column is int32 (epoch checkpoints
    key their state by it): a centroid id of 2**31 must raise before
    any Spark job runs, and so must an empty centroid table (the flat
    kernel would emit uninitialized cells)."""
    import numpy as np

    static = load(spark, SF_SMALL, "embeddings")
    jobs = spark.sparkContext._jsc.sc().dagScheduler().nextJobId()
    C = np.zeros((2, 64))
    with pytest.raises(ValueError, match="int32"):
        P.semdedup_assign_frame(static, (np.array([1, 2**31]), C))
    with pytest.raises(ValueError, match="no centroids"):
        P.semdedup_assign_frame(static, (np.zeros(0, np.int64), C[:0]))
    assert spark.sparkContext._jsc.sc().dagScheduler().nextJobId() == jobs
    # the largest representable id still assigns
    cells = P.semdedup_assign_frame(static, (np.array([1, 2**31 - 1]), C))
    assert {int(r.cell) for r in cells.collect()} <= {1, 2**31 - 1}


def test_stream_ivf_second_retrain_sees_new_files(spark, tmp_path):
    """r13 (ADVICE r12 medium): a SECOND retrain compaction after new
    generations land must train on the FULL accumulated corpus, not on
    the prior retrain's CacheManager-cached rows — _ivfk_cents persists
    its plan, and a directory-path read of the assignments root builds
    the identical logical plan every retrain (the exact stale-cache
    failure the r12 SemDeDup drift test caught; the IVF path now
    snapshots an explicit file list too).  Proof: retrain → ingest
    drifted vectors → retrain again must serve EXACTLY like a fresh
    one-shot ingest+retrain of the full corpus."""
    import os

    import numpy as np
    import pandas as pd

    from processor_spark.operators.similarity import KNN_QUERIES, _micro_arr

    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    half = len(pdf) // 2
    base = pdf.iloc[:half]
    drift = pdf.iloc[half:].copy()
    drift["vec_id"] = drift["vec_id"] + 10_000_000
    drift["embedding"] = drift["embedding"].apply(
        lambda a: (np.asarray(a, dtype=np.float32) + np.float32(0.75))
    )

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    base.to_parquet(chunks / "chunk_00.parquet", index=False)
    path = str(tmp_path / "ivf_stream")
    ckpt = str(tmp_path / "ckpt")
    P.stream_ivf_ingest(spark, str(chunks), path, ckpt)
    # FIRST retrain: trains on base only — and persists that training
    P.compact_ivf_stream_index(spark, path, retrain=True)
    first = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )

    # drifted vectors land as a new generation, then retrain AGAIN
    drift.to_parquet(chunks / "chunk_01.parquet", index=False)
    P.stream_ivf_ingest(spark, str(chunks), path, ckpt)
    P.compact_ivf_stream_index(spark, path, retrain=True)
    second = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    assert second != first, "second retrain must see the drifted vectors"

    # fresh-built twin over the full corpus: identical serving
    full = tmp_path / "full"
    full.mkdir()
    pd.concat([base, drift]).to_parquet(full / "chunk_00.parquet", index=False)
    path2 = str(tmp_path / "ivf_fresh")
    P.stream_ivf_ingest(spark, str(full), path2, str(tmp_path / "ckpt2"))
    P.compact_ivf_stream_index(spark, path2, retrain=True)
    twin = sorted(
        tuple(r) for r in spark.read.parquet(os.path.join(path2, "centroids")).collect()
    )
    assert second == twin

    qv = (
        load(spark, SF_SMALL, "embeddings")
        .where(F.col("vec_id") <= KNN_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _micro_arr("embedding").alias("qm"))
    )
    got = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, qv).collect())
    want = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path2, qv).collect())
    assert got == want and len(got) > 0


def test_streaming_semdedup_drift_trigger(spark, tmp_path):
    """r13 (VERDICT r12 next #4): the drift statistic must stay quiet
    under same-distribution arrivals (no retrain — epoch unchanged) and
    TRIP on a shifted distribution, auto-opening a new epoch whose
    replayed verdicts equal the fresh-trained batch twin — the manual
    r12 drift test upgraded to a triggered policy."""
    import shutil

    import numpy as np

    chunks = tmp_path / "inbox"
    out = tmp_path / "out"
    root = str(tmp_path / "semstream")
    chunks.mkdir()
    out.mkdir()

    pdf = (
        load(spark, SF_SMALL, "embeddings")
        .toPandas()
        .sort_values("vec_id")
        .head(120)
    )
    pdf.head(40).to_parquet(chunks / "c1.parquet", index=False)
    assert P.retrain_semdedup_stream(spark, str(chunks), root) == 0
    assert P._semdedup_epoch(root)["train_hist"]  # baseline recorded

    def sink(batch_df, batch_id):
        if batch_df.count():
            batch_df.write.mode("append").parquet(str(out / "rows"))

    # control: arrivals from the SAME distribution — quiet trigger
    pdf.iloc[40:80].to_parquet(chunks / "c2.parquet", index=False)
    res = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert not res["retrained"], res
    assert res["epoch"] == 0
    assert res["drift_stat"] < P.SEMDEDUP_DRIFT_THRESHOLD / 2, res

    # injected drift: every coordinate +0.75 — concentrated arrivals
    b = pdf.tail(40).copy()
    b["embedding"] = [
        np.asarray(e, dtype=np.float32) + np.float32(0.75) for e in b["embedding"]
    ]
    b.to_parquet(chunks / "c3.parquet", index=False)
    res = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert res["retrained"], res
    assert res["epoch"] == 1
    assert res["drift_stat"] > P.SEMDEDUP_DRIFT_THRESHOLD, res

    # the next pass replays the whole log under the triggered epoch
    # (fresh checkpoint) and must equal the fresh-trained batch twin
    shutil.rmtree(out / "rows", ignore_errors=True)
    res2 = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert not res2["retrained"] and res2["epoch"] == 1, res2
    got = {
        (r.vec_id, int(r.cell), r.kept, r.dup_of)
        for r in spark.read.parquet(str(out / "rows")).collect()
    }
    assert got == _epoch_twin(spark, chunks, root)


# --------- r14: scale-calibrated drift gate (VERDICT r13 missing #2)


def _simulate_null_stats(nlist, m, seed0, reps):
    """Seeded multinomial draws from an UNEVEN training histogram —
    the null distribution of semdedup_drift_stat at a given (nlist, m);
    pure Python, no Spark."""
    import random

    out = []
    for rep in range(reps):
        rng = random.Random(seed0 + rep)
        weights = [rng.random() + 0.5 for _ in range(nlist)]
        train = {str(c): 0 for c in range(1, nlist + 1)}
        for _ in range(nlist * 25):  # ~TARGET_CELL rows per cell, 10-unit draws
            c = rng.choices(range(1, nlist + 1), weights=weights)[0]
            train[str(c)] += 10
        pw = [train[str(c)] + 1 for c in range(1, nlist + 1)]
        arr: dict[str, int] = {}
        for _ in range(m):
            c = rng.choices(range(1, nlist + 1), weights=pw)[0]
            arr[str(c)] = arr.get(str(c), 0) + 1
        out.append(P.semdedup_drift_stat(train, arr))
    return out


def test_drift_gate_scale_calibration():
    """r14 (VERDICT r13 missing #2): the null of semdedup_drift_stat is
    ≈(nlist−1)/m, which CROSSES the fixed 1.0 threshold when a pass
    sees ≲nlist arrivals at derived nlist=512 — a quiet catch-up pass
    would false-trigger a ~50 s retrain.  The null-normalized gate
    (max(T, FACTOR·(nlist−1)/m)) must stay above every quiet draw at
    BOTH regimes while a real shift clears it by orders of magnitude.
    Pure Python — the statistic and gate never touch Spark."""
    # fixture regime: nlist=8, m=250 — r13's measured ~0.03 null
    small = _simulate_null_stats(8, 250, seed0=42, reps=100)
    gate8 = P.semdedup_drift_gate(8, 250)
    assert gate8 == P.SEMDEDUP_DRIFT_THRESHOLD  # m ≥ FACTOR·(nlist−1): floor
    assert max(small) < gate8 / 5, max(small)

    # derived regime: nlist=512, m=512 — the hazard the verdict named:
    # the OLD fixed constant is crossed by plain sampling noise ...
    big = _simulate_null_stats(512, 512, seed0=1042, reps=60)
    assert max(big) > P.SEMDEDUP_DRIFT_THRESHOLD, max(big)
    # ... and the normalized gate clears every quiet draw
    gate512 = P.semdedup_drift_gate(512, 512)
    assert gate512 > 3.5
    assert max(big) < gate512, (max(big), gate512)

    # a real shift (all arrivals in one cell) still trips immediately
    train = {str(c): 250 for c in range(1, 513)}
    shifted = P.semdedup_drift_stat(train, {"1": 512})
    assert shifted > 50 * gate512, shifted

    # large-m passes degrade to the r13 constant (history unbroken)
    assert P.semdedup_drift_gate(512, 100_000) == P.SEMDEDUP_DRIFT_THRESHOLD
    # no arrivals can never trip
    assert P.semdedup_drift_gate(512, 0) == float("inf")


def test_drift_consecutive_shifts_each_retrain(spark, tmp_path):
    """r14 (VERDICT r13 next #3, cooldown adjudication): consecutive
    genuinely-drifting passes each retrain — correct, not thrash,
    because every retrain folds the drifted rows into the new epoch's
    baseline, so the second trip is evidence of NEW drift against the
    updated training histogram.  Pins the documented no-timer policy."""
    import numpy as np

    chunks = tmp_path / "inbox"
    root = str(tmp_path / "semstream")
    chunks.mkdir()

    pdf = (
        load(spark, SF_SMALL, "embeddings")
        .toPandas()
        .sort_values("vec_id")
        .head(120)
    )
    pdf.head(40).to_parquet(chunks / "c1.parquet", index=False)
    assert P.retrain_semdedup_stream(spark, str(chunks), root) == 0

    def sink(batch_df, batch_id):
        batch_df.count()

    # pass 1: +0.75 shift on 40 fresh rows → trip → epoch 1
    b = pdf.iloc[40:80].copy()
    b["embedding"] = [
        np.asarray(e, dtype=np.float32) + np.float32(0.75) for e in b["embedding"]
    ]
    b.to_parquet(chunks / "c2.parquet", index=False)
    res1 = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert res1["retrained"] and res1["epoch"] == 1, res1
    assert res1["drift_stat"] > res1["gate"]

    # pass 2 replays the full log under epoch 1 (fresh checkpoint) AND
    # sees a second, DIFFERENT shift — the replayed rows match the new
    # baseline (it trained on them), so the trip is driven by the new
    # shift: retrain again, epoch 2.
    c = pdf.tail(40).copy()
    c["embedding"] = [
        np.asarray(e, dtype=np.float32) - np.float32(0.9) for e in c["embedding"]
    ]
    c.to_parquet(chunks / "c3.parquet", index=False)
    res2 = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert res2["retrained"] and res2["epoch"] == 2, res2

    # quiet pass after the dust settles: full-log replay under epoch 2
    # equals its own baseline — no third retrain
    res3 = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert not res3["retrained"] and res3["epoch"] == 2, res3


def test_snapshot_skips_hidden_dirs(tmp_path):
    """ADVICE r13: the retrain snapshot walk must skip hidden/temporary
    path components (Spark's _temporary commit dirs, .stage-* swap
    debris) or an interrupted write's partial files silently enter
    training."""
    import pandas as pd

    root = tmp_path / "log"
    (root / "gen=0").mkdir(parents=True)
    (root / "_temporary" / "0").mkdir(parents=True)
    (root / ".stage-abc123").mkdir()
    pdf = pd.DataFrame({"x": [1]})
    pdf.to_parquet(root / "gen=0" / "part-0.parquet", index=False)
    pdf.to_parquet(root / "_temporary" / "0" / "part-0.parquet", index=False)
    pdf.to_parquet(root / ".stage-abc123" / "part-0.parquet", index=False)
    pdf.to_parquet(root / "gen=0" / ".part-0.parquet.crc.parquet", index=False)

    files = P._snapshot_parquet_files(str(root))
    assert files == [str(root / "gen=0" / "part-0.parquet")]


def test_batch_and_streaming_drift_decisions_agree():
    """r14 (VERDICT r13 next #6): q_embed_drift_score's batch χ²
    decision and the streaming trigger (semdedup_drift_stat against
    semdedup_drift_gate) monitor the same signal — on a planted
    clearly-quiet or clearly-shifted split over shared cells the two
    decisions must agree.  Pure Python: the batch rule is mirrored
    exactly (per-cell (b·n_a−n_b·a)²/(n_a·n_b·a) summed in micro-units,
    trip iff χ² > (k−1) or any baseline-empty cell has arrivals)."""
    import math
    import random

    def batch_decision(a, b):
        # the q_embed_drift_score rule over per-cell baseline/arrival
        # counts (cells = union; -1 sentinel == a_cnt 0 with b_cnt > 0)
        cells = sorted(set(a) | set(b))
        n_a, n_b = sum(a.values()), sum(b.values())
        chi2_micro = 0
        new_cell = False
        for c in cells:
            ac, bc = a.get(c, 0), b.get(c, 0)
            if ac == 0:
                new_cell = new_cell or bc > 0
                continue
            if n_b == 0:
                continue
            d = bc * n_a - n_b * ac
            chi2_micro += math.floor(d * d / (n_a * n_b * ac) * 1e6 + 0.5)
        k = len(cells)
        return chi2_micro > 1_000_000 * (k - 1) or new_cell

    def stream_decision(a, b):
        stat = P.semdedup_drift_stat(a, b)
        return stat > P.semdedup_drift_gate(len(a), sum(b.values()))

    rng = random.Random(14)
    for nlist in (8, 64):
        for trial in range(20):
            w = [rng.random() + 0.5 for _ in range(nlist)]
            tot = sum(w)
            a = {str(i + 1): max(1, int(250 * nlist * wi / tot)) for i, wi in enumerate(w)}
            # clearly quiet: arrivals exactly proportional to baseline
            # (scaled 1/10) — both must stay silent
            quiet = {c: max(1, v // 10) for c, v in a.items()}
            assert not batch_decision(a, quiet), (nlist, trial)
            assert not stream_decision(a, quiet), (nlist, trial)
            # clearly shifted: all arrivals in one trained cell — both
            # must trip
            target = str(rng.randrange(nlist) + 1)
            m = max(4 * nlist, sum(quiet.values()))
            shift = {target: m}
            assert batch_decision(a, shift), (nlist, trial)
            assert stream_decision(a, shift), (nlist, trial)
            # new semantic region: arrivals in a cell absent from the
            # baseline — both must trip (batch: sentinel; stream: the
            # unsmoothed-q vs tiny-p term dominates)
            nc = {str(nlist + 7): m}
            assert batch_decision(a, nc), (nlist, trial)
            assert stream_decision(a, nc), (nlist, trial)


def test_stream_ivf_assign_numpy_equals_flat(spark):
    """r14: the ingest sink assigns micro-batches via the numpy
    exact-flat argmin (a single-file batch is ONE partition — the
    crossJoin fold measured ~90 s/16k rows at nlist=512 on one core);
    it must equal the Catalyst flat argmin (_assign_cells,
    two_level=False) cell-for-cell at any nlist (exact
    integer distances, same (sq, cid) tie-break) — the fixture-floor
    nlist=8 included, which the sink now assigns through numpy too.
    Both entry points are pinned: the flat kernel and the auto policy
    (_numpy_assign_auto) the sink and the streaming SemDeDup call."""
    import numpy as np

    from processor_spark.operators.similarity import (
        _assign_cells,
        _cents_sorted,
        _micro_arr,
        _numpy_assign_auto,
        _numpy_flat_assign,
    )

    svecs = (
        load(spark, SF_SMALL, "embeddings")
        .select("vec_id", _micro_arr("embedding").alias("vm"))
        .coalesce(1)  # the streaming shape: one partition per batch
    )
    seeds = svecs.orderBy("vec_id").limit(80).collect()
    for nlist in (8, 80):
        cents_rows = [
            (1000 + i, [int(e) for e in r.vm])
            for i, r in enumerate(seeds[:nlist])
        ]
        cents = spark.createDataFrame(
            cents_rows, "cid long, cm array<bigint>"
        )
        flat = {
            (r.vec_id, int(r.cell))
            for r in _assign_cells(svecs, cents, nlist, two_level=False).collect()
        }
        pair = _cents_sorted(
            [cid for cid, _ in cents_rows],
            np.asarray([cm for _, cm in cents_rows], dtype=np.float64),
        )
        sink = {
            (r.vec_id, int(r.cell))
            for r in _numpy_flat_assign(svecs, pair).collect()
        }
        auto = {
            (r.vec_id, int(r.cell))
            for r in _numpy_assign_auto(svecs, pair).collect()
        }
        assert sink == flat and auto == flat and len(flat) > 0, nlist


def test_stream_ivf_ingest_numpy_branch_end_to_end(spark, tmp_path):
    """r14: a pre-seeded 80-centroid table (the post-retrain shape)
    must make the ingest sink's numpy assign produce generations
    identical to the Catalyst flat batch twin (_assign_cells,
    two_level=False) — including the
    one-file-per-cell-dir clustered layout."""
    import os

    from processor_spark.operators.similarity import (
        _assign_cells,
        _micro_arr,
    )

    chunks = tmp_path / "inbox"
    chunks.mkdir()
    path = str(tmp_path / "ivf")
    pdf = (
        load(spark, SF_SMALL, "embeddings")
        .select("vec_id", F.lit(0).cast("int").alias("label"), "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    n = len(pdf)
    step = n // 2 + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            chunks / f"chunk_{i:02d}.parquet", index=False
        )

    static = spark.read.schema(_emb_schema()).parquet(str(chunks))
    svecs = static.select("vec_id", _micro_arr("embedding").alias("vm"))
    cents_rows = [
        (1000 + i, [int(e) for e in r.vm])
        for i, r in enumerate(svecs.orderBy("vec_id").limit(80).collect())
    ]
    cents = spark.createDataFrame(cents_rows, "cid long, cm array<bigint>")
    os.makedirs(path)
    cents.write.parquet(os.path.join(path, "centroids"))

    P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / "ckpt"))
    gens = sorted(
        g for g in os.listdir(os.path.join(path, "assignments"))
        if g.startswith("gen=")
    )
    assert len(gens) == 2  # one per chunk file (maxFilesPerTrigger=1)
    got = {
        (r.vec_id, int(r.cell))
        for r in spark.read.parquet(
            os.path.join(path, "assignments")
        ).collect()
    }
    want = {
        (r.vec_id, int(r.cell))
        for r in _assign_cells(svecs, cents, 80, two_level=False).collect()
    }
    assert got == want
    # clustered layout: each generation holds at most one file per
    # cell dir (write_partitioned — VERDICT r13 weak #1)
    for g in gens:
        groot = os.path.join(path, "assignments", g)
        for cell_dir in os.listdir(groot):
            if cell_dir.startswith(("_", ".")):
                continue
            files = [
                f
                for f in os.listdir(os.path.join(groot, cell_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (g, cell_dir, files)


def _ivf_chunk_frames(spark, parts: int):
    """The fixture embeddings sorted by vec_id, split into ``parts``
    contiguous pandas frames (one chunk file each)."""
    pdf = load(spark, SF_SMALL, "embeddings").toPandas().sort_values("vec_id")
    step = len(pdf) // parts + 1
    return pdf, [pdf.iloc[lo : lo + step] for lo in range(0, len(pdf), step)]


def _local_queries(spark):
    """The KNN_QUERIES query batch as a LOCAL DataFrame (no scan)."""
    from processor_spark.operators.similarity import KNN_QUERIES, _micro_arr

    qv = (
        load(spark, SF_SMALL, "embeddings")
        .where(F.col("vec_id") <= KNN_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _micro_arr("embedding").alias("qm"))
    )
    qdf = spark.createDataFrame(qv.toPandas(), qv.schema)
    assert "LocalRelation" in qdf._jdf.queryExecution().logical().toString()
    return qdf


def _ivf_gens(path):
    import os

    return sorted(
        g for g in os.listdir(os.path.join(path, "assignments"))
        if g.startswith("gen=")
    )


def test_stream_ivf_ingest_and_serve_job_budget(spark, tmp_path):
    """The streaming IVF path's Spark job budget, counted with the DAG
    scheduler's job counter: after the training batch, a one-file
    micro-batch is one partition with no exchange in its plan, so it
    costs one job — write_partitioned's write, with no cell shuffle (the
    centroids are read with pyarrow and assigned in numpy — no count(),
    no schema inference, no crossJoin) — and every gen=/cell= dir still
    holds exactly one parquet file.  A serve of a local query frame is
    one narrow map: the call runs no job, the collect runs one, and the
    executed plan holds no exchange, also when more than 32 gen=/cell=
    dirs are probed."""
    import os

    import numpy as np

    from processor_spark.operators.similarity import IVF_NPROBE, KNN_K, _cents_np_path

    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    chunks = tmp_path / "chunks"
    chunks.mkdir()
    path, ckpt = str(tmp_path / "ivf"), str(tmp_path / "ckpt")
    _, parts = _ivf_chunk_frames(spark, 3)
    per_batch = []
    for i, part in enumerate(parts):
        part.to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)
        j0 = next_job()
        P.stream_ivf_ingest(spark, str(chunks), path, ckpt)
        per_batch.append(next_job() - j0)
    assert len(_ivf_gens(path)) == 3
    assert all(n <= 1 for n in per_batch[1:]), per_batch
    for g in _ivf_gens(path):
        gdir = os.path.join(path, "assignments", g)
        for cell in [c for c in os.listdir(gdir) if c.startswith("cell=")]:
            leaves = os.listdir(os.path.join(gdir, cell))
            assert len([f for f in leaves if f.endswith(".parquet")]) == 1, (g, cell)

    qdf = _local_queries(spark)
    j0 = next_job()
    served = P.serve_ivf_stream_index(spark, path, qdf)
    got = served.collect()
    assert next_job() - j0 <= 1
    assert "Exchange" not in served._jdf.queryExecution().executedPlan().toString()
    assert len(got) > 0

    # past parallelPartitionDiscovery.threshold (32 paths): the probed
    # files reach the tasks as a local frame, so no listing job appears
    rng = np.random.default_rng(5)
    cents = [(c, [int(x) for x in rng.integers(-40, 41, 4)]) for c in range(1, 9)]
    rows = [
        (g, c, 1000 * g + 10 * c + i, [int(x) for x in rng.integers(-40, 41, 4)])
        for g in range(20)
        for c in range(1, 9)
        for i in range(5)
    ]
    wide = str(tmp_path / "wide")
    _write_ivf_layout(wide, cents, rows)
    queries = [(q, [int(x) for x in rng.integers(-40, 41, 4)]) for q in range(16)]
    Q = np.asarray([qm for _, qm in queries], dtype=np.float64)
    cids, C = _cents_np_path(os.path.join(wide, "centroids"))
    assert 20 * len(np.unique(P._nearest_cells(Q, cids, C, IVF_NPROBE))) > 32
    qdf = spark.createDataFrame(queries, "q_id bigint, qm array<bigint>")
    j0 = next_job()
    served = P.serve_ivf_stream_index(spark, wide, qdf)
    got = served.collect()
    assert next_job() - j0 <= 1
    assert "Exchange" not in served._jdf.queryExecution().executedPlan().toString()
    assert len(got) == len(queries) * KNN_K


def test_stream_ivf_ingest_refuses_degenerate_first_batch(spark, tmp_path):
    """A first micro-batch with fewer vectors than IVFK_NLIST trains
    fewer centroids than the frozen table needs.  The ingest must raise
    before publishing anything: no centroids dir and no stage debris."""
    import os

    from processor_spark.operators.similarity import IVFK_NLIST

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    pdf, _ = _ivf_chunk_frames(spark, 1)
    pdf.head(5).to_parquet(chunks / "chunk_00.parquet", index=False)
    path = str(tmp_path / "ivf")
    with pytest.raises(Exception, match=f"5 centroids, expected {IVFK_NLIST}"):
        P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / "ckpt"))
    assert not os.path.isdir(os.path.join(path, "centroids"))
    left = os.listdir(path) if os.path.isdir(path) else []
    assert not [d for d in left if d.startswith(".stage")], left


def test_stream_ivf_ingest_empty_chunk_adds_no_generation(spark, tmp_path):
    """An empty chunk file is an empty micro-batch: its stage holds no
    parquet file and is discarded, so no gen= dir appears, no stage
    debris is left, the index serves as before, and the next non-empty
    batch still lands as its own generation."""
    import os

    import pyarrow as pa

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    path, ckpt = str(tmp_path / "ivf"), str(tmp_path / "ckpt")
    pdf, (first, second) = _ivf_chunk_frames(spark, 2)
    first.to_parquet(chunks / "chunk_00.parquet", index=False)
    P.stream_ivf_ingest(spark, str(chunks), path, ckpt)
    assert _ivf_gens(path) == ["gen=0"]
    qdf = _local_queries(spark)
    before = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, qdf).collect())

    pdf.iloc[:0].to_parquet(
        chunks / "chunk_01.parquet",
        index=False,
        schema=pa.Schema.from_pandas(pdf, preserve_index=False),
    )
    P.stream_ivf_ingest(spark, str(chunks), path, ckpt)
    assert _ivf_gens(path) == ["gen=0"]
    assert not [d for d in os.listdir(path) if d.startswith(".stage")]
    after = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, qdf).collect())
    assert after == before and len(after) > 0

    second.to_parquet(chunks / "chunk_02.parquet", index=False)
    P.stream_ivf_ingest(spark, str(chunks), path, ckpt)
    assert _ivf_gens(path) == ["gen=0", "gen=2"]
    n = spark.read.schema("vec_id bigint, vm array<bigint>, cell bigint").parquet(
        os.path.join(path, "assignments")
    ).count()
    assert n == len(pdf)


def _write_ivf_layout(path, cents, rows, leaf="gen={}/cell={}"):
    """A stream IVF index written with pyarrow: ``cents`` as (cid, cm)
    pairs and ``rows`` as (gen, cell, vec_id, vm), one file per
    gen=/cell= dir — the layout stream_ivf_ingest publishes.  With
    ``leaf="cell={}/label={}"`` the rows are (cell, label, vec_id, vm)
    in build_ivf_kmeans_index's one-generation layout."""
    import os
    from collections import defaultdict

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(path, "centroids"))
    pq.write_table(
        pa.table({"cid": [c for c, _ in cents], "cm": [m for _, m in cents]}),
        os.path.join(path, "centroids", "part-0.parquet"),
    )
    dirs = defaultdict(list)
    for g, c, v, m in rows:
        dirs[(g, c)].append((v, m))
    for (g, c), vs in dirs.items():
        d = os.path.join(path, "assignments", leaf.format(g, c))
        os.makedirs(d)
        pq.write_table(
            pa.table({"vec_id": [v for v, _ in vs], "vm": [m for _, m in vs]}),
            os.path.join(d, "part-0.parquet"),
        )


def _catalyst_serve(spark, path, query_df):
    """The pre-numpy serve, kept as the reference: the frozen centroids
    read by Spark, probed with a broadcast crossJoin + (sq, cid)
    row_number window, then a candidate join over every generation,
    the interpreted integer distance per pair and a (sq, vec_id)
    row_number top-k."""
    import os

    from processor_spark.operators.similarity import IVF_NPROBE, KNN_K, _int_sqdist

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    wp = Window.partitionBy("q_id").orderBy("sq", "cid")
    probes = (
        query_df.crossJoin(F.broadcast(cents))
        .select("q_id", "qm", "cid", _int_sqdist(F.col("qm"), F.col("cm")).alias("sq"))
        .withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= IVF_NPROBE)
        .select("q_id", "qm", F.col("cid").alias("cell"))
    )
    cells = sorted({r.cell for r in probes.select("cell").distinct().collect()})
    assign = spark.read.schema("vec_id bigint, vm array<bigint>, cell bigint").parquet(
        os.path.join(path, "assignments")
    ).where(F.col("cell").isin(cells))
    wr = Window.partitionBy("q_id").orderBy("sq", "vec_id")
    return (
        assign.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _int_sqdist(F.col("qm"), F.col("vm")).alias("sq"))
        .withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= KNN_K)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("sq").cast("long").alias("sq_micro2"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


# build_ivf_kmeans_index's (cell, label) layout for the serve tests:
# queries at the origin probe cells 1 and 2 at IVF_NPROBE, and nine
# vectors tie at sq = 9 over four label files, so the KNN_K cut falls
# inside a tie split across label=0 and label=1 (unfiltered) and across
# cell=1/label=1 and cell=2/label=1 (label 1 filtered)
_LABEL_CENTS = [(1, [0, 0, 0, 0]), (2, [0, 0, 0, 8]), (3, [50, 50, 50, 50])]
_LABEL_ROWS = [  # (cell, label, vec_id, vm)
    (1, 0, 999, [1, 0, 0, 0]),
    (1, 0, 102, [0, 3, 0, 0]),
    (1, 0, 104, [3, 0, 0, 0]),
    (1, 1, 101, [-3, 0, 0, 0]),
    (1, 1, 103, [0, -3, 0, 0]),
    (1, 1, 105, [0, 0, 3, 0]),
    (2, 0, 108, [0, 0, 0, 4]),
    (2, 1, 106, [0, 0, 0, 3]),
    (2, 1, 107, [0, 0, -3, 0]),
    (2, 1, 109, [0, 3, 0, 0]),
    (2, 1, 110, [0, 0, 0, -3]),
    (3, 0, 500, [50, 50, 50, 50]),
    (3, 1, 501, [49, 50, 50, 50]),
]
_LABEL_Q1 = [(1, 999, 1, 1), (1, 101, 9, 2), (1, 102, 9, 3), (1, 103, 9, 4), (1, 104, 9, 5)]
_LABEL_Q1_FILTERED = [(1, 0, 999, 1, 1), (1, 0, 102, 9, 2), (1, 0, 104, 9, 3), (1, 0, 108, 16, 4)]


def test_serve_ivf_probe_equals_catalyst_probe(spark, tmp_path):
    """The driver-side numpy probe must pick exactly the cells of the
    Catalyst crossJoin + row_number((sq, cid)) probe it replaced:
    planted equal-distance and duplicate centroids stored out of cid
    order (ties resolve by cid), a table with fewer centroids than
    IVF_NPROBE (every query probes all of them), an empty query batch
    (an empty frame with the serve's usual schema), a
    multi-generation index served against the reference over every
    generation, and the one-generation (cell, label) layout, unfiltered
    and filtered by each query's label."""
    import os

    import numpy as np

    from processor_spark.operators.similarity import (
        IVF_NPROBE,
        _cents_np_path,
        _int_sqdist,
    )

    planted = [  # (cid, cm): 7/3/5 equidistant from the origin, 9 == 7
        (7, [10, 0, 0, 0]),
        (3, [0, 10, 0, 0]),
        (5, [-10, 0, 0, 0]),
        (9, [10, 0, 0, 0]),
        (2, [0, 0, 20, 0]),
    ]
    queries = [
        (1, [0, 0, 0, 0]),
        (2, [10, 0, 0, 0]),
        (3, [5, 5, 0, 0]),
        (4, [0, 0, 10, 0]),
        (5, [-5, 5, 0, 0]),
    ]
    rng = np.random.default_rng(3)
    vec_rows = [
        (100 + i, [int(x) for x in rng.integers(-12, 13, 4)], cid)
        for i, cid in enumerate([c for c, _ in planted] * 6)
    ]
    qdf = spark.createDataFrame(queries, "q_id bigint, qm array<bigint>")
    for name, cents_rows in (("planted", planted), ("one_cell", planted[2:3])):
        path = str(tmp_path / name)
        spark.createDataFrame(cents_rows, "cid bigint, cm array<bigint>").write.parquet(
            os.path.join(path, "centroids")
        )
        keep = {c for c, _ in cents_rows}
        spark.createDataFrame(
            [r for r in vec_rows if r[2] in keep],
            "vec_id bigint, vm array<bigint>, cell bigint",
        ).write.partitionBy("cell").parquet(os.path.join(path, "assignments", "gen=0"))

        cids, C = _cents_np_path(os.path.join(path, "centroids"))
        Q = np.asarray([qm for _, qm in queries], dtype=np.float64)
        near = P._nearest_cells(Q, cids, C, IVF_NPROBE)
        assert near.shape == (len(queries), min(IVF_NPROBE, len(cents_rows)))
        got_probe = {
            (q_id, rank + 1, int(c))
            for (q_id, _), row in zip(queries, near)
            for rank, c in enumerate(row)
        }
        wp = Window.partitionBy("q_id").orderBy("sq", "cid")
        want_probe = {
            (r.q_id, r.rn, r.cid)
            for r in qdf.crossJoin(spark.read.parquet(os.path.join(path, "centroids")))
            .select("q_id", "cid", _int_sqdist(F.col("qm"), F.col("cm")).alias("sq"))
            .withColumn("rn", F.row_number().over(wp))
            .where(F.col("rn") <= IVF_NPROBE)
            .collect()
        }
        assert got_probe == want_probe, name

        served = P.serve_ivf_stream_index(spark, path, qdf)
        ref = _catalyst_serve(spark, path, qdf)
        got = sorted(tuple(r) for r in served.collect())
        assert got == sorted(tuple(r) for r in ref.collect()) and got, name

        empty = P.serve_ivf_stream_index(spark, path, qdf.limit(0))
        assert empty.collect() == []
        assert empty.schema == served.schema
        assert [(f.name, f.dataType) for f in empty.schema] == [
            (f.name, f.dataType) for f in ref.schema
        ]

    # three generations, every probed cell file holding more than KNN_K
    # candidates, a query (101) whose own vec_id sits in a probed cell,
    # and sq = 9 ties at the KNN_K cut with ids interleaved over the
    # generations: the lower vec_id wins wherever it landed
    axes = [[3, 0, 0, 0], [0, 3, 0, 0], [-3, 0, 0, 0], [0, -3, 0, 0], [0, 0, 3, 0], [0, 0, -3, 0]]
    rows = [(2, 2, 999, [1, 0, 0, 0])]  # the one vector nearer than the ties
    for g in range(3):
        for i in range(7):
            rows.append((g, 1, 101 + 3 * i + g, axes[(i + g) % 6]))
            for c in (2, 3):
                far = [int(x) for x in rng.integers(10, 31, 4)]
                rows.append((g, c, 300 * c + 10 * g + i, far))
    path = str(tmp_path / "multi_gen")
    _write_ivf_layout(path, [(1, [0, 0, 0, 0]), (2, [0, 0, 0, 8]), (3, [50, 50, 50, 50])], rows)
    mq_rows = (
        [(1, [0, 0, 0, 0]), (800, [45, 50, 55, 50])]
        + [(700 + i, [int(x) for x in rng.integers(-12, 31, 4)]) for i in range(6)]
        + [(101, [0, 0, 0, 0])]
    )
    mq = spark.createDataFrame(mq_rows, "q_id bigint, qm array<bigint>")
    sc = spark.sparkContext
    j0 = sc._jsc.sc().dagScheduler().nextJobId()
    got = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, mq).collect())
    tasks = [
        sc.statusTracker().getStageInfo(st).numTasks
        for j in range(j0, sc._jsc.sc().dagScheduler().nextJobId())
        for st in sc.statusTracker().getJobInfo(j).stageIds
    ]
    assert max(tasks) >= min(2, sc.defaultParallelism), tasks
    assert got == sorted(tuple(r) for r in _catalyst_serve(spark, path, mq).collect())
    assert [r for r in got if r[0] in (1, 101)] == sorted([
        (1, 999, 1, 1), (1, 101, 9, 2), (1, 102, 9, 3), (1, 103, 9, 4), (1, 104, 9, 5),
        (101, 999, 1, 1), (101, 102, 9, 2), (101, 103, 9, 3), (101, 104, 9, 4), (101, 105, 9, 5),
    ])
    assert {r[0] for r in got} == {1, 101, 800, *range(700, 706)}

    # the same queries in a two-partition frame, 1 and 101 in different
    # partitions: both probe cell 1, so every cell=1 file is read by two
    # tasks, each of which ranks its own queries alone
    mq2 = spark.createDataFrame(sc.parallelize(mq_rows, 2), "q_id bigint, qm array<bigint>")
    part = {
        r.q_id: r.p for r in mq2.select("q_id", F.spark_partition_id().alias("p")).collect()
    }
    assert part[1] != part[101] and len(set(part.values())) == 2, part
    j0 = sc._jsc.sc().dagScheduler().nextJobId()
    got2 = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, mq2).collect())
    jobs = range(j0, sc._jsc.sc().dagScheduler().nextJobId())
    assert [
        sc.statusTracker().getStageInfo(st).numTasks
        for j in jobs
        for st in sc.statusTracker().getJobInfo(j).stageIds
    ] == [2]
    assert got2 == got == sorted(tuple(r) for r in _catalyst_serve(spark, path, mq2).collect())

    # the (cell, label) layout: the unfiltered serve reads every label
    # dir of a probed cell, a q_label column narrows each query to its
    # own label's dirs and is carried out as label
    from processor_spark.operators.similarity import serve_ivf_index

    path = str(tmp_path / "cell_label")
    _write_ivf_layout(path, _LABEL_CENTS, _LABEL_ROWS, leaf="cell={}/label={}")
    lq = spark.createDataFrame(
        [(1, 0, [0, 0, 0, 0]), (101, 1, [0, 0, 0, 0])], "q_id bigint, q_label int, qm array<bigint>"
    )
    uq = lq.drop("q_label")
    got = sorted(tuple(r) for r in P.serve_ivf_stream_index(spark, path, uq).collect())
    assert got == sorted(tuple(r) for r in _catalyst_serve(spark, path, uq).collect())
    assert got == sorted(_LABEL_Q1 + [
        (101, 999, 1, 1), (101, 102, 9, 2), (101, 103, 9, 3), (101, 104, 9, 4), (101, 105, 9, 5),
    ])
    filtered = serve_ivf_index(path, lq, IVF_NPROBE)
    assert filtered.columns == ["q_id", "label", "neighbor_id", "sq_micro2", "rank"]
    assert sorted(tuple(r) for r in filtered.collect()) == sorted(_LABEL_Q1_FILTERED + [
        (101, 1, 103, 9, 1), (101, 1, 105, 9, 2), (101, 1, 106, 9, 3),
        (101, 1, 107, 9, 4), (101, 1, 109, 9, 5),
    ])


def test_serve_ivf_index_lists_only_probed_leaves(spark, tmp_path):
    """The serve lists only the leaves its queries probe: on the
    (cell, label) layout an unfiltered batch reads every label dir of
    its probed cells and nothing of the unprobed one, and a filtered
    batch reads only cell=<probed>/label=<its label>.  Every leaf that
    must stay unread gets a file that is not parquet, so listing it
    fails the serve."""
    import os

    from processor_spark.operators.similarity import IVF_NPROBE, serve_ivf_index

    path = str(tmp_path / "cell_label")
    _write_ivf_layout(path, _LABEL_CENTS, _LABEL_ROWS, leaf="cell={}/label={}")

    def poison(*leaves):
        for c, label in leaves:
            leaf = os.path.join(path, "assignments", f"cell={c}", f"label={label}")
            with open(os.path.join(leaf, "part-bad.parquet"), "wb") as fh:
                fh.write(b"not parquet")

    qdf = spark.createDataFrame(
        [(1, 0, [0, 0, 0, 0])], "q_id bigint, q_label int, qm array<bigint>"
    )
    poison((3, 0), (3, 1))
    unfiltered = serve_ivf_index(path, qdf.drop("q_label"), IVF_NPROBE)
    assert sorted(tuple(r) for r in unfiltered.collect()) == sorted(_LABEL_Q1)
    poison((1, 1), (2, 1))
    filtered = serve_ivf_index(path, qdf, IVF_NPROBE)
    assert sorted(tuple(r) for r in filtered.collect()) == sorted(_LABEL_Q1_FILTERED)
    with pytest.raises(Exception, match="magic bytes"):
        unfiltered.collect()  # a listed poison file is read, and fails


def test_serve_ivf_stream_index_without_probed_files(spark, tmp_path):
    """An index whose first batch crashed between the centroid publish
    and its _publish_gen holds centroids but no gen= dir, and probed
    cells can be absent from every generation.  Both serve an empty
    frame with the serve's schema instead of failing.  A generation of
    the call-time snapshot that is gone by the time the tasks run (a
    compaction folded it) fails the serve loudly."""
    import os
    import shutil

    cents = [(1, [0, 0, 0, 0]), (2, [0, 0, 0, 8]), (3, [50, 50, 50, 50])]
    qdf = spark.createDataFrame([(1, [0, 0, 0, 0])], "q_id bigint, qm array<bigint>")
    full = str(tmp_path / "full")
    _write_ivf_layout(full, cents, [(0, 1, 7, [1, 0, 0, 0]), (1, 3, 8, [50, 0, 0, 0])])
    served = P.serve_ivf_stream_index(spark, full, qdf)
    assert [tuple(r) for r in served.collect()] == [(1, 7, 1, 1)]
    shutil.rmtree(os.path.join(full, "assignments", "gen=1"))
    with pytest.raises(Exception, match="gen=1 vanished mid-serve"):
        served.collect()
    served = P.serve_ivf_stream_index(spark, full, qdf)
    assert [tuple(r) for r in served.collect()] == [(1, 7, 1, 1)]
    for name, rows in (("no_gen", []), ("unprobed", [(0, 3, 7, [50, 0, 0, 0]), (4, 3, 8, [0, 50, 0, 0])])):
        path = str(tmp_path / name)
        _write_ivf_layout(path, cents, rows)
        out = P.serve_ivf_stream_index(spark, path, qdf)
        assert out.collect() == [] and out.schema == served.schema, name


def test_serve_ivf_stream_index_on_a_query_stream(spark, tmp_path):
    """The serve is a stateless map, so it runs as is on a streaming
    query frame: query files read with readStream, one file per
    micro-batch, drained with run_foreach_batch, serve the rows the
    batch serve of the same queries over the same index serves."""
    from processor_spark.operators.similarity import KNN_K, KNN_QUERIES, _micro_arr

    chunks = tmp_path / "chunks"
    chunks.mkdir()
    path = str(tmp_path / "ivf")
    pdf, parts = _ivf_chunk_frames(spark, 2)
    for i, chunk in enumerate(parts):
        chunk.to_parquet(chunks / f"chunk_{i:02d}.parquet", index=False)
    P.stream_ivf_ingest(spark, str(chunks), path, str(tmp_path / "ckpt"))

    qdir = tmp_path / "queries"
    qdir.mkdir()
    q = pdf[pdf["vec_id"] <= KNN_QUERIES].rename(columns={"vec_id": "q_id"})
    q = q[["q_id", "embedding"]]
    q.iloc[: len(q) // 2].to_parquet(qdir / "q_00.parquet", index=False)
    q.iloc[len(q) // 2 :].to_parquet(qdir / "q_01.parquet", index=False)
    schema = "q_id bigint, embedding array<float>"

    def queries(reader):
        return reader.schema(schema).parquet(str(qdir)).select(
            "q_id", _micro_arr("embedding").alias("qm")
        )

    batches = []
    P.run_foreach_batch(
        P.serve_ivf_stream_index(
            spark, path, queries(spark.readStream.option("maxFilesPerTrigger", 1))
        ),
        lambda df, _: batches.append([tuple(r) for r in df.collect()]),
    )
    assert len(batches) == 2
    got = sorted(r for b in batches for r in b)
    want = sorted(
        tuple(r) for r in P.serve_ivf_stream_index(spark, path, queries(spark.read)).collect()
    )
    assert got == want and len(got) == len(q) * KNN_K


def test_serve_ivf_stream_index_outside_the_checkout(tmp_path):
    """The serve's task imports processor_spark inside the Python
    worker.  A driver started from a directory outside the checkout,
    with the package put on its own sys.path and no PYTHONPATH, must
    still serve: build_session puts the package's parent dir on the
    workers' path."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "ivf")
    _write_ivf_layout(
        path, [(1, [0, 0, 0, 0]), (2, [50, 50, 50, 50])], [(0, 1, 7, [1, 0, 0, 0])]
    )
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from processor_spark.session import build_session
from processor_spark.streaming.pipelines import serve_ivf_stream_index
spark = build_session()
qdf = spark.createDataFrame([(1, [0, 0, 0, 0])], "q_id bigint, qm array<bigint>")
print([tuple(r) for r in serve_ivf_stream_index(spark, {path!r}, qdf).collect()])
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[(1, 7, 1, 1)]"


def test_availablenow_timeout_raises_and_resumes(spark, tmp_path):
    """r14: an availableNow drain still active at timeout_s must RAISE
    (the old silent stop returned as-if-complete with unprocessed
    files — the file-spray probe lost 3 of 4 post-retrain chunks to
    it), and a re-call with the same checkpoint must resume and
    complete the drain."""
    import time as _t

    import pandas as pd

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i in range(3):
        pd.DataFrame({"v": [i]}).to_parquet(inbox / f"f{i}.parquet", index=False)
    stream = (
        spark.readStream.schema("v bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(inbox))
    )
    seen: list[int] = []

    def slow_sink(batch_df, batch_id):
        seen.extend(r.v for r in batch_df.collect())
        _t.sleep(4)

    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(TimeoutError, match="INCOMPLETE"):
        P.run_foreach_batch_ckpt(stream, slow_sink, ckpt, timeout_s=5)
    assert 0 < len(seen) < 3  # truncated — and the caller HEARD it

    def fast_sink(batch_df, batch_id):
        seen.extend(r.v for r in batch_df.collect())

    P.run_foreach_batch_ckpt(stream, fast_sink, ckpt, timeout_s=60)
    assert sorted(set(seen)) == [0, 1, 2]  # resume completed the drain


def test_minhash_band_flags_spread_equality(spark, tmp_path):
    """r14: spread=True (the production-batch knob for the md5-dense
    band projection's single-partition hazard) must emit the identical
    flag set — the state fn sorts each bucket's batch rows, so
    upstream partitioning is invisible to verdicts."""
    data = tmp_path / "inbox"
    data.mkdir()
    pdf = (
        load(spark, SF_SMALL, "documents")
        .toPandas()
        .sort_values("doc_id")
        .head(40)
    )
    copies = pdf.head(8).copy()
    copies["doc_id"] = [int(pdf["doc_id"].max()) + 1 + k for k in range(8)]
    import pandas as pd

    pd.concat([pdf, copies]).to_parquet(data / "c1.parquet", index=False)

    def flags(spread):
        stream = (
            spark.readStream.schema(_docs_schema())
            .option("maxFilesPerTrigger", 1)
            .parquet(str(data))
        )
        got = _drain(
            spark,
            P.minhash_band_flags(stream, spread=spread),
            f"t_mh_spread_{int(spread)}",
            mode="update",
        )
        return {(r.doc_id, r.band_id, r.dup_of) for r in got.collect()}

    a, b = flags(False), flags(True)
    assert a == b and len(a) > 0


def test_monitored_replay_after_retrain(spark, tmp_path):
    """r14: replay_after_retrain=True must hand the caller the FULL
    log's re-celled verdicts within the tripping pass (equal to the
    fresh-trained batch twin), and the next monitored pass must see
    nothing new and stay quiet."""
    import numpy as np

    chunks = tmp_path / "inbox"
    out = tmp_path / "out"
    root = str(tmp_path / "semstream")
    chunks.mkdir()
    out.mkdir()

    pdf = (
        load(spark, SF_SMALL, "embeddings")
        .toPandas()
        .sort_values("vec_id")
        .head(80)
    )
    pdf.head(40).to_parquet(chunks / "c1.parquet", index=False)
    assert P.retrain_semdedup_stream(spark, str(chunks), root) == 0

    def sink(batch_df, batch_id):
        if batch_df.count():
            batch_df.write.mode("append").parquet(str(out / "rows"))

    b = pdf.tail(40).copy()
    b["embedding"] = [
        np.asarray(e, dtype=np.float32) + np.float32(0.75) for e in b["embedding"]
    ]
    b.to_parquet(chunks / "c2.parquet", index=False)
    res = P.run_semdedup_stream_monitored(
        spark, str(chunks), root, sink, replay_after_retrain=True
    )
    assert res["retrained"] and res["replayed"] and res["epoch"] == 1, res

    # the replay's emitted rows (the tail of out/) must equal the
    # fresh-trained batch twin over the full log — without another pass
    want = _epoch_twin(spark, chunks, root)
    got_all = spark.read.parquet(str(out / "rows"))
    # out/ holds pre-trip epoch-0 verdicts AND the epoch-1 replay; the
    # replay re-emitted every vec_id, so filtering to rows matching the
    # twin's cells isolates it — simpler: the twin must be a SUBSET of
    # emitted rows, and every vec_id must have a twin-matching row
    got = {(r.vec_id, int(r.cell), r.kept, r.dup_of) for r in got_all.collect()}
    assert want <= got
    res2 = P.run_semdedup_stream_monitored(spark, str(chunks), root, sink)
    assert not res2["retrained"] and res2["epoch"] == 1, res2
