"""Operators must be correct under a CALLER-provided SparkSession.

The driver runs registered queries with its own session — round 1
proved the hazard: every events-based operator threw
PARQUET_TYPE_ILLEGAL because nanosAsLong was only set in
build_session().  The loader now pins the two correctness-critical
runtime confs itself (nanosAsLong, session timezone); this test runs
timestamp-sensitive queries under a deliberately hostile session
configuration (America/New_York, confs unset) and checks oracle
parity still holds.
"""

from __future__ import annotations

import pytest

from processor_spark import registry
from processor_spark.sources import load
from tests.conftest import SF_SMALL
from tests.oracle_utils import compare, run_oracle

# the keys most exposed to session-timezone semantics: event-time
# windows, epoch arithmetic, date truncation on the events table
HOSTILE_KEYS = [
    "q_tumbling_window",
    "q_sliding_window",
    "q_sessionization",
    "q_anomaly_zscore",
    "q_cohort_retention",
    "q_cumulative_distinct",
    "q_resample_ohlc",
    "q_join_asof",
    # round-3 keys with session-state surface beyond confs: catalog
    # tables (bucketed join), pandas-UDF registration, window ranking
    # over hashes — proven insensitive to a hostile driver session
    "q_bucketed_join",
    "q_corpus_mixture",
    "q_udaf_trimmed",
    "q_dedup_substring",
    "q_pattern_negation",
    # round-4 keys whose date truncation/diff runs on the timestamp
    # column under whatever timezone the caller's session carries
    "q_zorder_layout",
    "q_compaction_plan",
    "q_sliding_distinct",
    # round-7 keys with /tmp persisted state built under one session
    # and served under another, plus timestamp zone-map probes (stats
    # are collected-datetime strings — session timezone must not skew
    # the write-side stats vs the probe-side bounds; load() pins UTC)
    "q_lake_skipping",
    "q_lake_pointlookup",
    "q_bm25_serve",
    # session-2 keys: persisted merge table served under a foreign
    # session; epoch arithmetic (unix_micros) on the events timestamp
    "q_bpe_serve",
    "q_lttb_downsample",
    # session-3 keys whose epoch/day/hour bucketing runs on the events
    # timestamp under the caller's timezone
    "q_holt_forecast",
    "q_join_asof_nearest",
    "q_seasonal_anomaly",
    "q_user_growth",
    "q_trending_topk",
    "q_decay_popularity",
    "q_churn_rate",
    "q_dow_profile",
    # r8 keys with /tmp persisted state served under a foreign session
    # (fitted weights, positional postings) plus the marker-cached CDC
    # lake tables written by one session and read by another
    "q_quality_model_serve",
    "q_phrase_search_serve",
    "q_time_travel",
    "q_change_feed",
]


@pytest.fixture()
def hostile_spark(spark):
    """The shared session, reconfigured the way a worst-case driver
    might have it: non-UTC timezone, loader-managed confs cleared."""
    saved_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    except Exception:
        pass
    yield spark
    spark.conf.set("spark.sql.session.timeZone", saved_tz)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


@pytest.mark.parametrize("key", HOSTILE_KEYS)
def test_parity_under_hostile_session(hostile_spark, key):
    q = registry.get(key)
    res = compare(q.fn(hostile_spark, SF_SMALL), run_oracle(q.sql, SF_SMALL))
    assert res["rows_match"], f"{key}: rows {res['rows_spark']} != {res['rows_oracle']}"
    assert res["values_match"], f"{key}: value mismatch {res.get('first_diffs')}"


@pytest.mark.parametrize("split, one_partition", [("16k", False), ("128m", True)])
@pytest.mark.parametrize("key", ["q_pricing_summary", "q_window_rank", "q_corpus_mixture"])
def test_one_split_gate_follows_the_caller_session(hostile_spark, split, one_partition, key):
    """``load`` plans a one-split table as one partition, and the split
    count it reads is the CALLER's: under 16 KiB splits sf0.001
    lineitem is several splits and keeps them, though
    ``build_session`` would read it as one.  Parity holds either way."""
    conf = "spark.sql.files.maxPartitionBytes"
    saved = hostile_spark.conf.get(conf)
    hostile_spark.conf.set(conf, split)
    try:
        plan = load(hostile_spark, SF_SMALL, "lineitem")._jdf.queryExecution().executedPlan()
        assert ("Coalesce 1" in plan.toString()) == one_partition, plan.toString()
        q = registry.get(key)
        res = compare(q.fn(hostile_spark, SF_SMALL), run_oracle(q.sql, SF_SMALL))
    finally:
        hostile_spark.conf.set(conf, saved)
    assert res["rows_match"] and res["values_match"], (key, res)
