"""Grand totals computed inside the plan that holds the groups.

q_corpus_mixture, q_chi2_drift, q_embed_drift and q_benford take their
grand total as an unpartitioned window over the grouped frame instead
of a second aggregate broadcast back with a crossJoin.  These tests
pin the edge cases of that rewrite against the DuckDB oracle on small
hand-built tables, and the Spark job count of every key the
`collections` benchmark workload runs plus the three siblings,
q_simhash_md5 and keys whose plans lost their exchanges to the
one-split load, so a structural regression fails here without a
benchmark run.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pytest

from processor_spark import registry
from processor_spark.api import Engine
from tests.conftest import SF_SMALL
from tests.oracle_utils import compare, run_oracle

registry.load_all_modules()

SF = os.path.join(os.path.dirname(SF_SMALL), "sf0.01")


def _oracle_equal(spark, key: str, sf_dir: str) -> pd.DataFrame:
    q = registry.get(key)
    sdf = q.fn(spark, sf_dir)
    res = compare(sdf, run_oracle(q.sql, sf_dir))
    assert res["rows_match"] and res["cols_match"] and res["values_match"], (key, res)
    return sdf.toPandas()


def _sf_with(tmp_path, table: str, pdf: pd.DataFrame) -> str:
    """A copy of the sf0.001 fixture dir with ``table`` replaced."""
    d = tmp_path / "sf"
    shutil.copytree(SF_SMALL, d)
    pdf.to_parquet(d / f"{table}.parquet", index=False)
    return str(d)


def _documents(sources: list) -> pd.DataFrame:
    n = len(sources)
    return pd.DataFrame(
        {
            "doc_id": pd.Series(range(1, n + 1), dtype="int64"),
            "text": ["doc"] * n,
            "lang": ["en"] * n,
            "source": pd.Series(sources, dtype="object"),
            "n_chars": pd.Series([3] * n, dtype="int64"),
        }
    )


def test_chi2_drift_empty_b_period_guard(spark, tmp_path):
    """With every event before the period split, period B is empty
    (n_b = 0): the χ² division would be 0/0, an ANSI DIVIDE_BY_ZERO on
    Spark.  Both engines must emit the exact limit 0 per type and
    still hash-match each other."""
    events = pd.read_parquet(f"{SF}/events.parquet")
    events = events[events["ts"] < pd.Timestamp("2024-01-16")]
    assert len(events) > 0
    pdf = _oracle_equal(spark, "q_chi2_drift", _sf_with(tmp_path, "events", events))
    assert (pdf["b_cnt"] == 0).all()
    assert set(pdf["contrib_micro"]) == {0}


@pytest.mark.parametrize(
    "sources, emitted",
    [
        # 7 NULL-source docs weigh in the total but are never emitted:
        # "b" gets 500·√900/(√7+√40+√900) = 384 (412 without them)
        pytest.param(
            [None] * 7 + ["a"] * 40 + ["b"] * 900, {"a": 40, "b": 384}, id="null-source"
        ),
        # one source: share = 500 > n_docs, every doc is picked
        pytest.param(["solo"] * 40, {"solo": 40}, id="single-source-below-budget"),
        # one source past the budget: share = 500 = the prefilter bound
        pytest.param(["solo"] * 700, {"solo": 500}, id="single-source-past-budget"),
        # "tiny" (3 docs) has share 500·√3/(√3+√900) = 27 > 3
        pytest.param(
            ["tiny"] * 3 + ["big"] * 900, {"tiny": 3, "big": 472}, id="share-exceeds-docs"
        ),
    ],
)
def test_corpus_mixture_edge_cases(spark, tmp_path, sources, emitted):
    sf_dir = _sf_with(tmp_path, "documents", _documents(sources))
    pdf = _oracle_equal(spark, "q_corpus_mixture", sf_dir)
    assert pdf["source"].notna().all()
    assert pdf.groupby("source").size().to_dict() == emitted


# Execution jobs of Engine.run(key).toPandas() on sf0.01: the first six
# are the `collections` benchmark workload.  Every sf0.01 table reads as
# one split, so `load` hands each key one partition and a grouping,
# window, sort or grand total over it plans no exchange.  q_grouping_sets
# keeps its shuffle (Expand drops the partitioning); the two md5 keys
# spread documents on doc_id, and their per-doc aggregate reuses that
# exchange.  The rows from q_fk_integrity on are keys whose count fell
# with the one-split gate and repeated exactly over three registry runs;
# q_mutual_nn finds its mutual pairs with a count instead of a self-join.
JOB_BUDGET = {
    "q_pricing_summary": 1,
    "q_window_rank": 1,
    "q_grouping_sets": 2,
    "q_dedup_minhash_md5": 4,
    "q_phrase_search": 1,
    "q_corpus_mixture": 1,
    "q_benford": 1,
    "q_chi2_drift": 1,
    "q_embed_drift": 3,
    "q_simhash_md5": 2,
    "q_fk_integrity": 5,
    "q_kmv_sketch": 2,
    "q_skyline": 2,
    "q_hhi_concentration": 2,
    "q_seasonal_decompose": 1,
    "q_transition_matrix": 1,
    "q_conversion_ci": 1,
    "q_cumulative_distinct": 1,
    "q_gap_fill": 3,
    "q_dss_parts_suppliers": 3,
    "q_cohort_retention": 2,
    "q_join_full": 1,
    "q_sort_multi": 1,
    "q_mutual_nn": 2,
}


@pytest.mark.parametrize("key", list(JOB_BUDGET))
def test_execution_job_budget(spark, key):
    """Counted with the DAG scheduler's job counter around the collect
    of an already-built plan, after one warm-up run (persisted frames
    such as q_embed_drift's assign frame are then already paid)."""
    eng = Engine(spark, SF)
    eng.run(key).toPandas()
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    df = eng.run(key)
    j0 = next_job()
    df.toPandas()
    assert next_job() - j0 == JOB_BUDGET[key]
