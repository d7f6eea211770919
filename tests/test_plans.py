"""Plan-shape tests (SURVEY.md §4, §5 item 6).

Each §4 "free from Catalyst" claim becomes an assertion on the
physical plan: pushed filters reach the Parquet scan, projections
prune the read schema, dims broadcast, top-k avoids a global sort,
aggregation is two-phase, and hot paths stay inside whole-stage
codegen.  These guard the 100 TB posture — a regression here (e.g. a
filter that stops pushing) is invisible at fixture scale but fatal at
target scale.
"""

from __future__ import annotations

import pytest

from processor_spark import registry
from processor_spark.plans import assert_in_plan, assert_not_in_plan, explain_str
from processor_spark.sources import TABLES, load, row_key, schema_for
from tests.conftest import SF_SMALL

registry.load_all_modules()


def _df(spark, key):
    return registry.get(key).fn(spark, SF_SMALL)


@pytest.fixture()
def multi_split(spark):
    """The session with 16 KiB file splits, so every sf0.001 fact table
    reads as several splits.  ``load`` plans a one-split table as one
    partition, which needs no exchange at all; shapes pinned for
    scale-size tables are checked on this multi-split read."""
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "16k")
    yield spark
    spark.conf.set(key, saved)


def test_pruned_scan_pushes_filters_and_prunes_columns(spark):
    plan = explain_str(_df(spark, "q_scan_pruned"))
    assert "PushedFilters: [" in plan
    # range + quantity predicates pushed into the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    assert "l_quantity" in plan.split("PushedFilters")[1].split("]")[0]
    # read schema carries only referenced columns
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_returnflag" not in read_schema


def test_scan_projection_prunes_read_schema(spark):
    plan = explain_str(_df(spark, "q_scan_parquet"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema, "unreferenced column must be pruned"


def test_star_join_broadcasts_dims(spark):
    assert_in_plan(_df(spark, "q_join_5way"), "BroadcastHashJoin")


def test_semi_and_anti_join_operators(spark):
    assert_in_plan(_df(spark, "q_join_semi"), "LeftSemi")
    assert_in_plan(_df(spark, "q_join_anti"), "LeftAnti")


def test_theta_join_is_hash_join_on_equi_key_not_nested_loop(spark):
    # the band predicate must ride as a residual on the nationkey
    # equi-join, NOT degrade the join to a nested loop / cartesian
    plan = explain_str(_df(spark, "q_join_theta"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_topn_plans_take_ordered_not_global_sort(spark):
    assert_in_plan(_df(spark, "q_topn"), "TakeOrderedAndProject")


def test_agg_is_two_phase_hash(spark):
    plan = explain_str(_df(spark, "q_pricing_summary"))
    assert plan.count("HashAggregate") >= 2, "expect partial+final HashAggregate"


def test_pricing_summary_stays_in_codegen(spark):
    # AQE shows codegen spans only in the final (post-execution) plan
    df = _df(spark, "q_pricing_summary")
    df.collect()
    # formatted mode tags codegen'd operators with "[codegen id : N]"
    plan = explain_str(df)
    assert "codegen id" in plan, plan
    # the scan→filter→project→partial-agg pipeline shares one span
    assert "(5) HashAggregate [codegen id : 1]" in plan or "HashAggregate [codegen id" in plan


def test_no_python_udf_in_relational_paths(spark):
    # §2.11 policy: everything except q_media_features is UDF-free
    for key in ["q_pricing_summary", "q_join_5way", "q_topk_similarity",
                "q_dedup_exact", "q_tfidf", "q_sessionization"]:
        assert_not_in_plan(_df(spark, key), "BatchEvalPython", "ArrowEvalPython", "PythonUDF")


def test_topk_similarity_broadcasts_query_vector(spark):
    plan = explain_str(_df(spark, "q_topk_similarity"))
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_knn_join_broadcasts_query_side(spark):
    assert_in_plan(_df(spark, "q_knn_join"), "BroadcastNestedLoopJoin")


def test_ann_lsh_candidates_bounded_single_scan(spark):
    # bucket-LSH candidate generation: r4-r14 ran one equi join PER
    # TABLE (LSH_TABLES corpus scans + union); r15 collapses "collides
    # in ANY table" into ONE broadcast nested-loop join whose build
    # side is the KNN_QUERIES-capped query set (20 rows — the _QCAP
    # rule makes this scale-safe: cost is corpus × 20 OR-tests, one
    # scan).  Pin the new shape: exactly one BNLJ, its build side
    # broadcast, and no unbounded CartesianProduct anywhere.
    plan = explain_str(_df(spark, "q_ann_lsh"))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the per-table equi-join/union fan-out is gone: no hash joins
    # remain, and the physical tree holds exactly one join node
    assert "BroadcastHashJoin" not in plan and "SortMergeJoin" not in plan, plan
    import re

    tree_joins = re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(tree_joins) == 1, plan


def test_ann_ivf_probes_cells_not_corpus(spark):
    # IVF's point: the final search joins the cell assignment to the
    # broadcast probe list on an equi key (cell) — never all-pairs.
    plan = explain_str(_df(spark, "q_ann_ivf"))
    assert "CartesianProduct" not in plan.replace("BroadcastNestedLoopJoin", "", 2), plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_interval_join_is_equi_join_with_residual(spark):
    plan = explain_str(_df(spark, "q_join_interval"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_dynamic_partition_pruning_on_partitioned_layout(spark, tmp_path_factory):
    """§4 'partition pruning': a join against a filtered dim over a
    date-partitioned fact must prune fact partitions at runtime (DPP)."""
    import pyspark.sql.functions as F
    from processor_spark.sources import load, sinks

    base = tmp_path_factory.mktemp("dpp")
    o = load(spark, SF_SMALL, "orders").withColumn("order_year", F.year("o_orderdate"))
    sinks.write_parquet_partitioned(o, str(base / "orders_part"), ["order_year"])
    fact = spark.read.parquet(str(base / "orders_part"))
    dim = (
        o.select("order_year").distinct().where(F.col("order_year") == 1997)
    )
    joined = fact.join(dim, "order_year").select("o_orderkey", "order_year")
    plan = explain_str(joined)
    assert "dynamicpruning" in plan.lower() or "PartitionFilters: [" in plan, plan
    want = o.where(F.col("order_year") == 1997).count()
    assert joined.count() == want


@pytest.mark.usefixtures("multi_split")
def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Catalyst's runtime row-level Bloom filter: a selective build
    side injects might_contain(...) into the probe-side scan of a
    shuffle join — at 100 TB this skips most of the probe shuffle for
    selective joins.  Fixture scans are below the default 10 GiB
    application-side threshold, so the test lowers it to observe the
    rewrite; production keeps the defaults."""
    import pyspark.sql.functions as F

    from processor_spark.sources import load

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        l = load(spark, SF_SMALL, "lineitem")
        o = load(spark, SF_SMALL, "orders").where(F.col("o_totalprice") > 400000)
        j = l.join(o, l.l_orderkey == o.o_orderkey).groupBy("o_orderpriority").count()
        plan = explain_str(j)
        assert "might_contain" in plan.lower(), "runtime bloom filter not injected"
        got = {(r[0], r[1]) for r in j.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # semantics unchanged vs the default plan
    l = load(spark, SF_SMALL, "lineitem")
    o = load(spark, SF_SMALL, "orders").where(F.col("o_totalprice") > 400000)
    want = {
        (r[0], r[1])
        for r in l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .count()
        .collect()
    }
    assert got == want and len(got) > 0


def test_pointintime_join_is_equi_join_with_residual(spark):
    # the SCD2 validity predicate must ride the custkey equi join
    plan = explain_str(_df(spark, "q_join_pointintime"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan


def test_dss_shipping_priority_take_ordered(spark):
    # top-10 must plan TakeOrderedAndProject, never a global sort of the agg
    plan = explain_str(_df(spark, "q_dss_shipping_priority"))
    assert "TakeOrderedAndProject" in plan, plan


def test_dss_promo_effect_broadcasts_part(spark):
    plan = explain_str(_df(spark, "q_dss_promo_effect"))
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_dss_order_priority_is_semi_join(spark):
    plan = explain_str(_df(spark, "q_dss_order_priority"))
    assert "LeftSemi" in plan, plan


def test_dss_waiting_suppliers_single_window_shuffle(spark):
    # the two-analytic-window formulation must not plan a lineitem self-join
    plan = explain_str(_df(spark, "q_dss_waiting_suppliers"))
    assert plan.count("lineitem.parquet") == 1, plan  # exactly one fact scan
    assert "SortMergeJoin" not in plan, plan


def test_top_supplier_take_ordered_not_global_window(spark):
    plan = explain_str(_df(spark, "q_dss_top_supplier"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_global_shuffle_has_no_single_partition_window(spark):
    # the distributed-rank formulation must range-partition, then rank
    # per partition — never a Window over an empty partition spec
    plan = explain_str(_df(spark, "q_global_shuffle"))
    assert "rangepartitioning" in plan.lower(), plan
    assert "windowspecdefinition(dig" not in plan, plan  # no global ORDER BY window
    assert "windowspecdefinition(pid" in plan, plan  # local rank only


def test_join_5way_never_broadcasts_the_fact_side(spark):
    """Round-2 broadcast policy: the 600k-row lineitem scan must not be
    the build side of a broadcast (static estimates once nominated it);
    the fact join is a shuffle_hash with the reduced orders side built."""
    plan = _df(spark, "q_join_5way")._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    import re
    for m in re.finditer(r"BroadcastExchange[^\n]*\n(?:[^\n]*\n){0,4}", plan):
        assert "lineitem.parquet" not in m.group(0), m.group(0)


def test_bucketed_join_has_zero_exchange(spark):
    """The SMB fact⋈fact pattern: both sides bucketed+sorted on the
    order key → SortMergeJoin AND the per-order aggregate reuse the
    write-time partitioning; the plan contains no Exchange of any
    kind (not even a broadcast)."""
    plan = explain_str(_df(spark, "q_bucketed_join"))
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_dedup_family_never_plans_pair_explosion(spark):
    """Every dedup tier must be equi-join/agg shaped — a NestedLoop or
    CartesianProduct anywhere means the candidate space went O(n²),
    invisible at fixture scale and fatal at 100 TB."""
    for key in [
        "q_dedup_exact",
        "q_dedup_ngram",
        "q_dedup_minhash_md5",
        "q_dedup_canonical",
        "q_dedup_substring",
        "q_corpus_mixture",
    ]:
        plan = explain_str(_df(spark, key))
        assert "CartesianProduct" not in plan, (key, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (key, plan)


@pytest.mark.usefixtures("multi_split")
def test_corpus_mixture_is_one_linear_plan(spark):
    """The mixture's grand total is a window inside the plan that holds
    the ranked rows: one documents scan, one hash exchange on source
    (rank and n_docs share one Window), one SinglePartition exchange
    for the total, and no broadcast of a re-aggregate."""
    plan = _df(spark, "q_corpus_mixture")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("documents.parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning(source") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "BroadcastExchange" not in plan, plan


def test_sample_weighted_is_take_ordered_no_shuffle_no_window(spark):
    """The weighted sampler must plan per-partition top-k heaps
    (TakeOrderedAndProject) over a narrow map — a Window or full-table
    Exchange here would mean a global sort of the corpus."""
    plan = explain_str(_df(spark, "q_sample_weighted"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_scan_partitioned_prunes_statically_and_dynamically(spark):
    """q_scan_partitioned's fact scan must carry BOTH pruning forms in
    PartitionFilters: the literal date range (static — partitions
    outside [05, 20) are never listed) and a dynamicpruning expression
    fed by the broadcasted hot-dates dim (DPP).  At 100 TB this is the
    difference between reading 15 days and reading the whole lake."""
    plan = explain_str(_df(spark, "q_scan_partitioned"))
    assert "PartitionFilters: [" in plan, plan
    pf = plan.split("PartitionFilters")[1].split("]")[0]
    assert "event_date" in pf, plan
    assert "dynamicpruning" in plan.lower(), plan


@pytest.mark.usefixtures("multi_split")
def test_zorder_layout_single_agg_no_sort(spark):
    # the Morton interleave must fold into the scan's codegen stage and
    # feed ONE two-phase hash aggregate — a z-order rewrite never needs
    # a sort just to compute bucket stats
    import re

    plan = explain_str(_df(spark, "q_zorder_layout"))
    assert "HashAggregate" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Sort\b", plan)) == 0, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_compaction_plan_window_is_partition_local(spark):
    # the greedy pack's running sum must sort WITHIN month partitions
    # only — a global sort (Sort Arguments ending ", true, 0") would
    # serialize a million-partition table through one range exchange
    plan = explain_str(_df(spark, "q_compaction_plan"))
    assert "Window" in plan
    assert ", true, 0" not in plan, plan
    assert "rangepartitioning" not in plan.lower(), plan


def test_bm25_is_take_ordered_with_broadcast_stats(spark):
    # corpus stats must reach the scorer as a broadcast (1-row agg),
    # and the top-20 must be per-partition heaps, not a global sort
    plan = explain_str(_df(spark, "q_bm25"))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_pq_broadcasts_codebook_and_adc_table(spark):
    # both the 16-entry codebook and the 64-entry query ADC table must
    # broadcast; the corpus vectors must never be the build side of a
    # shuffle join, and nothing may plan a cartesian product
    plan = explain_str(_df(spark, "q_ann_pq"))
    assert plan.count("BroadcastNestedLoopJoin") + plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_spatial_join_is_equi_join_on_cell_not_cartesian(spark):
    # the grid trick's whole point: candidate generation must be an
    # equi join on the cell id, never a nested loop over all pairs
    plan = explain_str(_df(spark, "q_join_spatial"))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_lateral_join_decorrelates_to_group_limit_not_per_row(spark):
    """q_join_lateral's per-customer ORDER BY ... LIMIT 2 subquery must
    decorrelate into a windowed group-limit over ONE join — never a
    nested loop (per-row subquery execution) — and the top-2 cut must
    run map-side (partial WindowGroupLimit) before the shuffle."""
    plan = explain_str(_df(spark, "q_join_lateral"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "Partial" in plan.split("WindowGroupLimit")[-1].splitlines()[0] or \
        plan.count("WindowGroupLimit") >= 2, plan


def test_source_jaccard_join_is_equi_on_gram_hash(spark):
    """The source-pair intersection must be an equi-join on the 48-bit
    gram hash (bounded fan-out), not a cartesian of gram sets."""
    plan = explain_str(_df(spark, "q_source_jaccard"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_bloom_prefilter_broadcasts_bitmap_no_sort_merge(spark):
    """The Bloom bitmap (m=1008 bits packed 63 per word → 16 words) and the eval fingerprint set must
    BROADCAST — a sort-merge join against the corpus-sized probe would
    defeat the whole point of the prefilter at 100 TB."""
    plan = explain_str(_df(spark, "q_bloom_prefilter"))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan


def test_window_ntile_has_no_single_partition_window(spark):
    """VERDICT r4 #1: the global ntile/percent_rank/cume_dist must be
    the distributed-rank shape — range-partition, per-partition local
    rank, broadcast offsets — never a Window over an empty partition
    spec sorting the whole table in one task."""
    plan = explain_str(_df(spark, "q_window_ntile"))
    assert "rangepartitioning" in plan.lower(), plan
    # no global ORDER BY window over the data stream
    assert "windowspecdefinition(o_totalprice" not in plan, plan
    assert "windowspecdefinition(pid" in plan, plan  # local rank only


def test_rfm_segmentation_has_no_single_partition_window(spark):
    """Same contract for the three RFM quintile scores: each is a
    distributed rank over the customer agg, not an unpartitioned
    ntile window."""
    plan = explain_str(_df(spark, "q_rfm_segmentation"))
    assert "rangepartitioning" in plan.lower(), plan
    for metric in ("recency_days", "frequency", "monetary_cents"):
        assert f"windowspecdefinition({metric}" not in plan, plan
    assert "windowspecdefinition(pid" in plan, plan


def test_ann_serve_scan_is_partition_pruned_to_probed_cells(spark):
    """The serving key's assignments scan must open ONLY the probed
    cells' partition directories — the property that makes a persisted
    IVF index read ~nprobe/nlist of the corpus instead of all of it."""
    plan = explain_str(_df(spark, "q_ann_ivf_serve"))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in seg and "IN" in seg.upper()


def test_ann_ivfpq_serve_scan_is_partition_pruned(spark):
    """r10: the IVF-PQ serve twin's ADC scan must open ONLY the probed
    cells' code directories — the property that makes the composite
    layout memory-bound (nprobe/nlist of 4-ints-per-vector codes, no
    float vector ever read)."""
    plan = explain_str(_df(spark, "q_ann_ivfpq_serve"))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in seg and "IN" in seg.upper()
    # the code scan must NOT read the raw embedding column: the only
    # embeddings scan in the plan is the fixed-size query batch
    assert plan.count("Scan parquet") >= 3  # centroids + codebook + codes


def test_hll_register_build_is_two_phase_no_window(spark):
    """The sketch posture (r7): the HLL register build must be a
    TWO-PHASE hash aggregate (partial_max map-side — each executor
    reduces its slice to <=64 rows/group before the shuffle) and must
    contain no Window at all — a data-sized sort/window here would
    defeat the entire point of sketching at 100 TB."""
    plan = explain_str(_df(spark, "q_hll_md5"))
    assert "partial_max" in plan, plan
    assert "Window" not in plan, plan


def test_cms_cell_build_is_two_phase_partial_count(spark):
    """Count-min cells must partial-aggregate map-side (<=1024 cells
    per executor slice pre-shuffle), never shuffle the exploded
    (row x seed) stream raw."""
    plan = explain_str(_df(spark, "q_cms_heavy"))
    assert "partial_count" in plan, plan
    assert "Window" not in plan, plan


def test_bm25_serve_reads_only_query_term_buckets(spark):
    """The persisted-text-index serving scan must read ONLY the
    partition dirs the 3 query terms hash to — never list or scan the
    full postings table (the |terms|/64 IO bound)."""
    from processor_spark.operators.text import (
        BM25_TERMS,
        _term_bucket_py,
        build_text_index,
    )

    df = _df(spark, "q_bm25_serve")
    want = {_term_bucket_py(t) for t in BM25_TERMS}
    opened = {f for f in df.inputFiles()}
    import re

    got = {int(m.group(1)) for f in opened for m in [re.search(r"tbucket=(\d+)", f)] if m}
    assert got == want, (got, want)


def test_embed_quantize_is_two_phase_with_broadcast_codebook(spark):
    """The quantizer's component stream must partial-aggregate map-side
    (64 codebook cells per executor slice pre-shuffle) and the
    codebook must come back as a broadcast join — never a shuffle or a
    window over the exploded stream."""
    plan = explain_str(_df(spark, "q_embed_quantize"))
    assert "partial_min" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_embed_pca_gramian_is_two_phase_no_smj(spark):
    """The integer Gramian must be a two-phase hash agg (each executor
    reduces its slice to <=2080 cells before the shuffle); the tiny
    dim-sum joins must broadcast (no sort-merge anywhere) and no
    data-sized Window may appear.  Asserted on the Gramian cell
    builder the eigensolve kernel consumes."""
    from processor_spark.operators.embedops import _gram_cells

    plan = explain_str(_gram_cells(spark, SF_SMALL))
    assert "partial_sum" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_bpe_pair_counts_are_two_phase_partial_sum(spark):
    """BPE's per-round pair aggregation must partial-sum map-side —
    the vocab-sized rep table never shuffles raw exploded pairs."""
    from processor_spark.operators import bpe

    reps = spark.createDataFrame(
        [("ab", 3, "a b"), ("abc", 2, "a b c")], "word string, wcnt long, rep string"
    )
    plan = explain_str(bpe._pair_counts(reps))
    assert "partial_sum" in plan, plan


@pytest.mark.usefixtures("multi_split")
def test_lttb_windows_share_one_hash_exchange(spark):
    """All three LTTB windows (lag/lead, bucket count, arg-max) must
    share the single (bucket, type) hash exchange — the only other
    exchange is the final presentation orderBy — and the rn=1 filter
    must push down as a WindowGroupLimit."""
    plan = explain_str(_df(spark, "q_lttb_downsample"))
    assert plan.count("hashpartitioning(") == 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_ranking_run_broadcasts_query_set(spark):
    """The ranking-eval pairs stage must broadcast the (fixed, capped)
    query set against the corpus scan — a shuffle join here would
    repartition the whole corpus for a <=100-row benchmark set — and
    the only windows allowed are the per-query ranking windows."""
    plan = explain_str(_df(spark, "q_ndcg"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_phash_near_has_no_cartesian_join(spark):
    """Hamming near-dup pairs must come from band buckets + local pair
    generation — the exhaustive theta join exists only in the ORACLE.
    No cartesian/nested-loop product and no doc-pair join may appear
    in the engine plan."""
    plan = explain_str(_df(spark, "q_phash_near"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_collocations_topk_avoids_global_sort(spark):
    """The collocation top-k must run as TakeOrderedAndProject over the
    count-floored bigram stream, never a full global sort of the
    bigram vocabulary."""
    plan = explain_str(_df(spark, "q_collocations"))
    assert "TakeOrderedAndProject" in plan, plan


def test_boilerplate_aggs_are_two_phase(spark):
    """Both corpus-sized aggs (doc-frequency and occurrence counts)
    must partial-aggregate map-side, and the tiny boilerplate
    vocabulary must broadcast back onto the occurrence stream."""
    plan = explain_str(_df(spark, "q_boilerplate"))
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bfs_frontier_join_is_hash_not_nested_loop(spark):
    """Each BFS round joins the frontier to the edge list on the node
    key — a hash join; nested-loop anywhere would be O(V*E)."""
    plan = explain_str(_df(spark, "q_bfs_hops"))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_maxsim_broadcasts_queries_no_smj(spark):
    """Late-interaction scoring must broadcast the fixed query set and
    keep the 16-dot arithmetic inside the corpus-pass projection — a
    sort-merge join would shuffle the corpus for a 20-row query set."""
    plan = explain_str(_df(spark, "q_maxsim_retrieval"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_audience_bitmap_agg_is_two_phase(spark):
    """The bitmap build must partial-aggregate (bit_or) map-side so
    each executor emits at most |users|/63 words per type before the
    shuffle, and the totals join back as broadcasts."""
    plan = explain_str(_df(spark, "q_audience_overlap"))
    assert "partial_bit_or" in plan or "partial_first" in plan or "bit_or" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_decay_popularity_single_corpus_agg(spark):
    """The decayed score must come from ONE map-side-combinable agg
    over the event stream with the reference day broadcast — no
    window over raw events."""
    plan = explain_str(_df(spark, "q_decay_popularity"))
    assert "partial_sum" in plan or "partial_count" in plan, plan


def test_quality_model_stats_broadcast_no_shuffle_of_features(spark):
    """r8: the learned scorer's plan must be feature-pass + broadcast —
    the fitted stats/weights row reaches the scoring map via
    BroadcastExchange (never a shuffle keyed on anything data-sized),
    and no cartesian/nested-loop appears (the crossJoin is 1-row)."""
    plan = explain_str(_df(spark, "q_quality_model"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    plan_ols = explain_str(_df(spark, "q_quality_model_score"))
    assert "CartesianProduct" not in plan_ols, plan_ols
    assert "BroadcastExchange" in plan_ols or "BroadcastNestedLoopJoin" in plan_ols


def test_ivf_kmeans_broadcasts_centroids_no_corpus_pair_join(spark):
    """r8: both O(n·nlist) passes must see the centroid table via
    broadcast (nlist×d rows), and the only equi-join keyed on
    data-sized columns is the cell-membership probe join — never a
    corpus×corpus product."""
    plan = explain_str(_df(spark, "q_ann_ivf_kmeans"))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # final candidate join is an equi hash join on the cell key
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_curriculum_shards_has_no_single_partition_window(spark):
    """r10: the curriculum rank must be distributed — a per-range-
    partition row_number (windowspecdefinition over pid), never an
    unpartitioned global window."""
    plan = explain_str(_df(spark, "q_curriculum_shards"))
    assert "windowspecdefinition(pid" in plan, plan
    assert "windowspecdefinition(diversity_permille" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan


def test_ann_ivfpq_refine_serve_is_pruned_and_point_lookup(spark):
    """r10: the refine serve twin must keep the code scan partition-
    pruned to the probed cells AND fetch refine vectors through a
    broadcast join (a point lookup against primary storage), never a
    shuffle of the corpus."""
    plan = explain_str(_df(spark, "q_ann_ivfpq_refine_serve"))
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].split("]")[0]
    assert "cell" in seg and "IN" in seg.upper()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semdedup_serve_skips_the_assign_crossjoin(spark):
    """r11: the index-backed SemDeDup serve must answer from the
    persisted assignments — no centroid crossJoin (the in-plan key's
    O(n·nlist) Lloyd/assign passes), no Python boundary; just parquet
    scans of the index + the within-cell pair join."""
    plan = explain_str(_df(spark, "q_semdedup_serve"))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    in_plan = explain_str(_df(spark, "q_semdedup"))
    assert "BroadcastNestedLoopJoin" in in_plan  # the assign crossJoins


def test_twolevel_assign_fine_stage_is_an_equi_join(spark):
    """r12: past TWOLEVEL_MIN_NLIST cells the corpus must never
    crossJoin the full centroid table — the two-level router's fine
    argmin is an equi HASH join on the router cell (gid), so the only
    corpus-sized nested-loop join left is against the isqrt(nlist)
    coarse seeds.  The registered two-level keys force the same code
    path at fixture scale, so this plan shape is exactly what runs at
    derived nlist >= 64."""
    plan = explain_str(_df(spark, "q_ann_ivf_twolevel"))
    assert "gid" in plan, plan               # router column is live
    assert "BroadcastHashJoin" in plan, plan  # fine stage equi-joins
    assert "CartesianProduct" not in plan, plan
    # the flat key has no router column anywhere in its plan
    flat = explain_str(_df(spark, "q_ann_ivf_kmeans"))
    assert "gid" not in flat


def test_semdedup_clusters_persists_the_shared_assign(spark):
    """r12 (ADVICE r11): both pair sides of the clusters key must read
    the one persisted assign frame — the plan shows an InMemoryRelation
    scan instead of two full Lloyd/assign pipelines."""
    from processor_spark.operators.similarity import _semdedup_assign_frame

    sf = SF_SMALL
    assign = _semdedup_assign_frame(spark, sf)
    try:
        assert assign.storageLevel.useMemory or assign.storageLevel.useDisk
    finally:
        assign.unpersist()


def test_semdedup_clusters_serve_skips_the_assign_crossjoin(spark):
    """r12: the index-backed clusters twin must answer from the
    persisted assignments — no centroid crossJoin anywhere before the
    CC loop (the pair frame is localCheckpoint'ed, so assert on the
    pair pipeline the checkpoint captured via the serve key's first
    stage instead: build it unheckpointed here)."""
    import os

    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import (
        SEMDEDUP_EPS,
        _int_sqdist,
        build_ivf_kmeans_index,
    )

    path = build_ivf_kmeans_index(spark, SF_SMALL)
    assign = spark.read.schema(
        "vec_id bigint, vm array<bigint>, cell int"
    ).parquet(os.path.join(path, "assignments"))
    a = assign.select("cell", F.col("vec_id").alias("va"), F.col("vm").alias("vma"))
    b = assign.select("cell", "vec_id", F.col("vm").alias("vmb"))
    pairs = (
        a.join(b, "cell")
        .where(F.col("va") < F.col("vec_id"))
        .where(_int_sqdist(F.col("vma"), F.col("vmb")) <= F.lit(SEMDEDUP_EPS))
    )
    plan = explain_str(pairs)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_rprobe_router_is_a_projection_with_equi_join_fine_stage(spark):
    """r13: the multi-probe router (q_semdedup_rprobe forces the
    production rprobe=3 path) must keep the two-level plan contract —
    the fine argmin is an equi HASH join on the router cell, no
    corpus × centroid-table CartesianProduct — and its router stage is
    a PROJECTION against a broadcast 1-row router array (Generate/
    explode in the plan), not a window over an n×ncoarse shuffle."""
    plan = explain_str(_df(spark, "q_semdedup_rprobe"))
    assert "gid" in plan, plan                # router column is live
    assert "BroadcastHashJoin" in plan, plan  # fine stage equi-joins
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan           # top-rprobe explode


@pytest.mark.parametrize("table", TABLES)
def test_spread_hash_partitions_on_the_row_key(spark, table):
    """load(spread=True) is a hash exchange on the table's row key, never
    round-robin: a keyed exchange satisfies the next grouping, window or
    join on the id, a round-robin one satisfies nothing."""
    plan = explain_str(load(spark, SF_SMALL, table, spread=True))
    assert f"hashpartitioning({row_key(table)}#" in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan


@pytest.mark.parametrize(
    "key, exchanges", [("q_dedup_minhash_md5", 3), ("q_simhash_md5", 1)]
)
def test_spread_exchange_is_reused_by_the_first_doc_id_shuffle(spark, key, exchanges):
    """The per-doc aggregate after the spread plans no exchange of its
    own: the spread's hashpartitioning(doc_id) already clusters it.
    q_simhash_md5 keeps only the spread; q_dedup_minhash_md5 adds the
    band and pair shuffles."""
    plan = _df(spark, key)._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan, plan
    assert plan.count("Exchange ") == exchanges, plan


@pytest.mark.parametrize("key", ["q_pricing_summary", "q_corpus_mixture"])
def test_one_split_plan_holds_no_exchange(spark, key):
    """Every fixture table reads as one split under the default session:
    ``load`` coalesces the scan to one partition, whose SinglePartition
    satisfies the grouping, the window, the global sort and the
    unpartitioned total, so the executed plan holds no exchange and the
    query runs as one job."""
    plan = _df(spark, key)._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce 1" in plan, plan
    assert "Exchange" not in plan, plan


def _scan_partitions(spark, table):
    path = f"{SF_SMALL}/{table}.parquet"
    return spark.read.schema(schema_for(table)).parquet(path).rdd.getNumPartitions()


def test_multi_split_load_keeps_the_scans_partitions(multi_split):
    spark = multi_split
    n = _scan_partitions(spark, "lineitem")
    assert n > 1
    df = load(spark, SF_SMALL, "lineitem")
    assert "Coalesce" not in df._jdf.queryExecution().executedPlan().toString()
    assert df.rdd.getNumPartitions() == n


def test_spread_load_keeps_the_scans_partitions(spark):
    """``spread=True`` bypasses the one-split gate: the hash exchange
    runs straight off the scan, never off a one-partition coalesce."""
    assert _scan_partitions(spark, "documents") == 1
    plan = explain_str(load(spark, SF_SMALL, "documents", spread=True))
    assert "Coalesce" not in plan, plan
    assert f", {spark.sparkContext.defaultParallelism}), REPARTITION_BY_NUM" in plan, plan
