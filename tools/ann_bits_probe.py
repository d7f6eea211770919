#!/usr/bin/env python3
"""ANN bits-scaling probe (VERDICT r7 missing #4).

SCALE.md claims real deployments hold graph-ANN recall as the corpus
grows by scaling the LSH width: bits ≈ log2(n / target_bucket).  This
probe MEASURES that claim instead of extrapolating it:

1. Builds an N× embeddings layout whose replicas are deterministically
   PERTURBED (±5 % per-dimension jitter keyed on (vec_id, dim)) — a
   vec_id shift alone would clone every vector bit-for-bit, making
   buckets degenerate and the recall question meaningless.
2. Computes exact brute-force cosine top-K for the fixed query set
   (vec_id ≤ KNN_QUERIES, replica 0) over the full N× corpus — the
   ground truth.
3. Runs graph_ann_topk twice: with the BASE parameters (bits=4 — the
   fixed-width failure mode, where every bucket blows past the cap
   and the candidate set collapses) and with bits re-parameterized by
   the formula (bits = ceil(log2(n / GRAPH_BUCKET_CAP)) per table).
4. Prints recall@K and wall-clock for each; the formula row is the
   SCALE.md evidence.

Usage: python3 tools/ann_bits_probe.py [N]   (default 64)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# args: [N] [section] in either order; a leading "--" on the section
# is tolerated ("64 filtered" == "64 --filtered" == "--filtered 64")
_args = [a.lstrip("-") for a in sys.argv[1:]]
REPL = next((int(a) for a in _args if a.isdigit()), 64)
# optional section selector: "graph", "ivf", "filtered" (default: all)
ONLY = next((a for a in _args if a and not a.isdigit()), None)
_KNOWN = (None, "graph", "ivf", "filtered", "ivfpq", "semdedup", "twolevel", "semdedup2")
if ONLY not in _KNOWN:
    sys.exit(f"unknown section {ONLY!r}; expected one of {_KNOWN[1:]}")
from tools.jittered_layout import SRC, build_layout, layout_dir  # noqa: E402

DST = layout_dir(REPL)


def exact_topk(spark):
    """Brute-force cosine top-K ground truth for the fixed query set
    over the full N× corpus (broadcast queries, one narrow pass)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import (
        KNN_K,
        KNN_QUERIES,
        _as_double,
        dot,
        l2norm,
    )
    from processor_spark.sources.fixtures import load

    e = load(spark, DST, "embeddings", spread=True).select(
        "vec_id", _as_double("embedding").alias("emb")
    ).withColumn("nrm", l2norm(F.col("emb")))
    q = e.where(F.col("vec_id") <= KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("qvec"),
        F.col("nrm").alias("qnrm"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                dot(F.col("emb"), F.col("qvec")) / (F.col("nrm") * F.col("qnrm")), 6
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )


def exact_l2_topk(spark):
    """Exact integer-L2 top-K ground truth (the metric q_ann_ivf_kmeans
    ranks by) for the fixed query set over the full N× corpus."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import (
        KNN_K,
        KNN_QUERIES,
        _int_sqdist,
        _micro_arr,
    )
    from processor_spark.sources.fixtures import load

    e = load(spark, DST, "embeddings", spread=True).select(
        "vec_id", _micro_arr("embedding").alias("vm")
    )
    q = e.where(F.col("vec_id") <= KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("vm").alias("qm")
    )
    w = Window.partitionBy("q_id").orderBy("sq", "vec_id")
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", _int_sqdist(F.col("vm"), F.col("qm")).alias("sq"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )


def recall_against(truth: set, got_df) -> float:
    got = {(r.q_id, r.neighbor_id) for r in got_df.collect()}
    return len(got & truth) / len(truth) if truth else float("nan")


def main() -> None:
    from processor_spark.operators.similarity import (
        GRAPH_BUCKET_CAP,
        LSH_BITS,
        graph_ann_topk,
    )
    from processor_spark.session import build_session
    from processor_spark.sources.fixtures import load

    spark = build_session(app_name="processor_spark-ann-bits-probe")
    build_layout(spark, REPL)

    n = load(spark, DST, "embeddings").count()
    n_base = load(spark, SRC, "embeddings").count()
    # the formula under test: hold PER-BUCKET OCCUPANCY at its base
    # value as n grows — bits = log2(n / target_bucket) with
    # target_bucket the base layout's average occupancy.  (Targeting
    # GRAPH_BUCKET_CAP instead was measured a mistake: buckets sized
    # just under the cap make the build's per-bucket all-pairs stage
    # C(cap,2)-dense — 658 s at 64x — while base occupancy keeps the
    # pair count linear in n.)
    target_bucket = max(1.0, n_base / float(1 << LSH_BITS))
    bits_scaled = max(LSH_BITS, math.ceil(math.log2(n / target_bucket)))

    result = {
        "replication": REPL,
        "n_vectors": n,
        "target_bucket": round(target_bucket, 1),
        "bits_scaled": bits_scaled,
    }
    truth = (
        {(r.q_id, r.neighbor_id) for r in exact_topk(spark).collect()}
        if ONLY in (None, "graph")
        else set()
    )
    for tag, bits in (("fixed_bits", LSH_BITS), ("scaled_bits", bits_scaled)) if ONLY in (None, "graph") else ():
        spark.catalog.clearCache()
        # bucket-occupancy diagnostics: how much of the corpus is still
        # visible to the capped BUILD at this width (the failure mode
        # of a fixed width is an empty graph, with recall then carried
        # by the uncapped serve-time seed scan — linear per query)
        from pyspark.sql import functions as F

        from processor_spark.operators.similarity import _as_double, _table_bucket_expr

        e0 = load(spark, DST, "embeddings").select(
            "vec_id", _as_double("embedding").alias("emb")
        ).select("vec_id", _table_bucket_expr("emb", 0, bits).alias("b"))
        occ = e0.groupBy("b").count()
        under = occ.where(F.col("count") <= GRAPH_BUCKET_CAP).agg(
            F.count(F.lit(1)).alias("nb"), F.sum("count").alias("members")
        ).collect()[0]
        t0 = time.perf_counter()
        df = graph_ann_topk(spark, DST, bits=bits)
        rec = recall_against(truth, df)
        result[tag] = {
            "bits": bits,
            "recall_at_5": round(rec, 4),
            "wall_s": round(time.perf_counter() - t0, 2),
            "buckets_under_cap_t0": int(under.nb or 0),
            "members_in_build_t0": int(under.members or 0),
        }

    # ---- IVF-kmeans nlist scaling (the other deployment knob): hold
    # per-cell occupancy at its base value — nlist ≈ n / target_cell
    from processor_spark.operators.similarity import IVFK_NLIST, ivf_kmeans_topk

    target_cell = max(1.0, n_base / float(IVFK_NLIST))
    nlist_scaled = max(IVFK_NLIST, round(n / target_cell))
    truth_l2 = (
        {(r.q_id, r.neighbor_id) for r in exact_l2_topk(spark).collect()}
        if ONLY in (None, "ivf", "twolevel")
        else set()
    )
    result["ivf_target_cell"] = round(target_cell, 1)
    for tag, nlist in (("ivf_fixed_nlist", IVFK_NLIST), ("ivf_scaled_nlist", nlist_scaled)) if ONLY in (None, "ivf") else ():
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = ivf_kmeans_topk(spark, DST, nlist=nlist)
        rec = recall_against(truth_l2, df)
        result[tag] = {
            "nlist": nlist,
            "recall_at_5": round(rec, 4),
            "wall_s": round(time.perf_counter() - t0, 2),
        }

    # ---- filtered ANN (r9): the predicate/nprobe recall interaction.
    # Ground truth = exact same-label integer-L2 top-K; the filtered
    # pipeline runs at the UNfiltered probe width (nprobe=2) and the
    # widened IVFK_NPROBE_F — the gap is why filtered serving probes
    # more cells.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import (
        IVF_NPROBE,
        IVFK_NPROBE_F,
        KNN_K,
        KNN_QUERIES,
        _int_sqdist,
        _micro_arr,
        ivf_kmeans_filtered_topk,
    )

    # ---- IVF-PQ composite (r10): does the composite hold recall at
    # 64x under the same nlist re-parameterization, and how much does
    # the exact-refine stage recover over raw ADC ranking?
    if ONLY in (None, "ivfpq"):
        from processor_spark.operators.similarity import (
            ivfpq_adc_topk,
            ivfpq_refine_topk,
            ivfpq_res_adc_topk,
            ivfpq_res_refine_topk,
        )

        truth_pq = truth_l2 or {
            (r.q_id, r.neighbor_id) for r in exact_l2_topk(spark).collect()
        }
        for tag, fn, nl, kw in (
            ("ivfpq_adc_fixed", ivfpq_adc_topk, IVFK_NLIST, {}),
            # residual encoding (r11): same code budget, codebook covers
            # the cell-radius ball — ADC-only rows to compare against
            # the raw-vector ADC floor; the m_sub rows raise the code
            # budget (m_sub*4 bits/vector), the production knob once
            # cell occupancy makes 16-bit ADC near-tie-dense
            ("ivfpq_res_adc_fixed", ivfpq_res_adc_topk, IVFK_NLIST, {}),
            ("ivfpq_res_adc_m16", ivfpq_res_adc_topk, IVFK_NLIST,
             {"m_sub": 16}),
            ("ivfpq_res_adc_m16_scaled", ivfpq_res_adc_topk, nlist_scaled,
             {"m_sub": 16}),
            ("ivfpq_refine_fixed", ivfpq_refine_topk, IVFK_NLIST, {}),
            ("ivfpq_refine_scaled", ivfpq_refine_topk, nlist_scaled, {}),
            # residual candidates + exact refine at the SAME r: where
            # the encoding's candidate quality shows up in deployment
            ("ivfpq_res_refine_fixed", ivfpq_res_refine_topk, IVFK_NLIST, {}),
            ("ivfpq_res_refine_m16", ivfpq_res_refine_topk, IVFK_NLIST,
             {"m_sub": 16}),
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = fn(spark, DST, nlist=nl, **kw)
            rec = recall_against(truth_pq, df)
            result[tag] = {
                "nlist": nl,
                **kw,
                "recall_at_5": round(rec, 4),
                "wall_s": round(time.perf_counter() - t0, 2),
            }

    # ---- SemDeDup nlist scaling (r11): the within-cell pair stage is
    # O(occupancy²) per cell, so fixed nlist goes quadratic as the
    # corpus grows; re-parameterizing nlist ≈ n / target_cell holds
    # occupancy constant and keeps total pair work linear.  The
    # jittered replicas land inside SEMDEDUP_EPS of their originals,
    # so n_dropped also shows the dedup actually firing at N×.
    if ONLY in (None, "semdedup"):
        from processor_spark.operators.similarity import semdedup_verdicts

        for tag, nl, src in (
            ("semdedup_base", IVFK_NLIST, SRC),
            ("semdedup_fixed_nlist", IVFK_NLIST, DST),
            ("semdedup_scaled_nlist", nlist_scaled, DST),
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pdf = semdedup_verdicts(spark, src, nlist=nl).toPandas()
            result[tag] = {
                "nlist": nl,
                "n_vecs": int(len(pdf)),
                "n_dropped": int((pdf["kept"] == 0).sum()),
                "wall_s": round(time.perf_counter() - t0, 2),
            }

    # ---- r12: two-level coarse quantizer for the assign stage + the
    # derived-nlist defaults.  Separate sections so the r11-comparable
    # tags above (incl. the known-2,321 s fixed row) need not re-run.
    if ONLY in (None, "twolevel"):
        for tag, kwargs in (
            ("ivf_scaled_flat", {"nlist": nlist_scaled, "two_level": False}),
            ("ivf_scaled_twolevel", {"nlist": nlist_scaled, "two_level": True}),
            ("ivf_derived_default", {}),  # no manual nlist: derives + routes
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            df = ivf_kmeans_topk(spark, DST, **kwargs)
            rec = recall_against(truth_l2, df)
            result[tag] = {
                **kwargs,
                "recall_at_5": round(rec, 4),
                "wall_s": round(time.perf_counter() - t0, 2),
            }

    if ONLY in (None, "semdedup2"):
        from processor_spark.operators.similarity import (
            q_semdedup_stats,
            semdedup_verdicts,
        )

        for tag, kwargs in (
            ("semdedup_scaled_flat", {"nlist": nlist_scaled, "two_level": False}),
            ("semdedup_scaled_twolevel", {"nlist": nlist_scaled, "two_level": True}),
            ("semdedup_derived_default", {}),  # no manual nlist
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pdf = semdedup_verdicts(spark, DST, **kwargs).toPandas()
            result[tag] = {
                **kwargs,
                "n_vecs": int(len(pdf)),
                "n_dropped": int((pdf["kept"] == 0).sum()),
                "wall_s": round(time.perf_counter() - t0, 2),
            }
        # q_semdedup_stats' own probe row (VERDICT r11 next #8): the
        # registered key verbatim — derived nlist + per-cell agg
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        pdf = q_semdedup_stats.__wrapped__(spark, DST).toPandas()
        result["semdedup_stats_derived"] = {
            "n_cells": int(len(pdf)),
            "n_dropped": int(pdf["n_dropped"].sum()),
            "wall_s": round(time.perf_counter() - t0, 2),
        }

    if ONLY not in (None, "filtered"):
        print(json.dumps(result))
        return
    ef = load(spark, DST, "embeddings", spread=True).select(
        "vec_id", "label", _micro_arr("embedding").alias("vm")
    )
    qf = ef.where(F.col("vec_id") <= KNN_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("q_label"),
        F.col("vm").alias("qm"),
    )
    wf = Window.partitionBy("q_id").orderBy("sq", "vec_id")
    truth_f = {
        (r.q_id, r.vec_id)
        for r in ef.crossJoin(F.broadcast(qf))
        .where((F.col("label") == F.col("q_label")) & (F.col("vec_id") != F.col("q_id")))
        .select("q_id", "vec_id", _int_sqdist(F.col("vm"), F.col("qm")).alias("sq"))
        .withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= KNN_K)
        .collect()
    }
    for tag, nprobe in (
        ("filtered_narrow_nprobe", IVF_NPROBE),
        ("filtered_wide_nprobe", IVFK_NPROBE_F),
    ):
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        df = ivf_kmeans_filtered_topk(spark, DST, nprobe=nprobe)
        rec = recall_against(truth_f, df)
        result[tag] = {
            "nprobe": nprobe,
            "recall_at_5": round(rec, 4),
            "wall_s": round(time.perf_counter() - t0, 2),
        }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
