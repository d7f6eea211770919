#!/usr/bin/env python3
"""Fold-only (retrain=False) compaction cost at the post-retrain
64×/nlist=512 streaming layout (r14): the pre-r14 path re-derived
every vector's cell with the flat _ivfa_assign crossJoin — O(n·nlist)
distance work for information already encoded in each leaf file's
cell= directory.  A/B: the old rederive-fold vs the new
parse-partition-from-path fold, same snapshot file set, writes to
throwaway stages; then the real compact_ivf_stream_index(retrain=False)
end-to-end and a fold-vs-rederive cell equality check.

Usage: python3 tools/compact_fold_probe.py [n_chunks] [n_post]
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CHUNKS = int(sys.argv[1]) if len(sys.argv) > 1 else 8
N_POST = int(sys.argv[2]) if len(sys.argv) > 2 else 4
DST = "/tmp/processor_spark-ann-bits-probe-64x"


def main() -> None:
    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import (
        _ivfa_assign,
        write_partitioned,
    )
    from processor_spark.session import build_session
    from processor_spark.sources.fixtures import load
    from processor_spark.streaming import pipelines as P
    from tools.jittered_layout import build_layout

    spark = build_session(app_name="compact-fold-probe")
    build_layout(spark)
    work = tempfile.mkdtemp(prefix="compact-fold-")
    inbox = os.path.join(work, "inbox")
    os.makedirs(inbox)
    path = os.path.join(work, "ivf")
    ckpt = os.path.join(work, "ckpt")

    pdf = (
        load(spark, DST, "embeddings")
        .select("vec_id", F.lit(0).cast("int").alias("label"), "embedding")
        .toPandas()
        .sort_values("vec_id")
    )
    n = len(pdf)
    step = n // N_CHUNKS + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            os.path.join(inbox, f"chunk_{i:03d}.parquet"), index=False
        )
    P.stream_ivf_ingest(spark, inbox, path, ckpt, timeout_s=600)
    P.compact_ivf_stream_index(spark, path, retrain=True)
    post = pdf.head(N_POST * step).copy()
    post["vec_id"] = post["vec_id"] + 1_000_000_000
    for i in range(N_POST):
        post.iloc[i * step : (i + 1) * step].to_parquet(
            os.path.join(inbox, f"post_{i:03d}.parquet"), index=False
        )
    P.stream_ivf_ingest(spark, inbox, path, ckpt, timeout_s=600)
    root = os.path.join(path, "assignments")
    files = P._snapshot_parquet_files(root)
    cents = spark.read.parquet(os.path.join(path, "centroids"))
    print(json.dumps({"gens": len(os.listdir(root)), "leaf_files": len(files),
                      "nlist": cents.count()}), flush=True)

    def vecs_frame():
        return (
            spark.read.schema("vec_id bigint, vm array<bigint>")
            .parquet(*files)
            .select("vec_id", "vm")
        )

    # OLD: rederive cells via the flat crossJoin
    t0 = time.perf_counter()
    old_out = os.path.join(work, "old-fold")
    write_partitioned(
        _ivfa_assign(vecs_frame(), cents).select("vec_id", "cell", "vm"),
        old_out, "cell",
    )
    old_s = round(time.perf_counter() - t0, 1)
    print(json.dumps({"fold_rederive_s": old_s}), flush=True)

    # NEW: parse the cell from the leaf file path
    t0 = time.perf_counter()
    new_out = os.path.join(work, "new-fold")
    write_partitioned(
        vecs_frame().withColumn(
            "cell",
            F.regexp_extract(F.input_file_name(), r"cell=([0-9]+)", 1)
            .cast("long"),
        ).select("vec_id", "cell", "vm"),
        new_out, "cell",
    )
    new_s = round(time.perf_counter() - t0, 1)
    print(json.dumps({"fold_parse_s": new_s}), flush=True)

    # the old rederive is NOT cell-preserving: gen=0 was assigned by
    # the retrain's ROUTED _assign_cells (auto two-level at nlist=512)
    # while _ivfa_assign rederives FLAT — boundary vectors silently
    # moved cells on every fold-only compaction (r14 finding; the
    # fixture-floor tests run flat==flat and never saw it).  Report
    # the moved count instead of asserting equality.
    a = spark.read.parquet(old_out).selectExpr("vec_id", "cell AS c_old")
    b = spark.read.parquet(new_out).selectExpr("vec_id", "cell AS c_new")
    moved = a.join(b, "vec_id").where("c_old <> c_new").count()
    print(json.dumps({"rederive_moved_cells": int(moved)}), flush=True)

    # the real end-to-end compact (swap included)
    t0 = time.perf_counter()
    P.compact_ivf_stream_index(spark, path, retrain=False)
    print(json.dumps({"compact_fold_end_to_end_s":
                      round(time.perf_counter() - t0, 1)}), flush=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
