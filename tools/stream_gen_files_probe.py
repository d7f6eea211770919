#!/usr/bin/env python3
"""Per-generation leaf-file counts for the streaming IVF ingest at the
post-retrain 128k/nlist=512 layout (VERDICT r13 weak #1 done-criterion).

r13 measured the batch-side spray class at 56,161 files (every write
task emits a file into every partition dir it holds rows for) and fixed
the batch builders with write_partitioned; the streaming per-generation
sinks missed the fix.  This probe prices the STREAMING scenario the
verdict named: ingest the 64× corpus, retrain (derives nlist=512), then
ingest fresh post-retrain chunks and count leaf files per new
generation under (a) the clustered sink now in stream_ivf_ingest and
(b) a raw `.write.partitionBy("cell")` twin of the same assignment
frame — plus serve wall-clock against the accumulated generations.

Usage: python3 tools/stream_gen_files_probe.py [n_chunks] [n_post] [repl]
Prints JSON lines (the SCALE.md r14 rows).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CHUNKS = int(sys.argv[1]) if len(sys.argv) > 1 else 8
N_POST = int(sys.argv[2]) if len(sys.argv) > 2 else 4
REPL = int(sys.argv[3]) if len(sys.argv) > 3 else 64
DST = f"/tmp/processor_spark-ann-bits-probe-{REPL}x"


def count_leaf_files(root: str) -> dict:
    out: dict[str, int] = {}
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            rel = os.path.relpath(dirpath, root)
            gen = rel.split(os.sep)[0] if rel != "." else "."
            out[gen] = out.get(gen, 0) + n
    return out


def main() -> None:
    from pyspark.sql import functions as F

    from processor_spark.session import build_session
    from processor_spark.sources.fixtures import load
    from processor_spark.streaming import pipelines as P
    from tools.jittered_layout import build_layout

    spark = build_session(app_name="stream-gen-files-probe")
    build_layout(spark, REPL)
    work = tempfile.mkdtemp(prefix="stream-gen-files-")
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

    t0 = time.perf_counter()
    P.stream_ivf_ingest(spark, inbox, path, ckpt)
    print(json.dumps({"ingest_base_s": round(time.perf_counter() - t0, 1),
                      "n_vecs": n}), flush=True)

    t0 = time.perf_counter()
    P.compact_ivf_stream_index(spark, path, retrain=True)
    # the retrain folds into one generation named for the high-water
    # batch id; every generation above it is a post-retrain arrival
    folded = f"gen={P._gen_ids(os.path.join(path, 'assignments'))[-1]}"
    nlist = spark.read.parquet(os.path.join(path, "centroids")).count()
    print(json.dumps({"retrain_s": round(time.perf_counter() - t0, 1),
                      "derived_nlist": int(nlist)}), flush=True)

    # post-retrain arrivals: fresh ids, same distribution
    post = pdf.head(N_POST * step).copy()
    post["vec_id"] = post["vec_id"] + 1_000_000_000
    for i in range(N_POST):
        post.iloc[i * step : (i + 1) * step].to_parquet(
            os.path.join(inbox, f"post_{i:03d}.parquet"), index=False
        )
    t0 = time.perf_counter()
    P.stream_ivf_ingest(spark, inbox, path, ckpt)
    ingest_post_s = round(time.perf_counter() - t0, 1)
    counts = count_leaf_files(os.path.join(path, "assignments"))
    post_gens = {g: c for g, c in counts.items() if g != folded}
    print(json.dumps({
        "ingest_post_s": ingest_post_s,
        "files_per_gen_clustered": counts,
        "post_gen_total_files": sum(post_gens.values()),
    }), flush=True)

    # raw twin: the identical assignment frame for ONE post-retrain
    # chunk written with plain partitionBy (the pre-r14 sink)
    from processor_spark.operators.similarity import _assign_cells, _micro_arr

    cents = spark.read.parquet(os.path.join(path, "centroids"))
    one = (
        spark.read.parquet(os.path.join(inbox, "post_000.parquet"))
        .select("vec_id", _micro_arr("embedding").alias("vm"))
    )
    raw_dir = os.path.join(work, "raw-twin")
    t0 = time.perf_counter()
    _assign_cells(one, cents, nlist, two_level=False).write.partitionBy(
        "cell"
    ).parquet(raw_dir)
    raw_s = round(time.perf_counter() - t0, 1)
    raw_files = sum(count_leaf_files(raw_dir).values())
    clustered_files = post_gens.get(
        sorted(post_gens)[0] if post_gens else "", 0
    )
    print(json.dumps({
        "one_gen_raw_files": raw_files,
        "one_gen_raw_write_s": raw_s,
        "one_gen_clustered_files": clustered_files,
    }), flush=True)

    # serve against the accumulated generations (folded + post gens)
    from processor_spark.operators.similarity import KNN_QUERIES

    qv = (
        load(spark, DST, "embeddings")
        .where(F.col("vec_id") <= KNN_QUERIES)
        .select(F.col("vec_id").alias("q_id"), _micro_arr("embedding").alias("qm"))
    )
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    rows = P.serve_ivf_stream_index(spark, path, qv).toPandas()
    print(json.dumps({"serve_s": round(time.perf_counter() - t0, 1),
                      "serve_rows": int(len(rows))}), flush=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
