#!/usr/bin/env python3
"""Streaming-SemDeDup state-rewrite cost probe (VERDICT r11 next #5).

The per-cell state is the cell's full membership (ids + flattened
micro-unit vectors) and applyInPandasWithState rewrites it whole on
every micro-batch that touches the cell — the API has no ListState
here (transformWithStateInPandas is protobuf-gated in this container).
This probe MEASURES the per-batch ingest cost as cells fill to the
occupancy bound instead of hand-waving it: it streams the sf
embeddings corpus in K equal chunks (maxFilesPerTrigger=1 → one
micro-batch per chunk) through semdedup_stream_flags and records each
batch's triggerExecution duration from the StreamingQueryProgress
feed.  Under the nlist = n / TARGET_CELL rule a cell's membership is
bounded at ~TARGET_CELL × d int64 ≈ 128 KB, so the rewrite cost per
batch should plateau, not grow with corpus age — the adjudication row
for SCALE.md.

Usage: python3 tools/semdedup_stream_state_probe.py [n_chunks]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_CHUNKS = int(sys.argv[1]) if len(sys.argv) > 1 else 16
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    from pyspark.sql import types as T

    from processor_spark.operators.similarity import (
        _cents_np,
        _ivfk_cents,
        _micro_arr,
    )
    from processor_spark.session import build_session
    from processor_spark.sources import load
    from processor_spark.streaming import pipelines as P

    spark = build_session(app_name="processor_spark-semdedup-state-probe")
    work = tempfile.mkdtemp(prefix="semdedup-state-probe-")
    chunks = os.path.join(work, "inbox")
    ckpt = os.path.join(work, "ckpt")
    os.makedirs(chunks)

    pdf = load(spark, SRC, "embeddings").toPandas().sort_values("vec_id")
    n = len(pdf)
    step = (n + N_CHUNKS - 1) // N_CHUNKS
    for i in range(N_CHUNKS):
        pdf.iloc[i * step : (i + 1) * step].to_parquet(
            os.path.join(chunks, f"chunk_{i:03d}.parquet"), index=False
        )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    static = spark.read.schema(schema).parquet(chunks)
    cents = _cents_np(
        _ivfk_cents(static.select("vec_id", _micro_arr("embedding").alias("vm")))
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunks)
    )
    sunk = []

    def sink(batch_df, batch_id):
        sunk.append((batch_id, batch_df.count()))

    q = (
        P.semdedup_stream_flags(stream, cents)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    if q.isActive:
        q.stop()
    # per-batch trigger durations, in arrival order: state membership
    # grows batch over batch, so a rewrite-dominated cost curve would
    # RISE across this series
    prog = [json.loads(p.json) for p in q.recentProgress]
    batches = [
        {
            "batch_id": p["batchId"],
            "rows": p.get("numInputRows", 0),
            "trigger_ms": p["durationMs"].get("triggerExecution"),
        }
        for p in prog
        if p.get("numInputRows", 0) > 0
    ]
    head = [b["trigger_ms"] for b in batches[:4]]
    tail = [b["trigger_ms"] for b in batches[-4:]]
    result = {
        "src": SRC,
        "n_vectors": int(n),
        "n_chunks": N_CHUNKS,
        "rows_per_chunk": step,
        "batches": batches,
        "head4_mean_ms": round(sum(head) / max(1, len(head)), 1),
        "tail4_mean_ms": round(sum(tail) / max(1, len(tail)), 1),
        "tail_over_head": round(
            (sum(tail) / max(1, len(tail))) / max(1.0, sum(head) / max(1, len(head))),
            2,
        ),
    }
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
