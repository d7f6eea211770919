#!/usr/bin/env python3
"""The monitored-retrain COMPOSITE at the 64×/nlist=512 layout
(VERDICT r13 next #3): r13 priced the components (retrain 49.7 s,
assignment ~1.5 s/batch) but never the policy loop.  One probe run
prices the loop end-to-end:

1. epoch-0 retrain on the full 128k log (derives nlist=512),
2. monitored QUIET pass — the full-log replay through the fresh
   epoch-0 checkpoint + the per-batch arrival histogram (must NOT
   trip: these are the training rows; also exercises the r14
   null-normalized gate at m=128k → floor),
3. monitored SHIFTED pass — one fresh +0.75-shifted chunk arrives
   (m=16k against nlist=512): trigger fires, retrain runs IN-PASS
   (epoch 1 on 144k),
4. monitored post-retrain pass — full-log replay under epoch 1 (must
   NOT re-trip: the new baseline contains the shifted rows — the
   no-cooldown adjudication at scale).

Usage: python3 tools/semdedup_monitored_probe.py [n_chunks] [repl]
Prints JSON lines (the SCALE.md r14 row).
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
REPL = int(sys.argv[2]) if len(sys.argv) > 2 else 64
DST = f"/tmp/processor_spark-ann-bits-probe-{REPL}x"


def main() -> None:
    import numpy as np
    from pyspark.sql import functions as F

    from processor_spark.session import build_session
    from processor_spark.sources.fixtures import load
    from processor_spark.streaming import pipelines as P
    from tools.jittered_layout import build_layout

    spark = build_session(app_name="semdedup-monitored-probe")
    build_layout(spark, REPL)
    work = tempfile.mkdtemp(prefix="semdedup-monitored-")
    inbox = os.path.join(work, "inbox")
    os.makedirs(inbox)
    root = os.path.join(work, "semstream")

    pdf = (
        load(spark, DST, "embeddings")
        .select("vec_id", "embedding", F.lit(0).cast("int").alias("label"))
        .toPandas()
        .sort_values("vec_id")
    )
    n = len(pdf)
    step = n // N_CHUNKS + 1
    for i, lo in enumerate(range(0, n, step)):
        pdf.iloc[lo : lo + step].to_parquet(
            os.path.join(inbox, f"chunk_{i:03d}.parquet"), index=False
        )

    sunk = {"rows": 0}

    def sink(batch_df, batch_id):
        sunk["rows"] += batch_df.count()

    t0 = time.perf_counter()
    epoch = P.retrain_semdedup_stream(spark, inbox, root)
    nlist = P._semdedup_epoch(root)["nlist"]
    print(json.dumps({"retrain0_s": round(time.perf_counter() - t0, 1),
                      "epoch": epoch, "nlist": int(nlist), "n_vecs": n}),
          flush=True)

    t0 = time.perf_counter()
    res = P.run_semdedup_stream_monitored(spark, inbox, root, sink)
    print(json.dumps({"quiet_replay_s": round(time.perf_counter() - t0, 1),
                      "drift_stat": round(res["drift_stat"], 4),
                      "gate": round(res["gate"], 4),
                      "retrained": res["retrained"],
                      "rows_seen": sunk["rows"]}), flush=True)
    assert not res["retrained"], res

    shifted = pdf.head(step).copy()
    shifted["vec_id"] = shifted["vec_id"] + 1_000_000_000
    shifted["embedding"] = [
        (np.asarray(e, dtype=np.float32) + np.float32(0.75))
        for e in shifted["embedding"]
    ]
    shifted.to_parquet(os.path.join(inbox, "shift_000.parquet"), index=False)
    sunk["rows"] = 0
    t0 = time.perf_counter()
    res = P.run_semdedup_stream_monitored(spark, inbox, root, sink)
    print(json.dumps({"trigger_pass_s": round(time.perf_counter() - t0, 1),
                      "drift_stat": round(res["drift_stat"], 4),
                      "gate": round(res["gate"], 4),
                      "retrained": res["retrained"],
                      "epoch": res["epoch"],
                      "rows_seen": sunk["rows"]}), flush=True)
    assert res["retrained"], res

    sunk["rows"] = 0
    t0 = time.perf_counter()
    res = P.run_semdedup_stream_monitored(spark, inbox, root, sink)
    print(json.dumps({"post_retrain_replay_s": round(time.perf_counter() - t0, 1),
                      "drift_stat": round(res["drift_stat"], 4),
                      "gate": round(res["gate"], 4),
                      "retrained": res["retrained"],
                      "rows_seen": sunk["rows"]}), flush=True)
    assert not res["retrained"], res
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
