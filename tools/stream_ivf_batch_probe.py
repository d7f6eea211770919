#!/usr/bin/env python3
"""Wall, jobs and leaf files of ONE steady stream IVF micro-batch.

A 2,000-vector first chunk trains the frozen centroids (nlist=8), then
one chunk of N random vectors at the fixture dimension (IVF_DIM=64) is
landed and ``stream_ivf_ingest`` is timed over that one micro-batch.
Also reports the chunk file's size and the partition count Spark reads
it with: at the default 4 MB ``openCostInBytes`` a file larger than
that splits into about defaultParallelism partitions, so the
one-partition write in ``write_partitioned`` applies only below it.

Usage: python3 tools/stream_ivf_batch_probe.py N [seed]
Prints one JSON line: n, file_bytes, partitions, ingest_s, jobs,
gen_files, cell_dirs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _chunk(path: str, lo: int, n: int, seed: int) -> None:
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    emb = rng.uniform(-1, 1, (n, 64)).astype(np.float32)
    pd.DataFrame(
        {
            "vec_id": np.arange(lo, lo + n, dtype=np.int64),
            "label": np.zeros(n, dtype=np.int32),
            "embedding": list(emb),
        }
    ).to_parquet(path, index=False)


def main() -> None:
    from processor_spark.session import build_session
    from processor_spark.streaming import pipelines as P

    n = int(sys.argv[1])
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    spark = build_session(app_name="stream-ivf-batch-probe")
    spark.sparkContext.setLogLevel("ERROR")
    next_job = spark.sparkContext._jsc.sc().dagScheduler().nextJobId
    work = tempfile.mkdtemp(prefix="stream-ivf-batch-")
    try:
        inbox, path, ckpt = (os.path.join(work, d) for d in ("inbox", "ivf", "ckpt"))
        os.makedirs(inbox)
        _chunk(os.path.join(inbox, "chunk_00.parquet"), 1, 2000, seed)
        P.stream_ivf_ingest(spark, inbox, path, ckpt)  # trains the centroids
        steady = os.path.join(inbox, "chunk_01.parquet")
        _chunk(steady, 2001, n, seed + 1)
        parts = spark.read.parquet(steady).rdd.getNumPartitions()
        j0, t0 = next_job(), time.perf_counter()
        P.stream_ivf_ingest(spark, inbox, path, ckpt)
        wall, jobs = time.perf_counter() - t0, next_job() - j0
        gen = os.path.join(path, "assignments", f"gen={max(P._gen_ids(os.path.join(path, 'assignments')))}")
        cells = [d for d in os.listdir(gen) if d.startswith("cell=")]
        files = sum(
            f.endswith(".parquet") for d in cells for f in os.listdir(os.path.join(gen, d))
        )
        print(json.dumps({
            "n": n, "file_bytes": os.path.getsize(steady), "partitions": parts,
            "ingest_s": round(wall, 3), "jobs": jobs, "gen_files": files,
            "cell_dirs": len(cells),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
