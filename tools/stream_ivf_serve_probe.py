#!/usr/bin/env python3
"""Wall, jobs, stages, tasks and result md5 of ``serve_ivf_stream_index``
over a many-generation stream IVF index.

Layout: 200,000 vectors, d=64, micro-units of uniform [-1, 1)
coordinates (seed 11), assigned to their nearest of 8 centroids (the
first 8 vectors), published as 20 generations of 10,000 vectors with
one parquet file per ``gen=/cell=`` dir (160 dirs), written with
pyarrow.  Queries: the first 64 vectors as a local frame (q_id =
vec_id, so each query's own vector sits in a probed cell), in PARTS
partitions.  One cold pass, then PASSES timed passes of
``serve_ivf_stream_index(...).toPandas()``; jobs, stages and tasks are
those of the last pass, counted from the call to the end of the
collect (stages skipped on reuse of a shuffle are not counted).

Usage: python3 tools/stream_ivf_serve_probe.py [PARTS] [PASSES]
(defaults 4 and 3).  Prints one JSON line: parts, cold_s, warm_s,
jobs, stages, tasks, rows, md5 (of the sorted rows).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N, D, GENS, NLIST, NQ = 200_000, 64, 20, 8, 64


def _layout(path: str):
    """Write the index under ``path``; return the query rows."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    vm = np.floor((rng.uniform(-1, 1, (N, D)) + 2.0) * 1e6 + 0.5).astype(np.int64)
    ids = np.arange(1, N + 1, dtype=np.int64)
    C = vm[:NLIST].astype(np.float64)
    V = vm.astype(np.float64)
    sq = (V * V).sum(1)[:, None] + (C * C).sum(1)[None, :] - 2.0 * (V @ C.T)
    cell = sq.argmin(axis=1) + 1
    os.makedirs(os.path.join(path, "centroids"))
    pq.write_table(
        pa.table({"cid": np.arange(1, NLIST + 1, dtype=np.int64), "cm": list(vm[:NLIST])}),
        os.path.join(path, "centroids", "part-0.parquet"),
    )
    per = N // GENS
    for g in range(GENS):
        lo = g * per
        for c in range(1, NLIST + 1):
            rows = lo + np.flatnonzero(cell[lo : lo + per] == c)
            d = os.path.join(path, "assignments", f"gen={g}", f"cell={c}")
            os.makedirs(d)
            pq.write_table(
                pa.table({"vec_id": ids[rows], "vm": list(vm[rows])}),
                os.path.join(d, "part-0.parquet"),
            )
    return [(int(i), [int(x) for x in v]) for i, v in zip(ids[:NQ], vm[:NQ])]


def main() -> None:
    from processor_spark.session import build_session
    from processor_spark.streaming import pipelines as P

    parts = int(sys.argv[1]) if len(sys.argv) > 1 else 4
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = build_session(app_name="stream-ivf-serve-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    next_job = sc._jsc.sc().dagScheduler().nextJobId
    work = tempfile.mkdtemp(prefix="stream-ivf-serve-")
    try:
        path = os.path.join(work, "ivf")
        queries = _layout(path)
        qdf = spark.createDataFrame(queries, "q_id bigint, qm array<bigint>").coalesce(parts)
        assert qdf.rdd.getNumPartitions() == parts
        walls = []
        for _ in range(passes + 1):
            j0, t0 = next_job(), time.perf_counter()
            pdf = P.serve_ivf_stream_index(spark, path, qdf).toPandas()
            walls.append(time.perf_counter() - t0)
            jobs = list(range(j0, next_job()))
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        info = [
            sc.statusTracker().getStageInfo(st)
            for j in jobs
            for st in sc.statusTracker().getJobInfo(j).stageIds
        ]
        ran = [s.numCompletedTasks for s in info if s and s.numCompletedTasks]
        rows = sorted(
            zip(*(pdf[c].astype("int64").tolist() for c in ("q_id", "neighbor_id", "sq_micro2", "rank")))
        )
        print(json.dumps({
            "parts": parts, "cold_s": round(walls[0], 3),
            "warm_s": [round(w, 3) for w in walls[1:]], "jobs": len(jobs),
            "stages": len(ran), "tasks": sum(ran),
            "rows": len(rows), "md5": hashlib.md5(repr(rows).encode()).hexdigest(),
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
