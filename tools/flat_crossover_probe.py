#!/usr/bin/env python3
"""Where does the EXACT numpy-flat argmin stop beating routing?
(r14 close.)  NUMPY_FLAT_MAX_NLIST=8192 was set as a memory bound;
centroid BLOCKING (similarity.NUMPY_CENT_BLOCK) made per-task memory
flat in nlist, so the ceiling is now purely a distance-WORK crossover
— this probe measures it.  Three impls of the same assignment at the
64x layout (128k vectors), nlist in {8192, 32768}, seed centroids
(lowest vec_ids, the engine's seeding rule - training cost is
irrelevant to an assign-stage crossover, and occupancy does not enter
assign cost):

  flat     numpy blocked exact argmin      O(n*nlist) matmul
  np_rp3   numpy two-level rprobe=3        O(n*(ncoarse+3*nlist/ncoarse))
  cat_rp3  Catalyst two-level rprobe=3     same work, zip_with folds

Alternating legs, 2 rounds, consumer action (vec_id, cell toPandas);
leg-1 stream/codegen warmup burned by a throwaway nlist=80 assign."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.session import build_session
from processor_spark.operators import similarity as S
from processor_spark.sources.fixtures import load

DST = "/tmp/processor_spark-ann-bits-probe-64x"
spark = build_session(app_name="flat-crossover")
e = load(spark, DST, "embeddings", spread=True)
vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))

seed_rows = [
    (1 + i, [int(x) for x in r.vm])
    for i, r in enumerate(vecs.orderBy("vec_id").limit(32768).collect())
]

# warmup: burn Arrow/codegen/python-worker start on a tiny assign
_ = S._numpy_flat_assign(
    vecs, spark.createDataFrame(seed_rows[:80], "cid long, cm array<bigint>")
).select("vec_id", "cell").toPandas()

out = {}
for nlist in (8192, 32768):
    rows = seed_rows[:nlist]
    cents = spark.createDataFrame(rows, "cid long, cm array<bigint>")
    legs = {
        "flat": lambda: S._numpy_flat_assign(vecs, cents),
        "np_rp3": lambda: S._numpy_routed_assign(vecs, cents, rprobe=3),
        "cat_rp3": lambda: S._assign_cells(
            vecs, cents, nlist, two_level=True, rprobe=3
        ),
    }
    for rnd in (1, 2):
        for name, build in legs.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pdf = build().select("vec_id", "cell").toPandas()
            w = round(time.perf_counter() - t0, 1)
            out.setdefault(f"nlist={nlist}", {}).setdefault(name, []).append(w)
            print(
                json.dumps({"nlist": nlist, "round": rnd, name: w,
                            "rows": len(pdf)}),
                flush=True,
            )
print(json.dumps(out))
