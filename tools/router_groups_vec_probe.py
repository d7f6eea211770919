#!/usr/bin/env python3
"""r14-opt: re-measure the routed assignment ladder after
_router_groups_np's fine->seed routing went vectorized (the pure-python
loop measured 42.2 s driver-side at nlist=32768 — the real cliff
behind the r14-close "routed degrades with ncoarse" rows; the
per-group gather loop was only ~3 s single-threaded).

Layout and protocol of tools/flat_crossover_probe.py: 64x jittered
embeddings (128k vectors), seed centroids, alternating legs x 2
rounds, consumer action toPandas, clearCache between legs.  The flat
leg is UNTOUCHED by the change and serves as the in-run machine-hour
control against the r14-close rows (SCALE.md).  cat_rp3 (Catalyst
routed) computes its groups Spark-side and is unaffected — omitted.
The r14-opt np_rp3 leg (a row-list front to the same kernel) is gone
with that front; np_routed_rp3 is the kernel it fronted.

Driver-side _router_groups_np is additionally timed standalone per
nlist (the component the change targets).
"""

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.operators import similarity as S
from processor_spark.session import build_session
from processor_spark.sources.fixtures import load
from tools.canary import canary

DST = "/tmp/processor_spark-ann-bits-probe-64x"
spark = build_session(app_name="router-groups-vec")
e = load(spark, DST, "embeddings", spread=True)
vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))

seed_rows = [
    (1 + i, [int(x) for x in r.vm])
    for i, r in enumerate(vecs.orderBy("vec_id").limit(32768).collect())
]

_ = (
    S._numpy_flat_assign(
        vecs, spark.createDataFrame(seed_rows[:80], "cid long, cm array<bigint>")
    )
    .select("vec_id", "cell")
    .toPandas()
)

out = {"canary": canary(), "loadavg_1m": round(os.getloadavg()[0], 2)}
for nlist in (8192, 32768):
    rows = seed_rows[:nlist]
    cents = spark.createDataFrame(rows, "cid long, cm array<bigint>")
    C = np.asarray([cm for _, cm in rows], dtype=np.float64)
    t0 = time.perf_counter()
    S._router_groups_np(C)
    out.setdefault(f"nlist={nlist}", {})["router_groups_driver_s"] = round(
        time.perf_counter() - t0, 2
    )
    legs = {
        "flat": lambda: S._numpy_flat_assign(vecs, cents),
        "np_routed_rp3": lambda: S._numpy_routed_assign(vecs, cents, rprobe=3),
    }
    for rnd in (1, 2):
        for name, build in legs.items():
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pdf = build().select("vec_id", "cell").toPandas()
            w = round(time.perf_counter() - t0, 1)
            out[f"nlist={nlist}"].setdefault(name, []).append(w)
            print(
                json.dumps({"nlist": nlist, "round": rnd, name: w, "rows": len(pdf)}),
                flush=True,
            )
print(json.dumps(out))
