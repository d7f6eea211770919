#!/usr/bin/env python3
"""Crossover LOCATION companion to flat_crossover_probe.py: the first
probe showed exact numpy-flat losing to numpy-routed rp3 by 6-7x at
nlist=8192 (the r14 window's top edge — the nlist=512 evidence did not
extrapolate; the octave rule again).  This one walks nlist in
{512, 1024, 2048, 4096} with the two numpy legs only to locate where
routing starts winning.  Same layout/protocol as probe 1."""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.session import build_session
from processor_spark.operators import similarity as S
from processor_spark.sources.fixtures import load

DST = "/tmp/processor_spark-ann-bits-probe-64x"
spark = build_session(app_name="flat-crossover2")
e = load(spark, DST, "embeddings", spread=True)
vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))

seed_rows = [
    (1 + i, [int(x) for x in r.vm])
    for i, r in enumerate(vecs.orderBy("vec_id").limit(4096).collect())
]
_ = S._numpy_flat_assign(
    vecs, spark.createDataFrame(seed_rows[:80], "cid long, cm array<bigint>")
).select("vec_id", "cell").toPandas()

out = {}
for nlist in (512, 1024, 2048, 4096):
    rows = seed_rows[:nlist]
    cents = spark.createDataFrame(rows, "cid long, cm array<bigint>")
    for rnd in (1, 2):
        for name, build in (
            ("flat", lambda: S._numpy_flat_assign(vecs, cents)),
            ("np_rp3", lambda: S._numpy_routed_assign(vecs, cents, rprobe=3)),
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            pdf = build().select("vec_id", "cell").toPandas()
            w = round(time.perf_counter() - t0, 1)
            out.setdefault(f"nlist={nlist}", {}).setdefault(name, []).append(w)
            print(json.dumps({"nlist": nlist, "round": rnd, name: w}), flush=True)
print(json.dumps(out))
