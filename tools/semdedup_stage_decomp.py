#!/usr/bin/env python3
"""SemDeDup r13 stage decomposition at the 64x jittered layout: routed-rp3 train / assign / pair timings + Sigma-occ2 + max_occ (SCALE.md r13).  Requires the ann-bits 64x layout (run tools/ann_bits_probe.py first)."""

import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.session import build_session
from processor_spark.operators import similarity as S
from pyspark.sql import functions as F

DST = "/tmp/processor_spark-ann-bits-probe-64x"
spark = build_session(app_name="sd-decomp")
out = {}
for p in (1, 2):
    spark.catalog.clearCache()
    t0 = time.perf_counter()
    from processor_spark.sources.fixtures import load
    e = load(spark, DST, "embeddings", spread=True)
    vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))
    nlist = S.derived_nlist(spark, DST)
    cents = S._ivfk_cents(vecs, nlist, rprobe=S.TWOLEVEL_RPROBE_PAIR)
    _ = cents.toPandas()
    t1 = time.perf_counter()
    assign = S._assign_cells(vecs, cents, nlist, rprobe=S.TWOLEVEL_RPROBE_PAIR).persist()
    apdf = assign.select("vec_id", "cell").toPandas()
    t2 = time.perf_counter()
    occ = apdf["cell"].value_counts()
    verdicts = S._semdedup_from_assign(assign, S.SEMDEDUP_EPS)
    vpdf = verdicts.toPandas()
    t3 = time.perf_counter()
    assign.unpersist()
    out[f"pass{p}"] = {
        "train_s": round(t1 - t0, 1),
        "assign_s": round(t2 - t1, 1),
        "pairs_s": round(t3 - t2, 1),
        "total_s": round(t3 - t0, 1),
        "occ2_M": round(float((occ.astype("int64") ** 2).sum()) / 1e6, 1),
        "max_occ": int(occ.max()),
        "n_dropped": int((vpdf["kept"] == 0).sum()),
        "nlist": nlist,
    }
    print(json.dumps(out[f"pass{p}"]), flush=True)
print(json.dumps(out))
