#!/usr/bin/env python3
"""Flat-vs-routed ladder RE-RUN at the measured block width (1024):
blocked exact flat vs numpy-routed rp3 at nlist in {2048, 8192,
32768} - flat wins the whole span (2.4/1.9, 5.5/6.6, 11.5/41-46 s),
so NUMPY_FLAT_MAX_NLIST rose to 32768 (the routed impl's per-group
gather loop degrades with ncoarse).  Width 1024 is the default tile of
similarity._sq_tiles.  Companion to flat_crossover_probe.py
(its nlist 512-4096 twin, which located the crossover of the untiled
flat assign, is tools/flat_crossover_probe2.py@dbad5c1); requires the
ann-bits 64x layout."""
import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.session import build_session
from processor_spark.operators import similarity as S
from processor_spark.sources.fixtures import load
DST = "/tmp/processor_spark-ann-bits-probe-64x"
spark = build_session(app_name="blkladder")
e = load(spark, DST, "embeddings", spread=True)
vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))
rows_all = [(1 + i, [int(x) for x in r.vm]) for i, r in enumerate(vecs.orderBy("vec_id").limit(32768).collect())]
_ = S._numpy_flat_assign(vecs, spark.createDataFrame(rows_all[:80], "cid long, cm array<bigint>")).select("vec_id","cell").toPandas()
S.NUMPY_CENT_BLOCK = 1024
out = {}
for nlist in (2048, 8192, 32768):
    rows = rows_all[:nlist]
    cents = spark.createDataFrame(rows, "cid long, cm array<bigint>")
    for rnd in (1, 2):
        for name, build in (
            ("flat_b1024", lambda: S._numpy_flat_assign(vecs, cents)),
            ("np_rp3", lambda: S._numpy_routed_assign(vecs, cents, rprobe=3)),
        ):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            build().select("vec_id","cell").toPandas()
            w = round(time.perf_counter() - t0, 1)
            out.setdefault(f"nlist={nlist}", {}).setdefault(name, []).append(w)
            print(json.dumps({"nlist": nlist, "round": rnd, name: w}), flush=True)
print(json.dumps(out))
