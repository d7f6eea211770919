#!/usr/bin/env python3
"""Tile-width sweep for the numpy flat assign at nlist=8192 under the
one tile rule of similarity._sq_tiles: a width w gives 2·w-row × w-column
distance tiles, and similarity.NUMPY_CENT_BLOCK = 1024 (2048 × 1024,
16 MB) is the measured choice.  The r14-close rows (2048-row chunks:
42-48 s single-block, 13.0-17.8 s at width 2048, 4.7-7.6 s at 1024,
6.5-7.7 s at 512) came from tools/flat_blkwidth_probe.py@dbad5c1; its
single-block leg has no tile-rule twin (an 8192-wide tile spans a
whole 10,000-row Arrow batch: ~2 GB of temporaries per task), so the
sweep stops at 2048.  Requires the ann-bits 64x layout
(tools/ann_bits_probe.py).

Usage: python3 tools/flat_blkwidth_probe.py [width ...]   (default 512 1024 2048)"""
import json, os, sys, time
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from processor_spark.session import build_session
from processor_spark.operators import similarity as S
from processor_spark.sources.fixtures import load
DST = "/tmp/processor_spark-ann-bits-probe-64x"
spark = build_session(app_name="blkwidth")
e = load(spark, DST, "embeddings", spread=True)
vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))
rows = [(1 + i, [int(x) for x in r.vm]) for i, r in enumerate(vecs.orderBy("vec_id").limit(8192).collect())]
cents = spark.createDataFrame(rows, "cid long, cm array<bigint>")
_ = S._numpy_flat_assign(vecs, spark.createDataFrame(rows[:80], "cid long, cm array<bigint>")).select("vec_id","cell").toPandas()
out = {}
WIDTHS = [int(a) for a in sys.argv[1:]] or [512, 1024, 2048]
for rnd in (1, 2):
    for width in WIDTHS:
        S.NUMPY_CENT_BLOCK = width
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        S._numpy_flat_assign(vecs, cents).select("vec_id","cell").toPandas()
        w = round(time.perf_counter() - t0, 1)
        out.setdefault(width, []).append(w)
        print(json.dumps({"round": rnd, "width": width, "wall": w}), flush=True)
print(json.dumps(out))
