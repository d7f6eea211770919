#!/usr/bin/env python3
"""Batch-side exact-flat-via-numpy vs routed-rp3 A/B at 64×/nlist=512
(r14): the two-level router exists because the CATALYST flat argmin is
O(n·nlist) expensive (79.2 s at 64× — SCALE.md r12), but the r13
streaming work showed a closure-captured numpy matmul does the SAME
exact flat argmin in ~ms per Arrow batch.  If batch-side numpy-flat
matches routed wall-clock, the [TWOLEVEL_MIN_NLIST, NUMPY_FLAT_MAX_
NLIST] auto window can be EXACT (better dedup quality, perfectly
balanced cells, matches the flat SQL oracle at any scale) and the
batch/stream auto-policy divergence (ADVICE r13 #4) closes itself.

Leg A: the current production default — semdedup_verdicts() (routed
rp3 train + assign).  Leg B: numpy-flat end-to-end prototype (numpy
Lloyd argmin + numpy corpus assign over the same seed rule, then the
shared pair/verdict stage).  Alternating legs, 2 passes each.

Usage: python3 tools/batch_numpy_flat_probe.py [passes]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 2
DST = "/tmp/processor_spark-ann-bits-probe-64x"


def main() -> None:
    from pyspark.sql import functions as F

    from processor_spark.caching import scoped_persist
    from processor_spark.operators import similarity as S
    from processor_spark.session import build_session
    from processor_spark.sources.fixtures import load
    from tools.jittered_layout import build_layout

    spark = build_session(app_name="batch-numpy-flat-probe")
    build_layout(spark)

    def leg_routed():
        t0 = time.perf_counter()
        pdf = S.semdedup_verdicts(spark, DST).toPandas()
        return round(time.perf_counter() - t0, 1), int((pdf["kept"] == 0).sum())

    def leg_numpy_flat():
        t0 = time.perf_counter()
        e = load(spark, DST, "embeddings", spread=True)
        vecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))
        nlist = S.derived_nlist(spark, DST)
        seeds = vecs.where(F.col("vec_id") < nlist).select(
            F.col("vec_id").alias("cid"), F.col("vm").alias("cm")
        )
        # numpy Lloyd argmin (exact flat), then exact integer means —
        # the same cmeans code _ivfk_cents runs
        a0 = S._numpy_flat_assign(vecs, seeds).select(
            F.col("cell").alias("cid"), "vm"
        )
        cents = (
            a0.select("cid", F.posexplode("vm").alias("pos", "m"))
            .groupBy("cid", "pos")
            .agg(F.sum("m").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("cid", "pos", F.expr("s div n").alias("nm"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "nm"))),
                    lambda s: s["nm"],
                ).alias("cm")
            )
        )
        assign = scoped_persist(
            S._numpy_flat_assign(vecs, cents).select("vec_id", "cell", "vm")
        )
        pdf = S._semdedup_from_assign(assign, S.SEMDEDUP_EPS).toPandas()
        return round(time.perf_counter() - t0, 1), int((pdf["kept"] == 0).sum())

    for i in range(PASSES):
        for name, fn in (("routed_rp3", leg_routed), ("numpy_flat", leg_numpy_flat)):
            spark.catalog.clearCache()
            S.invalidate_nvec_cache()
            wall, dropped = fn()
            print(json.dumps({"leg": name, "pass": i, "wall_s": wall,
                              "dropped": dropped}), flush=True)


if __name__ == "__main__":
    main()
