#!/usr/bin/env python3
"""IVF-PQ serve family at the 64× jittered layout on fmt-4 pair-grade
cells (VERDICT r13 next #7): the r12 ladder rows predate fmt 4, so the
codes-side readers of the persisted tree had no 64× rows confirming
they inherited the one-file-per-dir write_partitioned win.

Measures, per key, index build wall (forced rebuild once per family)
then 2 isolated serve passes with clearCache between — the serve twins
(q_ann_ivfpq_serve / _refine_serve / _res_serve / _res_refine_serve)
read centroids + codebook + partition-pruned probed cells only.

Usage: python3 tools/ivfpq_serve_scale_probe.py [repl]
Prints JSON lines (the SCALE.md r14 rows).
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 64
DST = f"/tmp/processor_spark-ann-bits-probe-{REPL}x"


def count_leaf_files(root: str) -> int:
    n = 0
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


def main() -> None:
    from processor_spark import registry
    from processor_spark.operators import similarity as S
    from processor_spark.session import build_session
    from tools.jittered_layout import build_layout

    registry.load_all_modules()
    spark = build_session(app_name="ivfpq-serve-probe")
    build_layout(spark, REPL)
    out = {}

    for builder, fam in (
        (S.build_ivfpq_index, ["q_ann_ivfpq_serve", "q_ann_ivfpq_refine_serve"]),
        (
            S.build_ivfpq_res_index,
            ["q_ann_ivfpq_res_serve", "q_ann_ivfpq_res_refine_serve"],
        ),
    ):
        t0 = time.perf_counter()
        path = builder(spark, DST, force=True)
        build_s = round(time.perf_counter() - t0, 1)
        nfiles = count_leaf_files(os.path.join(path, "codes"))
        print(
            json.dumps(
                {"builder": builder.__name__, "build_s": build_s,
                 "codes_leaf_files": nfiles}
            ),
            flush=True,
        )
        for key in fam:
            fn = registry.get(key).fn
            walls = []
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                pdf = fn(spark, DST).toPandas()
                walls.append(round(time.perf_counter() - t0, 1))
            out[key] = {"walls_s": walls, "rows": int(len(pdf))}
            print(json.dumps({key: out[key]}), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
