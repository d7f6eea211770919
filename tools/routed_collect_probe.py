#!/usr/bin/env python3
"""r15 (VERDICT r14 next #1 + #7): measure the past-ceiling
driver-side centroid materialization that _numpy_routed_assign /
_numpy_flat_assign pay before any routing work — the one path that
grows O(nlist x d) on the DRIVER with no bound (similarity.py
cents.collect()).  Nobody had measured nlist > 32768 on either impl.

Per nlist in {32768, 65536, 131072, 262144}:
  - rows_collect:  the shipped `.collect()` + python-int rows path
                   (wall + driver RSS delta + resident bytes held)
  - arrow_collect: Arrow toPandas + np.stack into (cids, C) numpy
                   (the candidate replacement — same values)
  - router_groups: driver-side _router_groups_np over the rows' matrix
  - e2e numpy routed rp3 assign wall at 128k synthetic vectors
  - e2e Catalyst routed rp3 wall (the distributed alternative that
    never materializes python-object centroids on the driver)

Centroids/vectors are DETERMINISTIC synthetic micro-unit integers
(xxhash64-derived, coords in [0, 4e6) — the engine's real range), so
runs are comparable; cost, not quality, is under test.

Usage: python3 tools/routed_collect_probe.py [nlist ...]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np

from processor_spark.operators import similarity as S
from processor_spark.session import build_session
from tools.canary import canary

NLISTS = [int(a) for a in sys.argv[1:]] or [32768, 65536, 131072, 262144]
NVEC = 131072
D = 64


def rss_mb() -> float:
    with open("/proc/self/status") as fh:
        for ln in fh:
            if ln.startswith("VmRSS"):
                return int(ln.split()[1]) / 1024.0
    return -1.0


spark = build_session(app_name="routed-collect-probe")
from pyspark.sql import functions as F  # noqa: E402

vecs = (
    spark.range(0, NVEC, 1, 32)
    .select(
        F.col("id").alias("vec_id"),
        F.expr(f"transform(sequence(1, {D}), d -> pmod(xxhash64(id, d), 4000000))").alias(
            "vm"
        ),
    )
)

out = {"canary": canary(), "loadavg_1m": round(os.getloadavg()[0], 2), "nvec": NVEC}
print(json.dumps({"rss_mb_start": rss_mb()}), flush=True)

for nlist in NLISTS:
    cents = spark.range(0, nlist, 1, 32).select(
        F.col("id").alias("cid"),
        F.expr(
            f"transform(sequence(1, {D}), d -> pmod(xxhash64(id + 7777777, d), 4000000))"
        ).alias("cm"),
    )
    cents = cents.persist()
    cents.count()
    row: dict = {}

    # 1. shipped path: python rows
    gc.collect()
    r0 = rss_mb()
    t0 = time.perf_counter()
    rows = [(int(r.cid), [int(x) for x in r.cm]) for r in cents.collect()]
    row["rows_collect_s"] = round(time.perf_counter() - t0, 2)
    gc.collect()
    row["rows_collect_rss_delta_mb"] = round(rss_mb() - r0, 1)

    # 2. driver-side router construction over those rows
    t0 = time.perf_counter()
    S._router_groups_np(np.asarray([cm for _, cm in sorted(rows)], dtype=np.float64))
    row["router_groups_s"] = round(time.perf_counter() - t0, 2)
    del rows
    gc.collect()

    # 3. Arrow collect into numpy (candidate replacement)
    r0 = rss_mb()
    t0 = time.perf_counter()
    pdf = cents.toPandas()
    C = np.stack(pdf["cm"].to_numpy()).astype(np.float64)
    cids = pdf["cid"].to_numpy().astype(np.int64)
    o = np.argsort(cids, kind="stable")
    cids, C = cids[o], C[o]
    row["arrow_collect_s"] = round(time.perf_counter() - t0, 2)
    gc.collect()
    row["arrow_collect_rss_delta_mb"] = round(rss_mb() - r0, 1)
    row["C_bytes_mb"] = round(C.nbytes / 1048576.0, 1)
    del pdf, C, cids, o
    gc.collect()

    # 4. end-to-end walls: numpy routed rp3 vs Catalyst routed rp3
    for name, build in (
        ("np_routed_rp3", lambda: S._numpy_routed_assign(vecs, cents, rprobe=3)),
        (
            "cat_routed_rp3",
            lambda: S._assign_cells(
                vecs, cents, nlist, two_level=True, rprobe=3
            ),
        ),
    ):
        spark.catalog.clearCache()
        cents.persist().count()
        t0 = time.perf_counter()
        n = len(build().select("vec_id", "cell").toPandas())
        row[name + "_s"] = round(time.perf_counter() - t0, 1)
        row[name + "_rows"] = n
    row["rss_mb_now"] = rss_mb()
    cents.unpersist()
    out[f"nlist={nlist}"] = row
    print(json.dumps({f"nlist={nlist}": row}), flush=True)

print(json.dumps(out))
