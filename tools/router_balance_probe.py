#!/usr/bin/env python3
"""Balance-aware router training — variant search (VERDICT r12 next #2).

The r12 measurement: two-level routed TRAINING trades cell balance for
build speed (Σocc² 36.4M flat → 124.7M routed at 64×/nlist=512), so
SemDeDup — whose pair stage is occupancy² — keeps flat training and
pays the O(n·nlist) bill at every retrain.  This probe searches router
variants OFFLINE in numpy (bit-exact twin of the engine's integer
pipeline: micro-units = floor((x+2)*1e6+0.5), exact int64 squared-L2,
`div` == `//` on positives, (dist, id) tie-break = first occurrence
over id-sorted rows) so dozens of variants cost seconds instead of a
Spark build each.  The winner then gets the Spark implementation and
the real 64× wall-clock row.

Variants (train-assign method × router construction):
  flat            exact argmin over all nlist seeds/centroids
  routed          r12 two-level: ncoarse lowest-cid seeds as router
  routed-rpK      two-level with rprobe=K router cells (union fine scan)
  spread          router seeds = every ceil(nlist/ncoarse)-th seed (cid order)
  balanced        fine→group admission capped at ceil(nlist/ncoarse)
                  (rank-based: nearest group where the centroid ranks
                  within cap; fallback nearest)
Output: one JSON line per variant: {variant, occ2, occ2_vs_flat,
distance_ops_per_vec, max_occ}.

Usage: python3 tools/router_balance_probe.py [repl]
"""

from __future__ import annotations

import json
import math
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPL = int(sys.argv[1]) if len(sys.argv) > 1 else 64
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = f"/tmp/processor_spark-ann-bits-probe-{REPL}x"
TARGET_CELL = 250
IVFK_NLIST = 8


def micro(emb: np.ndarray) -> np.ndarray:
    return np.floor((emb.astype(np.float64) + 2.0) * 1e6 + 0.5).astype(np.int64)


def sqdist_matrix(X: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Exact int64 squared-L2 via float64 matmul (all intermediates
    < 2^53 — integer-exact regardless of BLAS order)."""
    Xf, Cf = X.astype(np.float64), C.astype(np.float64)
    return (
        (Xf * Xf).sum(axis=1)[:, None]
        + (Cf * Cf).sum(axis=1)[None, :]
        - 2.0 * (Xf @ Cf.T)
    )


def route_groups(cids: np.ndarray, C: np.ndarray, router_idx: np.ndarray,
                 balanced: bool) -> np.ndarray:
    """fine centroid -> router group index; (gsq, gid) tie-break.
    balanced: admission capped at ceil(nlist/ncoarse) by distance rank
    within each group (nearest admissible group wins; fallback =
    unconstrained nearest)."""
    G = C[router_idx]
    d = sqdist_matrix(C, G)  # (nlist, ncoarse)
    if not balanced:
        return d.argmin(axis=1)
    nlist, ncoarse = d.shape
    cap = math.ceil(nlist / ncoarse)
    # rank of each centroid within each group by (gsq, cid):
    # argsort over (d[:, j], cid) per column
    admit = np.zeros_like(d, dtype=bool)
    for j in range(ncoarse):
        order = np.lexsort((cids, d[:, j]))
        admit[order[:cap], j] = True
    out = np.empty(nlist, dtype=np.int64)
    for i in range(nlist):
        js = np.nonzero(admit[i])[0]
        out[i] = js[d[i, js].argmin()] if len(js) else d[i].argmin()
    return out


def assign(X: np.ndarray, cids: np.ndarray, C: np.ndarray, method: str,
           router_idx=None, grp=None, rprobe: int = 1) -> np.ndarray:
    """vector -> centroid INDEX (argmin over cid-sorted rows = the
    (sq, cid) min_by tie-break)."""
    if method == "flat":
        return sqdist_matrix(X, C).argmin(axis=1)
    G = C[router_idx]
    gd = sqdist_matrix(X, G)
    out = np.empty(len(X), dtype=np.int64)
    if rprobe == 1:
        gidx = gd.argmin(axis=1)
        for j in range(len(router_idx)):
            mask = gidx == j
            if not mask.any():
                continue
            members = np.nonzero(grp == j)[0]
            if not len(members):
                members = np.arange(len(C))
            sub = sqdist_matrix(X[mask], C[members])
            out[mask] = members[sub.argmin(axis=1)]
        return out
    top = np.argsort(gd, axis=1)[:, :rprobe]  # ties: lower j first (stable)
    # bucket rows by their top-rprobe group SET via sorted tuple key
    keys = np.sort(top, axis=1)
    uniq, inv = np.unique(keys, axis=0, return_inverse=True)
    for u in range(len(uniq)):
        mask = inv == u
        members = np.nonzero(np.isin(grp, uniq[u]))[0]
        if not len(members):
            members = np.arange(len(C))
        sub = sqdist_matrix(X[mask], C[members])
        out[mask] = members[sub.argmin(axis=1)]
    return out


def lloyd_round(X: np.ndarray, seeds_cids, seeds, method, router_idx=None,
                grp=None, rprobe=1):
    """One Lloyd round; a seed that wins no vectors yields NO centroid
    row (the engine's groupBy semantics — possible under routed
    training, where a seed vector can route away from its own seed).
    Returns (cids, cents) of the surviving cells."""
    a = assign(X, seeds_cids, seeds, method, router_idx, grp, rprobe)
    out_cids, out_cents = [], []
    for i in range(len(seeds)):
        mask = a == i
        if mask.any():
            out_cids.append(seeds_cids[i])
            out_cents.append(X[mask].sum(axis=0) // mask.sum())  # exact: positives
    return np.asarray(out_cids, dtype=np.int64), np.stack(out_cents)


def main() -> None:
    import pandas as pd

    src = os.path.join(DST, "embeddings.parquet")
    if not os.path.isdir(src) and not os.path.exists(src):
        sys.exit(f"layout missing: run tools/ann_bits_probe.py first ({src})")
    import pyarrow.dataset as ds

    tbl = ds.dataset(src).to_table(columns=["vec_id", "embedding"])
    pdf = tbl.to_pandas().sort_values("vec_id").reset_index(drop=True)
    X = micro(np.stack(pdf["embedding"].to_numpy()))
    n = len(X)
    nlist = max(IVFK_NLIST, n // TARGET_CELL)
    ncoarse = max(1, math.isqrt(nlist))
    seeds = X[:nlist].copy()  # lowest vec_ids (pdf sorted)
    cids = np.arange(nlist, dtype=np.int64)

    results = []

    def run(variant, method, router_sel, balanced, rprobe):
        def pick_router(k):
            if router_sel == "low":
                return np.arange(min(ncoarse, k))
            step = k / ncoarse  # spread quantiles over cid order
            return np.unique((np.arange(ncoarse) * step).astype(np.int64))

        if method == "flat":
            router_idx = grp = None
            ops = nlist * 2  # train argmin + assign argmin, per vector
        else:
            router_idx = pick_router(nlist)
            grp = route_groups(cids, seeds, router_idx, balanced)
            gsz = np.bincount(grp, minlength=len(router_idx))
            ops = 2 * (len(router_idx) + rprobe * float(gsz.mean()))
        ccids, cents = lloyd_round(X, cids, seeds, method, router_idx, grp, rprobe)
        if method != "flat":
            # re-route the TRAINED centroids for the assign stage (the
            # engine recomputes cgrp against cents, not seeds)
            router_idx2 = pick_router(len(ccids))
            grp2 = route_groups(ccids, cents, router_idx2, balanced)
        else:
            router_idx2 = grp2 = None
        a = assign(X, ccids, cents, method, router_idx2, grp2, rprobe)
        occ = np.bincount(a, minlength=len(ccids)).astype(np.int64)
        results.append(
            {
                "variant": variant,
                "n_cells": int(len(ccids)),
                "occ2_M": round(float((occ ** 2).sum()) / 1e6, 1),
                "max_occ": int(occ.max()),
                "dist_ops_per_vec": round(ops, 1),
            }
        )
        print(json.dumps(results[-1]), flush=True)

    run("flat", "flat", None, False, 1)
    run("routed (r12)", "routed", "low", False, 1)
    run("routed rprobe=2", "routed", "low", False, 2)
    run("routed rprobe=3", "routed", "low", False, 3)
    run("routed rprobe=4", "routed", "low", False, 4)
    run("spread router", "routed", "spread", False, 1)
    run("spread + rprobe=2", "routed", "spread", False, 2)
    run("balanced groups", "routed", "low", True, 1)
    run("spread + balanced", "routed", "spread", True, 1)
    run("spread + balanced + rprobe=2", "routed", "spread", True, 2)

    # train×assign grid: the two argmins can use different rprobe —
    # SemDeDup's r12 shape is flat train + routed assign; the question
    # is how much training rprobe buys toward that balance at a
    # fraction of the flat train cost
    def run_grid(variant, train_rp, assign_rp):
        router_idx = np.arange(ncoarse)
        if train_rp == 0:  # flat train
            ccids, cents = lloyd_round(X, cids, seeds, "flat")
            tops = nlist
        else:
            grp = route_groups(cids, seeds, router_idx, False)
            ccids, cents = lloyd_round(
                X, cids, seeds, "routed", router_idx, grp, train_rp
            )
            tops = ncoarse + train_rp * nlist / ncoarse
        if assign_rp == 0:  # flat assign
            a = assign(X, ccids, cents, "flat")
            aops = nlist
        else:
            r2 = np.arange(min(ncoarse, len(ccids)))
            grp2 = route_groups(ccids, cents, r2, False)
            a = assign(X, ccids, cents, "routed", r2, grp2, assign_rp)
            aops = ncoarse + assign_rp * len(ccids) / ncoarse
        occ = np.bincount(a, minlength=len(ccids)).astype(np.int64)
        results.append(
            {
                "variant": variant,
                "n_cells": int(len(ccids)),
                "occ2_M": round(float((occ ** 2).sum()) / 1e6, 1),
                "max_occ": int(occ.max()),
                "dist_ops_per_vec": round(tops + aops, 1),
            }
        )
        print(json.dumps(results[-1]), flush=True)

    run_grid("flat train + routed assign (r12 semdedup)", 0, 1)
    run_grid("flat train + rp2 assign", 0, 2)
    run_grid("rp2 train + rp1 assign", 2, 1)
    run_grid("rp3 train + rp1 assign", 3, 1)
    run_grid("rp3 train + rp2 assign", 3, 2)
    run_grid("rp2 train + rp2 assign", 2, 2)
    run_grid("rp3 train + flat assign", 3, 0)
    print(json.dumps({"n": n, "nlist": nlist, "ncoarse": ncoarse,
                      "rows": results}))


if __name__ == "__main__":
    main()
