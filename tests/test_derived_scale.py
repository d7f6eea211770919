"""Beyond-fixture proof of the derived-nlist rule (r12).

Every fixture corpus derives nlist == IVFK_NLIST (the floor), so the
standard parity suite never exercises the derivation ABOVE it.  These
tests build a synthetic 3,000-vector corpus (sf0.1's embeddings plus
1,000 id-shifted copies) where both engines must derive
nlist = 3000 // TARGET_CELL = 12 > IVFK_NLIST, and hash-compare the
registered keys' Spark and DuckDB sides on it — the scalar-subquery
rule crossing engines off the floor, including the two-level router
at a non-fixture ncoarse (isqrt(12) = 3).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from processor_spark import registry
from tests.oracle_utils import compare

registry.load_all_modules()


@pytest.fixture(scope="module")
def synth_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("sf-synth-3000")
    src = pd.read_parquet("/root/testdata/sf0.1/embeddings.parquet")
    extra = src.head(1000).copy()
    extra["vec_id"] = extra["vec_id"] + 10_000_000
    pd.concat([src, extra], ignore_index=True).to_parquet(
        d / "embeddings.parquet", index=False
    )
    return str(d)


def _oracle(sql: str, sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con.execute(sql).fetchdf()


def test_derived_nlist_leaves_the_floor(spark, synth_dir):
    from processor_spark.operators.similarity import derived_nlist

    assert derived_nlist(spark, synth_dir) == 12


@pytest.mark.parametrize(
    "key",
    ["q_semdedup", "q_semdedup_twolevel", "q_ann_ivf_kmeans", "q_ann_ivf_twolevel"],
)
def test_derived_rule_crosses_engines_above_the_floor(spark, synth_dir, key):
    q = registry.get(key)
    res = compare(q.fn(spark, synth_dir), _oracle(q.sql, synth_dir))
    assert res["rows_match"], f"{key}: rows {res['rows_spark']} != {res['rows_oracle']}"
    assert res["cols_match"], f"{key}: cols {res['cols_spark']} != {res['cols_oracle']}"
    assert res["values_match"], f"{key}: value mismatch {res.get('first_diffs')}"


@pytest.fixture(scope="module")
def even_only_dir(tmp_path_factory):
    """A corpus with ONLY even vec_ids: q_embed_drift's B slice
    (vec_id % 2 = 1) is empty — the n_b = 0 edge ADVICE r13 flagged as
    a data-dependent floor(NaN)::BIGINT crash on both engines."""
    d = tmp_path_factory.mktemp("sf-even-only")
    src = pd.read_parquet("/root/testdata/sf0.001/embeddings.parquet")
    src[src["vec_id"] % 2 == 0].to_parquet(d / "embeddings.parquet", index=False)
    return str(d)


def test_embed_drift_empty_b_slice_guard(spark, even_only_dir):
    """r14 (ADVICE r13): with slice B empty both engines must emit the
    exact-limit 0 contribution instead of dividing 0/0 — and still
    hash-match each other on the guarded rows."""
    q = registry.get("q_embed_drift")
    sdf = q.fn(spark, even_only_dir)
    res = compare(sdf, _oracle(q.sql, even_only_dir))
    assert res["rows_match"] and res["cols_match"] and res["values_match"], res
    pdf = sdf.toPandas()
    assert (pdf["b_cnt"] == 0).all()
    assert set(pdf["contrib_micro"]) <= {0}, "guard branch: exact limit 0"

    s = registry.get("q_embed_drift_score")
    res2 = compare(s.fn(spark, even_only_dir), _oracle(s.sql, even_only_dir))
    assert res2["values_match"], res2


def test_auto_assign_numpy_flat_equals_catalyst_flat(spark):
    """r14: in the auto window [TWOLEVEL_MIN_NLIST, NUMPY_FLAT_MAX_
    NLIST] _assign_cells runs the exact numpy-flat argmin — it must
    equal the forced Catalyst flat branch cell-for-cell (same exact
    integer distances, same (sq, cid) tie-break), with keep columns
    passed through intact."""
    from pyspark.sql import functions as F

    from processor_spark.operators.similarity import (
        TWOLEVEL_MIN_NLIST,
        _assign_cells,
        _micro_arr,
    )
    from processor_spark.sources import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    svecs = e.select(
        "vec_id",
        _micro_arr("embedding").alias("vm"),
        (F.col("vec_id") % 7).cast("int").alias("label"),
    )
    cents = spark.createDataFrame(
        [
            (1000 + i, [int(x) for x in r.vm])
            for i, r in enumerate(svecs.orderBy("vec_id").limit(80).collect())
        ],
        "cid long, cm array<bigint>",
    )
    assert 80 >= TWOLEVEL_MIN_NLIST

    auto = _assign_cells(svecs, cents, 80, keep=("vm", "label"))
    forced = _assign_cells(svecs, cents, 80, two_level=False, keep=("vm", "label"))
    a = {(r.vec_id, int(r.cell), int(r.label)) for r in auto.collect()}
    b = {(r.vec_id, int(r.cell), int(r.label)) for r in forced.collect()}
    assert a == b and len(a) > 0
    # and the routed branch still differs on this layout (non-vacuous:
    # the window really replaced routing, not a no-op)
    routed = _assign_cells(svecs, cents, 80, two_level=True, keep=("vm", "label"))
    r = {(r.vec_id, int(r.cell), int(r.label)) for r in routed.collect()}
    assert r != a


def test_numpy_flat_blocked_equality(spark, monkeypatch):
    """r14 close: _numpy_flat_assign blocks the matmul at
    NUMPY_CENT_BLOCK centroid columns with a running (sq, cid) min, so
    per-task memory is flat in nlist.  Blocking must be invisible: a
    tiny forced block width (7 — nlist=80 spans 12 blocks, none
    aligned) must produce cell-for-cell the block-free result AND the
    Catalyst flat branch.  Centroid cid 61 duplicates cid 3's vector,
    putting an exact cross-block tie on every vector nearest cid 3 —
    the running min's strict < must keep the EARLIER block's lower cid
    (the (sq, cid) min_by contract)."""
    from pyspark.sql import functions as F

    from processor_spark.operators import similarity as S
    from processor_spark.sources import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    svecs = e.select("vec_id", S._micro_arr("embedding").alias("vm"))
    base = [
        [int(x) for x in r.vm]
        for r in svecs.orderBy("vec_id").limit(80).collect()
    ]
    base[60] = list(base[2])  # cid 63 duplicates cid 5 (cids are 3+i)
    cents = spark.createDataFrame(
        [(3 + i, m) for i, m in enumerate(base)], "cid long, cm array<bigint>"
    )

    flat_sql = {
        (r.vec_id, int(r.cell))
        for r in S._assign_cells(svecs, cents, 80, two_level=False).collect()
    }
    blocked = {}
    for width in (7, 8192):
        monkeypatch.setattr(S, "NUMPY_CENT_BLOCK", width)
        blocked[width] = {
            (r.vec_id, int(r.cell))
            for r in S._numpy_flat_assign(svecs, cents).collect()
        }
    assert blocked[7] == blocked[8192] == flat_sql and len(flat_sql) > 0
    # non-vacuous tie: at least one vector sits nearest the duplicated
    # centroid, and every such vector resolved to the LOWER cid (5)
    assert any(c == 5 for _, c in flat_sql)
    assert not any(c == 63 for _, c in flat_sql)


def _label_vecs(spark):
    from pyspark.sql import functions as F

    from processor_spark.operators import similarity as S
    from processor_spark.sources import load

    e = load(spark, "/root/testdata/sf0.001", "embeddings")
    return e.select(
        "vec_id",
        S._micro_arr("embedding").alias("vm"),
        (F.col("vec_id") % 7).cast("int").alias("label"),
    )


def test_numpy_routed_equals_catalyst_routed(spark):
    """r14 close: _numpy_routed_assign (the batch numpy twin of the
    two-level router, now the AUTO past-ceiling path) must equal the
    Catalyst routed branch cell-for-cell at rprobe 1 AND 3, with keep
    columns through — same _router_groups_np, exact integer distances,
    same (gsq, gid) router and (sq, cid) union tie-breaks.  Two
    layouts: 80 seed vectors (ncoarse=8), and four centroids where
    cid 1 and cid 2 share a vector — both are router seeds
    (ncoarse=isqrt(4)=2), every fine centroid tie-routes to seed 1, so
    seed 2's group is EMPTY (ADVICE r12) and cell 2 can never win."""
    import numpy as np

    from processor_spark.operators import similarity as S

    svecs = _label_vecs(spark)
    seeds = [[int(x) for x in r.vm] for r in svecs.orderBy("vec_id").limit(80).collect()]
    dup = [(1, seeds[0]), (2, seeds[0]), (3, seeds[1]), (4, seeds[2])]
    ncoarse, rassign = S._router_groups_np(
        np.asarray([cm for _, cm in dup], dtype=np.float64)
    )
    assert ncoarse == 2 and not (rassign == 1).any()  # the hazard pinned
    layouts = {
        "seeds80": [(1000 + i, cm) for i, cm in enumerate(seeds)],
        "dup_empty_group": dup,
    }
    for name, rows in layouts.items():
        cents = spark.createDataFrame(rows, "cid long, cm array<bigint>")
        for rp in (1, 3):
            npy = {
                (r.vec_id, int(r.cell), int(r.label))
                for r in S._numpy_routed_assign(
                    svecs, cents, keep=("vm", "label"), rprobe=rp
                ).collect()
            }
            cat = {
                (r.vec_id, int(r.cell), int(r.label))
                for r in S._assign_cells(
                    svecs, cents, len(rows), two_level=True,
                    keep=("vm", "label"), rprobe=rp,
                ).collect()
            }
            assert npy == cat and len(npy) > 0, (name, rp)
            if name == "dup_empty_group":
                assert not any(c == 2 for _, c, _ in npy)


def test_auto_assign_past_ceiling_routes_numpy_rp3(spark, monkeypatch):
    """r14 close: AUTO past NUMPY_FLAT_MAX_NLIST routes via the numpy
    two-level at rprobe=TWOLEVEL_RPROBE_PAIR (rprobe=None = auto) —
    cells must equal the forced Catalyst router at rp3, and an
    explicit rprobe must be honored."""
    from processor_spark.operators import similarity as S

    svecs = _label_vecs(spark)
    cents = spark.createDataFrame(
        [
            (1000 + i, [int(x) for x in r.vm])
            for i, r in enumerate(svecs.orderBy("vec_id").limit(80).collect())
        ],
        "cid long, cm array<bigint>",
    )
    monkeypatch.setattr(S, "NUMPY_FLAT_MAX_NLIST", 64)
    auto = {
        (r.vec_id, int(r.cell))
        for r in S._assign_cells(svecs, cents, 80).collect()
    }
    cat3 = {
        (r.vec_id, int(r.cell))
        for r in S._assign_cells(
            svecs, cents, 80, two_level=True, rprobe=3
        ).collect()
    }
    assert auto == cat3 and len(auto) > 0
    # explicit rprobe=1 is honored in auto mode past the ceiling
    auto1 = {
        (r.vec_id, int(r.cell))
        for r in S._assign_cells(svecs, cents, 80, rprobe=1).collect()
    }
    cat1 = {
        (r.vec_id, int(r.cell))
        for r in S._assign_cells(
            svecs, cents, 80, two_level=True, rprobe=1
        ).collect()
    }
    assert auto1 == cat1
    assert auto1 != auto  # rp1 and rp3 really differ on this layout


def test_router_groups_vectorized_equals_reference():
    """r14-opt: _router_groups_np's vectorized fine->seed routing must be
    group-for-group identical to the r14-close pure-python reference
    (exact integer min over (gsq, gid)), including duplicate-centroid
    ties planted across the seed/fine boundary — the lexicographic
    tie-break must fall to the LOWEST gid on equal distance."""
    import math

    import numpy as np

    from processor_spark.operators.similarity import _router_groups_np

    def reference(cents_rows):
        rows = sorted((int(cid), [int(e) for e in cm]) for cid, cm in cents_rows)
        ncoarse = max(1, math.isqrt(len(rows)))
        cseeds = rows[:ncoarse]
        groups = {gid: [] for gid, _ in cseeds}
        for cid, cm in rows:
            _, gid = min(
                (sum((a - b) * (a - b) for a, b in zip(cm, gm)), gid)
                for gid, gm in cseeds
            )
            groups[gid].append((cid, cm))
        return cseeds, groups

    rng = np.random.default_rng(11)
    nlist, d = 1024, 64
    cents = rng.integers(-2_000_000, 2_000_000, size=(nlist, d))
    for i in (1, 5, 40, nlist // 2, nlist - 1):  # dup ties; 40 > ncoarse=32
        cents[i] = cents[0]
    cents_rows = [(i, [int(x) for x in cents[i]]) for i in range(nlist)]
    ncoarse, assign = _router_groups_np(cents.astype(np.float64))
    cs_v = cents_rows[:ncoarse]  # cids 0..nlist-1 are already ascending
    gr_v = {gid: [] for gid, _ in cs_v}
    for row, j in zip(cents_rows, assign):
        gr_v[cs_v[j][0]].append(row)
    cs_r, gr_r = reference(cents_rows)
    assert cs_v == cs_r
    assert gr_v == gr_r
    assert sum(len(m) for m in gr_v.values()) == nlist


def test_router_groups_empty_input():
    """ADVICE r14 low: the router over an empty centroid matrix must
    return an empty assignment — the first vectorized version raised
    numpy AxisError instead.  (The assign paths themselves refuse an
    empty table: test_semdedup_assign_refuses_unrepresentable_cells.)"""
    import numpy as np

    from processor_spark.operators.similarity import _router_groups_np

    _, assign = _router_groups_np(np.zeros((0, 64)))
    assert len(assign) == 0


def test_router_groups_np_multiblock_equals_single(monkeypatch):
    """ADVICE r14 low: every production layout below ~63k cells runs
    _router_groups_np single-block (blk >= nlist), leaving the s > 0
    path untested.  Force a tiny block (blk=100 over nlist=1024 spans
    11 blocks, none aligned) — the fine→seed assignment must be
    byte-identical to the single-block run, duplicate-centroid ties
    included (rows 1/5/40/512/1023 duplicate row 0)."""
    import numpy as np

    from processor_spark.operators.similarity import _router_groups_np

    rng = np.random.default_rng(11)
    nlist, d = 1024, 64
    cents = rng.integers(-2_000_000, 2_000_000, size=(nlist, d))
    for i in (1, 5, 40, nlist // 2, nlist - 1):
        cents[i] = cents[0]
    C = cents.astype(np.float64)
    nc1, a1 = _router_groups_np(C)
    ncb, ab = _router_groups_np(C, blk=100)
    assert nc1 == ncb == 32
    assert (a1 == ab).all()
