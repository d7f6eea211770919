"""r15 (VERDICT r14 next #3): the grouped-numpy SemDeDup ε-pair kernel
must be pair-for-pair identical to the Catalyst within-cell join it
replaces past TWOLEVEL_MIN_NLIST cells — same pair SET (src = lower
id, dst = higher id), same in-kernel ``near`` aggregate (min lower-id
in-ball neighbor), inclusive ``<= eps`` boundary, and a norm-band
prune that only ever SKIPS provably-outside pairs (reverse triangle
inequality)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _assign(spark):
    from processor_spark.operators import similarity as S

    return S._semdedup_assign_frame(spark, SF_SMALL)


def test_pair_set_equal_numpy_vs_catalyst(spark):
    """The real sf0.001 SemDeDup assignment (the declared keys' own
    cell layout, near-dup-planted fixture): both impls must emit the
    identical (src, dst) set."""
    from processor_spark.operators import similarity as S

    assign = _assign(spark)
    cat = {
        (r.src, r.dst)
        for r in S._semdedup_pairs(assign, S.SEMDEDUP_EPS, impl="catalyst").collect()
    }
    npy = {
        (r.src, r.dst)
        for r in S._semdedup_pairs(assign, S.SEMDEDUP_EPS, impl="numpy").collect()
    }
    assert cat == npy
    assert len(cat) > 0  # fixture plants near-dups; vacuous pass impossible
    assert all(s < d for s, d in cat)


def test_verdict_frame_equal_numpy_vs_catalyst(spark):
    """The full verdict frame (mode "min": the in-kernel near
    aggregate) must match the Catalyst groupBy(min) row-for-row —
    dup_of nulls included."""
    from processor_spark.operators import similarity as S

    assign = _assign(spark)
    rows = {}
    for impl in ("catalyst", "numpy"):
        rows[impl] = {
            tuple(r)
            for r in S._semdedup_from_assign(
                assign, S.SEMDEDUP_EPS, pair_impl=impl
            ).collect()
        }
    assert rows["catalyst"] == rows["numpy"]
    assert len(rows["numpy"]) > 0


def test_kernel_eps_boundary_and_band_prune(spark):
    """Hand-built cells pin the semantics the prune must not break:
    an exact-boundary pair (dist² == eps, MUST be kept — the contract
    is <= eps), a just-outside pair (eps + 1, dropped), a far-norm
    pair the band prune skips without a distance evaluation, and
    single-row / empty-output cells."""
    from processor_spark.operators import similarity as S

    eps = 25
    # cell 1: ids 10,11 at dist² = 25 (boundary, kept); id 12 at
    # dist² = 26 from id 10 (1 over, dropped vs 10) and dist² = 13
    # from id 11 (kept); id 13 with a huge norm (band-pruned vs all).
    # cell 2: a single row (no pairs).
    rows = [
        (10, [0, 0, 0, 0], 1),
        (11, [3, 4, 0, 0], 1),  # 9+16 = 25 == eps
        (12, [5, 1, 0, 0], 1),  # vs 10: 25+1 = 26 > eps
        (13, [4_000_000, 0, 0, 0], 1),
        (20, [1, 2, 3, 4], 2),
    ]
    assign = spark.createDataFrame(
        rows, "vec_id long, vm array<bigint>, cell int"
    )
    got = {
        (r.src, r.dst)
        for r in S._semdedup_pairs(assign, eps, impl="numpy").collect()
    }
    assert got == {(10, 11), (11, 12)}
    # mode "min": only duped vectors appear, dup_of = min lower id
    near = {
        (r.vec_id, r.dup_of)
        for r in assign.groupBy("cell")
        .applyInPandas(
            S._cell_pair_kernel(eps, "min"), "vec_id long, dup_of long"
        )
        .collect()
    }
    assert near == {(11, 10), (12, 11)}


def test_kernel_multiblock_rows_match_catalyst(spark):
    """1500 rows in one cell sit in one 2048-row tile of the distance
    kernel but span two 1024-column tiles, so in-ball pairs cross a
    column-tile boundary; a lattice of 1500 vectors spaced so each has
    in-ball neighbors both inside and outside its tile must match the
    Catalyst join exactly."""
    from pyspark.sql import functions as F

    from processor_spark.operators import similarity as S

    eps = 4  # neighbors at step 1..2 along the line are in-ball
    n = 1500
    assign = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id"), F.lit(0), F.lit(0), F.lit(0)).alias("vm"),
        F.lit(1).alias("cell"),
    )
    cat = {
        (r.src, r.dst)
        for r in S._semdedup_pairs(assign, eps, impl="catalyst").collect()
    }
    npy = {
        (r.src, r.dst)
        for r in S._semdedup_pairs(assign, eps, impl="numpy").collect()
    }
    assert cat == npy
    # each interior vector pairs with ids ±1 and ±2: 2n-3 + n-2 pairs
    assert len(cat) == (n - 1) + (n - 2)


def test_auto_gate_keeps_catalyst_below_min_nlist(spark):
    """pair_impl auto (None): below TWOLEVEL_MIN_NLIST cells the
    declared fixture-scale plans must keep the Catalyst join (no
    ArrowEvalPython / FlatMapGroupsInPandas node); past it the numpy
    kernel appears. Plan-shape gate — this is what keeps every
    declared parity plan byte-identical at sf scales."""
    from processor_spark.operators import similarity as S

    assign = _assign(spark)
    below = S._semdedup_pairs(
        assign, S.SEMDEDUP_EPS, nlist=S.TWOLEVEL_MIN_NLIST - 1
    )
    above = S._semdedup_pairs(
        assign, S.SEMDEDUP_EPS, nlist=S.TWOLEVEL_MIN_NLIST
    )
    assert "FlatMapGroupsInPandas" not in below._jdf.queryExecution().toString()
    assert "FlatMapGroupsInPandas" in above._jdf.queryExecution().toString()


def test_assert_sub53_guard():
    """Coordinates breaking 2·d·M² < 2^53 must raise loudly, never
    silently return non-reference cells (ADVICE r14 medium: the old
    docstring overclaimed the bound; the guard encodes the corrected
    sufficient condition)."""
    import numpy as np

    from processor_spark.operators import similarity as S

    ok = np.full((4, 64), 8_000_000.0)  # 2*64*8e6² ≈ 8.2e15 < 2^53
    S._assert_sub53(ok)
    bad = np.full((4, 64), 9_000_000.0)  # 2*64*9e6² ≈ 1.04e16 > 2^53
    with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
        S._assert_sub53(bad)
    S._assert_sub53(np.zeros((0, 64)))  # empty never raises
