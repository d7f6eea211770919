"""The exact-distance kernel and its two reducers against an independent
reference.

``similarity._sq_tiles`` yields tiles of x² + y² − 2·x·yᵀ in float64;
``_topk`` keeps the k nearest by (sq, id) across tiles and calls, and
``_eps_hits`` yields the lower-id pairs inside the ε-ball.  The
reference here is an int64 broadcast difference ((x − y)²).sum(), with
no decomposition, sorted in Python.  The tile is forced tiny
(NUMPY_CENT_BLOCK = 2: 4-row × 2-column tiles) so that every reducer
crosses row and column tiles, and equal-sq ties are planted across
tile boundaries with non-ascending ids.
"""

from __future__ import annotations

import numpy as np
import pytest

from processor_spark.operators import similarity as S


@pytest.fixture
def tiny_tile(monkeypatch):
    monkeypatch.setattr(S, "NUMPY_CENT_BLOCK", 2)


def _sq_ref(X, Y):
    X, Y = np.asarray(X, np.int64), np.asarray(Y, np.int64)
    return ((X[:, None, :] - Y[None, :, :]) ** 2).sum(axis=-1)


def _topk_ref(X, Y, ids, k, skip=None):
    D = _sq_ref(X, Y)
    S_, I_ = np.full((len(X), k), np.inf), np.full((len(X), k), -1, np.int64)
    for r in range(len(X)):
        c = sorted(
            (int(D[r, j]), int(ids[j]))
            for j in range(len(Y))
            if skip is None or ids[j] != skip[r]
        )[:k]
        for p, (sq, i) in enumerate(c):
            S_[r, p], I_[r, p] = sq, i
    return S_, I_


def _tied_layout():
    """12 columns with non-ascending ids.  Columns 1, 4, 7 and 10 share
    one vector, so every row sees a 4-way equal-sq group spread over
    column tiles; rows 0 and 5 sit on it (a 4-way sq-0 tie).  Row 3
    sits on columns 2, 3 and 9 (ids 90, 3 and 11): a descending-id tie
    inside one tile and one across tiles."""
    rng = np.random.default_rng(5)
    Y = rng.integers(-3, 4, size=(12, 3))
    Y[[4, 7, 10]] = Y[1]
    Y[[3, 9]] = Y[2]
    X = rng.integers(-3, 4, size=(9, 3))
    X[0] = X[5] = Y[1]
    X[3] = Y[2]
    ids = np.array([41, 17, 90, 3, 55, 8, 72, 29, 64, 11, 36, 50], np.int64)
    return X.astype(np.float64), Y.astype(np.float64), ids


def test_sq_tiles_cover_the_reference_exactly(tiny_tile):
    X, Y, _ = _tied_layout()
    got = np.full((len(X), len(Y)), -1.0)
    shapes = set()
    for rs, cs, sq in S._sq_tiles(X, Y):
        assert (got[rs, cs] == -1).all()  # each entry once
        got[rs, cs] = sq
        shapes.add(sq.shape)
    assert (got == _sq_ref(X, Y)).all()
    assert (4, 2) in shapes and len(shapes) > 1  # 4x2 tiles plus the ragged edge


@pytest.mark.parametrize("k", [1, 3, S.KNN_K])
def test_topk_equals_reference_with_ties_across_tiles(tiny_tile, k):
    X, Y, ids = _tied_layout()
    got = S._topk(X, Y, ids, k)
    want = _topk_ref(X, Y, ids, k)
    assert (got[0] == want[0]).all() and (got[1] == want[1]).all()
    # the planted sq-0 ties resolve to the lowest id
    assert got[1][0, 0] == got[1][5, 0] == 17 and got[1][3, 0] == 3


@pytest.mark.parametrize("k", [1, 3, S.KNN_K])
def test_topk_self_exclusion_and_merge_across_calls(tiny_tile, k):
    X, Y, ids = _tied_layout()
    skip = ids[[1, 0, 2, 2, 5, 1, 6, 7, 11]]  # rows 0, 5 skip their sq-0 twin
    want = _topk_ref(X, Y, ids, k, skip)
    got = S._topk(X, Y, ids, k, skip=skip)
    assert (got[0] == want[0]).all() and (got[1] == want[1]).all()
    assert 17 not in got[1][0]
    # split the columns over two calls, merging through ``best``: the
    # same (sq, id) order as one call, for every split point
    for cut in (1, 5, 8):
        b = S._topk(X, Y[cut:], ids[cut:], k, skip=skip)
        m = S._topk(X, Y[:cut], ids[:cut], k, best=b, skip=skip)
        assert (m[0] == want[0]).all() and (m[1] == want[1]).all(), cut
    # more columns asked for than exist: padded with (inf, -1)
    few = S._topk(X, Y[:2], ids[:2], 3)
    assert np.isinf(few[0][:, 2]).all() and (few[1][:, 2] == -1).all()


def test_eps_hits_boundary_under_the_id_mask(tiny_tile):
    # row 0 at the origin; columns at sq 5 (== eps, kept) and 6
    # (eps + 1, dropped); ids decide which side of the mask a pair is on
    X = np.array([[0, 0, 0], [2, 1, 0], [0, 0, 0], [2, 1, 1]], np.float64)
    xids = np.array([20, 5, 30, 40], np.int64)
    Y = np.array(
        [[2, 1, 0], [2, 1, 1], [0, 0, 0], [1, 2, 0], [2, 1, 0], [0, 1, 2]],
        np.float64,
    )
    yids = np.array([10, 11, 25, 9, 35, 4], np.int64)
    eps = 5
    got = sorted(
        (int(i), int(j)) for a, b in S._eps_hits(X, Y, xids, yids, eps)
        for i, j in zip(a, b)
    )
    D = _sq_ref(X, Y)
    want = sorted(
        (i, j)
        for i in range(len(X))
        for j in range(len(Y))
        if D[i, j] <= eps and yids[j] < xids[i]
    )
    assert got == want
    assert (0, 0) in got and D[0, 0] == eps  # sq == eps is kept
    assert (0, 1) not in got and D[0, 1] == eps + 1  # eps + 1 is dropped
    assert (0, 4) not in got and D[0, 4] == 5  # in the ball, id 35 > 20
    # the pair kernel's self-join: each pair once, lower id second
    self_pairs = [
        (int(xids[i]), int(xids[j]))
        for a, b in S._eps_hits(X, X, xids, xids, eps)
        for i, j in zip(a, b)
    ]
    assert sorted(self_pairs) == [(20, 5), (30, 5), (30, 20), (40, 5)]


def test_empty_operands_and_zero_dimensions(tiny_tile):
    Y = np.zeros((5, 3))
    ids = np.arange(5, dtype=np.int64)
    for X, Yk in ((np.zeros((0, 3)), Y), (np.zeros((4, 3)), np.zeros((0, 3)))):
        assert list(S._sq_tiles(X, Yk)) == []
        s, i = S._topk(X, Yk, ids[: len(Yk)], 2)
        assert s.shape == (len(X), 2) and np.isinf(s).all() and (i == -1).all()
        assert list(S._eps_hits(X, Yk, ids[: len(X)], ids[: len(Yk)], 0)) == []
    # d = 0: every distance is 0, as the reference says
    X0, Y0 = np.zeros((3, 0)), np.zeros((4, 0))
    assert all((sq == 0).all() for _, _, sq in S._sq_tiles(X0, Y0))
    assert (S._topk(X0, Y0, np.array([7, 3, 9, 5]), 2)[1] == [3, 5]).all()


def test_out_of_range_coordinate_raises_before_the_first_tile(tiny_tile):
    ok = np.zeros((6, 64))
    bad = ok.copy()
    bad[4, 17] = 9_000_000.0  # 2·64·(9e6)² > 2^53
    for X, Y in ((bad, ok), (ok, bad)):
        tiles = S._sq_tiles(X, Y)
        with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
            next(tiles)
        with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
            S._topk(X, Y, np.arange(len(Y)), 1)
        with pytest.raises(ValueError, match="2\\*d\\*M\\^2"):
            list(S._eps_hits(X, Y, np.arange(len(X)), np.arange(len(Y)), 1))


def test_signed_operands_bound_the_distance_itself(tiny_tile):
    """Coordinates within 1000 of ±8,388,607 pass each operand's
    2·d·M² < 2^53 at d = 64, but between operands of opposite sign the
    distance reaches d·(Mx+My)² > 2^53 and the decomposed float64 form
    rounds it.  The guard must refuse that pair before the first tile,
    and keep accepting non-negative operands of the same magnitude
    (sq ≤ d·M², exact) and micro-unit vectors at d = 64 and d = 256."""
    rng = np.random.default_rng(11)
    M = 8_388_607
    assert 2.0 * 64 * M * M < 2.0**53
    hi = (M - rng.integers(0, 1000, (8, 64))).astype(np.float64)
    lo = -(M - rng.integers(0, 1000, (8, 64))).astype(np.float64)
    raw = (hi * hi).sum(1)[:, None] + (lo * lo).sum(1)[None, :] - 2.0 * (hi @ lo.T)
    assert (raw.astype(np.int64) != _sq_ref(hi, lo)).any()  # a real counterexample
    for X, Y in ((hi, lo), (lo, hi), (lo, lo)):
        with pytest.raises(ValueError, match="d\\*\\(Mx\\+My\\)\\^2"):
            next(S._sq_tiles(X, Y))
    same = (M - rng.integers(0, 1000, (8, 64))).astype(np.float64)
    micro = [rng.integers(1_000_000, 3_000_001, (6, d)).astype(np.float64) for d in (64, 256)]
    for X, Y in ((hi, same), (micro[0], micro[0][::-1]), (micro[1], micro[1][::-1])):
        got = np.full((len(X), len(Y)), -1, np.int64)
        for rs, cs, sq in S._sq_tiles(X, Y):
            got[rs, cs] = sq
        assert (got == _sq_ref(X, Y)).all()
