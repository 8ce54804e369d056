"""`core.leaf_ids_from_arrays` against a per-row scalar walker.

The vectorized router steps every working row one level per wave (leaves
route to themselves) and only compacts the working set once at most half
of it is at internal nodes; every row must still land where a plain
root-to-leaf walk puts it.
"""

from __future__ import annotations

import numpy as np
import pytest

from xgboost_spark import core

F, NB, NCAT = 5, 8, 6
CAT = np.array([0, 0, 1, 0, 0], bool)          # feature 2 is categorical


def _walk(a, row, binned, nid=0):
    """Reference: one row, one node at a time."""
    cats = a.get("categories")
    while a["left"][nid] != -1:
        x = row[a["feature"][nid]]
        if (x == core.MISSING_BIN) if binned else np.isnan(x):
            left = bool(a["default_left"][nid])
        elif cats is not None and cats[nid] is not None:
            left = int(x) in set(cats[nid].tolist())
        elif binned:
            left = x <= a["split_bin"][nid]
        elif a.get("tie_strict"):
            left = np.float32(x) < np.float32(a["split_value"][nid])
        else:
            left = x <= a["split_value"][nid]
        nid = a["left"][nid] if left else a["right"][nid]
    return nid


def _grow(rng, t: core.Tree, nid: int, depth: int, p_split: float,
          f: int | None = None):
    if depth == 0 or (nid and rng.random() > p_split):   # the root splits
        return
    f = int(rng.integers(F)) if f is None else f
    b = int(rng.integers(NB - 1))
    cats = None
    if CAT[f]:
        # codes 0..NCAT-1 exist in the data; NCAT-1 is in no set
        cats = sorted(rng.choice(NCAT - 1, size=int(rng.integers(1, 4)),
                                 replace=False).tolist())
    lid, rid = t.expand(nid, f, b, float(b), bool(rng.random() < 0.5), 1.0,
                        0.0, 0.0, 0.0, 0.0, categories=cats)
    _grow(rng, t, lid, depth - 1, p_split)
    _grow(rng, t, rid, depth - 1, p_split)


def _data(rng, n):
    """Binned and raw views of the same rows: raw values sit exactly on
    the integer thresholds, so ties are common."""
    Xb = rng.integers(0, NB, size=(n, F)).astype(np.int16)
    Xb[:, 2] = rng.integers(0, NCAT, size=n)
    miss = rng.random((n, F)) < 0.15
    Xb[miss] = core.MISSING_BIN
    X = np.where(miss, np.nan, Xb.astype(np.float64))
    return Xb, X


def _check(a, Xb, X, node0=None):
    for binned, Xm in ((True, Xb), (False, X)):
        start = None if node0 is None else node0.copy()
        got = core.leaf_ids_from_arrays(a, Xm, binned, node0=start)
        want = [_walk(a, Xm[i], binned, 0 if node0 is None else int(node0[i]))
                for i in range(len(Xm))]
        np.testing.assert_array_equal(got, want)
        if start is not None:
            assert got is start                  # mutated in place


@pytest.mark.parametrize("seed", range(6))
@pytest.mark.parametrize("strict", [False, True])
def test_routing_matches_scalar_walker(seed, strict):
    rng = np.random.default_rng(seed)
    t = core.Tree(tie_strict=strict)
    _grow(rng, t, 0, depth=6, p_split=0.85, f=2)   # a categorical root
    assert t.n_nodes > 7
    a = t.finalize_arrays()
    assert "categories" in a and bool(a.get("tie_strict")) == strict
    Xb, X = _data(rng, 500)
    _check(a, Xb, X)


def test_routing_ties_follow_the_convention():
    t = core.Tree()
    t.expand(0, 1, 3, 3.0, False, 1.0, 0, 0, 0, 0)
    X = np.array([[0.0, 3.0], [0.0, 2.0], [0.0, 4.0], [0.0, np.nan]])
    assert core.leaf_ids_from_arrays(
        t.finalize_arrays(), X, False).tolist() == [1, 1, 2, 2]
    t.tie_strict = True
    assert core.leaf_ids_from_arrays(
        t.finalize_arrays(), X, False).tolist() == [2, 1, 2, 2]


def test_routing_warm_start_resumes_in_place():
    """Growth routing: route on a partial tree, split some of its leaves,
    then resume from the previous assignment (the hist builders'
    `_node_assignment` contract)."""
    rng = np.random.default_rng(11)
    t = core.Tree()
    _grow(rng, t, 0, depth=3, p_split=1.0)
    Xb, X = _data(rng, 400)
    node0 = core.leaf_ids_from_arrays(t.finalize_arrays(), Xb, True)
    for nid in [i for i in range(t.n_nodes) if t.is_leaf(i)][::2]:
        _grow(rng, t, nid, depth=2, p_split=1.0)
    _check(t.finalize_arrays(), Xb, X, node0=node0)


def test_routing_empty_batch_and_single_leaf():
    rng = np.random.default_rng(2)
    t = core.Tree()
    _grow(rng, t, 0, depth=4, p_split=1.0)
    Xb, X = _data(rng, 0)
    _check(t.finalize_arrays(), Xb, X)
    Xb, X = _data(rng, 50)
    leaf = core.Tree().finalize_arrays()
    for binned, Xm in ((True, Xb), (False, X)):
        out = core.leaf_ids_from_arrays(leaf, Xm, binned)
        assert out.dtype == np.int32 and (out == 0).all()
    node0 = np.zeros(50, dtype=np.int32)
    assert core.leaf_ids_from_arrays(leaf, Xb, True, node0=node0) is node0


def test_routing_deep_lossguide_path_compacts():
    """A 40-deep chain where each level sends most rows to a leaf: the
    working set shrinks by more than half per level, so the router
    compacts, and finished rows must keep their leaf."""
    rng = np.random.default_rng(4)
    n = 3000
    Xb = rng.integers(0, NB, size=(n, F)).astype(np.int16)
    Xb[:, 0] = rng.integers(0, 40, size=n) // 4
    X = Xb.astype(np.float64)
    t = core.Tree()
    nid = 0
    for d in range(40):
        f = 0 if d % 3 else 1
        lid, rid = t.expand(nid, f, d // 4 if f == 0 else NB - 2, 0.0,
                            True, 1.0, 0, 0, 0, 0)
        t.split_value[nid] = float(t.split_bin[nid])
        nid = rid
    a = t.finalize_arrays()
    got = core.leaf_ids_from_arrays(a, Xb, True)
    depth_rows = np.bincount(got, minlength=t.n_nodes)
    assert (depth_rows > 0).sum() > 5             # rows stop at many depths
    _check(a, Xb, X)
