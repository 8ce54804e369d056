"""Feature-sharded split search over the collective's two halves.

Runs on thread ranks (no Spark): `reduce_scatter_sum` must own exactly
the bits `allreduce_sum` returns, and the barrier builder's
`best_splits` (search on the owned block, verbatim gather, one pick)
must return what `core.split_search` returns over the all-reduced full
histogram, bit for bit.
"""

from __future__ import annotations

import math
import pickle

import numpy as np
import pytest

from test_barrier import _on_ranks
from xgboost_spark import core
from xgboost_spark.local.booster import _NumpyHistBuilder
from xgboost_spark.plans.barrier import _AllreduceHistBuilder

RANKS = [1, 2, 3, 5, 8]


def _payload(rank: int, n: int) -> np.ndarray:
    # magnitudes spread over 1e-8..1e16, so a different association
    # order gives different bits
    r = np.random.default_rng(100 + rank)
    return r.normal(size=n) * 10.0 ** r.integers(-8, 16, size=n)


@pytest.mark.parametrize("p", RANKS)
def test_reduce_scatter_owns_allreduce_bits(p):
    per, F = 6, 13                   # 13 features: a multiple of no p > 1
    n = per * F

    def fn(comm):
        a = _payload(comm.rank, n)
        full = comm.allreduce_sum(a)
        lo, part = comm.reduce_scatter_sum(a)
        back = comm.allgather(part, n)
        return full, lo, part.copy(), back

    out = _on_ranks(None, p, fn)
    full = out[0][0]
    owned = np.zeros(n, dtype=int)
    for full_r, lo, part, back in out:
        assert full_r.tobytes() == full.tobytes()
        assert back.tobytes() == full.tobytes()
        assert part.tobytes() == full[lo:lo + len(part)].tobytes()
        owned[lo:lo + len(part)] += 1
    assert (owned == 1).all()
    q = 1 << (p.bit_length() - 1)
    assert sum(len(o[2]) > 0 for o in out) == q       # folded-out ranks own nothing


def test_reduce_scatter_association_order_p4():
    n = 11
    out = _on_ranks(None, 4, lambda comm: comm.reduce_scatter_sum(
        _payload(comm.rank, n)))
    r = [_payload(k, n) for k in range(4)]
    want = (r[0] + r[2]) + (r[1] + r[3])
    for lo, part in out:
        assert part.tobytes() == want[lo:lo + len(part)].tobytes()


def test_loopback_owns_everything():
    from xgboost_spark.collective import Loopback
    c = Loopback()
    a = _payload(0, 9)
    lo, part = c.reduce_scatter_sum(a)
    assert lo == 0 and part.tobytes() == a.tobytes()
    assert c.allgather(part, 9).tobytes() == a.tobytes()
    assert c.owners == 1


# -- the sharded builder ---------------------------------------------------

F, B = 7, 6          # 7 features: padded at p in {2, 3, 5, 8}


def _kw(**over):
    kw = dict(reg_lambda=1.0, reg_alpha=0.0, gamma=0.0, min_child_weight=0.5,
              max_delta_step=0.0, feature_mask=None, monotone=None,
              cat_features=None, node_bounds=None, max_cat_to_onehot=4,
              max_cat_threshold=64, n_bins_feat=None)
    kw.update(over)
    return kw


def _hist(seed: int, N: int):
    r = np.random.default_rng(seed)
    hg = r.normal(size=(N, F, B + 1))
    hh = r.random(size=(N, F, B + 1)) * 3 + 0.1
    # every feature of a node has the same totals, as real histograms do
    for a in (hg, hh):
        a[:, :, B] += a[:, 0].sum(axis=1)[:, None] - a.sum(axis=2)
    return hg, hh


def _cases():
    """(name, hg, hh, kw) over all features."""
    out = []
    hg, hh = _hist(1, 4)
    out.append(("plain", hg, hh, _kw()))
    # ties across a block boundary: feature 6 copies feature 3, the
    # winner of nodes 0 and 2
    hg2, hh2 = hg.copy(), hh.copy()
    hg2[:, 6], hh2[:, 6] = hg2[:, 3], hh2[:, 3]
    out.append(("tie", hg2, hh2, _kw()))
    # node 1 has every candidate masked; other nodes get their own masks
    m = np.random.default_rng(3).random((4, F)) < 0.6
    m[1] = False
    out.append(("masked", hg, hh, _kw(feature_mask=m)))
    out.append(("mask1d", hg, hh, _kw(
        feature_mask=np.array([0, 1, 1, 0, 1, 1, 0], bool))))
    # NaN gains
    hg3 = hg.copy()
    hg3[0, 3, 2] = np.nan
    hg3[2, :, 1] = np.nan
    out.append(("nan", hg3, hh, _kw()))
    # monotone constraints with inherited node bounds
    mono = np.array([1, 0, -1, 0, 0, 1, 0], dtype=np.int8)
    bounds = np.array([[-np.inf, np.inf], [-0.3, 0.2], [-1.0, 0.0],
                       [0.05, 0.5]])
    out.append(("monotone", hg, hh, _kw(monotone=mono, node_bounds=bounds,
                                        reg_alpha=0.2, max_delta_step=0.7)))
    # categorical features: one-hot (feature 2) and partition (feature 6)
    cat = np.array([0, 0, 1, 0, 0, 0, 1], bool)
    nbf = np.array([B, B, 3, B, B, B, B])
    hg4, hh4 = hg.copy(), hh.copy()
    hg4[:, 2, 3:B] = hh4[:, 2, 3:B] = 0.0
    for a in (hg4, hh4):
        a[:, 2, B] = 0.0
        a[:, 2, B] = a[:, 0].sum(axis=1) - a[:, 2].sum(axis=1)
    out.append(("categorical", hg4, hh4, _kw(
        cat_features=cat, n_bins_feat=nbf, max_cat_threshold=3,
        feature_mask=np.ones((4, F), bool))))
    # a best split whose left gradient sum is -0.0
    hg5 = np.zeros((1, F, B + 1))
    hh5 = np.ones((1, F, B + 1))
    hg5[0] = 0.01
    hg5[0, 4], hh5[0, 4] = 0.0, 0.0
    hg5[0, 4, 0], hh5[0, 4, 0] = -0.0, 4.0
    hg5[0, 4, B], hh5[0, 4, B] = 0.06, 1.0
    out.append(("negzero", hg5, hh5, _kw(min_child_weight=0.0)))
    return out


def _bits(res) -> bytes:
    return pickle.dumps([None if r is None else r.__dict__ for r in res])


@pytest.mark.parametrize("p", RANKS)
def test_sharded_best_splits_equal_split_search(p):
    cases = _cases()
    ref = [core.split_search(hg, hh, **kw) for _n, hg, hh, kw in cases]
    neg = ref[-1][0]
    assert neg is not None and neg.fidx == 4 and neg.split_bin == 0
    assert math.copysign(1.0, neg.g_left) == -1.0       # the case bites

    def fn(comm):
        Xb = np.zeros((3, F), dtype=np.int16)
        got = []
        for _n, hg, hh, kw in cases:
            cat = kw["cat_features"]
            bu = _AllreduceHistBuilder(Xb, [np.arange(B)] * F, B, comm, cat)
            bu.set_grad(np.ones(3), np.ones(3))
            bu.build(core.Tree(), [0])              # sets the owned block
            pad = np.zeros((hg.shape[0], bu.n_pad, B + 1))

            def block(a):
                full = pad.copy()
                full[:, :F] = a
                blk = full[:, bu.f0:bu.f0 + bu.fb]
                return np.concatenate([blk, a[:, bu.cat_fids]], axis=1)

            res = bu.best_splits(block(hg), block(hh), **kw)
            got.append((_bits(res), bu.root_sums(None, None)))
        return got

    for got in _on_ranks(None, p, fn):
        for (name, hg, hh, _kw_), want, (bits, root) in zip(cases, ref, got):
            assert bits == _bits(want), name
            assert root == (float(hg[0, 0].sum()), float(hh[0, 0].sum())), name


@pytest.mark.parametrize("p", RANKS)
def test_sharded_build_and_search_match_full_allreduce(p):
    """Rows split across ranks: the block the builder returns equals the
    owned features of the all-reduced histogram, and its search equals
    `split_search` over that histogram."""
    n = 400
    r = np.random.default_rng(5)
    Xb = r.integers(0, B, size=(n, F)).astype(np.int16)
    Xb[r.random((n, F)) < 0.1] = core.MISSING_BIN
    Xb[:, 2] = r.integers(0, 3, size=n)
    g, h = r.normal(size=n), r.random(size=n) + 0.1
    cat = np.array([0, 0, 1, 0, 0, 0, 0], bool)
    cuts = [np.arange(B, dtype=np.float64)] * F
    tree = core.Tree()
    tree.expand(0, 3, 2, 2.0, True, 1.0, 0, 0, 0, 0)
    kw = _kw(cat_features=cat, n_bins_feat=np.array([B, B, 3, B, B, B, B]))
    part = np.arange(n) % p

    def fn(comm):
        mine = part == comm.rank
        local = _NumpyHistBuilder(Xb[mine], cuts, B)
        local.set_grad(g[mine], h[mine])
        lg, lh = local.build(tree, [1, 2])
        red = comm.allreduce_sum(np.stack([lg, lh]))
        bu = _AllreduceHistBuilder(Xb[mine], cuts, B, comm, cat)
        bu.set_grad(g[mine], h[mine])
        bg, bh = bu.build(tree, [1, 2])
        fb, f0 = bu.fb, bu.f0
        nreal = max(0, min(F - f0, fb))
        assert bg[:, :nreal].tobytes() == \
            np.ascontiguousarray(red[0][:, f0:f0 + nreal]).tobytes()
        assert (bg[:, nreal:fb] == 0).all()
        assert bg[:, fb:].tobytes() == \
            np.ascontiguousarray(red[0][:, [2]]).tobytes()
        return (_bits(bu.best_splits(bg, bh, **kw)),
                _bits(core.split_search(red[0], red[1], **kw)))

    for got, want in _on_ranks(None, p, fn):
        assert got == want
