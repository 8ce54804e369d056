"""TreeSHAP contributions: brute-force Shapley oracle, local accuracy,
Spark transform surface.  Reference analog: tests/python/test_shap.py
(+ src/predictor/interpretability/shap.cc as the algorithm source)."""

from itertools import combinations
from math import factorial

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_spark import core
from xgboost_spark.config import TrainParams
from xgboost_spark.functions import shap as S
from xgboost_spark.local.booster import LocalBooster
from xgboost_spark.plans.booster import train


@pytest.fixture(scope="module")
def shap_tree():
    rng = np.random.default_rng(0)
    n, F = 500, 5
    X = rng.normal(size=(n, F))
    X[rng.random((n, F)) < 0.1] = np.nan
    y = (2 * np.nan_to_num(X[:, 0]) + np.where(np.isnan(X[:, 1]), 0.5, X[:, 1] ** 2)
         - np.nan_to_num(X[:, 2]).clip(-1, 1) + rng.normal(0, 0.1, n))
    p = TrainParams(num_boost_round=1, max_depth=4, base_score=0.0)
    lb = LocalBooster(p).fit(X, y)
    t = lb.trees[0][0]
    return t.finalize_arrays(), np.asarray(t.sum_hess), X, t


def _go_left(a, nid, x):
    """Routing written out independently of the kernels: NaN takes the
    default, categorical nodes test membership, tie_strict trees use the
    reference's float32 '<', engine trees '<='."""
    v = x[int(a["feature"][nid])]
    if np.isnan(v):
        return bool(a["default_left"][nid])
    cats = a.get("categories")
    if cats is not None and cats[nid] is not None:
        return int(v) in set(int(c) for c in cats[nid])
    if a.get("tie_strict"):
        return bool(np.float32(v) < np.float32(a["split_value"][nid]))
    return bool(v <= a["split_value"][nid])


def _expvalue(a, cover, xrow, Sset, nid=0):
    """Conditional expectation E[f(x) | x_S] with cover weighting —
    the Shapley value function for trees."""
    if a["left"][nid] == -1:
        return a["leaf_value"][nid]
    f = int(a["feature"][nid])
    lid, rid = int(a["left"][nid]), int(a["right"][nid])
    if f in Sset:
        return _expvalue(a, cover, xrow, Sset,
                         lid if _go_left(a, nid, xrow) else rid)
    cl, cr = cover[lid], cover[rid]
    return (cl * _expvalue(a, cover, xrow, Sset, lid)
            + cr * _expvalue(a, cover, xrow, Sset, rid)) / (cl + cr)


def _brute_shap(a, cover, xrow, F):
    value = {}
    for k in range(F + 1):
        for Sc in combinations(range(F), k):
            value[frozenset(Sc)] = _expvalue(a, cover, xrow, frozenset(Sc))
    phi = np.zeros(F + 1)
    phi[F] = value[frozenset()]
    for i in range(F):
        rest = [f for f in range(F) if f != i]
        for k in range(F):
            for Sc in combinations(rest, k):
                w = factorial(k) * factorial(F - k - 1) / factorial(F)
                phi[i] += w * (value[frozenset(Sc) | {i}] - value[frozenset(Sc)])
    return phi


def test_tree_shap_matches_brute_force(shap_tree):
    a, cover, X, _ = shap_tree
    rows = X[:10]
    fast = S.tree_shap(a, cover, rows)
    brute = np.stack([_brute_shap(a, cover, r, 5) for r in rows])
    assert np.abs(fast - brute).max() < 1e-12


def test_vectorized_matches_scalar_kernel(shap_tree):
    a, cover, X, _ = shap_tree
    rows = X[:40]
    vec = S.tree_shap(a, cover, rows)
    sca = np.stack([S._tree_shap_row(a, cover, r, 5) for r in rows])
    assert np.abs(vec - sca).max() < 1e-13
    for cond in (1, -1):
        for cf in (0, 2):
            vec = S.tree_shap(a, cover, rows, condition=cond, condition_feature=cf)
            sca = np.stack([S._tree_shap_row(a, cover, r, 5, condition=cond,
                                             condition_feature=cf) for r in rows])
            assert np.abs(vec - sca).max() < 1e-13, (cond, cf)


def test_tree_shap_local_accuracy(shap_tree):
    a, cover, X, t = shap_tree
    phi = S.tree_shap(a, cover, X[:100])
    pred = core.tree_predict(t, X[:100], binned=False)
    assert np.abs(phi.sum(1) - pred).max() < 1e-12


def test_saabas_local_accuracy(shap_tree):
    a, cover, X, t = shap_tree
    phi = S.saabas_contribs(a, cover, X[:100])
    pred = core.tree_predict(t, X[:100], binned=False)
    assert np.abs(phi.sum(1) - pred).max() < 1e-12


def test_interactions_consistent(shap_tree):
    a, cover, X, t = shap_tree
    rows = X[:6]
    phi = S.tree_shap(a, cover, rows)
    inter = S.tree_shap_interactions(a, cover, rows)
    pred = core.tree_predict(t, rows, binned=False)
    assert np.abs(inter.sum(2) - phi).max() < 1e-12     # rows sum to phi
    assert np.abs(inter.sum((1, 2)) - pred).max() < 1e-12
    assert np.abs(inter - inter.transpose(0, 2, 1)).max() == 0.0  # symmetric


def test_spark_transform_contribs(spark, reg_df, reg_data):
    X, y = reg_data
    fcols = [f"c{i}" for i in range(5)]
    model = train({"num_boost_round": 3, "max_depth": 3}, reg_df, feature_cols=fcols)
    out = model.transform(reg_df.limit(200), feature_cols=fcols,
                          output_margin=True, pred_contribs=True).toPandas()
    contribs = np.stack(out["contribs"].to_numpy())
    margin = np.stack(out["margin"].to_numpy())[:, 0]
    assert contribs.shape[1] == 6
    assert np.abs(contribs.sum(1) - margin).max() < 1e-9   # local accuracy e2e


def test_spark_multiclass_contribs(spark, reg_df):
    """Per-class contributions for K>1 (reference multiclass
    pred_contribs, tests/python/test_shap.py): sum(contribs_k) equals
    margin_k for every class."""
    fcols = [f"c{i}" for i in range(5)]
    labels = (F.abs(F.hash(*[F.col(c) for c in fcols])) % 3).cast("double")
    df3 = reg_df.withColumn("label", labels)
    model = train({"num_boost_round": 3, "max_depth": 3,
                   "objective": "multi:softprob", "num_class": 3},
                  df3, feature_cols=fcols)
    out = model.transform(df3.limit(100), feature_cols=fcols,
                          output_margin=True, pred_contribs=True,
                          pred_interactions=True).toPandas()
    contribs = np.stack([np.stack(r) for r in out["contribs"]])   # (n,3,6)
    inter = np.stack([np.stack(r) for r in out["interactions"]]).reshape(-1, 3, 6, 6)
    margin = np.stack(out["margin"].to_numpy())                   # (n,3)
    assert contribs.shape[1:] == (3, 6)
    assert np.abs(contribs.sum(2) - margin).max() < 1e-9
    assert np.abs(inter.sum(3) - contribs).max() < 1e-9


def test_spark_transform_interactions(spark, reg_df):
    fcols = [f"c{i}" for i in range(5)]
    model = train({"num_boost_round": 2, "max_depth": 3}, reg_df, feature_cols=fcols)
    out = model.transform(reg_df.limit(50), feature_cols=fcols,
                          pred_contribs=True, pred_interactions=True).toPandas()
    inter = np.stack(out["interactions"].to_numpy()).reshape(-1, 6, 6)
    contribs = np.stack(out["contribs"].to_numpy())
    assert np.abs(inter.sum(2) - contribs).max() < 1e-9


# ---------------------------------------------------------------------------
# path kernel vs the scalar recursion and brute force, case by case
# ---------------------------------------------------------------------------

def _hand_tree(categorical=False, tie_strict=False):
    """Depth-3 tree over 4 features (feature 3 unused): feature 0 is
    split twice on the root's both sides, default directions differ
    node to node, and covers are uneven.  ``categorical`` makes both
    feature-0 splits category-set splits."""
    t = core.Tree()
    t.sum_hess[0] = 100.0
    cats = (lambda c: c) if categorical else (lambda c: None)
    ll, lr = t.expand(0, 0, 0, 0.1, True, 1.0, 0, 60.0, 0, 40.0,
                      categories=cats([1, 3]))
    lll, llr = t.expand(ll, 0, 0, -1.0, False, 1.0, 0, 25.0, 0, 35.0,
                        categories=cats([3]))
    t.expand(llr, 1, 0, 0.5, True, 1.0, 0, 20.0, 0, 15.0)
    rl, _ = t.expand(lr, 2, 0, 0.3, False, 1.0, 0, 22.0, 0, 18.0)
    t.expand(rl, 0, 0, 1.0, True, 1.0, 0, 12.0, 0, 10.0,
             categories=cats([0, 2]))
    leaves = [i for i in range(t.n_nodes) if t.left[i] == -1]
    for k, nid in enumerate(leaves):
        t.leaf_value[nid] = 0.37 * (k + 1) * (-1) ** k
    t.tie_strict = tie_strict
    return t.finalize_arrays(), np.asarray(t.sum_hess)


def _hand_rows(categorical=False):
    """Every feature NaN / on a threshold / either side, in combination."""
    rng = np.random.default_rng(11)
    if categorical:
        f0 = [np.nan, 0.0, 1.0, 2.0, 3.0, 4.0]
    else:
        f0 = [np.nan, -1.0, 0.1, 1.0, -2.0, 0.5, 3.0]
    vals = [f0, [np.nan, 0.5, -1.0, 2.0], [np.nan, 0.3, -0.7, 0.9],
            [np.nan, 0.0]]
    grid = np.array(np.meshgrid(*vals, indexing="ij")).reshape(4, -1).T
    return grid[rng.permutation(len(grid))]


def _check_against_oracles(a, cover, X, F, n_brute=12, n_cond=None,
                           cond_features=None):
    fast = S.tree_shap(a, cover, X, n_features=F)
    sca = np.stack([S._tree_shap_row(a, cover, r, F) for r in X])
    assert np.abs(fast - sca).max() < 1e-13
    brute = np.stack([_brute_shap(a, cover, r, F) for r in X[:n_brute]])
    assert np.abs(fast[:n_brute] - brute).max() < 1e-12
    Xc = X[:n_cond]
    for cond in (1, -1):
        for cf in (range(F) if cond_features is None else cond_features):
            fast = S.tree_shap(a, cover, Xc, condition=cond,
                               condition_feature=cf, n_features=F)
            sca = np.stack([S._tree_shap_row(a, cover, r, F, condition=cond,
                                             condition_feature=cf) for r in Xc])
            assert np.abs(fast - sca).max() < 1e-13, (cond, cf)


def _interactions_oracle(a, cover, X, F):
    """Interaction values from the scalar recursion's conditioned calls:
    (phi_i | j present - phi_i | j absent) / 2, symmetrised, with the
    remainder on the diagonal."""
    out = []
    for x in X:
        M = np.zeros((F + 1, F + 1))
        for j in np.unique(a["feature"][a["left"] != -1]):
            on = S._tree_shap_row(a, cover, x, F, condition=1,
                                  condition_feature=int(j))
            off = S._tree_shap_row(a, cover, x, F, condition=-1,
                                   condition_feature=int(j))
            col = (on - off) / 2.0
            col[j] = 0.0
            M[:, j] = col
        sym = (M + M.T) / 2.0
        np.fill_diagonal(sym, 0.0)
        sym[np.diag_indices(F + 1)] = (S._tree_shap_row(a, cover, x, F)
                                       - sym.sum(axis=1))
        out.append(sym)
    return np.stack(out)


@pytest.mark.parametrize("categorical,tie_strict", [
    (False, False), (True, False), (False, True)])
def test_path_kernel_hand_trees(categorical, tie_strict):
    """A feature repeated on a path (merged into one element), NaN
    routed left and right by ``default_left``, rows exactly on the
    thresholds, category-set splits and the reference's strict float32
    tie rule — against the recursion at 1e-13 and brute force at
    1e-12, unconditioned and conditioned on every feature."""
    a, cover = _hand_tree(categorical, tie_strict)
    X = _hand_rows(categorical)
    tp = S.compile_paths(a, cover)
    hops_per_slot = np.diff(np.r_[tp["slot_start"], len(tp["hop_pos"])])
    assert tp["feat"].shape[1] == 2 and hops_per_slot.max() == 2  # merged f0
    _check_against_oracles(a, cover, X, 4, n_brute=40)
    inter = S.tree_shap_interactions(a, cover, X[:30])
    assert np.abs(inter - _interactions_oracle(a, cover, X[:30], 4)).max() < 1e-13


def test_tie_strict_routing_differs_on_threshold():
    """On rows sitting on a non-float32-exact threshold the strict tree
    routes right where the engine tree routes left; both kernels agree
    with each other on each."""
    X = np.array([[0.1, 0.5, 0.3, 0.0]])
    phis = [S.tree_shap(*_hand_tree(tie_strict=ts), X) for ts in (False, True)]
    assert np.abs(phis[0] - phis[1]).max() > 1e-3


def test_path_kernel_trained_categorical():
    """A fitted tree with category-set splits (a 10-level category and a
    numeric feature; NaN in both)."""
    rng = np.random.default_rng(21)
    n = 3000
    c = rng.integers(0, 10, n).astype(float)
    x = rng.normal(size=n)
    y = np.where(np.isin(c, [0, 3, 7]), 5.0, -2.0) + 0.5 * x + rng.normal(0, 0.2, n)
    X = np.column_stack([c, x])
    X[rng.random(X.shape) < 0.1] = np.nan
    p = TrainParams(num_boost_round=1, max_depth=4, base_score=0.0)
    t = LocalBooster(p).fit(X, y, cat_features=np.array([True, False])).trees[0][0]
    a, cover = t.finalize_arrays(), np.asarray(t.sum_hess)
    assert "categories" in a
    _check_against_oracles(a, cover, X[:60], 2)


def test_single_leaf_and_empty_batches(shap_tree):
    t = core.Tree()
    t.leaf_value[0], t.sum_hess[0] = 0.7, 10.0
    leaf_a, leaf_cover = t.finalize_arrays(), np.asarray(t.sum_hess)
    X = np.array([[1.0, np.nan, 2.0], [0.0, 0.0, 0.0]])
    phi = S.tree_shap(leaf_a, leaf_cover, X)
    assert np.array_equal(phi, [[0, 0, 0, 0.7]] * 2)
    assert not S.tree_shap(leaf_a, leaf_cover, X, condition=1,
                           condition_feature=0).any()
    inter = S.tree_shap_interactions(leaf_a, leaf_cover, X)
    assert inter[:, 3, 3].tolist() == [0.7, 0.7] and inter.sum() == 1.4
    a, cover, Xs, _ = shap_tree
    for tree_a, tree_cover in ((a, cover), (leaf_a, leaf_cover)):
        assert S.tree_shap(tree_a, tree_cover, Xs[:0]).shape == (0, Xs.shape[1] + 1)
        assert (S.tree_shap_interactions(tree_a, tree_cover, Xs[:0]).shape
                == (0, Xs.shape[1] + 1, Xs.shape[1] + 1))


@pytest.fixture(scope="module")
def deep_trees():
    """A depth-10 tree and a lossguide tree with 600 leaves over 8
    features: paths hold up to 8 unique features, so 2^L exceeds a
    small batch and the kernel tables only the patterns it sees."""
    rng = np.random.default_rng(3)
    n, F = 4000, 8
    X = rng.normal(size=(n, F))
    X[rng.random((n, F)) < 0.05] = np.nan
    Z = np.nan_to_num(X)
    y = (np.sin(3 * Z[:, 0]) + Z[:, 1] * Z[:, 2] + Z[:, 3] ** 2
         - np.abs(Z[:, 4] - Z[:, 5]) + rng.normal(0, 0.3, n))
    trees = {}
    for name, kw in (("depth10", {"max_depth": 10}),
                     ("lossguide", {"max_depth": 0, "max_leaves": 600,
                                    "grow_policy": "lossguide"})):
        p = TrainParams(num_boost_round=1, base_score=0.0,
                        min_child_weight=0.0, **kw)
        t = LocalBooster(p).fit(X, y).trees[0][0]
        trees[name] = (t.finalize_arrays(), np.asarray(t.sum_hess))
    return X, trees


@pytest.mark.parametrize("name", ["depth10", "lossguide"])
def test_path_kernel_deep_trees(deep_trees, name):
    X, trees = deep_trees
    a, cover = trees[name]
    leaves = int((a["left"] == -1).sum())
    assert S._max_depth(a) >= 10 if name == "depth10" else leaves >= 512
    rows = X[:48]
    L = S.compile_paths(a, cover)["feat"].shape[1]
    assert 2 ** L > len(rows)
    _check_against_oracles(a, cover, rows, X.shape[1], n_brute=3, n_cond=8,
                           cond_features=(0, 3))
    inter = S.tree_shap_interactions(a, cover, rows[:2])
    assert np.abs(inter - _interactions_oracle(a, cover, rows[:2], X.shape[1])).max() < 1e-13


def test_gather_coefs_long_patterns():
    """Patterns longer than one int64 key word: the (path, pattern) ids
    are folded a word at a time, so patterns that agree on the first
    word and differ after it get their own coefficients.  (Trees with
    paths this long lose TreeSHAP's own precision, so the dedup is
    checked directly against per-(row, path) coefficients.)"""
    rng = np.random.default_rng(9)
    m, P, L = 64, 3, 60
    word = 62 - (m * P).bit_length()
    assert L > word
    base = rng.random((P, 4, L)) < 0.5
    base[:, 1] = base[:, 0]
    base[:, 1, L - 3] = ~base[:, 0, L - 3]       # differs past the first word
    o = base[np.arange(P), rng.integers(0, 4, (m, P))]
    z = rng.uniform(0.3, 1.0, (P, L))
    v = rng.normal(size=P)
    got = S._gather_coefs(z, v, o)
    for r in range(m):
        for p in range(P):
            want = S._coefs(z[p][:, None], o[r, p][:, None].astype(np.float64),
                            v[p:p + 1])[:, 0]
            np.testing.assert_array_equal(got[r, p], want)


def test_spark_multiclass_dart_contribs_match_oracle(spark, reg_df):
    """K>1 with DART tree weights: the served per-class contributions
    and interactions equal the tree-weighted sum of the scalar oracle's
    per-tree values (bias column aside: it also carries base_score)."""
    fcols = [f"c{i}" for i in range(5)]
    labels = (F.abs(F.hash(*[F.col(c) for c in fcols])) % 3).cast("double")
    df3 = reg_df.withColumn("label", labels)
    model = train({"num_boost_round": 4, "max_depth": 3, "seed": 7,
                   "objective": "multi:softprob", "num_class": 3,
                   "booster": "dart", "rate_drop": 0.5, "one_drop": True},
                  df3, feature_cols=fcols)
    assert any(w != 1.0 for w in model.tree_weights)
    out = model.transform(df3.limit(24), feature_cols=fcols,
                          pred_contribs=True, pred_interactions=True).toPandas()
    X = np.column_stack([out[c].to_numpy(dtype=np.float64) for c in fcols])
    contribs = np.stack([np.stack(r) for r in out["contribs"]])     # (n,3,6)
    inter = np.stack([np.stack(r) for r in out["interactions"]]).reshape(-1, 3, 6, 6)
    phi = np.zeros_like(contribs)
    M = np.zeros_like(inter)
    for ri, rnd in enumerate(model.trees):
        for k, t in enumerate(rnd):
            a, cover = t.finalize_arrays(), np.asarray(t.sum_hess)
            phi[:, k] += model.tree_weights[ri] * np.stack(
                [S._tree_shap_row(a, cover, x, 5) for x in X])
            M[:, k] += model.tree_weights[ri] * _interactions_oracle(a, cover, X, 5)
    assert np.abs(contribs[:, :, :5] - phi[:, :, :5]).max() < 1e-13
    off = ~np.eye(6, dtype=bool)
    assert np.abs((inter - M)[:, :, off]).max() < 1e-13
