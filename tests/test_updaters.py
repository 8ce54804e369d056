"""Interaction constraints, pruning, and refresh updaters.
Reference analogs: tests/python/test_interaction_constraints.py,
src/tree/updater_prune.cc, src/tree/updater_refresh.cc."""

import numpy as np
import pandas as pd
import pytest

from xgboost_spark import core
from xgboost_spark.config import TrainParams
from xgboost_spark.local.booster import LocalBooster, _NumpyHistBuilder
from xgboost_spark.plans.booster import SparkBooster, refresh_leaves, train


def _tree_paths_features(tree: core.Tree):
    """Set of feature-index sets, one per root->leaf path."""
    paths = []

    def walk(nid, feats):
        if tree.left[nid] == -1:
            paths.append(frozenset(feats))
            return
        walk(tree.left[nid], feats | {tree.feature[nid]})
        walk(tree.right[nid], feats | {tree.feature[nid]})

    walk(0, set())
    return paths


def test_interaction_constraints_local(reg_data):
    X, y = reg_data
    p = TrainParams(num_boost_round=4, max_depth=4, base_score=0.0)
    sets = [np.array([True, True, False, False, False]),
            np.array([False, False, True, True, True])]
    lb = LocalBooster(p)
    Xb = lb.quantize(X)
    builder = _NumpyHistBuilder(Xb, lb.cuts, max(len(c) for c in lb.cuts))
    g, h = lb.obj.grad_hess(y, np.zeros(len(y)), None)
    builder.set_grad(g, h)
    rng = np.random.default_rng(0)
    tree = core.grow_tree(builder, p, rng, float(g.sum()), float(h.sum()),
                          interaction_sets=sets)
    assert not all(tree.feature[i] == -1 for i in range(tree.n_nodes))
    for feats in _tree_paths_features(tree):
        # every path's feature set must fit inside one interaction group
        assert any(all(s[f] for f in feats) for s in sets), feats


def test_interaction_constraints_spark(spark, reg_df):
    p = TrainParams(num_boost_round=2, max_depth=4, base_score=0.0,
                    interaction_constraints=[["c0", "c1"], ["c2", "c3", "c4"]])
    model = SparkBooster(p).fit(reg_df, feature_cols=[f"c{i}" for i in range(5)])
    groups = [{0, 1}, {2, 3, 4}]
    for rnd in model.trees:
        for t in rnd:
            for feats in _tree_paths_features(t):
                assert any(feats <= g for g in groups), feats


def test_prune_tree(reg_data):
    X, y = reg_data
    p = TrainParams(num_boost_round=1, max_depth=4, base_score=0.0, gamma=0.0)
    lb = LocalBooster(p).fit(X, y)
    tree = lb.trees[0][0]
    n_internal = sum(1 for i in range(tree.n_nodes) if tree.left[i] != -1)
    assert n_internal > 0
    # prune with a threshold above every recorded gain -> collapses to root leaf
    npruned = core.prune_tree(tree, min_split_loss=float(np.inf), eta=p.eta,
                              reg_lambda=p.reg_lambda)
    assert npruned == n_internal
    assert tree.left[0] == -1
    expect = p.eta * float(core.calc_weight(tree.sum_grad[0], tree.sum_hess[0],
                                            p.reg_lambda))
    assert tree.leaf_value[0] == pytest.approx(expect)
    pred = core.tree_predict(tree, X, binned=False)
    assert np.allclose(pred, expect)


def test_prune_noop_below_threshold(reg_data):
    X, y = reg_data
    p = TrainParams(num_boost_round=1, max_depth=3, base_score=0.0)
    lb = LocalBooster(p).fit(X, y)
    tree = lb.trees[0][0]
    before = list(tree.left)
    assert core.prune_tree(tree, min_split_loss=0.0, eta=p.eta,
                           reg_lambda=p.reg_lambda) == 0
    assert tree.left == before


def test_refresh_leaves_same_data_is_stable(spark, reg_df):
    p = TrainParams(num_boost_round=3, max_depth=3, base_score=0.0)
    fcols = [f"c{i}" for i in range(5)]
    model = train(p, reg_df, feature_cols=fcols)
    refreshed = refresh_leaves(model, reg_df, feature_cols=fcols)
    for rnd_a, rnd_b in zip(model.trees, refreshed.trees):
        for ta, tb in zip(rnd_a, rnd_b):
            assert ta.feature == tb.feature          # structure untouched
            assert np.allclose(ta.leaf_value, tb.leaf_value, atol=1e-6)


def test_refresh_leaves_new_data_moves_leaves(spark, reg_df, reg_data):
    X, y = reg_data
    p = TrainParams(num_boost_round=2, max_depth=3, base_score=0.0)
    fcols = [f"c{i}" for i in range(5)]
    model = train(p, reg_df, feature_cols=fcols)
    pdf = pd.DataFrame(X, columns=fcols)
    pdf["label"] = y + 10.0                          # shifted labels
    df2 = spark.createDataFrame(pdf)
    refreshed = refresh_leaves(model, df2, feature_cols=fcols)
    t0a, t0b = model.trees[0][0], refreshed.trees[0][0]
    assert t0a.feature == t0b.feature
    leaves_a = [t0a.leaf_value[i] for i in range(t0a.n_nodes) if t0a.left[i] == -1]
    leaves_b = [t0b.leaf_value[i] for i in range(t0b.n_nodes) if t0b.left[i] == -1]
    assert not np.allclose(leaves_a, leaves_b)


def test_refresh_leaves_honours_the_missing_sentinel(spark, reg_data):
    """A model fit with ``missing=0.0`` sees the zeros as missing; the
    refresh must too, or its leaves move on the model's own data."""
    X, y = reg_data
    X = np.where(np.isnan(X), 0.0, X)
    fcols = [f"c{i}" for i in range(5)]
    pdf = pd.DataFrame(X, columns=fcols)
    pdf["label"] = y
    df = spark.createDataFrame(pdf)
    model = train(TrainParams(num_boost_round=3, max_depth=3, base_score=0.0),
                  df, feature_cols=fcols, missing=0.0)
    refreshed = refresh_leaves(model, df, feature_cols=fcols)
    assert refreshed.missing == 0.0
    for rnd_a, rnd_b in zip(model.trees, refreshed.trees):
        for ta, tb in zip(rnd_a, rnd_b):
            assert ta.feature == tb.feature
            assert np.allclose(ta.leaf_value, tb.leaf_value, rtol=0, atol=1e-9)


def test_refresh_leaves_replays_dart_weights(spark, reg_df, reg_data):
    """A DART model keeps its tree weights through a refresh, and each
    round's gradients are taken at the weighted margin of the refreshed
    rounds before it (checked against a NumPy replay)."""
    X, y = reg_data
    p = TrainParams(num_boost_round=4, max_depth=3, base_score=0.0,
                    booster="dart", rate_drop=0.5, one_drop=True, seed=7)
    fcols = [f"c{i}" for i in range(5)]
    model = train(p, reg_df, feature_cols=fcols)
    assert any(w != 1.0 for w in model.tree_weights)
    refreshed = refresh_leaves(model, reg_df, feature_cols=fcols)
    assert refreshed.tree_weights == model.tree_weights
    Xb = np.column_stack([core.bin_values(X[:, i], model.cuts[i])
                          for i in range(X.shape[1])])
    m = np.zeros(len(y))
    for wt, (tree,) in zip(refreshed.tree_weights, refreshed.trees):
        arrs = tree.finalize_arrays()
        lid = core.leaf_ids_from_arrays(arrs, Xb, binned=True)
        g = m - y                                  # squared error, w = 1
        for nid in np.unique(lid):
            want = p.eta * core.calc_weight(g[lid == nid].sum(),
                                            float((lid == nid).sum()),
                                            p.reg_lambda, p.reg_alpha,
                                            p.max_delta_step)
            assert tree.leaf_value[nid] == pytest.approx(want, rel=1e-9,
                                                         abs=1e-12)
        m += wt * arrs["leaf_value"][lid]


def test_refresh_leaves_cox_model_on_its_own_data(spark, reg_df):
    """Cox gradients need the Breslow risk sets: the refresh takes them
    from the trainer's relational pass, so refreshing a cox model on
    its own data keeps its leaves."""
    fcols = [f"c{i}" for i in range(5)]
    model = train(TrainParams(objective="survival:cox", num_boost_round=2,
                              max_depth=2), reg_df, feature_cols=fcols)
    refreshed = refresh_leaves(model, reg_df, feature_cols=fcols)
    for rnd_a, rnd_b in zip(model.trees, refreshed.trees):
        for ta, tb in zip(rnd_a, rnd_b):
            assert np.allclose(ta.leaf_value, tb.leaf_value, rtol=0, atol=1e-9)


def test_interaction_constraint_whole_path_containment():
    """Reference FeatureInteractionConstraintHost::SplitImpl
    (constraints.cc:58-102): a candidate is permitted only via a
    constraint set containing the ENTIRE path.  With sets {0,1}, {1,2},
    {0,2} and path [0,1], feature 2 shares a set with each path feature
    but no single set contains {0,1} — it must be forbidden (the
    pairwise rule wrongly permits it)."""
    import numpy as np

    from xgboost_spark.core import _interaction_child_mask

    sets = [np.array([True, True, False]),    # {0,1}
            np.array([False, True, True]),    # {1,2}
            np.array([True, False, True])]    # {0,2}
    # root split on 0: path {} + fidx 0 -> sets containing {0}: S1, S3
    m1 = _interaction_child_mask(frozenset(), 0, sets, 3)
    assert m1.tolist() == [True, True, True]
    # then split on 1: path {0} + fidx 1 -> only S1 contains {0,1}
    m2 = _interaction_child_mask(frozenset({0}), 1, sets, 3)
    assert m2.tolist() == [True, True, False]
    # path features themselves always stay permitted even when no set
    # contains the whole path
    m3 = _interaction_child_mask(frozenset({0, 1}), 2, sets, 3)
    assert m3.tolist() == [True, True, True]
    for s in sets:
        assert not all(s[f] for f in (0, 1, 2))   # (b) contributes nothing
