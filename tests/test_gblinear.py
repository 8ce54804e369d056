"""gblinear: shotgun coordinate descent vs closed-form ridge oracle,
elastic-net shrinkage, JVM-side serving plan.
Reference analog: src/linear/updater_shotgun.cc, updater_coordinate.cc."""

import numpy as np
import pandas as pd
import pytest

from xgboost_spark.plans.booster import train
from xgboost_spark.plans.linear import LinearModel, train_linear


@pytest.fixture(scope="module")
def lin_data():
    rng = np.random.default_rng(11)
    n, F = 4000, 4
    X = rng.normal(size=(n, F))
    true_w = np.array([2.0, -1.0, 0.5, 0.0])
    y = X @ true_w + 3.0 + rng.normal(0, 0.05, n)
    return X, y, true_w


@pytest.fixture(scope="module")
def lin_df(spark, lin_data):
    X, y, _ = lin_data
    pdf = pd.DataFrame(X, columns=[f"c{i}" for i in range(X.shape[1])])
    pdf["label"] = y
    return spark.createDataFrame(pdf)


@pytest.mark.slow
def test_gblinear_matches_ridge_oracle(spark, lin_df, lin_data):
    X, y, _ = lin_data
    lam = 1.0 / len(y)   # reference DenormalizePenalties: lambda_d =
    model = train({"booster": "gblinear", "num_boost_round": 60, "eta": 0.7,
                   "reg_lambda": lam, "reg_alpha": 0.0},
                  lin_df, feature_cols=[f"c{i}" for i in range(4)])
    # closed-form ridge on centered problem with the DENORMALIZED
    # penalty (param.h:59-62: lambda * sum_instance_weight = 1.0 here):
    # (X'X + lam*n I) w = X'(y - ybar)
    yc = y - y.mean()
    Xc = X - X.mean(0)
    w_star = np.linalg.solve(Xc.T @ Xc + lam * len(y) * np.eye(4),
                             Xc.T @ yc)
    assert np.allclose(model.weights, w_star, atol=0.05)
    pred = model.transform(lin_df, feature_cols=[f"c{i}" for i in range(4)]) \
        .toPandas()["prediction"].to_numpy()
    rmse = float(np.sqrt(np.mean((pred - y) ** 2)))
    assert rmse < 0.1


def test_gblinear_pred_contribs(spark, lin_df):
    """Linear contributions (reference gblinear.cc PredictContribution):
    contribs = [w_f * x_f ..., bias]; sum == margin exactly."""
    fc = [f"c{i}" for i in range(4)]
    model = train({"booster": "gblinear", "num_boost_round": 10, "eta": 0.5},
                  lin_df, feature_cols=fc)
    out = model.transform(lin_df.limit(100), feature_cols=fc,
                          output_margin=True, pred_contribs=True).toPandas()
    contribs = np.stack(out["contribs"].to_numpy())
    assert contribs.shape[1] == 5
    assert np.abs(contribs.sum(1) - out["margin"].to_numpy()).max() < 1e-12


@pytest.mark.slow
def test_gblinear_l1_sparsifies(spark, lin_df):
    # alpha is DENORMALIZED by n (param.h:59-62) — 200/n gives the same
    # effective penalty the pre-round-11 un-denormalized 200 applied
    model = train({"booster": "gblinear", "num_boost_round": 60, "eta": 0.7,
                   "reg_lambda": 0.0, "reg_alpha": 200.0 / 4000},
                  lin_df, feature_cols=[f"c{i}" for i in range(4)])
    # strong L1 must zero the truly-zero coefficient (c3)
    assert abs(model.weights[3]) < 1e-6
    assert abs(model.weights[0]) > 0.5      # strong signal survives


@pytest.mark.slow
def test_gblinear_logistic_improves(spark, lin_df, lin_data):
    X, y, _ = lin_data
    pdf = pd.DataFrame(X, columns=[f"c{i}" for i in range(4)])
    pdf["label"] = (y > np.median(y)).astype(float)
    df = lin_df.sparkSession.createDataFrame(pdf)
    model = train_linear({"booster": "gblinear", "objective": "binary:logistic",
                          "num_boost_round": 30, "eta": 0.5,
                          "eval_metric": ["logloss"]},
                         df, feature_cols=[f"c{i}" for i in range(4)],
                         evals=[(df, "train")])
    hist = model.eval_history["train"]["logloss"]
    assert hist[-1] < hist[0] * 0.8


def test_gblinear_serving_is_jvm_side(spark, sf_dir):
    """Serving must be a pure Catalyst projection over the parquet scan —
    no Python in the plan, whole-stage codegen applies."""
    from xgboost_spark.sources.tables import load_table
    li = load_table(spark, sf_dir, "lineitem")
    fcols = ["l_quantity", "l_discount", "l_tax"]
    model = train({"booster": "gblinear", "num_boost_round": 3},
                  li, feature_cols=fcols, label_col="l_extendedprice")
    out = model.transform(li, feature_cols=fcols)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "*(1) Project" in plan      # whole-stage-codegen'd projection


def test_gblinear_json_roundtrip(spark, lin_df, tmp_path):
    model = train({"booster": "gblinear", "num_boost_round": 10},
                  lin_df, feature_cols=[f"c{i}" for i in range(4)])
    path = str(tmp_path / "lin.json")
    model.save(path)
    loaded = LinearModel.load(path)
    assert np.allclose(loaded.weights, model.weights)
    assert loaded.bias == pytest.approx(model.bias)
    assert loaded.base_score == pytest.approx(model.base_score)


@pytest.mark.slow
def test_gblinear_greedy_thrifty_selectors(spark, lin_df, lin_data):
    """greedy/thrifty selectors (reference src/linear/param.h): rank
    features by univariate Newton-step magnitude; top_k restricts the
    update set per round."""
    X, y, true_w = lin_data
    fc = [f"c{i}" for i in range(4)]
    for sel in ("greedy", "thrifty"):
        model = train({"booster": "gblinear", "num_boost_round": 60,
                       "eta": 0.7, "reg_lambda": 1.0 / 4000,   # denorm
                       "feature_selector": sel},
                      lin_df, feature_cols=fc)
        pred = model.transform(lin_df, feature_cols=fc).toPandas()["prediction"].to_numpy()
        assert float(np.sqrt(np.mean((pred - y) ** 2))) < 0.1
    # top_k=1: only the strongest coordinate moves each round; with few
    # rounds the second-largest true weight must stay behind the largest
    m1 = train({"booster": "gblinear", "num_boost_round": 3, "eta": 0.5,
                "feature_selector": "greedy", "top_k": 1},
               lin_df, feature_cols=fc)
    w = np.abs(np.asarray(m1.weights))
    assert w.argmax() == 0 and (w > 1e-12).sum() <= 3


# -------------------------------------------- multi-group training (round 11)

@pytest.fixture(scope="module")
def mc_lin_data():
    """3-class blobs, linearly separable: class k centered at angle
    2*pi*k/3 in the (c0, c1) plane; c2 is noise."""
    rng = np.random.default_rng(5)
    n_per, K = 400, 3
    cents = np.array([[2.0, 0.0], [-1.0, 1.8], [-1.0, -1.8]])
    X = np.vstack([cents[k] + rng.normal(0, 0.5, size=(n_per, 2))
                   for k in range(K)])
    X = np.column_stack([X, rng.normal(size=len(X))])
    y = np.repeat(np.arange(K), n_per).astype(float)
    return X, y


@pytest.fixture(scope="module")
def mc_lin_df(spark, mc_lin_data):
    X, y = mc_lin_data
    pdf = pd.DataFrame(X, columns=["c0", "c1", "c2"])
    pdf["label"] = y
    return spark.createDataFrame(pdf)


@pytest.mark.slow
def test_gblinear_multigroup_train(spark, mc_lin_df, mc_lin_data):
    """Multi-group gblinear training (reference gblinear.cc DoBoost runs
    the coordinate updater per group; weights (F+1) x K,
    gblinear_model.h:40-44): softprob on 3 separable blobs must reach
    high accuracy, and serving agrees with a NumPy replay of the
    trained weights."""
    X, y = mc_lin_data
    fc = ["c0", "c1", "c2"]
    model = train_linear({"booster": "gblinear", "objective": "multi:softprob",
                          "num_class": 3, "num_boost_round": 20, "eta": 0.5,
                          "eval_metric": ["mlogloss", "merror"]},
                         mc_lin_df, feature_cols=fc,
                         evals=[(mc_lin_df, "train")])
    assert model.n_groups == 3
    assert model.weights.shape == (3, 3)
    hist = model.eval_history["train"]["mlogloss"]
    assert hist[-1] < hist[0] * 0.5
    out = model.transform(mc_lin_df, feature_cols=fc).toPandas()
    P = np.stack(out["prediction"].to_numpy())
    acc = float((P.argmax(1) == y).mean())
    assert acc > 0.95, acc
    # NumPy replay of the stored weights matches Spark serving
    M = 0.5 + model.bias[None, :] + X @ model.weights
    E = np.exp(M - M.max(1, keepdims=True))
    want = E / E.sum(1, keepdims=True)
    assert np.allclose(P, want, atol=1e-12)


def test_gblinear_multigroup_roundtrip_and_contribs(spark, mc_lin_df,
                                                    mc_lin_data):
    """The trained multi-group model round-trips through the genuine
    interleaved dialect (strip the engine extension -> still loads and
    serves identically), and pred_contribs emits per-group (F+1) blocks
    that sum EXACTLY to each group's margin (gblinear.cc:153-194)."""
    import json as _json
    X, y = mc_lin_data
    fc = ["c0", "c1", "c2"]
    model = train_linear({"booster": "gblinear", "objective": "multi:softprob",
                          "num_class": 3, "num_boost_round": 10, "eta": 0.5},
                         mc_lin_df, feature_cols=fc)
    sample = mc_lin_df.limit(50)
    out = model.transform(sample, feature_cols=fc, output_margin=True,
                          pred_contribs=True).toPandas()
    C = np.stack([np.stack(r) for r in out["contribs"].to_numpy()])
    M = np.stack(out["margin"].to_numpy())
    assert C.shape == (50, 3, 4)
    assert np.abs(C.sum(axis=2) - M).max() < 1e-12
    # genuine-dialect round trip: drop the engine extension block
    doc = _json.loads(model.to_json())
    doc.pop("xgboost_spark")
    m2 = LinearModel.from_json(_json.dumps(doc))
    assert m2.n_groups == 3
    assert np.allclose(m2.weights, model.weights)
    assert np.allclose(m2.bias, model.bias)
    out2 = m2.transform(sample, feature_cols=fc, output_margin=True).toPandas()
    assert np.allclose(np.stack(out2["margin"].to_numpy()), M, atol=1e-12)


def test_gblinear_multigroup_softmax_serving(spark, mc_lin_df, mc_lin_data):
    """multi:softmax serves the argmax class id."""
    X, y = mc_lin_data
    fc = ["c0", "c1", "c2"]
    model = train_linear({"booster": "gblinear", "objective": "multi:softmax",
                          "num_class": 3, "num_boost_round": 15, "eta": 0.5},
                         mc_lin_df, feature_cols=fc)
    out = model.transform(mc_lin_df, feature_cols=fc).toPandas()
    acc = float((out["prediction"].to_numpy() == y).mean())
    assert acc > 0.95, acc


@pytest.mark.slow
def test_gblinear_multigroup_wide_fallback(spark):
    """F > 256 multi-group training takes the one-snapshot (Jacobi)
    fallback — the scalar wide path's documented semantics, per group
    (no K*F^2 payload) — instead of raising.  A driver-side NumPy
    replay of the exact same bias-first frozen-snapshot math must
    reproduce the trained weights."""
    from xgboost_spark.config import TrainParams
    from xgboost_spark.functions.objectives import get_objective
    from xgboost_spark.plans.linear import (_coordinate_delta,
                                            _coordinate_delta_bias)

    rng = np.random.default_rng(9)
    n, Fw, K = 120, 260, 3
    X = rng.normal(size=(n, Fw))
    y = rng.integers(0, K, n).astype(float)
    pdf = pd.DataFrame(X, columns=[f"x{i}" for i in range(Fw)])
    pdf["label"] = y
    df = spark.createDataFrame(pdf)
    fc = [f"x{i}" for i in range(Fw)]
    rounds = 2
    model = train_linear({"booster": "gblinear",
                          "objective": "multi:softprob",
                          "num_class": K, "num_boost_round": rounds,
                          "eta": 0.5}, df, feature_cols=fc)
    assert model.weights.shape == (Fw, K)

    # NumPy replay of the Jacobi fallback (eta=0.5, lambda=alpha=0
    # gblinear defaults; penalties denormalized by n are zero here)
    obj = get_objective("multi:softprob",
                        TrainParams(objective="multi:softprob", num_class=K))
    W = np.zeros((Fw, K))
    bias = np.zeros(K)
    eta = 0.5
    for _ in range(rounds):
        M = 0.5 + bias[None, :] + X @ W
        g, h = obj.grad_hess(y, M, None)
        G, H = g.sum(axis=0), h.sum(axis=0)
        gx = X.T @ g                    # (F, K)
        hx2 = (X * X).T @ h
        hb = X.T @ h
        for k in range(K):
            dbias = eta * _coordinate_delta_bias(float(G[k]), float(H[k]))
            bias[k] += dbias
            gxk = gx[:, k] + dbias * hb[:, k]
            for f in range(Fw):         # cyclic, frozen snapshot
                W[f, k] += eta * _coordinate_delta(
                    gxk[f], hx2[f, k], W[f, k], 0.0, 0.0)
    assert np.allclose(model.weights, W, atol=1e-8)
    assert np.allclose(model.bias, bias, atol=1e-8)
    # serving matches the replayed weights
    out = model.transform(df.limit(20), feature_cols=fc,
                          output_margin=True).toPandas()
    Mv = np.stack(out["margin"].to_numpy())
    Xs = pdf[fc].to_numpy()[:20]
    assert np.allclose(Mv, 0.5 + bias[None, :] + Xs @ W, atol=1e-7)


def test_gblinear_pred_interactions_zero_tensor(spark, lin_df, mc_lin_df):
    """gblinear PredictInteractionContributions is a zero tensor of
    rows x n_groups x F x F — "linear models have no interaction
    effects" (gblinear.cc:192-204).  API parity: scalar emits a flat
    F*F zero array; K>1 emits K such blocks."""
    fc = [f"c{i}" for i in range(4)]
    m = train_linear({"booster": "gblinear", "num_boost_round": 2},
                     lin_df, feature_cols=fc)
    out = m.transform(lin_df.limit(5), feature_cols=fc,
                      pred_interactions=True).toPandas()
    I = np.stack(out["interactions"].to_numpy())
    assert I.shape == (5, 16) and not I.any()
    mc = train_linear({"booster": "gblinear", "objective": "multi:softprob",
                       "num_class": 3, "num_boost_round": 2},
                      mc_lin_df, feature_cols=["c0", "c1", "c2"])
    out2 = mc.transform(mc_lin_df.limit(4), feature_cols=["c0", "c1", "c2"],
                        pred_interactions=True).toPandas()
    I2 = np.stack([np.stack(r) for r in out2["interactions"].to_numpy()])
    assert I2.shape == (4, 3, 9) and not I2.any()


def test_gblinear_get_score_weight_only(spark, lin_df, mc_lin_df):
    """gblinear FeatureScore (gblinear.cc:206-231): importance_type
    must be 'weight' (raw coefficients, bias excluded); multi-group
    returns the per-group vector per feature."""
    fc = [f"c{i}" for i in range(4)]
    m = train_linear({"booster": "gblinear", "num_boost_round": 5},
                     lin_df, feature_cols=fc)
    sc = m.get_score()
    assert list(sc) == fc
    assert np.allclose([sc[c] for c in fc], m.weights)
    with pytest.raises(ValueError, match="weight"):
        m.get_score(importance_type="gain")
    mc = train_linear({"booster": "gblinear", "objective": "multi:softprob",
                       "num_class": 3, "num_boost_round": 2},
                      mc_lin_df, feature_cols=["c0", "c1", "c2"])
    sc2 = mc.get_score()
    assert np.allclose(np.array([sc2[c] for c in ["c0", "c1", "c2"]]),
                       mc.weights)


def _sequential_replay(X, y, obj, base_score, K, rounds, eta, lam, alpha):
    """Row-level NumPy replay of the reference's sequential round, per
    group: the global scale pass, the bias step, then each coordinate
    in turn with the gradient updated by ``h * dw * x`` (hessians fixed
    within a round; penalties denormalized by the row count)."""
    from xgboost_spark.plans.linear import (_coordinate_delta,
                                            _coordinate_delta_bias)
    X = np.nan_to_num(X)
    n, Fn = X.shape
    W, bias = np.zeros((Fn, K)), np.zeros(K)
    lam_d, alpha_d = lam * n, alpha * n
    for _ in range(rounds):
        M = base_score + bias + X @ W
        m = M if K > 1 else M[:, 0]
        obj.set_scale(obj.scale_stats(y, m, None))
        g, h = obj.grad_hess(y, m, None)
        g, h = g.reshape(n, K), h.reshape(n, K)
        for k in range(K):
            gk, hk = g[:, k].copy(), h[:, k]
            db = eta * _coordinate_delta_bias(gk.sum(), hk.sum())
            bias[k] += db
            gk += hk * db
            for f in range(Fn):
                dw = eta * _coordinate_delta(gk @ X[:, f], hk @ X[:, f] ** 2,
                                             W[f, k], alpha_d, lam_d)
                W[f, k] += dw
                gk += hk * dw * X[:, f]
    return W, bias


@pytest.mark.parametrize("objective,extra", [
    ("reg:absoluteerror", {}),
    ("reg:quantileerror", {"quantile_alpha": [0.2, 0.7]}),
])
def test_gblinear_global_scale_objective_matches_replay(spark, objective,
                                                        extra):
    """A global-scale objective (the K+1-stat scale pre-pass runs every
    round) trained on 12 partitions matches a row-level NumPy replay of
    the sequential round, for K=1 and K=2."""
    from xgboost_spark.config import TrainParams
    from xgboost_spark.functions.objectives import get_objective

    rng = np.random.default_rng(21)
    n, Fn, rounds = 300, 3, 3
    X = rng.normal(size=(n, Fn))
    X[rng.random((n, Fn)) < 0.05] = np.nan
    y = np.nan_to_num(X) @ np.array([1.5, -2.0, 0.5]) + rng.laplace(0, 0.5, n)
    pdf = pd.DataFrame(X, columns=[f"c{i}" for i in range(Fn)])
    pdf["label"] = y
    df = spark.createDataFrame(pdf).repartition(12)
    params = {"booster": "gblinear", "objective": objective,
              "num_boost_round": rounds, "reg_lambda": 0.01,
              "reg_alpha": 0.001, **extra}
    model = train_linear(params, df, feature_cols=list(pdf.columns[:Fn]))
    p = TrainParams.from_dict(params)
    K = p.n_groups
    base = 0.5 if K > 1 else y.mean()
    W, bias = _sequential_replay(X, y, get_objective(objective, p), base,
                                 K, rounds, 0.5, 0.01, 0.001)
    assert model.base_score == pytest.approx(base, rel=1e-12)
    np.testing.assert_allclose(model.weights, W[:, 0] if K == 1 else W,
                               rtol=1e-9, atol=1e-10)
    np.testing.assert_allclose(model.bias, bias[0] if K == 1 else bias,
                               rtol=1e-9, atol=1e-10)


def test_gblinear_wide_fallback_single_group(spark):
    """F > 256 with one output group takes the one-snapshot (Jacobi)
    pass; on 8 partitions with the shuffle selector it matches a NumPy
    replay of the bias-first frozen-snapshot math."""
    from xgboost_spark.plans.linear import (_coordinate_delta,
                                            _coordinate_delta_bias)

    rng = np.random.default_rng(19)
    n, Fw, rounds, seed = 120, 260, 2, 7
    X = rng.normal(size=(n, Fw))
    y = X[:, :5] @ np.arange(1.0, 6.0) + rng.normal(size=n)
    fc = [f"x{i}" for i in range(Fw)]
    pdf = pd.DataFrame(X, columns=fc)
    pdf["label"] = y
    df = spark.createDataFrame(pdf).repartition(8)
    model = train_linear({"booster": "gblinear", "num_boost_round": rounds,
                          "feature_selector": "shuffle", "seed": seed},
                         df, feature_cols=fc)
    assert model.weights.shape == (Fw,)

    w, bias, base = np.zeros(Fw), 0.0, y.mean()
    order_rng = np.random.default_rng(seed)
    for _ in range(rounds):
        g = base + bias + X @ w - y         # squared error, h = 1
        db = 0.5 * _coordinate_delta_bias(g.sum(), float(n))
        bias += db
        gx = X.T @ g + db * X.sum(axis=0)
        hx2 = (X * X).sum(axis=0)
        for f in order_rng.permutation(Fw):
            w[f] += 0.5 * _coordinate_delta(gx[f], hx2[f], w[f], 0.0, 0.0)
    np.testing.assert_allclose(model.weights, w, rtol=0, atol=1e-8)
    assert model.bias == pytest.approx(bias, abs=1e-8)
