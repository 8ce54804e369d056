"""Gradient checks: analytic grad/hess vs finite differences of the loss
(reference analog: tests/cpp/objective/)."""

import numpy as np
import pytest

from xgboost_spark.config import TrainParams
from xgboost_spark.functions.objectives import get_objective

EPS = 1e-5


def loss_of(name, y, m, p=None):
    if name == "reg:squarederror":
        return 0.5 * (m - y) ** 2
    if name == "binary:logistic":
        pr = 1 / (1 + np.exp(-m))
        return -(y * np.log(pr) + (1 - y) * np.log(1 - pr))
    if name == "reg:pseudohubererror":
        d = p.huber_slope
        return d ** 2 * (np.sqrt(1 + ((m - y) / d) ** 2) - 1)
    if name == "count:poisson":
        return np.exp(m) - y * m
    if name == "reg:gamma":
        return y / np.exp(m) + m
    if name == "reg:tweedie":
        rho = p.tweedie_variance_power
        return -(y * np.exp((1 - rho) * m) / (1 - rho) - np.exp((2 - rho) * m) / (2 - rho))
    if name == "reg:squaredlogerror":
        return 0.5 * (np.log1p(m) - np.log1p(y)) ** 2
    if name == "reg:expectileerror":
        # reference convention (regression_obj.cu:394): (1 - alpha) on
        # over-prediction, alpha on under-prediction; the objective's
        # grad k*(m-y) is the derivative of the HALF-loss k/2*(m-y)^2
        k = np.where(m - y >= 0, 1 - p.quantile_alpha[0], p.quantile_alpha[0])
        return 0.5 * k * (m - y) ** 2
    raise KeyError(name)


@pytest.mark.parametrize("name,ygen", [
    ("reg:squarederror", lambda r, n: r.normal(size=n)),
    ("binary:logistic", lambda r, n: (r.random(n) > 0.5).astype(float)),
    ("reg:pseudohubererror", lambda r, n: r.normal(size=n)),
    ("count:poisson", lambda r, n: r.poisson(3.0, n).astype(float)),
    ("reg:gamma", lambda r, n: r.gamma(2.0, 1.0, n) + 0.1),
    ("reg:tweedie", lambda r, n: r.gamma(2.0, 1.0, n)),
    ("reg:squaredlogerror", lambda r, n: r.random(n) * 3),
    ("reg:expectileerror", lambda r, n: r.normal(size=n)),
])
def test_grad_finite_diff(name, ygen):
    rng = np.random.default_rng(0)
    n = 200
    y = ygen(rng, n)
    m = rng.normal(0, 0.5, n)
    p = TrainParams(objective=name)
    obj = get_objective(name, p)
    g, h = obj.grad_hess(y, m, None)
    lp = loss_of(name, y, m + EPS, p)
    lm = loss_of(name, y, m - EPS, p)
    g_fd = (lp - lm) / (2 * EPS)
    mask = np.abs(g_fd) > 1e-8
    assert np.allclose(g[mask], g_fd[mask], rtol=1e-3, atol=1e-5)
    if name not in ("count:poisson",):  # poisson hess uses max_delta_step guard
        l0 = loss_of(name, y, m, p)
        h_fd = (lp - 2 * l0 + lm) / EPS ** 2
        mask = h_fd > 1e-4
        assert np.allclose(h[mask], h_fd[mask], rtol=5e-2, atol=1e-3)


def test_softprob_grads():
    rng = np.random.default_rng(1)
    n, K = 100, 4
    y = rng.integers(0, K, n).astype(float)
    m = rng.normal(size=(n, K))
    p = TrainParams(objective="multi:softprob", num_class=K)
    obj = get_objective("multi:softprob", p)
    g, h = obj.grad_hess(y, m, None)
    # finite diff on class 0
    eps = 1e-5

    def nll(mm):
        e = np.exp(mm - mm.max(axis=1, keepdims=True))
        pr = e / e.sum(axis=1, keepdims=True)
        return -np.log(pr[np.arange(n), y.astype(int)])

    mp = m.copy(); mp[:, 0] += eps
    mm_ = m.copy(); mm_[:, 0] -= eps
    g_fd = (nll(mp) - nll(mm_)) / (2 * eps)
    assert np.allclose(g[:, 0], g_fd, rtol=1e-3, atol=1e-5)


def test_weights_scale_gradients():
    y = np.array([1.0, 2.0]); m = np.array([0.0, 0.0]); w = np.array([2.0, 3.0])
    obj = get_objective("reg:squarederror")
    g, h = obj.grad_hess(y, m, w)
    assert np.allclose(g, [-2.0, -6.0])
    assert np.allclose(h, [2.0, 3.0])


def test_quantile_and_mae_grads():
    """Reference closed forms (the reference's OWN
    tests/python/test_tree_regularization.py replays these on a
    single-row DMatrix):

    quantile (quantile_obj.cu:33-75): S = (mean_w sqrt|r|)^2,
    x = r/(0.04*S), g = 0.5*S*(tanh(x)+1-2a),
    h = 12.5*max(tanh(x)/x, 3e-4);
    MAE (regression_obj.cu:609-684): delta = (mean_w sqrt|r|)^2,
    g = r*delta/hypot(delta,r), h = delta/hypot(delta,r)."""
    a = 0.9
    obj = get_objective("reg:quantileerror", TrainParams(objective="reg:quantileerror",
                                                         quantile_alpha=(a,)))
    y = np.array([1.0, 1.0]); m = np.array([0.0, 2.0])
    g, h = obj.grad_hess(y, m, None)
    r = m - y
    S = float(np.mean(np.sqrt(np.abs(r)))) ** 2          # = 1.0
    x = r / (0.04 * S)
    eg = 0.5 * S * (np.tanh(x) + 1.0 - 2.0 * a)
    eh = 0.5 / 0.04 * np.maximum(np.tanh(x) / x, 3.0e-4)
    assert np.allclose(g, eg) and np.allclose(h, eh)
    # saturated tails are the true pinball derivative: -a below, 1-a above
    assert np.allclose(g, [-a * S, (1.0 - a) * S], atol=1e-12)

    mae = get_objective("reg:absoluteerror")
    g2, h2 = mae.grad_hess(y, m, None)
    delta = float(np.mean(np.sqrt(np.abs(r)))) ** 2      # = 1.0
    nrm = np.hypot(delta, r)
    assert np.allclose(g2, r * delta / nrm)
    assert np.allclose(h2, delta / nrm)
    # reference test_tree_regularization closed form: single row,
    # base 0.5, label 1 -> delta=0.5, curvature 1/sqrt(2); the
    # unregularized stump step recovers the label exactly
    g1, h1 = mae.grad_hess(np.array([1.0]), np.array([0.5]), None)
    c = 1.0 / np.sqrt(2.0)
    assert np.isclose(g1[0], -0.5 * c) and np.isclose(h1[0], c)
    assert np.isclose(0.5 - g1[0] / h1[0], 1.0)
    assert np.isclose(0.5 - g1[0] / (h1[0] + 1.0), 0.5 + (0.5 * c) / (c + 1.0))


def test_quantile_scale_stats_protocol():
    """set_scale(global sums) must reproduce the self-computed scale:
    the distributed trainers allreduce scale_stats partials and every
    worker then computes gradients with the SAME scale (reference
    collective GlobalSum, quantile_obj.cu:139-142)."""
    obj = get_objective("reg:quantileerror", TrainParams(
        objective="reg:quantileerror", quantile_alpha=(0.25, 0.75)))
    rng = np.random.default_rng(3)
    y = rng.normal(size=200)
    m = np.column_stack([rng.normal(size=200), rng.normal(size=200)])
    w = rng.random(200) + 0.5
    g0, h0 = obj.grad_hess(y, m, w)
    # two "workers": partial sums added then installed
    st = (obj.scale_stats(y[:80], m[:80], w[:80])
          + obj.scale_stats(y[80:], m[80:], w[80:]))
    obj.set_scale(st)
    g1, h1 = obj.grad_hess(y, m, w)
    obj.set_scale(None)
    assert np.allclose(g0, g1) and np.allclose(h0, h1)
    # sorted pred transform: non-crossing by construction
    pt = obj.pred_transform(m)
    assert (np.diff(pt, axis=1) >= 0).all()


def test_ranking_gradients_direction():
    obj = get_objective("rank:ndcg", TrainParams(objective="rank:ndcg"))
    y = np.array([3.0, 0.0, 1.0, 2.0])
    m = np.array([0.0, 0.5, 0.1, -0.2])
    g, h = obj.grad_hess_group(y, m, None, seed=0)
    assert (h >= 0).all()
    # most-relevant doc should be pushed up (negative gradient) on average
    assert g[0] <= 0


def test_reg_linear_deprecated_alias():
    """reference regression_obj.cu:271-276: reg:linear resolves to
    squared error with a deprecation warning."""
    import warnings

    from xgboost_spark.functions.objectives import SquaredError, get_objective
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        obj = get_objective("reg:linear")
    assert isinstance(obj, SquaredError)
    assert any("deprecated" in str(x.message) for x in w)


_PRED_CASES = [
    ("reg:squarederror", {}), ("reg:squaredlogerror", {}),
    ("reg:pseudohubererror", {}), ("reg:absoluteerror", {}),
    ("binary:logistic", {}), ("reg:logistic", {}), ("binary:logitraw", {}),
    ("binary:hinge", {}), ("count:poisson", {}), ("reg:gamma", {}),
    ("reg:tweedie", {}), ("survival:aft", {}), ("survival:cox", {}),
    ("rank:ndcg", {}), ("rank:pairwise", {}), ("rank:map", {}),
    ("reg:quantileerror", {}),
    ("reg:quantileerror", {"quantile_alpha": [0.9, 0.1, 0.5]}),
    ("reg:expectileerror", {"expectile_alpha": [0.2, 0.8]}),
    ("multi:softprob", {"num_class": 3}), ("multi:softmax", {"num_class": 3}),
]


@pytest.mark.parametrize("booster", ["gbtree", "gblinear"])
@pytest.mark.parametrize(
    "objective,extra", _PRED_CASES,
    ids=[f"{o}-K{TrainParams.from_dict({'objective': o, **e}).n_groups}"
         for o, e in _PRED_CASES])
def test_sql_prediction_matches_pred_transform(spark, booster, objective,
                                               extra):
    """Both SQL serving paths — `GBDTModel.transform_expr` and
    `LinearModel.transform` — map margins to predictions exactly as the
    objective's NumPy ``pred_transform`` does.  The margins frame feeds
    the margins straight in: a tree model with no trees plus a
    ``base_margin`` column, and a gblinear model with identity weights.
    Row 0 holds crossing quantile margins."""
    import pandas as pd
    from pyspark.sql import functions as F

    from xgboost_spark.plans.linear import LinearModel
    from xgboost_spark.plans.model import GBDTModel

    p = TrainParams.from_dict({"objective": objective, **extra})
    K = p.n_groups
    rng = np.random.default_rng(3)
    M = np.vstack([np.linspace(1.5, -1.5, K), np.zeros(K),
                   rng.normal(scale=3.0, size=(6, K))])
    cols = [f"m{k}" for k in range(K)]
    df = spark.createDataFrame(pd.DataFrame(M, columns=cols))
    if booster == "gblinear":
        model = LinearModel(p, 0.0, np.eye(K) if K > 1 else np.ones(1),
                            np.zeros(K) if K > 1 else 0.0, cols)
        out = model.transform(df)
    else:
        model = GBDTModel(p, 0.0, [], cols)
        df = df.withColumn("bm", F.array(*cols) if K > 1 else F.col("m0"))
        out = model.transform_expr(df, base_margin_col="bm")
    got = np.array([np.asarray(v, dtype=np.float64) for v in
                    out.select("prediction").toPandas()["prediction"]])
    want = get_objective(objective, p).pred_transform(
        M if K > 1 else M[:, 0])
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=0)
