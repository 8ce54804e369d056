"""Metric query tests vs NumPy formulas (reference analog:
tests/python/test_eval_metrics.py)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_spark.functions import metrics as M


@pytest.fixture(scope="module")
def scored(spark):
    rng = np.random.default_rng(2)
    n = 2000
    y = (rng.random(n) > 0.4).astype(float)
    m = rng.normal(0, 1, n) + y * 1.5
    pdf = pd.DataFrame({"y": y, "m0": m, "w": rng.uniform(0.5, 2, n)})
    return spark.createDataFrame(pdf), y, m, pdf["w"].to_numpy()


def test_rmse_mae(spark, scored):
    df, y, m, w = scored
    assert M.compute_metric(df, "rmse") == pytest.approx(np.sqrt(((m - y) ** 2).mean()), rel=1e-9)
    assert M.compute_metric(df, "mae") == pytest.approx(np.abs(m - y).mean(), rel=1e-9)
    wrmse = np.sqrt((w * (m - y) ** 2).sum() / w.sum())
    assert M.compute_metric(df, "rmse", weight="w") == pytest.approx(wrmse, rel=1e-9)


def test_logloss_error(spark, scored):
    df, y, m, w = scored
    p = 1 / (1 + np.exp(-m))
    p = np.clip(p, 1e-16, 1 - 1e-16)
    ll = -(y * np.log(p) + (1 - y) * np.log(1 - p)).mean()
    assert M.compute_metric(df, "logloss") == pytest.approx(ll, rel=1e-9)
    err = ((m > 0).astype(float) != y).mean()
    assert M.compute_metric(df, "error") == pytest.approx(err, rel=1e-9)


def test_auc_matches_rank_formula(spark, scored):
    df, y, m, w = scored
    # tie-free rank AUC
    order = np.argsort(m)
    ranks = np.empty(len(m)); ranks[order] = np.arange(1, len(m) + 1)
    npos, nneg = y.sum(), (1 - y).sum()
    auc = (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert M.compute_metric(df, "auc") == pytest.approx(auc, rel=1e-9)


def test_auc_with_ties(spark):
    pdf = pd.DataFrame({"y": [1, 0, 1, 0, 1, 0], "m0": [0.5, 0.5, 0.5, 0.1, 0.9, 0.9]})
    df = spark.createDataFrame(pdf)
    v = M.compute_metric(df, "auc")
    # scipy-free check: pairs = 9; wins: (.5>.1)=1,(.5>.1),(.9>.1),(.9>.5)x2... compute manually
    pos = [0.5, 0.5, 0.9]; neg = [0.5, 0.1, 0.9]
    wins = sum(1.0 if p > q else 0.5 if p == q else 0.0 for p in pos for q in neg)
    assert v == pytest.approx(wins / 9, rel=1e-9)


def test_multiclass_metrics(spark):
    rng = np.random.default_rng(3)
    n, K = 500, 3
    y = rng.integers(0, K, n).astype(float)
    m = rng.normal(size=(n, K)) + np.eye(K)[y.astype(int)] * 2
    pdf = pd.DataFrame({"y": y, "m0": m[:, 0], "m1": m[:, 1], "m2": m[:, 2]})
    df = spark.createDataFrame(pdf)
    pred = m.argmax(1)
    assert M.compute_metric(df, "merror", margin_cols=["m0", "m1", "m2"]) == pytest.approx(
        (pred != y).mean(), rel=1e-9)
    e = np.exp(m - m.max(1, keepdims=True)); p = e / e.sum(1, keepdims=True)
    mll = -np.log(np.clip(p[np.arange(n), y.astype(int)], 1e-16, None)).mean()
    assert M.compute_metric(df, "mlogloss", margin_cols=["m0", "m1", "m2"]) == pytest.approx(
        mll, rel=1e-7)


def test_multiclass_auc_ovr(spark):
    """Prevalence-weighted one-vs-rest AUC (reference auc.cc MultiAUC):
    checked against a direct NumPy replication of the formula."""
    rng = np.random.default_rng(5)
    n, K = 1500, 3
    y = rng.integers(0, K, n).astype(float)
    m = rng.normal(0, 1, (n, K))
    m[np.arange(n), y.astype(int)] += 1.2
    pdf = pd.DataFrame({"y": y, **{f"m{k}": m[:, k] for k in range(K)}})
    df = spark.createDataFrame(pdf)
    got = M.compute_metric(df, "auc", margin_cols=[f"m{k}" for k in range(K)])

    e = np.exp(m - m.max(axis=1, keepdims=True))
    p = e / e.sum(axis=1, keepdims=True)

    def np_auc(yy, ss):
        order = np.argsort(ss)
        ys, s_sorted = yy[order], ss[order]
        # tie-aware: group by score
        num = pos_seen = neg_seen = 0.0
        i = 0
        while i < len(ss):
            j = i
            while j < len(ss) and s_sorted[j] == s_sorted[i]:
                j += 1
            pos = ys[i:j].sum(); neg = (j - i) - pos
            num += pos * (neg_seen + neg / 2)
            neg_seen += neg; pos_seen += pos
            i = j
        return num / (pos_seen * neg_seen)

    num = den = 0.0
    for k in range(K):
        yk = (y == k).astype(float)
        num += np_auc(yk, p[:, k]) * yk.sum()
        den += yk.sum()
    assert got == pytest.approx(num / den, rel=1e-9)


def test_ndcg_and_map(spark):
    pdf = pd.DataFrame({
        "q": [1, 1, 1, 1, 2, 2, 2],
        "y": [3, 2, 0, 1, 1, 0, 2],
        "m0": [0.9, 0.7, 0.6, 0.2, 0.1, 0.8, 0.5],
    })
    df = spark.createDataFrame(pdf)
    out = {r["qid"]: r["ndcg"] for r in M.ndcg_at_k(df, 3).collect()}

    def dcg(rels):
        return sum((2 ** r - 1) / np.log2(i + 2) for i, r in enumerate(rels[:3]))

    # q1 pred order: 0.9,0.7,0.6 -> rels 3,2,0 ; ideal 3,2,1
    assert out[1] == pytest.approx(dcg([3, 2, 0]) / dcg([3, 2, 1]), rel=1e-9)
    # q2 pred order: 0.8,0.5,0.1 -> rels 0,2,1 ; ideal 2,1,0
    assert out[2] == pytest.approx(dcg([0, 2, 1]) / dcg([2, 1, 0]), rel=1e-9)
    mp = {r["qid"]: r["ap"] for r in M.map_at_k(df, 3).collect()}
    # q2: hits at ranks 2 (prec 1/2) and 3 (prec 2/3); 2 rel docs
    assert mp[2] == pytest.approx((0.5 + 2 / 3) / 2, rel=1e-9)


def test_regression_family_metrics(spark):
    rng = np.random.default_rng(4)
    n = 300
    y = rng.gamma(3, 1, n)
    m = np.log(y) + rng.normal(0, 0.2, n)
    pdf = pd.DataFrame({"y": y, "m0": m})
    df = spark.createDataFrame(pdf)
    mu = np.exp(m)
    pois = (mu - y * m).mean()  # up to lgamma const
    got = M.compute_metric(df, "poisson-nloglik")
    # compare excluding the lgamma(y+1) term which is label-only
    import math
    const = np.mean([math.lgamma(v + 1) for v in y])
    assert got == pytest.approx(pois + const, rel=0.02)
    gd = 2 * (np.log(mu / y) + y / mu - 1).mean()
    assert M.compute_metric(df, "gamma-deviance") == pytest.approx(gd, rel=1e-9)


def test_platt_and_isotonic_calibration(spark):
    import numpy as np
    import pandas as pd
    from xgboost_spark.functions.calibration import (apply_isotonic,
                                                     apply_platt,
                                                     fit_isotonic, fit_platt)
    rng = np.random.default_rng(5)
    m = rng.normal(0, 2.0, 4000)
    # true generating process: sigmoid(0.8*m - 0.5)
    p = 1.0 / (1.0 + np.exp(-(0.8 * m - 0.5)))
    y = (rng.random(4000) < p).astype(float)
    df = spark.createDataFrame(pd.DataFrame({"m": m, "y": y}))
    a, b = fit_platt(df, "m", "y")
    assert abs(a - 0.8) < 0.15 and abs(b + 0.5) < 0.15
    cal = apply_platt(df, "m", (a, b)).toPandas()
    assert cal.calibrated.between(0, 1).all()
    # calibrated log-loss beats the raw sigmoid(m) baseline
    eps = 1e-12
    ll_cal = -np.mean(y * np.log(cal.calibrated + eps)
                      + (1 - y) * np.log(1 - cal.calibrated + eps))
    raw = 1.0 / (1.0 + np.exp(-m))
    ll_raw = -np.mean(y * np.log(raw + eps) + (1 - y) * np.log(1 - raw + eps))
    assert ll_cal < ll_raw

    iso = fit_isotonic(df, "m", "y")
    out = apply_isotonic(df, "m", iso).toPandas().sort_values("m")
    assert out.calibrated.between(0, 1).all()
    assert (np.diff(out.calibrated) >= -1e-12).all()   # monotone


def test_expectile_metric(spark, scored):
    """reference src/metric/elementwise_metric.cu:499-563 ExpectileError:
    weight_scale * diff^2, weight_scale = (1-alpha) for over-prediction,
    alpha for under-prediction."""
    df, y, m, w = scored
    for alpha in (0.2, 0.5, 0.9):
        d = m - y
        k = np.where(d >= 0, 1 - alpha, alpha)
        exp_np = (k * d * d).mean()
        assert M.compute_metric(df, f"expectile@{alpha}") == pytest.approx(
            exp_np, rel=1e-9)
        exp_w = (k * d * d * w).sum() / w.sum()
        assert M.compute_metric(df, f"expectile@{alpha}", weight="w") == \
            pytest.approx(exp_w, rel=1e-9)
    # bare "expectile" defaults to alpha = 0.5 (plain half L2 weights)
    assert M.compute_metric(df, "expectile") == pytest.approx(
        0.5 * ((m - y) ** 2).mean(), rel=1e-9)


def test_expectile_metric_vector_alpha(spark, scored):
    """Vector expectile metric inputs are RAW margins: column k >= 1 is
    a gap margin and the metric applies the SoftPlus stacking first
    (EvalTransform = PredTransform, regression_obj.cu:458-476)."""
    df, y, m, w = scored
    df2 = df.withColumn("m1", F.lit(0.7))
    # stacked predictions: pred0 = m, pred1 = m + eps + softplus(0.7)
    p1 = m + 1e-6 + np.logaddexp(0.0, 0.7)
    tot = np.zeros_like(y)
    for a, mm in ((0.3, m), (0.8, p1)):
        d = mm - y
        tot = tot + np.where(d >= 0, (1 - a) * d * d, a * d * d)
    assert M.compute_metric(df2, "expectile@0.3,0.8",
                            margin_cols=["m0", "m1"]) == pytest.approx(
        (tot / 2.0).mean(), rel=1e-9)


def test_expectile_default_metric_drives_eval(spark, reg_df):
    """An expectile fit's eval history must be keyed by
    expectile@alpha — the reference objective's DefaultEvalMetric
    (regression_obj.cu:484) — not the base-class rmse fallback."""
    from xgboost_spark.plans.booster import SparkBooster
    from xgboost_spark.config import TrainParams
    p = TrainParams(objective="reg:expectileerror", quantile_alpha=[0.8],
                    num_boost_round=3, max_depth=2)
    fcols = [c for c in reg_df.columns if c != "label"]
    model = SparkBooster(p).fit(reg_df, label_col="label",
                                feature_cols=fcols,
                                evals=[(reg_df, "train")])
    hist = model.eval_history["train"]
    assert "expectile@0.8" in hist, hist.keys()
    assert "rmse" not in hist
    # the reported value matches the NumPy formula on the model's own
    # margins
    pred = model.transform(reg_df, feature_cols=fcols).toPandas()
    d = pred["prediction"].to_numpy() - pred["label"].to_numpy()
    k = np.where(d >= 0, 1 - 0.8, 0.8)
    assert hist["expectile@0.8"][-1] == pytest.approx((k * d * d).mean(),
                                                      rel=1e-6)


def test_expectile_barrier_partial_matches_dataframe(scored):
    """ADVICE r8: 'expectile' belongs in BARRIER_ELEMENTWISE so an
    expectile fit with eval sets stays on the barrier fast path; the
    NumPy partial must agree with the DataFrame metric."""
    _, y, m, w = scored
    assert "expectile" in M.BARRIER_ELEMENTWISE
    assert M.barrier_metric_supported("expectile@0.7", has_qid=False)
    for metric in ("expectile", "expectile@0.2", "expectile@0.9"):
        num, den = M.metric_partial_np(metric, y, m[:, None], w)
        alpha = float(metric.partition("@")[2] or 0.5)
        d = m - y
        k = np.where(d >= 0, 1 - alpha, alpha)
        assert M.metric_finalize(metric, num, den) == pytest.approx(
            (k * d * d * w).sum() / w.sum(), rel=1e-12)
    # vector form: raw gap margins stacked first, then mean over alphas
    m2 = np.stack([m, np.full_like(m, 0.7)], axis=1)
    num, den = M.metric_partial_np("expectile@0.3,0.8", y, m2, w)
    p1 = m + 1e-6 + np.logaddexp(0.0, 0.7)
    tot = np.zeros_like(y)
    for a, mm in ((0.3, m), (0.8, p1)):
        d = mm - y
        tot = tot + np.where(d >= 0, (1 - a) * d * d, a * d * d)
    assert num / den == pytest.approx(((tot / 2) * w).sum() / w.sum(),
                                      rel=1e-12)


def test_vector_alpha_margin_mismatch_raises(spark, scored):
    """ADVICE r8: a multi-alpha metric with the wrong number of margin
    columns must raise (reference CHECKs preds size == labels *
    n_alphas), not silently score alphas[0] only."""
    df, *_ = scored
    with pytest.raises(ValueError, match="margin column"):
        M.compute_metric(df, "quantile@0.1,0.5,0.9", margin_cols=["m0"])
    with pytest.raises(ValueError, match="margin column"):
        M.compute_metric(df, "expectile@0.1,0.9", margin_cols=["m0"])


@pytest.mark.slow
def test_minus_suffix_rank_names_plumbed(spark):
    """ADVICE r8 (medium): 'ndcg@5-' / 'map-' must work end-to-end —
    barrier_metric_supported, _maximize, and the DataFrame _eval_metric
    path all strip/route the '-' (reference ranking_utils.cc:138)."""
    from xgboost_spark.plans.booster import _maximize, train
    assert M.barrier_metric_supported("map-", has_qid=True)
    assert M.barrier_metric_supported("ndcg@5-", has_qid=True)
    assert _maximize("map-") and _maximize("ndcg@5-") and _maximize("pre@3")
    rng = np.random.default_rng(11)
    n = 600
    q = rng.integers(0, 30, n)
    f0 = rng.normal(0, 1, n)
    # query 0 has NO relevant docs: the minus rule scores it 0, not 1
    rel = np.where(q == 0, 0.0, (f0 > 0.3).astype(float))
    df = spark.createDataFrame(pd.DataFrame(
        {"q": q, "f0": f0, "f1": rng.normal(0, 1, n), "label": rel}))
    model = train({"objective": "rank:ndcg", "num_boost_round": 2,
                   "max_depth": 2, "base_score": 0.0,
                   "eval_metric": ["ndcg@5-", "map-"],
                   "exec_mode": "dataframe"},
                  df, feature_cols=["f0", "f1"], qid_col="q",
                  evals=[(df, "train")])
    hist = model.eval_history["train"]
    assert "ndcg@5-" in hist and "map-" in hist
    # the minus variant is strictly below the default variant, which
    # scores the all-negative query 1.0
    model2 = train({"objective": "rank:ndcg", "num_boost_round": 2,
                    "max_depth": 2, "base_score": 0.0,
                    "eval_metric": ["ndcg@5", "map"],
                    "exec_mode": "dataframe"},
                   df, feature_cols=["f0", "f1"], qid_col="q",
                   evals=[(df, "train")])
    hist2 = model2.eval_history["train"]
    assert hist["ndcg@5-"][-1] < hist2["ndcg@5"][-1]
    assert hist["map-"][-1] < hist2["map"][-1]


def test_precision_sums_raw_labels(spark):
    """reference EvalPrecision (rank_metric.cc:316-320) accumulates
    RAW label values over the top min(k, |group|), not binarized hits."""
    pdf = pd.DataFrame({
        "q": [1, 1, 1, 2, 2],
        "y": [2.0, 0.0, 1.0, 3.0, 0.0],
        "m0": [9.0, 8.0, 7.0, 5.0, 4.0],
    })
    df = spark.createDataFrame(pdf)
    got = {r["qid"]: r["prec"]
           for r in M.precision_at_k(df, 2, qid="q").collect()}
    assert got[1] == pytest.approx((2.0 + 0.0) / 2)     # top-2 labels 2,0
    assert got[2] == pytest.approx((3.0 + 0.0) / 2)
    # NumPy partial agrees (graded labels)
    v = M._query_rank_metric("pre", 2, pdf[pdf.q == 1]["y"].to_numpy(),
                             pdf[pdf.q == 1]["m0"].to_numpy(), True)
    assert v == pytest.approx(1.0)


# ------------------------------------------------- LTR AUC (round 12)

def test_group_ranking_roc_closed_form():
    """GroupRankingROC (auc.cc:165-195): label-desc stable sort, all
    pairs score 1/0.5/0 by prediction concordance; the group weight
    cancels.  Hand-checked 4-doc group."""
    from xgboost_spark.functions.metrics import group_ranking_auc
    y = np.array([3.0, 2.0, 1.0, 0.0])
    s = np.array([0.9, 0.1, 0.5, 0.2])
    # label-sorted order = [0,1,2,3]; pairs (i<j): diffs
    # (0.9-0.1)>0:1, (0.9-0.5)>0:1, (0.9-0.2)>0:1,
    # (0.1-0.5)<0:0, (0.1-0.2)<0:0, (0.5-0.2)>0:1  -> 4/6
    assert group_ranking_auc(y, s) == pytest.approx(4.0 / 6.0)
    # tied predictions score 0.5
    assert group_ranking_auc(np.array([2.0, 1.0, 0.0]),
                             np.array([0.3, 0.3, 0.1])) == pytest.approx(
        (0.5 + 1.0 + 1.0) / 3.0)
    # under 3 docs: invalid (auc.cc:247 — only one comparison)
    assert group_ranking_auc(np.array([1.0, 0.0]),
                             np.array([0.2, 0.1])) is None


def test_group_ranking_prauc_matches_binary_kernel(spark):
    """Per-group PR-AUC (pr=True) is BinaryPRAUC with the group's
    uniform weight (which cancels): on 0/1 labels it must match the
    engine's independent DataFrame aucpr_binary implementation."""
    from xgboost_spark.functions.metrics import (aucpr_binary,
                                                 group_ranking_auc)
    rng = np.random.default_rng(21)
    y = (rng.random(40) > 0.6).astype(float)
    s = rng.normal(size=40)
    want = aucpr_binary(
        spark.createDataFrame(pd.DataFrame({"y": y, "m0": s}))
        .withColumn("w", F.lit(1.0)), y="y", score="m0", weight="w")
    got = group_ranking_auc(y, s, pr=True)
    assert got == pytest.approx(want, abs=1e-12)
    # single-class group: NaN in the reference -> invalid here
    assert group_ranking_auc(np.ones(5), s[:5], pr=True) is None


def test_ranking_auc_partial_and_dataframe_agree(spark):
    """metric_partial_np('auc', qid=...) and ranking_auc (the grouped
    Arrow path) must produce the same scalar: sum of per-group AUC /
    valid groups, invalid groups excluded from BOTH sides
    (auc.cc:290-322 GlobalRatio semantics)."""
    from xgboost_spark.functions import metrics as M
    rng = np.random.default_rng(5)
    sizes = [5, 2, 7, 4]            # the 2-doc group is ROC-invalid
    qid = np.repeat(np.arange(len(sizes)), sizes)
    y = rng.integers(0, 3, qid.size).astype(float)
    s = rng.normal(size=qid.size)
    num, den = M.metric_partial_np("auc", y, s[:, None], qid=qid)
    assert den == 3.0               # one invalid group dropped
    want = num / den
    df = spark.createDataFrame(pd.DataFrame({"q": qid, "y": y, "m0": s}))
    got = M.ranking_auc(df, qid="q", y="y", score="m0")
    assert got == pytest.approx(want, abs=1e-12)
    # aucpr variant agrees too
    nump, denp = M.metric_partial_np("aucpr", y, s[:, None], qid=qid)
    gotp = M.ranking_auc(df, qid="q", y="y", score="m0", pr=True)
    assert gotp == pytest.approx(nump / denp, abs=1e-12)


def test_train_ranker_with_auc_eval(spark):
    """End to end: rank:ndcg + eval_metric ['auc'] on qid data takes
    the LTR AUC (per-group pairwise), and the recorded history equals
    a NumPy replica over the eval frame."""
    from xgboost_spark.functions import metrics as M
    from xgboost_spark.plans.booster import train
    rng = np.random.default_rng(8)
    n = 60
    pdf = pd.DataFrame({
        "f0": rng.normal(size=n), "f1": rng.normal(size=n),
        "label": rng.integers(0, 3, n).astype(float),
        "q": np.repeat(np.arange(6), 10),
    })
    df = spark.createDataFrame(pdf)
    m = train({"objective": "rank:ndcg", "num_boost_round": 2,
               "base_score": 0.0, "seed": 3, "eval_metric": ["auc"]},
              df, feature_cols=["f0", "f1"], qid_col="q",
              evals=[(df, "train")])
    hist = m.eval_history["train"]["auc"]
    assert len(hist) == 2
    scored = m.transform(df, feature_cols=["f0", "f1"],
                         output_margin=True).toPandas()
    num, den = M.metric_partial_np(
        "auc", scored["label"].to_numpy(),
        scored["margin"].to_numpy()[:, None],
        qid=scored["q"].to_numpy())
    assert hist[-1] == pytest.approx(num / den, abs=1e-9)


def test_multiclass_aucpr_is_macro_averaged(spark):
    """MultiAUC kMultiClass with the PR curve weighs every class 1.0
    (BinaryPRAUC returns tp = 1, auc.cc:222 — so `weight = tp(c)` is
    the macro average), unlike ROC's prevalence weighting."""
    from xgboost_spark.functions.metrics import auc_multiclass, aucpr_binary
    rng = np.random.default_rng(4)
    n, K = 90, 3
    y = rng.integers(0, K, n).astype(float)
    m = rng.normal(size=(n, K))
    pdf = pd.DataFrame({"y": y, **{f"m{k}": m[:, k] for k in range(K)}})
    df = spark.createDataFrame(pdf)
    got = auc_multiclass(df, y="y", margin_cols=[f"m{k}" for k in range(K)],
                         curve="pr")
    # macro average of the K one-vs-rest PR-AUCs over softprob columns
    e = np.exp(m - m.max(1, keepdims=True))
    p = e / e.sum(1, keepdims=True)
    per = []
    for k in range(K):
        d = spark.createDataFrame(pd.DataFrame(
            {"_yc": (y == k).astype(float), "_sc": p[:, k]}))
        per.append(aucpr_binary(d, y="_yc", score="_sc"))
    assert got == pytest.approx(float(np.mean(per)), abs=1e-9)


def test_eval_metric_string_names_one_metric(spark, reg_df):
    """eval_metric="auc" is a one-element list — for train(params),
    SparkGBDTClassifier and cv(metrics=...) alike — not the metrics
    'a', 'u', 'c'."""
    from xgboost_spark.plans.booster import train
    from xgboost_spark.plans.estimator import SparkGBDTClassifier
    fc = [f"c{i}" for i in range(5)]
    df = (reg_df.withColumn("label", (F.col("label") > 0).cast("double"))
          .withColumn("is_val", F.col("c0") > 0.5))
    m = train({"objective": "binary:logistic", "num_boost_round": 2,
               "max_depth": 2, "eval_metric": "auc"},
              df, feature_cols=fc, evals=[(df, "train")])
    assert list(m.eval_history["train"]) == ["auc"]
    assert len(m.eval_history["train"]["auc"]) == 2
    est = SparkGBDTClassifier(label_col="label", features_col=fc,
                              num_boost_round=2, max_depth=2,
                              eval_metric="auc",
                              validation_indicator_col="is_val")
    hist = est.fit(df).evals_result()
    assert list(hist["validation"]) == ["auc"]
    assert 0.5 < hist["validation"]["auc"][-1] <= 1.0
    from xgboost_spark.plans.cv import cv
    res = cv({"objective": "binary:logistic", "num_boost_round": 2,
              "max_depth": 2}, df.drop("is_val"), nfold=2, metrics="auc",
             feature_cols=fc, as_pandas=False)
    assert sorted(res) == ["test-auc-mean", "test-auc-std"]
