"""The fit's stage split (plans/booster.py `_fit_impl`): one path choice
before any Spark job runs, and the two tree trainers agreeing on what
they share (eval-set parse, early-stopping direction)."""

import numpy as np
import pandas as pd
import pytest

from xgboost_spark.config import TrainParams
from xgboost_spark.functions.callbacks import TrainingCallback
from xgboost_spark.functions.objectives import get_objective
from xgboost_spark.plans.booster import SparkBooster, _choose_path

FCOLS = [f"c{i}" for i in range(5)]
_EVALS = [(None, "v")]


@pytest.mark.parametrize("params, kw, want", [
    ({}, {}, ("barrier", "")),
    ({"objective": "survival:cox"}, {},
     ("dataframe", "survival:cox needs a global sort (DataFrame path)")),
    ({"objective": "binary:logistic", "eval_metric": ["ams@0.15"]},
     {"evals": _EVALS},
     ("dataframe", "metric 'ams@0.15' needs a global sort (DataFrame path)")),
    ({}, {"callbacks": [TrainingCallback()]},
     ("dataframe", "callbacks run on the DataFrame path")),
    ({}, {"evals": _EVALS, "custom_metric": lambda df: ("m", 0.0)},
     ("dataframe", "custom_metric runs on the DataFrame path")),
    ({"exec_mode": "dataframe"}, {}, ("dataframe", "exec_mode=dataframe")),
    ({"exec_mode": "barrier"}, {"callbacks": [TrainingCallback()]},
     (ValueError, "exec_mode=barrier unsupported here: callbacks run on "
                  "the DataFrame path")),
    ({"objective": "rank:ndcg", "lambdarank_unbiased": True},
     {"callbacks": [TrainingCallback()], "has_qid": True},
     (NotImplementedError, "lambdarank_unbiased trains on the barrier path "
      ".*blocked because: callbacks run on the DataFrame path")),
    ({"objective": "survival:cox", "booster": "dart"}, {},
     (NotImplementedError, "booster='dart' is not supported with "
                           "survival:cox")),
], ids=["plain", "cox", "ams", "callbacks", "custom_metric",
        "exec_mode_dataframe", "exec_mode_barrier_callbacks",
        "unbiased_callbacks", "dart_cox"])
def test_choose_path_table(params, kw, want):
    """`_choose_path` is the one place a fit's path is picked or the fit
    refused; it needs no SparkSession."""
    p = TrainParams(**params)
    obj = get_objective(p.objective, p)
    args = dict(evals=kw.get("evals"), callbacks=kw.get("callbacks"),
                custom_metric=kw.get("custom_metric"),
                has_qid=kw.get("has_qid", False))
    if isinstance(want[0], type):
        with pytest.raises(want[0], match=want[1]):
            _choose_path(p, obj, **args)
    else:
        assert _choose_path(p, obj, **args) == want


def _jobs(spark, group: str, run) -> int:
    """Spark jobs that ``run()`` starts, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_refused_fit_runs_no_spark_job(spark, reg_df):
    """A combination only the barrier trainer implements, forced onto
    the DataFrame path, is refused before the sketch or the base-score
    job runs."""
    def fit():
        with pytest.raises(NotImplementedError,
                           match="sampling_method='gradient_based'"):
            SparkBooster(TrainParams(
                subsample=0.5, sampling_method="gradient_based",
                num_boost_round=2, max_depth=2)).fit(
                reg_df, feature_cols=FCOLS, label_col="label",
                callbacks=[TrainingCallback()])

    assert _jobs(spark, "refused-fit-probe", fit) == 0


def test_dart_cox_refused_before_any_job(spark, reg_df):
    """DART with survival:cox is refused up front, not at the first
    dropped round."""
    def fit():
        with pytest.raises(NotImplementedError, match="booster='dart'"):
            SparkBooster(TrainParams(
                objective="survival:cox", booster="dart", rate_drop=0.5,
                num_boost_round=3, max_depth=2)).fit(
                reg_df, feature_cols=FCOLS, label_col="label")

    assert _jobs(spark, "dart-cox-probe", fit) == 0


def test_dataframe_path_jobs_per_round_dart_as_gbtree(spark, reg_df):
    """A DART round on the DataFrame path costs the Spark jobs of a
    gbtree round: its gradients at the dropped-out margin ride the
    margin pass.  Per-round cost = jobs(6 rounds) - jobs(5 rounds)."""
    def per_round(**params):
        counts = []
        for rounds in (5, 6):
            p = TrainParams(exec_mode="dataframe", max_depth=3, seed=1,
                            num_boost_round=rounds, **params)
            counts.append(_jobs(
                spark, f"jobs-{params.get('booster', 'gbtree')}-{rounds}",
                lambda: SparkBooster(p).fit(reg_df, feature_cols=FCOLS)))
        return counts[1] - counts[0]

    gbtree = per_round()
    dart = per_round(booster="dart", rate_drop=0.5, one_drop=True)
    assert dart == gbtree, (dart, gbtree)


def test_barrier_early_stopping_honours_maximize(spark):
    """An explicit ``maximize`` sets the early-stopping direction on
    both trainers: with rmse maximized, the first round is the best and
    the fit stops ``early_stopping_rounds`` rounds later."""
    rng = np.random.default_rng(3)
    X = rng.normal(size=(2000, 4))
    y = X[:, 0] - 0.5 * X[:, 1] + rng.normal(0, 0.3, 2000)
    pdf = pd.DataFrame(X, columns=[f"f{i}" for i in range(4)])
    pdf["label"] = y
    df = spark.createDataFrame(pdf)
    fc = [f"f{i}" for i in range(4)]
    out = {}
    for mode in ("barrier", "dataframe"):
        m = SparkBooster(TrainParams(
            eval_metric=["rmse"], early_stopping_rounds=2, num_boost_round=8,
            max_depth=2, max_bin=16, exec_mode=mode)).fit(
            df, feature_cols=fc, label_col="label", evals=[(df, "v")],
            maximize=True)
        out[mode] = (m.best_iteration, len(m.eval_history["v"]["rmse"]))
    assert out["barrier"] == out["dataframe"] == (0, 3), out


def test_eval_sets_share_the_missing_sentinel(spark):
    """Eval sets are assembled once, with the training ``missing``
    value, so both trainers read the sentinel in an eval set as
    missing."""
    rng = np.random.default_rng(5)
    n = 1500
    f0 = rng.normal(size=n)
    miss = rng.random(n) < 0.3
    f0[miss] = 0.0
    f1 = rng.normal(size=n)
    y = np.where(miss, 4.0, f0) + 0.1 * f1
    pdf = pd.DataFrame({"f0": f0, "f1": f1, "label": y})
    tr = spark.createDataFrame(pdf.iloc[:1000])
    ev = spark.createDataFrame(pdf.iloc[1000:])
    hist = {}
    for name, cbs in (("barrier", None), ("dataframe", [TrainingCallback()])):
        m = SparkBooster(TrainParams(
            num_boost_round=3, max_depth=3, max_bin=32,
            eval_metric=["rmse"])).fit(
            tr, feature_cols=["f0", "f1"], label_col="label",
            evals=[(ev, "val")], missing=0.0, callbacks=cbs)
        hist[name] = m.eval_history["val"]["rmse"]
    np.testing.assert_allclose(hist["dataframe"], hist["barrier"],
                               rtol=0, atol=1e-9)
    assert hist["barrier"][-1] < hist["barrier"][0]


def test_categorical_feature_after_numeric_ones(spark):
    """A categorical feature that is not the first feature gets identity
    cuts sized by its largest code."""
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame({"c0": rng.normal(size=400),
                        "cat": rng.integers(0, 6, 400).astype(float)})
    pdf["label"] = pdf["c0"] + 2.0 * (pdf["cat"] == 3)
    m = SparkBooster(TrainParams(num_boost_round=2, max_depth=2)).fit(
        spark.createDataFrame(pdf), feature_cols=["c0", "cat"],
        label_col="label", categorical_features=["cat"])
    assert list(m.cuts[1]) == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
