"""tree_method=approx: per-round hessian-weighted re-sketch.
Reference analog: src/tree/updater_approx.cc (grow_histmaker)."""

import hashlib

import numpy as np
import pandas as pd
import pytest

from xgboost_spark.plans.booster import train


FCOLS = [f"c{i}" for i in range(5)]


def test_approx_training_close_to_hist(spark, reg_df, reg_data):
    X, y = reg_data
    m_hist = train({"num_boost_round": 5, "max_depth": 3, "base_score": 0.0},
                   reg_df, feature_cols=FCOLS)
    m_appr = train({"num_boost_round": 5, "max_depth": 3, "base_score": 0.0,
                    "tree_method": "approx", "eval_metric": ["rmse"]},
                   reg_df, feature_cols=FCOLS,
                   evals=[(reg_df, "train")])   # evals traverse the fine bins
    assert len(m_appr.eval_history["train"]["rmse"]) == 5
    ph = m_hist.transform(reg_df, feature_cols=FCOLS).toPandas()["prediction"].to_numpy()
    pa = m_appr.transform(reg_df, feature_cols=FCOLS).toPandas()["prediction"].to_numpy()
    rmse_h = float(np.sqrt(np.mean((ph - y) ** 2)))
    rmse_a = float(np.sqrt(np.mean((pa - y) ** 2)))
    # both learn; approx within 25% of hist
    base = float(np.sqrt(np.mean(y ** 2)))
    assert rmse_h < base * 0.6
    assert rmse_a < rmse_h * 1.25


def test_approx_rejects_unsupported_combos(spark, reg_df):
    with pytest.raises(ValueError):
        train({"tree_method": "exact", "num_boost_round": 1},
              reg_df, feature_cols=FCOLS)


@pytest.mark.slow
def test_approx_const_hess_sketch_once_composed(spark, reg_df, monkeypatch):
    """Sketch cadence twin (updater_approx.cc:47-52 BatchSpec: the
    GHistIndexMatrix regen flag is !const_hess): reg:squarederror
    (the only ObjInfo{., true} objective, regression_loss.h:32)
    sketches ONCE — round 0 — and reuses the cuts; a non-const-hess
    objective re-sketches EVERY round.  Counted on the DataFrame path
    via the driver's core.approx_bounds calls."""
    from xgboost_spark import core
    calls = []
    real = core.approx_bounds

    def counting(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(core, "approx_bounds", counting)
    train({"num_boost_round": 3, "max_depth": 2, "tree_method": "approx",
           "exec_mode": "dataframe", "base_score": 0.0},
          reg_df, feature_cols=FCOLS)
    assert len(calls) == 1, "const-hess must sketch at round 0 only"
    calls.clear()
    train({"num_boost_round": 3, "max_depth": 2, "tree_method": "approx",
           "exec_mode": "dataframe", "base_score": 0.0,
           "objective": "reg:pseudohubererror"},
          reg_df, feature_cols=FCOLS)
    assert len(calls) == 3, "non-const-hess re-sketches each round"


def test_approx_const_hess_checkpoint_resume(spark, reg_df, tmp_path):
    """Barrier approx + squarederror + subsample: the round-0 coarse
    binning is FROZEN (const-hess cadence) and persisted in the
    checkpoint (approx_bounds), so a kill->resume run keeps the original
    cuts — without that, the resume would re-sketch at the resume round
    with different sampled hessians and diverge."""
    import os
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    from test_barrier import _failing_objective, _structurally_equal
    fc = FCOLS
    kw = dict(num_boost_round=6, max_depth=3, max_bin=16, eta=0.4, seed=3,
              tree_method="approx", subsample=0.7, exec_mode="barrier")
    ckdir = str(tmp_path / "cka")
    ckpt = os.path.join(ckdir, "barrier_ckpt.pkl")
    m_full = SparkBooster(TrainParams(**kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    p_ck = TrainParams(checkpoint_dir=ckdir, checkpoint_interval=2, **kw)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(p_ck, obj=_failing_objective(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(ckpt)
    m_res = SparkBooster(p_ck).fit(reg_df, feature_cols=fc,
                                   label_col="label")
    assert len(m_res.trees) == 6
    assert _structurally_equal(m_res, m_full)


def test_approx_multiclass_per_group_resketch(spark):
    """K>1 scalar groups: the reference re-sketches per group — gbtree
    BoostNewTrees calls the updater once per class and each Update
    regenerates the index with THAT group's hessians
    (updater_approx.cc:283-298).  Behavioral pin: barrier approx
    multiclass trains and stays within 30% of hist's mlogloss."""
    import pandas as pd
    rng = np.random.default_rng(5)
    n = 3000
    X = rng.normal(0, 1, (n, 4))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(int) + (X[:, 2] > 0.7)
    pdf = pd.DataFrame(X, columns=[f"c{i}" for i in range(4)])
    pdf["label"] = y
    df = spark.createDataFrame(pdf)
    base = {"objective": "multi:softprob", "num_class": 3,
            "num_boost_round": 5, "max_depth": 3, "max_bin": 32,
            "eval_metric": ["mlogloss"]}
    mh = train({**base, "tree_method": "hist"}, df,
               feature_cols=[f"c{i}" for i in range(4)],
               evals=[(df, "train")])
    ma = train({**base, "tree_method": "approx"}, df,
               feature_cols=[f"c{i}" for i in range(4)],
               evals=[(df, "train")])
    lh = mh.eval_history["train"]["mlogloss"][-1]
    la = ma.eval_history["train"]["mlogloss"][-1]
    assert la < np.log(3) * 0.8          # genuinely learning
    assert la < lh * 1.30


def test_approx_multi_output_tree_rejected(spark, reg_df):
    """approx + multi-target trees: the reference refuses —
    CHECK(!p_tree->IsMultiTarget()) << MTNotImplemented()
    (updater_approx.cc:166)."""
    import pandas as pd
    rng = np.random.default_rng(7)
    n = 200
    pdf = pd.DataFrame(rng.normal(0, 1, (n, 3)), columns=["c0", "c1", "c2"])
    pdf["label"] = (pdf["c0"] > 0).astype(int) + (pdf["c1"] > 0.5)
    df = spark.createDataFrame(pdf)
    with pytest.raises(NotImplementedError, match="multi-target"):
        train({"objective": "multi:softprob", "num_class": 3,
               "multi_strategy": "multi_output_tree",
               "tree_method": "approx", "num_boost_round": 1},
              df, feature_cols=["c0", "c1", "c2"])


@pytest.mark.slow
def test_approx_dataframe_fit_ignores_session_history(spark):
    """The same DataFrame-path approx fit, before and after 200 small
    unrelated queries, gives the same model bytes: the per-round
    binning reads only the frame's fine bins and its hessians, summed
    in partition order — nothing seeded from the session's RDD count
    (a range-partitioned re-sketch of raw values was)."""
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    rng = np.random.default_rng(11)
    n = 2000
    X = rng.normal(0, 1, (n, 5))
    X[rng.random(X.shape) < 0.03] = np.nan
    x0, x1 = np.nan_to_num(X[:, 0]), np.nan_to_num(X[:, 1])
    pdf = pd.DataFrame(X, columns=FCOLS)
    pdf["label"] = np.sin(2 * x0) + 0.5 * x1 + rng.normal(0, 0.2, n)
    df = spark.createDataFrame(pdf).repartition(4).cache()
    p = TrainParams(tree_method="approx", objective="reg:pseudohubererror",
                    num_boost_round=5, max_depth=3, max_bin=16, eta=0.4,
                    seed=3, exec_mode="dataframe")

    def digest():
        m = SparkBooster(p).fit(df, feature_cols=FCOLS, label_col="label")
        return hashlib.sha256(bytes(m.save_raw())).hexdigest()

    first = digest()
    for i in range(200):
        spark.range(0, 3, 1, 1).selectExpr(f"id + {i}").collect()
    assert digest() == first
    df.unpersist()
