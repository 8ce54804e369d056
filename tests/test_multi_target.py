"""multi_strategy=multi_output_tree: one tree per round with vector
leaves (reference `src/tree/multi_target_tree_model.cc`, strategy gate
`include/xgboost/learner.h:327,345`)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_spark.config import TrainParams
from xgboost_spark.local.booster import LocalBooster
from xgboost_spark.plans.booster import SparkBooster


def _cls_data(n=2500, f=4, seed=11):
    rng = np.random.default_rng(seed)
    X = rng.normal(size=(n, f))
    y = (X[:, 0] + X[:, 1] > 0).astype(int) + (X[:, 2] > 0.5).astype(int)
    return X, y


def test_local_multi_output_tree_learns():
    X, y = _cls_data()
    p = TrainParams(objective="multi:softprob", num_class=3,
                    multi_strategy="multi_output_tree",
                    num_boost_round=8, max_depth=4, max_bin=32)
    b = LocalBooster(p).fit(X, y.astype(float))
    assert all(len(rnd) == 1 for rnd in b.trees)        # ONE tree per round
    t = b.trees[0][0]
    assert isinstance(t.leaf_value[0], list) and len(t.leaf_value[0]) == 3
    probs = b.predict(X)
    acc = (probs.argmax(axis=1) == y).mean()
    assert acc > 0.85


@pytest.fixture()
def cls_df(spark):
    X, y = _cls_data()
    pdf = pd.DataFrame({f"f{i}": X[:, i] for i in range(X.shape[1])})
    pdf["label"] = y.astype(float)
    return spark.createDataFrame(pdf)


def test_spark_multi_output_tree(spark, cls_df):
    p = TrainParams(objective="multi:softprob", num_class=3,
                    multi_strategy="multi_output_tree",
                    num_boost_round=5, max_depth=4, max_bin=32, seed=2)
    m = SparkBooster(p).fit(cls_df, feature_cols=[f"f{i}" for i in range(4)],
                            label_col="label")
    assert all(len(rnd) == 1 for rnd in m.trees)
    pred = m.transform(cls_df, feature_cols=[f"f{i}" for i in range(4)])
    row = pred.select("prediction").first()
    assert len(row["prediction"]) == 3
    assert abs(sum(row["prediction"]) - 1.0) < 1e-9      # softprob simplex
    acc = (pred.withColumn(
        "hit", (F.expr("array_position(prediction, array_max(prediction))") - 1
                == F.col("label")).cast("double"))
        .agg(F.avg("hit")).first()[0])
    assert acc > 0.8


def test_spark_multi_parity_with_local_cuts(spark, cls_df):
    """Same cuts + same seed => same tree structure as LocalBooster."""
    X, y = _cls_data()
    p = TrainParams(objective="multi:softprob", num_class=3,
                    multi_strategy="multi_output_tree",
                    num_boost_round=3, max_depth=3, max_bin=16, seed=7)
    local = LocalBooster(p).fit(X, y.astype(float))
    ms = SparkBooster(p).fit(cls_df, feature_cols=[f"f{i}" for i in range(4)],
                             label_col="label",
                             cuts=[np.asarray(c) for c in local.cuts])
    for rl, rs in zip(local.trees, ms.trees):
        tl, ts = rl[0], rs[0]
        assert list(tl.feature) == list(ts.feature)
        assert list(tl.split_bin) == list(ts.split_bin)
        np.testing.assert_allclose(
            np.asarray(tl.leaf_value), np.asarray(ts.leaf_value), atol=1e-8)


def test_dataframe_mode_rejects_multi_output(spark, cls_df):
    p = TrainParams(objective="multi:softprob", num_class=3,
                    multi_strategy="multi_output_tree",
                    exec_mode="dataframe", num_boost_round=2)
    with pytest.raises(NotImplementedError, match="multi_output_tree"):
        SparkBooster(p).fit(cls_df, feature_cols=[f"f{i}" for i in range(4)],
                            label_col="label")


def test_barrier_multi_output_tree_profiles_its_histogram_sync(
        spark, cls_df, tmp_path, monkeypatch):
    """The multi-target barrier builder records the same profile keys as
    the scalar one: local histogram time and the sync's time, calls and
    payload bytes."""
    prof = tmp_path / "prof.json"
    monkeypatch.setenv("SPARK_GRAFT_PROF", str(prof))
    p = TrainParams(objective="multi:softprob", num_class=3,
                    multi_strategy="multi_output_tree", exec_mode="barrier",
                    num_boost_round=2, max_depth=3, max_bin=16, seed=1)
    SparkBooster(p).fit(cls_df, feature_cols=[f"f{i}" for i in range(4)],
                        label_col="label", num_partitions=2)
    import json
    got = json.loads(prof.read_text())
    for k in ("hist_local", "hist_allreduce", "allreduce_calls",
              "allreduce_bytes"):
        assert got.get(k, 0) > 0, k
