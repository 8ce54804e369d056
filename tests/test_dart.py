"""DART booster: dropout rounds, weight normalization, serving parity.
Reference analog: src/gbm/gbtree.h:47,89-123 (Dart), doc normalize_type."""

import numpy as np
import pytest

from xgboost_spark import core
from xgboost_spark.plans.booster import train
from xgboost_spark.plans.model import GBDTModel


FCOLS = [f"c{i}" for i in range(5)]


def test_dart_no_drop_equals_gbtree(spark, reg_df):
    base = {"num_boost_round": 3, "max_depth": 3, "base_score": 0.0, "seed": 1}
    m_gb = train({**base, "booster": "gbtree"}, reg_df, feature_cols=FCOLS)
    m_dart = train({**base, "booster": "dart", "rate_drop": 0.0}, reg_df,
                   feature_cols=FCOLS)
    for ra, rb in zip(m_gb.trees, m_dart.trees):
        for ta, tb in zip(ra, rb):
            assert ta.feature == tb.feature
            assert np.allclose(ta.leaf_value, tb.leaf_value)
    assert m_dart.tree_weights == [1.0, 1.0, 1.0]


def test_dart_drops_reweight_and_serve(spark, reg_df, reg_data):
    X, y = reg_data
    model = train({"num_boost_round": 6, "max_depth": 3, "base_score": 0.0,
                   "booster": "dart", "rate_drop": 0.5, "one_drop": True,
                   "seed": 7}, reg_df, feature_cols=FCOLS)
    assert model.tree_weights is not None
    assert any(w != 1.0 for w in model.tree_weights)     # drops happened
    # serving margin must equal the weighted sum of tree outputs
    out = model.transform(reg_df.limit(300), feature_cols=FCOLS,
                          output_margin=True).toPandas()
    Xs = np.column_stack([out[c].to_numpy(dtype=np.float64) for c in FCOLS])
    manual = np.zeros(len(out))
    for ri, rnd in enumerate(model.trees):
        for t in rnd:
            manual += model.tree_weights[ri] * core.tree_predict(t, Xs, binned=False)
    margin = np.stack(out["margin"].to_numpy())[:, 0]
    assert np.allclose(margin, manual, atol=1e-9)
    # and training reduced rmse vs base_score=0
    rmse0 = float(np.sqrt(np.mean(y ** 2)))
    pred = model.transform(reg_df, feature_cols=FCOLS).toPandas()["prediction"]
    rmse1 = float(np.sqrt(np.mean((pred.to_numpy() - y) ** 2)))
    assert rmse1 < rmse0


def test_dart_forest_normalization(spark, reg_df):
    model = train({"num_boost_round": 4, "max_depth": 2, "base_score": 0.0,
                   "booster": "dart", "rate_drop": 0.9, "one_drop": True,
                   "normalize_type": "forest", "eta": 0.5, "seed": 3},
                  reg_df, feature_cols=FCOLS)
    # forest normalization: every drop round scales dropped by 1/(1+eta)
    # and new trees enter at 1/(1+eta)
    assert any(abs(w - 1.0 / 1.5) < 1e-12 for w in model.tree_weights)


def test_dart_weights_survive_json_roundtrip(spark, reg_df, tmp_path):
    model = train({"num_boost_round": 4, "max_depth": 2, "base_score": 0.0,
                   "booster": "dart", "rate_drop": 0.6, "one_drop": True,
                   "seed": 5}, reg_df, feature_cols=FCOLS)
    path = str(tmp_path / "dart.json")
    model.save(path)
    loaded = GBDTModel.load(path)
    assert loaded.tree_weights == pytest.approx(model.tree_weights)
    a = model.transform(reg_df.limit(100), feature_cols=FCOLS).toPandas()["prediction"]
    b = loaded.transform(reg_df.limit(100), feature_cols=FCOLS).toPandas()["prediction"]
    assert np.allclose(a.to_numpy(), b.to_numpy(), atol=1e-12)


def test_dart_global_scale_ignores_arrow_batch_size(spark, reg_df):
    """DART with a global-scale objective on the DataFrame path: the
    residual scale at the dropped-out margin is one sum over every row,
    so the Arrow batch size must not change the trees."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    params = {"num_boost_round": 5, "max_depth": 3, "seed": 9,
              "objective": "reg:absoluteerror", "booster": "dart",
              "rate_drop": 0.5, "one_drop": True, "exec_mode": "dataframe"}
    old = spark.conf.get(key, None)
    models = []
    try:
        for batch in ("65536", "200"):
            spark.conf.set(key, batch)
            models.append(train(params, reg_df, feature_cols=FCOLS,
                                num_partitions=4))
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    a, b = models
    assert a.tree_weights == b.tree_weights
    for ra, rb in zip(a.trees, b.trees):
        for ta, tb in zip(ra, rb):
            assert ta.feature == tb.feature and ta.left == tb.left
            assert ta.split_bin == tb.split_bin
            assert np.allclose(ta.leaf_value, tb.leaf_value, rtol=0,
                               atol=1e-12)
