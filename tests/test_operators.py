"""Operator-level tests: sketch, binning, histogram, split query."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_spark import core
from xgboost_spark.operators import binning, histogram, sketch, split


def test_approx_cuts_close_to_exact(spark, reg_df, reg_data):
    X, _ = reg_data
    cuts = sketch.approx_cuts(reg_df, ["c0", "c1"], 16)
    for i in range(2):
        x = X[:, i]
        exact = core.make_cuts(x, 16)
        assert len(cuts[i]) >= 8
        # distribution-level agreement
        b_a = core.bin_values(x, cuts[i])
        b_e = core.bin_values(x, exact)
        valid = ~np.isnan(x)
        agree = (b_a[valid] == b_e[valid]).mean()
        assert agree > 0.9


def test_approx_cuts_rank_error_bound(spark):
    # 120k lognormal rows (heavy tail) across 8 partitions.  The
    # compaction sketch claims rank error O(n/accuracy); assert every
    # interior cut's true rank sits within 4*n/accuracy of SOME
    # i/max_bin target rank — a direct epsilon-approximation check,
    # stronger than the bin-agreement test above.
    rng = np.random.RandomState(7)
    x = rng.lognormal(0.0, 1.0, 120_000)
    df = spark.createDataFrame(pd.DataFrame({"x": x})).repartition(8)
    max_bin, acc = 32, 1024
    cuts = sketch.approx_cuts(df, ["x"], max_bin, accuracy=acc)[0]
    assert (np.diff(cuts) > 0).all()
    xs = np.sort(x)
    n = len(xs)
    grid = n / max_bin
    for c in cuts[:-1]:  # last cut is bumped past the max
        r = np.searchsorted(xs, c, side="right")
        nearest = round(r / grid) * grid
        assert abs(r - nearest) <= 4 * n / acc, (c, r, nearest)


def test_approx_cuts_hierarchical_recompaction(spark):
    # ONE partition far above the in-partition buffer cap (65536)
    # forces mid-stream hierarchical squashes; cuts must stay sorted
    # and rank-accurate through the re-compaction levels.
    n = 200_000
    rng = np.random.RandomState(11)
    x = rng.permutation(np.arange(n, dtype=float))
    df = spark.createDataFrame(pd.DataFrame({"x": x})).coalesce(1)
    max_bin, acc = 16, 512
    cuts = sketch.approx_cuts(df, ["x"], max_bin, accuracy=acc)[0]
    assert (np.diff(cuts) > 0).all()
    assert len(cuts) == max_bin
    grid = n / max_bin
    for c in cuts[:-1]:
        r = c + 1.0  # value v has rank v+1 in a permutation of 0..n-1
        nearest = round(r / grid) * grid
        assert abs(r - nearest) <= 6 * n / acc, (c, r, nearest)


def test_approx_cuts_extra_sums_fused(spark):
    # fused weighted sums ride the same scan with SQL-sum null
    # semantics: a null value or weight drops the row, never poisons
    # the total; (None, None) counts every row.
    pdf = pd.DataFrame({
        "v": [1.0, 2.0, None, 4.0, 5.0],
        "w": [2.0, None, 3.0, 0.5, 1.0],
        "x": [0.1, 0.2, 0.3, 0.4, 0.5]})
    df = spark.createDataFrame(pdf)
    cuts, sums = sketch.approx_cuts(df, ["x"], 4, extra_sums=[
        ("vw", "v", "w"), ("cnt", None, None), ("sv", "v", None)])
    assert sums["vw"] == pytest.approx(1 * 2 + 4 * 0.5 + 5 * 1)
    assert sums["cnt"] == 5
    assert sums["sv"] == pytest.approx(12.0)
    assert len(cuts) == 1 and (np.diff(cuts[0]) > 0).all()


def test_quantize_expr_matches_pandas_and_numpy(spark, reg_df, reg_data):
    X, _ = reg_data
    cuts = [core.make_cuts(X[:, i], 8) for i in range(2)]
    d1 = binning.quantize_expr(reg_df, ["c0", "c1"], cuts).select("b0", "b1").toPandas()
    d2 = binning.quantize_pandas(reg_df, ["c0", "c1"], cuts).select("b0", "b1").toPandas()
    ref0 = core.bin_values(X[:, 0], cuts[0])
    ref1 = core.bin_values(X[:, 1], cuts[1])
    assert (np.sort(d1["b0"]) == np.sort(ref0)).all()
    assert (np.sort(d2["b0"]) == np.sort(ref0)).all()
    assert (np.sort(d1["b1"]) == np.sort(ref1)).all()


def test_weighted_cuts_spark(spark):
    pdf = pd.DataFrame({"v": np.arange(100, dtype=float),
                        "w": np.where(np.arange(100) < 50, 1e-4, 1.0)})
    df = spark.createDataFrame(pdf)
    cuts = sketch.weighted_cuts(df, "v", "w", 4, num_partitions=4)
    assert cuts[0] >= 49


def test_exact_quantiles_query(spark, reg_df, reg_data):
    X, _ = reg_data
    out = sketch.exact_quantiles(reg_df, "c0", 8).toPandas()
    x = np.sort(X[~np.isnan(X[:, 0]), 0])
    n = len(x)
    for _, r in out.iterrows():
        expect = x[int(np.ceil(r["k"] * n / 8)) - 1]
        assert r["cut"] == pytest.approx(expect, rel=1e-12)


def test_spark_hist_builder_matches_numpy(spark, reg_df, reg_data):
    X, y = reg_data
    cuts = [core.make_cuts(X[:, i], 16) for i in range(X.shape[1])]
    fc = [f"c{i}" for i in range(X.shape[1])]
    g = y - y.mean()
    h = np.ones_like(y)
    pdf = pd.DataFrame(X, columns=fc)
    pdf["gg"], pdf["hh"] = g, h
    df = spark.createDataFrame(pdf)
    b = binning.quantize_pandas(df, fc, cuts, keep=["gg", "hh"], out_prefix="x")
    builder = histogram.SparkHistBuilder(b, [f"x{i}" for i in range(X.shape[1])],
                                         cuts, gcol="gg", hcol="hh")
    t = core.Tree()
    hg, hh_ = builder.build(t, [0])
    # numpy reference
    from xgboost_spark.local.booster import _NumpyHistBuilder
    Xb = np.column_stack([core.bin_values(X[:, i], cuts[i]) for i in range(X.shape[1])])
    nb = _NumpyHistBuilder(Xb.astype(np.int16), cuts, builder.n_bins)
    nb.set_grad(g, h)
    hg2, hh2 = nb.build(t, [0])
    assert np.allclose(hg, hg2, rtol=1e-9, atol=1e-9)
    assert np.allclose(hh_, hh2, rtol=1e-9, atol=1e-9)


def test_split_query_matches_core(spark):
    rng = np.random.default_rng(5)
    B = 8
    hg = rng.normal(size=B)
    hh = np.abs(rng.normal(size=B)) + 0.5
    pdf = pd.DataFrame({"bin": range(B), "sum_g": hg, "sum_h": hh})
    df = spark.createDataFrame(pdf)
    out = split.best_split_query(df, reg_lambda=1.0, min_child_weight=0.0).toPandas()
    # core: single node, single feature, no missing bucket
    hg3 = np.concatenate([hg, [0.0]])[None, None, :]
    hh3 = np.concatenate([hh, [0.0]])[None, None, :]
    res = core.split_search(hg3, hh3, reg_lambda=1.0, min_child_weight=0.0, gamma=-1e18)[0]
    assert res is not None
    assert int(out["best_bin"][0]) == res.split_bin
    assert out["best_gain"][0] == pytest.approx(res.gain, abs=1e-5)


def test_feature_engineering_ops(spark):
    import pandas as pd
    from xgboost_spark.operators import features
    pdf = pd.DataFrame({
        "uid": [1, 1, 1, 2, 2],
        "ts": pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:30:00",
                              "2024-01-01 02:00:00", "2024-01-01 00:00:00",
                              "2024-01-01 00:10:00"]),
        "eid": [0, 1, 2, 3, 4],
        "v": [1.0, 2.0, 4.0, 10.0, 20.0],
        "cat": ["a", "a", "b", "b", "b"],
    })
    df = spark.createDataFrame(pdf)

    roll = (features.rolling_agg(df, "uid", "ts", "v", 3600)
            .orderBy("eid").toPandas())
    # event 1 sees events 0+1 (30 min apart); event 2 only itself (90 min)
    assert list(roll.v_roll_sum) == [1.0, 3.0, 4.0, 10.0, 30.0]
    assert list(roll.v_roll_count) == [1, 2, 1, 1, 2]

    lag = (features.lag_features(df, "uid", "ts", "v", lags=(1, 2),
                                 tiebreak_col="eid").orderBy("eid").toPandas())
    assert list(lag.v_lag_1.fillna(-1)) == [-1, 1.0, 2.0, -1, 10.0]
    assert list(lag.v_lag_2.fillna(-1)) == [-1, -1, 1.0, -1, -1]

    te = features.target_encode(df, "cat", "v", smoothing=1.0).toPandas()
    gm = pdf.v.mean()
    exp_a = (3.0 + gm) / 3.0
    exp_b = (34.0 + gm) / 4.0
    assert abs(te[te.cat == "a"].cat_te.iloc[0] - exp_a) < 1e-12
    assert abs(te[te.cat == "b"].cat_te.iloc[0] - exp_b) < 1e-12


def test_scaler_and_winsorize(spark):
    import numpy as np
    import pandas as pd
    from xgboost_spark.operators import features
    pdf = pd.DataFrame({"a": [1.0, 2.0, 3.0, 4.0], "b": [10.0, 10.0, 10.0, 10.0]})
    df = spark.createDataFrame(pdf)
    st = features.fit_scaler(df, ["a", "b"], "standard")
    assert st["a"][0] == pytest.approx(2.5)
    assert st["b"] == (10.0, 1.0)       # zero stddev -> scale 1 (no div0)
    out = features.apply_scaler(df, st).toPandas()
    assert out.a_scaled.mean() == pytest.approx(0.0)
    assert np.std(out.a_scaled) == pytest.approx(1.0)
    mm = features.fit_scaler(df, ["a"], "minmax")
    o2 = features.apply_scaler(df, mm).toPandas()
    assert o2.a_scaled.min() == 0.0 and o2.a_scaled.max() == 1.0
    w = features.winsorize(df, ["a"], {"a": (1.5, 3.5)}).toPandas()
    assert w.a.min() == 1.5 and w.a.max() == 3.5


def test_d2_fold_sql_parses_non_finite_centroids(spark):
    """Centroids inherit NaN/Inf from the embeddings they average; the
    one-shot SQL fold must still parse, and give the same squared-L2
    value a Column-built literal would (NaN / Inf propagate)."""
    from xgboost_spark.operators.similarity import _d2_fold_sql
    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")
    cases = {"finite": [0.5, -1.25], "nan": [float("nan"), 1.0],
             "pinf": [float("inf"), 2.0], "ninf": [1.0, float("-inf")]}
    row = df.selectExpr(*[f"{_d2_fold_sql('v', c)} AS {k}"
                          for k, c in cases.items()]).first()
    assert row["finite"] == 0.25 + 3.25 ** 2
    assert np.isnan(row["nan"])
    assert row["pinf"] == float("inf") and row["ninf"] == float("inf")
