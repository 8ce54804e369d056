"""Model-surface APIs: slicing, pred_leaf, nodes table, split
histograms, importance, libsvm source (SURVEY §2.1/§2.7 rows)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from xgboost_spark.config import TrainParams
from xgboost_spark.plans.booster import SparkBooster

FC = [f"c{i}" for i in range(5)]


@pytest.fixture(scope="module")
def model(spark, reg_df):
    return SparkBooster(TrainParams(num_boost_round=5, max_depth=3,
                                    max_bin=32, seed=1)).fit(
        reg_df, feature_cols=FC, label_col="label")


def test_model_slice(spark, reg_df, model):
    """XGBoosterSlice (reference c_api.h:1028): layer slicing [1, 4)."""
    sl = model.slice(1, 4)
    assert len(sl.trees) == 3
    assert sl.trees[0][0] is model.trees[1][0]


def test_predict_iteration_range(spark, reg_df, model):
    """predict(iteration_range=(a,b)) (reference core.py Booster.predict)
    scores with rounds [a,b) only — identical to slicing first."""
    import numpy as np
    sample = reg_df.limit(200)
    a = (model.transform(sample, feature_cols=FC, iteration_range=(0, 2))
         .toPandas()["prediction"])
    b = (model.slice(0, 2).transform(sample, feature_cols=FC)
         .toPandas()["prediction"])
    full = model.transform(sample, feature_cols=FC).toPandas()["prediction"]
    assert np.allclose(np.sort(a), np.sort(b), rtol=0)
    assert not np.allclose(np.sort(a), np.sort(full))


def test_pred_leaf(spark, reg_df, model):
    """pred_leaf (reference cpu_predictor.cc:535-558): leaf id per tree."""
    out = model.transform(reg_df, feature_cols=FC, pred_leaf=True)
    row = out.select("leaf").first()
    assert len(row["leaf"]) == 5            # one id per tree
    t0 = model.trees[0][0]
    assert all(t0.left[i] == -1 for i in {row["leaf"][0]})  # ids are leaves


def test_nodes_dataframe_and_split_histogram(spark, model):
    """trees_to_dataframe (reference core.py:3103) + split value
    histogram (core.py:3327) as queries over the nodes table."""
    nd = model.to_nodes_df(spark)
    assert nd.filter(F.col("feature").isNotNull()).count() > 0
    # total_gain importance from the nodes table matches the model API
    api = model.feature_importance("total_gain")
    tbl = {r["feature"]: r["g"] for r in
           nd.filter(F.col("feature").isNotNull())
             .groupBy("feature").agg(F.sum("gain").alias("g")).collect()}
    assert set(tbl) == set(api)
    for f, v in api.items():
        assert abs(tbl[f] - v) < 1e-6 * max(1.0, abs(v))
    h = model.split_value_histogram(list(api.keys())[0], bins=5)
    assert sum(h["counts"]) > 0 and len(h["edges"]) == len(h["counts"]) + 1


def test_feature_importance_types(model):
    for kind in ("weight", "gain", "cover", "total_gain", "total_cover"):
        imp = model.feature_importance(kind)
        assert imp and all(v >= 0 for v in imp.values())


def test_libsvm_roundtrip(spark, tmp_path):
    """libsvm URI source (reference src/data/data.cc:934-952)."""
    p = tmp_path / "data.svm"
    rng = np.random.default_rng(0)
    lines = []
    for i in range(200):
        x0, x2 = rng.normal(), rng.normal()
        y = 1 if x0 + x2 > 0 else 0
        lines.append(f"{y} 1:{x0:.4f} 3:{x2:.4f}")
    p.write_text("\n".join(lines))
    from xgboost_spark.sources.tables import load_libsvm
    df = load_libsvm(spark, str(p), num_features=4)
    assert df.count() == 200
    m = SparkBooster(TrainParams(objective="binary:logistic",
                                 num_boost_round=3, max_depth=3, max_bin=16)
                     ).fit(df, array_col="features", label_col="label")
    pred = m.transform(df, array_col="features")
    acc = pred.withColumn("hit", ((F.col("prediction") > 0.5).cast("int")
                                  == F.col("label")).cast("double")) \
              .agg(F.avg("hit")).first()[0]
    assert acc > 0.9


def test_num_parallel_tree_transform_and_continuation(spark, reg_df):
    """RF rounds (num_parallel_tree>1): serving and continuation must
    map tree i -> group i // n_forest, not i (regression test)."""
    kw = dict(num_boost_round=2, num_parallel_tree=3, max_depth=3,
              max_bin=16, seed=4)
    m = SparkBooster(TrainParams(**kw)).fit(reg_df, feature_cols=FC,
                                            label_col="label")
    assert all(len(r) == 3 for r in m.trees)
    out = m.transform(reg_df, feature_cols=FC)
    assert out.filter("prediction is null").count() == 0
    m2 = SparkBooster(TrainParams(num_boost_round=1, num_parallel_tree=3,
                                  max_depth=3, max_bin=16, seed=4)).fit(
        reg_df, feature_cols=FC, label_col="label", xgb_model=m)
    assert len(m2.trees) == 3
    assert m2.transform(reg_df, feature_cols=FC).count() == reg_df.count()


def test_transform_expr_matches_udf(spark, reg_df, model):
    """Catalyst-expression serving == broadcast-UDF serving, bitwise-ish."""
    pu = model.transform(reg_df, feature_cols=FC).select("prediction").toPandas()
    pe = model.transform_expr(reg_df, feature_cols=FC).select("prediction").toPandas()
    np.testing.assert_allclose(pu["prediction"], pe["prediction"], rtol=1e-12)
    # margins too
    me = model.transform_expr(reg_df, feature_cols=FC, output_margin=True)
    assert me.filter("prediction is null").count() == 0


def test_transform_expr_logistic_and_softprob(spark, reg_df):
    import pandas as pd
    rng = np.random.default_rng(2)
    n = 1500
    X = rng.normal(size=(n, 3))
    df = spark.createDataFrame(pd.DataFrame({
        **{f"f{i}": X[:, i] for i in range(3)},
        "yb": (X[:, 0] > 0).astype(float),
        "ym": ((X[:, 0] > 0).astype(int) + (X[:, 1] > 0).astype(int)).astype(float)}))
    fb = [f"f{i}" for i in range(3)]
    mb = SparkBooster(TrainParams(objective="binary:logistic", num_boost_round=3,
                                  max_depth=3, max_bin=16)).fit(
        df, feature_cols=fb, label_col="yb")
    pu = mb.transform(df, feature_cols=fb).select("prediction").toPandas()
    pe = mb.transform_expr(df, feature_cols=fb).select("prediction").toPandas()
    np.testing.assert_allclose(pu["prediction"], pe["prediction"], rtol=1e-12)
    mm = SparkBooster(TrainParams(objective="multi:softprob", num_class=3,
                                  num_boost_round=3, max_depth=3, max_bin=16)).fit(
        df, feature_cols=fb, label_col="ym")
    pu = np.stack(mm.transform(df, feature_cols=fb).select("prediction")
                  .toPandas()["prediction"].to_numpy())
    pe = np.stack(mm.transform_expr(df, feature_cols=fb).select("prediction")
                  .toPandas()["prediction"].to_numpy())
    np.testing.assert_allclose(pu, pe, atol=1e-12)


def test_get_dump_text_format(spark, reg_df):
    import re
    model = SparkBooster(TrainParams(num_boost_round=2, max_depth=3, max_bin=16)).fit(
        reg_df, feature_cols=[f"c{i}" for i in range(5)], label_col="label")
    dumps = model.get_dump(with_stats=True)
    assert len(dumps) == 2
    for d in dumps:
        lines = d.strip().split("\n")
        assert re.match(r"^0:\[c\d<[-\d.e+]+\] yes=\d+,no=\d+,missing=\d+,"
                        r"gain=[-\d.e+]+,cover=[\d.e+-]+$", lines[0]), lines[0]
        n_leaf = sum(1 for ln in lines if ":leaf=" in ln)
        n_split = len(lines) - n_leaf
        assert n_leaf == n_split + 1          # binary tree invariant
        # children indented one tab deeper than their parent
        assert lines[1].startswith("\t") and not lines[0].startswith("\t")


def test_register_sql_udf(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    model = SparkBooster(TrainParams(num_boost_round=3, max_depth=3, max_bin=16)).fit(
        reg_df, feature_cols=fc, label_col="label")
    model.register_sql_udf(spark, "gbdt_score")
    reg_df.createOrReplaceTempView("t_sql_udf")
    arr = ", ".join(f"cast(c{i} as double)" for i in range(5))
    got = spark.sql(
        f"SELECT gbdt_score(array({arr})) AS p FROM t_sql_udf").toPandas()["p"]
    want = (model.transform(reg_df, feature_cols=fc)
            .select("prediction").toPandas()["prediction"])
    assert np.allclose(sorted(got), sorted(want), rtol=1e-12)


def test_get_dot_and_evals_result(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    model = SparkBooster(TrainParams(num_boost_round=2, max_depth=2, max_bin=8)).fit(
        reg_df, feature_cols=fc, label_col="label", evals=[(reg_df, "train")])
    assert "train" in model.evals_result()
    dot = model.get_dot(0, with_stats=True)
    assert dot.startswith("digraph {") and dot.rstrip().endswith("}")
    assert "leaf=" in dot and "->" in dot and "missing" in dot


def test_booster_attributes_roundtrip(model, tmp_path):
    # reference Booster.attr/set_attr/attributes (core.py): string
    # key-values persisted under learner.attributes in the model JSON
    m = model
    assert m.attr("nope") is None
    m.set_attr(run_id="abc123", fold=3)
    assert m.attr("run_id") == "abc123"
    assert m.attributes() == {"run_id": "abc123", "fold": "3"}
    m.set_attr(fold=None)
    assert m.attributes() == {"run_id": "abc123"}
    p = str(tmp_path / "attr_model.json")
    m.save(p)
    from xgboost_spark.plans.model import GBDTModel
    m2 = GBDTModel.load(p)
    assert m2.attr("run_id") == "abc123"
    assert m2.best_iteration == m.best_iteration
    m.set_attr(run_id=None)


def test_num_features_rounds_and_feature_types(model, spark):
    assert model.num_features() == 5
    assert model.num_boosted_rounds() == 5
    import json
    doc = json.loads(model.to_json())
    assert doc["learner"]["feature_types"] == ["float"] * 5


def test_categorical_feature_types_in_json(spark):
    import json
    import pandas as pd
    rng = np.random.default_rng(3)
    cat = rng.integers(0, 8, 1200)
    num = rng.normal(size=1200)
    y = np.where(np.isin(cat, (0, 3, 7)), 2.0, -1.0) + 0.1 * num
    df = spark.createDataFrame(pd.DataFrame(
        {"cat": cat.astype(float), "num": num, "label": y}))
    m = SparkBooster(TrainParams(num_boost_round=3, max_depth=3,
                                 base_score=0.0)).fit(
        df, feature_cols=["cat", "num"], label_col="label",
        categorical_features=["cat"])
    doc = json.loads(m.to_json())
    ft = dict(zip(doc["learner"]["feature_names"],
                  doc["learner"]["feature_types"]))
    assert ft == {"cat": "c", "num": "float"}


def test_transform_aligns_shuffled_feature_cols(model, reg_df):
    # reference validate_features: names are authoritative — a caller
    # passing the training columns in a different order must get the
    # same predictions, not silently permuted features
    base = (model.transform(reg_df.limit(300), feature_cols=FC)
            .toPandas()["prediction"].to_numpy())
    shuffled = (model.transform(reg_df.limit(300), feature_cols=FC[::-1])
                .toPandas()["prediction"].to_numpy())
    assert np.allclose(np.sort(base), np.sort(shuffled))


def test_transform_validate_features_mismatch(model, reg_df):
    """Reference Booster._validate_features (core.py:3292-3325): a
    feature-name SET mismatch raises, listing the missing fields in
    both directions; validate_features=False opts into explicit
    positional remapping (what the reference Spark wrapper passes on
    its executors, spark/core.py:1297)."""
    df = reg_df.limit(50)
    renamed = df.withColumnRenamed("c4", "z9")
    cols = FC[:4] + ["z9"]
    with pytest.raises(ValueError, match="feature_names mismatch"):
        model.transform(renamed, feature_cols=cols)
    try:
        model.transform(renamed, feature_cols=cols)
    except ValueError as e:
        assert "expected c4 in input data" in str(e)
        assert "training data did not have the following fields: z9" in str(e)
    # explicit opt-out: positional remapping onto the renamed column
    base = (model.transform(df, feature_cols=FC)
            .toPandas()["prediction"].to_numpy())
    remap = (model.transform(renamed, feature_cols=cols,
                             validate_features=False)
             .toPandas()["prediction"].to_numpy())
    assert np.allclose(base, remap)


def test_reference_named_aliases(model, spark):
    assert model.get_fscore() == model.feature_importance("weight")
    assert model.get_score("gain") == model.feature_importance("gain")
    a = model.trees_to_dataframe(spark).count()
    assert a == model.to_nodes_df(spark).count() > 0


def test_save_config_and_sharded_sink(model, spark, reg_df, tmp_path):
    import json
    cfg = json.loads(model.save_config())
    assert cfg["learner"]["objective"] == "reg:squarederror"
    assert cfg["learner"]["params"]["max_depth"] == 3

    from xgboost_spark.sources.sinks import write_shards
    out = str(tmp_path / "shards")
    write_shards(reg_df.withColumn("rid", F.monotonically_increasing_id()),
                 "rid", out, n_shards=4)
    back = spark.read.parquet(out)
    assert back.count() == reg_df.count()
    assert back.select("shard").distinct().count() == 4


def test_eval_df(model, reg_df):
    # reference Booster.eval: post-hoc metric over a frame
    rmse = model.eval_df(reg_df, "rmse", feature_cols=FC, label_col="label")
    # cross-check against a manual computation
    joined = model.transform(reg_df, feature_cols=FC).select("label", "prediction").toPandas()
    manual = float(np.sqrt(np.mean((joined.label - joined.prediction) ** 2)))
    assert rmse == pytest.approx(manual, rel=1e-9)
    mae = model.eval_df(reg_df, "mae", feature_cols=FC, label_col="label")
    assert mae == pytest.approx(float(np.abs(joined.label - joined.prediction).mean()), rel=1e-9)


def test_get_dump_json(spark, model):
    """dump_format='json' (reference tree_model.cc:340-465
    JsonGenerator): parseable per-tree JSON whose routing fields agree
    with the text dump's yes/no/missing and whose leaf set matches."""
    import json as _json
    txt = model.get_dump(with_stats=True)
    js = model.get_dump(with_stats=True, dump_format="json")
    assert len(js) == len(txt) == 5
    for s in js:
        d = _json.loads(s)
        def walk(nd, depth=0):
            if "leaf" in nd:
                assert set(nd) >= {"nodeid", "leaf", "cover"}
                return 1
            assert nd["depth"] == depth
            assert set(nd) >= {"nodeid", "split", "split_condition",
                               "yes", "no", "missing", "gain", "cover",
                               "children"}
            assert nd["missing"] in (nd["yes"], nd["no"])
            return sum(walk(c, depth + 1) for c in nd["children"])
        n_leaves = walk(d)
        assert n_leaves >= 2
    with pytest.raises(ValueError, match="Unknown dump"):
        model.get_dump(dump_format="dot2")


def test_model_copy(spark, reg_df, model):
    """Booster.copy/__deepcopy__ (reference core.py:1994-2009): a copy
    reloads the serialized document — identical predictions, no shared
    mutable tree state."""
    import copy as _copy
    c = model.copy()
    d = _copy.deepcopy(model)
    assert c is not model and c.trees is not model.trees
    sample = reg_df.limit(100)
    a = np.sort(model.transform(sample, feature_cols=FC)
                .toPandas()["prediction"].to_numpy())
    for m2 in (c, d):
        b = np.sort(m2.transform(sample, feature_cols=FC)
                    .toPandas()["prediction"].to_numpy())
        np.testing.assert_allclose(a, b, rtol=0, atol=0)


def test_dump_save_raw_eval_surface(spark, reg_df, model, tmp_path):
    """Booster surface parity: dump_model text/json file forms
    (core.py:2939), save_raw/load_raw bytes (core.py:2817), and the
    eval/eval_set string format (core.py:2340 '[i]\\tname-metric:v')."""
    import json as _json
    p_txt = tmp_path / "dump.txt"
    p_js = tmp_path / "dump.json"
    model.dump_model(str(p_txt), with_stats=True)
    model.dump_model(str(p_js), dump_format="json")
    txt = p_txt.read_text()
    assert txt.startswith("booster[0]:\n0:[")
    assert "booster[4]:" in txt
    arr = _json.loads(p_js.read_text())
    assert len(arr) == 5 and all("nodeid" in t for t in arr)
    # raw bytes round-trip, both formats
    for fmt in ("json", "ubj"):
        m2 = type(model).load_raw(model.save_raw(fmt))
        assert len(m2.trees) == len(model.trees)
        t0a, t0b = model.trees[0][0], m2.trees[0][0]
        assert list(t0a.feature) == list(t0b.feature)
    with pytest.raises(ValueError):
        model.save_raw("bin")
    # eval string
    s = model.eval(reg_df.limit(300), name="holdout", iteration=7,
                   feature_cols=FC)
    assert s.startswith("[7]\tholdout-rmse:")
    float(s.split(":")[1])


def test_set_param_load_config(spark, reg_df, model):
    """set_param (core.py:2167: dict / pairs / key+value, unknown keys
    ignored) and load_config (core.py:1986) round the config surface;
    changing the objective re-derives pred_transform."""
    import copy as _copy
    m = _copy.deepcopy(model)
    m.set_param("eta", "0.05")
    assert m.params.eta == 0.05
    m.set_param({"max_depth": 4, "unknown_key": 1})
    assert m.params.max_depth == 4
    m.set_param([("seed", 9)])
    assert m.params.seed == 9
    # objective switch re-derives the objective instance
    m.set_param("objective", "binary:logistic")
    import numpy as np
    p = m.obj.pred_transform(np.array([0.0]))
    assert p[0] == 0.5                       # sigmoid now
    # config round trip restores the original surface
    m2 = _copy.deepcopy(model)
    cfg = model.save_config()
    m2.set_param({"eta": 0.9, "objective": "binary:logistic"})
    m2.load_config(cfg)
    assert m2.params.eta == model.params.eta
    assert m2.params.objective == model.params.objective
    assert m2.obj.pred_transform(np.array([1.5]))[0] == 1.5  # identity again
    with pytest.raises(ValueError):
        model.set_param("eta")


def test_trees_to_dataframe_reference_schema(spark):
    """trees_to_dataframe emits the reference's exact frame shape
    (core.py:3103-3276): Tree/Target/Node/ID/Feature/Split/Yes/No/
    Missing/Gain/Cover/Category, '{tree}-{node}' link strings, leaves
    as Feature='Leaf' with the value in Gain, categorical splits with
    the in-set codes in Category and Yes at the in-set child, and
    vector-leaf trees emitting one leaf row per target (split rows
    Target=NULL)."""
    import glob as _glob
    import json as _json
    import os as _os
    from xgboost_spark.plans.model import GBDTModel
    fixdir = _os.path.join(_os.path.dirname(__file__), "fixtures",
                           "ref_models")

    def load(name):
        p = _glob.glob(_os.path.join(fixdir, f"*.{name}.json"))[0]
        return GBDTModel.from_json(open(p).read())

    cols = ["Tree", "Target", "Node", "ID", "Feature", "Split", "Yes",
            "No", "Missing", "Gain", "Cover", "Category"]

    m = load("cat")
    pdf = m.trees_to_dataframe(spark).toPandas()
    assert list(pdf.columns) == cols
    root = pdf[(pdf.Tree == 0) & (pdf.Node == 0)].iloc[0]
    assert root.ID == "0-0" and root.Feature == "f2"
    assert root.Split != root.Split                 # NaN for categorical
    assert list(root.Category) == [0, 2, 5]         # in-set codes
    # Yes points at the in-set child; reference dialect routes in-set
    # RIGHT and the fixture's JSON right child is node 2, which the
    # loader swaps to the engine's LEFT — same node id either way
    doc = _json.loads(m.to_json())
    t0 = doc["learner"]["gradient_booster"]["model"]["trees"][0]
    assert root.Yes == f"0-{t0['right_children'][0]}"
    leaves = pdf[pdf.Feature == "Leaf"]
    assert len(leaves) > 0 and leaves.Split.isna().all()
    assert leaves.Yes.isna().all() and leaves.Gain.notna().all()

    mt = load("multi_target")
    pmt = mt.trees_to_dataframe(spark).toPandas()
    splits = pmt[pmt.Feature != "Leaf"]
    assert splits.Target.isna().all()               # vector split rows
    l0 = pmt[(pmt.Tree == 0) & (pmt.Node == 1)]
    assert sorted(l0.Target) == [0, 1, 2]           # one row per target
    # leaf vector values land in Gain, per-target
    want = [v for v in _json.loads(mt.to_json())["learner"]
            ["gradient_booster"]["model"]["trees"][0]["leaf_weights"][:3]]
    got = [float(l0[l0.Target == k].Gain.iloc[0]) for k in range(3)]
    assert got == pytest.approx(want, abs=1e-7)

    df = load("dart_forest").trees_to_dataframe(spark).toPandas()
    assert df.Tree.nunique() == 6                   # npt=2 x 3 rounds
    assert set(df[df.Feature != "Leaf"].Target) == {0}


def test_get_quantile_cut(model):
    """DMatrix.get_quantile_cut twin (core.py:1126-1155): CSR pair —
    uint64 indptr of length F+1, concatenated float cut data, cuts
    strictly increasing per feature."""
    indptr, data = model.get_quantile_cut()
    assert indptr.dtype == np.uint64 and len(indptr) == len(FC) + 1
    assert int(indptr[-1]) == len(data)
    for f in range(len(FC)):
        seg = data[int(indptr[f]):int(indptr[f + 1])]
        assert len(seg) > 0 and np.all(np.diff(seg[:-1]) > 0)


def test_json_roundtrip_keeps_base_weights(model):
    """save -> load -> save keeps every node's base_weights.  A loaded
    document carries no per-node gradient sums, so interior weights
    must not be re-derived from them (they would all read 0)."""
    import json
    import os

    from xgboost_spark.plans.model import GBDTModel

    def node_weights(doc):
        md = json.loads(doc)["learner"]["gradient_booster"]["model"]
        return [t["base_weights"] for t in md["trees"]]

    first = bytes(model.save_raw("json"))
    again = bytes(GBDTModel.load_raw(first).save_raw("json"))
    assert any(w[0] != 0.0 for w in node_weights(first))   # roots weighted
    assert node_weights(again) == node_weights(first)
    assert again == first
    # a reference document's weights survive the same round trip
    ref = os.path.join(os.path.dirname(__file__), "fixtures", "ref_models",
                       "xgboost-3.0.2.cat.json")
    doc = open(ref).read()
    assert (node_weights(GBDTModel.from_json(doc).to_json())
            == node_weights(doc))


def _expr_vs_udf_margins(spark, m, X, cols):
    import pandas as pd
    pdf = pd.DataFrame(X, columns=cols)
    pdf["rid"] = np.arange(len(pdf))
    df = spark.createDataFrame(pdf)
    out = m.transform_expr(df, feature_cols=cols, output_margin=True)
    e = out.select("rid", "prediction").toPandas().sort_values("rid")
    u = (m.transform(df, feature_cols=cols, output_margin=True)
         .select("rid", "prediction").toPandas().sort_values("rid"))
    np.testing.assert_array_equal(e["prediction"].to_numpy(),
                                  u["prediction"].to_numpy())
    return out


def test_transform_expr_one_case_when_per_internal_node(spark):
    """Each node is ONE CASE WHEN with the missing test folded into its
    condition, so the ensemble expression is linear in tree size (the
    old form repeated the default child, ~3^d leaves per tree), and it
    still serves bit-identically to the UDF path, NaNs both ways."""
    from xgboost_spark.local.booster import LocalBooster
    from xgboost_spark.plans.model import GBDTModel
    rng = np.random.default_rng(5)
    X = rng.normal(size=(3000, 3))
    X[rng.random(X.shape) < 0.2] = np.nan
    Z = np.nan_to_num(X, nan=-2.0)
    y = 2 * Z[:, 0] + Z[:, 1] ** 2 - np.abs(Z[:, 2]) + rng.normal(0, 0.1, 3000)
    p = TrainParams(num_boost_round=2, max_depth=4, base_score=0.0)
    trees = LocalBooster(p).fit(X, y).trees
    internal = [(t, i) for rnd in trees for t in rnd
                for i in range(t.n_nodes) if t.left[i] != -1]
    assert {bool(t.default_left[i]) for t, i in internal} == {True, False}
    m = GBDTModel(p, 0.0, trees, ["a", "b", "c"])
    out = _expr_vs_udf_margins(spark, m, X[:400], ["a", "b", "c"])
    plan = out._jdf.queryExecution().analyzed().toString()
    assert plan.count("CASE WHEN") == len(internal)


@pytest.mark.parametrize("kind", ["categorical", "tie_strict"])
def test_transform_expr_categorical_and_tie_strict_match_udf(spark, kind):
    from xgboost_spark import core
    from xgboost_spark.plans.model import GBDTModel
    cat = kind == "categorical"
    t = core.Tree()
    ll, lr = t.expand(0, 0, 0, 0.5, True, 1.0, 0, 6.0, 0, 4.0,
                      categories=[1, 3] if cat else None)
    t.expand(ll, 1, 0, -0.25, False, 1.0, 0, 3.0, 0, 3.0)
    t.expand(lr, 0, 0, 2.5, False, 1.0, 0, 2.0, 0, 2.0,
             categories=[0, 2] if cat else None)
    for k, nid in enumerate(i for i in range(t.n_nodes) if t.left[i] == -1):
        t.leaf_value[nid] = 0.37 * (k + 1) * (-1) ** k
    t.tie_strict = kind == "tie_strict"
    m = GBDTModel(TrainParams(base_score=0.0), 0.0, [[t]], ["a", "b"])
    a = np.array([np.nan, 0.0, 0.5, 1.0, 2.0, 2.5, 3.0, 4.0])
    b = np.array([np.nan, -0.25, -1.0, 1.0])
    X = np.array([(x, z) for x in a for z in b])
    _expr_vs_udf_margins(spark, m, X, ["a", "b"])
