"""Projections written as SQL text (`operators/util.py` `sql_ident`,
`sql_double`, `sql_null_if`, `sql_str`): column names that need
quoting, the missing-sentinel literals, the categorical recode map, and
the py4j cost of building the fit's feature assembly, a transform and a
recode."""

import hashlib
import math
import threading

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from xgboost_spark.config import TrainParams
from xgboost_spark.operators.util import sql_double, sql_ident
from xgboost_spark.plans.booster import SparkBooster
from xgboost_spark.plans.estimator import SparkGBDTClassifier
from xgboost_spark.plans.model import GBDTModel
from xgboost_spark.sources.encoder import encode_col
from xgboost_spark.sources.tables import assemble_features

ODD = ["a.b", "c d", "e`f"]
PLAIN = ["x0", "x1", "x2"]


def _digest(model) -> str:
    return hashlib.sha256(bytes(model.save_raw())).hexdigest()


def test_sql_ident_quotes_every_name():
    assert sql_ident("f0") == "`f0`"
    assert sql_ident("a.b") == "`a.b`"
    assert sql_ident("c d") == "`c d`"
    assert sql_ident("e`f") == "`e``f`"


def test_sql_double_parses_back_bit_exact(spark):
    vals = [0.0, -0.0, -999.5, 1e-300, 5e-324, 0.1, 1e300,
            float("nan"), float("inf"), float("-inf")]
    row = spark.range(1).selectExpr(
        *[f"{sql_double(v)} AS v{i}" for i, v in enumerate(vals)]).first()
    for i, v in enumerate(vals):
        got = row[f"v{i}"]
        if math.isnan(v):
            assert math.isnan(got)
        else:
            assert got == v and math.copysign(1.0, got) == math.copysign(1.0, v)


# ---------------------------------------------------------------- names
@pytest.fixture(scope="module")
def xy():
    rng = np.random.default_rng(11)
    X = rng.normal(size=(600, 3))
    y = 2.0 * X[:, 0] - X[:, 1] + 0.5 * X[:, 2] ** 2 + rng.normal(0, 0.1, 600)
    return X, y


def _frame(spark, X, cols, **extra):
    pdf = pd.DataFrame(X, columns=cols)
    pdf["rid"] = np.arange(len(pdf))
    for k, v in extra.items():
        pdf[k] = v
    return spark.createDataFrame(pdf)


def test_dotted_and_quoted_feature_names_fit_and_transform(spark, xy):
    """`F.col("a.b")` reads field `b` of a struct `a`: every identifier
    is backtick-quoted, so these names train and score like plain ones."""
    X, y = xy
    p = TrainParams(num_boost_round=3, max_depth=3, max_bin=32)
    odd_df = _frame(spark, X, ODD, **{"y.v": y})
    plain_df = _frame(spark, X, PLAIN, **{"y_v": y})
    odd = SparkBooster(p).fit(odd_df, feature_cols=ODD, label_col="y.v",
                              missing=-999.0)
    plain = SparkBooster(p).fit(plain_df, feature_cols=PLAIN, label_col="y_v",
                                missing=-999.0)
    assert odd.feature_names == ODD

    def scored(model, df, cols, **kw):
        out = model.transform(df, feature_cols=cols, **kw).orderBy("rid")
        return out.select("prediction", *(["contribs"] if kw else [])).collect()

    assert scored(odd, odd_df, ODD) == scored(plain, plain_df, PLAIN)
    assert (scored(odd, odd_df, ODD, pred_contribs=True)
            == scored(plain, plain_df, PLAIN, pred_contribs=True))
    odd.feature_names = PLAIN
    assert _digest(odd) == _digest(plain)


def test_transform_expr_quotes_feature_names(spark, xy):
    """The SQL scoring path reads dotted and spaced feature names as
    columns, and predicts what the UDF path predicts."""
    X, y = xy
    model = SparkBooster(TrainParams(num_boost_round=3, max_depth=3,
                                     max_bin=32)).fit(
        _frame(spark, X, ODD, y=y), feature_cols=ODD, label_col="y")
    df = _frame(spark, X, ODD)
    udf = model.transform(df).orderBy("rid").select("prediction").collect()
    expr = (model.transform_expr(df).orderBy("rid")
            .select("prediction").collect())
    assert [r[0] for r in expr] == pytest.approx([r[0] for r in udf],
                                                 rel=1e-12, abs=1e-12)


def test_classifier_dotted_label_and_validation_indicator(spark, xy):
    X, y = xy
    lab = (y > np.median(y)).astype(float)
    is_val = np.arange(len(y)) % 4 == 0

    def fit(cols, label, ind):
        df = _frame(spark, X, cols, **{label: lab, ind: is_val})
        model = SparkGBDTClassifier(
            label_col=label, features_col=cols, validation_indicator_col=ind,
            eval_metric=["auc"], early_stopping_rounds=1, num_boost_round=3,
            max_depth=2, max_bin=32).fit(df)
        probs = [r["probability"].toArray().tolist() for r in
                 model.transform(df).orderBy("rid").select("probability").collect()]
        return model, probs

    odd, odd_probs = fit(ODD, "lab.el", "is.val")
    plain, plain_probs = fit(PLAIN, "label", "is_val")
    assert odd.evals_result() == plain.evals_result()
    assert odd_probs == plain_probs
    odd.core.feature_names = PLAIN
    assert _digest(odd.core) == _digest(plain.core)


# -------------------------------------------------------------- sentinels
# one value per row; None is a NULL input
VALUES = [0.0, -0.0, -999.5, 1e-300, float("nan"), float("inf"),
          float("-inf"), 1.0, None]
# rows each sentinel turns into NULL (Spark's `=`: 0.0 = -0.0 and
# NaN = NaN hold); the NULL input row stays NULL for every sentinel
CASES = [(0.0, {0, 1}), (-0.0, {0, 1}), (-999.5, {2}), (1e-300, {3}),
         (float("nan"), {4}), (float("inf"), {5}), (float("-inf"), {6})]
IDS = ["0.0", "-0.0", "-999.5", "1e-300", "nan", "+inf", "-inf"]


@pytest.fixture(scope="module")
def sentinel_df(spark):
    rows = [(i, v, [v, 2.0]) for i, v in enumerate(VALUES)]
    return spark.createDataFrame(rows, "rid int, v double, arr array<double>")


@pytest.fixture(scope="module")
def one_feature_model(spark):
    df = spark.createDataFrame([(float(i), float(i % 2)) for i in range(64)],
                               "v double, y double")
    return SparkBooster(TrainParams(num_boost_round=1, max_depth=1)).fit(
        df, feature_cols=["v"], label_col="y")


def _check_nulled(rows, want):
    """``rows``: (rid, value after the missing wrap) in rid order;
    ``want``: the rids the sentinel must null."""
    assert [r[0] for r in rows] == list(range(len(VALUES)))
    nulled = {rid for rid, got in rows
              if got is None and VALUES[rid] is not None}
    assert nulled == want
    for rid, got in rows:
        v = VALUES[rid]
        if v is None or rid in nulled:
            assert got is None
        elif math.isnan(v):
            assert math.isnan(got)
        else:
            assert got == v and math.copysign(1.0, got) == math.copysign(1.0, v)


@pytest.mark.parametrize("missing, want", CASES, ids=IDS)
def test_assemble_features_nulls_exactly_the_sentinel_rows(sentinel_df,
                                                           missing, want):
    raw, names = assemble_features(sentinel_df, feature_cols=["v"],
                                   label_col="rid", missing=missing)
    assert names == ["f0"]
    rows = raw.orderBy("label").select("label", "f0").collect()
    _check_nulled([(int(r[0]), r[1]) for r in rows], want)
    raw, _ = assemble_features(sentinel_df, array_col="arr",
                               label_col="rid", missing=missing)
    rows = raw.orderBy("label").select("label", "f0", "f1").collect()
    _check_nulled([(int(r[0]), r[1]) for r in rows], want)
    assert all(r[2] == 2.0 for r in rows)


@pytest.mark.parametrize("missing, want", CASES, ids=IDS)
def test_transform_nulls_exactly_the_sentinel_rows(sentinel_df, one_feature_model,
                                                   missing, want):
    out = one_feature_model.transform(sentinel_df, feature_cols=["v"],
                                      missing=missing)
    rows = out.orderBy("rid").select("rid", "v").collect()
    _check_nulled([tuple(r) for r in rows], want)
    out = one_feature_model.transform(sentinel_df, array_col="arr",
                                      missing=missing, validate_features=False)
    rows = out.orderBy("rid").select("rid", "arr").collect()
    _check_nulled([(r[0], r[1][0]) for r in rows], want)
    assert all(r[1][1] == 2.0 for r in rows)


# ------------------------------------------------------------ py4j budget
def _round_trips(build) -> int:
    """py4j commands this thread sends while ``build()`` runs (the
    gateway's garbage-collection thread is not counted)."""
    from py4j.clientserver import ClientServerConnection
    me = threading.get_ident()
    n = [0]
    orig = ClientServerConnection.send_command

    def counting(self, command, *a, **kw):
        if threading.get_ident() == me:
            n[0] += 1
        return orig(self, command, *a, **kw)

    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = orig
    return n[0]


def test_projection_round_trips_per_column(spark):
    """Building (not running) the feature assembly and a transform with
    a missing sentinel, for 8 and for 64 columns.  A chain of Column
    calls (`F.col(c).cast(..).alias(..)`, `F.when(..)`) cost ~75 py4j
    round trips per column in the assembly and ~113 in the transform.
    What is left per column is no Column-API call: py4j ships each
    element of a list argument as a command of its own, and `F.expr` is
    one parse (3 round trips) per nulled column and per UDF argument."""
    counts = {}
    for k in (8, 64):
        cols = [f"c.{i}" for i in range(k)]
        df = spark.range(16).selectExpr(
            *[f"CAST(id AS DOUBLE) AS {sql_ident(c)}" for c in cols],
            "CAST(id % 2 AS DOUBLE) AS y")
        df.schema                               # cache it, as any caller has
        model = GBDTModel(TrainParams(), 0.5, [], cols)
        counts[k] = (
            _round_trips(lambda: assemble_features(
                df, feature_cols=cols, label_col="y", missing=0.0)),
            _round_trips(lambda: model.transform(df, feature_cols=cols,
                                                 missing=0.0)))
    extra = 64 - 8
    # selectExpr: one list element per column
    assert counts[64][0] - counts[8][0] <= extra, counts
    # withColumns: a key and a value list element plus one F.expr; the
    # UDF argument: one list element plus one F.expr
    assert counts[64][1] - counts[8][1] <= (2 + 3 + 1 + 3) * extra, counts


# ------------------------------------------------------------ categories
CATS = ["", "plain", "it's", "back\\slash", "\\'", "a'b\\c", "na\u00efve",
        "\u65e5\u672c\u8a9e", "tab\there", "\\u0041", "\\n"]


def test_encode_col_matches_the_column_form(spark):
    """One SQL map literal recodes exactly as the `F.create_map` of
    `F.lit` pairs did: every category to its code, unknowns and NULL to
    NULL, under a name that needs quoting."""
    name = "s.t"
    values = CATS + ["unknown", None]
    df = spark.createDataFrame(pd.DataFrame({name: values,
                                             "rid": range(len(values))}))
    pairs = []
    for code, v in enumerate(CATS):
        pairs += [F.lit(v), F.lit(float(code))]
    old = F.create_map(*pairs)[
        F.col(sql_ident(name)).cast("string")].cast("double")
    rows = (df.select("rid", encode_col(name, CATS).alias("new"),
                      old.alias("old")).orderBy("rid").collect())
    assert [r["new"] for r in rows] == [r["old"] for r in rows]
    assert [r["new"] for r in rows] == [float(i) for i in range(len(CATS))] + [
        None, None]
    assert dict(df.select(encode_col(name, []).alias("e")).dtypes)["e"] == "double"


def test_encode_col_round_trips_do_not_grow_with_categories(spark):
    counts = [_round_trips(lambda: encode_col(
        "c", [f"v{i}" for i in range(k)])) for k in (10, 1000)]
    assert counts[0] == counts[1], counts
