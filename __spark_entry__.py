"""Driver contract for the spark-graft builder (PySpark target).

queries() exposes the engine's operator inventory (SURVEY.md §2) as
DataFrame builders; oracle_sql() gives the DuckDB-equivalent ANSI SQL.
Design notes for exact hash-matching:
- float aggregates are rounded (6 dp for unit-scale, 2-4 dp for large
  sums); any value derived from rounded inputs via IEEE +-*/ is then
  bit-identical across engines,
- library functions (exp/log) differ only in final ulps — always under
  aggregation + rounding,
- ordering ties are always broken by a unique integer column,
- timestamps: the harness parquet stores TIMESTAMP(NANOS); Spark reads
  them as long (legacy conf) and truncates to micros exactly like
  DuckDB's reader, so epoch-micros arithmetic matches bit-for-bit.

ML end-to-end entries (train_*) have no SQL equivalent -> rows-only.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def _prep(spark: SparkSession):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _prep(spark)
    from xgboost_spark.sources.tables import load_table
    return load_table(spark, sf_dir, name)


def _exact_cut_values(spark, sf_dir, table, col, B) -> list[float]:
    """Exact type-1 quantile boundaries k/B, k=1..B-1 (values at exact
    ranks — identical in any engine).  Computed with the distributed
    prefix scan (no single-partition global window); tiny driver collect
    (B-1 floats)."""
    from xgboost_spark.operators.sketch import exact_quantiles
    rows = exact_quantiles(_table(spark, sf_dir, table), col, B).collect()
    return [r["cut"] for r in rows]


def _exact_cuts_parallel(spark, sf_dir, table, cols, B) -> dict:
    """Per-feature exact cuts for several columns, the per-column
    refinement JOBS submitted from a small thread pool (optimization
    guide §2.6 "overlap independent jobs"): each column's
    exact_quantiles chain is a short sequence of driver-blocking
    actions, so run serially the columns' jobs never overlap and the
    cluster idles between actions.  Values are bit-identical to the
    serial form — the same exact_quantiles calls, just concurrent —
    so every oracle replaying rank-rule cuts is unaffected."""
    from concurrent.futures import ThreadPoolExecutor
    if not cols:
        return {}
    with ThreadPoolExecutor(max_workers=min(4, len(cols))) as pool:
        futs = {c: pool.submit(_exact_cut_values, spark, sf_dir, table,
                               c, B) for c in cols}
        return {c: f.result() for c, f in futs.items()}


def _cuts_cte(table, col, B) -> str:
    return f"""ranked AS (
  SELECT {col} AS v, row_number() OVER (ORDER BY {col}) AS rn, count(*) OVER () AS n
  FROM {table} WHERE {col} IS NOT NULL
), kcuts AS (
  SELECT k, min(v) AS cut FROM ranked JOIN range(1, {B}) t(k)
    ON rn = CAST(ceil(k * n / {B}.0) AS BIGINT)
  GROUP BY k
)"""


def _par(df: DataFrame) -> DataFrame:
    from xgboost_spark.operators.util import ensure_parallelism
    return ensure_parallelism(df)


def _bin_expr(col, cuts: list[float]):
    arr = F.array(*[F.lit(float(c)) for c in cuts])
    return F.size(F.filter(arr, lambda c: c < F.col(col))).cast("bigint")


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full Spark-native boosting run on sf0.001 lineitem; the
    result is the trained model as a relational nodes table."""
    _prep(spark)
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster

    sf_dir = "/root/testdata/sf0.001"
    li = _table(spark, sf_dir, "lineitem")
    p = TrainParams(num_boost_round=2, max_depth=3, eta=0.3)
    model = SparkBooster(p).fit(
        li, feature_cols=["l_quantity", "l_discount", "l_tax", "l_partkey"],
        label_col="l_extendedprice")
    return model.to_nodes_df(spark)


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_fit_stump(spark, sf_dir):
    li = _table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.avg("l_extendedprice"), 6).alias("base_score"),
        F.count("*").cast("bigint").alias("n_rows"),
    )


def q_quantile_cuts(spark, sf_dir):
    cuts = _exact_cut_values(spark, sf_dir, "lineitem", "l_quantity", 16)
    return spark.createDataFrame(
        [(i + 1, float(c)) for i, c in enumerate(cuts)], "k bigint, cut double")


def q_weighted_quantile(spark, sf_dir):
    """Weighted-quantile buckets; the SQL twin is a global cumulative
    window, the Spark side runs the distributed prefix scan instead."""
    from xgboost_spark.operators.scan import prefix_sums
    li = _table(spark, sf_dir, "lineitem")
    d = li.select(F.col("l_quantity").alias("v"), (F.col("l_tax") + 0.01).alias("w"))
    d = d.filter(F.col("v").isNotNull())
    W = d.agg(F.sum("w")).first()[0]
    d = prefix_sums(d, ["v", "w"], ["w"])
    return (d.withColumn("bucket", F.ceil(F.col("cum_w") * 8 / F.lit(W)).cast("bigint"))
            .groupBy("bucket").agg(F.round(F.max("v"), 6).alias("cut")))


def q_quantize_hist(spark, sf_dir):
    """Quantize l_extendedprice into 16 exact-quantile bins; gradient
    histogram for y=l_quantity at constant margin 25."""
    cuts = _exact_cut_values(spark, sf_dir, "lineitem", "l_extendedprice", 16)
    li = _table(spark, sf_dir, "lineitem")
    d = li.withColumn("bin", _bin_expr("l_extendedprice", cuts))
    return (d.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum(F.lit(25.0) - F.col("l_quantity")), 4).alias("sum_g"),
    ))


def _split_scan_from_hist(hist):
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    lam = 1.0
    d = (hist
         .withColumn("gl", F.sum("sum_g").over(wb))
         .withColumn("hl", F.sum("sum_h").over(wb))
         .withColumn("gt", F.sum("sum_g").over(wall))
         .withColumn("ht", F.sum("sum_h").over(wall))
         .withColumn("mx", F.max("bin").over(wall))
         .filter(F.col("bin") < F.col("mx"))
         .withColumn("gr", F.col("gt") - F.col("gl"))
         .withColumn("hr", F.col("ht") - F.col("hl"))
         .withColumn("gain",
                     F.col("gl") ** 2 / (F.col("hl") + lam)
                     + F.col("gr") ** 2 / (F.col("hr") + lam)
                     - F.col("gt") ** 2 / (F.col("ht") + lam)))
    return d


def q_split_scan(spark, sf_dir):
    """EnumerateSplit as SQL: prefix-sum scan + gain over the 16-bin
    histogram (rounded hist inputs => bit-identical downstream)."""
    cuts = _exact_cut_values(spark, sf_dir, "lineitem", "l_extendedprice", 16)
    li = _table(spark, sf_dir, "lineitem")
    hist = (li.withColumn("bin", _bin_expr("l_extendedprice", cuts))
            .groupBy("bin").agg(
                F.round(F.sum(F.lit(25.0) - F.col("l_quantity")), 4).alias("sum_g"),
                F.count("*").cast("double").alias("sum_h")))
    d = _split_scan_from_hist(hist)
    return d.select("bin", "gl", "hl", "gr", "hr", F.round("gain", 4).alias("gain"))


_BS_FEATURES = ["l_quantity", "l_discount", "l_tax", "l_partkey"]


def _round_half_up(v: float, p: int) -> float:
    """DuckDB/Spark `round` semantics (half away from zero) for
    driver-side enumerations — python round() is banker's and would
    hash-mismatch on a half-ulp boundary."""
    import math
    s = 10.0 ** p
    return math.copysign(math.floor(abs(v) * s + 0.5), v) / s


def q_best_split(spark, sf_dir):
    """Best split per feature (argmax gain, tie -> lowest bin) over 4
    features binned to 8 exact-quantile bins; y = l_extendedprice/1000,
    margin = 38."""
    li = _table(spark, sf_dir, "lineitem")
    all_cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem",
                                    _BS_FEATURES, 8)
    parts = []
    for feat in _BS_FEATURES:
        cuts = all_cuts[feat]
        hist = (li.withColumn("bin", _bin_expr(feat, cuts))
                .groupBy("bin").agg(
                    F.round(F.sum(F.lit(38.0) - F.col("l_extendedprice") / 1000.0), 4).alias("sum_g"),
                    F.count("*").cast("double").alias("sum_h"))
                .withColumn("feature", F.lit(feat)))
        parts.append(hist)
    hist = parts[0]
    for x in parts[1:]:
        hist = hist.unionByName(x)
    wb = Window.partitionBy("feature").orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy("feature")
    lam = 1.0
    d = (hist
         .withColumn("gl", F.sum("sum_g").over(wb))
         .withColumn("hl", F.sum("sum_h").over(wb))
         .withColumn("gt", F.sum("sum_g").over(wall))
         .withColumn("ht", F.sum("sum_h").over(wall))
         .withColumn("mx", F.max("bin").over(wall))
         .filter(F.col("bin") < F.col("mx"))
         .withColumn("gr", F.col("gt") - F.col("gl"))
         .withColumn("hr", F.col("ht") - F.col("hl"))
         .withColumn("gain",
                     F.col("gl") ** 2 / (F.col("hl") + lam)
                     + F.col("gr") ** 2 / (F.col("hr") + lam)
                     - F.col("gt") ** 2 / (F.col("ht") + lam)))
    wr = Window.partitionBy("feature").orderBy(F.col("gain").desc(), F.col("bin").asc())
    return (d.withColumn("rk", F.row_number().over(wr)).filter(F.col("rk") == 1)
            .select("feature", F.col("bin").alias("best_bin"),
                    F.round("gain", 4).alias("best_gain")))


def q_leaf_weights(spark, sf_dir):
    """CalcWeight per side of a median split on l_quantity (margin 25,
    lambda 1): w* = -G/(H+1)."""
    med = _exact_cut_values(spark, sf_dir, "lineitem", "l_quantity", 2)[0]
    li = _table(spark, sf_dir, "lineitem")
    side = F.when(F.col("l_quantity") <= F.lit(float(med)), F.lit("L")).otherwise(F.lit("R"))
    d = li.select(side.alias("side"), (F.lit(25.0) - F.col("l_quantity")).alias("g"))
    return (d.groupBy("side").agg(
        F.round(-F.round(F.sum("g"), 4) / (F.count("*") + F.lit(1.0)), 6).alias("weight"),
        F.count("*").cast("bigint").alias("cover")))


def q_row_partition(spark, sf_dir):
    med = _exact_cut_values(spark, sf_dir, "lineitem", "l_quantity", 2)[0]
    li = _table(spark, sf_dir, "lineitem")
    node = F.when(F.col("l_quantity") <= F.lit(float(med)), F.lit(1)).otherwise(F.lit(2))
    return (li.select(node.cast("bigint").alias("node"), F.col("l_extendedprice").alias("y"))
            .groupBy("node").agg(
                F.count("*").cast("bigint").alias("n"),
                F.round(F.avg("y"), 4).alias("avg_y")))


def q_subsample(spark, sf_dir):
    """Deterministic Bernoulli row sampling via integer hashing."""
    li = _table(spark, sf_dir, "lineitem")
    kept = ((F.col("l_orderkey") * F.lit(2654435761) + F.col("l_linenumber") * F.lit(97)) % 100
            < 80).cast("bigint")
    return (li.select(kept.alias("kept"), F.col("l_quantity"))
            .groupBy("kept").agg(
                F.count("*").cast("bigint").alias("n"),
                F.round(F.avg("l_quantity"), 6).alias("avg_qty")))


def q_logistic_grad(spark, sf_dir):
    """binary:logistic gradients through the REAL Logistic.grad_hess
    NumPy kernel via mapInPandas (reference regression_loss.h:91;
    round-9 rewiring — the entry previously re-derived sigmoid math as
    Catalyst expressions, so the driver gate never executed the shipped
    kernel).  h = max(p(1-p), eps); the clamp never fires at these
    moderate margins so the SQL twin stays p(1-p)."""
    _prep(spark)
    import numpy as np
    import pandas as pd
    from xgboost_spark.functions.objectives import Logistic
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select((F.col("label") % 2).cast("double").alias("y"),
                   F.element_at("embedding", 1).cast("double").alias("m0"))
    obj = Logistic()

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            g, h = obj.grad_hess(pdf["y"].to_numpy(np.float64),
                                 pdf["m0"].to_numpy(np.float64), None)
            yield pd.DataFrame({"y": pdf["y"], "g": g, "h": h})

    out = d.mapInPandas(fn, schema="y double, g double, h double")
    return (out.groupBy(F.col("y").cast("bigint").alias("label"))
            .agg(F.round(F.sum("g"), 6).alias("sum_g"),
                 F.round(F.sum("h"), 6).alias("sum_h"),
                 F.count("*").cast("bigint").alias("n")))


def q_softmax_grad(spark, sf_dir):
    """multi:softprob gradients through the REAL SoftProb.grad_hess
    NumPy kernel via mapInPandas (reference multiclass_obj.cu:234-238;
    round-9 rewiring from inline Catalyst softmax).  Per-class gradient
    sums over embedding-derived 3-class margins."""
    _prep(spark)
    import numpy as np
    import pandas as pd
    from xgboost_spark.functions.objectives import SoftProb
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select((F.col("label") % 3).cast("double").alias("y"),
                   *[F.element_at("embedding", i + 1).cast("double")
                     .alias(f"m{i}") for i in range(3)])
    obj = SoftProb(3)

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            m = np.column_stack([pdf[f"m{i}"].to_numpy(np.float64)
                                 for i in range(3)])
            g, _ = obj.grad_hess(pdf["y"].to_numpy(np.float64), m, None)
            yield pd.DataFrame({"g0": g[:, 0], "g1": g[:, 1], "g2": g[:, 2]})

    out = d.mapInPandas(fn, schema="g0 double, g1 double, g2 double")
    row = out.agg(*[F.round(F.sum(f"g{k}"), 6).alias(f"s{k}")
                    for k in range(3)]).first()
    return spark.createDataFrame(
        [(k, float(row[f"s{k}"])) for k in range(3)],
        "class bigint, sum_g double")


def q_metric_regression(spark, sf_dir):
    """rmse + mae through the REAL functions/metrics.compute_metric
    dispatch (round-9 rewiring from inline expressions — the gate now
    executes the shipped kernels)."""
    _prep(spark)
    from xgboost_spark.functions.metrics import compute_metric
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select(F.col("label").cast("double").alias("y"),
                   (F.lit(4.5) + F.lit(3.0)
                    * F.element_at("embedding", 2).cast("double"))
                   .alias("m0"))
    rmse = compute_metric(d, "rmse")
    mae = compute_metric(d, "mae")
    return spark.createDataFrame([(round(rmse, 6), round(mae, 6))],
                                 "rmse double, mae double")


def q_metric_logloss(spark, sf_dir):
    """logloss + error@0.5 through the REAL compute_metric dispatch
    (round-9 rewiring).  compute_metric clamps p to [1e-16, 1-1e-16];
    the clamp never fires at these moderate margins so the SQL twin
    stays the bare cross-entropy."""
    _prep(spark)
    from xgboost_spark.functions.metrics import compute_metric
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select((F.col("label") % 2).cast("double").alias("y"),
                   F.element_at("embedding", 1).cast("double").alias("m0"))
    ll = compute_metric(d, "logloss")
    err = compute_metric(d, "error")
    return spark.createDataFrame([(round(ll, 6), round(err, 6))],
                                 "logloss double, error double")


def q_metric_multiclass(spark, sf_dir):
    """merror + mlogloss through functions/metrics.compute_metric over a
    deterministic 3-class margin synthesized from embeddings; oracle
    replays the softmax arithmetic in SQL."""
    _prep(spark)
    from xgboost_spark.functions.metrics import compute_metric
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select(
        (F.col("label") % 3).cast("double").alias("y"),
        F.element_at("embedding", 1).cast("double").alias("m0"),
        F.element_at("embedding", 2).cast("double").alias("m1"),
        F.element_at("embedding", 3).cast("double").alias("m2"))
    me = compute_metric(d, "merror", y="y", margin_cols=["m0", "m1", "m2"])
    ml = compute_metric(d, "mlogloss", y="y", margin_cols=["m0", "m1", "m2"])
    return spark.createDataFrame([(round(me, 6), round(ml, 6))],
                                 "merror double, mlogloss double")


def q_metric_ams_cox(spark, sf_dir):
    """ams@k + cox-nloglik through functions/metrics over deterministic
    events-derived data.  ams selects EXACTLY int(0.3*n) rows (round-12
    reference semantics, rank_metric.cc:48-99) — the oracle replays the
    k-th-largest threshold, the > t aggregation, and the engine's
    deterministic pro-rata tie split at == t; cox risk sets replay as
    SQL suffix sums."""
    _prep(spark)
    from xgboost_spark.functions.metrics import ams_at_k, cox_nloglik
    ev = _table(spark, sf_dir, "events")
    d = ev.select(
        (F.col("event_id") % 2).cast("double").alias("y"),
        (F.floor(F.col("value") / 20.0) / 10.0).alias("m0"),
        (F.col("value") + (F.col("event_id") % 1000) / 1000.0).alias("t_raw"),
        F.when(F.col("event_id") % 3 == 0, -1.0).otherwise(1.0).alias("sgn"),
        ((F.col("event_id") % 7).cast("double") / 7.0 - 0.5).alias("mc"))
    ams = ams_at_k(d, 0.3, y="y", score="m0")
    dc = d.select((F.col("t_raw") * F.col("sgn")).alias("y"),
                  F.col("mc").alias("m0"))
    cx = cox_nloglik(dc, y="y", margin="m0", weight=None)
    return spark.createDataFrame([(round(ams, 6), round(cx, 6))],
                                 "ams double, cox_nll double")


def q_metric_auc(spark, sf_dir):
    """Tie-aware binary AUC through the REAL metrics.auc_binary kernel
    (reference auc.cc:421 BinaryROCAUC; round-9 rewiring — the entry
    previously re-derived the groupBy-score + prefix-scan trapezoid
    inline, so the gate never ran the shipped function).  Oracle: the
    same exclusive-cumulative-negatives trapezoid in SQL."""
    _prep(spark)
    from xgboost_spark.functions.metrics import auc_binary
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select(F.element_at("embedding", 1).cast("double").alias("m0"),
                   (F.col("label") % 2).cast("double").alias("y"))
    v = auc_binary(d, y="y", score="m0")
    return spark.createDataFrame([(round(v, 6),)], "auc double")


def q_metric_ndcg(spark, sf_dir):
    """ndcg@5 (linear gain) through the REAL metrics.ndcg_at_k kernel
    (reference rank_metric.cc:461-469; round-9 rewiring from an inline
    window replica).  Kernel tie-break is (score desc, label desc) —
    outcome-deterministic because rows tied on BOTH contribute equal
    gains at every rank; the oracle replays the same rule."""
    _prep(spark)
    from xgboost_spark.functions.metrics import ndcg_at_k
    ev = _table(spark, sf_dir, "events")
    rel = F.greatest(F.least(F.col("value"), F.lit(100.0)) / 10.0, F.lit(0.0))
    score = (F.col("event_id") % 97).cast("double")
    d = ev.select(F.col("user_id").alias("q"), rel.alias("y"),
                  score.alias("m0"))
    per_q = ndcg_at_k(d, 5, exp_gain=False)
    return per_q.agg(F.round(F.avg("ndcg"), 6).alias("avg_ndcg"),
                     F.count("*").cast("bigint").alias("n_queries"))


def q_metric_map(spark, sf_dir):
    """map@5 through the REAL metrics.map_at_k kernel (reference
    rank_metric.cc:408-453 EvalMAPScore; round-9 rewiring).  Carries
    the reference default the inline replica missed: a query with NO
    relevant documents scores 1, not 0 (rank_metric.cc:443)."""
    _prep(spark)
    from xgboost_spark.functions.metrics import map_at_k
    ev = _table(spark, sf_dir, "events")
    rel = (F.col("value") > 50).cast("double")
    score = (F.col("event_id") % 97).cast("double")
    d = ev.select(F.col("user_id").alias("q"), rel.alias("y"),
                  score.alias("m0"))
    per_q = map_at_k(d, 5)
    return per_q.agg(F.round(F.avg("ap"), 6).alias("avg_map"))


def q_metric_expectile(spark, sf_dir):
    """expectile / expectile@alpha through the REAL
    functions/metrics.compute_metric dispatch (reference
    src/metric/elementwise_metric.cu:499-563 ExpectileError:
    weight_scale * diff^2, weight_scale = 1-alpha over-prediction /
    alpha under), scalar alphas 0.25/0.5/0.9 plus the VECTOR form
    'expectile@0.25,0.75' whose gap margin gets the SoftPlus stacking
    (EvalTransform semantics, regression_obj.cu:458-476) — the oracle
    replays stacking as eps + ln(1+exp(m1))."""
    _prep(spark)
    from xgboost_spark.functions.metrics import compute_metric
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select(
        F.col("label").cast("double").alias("y"),
        (F.lit(4.5) + F.lit(3.0)
         * F.element_at("embedding", 2).cast("double")).alias("m0"),
        F.element_at("embedding", 3).cast("double").alias("m1"),
        ((F.col("label") % 5).cast("double") / 4.0 + 0.5).alias("w"))
    vals = [compute_metric(d, f"expectile@{a}") for a in (0.25, 0.5, 0.9)]
    wv = compute_metric(d, "expectile@0.9", weight="w")
    vec = compute_metric(d, "expectile@0.25,0.75", margin_cols=["m0", "m1"])
    return spark.createDataFrame(
        [tuple(round(v, 6) for v in vals + [wv, vec])],
        "e25 double, e50 double, e90 double, e90_w double, e_vec double")


def q_metric_pre(spark, sf_dir):
    """precision@k + the minus-suffix rank-name rule through the REAL
    functions/metrics kernels (reference EvalPrecision
    rank_metric.cc:288-330: n_hits = RAW label sum over the top
    min(k, |group|), divided by that same n; ltr::ParseMetricName '-'
    suffix, ranking_utils.cc:138: a query with NO relevant docs scores
    0 instead of 1 for ndcg/map).  Events grouped by user; graded
    relevance so raw-label summing differs from binarized hits; some
    users have no relevant docs so minus != default."""
    _prep(spark)
    from xgboost_spark.functions.metrics import (map_at_k, ndcg_at_k,
                                                 parse_rank_arg,
                                                 precision_at_k)
    ev = _table(spark, sf_dir, "events")
    # graded relevance with a guaranteed all-negative slice (every
    # event of a user % 7 == 0 is irrelevant) and a deterministic score
    rel = F.when(F.col("user_id") % 7 == 0, 0.0).otherwise(
        F.floor(F.greatest(F.col("value") - 60.0, F.lit(0.0)) / 20.0)
        .cast("double"))
    score = (F.col("event_id") % 97).cast("double")
    # scores are made globally UNIQUE (event_id jitter) so the top-k
    # ordering is total — no cross-engine row_number tie hazard
    d = ev.select(F.col("user_id").alias("q"), rel.alias("y"),
                  (score + F.col("event_id").cast("double") / 1e12)
                  .alias("m0"))
    name, k, minus = parse_rank_arg("ndcg@5-")
    assert (name, k, minus) == ("ndcg", 5, True)
    # the four metric variants collapse into ONE driver action: four
    # 1-row aggregates crossJoin'd (each side broadcasts a single row)
    row = (precision_at_k(d, 5).agg(F.avg("prec").alias("avg_pre"))
           .crossJoin(ndcg_at_k(d, 5, exp_gain=False, minus=True)
                      .agg(F.avg("ndcg").alias("ndcg_minus")))
           .crossJoin(ndcg_at_k(d, 5, exp_gain=False, minus=False)
                      .agg(F.avg("ndcg").alias("ndcg_plain")))
           .crossJoin(map_at_k(d, 5, minus=True)
                      .agg(F.avg("ap").alias("map_minus")))
           ).first()
    return spark.createDataFrame(
        [(round(row["avg_pre"], 6), round(row["ndcg_minus"], 6),
          round(row["ndcg_plain"], 6), round(row["map_minus"], 6))],
        "avg_pre double, ndcg_minus double, ndcg_plain double, "
        "map_minus double")


def q_train_expectile(spark, sf_dir):
    """Vector-expectile training END-TO-END through the REAL trainer +
    serving (reference regression_obj.cu:340-500).  Rows-only by
    nature: unlike train_multi_quantile's binary-fraction pinball
    gradients, expectile gradients are order-dependent float sums, so
    leaf values are not SQL-replayable — the kernel itself is
    hash-matched separately (expectile_grad, metric_expectile).  The
    output embeds its own invariants: monotone_violations MUST be 0
    (SoftPlus stacking makes ascending alphas ascending by
    construction) and frac_below must increase with alpha."""
    _prep(spark)
    from xgboost_spark.plans.booster import train
    li = _table(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_discount", "l_tax"]
    model = train({"objective": "reg:expectileerror",
                   "expectile_alpha": (0.1, 0.5, 0.9),
                   "num_boost_round": 3, "max_depth": 3, "eta": 0.3,
                   "seed": 5},
                  li, feature_cols=feats, label_col="l_extendedprice")
    out = model.transform(li, feature_cols=feats)
    p = F.col("prediction")
    viol = ((p.getItem(1) <= p.getItem(0))
            | (p.getItem(2) <= p.getItem(1))).cast("bigint")
    return out.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(viol).alias("monotone_violations"),
        F.round(F.avg((F.col("l_extendedprice") <= p.getItem(0))
                      .cast("double")), 2).alias("frac_below_e10"),
        F.round(F.avg((F.col("l_extendedprice") <= p.getItem(1))
                      .cast("double")), 2).alias("frac_below_e50"),
        F.round(F.avg((F.col("l_extendedprice") <= p.getItem(2))
                      .cast("double")), 2).alias("frac_below_e90"))


def q_expectile_grad(spark, sf_dir):
    """Vector-expectile gradient kernel through the REAL
    Expectile.grad_hess (reference regression_obj.cu:381-405
    ExpectileRegression::GetGradient): SoftPlus-stacked predictions
    p_0 = m_0, p_1 = p_0 + (kRtEps + SoftPlus(m_1)); target j sums the
    weight_scale * diff terms of every alpha k >= j, scaled by
    d pred/d m_j = sigmoid(m_j) (1 for j = 0), hessian scale^2 * sum.
    The entry runs the actual NumPy kernel via mapInPandas over
    embeddings-derived margins; the oracle replays the identical IEEE
    expression tree (stable softplus branches, p_1 grouping
    m0 + (eps + sp) mirroring np.cumsum) with 6dp-rounded group sums."""
    _prep(spark)
    import numpy as np
    import pandas as pd
    from xgboost_spark.functions.objectives import Expectile
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select(F.col("label").cast("double").alias("y"),
                   F.element_at("embedding", 1).cast("double").alias("m0"),
                   F.element_at("embedding", 2).cast("double").alias("m1"),
                   (F.col("label") % 4).cast("bigint").alias("bucket"))
    obj = Expectile((0.3, 0.8))

    def fn(it):
        for pdf in it:
            if not len(pdf):
                continue
            g, h = obj.grad_hess(
                pdf["y"].to_numpy(np.float64),
                np.column_stack([pdf["m0"].to_numpy(np.float64),
                                 pdf["m1"].to_numpy(np.float64)]),
                None)
            yield pd.DataFrame({"bucket": pdf["bucket"],
                                "g0": g[:, 0], "h0": h[:, 0],
                                "g1": g[:, 1], "h1": h[:, 1]})

    out = d.mapInPandas(
        fn, schema="bucket bigint, g0 double, h0 double, "
                   "g1 double, h1 double")
    return out.groupBy("bucket").agg(
        F.round(F.sum("g0"), 6).alias("sum_g0"),
        F.round(F.sum("h0"), 6).alias("sum_h0"),
        F.round(F.sum("g1"), 6).alias("sum_g1"),
        F.round(F.sum("h1"), 6).alias("sum_h1"),
        F.count("*").cast("bigint").alias("n"))


def q_ref_dart_import(spark, sf_dir):
    """Genuine reference-dialect DART JSON import, HASH-MATCHED (round-10
    gate entry for the from_doc dialect dispatch, plans/model.py): a
    hand-authored legacy-dialect document — gradient_booster name
    "dart", tree model nested under ["gbtree"], per-tree weight_drop at
    the booster level (reference `src/gbm/gbtree.cc:448-463`
    GBTree::LoadModel) — loads through the REAL GBDTModel.from_json and
    serves lineitem through the REAL pure-Catalyst transform_expr; the
    DuckDB oracle replays the two drop-weighted tree walks as CASE
    expressions.  TIE CONVENTION (round 11): genuine reference imports
    route left only on the reference predictor's STRICT float32
    ``x < split_cond`` (`src/predictor/predict_fn.h:22`), which the
    oracle encodes as strict ``<``; both thresholds are NON-TYING
    (l_quantity is integer-valued, never 25.5; l_discount is a multiple
    of 0.01, never 0.045) and sit >= 0.005 away from any data value —
    vastly beyond float32 rounding (~3e-9 at 0.045) — so the float32
    casts on the Spark side cannot flip any comparison vs the oracle's
    double compare.  Determinism: leaf values, drop weights (0.5/0.25),
    and the squared-error identity base_score are exact binary
    fractions, so every per-row margin is IEEE-exact and the sum is
    order-independent."""
    import json as _json
    from xgboost_spark.plans.model import GBDTModel

    def tree(feat_idx, split, lo, hi):
        return {
            "tree_param": {"num_nodes": "3", "num_feature": "2",
                           "size_leaf_vector": "1"},
            "split_indices": [feat_idx, 0, 0],
            "split_conditions": [split, lo, hi],
            "split_type": [0, 0, 0],
            "categories": [], "categories_nodes": [],
            "categories_segments": [], "categories_sizes": [],
            "default_left": [1, 0, 0],
            "left_children": [1, -1, -1], "right_children": [2, -1, -1],
            "parents": [2147483647, 0, 0],
            "loss_changes": [1.0, 0.0, 0.0],
            "sum_hessian": [3.0, 2.0, 1.0],
            "base_weights": [0.0, lo, hi],
        }

    doc = {
        "version": [3, 0, 2],
        "learner": {
            "attributes": {},
            "feature_names": ["l_quantity", "l_discount"],
            "feature_types": [],
            "learner_model_param": {
                "base_score": "5E-1", "num_class": "0",
                "num_feature": "2", "num_target": "1"},
            "objective": {"name": "reg:squarederror"},
            "gradient_booster": {
                "name": "dart",
                "gbtree": {"model": {
                    "gbtree_model_param": {"num_trees": "2",
                                           "num_parallel_tree": "1"},
                    "iteration_indptr": [0, 1, 2],
                    "tree_info": [0, 0],
                    "trees": [tree(0, 25.5, -0.25, 0.75),
                              tree(1, 0.045, 0.5, -1.25)],
                }},
                "weight_drop": [0.5, 0.25],
            },
        },
    }
    m = GBDTModel.from_json(_json.dumps(doc))
    li = _table(spark, sf_dir, "lineitem")
    scored = m.transform_expr(li, feature_cols=["l_quantity", "l_discount"],
                              output_margin=True, out_col="margin")
    return scored.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum((F.col("l_quantity") < 25.5).cast("bigint"))
        .alias("n_q_left"),
        F.round(F.sum("margin"), 6).alias("margin_sum"))


def q_ref_gblinear_import(spark, sf_dir):
    """Genuine reference gblinear JSON import, HASH-MATCHED (round-10
    gate entry for LinearModel.from_json's reference dialect,
    plans/linear.py): flat (num_feature+1)-weight array with the bias
    last (`src/gbm/gblinear_model.cc:10-42`, layout
    `gblinear_model.h:49-55`), OUTPUT-space "[5E-1]" base_score mapped
    through ProbToMargin (logit(0.5) = 0), no feature_names (f{i}
    fallback re-aliased here to real columns) — served through the REAL
    pure-expression LinearModel.transform.  margin = 0.5*q - 0.25*d + 2
    is IEEE-exact per row (power-of-two weights); the sigmoid sum
    differs only in final ulps, under a 4dp-rounded aggregation."""
    import json as _json
    from xgboost_spark.plans.linear import LinearModel
    doc = {
        "version": [3, 0, 2],
        "learner": {
            "attributes": {},
            "feature_names": [],
            "feature_types": [],
            "learner_model_param": {
                "base_score": "[5E-1]", "num_class": "0",
                "num_feature": "2", "num_target": "1"},
            "objective": {"name": "binary:logistic",
                          "reg_loss_param": {"scale_pos_weight": "1"}},
            "gradient_booster": {
                "name": "gblinear",
                "model": {"weights": [0.5, -0.25, 2.0],
                          "boosted_rounds": 10}},
        },
    }
    m = LinearModel.from_json(_json.dumps(doc))
    li = _table(spark, sf_dir, "lineitem")
    out = m.transform(li.select(F.col("l_quantity").alias("f0"),
                                F.col("l_discount").alias("f1")),
                      feature_cols=["f0", "f1"], output_margin=True)
    return out.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.round(F.sum("margin"), 4).alias("margin_sum"),
        F.round(F.sum("prediction"), 4).alias("pred_sum"))


def q_linear_multigroup_round(spark, sf_dir):
    """Multi-group gblinear training, ONE round through the REAL
    `train_linear` at K=4 (plans/linear.py — round-11 exact
    sequential semantics: bias first with residual propagation, then
    coordinates at current residuals; reference gblinear.cc DoBoost +
    updater_shotgun.cc): 4-class softprob on lineitem with
    label = l_linenumber % 4.  With W=0, bias=0 and the identity-link
    0.5 multiclass intercept every row's margins are equal, so
    p_k = 1/4 EXACTLY — and 1/4 is DYADIC, so the per-row gradients
    g_k = 1/4 - [label = k] and the constant hessian
    h = 2 * (1/4) * (3/4) = 3/8 sum EXACTLY in any order (every partial
    sum is k*2^-3 with k < 2^53): the bias chain is bit-identical in
    both engines, not merely rounded-close (num_class=3's h = 4/9 sat
    the bias on a 4dp half-boundary).  The DuckDB oracle replays the
    per-group sequential chain from the cross-product sums; no explicit
    lambda, so the linear-booster defaults apply (lambda_d = 0)."""
    _prep(spark)
    from xgboost_spark.plans.linear import train_linear
    li = _table(spark, sf_dir, "lineitem")
    fcols = ["l_quantity", "l_discount", "l_tax"]
    d = li.select(*fcols, (F.col("l_linenumber") % 4)
                  .cast("double").alias("label"))
    model = train_linear({"booster": "gblinear",
                          "objective": "multi:softprob", "num_class": 4,
                          "num_boost_round": 1, "eta": 0.5},
                         d, feature_cols=fcols)
    rows = [(c, k, float(model.weights[i, k]))
            for i, c in enumerate(fcols) for k in range(4)]
    rows += [("__bias__", k, float(model.bias[k]) + model.base_score)
             for k in range(4)]
    return (spark.createDataFrame(
        rows, "feature string, class bigint, weight double")
        .select("feature", "class", F.round("weight", 4).alias("weight")))


def q_wide_linear_round(spark, sf_dir):
    """Wide-feature (F > 256) gblinear, ONE round through the REAL
    `train_linear` one-snapshot (Jacobi) fallback (plans/linear.py —
    same bias-first CoordinateDelta math as the exact path, frozen
    gradient snapshot, 3*F payload instead of F^2; the reference's own
    lock-free shotgun makes sequential bit-parity moot at this width,
    updater_shotgun.cc:33-86).  260 synthetic DYADIC features
    x_f = ((key*(f+1)) mod 64)/64 and label y = ((key*7) mod 128)/128
    over lineitem keys: with base_score pinned at 0 every sufficient
    statistic (G = sum -y, gx_f = sum -y*x_f, hx2_f = sum x_f^2,
    hb_f = sum x_f) is an exact dyadic rational, so the partial sums
    agree bit-for-bit in any order and the closed form
    w_f = eta * -(gx_f + dbias*hb_f)/hx2_f, dbias = eta * -G/n
    (eta 0.5, lambda/alpha 0 — the gblinear defaults) is replayable in
    DuckDB with one unnest over feature ids, no 260-column SQL."""
    _prep(spark)
    from xgboost_spark.plans.linear import train_linear
    Fw = 260
    base = (_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") % 20 == 3)
            .select((F.col("l_orderkey") * 100
                     + F.col("l_linenumber")).alias("key")))
    feats = [(((F.col("key") * (f + 1)) % 64) / F.lit(64.0)).alias(f"x{f}")
             for f in range(Fw)]
    d = base.select(*feats,
                    (((F.col("key") * 7) % 128) / F.lit(128.0))
                    .alias("label"))
    model = train_linear({"booster": "gblinear",
                          "objective": "reg:squarederror",
                          "num_boost_round": 1, "eta": 0.5,
                          "base_score": 0.0},
                         d, feature_cols=[f"x{f}" for f in range(Fw)])
    rows = [(-1, float(model.bias))] + [
        (f, float(model.weights[f])) for f in range(Fw)]
    return (spark.createDataFrame(rows, "feature bigint, weight double")
            .select("feature", F.round("weight", 6).alias("weight"))
            .orderBy("feature"))


def q_train_ranker_weighted(spark, sf_dir):
    """LambdaRank rank:pairwise round 1 WITH GROUP WEIGHTS — the
    round-12 weighted-group normalization (reference lambdarank_obj.cc
    :376-387 ``w = h_weight[g]`` applied :245-249 as
    ``gpair * w * w_norm``; ranking_utils.cc:37-44
    ``weight_norm = n_groups / sum w_group``): the q_train_ranker
    closed form (every per-row g/h is 0.5 * rank-count, dyadic) times
    an INTEGER group weight w_q = 1 + (qid mod 3) keeps the histogram
    sums IEEE-exact; the global factor n_groups / sum(w_q) multiplies
    the AGGREGATED scan columns (one deterministic multiply per value,
    identical expression order in both engines) before the gain/leaf
    arithmetic, so the split search sees exactly the reference's
    weighted gradients.  Gains/weights round only at the output
    boundary."""
    ev = _table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull())
    r = ev.select(
        F.col("user_id").alias("qid"),
        F.least(F.greatest(F.floor(F.col("value") / 25.0), F.lit(0)),
                F.lit(4)).cast("bigint").alias("rel"),
        (F.col("event_id") % 31).cast("bigint").alias("bin"))
    cnt = r.groupBy("qid", "rel").agg(F.count("*").alias("c"))
    wcum = Window.partitionBy("qid").orderBy("rel")
    wall = Window.partitionBy("qid")
    gh = (cnt.withColumn("cum", F.sum("c").over(wcum))
          .withColumn("tot", F.sum("c").over(wall))
          .select("qid", "rel",
                  (F.col("cum") - F.col("c")).alias("n_lt"),
                  (F.col("tot") - F.col("cum")).alias("n_gt")))
    wq = (F.lit(1) + F.col("qid") % 3).cast("double")   # group weight
    rows = (r.join(gh, ["qid", "rel"])
            .select("bin",
                    (wq * (0.5 * (F.col("n_gt") - F.col("n_lt"))))
                    .alias("g"),
                    (wq * (0.5 * (F.col("n_gt") + F.col("n_lt"))))
                    .alias("h")))
    hist = rows.groupBy("bin").agg(F.sum("g").alias("sum_g"),
                                   F.sum("h").alias("sum_h"),
                                   F.count("*").alias("nb"))
    # weight_norm = n_groups / sum w_group over DISTINCT groups
    wn = (r.select("qid").distinct()
          .agg((F.count("*").cast("double")
                / F.sum((F.lit(1) + F.col("qid") % 3).cast("double")))
               .alias("wnorm")))
    lam = 1.0
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    scan = (hist
            .withColumn("gl0", F.sum("sum_g").over(wb))
            .withColumn("hl0", F.sum("sum_h").over(wb))
            .withColumn("gt0", F.sum("sum_g").over(wtot))
            .withColumn("ht0", F.sum("sum_h").over(wtot))
            .withColumn("n", F.sum("nb").over(wtot))
            .withColumn("mx", F.max("bin").over(wtot))
            .filter(F.col("bin") < F.col("mx"))
            .crossJoin(F.broadcast(wn))
            .withColumn("gl", F.col("gl0") * F.col("wnorm"))
            .withColumn("hl", F.col("hl0") * F.col("wnorm"))
            .withColumn("gt", F.col("gt0") * F.col("wnorm"))
            .withColumn("ht", F.col("ht0") * F.col("wnorm"))
            .withColumn("gr", F.col("gt") - F.col("gl"))
            .withColumn("hr", F.col("ht") - F.col("hl"))
            .withColumn("gain",
                        F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                        + F.col("gr") * F.col("gr") / (F.col("hr") + lam)
                        - F.col("gt") * F.col("gt") / (F.col("ht") + lam)))
    return (scan
            .select(F.col("bin").cast("bigint").alias("best_bin"),
                    F.round("gain", 4).alias("best_gain"),
                    F.round(-F.col("gl") / (F.col("hl") + lam), 6)
                    .alias("w_left"),
                    F.round(-F.col("gr") / (F.col("hr") + lam), 6)
                    .alias("w_right"),
                    F.round("ht", 2).alias("h_total"),
                    F.round("wnorm", 6).alias("wnorm"),
                    F.col("n").cast("bigint").alias("n"))
            .orderBy(F.col("best_gain").desc(), F.col("best_bin").asc())
            .limit(1))


def q_ivf_search(spark, sf_dir):
    """Build-once-serve-many IVF ANN serving, HASH-MATCHED: the same
    deterministic index as `knn_ivf` (md5(vec_id)-seeded centroids, ONE
    Lloyd step with 6dp in-aggregation means) is built with the REAL
    `ivf_build`, persisted with `ivf_save` (lists parquet-partitioned
    by list_id so probe scans prune to n_probe partitions), reloaded
    with `ivf_load`, and queried through `ivf_search`
    (operators/similarity.py:379-407) — certifying that the
    save/load/search round trip reproduces the in-memory search
    bit-for-bit.  Oracle: the knn_ivf DuckDB replay (seeds, Lloyd step,
    re-assignment, probe lists, 6dp-rounded cosine top-k) — the index
    round trip must be a no-op on results."""
    import tempfile
    from xgboost_spark.operators.similarity import (ivf_build, ivf_load,
                                                    ivf_save, ivf_search)
    emb = _par(_table(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    assigned, cents = ivf_build(emb, 8, "embedding", "vec_id",
                                iters=1, seed_by="id", mean_round=6)
    path = tempfile.mkdtemp(prefix="xgbs_ivf_idx_")
    ivf_save(assigned, cents, f"{path}/idx")
    assigned2, cents2 = ivf_load(spark, f"{path}/idx")
    q = emb.filter(F.col("vec_id") < 5)
    out = ivf_search(assigned2, cents2, q, k=5, n_probe=3,
                     broadcast_queries=False, rank_round=6)
    return out.select(F.col("query_id").cast("bigint"),
                      F.col("nbr_id").cast("bigint"),
                      F.col("cos"),
                      F.col("rank").cast("bigint"))


def q_exact_duplicates(spark, sf_dir):
    """Duplicated-content groups through the REAL
    operators/dedup.exact_duplicates path (keep_first with
    min_group_count=2: packed-decimal min + count HashAggregate on
    md5(text), gated shuffle_hash join-back — the skew-proof shape, no
    content-key window).  One row per member of each group with >= 2
    copies: (id, dup_group = min id of the group, group_size).  The
    synthetic corpus is duplicate-free, so a deterministic duplicated
    slice is injected first (every doc_id % 10 == 0 re-appears at
    id + 10^6, and % 20 == 0 again at id + 2*10^6 — groups of size 2
    AND 3), exercising the real min/count HashAggregate + join-back on
    actual text.  Oracle: the window twin on the same digest over the
    same union."""
    from xgboost_spark.operators.dedup import exact_duplicates
    base_docs = _table(spark, sf_dir, "documents")
    docs = base_docs.select("doc_id", "text")
    dup1 = (base_docs.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 1000000).alias("doc_id"), "text"))
    dup2 = (base_docs.filter(F.col("doc_id") % 20 == 0)
            .select((F.col("doc_id") + 2000000).alias("doc_id"), "text"))
    docs = docs.unionByName(dup1).unionByName(dup2)
    out = exact_duplicates(docs, text_col="text", id_col="doc_id")
    return out.select(F.col("id").cast("bigint").alias("id"),
                      F.col("dup_group").cast("bigint").alias("dup_group"),
                      F.col("group_size").cast("bigint").alias("group_size"))


def q_count_family(spark, sf_dir):
    """poisson/gamma/tweedie nloglik family through the REAL
    compute_metric dispatch at constant log-margin 3.2 (round-9
    rewiring from inline aggregations — and a fidelity catch: the
    inline poisson skipped the lgamma(y+1) term compute_metric carries
    per the reference elementwise kernel; the oracle replays the
    kernel's Stirling form exactly)."""
    _prep(spark)
    from xgboost_spark.functions.metrics import compute_metric
    li = _table(spark, sf_dir, "lineitem")
    # compute_metric's scalar API runs one agg per call: cache the
    # projected 2-column frame so three metrics cost one lineitem scan
    d = li.select(F.col("l_quantity").cast("double").alias("y"),
                  F.lit(3.2).alias("m0")).persist()
    try:
        pois = compute_metric(d, "poisson-nloglik")
        gdev = compute_metric(d, "gamma-deviance")
        tw = compute_metric(d, "tweedie-nloglik@1.5")
    finally:
        d.unpersist()
    return spark.createDataFrame(
        [(round(pois, 6), round(gdev, 6), round(tw, 6))],
        "poisson_nll double, gamma_dev double, tweedie_nll double")


def q_dedup_exact(spark, sf_dir):
    """Exact content dedup through the REAL operators/dedup.dedup_exact
    path (keep-first = packed-decimal min HashAggregate on md5(text) +
    null-safe join-back, operators/util.keep_first) — the entry calls
    the shipped function itself so the driver gate pins the rewritten
    keep_first code, not an independent re-derivation.  Oracle: the
    window-based keep-first DuckDB replays on the same digest."""
    from xgboost_spark.operators.dedup import dedup_exact
    docs = _table(spark, sf_dir, "documents")
    out = dedup_exact(docs, text_col="text", id_col="doc_id")
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.col("source").alias("source"),
                      F.col("lang").alias("lang"))


def q_minhash_bands(spark, sf_dir):
    """MinHash-LSH band buckets: distinct candidate pairs per band
    (8 salted-md5 min-hashes over word 3-grams, 4 bands x 2 rows)."""
    from xgboost_spark.operators.dedup import minhash_signatures, word_shingles
    docs = _table(spark, sf_dir, "documents")
    sig = minhash_signatures(word_shingles(docs, "text", "doc_id", 3), 8)
    band_arr = F.array(*[
        F.concat_ws("|", F.element_at("sig", b * 2 + 1), F.element_at("sig", b * 2 + 2))
        for b in range(4)
    ])
    banded = sig.select("id", F.posexplode(band_arr).alias("band", "bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.band").alias("band"), F.col("a.id").alias("ia"),
                     F.col("b.id").alias("ib")).distinct())
    return pairs.groupBy(F.col("band").cast("bigint").alias("band")).agg(
        F.count("*").cast("bigint").alias("n_pairs"))


def q_dedup_incremental(spark, sf_dir):
    """Incremental cross-corpus dedup through the REAL operators
    (`operators/dedup.py` minhash_band_index / index_collisions /
    dedup_against_index / exact_digest_index / dedup_exact_against):
    docs with doc_id % 3 == 0 are the 'new batch', the rest the
    accumulated corpus.  One row per new doc: LSH collision count +
    first colliding corpus id, and the novel flags derived from the
    operators' own anti-joins (so the oracle checks the strip paths,
    not just the pairing).  Same 8-hash x 4-band x 3-shingle family as
    minhash_bands — every hash is salted md5, replayable in DuckDB."""
    from xgboost_spark.operators.dedup import (
        dedup_against_index, dedup_exact_against, exact_digest_index,
        index_collisions, minhash_band_index)
    docs = _table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 3 == 0)
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    idx = minhash_band_index(corpus, n_hashes=8, bands=4, shingle_n=3)
    hits = index_collisions(new, idx, n_hashes=8, bands=4, shingle_n=3)
    per_doc = hits.groupBy("id").agg(
        F.count("*").cast("bigint").alias("n_hits"),
        F.min("corpus_id").cast("bigint").alias("first_hit"))
    novel = (dedup_against_index(new, idx, n_hashes=8, bands=4, shingle_n=3)
             .select(F.col("doc_id").alias("nid")))
    exact_novel = (dedup_exact_against(new, exact_digest_index(corpus))
                   .select(F.col("doc_id").alias("eid")))
    return (new.select(F.col("doc_id").cast("bigint").alias("id"))
            .join(per_doc, "id", "left")
            .join(novel, F.col("id") == F.col("nid"), "left")
            .join(exact_novel, F.col("id") == F.col("eid"), "left")
            .select("id",
                    F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint")
                    .alias("n_hits"),
                    F.coalesce(F.col("first_hit"), F.lit(-1)).cast("bigint")
                    .alias("first_hit"),
                    F.col("nid").isNotNull().cast("bigint").alias("novel_lsh"),
                    F.col("eid").isNotNull().cast("bigint")
                    .alias("novel_exact")))


def q_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard for doc pairs sharing >= 8 shingles
    (join-based intersection; |A∪B| = |A|+|B|-|A∩B|)."""
    from xgboost_spark.operators.dedup import word_shingles
    docs = _table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "text", "doc_id", 3)
    sizes = sh.groupBy("id").agg(F.count("*").alias("nsh"))
    a = sh.select(F.col("id").alias("ia"), "shingle")
    b = sh.select(F.col("id").alias("ib"), "shingle")
    inter = (a.join(b, "shingle").filter(F.col("ia") < F.col("ib"))
             .groupBy("ia", "ib").agg(F.count("*").alias("ninter"))
             .filter(F.col("ninter") >= 8))
    out = (inter
           .join(sizes.withColumnRenamed("id", "ia").withColumnRenamed("nsh", "na"), "ia")
           .join(sizes.withColumnRenamed("id", "ib").withColumnRenamed("nsh", "nb"), "ib")
           .withColumn("jaccard", F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter"))))
    return out.select(F.col("ia").cast("bigint"), F.col("ib").cast("bigint"),
                      F.round("jaccard", 6).alias("jaccard"))


def q_text_quality(spark, sf_dir):
    """Quality signals through the REAL operators/textstats.text_quality
    (round-9 rewiring — the old entry re-derived a 5-stopword subset of
    the operator's math inline, so the gate never ran the shipped
    Gopher/C4-style column kit).  Aggregates the operator's exactly
    string-op-replayable columns per language: n_words (empty-text
    guard), punct/digit ratios over greatest(n_chars, 1), the full
    10-stopword padded-replace ratio, and avg_word_len.
    (quality_score/max_word_repeat_ratio use Spark array lambdas whose
    split-edge semantics aren't worth pinning cross-engine — they stay
    pytest-covered.)"""
    from xgboost_spark.operators.textstats import text_quality
    docs = _par(_table(spark, sf_dir, "documents").select("lang", "text"))
    d = text_quality(docs, text_col="text")
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.round(F.avg("n_words"), 6).alias("avg_words"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("digit_ratio"), 6).alias("avg_digit_ratio"),
        F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("avg_word_len"), 6).alias("avg_word_len"))


def q_token_counts(spark, sf_dir):
    """Whitespace token counting through the REAL
    operators/textstats.token_count (round-9 rewiring)."""
    from xgboost_spark.operators.textstats import token_count
    docs = _table(spark, sf_dir, "documents")
    d = token_count(docs, text_col="text", out_col="n_tokens")
    return d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("sum_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"))


def q_doc_fingerprint(spark, sf_dir):
    """Min-hash fingerprint of char 8-grams per doc -> distinct
    fingerprints per source, through the REAL
    operators/textstats.char_ngram_fingerprint (round-9 rewiring;
    n_mins=1 makes fingerprint[1] the minimum md5 gram — identical to
    the old inline array_min since min over distinct == min over all)."""
    from xgboost_spark.operators.textstats import char_ngram_fingerprint
    docs = _par(_table(spark, sf_dir, "documents").select("source", "text"))
    fps = char_ngram_fingerprint(docs, text_col="text", id_col="source",
                                 n=8, n_mins=1)
    return (fps.select(F.col("id").alias("source"),
                       F.element_at("fingerprint", 1).alias("fp"))
            .groupBy("source").agg(F.countDistinct("fp").cast("bigint").alias("n_fp")))


def q_knn(spark, sf_dir):
    """Brute-force cosine top-5 for queries vec_id < 5 (rank by exact
    cosine, ties by neighbor id — bit-identical fold order both engines)."""
    from xgboost_spark.operators.similarity import cosine_topk
    emb = _table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk(emb, q, k=5)
    return out.select(F.col("query_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                      F.round("cos", 6).alias("cos"), F.col("rank").cast("bigint"))


def q_embedding_neardup(spark, sf_dir):
    """Embedding cosine near-dup pairs through the REAL
    operators/dedup.embedding_near_pairs (brute_force=True — the
    exact-recall oracle path; round-9 rewiring from an inline
    zip_with/aggregate replica)."""
    from xgboost_spark.operators.dedup import embedding_near_pairs
    emb = _par(_table(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    out = embedding_near_pairs(emb, threshold=0.45, brute_force=True)
    return out.select(F.col("id_a").cast("bigint").alias("id_a"),
                      F.col("id_b").cast("bigint").alias("id_b"),
                      F.round("cos", 6).alias("cos"))


def q_sessionize(spark, sf_dir):
    """Sessionization through the REAL operators/relational.sessionize
    (round-9 rewiring from an inline window replica — the gate now runs
    the shipped operator).  The operator's gap rule compares
    unix_timestamp SECONDS (Spark truncation semantics), which the
    DuckDB oracle replays as floor(epoch(ts)); per-user session COUNTS
    are invariant to the window's order among same-timestamp ties
    (gap = 0 either way)."""
    from xgboost_spark.operators.relational import sessionize
    ev = _table(spark, sf_dir, "events")
    s = sessionize(ev, user_col="user_id", ts_col="ts", gap_minutes=30)
    per_u = (s.groupBy("user_id")
             .agg(F.max("session_id").alias("sessions")))
    return per_u.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("sessions").cast("bigint").alias("n_sessions"),
        F.round(F.avg("sessions"), 6).alias("avg_sessions"))


def q_asof_join(spark, sf_dir):
    """As-of through the REAL operators/relational.asof_join
    (union-and-window carry-last, no range explosion; round-9 rewiring
    from an inline window replica): each 'click' joined to the latest
    'signup' value of the same user with signup.ts <= click.ts.  The
    operator's tie rule — a SAME-timestamp signup sorts before the
    click (side asc) and matches — goes into the oracle's window order;
    the events data has no same-(user, ts) duplicates, so the picked
    value is fully deterministic."""
    from xgboost_spark.operators.relational import asof_join
    ev = _table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    signups = (ev.filter(F.col("event_type") == "signup")
               .select("user_id", "ts",
                       F.col("value").alias("signup_value")))
    j = asof_join(clicks, signups, on="ts", by="user_id")
    return j.agg(
        F.count("*").cast("bigint").alias("n_clicks"),
        F.count("signup_value").cast("bigint").alias("n_matched"),
        F.round(F.avg("signup_value"), 6).alias("avg_signup_value"))


def q_topk_orders(spark, sf_dir):
    """Per-group top-k through the REAL operators/relational.
    topk_per_group (round-9 rewiring): top-3 orders by price per
    customer, orderkey tie-break."""
    from xgboost_spark.operators.relational import topk_per_group
    o = _table(spark, sf_dir, "orders")
    t = topk_per_group(o, ["o_custkey"], "o_totalprice", 3,
                       desc=True, tie_col="o_orderkey")
    return t.select(F.col("o_custkey").cast("bigint"),
                    F.col("o_orderkey").cast("bigint"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.col("rk").cast("bigint"))


def q_range_join(spark, sf_dir):
    from xgboost_spark.operators.relational import range_join
    ev = _table(spark, sf_dir, "events")
    spark_ranges = spark.createDataFrame(
        [(0.0, 10.0, "low"), (10.0, 100.0, "mid"), (100.0, 100000.0, "high")],
        "lo double, hi double, bucket string")
    j = range_join(ev, spark_ranges, "value", bucket_width=100.0)
    return j.groupBy("bucket").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(F.sum("value"), 4).alias("sum_value"))


def q_q1_pricing(spark, sf_dir):
    li = _table(spark, sf_dir, "lineitem")
    d = li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
    return (d.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
        F.count("*").cast("bigint").alias("count_order")))


# --- ML end-to-end (rows-only checks; no SQL equivalent) -------------------

def q_train_tree_nodes(spark, sf_dir):
    """trees_to_dataframe HASH-MATCHED (promoted from rows-only): the
    composed 2-round stump model is emitted through the REAL
    GBDTModel.to_nodes_df node-table serializer (reference
    `core.py:3103` trees_to_dataframe) — split feature, raw threshold,
    child links, per-node cover, leaf values — and the DuckDB oracle
    rebuilds the same six rows from the b1/b2 split CTEs plus the
    rank-rule cut values, so the relational model dump itself is
    cross-engine checked, not just the split choices.  NULL-bearing
    columns are coalesced to sentinels (-1 / '' / 0.0) on both sides so
    the driver's value hash is NaN-free."""
    _prep(spark)
    model, _base, _rounds, _cuts = _composed_stump_model(spark, sf_dir)
    nodes = model.to_nodes_df(spark)
    return nodes.select(
        F.col("tree").cast("bigint").alias("tree"),
        F.col("node").cast("bigint").alias("node"),
        F.coalesce("feature", F.lit("")).alias("feature"),
        F.round(F.coalesce("split", F.lit(0.0)), 6).alias("split"),
        F.coalesce(F.col("yes").cast("bigint"), F.lit(-1)).alias("yes"),
        F.coalesce(F.col("no").cast("bigint"), F.lit(-1)).alias("no"),
        F.col("default_left").cast("boolean").alias("default_left"),
        F.round(F.coalesce("gain", F.lit(0.0)), 4).alias("gain"),
        F.round("cover", 2).alias("cover"),
        # leaf values are exactly-7-decimal (0.3 x 6dp weight): 7dp
        # rounding is the identity, 6dp is a cross-engine tie
        F.round(F.coalesce("leaf_value", F.lit(0.0)), 7).alias("leaf_value"))


def q_train_predict(spark, sf_dir):
    """Batch prediction HASH-MATCHED (promoted from rows-only): the
    composed stump model served through the REAL GBDTModel.transform
    path — broadcast model, Arrow-batched NumPy traversal over RAW
    feature values (`plans/model.py:608`; raw routing `x <=
    split_value`, core.py:154) — against a DuckDB oracle that replays
    the per-row CASE predictions from the binned chain (binned-left
    `bin <= b` is equivalent to raw-left `x <= cut[b]` because bin
    counts cuts strictly below x).  A deterministic key filter keeps
    the compared set small; the model still serves every row."""
    _prep(spark)
    model, _base, _rounds, _cuts = _composed_stump_model(spark, sf_dir)
    li = _table(spark, sf_dir, "lineitem")
    out = model.transform(li, feature_cols=_BS_FEATURES)
    return (out.filter(F.col("l_orderkey") % 50 == 0)
            .select(F.col("l_orderkey").cast("bigint"),
                    F.col("l_linenumber").cast("bigint"),
                    # predictions are EXACTLY 7-decimal quantities
                    # (6dp base/weights x 0.3), so 7dp rounding is the
                    # identity on both engines; 6dp would sit on a
                    # half-way tie that Spark (BigDecimal HALF_UP) and
                    # DuckDB (float math) resolve differently
                    F.round("prediction", 7).alias("prediction")))


def q_train_importance(spark, sf_dir):
    """Feature importance HASH-MATCHED (promoted from rows-only):
    the deterministic composed 2-round stump model (q_train_stump's
    loop, shared via _composed_stump_rounds) is materialized as REAL
    core.Tree objects inside a GBDTModel, and the REAL
    GBDTModel.feature_importance accumulator (reference
    XGBoosterFeatureScore c_api.h:1608, core.py:3036 get_score) reports
    weight / total_gain / total_cover per used feature — weight = split
    count, total_gain = sum of loss_chg, total_cover = sum of the split
    node's sum_hess.  The DuckDB oracle replays the same two boosting
    rounds (the train_stump CTE chain) and aggregates the two best-split
    rows per feature, so the importance semantics — not just the split
    choices — are cross-engine checked."""
    _prep(spark)
    model, _base, _rounds, _cuts = _composed_stump_model(spark, sf_dir)
    imp_w = model.feature_importance("weight")
    imp_g = model.feature_importance("total_gain")
    imp_c = model.feature_importance("total_cover")
    rows = [(f, float(imp_w[f]), float(imp_g[f]), float(imp_c[f]))
            for f in sorted(imp_w)]
    return (spark.createDataFrame(
        rows, "feature string, weight double, total_gain double, "
              "total_cover double")
        .select("feature", "weight", F.round("total_gain", 4).alias("total_gain"),
                F.round("total_cover", 2).alias("total_cover")))


def q_simhash(spark, sf_dir):
    from xgboost_spark.operators.dedup import simhash
    docs = _table(spark, sf_dir, "documents")
    return simhash(docs)


def _fixed_two_tree_doc(objective="reg:squarederror"):
    """A hand-authored reference-dialect 2-round document over
    (user_id, event_id) with exact binary-fraction leaves and non-tying
    .5 thresholds on integer features — every per-row margin is a
    multiple of 0.25, so sums are IEEE-exact in any order and a DuckDB
    CASE replay hash-matches bit-for-bit (the ref_dart_import recipe,
    reference predictor tie rule `src/predictor/predict_fn.h:22`)."""
    def tree(feat_idx, split, lo, hi):
        return {
            "tree_param": {"num_nodes": "3", "num_feature": "2",
                           "size_leaf_vector": "1"},
            "split_indices": [feat_idx, 0, 0],
            "split_conditions": [split, lo, hi],
            "split_type": [0, 0, 0],
            "categories": [], "categories_nodes": [],
            "categories_segments": [], "categories_sizes": [],
            "default_left": [1, 0, 0],
            "left_children": [1, -1, -1], "right_children": [2, -1, -1],
            "parents": [2147483647, 0, 0],
            "loss_changes": [1.0, 0.0, 0.0],
            "sum_hessian": [3.0, 2.0, 1.0],
            "base_weights": [0.0, lo, hi],
        }
    return {
        "version": [3, 0, 2],
        "learner": {
            "attributes": {},
            "feature_names": ["user_id", "event_id"],
            "feature_types": [],
            "learner_model_param": {
                "base_score": "5E-1", "num_class": "0",
                "num_feature": "2", "num_target": "1"},
            "objective": {"name": objective},
            "gradient_booster": {
                "name": "gbtree",
                "model": {
                    "gbtree_model_param": {"num_trees": "2",
                                           "num_parallel_tree": "1"},
                    "iteration_indptr": [0, 1, 2],
                    "tree_info": [0, 0],
                    "trees": [tree(0, 6.5, -0.25, 0.75),
                              tree(1, 500.5, 0.5, -1.25)],
                },
            },
        },
    }


def q_stream_score(spark, sf_dir):
    """Streaming model serving HASH-MATCHED (promoted from rows-only,
    round 13): a fixed reference-dialect 2-tree model loads through the
    REAL GBDTModel.from_json, the events table replays as a file stream,
    and score_stream runs the identical broadcast-model Arrow plan
    micro-batch by micro-batch (readStream -> availableNow -> memory
    sink).  availableNow streaming of a static source is batch-
    equivalent, so the DuckDB oracle replays the two tree walks as CASE
    expressions — leaves are exact binary fractions and thresholds are
    non-tying .5 offsets on integer features, so per-type margin sums
    are bit-identical (same determinism argument as ref_dart_import)."""
    _prep(spark)
    import json as _json
    import tempfile
    from xgboost_spark.plans.model import GBDTModel
    from xgboost_spark.streaming.scoring import run_available_now, score_stream
    model = GBDTModel.from_json(_json.dumps(_fixed_two_tree_doc()))
    fc = ["user_id", "event_id"]
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sch = spark.read.parquet(link).schema
    src = spark.readStream.schema(sch).parquet(stream_dir)
    scored = score_stream(model, src, feature_cols=fc)
    _STREAM_SEQ[0] += 1
    name = f"stream_score_{_STREAM_SEQ[0]}"
    run_available_now(scored.select("event_type", "prediction"), name)
    return (spark.table(name).groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum("prediction"), 4).alias("sum_pred")))


def q_dart_slice_serve(spark, sf_dir):
    """DART x iteration_range HASH-MATCHED (round-13 parity-audit pin):
    a hand-authored DART document (per-tree weight_drop, reference
    `gbtree.cc:455-463`) serves events through transform_expr with
    iteration_range=(1, 0) — the reference's LayerToTree end==0 form
    meaning "rounds [1, last]" (`gbtree.h:129-140`), which the engine
    mis-sliced to EMPTY before round 13.  Only round 2's tree, times its
    own weight_drop 0.25 (weights slice WITH their rounds,
    gbtree.cc:620-625), contributes; the DuckDB oracle replays exactly
    that weighted walk.  Determinism: binary-fraction leaves/weights,
    non-tying integer thresholds, identity base_score 0.5."""
    _prep(spark)
    import json as _json
    from xgboost_spark.plans.model import GBDTModel
    doc = _fixed_two_tree_doc()
    gb = doc["learner"]["gradient_booster"]
    gb["name"] = "dart"
    gb["gbtree"] = {"model": gb.pop("model")}
    gb["weight_drop"] = [0.5, 0.25]
    m = GBDTModel.from_json(_json.dumps(doc))
    ev = _table(spark, sf_dir, "events")
    scored = m.transform_expr(ev, feature_cols=["user_id", "event_id"],
                              output_margin=True, out_col="margin",
                              iteration_range=(1, 0))
    return (scored.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum("margin"), 4).alias("sum_margin")))


def q_pred_leaf_range(spark, sf_dir):
    """pred_leaf under iteration_range HASH-MATCHED (round-13 audit pin
    for the begin==0-only contract, `gbtree.h:326` CHECK_EQ(tree_begin,
    0)): the fixed 2-tree model emits leaf ids for rounds [0, 1) only —
    one id per tree (reference PredictLeaf, cpu_predictor.cc:535-568) —
    and the DuckDB oracle replays the routing CASE (left child = node 1,
    right = node 2) with per-leaf event counts."""
    _prep(spark)
    import json as _json
    from xgboost_spark.plans.model import GBDTModel
    m = GBDTModel.from_json(_json.dumps(_fixed_two_tree_doc()))
    ev = _table(spark, sf_dir, "events")
    out = m.transform(ev, feature_cols=["user_id", "event_id"],
                      pred_leaf=True, iteration_range=(0, 1))
    return (out.select(F.element_at("leaf", 1).alias("leaf_id"))
            .groupBy("leaf_id")
            .agg(F.count("*").cast("bigint").alias("n"))
            .withColumn("leaf_id", F.col("leaf_id").cast("bigint")))


def q_lr_schedule(spark, sf_dir):
    """LearningRateScheduler ONE-ROUND-LATE semantics HASH-MATCHED
    (round-14 callback-cadence fix; reference callback.py:305-307
    applies the rate in after_iteration, pinned by the reference's own
    run_eta_decay expectations): a 2-round depth-1 squarederror fit on
    PINNED 8-bin l_quantity cuts with ``LearningRateScheduler([0.0,
    0.0])`` must train round 0 at the CONFIGURED eta=0.3 (nonzero
    Newton leaves, replayed by the DuckDB split-scan below: integer
    row-count hessians, gain desc / bin asc tie order, leaves
    eta*-G/(H+lambda) at 4dp) and round 1 at rates(0)=0 — leaf values
    EXACTLY zero.  Under the engine's old on-time semantics round 0
    would already be frozen and the abs-leaf-sum row would be 0."""
    _prep(spark)
    import numpy as np
    from xgboost_spark.config import TrainParams
    from xgboost_spark.functions.callbacks import LearningRateScheduler
    from xgboost_spark.plans.booster import SparkBooster
    li = _table(spark, sf_dir, "lineitem")
    cuts = _exact_cut_values(spark, sf_dir, "lineitem", "l_quantity", 8)
    d = li.select("l_quantity",
                  (F.col("l_extendedprice") / 1000.0).alias("label"))
    base = round(d.agg(F.avg("label")).first()[0], 6)
    m = SparkBooster(TrainParams(num_boost_round=2, max_depth=1, max_bin=8,
                                 eta=0.3, base_score=base, seed=1)).fit(
        d, feature_cols=["l_quantity"], label_col="label",
        cuts=[np.array(cuts + [np.inf])],
        callbacks=[LearningRateScheduler([0.0, 0.0])])
    rows = []
    for ri, rnd in enumerate(m.trees):
        t = rnd[0]
        arrs = t.finalize_arrays()
        lw = [float(arrs["leaf_value"][i]) for i in range(t.n_nodes)
              if t.left[i] == -1]
        rows.append((ri, round(sum(abs(v) for v in lw), 4), len(lw)))
    return (spark.createDataFrame(
                rows, "rnd bigint, abs_leaf_sum double, n_leaves bigint")
            .orderBy("rnd"))


def q_clf_serve(spark, sf_dir):
    """Classifier WRAPPER serving schema (round-14 predict-surface
    audit pin, reference `spark/core.py:1475-1478` _out_schema +
    `:1492-1528` transform_margin + `:1530-1560` _post_transform):
    the fixed 2-tree binary:logistic model is served through the REAL
    `SparkGBDTClassifierModel._transform` — rawPrediction = [-m, m],
    probability = [1-sigmoid(m), sigmoid(m)], prediction = argmax hard
    label — and the result is grouped by leaf combination.  Margins are
    exact multiples of 0.25 (the _fixed_two_tree_doc recipe), so the
    margin column and the counts hash-match a DuckDB CASE replay
    bit-for-bit; sigmoid is pinned at 6dp (both engines evaluate libm
    exp on IDENTICAL doubles, then round — the nearest margin to any
    6dp rounding boundary is ~1e-8 away)."""
    _prep(spark)
    import json as _json
    from pyspark.ml.functions import vector_to_array
    from xgboost_spark.plans.estimator import SparkGBDTClassifierModel
    from xgboost_spark.plans.model import GBDTModel
    core_m = GBDTModel.from_json(
        _json.dumps(_fixed_two_tree_doc("binary:logistic")))
    wrap = SparkGBDTClassifierModel(
        core_m, {"feature_cols": ["user_id", "event_id"]})
    ev = _table(spark, sf_dir, "events").select("user_id", "event_id")
    out = wrap.transform(ev)
    return (out.select(
                F.element_at(vector_to_array("rawPrediction"), 2)
                 .alias("margin"),
                F.round(F.element_at(vector_to_array("probability"), 2), 6)
                 .alias("prob"),
                F.col("prediction").alias("pred"))
            .groupBy("margin", "prob", "pred")
            .agg(F.count("*").cast("bigint").alias("n"))
            .orderBy("margin"))


def q_eval_str(spark, sf_dir):
    """Booster.eval_set byte format HASH-MATCHED (round-14 EvalOneIter
    audit pin, `learner.cc:1164-1194`): the eval string is ``[i]`` +
    ``\\t{data}-{metric}:{value}`` in DATASET-MAJOR, metric-minor order
    over the configured eval_metric list, values printed fixed-point at
    max_digits10 = 17 decimals (`learner.cc:1170-1171`
    os.precision(max_digits10) + std::ios::fixed = %.17f).

    Determinism to the last of the 17 digits: the fixed 2-tree model's
    margins and the constructed labels are exact multiples of 0.25, so
    squared/absolute residuals are exact multiples of 1/16 — their sums
    are IEEE-exact in ANY accumulation order, the final /n and sqrt are
    correctly-rounded single ops on identical doubles, and %.17f
    round-trips the identical doubles to identical bytes in Python and
    DuckDB printf.  The WHOLE string hash-matches."""
    _prep(spark)
    import json as _json
    from xgboost_spark.plans.model import GBDTModel
    m = GBDTModel.from_json(_json.dumps(_fixed_two_tree_doc()))
    m.params.eval_metric = ["rmse", "mae"]
    ev = _table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        ((F.col("user_id") % 4).cast("double") * F.lit(0.25)).alias("label"))
    d_tr = ev.filter(F.col("event_id") % 2 == 0)
    d_ho = ev.filter(F.col("event_id") % 2 == 1)
    s = m.eval_set([(d_tr, "train"), (d_ho, "holdout")], iteration=7,
                   feature_cols=["user_id", "event_id"])
    return spark.createDataFrame([(s,)], "eval_str string")


def q_image_pipeline(spark, sf_dir):
    """Multimodal pipeline (operators/multimodal): deterministic raw
    videos are built per document, frame-sampled to real PPM frames, and
    pushed through the pure-NumPy image decode + thumbnail featurizer;
    returns per-media feature aggregates.  Rows-only: binary codecs
    aren't SQL-expressible."""
    _prep(spark)
    import numpy as np
    from xgboost_spark.operators.jpeg import encode_jpeg
    from xgboost_spark.operators.multimodal import (encode_gif, encode_png,
                                                    encode_raw_video,
                                                    frame_sample,
                                                    image_features)
    rows = []
    for did in range(24):
        rng = np.random.default_rng(did)
        frames = rng.integers(0, 256, (6, 4, 4, 3), dtype=np.uint8)
        rows.append((did, bytearray(encode_raw_video(frames))))
    media = spark.createDataFrame(rows, "media_id long, content binary")
    frames_df = frame_sample(media, every_n=2, max_frames=3)
    feats = image_features(
        frames_df.drop("content")
        .withColumnRenamed("frame_content", "content"), out_dim=8)
    # in-row invariants (r9-verdict hardening): rows-only entries carry
    # their own validity evidence — 3 sampled frames x out_dim=8
    # features per video, every feature a mean of uint8 pixels in
    # [0, 255] — so the driver gate sees violations, not just row counts
    vid = (feats.select("media_id", "frame_idx",
                        F.explode("features").alias("v"))
           .groupBy("media_id")
           .agg(F.count("*").cast("bigint").alias("n_vals"),
                F.round(F.sum("v"), 6).alias("sum_feat"),
                F.min("v").alias("_mn"), F.max("v").alias("_mx"))
           .withColumn("inv_ok",
                       (F.col("n_vals") == 24) & (F.col("_mn") >= 0)
                       & (F.col("_mx") <= 255))
           .drop("_mn", "_mx"))
    # compressed still images through the SAME featurizer, strict mode:
    # in-repo PNG / GIF / JPEG codecs (multimodal.py, jpeg.py)
    yy, xx = np.mgrid[0:16, 0:16]
    img = np.stack([np.clip(yy * 16, 0, 255), np.clip(xx * 16, 0, 255),
                    np.clip(8 * (xx + yy), 0, 255)], axis=2).astype(np.uint8)
    stills = spark.createDataFrame(
        [(1001, bytearray(encode_png(img))),
         (1002, bytearray(encode_gif(np.clip(yy * 16, 0, 255).astype(np.uint8)))),
         (1003, bytearray(encode_jpeg(img, quality=90)))],
        "media_id long, content binary")
    sf = image_features(stills, out_dim=8, strict=True)
    # pixel-checksum pin (round-13, train_stream's inv_cuts_frozen
    # pattern): the stills are deterministic gradients, so their feature
    # checksums are literal constants — a codec or featurizer regression
    # flips inv_ok to false and the driver gate sees it
    _pix = {1001: 3.513726, 1002: 3.513726, 1003: 3.491816}
    pix_expr = F.create_map(
        *[F.lit(v) for kv in _pix.items() for v in kv])[F.col("media_id")]
    still_agg = (sf.select("media_id", F.explode("features").alias("v"))
                 .groupBy("media_id")
                 .agg(F.count("*").cast("bigint").alias("n_vals"),
                      F.round(F.sum("v"), 6).alias("sum_feat"),
                      F.min("v").alias("_mn"), F.max("v").alias("_mx"))
                 .withColumn("inv_ok",
                             (F.col("n_vals") == 8) & (F.col("_mn") >= 0)
                             & (F.col("_mx") <= 255)
                             & (F.abs(F.col("sum_feat") - pix_expr) < 5e-7))
                 .drop("_mn", "_mx"))
    return vid.unionByName(still_agg)


def q_simhash_pairs(spark, sf_dir):
    """SimHash Hamming-LSH near-pairs (operators/dedup.simhash_near_pairs).
    With bands-1 >= max_hamming the banded join is EXHAUSTIVE (pigeonhole:
    <=3 differing bits leave one of 4 bands intact), so the oracle is the
    plain all-pairs bit_count(xor) <= 3 — verifying both the candidate
    generation and the Hamming arithmetic."""
    _prep(spark)
    from xgboost_spark.operators.dedup import simhash_near_pairs
    docs = _table(spark, sf_dir, "documents")
    out = simhash_near_pairs(docs, n_bits=48, bands=4, max_hamming=3)
    return out.select(F.col("id_a").cast("bigint").alias("id_a"),
                      F.col("id_b").cast("bigint").alias("id_b"),
                      F.col("hamming").cast("bigint").alias("hamming"))


def q_train_ranker(spark, sf_dir):
    """LambdaRank rank:pairwise, ONE boosting round, HASH-MATCHED
    (promoted from rows-only): at round 1 every margin equals
    base_score = 0, so each (more-relevant, less-relevant) pair inside
    a query group contributes lambda = (sigmoid(0) - 1) = -0.5 to the
    higher document and hessian max(p(1-p), eps) * delta * 2 = 0.5
    (reference LambdaGrad, lambdarank_obj.h:93-150, delta = 1 for
    rank:pairwise; score normalization skips because every score is
    equal, lambdarank_obj.h:124) — and the all-pairs sum collapses to
    per-document rank counts:
        g_i = 0.5 * (n_more_relevant_i - n_less_relevant_i)
        h_i = 0.5  * (n_more_relevant_i + n_less_relevant_i)
    The modeled config pins lambdarank_pair_method's truncation away
    (num_pair >= max group size => the top-k loop degenerates to
    all-pairs) and lambdarank_normalization=false (both public params),
    so every g/h stays an EXACT dyadic rational; the enabled-by-default
    log2(1+sum_lambda)/sum_lambda group normalization is a per-group
    scalar covered by tests/test_ranking_objectives.py.
    computed with ONE cumulative window over (qid, rel) group counts —
    no pair join, so the plan is O(n log n) at any group size.  The
    split search is the standard hist -> prefix scan -> argmax on an
    integer-valued feature (event_id % 31: bins ARE the values, no
    sketch), lambda=1, ties (gain desc, bin asc).  Every g/h is a
    dyadic rational (k/4), so all aggregates are IEEE-exact on both
    engines; gains/weights round only at the output boundary.  (The
    engine's sampled-pair rank:ndcg trainer stays covered by
    tests/test_ranking.py-style pytest + the ndcg/map metric oracles.)
    """
    ev = _table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull())
    r = ev.select(
        F.col("user_id").alias("qid"),
        F.least(F.greatest(F.floor(F.col("value") / 25.0), F.lit(0)),
                F.lit(4)).cast("bigint").alias("rel"),
        (F.col("event_id") % 31).cast("bigint").alias("bin"))
    cnt = r.groupBy("qid", "rel").agg(F.count("*").alias("c"))
    wcum = Window.partitionBy("qid").orderBy("rel")   # RANGE: peers in
    wall = Window.partitionBy("qid")
    gh = (cnt.withColumn("cum", F.sum("c").over(wcum))
          .withColumn("tot", F.sum("c").over(wall))
          .select("qid", "rel",
                  (F.col("cum") - F.col("c")).alias("n_lt"),
                  (F.col("tot") - F.col("cum")).alias("n_gt")))
    rows = (r.join(gh, ["qid", "rel"])
            .select("bin",
                    (0.5 * (F.col("n_gt") - F.col("n_lt"))).alias("g"),
                    (0.5 * (F.col("n_gt") + F.col("n_lt"))).alias("h")))
    hist = rows.groupBy("bin").agg(F.sum("g").alias("sum_g"),
                                   F.sum("h").alias("sum_h"),
                                   F.count("*").alias("nb"))
    lam = 1.0
    wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)
    scan = (hist
            .withColumn("gl", F.sum("sum_g").over(wb))
            .withColumn("hl", F.sum("sum_h").over(wb))
            .withColumn("gt", F.sum("sum_g").over(wtot))
            .withColumn("ht", F.sum("sum_h").over(wtot))
            .withColumn("n", F.sum("nb").over(wtot))
            .withColumn("mx", F.max("bin").over(wtot))
            .filter(F.col("bin") < F.col("mx"))
            .withColumn("gr", F.col("gt") - F.col("gl"))
            .withColumn("hr", F.col("ht") - F.col("hl"))
            .withColumn("gain",
                        F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                        + F.col("gr") * F.col("gr") / (F.col("hr") + lam)
                        - F.col("gt") * F.col("gt") / (F.col("ht") + lam)))
    return (scan
            .select(F.col("bin").cast("bigint").alias("best_bin"),
                    F.round("gain", 4).alias("best_gain"),
                    F.round(-F.col("gl") / (F.col("hl") + lam), 6).alias("w_left"),
                    F.round(-F.col("gr") / (F.col("hr") + lam), 6).alias("w_right"),
                    F.round("ht", 2).alias("h_total"),
                    F.col("n").cast("bigint").alias("n"))
            .orderBy(F.col("best_gain").desc(), F.col("best_bin").asc())
            .limit(1))


def q_dup_spans(spark, sf_dir):
    """Span-level exact substring dedup (operators/dedup.
    duplicate_spans; Lee et al. 2022): maximal character spans covered
    by 20-grams occurring >= 2 times in the corpus — the union of
    duplicated-gram positions is exactly the duplicated-substring
    character set (suffix-array-free reduction).  48-bit md5 gram keys
    make the whole pipeline — gram hash, occurrence filter,
    gaps-and-islands interval merge — replayable in DuckDB."""
    from xgboost_spark.operators.dedup import duplicate_spans
    docs = _table(spark, sf_dir, "documents")
    return duplicate_spans(docs, "text", "doc_id", k=20, min_count=2) \
        .select(F.col("id").cast("bigint").alias("id"),
                "span_start", "span_end", "span_chars")


def _dup_spans_sql(k: int = 20, min_count: int = 2) -> str:
    """DuckDB twin of q_dup_spans: same md5-48 gram keys, same
    occurrence threshold, same gaps-and-islands merge."""
    return f"""
WITH g AS (
  SELECT doc_id AS id,
         unnest(generate_series(1, length(text) - {k - 1})) AS pos,
         text
  FROM documents WHERE length(text) >= {k}),
h AS (
  SELECT id, pos,
         ('0x' || substr(md5('span:' || substr(text, pos, {k})), 1, 12))::BIGINT AS gh
  FROM g),
d AS (SELECT gh FROM h GROUP BY gh HAVING count(*) >= {min_count}),
m AS (SELECT h.id, h.pos, h.pos + {k} AS e FROM h JOIN d USING (gh)),
isl AS (
  SELECT id, pos, e,
         CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              THEN 1 ELSE 0 END AS ni
  FROM m),
isl2 AS (
  SELECT id, pos, e,
         sum(ni) OVER (PARTITION BY id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl)
SELECT CAST(id AS BIGINT) AS id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(e) AS BIGINT) AS span_end,
       CAST(max(e) - min(pos) AS BIGINT) AS span_chars
FROM isl2 GROUP BY id, island"""


def q_strip_spans(spark, sf_dir):
    """Duplicated-span REMOVAL with keep-first policy (operators/dedup.
    strip_duplicate_spans; the Lee et al. 2022 dedup step after span
    marking): per duplicated 20-gram, the globally-first occurrence
    (min (id, pos)) survives; later occurrences' characters are cut and
    the text rebuilt by a pure higher-order-function segment concat.
    Fully replayable: same md5-48 gram keys, rank window, islands, and
    string reconstruction in DuckDB."""
    from xgboost_spark.operators.dedup import strip_duplicate_spans
    docs = _table(spark, sf_dir, "documents")
    return strip_duplicate_spans(docs, "text", "doc_id", k=20, min_count=2) \
        .select(F.col("id").cast("bigint").alias("id"),
                "text_stripped", "removed_chars")


def _strip_spans_sql(k: int = 20, min_count: int = 2) -> str:
    """DuckDB twin of q_strip_spans: keep-first rank per gram key,
    removal islands, lag-based segment reconstruction."""
    return f"""
WITH g AS (
  SELECT doc_id AS id,
         unnest(generate_series(1, length(text) - {k - 1})) AS pos,
         text
  FROM documents WHERE length(text) >= {k}),
h AS (
  SELECT id, pos,
         ('0x' || substr(md5('span:' || substr(text, pos, {k})), 1, 12))::BIGINT AS gh
  FROM g),
d AS (SELECT gh FROM h GROUP BY gh HAVING count(*) >= {min_count}),
occ AS (SELECT h.id, h.pos, h.gh FROM h JOIN d USING (gh)),
later AS (
  SELECT id, pos, pos + {k} AS e FROM (
    SELECT id, pos, row_number() OVER (PARTITION BY gh ORDER BY id, pos) AS rn
    FROM occ)
  WHERE rn > 1),
isl AS (
  SELECT id, pos, e,
         CASE WHEN pos > coalesce(max(e) OVER (PARTITION BY id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              THEN 1 ELSE 0 END AS ni
  FROM later),
isl2 AS (
  SELECT id, pos, e,
         sum(ni) OVER (PARTITION BY id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl),
spans AS (SELECT id, min(pos) AS s, max(e) AS e FROM isl2 GROUP BY id, island),
segs AS (
  SELECT id, s, e,
         coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 1) AS ps
  FROM spans),
recon AS (
  SELECT sg.id,
         string_agg(substr(doc.text, sg.ps, sg.s - sg.ps), '' ORDER BY sg.s) AS head,
         max(sg.e) AS last_e
  FROM segs sg JOIN documents doc ON doc.doc_id = sg.id
  GROUP BY sg.id)
SELECT CAST(doc.doc_id AS BIGINT) AS id,
       CASE WHEN r.id IS NULL THEN doc.text
            ELSE r.head || substr(doc.text, r.last_e,
                                  length(doc.text) - r.last_e + 1) END
         AS text_stripped,
       CAST(length(doc.text) - length(CASE WHEN r.id IS NULL THEN doc.text
            ELSE r.head || substr(doc.text, r.last_e,
                                  length(doc.text) - r.last_e + 1) END)
            AS BIGINT) AS removed_chars
FROM documents doc LEFT JOIN recon r ON r.id = doc.doc_id"""


_LIN_FEATS = ["l_quantity", "l_discount", "l_tax"]


def q_train_linear(spark, sf_dir):
    """gblinear, TWO boosting rounds through the REAL train_linear
    (plans/linear.py — round-11 exact sequential semantics, reference
    updater_shotgun.cc:33-86): per round the bias updates FIRST
    (CoordinateDeltaBias) and propagates into every feature's gradient
    sum, then each coordinate evaluates CoordinateDelta at the
    residuals left by the coordinates before it (hessians fixed within
    a round, so the sequential pass is exactly replayable from the
    cross-product sums X^T X); penalties are DENORMALIZED by the row
    count (lambda_d = lambda * n, src/linear/param.h:59-62).  eta and
    lambda are EXPLICIT (0.5 / 1.0) so the linear-booster defaults are
    not in play.  The DuckDB oracle replays both rounds' sequential
    chain symbolically from the same sums; outputs compare at 4dp
    (cross-engine float-sum ordering perturbs the sums at ~1e-10
    relative)."""
    _prep(spark)
    from xgboost_spark.plans.linear import train_linear
    li = _table(spark, sf_dir, "lineitem")
    feats = _LIN_FEATS
    d = li.select((F.col("l_extendedprice") / 1000.0).alias("y"),
                  *[F.col(f).cast("double").alias(f) for f in feats])
    model = train_linear({"booster": "gblinear", "num_boost_round": 2,
                          "eta": 0.5, "lambda": 1.0},
                         d, feature_cols=feats, label_col="y")
    rows = ([(f, float(wv)) for f, wv in zip(feats, model.weights)]
            + [("__bias__", float(model.bias + model.base_score))])
    return (spark.createDataFrame(rows, "feature string, weight double")
            .select("feature", F.round("weight", 4).alias("weight")))


def q_dedup_components(spark, sf_dir):
    """Transitive near-dup grouping: connected components (large-star/
    small-star contraction, operators/dedup.connected_components) over
    exact word-3-gram Jaccard >= 0.5 edges.  Oracle: DuckDB recursive
    reachability + min-id — verifying the fixpoint, not just one hop."""
    _prep(spark)
    from xgboost_spark.operators.dedup import connected_components, word_shingles
    docs = _table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "text", "doc_id", 3)
    sizes = sh.groupBy("id").agg(F.count("*").alias("nsh"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (a.join(b, "shingle").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b").agg(F.count("*").alias("ninter"))
             .filter(F.col("ninter") >= 8))
    edges = (
        inter
        .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("nsh", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("nsh", "nb"), "id_b")
        .filter(F.col("ninter") / (F.col("na") + F.col("nb") - F.col("ninter")) >= 0.5)
        .select("id_a", "id_b"))
    comp = connected_components(edges)
    return comp.select(F.col("id").cast("bigint").alias("id"),
                       F.col("component").cast("bigint").alias("component"))


def q_normalize_text(spark, sf_dir):
    """Text normalization (operators/textstats.normalize_text): lower +
    punctuation strip + whitespace collapse; oracle replays the same
    regexes in DuckDB."""
    _prep(spark)
    from xgboost_spark.operators.textstats import normalize_text
    docs = _table(spark, sf_dir, "documents")
    out = normalize_text(docs, strip_punct=True)
    return out.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                      F.md5("text_norm").alias("norm_digest"),
                      F.length("text_norm").cast("bigint").alias("norm_len"))


def q_contamination(spark, sf_dir):
    """Benchmark decontamination (operators/dedup.ngram_contamination):
    per-corpus-doc word-3-gram overlap against a 'benchmark' slice
    (sources src0/src1) — the standard n-gram contamination check
    (GPT-3 appendix C style).  Benchmark side collapses to a distinct
    shingle set that Spark broadcasts; no doc-pair blowup."""
    _prep(spark)
    from xgboost_spark.operators.dedup import ngram_contamination
    docs = _table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("source").isin("src0", "src1"))
    corpus = docs.filter(~F.col("source").isin("src0", "src1"))
    out = ngram_contamination(corpus, bench, "text", "doc_id", n=3)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      F.col("n_shingles").cast("bigint").alias("n_shingles"),
                      F.col("n_overlap").cast("bigint").alias("n_overlap"),
                      F.round("contamination", 6).alias("contamination"))


def q_repetition(spark, sf_dir):
    """Gopher-style repetition filters (operators/textstats.
    repetition_stats): top / duplicate word-2-gram fractions per doc,
    aggregated per source for a compact oracle surface."""
    _prep(spark)
    from xgboost_spark.operators.textstats import repetition_stats
    docs = _par(_table(spark, sf_dir, "documents"))
    rep = repetition_stats(docs, "text", "doc_id", n=2)
    joined = rep.join(docs.select(F.col("doc_id").alias("id"), "source"), "id")
    return joined.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("sum_grams"),
        F.round(F.avg("top_gram_frac"), 6).alias("avg_top_gram_frac"),
        F.round(F.avg("dup_gram_frac"), 6).alias("avg_dup_gram_frac"))


def q_redact_pii(spark, sf_dir):
    """PII scrub (operators/textstats.redact_pii): deterministic synthetic
    emails/phones/IPs are appended to documents, then redacted with pure
    regexp expressions; oracle replays the same regexes in DuckDB."""
    _prep(spark)
    from xgboost_spark.operators.textstats import redact_pii
    docs = _table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.withColumn("text", F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.concat(F.lit(" contact user"),
                                      did.cast("string"),
                                      F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" call +1 (555) 010-7788 today")).otherwise(F.lit("")),
        F.when(did % 7 == 0, F.concat(F.lit(" from 10.0.0."),
                                      (did % 255).cast("string"))).otherwise(F.lit(""))))
    out = redact_pii(aug)
    return out.select(did.cast("bigint").alias("doc_id"),
                      F.col("n_email").cast("bigint").alias("n_email"),
                      F.col("n_phone").cast("bigint").alias("n_phone"),
                      F.col("n_ipv4").cast("bigint").alias("n_ipv4"),
                      F.md5("text_redacted").alias("red_digest"))


def q_shuffle_shards(spark, sf_dir):
    """Deterministic shard writer (operators/sampling.shuffle_shards):
    the oracle hashes each shard's FULL ordered key sequence, so both
    membership and within-shard order are verified engine-independently."""
    _prep(spark)
    from xgboost_spark.operators.sampling import shuffle_shards
    docs = _table(spark, sf_dir, "documents")
    out = shuffle_shards(docs, "doc_id", 8)
    ordered = F.array_sort(F.collect_list(
        F.concat(F.col("sort_key"), F.lit("|"), F.col("doc_id").cast("string"))))
    return (out.groupBy("shard")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.md5(F.array_join(ordered, ",")).alias("order_digest")))


def q_lang_id(spark, sf_dir):
    """Stopword-vote language ID (operators/textstats.language_id)
    — confusion counts of true lang vs predicted.  Oracle replays the
    identical vote arithmetic (generated from the same stopword lists)."""
    _prep(spark)
    from xgboost_spark.operators.textstats import language_id
    docs = _par(_table(spark, sf_dir, "documents").select("lang", "text"))
    out = language_id(docs)
    return (out.groupBy("lang", "lang_pred")
            .agg(F.count("*").cast("bigint").alias("n")))


def q_hash_split(spark, sf_dir):
    """Deterministic hash-based train/val/test split (operators/
    sampling.hash_split): md5-uniformized key, engine-independent —
    oracle recomputes the identical assignment in DuckDB."""
    _prep(spark)
    from xgboost_spark.operators.sampling import hash_split
    docs = _table(spark, sf_dir, "documents")
    out = hash_split(docs, "doc_id",
                     {"train": 0.8, "val": 0.1, "test": 0.1})
    return (out.groupBy("split")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum(F.length("text")).cast("bigint").alias("chars")))


def q_stratified_take(spark, sf_dir):
    """Deterministic exactly-n-per-stratum sample (operators/sampling.
    stratified_take): md5-ranked within stratum, WindowGroupLimit plan;
    oracle = identical row_number window in DuckDB."""
    _prep(spark)
    from xgboost_spark.operators.sampling import stratified_take
    docs = _table(spark, sf_dir, "documents")
    out = stratified_take(docs, "lang", "doc_id", 5)
    return out.select("lang", F.col("doc_id").cast("bigint").alias("doc_id"))


def q_pack_sequences(spark, sf_dir):
    """Greedy linear sequence packing to a char budget via the
    distributed prefix scan; oracle = window cumsum in DuckDB."""
    _prep(spark)
    from xgboost_spark.operators.sampling import pack_sequences
    docs = _table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("tok"))
    out = pack_sequences(docs, "doc_id", "tok", budget=8192)
    return (out.groupBy("pack_id")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("tok").cast("bigint").alias("tokens")))


def q_ordinal_encode(spark, sf_dir):
    """String-categorical ordinal encoding (sources/encoder.py, reference
    src/encoder/ordinal.h): sorted-distinct dictionary -> code.  Oracle:
    dense_rank over the same ordering."""
    _prep(spark)
    from xgboost_spark.sources.encoder import encode_col, fit_ordinal_encoder
    docs = _table(spark, sf_dir, "documents")
    mapping = fit_ordinal_encoder(docs, ["lang"])
    return docs.select(F.col("doc_id").cast("bigint").alias("doc_id"),
                       encode_col("lang", mapping["lang"]).alias("code"))


def q_train_string_cat(spark, sf_dir):
    """Partition-categorical split on a STRING feature, HASH-MATCHED
    (promoted from rows-only): ordinal-encode `lang` (sorted-distinct
    dictionary, the ordinal_encode oracle's rule; reference
    src/encoder/ordinal.h), aggregate per-category gradient sums for
    one squared-error round from base = avg(y), then run the
    reference's partition enumeration (EnumeratePart,
    src/tree/hist/evaluate_splits.h:119-192 — mirrored by
    core.py's sorted-ratio scan): sort categories by g/(h+lambda)
    (stable: ties keep ordinal order), prefix-scan that order, argmax
    over prefix splits — the sorted-prefix split is the optimal binary
    set partition.  documents has 5 langs > max_cat_to_onehot default
    4, so this is the PARTITION path, not one-hot.  The distributed
    work is the per-category gradient agg (one corpus shuffle); the
    enumeration is histogram-sized, exactly as in the real engine.
    Determinism contract: g sums rounded 4dp feed BOTH the ratio order
    and the gains, so both engines sort and score identically.  Output:
    one row per category (lang, ordinal id, g, h, final side) plus the
    winning gain / leaf weights.  (The end-to-end string-categorical
    SparkBooster path stays covered by test_categorical.py.)"""
    docs = _table(spark, sf_dir, "documents").select(
        "lang", F.length("text").cast("double").alias("y"))
    base = float(docs.agg(F.round(F.avg("y"), 6)).first()[0])
    cat = (docs.groupBy("lang")
           .agg(F.round(F.sum(F.lit(base) - F.col("y")), 4).alias("g"),
                F.count("*").cast("double").alias("h"))
           .orderBy("lang").collect())          # n_categories rows only
    lam = 1.0
    cats = [{"lang": r["lang"], "ord_id": i + 1,
             "g": float(r["g"]), "h": float(r["h"])}
            for i, r in enumerate(cat)]
    order = sorted(cats, key=lambda c: (c["g"] / (c["h"] + lam), c["ord_id"]))
    gt = sum(c["g"] for c in cats)
    ht = sum(c["h"] for c in cats)
    pgain = gt * gt / (ht + lam)
    best = None
    cg = ch = 0.0
    for pos in range(len(order) - 1):
        cg += order[pos]["g"]
        ch += order[pos]["h"]
        gr, hr = gt - cg, ht - ch
        gain = _round_half_up(
            cg * cg / (ch + lam) + gr * gr / (hr + lam) - pgain, 4)
        if best is None or gain > best["gain"]:   # strict >: first wins ties
            best = {"pos": pos + 1, "gain": gain,
                    "wl": _round_half_up(-cg / (ch + lam), 6),
                    "wr": _round_half_up(-gr / (hr + lam), 6)}
    rows = [(c["lang"], c["ord_id"], c["g"], c["h"],
             1 if pos + 1 <= best["pos"] else 0,
             best["gain"], best["wl"], best["wr"])
            for pos, c in enumerate(order)]
    return spark.createDataFrame(
        rows, "lang string, ord_id bigint, g double, h double, "
              "in_left bigint, best_gain double, w_left double, "
              "w_right double")


def q_train_multi_quantile(spark, sf_dir):
    """Multi-alpha quantile regression HASH-MATCHED: the REAL barrier
    trainer runs one round at depth 1, alphas (0.25, 0.5, 0.75) — one
    tree per output group — with the reference's logistic-smoothed
    quantile objective (quantile_obj.cu:33-75: per-iteration GLOBAL
    scale S = (mean_w sqrt|r|)^2, g = 0.5*S*(tanh(x)+1-2a),
    h = 12.5*max(tanh(x)/x, 3e-4), x = r/(0.04*S); NO adaptive leaf
    refresh — leaves are the plain Newton -G/(H+lambda)), and the REAL
    GBDTModel.transform serves the predictions through the objective's
    non-crossing PredTransform (per-row ascending sort,
    quantile_obj.cu:177-198).

    Replay strategy: cuts and base_score are pinned (rank-rule cuts via
    ``fit(cuts=)``, type-7 0.25-quantile base at 6dp), so the round's
    only engine-dependent floats are the GLOBAL sums (S, histogram
    G/H): cross-engine float-sum ordering and the tanh-vs-exp-form
    libm difference perturb the leaves by ~1e-9 relative, so the
    served predictions are compared at 4dp (leaf magnitude ~1e3 — 7
    significant digits of real check)."""
    _prep(spark)
    import numpy as np
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    li = _table(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_discount"]
    cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem", feats, 8)
    base = round(li.agg(F.percentile(F.col("l_extendedprice"),
                                     F.lit(0.25))).first()[0], 6)
    # trainer cuts: 7 interior boundaries + inf sentinel, so
    # core.bin_values' count(cuts < x) matches the SQL _bin_expr rule
    # over exactly the same 8 bins (the clamp at len-1 never fires)
    trainer_cuts = [np.array(cuts[f] + [np.inf]) for f in feats]
    m = SparkBooster(TrainParams(objective="reg:quantileerror",
                                 quantile_alpha=(0.25, 0.5, 0.75),
                                 num_boost_round=1, max_depth=1,
                                 eta=0.3, base_score=base,
                                 exec_mode="barrier", seed=3)).fit(
        li, feature_cols=feats, label_col="l_extendedprice",
        cuts=trainer_cuts)
    out = m.transform(li, feature_cols=feats)
    pred = F.col("prediction")
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data
    # (unlike TPC-H proper), so per-row serving output is keyed by
    # max/count per key — both engines aggregate identically
    return (out.filter(F.col("l_orderkey") % 50 == 0)
            .groupBy(F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
                     F.col("l_linenumber").cast("bigint")
                     .alias("l_linenumber"))
            .agg(F.round(F.max(pred.getItem(0)), 4).alias("p25"),
                 F.round(F.max(pred.getItem(1)), 4).alias("p50"),
                 F.round(F.max(pred.getItem(2)), 4).alias("p75"),
                 F.count("*").cast("bigint").alias("n_rows")))


def q_train_approx(spark, sf_dir):
    """tree_method=approx through the REAL barrier trainer HASH-MATCHED
    (round-14 cadence-audit pin, `updater_approx.cc:47-52/:95-130`):
    one round at depth 1, reg:squarederror, PINNED 31-boundary fine
    grids on (l_quantity, l_discount) via ``fit(cuts=)`` and a pinned
    6dp base_score.  The round-0 rebin is the audited reference cadence
    — squarederror is the one const-hess objective, so its single
    sketch is weighted by round-0 hessians, which are ALL-ONES here:
    the hessian histogram over fine bins is exact INTEGER row counts,
    the coarse bounds (CDF inversion targets W*k/8, searchsorted-left,
    unique+append-last — `core.approx_bounds`) are integer-
    exact, and the DuckDB oracle replays them bin for bin.  The depth-1
    split (gain desc, feature asc, bin asc) and Newton leaves
    eta*-G/(H+lambda) follow; output = per-leaf (routing count, 4dp
    leaf value) + the raw-domain split, with counts pinning the coarse
    binning EXACTLY (integers carry no float fuzz)."""
    _prep(spark)
    import numpy as np
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    li = _table(spark, sf_dir, "lineitem")
    feats = ["l_quantity", "l_discount"]
    cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem", feats, 32)
    d = li.select(*feats, (F.col("l_extendedprice") / 1000.0).alias("label"))
    base = round(d.agg(F.avg("label")).first()[0], 6)
    trainer_cuts = [np.array(cuts[f] + [np.inf]) for f in feats]
    m = SparkBooster(TrainParams(tree_method="approx", num_boost_round=1,
                                 max_depth=1, max_bin=8, eta=0.3,
                                 base_score=base, exec_mode="barrier",
                                 seed=3)).fit(
        d, feature_cols=feats, label_col="label", cuts=trainer_cuts)
    t = m.trees[0][0]
    feat_name = feats[t.feature[0]]
    split_value = float(t.split_value[0])
    arrs = t.finalize_arrays()
    leaf_w = {1: float(arrs["leaf_value"][1]), 2: float(arrs["leaf_value"][2])}
    out = m.transform(d, feature_cols=feats, pred_leaf=True)
    counts = (out.select(F.element_at("leaf", 1).cast("bigint").alias("leaf"))
              .groupBy("leaf").count().collect())       # 2 rows
    rows = [(int(r["leaf"]), int(r["count"]),
             round(leaf_w[int(r["leaf"])], 4), feat_name,
             round(split_value, 6)) for r in counts]
    return spark.createDataFrame(
        rows, "leaf bigint, n bigint, leaf_w double, feature string, "
              "split_value double")


def q_linear_one_round(spark, sf_dir):
    """gblinear, ONE round through the REAL train_linear (round-11
    exact sequential semantics; no explicit lambda, so the reference's
    LINEAR defaults apply — eta explicit 0.5, lambda 0, alpha 0,
    src/linear/param.h:30-56): bias first (base = mean(y) makes it
    ~0 but the residual still propagates), then coordinates updated
    sequentially with in-round residual propagation.  The DuckDB
    oracle replays the same chain from the cross-product sums."""
    _prep(spark)
    from xgboost_spark.plans.booster import train
    li = _table(spark, sf_dir, "lineitem")
    fcols = ["l_quantity", "l_discount", "l_tax"]
    model = train({"booster": "gblinear", "num_boost_round": 1, "eta": 0.5},
                  li, feature_cols=fcols, label_col="l_extendedprice")
    rows = ([(c, float(w)) for c, w in zip(fcols, model.weights)]
            + [("__bias__", float(model.bias + model.base_score))])
    return (spark.createDataFrame(rows, "feature string, weight double")
            .select("feature", F.round("weight", 4).alias("weight")))


def q_train_stump(spark, sf_dir):
    """TWO composed boosting rounds, end to end and hash-matched — the
    piece the kernel entries (fit_stump/split_scan/best_split/
    leaf_weights) individually prove, composed into the actual training
    loop (reference semantics src/tree/updater_quantile_hist.cc:99-148,
    gain/weight src/tree/param.h:266): depth-1 trees, reg:squarederror
    (g = pred - y, h = 1), lambda=1, eta=0.3, 4 features x 8
    exact-quantile bins, shared cuts across rounds (the reference also
    sketches once).  Per round: gradient histogram -> prefix-scan gains
    -> global argmax split (gain desc, feature asc, bin asc) -> leaf
    weights -> margin update; round 2's gradients come from round 1's
    updated predictions, which is what makes this a *boosting* oracle
    and not four independent kernels.

    Every cross-engine-fragile value is rounded at an aggregation
    boundary (hist sums 4dp, weights 6dp, pred_sum 2dp), all downstream
    arithmetic is IEEE-exact on rounded inputs, so the DuckDB oracle
    replays both rounds bit-for-bit.  All collects are driver-bounded:
    one best-split row + one scalar per round."""
    base, rounds, _ = _composed_stump_rounds(spark, sf_dir)
    out_rows = [(rnd + 1, r["feature"], r["bin"], r["gain"], r["wl"],
                 r["wr"], r["psum"]) for rnd, r in enumerate(rounds)]
    return spark.createDataFrame(
        out_rows,
        "round bigint, feature string, best_bin bigint, best_gain double, "
        "w_left double, w_right double, pred_sum double")


def _composed_stump_rounds(spark, sf_dir, n_rounds: int = 2):
    """The composed deterministic boosting loop shared by
    q_train_stump and q_train_importance: returns (base, rounds, cuts)
    with one dict per round {feature, bin, gain, wl, wr, ht, psum} —
    `ht` is the split node's total hessian (= cover, what
    feature_importance's total_cover accumulates)."""
    li = _table(spark, sf_dir, "lineitem")
    feats = _BS_FEATURES
    cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem", feats, 8)
    d = _par(li.select(
        (F.col("l_extendedprice") / 1000.0).alias("y"),
        *[_bin_expr(f, cuts[f]).alias(f"bin_{f}") for f in feats]))
    d = d.persist()
    base = d.agg(F.round(F.avg("y"), 6)).first()[0]
    pred = F.lit(float(base))
    lam = 1.0
    rounds = []
    for _rnd in range(n_rounds):
        g = pred - F.col("y")
        hist = None
        for f in feats:
            h = (d.groupBy(F.col(f"bin_{f}").alias("bin"))
                 .agg(F.round(F.sum(g), 4).alias("sum_g"),
                      F.count("*").cast("double").alias("sum_h"))
                 .withColumn("feature", F.lit(f)))
            hist = h if hist is None else hist.unionByName(h)
        wb = (Window.partitionBy("feature").orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, 0))
        wall = Window.partitionBy("feature")
        scan = (hist
                .withColumn("gl", F.sum("sum_g").over(wb))
                .withColumn("hl", F.sum("sum_h").over(wb))
                .withColumn("gt", F.sum("sum_g").over(wall))
                .withColumn("ht", F.sum("sum_h").over(wall))
                .withColumn("mx", F.max("bin").over(wall))
                .filter(F.col("bin") < F.col("mx"))
                .withColumn("gr", F.col("gt") - F.col("gl"))
                .withColumn("hr", F.col("ht") - F.col("hl"))
                .withColumn("gain",
                            F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                            + F.col("gr") * F.col("gr") / (F.col("hr") + lam)
                            - F.col("gt") * F.col("gt") / (F.col("ht") + lam)))
        best = (scan
                .select("feature", "bin", F.round("gain", 4).alias("gain"),
                        F.round(-F.col("gl") / (F.col("hl") + lam), 6).alias("wl"),
                        F.round(-F.col("gr") / (F.col("hr") + lam), 6).alias("wr"),
                        F.round("ht", 2).alias("ht"),
                        F.round("hl", 2).alias("hl"),
                        F.round("hr", 2).alias("hr"))
                .orderBy(F.col("gain").desc(), F.col("feature").asc(),
                         F.col("bin").asc())
                .limit(1).first())
        side = F.col(f"bin_{best['feature']}") <= F.lit(int(best["bin"]))
        pred = pred + F.lit(0.3) * F.when(side, F.lit(float(best["wl"]))) \
                                    .otherwise(F.lit(float(best["wr"])))
        psum = d.agg(F.round(F.sum(pred), 2)).first()[0]
        rounds.append({"feature": best["feature"], "bin": int(best["bin"]),
                       "gain": float(best["gain"]), "wl": float(best["wl"]),
                       "wr": float(best["wr"]), "ht": float(best["ht"]),
                       "hl": float(best["hl"]), "hr": float(best["hr"]),
                       "psum": float(psum)})
    d.unpersist()
    return float(base), rounds, cuts


def _composed_stump_model(spark, sf_dir):
    """The composed 2-round stump chain materialized as a REAL
    GBDTModel (real core.Tree objects with full node covers), shared by
    the promoted train_importance / train_tree_nodes / train_predict /
    train_shap oracles: every value in the model — split bins, raw
    thresholds, leaf values, per-node sum_hess — comes from the
    deterministic rounded chain, so the model's REAL serving paths
    (transform, to_nodes_df, feature_importance, TreeSHAP) become
    SQL-replayable end to end.  Returns (model, base, rounds, cuts)."""
    from xgboost_spark import core
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.model import GBDTModel
    feats = _BS_FEATURES
    base, rounds, cuts = _composed_stump_rounds(spark, sf_dir)
    trees = []
    for r in rounds:
        t = core.Tree()
        fidx = feats.index(r["feature"])
        t.expand(0, fidx, r["bin"], float(cuts[r["feature"]][r["bin"]]),
                 True, r["gain"], 0.0, 0.0, 0.0, 0.0)
        t.sum_hess[0] = r["ht"]
        t.sum_hess[1], t.sum_hess[2] = r["hl"], r["hr"]
        t.leaf_value[1], t.leaf_value[2] = 0.3 * r["wl"], 0.3 * r["wr"]
        trees.append([t])
    model = GBDTModel(TrainParams(num_boost_round=len(trees), max_depth=1),
                      base, trees, feature_names=feats)
    return model, base, rounds, cuts


def q_train_depth2(spark, sf_dir):
    """ONE boosting round growing a DEPTH-2 tree, hash-matched — the
    composed proof of the expansion driver: root split -> row
    partitioning (node routing) -> PER-NODE gradient histograms ->
    per-node argmax splits -> four leaf weights -> margin update
    (reference expansion loop src/tree/updater_quantile_hist.cc:99-148;
    train_stump proves the round-over-round chaining, this proves the
    within-tree level-over-level chaining).  Same determinism contract:
    hist sums rounded 4dp, weights 6dp, pred_sum 2dp; per-node argmax
    ties break (gain desc, feature asc, bin asc).  Output: one row per
    tree node (0=root, 1=left, 2=right) with its chosen split + the
    would-be leaf weights, plus the post-update prediction checksum."""
    li = _table(spark, sf_dir, "lineitem")
    feats = _BS_FEATURES
    cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem", feats, 8)
    d = _par(li.select(
        (F.col("l_extendedprice") / 1000.0).alias("y"),
        *[_bin_expr(f, cuts[f]).alias(f"bin_{f}") for f in feats]))
    d = d.persist()
    base = d.agg(F.round(F.avg("y"), 6)).first()[0]
    lam = 1.0
    g = F.lit(float(base)) - F.col("y")

    def scan_gains(hist, part_cols):
        wb = (Window.partitionBy(*part_cols).orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, 0))
        wall = Window.partitionBy(*part_cols)
        return (hist
                .withColumn("gl", F.sum("sum_g").over(wb))
                .withColumn("hl", F.sum("sum_h").over(wb))
                .withColumn("gt", F.sum("sum_g").over(wall))
                .withColumn("ht", F.sum("sum_h").over(wall))
                .withColumn("mx", F.max("bin").over(wall))
                .filter(F.col("bin") < F.col("mx"))
                .withColumn("gr", F.col("gt") - F.col("gl"))
                .withColumn("hr", F.col("ht") - F.col("hl"))
                .withColumn("gain",
                            F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                            + F.col("gr") * F.col("gr") / (F.col("hr") + lam)
                            - F.col("gt") * F.col("gt") / (F.col("ht") + lam))
                .withColumn("wl", F.round(-F.col("gl") / (F.col("hl") + lam), 6))
                .withColumn("wr", F.round(-F.col("gr") / (F.col("hr") + lam), 6)))

    # root split
    hist0 = None
    for f in feats:
        h = (d.groupBy(F.col(f"bin_{f}").alias("bin"))
             .agg(F.round(F.sum(g), 4).alias("sum_g"),
                  F.count("*").cast("double").alias("sum_h"))
             .withColumn("feature", F.lit(f)))
        hist0 = h if hist0 is None else hist0.unionByName(h)
    b0 = (scan_gains(hist0, ["feature"])
          .select("feature", "bin", F.round("gain", 4).alias("gain"), "wl", "wr")
          .orderBy(F.col("gain").desc(), F.col("feature").asc(), F.col("bin").asc())
          .limit(1).first())
    node = F.when(F.col(f"bin_{b0['feature']}") <= F.lit(int(b0["bin"])),
                  F.lit(1)).otherwise(F.lit(2))
    # per-node split (level 2): node column rides the SAME scan, the
    # histogram exchange is keyed (node, feature, bin) — the routing is
    # fused exactly like the real updater's row partitioning
    hist1 = None
    for f in feats:
        h = (d.groupBy(node.alias("node"), F.col(f"bin_{f}").alias("bin"))
             .agg(F.round(F.sum(g), 4).alias("sum_g"),
                  F.count("*").cast("double").alias("sum_h"))
             .withColumn("feature", F.lit(f)))
        hist1 = h if hist1 is None else hist1.unionByName(h)
    wn = Window.partitionBy("node").orderBy(
        F.col("gain").desc(), F.col("feature").asc(), F.col("bin").asc())
    b12 = {r["node"]: r for r in
           (scan_gains(hist1, ["node", "feature"])
            .select("node", "feature", "bin", F.round("gain", 4).alias("gain"),
                    "wl", "wr")
            .withColumn("rk", F.row_number().over(wn)).filter(F.col("rk") == 1)
            .collect())}
    c1, c2 = b12[1], b12[2]
    leaf = F.when(
        node == 1,
        F.when(F.col(f"bin_{c1['feature']}") <= F.lit(int(c1["bin"])),
               F.lit(float(c1["wl"]))).otherwise(F.lit(float(c1["wr"])))
    ).otherwise(
        F.when(F.col(f"bin_{c2['feature']}") <= F.lit(int(c2["bin"])),
               F.lit(float(c2["wl"]))).otherwise(F.lit(float(c2["wr"]))))
    psum = d.agg(F.round(F.sum(F.lit(float(base)) + F.lit(0.3) * leaf), 2)).first()[0]
    d.unpersist()
    rows = [(0, b0["feature"], int(b0["bin"]), float(b0["gain"]),
             float(b0["wl"]), float(b0["wr"]), float(psum))]
    for nid in (1, 2):
        c = b12[nid]
        rows.append((nid, c["feature"], int(c["bin"]), float(c["gain"]),
                     float(c["wl"]), float(c["wr"]), float(psum)))
    return spark.createDataFrame(
        rows,
        "node bigint, feature string, best_bin bigint, best_gain double, "
        "w_left double, w_right double, pred_sum double")


def q_train_logistic(spark, sf_dir):
    """TWO composed binary:logistic boosting rounds, hash-matched — the
    classification counterpart of train_stump, proving the NON-UNIT
    hessian path end to end (reference obj/regression_obj.cu logistic:
    g = sigmoid(m) - y, h = p(1-p); base_score 0.5 -> margin 0):
    per round gradient+hessian histograms -> gain scan with real H ->
    argmax split -> leaf weights -G/(H+1) -> margin update; round 2's
    sigmoid runs on round 1's margins.  exp() differs across engines
    only in final ulps, always under an aggregation rounded to 4dp, so
    the DuckDB twin replays both rounds exactly.  Output per round:
    split + leaf weights + margin checksum + train logloss (6dp)."""
    li = _table(spark, sf_dir, "lineitem")
    feats = _BS_FEATURES
    cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem", feats, 8)
    d = _par(li.select(
        (F.col("l_linenumber") % 2).cast("double").alias("y"),
        *[_bin_expr(f, cuts[f]).alias(f"bin_{f}") for f in feats]))
    d = d.persist()
    lam = 1.0
    margin = F.lit(0.0)
    out_rows = []
    for rnd in (1, 2):
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        g = p - F.col("y")
        h = p * (F.lit(1.0) - p)
        hist = None
        for f in feats:
            hh = (d.groupBy(F.col(f"bin_{f}").alias("bin"))
                  .agg(F.round(F.sum(g), 4).alias("sum_g"),
                       F.round(F.sum(h), 4).alias("sum_h"))
                  .withColumn("feature", F.lit(f)))
            hist = hh if hist is None else hist.unionByName(hh)
        wb = (Window.partitionBy("feature").orderBy("bin")
              .rowsBetween(Window.unboundedPreceding, 0))
        wall = Window.partitionBy("feature")
        scan = (hist
                .withColumn("gl", F.sum("sum_g").over(wb))
                .withColumn("hl", F.sum("sum_h").over(wb))
                .withColumn("gt", F.sum("sum_g").over(wall))
                .withColumn("ht", F.sum("sum_h").over(wall))
                .withColumn("mx", F.max("bin").over(wall))
                .filter(F.col("bin") < F.col("mx"))
                .withColumn("gr", F.col("gt") - F.col("gl"))
                .withColumn("hr", F.col("ht") - F.col("hl"))
                .withColumn("gain",
                            F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                            + F.col("gr") * F.col("gr") / (F.col("hr") + lam)
                            - F.col("gt") * F.col("gt") / (F.col("ht") + lam)))
        best = (scan
                .select("feature", "bin", F.round("gain", 4).alias("gain"),
                        F.round(-F.col("gl") / (F.col("hl") + lam), 6).alias("wl"),
                        F.round(-F.col("gr") / (F.col("hr") + lam), 6).alias("wr"))
                .orderBy(F.col("gain").desc(), F.col("feature").asc(),
                         F.col("bin").asc())
                .limit(1).first())
        side = F.col(f"bin_{best['feature']}") <= F.lit(int(best["bin"]))
        margin = margin + F.lit(0.3) * F.when(side, F.lit(float(best["wl"]))) \
                                        .otherwise(F.lit(float(best["wr"])))
        pafter = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        ll = -(F.col("y") * F.log(pafter)
               + (F.lit(1.0) - F.col("y")) * F.log(F.lit(1.0) - pafter))
        stats = d.agg(F.round(F.sum(margin), 2).alias("ms"),
                      F.round(F.avg(ll), 6).alias("ll")).first()
        out_rows.append((rnd, best["feature"], int(best["bin"]),
                         float(best["gain"]), float(best["wl"]),
                         float(best["wr"]), float(stats["ms"]),
                         float(stats["ll"])))
    d.unpersist()
    return spark.createDataFrame(
        out_rows,
        "round bigint, feature string, best_bin bigint, best_gain double, "
        "w_left double, w_right double, margin_sum double, logloss double")


def q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (operators/bpe.bpe_train, Sennrich 2016):
    4 merges learned from the documents word vocabulary.  The whole
    iteration runs on the vocabulary (corpus-size independent after one
    word-count shuffle); merges + counts replay exactly in SQL via the
    two-space-joined symbol strings and non-overlapping replace."""
    from xgboost_spark.operators.bpe import bpe_train
    docs = _table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=4)
    rows = [(i + 1, a, b, m, n) for i, (a, b, m, n) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "step bigint, a string, b string, merged string, n bigint")


def q_bpe_tokens(spark, sf_dir):
    """Per-document BPE token counts after the 4 learned merges
    (operators/bpe.bpe_token_counts): corpus words broadcast-join the
    vocabulary's word -> n_tokens map — one corpus scan regardless of
    merge count."""
    from xgboost_spark.operators.bpe import bpe_token_counts, bpe_train
    docs = _table(spark, sf_dir, "documents")
    merges = bpe_train(docs, n_merges=4)
    out = bpe_token_counts(docs, merges)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      F.col("n_words").cast("bigint").alias("n_words"),
                      F.col("n_tokens").cast("bigint").alias("n_tokens"))


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog cardinality estimate over events.event_id
    (operators/cardsketch.hll_estimate, Flajolet 2007): md5-derived
    registers, one HashAggregate, sketch-sized result.  Unlike the
    engine-private approx_count_distinct, every register and the final
    estimate arithmetic replay bit-for-bit in the DuckDB oracle."""
    from xgboost_spark.operators.cardsketch import hll_estimate
    ev = _par(_table(spark, sf_dir, "events"))
    return hll_estimate(ev, "event_id", p=10)


def q_cms_topk(spark, sf_dir):
    """Count-Min frequency sketch (operators/cardsketch, Cormode 2005):
    build depth=4 x width=256 md5-salted counters over event_type, then
    point-query the exact top event types — est is the classic CMS
    upper bound (est >= true, equality when no collision).  Counters
    and probes replay exactly in SQL."""
    from xgboost_spark.operators.cardsketch import cms_estimate
    ev = _par(_table(spark, sf_dir, "events"))
    items = (ev.groupBy("event_type").agg(F.count("*").alias("cnt"))
             .orderBy(F.col("cnt").desc(), F.col("event_type").asc())
             .limit(10)
             .select(F.col("event_type").alias("item"),
                     F.col("cnt").cast("bigint").alias("cnt")))
    est = cms_estimate(ev, items, "event_type")
    return (est.join(items, "item")
            .select("item", F.col("est").cast("bigint").alias("est"), "cnt"))


def q_min_acctbal_supplier(spark, sf_dir):
    """TPC-H Q2-shaped correlated-min: for each part shipped within
    EUROPE, the supplier(s) holding the MINIMUM account balance among
    its suppliers — the aggregation-subquery-rejoin plan Q2 uses (the
    reduced schema has no partsupp, so the part-supplier relation comes
    from lineitem DISTINCT pairs).  Dims broadcast; one shuffle on the
    distinct pair build; the min table is partkey-sized."""
    _prep(spark)
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    r = _table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = _table(spark, sf_dir, "lineitem")
    sup = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    pairs = (li.select("l_partkey", "l_suppkey").distinct()
             .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey))
    mins = pairs.groupBy("l_partkey").agg(F.min("s_acctbal").alias("min_bal"))
    best = (pairs.join(mins, "l_partkey")
            .filter(F.col("s_acctbal") == F.col("min_bal")))
    return (best
            .orderBy(F.col("l_partkey").asc(), F.col("s_suppkey").asc())
            .limit(50)
            .select(F.col("l_partkey").cast("bigint").alias("p_partkey"),
                    F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
                    "s_name", "n_name",
                    F.round("s_acctbal", 2).alias("s_acctbal")))


def q_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21-shaped double-correlation: suppliers whose lines were
    the ONLY slow ones (shipped >60 days after the order date) in a
    finished multi-supplier order — a LEFT SEMI (another supplier
    exists in the order) plus a LEFT ANTI (no OTHER supplier was slow)
    on the same distinct pair set, the hardest of the TPC-H join
    shapes.  Both probe sides are |orders|-bounded distinct pairs."""
    _prep(spark)
    o = _table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _table(spark, sf_dir, "lineitem")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    slow = (j.filter(F.col("l_shipdate")
                     > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .select("l_orderkey", "l_suppkey").distinct())
    allsup = (li.join(o.select("o_orderkey"),
                      li.l_orderkey == F.col("o_orderkey"))
              .select("l_orderkey", "l_suppkey").distinct())
    a, o2, s2 = slow.alias("a"), allsup.alias("o2"), slow.alias("s2")
    multi = a.join(o2, (F.col("a.l_orderkey") == F.col("o2.l_orderkey"))
                   & (F.col("a.l_suppkey") != F.col("o2.l_suppkey")),
                   "leftsemi")
    only = multi.join(s2, (F.col("a.l_orderkey") == F.col("s2.l_orderkey"))
                      & (F.col("a.l_suppkey") != F.col("s2.l_suppkey")),
                      "leftanti")
    sup = _table(spark, sf_dir, "supplier")
    # order/limit on the UNIQUE supplier key as the final tie-break so
    # the top-10 cut is deterministic even if names ever collide
    return (only.groupBy("l_suppkey")
            .agg(F.count("*").cast("bigint").alias("numwait"))
            .join(F.broadcast(sup), F.col("l_suppkey") == sup.s_suppkey)
            .orderBy(F.col("numwait").desc(), F.col("s_name").asc(),
                     F.col("s_suppkey").asc())
            .limit(10)
            .select("s_name", "numwait"))


def q_supplier_part_counts(spark, sf_dir):
    """TPC-H Q16-shaped: distinct supplier count per (brand, size) for
    larger parts, EXCLUDING suppliers from a NOT-IN subquery (negative
    account balance stands in for the complaints predicate).  The
    exclusion list is broadcast for a LEFT ANTI join; the count rides
    one distinct + one agg."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    p = _table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    bad = (_table(spark, sf_dir, "supplier")
           .filter(F.col("s_acctbal") < 0).select("s_suppkey"))
    pairs = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
             .select("p_brand", "p_size", "l_suppkey").distinct()
             .join(F.broadcast(bad), F.col("l_suppkey") == bad.s_suppkey,
                   "leftanti"))
    # pairs is already distinct on exactly this grain, so a plain count
    # equals count-distinct without a second distinct-aggregate pass
    return (pairs.groupBy("p_brand", "p_size")
            .agg(F.count("*").cast("bigint").alias("supplier_cnt"))
            .select("p_brand", F.col("p_size").cast("bigint").alias("p_size"),
                    "supplier_cnt"))


def q_top_supplier(spark, sf_dir):
    """TPC-H Q15-shaped argmax-by-view: quarterly revenue per supplier,
    return the supplier(s) achieving the MAXIMUM (ties kept, like the
    reference view+max formulation).  Revenue rounded 2dp BEFORE the
    max comparison so the argmax is engine-exact."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-07-01") & (F.col("l_shipdate") < "1997-10-01"))
    rev = (li.groupBy("l_suppkey")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2)
                .alias("total_revenue")))
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = _table(spark, sf_dir, "supplier")
    return (rev.join(F.broadcast(mx), rev.total_revenue == F.col("mx"))
            .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .select(F.col("s_suppkey").cast("bigint"), "s_name",
                    "total_revenue"))


def q_embedding_cov(spark, sf_dir):
    """Distributed covariance of the first 8 embedding dimensions
    (operators/linalg.gram_moments: per-batch X^T X partials, one
    corpus scan, d+d^2 doubles to the driver).  Output: the upper
    triangle (i <= j) rounded 6dp; the DuckDB oracle computes the same
    (sum_ij - s_i s_j / n) / (n-1) formula from plain aggregates."""
    from xgboost_spark.operators.linalg import covariance
    emb = _par(_table(spark, sf_dir, "embeddings")).select(
        F.slice(F.col("embedding").cast("array<double>"), 1, 8)
        .alias("embedding"))
    cov = covariance(emb, "embedding")
    rows = [(i + 1, j + 1, float(cov[i, j]))
            for i in range(8) for j in range(i, 8)]
    # round ENGINE-side: F.round is HALF_UP like DuckDB's round, while
    # python round() is banker's — a half-ulp value would hash-mismatch
    return (spark.createDataFrame(rows, "i bigint, j bigint, cov double")
            .select("i", "j", F.round("cov", 6).alias("cov")))


def q_bloom_contains(spark, sf_dir):
    """Bloom-filter decontamination probe (operators/cardsketch
    bloom_bits/bloom_probe): build an md5 Bloom filter over the
    benchmark sources' words, probe every other word — no false
    negatives, bounded false positives, bit set broadcast so the
    corpus side never shuffles.  Fully SQL-replayable."""
    from xgboost_spark.operators.cardsketch import bloom_bits, bloom_probe
    docs = _par(_table(spark, sf_dir, "documents"))
    words = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("word")) \
        .filter(F.length("word") > 0)
    bench = (words.filter(F.col("source").isin("src0", "src1"))
             .select("word").distinct())
    corpus = (words.filter(~F.col("source").isin("src0", "src1"))
              .select("word").distinct())
    bits = bloom_bits(bench, "word")
    out = bloom_probe(corpus, bits, "word")
    member = bench.withColumn("is_member", F.lit(True))
    return (out.join(member, "word", "left")
            .select("word", "maybe_present",
                    F.coalesce(F.col("is_member"), F.lit(False))
                    .alias("is_member")))


def q_train_softmax(spark, sf_dir):
    """TWO composed multi:softmax boosting rounds (3 classes, one
    depth-1 tree per class per round), hash-matched — completes the
    composed-training family (squared/depth-2/logistic/dart): per
    round, ALL classes' gradients come from the round-START margins
    (reference multiclass semantics, obj/multiclass_obj.cu: g = p_k -
    1[y=k], h = 2 p_k (1 - p_k)), then each class commits its own
    split and margin update.  Round 2's softmax runs on round 1's
    margins.  Same determinism contract as train_logistic."""
    li = _table(spark, sf_dir, "lineitem")
    feats = _BS_FEATURES
    cuts = _exact_cuts_parallel(spark, sf_dir, "lineitem", feats, 8)
    d = _par(li.select(
        (F.col("l_linenumber") % 3).cast("double").alias("y3"),
        *[_bin_expr(f, cuts[f]).alias(f"bin_{f}") for f in feats]))
    d = d.persist()
    lam = 1.0
    margins = [F.lit(0.0), F.lit(0.0), F.lit(0.0)]
    out_rows = []
    for rnd in (1, 2):
        mx = F.greatest(*margins)
        es = [F.exp(m - mx) for m in margins]
        z = es[0] + es[1] + es[2]
        new_margins = list(margins)

        def _class_best(k):
            """One class's hist/scan/argmax chain.  All three classes'
            gradients come from the ROUND-START margins (reference
            multiclass semantics), so within a round the three
            driver-blocking argmax actions are independent — they run
            from a small thread pool (optimization guide §2.6) like the
            exact-cut chains; the values are unchanged, only the idle
            driver wait between actions is overlapped."""
            p = es[k] / z
            g = p - (F.col("y3") == k).cast("double")
            h = F.lit(2.0) * p * (F.lit(1.0) - p)
            hist = None
            for f in feats:
                hh = (d.groupBy(F.col(f"bin_{f}").alias("bin"))
                      .agg(F.round(F.sum(g), 4).alias("sum_g"),
                           F.round(F.sum(h), 4).alias("sum_h"))
                      .withColumn("feature", F.lit(f)))
                hist = hh if hist is None else hist.unionByName(hh)
            wb = (Window.partitionBy("feature").orderBy("bin")
                  .rowsBetween(Window.unboundedPreceding, 0))
            wall = Window.partitionBy("feature")
            scan = (hist
                    .withColumn("gl", F.sum("sum_g").over(wb))
                    .withColumn("hl", F.sum("sum_h").over(wb))
                    .withColumn("gt", F.sum("sum_g").over(wall))
                    .withColumn("ht", F.sum("sum_h").over(wall))
                    .withColumn("mx", F.max("bin").over(wall))
                    .filter(F.col("bin") < F.col("mx"))
                    .withColumn("gr", F.col("gt") - F.col("gl"))
                    .withColumn("hr", F.col("ht") - F.col("hl"))
                    .withColumn("gain",
                                F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                                + F.col("gr") * F.col("gr") / (F.col("hr") + lam)
                                - F.col("gt") * F.col("gt") / (F.col("ht") + lam)))
            return (scan
                    .select("feature", "bin", F.round("gain", 4).alias("gain"),
                            F.round(-F.col("gl") / (F.col("hl") + lam), 6)
                            .alias("wl"),
                            F.round(-F.col("gr") / (F.col("hr") + lam), 6)
                            .alias("wr"))
                    .orderBy(F.col("gain").desc(), F.col("feature").asc(),
                             F.col("bin").asc())
                    .limit(1).first())

        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=3) as _pool:
            bests = list(_pool.map(_class_best, range(3)))
        for k in range(3):
            best = bests[k]
            side = F.col(f"bin_{best['feature']}") <= F.lit(int(best["bin"]))
            new_margins[k] = margins[k] + F.lit(0.3) * \
                F.when(side, F.lit(float(best["wl"]))) \
                 .otherwise(F.lit(float(best["wr"])))
        margins = new_margins
        msums = d.agg(*[F.round(F.sum(margins[k]), 2).alias(f"ms{k}")
                        for k in range(3)]).first()
        for k in range(3):
            b = bests[k]
            out_rows.append((rnd, k, b["feature"], int(b["bin"]),
                             float(b["gain"]), float(b["wl"]),
                             float(b["wr"]), float(msums[f"ms{k}"])))
    d.unpersist()
    return spark.createDataFrame(
        out_rows,
        "round bigint, class bigint, feature string, best_bin bigint, "
        "best_gain double, w_left double, w_right double, margin_sum double")


def q_train_dart(spark, sf_dir):
    """DART HASH-MATCHED (promoted from rows-only): a 3-round chain
    with rate_drop=1.0 leaves NO RNG in the drop mask — every round
    drops ALL prior trees (gbtree.h:89-123 DropTrees), so each round's
    gradients see the bare base margin (every round grows the SAME
    stump) while the tree weights follow the closed-form
    normalize_type=tree evolution w_new = 1/(k+lr), dropped *=
    k/(k+lr).  The entry (a) runs the REAL DART trainer and emits ITS
    tree weights (the oracle re-derives the closed form, extending the
    dart_weights check), and (b) serves per-row predictions through
    the REAL GBDTModel.transform DART path — three copies of the
    composed rounded stump, weighted by the real trainer's weights,
    accumulated base + w1*L + w2*L + w3*L in serving order
    (core.apply_model_margin) — which the DuckDB oracle replays from
    the b1 CTE in the same addition order."""
    _prep(spark)
    from xgboost_spark import core
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import train
    from xgboost_spark.plans.model import GBDTModel
    li = _table(spark, sf_dir, "lineitem")
    rt = train({"booster": "dart", "rate_drop": 1.0, "skip_drop": 0.0,
                "normalize_type": "tree", "num_boost_round": 3,
                "max_depth": 1, "eta": 0.3, "seed": 7},
               li, feature_cols=_BS_FEATURES, label_col="l_extendedprice")
    wts = [float(w) for w in rt.tree_weights]
    feats = _BS_FEATURES
    base, rounds, cuts = _composed_stump_rounds(spark, sf_dir, n_rounds=1)
    r = rounds[0]
    trees = []
    for _ in range(3):
        t = core.Tree()
        fidx = feats.index(r["feature"])
        t.expand(0, fidx, r["bin"], float(cuts[r["feature"]][r["bin"]]),
                 True, r["gain"], 0.0, 0.0, 0.0, 0.0)
        t.sum_hess[0] = r["ht"]
        t.sum_hess[1], t.sum_hess[2] = r["hl"], r["hr"]
        t.leaf_value[1], t.leaf_value[2] = 0.3 * r["wl"], 0.3 * r["wr"]
        trees.append([t])
    model = GBDTModel(TrainParams(booster="dart", num_boost_round=3,
                                  max_depth=1),
                      base, trees, feature_names=feats, tree_weights=wts)
    out = model.transform(li, feature_cols=feats)
    return (out.filter(F.col("l_orderkey") % 50 == 0)
            .select(F.col("l_orderkey").cast("bigint"),
                    F.col("l_linenumber").cast("bigint"),
                    F.round("prediction", 6).alias("prediction"),
                    F.round(F.lit(wts[0]), 6).alias("w_tree1"),
                    F.round(F.lit(wts[1]), 6).alias("w_tree2"),
                    F.round(F.lit(wts[2]), 6).alias("w_tree3")))


def q_dart_weights(spark, sf_dir):
    """DART normalization chain, oracle-checked through the REAL dart
    trainer: rate_drop=1.0 drops every previous tree each round
    unconditionally (no RNG left in the mask), so the tree-weight
    evolution is the deterministic closed form of the reference's
    normalize_type=tree rule (w_new = 1/(k+lr), dropped *= k/(k+lr),
    gbtree.h DropTrees/CommitModel) — the DuckDB oracle derives the
    same weights arithmetically, promoting DART from rows-only
    (train_dart, seeded drops) to a hash-matched entry."""
    _prep(spark)
    from xgboost_spark.plans.booster import train
    li = _table(spark, sf_dir, "lineitem")
    model = train({"booster": "dart", "rate_drop": 1.0, "skip_drop": 0.0,
                   "normalize_type": "tree", "num_boost_round": 5,
                   "max_depth": 2, "eta": 0.3, "seed": 7},
                  li, feature_cols=["l_quantity", "l_discount", "l_tax"],
                  label_col="l_extendedprice")
    rows = [(i + 1, round(float(w), 6)) for i, w in enumerate(model.tree_weights)]
    return spark.createDataFrame(rows, "tree bigint, tree_weight double")


def q_train_shap(spark, sf_dir):
    """Exact TreeSHAP HASH-MATCHED (promoted from rows-only): the REAL
    pred_contribs path — broadcast model + its compiled root-to-leaf
    paths, evaluated by the path-decomposed TreeSHAP kernel
    (`functions/shap.py path_shap`, reference
    `src/predictor/interpretability/shap.cc:101` semantics) — over the
    composed stump model.  On a depth-1 tree exact TreeSHAP is closed
    form: phi_split = leaf(x) - E[leaf] with E the cover-weighted leaf
    mean (hl*lv_L + hr*lv_R)/ht, all other features 0, bias = base +
    sum of per-tree E — which the DuckDB oracle computes directly from
    the b1/b2 CTEs, so the SHAP kernel's output values (not just its
    sum-to-margin identity) are cross-engine checked."""
    _prep(spark)
    model, _base, _rounds, _cuts = _composed_stump_model(spark, sf_dir)
    li = _table(spark, sf_dir, "lineitem")
    out = model.transform(li, feature_cols=_BS_FEATURES, pred_contribs=True)
    return (out.filter(F.col("l_orderkey") % 50 == 0)
            .select(F.col("l_orderkey").cast("bigint"),
                    F.col("l_linenumber").cast("bigint"),
                    *[F.round(F.element_at("contribs", i + 1), 4)
                      .alias(f"contrib_{c}")
                      for i, c in enumerate(_BS_FEATURES)],
                    F.round(F.element_at("contribs", len(_BS_FEATURES) + 1), 4)
                    .alias("bias")))


def q_metric_aucpr(spark, sf_dir):
    """Binary PR-AUC (reference `src/metric/auc.cc:202-223` BinaryPRAUC):
    descending score sweep + the reference's EXACT interpolated segment
    area (detail::CalcDeltaPRAUC log form — round-12 fix; the oracle
    replays the identical closed form per score group)."""
    _prep(spark)
    from xgboost_spark.functions.metrics import aucpr_binary
    emb = _table(spark, sf_dir, "embeddings")
    d = emb.select(((F.col("label") % 2) == 1).cast("double").alias("y"),
                   F.element_at("embedding", 1).cast("double").alias("m0"))
    v = aucpr_binary(d, y="y", score="m0")
    return spark.createDataFrame([(round(v, 6),)], "aucpr double")


def q_cox_grad(spark, sf_dir):
    """Cox partial-likelihood gradients via the distributed Breslow pass
    (groupBy time + prefix scans + join; reference regression_obj.cu:598)."""
    _prep(spark)
    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster
    ev = _table(spark, sf_dir, "events")
    t = F.col("value") + (F.col("event_id") % 1000) * 1e-6
    delta = (F.col("event_id") % 3) != 0
    d = ev.select(
        (F.col("event_id") % 8).cast("bigint").alias("b"),
        F.when(delta, t).otherwise(-t).cast("double").alias("y"),
        F.lit(1.0).alias("w"),
        (0.1 * (F.col("event_id") % 5)).cast("double").alias("m0"))
    booster = SparkBooster(TrainParams(objective="survival:cox"))
    out = booster._cox_grad_pass(
        d, "b bigint, y double, w double, m0 double, g0 double, h0 double", None)
    return (out.groupBy("b")
            .agg(F.round(F.sum("g0"), 4).alias("sum_g"),
                 F.round(F.sum("h0"), 4).alias("sum_h"),
                 F.count("*").cast("bigint").alias("n")))


def q_aft_grad(spark, sf_dir):
    """AFT (logistic dist) gradients through the production kernel
    (reference aft_obj.cu:148) over mixed censoring classes."""
    _prep(spark)
    import numpy as np
    import pandas as pd
    from xgboost_spark.functions.objectives import AFT
    li = _table(spark, sf_dir, "lineitem")
    ct = (F.col("l_linenumber") % 4).cast("bigint")
    yl = F.col("l_quantity").cast("double")
    yu = (F.when(ct == 0, F.lit(float("inf")))
          .when(ct == 1, yl * 1.5)
          .otherwise(yl))
    d = li.select(ct.alias("ct"), yl.alias("yl"), yu.alias("yu"),
                  (F.col("l_discount") * 2.0).cast("double").alias("m"))
    obj = AFT("logistic", 1.0)

    def fn(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            g, h = obj.grad_hess_bounds(
                pdf["yl"].to_numpy(dtype=np.float64),
                pdf["yu"].to_numpy(dtype=np.float64),
                pdf["m"].to_numpy(dtype=np.float64), None)
            yield pd.DataFrame({"ct": pdf["ct"], "g": g, "h": h})

    out = d.mapInPandas(fn, schema="ct bigint, g double, h double")
    return (out.groupBy("ct")
            .agg(F.round(F.sum("g"), 4).alias("sum_g"),
                 F.round(F.sum("h"), 4).alias("sum_h"),
                 F.count("*").cast("bigint").alias("n")))


def q_prefix_scan(spark, sf_dir):
    """Distributed running total (operators/scan.py) — the scale-safe
    form of a global SUM() OVER (ORDER BY) window."""
    _prep(spark)
    from xgboost_spark.operators.scan import prefix_sums
    o = _table(spark, sf_dir, "orders").select(
        "o_orderkey", F.round("o_totalprice", 2).alias("v"))
    out = prefix_sums(o, "o_orderkey", ["v"])
    return out.select(F.col("o_orderkey").cast("bigint"),
                      F.round("cum_v", 2).alias("running_total"))


_STREAM_SEQ = [0]


def q_stream_window(spark, sf_dir):
    """Structured Streaming: watermarked 1h-tumbling-window aggregation
    over the events stream (file source, availableNow trigger, memory
    sink), returned as a batch DataFrame.  The oracle is the identical
    windowed GROUP BY in plain SQL — streaming and batch agree on
    bounded input."""
    _prep(spark)
    import tempfile
    path = f"{sf_dir}/events.parquet"
    # the file-stream source requires a DIRECTORY; expose the single
    # parquet file through a symlink dir (testdata itself is read-only)
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(path, link)
    sch = spark.read.parquet(path).schema
    src = spark.readStream.schema(sch).parquet(stream_dir)
    # normalize ts to TIMESTAMP whether the footer decoded it as bigint
    # nanos or TIMESTAMP_NTZ (sources/tables.ensure_event_time)
    from xgboost_spark.sources.tables import ensure_event_time
    src = ensure_event_time(src, "ts")
    agg = (src.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
           .agg(F.count("*").cast("bigint").alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value")))
    _STREAM_SEQ[0] += 1
    name = f"stream_window_{_STREAM_SEQ[0]}"
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .select(F.unix_micros(F.col("w.start").cast("timestamp")).alias("w_start"),
                    "event_type", "n", "sum_value"))


def q_stream_distinct(spark, sf_dir):
    """Streaming windowed DISTINCT-count via mergeable HLL registers
    (operators/cardsketch.hll_register_exprs): the streaming agg keeps
    max(rho) per (1h window, bucket) — state is bounded at windows x
    2^p rows no matter the stream volume, which is the whole reason
    sketches exist in streaming — and the batch finish computes the
    HLL estimate per window.  The DuckDB oracle replays registers AND
    estimate exactly (the registers are md5-derived, not engine-
    private), alongside the exact distinct count for reference."""
    _prep(spark)
    import tempfile
    from xgboost_spark.operators.cardsketch import hll_register_exprs
    from xgboost_spark.sources.tables import ensure_event_time
    p = 8
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sch = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = ensure_event_time(spark.readStream.schema(sch).parquet(stream_dir),
                            "ts")
    # mirror the batch hll_registers NULL-key contract (and the oracle's
    # WHERE user_id IS NOT NULL): a NULL key must not mint a register
    src = src.filter(F.col("user_id").isNotNull())
    bucket, rho = hll_register_exprs(F.col("user_id"), p)
    regs = (src.withWatermark("ts", "1 hour")
            .select("ts", bucket.alias("bucket"), rho.alias("rho"))
            .groupBy(F.window("ts", "1 hour").alias("w"), "bucket")
            .agg(F.max("rho").alias("register")))
    _STREAM_SEQ[0] += 1
    name = f"stream_distinct_{_STREAM_SEQ[0]}"
    q = (regs.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    agg = (spark.table(name)
           .groupBy(F.col("w.start").cast("timestamp").alias("ws"))
           .agg(F.count("*").cast("bigint").alias("n_used"),
                F.sum(F.pow(F.lit(2.0), -F.col("register"))).alias("s_used")))
    est = F.lit(alpha * m * m) / (F.col("s_used")
                                  + (F.lit(m) - F.col("n_used")))
    zeros = F.lit(m) - F.col("n_used")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double"))
    final = F.when(F.col("n_used") == 0, F.lit(0.0)) \
             .when((est <= 2.5 * m) & (zeros > 0), linear).otherwise(est)
    return agg.select(F.unix_micros("ws").alias("w_start"), "n_used",
                      F.round(final, 4).alias("estimate"))


def q_shipping_priority(spark, sf_dir):
    """TPC-H-Q3-style 3-table join: broadcast the filtered customer dim,
    shuffle-join orders x lineitem on the order key, top-10 revenue.
    Filters sit directly on the scans (parquet pushdown)."""
    cu = _table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp"))
    li = _table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp"))
    j = (li.join(o, li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(cu), o.o_custkey == cu.c_custkey))
    return (j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
            .limit(10)
            .select(F.col("l_orderkey").cast("bigint"),
                    F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                    .alias("o_odate"),
                    "o_orderpriority", "revenue"))


def q_stream_sessions(spark, sf_dir):
    """Stateful streaming sessionization (applyInPandasWithState with
    per-key open-session state + event-time timeout) driven to
    completion over the bounded events stream.  Deterministic closure
    rule on bounded input (oracle-checked): a session emits iff a later
    same-user event breaks the 30-min gap, OR the final watermark
    (max ts - 1 h, ms precision) STRICTLY passes its end + gap (Spark
    fires EventTimeTimeout only when timeoutTimestamp < watermark), in
    which case the no-data micro-batch fires the event-time timeout."""
    _prep(spark)
    import tempfile
    from xgboost_spark.streaming.stateful import (
        run_update_to_memory, stateful_sessionize)
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sch = spark.read.parquet(link).schema
    src = spark.readStream.schema(sch).parquet(stream_dir)
    from xgboost_spark.sources.tables import ensure_event_time
    src = ensure_event_time(src, "ts")
    sess = stateful_sessionize(src, gap_minutes=30, watermark="1 hour")
    _STREAM_SEQ[0] += 1
    name = f"stream_sessions_{_STREAM_SEQ[0]}"
    run_update_to_memory(sess, name)
    return (spark.table(name).groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_closed"),
                 F.sum("n_events").cast("bigint").alias("n_events")))


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (streaming/scoring.streaming_dedup:
    dropDuplicates on content digest within the watermark horizon)
    driven over the bounded events stream; only the deterministic
    distinct keys are returned (which physical row survives is
    arrival-order dependent).  Oracle: batch DISTINCT."""
    _prep(spark)
    import tempfile
    from xgboost_spark.sources.tables import ensure_event_time
    from xgboost_spark.streaming.scoring import streaming_dedup
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sch = spark.read.parquet(link).schema
    src = spark.readStream.schema(sch).parquet(stream_dir)
    src = ensure_event_time(src, "ts")
    # unbounded horizon => exact distinct on bounded input
    ded = streaming_dedup(src, text_col="event_type", ts_col="ts",
                          watermark="87600 hours")
    _STREAM_SEQ[0] += 1
    name = f"stream_dedup_{_STREAM_SEQ[0]}"
    q = (ded.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select("event_type").distinct()


def q_knn_lsh(spark, sf_dir):
    """ANN scale path: hyperplane sign-LSH buckets, exact rerank of
    candidates only.  Planes are md5-derived (`similarity.hash_planes`)
    so the DuckDB oracle regenerates the identical planes and replays
    the bucketing + rerank exactly; recall vs brute force is separately
    asserted in tests/test_pipeline_ops.py."""
    from xgboost_spark.operators.similarity import cosine_topk_lsh
    emb = _table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_lsh(emb, q, k=5, plane_source="hash")
    return out.select(F.col("query_id").cast("bigint"), F.col("nbr_id").cast("bigint"),
                      F.round("cos", 6).alias("cos"), F.col("rank").cast("bigint"))


def q_knn_ivf(spark, sf_dir):
    """IVF ANN with a REFINED quantizer, HASH-MATCHED (promoted from
    rows-only): md5(vec_id)-seeded centroids + ONE Lloyd step with the
    per-dimension means rounded 6dp INSIDE the aggregation
    (`mean_round=6`, the kmeans_iter machinery — every refined centroid
    is an engine-independent function of the data), then the
    distributed probe path: array_sort expression picks the 3 nearest
    lists per query, candidates equi-join on list_id, rank on the 6dp-
    rounded cosine.  The DuckDB oracle replays seeds, the Lloyd step,
    re-assignment, probe lists, and the final top-k bit-for-bit —
    unlike `knn_ivf0` (zero iterations) this pins the REFINED-centroid
    search path end to end."""
    from xgboost_spark.operators.similarity import cosine_topk_ivf
    emb = _par(_table(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf(emb, q, k=5, n_centroids=8, n_probe=3,
                          iters=1, seed_by="id", mean_round=6,
                          broadcast_queries=False, rank_round=6)
    return out.select(F.col("query_id").cast("bigint"),
                      F.col("nbr_id").cast("bigint"),
                      F.col("cos"),
                      F.col("rank").cast("bigint"))


def q_chunk_docs(spark, sf_dir):
    """Overlapping word-window chunking (operators/textstats.
    chunk_documents): the context-window pre-tokenization step of an LLM
    data pipeline.  Shuffle-free (explode fuses into the scan); the
    oracle replays slice arithmetic with DuckDB list slicing."""
    _prep(spark)
    from xgboost_spark.operators.textstats import chunk_documents
    docs = _table(spark, sf_dir, "documents")
    out = chunk_documents(docs, chunk_words=32, overlap=8)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      F.col("chunk_id").cast("bigint").alias("chunk_id"),
                      F.md5("chunk_text").alias("chunk_digest"),
                      F.col("chunk_n_words").cast("bigint").alias("chunk_n_words"))


def q_tfidf(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (operators/textstats.
    tfidf_top_terms): two hash aggs + vocabulary equi-join + windowed
    top-k.  idf rounded to 9 dp before the tf multiply, so scores are
    exact IEEE products in both engines; ties broken by term asc."""
    _prep(spark)
    from xgboost_spark.operators.textstats import tfidf_top_terms
    docs = _table(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=3)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      "term",
                      F.col("tf").cast("bigint").alias("tf"),
                      F.col("df").cast("bigint").alias("df"),
                      F.round("score", 6).alias("score"),
                      F.col("rank").cast("bigint").alias("rank"))


def q_revenue_forecast(spark, sf_dir):
    """TPC-H Q6-shaped forecast-revenue-change query: tight range
    predicates + a single agg.  All three predicates reach the parquet
    scan as PushedFilters (asserted in tests/test_plan_audit.py), so at
    100 TB this reads only row groups whose min/max stats overlap
    1996 x the discount band."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    return (li.filter((F.col("l_shipdate") >= "1996-01-01")
                      & (F.col("l_shipdate") < "1997-01-01")
                      & (F.col("l_discount") >= 0.05)
                      & (F.col("l_discount") <= 0.07)
                      & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2)
                 .alias("revenue"),
                 F.count("*").cast("bigint").alias("n_rows")))


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped multi-way star join: region -> nation -> customer
    -> orders -> lineitem -> supplier with the customer-nation =
    supplier-nation colocation condition, grouped by nation.  Tiny dims
    (region/nation) broadcast explicitly; customer and supplier join
    declaratively — at bench SF AQE turns them into broadcasts, at 100 TB
    they fall back to shuffle hash joins on their equi-keys, which is the
    right plan (customer is ~1/10 of lineitem — never broadcastable).
    The fact-fact shuffle is orders |><| lineitem on orderkey only."""
    _prep(spark)
    region = _table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _table(spark, sf_dir, "nation")
    cust = _table(spark, sf_dir, "customer")
    sup = _table(spark, sf_dir, "supplier")
    orders = _table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    li = _table(spark, sf_dir, "lineitem")
    dim = (cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
               .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey))
    j = (orders.join(li, orders.o_orderkey == li.l_orderkey)
         .join(dim, orders.o_custkey == dim.c_custkey)
         .join(sup, (li.l_suppkey == sup.s_suppkey)
               & (sup.s_nationkey == dim.c_nationkey)))
    return (j.groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").cast("bigint").alias("n_rows"))
            .orderBy(F.col("revenue").desc()))


def q_melt_measures(spark, sf_dir):
    """Wide -> long unpivot (DataFrame.unpivot / SQL stack): the inverse
    of pivot, one Expand node — each input row fans out to one row per
    measure with no shuffle; the per-measure agg then map-side combines."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    long = li.unpivot("l_orderkey",
                      ["l_quantity", "l_discount", "l_tax"],
                      "measure", "val")
    return (long.groupBy("measure")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum("val"), 2).alias("sum_val"),
                 F.round(F.min("val"), 6).alias("min_val"),
                 F.round(F.max("val"), 6).alias("max_val")))


def q_time_rollup(spark, sf_dir):
    """Multi-granularity time rollup (hour + day + grand total) in ONE
    pass via ROLLUP grouping sets — the hypertable/continuous-aggregate
    pattern.  Spark expands grouping sets inside a single shuffle
    (Expand + one hash agg), no per-granularity rescans."""
    _prep(spark)
    ev = _table(spark, sf_dir, "events")
    d = (ev.withColumn("day", F.date_trunc("day", F.col("ts")))
           .withColumn("hour", F.date_trunc("hour", F.col("ts"))))
    out = (d.rollup("day", "hour")
           .agg(F.count("*").cast("bigint").alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value")))
    return out.select(
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
        F.unix_micros(F.col("hour").cast("timestamp")).alias("hour_us"),
        "n", "sum_value")


def q_pivot_events(spark, sf_dir):
    """Per-user event-type pivot (long -> wide feature columns).  The
    pivot values are enumerated explicitly, so the plan is one hash
    aggregation with map-side partials — no second pass to discover
    distinct keys."""
    _prep(spark)
    ev = _table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = (ev.groupBy("user_id").pivot("event_type", kinds).count().na.fill(0))
    return out.select(F.col("user_id").cast("bigint").alias("user_id"),
                      *[F.col(k).cast("bigint").alias(f"n_{k}") for k in kinds])


def q_group_quantiles(spark, sf_dir):
    """Exact per-group quantiles (p25/p50/p75 of l_extendedprice per
    return flag) via rank arithmetic inside a partitioned window — the
    same type-1 quantile definition the adaptive-leaf objectives use
    per leaf, here exposed as a relational query.  One shuffle on the
    group key; no global window."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
    d = (li.select("l_returnflag", "l_extendedprice")
         .withColumn("rn", F.row_number().over(w))
         .withColumn("n", F.count("*").over(Window.partitionBy("l_returnflag"))))
    outs = []
    for name, k in (("p25", 1), ("p50", 2), ("p75", 3)):
        outs.append(F.min(F.when(
            F.col("rn") == F.ceil(k * F.col("n") / 4).cast("bigint"),
            F.col("l_extendedprice"))).alias(name))
    return (d.groupBy("l_returnflag")
            .agg(F.count("*").cast("bigint").alias("n"), *outs))


def q_vocab(spark, sf_dir):
    """Corpus vocabulary: top-50 lowercased whitespace tokens with
    counts and document frequency — the tokenizer-training precursor.
    One explode + two key-prefixed hash aggs; ties broken by term asc
    so the cutoff is deterministic in any engine."""
    _prep(spark)
    docs = _table(spark, sf_dir, "documents")
    toks = F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    t = (docs.select(F.col("doc_id").alias("id"), toks.alias("term"))
         .filter(F.length("term") > 0))
    agg = t.groupBy("term").agg(F.count("*").alias("tf"),
                                F.countDistinct("id").alias("df"))
    # orderBy+limit compiles to TakeOrderedAndProject: per-partition
    # partial top-50 merged on the driver — a 10^8-term vocabulary never
    # sorts in one task.  Ranks attach after the limit (50 rows).
    top = agg.orderBy(F.col("tf").desc(), F.col("term").asc()).limit(50)
    w = Window.orderBy(F.col("tf").desc(), F.col("term").asc())
    return (top.withColumn("rank", F.row_number().over(w))
            .select("term", F.col("tf").cast("bigint").alias("tf"),
                    F.col("df").cast("bigint").alias("df"),
                    F.col("rank").cast("bigint").alias("rank")))


def q_returned_items(spark, sf_dir):
    """TPC-H Q10-shaped returned-item report: revenue lost to returns
    per customer+nation, top 20.  Fact-fact shuffle on orderkey; the
    customer/nation dims join declaratively (AQE broadcast at bench SF,
    shuffle hash at 100 TB)."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    orders = _table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01"))
    cust = _table(spark, sf_dir, "customer")
    nation = _table(spark, sf_dir, "nation")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey)
         .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey))
    return (j.groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
            .limit(20)
            .select(F.col("c_custkey").cast("bigint"), "c_name", "n_name",
                    F.round("c_acctbal", 2).alias("c_acctbal"), "revenue"))


def q_priority_lines(spark, sf_dir):
    """TPC-H Q12-shaped order-priority split per line status: one
    shuffle join + conditional aggregation."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    orders = _table(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return (j.groupBy("l_linestatus")
            .agg(F.sum(hi.cast("long")).cast("bigint").alias("high_line_count"),
                 F.sum((~hi).cast("long")).cast("bigint").alias("low_line_count")))


def q_funnel(spark, sf_dir):
    """Ordered funnel conversion (view -> click -> purchase): per user,
    each later stage must happen strictly AFTER the user's first
    occurrence of the previous stage.  One groupBy(user) with
    conditional min aggregates — no joins, no windows; the classic
    product-analytics query."""
    _prep(spark)
    ev = _table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    per_user = (ev.groupBy("user_id")
                .agg(F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
                     F.collect_list(F.when(F.col("event_type") == "click", us)).alias("clicks"),
                     F.collect_list(F.when(F.col("event_type") == "purchase", us)).alias("purchases")))
    t_click = F.array_min(F.filter("clicks", lambda c: c > F.col("t_view")))
    d = (per_user.withColumn("t_click", t_click)
         .withColumn("t_buy", F.array_min(
             F.filter("purchases", lambda p: p > F.col("t_click")))))
    return d.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(F.col("t_view").isNotNull().cast("long")).cast("bigint").alias("n_view"),
        F.sum(F.col("t_click").isNotNull().cast("long")).cast("bigint").alias("n_view_click"),
        F.sum(F.col("t_buy").isNotNull().cast("long")).cast("bigint").alias("n_full_funnel"))


def q_retention(spark, sf_dir):
    """Cohort retention matrix: users grouped by first-activity week,
    counted as retained in each later week they appear.  Two
    aggregations + an equi-join back on user_id — both sides are already
    hash-partitioned on the join key, so the exchange is reused; the
    (user, cohort) side is user-count sized, which at 10^9 users is NOT
    broadcastable, so no broadcast hint (AQE may still choose one at
    small SF)."""
    _prep(spark)
    ev = _table(spark, sf_dir, "events")
    wk = F.floor(F.unix_micros(F.col("ts")) / F.lit(604_800_000_000)).cast("bigint")
    d = ev.select("user_id", wk.alias("wk"))
    first = d.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    j = d.join(first, "user_id")
    return (j.groupBy("cohort", (F.col("wk") - F.col("cohort")).alias("week_offset"))
            .agg(F.countDistinct("user_id").cast("bigint").alias("n_active")))


def q_json_extract(spark, sf_dir):
    """Semi-structured extraction: pull ``k`` out of the events JSON
    ``props`` column (get_json_object — Jackson-backed, fuses into the
    scan) and aggregate per event type.  SURVEY §2.8 notes the reference
    has no JSON functions; Spark's built-ins cover the need."""
    _prep(spark)
    ev = _table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (ev.withColumn("k", k)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("k").cast("bigint").alias("sum_k"),
                 F.sum((F.col("k") > 50).cast("long")).cast("bigint").alias("n_gt50"),
                 F.min("k").cast("bigint").alias("min_k"),
                 F.max("k").cast("bigint").alias("max_k")))


def q_zorder(spark, sf_dir):
    """Z-order clustering key (operators/relational.zorder_key) over
    (l_partkey, l_suppkey) at 8 bits/dim with pinned ranges; verified by
    per-zkey-bucket counts.  Oracle replays the normalize+interleave
    arithmetic bit by bit."""
    _prep(spark)
    from xgboost_spark.operators.relational import zorder_key
    li = _table(spark, sf_dir, "lineitem")
    out = zorder_key(li, ["l_partkey", "l_suppkey"], bits=8,
                     ranges={"l_partkey": (0.0, 20000.0),
                             "l_suppkey": (0.0, 1000.0)})
    return (out.groupBy((F.col("zkey") / 256).cast("bigint").alias("zbucket"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("zkey").cast("bigint").alias("sum_zkey")))


def q_profile_columns(spark, sf_dir):
    """One-scan data-quality profile (operators/features.
    profile_columns): per-column n / null_frac / min / max / mean /
    stddev for the training-matrix audit."""
    _prep(spark)
    from xgboost_spark.operators.features import profile_columns
    li = _table(spark, sf_dir, "lineitem")
    out = profile_columns(li, ["l_quantity", "l_discount", "l_extendedprice"])
    return out.select("column",
                      F.col("n").cast("bigint").alias("n"),
                      F.round("null_frac", 6).alias("null_frac"),
                      F.round("min", 6).alias("min"),
                      F.round("max", 6).alias("max"),
                      F.round("mean", 6).alias("mean"),
                      F.round("stddev", 6).alias("stddev"))


def q_salted_join(spark, sf_dir):
    """Skew-proof salted equi-join (operators/relational.salted_join):
    orders x customer salted 8 ways; result equals the plain join —
    which IS the oracle."""
    _prep(spark)
    from xgboost_spark.operators.relational import salted_join
    orders = _table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                                    "o_totalprice")
    cust = _table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    j = salted_join(orders, cust, "o_custkey", salt_factor=8)
    return (j.groupBy("c_mktsegment")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_price")))


def q_train_stream(spark, sf_dir):
    """Incremental streaming training (streaming/training.
    StreamingTrainer): two lineitem micro-batches, continuation adds
    rounds each batch with cuts frozen from batch one.  Rows-only (ML
    end-to-end)."""
    _prep(spark)
    import tempfile
    from xgboost_spark.config import TrainParams
    from xgboost_spark.streaming.training import StreamingTrainer
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    d = os.path.join(tempfile.gettempdir(), f"xgbspark_trstream{sf_tag}")
    marker = os.path.join(d, "_BOTH_BATCHES_DONE")
    if not os.path.exists(marker):
        # a crashed previous attempt leaves a partial dir: rebuild it
        import shutil
        shutil.rmtree(d, ignore_errors=True)
        li0 = _table(spark, sf_dir, "lineitem").select(
            "l_quantity", "l_discount", "l_tax", "l_extendedprice", "l_orderkey")
        li0.filter(F.col("l_orderkey") % 2 == 0).coalesce(1).write.parquet(d)
        li0.filter(F.col("l_orderkey") % 2 == 1).coalesce(1) \
           .write.mode("append").parquet(d)
        open(marker, "w").close()
    sch = spark.read.parquet(d).schema
    stream = (spark.readStream.schema(sch)
              .option("maxFilesPerTrigger", 1).parquet(d))
    ckpt = tempfile.mkdtemp(prefix="xgbspark_trstream_ckpt_")
    st = StreamingTrainer(TrainParams(max_depth=3, max_bin=32, seed=7),
                          rounds_per_batch=2, checkpoint_dir=ckpt,
                          feature_cols=["l_quantity", "l_discount", "l_tax"],
                          label_col="l_extendedprice")
    st.start(stream).awaitTermination()
    m = st.model
    # in-row invariants (r9-verdict hardening): the incrementally-grown
    # model must actually FIT — its RMSE over both batches beats the
    # intercept-only RMSE — and the continuation really added
    # rounds_per_batch trees per micro-batch
    full = spark.read.parquet(d)
    err = (m.transform(full, feature_cols=["l_quantity", "l_discount",
                                           "l_tax"])
           .agg(F.sqrt(F.avg(F.pow(F.col("prediction")
                                   - F.col("l_extendedprice"), 2)))
                .alias("rmse_final"),
                F.sqrt(F.avg(F.pow(F.lit(float(m.base_score))
                                   - F.col("l_extendedprice"), 2)))
                .alias("rmse_base"))).first()
    # frozen-cuts invariant (round-12 hardening): the final model's
    # quantile cuts must be BYTE-IDENTICAL to the batch-0 checkpoint
    # model's cuts — continuation froze batch-one cuts (QuantileDMatrix
    # ref= semantics) instead of re-sketching the accumulated stream —
    # and the final model must carry MORE trees than the batch-0 save.
    # (Comparing against the per-batch checkpoint is exact: an
    # approx_cuts recomputation would be partitioning-sensitive.)
    import numpy as _np
    from xgboost_spark.plans.model import GBDTModel as _GM
    m0 = _GM.load(os.path.join(ckpt, "model_b0.json"))

    def _cuts_eq(a, b):
        return (a is not None and b is not None and len(a) == len(b)
                and all(_np.array_equal(_np.asarray(x), _np.asarray(y))
                        for x, y in zip(a, b)))

    inv_frozen = bool(_cuts_eq(m.cuts, m0.cuts)
                      and len(m.trees) > len(m0.trees))
    return spark.createDataFrame(
        [(st.batches_trained, len(m.trees),
          sum(t.n_nodes for rnd in m.trees for t in rnd) > 0,
          round(float(err["rmse_base"]), 3),
          round(float(err["rmse_final"]), 3),
          bool(err["rmse_final"] < err["rmse_base"]),
          st.batches_trained == 2 and len(m.trees) == 4,
          inv_frozen)],
        "n_batches int, n_rounds int, has_nodes boolean, "
        "rmse_base double, rmse_final double, "
        "inv_loss_improved boolean, inv_batches_rounds boolean, "
        "inv_cuts_frozen boolean")


def q_feature_drift(spark, sf_dir):
    """PSI feature-drift monitor (operators/features.
    population_stability): early vs late shipping windows of
    l_extendedprice over exact decile edges of the full column (exact
    ranks so both engines bin identically).  Each side is one scan +
    one 10-row aggregation."""
    _prep(spark)
    from xgboost_spark.operators.features import population_stability
    cuts = _exact_cut_values(spark, sf_dir, "lineitem", "l_extendedprice", 8)
    li = _table(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_shipdate") < "1998-01-01")
    cur = li.filter(F.col("l_shipdate") >= "1998-01-01")
    out = population_stability(ref, cur, "l_extendedprice", cuts=cuts)
    return out.select(F.col("bin").cast("bigint").alias("bin"),
                      F.round("ref_frac", 6).alias("ref_frac"),
                      F.round("cur_frac", 6).alias("cur_frac"),
                      F.round("psi_term", 9).alias("psi_term"))


def q_rolling_window(spark, sf_dir):
    """Per-user trailing-1h rolling aggregates (operators/features.
    rolling_agg): RANGE-framed window over epoch seconds — frame
    membership is order-independent, so the result is engine-exact.
    One shuffle on user_id; no global window."""
    _prep(spark)
    from xgboost_spark.operators.features import rolling_agg
    ev = _table(spark, sf_dir, "events")
    out = rolling_agg(ev, "user_id", "ts", "value", 3600)
    return out.select(F.col("event_id").cast("bigint").alias("event_id"),
                      F.round("value_roll_sum", 6).alias("roll_sum"),
                      F.round("value_roll_avg", 6).alias("roll_avg"),
                      F.col("value_roll_count").cast("bigint").alias("roll_count"))


def q_lag_features(spark, sf_dir):
    """Per-user lag-1/lag-2 value features (operators/features.
    lag_features) with a total order (ts, event_id) so both engines
    shift identically."""
    _prep(spark)
    from xgboost_spark.operators.features import lag_features
    ev = _table(spark, sf_dir, "events")
    out = lag_features(ev, "user_id", "ts", "value", lags=(1, 2),
                       tiebreak_col="event_id")
    return out.select(F.col("event_id").cast("bigint").alias("event_id"),
                      F.round("value_lag_1", 6).alias("lag1"),
                      F.round("value_lag_2", 6).alias("lag2"))


def q_target_encode(spark, sf_dir):
    """Smoothed mean target encoding (operators/features.target_encode,
    empirical-Bayes shrinkage toward the global mean).  The category
    stats table broadcasts; verified per category."""
    _prep(spark)
    from xgboost_spark.operators.features import target_encode
    li = _table(spark, sf_dir, "lineitem")
    out = target_encode(li, "l_returnflag", "l_extendedprice", smoothing=10.0)
    return (out.groupBy("l_returnflag")
            .agg(F.round(F.min("l_returnflag_te"), 4).alias("te"),
                 F.count("*").cast("bigint").alias("n")))


def q_sample_mix(spark, sf_dir):
    """Deterministic per-source downsampling (operators/sampling.
    sample_by_rates): the corpus-mixing step.  Oracle replays the
    md5-uniformization and per-stratum thresholds."""
    _prep(spark)
    from xgboost_spark.operators.sampling import sample_by_rates
    docs = _table(spark, sf_dir, "documents")
    out = sample_by_rates(docs, {"src0": 1.0, "src1": 0.25, "src2": 0.5},
                          key_col="doc_id", strat_col="source",
                          default_rate=0.1)
    return (out.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_kept"),
                 F.min("doc_id").cast("bigint").alias("min_id"),
                 F.md5(F.array_join(F.array_sort(F.collect_list(
                     F.col("doc_id").cast("string"))), ",")).alias("ids_digest")))


def q_replicate_mix(spark, sf_dir):
    """Deterministic per-source upweighting (operators/sampling.
    replicate_by_rates): floor/ceil copies so the expected multiplier is
    the exact rate; fractional copies keyed by the same md5 hash as
    sample_by_rates.  Oracle replays the copy-count arithmetic."""
    _prep(spark)
    from xgboost_spark.operators.sampling import replicate_by_rates
    docs = _table(spark, sf_dir, "documents")
    out = replicate_by_rates(docs, {"src0": 2.0, "src1": 1.5},
                             key_col="doc_id", strat_col="source",
                             default_rate=1.0)
    return (out.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
                 F.sum("copy").cast("bigint").alias("sum_copy")))


def q_stream_join(spark, sf_dir):
    """Stream-stream inner join (view -> purchase attribution within 1
    hour per user): the canonical two-stream correlation.  Inner joins
    need no watermark for correctness — each matching pair is emitted
    exactly once from the symmetric state store — so on bounded input
    the availableNow run equals the batch self-join, which is the
    oracle.  (Production deployments add watermarks purely to bound
    state retention.)  The pair stream lands in a memory sink; the
    final count aggregation runs batch over the sink."""
    _prep(spark)
    import tempfile
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sch = spark.read.parquet(link).schema
    from xgboost_spark.sources.tables import ensure_event_time

    def side(etype, pref):
        s = ensure_event_time(spark.readStream.schema(sch).parquet(stream_dir), "ts")
        return (s.filter(F.col("event_type") == etype)
                .select(F.col("event_id").alias(f"{pref}_id"),
                        F.col("user_id").alias(f"{pref}_user"),
                        F.unix_micros(F.col("ts")).alias(f"{pref}_us")))

    v, p = side("view", "v"), side("purchase", "p")
    pairs = v.join(p, (F.col("v_user") == F.col("p_user"))
                   & (F.col("p_us") >= F.col("v_us"))
                   & (F.col("p_us") - F.col("v_us") < 3_600_000_000))
    _STREAM_SEQ[0] += 1
    name = f"stream_join_{_STREAM_SEQ[0]}"
    q = (pairs.writeStream.outputMode("append").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.table(name)
            .agg(F.count("*").cast("bigint").alias("n_attributed"),
                 F.countDistinct("v_user").cast("bigint").alias("n_users"),
                 F.countDistinct("p_id").cast("bigint").alias("n_purchases")))


def q_bigram_ppl(spark, sf_dir):
    """Char-bigram LM perplexity quality filter (operators/textstats.
    bigram_logprob_score — CCNet-style scoring with the LM trained on
    the corpus itself).  The model side is character-vocabulary sized
    and broadcasts; ppl is exp() of the 9-dp-rounded avg_nll so both
    engines exponentiate the identical double."""
    _prep(spark)
    from xgboost_spark.operators.textstats import bigram_logprob_score
    docs = _table(spark, sf_dir, "documents")
    out = bigram_logprob_score(docs)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
                      F.round("avg_nll", 6).alias("avg_nll"),
                      F.round(F.exp(F.round("avg_nll", 9)), 6).alias("ppl"))


def q_stream_enrich(spark, sf_dir):
    """Stream-static enrichment join: the events stream joined to the
    static customer dimension (broadcast — the canonical streaming
    enrichment plan; the static side is re-scannable per micro-batch),
    aggregated per market segment.  On bounded input the availableNow
    run equals the batch join — which is exactly the oracle.  Contract:
    the static side must fit a broadcast; a dimension too large for
    that moves to a keyed state store (applyInPandasWithState) or a
    per-batch shuffle join via foreachBatch."""
    _prep(spark)
    import tempfile
    sf_tag = sf_dir.rstrip("/").replace("/", "_")
    stream_dir = os.path.join(tempfile.gettempdir(), f"xgbspark_stream{sf_tag}")
    os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/events.parquet", link)
    sch = spark.read.parquet(link).schema
    src = spark.readStream.schema(sch).parquet(stream_dir)
    cust = _table(spark, sf_dir, "customer")
    j = src.join(F.broadcast(cust), src.user_id == cust.c_custkey)
    agg = (j.groupBy("c_mktsegment")
           .agg(F.count("*").cast("bigint").alias("n"),
                F.round(F.sum("value"), 2).alias("sum_value")))
    _STREAM_SEQ[0] += 1
    name = f"stream_enrich_{_STREAM_SEQ[0]}"
    q = (agg.writeStream.outputMode("complete").format("memory")
         .queryName(name).trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select("c_mktsegment", "n", "sum_value")


# ---------------------------------------------------------------------------
# round-3 pipeline operators
# ---------------------------------------------------------------------------

def q_segment_dedup(spark, sf_dir):
    """Sub-document exact dedup at 10-word-segment granularity
    (operators/dedup.segment_dedup — the scalable stand-in for
    suffix-array substring dedup).  One shuffle on the segment string."""
    from xgboost_spark.operators.dedup import segment_dedup
    docs = _par(_table(spark, sf_dir, "documents"))
    out = segment_dedup(docs, id_col="doc_id", text_col="text", seg_words=10)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      "n_segs", "n_owned", "dup_frac")


def q_gopher_rules(spark, sf_dir):
    """Gopher hard quality gate (operators/textstats.gopher_rules)
    summarized per source: how many documents each published rejection
    rule passes, and the overall keep count.  Rule evaluation is pure
    map-side column expressions; one tiny agg shuffle on source."""
    from xgboost_spark.operators.textstats import gopher_rules
    docs = _par(_table(spark, sf_dir, "documents"))
    d = gopher_rules(docs)
    cnt = lambda c: F.sum(F.col(c).cast("long")).cast("bigint").alias(c)  # noqa: E731
    return (d.groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 cnt("r_word_count"), cnt("r_mean_word_len"),
                 cnt("r_hash_ratio"), cnt("r_ellipsis_ratio"),
                 cnt("r_alpha_words"), cnt("r_stop_hits"),
                 F.sum(F.col("keep").cast("long")).cast("bigint").alias("n_keep"),
                 F.round(F.avg("mean_word_len"), 6).alias("avg_mean_word_len")))


def q_reservoir_group(spark, sf_dir):
    """Deterministic reservoir sample: exactly 4 lineitem rows per
    (returnflag, linestatus) stratum, chosen by md5 priority
    (operators/sampling.reservoir_per_group).  Output bounded by
    k x |groups| at any input scale."""
    from xgboost_spark.operators.sampling import reservoir_per_group
    li = _table(spark, sf_dir, "lineitem")
    out = reservoir_per_group(li, ["l_returnflag", "l_linestatus"],
                              ["l_orderkey", "l_linenumber"], k=4)
    return out.select("l_returnflag", "l_linestatus",
                      F.col("l_orderkey").cast("bigint").alias("l_orderkey"),
                      F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
                      "rsv_rank")


def q_scalar_quantize(spark, sf_dir):
    """Int8 scalar quantization of the embedding column
    (operators/similarity.scalar_quantize): per-dimension ranges from
    one scalar agg, codes + reconstruction MSE as map-side expressions.
    Output: per-vector code checksum + MSE (engine-exact doubles)."""
    from xgboost_spark.operators.similarity import scalar_quantize
    emb = _par(_table(spark, sf_dir, "embeddings"))
    out = scalar_quantize(emb, vec_col="embedding", id_col="vec_id", bits=8)
    return out.select(
        F.col("id").cast("bigint").alias("id"),
        F.aggregate("codes", F.lit(0), lambda a, c: a + c)
        .cast("bigint").alias("sum_code"),
        F.round("mse", 10).alias("mse"))


def q_knn_ivf0(spark, sf_dir):
    """IVF ANN with an engine-replayable quantizer: seeds chosen by
    md5(vec_id), zero Lloyd iterations, distributed probe-list
    assignment (no driver hop), equi-join on list_id.  Unlike `knn_ivf`
    (refined centroids, rows-only), every step here is a deterministic
    SQL-expressible function — the DuckDB oracle regenerates seeds,
    assignment, probe lists, and the final top-k bit-for-bit."""
    from xgboost_spark.operators.similarity import cosine_topk_ivf
    emb = _par(_table(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    q = emb.filter(F.col("vec_id") < 5)
    out = cosine_topk_ivf(emb, q, k=5, n_centroids=8, n_probe=3,
                          iters=0, seed_by="id", broadcast_queries=False,
                          rank_round=6)
    return out.select(F.col("query_id").cast("bigint"),
                      F.col("nbr_id").cast("bigint"),
                      F.col("cos"),
                      F.col("rank").cast("bigint"))


def q_pq_topk(spark, sf_dir):
    """Product-quantization ADC top-5 (operators/similarity.pq_train/
    pq_topk): 8 subspaces x 16 codes, corpus scanned as codes only,
    per-query distance tables broadcast.  Deterministic md5-seeded
    codebooks -> the DuckDB oracle replays codebooks, codes, and ADC
    distances exactly."""
    from xgboost_spark.operators.similarity import pq_topk, pq_train
    emb = _par(_table(spark, sf_dir, "embeddings"))
    cents = pq_train(emb, m=8, k=16)
    q = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(emb, q, cents, topk=5)
    return out.select(F.col("query_id").cast("bigint"),
                      F.col("nbr_id").cast("bigint"),
                      F.round("adc_d2", 8).alias("adc_d2"),
                      F.col("rank").cast("bigint"))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup (operators/similarity.
    semantic_dedup): IVF-cluster the embeddings, link within-cluster
    pairs with cosine >= 0.5, collapse components to min-id
    representatives.  Deterministic quantizer -> fully oracle-checked
    (recursive-CTE component oracle)."""
    from xgboost_spark.operators.similarity import semantic_dedup
    emb = _par(_table(spark, sf_dir, "embeddings"))
    # max_pair_bucket=None: EXACT within-cluster pairs — required for
    # the recursive-CTE oracle; the public default is bounded (4096)
    out = semantic_dedup(emb, n_clusters=8, threshold=0.5,
                         max_pair_bucket=None)
    return out.select(F.col("id").cast("bigint").alias("id"),
                      F.col("rep_id").cast("bigint").alias("rep_id"))


def q_kmeans_iter(spark, sf_dir):
    """Distributed k-means, ONE hash-matched Lloyd iteration — the
    engine's document-clustering primitive (also the IVF / SemDeDup
    coarse quantizer, operators/similarity.ivf_build): md5(vec_id)-
    seeded centroids, nearest-centroid assignment (squared L2, ties ->
    lowest list_id), per-dimension cluster means rounded 6dp INSIDE the
    aggregation (the engine-replayable boundary, `mean_round=6`), then
    re-assignment against the refined centroids.  Output: per-cluster
    population after the step + the first 4 refined centroid
    coordinates.  The DuckDB oracle regenerates seeds, both
    assignments, and the Lloyd means exactly.  Scale shape: one shuffle
    per Lloyd step (groupBy(cluster, dim) of the exploded train set,
    partial-aggregated map-side); assignment is a broadcast-centroid
    expression — the corpus never moves through the driver."""
    from xgboost_spark.operators.similarity import ivf_build
    emb = _par(_table(spark, sf_dir, "embeddings")).withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    assigned, cents = ivf_build(emb, n_centroids=8, iters=1,
                                seed_by="id", mean_round=6)
    counts = assigned.groupBy("list_id").agg(
        F.count("*").cast("bigint").alias("n"))
    cdf = spark.createDataFrame(
        [(l,) + tuple(float(cents[l, i]) for i in range(4))
         for l in range(8)],
        "list_id int, c1 double, c2 double, c3 double, c4 double")
    return (counts.join(F.broadcast(cdf), "list_id")
            .select(F.col("list_id").cast("bigint").alias("list_id"), "n",
                    F.round("c1", 6).alias("c1"),
                    F.round("c2", 6).alias("c2"),
                    F.round("c3", 6).alias("c3"),
                    F.round("c4", 6).alias("c4")))


def q_similarity_join(spark, sf_dir):
    """Exact set-similarity self-join with COMPLETE recall (AllPairs /
    PPJoin prefix filtering, operators/dedup.similarity_join): every
    document pair with word-5-gram Jaccard >= 0.5 — the full-recall
    complement of minhash_bands (which trades recall for candidate
    count), at the same shingle granularity real dedup pipelines use.
    Shingle df ordering exposes only each doc's rarest
    ``|d| - ceil(t|d|) + 1`` shingles to the candidate equi-join, so
    the join is skew-resistant at corpus scale (a tiny-vocabulary
    corpus with NO rare shingles degrades candidate pruning — that is
    the algorithm's documented data dependence, and why the shingle
    order is 5, not 2: 5-gram sets are near-unique even on this
    synthetic 30-word-vocabulary corpus); candidates are then verified
    with an exact intersection count.  The DuckDB oracle
    replays df ranks, prefixes, the length filter, and the
    verification arithmetic exactly (integer counts; the only float —
    jaccard — is a ratio of small ints, identical in both engines)."""
    _prep(spark)
    from xgboost_spark.operators.dedup import similarity_join
    docs = _table(spark, sf_dir, "documents")
    # pipeline ENTRY POINT: the candidate-volume guard opts in here
    # (the library default is None to keep plan construction lazy —
    # round-8 advice); this callable executes the join immediately, so
    # the sampled pre-flight is the cheap insurance it was built for
    out = similarity_join(docs, threshold=0.5, shingle_n=5,
                          max_candidate_pairs=200_000_000)
    return out.select(F.col("id_a").cast("bigint").alias("id_a"),
                      F.col("id_b").cast("bigint").alias("id_b"),
                      F.col("n_a").cast("bigint").alias("n_a"),
                      F.col("n_b").cast("bigint").alias("n_b"),
                      F.col("n_inter").cast("bigint").alias("n_inter"),
                      F.round("jaccard", 6).alias("jaccard"))


def q_quantile_stump(spark, sf_dir):
    """Vector-alpha quantile regression, ONE composed round,
    hash-matched — the reference's logistic-SMOOTHED quantile score
    with MM curvature (quantile_obj.cu:33-75 doc + :155-174 kernel;
    this reference has NO adaptive-leaf refresh — no UpdateTreeLeaf
    anywhere in src/): alphas (0.25, 0.75), depth-1 on 8
    exact-quantile l_quantity bins, y = l_extendedprice.

    Replay strategy: tanh is written as the SAME clamped exp form in
    both engines (DuckDB has no tanh; cross-libm exp differs by <= 1
    ulp), the per-row statistics are NORMALIZED to O(1) magnitude
    (g/S in [-alpha, 1-alpha], h in [0, 12.5]) and rounded 6dp BEFORE
    the histogram sums — identical multisets on both sides, ulp
    differences absorbed — then every downstream quantity (hist 4dp,
    gain with the S factor re-applied, Newton leaf
    eta * -G/(H+lambda) 6dp) is IEEE arithmetic on identical doubles:
    - base = type-7 0.25-quantile of y, 6dp (constant round-1 margin);
    - S = (sum sqrt|base - y| / n)^2 rounded 6dp — the objective's
      automatic global residual scale (one GlobalSum in the reference);
    - x = (base - y)/(0.04*S); gn_k = 0.5*(tanh(x) + 1 - 2*alpha_k);
      h = 12.5*max(tanh(x)/x, 3e-4)  (ratio = 1 at x = 0)."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    cuts = _exact_cut_values(spark, sf_dir, "lineitem", "l_quantity", 8)
    alphas = (0.25, 0.75)
    eta, lam = 0.3, 1.0
    base = round(li.agg(F.percentile(F.col("l_extendedprice"),
                                     F.lit(0.25))).first()[0], 6)
    d0 = _par(li.select(F.col("l_extendedprice").alias("y"),
                        _bin_expr("l_quantity", cuts).alias("bin")))
    S = round(float(d0.agg(
        (F.sum(F.sqrt(F.abs(F.lit(base) - F.col("y")))) / F.count("*"))
        .alias("s")).first()["s"]) ** 2, 6)
    x = (F.lit(base) - F.col("y")) / F.lit(0.04 * S)
    e2x = F.exp(F.lit(2.0) * x)
    tanh_x = (F.when(x > 20.0, 1.0).when(x < -20.0, -1.0)
              .otherwise((e2x - 1.0) / (e2x + 1.0)))
    ratio = F.when(x == 0.0, 1.0).otherwise(tanh_x / x)
    d = d0.withColumn(
        "h", F.round(F.lit(12.5) * F.greatest(ratio, F.lit(3.0e-4)), 6))
    for k, al in enumerate(alphas):
        d = d.withColumn(f"gn{k}", F.round(
            F.lit(0.5) * (tanh_x + F.lit(1.0 - 2.0 * al)), 6))
    d = d.persist()
    rows = []
    try:
        for k, al in enumerate(alphas):
            hist = (d.groupBy("bin")
                    .agg(F.round(F.sum(f"gn{k}"), 4).alias("Gn"),
                         F.round(F.sum("h"), 4).alias("H"),
                         F.count("*").cast("bigint").alias("n")))
            wb = Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, 0)
            wt = Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
            sS = F.lit(float(S))
            scan = (hist.withColumn("gl", sS * F.sum("Gn").over(wb))
                    .withColumn("hl", F.sum("H").over(wb))
                    .withColumn("nl", F.sum("n").over(wb))
                    .withColumn("gt", sS * F.sum("Gn").over(wt))
                    .withColumn("ht", F.sum("H").over(wt))
                    .withColumn("nt", F.sum("n").over(wt))
                    .withColumn("mx", F.max("bin").over(wt))
                    .filter(F.col("bin") < F.col("mx"))
                    .withColumn("gain", F.round(
                        F.col("gl") * F.col("gl") / (F.col("hl") + lam)
                        + (F.col("gt") - F.col("gl"))
                        * (F.col("gt") - F.col("gl"))
                        / (F.col("ht") - F.col("hl") + lam)
                        - F.col("gt") * F.col("gt")
                        / (F.col("ht") + lam), 4)))
            best = (scan.orderBy(F.col("gain").desc(), F.col("bin").asc())
                    .limit(1).collect()[0])
            leaf_l = round(eta * (-best["gl"] / (best["hl"] + lam)), 6)
            leaf_r = round(eta * (-(best["gt"] - best["gl"])
                                  / (best["ht"] - best["hl"] + lam)), 6)
            rows.append((k, al, int(best["bin"]), float(best["gain"]),
                         float(leaf_l), float(leaf_r),
                         int(best["nl"]), int(best["nt"] - best["nl"])))
    finally:
        d.unpersist()
    return spark.createDataFrame(
        rows,
        "grp bigint, alpha double, best_bin bigint, best_gain double, "
        "leaf_l double, leaf_r double, n_l bigint, n_r bigint")


def q_order_priority_check(spark, sf_dir):
    """TPC-H Q4-shaped EXISTS semi-join: orders in one quarter that have
    at least one line shipped after the order date, counted per
    priority.  LEFT SEMI join — the probe side never duplicates order
    rows, so the agg input stays |orders|-bounded at any scale; the
    quarter filter is a parquet PushedFilter on the orders scan."""
    _prep(spark)
    orders = _table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-07-01") & (F.col("o_orderdate") < "1997-10-01"))
    li = _table(spark, sf_dir, "lineitem")
    j = orders.join(li, (orders.o_orderkey == li.l_orderkey)
                    & (li.l_shipdate > orders.o_orderdate), "leftsemi")
    return (j.groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("order_count")))


def q_nation_volume(spark, sf_dir):
    """TPC-H Q7-shaped bilateral trade volume: supplier-nation x
    customer-nation revenue per ship year for one nation pair, both
    directions.  Both nation dims broadcast; the only big shuffle is
    lineitem |><| orders on orderkey."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1998-01-01"))
    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    sup = _table(spark, sf_dir, "supplier")
    n1 = _table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    n2 = _table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    j = (li.join(F.broadcast(sup.join(F.broadcast(n1), sup.s_nationkey == n1.sn_key)),
                 li.l_suppkey == F.col("s_suppkey"))
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust.join(F.broadcast(n2), cust.c_nationkey == n2.cn_key),
               orders.o_custkey == F.col("c_custkey"))
         .filter(((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
                 | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").cast("bigint").alias("n_rows")))


def q_market_share(spark, sf_dir):
    """TPC-H Q8-shaped market share: of all ECONOMY-part revenue sold to
    ASIA-region customers, the fraction supplied by NATION_3, per order
    year.  part/supplier/nation/region dims broadcast; customer joins
    declaratively (AQE broadcast at bench SF, shuffle-hash at 100 TB);
    the share is a conditional-sum ratio inside one agg — no second
    pass."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    orders = _table(spark, sf_dir, "orders")
    part = _table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    sup = _table(spark, sf_dir, "supplier")
    nat_s = _table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    nat_c = _table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey")
    region = _table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust = (_table(spark, sf_dir, "customer")
            .join(F.broadcast(nat_c), F.col("c_nationkey") == nat_c.n_nationkey)
            .join(F.broadcast(region), nat_c.n_regionkey == region.r_regionkey))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(F.broadcast(sup.join(F.broadcast(nat_s), sup.s_nationkey == nat_s.sn_key)),
               li.l_suppkey == F.col("s_suppkey"))
         .join(orders, li.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == F.col("c_custkey")))
    return (j.groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(F.lit(0.0)))
                / F.sum(rev), 6).alias("mkt_share"),
                 F.count("*").cast("bigint").alias("n_rows")))


def q_custdist(spark, sf_dir):
    """TPC-H Q13-shaped customer order-count distribution: LEFT join so
    zero-order customers survive, two cascaded aggs.  The first agg keys
    on custkey (same key as the join — no extra shuffle under AQE); the
    second agg input is one row per customer."""
    _prep(spark)
    cust = _table(spark, sf_dir, "customer")
    orders = _table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT")
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count("*").cast("bigint").alias("custdist"))
            .select(F.col("c_count").cast("bigint").alias("c_count"), "custdist"))


def q_promo_revenue(spark, sf_dir):
    """TPC-H Q14-shaped promo revenue share: one month of lineitem
    against the broadcast part dim; the percentage is a conditional-sum
    ratio in a single agg."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01"))
    part = _table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.agg(
        F.round(F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0)))
                / F.sum(rev), 6).alias("promo_revenue"),
        F.count("*").cast("bigint").alias("n_rows"))


def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17-shaped small-quantity revenue: lines of one brand's
    parts whose quantity is below 20% of that part's average quantity.
    The per-part average is a window over the ALREADY part-filtered join
    output (the brand restricts partkeys, so the window sees each
    surviving part's full line set) — no self-join, one shuffle on
    partkey."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    part = _table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    w = Window.partitionBy("p_partkey")
    d = j.withColumn("avg_qty", F.avg("l_quantity").over(w))
    return (d.filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
            .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
                 F.count("*").cast("bigint").alias("n_rows")))


def q_large_orders(spark, sf_dir):
    """TPC-H Q18-shaped large-volume orders: orders whose total quantity
    exceeds 300, with customer attribution, top 20 by total price.  The
    HAVING agg runs on lineitem alone first (map-side combine on
    orderkey), and only the ~1e-3 surviving keys join orders/customer —
    the classic agg-before-join pushdown, done by hand because Spark
    won't reorder through HAVING."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    orders = _table(spark, sf_dir, "orders")
    cust = _table(spark, sf_dir, "customer")
    j = (big.join(orders, big.l_orderkey == orders.o_orderkey)
         .join(cust, orders.o_custkey == cust.c_custkey))
    return (j.orderBy(F.col("o_totalprice").desc(), F.col("l_orderkey").asc())
            .limit(20)
            .select(F.col("c_custkey").cast("bigint"), "c_name",
                    F.col("l_orderkey").cast("bigint").alias("o_orderkey"),
                    F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_odate"),
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.round("sum_qty", 2).alias("sum_qty")))


def q_product_profit(spark, sf_dir):
    """TPC-H Q9 analog (product-type profit by nation and year) on the
    available tables: 5-way join lineitem x part x orders x supplier x
    nation, substring filter on the part name, profit =
    revenue - 0.1 * p_retailprice * quantity (supply-cost proxy — the
    test schema has no partsupp).  Plan: the name-filtered part dim,
    supplier and nation BROADCAST; the only shuffle join is
    lineitem x orders on the order key; aggregation is map-side
    partial.  Completes the 22/22 TPC-H shape sweep with Q11/Q20."""
    li = _table(spark, sf_dir, "lineitem")
    part = _table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("bolt"))
    o = _table(spark, sf_dir, "orders")
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    j = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
         .join(o, li.l_orderkey == o.o_orderkey)
         .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
         .join(F.broadcast(n), s.s_nationkey == n.n_nationkey))
    profit = (F.col("l_extendedprice") * (1 - F.col("l_discount"))
              - F.lit(0.1) * F.col("p_retailprice") * F.col("l_quantity"))
    return (j.groupBy(F.col("n_name").alias("nation"),
                      F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg(F.round(F.sum(profit), 2).alias("profit")))


def q_important_parts(spark, sf_dir):
    """TPC-H Q11 analog (important stock value): per-part revenue
    share with a HAVING-against-global-scalar — the Q11 shape is the
    reuse of one aggregate as both the group values and the global
    threshold.  Plan: one groupBy(l_partkey) aggregation; the global
    total is a 1-row broadcast joined back map-side (no second corpus
    scan of the grouped values, no correlated subquery)."""
    li = _table(spark, sf_dir, "lineitem")
    val = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .alias("value"))
    # threshold = 1.5x the mean per-part value: scale-INDEPENDENT (the
    # classic Q11 fraction shrinks with part count and degenerates to an
    # empty result as SF grows)
    tot = val.agg(F.avg("value").alias("av"))
    return (val.crossJoin(F.broadcast(tot))
            .filter(F.col("value") > 1.5 * F.col("av"))
            .select(F.col("l_partkey").cast("bigint").alias("p_partkey"),
                    F.round("value", 2).alias("value")))


def q_excess_suppliers(spark, sf_dir):
    """TPC-H Q20 analog (suppliers with excess stock of a part
    family): the nested-EXISTS chain — part-name filter -> per
    (supplier, part) shipped quantity in one year -> threshold ->
    DISTINCT supplier keys -> left-semi into supplier x nation.  Plan:
    name-filtered parts broadcast into the lineitem scan (year filter
    pushed to parquet), one shuffle on (suppkey, partkey), then the
    tiny flagged-supplier set broadcasts into the semi-join."""
    li = _table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1997)
    part = _table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("red"))
    s = _table(spark, sf_dir, "supplier")
    n = _table(spark, sf_dir, "nation")
    qty = (li.join(F.broadcast(part.select("p_partkey")),
                   li.l_partkey == F.col("p_partkey"))
           .groupBy("l_suppkey", "l_partkey")
           .agg(F.sum("l_quantity").alias("qty")))
    flagged = qty.filter(F.col("qty") > 50).select("l_suppkey").distinct()
    return (s.join(F.broadcast(flagged), s.s_suppkey == F.col("l_suppkey"),
                   "left_semi")
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .select("s_name", F.col("n_name").alias("nation")))


def q_bundle_revenue(spark, sf_dir):
    """TPC-H Q19-shaped disjunctive-predicate revenue: three OR'd
    (brand x size x quantity-band) bundles over lineitem x part.  The
    part side broadcasts with the brand/size disjunction pre-applied, so
    the fact scan only pays the join + residual quantity filter."""
    _prep(spark)
    li = _table(spark, sf_dir, "lineitem")
    part = _table(spark, sf_dir, "part").filter(
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)))
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    keep = (((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
            | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
            | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30)))
    return (j.filter(keep)
            .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("revenue"),
                 F.count("*").cast("bigint").alias("n_rows")))


def q_idle_customers(spark, sf_dir):
    """TPC-H Q22-shaped dormant high-balance customers: above the
    average positive account balance but with NO orders since 2000,
    summarized per nation.  The scalar average broadcasts via a cross
    join (1 row); the anti-join's right side is pre-filtered and
    distinct on custkey."""
    _prep(spark)
    cust = _table(spark, sf_dir, "customer")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0)
               .agg(F.avg("c_acctbal").alias("avg_bal")))
    recent = (_table(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey").distinct())
    rich = (cust.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    idle = rich.join(recent, rich.c_custkey == recent.o_custkey, "left_anti")
    return (idle.groupBy(F.col("c_nationkey").cast("bigint").alias("c_nationkey"))
            .agg(F.count("*").cast("bigint").alias("numcust"),
                 F.round(F.sum("c_acctbal"), 2).alias("totacctbal")))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order is deliberate: the driver's CORRECTNESS gate
    hashes the FIRST 50 entries.  Round-14 window = 2 NEW parity-audit
    pins (eval_str: the EvalOneIter eval string byte format —
    dataset-major/metric-minor order, %.17f fixed values — hash-matched
    END TO END against a DuckDB printf replay on IEEE-exact inputs;
    train_approx: the REAL barrier approx trainer with pinned fine
    cuts, whose round-0 hessian-histogram rebin bounds are integer-
    exact and replayed bin-for-bin in SQL) + the full 48-entry r11
    block, this round's stalest certifications.  After this window no
    entry's latest driver row predates round 12.  Every entry remains
    covered by the in-repo replica gate (tests/test_entry.py), which
    runs ALL entries regardless of order, and by the AST lint
    (tests/test_entry_lint.py) pinning that operator-backed entries
    execute shipped engine code."""
    return {
        # ---- driver 50-entry CORRECTNESS window (round 14) --------------
        # NEW: eval_str (EvalOneIter byte-format pin, 17-digit fixed values
        # hash-matched end to end) + train_approx (REAL barrier approx
        # trainer, integer-exact round-0 rebin bounds replayed in SQL)
        "eval_str": q_eval_str,
        "train_approx": q_train_approx,
        # re-certification: the 48-entry r11 block (stalest) — after this
        # window no entry's latest driver row predates round 12
        "aft_grad": q_aft_grad,
        "best_split": q_best_split,
        "bloom_contains": q_bloom_contains,
        "bpe_merges": q_bpe_merges,
        "bpe_tokens": q_bpe_tokens,
        "bundle_revenue": q_bundle_revenue,
        "cms_topk": q_cms_topk,
        "cox_grad": q_cox_grad,
        "dart_weights": q_dart_weights,
        "dedup_exact": q_dedup_exact,
        "embedding_cov": q_embedding_cov,
        "fit_stump": q_fit_stump,
        "hll_distinct": q_hll_distinct,
        "idle_customers": q_idle_customers,
        "kmeans_iter": q_kmeans_iter,
        "knn_ivf": q_knn_ivf,
        "knn_ivf0": q_knn_ivf0,
        "leaf_weights": q_leaf_weights,
        "linear_multigroup_round": q_linear_multigroup_round,
        "local_supplier_volume": q_local_supplier_volume,
        "logistic_grad": q_logistic_grad,
        "min_acctbal_supplier": q_min_acctbal_supplier,
        "priority_lines": q_priority_lines,
        "quantile_cuts": q_quantile_cuts,
        "quantize_hist": q_quantize_hist,
        "ref_dart_import": q_ref_dart_import,
        "ref_gblinear_import": q_ref_gblinear_import,
        "returned_items": q_returned_items,
        "revenue_forecast": q_revenue_forecast,
        "row_partition": q_row_partition,
        "segment_dedup": q_segment_dedup,
        "softmax_grad": q_softmax_grad,
        "split_scan": q_split_scan,
        "stream_distinct": q_stream_distinct,
        "stream_enrich": q_stream_enrich,
        "stream_join": q_stream_join,
        "subsample": q_subsample,
        "supplier_part_counts": q_supplier_part_counts,
        "top_supplier": q_top_supplier,
        "train_dart": q_train_dart,
        "train_importance": q_train_importance,
        "train_logistic": q_train_logistic,
        "train_ranker": q_train_ranker,
        "train_softmax": q_train_softmax,
        "train_string_cat": q_train_string_cat,
        "vocab": q_vocab,
        "waiting_suppliers": q_waiting_suppliers,
        "weighted_quantile": q_weighted_quantile,
        # ---- past the window (r12/r13-certified) ------------------------
        # r14-late additions, first-in-line for the r15 window (covered
        # by the in-repo replica gate this round): clf_serve pins the
        # classifier wrapper's reference output schema through the REAL
        # SparkGBDTClassifierModel._transform; lr_schedule pins the
        # LearningRateScheduler one-round-late fix through the REAL
        # DataFrame-path trainer
        "clf_serve": q_clf_serve,
        "lr_schedule": q_lr_schedule,
        "stream_score": q_stream_score,
        "dart_slice_serve": q_dart_slice_serve,
        "pred_leaf_range": q_pred_leaf_range,
        "image_pipeline": q_image_pipeline,
        "train_stream": q_train_stream,
        "train_expectile": q_train_expectile,
        "knn": q_knn,
        "metric_multiclass": q_metric_multiclass,
        "custdist": q_custdist,
        "funnel": q_funnel,
        "minhash_bands": q_minhash_bands,
        "product_profit": q_product_profit,
        "important_parts": q_important_parts,
        "excess_suppliers": q_excess_suppliers,
        "prefix_scan": q_prefix_scan,
        "range_join": q_range_join,
        "q1_pricing": q_q1_pricing,
        "shipping_priority": q_shipping_priority,
        "stream_window": q_stream_window,
        "stream_sessions": q_stream_sessions,
        "knn_lsh": q_knn_lsh,
        "train_tree_nodes": q_train_tree_nodes,
        "train_predict": q_train_predict,
        "train_shap": q_train_shap,
        "train_linear": q_train_linear,
        "simhash": q_simhash,
        "metric_ams_cox": q_metric_ams_cox,
        "stream_dedup": q_stream_dedup,
        "linear_one_round": q_linear_one_round,
        "train_stump": q_train_stump,
        "train_depth2": q_train_depth2,
        "ordinal_encode": q_ordinal_encode,
        "hash_split": q_hash_split,
        "pack_sequences": q_pack_sequences,
        "stratified_take": q_stratified_take,
        "normalize_text": q_normalize_text,
        "contamination": q_contamination,
        "repetition": q_repetition,
        "redact_pii": q_redact_pii,
        "lang_id": q_lang_id,
        "simhash_pairs": q_simhash_pairs,
        "shuffle_shards": q_shuffle_shards,
        "chunk_docs": q_chunk_docs,
        "tfidf": q_tfidf,
        "bigram_ppl": q_bigram_ppl,
        "sample_mix": q_sample_mix,
        "replicate_mix": q_replicate_mix,
        "dup_spans": q_dup_spans,
        "strip_spans": q_strip_spans,
        "quantile_stump": q_quantile_stump,
        "wide_linear_round": q_wide_linear_round,
        "train_ranker_weighted": q_train_ranker_weighted,
        "ivf_search": q_ivf_search,
        "dedup_incremental": q_dedup_incremental,
        "train_multi_quantile": q_train_multi_quantile,
        "exact_duplicates": q_exact_duplicates,
        "metric_expectile": q_metric_expectile,
        "metric_pre": q_metric_pre,
        "expectile_grad": q_expectile_grad,
        "similarity_join": q_similarity_join,
        "topk_orders": q_topk_orders,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "doc_fingerprint": q_doc_fingerprint,
        "embedding_neardup": q_embedding_neardup,
        "metric_auc": q_metric_auc,
        "metric_aucpr": q_metric_aucpr,
        "metric_ndcg": q_metric_ndcg,
        "metric_map": q_metric_map,
        "metric_regression": q_metric_regression,
        "metric_logloss": q_metric_logloss,
        "count_family": q_count_family,
        "ngram_jaccard": q_ngram_jaccard,
        "dedup_components": q_dedup_components,
        "sessionize": q_sessionize,
        "rolling_window": q_rolling_window,
        "lag_features": q_lag_features,
        "target_encode": q_target_encode,
        "time_rollup": q_time_rollup,
        "pivot_events": q_pivot_events,
        "melt_measures": q_melt_measures,
        "feature_drift": q_feature_drift,
        "profile_columns": q_profile_columns,
        "salted_join": q_salted_join,
        "zorder": q_zorder,
        "json_extract": q_json_extract,
        "retention": q_retention,
        "group_quantiles": q_group_quantiles,
        "gopher_rules": q_gopher_rules,
        "reservoir_group": q_reservoir_group,
        "scalar_quantize": q_scalar_quantize,
        "pq_topk": q_pq_topk,
        "semantic_dedup": q_semantic_dedup,
        "order_priority_check": q_order_priority_check,
        "nation_volume": q_nation_volume,
        "market_share": q_market_share,
        "promo_revenue": q_promo_revenue,
        "small_qty_revenue": q_small_qty_revenue,
        "large_orders": q_large_orders,
        "asof_join": q_asof_join,
    }

# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect; views pre-registered)
# ---------------------------------------------------------------------------

def _best_split_sql() -> str:
    blocks = []
    for feat in _BS_FEATURES:
        blocks.append(f"""
SELECT '{feat}' AS feature, bin,
       round(sum(38.0 - l_extendedprice / 1000.0), 4) AS sum_g,
       CAST(count(*) AS DOUBLE) AS sum_h
FROM (
  SELECT l_extendedprice,
         (SELECT count(*) FROM (
            SELECT min(v) AS cut FROM (
              SELECT {feat} AS v, row_number() OVER (ORDER BY {feat}) rn, count(*) OVER () n
              FROM lineitem WHERE {feat} IS NOT NULL) rk
            JOIN range(1, 8) t(k) ON rn = CAST(ceil(k * n / 8.0) AS BIGINT)
            GROUP BY k) c WHERE c.cut < l.{feat}) AS bin
  FROM lineitem l)
GROUP BY bin""")
    hist = " UNION ALL ".join(blocks)
    return f"""
WITH hist AS ({hist}),
scan AS (
  SELECT feature, bin,
         sum(sum_g) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER (PARTITION BY feature) AS gt,
         sum(sum_h) OVER (PARTITION BY feature) AS ht,
         max(bin) OVER (PARTITION BY feature) AS mx
  FROM hist),
gains AS (
  SELECT feature, bin, gl, hl, gt - gl AS gr, ht - hl AS hr,
         gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
  FROM scan WHERE bin < mx)
SELECT feature, bin AS best_bin, round(gain, 4) AS best_gain
FROM (SELECT *, row_number() OVER (PARTITION BY feature ORDER BY gain DESC, bin ASC) rk FROM gains)
WHERE rk = 1"""



def _rank_cut_ctes(feats, B: int) -> list[str]:
    """Per-feature rank-based exact-quantile cut CTEs — the SQL twin of
    `_exact_cut_values`/`_bin_expr`, shared by every composed-training
    oracle so the binning rule cannot silently diverge between them."""
    return [f"""rk_{f} AS (
  SELECT {f} AS v, row_number() OVER (ORDER BY {f}) AS rn, count(*) OVER () AS n
  FROM lineitem WHERE {f} IS NOT NULL),
cut_{f} AS (
  SELECT min(v) AS cut FROM rk_{f} JOIN range(1, {B}) t(k)
    ON rn = CAST(ceil(k * n / {B}.0) AS BIGINT) GROUP BY k)"""
            for f in feats]


def _stump_chain_ctes() -> tuple[list[str], list[str], str]:
    """Shared CTE chain for the composed 2-round stump oracles
    (_train_stump_sql / _train_importance_sql): rank-rule cuts, binned
    rows, base score, round-1 hist/scan/argmax (b1), round-1 updated
    predictions (p1), round-2 argmax (b2) — generated per round so
    round 2 literally consumes round 1's predictions.  Returns
    (ctes, feats, pick_bin); b{r} carries (feature, bin, gain, wl, wr,
    ht) so callers can read cover as well as the split choice."""
    feats = _BS_FEATURES
    B = 8
    ctes = _rank_cut_ctes(feats, B)
    bin_cols = ",\n         ".join(
        f"(SELECT count(*) FROM cut_{f} c WHERE c.cut < l.{f}) AS bin_{f}"
        for f in feats)
    ctes.append(f"""binned AS MATERIALIZED (
  SELECT l.l_orderkey, l.l_linenumber, l_extendedprice / 1000.0 AS y,
         {bin_cols}
  FROM lineitem l),
base AS (SELECT round(avg(y), 6) AS b FROM binned)""")
    pick_bin = ("CASE bb.feature " + " ".join(
        f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])
        + f" ELSE bin_{feats[-1]} END")

    def round_ctes(r: int, src: str, gexpr: str) -> str:
        hist = " UNION ALL ".join(
            f"""SELECT '{f}' AS feature, bin_{f} AS bin,
       round(sum({gexpr}), 4) AS sum_g, CAST(count(*) AS DOUBLE) AS sum_h
  FROM {src} GROUP BY 2""" for f in feats)
        return f"""h{r} AS ({hist}),
s{r} AS (
  SELECT feature, bin,
         sum(sum_g) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER (PARTITION BY feature) AS gt,
         sum(sum_h) OVER (PARTITION BY feature) AS ht,
         max(bin) OVER (PARTITION BY feature) AS mx
  FROM h{r}),
g{r} AS (
  SELECT feature, bin, gl, hl, gt - gl AS gr, ht - hl AS hr, ht,
         gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
  FROM s{r} WHERE bin < mx),
b{r} AS (
  SELECT feature, bin, round(gain, 4) AS gain,
         round(-gl/(hl+1.0), 6) AS wl, round(-gr/(hr+1.0), 6) AS wr,
         round(ht, 2) AS ht, round(hl, 2) AS hl, round(hr, 2) AS hr
  FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, feature ASC, bin ASC) AS rk
        FROM g{r})
  WHERE rk = 1)"""

    ctes.append(round_ctes(1, "binned, base", "b - y"))
    ctes.append(f"""p1 AS MATERIALIZED (
  SELECT binned.*,
         b.b + 0.3 * (CASE WHEN ({pick_bin}) <= bb.bin
                      THEN bb.wl ELSE bb.wr END) AS p
  FROM binned, base b, b1 bb)""")
    ctes.append(round_ctes(2, "p1", "p - y"))
    return ctes, feats, pick_bin


def _train_stump_sql() -> str:
    """DuckDB twin of q_train_stump: the SAME two boosting rounds
    composed from the already-oracled kernel shapes (cuts CTE from
    _cuts_cte's rank rule, hist/scan/gain from _best_split_sql,
    CalcWeight from leaf_weights) — generated per round so round 2
    literally consumes round 1's updated predictions."""
    ctes, _feats, pick_bin = _stump_chain_ctes()
    ctes.append(f"""p2 AS MATERIALIZED (
  SELECT p1.*,
         p + 0.3 * (CASE WHEN ({pick_bin}) <= bb.bin
                    THEN bb.wl ELSE bb.wr END) AS p2v
  FROM p1, b2 bb)""")
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(1 AS BIGINT) AS round, feature, CAST(bin AS BIGINT) AS best_bin,
       gain AS best_gain, wl AS w_left, wr AS w_right,
       (SELECT round(sum(p), 2) FROM p1) AS pred_sum
FROM b1
UNION ALL
SELECT CAST(2 AS BIGINT), feature, CAST(bin AS BIGINT), gain, wl, wr,
       (SELECT round(sum(p2v), 2) FROM p2)
FROM b2"""


def _train_ranker_sql() -> str:
    """DuckDB twin of q_train_ranker: the same closed-form all-pairs
    round-1 pairwise gradients (rank counts via one cumulative window,
    peers included by the default RANGE frame — identical in Spark;
    reference hessian factor delta*2, normalization pinned off) and
    the same hist -> scan -> argmax split search."""
    return """
WITH r AS (
  SELECT user_id AS qid,
         least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 4) AS rel,
         event_id % 31 AS bin
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
c AS (SELECT qid, rel, count(*) AS c FROM r GROUP BY 1, 2),
gh AS (
  SELECT qid, rel,
         sum(c) OVER (PARTITION BY qid ORDER BY rel) - c AS n_lt,
         sum(c) OVER (PARTITION BY qid)
           - sum(c) OVER (PARTITION BY qid ORDER BY rel) AS n_gt
  FROM c),
rows_ AS (
  SELECT r.bin, 0.5 * (gh.n_gt - gh.n_lt) AS g,
         0.5 * (gh.n_gt + gh.n_lt) AS h
  FROM r JOIN gh USING (qid, rel)),
hist AS (SELECT bin, sum(g) AS sum_g, sum(h) AS sum_h, count(*) AS nb
         FROM rows_ GROUP BY 1),
s AS (SELECT bin,
        sum(sum_g) OVER (ORDER BY bin) AS gl,
        sum(sum_h) OVER (ORDER BY bin) AS hl,
        sum(sum_g) OVER () AS gt,
        sum(sum_h) OVER () AS ht,
        sum(nb) OVER () AS n,
        max(bin) OVER () AS mx
      FROM hist),
gains AS (SELECT bin, gl, hl, gt - gl AS gr, ht - hl AS hr, ht, n,
        gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
      FROM s WHERE bin < mx)
SELECT CAST(bin AS BIGINT) AS best_bin, round(gain, 4) AS best_gain,
       round(-gl/(hl+1.0), 6) AS w_left, round(-gr/(hr+1.0), 6) AS w_right,
       round(ht, 2) AS h_total, CAST(n AS BIGINT) AS n
FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, bin ASC) AS rk
      FROM gains)
WHERE rk = 1"""


def _train_ranker_weighted_sql() -> str:
    """DuckDB twin of q_train_ranker_weighted: the q_train_ranker
    closed form with integer group weights folded into the (exact)
    histogram sums and the global n_groups/sum(w) factor applied to the
    aggregated scan columns — identical multiply order to the Spark
    side, rounding only at the output boundary."""
    return """
WITH r AS (
  SELECT user_id AS qid,
         least(greatest(CAST(floor(value / 25.0) AS BIGINT), 0), 4) AS rel,
         event_id % 31 AS bin
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
c AS (SELECT qid, rel, count(*) AS c FROM r GROUP BY 1, 2),
gh AS (
  SELECT qid, rel,
         sum(c) OVER (PARTITION BY qid ORDER BY rel) - c AS n_lt,
         sum(c) OVER (PARTITION BY qid)
           - sum(c) OVER (PARTITION BY qid ORDER BY rel) AS n_gt
  FROM c),
rows_ AS (
  SELECT r.bin,
         CAST(1 + r.qid % 3 AS DOUBLE) * (0.5 * (gh.n_gt - gh.n_lt)) AS g,
         CAST(1 + r.qid % 3 AS DOUBLE) * (0.5 * (gh.n_gt + gh.n_lt)) AS h
  FROM r JOIN gh USING (qid, rel)),
hist AS (SELECT bin, sum(g) AS sum_g, sum(h) AS sum_h, count(*) AS nb
         FROM rows_ GROUP BY 1),
wn AS (SELECT CAST(count(*) AS DOUBLE)
              / sum(CAST(1 + qid % 3 AS DOUBLE)) AS wnorm
       FROM (SELECT DISTINCT qid FROM r)),
s AS (SELECT bin,
        sum(sum_g) OVER (ORDER BY bin) AS gl0,
        sum(sum_h) OVER (ORDER BY bin) AS hl0,
        sum(sum_g) OVER () AS gt0,
        sum(sum_h) OVER () AS ht0,
        sum(nb) OVER () AS n,
        max(bin) OVER () AS mx
      FROM hist),
sc AS (SELECT bin, n, wn.wnorm,
        gl0 * wn.wnorm AS gl, hl0 * wn.wnorm AS hl,
        gt0 * wn.wnorm AS gt, ht0 * wn.wnorm AS ht
      FROM s, wn WHERE bin < mx),
gains AS (SELECT bin, gl, hl, gt - gl AS gr, ht - hl AS hr, ht, n, wnorm,
        gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
      FROM sc)
SELECT CAST(bin AS BIGINT) AS best_bin, round(gain, 4) AS best_gain,
       round(-gl/(hl+1.0), 6) AS w_left, round(-gr/(hr+1.0), 6) AS w_right,
       round(ht, 2) AS h_total, round(wnorm, 6) AS wnorm,
       CAST(n AS BIGINT) AS n
FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, bin ASC) AS rk
      FROM gains)
WHERE rk = 1"""


def _wide_linear_round_sql() -> str:
    """DuckDB twin of q_wide_linear_round: one unnest over 260 feature
    ids replays the Jacobi round's closed form — every sufficient
    statistic is an exact dyadic sum, the bias step and per-coordinate
    divisions are single deterministic float ops."""
    return """
WITH base AS (
  SELECT l_orderkey * 100 + l_linenumber AS key
  FROM lineitem WHERE l_orderkey % 20 = 3),
rows_ AS (SELECT key, ((key * 7) % 128) / 128.0 AS y FROM base),
f AS (SELECT unnest(generate_series(0, 259)) AS fid),
xf AS (
  SELECT r.key, f.fid, ((r.key * (f.fid + 1)) % 64) / 64.0 AS x, r.y
  FROM rows_ r CROSS JOIN f),
gsum AS (SELECT sum(-y) AS G, CAST(count(*) AS DOUBLE) AS H FROM rows_),
b AS (SELECT 0.5 * (-(G) / H) AS dbias FROM gsum),
sums AS (
  SELECT fid, sum(-y * x) AS gx, sum(x * x) AS hx2, sum(x) AS hb
  FROM xf GROUP BY fid)
SELECT CAST(-1 AS BIGINT) AS feature, round(b.dbias, 6) AS weight FROM b
UNION ALL
SELECT CAST(s.fid AS BIGINT) AS feature,
       CASE WHEN s.hx2 < 1e-5 THEN 0.0   -- CoordinateDelta hess guard:
            -- features with (f+1) a multiple of 64 are identically 0
            ELSE round(0.5 * (-(s.gx + b.dbias * s.hb) / s.hx2), 6)
       END AS weight
FROM sums s, b
ORDER BY feature"""


def _train_string_cat_sql() -> str:
    """DuckDB twin of q_train_string_cat: ordinal dictionary by sorted
    lang, per-category gradient agg, ratio-sorted prefix scan, argmax
    prefix partition — EnumeratePart replayed in SQL windows."""
    return """
WITH d AS (SELECT lang, CAST(length(text) AS DOUBLE) AS y FROM documents),
b AS (SELECT round(avg(y), 6) AS b FROM d),
cat AS (SELECT lang, round(sum(b.b - y), 4) AS g,
               CAST(count(*) AS DOUBLE) AS h
        FROM d, b GROUP BY lang),
o AS (SELECT lang, g, h, row_number() OVER (ORDER BY lang) AS ord_id
      FROM cat),
s AS (SELECT *,
        row_number() OVER (ORDER BY g/(h+1.0), ord_id) AS pos,
        sum(g) OVER (ORDER BY g/(h+1.0), ord_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cg,
        sum(h) OVER (ORDER BY g/(h+1.0), ord_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch,
        sum(g) OVER () AS gt, sum(h) OVER () AS ht,
        count(*) OVER () AS nc
      FROM o),
gains AS (SELECT pos, cg, ch, gt - cg AS gr, ht - ch AS hr,
        cg*cg/(ch+1.0) + (gt-cg)*(gt-cg)/(ht-ch+1.0) - gt*gt/(ht+1.0) AS gain
      FROM s WHERE pos < nc),
best AS (SELECT pos AS best_pos, round(gain, 4) AS best_gain,
       round(-cg/(ch+1.0), 6) AS w_left, round(-gr/(hr+1.0), 6) AS w_right
      FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, pos ASC) AS rk
            FROM gains)
      WHERE rk = 1)
SELECT s.lang, CAST(s.ord_id AS BIGINT) AS ord_id, s.g, s.h,
       CAST(CASE WHEN s.pos <= best.best_pos THEN 1 ELSE 0 END AS BIGINT) AS in_left,
       best.best_gain, best.w_left, best.w_right
FROM s, best"""


def _train_importance_sql() -> str:
    """DuckDB twin of q_train_importance: replay the same two boosting
    rounds (the train_stump CTE chain) and aggregate the two best-split
    rows into the reference's importance accumulators (core.py:3036
    get_score): weight = split count, total_gain = sum of loss_chg,
    total_cover = sum of the split node's sum_hess."""
    ctes, _feats, _pick_bin = _stump_chain_ctes()
    return f"""
WITH {', '.join(ctes)},
splits AS (SELECT feature, gain, ht FROM b1
           UNION ALL SELECT feature, gain, ht FROM b2)
SELECT feature, CAST(count(*) AS DOUBLE) AS weight,
       round(sum(gain), 4) AS total_gain,
       round(sum(ht), 2) AS total_cover
FROM splits GROUP BY feature"""


def _cutval_case(feats) -> str:
    """CASE expr selecting the chosen split's RAW cut value (the
    bb.bin-th rank-rule cut of bb.feature) — the SQL twin of the
    thresholds _composed_stump_model stores in Tree.split_value."""
    return ("CASE bb.feature " + " ".join(
        f"WHEN '{f}' THEN (SELECT cut FROM (SELECT cut, "
        f"row_number() OVER (ORDER BY cut) - 1 AS i FROM cut_{f}) t "
        f"WHERE t.i = bb.bin)" for f in feats) + " END")


def _train_tree_nodes_sql() -> str:
    """DuckDB twin of q_train_tree_nodes: rebuild the six node-table
    rows (2 stumps x root/left/right) of the composed model from the
    b1/b2 split CTEs — raw threshold from the rank-rule cuts, covers
    from hl/hr/ht, leaf values 0.3*w; NULL-free sentinels mirror the
    Spark side's coalesce."""
    ctes, feats, _pick_bin = _stump_chain_ctes()
    cutval = _cutval_case(feats)
    parts = []
    for r in (1, 2):
        parts.append(f"""
SELECT CAST({r - 1} AS BIGINT) AS tree, CAST(0 AS BIGINT) AS node,
       bb.feature AS feature, round({cutval}, 6) AS split,
       CAST(1 AS BIGINT) AS yes, CAST(2 AS BIGINT) AS no,
       TRUE AS default_left, bb.gain AS gain,
       round(bb.ht, 2) AS cover, 0.0 AS leaf_value
FROM b{r} bb
UNION ALL
SELECT {r - 1}, 1, '', 0.0, -1, -1, TRUE, 0.0, round(bb.hl, 2),
       round(0.3 * bb.wl, 7)
FROM b{r} bb
UNION ALL
SELECT {r - 1}, 2, '', 0.0, -1, -1, TRUE, 0.0, round(bb.hr, 2),
       round(0.3 * bb.wr, 7)
FROM b{r} bb""")
    return f"WITH {', '.join(ctes)}" + " UNION ALL ".join(parts)


def _train_predict_sql() -> str:
    """DuckDB twin of q_train_predict: the chain's p2 CTE IS the
    per-row prediction of the composed model (base + 0.3*w per round,
    same addition order as the serving path's sequential tree
    accumulation); emit it keyed, on the same deterministic subset."""
    ctes, _feats, pick_bin = _stump_chain_ctes()
    ctes.append(f"""p2 AS MATERIALIZED (
  SELECT p1.*,
         p + 0.3 * (CASE WHEN ({pick_bin}) <= bb.bin
                    THEN bb.wl ELSE bb.wr END) AS p2v
  FROM p1, b2 bb)""")
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       round(p2v, 7) AS prediction
FROM p2 WHERE l_orderkey % 50 = 0"""


def _train_dart_sql() -> str:
    """DuckDB twin of q_train_dart: closed-form normalize_type=tree
    weight evolution for rate_drop=1.0 (round r drops all r-1 prior
    trees: w_new = 1/(k+lr), dropped *= k/(k+lr) — the same arithmetic
    the REAL trainer executes, in the same operation order, so the
    doubles are bit-identical), and per-row predictions replayed from
    the b1 stump CTE in serving accumulation order
    base + w1*L + w2*L + w3*L."""
    ctes, _feats, pick_bin = _stump_chain_ctes()
    # w1 = 1.0 * (1/(1+0.3)) [r2 factor] * (2/(2+0.3)) [r3 factor];
    # w2 = (1/(1+0.3)) [r2 w_new] * (2/(2+0.3)) [r3 factor]; both
    # reduce to the same product.  w3 = 1/(2+0.3) [r3 w_new].
    ctes.append("""dw AS (
  SELECT (1.0/(1.0+0.3))*(2.0/(2.0+0.3)) AS w1,
         (1.0/(1.0+0.3))*(2.0/(2.0+0.3)) AS w2,
         1.0/(2.0+0.3) AS w3)""")
    leaf = (f"(CASE WHEN ({pick_bin}) <= bb.bin "
            "THEN 0.3*bb.wl ELSE 0.3*bb.wr END)")
    ctes.append(f"""pd AS MATERIALIZED (
  SELECT binned.l_orderkey, binned.l_linenumber,
         b.b + dw.w1 * {leaf} + dw.w2 * {leaf} + dw.w3 * {leaf} AS pred,
         dw.w1 AS w1, dw.w2 AS w2, dw.w3 AS w3
  FROM binned, base b, b1 bb, dw)""")
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       round(pred, 6) AS prediction,
       round(w1, 6) AS w_tree1, round(w2, 6) AS w_tree2,
       round(w3, 6) AS w_tree3
FROM pd WHERE l_orderkey % 50 = 0"""


def _train_shap_sql() -> str:
    """DuckDB twin of q_train_shap: exact TreeSHAP of a depth-1 tree in
    closed form (reference shap.cc:101 semantics reduce to two terms on
    a stump) — phi_split = leaf(x) - E, E = (hl*lv_L + hr*lv_R)/ht,
    bias = base + sum of per-tree E; features the chain never split on
    contribute exactly 0."""
    ctes, feats, _pick_bin = _stump_chain_ctes()
    # wide form, NO aggregation: (l_orderkey, l_linenumber) is not
    # unique in the synthetic lineitem, so a GROUP BY would collapse
    # rows the Spark side emits individually

    def phi(r: int) -> str:
        pick = (f"CASE bb{r}.feature " + " ".join(
            f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])
            + f" ELSE bin_{feats[-1]} END")
        return (f"(0.3 * (CASE WHEN ({pick}) <= bb{r}.bin "
                f"THEN bb{r}.wl ELSE bb{r}.wr END) - e{r})")

    def e(r: int) -> str:
        return (f"(bb{r}.hl * (0.3 * bb{r}.wl) + bb{r}.hr * (0.3 * bb{r}.wr))"
                f" / bb{r}.ht")

    contrib_cols = ",\n       ".join(
        f"round((CASE WHEN bb1.feature = '{f}' THEN {phi(1)} ELSE 0.0 END)"
        f" + (CASE WHEN bb2.feature = '{f}' THEN {phi(2)} ELSE 0.0 END), 4)"
        f" AS contrib_{f}" for f in feats)
    return f"""
WITH {', '.join(ctes)},
ev AS (SELECT {e(1).replace('bb1', 'b1')} AS e1,
              {e(2).replace('bb2', 'b2')} AS e2
       FROM b1, b2)
SELECT CAST(bn.l_orderkey AS BIGINT) AS l_orderkey,
       CAST(bn.l_linenumber AS BIGINT) AS l_linenumber,
       {contrib_cols},
       round((e1 + e2) + (SELECT b FROM base), 4) AS bias
FROM binned bn, b1 bb1, b2 bb2, ev
WHERE bn.l_orderkey % 50 = 0"""


def _train_depth2_sql() -> str:
    """DuckDB twin of q_train_depth2: root split, node routing, per-node
    histograms/argmax, four leaf weights, margin-update checksum."""
    feats = _BS_FEATURES
    B = 8
    ctes = _rank_cut_ctes(feats, B)
    bin_cols = ",\n         ".join(
        f"(SELECT count(*) FROM cut_{f} c WHERE c.cut < l.{f}) AS bin_{f}"
        for f in feats)
    ctes.append(f"""binned AS MATERIALIZED (
  SELECT l_extendedprice / 1000.0 AS y,
         {bin_cols}
  FROM lineitem l),
base AS (SELECT round(avg(y), 6) AS b FROM binned)""")
    pick_bin = ("CASE bb.feature " + " ".join(
        f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])
        + f" ELSE bin_{feats[-1]} END")
    hist0 = " UNION ALL ".join(
        f"""SELECT '{f}' AS feature, bin_{f} AS bin,
       round(sum(b - y), 4) AS sum_g, CAST(count(*) AS DOUBLE) AS sum_h
  FROM binned, base GROUP BY 2""" for f in feats)
    ctes.append(f"""h0 AS ({hist0}),
s0 AS (
  SELECT feature, bin,
         sum(sum_g) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER (PARTITION BY feature) AS gt,
         sum(sum_h) OVER (PARTITION BY feature) AS ht,
         max(bin) OVER (PARTITION BY feature) AS mx
  FROM h0),
g0 AS (
  SELECT feature, bin, gl, hl, gt - gl AS gr, ht - hl AS hr,
         gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
  FROM s0 WHERE bin < mx),
b0 AS (
  SELECT feature, bin, round(gain, 4) AS gain,
         round(-gl/(hl+1.0), 6) AS wl, round(-gr/(hr+1.0), 6) AS wr
  FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, feature ASC, bin ASC) AS rk
        FROM g0)
  WHERE rk = 1),
routed AS MATERIALIZED (
  SELECT binned.*,
         CASE WHEN ({pick_bin}) <= bb.bin THEN 1 ELSE 2 END AS node
  FROM binned, b0 bb)""")
    hist1 = " UNION ALL ".join(
        f"""SELECT node, '{f}' AS feature, bin_{f} AS bin,
       round(sum(b - y), 4) AS sum_g, CAST(count(*) AS DOUBLE) AS sum_h
  FROM routed, base GROUP BY 1, 3""" for f in feats)
    ctes.append(f"""h1 AS ({hist1}),
s1 AS (
  SELECT node, feature, bin,
         sum(sum_g) OVER (PARTITION BY node, feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (PARTITION BY node, feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER (PARTITION BY node, feature) AS gt,
         sum(sum_h) OVER (PARTITION BY node, feature) AS ht,
         max(bin) OVER (PARTITION BY node, feature) AS mx
  FROM h1),
g1 AS (
  SELECT node, feature, bin, gl, hl, gt - gl AS gr, ht - hl AS hr,
         gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
  FROM s1 WHERE bin < mx),
b1 AS (
  SELECT node, feature, bin, round(gain, 4) AS gain,
         round(-gl/(hl+1.0), 6) AS wl, round(-gr/(hr+1.0), 6) AS wr
  FROM (SELECT *, row_number() OVER (PARTITION BY node ORDER BY round(gain, 4) DESC, feature ASC, bin ASC) AS rk
        FROM g1)
  WHERE rk = 1),
p AS MATERIALIZED (
  SELECT r.node, b.b + 0.3 * (CASE WHEN r.node = 1
      THEN (CASE WHEN (CASE c1.feature {' '.join(f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])} ELSE bin_{feats[-1]} END) <= c1.bin THEN c1.wl ELSE c1.wr END)
      ELSE (CASE WHEN (CASE c2.feature {' '.join(f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])} ELSE bin_{feats[-1]} END) <= c2.bin THEN c2.wl ELSE c2.wr END)
      END) AS pv
  FROM routed r, base b,
       (SELECT * FROM b1 WHERE node = 1) c1,
       (SELECT * FROM b1 WHERE node = 2) c2),
ps AS (SELECT round(sum(pv), 2) AS pred_sum FROM p)""")
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(0 AS BIGINT) AS node, feature, CAST(bin AS BIGINT) AS best_bin,
       gain AS best_gain, wl AS w_left, wr AS w_right,
       (SELECT pred_sum FROM ps) AS pred_sum
FROM b0
UNION ALL
SELECT CAST(node AS BIGINT), feature, CAST(bin AS BIGINT), gain, wl, wr,
       (SELECT pred_sum FROM ps)
FROM b1"""


def _bpe_ctes(n_merges: int) -> str:
    """Shared DuckDB CTE chain replaying bpe_train's vocabulary
    iteration: v0 = word vocab as space-joined SENTINEL-WRAPPED symbol
    strings (\\x01..\\x02 — boundaries are unambiguous, so a merge can
    never match across two symbols); per step i: pair counts p{i},
    argmax b{i} (count desc, pair asc), merged vocab v{i}.  The merged
    wrapped symbol is the pair with its inner '\\x02 \\x01' boundary
    removed.  Control bytes are embedded in the SQL literals directly
    — both engines treat them as ordinary characters."""
    from xgboost_spark.operators.bpe import S1, S2
    ctes = [f"""v0 AS (
  SELECT word,
         trim(regexp_replace(word, '(.)', '{S1}\\1{S2} ', 'g')) AS seq, cnt
  FROM (SELECT word, count(*) AS cnt FROM (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS word
          FROM documents) u
        WHERE length(word) > 0
          AND strpos(word, '{S1}') = 0 AND strpos(word, '{S2}') = 0
        GROUP BY word))"""]
    for i in range(1, n_merges + 1):
        ctes.append(f"""p{i} AS (
  SELECT pair, sum(cnt) AS n FROM (
    SELECT unnest([syms[j] || ' ' || syms[j+1]
                   for j in generate_series(1, len(syms) - 1)]) AS pair, cnt
    FROM (SELECT string_split(seq, ' ') AS syms, cnt FROM v{i - 1})) pp
  GROUP BY pair),
b{i} AS (SELECT pair, n FROM p{i} ORDER BY n DESC, pair ASC LIMIT 1),
v{i} AS (
  SELECT word, replace(seq, b.pair, replace(b.pair, '{S2} {S1}', '')) AS seq, cnt
  FROM v{i - 1}, b{i} b)""")
    return ", ".join(ctes)


def _bpe_merges_sql(n_merges: int = 4) -> str:
    from xgboost_spark.operators.bpe import S1, S2
    strip = (f"replace(replace(string_split(pair, ' ')[{{k}}], "
             f"'{S1}', ''), '{S2}', '')")
    selects = [f"""SELECT CAST({i} AS BIGINT) AS step,
       {strip.format(k=1)} AS a, {strip.format(k=2)} AS b,
       {strip.format(k=1)} || {strip.format(k=2)} AS merged,
       CAST(n AS BIGINT) AS n
FROM b{i}""" for i in range(1, n_merges + 1)]
    return f"WITH {_bpe_ctes(n_merges)}\n" + "\nUNION ALL\n".join(selects)


def _bpe_tokens_sql(n_merges: int = 4) -> str:
    from xgboost_spark.operators.bpe import S1, S2
    return f"""WITH {_bpe_ctes(n_merges)},
w AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS word
    FROM documents) u
  WHERE length(word) > 0
    AND strpos(word, '{S1}') = 0 AND strpos(word, '{S2}') = 0)
SELECT CAST(w.doc_id AS BIGINT) AS id,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(len(string_split(v.seq, ' '))) AS BIGINT) AS n_tokens
FROM w JOIN v{n_merges} v USING (word)
GROUP BY w.doc_id"""


def _stream_distinct_oracle_sql(p: int = 8) -> str:
    """DuckDB twin of q_stream_distinct: per-hour HLL registers of
    user_id and the same estimate arithmetic."""
    m = 1 << p
    width = 48 - p
    alpha_m2 = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    return f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS ws,
         ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events WHERE user_id IS NOT NULL),
r AS (
  SELECT ws, h % {m} AS bucket,
         max(CASE WHEN (h // {m}) = 0 THEN {width + 1}
                  ELSE {width + 1} - length(bin(h // {m})) END) AS register
  FROM h GROUP BY 1, 2),
a AS (
  SELECT ws, count(*) AS n_used,
         sum(power(2.0, -register)) AS s_used
  FROM r GROUP BY 1),
e AS (
  SELECT ws, n_used,
         {alpha_m2} / (s_used + ({m} - n_used)) AS est,
         {m} - n_used AS zeros
  FROM a)
SELECT epoch_us(ws) AS w_start, CAST(n_used AS BIGINT) AS n_used,
       round(CASE WHEN n_used = 0 THEN 0.0
                  WHEN est <= 2.5 * {m} AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / zeros)
                  ELSE est END, 4) AS estimate
FROM e"""


def _hll_oracle_sql(p: int = 10) -> str:
    """DuckDB twin of cardsketch.hll_estimate on events.event_id: same
    md5 registers (bit-length via bin-string — integer exact), same
    alpha literal (repr of the identical python double Spark inlines)."""
    m = 1 << p
    width = 48 - p
    alpha_m2 = repr((0.7213 / (1.0 + 1.079 / m)) * m * m)
    return f"""
WITH h AS (
  SELECT ('0x' || substr(md5('hll:' || CAST(event_id AS VARCHAR)), 1, 12))::BIGINT AS h
  FROM events WHERE event_id IS NOT NULL),
r AS (
  SELECT h % {m} AS bucket,
         max(CASE WHEN (h // {m}) = 0 THEN {width + 1}
                  ELSE {width + 1} - length(bin(h // {m})) END) AS register
  FROM h GROUP BY 1),
a AS (
  SELECT count(*) AS n_used,
         sum(power(2.0, -register)) AS s_used
  FROM r),
e AS (
  SELECT n_used,
         {alpha_m2} / (s_used + ({m} - n_used)) AS est,
         {m} - n_used AS zeros
  FROM a)
SELECT CAST({m} AS BIGINT) AS m, CAST(n_used AS BIGINT) AS n_used,
       round(CASE WHEN n_used = 0 THEN 0.0
                  WHEN est <= 2.5 * {m} AND zeros > 0
                  THEN {float(m)!r} * ln({float(m)!r} / zeros)
                  ELSE est END, 4) AS estimate
FROM e"""


def _cms_oracle_sql(width: int = 256, depth: int = 4) -> str:
    """DuckDB twin of cardsketch.cms_estimate over event_type: same
    md5-salted rows, same min-over-rows upper bound."""
    hash_rows = " UNION ALL ".join(
        f"""SELECT {d} AS d,
       ('0x' || substr(md5('cms{d}:' || event_type), 1, 12))::BIGINT % {width} AS bucket,
       event_type
  FROM events""" for d in range(depth))
    probe_rows = " UNION ALL ".join(
        f"""SELECT item, cnt, {d} AS d,
       ('0x' || substr(md5('cms{d}:' || item), 1, 12))::BIGINT % {width} AS bucket
  FROM items""" for d in range(depth))
    return f"""
WITH hashes AS ({hash_rows}),
counters AS (SELECT d, bucket, count(*) AS c FROM hashes GROUP BY 1, 2),
items AS (
  SELECT event_type AS item, count(*) AS cnt FROM events
  GROUP BY 1 ORDER BY count(*) DESC, event_type ASC LIMIT 10),
probes AS ({probe_rows})
SELECT p.item, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est, CAST(any_value(p.cnt) AS BIGINT) AS cnt
FROM probes p LEFT JOIN counters c USING (d, bucket)
GROUP BY p.item"""


def _embedding_cov_sql(d: int = 8) -> str:
    """DuckDB twin of q_embedding_cov: same sample-covariance formula
    over the first d dims, generated per (i, j) pair."""
    rows = []
    for i in range(1, d + 1):
        for j in range(i, d + 1):
            rows.append(f"""SELECT CAST({i} AS BIGINT) AS i, CAST({j} AS BIGINT) AS j,
       round((sum(v[{i}] * v[{j}]) - sum(v[{i}]) * sum(v[{j}]) / count(*))
             / (count(*) - 1), 6) AS cov
  FROM n""")
    return ("WITH n AS (SELECT embedding[1:" + str(d) + "]::DOUBLE[] AS v "
            "FROM embeddings)\n" + "\nUNION ALL\n".join(rows))


def _bloom_oracle_sql(m_bits: int = 1 << 16, k: int = 4) -> str:
    """DuckDB twin of q_bloom_contains: identical md5-salted bit
    positions, all-k-bits membership rule."""
    def bit_expr(src: str) -> str:
        return ", ".join(
            f"('0x' || substr(md5('bloom{d}:' || {src}), 1, 12))::BIGINT % {m_bits}"
            for d in range(k))
    return f"""
WITH w AS (
  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS word
  FROM documents),
bench AS (SELECT DISTINCT word FROM w
          WHERE length(word) > 0 AND source IN ('src0', 'src1')),
corpus AS (SELECT DISTINCT word FROM w
           WHERE length(word) > 0 AND source NOT IN ('src0', 'src1')),
bits AS (SELECT DISTINCT bit FROM (
           SELECT unnest([{bit_expr('word')}]) AS bit FROM bench)),
probe AS (SELECT word, unnest([{bit_expr('word')}]) AS bit FROM corpus),
hits AS (SELECT p.word, count(*) AS n FROM probe p JOIN bits USING (bit)
         GROUP BY p.word)
SELECT c.word, coalesce(h.n, 0) = {k} AS maybe_present,
       (b.word IS NOT NULL) AS is_member
FROM corpus c
LEFT JOIN hits h ON h.word = c.word
LEFT JOIN bench b ON b.word = c.word"""


def _train_softmax_sql() -> str:
    """DuckDB twin of q_train_softmax: per round, three per-class
    hist/scan/argmax chains fed by the round-START margins, then one
    margin-update CTE consuming all three best splits."""
    feats = _BS_FEATURES
    B = 8
    ctes = _rank_cut_ctes(feats, B)
    bin_cols = ",\n         ".join(
        f"(SELECT count(*) FROM cut_{f} c WHERE c.cut < l.{f}) AS bin_{f}"
        for f in feats)
    ctes.append(f"""p0 AS MATERIALIZED (
  SELECT CAST(l_linenumber % 3 AS DOUBLE) AS y3,
         CAST(0.0 AS DOUBLE) AS m0, CAST(0.0 AS DOUBLE) AS m1,
         CAST(0.0 AS DOUBLE) AS m2,
         {bin_cols}
  FROM lineitem l)""")

    def pick_bin(alias: str) -> str:
        return ("CASE " + alias + ".feature " + " ".join(
            f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])
            + f" ELSE bin_{feats[-1]} END")

    def prob(k: int) -> str:
        mx = "greatest(m0, m1, m2)"
        z = " + ".join(f"exp(m{j} - {mx})" for j in range(3))
        return f"(exp(m{k} - {mx}) / ({z}))"

    for r in (1, 2):
        src = f"p{r - 1}"
        for k in range(3):
            p = prob(k)
            g = f"({p} - CASE WHEN y3 = {k} THEN 1.0 ELSE 0.0 END)"
            h = f"(2.0 * {p} * (1.0 - {p}))"
            hist = " UNION ALL ".join(
                f"""SELECT '{f}' AS feature, bin_{f} AS bin,
       round(sum({g}), 4) AS sum_g, round(sum({h}), 4) AS sum_h
  FROM {src} GROUP BY 2""" for f in feats)
            ctes.append(f"""h{r}c{k} AS ({hist}),
s{r}c{k} AS (
  SELECT feature, bin,
         sum(sum_g) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER (PARTITION BY feature) AS gt,
         sum(sum_h) OVER (PARTITION BY feature) AS ht,
         max(bin) OVER (PARTITION BY feature) AS mx
  FROM h{r}c{k}),
g{r}c{k} AS (
  SELECT feature, bin, gl, hl, gt - gl AS gr, ht - hl AS hr,
         gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
  FROM s{r}c{k} WHERE bin < mx),
b{r}c{k} AS (
  SELECT feature, bin, round(gain, 4) AS gain,
         round(-gl/(hl+1.0), 6) AS wl, round(-gr/(hr+1.0), 6) AS wr
  FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, feature ASC, bin ASC) AS rk
        FROM g{r}c{k})
  WHERE rk = 1)""")
        upd = ", ".join(
            f"m{k} + 0.3 * (CASE WHEN ({pick_bin(f'bb{k}')}) <= bb{k}.bin "
            f"THEN bb{k}.wl ELSE bb{k}.wr END) AS m{k}"
            for k in range(3))
        ctes.append(f"""p{r} AS MATERIALIZED (
  SELECT {src}.* REPLACE ({upd})
  FROM {src}, b{r}c0 bb0, b{r}c1 bb1, b{r}c2 bb2),
st{r} AS (
  SELECT round(sum(m0), 2) AS ms0, round(sum(m1), 2) AS ms1,
         round(sum(m2), 2) AS ms2
  FROM p{r})""")
    selects = []
    for r in (1, 2):
        for k in range(3):
            selects.append(f"""SELECT CAST({r} AS BIGINT) AS round, CAST({k} AS BIGINT) AS class,
       feature, CAST(bin AS BIGINT) AS best_bin, gain AS best_gain,
       wl AS w_left, wr AS w_right,
       (SELECT ms{k} FROM st{r}) AS margin_sum
FROM b{r}c{k}""")
    return f"WITH {', '.join(ctes)}\n" + "\nUNION ALL\n".join(selects)


def _train_logistic_sql() -> str:
    """DuckDB twin of q_train_logistic: two binary:logistic rounds with
    real (non-unit) hessian histograms, generated like _train_stump_sql
    but with sigmoid gradients and a logloss metric per round."""
    feats = _BS_FEATURES
    B = 8
    ctes = _rank_cut_ctes(feats, B)
    bin_cols = ",\n         ".join(
        f"(SELECT count(*) FROM cut_{f} c WHERE c.cut < l.{f}) AS bin_{f}"
        for f in feats)
    ctes.append(f"""binned AS MATERIALIZED (
  SELECT CAST(l_linenumber % 2 AS DOUBLE) AS y,
         CAST(0.0 AS DOUBLE) AS m,
         {bin_cols}
  FROM lineitem l)""")
    pick_bin = ("CASE bb.feature " + " ".join(
        f"WHEN '{f}' THEN bin_{f}" for f in feats[:-1])
        + f" ELSE bin_{feats[-1]} END")

    def round_ctes(r: int, src: str) -> str:
        hist = " UNION ALL ".join(
            f"""SELECT '{f}' AS feature, bin_{f} AS bin,
       round(sum(1.0/(1.0+exp(-m)) - y), 4) AS sum_g,
       round(sum((1.0/(1.0+exp(-m))) * (1.0 - 1.0/(1.0+exp(-m)))), 4) AS sum_h
  FROM {src} GROUP BY 2""" for f in feats)
        return f"""h{r} AS ({hist}),
s{r} AS (
  SELECT feature, bin,
         sum(sum_g) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (PARTITION BY feature ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER (PARTITION BY feature) AS gt,
         sum(sum_h) OVER (PARTITION BY feature) AS ht,
         max(bin) OVER (PARTITION BY feature) AS mx
  FROM h{r}),
g{r} AS (
  SELECT feature, bin, gl, hl, gt - gl AS gr, ht - hl AS hr,
         gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0) AS gain
  FROM s{r} WHERE bin < mx),
b{r} AS (
  SELECT feature, bin, round(gain, 4) AS gain,
         round(-gl/(hl+1.0), 6) AS wl, round(-gr/(hr+1.0), 6) AS wr
  FROM (SELECT *, row_number() OVER (ORDER BY round(gain, 4) DESC, feature ASC, bin ASC) AS rk
        FROM g{r})
  WHERE rk = 1)"""

    ctes.append(round_ctes(1, "binned"))
    ctes.append(f"""p1 AS MATERIALIZED (
  SELECT binned.* REPLACE (m + 0.3 * (CASE WHEN ({pick_bin}) <= bb.bin
                                      THEN bb.wl ELSE bb.wr END) AS m)
  FROM binned, b1 bb),
st1 AS (
  SELECT round(sum(m), 2) AS ms,
         round(avg(-(y * ln(1.0/(1.0+exp(-m)))
                     + (1.0-y) * ln(1.0 - 1.0/(1.0+exp(-m))))), 6) AS ll
  FROM p1)""")
    ctes.append(round_ctes(2, "p1"))
    ctes.append(f"""p2 AS MATERIALIZED (
  SELECT p1.* REPLACE (m + 0.3 * (CASE WHEN ({pick_bin}) <= bb.bin
                                  THEN bb.wl ELSE bb.wr END) AS m)
  FROM p1, b2 bb),
st2 AS (
  SELECT round(sum(m), 2) AS ms,
         round(avg(-(y * ln(1.0/(1.0+exp(-m)))
                     + (1.0-y) * ln(1.0 - 1.0/(1.0+exp(-m))))), 6) AS ll
  FROM p2)""")
    return f"""
WITH {', '.join(ctes)}
SELECT CAST(1 AS BIGINT) AS round, feature, CAST(bin AS BIGINT) AS best_bin,
       gain AS best_gain, wl AS w_left, wr AS w_right,
       (SELECT ms FROM st1) AS margin_sum, (SELECT ll FROM st1) AS logloss
FROM b1
UNION ALL
SELECT CAST(2 AS BIGINT), feature, CAST(bin AS BIGINT), gain, wl, wr,
       (SELECT ms FROM st2), (SELECT ll FROM st2)
FROM b2"""


def _simhash_oracle_sql(n_bits: int = 48) -> str:
    """DuckDB twin of operators/dedup.simhash: same md5-derived 48-bit
    token hashes, same bitwise vote (generated per-bit expressions)."""
    s_terms = ",\n         ".join(
        f"sum(((th // {2 ** j}) % 2) * 2 - 1) AS s{j}" for j in range(n_bits))
    sig = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(n_bits))
    return f"""
WITH tok AS (
  SELECT doc_id AS id, t FROM (
    SELECT doc_id, unnest(string_split_regex(lower(text), '\\s+')) AS t
    FROM documents) u
  WHERE length(t) > 0
), th AS (
  SELECT id, ('0x' || substr(md5(t), 1, 12))::BIGINT AS th FROM tok
), votes AS (
  SELECT id, {s_terms}
  FROM th GROUP BY id
)
SELECT CAST(id AS BIGINT) AS id, CAST({sig} AS BIGINT) AS simhash FROM votes"""


def _lang_id_oracle_sql() -> str:
    """Generate the stopword-vote SQL from the SAME lists the operator
    uses — argmax with earliest-language tie-break, 'unknown' when no
    stopword hits (textstats.language_id semantics)."""
    from xgboost_spark.operators.textstats import STOPWORDS
    score_exprs = []
    for lang, words in STOPWORDS.items():
        terms = []
        for w in words:
            k = len(w) + 2
            terms.append(
                f"CAST((len(p) - len(replace(p, ' {w} ', ''))) / {k} AS BIGINT)")
        score_exprs.append(f"({' + '.join(terms)}) AS s_{lang}")
    langs = list(STOPWORDS)
    m = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred = "CASE WHEN " + m + " <= 0 THEN 'unknown' "
    for l in langs[:-1]:
        pred += f"WHEN s_{l} = {m} THEN '{l}' "
    pred += f"ELSE '{langs[-1]}' END"
    return f"""
WITH p AS (SELECT lang, ' ' || lower(text) || ' ' AS p FROM documents),
s AS (SELECT lang, {', '.join(score_exprs)} FROM p)
SELECT lang, {pred} AS lang_pred, CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY 1, 2"""


def _gopher_oracle_sql() -> str:
    """DuckDB twin of operators/textstats.gopher_rules aggregated per
    source — the rule expressions are regenerated from the SAME
    stopword list and thresholds the operator uses."""
    from xgboost_spark.operators.textstats import GOPHER_EN_STOPS
    stop_hits = " + ".join(
        f"(CASE WHEN contains(' ' || lower(text) || ' ', ' {s} ') THEN 1 ELSE 0 END)"
        for s in GOPHER_EN_STOPS)
    return f"""
WITH w AS (
  SELECT source, text,
         string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents),
m AS (
  SELECT source, text, words,
         len(words) AS n_words,
         CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE)
             / greatest(len(words), 1) AS mean_wl,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         CAST(floor((length(text) - length(replace(text, '...', ''))) / 3.0) AS BIGINT) AS n_ellip,
         len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS n_alpha,
         {stop_hits} AS stop_hits
  FROM w),
r AS (
  SELECT source, n_words, mean_wl,
         (n_words >= 50 AND n_words <= 100000) AS r_word_count,
         (mean_wl >= 3.0 AND mean_wl <= 10.0) AS r_mean_word_len,
         (n_hash <= 0.1 * n_words) AS r_hash_ratio,
         (n_ellip <= 0.1 * n_words) AS r_ellipsis_ratio,
         (n_alpha >= 0.8 * n_words) AS r_alpha_words,
         (stop_hits >= 2) AS r_stop_hits
  FROM m)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r_word_count THEN 1 ELSE 0 END) AS BIGINT) AS r_word_count,
       CAST(sum(CASE WHEN r_mean_word_len THEN 1 ELSE 0 END) AS BIGINT) AS r_mean_word_len,
       CAST(sum(CASE WHEN r_hash_ratio THEN 1 ELSE 0 END) AS BIGINT) AS r_hash_ratio,
       CAST(sum(CASE WHEN r_ellipsis_ratio THEN 1 ELSE 0 END) AS BIGINT) AS r_ellipsis_ratio,
       CAST(sum(CASE WHEN r_alpha_words THEN 1 ELSE 0 END) AS BIGINT) AS r_alpha_words,
       CAST(sum(CASE WHEN r_stop_hits THEN 1 ELSE 0 END) AS BIGINT) AS r_stop_hits,
       CAST(sum(CASE WHEN r_word_count AND r_mean_word_len AND r_hash_ratio
                      AND r_ellipsis_ratio AND r_alpha_words AND r_stop_hits
                THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       round(avg(mean_wl), 6) AS avg_mean_word_len
FROM r GROUP BY source"""


def _zorder_oracle_sql() -> str:
    """DuckDB twin of q_zorder: same normalize + clamp + bit interleave
    (generated shift/AND expressions, 8 bits x 2 dims)."""
    dims = [("l_partkey", 0.0, 20000.0), ("l_suppkey", 0.0, 1000.0)]
    qs = ", ".join(
        f"greatest(0, least(255, CAST(floor(({c} - {lo}) / {hi - lo} * 255 + 0.5) AS BIGINT))) AS q{i}"
        for i, (c, lo, hi) in enumerate(dims))
    z = " + ".join(f"(((q{i} >> {b}) & 1) << {2 * b + i})"
                   for b in range(8) for i in range(len(dims)))
    return f"""
WITH q AS (SELECT {qs} FROM lineitem),
z AS (SELECT {z} AS zkey FROM q)
SELECT CAST(zkey // 256 AS BIGINT) AS zbucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(zkey) AS BIGINT) AS sum_zkey
FROM z GROUP BY 1"""


def _linear_seq_sql(feats: list[str], rounds: int, eta: float,
                    lam: float, y_sql: str, out_dp: int = 4) -> str:
    """DuckDB replay of the round-11 gblinear sequential semantics
    (updater_shotgun.cc single-thread): bias-first with residual
    propagation, CoordinateDelta at current residuals (alpha = 0 makes
    the zero-crossing clamp inert: dw = -(gx + lam_d*w)/(Sff + lam_d),
    gated on the RAW hessian sum Sff >= 1e-5), lambda DENORMALIZED by
    the row count.  Emitted as a chain of CTEs each adding ONE scalar
    column, so expressions stay flat."""
    nf = len(feats)
    sums = ["count(*)::DOUBLE AS n", "sum(y) AS Sy"]
    for i in range(nf):
        sums.append(f"sum(x{i}) AS S{i}")
        sums.append(f"sum(y * x{i}) AS Y{i}")
    for i in range(nf):
        for j in range(i, nf):
            sums.append(f"sum(x{i} * x{j}) AS S{i}_{j}")
    src_cols = ", ".join([f"{y_sql} AS y"]
                         + [f"{f} AS x{i}" for i, f in enumerate(feats)])
    ctes = [f"s AS (SELECT {', '.join(sums)} "
            f"FROM (SELECT {src_cols} FROM lineitem))"]

    def sxx(i, j):
        a, b = min(i, j), max(i, j)
        return f"S{a}_{b}"

    w = ["0.0"] * nf          # running weight column names / literals
    bias_terms = []           # db_r column names
    step = 0
    for r in range(rounds):
        w_start = list(w)     # weights at round start: the gx base and
                              # the lambda*w term use THESE; in-round
                              # residual propagation rides on `done`
        tot_b = " + ".join(["(Sy / n)"] + bias_terms) or "(Sy / n)"
        wsum_n = " + ".join([f"{w_start[i]} * S{i}" for i in range(nf)])
        G = f"(({tot_b}) * n + {wsum_n} - Sy)"
        db = f"db_{r}"
        ctes.append(f"c{step} AS (SELECT *, {eta} * (-({G}) / n) AS {db} "
                    f"FROM {'s' if step == 0 else f'c{step - 1}'})")
        step += 1
        done = []             # (feature index, dw column) this round
        for i in range(nf):
            gx = (f"(({tot_b}) * S{i} "
                  + "".join(f"+ {w_start[j]} * {sxx(i, j)} "
                            for j in range(nf))
                  + f"- Y{i} + {db} * S{i}"
                  + "".join(f" + {dwc} * {sxx(i, j)}" for j, dwc in done)
                  + ")")
            dw = f"dw_{i}_{r}"
            lam_d = f"({lam} * n)"
            ctes.append(
                f"c{step} AS (SELECT *, CASE WHEN S{i}_{i} < 1e-5 THEN 0.0 "
                f"ELSE {eta} * (-(({gx}) + {lam_d} * {w_start[i]}) "
                f"/ (S{i}_{i} + {lam_d})) END AS {dw} FROM c{step - 1})")
            step += 1
            done.append((i, dw))
            w[i] = f"({w_start[i]} + {dw})"
        bias_terms.append(db)
    bias_out = " + ".join(["(Sy / n)"] + bias_terms)
    outs = [f"SELECT '{f}' AS feature, round({w[i]}, {out_dp}) AS weight "
            f"FROM c{step - 1}" for i, f in enumerate(feats)]
    outs.append(f"SELECT '__bias__', round({bias_out}, {out_dp}) "
                f"FROM c{step - 1}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(outs))


def _linear_multigroup_seq_sql() -> str:
    """DuckDB replay of one multigroup (4-class softprob) gblinear
    round with the round-11 sequential semantics: margins all equal at
    round start => p = 1/4 exactly (dyadic), g_k = 1/4 - [label = k],
    constant hessian h = 3/8 per row (dyadic => order-independent exact
    sums); per group k the bias updates first then the 3 coordinates
    sequentially (lambda_d = 0 — no explicit lambda, linear
    defaults)."""
    feats = ["l_quantity", "l_discount", "l_tax"]
    nf = 3
    h = "(3.0/8.0)"
    sums = ["count(*)::DOUBLE AS n"]
    for i in range(nf):
        sums.append(f"sum(x{i}) AS S{i}")
        for j in range(i, nf):
            sums.append(f"sum(x{i} * x{j}) AS S{i}_{j}")
    for k in range(4):
        sums.append(f"sum(CASE WHEN lbl = {k} THEN 1.0 ELSE 0.0 END) AS N{k}")
        for i in range(nf):
            sums.append(f"sum(CASE WHEN lbl = {k} THEN x{i} ELSE 0.0 END) "
                        f"AS K{k}_{i}")
    src = ", ".join([f"{f} AS x{i}" for i, f in enumerate(feats)]
                    + ["l_linenumber % 4 AS lbl"])
    ctes = [f"s AS (SELECT {', '.join(sums)} "
            f"FROM (SELECT {src} FROM lineitem))"]

    def sxx(i, j):
        a, b = min(i, j), max(i, j)
        return f"S{a}_{b}"

    step = 0
    out_rows = []
    for k in range(4):
        G = f"(n / 4.0 - N{k})"
        db = f"db{k}"
        ctes.append(f"c{step} AS (SELECT *, 0.5 * (-({G}) / ({h} * n)) "
                    f"AS {db} FROM {'s' if step == 0 else f'c{step - 1}'})")
        step += 1
        done = []
        ws = []
        for i in range(nf):
            gx = (f"(S{i} / 4.0 - K{k}_{i} + {db} * {h} * S{i}"
                  + "".join(f" + {dwc} * {h} * {sxx(i, j)}"
                            for j, dwc in done) + ")")
            dw = f"dw{k}_{i}"
            ctes.append(
                f"c{step} AS (SELECT *, CASE WHEN {h} * S{i}_{i} < 1e-5 "
                f"THEN 0.0 ELSE 0.5 * (-({gx}) / ({h} * S{i}_{i})) END "
                f"AS {dw} FROM c{step - 1})")
            step += 1
            done.append((i, dw))
            ws.append(dw)
        for i, f in enumerate(feats):
            out_rows.append(f"SELECT '{f}' AS feature, {k} AS class, "
                            f"round({ws[i]}, 4) AS weight FROM c{step - 1}")
        out_rows.append(f"SELECT '__bias__', {k}, round(0.5 + {db}, 4) "
                        f"FROM c{step - 1}")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(out_rows))


def oracle_sql() -> dict[str, str]:
    shingle_cte = """sh AS (
  SELECT DISTINCT doc_id AS id, sh AS shingle FROM (
    SELECT doc_id, unnest([array_to_string(words[i:i+2], ' ')
                           for i in range(1, len(words) - 1)]) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents) w)
)"""
    d = {
        "train_stump": _train_stump_sql(),
        "train_depth2": _train_depth2_sql(),
        "train_importance": _train_importance_sql(),
        "train_tree_nodes": _train_tree_nodes_sql(),
        "train_predict": _train_predict_sql(),
        "train_dart": _train_dart_sql(),
        # genuine reference-dialect model imports (round 10): the oracle
        # replays the loaded model's serving math — weighted tree-walk
        # CASEs / the linear expression — over the same parquet
        "ref_dart_import": """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN l_quantity < 25.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_q_left,
       round(sum(0.5
             + 0.5  * (CASE WHEN l_quantity < 25.5 THEN -0.25 ELSE 0.75 END)
             + 0.25 * (CASE WHEN l_discount < 0.045 THEN 0.5 ELSE -1.25 END)),
             6) AS margin_sum
FROM lineitem
""",
        "ref_gblinear_import": """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(m), 4) AS margin_sum,
       round(sum(1.0 / (1.0 + exp(-m))), 4) AS pred_sum
FROM (SELECT 0.5 * l_quantity - 0.25 * l_discount + 2.0 AS m FROM lineitem)
""",
        "train_shap": _train_shap_sql(),
        "train_linear": _linear_seq_sql(
            _LIN_FEATS, rounds=2, eta=0.5, lam=1.0,
            y_sql="l_extendedprice / 1000.0"),
        "train_ranker": _train_ranker_sql(),
        "train_string_cat": _train_string_cat_sql(),
        "dup_spans": _dup_spans_sql(20, 2),
        "strip_spans": _strip_spans_sql(20, 2),
        "product_profit": """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       round(sum(l.l_extendedprice * (1 - l.l_discount)
                 - 0.1 * p.p_retailprice * l.l_quantity), 2) AS profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%bolt%'
GROUP BY 1, 2""",
        "important_parts": """
WITH v AS (
  SELECT l_partkey, sum(l_extendedprice * (1 - l_discount)) AS value
  FROM lineitem GROUP BY 1),
t AS (SELECT avg(value) AS av FROM v)
SELECT CAST(l_partkey AS BIGINT) AS p_partkey, round(value, 2) AS value
FROM v, t WHERE value > 1.5 * av""",
        "excess_suppliers": """
WITH q AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE year(l.l_shipdate) = 1997 AND p.p_name LIKE 'red%'
  GROUP BY 1, 2)
SELECT s.s_name, n.n_name AS nation
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM q WHERE qty > 50)""",
        "train_logistic": _train_logistic_sql(),
        "train_softmax": _train_softmax_sql(),
        "bpe_merges": _bpe_merges_sql(4),
        "bpe_tokens": _bpe_tokens_sql(4),
        "min_acctbal_supplier": """
WITH sup AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'),
pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
sp AS (
  SELECT p.l_partkey, s.* FROM pairs p JOIN sup s ON p.l_suppkey = s.s_suppkey),
mins AS (SELECT l_partkey, min(s_acctbal) AS min_bal FROM sp GROUP BY 1)
SELECT CAST(sp.l_partkey AS BIGINT) AS p_partkey,
       CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, n_name,
       round(s_acctbal, 2) AS s_acctbal
FROM sp JOIN mins USING (l_partkey)
WHERE s_acctbal = min_bal
ORDER BY sp.l_partkey ASC, s_suppkey ASC
LIMIT 50""",

        "waiting_suppliers": """
WITH f AS (SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderstatus = 'F'),
slow AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey
  WHERE l.l_shipdate > f.o_orderdate + INTERVAL 60 DAY),
allsup AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN f ON l.l_orderkey = f.o_orderkey),
only_slow AS (
  SELECT a.l_orderkey, a.l_suppkey FROM slow a
  WHERE EXISTS (SELECT 1 FROM allsup o2
                WHERE o2.l_orderkey = a.l_orderkey
                  AND o2.l_suppkey <> a.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM slow s2
                    WHERE s2.l_orderkey = a.l_orderkey
                      AND s2.l_suppkey <> a.l_suppkey))
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM only_slow JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_name ASC, s_suppkey ASC
LIMIT 10""",

        "supplier_part_counts": """
WITH pairs AS (
  SELECT DISTINCT p_brand, p_size, l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size >= 40)
SELECT p_brand, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_size""",

        "top_supplier": """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-07-01'
    AND l_shipdate < TIMESTAMP '1997-10-01'
  GROUP BY 1)
SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",

        "hll_distinct": _hll_oracle_sql(10),
        "cms_topk": _cms_oracle_sql(256, 4),
        "bloom_contains": _bloom_oracle_sql(),
        "embedding_cov": _embedding_cov_sql(8),

        # closed-form replay of the dart normalize_type=tree rule with
        # rate_drop=1: tree i enters at weight 1/((i-1)+0.3) (1.0 for
        # the first) and is rescaled by (j-1)/((j-1)+0.3) at each later
        # round j; the product is replayed via exp/ln (<=4 terms, error
        # ~1e-16, rounded 6dp)
        "dart_weights": """
WITH r AS (SELECT unnest(generate_series(1, 5)) AS i),
w AS (
  SELECT a.i,
         (CASE WHEN a.i = 1 THEN 1.0 ELSE 1.0 / ((a.i - 1) + 0.3) END)
         * coalesce(exp(sum(ln((b.i - 1.0) / ((b.i - 1) + 0.3)))), 1.0) AS wt
  FROM r a LEFT JOIN r b ON b.i > a.i
  GROUP BY a.i)
SELECT CAST(i AS BIGINT) AS tree, round(wt, 6) AS tree_weight FROM w""",

        "fit_stump": """
SELECT round(avg(l_extendedprice), 6) AS base_score,
       CAST(count(*) AS BIGINT) AS n_rows FROM lineitem""",

        "cox_grad": """
WITH d AS (
  SELECT event_id % 8 AS b,
         value + (event_id % 1000) * 1e-6 AS t,
         CASE WHEN event_id % 3 <> 0 THEN 1.0 ELSE 0.0 END AS ev,
         0.1 * (event_id % 5) AS m
  FROM events),
per_t AS (SELECT t, sum(exp(m)) AS e, sum(ev) AS dw FROM d GROUP BY t),
s AS (SELECT t, dw,
        sum(e) OVER (ORDER BY t ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS S
      FROM per_t),
r AS (SELECT t,
        sum(dw / S) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS R,
        sum(dw / (S * S)) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS R2
      FROM s)
SELECT b, round(sum(exp(m) * R - ev), 4) AS sum_g,
       round(sum(greatest(exp(m) * R - exp(2 * m) * R2, 1e-16)), 4) AS sum_h,
       CAST(count(*) AS BIGINT) AS n
FROM d JOIN r ON d.t = r.t
GROUP BY b""",

        "aft_grad": """
WITH d AS (
  SELECT CAST(l_linenumber % 4 AS BIGINT) AS ct,
         CAST(l_quantity AS DOUBLE) AS yl,
         l_discount * 2.0 AS m
  FROM lineitem),
z AS (
  SELECT ct,
         1.0 / (1.0 + exp(-(ln(yl) - m))) AS sl,
         1.0 / (1.0 + exp(-(ln(yl * 1.5) - m))) AS su
  FROM d),
gh AS (
  SELECT ct,
    CASE WHEN ct = 0 THEN -sl                                  -- right-censored: -hazard
         WHEN ct = 1 THEN (su*(1-su) - sl*(1-sl)) / (su - sl)  -- interval
         ELSE 1.0 - 2.0 * sl END AS g,                         -- uncensored
    CASE WHEN ct = 0 THEN sl * (1 - sl)
         WHEN ct = 1 THEN ((sl*(1-sl) - su*(1-su)) * (sl*(1-sl) - su*(1-su))
                           - (su*(1-su)*(1-2*su) - sl*(1-sl)*(1-2*sl)) * (su - sl))
                          / ((su - sl) * (su - sl))
         ELSE 2.0 * sl * (1 - sl) END AS h
  FROM z)
SELECT ct, round(sum(greatest(least(g, 15.0), -15.0)), 4) AS sum_g,
       round(sum(greatest(least(h, 15.0), 1e-16)), 4) AS sum_h,
       CAST(count(*) AS BIGINT) AS n
FROM gh GROUP BY ct""",

        "prefix_scan": """
SELECT o_orderkey,
       round(sum(round(o_totalprice, 2))
             OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             2) AS running_total
FROM orders""",

        "quantile_cuts": f"""
WITH {_cuts_cte('lineitem', 'l_quantity', 16)}
SELECT CAST(k AS BIGINT) AS k, cut FROM kcuts""",

        "weighted_quantile": """
WITH d AS (SELECT l_quantity AS v, l_tax + 0.01 AS w FROM lineitem WHERE l_quantity IS NOT NULL),
c AS (SELECT v, sum(w) OVER (ORDER BY v, w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
             sum(w) OVER () AS W FROM d)
SELECT CAST(ceil(cumw * 8 / W) AS BIGINT) AS bucket, round(max(v), 6) AS cut
FROM c GROUP BY 1""",

        "quantize_hist": f"""
WITH {_cuts_cte('lineitem', 'l_extendedprice', 16)}
SELECT CAST((SELECT count(*) FROM kcuts c WHERE c.cut < l.l_extendedprice) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(25.0 - l_quantity), 4) AS sum_g
FROM lineitem l GROUP BY 1""",

        "split_scan": f"""
WITH {_cuts_cte('lineitem', 'l_extendedprice', 16)},
hist AS (
  SELECT CAST((SELECT count(*) FROM kcuts c WHERE c.cut < l.l_extendedprice) AS BIGINT) AS bin,
         round(sum(25.0 - l_quantity), 4) AS sum_g,
         CAST(count(*) AS DOUBLE) AS sum_h
  FROM lineitem l GROUP BY 1),
scan AS (
  SELECT bin,
         sum(sum_g) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gl,
         sum(sum_h) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(sum_g) OVER () AS gt, sum(sum_h) OVER () AS ht, max(bin) OVER () AS mx
  FROM hist)
SELECT bin, gl, hl, gt - gl AS gr, ht - hl AS hr,
       round(gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0) - gt*gt/(ht+1.0), 4) AS gain
FROM scan WHERE bin < mx""",

        "best_split": _best_split_sql(),

        "leaf_weights": f"""
WITH {_cuts_cte('lineitem', 'l_quantity', 2)}
SELECT CASE WHEN l_quantity <= (SELECT cut FROM kcuts) THEN 'L' ELSE 'R' END AS side,
       round(-round(sum(25.0 - l_quantity), 4) / (count(*) + 1.0), 6) AS weight,
       CAST(count(*) AS BIGINT) AS cover
FROM lineitem GROUP BY 1""",

        "row_partition": f"""
WITH {_cuts_cte('lineitem', 'l_quantity', 2)}
SELECT CAST(CASE WHEN l_quantity <= (SELECT cut FROM kcuts) THEN 1 ELSE 2 END AS BIGINT) AS node,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(l_extendedprice), 4) AS avg_y
FROM lineitem GROUP BY 1""",

        "subsample": """
SELECT CAST(CASE WHEN (l_orderkey * 2654435761 + l_linenumber * 97) % 100 < 80
            THEN 1 ELSE 0 END AS BIGINT) AS kept,
       CAST(count(*) AS BIGINT) AS n,
       round(avg(l_quantity), 6) AS avg_qty
FROM lineitem GROUP BY 1""",

        "logistic_grad": """
WITH d AS (
  SELECT CAST(label % 2 AS BIGINT) AS label,
         1.0/(1.0 + exp(-(embedding[1]::DOUBLE))) AS p,
         CAST(label % 2 AS DOUBLE) AS y
  FROM embeddings)
SELECT label, round(sum(p - y), 6) AS sum_g,
       round(sum(p * (1 - p)), 6) AS sum_h,
       CAST(count(*) AS BIGINT) AS n
FROM d GROUP BY label""",

        "softmax_grad": """
WITH m AS (
  SELECT label % 3 AS y3,
         embedding[1]::DOUBLE AS m0, embedding[2]::DOUBLE AS m1, embedding[3]::DOUBLE AS m2,
         greatest(embedding[1]::DOUBLE, embedding[2]::DOUBLE, embedding[3]::DOUBLE) AS mx
  FROM embeddings),
e AS (SELECT y3, exp(m0 - mx) AS e0, exp(m1 - mx) AS e1, exp(m2 - mx) AS e2 FROM m),
g AS (
  SELECT CAST(0 AS BIGINT) AS class, e0/(e0+e1+e2) - (CASE WHEN y3 = 0 THEN 1.0 ELSE 0.0 END) AS g FROM e
  UNION ALL
  SELECT CAST(1 AS BIGINT), e1/(e0+e1+e2) - (CASE WHEN y3 = 1 THEN 1.0 ELSE 0.0 END) FROM e
  UNION ALL
  SELECT CAST(2 AS BIGINT), e2/(e0+e1+e2) - (CASE WHEN y3 = 2 THEN 1.0 ELSE 0.0 END) FROM e)
SELECT class, round(sum(g), 6) AS sum_g FROM g GROUP BY class""",

        "metric_regression": """
WITH d AS (SELECT 4.5 + 3.0 * (embedding[2]::DOUBLE) AS pred, CAST(label AS DOUBLE) AS y FROM embeddings)
SELECT round(sqrt(avg((pred - y) * (pred - y))), 6) AS rmse,
       round(avg(abs(pred - y)), 6) AS mae FROM d""",

        "metric_logloss": """
WITH d AS (
  SELECT embedding[1]::DOUBLE AS m, CAST(label % 2 AS DOUBLE) AS y,
         1.0/(1.0 + exp(-(embedding[1]::DOUBLE))) AS p
  FROM embeddings)
SELECT round(avg(-(y * ln(p) + (1 - y) * ln(1 - p))), 6) AS logloss,
       round(avg(CASE WHEN (CASE WHEN m > 0 THEN 1.0 ELSE 0.0 END) <> y THEN 1.0 ELSE 0.0 END), 6) AS error
FROM d""",

        "metric_auc": """
WITH d AS (SELECT embedding[1]::DOUBLE AS s, CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
g AS (SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM d GROUP BY s),
c AS (SELECT pos, neg,
             coalesce(sum(neg) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumneg
      FROM g)
SELECT round(sum(pos * (cumneg + neg / 2)) / (sum(pos) * sum(neg)), 6) AS auc FROM c""",

        "metric_aucpr": """
WITH d AS (SELECT embedding[1]::DOUBLE AS s, CAST(label % 2 AS DOUBLE) AS y FROM embeddings),
g AS (SELECT s, sum(y) AS pos, sum(1 - y) AS neg FROM d GROUP BY s),
c AS (SELECT s, pos, neg,
             sum(pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(neg) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp,
             sum(pos) OVER () AS P
      FROM g),
seg AS (SELECT tp, tp - pos AS tp_prev,
               tp / P AS pr, (tp - pos) / P AS pr_prev,
               neg / pos AS h,
               neg / pos + 1.0 AS a,
               ((fp - neg) - neg / pos * (tp - pos)) / P AS b
        FROM c)
SELECT round(sum(CASE WHEN tp = tp_prev THEN 0.0
                      WHEN b <> 0.0 THEN (pr - pr_prev
                           - b / a * (ln(a * pr + b) - ln(a * pr_prev + b))) / a
                      ELSE (pr - pr_prev) / a END), 6) AS aucpr
FROM seg""",

        "metric_ndcg": """
WITH d AS (
  SELECT user_id, event_id,
         greatest(least(value, 100.0) / 10.0, 0.0) AS rel,
         CAST(event_id % 97 AS DOUBLE) AS score
  FROM events),
r AS (
  -- kernel tie-break (score desc, rel desc): rows tied on BOTH have
  -- equal gains, so the residual order is outcome-irrelevant
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY score DESC, rel DESC) AS rkp,
            row_number() OVER (PARTITION BY user_id ORDER BY rel DESC) AS rki
  FROM d),
pq AS (
  SELECT user_id,
         sum(CASE WHEN rkp <= 5 THEN rel / log2(rkp + 1) ELSE 0.0 END) AS dcg,
         sum(CASE WHEN rki <= 5 THEN rel / log2(rki + 1) ELSE 0.0 END) AS idcg
  FROM r GROUP BY user_id)
SELECT round(avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 1.0 END), 6) AS avg_ndcg,
       CAST(count(*) AS BIGINT) AS n_queries
FROM pq""",

        "metric_map": """
WITH d AS (
  SELECT user_id, event_id,
         CASE WHEN value > 50 THEN 1.0 ELSE 0.0 END AS rel,
         CAST(event_id % 97 AS DOUBLE) AS score
  FROM events),
r AS (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY score DESC, rel DESC) AS rk FROM d),
c AS (SELECT *, sum(rel) OVER (PARTITION BY user_id ORDER BY rk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumrel FROM r),
pq AS (
  SELECT user_id,
         sum(CASE WHEN rk <= 5 AND rel > 0 THEN cumrel / rk ELSE 0.0 END) AS apn,
         least(sum(rel), 5.0) AS denom
  FROM c GROUP BY user_id)
-- rank_metric.cc:443: a query with NO relevant docs scores 1, not 0
SELECT round(avg(CASE WHEN denom > 0 THEN apn / denom ELSE 1.0 END), 6) AS avg_map FROM pq""",

        # poisson carries compute_metric's Stirling lgamma(y+1) term
        # (functions/metrics._lgamma — Spark has no lgamma builtin, so
        # the oracle replays the SAME approximation, not exact lgamma)
        "count_family": """
WITH d AS (
  SELECT CAST(l_quantity AS DOUBLE) AS y,
         CAST(l_quantity AS DOUBLE) + 1.0 AS x
  FROM lineitem)
SELECT round(avg(exp(3.2) - y * 3.2
               + ((x - 0.5) * ln(greatest(x, 1.0)) - x
                  + 0.5 * ln(2 * pi()) + 1.0 / (12.0 * greatest(x, 1.0)))),
             6) AS poisson_nll,
       round(avg(2.0 * (ln(exp(3.2) / y) + y / exp(3.2) - 1.0)), 6)
         AS gamma_dev,
       round(avg(-(y * exp((1 - 1.5) * 3.2) / (1 - 1.5)
                   - exp((2 - 1.5) * 3.2) / (2 - 1.5))), 6) AS tweedie_nll
FROM d""",

        "dedup_exact": """
SELECT CAST(doc_id AS BIGINT) AS doc_id, source, lang
FROM (SELECT doc_id, source, lang,
             row_number() OVER (PARTITION BY md5(text)
                                ORDER BY doc_id) AS rn
      FROM documents)
WHERE rn = 1""",

        "exact_duplicates": """
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(min(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT)
         AS dup_group,
       CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
         AS group_size
FROM docs
QUALIFY count(*) OVER (PARTITION BY md5(text)) >= 2""",

        "metric_expectile": """
WITH d AS (
  SELECT CAST(label AS DOUBLE) AS y,
         4.5 + 3.0 * CAST(embedding[2] AS DOUBLE) AS m0,
         CAST(embedding[3] AS DOUBLE) AS m1,
         CAST(label % 5 AS DOUBLE) / 4.0 + 0.5 AS w
  FROM embeddings),
s AS (
  SELECT y, m0, m1, w, m0 - y AS d0,
         -- SoftPlus-stacked second prediction (EvalTransform)
         m0 + 1e-6 + (CASE WHEN m1 > 0 THEN m1 + ln(1 + exp(-m1))
                           ELSE ln(1 + exp(m1)) END) - y AS d1
  FROM d)
SELECT
  round(avg(CASE WHEN d0 >= 0 THEN 0.75 * d0 * d0
                 ELSE 0.25 * d0 * d0 END), 6) AS e25,
  round(avg(0.5 * d0 * d0), 6) AS e50,
  round(avg(CASE WHEN d0 >= 0 THEN 0.1 * d0 * d0
                 ELSE 0.9 * d0 * d0 END), 6) AS e90,
  round(sum(w * CASE WHEN d0 >= 0 THEN 0.1 * d0 * d0
                     ELSE 0.9 * d0 * d0 END) / sum(w), 6) AS e90_w,
  round(avg((CASE WHEN d0 >= 0 THEN 0.75 * d0 * d0
                  ELSE 0.25 * d0 * d0 END
             + CASE WHEN d1 >= 0 THEN 0.25 * d1 * d1
                    ELSE 0.75 * d1 * d1 END) / 2.0), 6) AS e_vec
FROM s""",

        "expectile_grad": """
WITH d AS (
  SELECT CAST(label AS DOUBLE) AS y,
         CAST(embedding[1] AS DOUBLE) AS m0,
         CAST(embedding[2] AS DOUBLE) AS m1,
         CAST(label % 4 AS BIGINT) AS bucket
  FROM embeddings),
s AS (
  SELECT bucket, y, m0, m1,
         m0 AS p0,
         -- np.cumsum grouping: m0 + (eps + softplus(m1))
         m0 + (1e-6 + (CASE WHEN m1 > 0 THEN m1 + ln(1 + exp(-m1))
                            ELSE ln(1 + exp(m1)) END)) AS p1,
         1.0 / (1.0 + exp(-m1)) AS sig1
  FROM d),
t AS (
  SELECT bucket,
         CASE WHEN p0 - y >= 0 THEN 0.7 ELSE 0.3 END AS ws0,
         p0 - y AS d0,
         CASE WHEN p1 - y >= 0 THEN 0.2 ELSE 0.8 END AS ws1,
         p1 - y AS d1,
         sig1
  FROM s)
SELECT bucket,
       round(sum((ws0 * d0) + (ws1 * d1)), 6) AS sum_g0,
       round(sum(ws0 + ws1), 6) AS sum_h0,
       round(sum(sig1 * (ws1 * d1)), 6) AS sum_g1,
       round(sum(sig1 * sig1 * ws1), 6) AS sum_h1,
       CAST(count(*) AS BIGINT) AS n
FROM t GROUP BY bucket""",

        "metric_pre": """
WITH d AS (
  SELECT user_id AS q,
         CASE WHEN user_id % 7 = 0 THEN 0.0
              ELSE floor(greatest(value - 60.0, 0.0) / 20.0) END AS y,
         CAST(event_id % 97 AS DOUBLE)
           + CAST(event_id AS DOUBLE) / 1e12 AS m0
  FROM events),
rk AS (
  SELECT q, y, m0,
         row_number() OVER (PARTITION BY q
                            ORDER BY m0 DESC, y DESC) AS rkp,
         row_number() OVER (PARTITION BY q ORDER BY y DESC) AS rki
  FROM d),
pre AS (
  SELECT q, sum(y) / count(*) AS prec FROM rk WHERE rkp <= 5 GROUP BY q),
nd AS (
  SELECT q,
         sum(CASE WHEN rkp <= 5 THEN y / log2(rkp + 1) ELSE 0 END) AS dcg,
         sum(CASE WHEN rki <= 5 THEN y / log2(rki + 1) ELSE 0 END) AS idcg
  FROM rk GROUP BY q),
mp AS (
  SELECT q,
         sum(CASE WHEN rkp <= 5 AND y > 0 THEN cumrel / rkp
                  ELSE 0 END) AS apn,
         least(sum(CASE WHEN y > 0 THEN 1.0 ELSE 0.0 END), 5.0) AS denom
  FROM (SELECT q, y, rkp,
               sum(CASE WHEN y > 0 THEN 1.0 ELSE 0.0 END)
                 OVER (PARTITION BY q ORDER BY rkp
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS cumrel
        FROM rk)
  GROUP BY q)
SELECT
  round((SELECT avg(prec) FROM pre), 6) AS avg_pre,
  round((SELECT avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 0.0 END)
         FROM nd), 6) AS ndcg_minus,
  round((SELECT avg(CASE WHEN idcg > 0 THEN dcg / idcg ELSE 1.0 END)
         FROM nd), 6) AS ndcg_plain,
  round((SELECT avg(CASE WHEN denom > 0 THEN apn / denom ELSE 0.0 END)
         FROM mp), 6) AS map_minus""",

        # replays the REAL vector-alpha quantile trainer's round
        # (q_train_multi_quantile): rank-rule cuts, pinball histograms
        # (exact binary-fraction gradients), core.py's argmax order
        # (gain desc, feature asc, bin asc), and the barrier path's
        # deterministic 2048-bin histogram leaf quantile
        # (plans/barrier._leaf_quantile_refresh) — pure IEEE arithmetic
        # in the identical operation order
        "train_multi_quantile": f"""
WITH {", ".join(_rank_cut_ctes(["l_quantity", "l_discount"], 8))},
base AS (SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS bs
         FROM lineitem),
d AS (
  SELECT l.l_orderkey AS ok, l.l_linenumber AS ln,
         l.l_extendedprice AS y,
         CAST((SELECT count(*) FROM cut_l_quantity c
               WHERE c.cut < l.l_quantity) AS BIGINT) AS bin0,
         CAST((SELECT count(*) FROM cut_l_discount c
               WHERE c.cut < l.l_discount) AS BIGINT) AS bin1
  FROM lineitem l),
sc AS (SELECT pow(sum(sqrt(abs((SELECT bs FROM base) - y)))
               / count(*), 2) AS S
       FROM d),
rowstats AS (
  SELECT ok, ln, bin0, bin1, tx,
         12.5 * greatest(CASE WHEN x = 0 THEN 1.0 ELSE tx / x END,
                         3.0e-4) AS h
  FROM (SELECT *,
               CASE WHEN x > 20 THEN 1.0 WHEN x < -20 THEN -1.0
                    ELSE (exp(2 * x) - 1.0) / (exp(2 * x) + 1.0) END AS tx
        FROM (SELECT ok, ln, bin0, bin1,
                     ((SELECT bs FROM base) - y)
                       / (0.04 * (SELECT S FROM sc)) AS x
              FROM d) t0) t1),
al AS (SELECT * FROM (VALUES (0, 0.25), (1, 0.5), (2, 0.75)) t(grp, alpha)),
fb AS (SELECT ok, ln, tx, h, 0 AS fidx, bin0 AS bin FROM rowstats
       UNION ALL SELECT ok, ln, tx, h, 1, bin1 FROM rowstats),
hist AS (
  SELECT al.grp, al.alpha, fb.fidx, fb.bin,
         sum(0.5 * (SELECT S FROM sc)
             * (fb.tx + 1.0 - 2.0 * al.alpha)) AS G,
         sum(fb.h) AS H
  FROM fb CROSS JOIN al GROUP BY 1, 2, 3, 4),
scan AS (
  SELECT grp, alpha, fidx, bin,
         sum(G) OVER (PARTITION BY grp, fidx ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS gl,
         sum(H) OVER (PARTITION BY grp, fidx ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS hl,
         sum(G) OVER (PARTITION BY grp, fidx) AS gt,
         sum(H) OVER (PARTITION BY grp, fidx) AS ht,
         max(bin) OVER (PARTITION BY grp, fidx) AS mx
  FROM hist),
best AS (
  SELECT grp, fidx, bin AS best_bin,
         0.3 * (-gl / (hl + 1.0)) AS leaf_l,
         0.3 * (-(gt - gl) / (ht - hl + 1.0)) AS leaf_r
  FROM (SELECT grp, fidx, bin, gl, hl, gt, ht,
               row_number() OVER (
                 PARTITION BY grp
                 ORDER BY gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0)
                          - gt*gt/(ht+1.0) DESC,
                          fidx ASC, bin ASC) AS rk
        FROM scan WHERE bin < mx)
  WHERE rk = 1),
served AS (
  SELECT r.ok, r.ln,
         list_sort([
           (SELECT (SELECT bs FROM base)
                   + CASE WHEN (CASE WHEN b.fidx = 0 THEN r.bin0
                                     ELSE r.bin1 END) <= b.best_bin
                          THEN b.leaf_l ELSE b.leaf_r END
            FROM best b WHERE b.grp = 0),
           (SELECT (SELECT bs FROM base)
                   + CASE WHEN (CASE WHEN b.fidx = 0 THEN r.bin0
                                     ELSE r.bin1 END) <= b.best_bin
                          THEN b.leaf_l ELSE b.leaf_r END
            FROM best b WHERE b.grp = 1),
           (SELECT (SELECT bs FROM base)
                   + CASE WHEN (CASE WHEN b.fidx = 0 THEN r.bin0
                                     ELSE r.bin1 END) <= b.best_bin
                          THEN b.leaf_l ELSE b.leaf_r END
            FROM best b WHERE b.grp = 2)]) AS ps
  FROM rowstats r)
SELECT CAST(ok AS BIGINT) AS l_orderkey,
       CAST(ln AS BIGINT) AS l_linenumber,
       round(max(ps[1]), 4) AS p25,
       round(max(ps[2]), 4) AS p50,
       round(max(ps[3]), 4) AS p75,
       CAST(count(*) AS BIGINT) AS n_rows
FROM served
WHERE ok % 50 = 0
GROUP BY ok, ln""",

        "minhash_bands": f"""
WITH {shingle_cte},
sig AS (
  SELECT id,
         min(('0x' || substr(md5('p0:' || shingle), 1, 12))::BIGINT) AS mh0,
         min(('0x' || substr(md5('p0:' || shingle), 13, 12))::BIGINT) AS mh1,
         min(('0x' || substr(md5('p1:' || shingle), 1, 12))::BIGINT) AS mh2,
         min(('0x' || substr(md5('p1:' || shingle), 13, 12))::BIGINT) AS mh3,
         min(('0x' || substr(md5('p2:' || shingle), 1, 12))::BIGINT) AS mh4,
         min(('0x' || substr(md5('p2:' || shingle), 13, 12))::BIGINT) AS mh5,
         min(('0x' || substr(md5('p3:' || shingle), 1, 12))::BIGINT) AS mh6,
         min(('0x' || substr(md5('p3:' || shingle), 13, 12))::BIGINT) AS mh7
  FROM sh GROUP BY id),
banded AS (
  SELECT id, 0 AS band, mh0::VARCHAR || '|' || mh1::VARCHAR AS bucket FROM sig UNION ALL
  SELECT id, 1, mh2::VARCHAR || '|' || mh3::VARCHAR FROM sig UNION ALL
  SELECT id, 2, mh4::VARCHAR || '|' || mh5::VARCHAR FROM sig UNION ALL
  SELECT id, 3, mh6::VARCHAR || '|' || mh7::VARCHAR FROM sig),
pairs AS (
  SELECT DISTINCT a.band, a.id AS ia, b.id AS ib
  FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id)
SELECT CAST(band AS BIGINT) AS band, CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY band""",

        "dedup_incremental": f"""
WITH {shingle_cte},
sig AS (
  SELECT id,
         min(('0x' || substr(md5('p0:' || shingle), 1, 12))::BIGINT) AS mh0,
         min(('0x' || substr(md5('p0:' || shingle), 13, 12))::BIGINT) AS mh1,
         min(('0x' || substr(md5('p1:' || shingle), 1, 12))::BIGINT) AS mh2,
         min(('0x' || substr(md5('p1:' || shingle), 13, 12))::BIGINT) AS mh3,
         min(('0x' || substr(md5('p2:' || shingle), 1, 12))::BIGINT) AS mh4,
         min(('0x' || substr(md5('p2:' || shingle), 13, 12))::BIGINT) AS mh5,
         min(('0x' || substr(md5('p3:' || shingle), 1, 12))::BIGINT) AS mh6,
         min(('0x' || substr(md5('p3:' || shingle), 13, 12))::BIGINT) AS mh7
  FROM sh GROUP BY id),
banded AS (
  SELECT id, 0 AS band, mh0::VARCHAR || '|' || mh1::VARCHAR AS bucket FROM sig UNION ALL
  SELECT id, 1, mh2::VARCHAR || '|' || mh3::VARCHAR FROM sig UNION ALL
  SELECT id, 2, mh4::VARCHAR || '|' || mh5::VARCHAR FROM sig UNION ALL
  SELECT id, 3, mh6::VARCHAR || '|' || mh7::VARCHAR FROM sig),
hits AS (
  SELECT DISTINCT n.id AS id, c.id AS corpus_id
  FROM banded n JOIN banded c ON n.band = c.band AND n.bucket = c.bucket
  WHERE n.id % 3 = 0 AND c.id % 3 <> 0),
perdoc AS (
  SELECT id, count(*) AS n_hits, min(corpus_id) AS first_hit
  FROM hits GROUP BY id),
exact_dup AS (
  SELECT DISTINCT n.doc_id AS id
  FROM documents n JOIN documents c
    ON n.doc_id % 3 = 0 AND c.doc_id % 3 <> 0
   AND md5(n.text) = md5(c.text))
SELECT CAST(d.doc_id AS BIGINT) AS id,
       CAST(coalesce(p.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(p.first_hit, -1) AS BIGINT) AS first_hit,
       CAST(CASE WHEN p.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS novel_lsh,
       CAST(CASE WHEN e.id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS novel_exact
FROM documents d
LEFT JOIN perdoc p ON p.id = d.doc_id
LEFT JOIN exact_dup e ON e.id = d.doc_id
WHERE d.doc_id % 3 = 0""",

        "ngram_jaccard": f"""
WITH {shingle_cte},
sizes AS (SELECT id, count(*) AS nsh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS ninter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= 8)
SELECT CAST(ia AS BIGINT) AS ia, CAST(ib AS BIGINT) AS ib,
       round(ninter * 1.0 / (sa.nsh + sb.nsh - ninter), 6) AS jaccard
FROM inter JOIN sizes sa ON sa.id = ia JOIN sizes sb ON sb.id = ib""",

        "text_quality": """
WITH d AS (
  SELECT lang,
         len(text) AS nc,
         ' ' || lower(text) || ' ' AS p,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(text) - len(replace(text, ' ', '')) + 1 END AS nw,
         len(text) - len(regexp_replace(text, '[.,!?;:]', '', 'g')) AS np,
         len(text) - len(regexp_replace(text, '[0-9]', '', 'g')) AS nd
  FROM documents),
s AS (
  SELECT lang, nw,
         np * 1.0 / greatest(nc, 1) AS pr,
         nd * 1.0 / greatest(nc, 1) AS dr,
         (CAST((len(p) - len(replace(p, ' the ', ''))) / 5 AS INT)
          + CAST((len(p) - len(replace(p, ' and ', ''))) / 5 AS INT)
          + CAST((len(p) - len(replace(p, ' of ', ''))) / 4 AS INT)
          + CAST((len(p) - len(replace(p, ' to ', ''))) / 4 AS INT)
          + CAST((len(p) - len(replace(p, ' a ', ''))) / 3 AS INT)
          + CAST((len(p) - len(replace(p, ' in ', ''))) / 4 AS INT)
          + CAST((len(p) - len(replace(p, ' is ', ''))) / 4 AS INT)
          + CAST((len(p) - len(replace(p, ' that ', ''))) / 6 AS INT)
          + CAST((len(p) - len(replace(p, ' for ', ''))) / 5 AS INT)
          + CAST((len(p) - len(replace(p, ' it ', ''))) / 4 AS INT))
           * 1.0 / greatest(nw, 1) AS sr,
         CASE WHEN nw = 0 THEN NULL
              ELSE (nc - (nw - 1)) * 1.0 / nw END AS awl
  FROM d)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       round(avg(nw), 6) AS avg_words,
       round(avg(pr), 6) AS avg_punct_ratio,
       round(avg(dr), 6) AS avg_digit_ratio,
       round(avg(sr), 6) AS avg_stopword_ratio,
       round(avg(awl), 6) AS avg_word_len
FROM s GROUP BY lang""",

        "token_counts": """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
                ELSE len(text) - len(replace(text, ' ', '')) + 1 END) AS BIGINT) AS sum_tokens,
       CAST(sum(len(text)) AS BIGINT) AS sum_chars
FROM documents GROUP BY source""",

        "doc_fingerprint": """
WITH fp AS (
  SELECT source, doc_id,
         list_min([md5(text[i:i+7]) for i in range(1, greatest(len(text)-7,1)+1)]) AS f
  FROM documents)
SELECT source, CAST(count(DISTINCT f) AS BIGINT) AS n_fp
FROM fp GROUP BY source""",

        "knn": """
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 5),
s AS (
  SELECT q.query_id, n.vec_id AS nbr_id,
         list_dot_product(n.v, q.qv) / (n.nrm * q.qn) AS cos
  FROM n, q WHERE n.vec_id <> q.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(nbr_id AS BIGINT) AS nbr_id,
       round(cos, 6) AS cos, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",

        "embedding_neardup": """
WITH n AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings)
SELECT a.id AS id_a, b.id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
FROM n a JOIN n b ON a.id < b.id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.45""",

        "sessionize": """
WITH d AS (
  -- operator gap rule: Spark unix_timestamp SECONDS (truncated)
  SELECT user_id,
         CASE WHEN lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR floor(epoch(ts)) - lag(floor(epoch(ts))) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > 30 * 60
              THEN 1 ELSE 0 END AS ns
  FROM events),
pu AS (SELECT user_id, sum(ns) AS sessions FROM d GROUP BY user_id)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(sessions) AS BIGINT) AS n_sessions,
       round(avg(sessions), 6) AS avg_sessions
FROM pu""",

        "asof_join": """
WITH u AS (
  -- operator union-and-window shape: signup rows side 0, click rows
  -- side 1; a same-ts signup sorts BEFORE the click and matches
  SELECT user_id, ts, 1 AS side, NULL::DOUBLE AS sv
  FROM events WHERE event_type = 'click'
  UNION ALL
  SELECT user_id, ts, 0, value FROM events WHERE event_type = 'signup'),
d AS (
  SELECT side,
         last_value(sv IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, side
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS signup_value
  FROM u)
SELECT CAST(count(*) AS BIGINT) AS n_clicks,
       CAST(count(signup_value) AS BIGINT) AS n_matched,
       round(avg(signup_value), 6) AS avg_signup_value
FROM d WHERE side = 1""",

        "topk_orders": """
SELECT CAST(o_custkey AS BIGINT) AS o_custkey, CAST(o_orderkey AS BIGINT) AS o_orderkey,
       round(o_totalprice, 2) AS o_totalprice, CAST(rk AS BIGINT) AS rk
FROM (SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
      FROM orders)
WHERE rk <= 3""",

        "range_join": """
WITH ranges(lo, hi, bucket) AS (
  VALUES (0.0::DOUBLE, 10.0::DOUBLE, 'low'), (10.0::DOUBLE, 100.0::DOUBLE, 'mid'),
         (100.0::DOUBLE, 100000.0::DOUBLE, 'high'))
SELECT bucket, CAST(count(*) AS BIGINT) AS n, round(sum(value), 4) AS sum_value
FROM events e JOIN ranges r ON e.value >= r.lo AND e.value < r.hi
GROUP BY bucket""",

        "q1_pricing": """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus""",

        "shipping_priority": """
SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
       epoch_us(o_orderdate) AS o_odate,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10""",

        "stream_window": """
SELECT epoch_us(date_trunc('hour', ts)) AS w_start, event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2""",

        "stream_distinct": _stream_distinct_oracle_sql(8),

        "linear_one_round": _linear_seq_sql(
            ["l_quantity", "l_discount", "l_tax"], rounds=1, eta=0.5,
            lam=0.0, y_sql="l_extendedprice"),

        "linear_multigroup_round": _linear_multigroup_seq_sql(),

        "simhash": _simhash_oracle_sql(),

        "simhash_pairs": f"""
WITH sig AS ({_simhash_oracle_sql()})
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""",

        "dedup_components": f"""
WITH RECURSIVE {shingle_cte},
sizes AS (SELECT id, count(*) AS nsh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS ia, b.id AS ib, count(*) AS ninter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2 HAVING count(*) >= 8),
edges AS (
  SELECT ia, ib FROM inter
  JOIN sizes sa ON sa.id = ia JOIN sizes sb ON sb.id = ib
  WHERE ninter * 1.0 / (sa.nsh + sb.nsh - ninter) >= 0.5),
sym AS (SELECT ia AS a, ib AS b FROM edges UNION ALL SELECT ib, ia FROM edges),
nodes AS (SELECT DISTINCT a AS id FROM sym),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT s.a AS id, reach.r FROM sym s JOIN reach ON reach.id = s.b
)
SELECT CAST(id AS BIGINT) AS id, CAST(min(r) AS BIGINT) AS component
FROM reach GROUP BY id""",

        "ordinal_encode": """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(dense_rank() OVER (ORDER BY lang) - 1 AS DOUBLE) AS code
FROM documents""",

        "stream_dedup": """
SELECT DISTINCT event_type FROM events""",

        # closed sessions on bounded input: gap-broken sessions plus the
        # tail session when the final watermark (max ts - 1 h, ms
        # precision) STRICTLY passes its end + 30-min gap — Spark's
        # EventTimeTimeout fires only when timeoutTimestamp < watermark,
        # so the boundary case (end + gap == watermark) stays open
        # fixed 2-tree model over events (see _fixed_two_tree_doc):
        # strict float32 '<' tie rule on integer features with .5
        # thresholds — no ties possible; binary-fraction leaves => exact
        # sums.  stream_score replays the full 2-round margin; dart_
        # slice_serve replays only round 2 x its weight_drop 0.25
        # (iteration_range=(1, 0)); pred_leaf_range replays round-1 leaf
        # routing (left child = node 1).
        "stream_score": """
WITH s AS (
  SELECT event_type,
         0.5
         + CASE WHEN user_id < 6.5 THEN -0.25 ELSE 0.75 END
         + CASE WHEN event_id < 500.5 THEN 0.5 ELSE -1.25 END AS m
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(m), 4) AS sum_pred
FROM s GROUP BY event_type""",

        "lr_schedule": """
WITH rk AS (
  SELECT l_quantity AS v, row_number() OVER (ORDER BY l_quantity) AS rn,
         count(*) OVER () AS n
  FROM lineitem WHERE l_quantity IS NOT NULL),
ck AS (SELECT k, min(v) AS cut FROM rk JOIN range(1, 8) t(k)
       ON rn = CAST(ceil(k * n / 8.0) AS BIGINT) GROUP BY k),
base AS (SELECT round(avg(l_extendedprice / 1000.0), 6) AS bs FROM lineitem),
d AS (SELECT l_extendedprice / 1000.0 AS y,
        CAST((SELECT count(*) FROM ck c WHERE c.cut < l.l_quantity)
             AS BIGINT) AS bin
      FROM lineitem l),
h AS (SELECT bin, CAST(count(*) AS DOUBLE) AS h,
             sum((SELECT bs FROM base) - y) AS g
      FROM d GROUP BY 1),
scan AS (SELECT bin,
           sum(g) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS gl,
           sum(h) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS hl,
           sum(g) OVER () AS gt, sum(h) OVER () AS ht,
           max(bin) OVER () AS mx
         FROM h),
best AS (SELECT * FROM (
           SELECT *, row_number() OVER (ORDER BY
             gl * gl / (hl + 1.0) + (gt - gl) * (gt - gl) / (ht - hl + 1.0)
             - gt * gt / (ht + 1.0) DESC, bin ASC) AS rk
           FROM scan WHERE bin < mx) t WHERE rk = 1)
SELECT CAST(0 AS BIGINT) AS rnd,
       round(abs(0.3 * (-gl / (hl + 1.0)))
           + abs(0.3 * (-(gt - gl) / (ht - hl + 1.0))), 4) AS abs_leaf_sum,
       CAST(2 AS BIGINT) AS n_leaves
FROM best
UNION ALL
SELECT CAST(1 AS BIGINT), 0.0, CAST(2 AS BIGINT)
ORDER BY rnd""",

        "clf_serve": """
WITH s AS (
  SELECT CAST(CASE WHEN user_id < 6.5 THEN -0.25 ELSE 0.75 END
            + CASE WHEN event_id < 500.5 THEN 0.5 ELSE -1.25 END
         AS DOUBLE) AS m
  FROM events)
SELECT m AS margin,
       round(1.0 / (1.0 + exp(-m)), 6) AS prob,
       CAST(CASE WHEN m > 0 THEN 1 ELSE 0 END AS DOUBLE) AS pred,
       CAST(count(*) AS BIGINT) AS n
FROM s GROUP BY m ORDER BY margin""",

        "eval_str": """
WITH ev AS (
  SELECT 0.5 + CASE WHEN user_id < 6.5 THEN -0.25 ELSE 0.75 END
             + CASE WHEN event_id < 500.5 THEN 0.5 ELSE -1.25 END AS m,
         CAST(user_id % 4 AS DOUBLE) * 0.25 AS y,
         event_id
  FROM events),
tr AS (SELECT sqrt(sum((m - y) * (m - y)) / count(*)) AS rmse,
              sum(abs(m - y)) / count(*) AS mae
       FROM ev WHERE event_id % 2 = 0),
ho AS (SELECT sqrt(sum((m - y) * (m - y)) / count(*)) AS rmse,
              sum(abs(m - y)) / count(*) AS mae
       FROM ev WHERE event_id % 2 = 1)
SELECT '[7]' || chr(9) || 'train-rmse:' || printf('%.17f', tr.rmse)
    || chr(9) || 'train-mae:'  || printf('%.17f', tr.mae)
    || chr(9) || 'holdout-rmse:' || printf('%.17f', ho.rmse)
    || chr(9) || 'holdout-mae:'  || printf('%.17f', ho.mae) AS eval_str
FROM tr, ho""",

        "train_approx": f"""
WITH {", ".join(_rank_cut_ctes(["l_quantity", "l_discount"], 32))},
ck_l_quantity AS (
  SELECT k, min(v) AS cut FROM rk_l_quantity JOIN range(1, 32) t(k)
    ON rn = CAST(ceil(k * n / 32.0) AS BIGINT) GROUP BY k),
ck_l_discount AS (
  SELECT k, min(v) AS cut FROM rk_l_discount JOIN range(1, 32) t(k)
    ON rn = CAST(ceil(k * n / 32.0) AS BIGINT) GROUP BY k),
base AS (SELECT round(avg(l_extendedprice / 1000.0), 6) AS bs FROM lineitem),
d AS (
  SELECT l_extendedprice / 1000.0 AS y,
         CAST((SELECT count(*) FROM ck_l_quantity c
               WHERE c.cut < l.l_quantity) AS BIGINT) AS bin0,
         CAST((SELECT count(*) FROM ck_l_discount c
               WHERE c.cut < l.l_discount) AS BIGINT) AS bin1
  FROM lineitem l),
fb AS (SELECT y, 0 AS fidx, bin0 AS bin FROM d
       UNION ALL SELECT y, 1, bin1 FROM d),
fh AS (SELECT fidx, bin, CAST(count(*) AS DOUBLE) AS h,
              sum((SELECT bs FROM base) - y) AS g
       FROM fb GROUP BY 1, 2),
fcum AS (SELECT fidx, bin, h, g,
           sum(h) OVER (PARTITION BY fidx ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cumh,
           sum(h) OVER (PARTITION BY fidx) AS W
         FROM fh),
bnd AS (SELECT DISTINCT fidx, bnd FROM (
          SELECT c.fidx,
                 (SELECT min(bin) FROM fcum c2
                  WHERE c2.fidx = c.fidx
                    AND c2.cumh >= c.W * t.k / 8.0) AS bnd
          FROM (SELECT DISTINCT fidx, W FROM fcum) c, range(1, 8) t(k)
          UNION ALL
          SELECT DISTINCT fidx, 31 FROM fcum) u),
ch AS (SELECT f.fidx,
              (SELECT count(*) FROM bnd b
               WHERE b.fidx = f.fidx AND b.bnd < f.bin) AS cbin,
              sum(f.g) AS G, sum(f.h) AS H
       FROM fh f GROUP BY 1, 2),
scan AS (SELECT fidx, cbin,
           sum(G) OVER (PARTITION BY fidx ORDER BY cbin
                        ROWS UNBOUNDED PRECEDING) AS gl,
           sum(H) OVER (PARTITION BY fidx ORDER BY cbin
                        ROWS UNBOUNDED PRECEDING) AS hl,
           sum(G) OVER (PARTITION BY fidx) AS gt,
           sum(H) OVER (PARTITION BY fidx) AS ht,
           max(cbin) OVER (PARTITION BY fidx) AS mx
         FROM ch),
best AS (
  SELECT fidx, cbin, gl, hl, gt, ht,
         0.3 * (-gl / (hl + 1.0)) AS wl,
         0.3 * (-(gt - gl) / (ht - hl + 1.0)) AS wr
  FROM (SELECT *, row_number() OVER (ORDER BY
          gl * gl / (hl + 1.0) + (gt - gl) * (gt - gl) / (ht - hl + 1.0)
          - gt * gt / (ht + 1.0) DESC, fidx ASC, cbin ASC) AS rk
        FROM scan WHERE cbin < mx) t WHERE rk = 1),
sv AS (
  SELECT b.*,
         (SELECT bnd FROM (SELECT bnd, row_number() OVER (ORDER BY bnd) AS rn
                           FROM bnd WHERE fidx = b.fidx) s
          WHERE rn = b.cbin + 1) AS fb_idx
  FROM best b),
sv2 AS (
  SELECT sv.*,
         CASE WHEN fidx = 0 THEN 'l_quantity' ELSE 'l_discount' END AS fname,
         CASE WHEN fidx = 0
              THEN (SELECT cut FROM ck_l_quantity WHERE k = sv.fb_idx + 1)
              ELSE (SELECT cut FROM ck_l_discount WHERE k = sv.fb_idx + 1)
         END AS cutv
  FROM sv)
SELECT CAST(1 AS BIGINT) AS leaf, CAST(hl AS BIGINT) AS n,
       round(wl, 4) AS leaf_w, fname AS feature,
       round(cutv, 6) AS split_value FROM sv2
UNION ALL
SELECT CAST(2 AS BIGINT), CAST(ht - hl AS BIGINT), round(wr, 4),
       fname, round(cutv, 6) FROM sv2""",

        "dart_slice_serve": """
WITH s AS (
  SELECT event_type,
         0.5 + 0.25 * (CASE WHEN event_id < 500.5 THEN 0.5 ELSE -1.25 END) AS m
  FROM events)
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(m), 4) AS sum_margin
FROM s GROUP BY event_type""",

        "pred_leaf_range": """
SELECT CAST(CASE WHEN user_id < 6.5 THEN 1 ELSE 2 END AS BIGINT) AS leaf_id,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1""",

        "stream_sessions": """
WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
b AS (SELECT user_id, t,
        CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM e),
g AS (SELECT user_id, t,
        sum(brk) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid
      FROM b),
sess AS (SELECT user_id, sid, count(*) AS ne, max(t) AS send FROM g GROUP BY user_id, sid),
m AS (SELECT user_id, max(sid) AS mx FROM sess GROUP BY user_id),
mx AS (SELECT max(t) AS maxt FROM e)
SELECT CAST(s.user_id AS BIGINT) AS user_id,
       CAST(count(*) AS BIGINT) AS n_closed,
       CAST(sum(s.ne) AS BIGINT) AS n_events
FROM sess s JOIN m USING (user_id)
WHERE s.sid < m.mx
   OR ((s.send // 1000) + 1800000 < (SELECT (maxt // 1000) - 3600000 FROM mx))
GROUP BY s.user_id""",

        "normalize_text": """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(
             regexp_replace(lower(text), '[!-/:-@\\[-`{-~]', '', 'g'),
             '\\s+', ' ', 'g')) AS tn
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id, md5(tn) AS norm_digest,
       CAST(length(tn) AS BIGINT) AS norm_len FROM n""",

        "contamination": """
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
g AS (SELECT doc_id, source,
             unnest([array_to_string(words[i:i+2], ' ')
                     for i in range(1, len(words) - 1)]) AS sh
      FROM w),
corp AS (SELECT DISTINCT doc_id AS id, sh FROM g
         WHERE source NOT IN ('src0', 'src1')),
bench AS (SELECT DISTINCT sh FROM g WHERE source IN ('src0', 'src1')),
sizes AS (SELECT id, count(*) AS n_shingles FROM corp GROUP BY id),
hits AS (SELECT id, count(*) AS n_overlap
         FROM corp JOIN bench USING (sh) GROUP BY id)
SELECT CAST(s.id AS BIGINT) AS id,
       CAST(n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(n_overlap, 0) * 1.0 / n_shingles, 6) AS contamination
FROM sizes s LEFT JOIN hits USING (id)""",

        "repetition": """
WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents),
g AS (SELECT doc_id, source,
             unnest([array_to_string(words[i:i+1], ' ')
                     for i in range(1, len(words))]) AS gram
      FROM w),
pg AS (SELECT doc_id, source, gram, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
per AS (SELECT doc_id, source, sum(cnt) AS n_grams, max(cnt) AS top,
               sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup
        FROM pg GROUP BY 1, 2)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_grams) AS BIGINT) AS sum_grams,
       round(avg(top * 1.0 / n_grams), 6) AS avg_top_gram_frac,
       round(avg(dup * 1.0 / n_grams), 6) AS avg_dup_gram_frac
FROM per GROUP BY source""",

        "lang_id": _lang_id_oracle_sql(),

        "metric_ams_cox": """
WITH d AS (
  SELECT CAST(event_id % 2 AS DOUBLE) AS y,
         floor(value / 20.0) / 10.0 AS m0,
         (value + (event_id % 1000) / 1000.0)
           * (CASE WHEN event_id % 3 = 0 THEN -1.0 ELSE 1.0 END) AS yc,
         CAST(event_id % 7 AS DOUBLE) / 7.0 - 0.5 AS mc
  FROM events),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
kk AS (SELECT least(CAST(floor(0.3 * n) AS BIGINT), n - 1) AS k FROM nn),
ranked AS (SELECT m0, row_number() OVER (ORDER BY m0 DESC) AS rk FROM d),
thr AS (SELECT m0 AS t FROM ranked, kk WHERE rk = k),
agg AS (
  SELECT sum(CASE WHEN m0 > t THEN y ELSE 0.0 END) AS s_gt,
         sum(CASE WHEN m0 > t THEN 1.0 - y ELSE 0.0 END) AS b_gt,
         sum(CASE WHEN m0 > t THEN 1 ELSE 0 END) AS c_gt,
         sum(CASE WHEN m0 = t THEN y ELSE 0.0 END) AS s_eq,
         sum(CASE WHEN m0 = t THEN 1.0 - y ELSE 0.0 END) AS b_eq,
         sum(CASE WHEN m0 = t THEN 1 ELSE 0 END) AS c_eq
  FROM d, thr),
sel AS (
  SELECT s_gt + s_eq * ((k - c_gt) / CAST(c_eq AS DOUBLE)) AS s,
         b_gt + b_eq * ((k - c_gt) / CAST(c_eq AS DOUBLE)) AS b
  FROM agg, kk),
ams AS (
  SELECT sqrt(greatest(2.0 * ((s + b + 10.0) * ln(1.0 + s / (b + 10.0)) - s),
                       0.0)) AS v
  FROM sel),
per_t AS (SELECT abs(yc) AS t, sum(exp(mc)) AS e FROM d GROUP BY 1),
rs AS (SELECT t, sum(e) OVER (ORDER BY t DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS S
       FROM per_t),
cox AS (
  SELECT -sum(mc - ln(S)) / count(*) AS v
  FROM d JOIN rs ON abs(d.yc) = rs.t
  WHERE d.yc > 0)
SELECT round(ams.v, 6) AS ams, round(cox.v, 6) AS cox_nll FROM ams, cox""",

        "metric_multiclass": """
WITH d AS (
  SELECT CAST(label % 3 AS INTEGER) AS y,
         embedding[1]::DOUBLE AS m0, embedding[2]::DOUBLE AS m1,
         embedding[3]::DOUBLE AS m2
  FROM embeddings),
p AS MATERIALIZED (
  SELECT y,
         CASE WHEN m0 >= m1 AND m0 >= m2 THEN 0
              WHEN m1 >= m2 THEN 1 ELSE 2 END AS pred,
         exp(m0 - greatest(m0, m1, m2)) AS e0,
         exp(m1 - greatest(m0, m1, m2)) AS e1,
         exp(m2 - greatest(m0, m1, m2)) AS e2
  FROM d)
SELECT round(avg(CASE WHEN pred <> y THEN 1.0 ELSE 0.0 END), 6) AS merror,
       round(avg(-ln(greatest(
           CASE y WHEN 0 THEN e0 WHEN 1 THEN e1 ELSE e2 END
           / (e0 + e1 + e2), 1e-16))), 6) AS mlogloss
FROM p""",

        "shuffle_shards": """
WITH s AS (
  SELECT doc_id, md5('shard' || CAST(doc_id AS VARCHAR)) AS sk,
         CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
              % 8 AS INTEGER) AS shard
  FROM documents)
SELECT shard, CAST(count(*) AS BIGINT) AS n,
       md5(string_agg(sk || '|' || CAST(doc_id AS VARCHAR), ','
                      ORDER BY sk || '|' || CAST(doc_id AS VARCHAR))) AS order_digest
FROM s GROUP BY shard""",

        "redact_pii": """
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN ' call +1 (555) 010-7788 today' ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN ' from 10.0.0.' || CAST(doc_id % 255 AS VARCHAR)
                 ELSE '' END AS t
  FROM documents)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t, '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(t, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4,
       md5(regexp_replace(regexp_replace(regexp_replace(t,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
             '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]', '[PHONE]', 'g'),
             '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '[IPV4]', 'g')) AS red_digest
FROM aug""",

        "hash_split": """
WITH u AS (
  SELECT text,
         ('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents)
SELECT CASE WHEN u < 0.8 THEN 'train'
            WHEN u < 0.9 THEN 'val'
            ELSE 'test' END AS split,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(length(text)) AS BIGINT) AS chars
FROM u GROUP BY 1""",

        "stratified_take": """
WITH r AS (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
             ORDER BY md5('take' || CAST(doc_id AS VARCHAR))) AS rk
  FROM documents)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id FROM r WHERE rk <= 5""",

        "pack_sequences": """
WITH s AS (
  SELECT doc_id, length(text) AS tok,
         sum(length(text)) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM documents)
SELECT CAST(floor((cum - tok) / 8192.0) AS BIGINT) AS pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(tok) AS BIGINT) AS tokens
FROM s GROUP BY 1""",

        "chunk_docs": r"""
WITH w AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM documents),
c AS (
  SELECT doc_id, words, len(words) AS n,
         unnest(range(0, 1 + CAST(ceil(greatest(len(words) - 32, 0) / 24.0) AS INT))) AS chunk_id
  FROM w)
SELECT CAST(doc_id AS BIGINT) AS id,
       CAST(chunk_id AS BIGINT) AS chunk_id,
       md5(array_to_string(words[chunk_id * 24 + 1 : least(chunk_id * 24 + 32, n)], ' ')) AS chunk_digest,
       CAST(least(chunk_id * 24 + 32, n) - chunk_id * 24 AS BIGINT) AS chunk_n_words
FROM c""",

        "tfidf": r"""
WITH t AS (
  SELECT id, term FROM (
    SELECT doc_id AS id,
           unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
    FROM documents) u
  WHERE length(term) > 0),
tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
dfq AS (SELECT term, count(DISTINCT id) AS df FROM t GROUP BY 1),
nd AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
s AS (
  SELECT id, term, tf, df,
         tf * round(ln((1.0 + n) / (1.0 + df)) + 1.0, 9) AS score
  FROM tf JOIN dfq USING (term) CROSS JOIN nd)
SELECT CAST(id AS BIGINT) AS id, term,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       round(score, 6) AS score, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY id ORDER BY score DESC, term ASC) AS rank
      FROM s)
WHERE rank <= 3""",

        "revenue_forecast": """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""",

        "local_supplier_volume": """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name""",

        "bigram_ppl": """
WITH d AS (
  SELECT doc_id AS id, lower(text) AS t FROM documents WHERE length(text) >= 2),
g AS (
  SELECT id, unnest([substr(t, i, 2) for i in range(1, length(t))]) AS bg FROM d),
bgc AS (SELECT bg, count(*) AS c2 FROM g GROUP BY 1),
pre AS (SELECT substr(bg, 1, 1) AS c1, count(*) AS c1n FROM g GROUP BY 1),
v AS (SELECT count(DISTINCT substr(bg, 2, 1)) AS vocab FROM g),
model AS (
  SELECT bg, ln((c2 + 1.0) / (c1n + 1.0 * vocab)) AS logp
  FROM bgc JOIN pre ON substr(bgc.bg, 1, 1) = pre.c1 CROSS JOIN v),
s AS (
  SELECT id, count(*) AS n_bigrams, -avg(logp) AS avg_nll
  FROM g JOIN model USING (bg) GROUP BY 1)
SELECT CAST(id AS BIGINT) AS id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       round(avg_nll, 6) AS avg_nll,
       round(exp(round(avg_nll, 9)), 6) AS ppl
FROM s""",

        "stream_enrich": """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment""",

        "zorder": _zorder_oracle_sql(),

        "group_quantiles": """
WITH r AS (
  SELECT l_returnflag, l_extendedprice,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem)
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       min(CASE WHEN rn = CAST(ceil(1 * n / 4.0) AS BIGINT)
                THEN l_extendedprice END) AS p25,
       min(CASE WHEN rn = CAST(ceil(2 * n / 4.0) AS BIGINT)
                THEN l_extendedprice END) AS p50,
       min(CASE WHEN rn = CAST(ceil(3 * n / 4.0) AS BIGINT)
                THEN l_extendedprice END) AS p75
FROM r GROUP BY l_returnflag""",

        "vocab": """
WITH t AS (
  SELECT id, term FROM (
    SELECT doc_id AS id,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
    FROM documents) u
  WHERE length(term) > 0),
agg AS (
  SELECT term, count(*) AS tf, count(DISTINCT id) AS df FROM t GROUP BY term)
SELECT term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY tf DESC, term ASC) AS rank FROM agg)
WHERE rank <= 50""",

        "segment_dedup": """
WITH w AS (
  SELECT doc_id AS id,
         string_split_regex(trim(lower(text)), '\\s+') AS words
  FROM documents),
s AS (
  SELECT id, u.r.seg AS seg, u.r.i AS seg_idx
  FROM (SELECT id,
               unnest([{'seg': array_to_string(words[i*10+1 : i*10+10], ' '),
                        'i': i}
                       for i in generate_series(0,
                           CAST(ceil(len(words) / 10.0) AS BIGINT) - 1)]) AS r
        FROM w) u),
o AS (
  SELECT id,
         CASE WHEN row_number() OVER (PARTITION BY seg ORDER BY id, seg_idx) = 1
              THEN 1 ELSE 0 END AS own
  FROM s)
SELECT CAST(id AS BIGINT) AS id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(own) AS BIGINT) AS n_owned,
       round(1.0 - sum(own) * 1.0 / count(*), 6) AS dup_frac
FROM o GROUP BY id""",

        "gopher_rules": _gopher_oracle_sql(),

        "reservoir_group": """
SELECT l_returnflag, l_linestatus,
       CAST(l_orderkey AS BIGINT) AS l_orderkey,
       CAST(l_linenumber AS BIGINT) AS l_linenumber,
       CAST(rsv_rank AS BIGINT) AS rsv_rank
FROM (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
             row_number() OVER (
               PARTITION BY l_returnflag, l_linestatus
               ORDER BY md5(concat_ws('|', 'rsv', CAST(l_orderkey AS VARCHAR),
                                      CAST(l_linenumber AS VARCHAR)))) AS rsv_rank
      FROM lineitem)
WHERE rsv_rank <= 4""",

        # dimension-agnostic: widths come from len(v), not a literal, so
        # a change in embedding width cannot silently skew the oracle
        "scalar_quantize": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
e AS (SELECT vec_id, unnest(generate_series(1, len(v))) AS i,
             unnest(v) AS x
      FROM n),
mm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM e GROUP BY i),
lim AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM mm),
q AS (
  SELECT vec_id,
         [CASE WHEN mxs[i] > mns[i]
               THEN greatest(0.0, least(255.0,
                    floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 255.0 + 0.5)))
               ELSE 0.0 END
          for i in generate_series(1, len(v))] AS cd,
         v
  FROM n, lim),
d AS (
  SELECT vec_id, cd,
         [mns[i] + cd[i] * (mxs[i] - mns[i]) / 255.0
          for i in generate_series(1, len(cd))] AS dq,
         v
  FROM q, lim)
SELECT CAST(vec_id AS BIGINT) AS id,
       CAST(list_sum(cd) AS BIGINT) AS sum_code,
       round(list_sum([(v[i] - dq[i]) * (v[i] - dq[i])
                       for i in generate_series(1, len(v))]) / len(v), 10) AS mse
FROM d""",

        "knn_ivf0": """
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
seeds AS (
  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS list_id
  FROM (SELECT v AS cv, md5(CAST(vec_id AS VARCHAR) || ':ivf') AS h
        FROM n ORDER BY h LIMIT 8)),
d2 AS (
  SELECT n.vec_id, s.list_id,
         list_sum([(n.v[i] - s.cv[i]) * (n.v[i] - s.cv[i])
                   for i in generate_series(1, len(n.v))]) AS d2
  FROM n CROSS JOIN seeds s),
assign AS (
  SELECT vec_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d2)
  WHERE rk = 1),
probes AS (
  SELECT vec_id AS query_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d2 WHERE vec_id < 5)
  WHERE rk <= 3),
cand AS (
  SELECT p.query_id, a.vec_id AS nbr_id
  FROM probes p JOIN assign a ON a.list_id = p.list_id AND a.vec_id <> p.query_id),
s AS (
  SELECT c.query_id, c.nbr_id,
         round(list_dot_product(cn.v, qn.v) / (cn.nrm * qn.nrm), 6) AS cos
  FROM cand c JOIN n cn ON cn.vec_id = c.nbr_id JOIN n qn ON qn.vec_id = c.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(nbr_id AS BIGINT) AS nbr_id,
       cos, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",

        "knn_ivf": """
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
seeds AS (
  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS list_id
  FROM (SELECT v AS cv, md5(CAST(vec_id AS VARCHAR) || ':ivf') AS h
        FROM n ORDER BY h LIMIT 8)),
d0 AS (
  SELECT n.vec_id, s.list_id,
         list_sum([(n.v[i] - s.cv[i]) * (n.v[i] - s.cv[i])
                   for i in generate_series(1, len(n.v))]) AS d2
  FROM n CROSS JOIN seeds s),
a0 AS (
  SELECT vec_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d0) WHERE rk = 1),
dims AS (SELECT unnest(generate_series(1, (SELECT len(v) FROM n LIMIT 1))) AS i),
means AS (
  SELECT a0.list_id, d.i, round(avg(n.v[d.i]), 6) AS m
  FROM a0 JOIN n USING (vec_id) CROSS JOIN dims d
  GROUP BY 1, 2),
cents AS (
  SELECT s.list_id, list(coalesce(m.m, s.cv[d.i]) ORDER BY d.i) AS cv
  FROM seeds s CROSS JOIN dims d
  LEFT JOIN means m ON m.list_id = s.list_id AND m.i = d.i
  GROUP BY s.list_id),
d1 AS (
  SELECT n.vec_id, c.list_id,
         list_sum([(n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i])
                   for i in generate_series(1, len(n.v))]) AS d2
  FROM n CROSS JOIN cents c),
a1 AS (
  SELECT vec_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d1) WHERE rk = 1),
probes AS (
  SELECT vec_id AS query_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d1 WHERE vec_id < 5)
  WHERE rk <= 3),
cand AS (
  SELECT p.query_id, a.vec_id AS nbr_id
  FROM probes p JOIN a1 a ON a.list_id = p.list_id AND a.vec_id <> p.query_id),
s AS (
  SELECT c.query_id, c.nbr_id,
         round(list_dot_product(cn.v, qn.v) / (cn.nrm * qn.nrm), 6) AS cos
  FROM cand c JOIN n cn ON cn.vec_id = c.nbr_id JOIN n qn ON qn.vec_id = c.query_id),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(nbr_id AS BIGINT) AS nbr_id,
       cos, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",

        "kmeans_iter": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (
  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS list_id
  FROM (SELECT v AS cv, md5(CAST(vec_id AS VARCHAR) || ':ivf') AS h
        FROM n ORDER BY h LIMIT 8)),
d0 AS (
  SELECT n.vec_id, s.list_id,
         list_sum([(n.v[i] - s.cv[i]) * (n.v[i] - s.cv[i])
                   for i in generate_series(1, 64)]) AS d2
  FROM n CROSS JOIN seeds s),
a0 AS (
  SELECT vec_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d0) WHERE rk = 1),
dims AS (SELECT unnest(generate_series(1, 64)) AS i),
means AS (
  SELECT a0.list_id, d.i, round(avg(n.v[d.i]), 6) AS m
  FROM a0 JOIN n USING (vec_id) CROSS JOIN dims d
  GROUP BY 1, 2),
cents AS (
  SELECT s.list_id, list(coalesce(m.m, s.cv[d.i]) ORDER BY d.i) AS cv
  FROM seeds s CROSS JOIN dims d
  LEFT JOIN means m ON m.list_id = s.list_id AND m.i = d.i
  GROUP BY s.list_id),
d1 AS (
  SELECT n.vec_id, c.list_id,
         list_sum([(n.v[i] - c.cv[i]) * (n.v[i] - c.cv[i])
                   for i in generate_series(1, 64)]) AS d2
  FROM n CROSS JOIN cents c),
a1 AS (
  SELECT vec_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d1) WHERE rk = 1)
SELECT CAST(a1.list_id AS BIGINT) AS list_id,
       CAST(count(*) AS BIGINT) AS n,
       round(any_value(c.cv[1]), 6) AS c1,
       round(any_value(c.cv[2]), 6) AS c2,
       round(any_value(c.cv[3]), 6) AS c3,
       round(any_value(c.cv[4]), 6) AS c4
FROM a1 JOIN cents c USING (list_id)
GROUP BY a1.list_id""",

        "quantile_stump": f"""
WITH {_cuts_cte('lineitem', 'l_quantity', 8)},
base AS (SELECT round(quantile_cont(l_extendedprice, 0.25), 6) AS bs
         FROM lineitem),
d0 AS (
  SELECT l.l_extendedprice AS y,
         CAST((SELECT count(*) FROM kcuts c WHERE c.cut < l.l_quantity)
              AS BIGINT) AS bin
  FROM lineitem l),
sc AS (SELECT round(pow(sum(sqrt(abs((SELECT bs FROM base) - y)))
                        / count(*), 2), 6) AS S
       FROM d0),
dx AS (
  SELECT bin,
         ((SELECT bs FROM base) - y) / (0.04 * (SELECT S FROM sc)) AS x
  FROM d0),
dt AS (
  SELECT bin, x,
         CASE WHEN x > 20 THEN 1.0 WHEN x < -20 THEN -1.0
              ELSE (exp(2 * x) - 1.0) / (exp(2 * x) + 1.0) END AS tx
  FROM dx),
rowstats AS (
  SELECT bin,
         round(12.5 * greatest(CASE WHEN x = 0 THEN 1.0 ELSE tx / x END,
                               3.0e-4), 6) AS h,
         round(0.5 * (tx + 1.0 - 2.0 * 0.25), 6) AS gn0,
         round(0.5 * (tx + 1.0 - 2.0 * 0.75), 6) AS gn1
  FROM dt),
al AS (SELECT * FROM (VALUES (0, 0.25), (1, 0.75)) t(grp, alpha)),
hist AS (
  SELECT al.grp, al.alpha, r.bin,
         round(sum(CASE WHEN al.grp = 0 THEN r.gn0 ELSE r.gn1 END), 4) AS Gn,
         round(sum(r.h), 4) AS H,
         count(*) AS n
  FROM rowstats r CROSS JOIN al GROUP BY 1, 2, 3),
scan AS (
  SELECT grp, alpha, bin,
         (SELECT S FROM sc)
           * sum(Gn) OVER (PARTITION BY grp ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS gl,
         sum(H) OVER (PARTITION BY grp ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hl,
         sum(n) OVER (PARTITION BY grp ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nl,
         (SELECT S FROM sc) * sum(Gn) OVER (PARTITION BY grp) AS gt,
         sum(H) OVER (PARTITION BY grp) AS ht,
         sum(n) OVER (PARTITION BY grp) AS nt,
         max(bin) OVER (PARTITION BY grp) AS mx
  FROM hist),
best AS (
  SELECT grp, alpha, bin AS best_bin, gain AS best_gain, gl, hl, nl,
         gt, ht, nt
  FROM (SELECT *,
               round(gl*gl/(hl+1.0) + (gt-gl)*(gt-gl)/(ht-hl+1.0)
                     - gt*gt/(ht+1.0), 4) AS gain,
               row_number() OVER (
                 PARTITION BY grp
                 ORDER BY round(gl*gl/(hl+1.0)
                                + (gt-gl)*(gt-gl)/(ht-hl+1.0)
                                - gt*gt/(ht+1.0), 4) DESC, bin ASC) AS rk
        FROM scan WHERE bin < mx)
  WHERE rk = 1)
SELECT CAST(grp AS BIGINT) AS grp, alpha, CAST(best_bin AS BIGINT)
       AS best_bin, best_gain,
       round(0.3 * (-gl / (hl + 1.0)), 6) AS leaf_l,
       round(0.3 * (-(gt - gl) / (ht - hl + 1.0)), 6) AS leaf_r,
       CAST(nl AS BIGINT) AS n_l, CAST(nt - nl AS BIGINT) AS n_r
FROM best""",

        "similarity_join": """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id AS id,
         ws[i.i] || ' ' || ws[i.i + 1] || ' ' || ws[i.i + 2] || ' '
         || ws[i.i + 3] || ' ' || ws[i.i + 4] AS shingle
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 4)) AS i) i
  WHERE len(ws) >= 5),
sizes AS (SELECT id, count(*) AS n_sh FROM sh GROUP BY 1),
dfreq AS (SELECT shingle, count(*) AS dfreq FROM sh GROUP BY 1),
ordered AS (
  SELECT sh.id, sh.shingle, s.n_sh,
         row_number() OVER (PARTITION BY sh.id
                            ORDER BY d.dfreq, sh.shingle) AS rk
  FROM sh JOIN dfreq d USING (shingle) JOIN sizes s ON s.id = sh.id),
prefix AS (
  SELECT * FROM ordered WHERE rk <= n_sh - ceil(0.5 * n_sh) + 1),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM prefix a JOIN prefix b ON a.shingle = b.shingle AND a.id < b.id
  WHERE least(a.n_sh, b.n_sh) >= 0.5 * greatest(a.n_sh, b.n_sh)),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN sh sa ON sa.id = c.id_a
  JOIN sh sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2)
SELECT CAST(i.id_a AS BIGINT) AS id_a, CAST(i.id_b AS BIGINT) AS id_b,
       CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
       CAST(i.n_inter AS BIGINT) AS n_inter,
       round(i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE i.n_inter / (sa.n_sh + sb.n_sh - i.n_inter) >= 0.5""",

        "pq_topk": """
WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
seeds AS (
  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS code
  FROM (SELECT v AS cv, md5(CAST(vec_id AS VARCHAR) || ':pq') AS h
        FROM n ORDER BY h LIMIT 16)),
subd AS (
  SELECT n.vec_id, j.j, s.code,
         list_sum([(n.v[j.j * 8 + i] - s.cv[j.j * 8 + i])
                   * (n.v[j.j * 8 + i] - s.cv[j.j * 8 + i])
                   for i in generate_series(1, 8)]) AS d2
  FROM n
  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j
  CROSS JOIN seeds s),
codes AS (
  SELECT vec_id, j, code
  FROM (SELECT vec_id, j, code,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, code) AS rk
        FROM subd)
  WHERE rk = 1),
adc AS (
  SELECT qd.vec_id AS query_id, c.vec_id AS nbr_id,
         round(sum(qd.d2), 8) AS adc_d2
  FROM codes c
  JOIN subd qd ON qd.j = c.j AND qd.code = c.code AND qd.vec_id < 5
  WHERE c.vec_id <> qd.vec_id
  GROUP BY 1, 2),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2 ASC, nbr_id ASC) AS rank
      FROM adc)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(nbr_id AS BIGINT) AS nbr_id,
       round(adc_d2, 8) AS adc_d2, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5""",

        "semantic_dedup": """
WITH RECURSIVE n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
seeds AS (
  SELECT cv, row_number() OVER (ORDER BY h) - 1 AS list_id
  FROM (SELECT v AS cv, md5(CAST(vec_id AS VARCHAR) || ':ivf') AS h
        FROM n ORDER BY h LIMIT 8)),
d2 AS (
  SELECT n.vec_id, s.list_id,
         list_sum([(n.v[i] - s.cv[i]) * (n.v[i] - s.cv[i])
                   for i in generate_series(1, len(n.v))]) AS d2
  FROM n CROSS JOIN seeds s),
assign AS (
  SELECT vec_id, list_id
  FROM (SELECT vec_id, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, list_id) AS rk
        FROM d2)
  WHERE rk = 1),
pairs AS (
  SELECT a.vec_id AS ia, b.vec_id AS ib
  FROM assign a
  JOIN assign b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
  JOIN n na ON na.vec_id = a.vec_id
  JOIN n nb ON nb.vec_id = b.vec_id
  WHERE list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) >= 0.5),
sym AS (SELECT ia AS a, ib AS b FROM pairs UNION ALL SELECT ib, ia FROM pairs),
nodes AS (SELECT DISTINCT a AS id FROM sym),
reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT s.a AS id, reach.r FROM sym s JOIN reach ON reach.id = s.b),
comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
SELECT CAST(e.vec_id AS BIGINT) AS id,
       CAST(coalesce(c.comp, e.vec_id) AS BIGINT) AS rep_id
FROM embeddings e LEFT JOIN comp c ON c.id = e.vec_id""",

        "order_priority_check": """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-07-01'
  AND o_orderdate < TIMESTAMP '1997-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority""",

        "nation_volume": """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3""",

        "market_share": """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       round(sum(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n2.n_regionkey
WHERE p_type = 'ECONOMY' AND r_name = 'ASIA'
GROUP BY 1""",

        "custdist": """
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
GROUP BY c_count""",

        "promo_revenue": """
SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS promo_revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01'
  AND l_shipdate < TIMESTAMP '1997-10-01'""",

        "small_qty_revenue": """
WITH j AS (
  SELECT l_quantity, l_extendedprice,
         avg(l_quantity) OVER (PARTITION BY p_partkey) AS avg_qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#13')
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_rows
FROM j WHERE l_quantity < 0.2 * avg_qty""",

        "large_orders": """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name,
       CAST(o_orderkey AS BIGINT) AS o_orderkey,
       epoch_us(o_orderdate) AS o_odate,
       round(o_totalprice, 2) AS o_totalprice,
       round(sum_qty, 2) AS sum_qty
FROM (SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) big
JOIN orders ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20""",

        "bundle_revenue": """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)""",

        "idle_customers": """
SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
       CAST(count(*) AS BIGINT) AS numcust,
       round(sum(c_acctbal), 2) AS totacctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey""",

        "returned_items": """
SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_name, n_name,
       round(c_acctbal, 2) AS c_acctbal,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20""",

        "priority_lines": """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus""",

        "retention": """
WITH d AS (
  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
first AS (
  SELECT user_id, min(wk) AS cohort FROM d GROUP BY user_id)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(wk - cohort AS BIGINT) AS week_offset,
       CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
FROM d JOIN first ON d.user_id = first.user_id
GROUP BY cohort, wk - cohort""",

        "funnel": """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view
  FROM events GROUP BY user_id),
c AS (
  SELECT p.user_id, p.t_view,
         min(CASE WHEN e.event_type = 'click'
                   AND epoch_us(e.ts) > p.t_view
                  THEN epoch_us(e.ts) END) AS t_click
  FROM per_user p JOIN events e ON e.user_id = p.user_id
  GROUP BY p.user_id, p.t_view),
b AS (
  SELECT c.user_id, c.t_view, c.t_click,
         min(CASE WHEN e.event_type = 'purchase'
                   AND epoch_us(e.ts) > c.t_click
                  THEN epoch_us(e.ts) END) AS t_buy
  FROM c JOIN events e ON e.user_id = c.user_id
  GROUP BY c.user_id, c.t_view, c.t_click)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(sum(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
       CAST(sum(CASE WHEN t_buy IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel
FROM b""",

        "json_extract": """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(sum(CASE WHEN CAST(props->>'$.k' AS BIGINT) > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_gt50,
       CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type""",

        "profile_columns": """
WITH cols(c) AS (VALUES ('l_quantity'), ('l_discount'), ('l_extendedprice'))
SELECT c AS "column", CAST(count(*) AS BIGINT) AS n,
       round(0.0, 6) AS null_frac,
       round(min(CASE c WHEN 'l_quantity' THEN l_quantity
                        WHEN 'l_discount' THEN l_discount
                        ELSE l_extendedprice END), 6) AS min,
       round(max(CASE c WHEN 'l_quantity' THEN l_quantity
                        WHEN 'l_discount' THEN l_discount
                        ELSE l_extendedprice END), 6) AS max,
       round(avg(CASE c WHEN 'l_quantity' THEN l_quantity
                        WHEN 'l_discount' THEN l_discount
                        ELSE l_extendedprice END), 6) AS mean,
       round(stddev_pop(CASE c WHEN 'l_quantity' THEN l_quantity
                               WHEN 'l_discount' THEN l_discount
                               ELSE l_extendedprice END), 6) AS stddev
FROM lineitem CROSS JOIN cols
GROUP BY c""",

        "salted_join": """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment""",

        "feature_drift": f"""
WITH {_cuts_cte('lineitem', 'l_extendedprice', 8)},
rb AS (
  SELECT (SELECT count(*) FROM kcuts WHERE cut < l_extendedprice) AS bin,
         count(*) AS n_ref
  FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-01-01'
    AND l_extendedprice IS NOT NULL GROUP BY 1),
cb AS (
  SELECT (SELECT count(*) FROM kcuts WHERE cut < l_extendedprice) AS bin,
         count(*) AS n_cur
  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    AND l_extendedprice IS NOT NULL GROUP BY 1),
j AS (
  SELECT coalesce(rb.bin, cb.bin) AS bin,
         coalesce(n_ref, 0) AS n_ref, coalesce(n_cur, 0) AS n_cur
  FROM rb FULL JOIN cb ON rb.bin = cb.bin),
f AS (
  SELECT bin,
         n_ref / (SELECT sum(n_ref)::DOUBLE FROM j) AS ref_frac,
         n_cur / (SELECT sum(n_cur)::DOUBLE FROM j) AS cur_frac
  FROM j)
SELECT CAST(bin AS BIGINT) AS bin,
       round(ref_frac, 6) AS ref_frac,
       round(cur_frac, 6) AS cur_frac,
       round((greatest(cur_frac, 1e-6) - greatest(ref_frac, 1e-6))
             * ln(greatest(cur_frac, 1e-6) / greatest(ref_frac, 1e-6)), 9)
       AS psi_term
FROM f""",

        "melt_measures": """
WITH long AS (
  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL SELECT 'l_discount', l_discount FROM lineitem
  UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
SELECT measure, CAST(count(*) AS BIGINT) AS n,
       round(sum(val), 2) AS sum_val,
       round(min(val), 6) AS min_val,
       round(max(val), 6) AS max_val
FROM long GROUP BY measure""",

        "time_rollup": """
SELECT epoch_us(date_trunc('day', ts)) AS day_us,
       epoch_us(date_trunc('hour', ts)) AS hour_us,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS sum_value
FROM events
GROUP BY ROLLUP (1, 2)""",

        "pivot_events": """
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click,
       CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view,
       CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase,
       CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup,
       CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error
FROM events GROUP BY user_id""",

        "rolling_window": """
WITH e AS (
  SELECT event_id, user_id, value, epoch_us(ts) // 1000000 AS sec FROM events)
SELECT CAST(event_id AS BIGINT) AS event_id,
       round(sum(value) OVER w, 6) AS roll_sum,
       round(avg(value) OVER w, 6) AS roll_avg,
       CAST(count(value) OVER w AS BIGINT) AS roll_count
FROM e
WINDOW w AS (PARTITION BY user_id ORDER BY sec
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""",

        "lag_features": """
SELECT CAST(event_id AS BIGINT) AS event_id,
       round(lag(value, 1) OVER w, 6) AS lag1,
       round(lag(value, 2) OVER w, 6) AS lag2
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""",

        "target_encode": """
WITH g AS (SELECT avg(l_extendedprice) AS gm FROM lineitem),
s AS (
  SELECT l_returnflag, sum(l_extendedprice) AS sy, count(l_extendedprice) AS n
  FROM lineitem GROUP BY 1)
SELECT l_returnflag,
       round((sy + 10.0 * gm) / (n + 10.0), 4) AS te,
       CAST(n AS BIGINT) AS n
FROM s CROSS JOIN g""",

        "sample_mix": """
WITH u AS (
  SELECT *, ('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 8))::BIGINT
            / 4294967296.0 AS u,
         CASE source WHEN 'src0' THEN 1.0 WHEN 'src1' THEN 0.25
                     WHEN 'src2' THEN 0.5 ELSE 0.1 END AS rate
  FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(min(doc_id) AS BIGINT) AS min_id,
       md5(array_to_string(list_sort(list(doc_id::VARCHAR)), ',')) AS ids_digest
FROM u WHERE u < rate GROUP BY source""",

        "replicate_mix": """
WITH u AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('mix' || doc_id::VARCHAR), 1, 8))::BIGINT
         / 4294967296.0 AS u,
         CASE source WHEN 'src0' THEN 2.0 WHEN 'src1' THEN 1.5
                     ELSE 1.0 END AS rate
  FROM documents),
n AS (
  SELECT doc_id, source,
         CAST(floor(rate) AS INT) + CASE WHEN u < rate - floor(rate)
                                         THEN 1 ELSE 0 END AS n
  FROM u),
r AS (
  SELECT doc_id, source, unnest(range(0, n)) AS copy FROM n WHERE n > 0)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(sum(copy) AS BIGINT) AS sum_copy
FROM r GROUP BY source""",

        "stream_join": """
SELECT CAST(count(*) AS BIGINT) AS n_attributed,
       CAST(count(DISTINCT v.user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT p.event_id) AS BIGINT) AS n_purchases
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND epoch_us(p.ts) >= epoch_us(v.ts)
 AND epoch_us(p.ts) - epoch_us(v.ts) < 3600000000
WHERE v.event_type = 'view' AND p.event_type = 'purchase'""",

        "knn_lsh": """
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings),
pl AS (
  SELECT p, [('0x' || substr(md5('pl' || p::VARCHAR || ':d' || j::VARCHAR), 1, 12))::BIGINT
             / 140737488355328.0 - 1.0 for j in range(0, 64)] AS pv
  FROM range(12) t(p)),
bits AS (
  SELECT e.id, CAST(p // 4 AS INT) AS band, p,
         CASE WHEN list_dot_product(e.v, pl.pv) > 0 THEN '1' ELSE '0' END AS bit
  FROM e CROSS JOIN pl),
sg AS (
  SELECT id, band, string_agg(bit, '' ORDER BY p) AS bucket
  FROM bits GROUP BY id, band),
cand AS (
  SELECT DISTINCT q.id AS query_id, c.id AS nbr_id
  FROM sg q JOIN sg c ON q.band = c.band AND q.bucket = c.bucket
  WHERE q.id < 5 AND q.id <> c.id),
scored AS (
  SELECT cand.query_id, cand.nbr_id,
         list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
  FROM cand JOIN e a ON a.id = cand.query_id JOIN e b ON b.id = cand.nbr_id)
SELECT CAST(query_id AS BIGINT) AS query_id, CAST(nbr_id AS BIGINT) AS nbr_id,
       round(cos, 6) AS cos, CAST(rank AS BIGINT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, nbr_id ASC) AS rank
      FROM scored)
WHERE rank <= 5""",
    }
    # round-12 additions: the wide-linear Jacobi closed form, the
    # weighted-ranker closed form, and ivf_search — whose contract is
    # that the persisted-index round trip is a NO-OP on results, so it
    # shares knn_ivf's replay verbatim
    d["wide_linear_round"] = _wide_linear_round_sql()
    d["train_ranker_weighted"] = _train_ranker_weighted_sql()
    d["ivf_search"] = d["knn_ivf"]
    return d
