"""Evaluation metrics as Spark aggregation queries, plus their NumPy
forms for barrier-mode training.

Reference interface `include/xgboost/metric.h:29`; kernels under
`src/metric/` (elementwise_metric.cu, multiclass_metric.cu, auc.cc,
rank_metric.cc).  Every metric is a distributed aggregation; the
reference's allreduce (e.g. `src/metric/auc.cc:124-126`) is Spark's
`agg` exchange.  All take margin columns (the model's raw output) and
apply the objective's transform inside the expression, so one pass
computes the metric without materializing predictions.

AUC and AUC-PR are the EXACT global curves on both training paths: the
DataFrame path groups rows by score and sweeps them in one sort-free
query (`auc_binary`); the barrier path gathers every rank's per-score
(pos, neg) table and sweeps the merged table (`metric_global_np`).  With
unit weights both give bit-identical values at any partition or rank
count.  The reference's distributed AUC does not: `auc.cc` GlobalSums
the per-worker local areas, so its value depends on how rows are
partitioned.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_EPS = 1e-16


def _sigmoid(c):
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-c))


def _softprob_cols(margin_cols: list[str]):
    mx = F.greatest(*[F.col(c) for c in margin_cols])
    exps = [F.exp(F.col(c) - mx) for c in margin_cols]
    z = exps[0]
    for e in exps[1:]:
        z = z + e
    return [e / z for e in exps]


def _argmax_col(cols: list[str]):
    """Index of the max margin column (first on ties)."""
    expr = F.lit(0)
    best = F.col(cols[0])
    for i, c in enumerate(cols[1:], 1):
        cond = F.col(c) > best
        expr = F.when(cond, F.lit(i)).otherwise(expr)
        best = F.when(cond, F.col(c)).otherwise(best)
    return expr


def compute_metric(df: DataFrame, metric: str, y: str = "y",
                   margin_cols: list[str] | None = None,
                   pred_kind: str = "margin",
                   weight: str | None = None) -> float:
    """Scalar metric over (label, margin).  ``metric`` follows reference
    naming: rmse, rmsle, mae, mape, mphe, logloss, error[@t],
    poisson-nloglik, gamma-nloglik, gamma-deviance, tweedie-nloglik@rho,
    quantile@alpha, expectile[@alpha], auc, merror, mlogloss.

    Convention: inputs are MARGINS; metrics that the reference defines
    on transformed predictions apply the transform inline (logloss's
    sigmoid, the nloglik families' exp).  error@t maps the threshold
    to margin space via logit(t), exact for the sigmoid transform; a
    threshold outside (0, 1) — meaningful in the reference only for
    identity/raw transforms — falls back to margin > 0.
    """
    margin_cols = margin_cols or ["m0"]
    m = F.col(margin_cols[0])
    yy = F.col(y)
    w = F.col(weight) if weight else F.lit(1.0)

    def wavg(expr):
        r = df.agg((F.sum(expr * w) / F.sum(w)).alias("v")).first()
        return float(r["v"])

    name, _, arg = metric.partition("@")
    if name == "rmse":
        return math.sqrt(wavg((m - yy) ** 2))
    if name == "rmsle":
        return math.sqrt(wavg((F.log1p(m) - F.log1p(yy)) ** 2))
    if name == "mae":
        return wavg(F.abs(m - yy))
    if name == "mape":
        return wavg(F.abs((m - yy) / yy))
    if name == "mphe":
        slope = float(arg) if arg else 1.0
        z = (m - yy) / slope
        return wavg(slope ** 2 * (F.sqrt(1.0 + z ** 2) - 1.0))
    if name == "logloss":
        p = _sigmoid(m)
        p = F.greatest(F.least(p, F.lit(1 - 1e-16)), F.lit(1e-16))
        return wavg(-(yy * F.log(p) + (1 - yy) * F.log(1 - p)))
    if name == "error":
        t = float(arg) if arg else 0.5
        # margin threshold equivalent: sigmoid(m) > t  <=>  m > logit(t)
        thr = math.log(t / (1 - t)) if 0 < t < 1 else 0.0
        pred = (m > thr).cast("double")
        return wavg((pred != yy).cast("double"))
    if name == "poisson-nloglik":
        mu = F.exp(m)
        return wavg(mu - yy * m + _lgamma(yy + 1.0))
    if name == "gamma-nloglik":
        # as reference: nloglik of gamma with psi=1
        mu = F.exp(m)
        return wavg(yy / mu + m)
    if name == "gamma-deviance":
        mu = F.exp(m)
        return 2.0 * wavg(F.log(mu / yy) + yy / mu - 1.0)
    if name == "tweedie-nloglik":
        rho = float(arg) if arg else 1.5
        return wavg(
            -(yy * F.exp((1 - rho) * m) / (1 - rho) - F.exp((2 - rho) * m) / (2 - rho))
        )
    if name == "quantile":
        # "quantile@0.25,0.5,0.75" with K margin columns: mean pinball
        # over (row, alpha) pairs — the reference's vector-alpha
        # QuantileLoss aggregate (src/metric/elementwise_metric.cu)
        alphas = ([float(a) for a in arg.split(",")] if arg else [0.5])
        if len(alphas) > 1 and len(alphas) == len(margin_cols):
            # EvalTransform semantics (objective.h:74 defaults to
            # PredTransform): the quantile objective SORTS each row's
            # predictions ascending (non-crossing, quantile_obj.cu:177)
            # before the metric sees them
            srt = F.array_sort(F.array(*[F.col(mc) for mc in margin_cols]))
            tot = None
            for k, a in enumerate(alphas):
                d = yy - F.element_at(srt, k + 1)
                t = F.when(d >= 0, a * d).otherwise((a - 1.0) * d)
                tot = t if tot is None else tot + t
            return wavg(tot / float(len(alphas)))
        if len(alphas) > 1:
            # reference CHECK: preds size must equal labels * n_alphas
            # (elementwise_metric.cu QuantileLoss) — a silent fallback
            # to alphas[0] would mask a caller wiring error
            raise ValueError(
                f"quantile@{arg}: {len(alphas)} alphas but "
                f"{len(margin_cols)} margin column(s)")
        alpha = alphas[0]
        d = yy - m
        return wavg(F.when(d >= 0, alpha * d).otherwise((alpha - 1.0) * d))
    if name == "expectile":
        # reference src/metric/elementwise_metric.cu:499-563
        # ExpectileError: weight_scale * diff^2 with diff = pred -
        # label and weight_scale = (1 - alpha) for over-prediction,
        # alpha for under-prediction; "expectile@a1,a2" with K margin
        # columns averages over (row, alpha) like vector quantile.
        # Like every metric here, the inputs are RAW margins and the
        # objective's canonical transform is applied internally: for
        # the vector form that is the SoftPlus stacking (the reference
        # learner runs EvalTransform = PredTransform before the metric,
        # regression_obj.cu:458-476), so column k>=1 is a GAP margin,
        # not the expectile itself.
        alphas = ([float(a) for a in arg.split(",")] if arg else [0.5])
        if len(alphas) > 1 and len(alphas) == len(margin_cols):
            from xgboost_spark.functions.objectives import _RT_EPS
            preds = [F.col(margin_cols[0])]
            for mc in margin_cols[1:]:
                mk = F.col(mc)
                sp = F.when(mk > 0, mk + F.log1p(F.exp(-mk))) \
                     .otherwise(F.log1p(F.exp(mk)))
                preds.append(preds[-1] + F.lit(_RT_EPS) + sp)
            tot = None
            for a, pc in zip(alphas, preds):
                d = pc - yy
                t = F.when(d >= 0, (1.0 - a) * d * d).otherwise(a * d * d)
                tot = t if tot is None else tot + t
            return wavg(tot / float(len(alphas)))
        if len(alphas) > 1:
            raise ValueError(
                f"expectile@{arg}: {len(alphas)} alphas but "
                f"{len(margin_cols)} margin column(s)")
        alpha = alphas[0]
        d = m - yy
        return wavg(F.when(d >= 0, (1.0 - alpha) * d * d)
                    .otherwise(alpha * d * d))
    if name == "auc":
        if len(margin_cols) > 1:
            return auc_multiclass(df, y=y, margin_cols=margin_cols, weight=weight)
        return auc_binary(df, y=y, score=margin_cols[0], weight=weight)
    if name == "aucpr":
        if len(margin_cols) > 1:
            return auc_multiclass(df, y=y, margin_cols=margin_cols,
                                  weight=weight, curve="pr")
        return aucpr_binary(df, y=y, score=margin_cols[0], weight=weight)
    if name == "ams":
        return ams_at_k(df, float(arg) if arg else 0.15, y=y,
                        score=margin_cols[0], weight=weight)
    if name == "merror":
        pred = _argmax_col(margin_cols)
        return wavg((pred != yy.cast("int")).cast("double"))
    if name == "mlogloss":
        probs = _softprob_cols(margin_cols)
        pick = F.lit(None).cast("double")
        expr = F.lit(0.0)
        for i, p in enumerate(probs):
            expr = F.when(yy.cast("int") == i, -F.log(F.greatest(p, F.lit(1e-16)))).otherwise(expr)
        return wavg(expr)
    raise ValueError(f"unknown metric {metric!r}")


def cox_nloglik(df: DataFrame, y: str = "y", margin: str = "m0",
                weight: str | None = "w") -> float:
    """Cox negative partial log-likelihood per event (reference
    `src/metric/rank_metric.cc:200-204` cox-nloglik).  Distributed:
    per-distinct-time risk-set suffix sums via operators/scan.prefix_sums,
    then one join + agg — no single-partition window.
    """
    from xgboost_spark.operators.scan import prefix_sums
    w = F.col(weight) if weight else F.lit(1.0)
    yy = F.col(y)
    per_t = (df.groupBy(F.abs(yy).alias("t"))
             .agg(F.sum(w * F.exp(F.col(margin))).alias("e")))
    tot = per_t.agg(F.sum("e").alias("te")).first()["te"]
    s = prefix_sums(per_t, "t", ["e"])
    s = s.select("t", F.greatest(F.lit(tot) - F.col("cum_e") + F.col("e"),
                                 F.lit(1e-300)).alias("S"))
    j = df.withColumn("_t", F.abs(yy)).join(s, F.col("_t") == s["t"], "left")
    ev = (yy > 0).cast("double") * w
    r = j.agg(F.sum(ev * (F.col(margin) - F.log("S"))).alias("L"),
              F.sum(ev).alias("n")).first()
    return float(-r["L"] / max(float(r["n"]), 1e-16))


def _lgamma(c):
    # Spark has no lgamma builtin; Stirling is adequate for count labels
    # (exact for the constant term's role in relative comparisons).
    x = c
    return (x - 0.5) * F.log(F.greatest(x, F.lit(1.0))) - x + 0.5 * math.log(2 * math.pi) + 1.0 / (12.0 * F.greatest(x, F.lit(1.0)))


def auc_binary(df: DataFrame, y: str = "y", score: str = "m0",
               weight: str | None = None) -> float:
    """Tie-aware binary AUC as a sort-based query (reference
    `src/metric/auc.cc:421` BinaryROCAUC): group rows by score, order by
    score, trapezoid over cumulative negatives.
    AUC = sum_s [ pos_s * (cumneg_below_s + neg_s/2) ] / (P*N).

    This is the exact global AUC, as is the barrier path's
    `metric_global_np` sweep of the same closed form (bit-identical
    with unit weights, where every sum is an exact half-integer).  The
    reference instead GlobalSums per-worker local areas (`auc.cc`), a
    partition-dependent value.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    g = (
        df.groupBy(F.col(score).alias("s"))
        .agg(
            F.sum(F.when(F.col(y) == 1, w).otherwise(0.0)).alias("pos"),
            F.sum(F.when(F.col(y) == 1, 0.0).otherwise(w)).alias("neg"),
        )
    )
    from xgboost_spark.operators.scan import prefix_sums
    g = prefix_sums(g, "s", ["neg"]).withColumn(
        "cumneg", F.col("cum_neg") - F.col("neg"))
    r = g.agg(
        F.sum(F.col("pos") * (F.col("cumneg") + F.col("neg") / 2)).alias("num"),
        F.sum("pos").alias("P"),
        F.sum("neg").alias("N"),
    ).first()
    if not r["P"] or not r["N"]:
        return float("nan")
    return float(r["num"] / (r["P"] * r["N"]))


def aucpr_binary(df: DataFrame, y: str = "y", score: str = "m0",
                 weight: str | None = None) -> float:
    """Binary PR-AUC (reference `src/metric/auc.cc:202-223` BinaryPRAUC
    over the BinaryAUC sweep `auc.cc:36-71`): group by score,
    descending sweep, and the reference's EXACT interpolated segment
    area `detail::CalcDeltaPRAUC` (auc.h:71-95 — the Boyd/Davis-
    Goadrich log form over the linear-in-TP interpolation, NOT a
    trapezoid in (recall, precision); round-12 fix of a ~1e-3
    divergence the trapezoid carried).  Same cardinality-bounded
    post-aggregation scan as the ROC form.
    """
    w = F.col(weight) if weight else F.lit(1.0)
    g = (df.groupBy(F.col(score).alias("s"))
         .agg(F.sum(F.when(F.col(y) == 1, w).otherwise(0.0)).alias("pos"),
              F.sum(F.when(F.col(y) == 1, 0.0).otherwise(w)).alias("neg")))
    # descending cumulative tp/fp from an ASCENDING distributed prefix
    # scan: tp_desc(s) = P - (cum_pos_asc(s) - pos(s)).  The segment's
    # "previous" sweep point is the cumulative over strictly-HIGHER
    # scores — i.e. (tp - pos, fp - neg) — so the whole area is one
    # closed-form agg: no window lag, no sort, no driver-side finish.
    from xgboost_spark.operators.scan import prefix_sums
    g = prefix_sums(g, "s", ["pos", "neg"])
    tot = g.agg(F.sum("pos").alias("P"), F.sum("neg").alias("N")).first()
    P_, N_ = float(tot["P"] or 0.0), float(tot["N"] or 0.0)
    if P_ <= 0 or N_ <= 0:
        # BinaryPRAUC single-class NaN guard (auc.cc:213-215)
        return float("nan")
    g = (g.withColumn("tp", F.lit(P_) - F.col("cum_pos") + F.col("pos"))
          .withColumn("fp", F.lit(N_) - F.col("cum_neg") + F.col("neg"))
          .withColumn("tp_prev", F.col("tp") - F.col("pos"))
          .withColumn("fp_prev", F.col("fp") - F.col("neg")))
    pr = F.col("tp") / F.lit(P_)
    pr_prev = F.col("tp_prev") / F.lit(P_)
    h = (F.col("fp") - F.col("fp_prev")) / (F.col("tp") - F.col("tp_prev"))
    a = h + F.lit(1.0)                                       # CalcA
    b = (F.col("fp_prev") - h * F.col("tp_prev")) / F.lit(P_)  # CalcB
    # F.log(x<=0) is null where C++ log is NaN — coalesce keeps the
    # poisoning semantics instead of silently dropping the segment
    nan = F.lit(float("nan"))
    log_term = (F.coalesce(F.log(a * pr + b), nan)
                - F.coalesce(F.log(a * pr_prev + b), nan))
    area = F.when(F.col("tp") == F.col("tp_prev"), F.lit(0.0)).otherwise(
        F.when(b != 0.0, (pr - pr_prev - b / a * log_term) / a)
        .otherwise((pr - pr_prev) / a))
    return float(g.agg(F.sum(area).alias("a")).first()["a"])


def auc_multiclass(df: DataFrame, y: str = "y",
                   margin_cols: list[str] | None = None,
                   weight: str | None = None, curve: str = "roc") -> float:
    """One-vs-rest AUC for multiclass models (reference
    `src/metric/auc.cc:82-146` MultiAUC kMultiClass): per class c,
    binary AUC of softprob_c against label==c.  ROC averages classes
    weighted by their positive weight (`weight = tp(c)` — BinaryROCAUC
    returns the real tp); PR is a MACRO average (BinaryPRAUC returns
    tp = 1.0, auc.cc:222, so every class weighs 1 — round-12 fix: the
    engine previously prevalence-weighted both curves).  NaN if any
    class has an undefined curve — the reference's early-NaN contract.
    Runs K binary-AUC queries, each fully distributed."""
    margin_cols = margin_cols or ["m0"]
    probs = _softprob_cols(margin_cols)
    w = F.col(weight) if weight else F.lit(1.0)
    num = 0.0
    den = 0.0
    fn = auc_binary if curve == "roc" else aucpr_binary
    for c, pcol in enumerate(probs):
        d = df.select(
            (F.col(y).cast("int") == c).cast("double").alias("_yc"),
            pcol.alias("_sc"), w.alias("_w"))
        auc_c = fn(d, y="_yc", score="_sc", weight="_w")
        if math.isnan(auc_c):
            return float("nan")
        if curve == "roc":
            p_c = float(d.agg(F.sum(F.col("_w") * F.col("_yc")).alias("p"))
                        .first()["p"] or 0.0)
        else:
            p_c = 1.0
        num += auc_c * p_c
        den += p_c
    return num / den if den > 0 else float("nan")


def ams_at_k(df: DataFrame, k_frac: float, y: str = "y", score: str = "m0",
             weight: str | None = None, b_reg: float = 10.0) -> float:
    """Approximate Median Significance (reference
    `src/metric/rank_metric.cc:48-99` EvalAMS), exact reference
    semantics (round 12 — previously an approximate `>= percentile`
    selection that over/under-counted at ties):

    - ``ntop = int(ratio * n)``; the sweep accumulates EXACTLY the top
      ``min(ntop, n-1)`` rows of the score-desc sort (the ``i <
      ndata-1`` loop bound skips the last row), labels binarized at
      ``> 0.5``, per-row weights into s (positives) / b (negatives);
      AMS = sqrt(2((s+b+br) ln(1 + s/(b+br)) - s)), br = 10.
    - ``ntop == 0`` or ``ratio >= 1`` (ntop == n): the BEST prefix AMS,
      evaluated only at distinct-score boundaries and never on the
      full-data prefix (rank_metric.cc:78-96).

    Distributed (the reference forbids this — CHECK !IsDistributed —
    because it globally sorts; this engine selects instead): the
    threshold is the exact ntop-th largest score via
    `operators.sketch.exact_rank_values` (iterative-histogram
    selection, no sort/shuffle), rows above it aggregate in one scan,
    and rows AT it contribute pro-rata ``(ntop - count_above) /
    count_at`` — the reference's unstable sort makes its own tie
    composition order-dependent, so the deterministic pro-rata split
    is this engine's pinned convention (identical whenever scores are
    distinct at the boundary).  Best-prefix mode is a distinct-score
    groupBy + descending prefix scan + max — also sort-free."""
    w = F.col(weight) if weight else F.lit(1.0)
    d = (df.select(F.col(score).cast("double").alias("_s"),
                   (F.col(y) > 0.5).cast("double").alias("_p"),
                   w.cast("double").alias("_w"))
         .filter(F.col("_s").isNotNull() & ~F.isnan("_s")))

    def _ams(s: float, b: float) -> float:
        return math.sqrt(max(
            2.0 * ((s + b + b_reg) * math.log(1.0 + s / (b + b_reg)) - s),
            0.0))

    n = d.count()
    if n == 0:
        return float("nan")
    ntop = int(k_frac * n)
    if ntop == 0:
        ntop = n
    if ntop >= n:
        best_mode = ntop == n
        if best_mode:
            # max AMS over the desc-cumulative at each distinct-score
            # boundary, excluding the full-data prefix (the reference
            # never evaluates at i = ndata-1)
            g = (d.groupBy("_s")
                 .agg(F.sum(F.col("_p") * F.col("_w")).alias("pos"),
                      F.sum((1.0 - F.col("_p")) * F.col("_w")).alias("neg")))
            from xgboost_spark.operators.scan import prefix_sums
            g = prefix_sums(g, "_s", ["pos", "neg"])
            tot = g.agg(F.sum("pos").alias("P"), F.sum("neg").alias("N"),
                        F.min("_s").alias("lo")).first()
            P_, N_, lo = float(tot["P"]), float(tot["N"]), float(tot["lo"])
            cand = (g.withColumn("s", F.lit(P_) - F.col("cum_pos") + F.col("pos"))
                     .withColumn("b", F.lit(N_) - F.col("cum_neg") + F.col("neg"))
                     .filter(F.col("_s") > lo))
            sc_, bc_ = F.col("s"), F.col("b")
            ams_col = F.sqrt(F.greatest(
                2.0 * ((sc_ + bc_ + b_reg) * F.log(1.0 + sc_ / (bc_ + b_reg))
                       - sc_), F.lit(0.0)))
            r_ = cand.agg(F.max(ams_col).alias("best")).first()
            return float(r_["best"]) if r_["best"] is not None else 0.0
        ntop = n - 1                       # ratio > 1: reference quirk
    sel = min(ntop, n - 1)
    from xgboost_spark.operators.sketch import exact_rank_values
    t = exact_rank_values(d, "_s", [n - sel + 1])[n - sel + 1]
    r = d.agg(
        F.sum(F.when(F.col("_s") > t, F.col("_p") * F.col("_w"))
              .otherwise(0.0)).alias("s_gt"),
        F.sum(F.when(F.col("_s") > t, (1.0 - F.col("_p")) * F.col("_w"))
              .otherwise(0.0)).alias("b_gt"),
        F.sum(F.when(F.col("_s") > t, 1).otherwise(0)).alias("c_gt"),
        F.sum(F.when(F.col("_s") == t, F.col("_p") * F.col("_w"))
              .otherwise(0.0)).alias("s_eq"),
        F.sum(F.when(F.col("_s") == t, (1.0 - F.col("_p")) * F.col("_w"))
              .otherwise(0.0)).alias("b_eq"),
        F.sum(F.when(F.col("_s") == t, 1).otherwise(0)).alias("c_eq"),
    ).first()
    c_gt, c_eq = int(r["c_gt"]), int(r["c_eq"])
    frac = (sel - c_gt) / c_eq if c_eq else 0.0
    s = float(r["s_gt"]) + float(r["s_eq"]) * frac
    b = float(r["b_gt"]) + float(r["b_eq"]) * frac
    return _ams(s, b)


def parse_rank_arg(metric: str, default_k: int = 10) -> tuple[str, int, bool]:
    """(base_name, k, minus) from a reference-style rank metric name:
    'ndcg', 'ndcg@5', 'ndcg@5-', 'map-'.  The trailing '-' selects the
    MINUS scoring rule (reference ltr::ParseMetricName,
    src/common/ranking_utils.cc:138): a query with NO relevant
    documents scores 0 instead of the default 1."""
    name, _, arg = metric.partition("@")
    minus = False
    if name.endswith("-"):
        name, minus = name[:-1], True
    if arg.endswith("-"):
        arg, minus = arg[:-1], True
    k = int(arg) if arg else default_k
    return name, k, minus


def ndcg_at_k(df: DataFrame, k: int, qid: str = "q", y: str = "y",
              score: str = "m0", exp_gain: bool = True,
              minus: bool = False, weight: str | None = None) -> DataFrame:
    """Per-query NDCG@k (reference `src/metric/rank_metric.cc:461-469`,
    DCG kernels `src/common/ranking_utils.h:42-46`).
    Returns (qid, ndcg); average for the scalar metric.  A query with
    no positive gain scores 1, or 0 under the '-' name suffix
    (``minus``; reference rank_metric.cc:382).

    ``weight``: per-row weight column, constant within a group (the
    ranking contract — reference ranking weights are per-GROUP,
    `info.weights_` sized n_groups).  When given, the output carries
    a ``gw`` group-weight column (one ``first()`` inside the existing
    per-query aggregation — no extra shuffle) so the scalar metric can
    be the reference's weighted mean sum(v*w_g)/sum(w_g)
    (rank_metric.cc:395-401 ``ndcg * weights[g]`` / sum_weights)."""
    gain = (F.pow(F.lit(2.0), F.col(y)) - 1.0) if exp_gain else F.col(y).cast("double")
    wp = Window.partitionBy(qid).orderBy(F.col(score).desc(), F.col(y).desc())
    wi = Window.partitionBy(qid).orderBy(F.col(y).desc())
    d = (
        df.withColumn("rk_p", F.row_number().over(wp))
        .withColumn("rk_i", F.row_number().over(wi))
        .withColumn("g", gain)
        .withColumn("dcg_t", F.when(F.col("rk_p") <= k, F.col("g") / F.log2(F.col("rk_p") + 1)).otherwise(0.0))
        .withColumn("idcg_t", F.when(F.col("rk_i") <= k, F.col("g") / F.log2(F.col("rk_i") + 1)).otherwise(0.0))
    )
    aggs = [F.sum("dcg_t").alias("dcg"), F.sum("idcg_t").alias("idcg")]
    if weight:
        aggs.append(F.first(weight).alias("gw"))
    out_cols = ["qid", F.when(F.col("idcg") > 0, F.col("dcg") / F.col("idcg"))
                .otherwise(0.0 if minus else 1.0).alias("ndcg")]
    if weight:
        out_cols.append("gw")
    return (d.groupBy(F.col(qid).alias("qid")).agg(*aggs)
            .select(*out_cols))


def map_at_k(df: DataFrame, k: int, qid: str = "q", y: str = "y",
             score: str = "m0", minus: bool = False,
             weight: str | None = None) -> DataFrame:
    """Per-query MAP@k (reference rank_metric.cc:408-453 EvalMAPScore):
    labels binarized >0.  A query with NO relevant documents scores 1
    by default, 0 under the '-' name suffix (rank_metric.cc:443) —
    matching the reference, which treats an all-negative query as
    trivially satisfied unless the minus rule asks otherwise.
    ``weight``: see ndcg_at_k — emits the per-group weight ``gw`` for
    the reference's weighted mean (rank_metric.cc:449-454
    ``map_gloc[i] * weight[i]`` / sum weights)."""
    wp = Window.partitionBy(qid).orderBy(F.col(score).desc(), F.col(y).desc())
    wcum = Window.partitionBy(qid).orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    d = (
        df.withColumn("rel", (F.col(y) > 0).cast("double"))
        .withColumn("rk", F.row_number().over(wp))
        .withColumn("cumrel", F.sum("rel").over(wcum))
        .withColumn("prec_t", F.when((F.col("rk") <= k) & (F.col("rel") > 0),
                                     F.col("cumrel") / F.col("rk")).otherwise(0.0))
    )
    aggs = [F.sum("prec_t").alias("ap_num"),
            F.least(F.sum("rel"), F.lit(float(k))).alias("denom")]
    if weight:
        aggs.append(F.first(weight).alias("gw"))
    out_cols = ["qid", F.when(F.col("denom") > 0,
                              F.col("ap_num") / F.col("denom"))
                .otherwise(0.0 if minus else 1.0).alias("ap")]
    if weight:
        out_cols.append("gw")
    return d.groupBy(F.col(qid).alias("qid")).agg(*aggs).select(*out_cols)


def precision_at_k(df: DataFrame, k: int, qid: str = "q", y: str = "y",
                   score: str = "m0",
                   weight: str | None = None) -> DataFrame:
    wp = Window.partitionBy(qid).orderBy(F.col(score).desc(), F.col(y).desc())
    d = df.withColumn("rk", F.row_number().over(wp)).filter(F.col("rk") <= k)
    # reference EvalPrecision (rank_metric.cc:316-320): n_hits = SUM OF
    # RAW LABEL VALUES (`n_hits += g_label(g_rank[i])` — not binarized)
    # over the top min(k, |group|), divided by that SAME n — a group
    # smaller than k is not penalized for its missing slots.  The
    # minus suffix has no effect on precision in the reference.
    # ``weight``: see ndcg_at_k — the reference weights n_hits by the
    # group weight (rank_metric.cc:318) and divides the scalar by
    # sum weights (:323-330), i.e. a weighted mean of per-group prec.
    aggs = [(F.sum(F.col(y).cast("double")) / F.count("*")).alias("prec")]
    if weight:
        aggs.append(F.first(weight).alias("gw"))
    return d.groupBy(F.col(qid).alias("qid")).agg(*aggs)


# ---------------------------------------------------------------------------
# NumPy metric partials for barrier-mode evaluation: each worker computes
# (weighted loss sum, weight sum [, extra]) on its rows; the ring
# allreduce is the reference's metric allreduce
# (`src/metric/elementwise_metric.cu:368-408` Reduce + rabit sync).
# ---------------------------------------------------------------------------

def _np_sigmoid(x):
    import numpy as np
    return 1.0 / (1.0 + np.exp(-x))


#: metric families computable from local partial sums inside a barrier job
BARRIER_ELEMENTWISE = {
    "rmse", "rmsle", "mae", "mape", "mphe", "logloss", "error",
    "poisson-nloglik", "gamma-nloglik", "gamma-deviance", "tweedie-nloglik",
    "quantile", "expectile", "merror", "mlogloss", "aft-nloglik",
    "interval-regression-accuracy",
}
#: per-query metrics: local when groups are co-partitioned by qid
BARRIER_RANKING = {"ndcg", "map", "pre", "auc", "aucpr"}
#: exact global curves without qid: gathered per-score tables
#: (`metric_global_np`)
BARRIER_GATHERED = {"auc", "aucpr"}


def _calc_delta_prauc(fp_prev, fp, tp_prev, tp, total_pos):
    """Exact port of detail::CalcDeltaPRAUC (reference
    src/metric/auc.h:71-95; Boyd et al., the interpolated PR segment
    area)."""
    import math
    pr_prev = tp_prev / total_pos
    pr = tp / total_pos
    if tp == tp_prev:
        a, b = 1.0, 0.0
    else:
        h = (fp - fp_prev) / (tp - tp_prev)          # CalcH
        a = h + 1.0                                  # CalcA
        b = (fp_prev - h * tp_prev) / total_pos      # CalcB
    if b != 0.0:
        return (pr - pr_prev
                - b / a * (math.log(a * pr + b) - math.log(a * pr_prev + b))
                ) / a
    return (pr - pr_prev) / a


def group_ranking_auc(y, s, pr: bool = False):
    """Per-group AUC for learning-to-rank data (reference
    src/metric/auc.cc:229-266 RankingAUC): ``None`` marks the group
    INVALID (excluded from the scalar's denominator).

    ROC (``pr=False``, GroupRankingROC auc.cc:165-195): all pairs of
    the LABEL-desc-sorted list (stable sort — equal-label pair
    orientation follows input row order, exactly the reference's
    DMatrix-order behavior) score 1 / 0.5 / 0 by prediction
    concordance; the group weight w^2 cancels between numerator and
    denominator.  Groups under 3 documents are invalid (auc.cc:247).

    PR (``pr=True``, per-group BinaryPRAUC auc.cc:202-223 over
    BinaryAUC:36-71 with the group's uniform weight, which cancels):
    graded labels accumulate into tp, (1-label) into fp — the
    reference does NOT binarize here; single-class groups (NaN) are
    invalid."""
    import numpy as np
    n = len(y)
    if not pr:
        if n < 3:
            return None
        order = np.argsort(-np.asarray(y, dtype=np.float64), kind="stable")
        p = np.asarray(s, dtype=np.float64)[order]
        d = p[:, None] - p[None, :]
        iu = np.triu_indices(n, 1)
        dv = d[iu]
        return float((np.sign(dv) + 1.0).sum() / (2.0 * len(dv)))
    yv = np.asarray(y, dtype=np.float64)
    sv = np.asarray(s, dtype=np.float64)
    total_pos = float(yv.sum())
    total_neg = float((1.0 - yv).sum())
    if total_pos <= 0 or total_neg <= 0:
        return None                      # BinaryPRAUC NaN -> invalid
    order = np.argsort(-sv, kind="stable")
    yl, ps = yv[order], sv[order]
    fp, tp = 1.0 - yl[0], yl[0]
    fp_prev = tp_prev = 0.0
    auc = 0.0
    for i in range(1, n):
        if ps[i] != ps[i - 1]:
            auc += _calc_delta_prauc(fp_prev, fp, tp_prev, tp, total_pos)
            fp_prev, tp_prev = fp, tp
        fp += 1.0 - yl[i]
        tp += yl[i]
    auc += _calc_delta_prauc(fp_prev, fp, tp_prev, tp, total_pos)
    if fp <= 0.0 or tp <= 0.0:
        auc = 0.0
    return float(auc)


def ranking_auc(df: DataFrame, qid: str = "q", y: str = "y",
                score: str = "m0", pr: bool = False) -> float:
    """Scalar LTR AUC (reference EvalAUC ranking branch,
    auc.cc:290-322): per-group AUC via one grouped Arrow kernel, then
    GlobalRatio(sum auc, valid groups) — group weights cancel inside
    each group and the reference's mean is UNWEIGHTED, so the weight
    column is irrelevant here.  NaN when every group is invalid."""
    import numpy as np
    import pandas as pd

    def per_group(pdf: "pd.DataFrame") -> "pd.DataFrame":
        v = group_ranking_auc(pdf[y].to_numpy(dtype=np.float64),
                              pdf[score].to_numpy(dtype=np.float64), pr)
        return pd.DataFrame({"auc": [0.0 if v is None else v],
                             "valid": [0 if v is None else 1]})

    per = (df.select(qid, y, score).groupBy(qid)
           .applyInPandas(per_group, "auc double, valid int"))
    r = per.agg(F.sum("auc").alias("s"), F.sum("valid").alias("v")).first()
    v = int(r["v"] or 0)
    return float(r["s"]) / v if v else float("nan")


def barrier_metric_supported(metric: str, has_qid: bool) -> bool:
    name = metric.partition("@")[0]
    if name in BARRIER_ELEMENTWISE:
        return True
    # rstrip("-") on the RANKING names only: the reference's
    # minus-suffix ('map-', 'ndcg@5-', ranking_utils.cc:138) is defined
    # for rank metrics alone — accepting 'rmse-' here would crash
    # inside the barrier job instead of failing upfront.  AUC names
    # take no suffix at all (auc.cc has no minus rule).
    base = name.rstrip("-")
    if base in BARRIER_GATHERED:
        return name == base
    return has_qid and base in BARRIER_RANKING


def metric_partial_np(metric: str, y, margin, w=None, bounds=None, obj=None,
                      qid=None, exp_gain: bool = True):
    """Local partial (num, den) for ``metric`` over NumPy rows.
    ``margin``: (n, K).  Finalize with `metric_finalize`."""
    import numpy as np
    name, _, arg = metric.partition("@")
    n = len(y) if y is not None else len(margin)
    if w is None:
        w = np.ones(n)
    # coerce array-valued margin columns (pandas object arrays of
    # per-row vectors) to a dense float (n, K) matrix up front —
    # NumPy >= 1.25 deprecates (and will error on) implicit ndim>0
    # scalar conversion further down
    margin = np.asarray(margin)
    if margin.dtype == object:
        margin = np.stack([np.asarray(v, dtype=np.float64).ravel()
                           for v in margin.ravel()])
    m = margin[:, 0] if margin.ndim > 1 else margin
    W = float(w.sum())
    if name in ("auc", "aucpr") and qid is not None:
        # LTR AUC (auc.cc:229-266 RankingAUC + :319 GlobalRatio):
        # partial = (sum of per-group AUC, valid-group count); group
        # weights cancel and the reference mean is unweighted
        num = den = 0.0
        for qv in np.unique(qid):
            rows = qid == qv
            v = group_ranking_auc(y[rows], m[rows], pr=(name == "aucpr"))
            if v is not None:
                num += v
                den += 1.0
        return num, den
    if name.rstrip("-") in ("ndcg", "map", "pre"):
        name, k, minus = parse_rank_arg(metric)
        # group-weighted mean (rank_metric.cc:395-401 / :449-454 /
        # :316-330): each group's score scales by its weight (per-row
        # weight column, constant within a group — the ranking
        # contract) and the denominator is the weight sum; w defaults
        # to ones, so unweighted data is the plain mean
        num = den = 0.0
        for qv in np.unique(qid):
            rows = qid == qv
            wr = w[rows]
            if wr.max() != wr.min():
                # reference error::GroupWeight (rank_metric.cc:295
                # CHECK_EQ weights.Size() == n_groups) — ranking
                # weights are per-GROUP, on eval data too
                raise ValueError(
                    "ranking weights must be per-GROUP: the weight "
                    "column varies within a qid group on the eval set")
            w_g = float(wr[0])
            num += w_g * _query_rank_metric(name, k, y[rows], m[rows],
                                            exp_gain, minus)
            den += w_g
        return num, den
    if name == "rmse":
        return float((w * (m - y) ** 2).sum()), W
    if name == "rmsle":
        return float((w * (np.log1p(m) - np.log1p(y)) ** 2).sum()), W
    if name == "mae":
        return float((w * np.abs(m - y)).sum()), W
    if name == "mape":
        return float((w * np.abs((m - y) / y)).sum()), W
    if name == "mphe":
        slope = float(arg) if arg else 1.0
        z = (m - y) / slope
        return float((w * slope ** 2 * (np.sqrt(1.0 + z ** 2) - 1.0)).sum()), W
    if name == "logloss":
        p = np.clip(_np_sigmoid(m), 1e-16, 1 - 1e-16)
        return float((-w * (y * np.log(p) + (1 - y) * np.log(1 - p))).sum()), W
    if name == "error":
        t = float(arg) if arg else 0.5
        thr = float(np.log(t / (1 - t))) if 0 < t < 1 else 0.0
        return float((w * ((m > thr) != (y > 0.5))).sum()), W
    if name == "poisson-nloglik":
        import math as _math
        lg = np.vectorize(_math.lgamma)
        return float((w * (np.exp(m) - y * m + lg(y + 1.0))).sum()), W
    if name == "gamma-nloglik":
        return float((w * (y / np.exp(m) + m)).sum()), W
    if name == "gamma-deviance":
        mu = np.exp(m)
        return 2.0 * float((w * (np.log(mu / y) + y / mu - 1.0)).sum()), W
    if name == "tweedie-nloglik":
        rho = float(arg) if arg else 1.5
        return float((-w * (y * np.exp((1 - rho) * m) / (1 - rho)
                            - np.exp((2 - rho) * m) / (2 - rho))).sum()), W
    if name == "quantile":
        alphas = [float(a) for a in arg.split(",")] if arg else [0.5]
        if len(alphas) > 1 and margin.ndim > 1 and margin.shape[1] == len(alphas):
            # EvalTransform = the objective's sorted PredTransform
            d = y[:, None] - np.sort(margin, axis=1, kind="stable")
            al = np.asarray(alphas)[None, :]
            pin = np.where(d >= 0, al * d, (al - 1.0) * d).mean(axis=1)
            return float((w * pin).sum()), W
        if len(alphas) > 1:
            # same CHECK as compute_metric: a multi-alpha metric on a
            # margin of the wrong width is a caller wiring error, not a
            # reason to silently score alphas[0]
            raise ValueError(
                f"quantile@{arg}: {len(alphas)} alphas but margin has "
                f"{margin.shape[1] if margin.ndim > 1 else 1} column(s)")
        alpha = alphas[0]
        d = y - m
        return float((w * np.where(d >= 0, alpha * d, (alpha - 1.0) * d)).sum()), W
    if name == "expectile":
        # reference elementwise_metric.cu:499-563: k * diff^2 with
        # k = (1-alpha) for over-prediction, alpha for under-prediction;
        # vector margins are RAW (gap-parameterized) and get the
        # SoftPlus stacking first (EvalTransform semantics — see
        # compute_metric)
        alphas = [float(a) for a in arg.split(",")] if arg else [0.5]
        if len(alphas) > 1 and margin.ndim > 1 and margin.shape[1] == len(alphas):
            from xgboost_spark.functions.objectives import Expectile
            stacked = Expectile._stack_preds(margin)
            d = stacked - y[:, None]
            al = np.asarray(alphas)[None, :]
            loss = np.where(d >= 0, (1.0 - al) * d * d, al * d * d).mean(axis=1)
            return float((w * loss).sum()), W
        if len(alphas) > 1:
            raise ValueError(
                f"expectile@{arg}: {len(alphas)} alphas but margin has "
                f"{margin.shape[1] if margin.ndim > 1 else 1} column(s)")
        alpha = alphas[0]
        d = m - y
        return float((w * np.where(d >= 0, (1.0 - alpha) * d * d,
                                   alpha * d * d)).sum()), W
    if name == "merror":
        pred = margin.argmax(axis=1)
        return float((w * (pred != y.astype(int))).sum()), W
    if name == "mlogloss":
        mx = margin.max(axis=1, keepdims=True)
        e = np.exp(margin - mx)
        p = e / e.sum(axis=1, keepdims=True)
        pi = p[np.arange(n), y.astype(int)]
        return float((-w * np.log(np.clip(pi, 1e-16, None))).sum()), W
    if name == "aft-nloglik":
        yl, yu = bounds
        return float((w * obj.loss_bounds(yl, yu, m)).sum()), W
    if name == "interval-regression-accuracy":
        yl, yu = bounds
        pred = np.exp(m)
        return float((w * ((pred >= yl) & (pred <= yu))).sum()), W
    raise ValueError(f"metric {metric!r} not barrier-computable")


def _query_rank_metric(name: str, k: int, y, score, exp_gain: bool,
                       minus: bool = False) -> float:
    import numpy as np
    order = np.lexsort((-y, -score))        # score desc, label desc on ties
    if name == "pre":
        # rank_metric.cc:316-320: raw label sum over top min(k, n)
        n = min(k, len(y))
        top = order[:n]
        return float(y[top].sum()) / float(n) if n else 0.0
    if name == "map":
        top = order[:k]
        rel = (y[top] > 0).astype(np.float64)
        if (y > 0).sum() == 0:
            # no relevant docs in the whole query: reference
            # rank_metric.cc:443 scores 1 (0 under the '-' suffix)
            return 0.0 if minus else 1.0
        cum = np.cumsum((y[order] > 0).astype(np.float64))[:k]
        ap = (rel * cum[: len(rel)] / np.arange(1, len(rel) + 1)).sum()
        denom = min(float((y > 0).sum()), float(k))
        return float(ap / denom)
    # ndcg
    gain = (2.0 ** y - 1.0) if exp_gain else y.astype(np.float64)
    disc = 1.0 / np.log2(np.arange(2, len(y) + 2))
    dcg = float((gain[order][:k] * disc[:k]).sum())
    ideal = np.sort(gain)[::-1]
    idcg = float((ideal[:k] * disc[:k]).sum())
    if idcg <= 0:
        return 0.0 if minus else 1.0           # rank_metric.cc:382
    return dcg / idcg


def _score_table(score, pos, neg):
    """One ``(score, sum pos, sum neg)`` row per distinct score,
    ascending: the barrier form of `auc_binary`'s ``groupBy(score)``."""
    import numpy as np
    s, inv = np.unique(score, return_inverse=True)
    return np.column_stack([s, np.bincount(inv, pos, len(s)),
                            np.bincount(inv, neg, len(s))])


def _curve_area(table, pr: bool) -> float:
    """Exact ROC or PR area over a merged score table (one NumPy sweep
    of the same closed forms and NaN guards as `auc_binary` /
    `aucpr_binary`)."""
    import numpy as np
    pos, neg = table[:, 1], table[:, 2]
    # totals are the sweep's own last cumulative sums, so the top
    # segment starts at exactly (0, 0) with non-unit weights too
    cum_pos, cum_neg = np.cumsum(pos), np.cumsum(neg)
    P = float(cum_pos[-1]) if len(pos) else 0.0
    N = float(cum_neg[-1]) if len(neg) else 0.0
    if not pr:
        if not P or not N:
            return float("nan")
        return float((pos * (cum_neg - neg + neg / 2)).sum() / (P * N))
    if P <= 0 or N <= 0:
        return float("nan")
    # descending sweep from ascending cumulative sums; the segment's
    # previous point is the cumulative over strictly higher scores
    tp = P - cum_pos + pos
    fp = N - cum_neg + neg
    tp_prev, fp_prev = tp - pos, fp - neg
    pr_, pr_prev = tp / P, tp_prev / P
    with np.errstate(divide="ignore", invalid="ignore"):
        h = (fp - fp_prev) / (tp - tp_prev)
        a = h + 1.0
        b = (fp_prev - h * tp_prev) / P

        def log_(x):        # Spark's log is null (here NaN) for x <= 0
            return np.where(x > 0, np.log(x), np.nan)

        log_term = log_(a * pr_ + b) - log_(a * pr_prev + b)
        area = np.where(tp == tp_prev, 0.0, np.where(
            b != 0.0, (pr_ - pr_prev - b / a * log_term) / a,
            (pr_ - pr_prev) / a))
    return float(area.sum())


def _auc_global(comm, y, margin, w, pr: bool) -> float:
    """Exact global (PR-)AUC across barrier ranks: each rank reduces its
    rows to a per-distinct-score table, `Comm.allgather_rows` collects
    the tables in rank order, ``np.unique`` merges equal scores and one
    sweep computes the area.  Binary scores the margin, as the
    DataFrame path does (a sigmoid would merge distinct extreme margins
    into ties); multiclass is `auc_multiclass`'s one-vs-rest over
    softprob — ROC weighted by each class's positive weight, PR a macro
    average, NaN if any class's curve is undefined."""
    import numpy as np
    m = np.asarray(margin, dtype=np.float64)
    if m.ndim == 1:
        m = m[:, None]
    K = m.shape[1]
    w = np.ones(len(m)) if w is None else np.asarray(w, dtype=np.float64)

    def table(score, is_pos):          # each row's weight to pos or neg
        return _score_table(score, np.where(is_pos, w, 0.0),
                            np.where(is_pos, 0.0, w))

    if K == 1:
        local = table(m[:, 0], y == 1)
    else:
        # softprob with `_softprob_cols`' association order
        e = np.exp(m - m.max(axis=1, keepdims=True))
        z = e[:, 0]
        for k in range(1, K):
            z = z + e[:, k]
        yc = y.astype(np.int64)
        tables = []
        for c in range(K):
            t = table(e[:, c] / z, yc == c)
            tables.append(np.column_stack([np.full(len(t), float(c)), t]))
        local = np.vstack(tables)
    rows = comm.allgather_rows(local)
    num = den = 0.0
    for c in range(K):
        t = rows if K == 1 else rows[rows[:, 0] == c, 1:]
        merged = _score_table(t[:, 0], t[:, 1], t[:, 2])
        auc_c = _curve_area(merged, pr)
        if K == 1 or math.isnan(auc_c):
            return auc_c
        p_c = 1.0 if pr else float(merged[:, 1].sum())
        num += auc_c * p_c
        den += p_c
    return num / den if den > 0 else float("nan")


def metric_global_np(comm, metric: str, y, margin, w=None, bounds=None,
                     obj=None, qid=None, exp_gain: bool = True) -> float:
    """The global value of ``metric`` over every barrier rank's rows.
    AUC/AUC-PR without ``qid`` gather per-score tables
    (`_auc_global`); every other metric allreduces its local
    `metric_partial_np` and finalizes."""
    name = metric.partition("@")[0]
    if name in BARRIER_GATHERED and qid is None:
        return _auc_global(comm, y, margin, w, pr=name == "aucpr")
    num, den = metric_partial_np(metric, y, margin, w, bounds=bounds,
                                 obj=obj, qid=qid, exp_gain=exp_gain)
    return metric_finalize(metric, *comm.allreduce_scalar(num, den))


def metric_finalize(metric: str, num: float, den: float) -> float:
    name = metric.partition("@")[0]
    # EvalEWiseBase::GetFinal (elementwise_metric.cu): wsum == 0
    # returns the raw sum, not a division
    v = num if den == 0 else num / den
    if name in ("rmse", "rmsle"):
        return math.sqrt(v)
    return v
