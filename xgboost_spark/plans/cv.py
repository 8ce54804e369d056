"""k-fold cross-validation driving the Spark trainer.

Mirrors `xgboost.cv` (`python-package/xgboost/training.py:435`, fold
construction :307-434): plain k-fold by row hash, stratified folds for
classification, group-aware folds (by qid) for ranking.  Fold slicing
is a `filter` on a deterministic fold column — the Spark analog of
`DMatrix::Slice` (reference `include/xgboost/data.h:688`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xgboost_spark.config import TrainParams
from xgboost_spark.plans.booster import SparkBooster


def _fold_column(df: DataFrame, nfold: int, seed: int, stratified: bool,
                 label_col: str, qid_col: str | None, salt_buckets: int = 0
                 ) -> DataFrame:
    h = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
    if qid_col:
        # group-aware: a whole query group lands in one fold
        return df.withColumn("__fold__",
                             F.pmod(F.xxhash64(F.col(qid_col), F.lit(seed)),
                                    F.lit(nfold)).cast("int"))
    if stratified:
        # Exact per-label round-robin WITHOUT a per-label global sort:
        # row_number() OVER (PARTITION BY label ORDER BY hash) funnels
        # HALF THE CORPUS into one sorting task for a binary label at
        # 100 TB (and no rank-limit filter means WindowGroupLimit can't
        # rescue it).  Salted two-level rank instead: rank within
        # (label, salt-bucket) — S-way parallel, each sort bounded by
        # ~1/S of the label — then offset by the label's prefix-summed
        # bucket sizes (an (n_labels x S)-row aggregate, broadcast
        # back).  global_rank = offset + bucket_rank reproduces exactly
        # the single window's round-robin ordered by (salt, hash), so
        # per-label fold sizes stay balanced to +-1.
        #
        # S is a FIXED constant, not derived from cluster parallelism:
        # fold membership must be a pure function of (data, seed,
        # nfold) so the same job reproduces on clusters of any size.
        # 256 buckets bound each per-bucket sort at ~1/256 of a label —
        # small enough for any executor — while still giving 256-way
        # sort parallelism per label.
        S = salt_buckets or 256
        lbl = F.coalesce(F.col(label_col).cast("string"), F.lit("\0null"))
        d = (df.withColumn("_cv_h", h)
               .withColumn("_cv_l", lbl)
               .withColumn("_cv_s", F.pmod(F.xxhash64(F.col("_cv_h"),
                                                      F.lit(seed + 1)),
                                           F.lit(S)).cast("int")))
        wb = Window.partitionBy("_cv_l", "_cv_s").orderBy("_cv_h")
        ranked = d.withColumn("_cv_rn", F.row_number().over(wb))
        counts = d.groupBy("_cv_l", "_cv_s").agg(F.count("*").alias("_cv_n"))
        woff = (Window.partitionBy("_cv_l").orderBy("_cv_s")
                .rowsBetween(Window.unboundedPreceding, -1))
        offs = counts.select(
            "_cv_l", "_cv_s",
            F.coalesce(F.sum("_cv_n").over(woff), F.lit(0)).alias("_cv_off"))
        return (ranked
                .join(F.broadcast(offs), ["_cv_l", "_cv_s"])
                .withColumn("__fold__",
                            F.pmod(F.col("_cv_off") + F.col("_cv_rn"),
                                   F.lit(nfold)).cast("int"))
                .drop("_cv_h", "_cv_l", "_cv_s", "_cv_rn", "_cv_off"))
    return df.withColumn("__fold__", F.pmod(h, F.lit(nfold)).cast("int"))


def cv(params: dict | TrainParams, df: DataFrame, nfold: int = 3,
       stratified: bool = False, metrics: str | list[str] | None = None,
       seed: int = 0, label_col: str = "label",
       qid_col: str | None = None, show_train: bool = False,
       share_cuts: bool = True,
       early_stopping_rounds: int | None = None,
       maximize: bool | None = None,
       obj=None,
       verbose_eval: bool | int | None = None,
       show_stdv: bool = True,
       as_pandas: bool = True,
       fpreproc=None,
       folds=None,
       shuffle: bool = True,
       custom_metric=None,
       **fit_kw):
    """Returns the reference's cv aggregate — a pandas DataFrame with
    columns 'test-<metric>-mean' / 'test-<metric>-std' (+train-* when
    ``show_train``), one row per boosting round (``as_pandas=True``,
    the reference default, training.py:448); ``as_pandas=False``
    returns the plain {column: [values]} dict.

    ``nfold`` defaults to 3 like the reference.  ``fpreproc`` is the
    reference's per-fold preprocessing hook (training.py fpreproc):
    called as ``(train_df, valid_df, params_dict) -> (train_df,
    valid_df, params_dict)`` before each fold trains.
    ``custom_metric`` forwards to every fold's fit.  ``folds`` (sklearn
    index-based splitters) and ``shuffle=False`` (contiguous-block
    folds) are explicit non-goals: a distributed DataFrame has neither
    addressable row indices nor a stable row order to slice by — both
    raise rather than approximate.

    ``share_cuts`` (default True): the quantile sketch from fold 0 is
    reused by every later fold — the QuantileDMatrix-slice pattern
    (reference `data.h:688` DMatrix::Slice keeps the parent's cut
    layout), turning k full sketch passes into one.  Cuts built from
    (k-1)/k of the data are statistically indistinguishable from
    full-data cuts; pass False to re-sketch each fold.

    ``early_stopping_rounds``: the reference's cv-level rule — early
    stopping watches the AGGREGATED cross-fold mean of the last test
    metric, and the returned history is truncated to the best iteration
    (reference training.py cv: the EarlyStopping callback runs over
    CVPack aggregates and results are trimmed to ``best_iteration +
    1``).  The engine trains folds independently (not in per-round
    lock-step), so the stopping point is computed on the same
    aggregated series post-hoc — identical output, the reference just
    also saves the never-returned tail's compute.  ``maximize``
    overrides the metric-name inference.  ``obj``: custom objective
    forwarded to every fold (reference cv(obj=...))."""
    p = params if isinstance(params, TrainParams) else TrainParams.from_dict(params)
    if nfold < 2:
        raise ValueError(f"cv needs nfold >= 2, got {nfold}")
    if folds is not None:
        raise NotImplementedError(
            "folds= takes sklearn index-based splitters; a distributed "
            "DataFrame has no addressable row indices — use nfold/"
            "stratified/qid_col (fold membership is a pure function of "
            "(row, seed, nfold))")
    if not shuffle:
        raise NotImplementedError(
            "shuffle=False builds contiguous-block folds from the input "
            "row order; a distributed DataFrame has no stable row order "
            "to slice by")
    if metrics:
        p.eval_metric = [metrics] if isinstance(metrics, str) else list(metrics)
    if custom_metric is not None:
        fit_kw["custom_metric"] = custom_metric
    folded = _fold_column(df, nfold, seed, stratified, label_col, qid_col) \
        .localCheckpoint(eager=True)
    per_fold: list[dict] = []
    shared = fit_kw.pop("cuts", None)
    for f in range(nfold):
        train_df = folded.filter(F.col("__fold__") != f).drop("__fold__")
        valid_df = folded.filter(F.col("__fold__") == f).drop("__fold__")
        p_f = p
        if fpreproc is not None:
            # reference fpreproc hook (training.py:560-563 mknfold):
            # fn(dtrain, dtest, params) -> (dtrain, dtest, params)
            import dataclasses
            train_df, valid_df, pd_f = fpreproc(
                train_df, valid_df, dataclasses.asdict(p))
            p_f = (pd_f if isinstance(pd_f, TrainParams)
                   else TrainParams.from_dict(pd_f))
        evals = ([(train_df, "train")] if show_train else []) + [(valid_df, "test")]
        model = SparkBooster(p_f, obj=obj).fit(train_df, label_col=label_col,
                                               qid_col=qid_col, evals=evals,
                                               cuts=shared, **fit_kw)
        if share_cuts and shared is None:
            shared = model.cuts
        per_fold.append(model.eval_history)
    out: dict[str, list[float]] = {}
    for data in per_fold[0]:
        for metric in per_fold[0][data]:
            rounds = min(len(h[data][metric]) for h in per_fold)
            arr = np.asarray([h[data][metric][:rounds] for h in per_fold])
            out[f"{data}-{metric}-mean"] = arr.mean(axis=0).tolist()
            out[f"{data}-{metric}-std"] = arr.std(axis=0).tolist()
    if early_stopping_rounds:
        from xgboost_spark.functions.callbacks import EarlyStopping
        test_means = [k for k in out
                      if k.startswith("test-") and k.endswith("-mean")]
        if test_means:
            watch = test_means[-1]
            metric_name = watch[len("test-"):-len("-mean")]
            es = EarlyStopping(rounds=early_stopping_rounds,
                               maximize=maximize)
            best = len(out[watch]) - 1
            for i in range(len(out[watch])):
                log = {"test": {metric_name: out[watch][: i + 1]}}
                if es.after_iteration(None, i, log):
                    break
            if es.best_iteration is not None:
                best = es.best_iteration
            out = {k: v[: best + 1] for k, v in out.items()}
    if verbose_eval:
        # reference cv verbose (training.py:582-584 appends
        # EvaluationMonitor(period, show_stdv=show_stdv); format
        # callback.py _fmt_metric "\t{data}-{metric}:{mean:.5f}+{std:.5f}").
        # The engine trains folds independently, so the per-round lines
        # are replayed from the aggregated history after the fact —
        # identical bytes, just not interleaved with training.
        period = 1 if verbose_eval is True else max(int(verbose_eval), 1)
        pairs = [k[: -len("-mean")] for k in out if k.endswith("-mean")]
        n_rounds = max((len(v) for v in out.values()), default=0)
        for ep in range(n_rounds):
            if ep % period and ep != n_rounds - 1:
                # like the monitor's _latest replay, the final round
                # always prints even when the period skips it
                continue
            parts = []
            for key in pairs:
                if ep < len(out[f"{key}-mean"]):
                    d, _, m = key.partition("-")
                    mean = out[f"{key}-mean"][ep]
                    if show_stdv:
                        parts.append(f"{d}-{m}:{mean:.5f}"
                                     f"+{out[f'{key}-std'][ep]:.5f}")
                    else:
                        parts.append(f"{d}-{m}:{mean:.5f}")
            if parts:
                print(f"[{ep}]\t" + "\t".join(parts))
    if as_pandas:
        import pandas as pd
        return pd.DataFrame(out)
    return out
