"""Distributed boosting driver — the Spark-native `xgb.train`.

`SparkBooster._fit_impl` runs four stages, each timed in
`FIT_STAGE_TIMES`:

1. **prep** — parameter validation, `_choose_path`, then
   `assemble_features` for the training frame and, once, for every eval
   set.  `_choose_path` is the one place that picks the execution path
   or refuses the fit, so a refused fit runs no Spark job;
2. **cuts** — one sketch scan that also carries the fused intercept,
   the row count and the label/weight validation counts;
3. **base_score** — the intercept, when the sketch could not carry it;
4. **loop** — the trainer the path names:

   - **barrier** (default via ``auto`` when supported): the whole
     boosting loop in one `mapInPandas(barrier=True)` job with
     allreduce histogram sync — `plans/barrier.py` `fit_barrier`.
     ~100× fewer Spark jobs.
   - **dataframe** (`SparkBooster._fit_dataframe`): one job per tree
     level + one margin pass per round; fully declarative and
     oracle-checkable; required for what `supports_barrier` refuses
     (e.g. cox, the ``ams`` metric, callbacks, custom metrics).
     ``auto`` logs the reason at INFO on the ``xgboost_spark`` logger.

The two trainers share the per-row parse (`parse_rows`), the
tree-margin kernel (`core.apply_model_margin`, which serving and
continuation use too), the DART dropout draw and normalization
(`dart_drop`, `dart_weights`), the early-stopping rule (`_early_stop`,
direction `_maximize`) and the verbose line format
(`functions/callbacks.eval_line`).

The DataFrame trainer's lifecycle mirrors the reference
(`src/learner.cc:1114-1139`, `src/gbm/gbtree.cc:182-275`) re-expressed
for Spark's execution model:

- the quantized matrix lives in a cached DataFrame that is NEVER
  mutated during a tree: rows are routed to nodes by traversing the
  broadcast partial tree inside the histogram pass (see
  operators/histogram.py) — one Spark job per tree level;
- the prediction cache (`include/xgboost/cache.h`, used
  `learner.cc:1128`) becomes persisted margin columns, kept by ONE
  per-batch kernel (`_frame_batch`) that `_frame_pass` maps over a
  frame and `localCheckpoint`s (at cluster scale use a reliable
  checkpoint dir; the pattern is identical).  After each round the
  kernel adds the new round and then, for DART, each dropped round's
  rescale delta to the margin (`core.apply_model_margin` over
  ``(rounds, weights)``), and writes the next round's gradients at
  that margin minus the next round's dropped rounds; it replays
  `refresh_leaves`' margins too;
- gradients/hessians are fp64 columns (reference accumulates
  `GradientPairPrecise`, `src/common/hist_util.h:388`).

Per-round Spark jobs: one histogram query per tree level (two jobs
under AQE: shuffle map stage, then result) + 1 margin/gradient pass,
plus per eval frame one margin pass and its metric queries — 7 at
depth 3 without evals, for gbtree and DART alike, independent of
cluster size and of the number of tree nodes.  Global-scale objectives
add one scale-statistics job, cox its Breslow pass, approx (unless
its binning is frozen) one job summing the |hessian| histogram over
the fine bins (`_approx_hists`).
"""

from __future__ import annotations

from collections.abc import Iterator

import logging
import time

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xgboost_spark import core
from xgboost_spark.config import TrainParams
from xgboost_spark.functions import metrics as metrics_mod
from xgboost_spark.functions.callbacks import TrainingState, eval_line
from xgboost_spark.functions.objectives import get_objective
from xgboost_spark.operators.histogram import SparkHistBuilder
from xgboost_spark.operators.sketch import approx_cuts
from xgboost_spark.operators.util import sql_double
from xgboost_spark.plans.model import GBDTModel
from xgboost_spark.sources.tables import assemble_features

# wall-clock of the LAST fit's fixed-overhead stages (prep = encode/
# assemble/validate, cuts = sketch job, base_score = intercept job,
# loop = the boosting loop itself).  Written by every _fit_impl call;
# read by bench.py to attribute startup-cost drift (a fit that slows
# down while per-tree throughput holds steady is hiding in one of the
# first three numbers).  Diagnostic only — never consumed by training.
FIT_STAGE_TIMES: dict[str, float] = {}

#: barrier ranks are sized at one per this many training rows (capped
#: at the core budget); see the rank-count comment in `_fit_impl`
ROWS_PER_RANK = 40000

_log = logging.getLogger("xgboost_spark")


def _compute_grads(obj, y, m, w, q, seed, subsample, K, bounds=None):
    """Shared gradient kernel; subsample zeroes rows (reference
    `src/tree/hist/sampler.h:95-104` Bernoulli row sampling)."""
    if obj.needs_bounds and bounds is not None:
        mm = m[:, 0] if m.ndim > 1 else m
        g, h = obj.grad_hess_bounds(bounds[0], bounds[1], mm, w)
        g, h = g[:, None], h[:, None]
    elif obj.needs_qid and q is not None:
        g = np.zeros(len(y))
        h = np.zeros(len(y))
        mm = m[:, 0] if m.ndim > 1 else m
        for qv in np.unique(q):
            rows = q == qv
            gq, hq = obj.grad_hess_group(
                y[rows], mm[rows], None if w is None else w[rows],
                seed=int(seed) ^ int(qv),
            )
            g[rows], h[rows] = gq, hq
        g = g[:, None]
        h = h[:, None]
    else:
        mm = m if K > 1 else (m[:, 0] if m.ndim > 1 else m)
        g, h = obj.grad_hess(y, mm, w)
        if g.ndim == 1:
            g, h = g[:, None], h[:, None]
    if subsample < 1.0:
        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        rng = np.random.default_rng((int(seed) * 1_000_003 + pid) & 0x7FFFFFFF)
        keep = rng.random(len(y)) < subsample
        g = g * keep[:, None]
        h = h * keep[:, None]
    return g, h


def parse_rows(pdf: pd.DataFrame, fnames: list[str], cuts, cat_mask, K: int,
               base_score, prev_state: dict | None, has_b: bool):
    """The per-row parse every tree trainer shares (DataFrame training
    rows, DataFrame eval rows, each barrier role):
    ``(Xb, y, w, q, bounds, margin)``.

    Features are binned on the training cuts (a categorical code is its
    own bin).  ``w``/``q`` are None when the frame has no weight/qid
    column; ``bounds`` is ``(label_lower, label_upper)`` for bounded
    objectives, whose label defaults to the lower bound.  The start
    margin is ``base_margin`` when present (it REPLACES base_score,
    predictor.cc:66), plus the continuation model's output (reference
    ``xgb_model``, training.py:183), which routes rows by raw value."""
    n, Fn = len(pdf), len(fnames)
    Xb = np.empty((n, Fn), dtype=np.int16)
    Xr = np.empty((n, Fn)) if prev_state is not None else None
    for i, c in enumerate(fnames):
        x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
        Xb[:, i] = (core.bin_categorical(x, len(cuts[i]))
                    if cat_mask is not None and cat_mask[i]
                    else core.bin_values(x, cuts[i]))
        if Xr is not None:
            Xr[:, i] = x
    bounds = None
    if has_b:
        yl = pdf["label_lower"].to_numpy(dtype=np.float64)
        yu = pdf["label_upper"].to_numpy(dtype=np.float64, na_value=np.inf)
        bounds = (yl, yu)
        y = (pdf["label"].to_numpy(dtype=np.float64)
             if "label" in pdf.columns else yl)
    else:
        y = pdf["label"].to_numpy(dtype=np.float64)
    w = (pdf["weight"].to_numpy(dtype=np.float64)
         if "weight" in pdf.columns else None)
    q = pdf["qid"].to_numpy(dtype=np.int64) if "qid" in pdf.columns else None
    if "base_margin" in pdf.columns:
        m = np.repeat(pdf["base_margin"].to_numpy(dtype=np.float64)[:, None],
                      K, 1)
    else:
        m = np.full((n, K), base_score, dtype=np.float64)
    if prev_state is not None:
        core.apply_model_margin(m, prev_state["trees"], prev_state["weights"],
                                Xr, False, K)
    return Xb, y, w, q, bounds, m


# ---------------------------------------------------------------------
# The DataFrame trainer's frame: one row per training (or eval) row,
# columns ``x*`` ``y w`` [``yl yu``] [``q``] ``m*`` [``g* h*``]


def _frame_schema(Fn: int, K: int, has_q: bool, with_grads: bool,
                  with_bounds: bool = False) -> str:
    parts = [f"x{i} smallint" for i in range(Fn)] + ["y double", "w double"]
    if with_bounds:
        parts += ["yl double", "yu double"]
    if has_q:
        parts.append("q long")
    parts += [f"m{k} double" for k in range(K)]
    if with_grads:
        parts += [f"g{k} double" for k in range(K)]
        parts += [f"h{k} double" for k in range(K)]
    return ", ".join(parts)


def _global_grads(obj) -> bool:
    """Gradients that need a frame-wide statistic first: the Breslow
    risk sets (cox) or the residual scale (global-scale objectives)."""
    return obj.needs_global_sort or obj.needs_global_scale


def _write_grads(out: dict, grads, y, m, w, q, bounds, K: int) -> None:
    """The gradient writer: ``g*``/``h*`` columns at margin ``m``;
    ``grads`` is ``(obj, seed, subsample)``."""
    obj, seed, subsample = grads
    g, h = _compute_grads(obj, y, m, w, q, seed, subsample, K, bounds=bounds)
    for k in range(K):
        out[f"g{k}"] = g[:, k]
        out[f"h{k}"] = h[:, k]


def _parse_pass(raw: DataFrame, schema: str, fnames: list[str], cuts,
                cat_mask, K: int, base_score, prev_state=None,
                has_b: bool = False, grads=None) -> DataFrame:
    """The init pass: `parse_rows` per batch into frame columns, then
    the gradient writer when ``grads`` is given (for objectives whose
    gradients need a global statistic, `_grads_pass` writes them next).
    Not checkpointed: the trainer repartitions the result first."""
    sc = raw.sparkSession.sparkContext
    bc = sc.broadcast(([np.asarray(c) for c in cuts], prev_state))
    Fn = len(fnames)

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cuts_l, st_prev = bc.value
        for pdf in it:
            if len(pdf) == 0:
                continue
            Xb, y, w, q, bounds, m = parse_rows(
                pdf, fnames, cuts_l, cat_mask, K, base_score, st_prev,
                has_b)
            out = {f"x{i}": Xb[:, i] for i in range(Fn)}
            out["y"] = y
            out["w"] = w if w is not None else np.ones(len(pdf))
            if has_b:
                out["yl"], out["yu"] = bounds
            if q is not None:
                out["q"] = q
            for k in range(K):
                out[f"m{k}"] = m[:, k]
            if grads is not None and _global_grads(grads[0]):
                # zeros that `_grads_pass` overwrites; the columns stay,
                # as the trainer's round-robin repartition first sorts
                # rows by their bytes
                out.update({f"{c}{k}": np.zeros(len(pdf))
                            for c in "gh" for k in range(K)})
            elif grads is not None:
                _write_grads(out, grads, y, m, w, q, bounds, K)
            yield pd.DataFrame(out)

    return raw.mapInPandas(fn, schema=schema)


def _frame_bins(pdf: pd.DataFrame) -> np.ndarray:
    """A frame batch's ``x*`` columns as the int16 bin matrix."""
    return np.column_stack([pdf[c].to_numpy(dtype=np.int16, na_value=-1)
                            for c in pdf.columns if c[0] == "x"])


def _frame_batch(pdf: pd.DataFrame, K: int, add=None, drop=None,
                 grads=None):
    """The one per-batch kernel over a frame (the reference's prediction
    cache update, `learner.cc:1128-1131`): returns ``(out columns,
    margin minus drop)``.

    ``add`` and ``drop`` are ``(rounds, weights)`` for
    `core.apply_model_margin`, or None.  In order: add ``add`` to the
    margin; subtract ``drop`` from a copy of it (DART); write
    ``g*``/``h*`` at that copy when ``grads`` is given.  Trees route
    rows by bin (``x*``; approx trees are remapped to these fine bins
    after growth).  Columns not written pass through."""
    out = {c: pdf[c] for c in pdf.columns}
    m = np.column_stack([pdf[f"m{k}"].to_numpy(dtype=np.float64)
                         for k in range(K)])
    if add or drop:
        X = _frame_bins(pdf)
        if add:
            core.apply_model_margin(m, *add, X, True, K)
            out.update({f"m{k}": m[:, k] for k in range(K)})
        if drop:
            rounds, weights = drop
            m = core.apply_model_margin(m.copy(), rounds,
                                        [-wt for wt in weights], X, True, K)
    if grads is not None:
        y = pdf["y"].to_numpy(dtype=np.float64)
        w = pdf["w"].to_numpy(dtype=np.float64)
        q = pdf["q"].to_numpy(dtype=np.int64) if "q" in out else None
        bounds = ((pdf["yl"].to_numpy(dtype=np.float64),
                   pdf["yu"].to_numpy(dtype=np.float64))
                  if "yl" in out else None)
        _write_grads(out, grads, y, m, w, q, bounds, K)
    return out, m


def _frame_pass(frame: DataFrame, schema: str, K: int, add=None, drop=None,
                grads=None) -> DataFrame:
    """`_frame_batch` mapped over ``frame``, localCheckpointed (at
    cluster scale a reliable checkpoint dir; the pattern is the same)."""
    bc = frame.sparkSession.sparkContext.broadcast((add, drop))

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        add_l, drop_l = bc.value
        for pdf in it:
            if len(pdf):
                out, _m = _frame_batch(pdf, K, add_l, drop_l, grads)
                yield pd.DataFrame(out)

    return frame.mapInPandas(fn, schema=schema).localCheckpoint(eager=True)


def _scale_stats(frame: DataFrame, obj, K: int, add, drop) -> np.ndarray:
    """The objective's global scale statistics (reference smooth-MM MAE
    / logistic-smoothed quantile: a GLOBAL weighted reduction per
    iteration, regression_obj.cu:642-660 / quantile_obj.cu:123-152)
    summed over every partition, at the margin `_frame_batch` computes
    from the same ``add``/``drop``: one job."""
    bc = frame.sparkSession.sparkContext.broadcast((add, drop))

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        add_l, drop_l = bc.value
        acc = None
        for pdf in it:
            if len(pdf) == 0:
                continue
            _out, m = _frame_batch(pdf, K, add_l, drop_l)
            st = obj.scale_stats(pdf["y"].to_numpy(dtype=np.float64),
                                 m if K > 1 else m[:, 0],
                                 pdf["w"].to_numpy(dtype=np.float64))
            acc = st if acc is None else acc + st
        if acc is not None:
            yield pd.DataFrame({f"s{i}": [acc[i]] for i in range(len(acc))})

    n_stats = K + 1
    r = (frame.mapInPandas(fn, schema=", ".join(f"s{i} double"
                                                for i in range(n_stats)))
         .agg(*[F.sum(f"s{i}").alias(f"s{i}") for i in range(n_stats)])
         .first())
    return np.array([float(r[f"s{i}"] or 0.0) for i in range(n_stats)])


def _approx_hists(frame: DataFrame, Fn: int, K: int,
                  n_bins: int) -> np.ndarray:
    """Each output group's global |h| histogram over the fine bins,
    ``(K, Fn, n_bins + 1)``, for `core.approx_bounds`: every partition
    sums `core.approx_hist` over its batches, and the driver adds the
    partitions in partition order, so the sum does not depend on task
    scheduling.  One job."""
    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = None
        for pdf in it:
            if len(pdf):
                X = _frame_bins(pdf)
                hk = np.stack([
                    core.approx_hist(X, pdf[f"h{k}"].to_numpy(np.float64),
                                     n_bins) for k in range(K)])
                acc = hk if acc is None else acc + hk
        if acc is not None:
            yield pd.DataFrame({"pid": [TaskContext.get().partitionId()],
                                "hist": [acc.tobytes()]})

    sel = frame.select(*[f"x{i}" for i in range(Fn)],
                       *[f"h{k}" for k in range(K)])
    out = np.zeros((K, Fn, n_bins + 1))
    for r in sorted(sel.mapInPandas(fn, "pid int, hist binary").collect(),
                    key=lambda r: r["pid"]):
        out += np.frombuffer(r["hist"]).reshape(out.shape)
    return out


def _grads_pass(frame: DataFrame, schema: str, obj, K: int, add, drop,
                grads, n_part: int | None = None) -> DataFrame:
    """``frame`` with ``add`` applied to its margins and ``g*``/``h*``
    written at that margin minus ``drop``: one `_frame_pass`.  A
    global-scale objective first sums its scale statistics at the same
    margin (`_scale_stats`, as the barrier trainer allreduces them), so
    every batch computes gradients with one scale.  Cox runs the margin
    pass, then the Breslow pass (`_cox_grad_pass`); `_choose_path`
    refuses DART with cox, so ``drop`` is empty there."""
    if obj.needs_global_sort:
        if add:
            frame = _frame_pass(frame, schema, K, add)
        return SparkBooster._cox_grad_pass(frame, schema, n_part)
    if not obj.needs_global_scale:
        return _frame_pass(frame, schema, K, add, drop, grads=grads)
    obj.set_scale(_scale_stats(frame, obj, K, add, drop))
    try:                        # the scale is pickled into the pass
        return _frame_pass(frame, schema, K, add, drop, grads=grads)
    finally:
        obj.set_scale(None)     # never leak a stale scale


def dart_drop(p, rng, tree_weights: list[float]) -> list[int]:
    """DART dropout selection (reference gbtree.h:89-123 DropTrees): the
    indices of the rounds dropped this round.  Every draw comes from
    the fit's shared ``rng``, in a fixed order, so every barrier rank
    drops the same rounds."""
    n = len(tree_weights)
    if p.booster != "dart" or not n or (p.skip_drop > 0.0
                                        and rng.random() < p.skip_drop):
        return []
    if p.sample_type == "weighted":
        wts = np.asarray(tree_weights)
        probs = np.minimum(
            p.rate_drop * wts * len(wts) / max(wts.sum(), 1e-16), 1.0)
        mask = rng.random(n) < probs
    else:
        mask = rng.random(n) < p.rate_drop
    if p.one_drop and not mask.any():
        mask[rng.integers(0, n)] = True
    return [i for i in range(n) if mask[i]]


def dart_weights(p, kdrop: int) -> tuple[float, float]:
    """DART normalization (reference normalize_type): ``(w_new,
    factor)`` — the new round's tree weight and the factor each dropped
    round's weight is scaled by.  tree: 1/(k+lr) and k/(k+lr); forest:
    1/(1+lr) for both; (1, 1) when nothing was dropped."""
    if kdrop == 0:
        return 1.0, 1.0
    if p.normalize_type == "forest":
        return 1.0 / (1.0 + p.eta), 1.0 / (1.0 + p.eta)
    return 1.0 / (kdrop + p.eta), kdrop / (kdrop + p.eta)


def _early_stop(val: float, epoch: int, best_metric, best_it,
                maximize: bool, rounds: int):
    """One ``early_stopping_rounds`` step (reference EarlyStopping,
    callback.py:311), shared by both trainers: returns ``(best_metric,
    best_it, stop)``."""
    if best_metric is None or (val > best_metric if maximize
                               else val < best_metric):
        return val, epoch, False
    return best_metric, best_it, epoch - best_it >= rounds


def _choose_path(p, obj, evals, callbacks, custom_metric,
                 has_qid: bool) -> tuple[str, str]:
    """The ONE place a fit's execution path is chosen, or the fit
    refused, before any Spark job runs: ``("barrier", "")`` for the
    one-job allreduce trainer (plans/barrier.py), else ``("dataframe",
    why)``.  ``exec_mode=barrier`` with a combination the barrier
    trainer refuses raises ValueError; a combination only the barrier
    trainer implements raises NotImplementedError once the DataFrame
    path is forced."""
    if p.exec_mode not in ("auto", "barrier"):
        why = f"exec_mode={p.exec_mode}"
    elif custom_metric is not None:
        why = "custom_metric runs on the DataFrame path"
    else:
        from xgboost_spark.plans.barrier import supports_barrier
        ok, why = supports_barrier(p, obj, evals, callbacks, has_qid=has_qid)
        if ok:
            return "barrier", ""
    if p.exec_mode == "barrier":
        raise ValueError(f"exec_mode=barrier unsupported here: {why}")
    if p.exec_mode == "auto":
        _log.info("fit runs the DataFrame path: %s", why)
    if p.checkpoint_dir:
        # fault tolerance lives on the barrier path only; a user
        # relying on it must learn it is inactive, not find out at
        # the first mid-fit failure
        import warnings
        warnings.warn(
            "checkpoint_dir is set but this fit runs the DataFrame "
            f"execution path ({why}); barrier checkpoint/resume "
            "fault tolerance is inactive for this fit",
            RuntimeWarning, stacklevel=4)
    if getattr(obj, "unbiased", False):
        raise NotImplementedError(
            "lambdarank_unbiased trains on the barrier path (the t+/t- "
            "position-bias state is allreduced across rounds inside one "
            f"job; exec_mode=auto|barrier); blocked because: {why}")
    if p.subsample < 1.0 and p.sampling_method == "gradient_based":
        raise NotImplementedError(
            "sampling_method='gradient_based' (MVS) trains on the "
            "barrier path — its sampling threshold is a global "
            "statistic allreduced per round (exec_mode=auto|barrier); "
            f"blocked because: {why}")
    if p.n_groups > 1 and p.multi_strategy == "multi_output_tree":
        raise NotImplementedError(
            "multi_output_tree trains on the barrier path "
            f"(exec_mode=auto|barrier); blocked because: {why}")
    if p.booster == "dart" and obj.needs_global_sort:
        # the Breslow pass reads the cached margin, not the dropped-out
        # one DART trains on
        raise NotImplementedError(
            f"booster='dart' is not supported with {p.objective}: its "
            "risk-set gradients need the dropped-out margin")
    return "dataframe", why


def meta_checks(raw: DataFrame, obj, objective_name: str) -> list:
    """(name, bad-row SQL predicate, message) triples for the reference's
    MetaInfo::Validate + per-objective CheckLabel (src/data/data.cc
    "Label contains NaN/Inf", regression_loss.h label-range checks).
    Consumed two ways: a standalone column-pruned aggregation
    (:func:`validate_meta` — gblinear and pinned-cuts fits) or fused
    onto the cuts-sketch scan as extra sums (_cuts_stage — saves one full
    corpus pass per fit; the checks themselves are identical)."""
    checks = []
    if "label" in raw.columns:
        # nested left to right, as `|` on Columns builds it: the SQL
        # parser would balance a flat OR chain into another plan
        bad = "(label IS NULL OR isnan(label)) OR abs(label) > 1e+308D"
        rng = getattr(obj, "label_range", None)
        if rng is not None:
            lo, hi, lo_excl = rng
            if np.isfinite(lo):
                op = "<=" if lo_excl else "<"
                bad = f"({bad}) OR label {op} {sql_double(lo)}"
            if np.isfinite(hi):
                bad = f"({bad}) OR label > {sql_double(hi)}"
        checks.append(("bad_label", bad,
                       f"label contains NaN/Inf/null or values outside the "
                       f"valid range for objective {objective_name!r}"))
    if "weight" in raw.columns:
        checks.append(("bad_weight",
                       "(weight IS NULL OR isnan(weight)) OR weight < 0",
                       "weights must be finite and >= 0"))
    if "label_lower" in raw.columns and "label_upper" in raw.columns:
        # AFT censored intervals: lower finite >= 0, lower <= upper
        # (upper may be +inf or NULL for right-censored rows)
        checks.append(("bad_bounds",
                       "((label_lower IS NULL OR isnan(label_lower)) "
                       "OR label_lower < 0) OR (label_upper IS NOT NULL AND "
                       "(isnan(label_upper) OR label_lower > label_upper))",
                       "survival bounds must satisfy 0 <= label_lower <= "
                       "label_upper (upper may be +inf)"))
    return checks


def raise_meta_violations(checks: list, counts) -> None:
    """Shared error surface for both validation paths: ``counts`` maps
    check name -> offending-row count (None/0 = clean)."""
    for key, _bad, msg in checks:
        n = counts.get(key) or 0
        if n > 0:
            raise ValueError(f"{msg} ({int(n)} offending rows)")


def validate_meta(raw: DataFrame, obj, objective_name: str) -> None:
    """Fail fast on invalid labels/weights; one column-pruned
    aggregation; without it a single NaN label silently poisons every
    leaf/coefficient in the model."""
    checks = meta_checks(raw, obj, objective_name)
    if not checks:
        return
    row = raw.selectExpr(*[f"sum(CAST(({bad}) AS BIGINT)) AS {name}"
                           for name, bad, _ in checks]).first()
    raise_meta_violations(checks, {name: row[name] for name, _b, _m in checks})


def _feature_index(cname, feat_names_out: list[str], what: str) -> int:
    """Position of a feature given by name or by index."""
    if isinstance(cname, str) and cname in feat_names_out:
        return feat_names_out.index(cname)
    if isinstance(cname, int) or str(cname).isdigit():
        return int(cname)
    raise ValueError(f"{what}: unknown feature {cname!r}; "
                     f"features are {feat_names_out}")


def _newton_stump(raw: DataFrame, obj, h_floor: float) -> float:
    """One distributed Newton step from margin 0 (reference FitIntercept,
    init_estimation.cc:8-27): ``-G / max(H, h_floor)`` over the
    objective's gradients summed across every partition."""
    has_w = "weight" in raw.columns

    def gh_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        G = H = 0.0
        for pdf in it:
            yv = pdf["label"].to_numpy(dtype=np.float64)
            w_ = (pdf["weight"].to_numpy(dtype=np.float64) if has_w else None)
            g, h = obj.grad_hess(yv, np.zeros(len(pdf)), w_)
            G += g.sum()
            H += h.sum()
        yield pd.DataFrame({"G": [G], "H": [H]})

    r = (raw.mapInPandas(gh_fn, schema="G double, H double")
         .agg(F.sum("G").alias("G"), F.sum("H").alias("H")).first())
    return float(-r["G"] / max(r["H"], h_floor))


class SparkBooster:
    """Train driver.  Usage::

        model = SparkBooster(TrainParams(...)).fit(
            df, feature_cols=[...], label_col="y")
    """

    def __init__(self, params: TrainParams, obj=None):
        """``obj``: optional custom objective — an `Objective` instance or
        a callable ``fn(y, margin, weight) -> (grad, hess)`` (the
        reference's ``xgb.train(obj=...)`` surface, `training.py:53`)."""
        self.params = params
        self.obj = get_objective(obj if obj is not None else params.objective, params)

    # ------------------------------------------------------------------
    # expectileerror is NOT fusable: its InitEstimation is mean + a
    # per-alpha Newton step (regression_obj.cu:409-455), which needs a
    # second pass over (mean - y) — see _base_score
    _FUSED_BS_OBJECTIVES = (
        "reg:squarederror", "binary:logistic", "binary:logitraw",
        "reg:logistic", "count:poisson", "reg:gamma", "reg:tweedie")

    def _base_score_fuse_aggs(self, raw: DataFrame):
        """Fused-sum specs for the mean-family intercept, to ride the
        cuts-sketch scan (see _cuts_stage; approx_cuts ``extra_sums``);
        None when the objective needs its own pass (AFT/custom/median)
        or has a fixed intercept."""
        from xgboost_spark.functions.objectives import CustomObjective
        if (self.params.objective not in self._FUSED_BS_OBJECTIVES
                or isinstance(self.obj, CustomObjective)
                or "label" not in raw.columns):
            return None
        w = "weight" if "weight" in raw.columns else None
        return [("_bs_sy", "label", w), ("_bs_sw", None, w)]

    def _base_score_from_fused(self, row) -> float | None:
        sy, sw = row["_bs_sy"], row["_bs_sw"]
        if sw is None or sw == 0.0:
            raise ValueError("training dataset is empty (no rows / zero "
                             "total weight)")
        if sy is None:
            return None
        v = float(sy) / float(sw)
        name = self.params.objective
        if name in ("binary:logistic", "binary:logitraw", "reg:logistic"):
            pmean = min(max(v, 1e-7), 1 - 1e-7)
            return float(np.log(pmean / (1 - pmean)))
        if name in ("count:poisson", "reg:gamma", "reg:tweedie"):
            return float(np.log(max(v, 1e-16)))
        return v

    def _base_score(self, raw: DataFrame) -> float:
        """Distributed fit_stump (reference `src/tree/fit_stump.h:34`,
        `src/objective/init_estimation.h:13-18`)."""
        p = self.params
        if p.base_score is not None:
            return float(p.base_score)
        name = p.objective
        if name.startswith("rank:"):
            # FitIntercept over pair gradients at margin 0 is exactly 0
            # (every pair contributes +lambda/-lambda)
            return 0.0
        if name == "survival:aft":
            # the reference's AFTObj does not override InitEstimation:
            # plain DefaultBaseScore (objective.cc:34-38)
            return 0.5
        if name == "survival:cox":
            # FitIntercept stump over the Breslow gradients at margin 0
            # (regression_obj.cu:517), distributed with the same
            # prefix-scan shape as _cox_grad_pass: at m=0, e^m = 1, so
            # per distinct |time| t the risk-set terms reduce to row
            # weights; G = sum(w*R(t)) - sum(event w),
            # H = sum(w*R(t)) - sum(w^2*R2(t))
            from xgboost_spark.operators.scan import prefix_sums
            n_part = raw.sparkSession.sparkContext.defaultParallelism
            w_c = (F.col("weight") if "weight" in raw.columns
                   else F.lit(1.0))
            per_t = (raw.groupBy(F.abs(F.col("label")).alias("t"))
                     .agg(F.sum(w_c).alias("e"),
                          F.sum(w_c * w_c).alias("e2"),
                          F.sum(F.when(F.col("label") > 0, w_c)
                                .otherwise(0.0)).alias("dw")))
            tot = per_t.agg(F.sum("e").alias("te")).first()["te"]
            s1 = prefix_sums(per_t, "t", ["e"], n_part)
            s1 = s1.withColumn(
                "S", F.greatest(F.lit(tot) - F.col("cum_e") + F.col("e"),
                                F.lit(1e-300)))
            s1 = (s1.withColumn("rr", F.col("dw") / F.col("S"))
                  .withColumn("rr2",
                              F.col("dw") / (F.col("S") * F.col("S"))))
            s2 = prefix_sums(s1, "t", ["rr", "rr2"], n_part)
            r = s2.agg(
                F.sum(F.col("e") * F.col("cum_rr")).alias("wr"),
                F.sum(F.col("e2") * F.col("cum_rr2")).alias("w2r2"),
                F.sum("dw").alias("sdw")).first()
            G = float(r["wr"]) - float(r["sdw"])
            H = float(r["wr"]) - float(r["w2r2"])
            return float(-G / max(H, 1e-6))
        if name in ("reg:squaredlogerror", "reg:pseudohubererror",
                    "binary:hinge"):
            # FitIntercept (init_estimation.cc:8-27): one distributed
            # Newton stump from the gradients at margin 0, then the
            # objective's own PredTransform (hinge -> 0/1 indicator;
            # identity for the others, and ProbToMargin is identity)
            w0 = _newton_stump(raw, self.obj, 1e-6)
            if name == "binary:hinge":
                return 1.0 if w0 > 0 else 0.0
            return w0
        from xgboost_spark.functions.objectives import CustomObjective
        if isinstance(self.obj, CustomObjective):
            if self.obj._bs is not None:
                return float(self.obj._bs)
            # generic distributed Newton stump on the custom gradient
            return _newton_stump(raw, self.obj, 1e-16)
        w = F.col("weight") if "weight" in raw.columns else F.lit(1.0)
        y = F.col("label")
        if name == "reg:expectileerror":
            # reference InitEstimation (regression_obj.cu:409-455):
            # label mean, then ONE unregularized Newton step per alpha
            # at pred=mean (FitStump, -g/max(h, kRtEps)), clamped
            # monotone non-decreasing; ProbToMargin (:478-485) converts
            # the stacked expectile-space intercepts back to raw margin
            # space (gap -> SoftPlusInv).  Two tiny scans: mean, then
            # 2K conditional sums.
            from xgboost_spark.functions.objectives import (
                _RT_EPS, Expectile)
            alphas = p.expectile_alphas
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            if r["v"] is None:
                raise ValueError("training dataset is empty (no rows / "
                                 "zero total weight)")
            mean = float(r["v"])
            d = F.lit(mean) - y
            aggs = []
            for i, a in enumerate(alphas):
                ws = F.when(d >= 0, 1.0 - a).otherwise(a) * w
                aggs += [F.sum(ws * d).alias(f"g{i}"),
                         F.sum(ws).alias(f"h{i}")]
            row = raw.agg(*aggs).first()
            out = np.array([mean - float(row[f"g{i}"])
                            / max(float(row[f"h{i}"]), _RT_EPS)
                            for i in range(len(alphas))])
            if len(alphas) == 1:
                return float(out[0])
            return Expectile.margins_from_expectiles(out)
        if name in ("reg:squarederror",):
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            if r["v"] is None:
                raise ValueError("training dataset is empty (no rows / "
                                 "zero total weight)")
            return float(r["v"])
        if name in ("binary:logistic", "binary:logitraw", "reg:logistic"):
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            pmean = min(max(float(r["v"]), 1e-7), 1 - 1e-7)
            return float(np.log(pmean / (1 - pmean)))
        if name in ("count:poisson", "reg:gamma", "reg:tweedie"):
            r = raw.agg((F.sum(y * w) / F.sum(w)).alias("v")).first()
            return float(np.log(max(float(r["v"]), 1e-16)))
        if name == "reg:absoluteerror":
            # reference MeanAbsoluteError::InitEstimation
            # (regression_obj.cu:686-739): label mean + one FitStump step
            # of the MM gradient at that mean.  Three tiny scans: mean,
            # the automatic scale delta, then the (G, H) sums.
            from xgboost_spark.functions.objectives import _RT_EPS
            r = raw.agg(F.sum(y * w).alias("sy"), F.sum(w).alias("sw")).first()
            if r["sw"] is None or float(r["sw"]) == 0.0:
                raise ValueError("training dataset is empty (no rows / "
                                 "zero total weight)")
            mean = float(r["sy"]) / float(r["sw"])
            resid = F.lit(mean) - y
            s = float(raw.agg(F.sum(w * F.sqrt(F.abs(resid))).alias("s"))
                      .first()["s"])
            delta = ((s / float(r["sw"])) ** 2
                     if float(r["sw"]) > _RT_EPS else 0.0)
            norm = F.hypot(F.lit(delta), resid)
            curv = F.when(norm > 0.0, F.lit(delta) / norm).otherwise(F.lit(1.0))
            gh = raw.agg(F.sum(w * resid * curv).alias("G"),
                         F.sum(w * curv).alias("H")).first()
            return mean + float(-gh["G"] / max(gh["H"], _RT_EPS))
        if name == "reg:quantileerror":
            # reference QuantileRegression::InitEstimation
            # (quantile_obj.cu:200-265): per-alpha label quantile —
            # interpolated R-6 unweighted, step-function weighted
            # (common/stats.h:34-103).  Exact and scale-safe via the
            # iterative-histogram selection (no sort, no global window).
            alphas = [float(a) for a in p.quantile_alpha]
            if "weight" in raw.columns:
                from xgboost_spark.operators.sketch import \
                    weighted_step_quantiles
                vals = weighted_step_quantiles(raw, "label", "weight", alphas)
                if np.isnan(vals[0]):
                    raise ValueError("training dataset is empty (no rows / "
                                     "zero total weight)")
            else:
                from xgboost_spark.operators.sketch import exact_rank_values
                n = raw.filter(F.col("label").isNotNull()
                               & ~F.isnan("label")).count()
                if n == 0:
                    raise ValueError("training dataset is empty (no rows / "
                                     "zero total weight)")
                plan = []        # (alpha) -> (k0_rank, k1_rank, d) or value
                need: set[int] = set()
                for a in alphas:
                    if a <= 1.0 / (n + 1):
                        plan.append((1, None, 0.0)); need.add(1)
                    elif a >= n / (n + 1.0):
                        plan.append((n, None, 0.0)); need.add(n)
                    else:
                        x = a * (n + 1.0)
                        k = int(np.floor(x) - 1)       # 0-based lower
                        d = (x - 1.0) - k
                        plan.append((k + 1, k + 2, d))
                        need.update((k + 1, k + 2))
                rv = exact_rank_values(raw, "label", sorted(need))
                vals = [rv[r0] if r1 is None
                        else rv[r0] + d * (rv[r1] - rv[r0])
                        for r0, r1, d in plan]
            if len(vals) == 1:
                return float(vals[0])
            return np.asarray(vals, dtype=np.float64)
        return 0.5

    # ------------------------------------------------------------------
    def fit(self, df: DataFrame, feature_cols: list[str] | None = None,
            array_col: str | None = None,
            categorical_features: list | None = None,
            evals: list[tuple[DataFrame, str]] | None = None,
            **kw) -> GBDTModel:
        """Train; see :meth:`_fit_impl` for the full surface.  STRING
        feature columns are ordinal-encoded here first (reference
        `src/encoder/ordinal.h` CatContainer: dictionary learned at fit,
        stored in the model, applied at predict) and routed through the
        categorical split path; a string column is treated as
        categorical whether or not it is listed in
        ``categorical_features``."""
        from xgboost_spark.sources.encoder import (
            encode_ordinal, fit_ordinal_encoder)
        dt = dict(df.dtypes)
        listed = list(categorical_features or [])
        str_cats = [c for c in (feature_cols or [])
                    if dt.get(c) == "string"]
        for c in listed:
            if isinstance(c, str) and dt.get(c) == "string" and c not in str_cats:
                str_cats.append(c)
        mapping = {}
        if str_cats:
            mapping = fit_ordinal_encoder(df, str_cats)
            df = encode_ordinal(df, mapping)
            evals = [(encode_ordinal(ev, mapping), name)
                     for ev, name in (evals or [])] or None
            listed = listed + [c for c in str_cats if c not in listed]
        model = self._fit_impl(df, feature_cols=feature_cols,
                               array_col=array_col,
                               categorical_features=listed or None,
                               evals=evals, **kw)
        if mapping:
            model.category_maps = mapping
        model.missing = kw.get("missing")
        return model

    def _fit_impl(self, df: DataFrame, feature_cols: list[str] | None = None,
            array_col: str | None = None, label_col: str = "label",
            weight_col: str | None = None, base_margin_col: str | None = None,
            qid_col: str | None = None,
            label_lower_col: str | None = None,
            label_upper_col: str | None = None,
            evals: list[tuple[DataFrame, str]] | None = None,
            cuts: list[np.ndarray] | None = None,
            num_partitions: int | None = None,
            callbacks: list | None = None,
            xgb_model: GBDTModel | None = None,
            categorical_features: list | None = None,
            custom_metric=None, maximize: bool | None = None,
            missing: float | None = None,
            verbose: bool = False) -> GBDTModel:
        """Four stages, each timed in `FIT_STAGE_TIMES`: prep
        (validation, `_choose_path`, feature assembly of the training
        frame and of every eval set), cuts, base score, then the one
        trainer the path names — `fit_barrier` or `_fit_dataframe`.

        ``custom_metric``: callable ``fn(eval_df) -> (name, value)``
        over the internal eval frame (columns ``y``, ``w``, ``m0..mK-1``
        [, ``q``]) — the reference's ``feval`` surface (`training.py:53`
        ``custom_metric``).  ``maximize`` overrides the early-stopping
        direction (else inferred from the last metric's name)."""
        _t0 = time.monotonic()
        FIT_STAGE_TIMES.clear()
        self._check_fit(evals, custom_metric, xgb_model,
                        bool(label_lower_col and label_upper_col))
        p = self.params
        obj = self.obj
        has_b = obj.needs_bounds
        has_q = qid_col is not None
        path, why = _choose_path(p, obj, evals, callbacks, custom_metric, has_q)

        def assemble(frame: DataFrame):
            return assemble_features(
                frame, feature_cols=feature_cols, array_col=array_col,
                label_col=(label_col if (label_col in frame.columns
                                         or not has_b) else None),
                weight_col=weight_col, base_margin_col=base_margin_col,
                qid_col=qid_col, label_lower_col=label_lower_col,
                label_upper_col=label_upper_col, missing=missing)

        raw, fnames = assemble(df)
        # eval sets share the training cuts (QuantileDMatrix ref= semantics,
        # reference core.py:1434/:1473) and the training missing value
        evals_raw = [(assemble(ev_df)[0], ev_name)
                     for ev_df, ev_name in (evals or [])]
        feat_names_out = feature_cols if (feature_cols and not array_col) else fnames
        cat_mask, mono, isets = self._feature_meta(feat_names_out,
                                                   categorical_features)
        FIT_STAGE_TIMES["prep"] = round(time.monotonic() - _t0, 3)

        _t1 = time.monotonic()
        n_part = num_partitions or df.sparkSession.sparkContext.defaultParallelism
        # Measured and rejected (round-14 optimization pass): round-robin
        # repartition + per-fit persist of a partition-starved input.
        # The single-row-group shuffle map is one core's work wherever it
        # runs — caching only MOVES it from the training job into the
        # sketch job (interleaved A/B at sf0.1: cuts 1.28->2.18 s, loop
        # 3.80->3.01 s, net ~zero) while adding cache-memory pressure at
        # scale, so the two-scan design stays.
        if has_q:
            raw = raw.repartition(n_part, "qid")   # co-locate ranking groups
            self._set_group_weight_norm(raw)
        # training continuation (reference training.py:183 xgb_model):
        # reuse the previous model's cuts and start margins at its output
        prev_state = None
        if xgb_model is not None:
            if cuts is None and xgb_model.cuts is not None:
                cuts = xgb_model.cuts
            prev_state = xgb_model._broadcastable()
        cuts, fused_bs, n_rows = self._cuts_stage(
            raw, fnames, cuts, cat_mask, fuse_bs=xgb_model is None)
        FIT_STAGE_TIMES["cuts"] = round(time.monotonic() - _t1, 3)

        _t1 = time.monotonic()
        base_score = (xgb_model.base_score if xgb_model is not None
                      else (fused_bs if fused_bs is not None
                            else self._base_score(raw)))
        FIT_STAGE_TIMES["base_score"] = round(time.monotonic() - _t1, 3)

        _t1 = time.monotonic()
        if path == "dataframe":
            model = self._fit_dataframe(
                raw, evals_raw, fnames, cuts, cat_mask, base_score, mono,
                isets, n_part, prev_state, xgb_model, feat_names_out,
                callbacks, custom_metric, maximize, verbose)
            FIT_STAGE_TIMES["loop"] = round(time.monotonic() - _t1, 3)
            return model
        # the whole boosting loop in ONE barrier job with in-job
        # allreduce histogram sync (plans/barrier.py; the reference's
        # own Spark wrapper architecture, spark/core.py:1128)
        from xgboost_spark.plans.barrier import fit_barrier
        # Rank-count sizing (round-14 optimization pass): every tree
        # level is a full-mesh synchronization across all ranks, so past
        # the point where per-rank histogram compute (~rows_per_rank x
        # ~0.1 us/row/level) stops covering the per-level collective
        # latency (~10 ms at p=16-32), extra ranks only enlarge the
        # straggler pool.  Interleaved A/B, sf0.1 fit100: p=32 loop
        # 10.5 s vs p=16 7.7 s vs p=12 8.1 s.  Derive ranks from the row
        # count (known free from the sketch scan) at ROWS_PER_RANK — the
        # measured compute/latency crossover — capped at the core
        # budget; any real corpus exceeds cores x 40k rows, so at scale
        # this is exactly the old all-cores behavior.  Explicit
        # num_partitions and the qid co-location path keep their
        # contract; fits whose cuts arrive pre-built (continuation) have
        # no count and keep the old sizing.
        if num_partitions is None and not has_q and n_rows:
            n_part = min(n_part, max(1, -(-n_rows // ROWS_PER_RANK)))
        # the early-stopping direction is resolved here, once: every
        # rank of the job reads the same value
        metric_names = _effective_metrics(p, obj)
        if maximize is None and metric_names:
            maximize = _maximize(metric_names[-1])
        trees, history, best_it, tree_weights = fit_barrier(
            p, obj, raw, fnames, cuts, cat_mask, base_score, mono, isets,
            n_part, evals_raw=evals_raw, prev_state=prev_state,
            maximize=bool(maximize))
        FIT_STAGE_TIMES["loop"] = round(time.monotonic() - _t1, 3)
        if verbose:
            # the barrier job returns the whole eval history at once:
            # replay it in the bytes the DataFrame path prints per round
            n_ep = max((len(v) for ms in history.values()
                        for v in ms.values()), default=0)
            for ep in range(n_ep):
                line = eval_line(ep, history, ep)
                if line is not None:
                    print(line)
        return self._assemble_model(
            trees, tree_weights, xgb_model, base_score, feat_names_out,
            cuts, best_it, history, p.booster == "dart")

    def _check_fit(self, evals, custom_metric, xgb_model,
                   has_bound_cols: bool) -> None:
        """Driver-only validation of a fit's arguments (no Spark job);
        also resets the objective's per-fit state."""
        p = self.params
        K = p.n_groups
        obj = self.obj
        for _, _ev_name in (evals or []):
            # reference CallbackContainer.after_iteration asserts this
            # (callback.py:263): history keys are parsed by splitting the
            # eval string on '-', so a dash in the set name corrupts them
            if "-" in _ev_name:
                raise ValueError(
                    f"Dataset name should not contain `-`: {_ev_name!r}")
        if p.early_stopping_rounds and not evals:
            # reference EarlyStopping.after_iteration (callback.py:449):
            # silent no-op stopping would be a footgun, so fail up front
            raise ValueError(
                "Must have at least 1 validation dataset for early "
                "stopping.")
        if (p.early_stopping_rounds and evals
                and not p.eval_metric
                and p.disable_default_eval_metric
                and custom_metric is None):
            # same footgun through the r14 disable_default_eval_metric
            # path: zero metrics -> an empty evals_log -> the reference
            # raises rather than silently never stopping
            raise ValueError(
                "early stopping requires at least one metric: "
                "eval_metric is empty, disable_default_eval_metric is "
                "set, and no custom_metric was given")
        obj.set_scale(None)      # never reuse a previous fit's scale
        if hasattr(obj, "weight_norm"):
            obj.weight_norm = 1.0    # per-fit; see _set_group_weight_norm
        if p.tree_method not in ("hist", "approx"):
            raise ValueError(f"unsupported tree_method {p.tree_method!r} "
                             "(exact greedy is not distributed; use hist)")
        if p.multi_strategy == "multi_output_tree" and obj.adaptive_alpha is not None:
            raise NotImplementedError(
                "custom adaptive-leaf objectives (adaptive_alpha set) need "
                "scalar leaves — use multi_strategy='one_output_per_tree'")
        if (p.tree_method == "approx"
                and p.multi_strategy == "multi_output_tree" and K > 1):
            # reference: CHECK(!p_tree->IsMultiTarget()) << "approx" <<
            # MTNotImplemented() (updater_approx.cc:166)
            raise NotImplementedError(
                "approx is not yet implemented for multi-target trees — "
                "use tree_method='hist' or "
                "multi_strategy='one_output_per_tree'")
        if obj.needs_bounds and not has_bound_cols:
            raise ValueError(f"{p.objective} needs label_lower_col and label_upper_col")
        # fail a vector-alpha eval metric that can't match this model's
        # output width BEFORE training starts (the kernels raise too,
        # but mid-barrier-job — reference CHECKs this upfront)
        for mname in (p.eval_metric or []):
            mbase, _, marg = mname.partition("@")
            if mbase.rstrip("-") in ("quantile", "expectile") and marg:
                n_alphas = len([a for a in marg.rstrip("-").split(",")
                                if a.strip()])
                if n_alphas > 1 and n_alphas != K:
                    raise ValueError(
                        f"eval_metric {mname!r} has {n_alphas} alphas but "
                        f"the model produces {K} output group(s)")
        if (xgb_model is not None
                and getattr(xgb_model, "base_score_vec", None) is not None):
            raise NotImplementedError(
                "training continuation from a vector-intercept model "
                "is unsupported; serve it with transform() instead")

    def _set_group_weight_norm(self, raw: DataFrame) -> None:
        """Ranking group-weight normalization n_groups / sum(w_group)
        (ranking_utils.cc:37-44, applied lambdarank_obj.cc:245-249 as
        gpair * w * w_norm): computed ONCE per fit — weights are
        immutable during training — as a tiny two-level agg (per-group
        first() then a global count/sum), global across all workers.
        Unweighted data stays at exactly 1.0 (sum w_group == n_groups)."""
        obj = self.obj
        if not hasattr(obj, "weight_norm") or "weight" not in raw.columns:
            return
        # the same job also validates the ranking-weight contract: the
        # reference sizes info.weights_ at n_groups (rank_metric.cc:
        # 295-296 CHECK_EQ + error::GroupWeight) — the per-row
        # equivalent is weights CONSTANT within each group
        r_wn = (raw.groupBy("qid")
                .agg(F.first("weight").alias("w"),
                     (F.max("weight") - F.min("weight")).alias("spread"))
                .agg(F.count("*").alias("n"), F.sum("w").alias("s"),
                     F.max("spread").alias("mx")).first())
        if r_wn is not None and float(r_wn["mx"] or 0.0) > 0.0:
            raise ValueError(
                "ranking weights must be per-GROUP: the "
                "weight column varies within a qid group "
                "(the reference sizes group weights at "
                "n_groups — rank_metric.cc:295)")
        if r_wn is not None and float(r_wn["s"] or 0.0) > 0.0:
            obj.weight_norm = float(r_wn["n"]) / float(r_wn["s"])

    def _cuts_stage(self, raw: DataFrame, fnames: list[str], cuts, cat_mask,
                    fuse_bs: bool):
        """``(cuts, fused base score or None, row count or None)``.

        Without pre-built cuts ONE sketch scan produces the cuts and, as
        fused sums on the same pass, the mean-family intercept (when
        ``fuse_bs``), the exact row count (it sizes the barrier rank
        count) and the label/weight/bounds bad-row counts (reference
        MetaInfo::Validate; the standalone column-pruned aggregation
        was a whole extra corpus pass per fit).  Pre-built cuts
        (continuation, pinned-cuts fits) keep the standalone validation
        pass.  Categorical features get identity cuts sized by their
        largest observed code."""
        p = self.params
        fused_bs = n_rows = None
        if cuts is None:
            sketch_bins = p.max_bin
            if p.tree_method == "approx":
                # approx quantizes at 4x resolution; each round's
                # hessian-weighted binning merges these fine bins
                # (core.approx_bounds), on either trainer
                sketch_bins = min(4 * p.max_bin, 2048)
            bs_aggs = (self._base_score_fuse_aggs(raw)
                       if (p.base_score is None and fuse_bs) else None)
            vm_checks = meta_checks(raw, self.obj, p.objective)
            # each check is a 0/1 flag column summed in the same pass
            vm_src = raw.selectExpr("*", *[
                f"CAST(({bad}) AS DOUBLE) AS _vm_{name}"
                for name, bad, _msg in vm_checks])
            vm_specs = [(f"_vm_{name}", f"_vm_{name}", None)
                        for name, _bad, _msg in vm_checks]
            cuts, row = approx_cuts(
                vm_src, fnames, sketch_bins,
                extra_sums=(bs_aggs or []) + [("_n_rows_", None, None)]
                + vm_specs)
            raise_meta_violations(
                vm_checks, {name: row.get(f"_vm_{name}")
                            for name, _b, _m in vm_checks})
            if bs_aggs:
                fused_bs = self._base_score_from_fused(row)
            if row.get("_n_rows_") is not None:
                n_rows = int(row["_n_rows_"])
        else:
            validate_meta(raw, self.obj, p.objective)
        if cat_mask is not None:
            cat_idx = list(np.nonzero(cat_mask)[0])
            maxes = raw.agg(*[F.max(fnames[i]).alias(f"m{i}")
                              for i in cat_idx]).first()
            cuts = list(cuts)
            for i in cat_idx:
                n_cats = int(maxes[f"m{i}"] or 0) + 1
                cuts[i] = np.arange(max(n_cats, 2), dtype=np.float64)
        return cuts, fused_bs, n_rows

    def _fit_dataframe(self, raw: DataFrame, evals_raw, fnames: list[str],
                       cuts, cat_mask, base_score, mono, isets, n_part: int,
                       prev_state, xgb_model, feat_names_out, callbacks,
                       custom_metric, maximize, verbose) -> GBDTModel:
        """The per-level DataFrame trainer (module docstring): binned
        rows, margins and gradients live in a checkpointed DataFrame;
        each tree level is one histogram job, each round one margin
        pass per frame; callbacks drive the loop like the reference's
        CallbackContainer.

        DART draws round r+1's dropout at the end of round r, so it
        reads the DART parameters as they stand then: only a callback
        that edits them in ``before_iteration`` could notice."""
        p = self.params
        obj = self.obj
        K = p.n_groups
        Fn = len(fnames)
        has_q = "qid" in raw.columns
        has_b = obj.needs_bounds
        is_approx = p.tree_method == "approx"
        fw = (np.asarray(p.feature_weights, dtype=np.float64)
              if p.feature_weights is not None else None)
        seed = p.seed
        n_forest = max(p.num_parallel_tree, 1)

        def grads(round_seed: int):
            return (obj, round_seed, p.subsample)

        train_schema = _frame_schema(Fn, K, has_q, with_grads=True,
                                     with_bounds=has_b)
        eval_schema = _frame_schema(Fn, K, has_q, with_grads=False,
                                    with_bounds=has_b)

        def parse(frame: DataFrame, with_grads: bool) -> DataFrame:
            return _parse_pass(
                frame, train_schema if with_grads else eval_schema, fnames,
                cuts, cat_mask, K, base_score, prev_state, has_b,
                grads(seed) if with_grads else None)

        binned = parse(raw, True)
        if not has_q:
            binned = binned.repartition(n_part)
        binned = binned.localCheckpoint(eager=True)
        if _global_grads(obj):
            binned = _grads_pass(binned, train_schema, obj, K, None, None,
                                 grads(seed), n_part=n_part)
        eval_states = [[parse(ev_raw, False).localCheckpoint(eager=True),
                        ev_name] for ev_raw, ev_name in evals_raw]

        fcols = [f"x{i}" for i in range(Fn)]
        builders = [
            SparkHistBuilder(binned, fcols, cuts, gcol=f"g{k}", hcol=f"h{k}")
            for k in range(K)
        ]
        rng = np.random.default_rng(p.seed)
        trees: list[list[core.Tree]] = []
        tree_weights: list[float] = []
        dropped: list[int] = []       # DART: this round's dropped rounds
        history: dict[str, dict[str, list[float]]] = {}
        best_it, best_metric = None, None
        metric_names = _effective_metrics(p, obj)

        def _make_model():
            return self._assemble_model(
                trees, tree_weights, xgb_model, base_score, feat_names_out,
                cuts, best_it, history, p.booster == "dart")

        cb_state = TrainingState(p, _make_model)
        cb_state.xgb_model = xgb_model    # continuation offset for
        orig_eta = p.eta                  # EarlyStopping.starting_round
        for cb in (callbacks or []):
            cb.before_training(cb_state)

        n_bins = max(len(c) for c in cuts)
        approx_cache = None       # the frozen const-hess binning
        for it_round in range(p.num_boost_round):
            stop = False
            for cb in (callbacks or []):
                stop = cb.before_iteration(cb_state, it_round) or stop
            if stop:
                break
            p.eta = cb_state.eta      # LearningRateScheduler applies here

            round_bounds = approx_cache
            if is_approx and round_bounds is None:
                # per-group hessian-weighted re-binning of the fine bins
                # (reference approx updater, updater_approx.cc:95-130,
                # re-sketching per group, :283-298), as the barrier
                # trainer does it: one job sums each group's |h|
                # histogram, `core.approx_bounds` picks the coarse bins
                # and each group's builder maps batches onto them.
                # Const-hess K=1 objectives (squarederror) freeze round
                # 0's binning (BatchSpec regen = !const_hess,
                # updater_approx.cc:47-52).
                hists = _approx_hists(binned, Fn, K, n_bins)
                round_bounds = [core.approx_bounds(hists[k], cuts, cat_mask,
                                                   p.max_bin)
                                for k in range(K)]
                builders = [
                    SparkHistBuilder(binned, fcols,
                                     core.coarse_cuts(cuts, round_bounds[k]),
                                     gcol=f"g{k}", hcol=f"h{k}",
                                     bounds=round_bounds[k])
                    for k in range(K)
                ]
                if K == 1 and obj.const_hess:
                    approx_cache = round_bounds

            round_trees: list[core.Tree] = []
            fmask = None
            if p.colsample_bytree < 1.0:
                fmask = core._rng_mask(rng, Fn, p.colsample_bytree, weights=fw)
            for k in range(K):
                forest = []
                for _ in range(n_forest):
                    tree = core.grow_tree(builders[k], p, rng,
                                          feature_mask_tree=fmask, monotone=mono,
                                          interaction_sets=isets,
                                          cat_features=cat_mask)
                    forest.append(tree)
                if n_forest > 1:
                    # random-forest round: average by scaling leaves
                    for t in forest:
                        t.leaf_value = [v / n_forest for v in t.leaf_value]
                round_trees.extend(forest)
            if is_approx:
                # back to the fine bins every frame holds (margins,
                # evals, adaptive leaves and the model's cuts)
                for i, t in enumerate(round_trees):
                    core.remap_split_bins(t, round_bounds[i // n_forest])
            if obj.adaptive_alpha is not None:
                aa = obj.adaptive_alpha
                for i, t in enumerate(round_trees):
                    k_r = i // n_forest
                    alpha_k = aa[k_r] if isinstance(aa, tuple) else aa
                    self._adaptive_leaf_refresh(binned, t, alpha_k, p.eta,
                                                group=k_r)

            # the margin pass adds the new round, then each re-weighted
            # dropped round's delta weight (DART)
            w_new, factor = dart_weights(p, len(dropped))
            add = ([round_trees] + [trees[ri] for ri in dropped],
                   [w_new] + [tree_weights[ri] * (factor - 1.0)
                              for ri in dropped])
            for ri in dropped:
                tree_weights[ri] *= factor
            trees.append(round_trees)
            tree_weights.append(w_new)
            # DART: draw the next round's dropout now that this round is
            # committed (nothing below draws from rng before the next
            # round grows), so the margin pass writes its gradients at
            # the dropped-out margin directly
            dropped = dart_drop(p, rng, tree_weights)
            drop = (([trees[ri] for ri in dropped],
                     [tree_weights[ri] for ri in dropped]) if dropped else None)
            binned = _grads_pass(binned, train_schema, obj, K, add, drop,
                                 grads(seed + it_round + 1))
            for k in range(K):
                builders[k].df = binned
            for st in eval_states:
                st[0] = _frame_pass(st[0], eval_schema, K, add)
            # evaluation + early stopping (reference EvalOneIter
            # `learner.cc:1164-1194`; EarlyStopping callback.py:311)
            if eval_states:
                last = None
                last_name = metric_names[-1] if metric_names else None
                for ev_binned, ev_name in eval_states:
                    for mname in metric_names:
                        val = self._eval_metric(ev_binned, mname, K, has_q)
                        history.setdefault(ev_name, {}).setdefault(mname, []).append(val)
                        last = val
                    if custom_metric is not None:
                        cname, val = custom_metric(ev_binned)
                        history.setdefault(ev_name, {}).setdefault(cname, []).append(val)
                        last, last_name = val, cname
                if verbose and history:
                    # the custom metric rides at the end of its data
                    # block, like the reference's parsed feval string
                    print(eval_line(it_round, history))
                if p.early_stopping_rounds and last is not None:
                    best_metric, best_it, stop = _early_stop(
                        last, it_round, best_metric, best_it,
                        maximize if maximize is not None
                        else _maximize(last_name),
                        p.early_stopping_rounds)
                    if stop:
                        break
            stop = False
            for cb in (callbacks or []):
                stop = cb.after_iteration(cb_state, it_round, history) or stop
            if stop:
                break

        p.eta = orig_eta
        for cb in (callbacks or []):
            cb.after_training(cb_state)
        model = _make_model()
        for cb in (callbacks or []):
            # reference after_training returns the (possibly save_best-
            # sliced) model; callbacks exposing finalize_model get the
            # finished artifact to stamp or slice
            if hasattr(cb, "finalize_model"):
                model = cb.finalize_model(model)
        return model

    def _feature_meta(self, feat_names_out: list[str], categorical_features):
        """Per-feature parameters resolved against the feature names:
        ``(categorical mask, monotone directions, interaction sets)``;
        ``feature_weights`` is normalized to a list in place."""
        p = self.params
        Fn = len(feat_names_out)
        if p.feature_weights is not None:
            if isinstance(p.feature_weights, dict):
                fwl = [float(p.feature_weights.get(c, 1.0)) for c in feat_names_out]
            else:
                fwl = [float(v) for v in p.feature_weights]
            if len(fwl) != Fn:
                raise ValueError(
                    f"feature_weights: {len(fwl)} weights for {Fn} features")
            p.feature_weights = fwl      # normalized; grow_tree reads it
        # categorical features: ordinal codes are the bins; cuts become
        # identity ranges sized by the observed max code
        cat_mask = None
        if categorical_features:
            cat_mask = np.zeros(Fn, dtype=bool)
            for cname in categorical_features:
                cat_mask[_feature_index(cname, feat_names_out,
                                        "categorical_features")] = True
        return (cat_mask, self._parse_monotone(feat_names_out, Fn),
                self._parse_interactions(feat_names_out, Fn))

    def _parse_monotone(self, feat_names_out: list[str], Fn: int):
        p = self.params
        mc = p.monotone_constraints
        if not mc:
            return None
        if isinstance(mc, str):
            # reference string form "(1,-1,0)" — positional directions
            mc = [int(t) for t in mc.strip("()[] ").split(",") if t.strip()]
        if isinstance(mc, (list, tuple)):
            mc = {str(i): int(v) for i, v in enumerate(mc)}
        mono = np.zeros(Fn, dtype=np.int8)
        for cname, v in mc.items():
            key = cname if cname in feat_names_out else None
            idx = feat_names_out.index(cname) if key else int(cname)
            mono[idx] = v
        return mono

    def _parse_interactions(self, feat_names_out: list[str], Fn: int):
        p = self.params
        ic = p.interaction_constraints
        if not ic:
            return None
        if isinstance(ic, str):
            # reference string form '[[0, 1], [2, 3]]'
            import json as _json
            ic = _json.loads(ic)
        isets = []
        for group in ic:
            m = np.zeros(Fn, dtype=bool)
            for cname in group:
                m[_feature_index(cname, feat_names_out,
                                 "interaction_constraints")] = True
            isets.append(m)
        return isets

    def _assemble_model(self, trees, tree_weights, xgb_model, base_score,
                        feat_names_out, cuts, best_it, history, is_dart) -> GBDTModel:
        """Merge continuation trees with the previous model's."""
        p = self.params
        bs_vec = None
        if isinstance(base_score, np.ndarray):
            # vector intercept (multi-alpha expectile ProbToMargin):
            # serving reads base_score_vec via GBDTModel._bs_row
            bs_vec = np.asarray(base_score, dtype=np.float64)
            base_score = float(bs_vec[0])
        all_trees = list(trees)
        weights = list(tree_weights) if is_dart else None
        if xgb_model is not None:
            prev_w = (xgb_model.tree_weights
                      or [1.0] * len(xgb_model.trees))
            all_trees = list(xgb_model.trees) + all_trees
            if is_dart or xgb_model.tree_weights:
                weights = list(prev_w) + (list(tree_weights) if tree_weights
                                          else [1.0] * len(trees))
            if best_it is not None:
                # early-stopped continuation: the within-fit round index
                # shifts by the previous model's rounds (reference
                # EarlyStopping.after_iteration `epoch +=
                # self.starting_round`, callback.py) — without this the
                # merged model's best_iteration truncated into the PREV
                # model's trees
                best_it += len(xgb_model.trees)
        model = GBDTModel(p, base_score, all_trees, feat_names_out, cuts,
                          best_iteration=best_it, eval_history=history,
                          tree_weights=weights)
        if bs_vec is not None:
            model.base_score_vec = bs_vec
        model.obj = self.obj      # keeps custom objectives' pred_transform
        return model

    # ------------------------------------------------------------------
    def _adaptive_leaf_refresh(self, binned: DataFrame, tree: core.Tree,
                               alpha: float, eta: float, group: int = 0):
        """UpdateTreeLeaf for adaptive objectives (reference
        `regression_obj.cu:745-753`): leaf <- eta * quantile_alpha(y - margin),
        computed as one groupBy(leaf).percentile_approx job.  ``group``
        selects the margin column (multi-alpha quantile: group k's tree
        refreshes against margin m_k with alpha_k)."""
        sc = binned.sparkSession.sparkContext
        bc = sc.broadcast(tree.finalize_arrays())
        fcols = [c for c in binned.columns if c.startswith("x")]
        mcol = f"m{group}"

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            arrs = bc.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                Xb = np.column_stack([pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
                leaf = core.leaf_ids_from_arrays(arrs, Xb, binned=True)
                yield pd.DataFrame({
                    "leaf": leaf.astype(np.int32),
                    "resid": pdf["y"].to_numpy() - pdf[mcol].to_numpy(),
                })

        q = (
            binned.mapInPandas(fn, schema="leaf int, resid double")
            .groupBy("leaf").agg(F.percentile_approx("resid", float(alpha), 10000).alias("qv"))
            .collect()
        )
        for r in q:
            nid = int(r["leaf"])
            if tree.left[nid] == -1:
                tree.leaf_value[nid] = eta * float(r["qv"])

    @staticmethod
    def _cox_grad_pass(binned: DataFrame, train_schema: str,
                       n_part: int | None) -> DataFrame:
        """Cox partial-likelihood gradients, distributed (reference
        `regression_obj.cu:598-604` needs label-sorted data; here the sort
        becomes a range partition + two-phase prefix scan, operators/scan.py).

        Plan: groupBy distinct time -> Breslow per-time terms via prefix
        scans -> shuffle join back on time -> rowwise g/h expressions
        (all JVM-side Catalyst expressions except the tiny scan offsets).
        """
        from xgboost_spark.operators.scan import prefix_sums
        spark = binned.sparkSession
        if n_part is None:
            n_part = spark.sparkContext.defaultParallelism
        per_t = (binned
                 .groupBy(F.abs(F.col("y")).alias("t"))
                 .agg(F.sum(F.col("w") * F.exp(F.col("m0"))).alias("e"),
                      F.sum(F.when(F.col("y") > 0, F.col("w")).otherwise(0.0)).alias("dw")))
        tot = per_t.agg(F.sum("e").alias("te")).first()["te"]
        s1 = prefix_sums(per_t, "t", ["e"], n_part)
        s1 = s1.withColumn("S", F.greatest(F.lit(tot) - F.col("cum_e") + F.col("e"),
                                           F.lit(1e-300)))
        s1 = s1.withColumn("rr", F.col("dw") / F.col("S")) \
               .withColumn("rr2", F.col("dw") / (F.col("S") * F.col("S")))
        s2 = prefix_sums(s1, "t", ["rr", "rr2"], n_part) \
            .select("t", F.col("cum_rr").alias("R"), F.col("cum_rr2").alias("R2"))
        j = binned.withColumn("_t", F.abs(F.col("y"))).join(
            s2, F.col("_t") == s2["t"], "left").drop("t", "_t")
        em = F.col("w") * F.exp(F.col("m0"))
        delta = F.when(F.col("y") > 0, F.col("w")).otherwise(F.lit(0.0))
        j = j.withColumn("g0", em * F.col("R") - delta)
        j = j.withColumn("h0", F.greatest(em * F.col("R") - em * em * F.col("R2"),
                                          F.lit(1e-16)))
        cols = [c.strip().split(" ")[0] for c in train_schema.split(",")]
        return j.select(*cols).localCheckpoint(eager=True)

    def _eval_metric(self, ev_binned: DataFrame, metric: str, K: int, has_q: bool) -> float:
        mcols = [f"m{k}" for k in range(K)]
        name = metric.partition("@")[0]
        if metric == "aft-nloglik":
            obj = self.obj

            def loss_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                L = W = 0.0
                for pdf in it:
                    yl = pdf["yl"].to_numpy(dtype=np.float64)
                    yu = pdf["yu"].to_numpy(dtype=np.float64)
                    w = pdf["w"].to_numpy(dtype=np.float64)
                    L += (w * obj.loss_bounds(yl, yu, pdf["m0"].to_numpy())).sum()
                    W += w.sum()
                yield pd.DataFrame({"L": [L], "W": [W]})

            r = (ev_binned.mapInPandas(loss_fn, schema="L double, W double")
                 .agg(F.sum("L").alias("L"), F.sum("W").alias("W")).first())
            return float(r["L"] / max(r["W"], 1e-16))
        if metric == "interval-regression-accuracy":
            pred = F.exp(F.col("m0"))
            return float(ev_binned.agg(F.avg(
                ((pred >= F.col("yl")) & (pred <= F.col("yu"))).cast("double")
            ).alias("v")).first()["v"])
        if metric == "cox-nloglik":
            return metrics_mod.cox_nloglik(ev_binned, y="y", margin="m0", weight="w")
        if has_q and name in ("auc", "aucpr"):
            # data with query groups evaluates the LTR AUC (reference
            # EvalAUC auc.cc:290-322: is_ranking = group_ptr_ set —
            # regardless of objective), not the binary curve
            return metrics_mod.ranking_auc(ev_binned, qid="q", y="y",
                                           score="m0",
                                           pr=(name == "aucpr"))
        if name.rstrip("-") in ("ndcg", "map", "pre"):
            # parse_rank_arg handles 'ndcg@5-'/'map-' minus-suffix names
            # (reference ranking_utils.cc:138) — a bare int() on the
            # '@' suffix would choke on the trailing '-'.  The scalar
            # is the GROUP-WEIGHT-weighted mean (rank_metric.cc
            # :395-401/:449-454/:316-330); `gw` rides out of the same
            # per-query aggregation, no extra shuffle; ev_binned's w
            # defaults to 1.0, making unweighted data the plain mean.
            name, k, minus = metrics_mod.parse_rank_arg(metric)

            def _wavg(d, col):
                r = d.agg(F.sum(F.col(col) * F.col("gw")).alias("n"),
                          F.sum("gw").alias("d")).first()
                return float(r["n"]) / float(r["d"])

            if name == "ndcg":
                d = metrics_mod.ndcg_at_k(ev_binned, k, qid="q", y="y", score="m0",
                                          exp_gain=self.params.ndcg_exp_gain,
                                          minus=minus, weight="w")
                return _wavg(d, "ndcg")
            if name == "map":
                d = metrics_mod.map_at_k(ev_binned, k, qid="q", y="y", score="m0",
                                         minus=minus, weight="w")
                return _wavg(d, "ap")
            d = metrics_mod.precision_at_k(ev_binned, k, qid="q", y="y",
                                           score="m0", weight="w")
            return _wavg(d, "prec")
        return metrics_mod.compute_metric(ev_binned, metric, y="y", margin_cols=mcols, weight="w")


def _maximize(metric: str) -> bool:
    # reference EarlyStopping inference (callback.py:411-426): STARTSWITH
    # over the maximize list with 'mape' explicitly excluded.  The
    # startswith rule keeps 'map-'/'ndcg@5-' maximized (the minus suffix
    # changes the no-relevant-query score, not the direction) and — like
    # the reference — treats 'ams@k' as MINIMIZE (ams is not in the
    # reference's list).
    if metric == "mape":
        return False
    return metric.startswith(("auc", "aucpr", "pre", "pre@", "map",
                              "ndcg", "auc@", "aucpr@", "map@", "ndcg@"))


def _effective_metrics(p, obj) -> list[str]:
    """EvalOneIter's metric set (learner.cc:1173-1180): the configured
    eval_metric list, else the objective's default UNLESS
    disable_default_eval_metric is set (then no built-in metric runs)."""
    if p.eval_metric:
        return list(p.eval_metric)
    return [] if p.disable_default_eval_metric else [obj.default_metric()]


def train(params: dict | TrainParams, df: DataFrame, obj=None,
          num_boost_round: int | None = None,
          early_stopping_rounds: int | None = None,
          evals_result: dict | None = None,
          verbose_eval: bool | int | None = None, **kw):
    """Functional entry point mirroring `xgboost.train`
    (`python-package/xgboost/training.py:53`): ``obj`` = custom
    objective callable/instance, ``custom_metric``/``maximize`` pass
    through to `SparkBooster.fit`.  booster=gblinear routes to the
    linear updater (returns a LinearModel).

    ``verbose_eval`` (training.py:186-188): True prints every round
    (engine ``verbose=True`` — same reference byte format, and the fit
    stays barrier-eligible); an integer N appends
    ``EvaluationMonitor(period=N)`` exactly like the reference (a
    callback, so the fit runs the DataFrame path).  Default None stays
    quiet — the one deliberate divergence from the reference's
    default-True, since a Spark job's driver log is not a terminal."""
    p = params if isinstance(params, TrainParams) else TrainParams.from_dict(params)
    # the reference train() takes these OUTSIDE the params dict
    # (training.py:56-66); explicit arguments win over the dict
    if num_boost_round is not None:
        p.num_boost_round = int(num_boost_round)
    if early_stopping_rounds is not None:
        p.early_stopping_rounds = int(early_stopping_rounds)
    if (verbose_eval is not None and not isinstance(verbose_eval, bool)
            and int(verbose_eval) > 1 and p.booster != "gblinear"):
        from xgboost_spark.functions.callbacks import EvaluationMonitor
        kw.setdefault("callbacks", [])
        kw["callbacks"] = list(kw["callbacks"]) + [
            EvaluationMonitor(period=int(verbose_eval))]
    elif verbose_eval:
        kw.setdefault("verbose", True)
    if p.process_type == "update":
        # reference gbtree process_type=update: re-run updaters on an
        # existing model's trees instead of growing new ones
        model = kw.pop("xgb_model", None)
        if model is None:
            raise ValueError("process_type='update' requires xgb_model")
        for u in (p.updater or "refresh").split(","):
            u = u.strip()
            if u == "refresh":
                model = refresh_leaves(
                    model, df,
                    feature_cols=kw.get("feature_cols"),
                    array_col=kw.get("array_col"),
                    label_col=kw.get("label_col", "label"),
                    weight_col=kw.get("weight_col"))
            elif u == "prune":
                import copy as _copy
                model = _copy.deepcopy(model)
                for rnd in model.trees:
                    for t in rnd:
                        core.prune_tree(t, p.gamma, p.eta, p.reg_lambda,
                                        p.reg_alpha, p.max_delta_step)
            else:
                raise ValueError(
                    f"process_type='update' supports updater refresh|prune, got {u!r}")
        if evals_result is not None:
            # the update path runs no eval sets; the caller's dict must
            # still be reset rather than keeping a previous call's data
            evals_result.clear()
            evals_result.update(getattr(model, "eval_history", None) or {})
        return model
    if p.booster == "gblinear":
        from xgboost_spark.plans.linear import train_linear
        model = train_linear(p, df, **kw)
    else:
        model = SparkBooster(p, obj=obj).fit(df, **kw)
    if evals_result is not None:
        # reference train(evals_result=) fills the caller's dict with
        # the watchlist history (training.py:119-131)
        evals_result.clear()
        evals_result.update(getattr(model, "eval_history", None) or {})
    return model


def refresh_leaves(model: GBDTModel, df: DataFrame,
                   feature_cols: list[str] | None = None,
                   array_col: str | None = None, label_col: str = "label",
                   weight_col: str | None = None) -> GBDTModel:
    """Refresh updater (reference `src/tree/updater_refresh.cc:153`):
    keep every tree's structure but recompute node stats and leaf weights
    on (possibly new) data.  Replays the boosting sequence over the
    DataFrame trainer's frame, whose ``g0``/``h0`` hold the gradients at
    the current margin (no row sampling): one `groupBy(leaf).agg(sum g,
    sum h)` job per tree re-derives ``leaf = eta * CalcWeight(G, H)``,
    then one `_grads_pass` adds the refreshed round, scaled by its DART
    weight.  Single-output models only (K=1)."""
    p = model.params
    if p.n_groups != 1:
        raise NotImplementedError("refresh_leaves supports single-output models")
    obj = get_objective(p.objective, p)
    sc = df.sparkSession.sparkContext
    raw, fnames = assemble_features(
        df, feature_cols=feature_cols, array_col=array_col,
        label_col=label_col, weight_col=weight_col, missing=model.missing)
    Fn = len(fnames)
    schema = _frame_schema(Fn, 1, False, with_grads=True)
    grads = (obj, p.seed, 1.0)
    frame = _parse_pass(raw, schema, fnames, model.cuts, None, 1,
                        model.base_score, grads=grads).localCheckpoint(eager=True)
    if _global_grads(obj):
        frame = _grads_pass(frame, schema, obj, 1, None, None, grads)
    fcols = [f"x{i}" for i in range(Fn)]
    new_trees: list[list[core.Tree]] = []
    for ri, round_trees in enumerate(model.trees):
        refreshed = []
        for tree in round_trees:
            bc_tree = sc.broadcast(tree.finalize_arrays())

            def stats_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                arrs = bc_tree.value
                for pdf in it:
                    if len(pdf) == 0:
                        continue
                    Xb = np.column_stack([
                        pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
                    leaf = core.leaf_ids_from_arrays(arrs, Xb, binned=True)
                    yield pd.DataFrame({"leaf": leaf.astype(np.int32),
                                        "g": pdf["g0"], "h": pdf["h0"]})

            stats = (frame.mapInPandas(stats_fn, schema="leaf int, g double, h double")
                     .groupBy("leaf").agg(F.sum("g").alias("G"), F.sum("h").alias("H"))
                     .collect())
            t2 = core.Tree(
                feature=list(tree.feature), split_bin=list(tree.split_bin),
                split_value=list(tree.split_value), default_left=list(tree.default_left),
                left=list(tree.left), right=list(tree.right), parent=list(tree.parent),
                leaf_value=list(tree.leaf_value), gain=list(tree.gain),
                sum_grad=list(tree.sum_grad), sum_hess=list(tree.sum_hess),
                categories=list(tree.categories), tie_strict=tree.tie_strict)
            for r in stats:
                nid = int(r["leaf"])
                t2.sum_grad[nid], t2.sum_hess[nid] = float(r["G"]), float(r["H"])
                if t2.left[nid] == -1:
                    t2.leaf_value[nid] = p.eta * float(core.calc_weight(
                        r["G"], r["H"], p.reg_lambda, p.reg_alpha, p.max_delta_step))
            refreshed.append(t2)
        new_trees.append(refreshed)
        weight = model.tree_weights[ri] if model.tree_weights else 1.0
        frame = _grads_pass(frame, schema, obj, 1, ([refreshed], [weight]),
                            None, grads)
    out = GBDTModel(p, model.base_score, new_trees, model.feature_names,
                    model.cuts, best_iteration=model.best_iteration,
                    eval_history=model.eval_history,
                    tree_weights=model.tree_weights)
    out.missing = model.missing
    return out
