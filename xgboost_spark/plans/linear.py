"""gblinear: regularized linear booster.

Re-expresses the reference's linear updaters (coordinate descent
`src/linear/updater_coordinate.cc:24-100`, parallel lock-free shotgun
`src/linear/updater_shotgun.cc:96`, elastic-net soft threshold
`CoordinateDelta`) for Spark's execution model.  One training loop
serves every output-group count K (reference `src/gbm/gblinear.cc`
DoBoost): the model is an ``(F, K)`` weight matrix and a ``(K,)``
bias, and K=1 is just one case of K.  Per boosting round:

- objectives with a global residual scale (``reg:absoluteerror``,
  ``reg:quantileerror``) first run one partial-sums pass of K+1 stats
  at the round's margin;
- ONE Spark job computes the round's sufficient statistics as
  per-partition partials, per group k: bias sums (G_k, H_k), the
  gradient sums X^T g_k and X^T h_k, and — on the exact path
  (F <= 256) — the cross-product matrix M_k = X^T diag(h_k) X; past
  256 features only its diagonal X^T h_k x^2 travels.  The driver adds
  the partials in partition order;
- the driver then updates each group in turn.  The exact path replays
  the reference's SEQUENTIAL round (single-thread shotgun /
  coord_descent semantics): the bias updates first and propagates into
  every feature's gradient sum, and each coordinate evaluates
  CoordinateDelta at the residuals left by the coordinates before it —
  hessians are fixed within a round, so the in-round residual updates
  are linear in M_k and the whole pass is a deterministic driver-side
  computation (no extra Spark jobs).  Past 256 features a one-snapshot
  (Jacobi) pass with the same per-coordinate math stands in — at that
  width the reference's own lock-free shotgun races make sequential
  bit-parity moot.

Penalties are DENORMALIZED by the sum of instance weights and the
linear booster has its own defaults (eta 0.5, lambda 0, alpha 0 —
src/linear/param.h), both reference semantics.  The intercept is the
data mean through the objective's link for K=1 and identity-link 0.5
for K > 1 (the reference multiclass default).  Serving is a pure
Catalyst expression (weights are literals), so whole-stage codegen
applies and no Python is in the hot path.

Missing values contribute 0, matching the reference's sparse-entry
semantics (absent entry = no contribution).
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xgboost_spark.config import TrainParams
from xgboost_spark.functions import metrics as metrics_mod
from xgboost_spark.functions.objectives import get_objective
from xgboost_spark.plans.model import prediction_expr
from xgboost_spark.sources.tables import assemble_features


def _feature(c: str):
    """Feature column as double; missing contributes 0."""
    return F.coalesce(F.col(c).cast("double"), F.lit(0.0))


class LinearModel:
    """weights/bias + base_score; serving via column expressions."""

    def __init__(self, params: TrainParams, base_score: float,
                 weights: np.ndarray, bias: float, feature_names: list[str],
                 eval_history: dict | None = None):
        self.params = params
        self.base_score = base_score
        # (F,) and a float bias for one output group; (F, K) and a (K,)
        # bias for K > 1
        self.weights = np.asarray(weights, dtype=np.float64)
        self.bias = (float(bias) if np.ndim(bias) == 0
                     else np.asarray(bias, dtype=np.float64))
        self.feature_names = feature_names
        self.eval_history = eval_history or {}
        self.obj = get_objective(params.objective, params)

    @property
    def n_groups(self) -> int:
        """Output groups K: 1 for (F,) weights, else weights.shape[1]."""
        return 1 if self.weights.ndim == 1 else int(self.weights.shape[1])

    def _groups(self) -> list[tuple[np.ndarray, float]]:
        """Per output group: (weight column, intercept = base_score_k +
        bias_k); multi-group intercepts are identity-link, like
        GBDTModel."""
        W = self.weights.reshape(len(self.weights), -1)
        bias = np.atleast_1d(self.bias)
        bs = getattr(self, "base_score_vec", None)
        return [(W[:, k], (float(bs[k]) if bs is not None
                           else self.base_score) + float(bias[k]))
                for k in range(self.n_groups)]

    def margin_exprs(self, feature_cols: list[str] | None = None) -> list:
        """One margin expression per output group: margin_k =
        base_score_k + bias_k + sum_f w[f,k] * x_f (reference
        `src/gbm/gblinear.cc` PredictBatch per-group inner product)."""
        cols = feature_cols or self.feature_names
        outs = []
        for wk, b in self._groups():
            e = F.lit(b)
            for w, c in zip(wk, cols):
                if w != 0.0:
                    e = e + F.lit(float(w)) * _feature(c)
            outs.append(e)
        return outs

    def transform(self, df: DataFrame, feature_cols: list[str] | None = None,
                  output_margin: bool = False,
                  pred_contribs: bool = False,
                  pred_interactions: bool = False,
                  pred_leaf: bool = False,
                  iteration_range: tuple[int, int] | None = None) -> DataFrame:
        """``pred_contribs``: per-feature contribution array (w_f * x_f,
        bias+intercept last) — the reference's gblinear contribution
        semantics (`src/gbm/gblinear.cc:153-194` PredictContribution:
        linear terms are exact Shapley values); K > 1 emits one such
        (F+1) block per group.  Pure expressions.

        ``pred_interactions``: the reference's gblinear
        PredictInteractionContributions (`src/gbm/gblinear.cc:192-204`)
        — "linear models have no interaction effects" — fills
        rows x n_groups x F x F with ZEROS; exposed for API parity as
        an ``interactions`` column (flat F*F zero array per row; K > 1
        emits K such blocks, mirroring ``contribs``).

        ``iteration_range``: gblinear has no layers — a non-zero begin
        is an error (`gblinear.cc:48-49` LinearCheckLayer; the end is
        ignored, matching the reference's unused layer_end) and
        ``pred_leaf`` is unsupported (`gblinear.cc:149-152`)."""
        if pred_leaf:
            raise ValueError(
                "gblinear does not support prediction of leaf index")
        if iteration_range is not None and iteration_range[0] != 0:
            raise ValueError(
                "Linear booster does not support prediction range.")
        cols = feature_cols or self.feature_names

        def per_group(blocks):
            return blocks[0] if self.n_groups == 1 else F.array(*blocks)

        margins = self.margin_exprs(cols)
        out = df.withColumn("prediction",
                            prediction_expr(self.params.objective, margins))
        if output_margin:
            out = out.withColumn("margin", per_group(margins))
        if pred_contribs:
            out = out.withColumn("contribs", per_group([
                F.array(*[F.lit(float(w)) * _feature(c)
                          for w, c in zip(wk, cols)], F.lit(b))
                for wk, b in self._groups()]))
        if pred_interactions:
            zeros = F.array_repeat(F.lit(0.0), len(cols) * len(cols))
            out = out.withColumn("interactions",
                                 per_group([zeros] * self.n_groups))
        return out

    def get_score(self, importance_type: str = "weight"):
        """Feature importance (reference `src/gbm/gblinear.cc:206-231`
        FeatureScore): gblinear defines ONLY ``weight`` — the raw
        coefficient per feature (per group when K > 1), bias excluded.
        Any other importance_type raises, mirroring the reference's
        CHECK_EQ."""
        if importance_type != "weight":
            raise ValueError(
                "gblinear only has `weight` defined for feature "
                "importance")
        if self.n_groups == 1:
            return {c: float(w) for c, w in zip(self.feature_names,
                                                self.weights)}
        return {c: [float(v) for v in self.weights[i]]
                for i, c in enumerate(self.feature_names)}

    def to_json(self) -> str:
        from xgboost_spark.functions.objectives import margin_to_prob
        if self.n_groups > 1:
            # reference interleaved layout: w[fid*K + gid], bias block
            # last (gblinear_model.h:49-62)
            wb = [float(v) for row in self.weights for v in row] \
                + [float(v) for v in self.bias]
        else:
            wb = self.weights.tolist() + [self.bias]
        # learner_model_param.base_score uses the reference's OUTPUT-
        # space convention (learner.cc ProbToMargin on load) so a
        # genuine reference build loads this save with the right
        # intercept; the exact margin-space value rides in the engine
        # extension block (read back first on load).  Multi-group
        # intercepts are identity-link (like GBDTModel multiclass).
        bs_vec = getattr(self, "base_score_vec", None)
        if bs_vec is not None:
            bs_out = "[" + ",".join(str(float(v)) for v in bs_vec) + "]"
        else:
            bs_out = str(margin_to_prob(self.params.objective,
                                        self.base_score)
                         if self.n_groups == 1 else self.base_score)
        return json.dumps({
            # reference saves carry a top-level version (learner.cc
            # Version::Save); also the legacy-save discriminator — see
            # from_json
            "version": [0, 1, 0],
            "learner": {
                "gradient_booster": {
                    "name": "gblinear",
                    "model": {"weights": wb},
                },
                "objective": {"name": self.params.objective},
                "feature_names": self.feature_names,
                "learner_model_param": {
                    "base_score": bs_out,
                    "num_feature": str(len(self.feature_names)),
                    "num_class": str(self.params.num_class),
                },
            },
            # engine extension: exact margin-space intercept (the
            # learner_model_param value above is OUTPUT space)
            "xgboost_spark": {
                "base_score_margin": float(self.base_score),
                "base_score_margin_vec": (
                    [float(v) for v in self.base_score_vec]
                    if getattr(self, "base_score_vec", None) is not None
                    else None),
            },
        })

    @classmethod
    def from_json(cls, s: str) -> "LinearModel":
        """Load engine saves AND genuine reference gblinear JSON
        (`src/gbm/gblinear_model.cc:10-42`): weights are the flat
        ``(num_feature + 1) * num_output_group`` array with the bias
        block last (`gblinear_model.h:49-55`; multi-group docs
        interleave by group, ``w[fid*K + gid]``); ``base_score`` may be
        the reference's "[5E-1]" array-string in OUTPUT space and
        ``feature_names`` may be absent (fall back to f{i})."""
        full = json.loads(s)
        doc = full["learner"]
        ext = full.get("xgboost_spark", {})
        lmp = doc["learner_model_param"]
        gb = doc["gradient_booster"]
        wb = [float(v) for v in gb["model"]["weights"]]
        objective = doc["objective"]["name"]
        num_class = int(lmp.get("num_class", 0) or 0)
        ngroup = max(num_class, 1)
        params = TrainParams.from_dict(
            {"objective": objective, "num_class": num_class})
        raw_bs = str(lmp["base_score"]).strip()
        bs_vals = ([float(x) for x in raw_bs.strip("[]").split(",") if x]
                   if raw_bs.startswith("[") else [float(raw_bs)])
        bs_vec = None
        if "base_score_margin" in ext:
            base_score = float(ext["base_score_margin"])
            if ext.get("base_score_margin_vec"):
                bs_vec = np.asarray(ext["base_score_margin_vec"],
                                    dtype=np.float64)
        elif ngroup > 1:
            # multiclass intercepts are identity-link (like GBDTModel)
            base_score = bs_vals[0]
            if len(bs_vals) > 1:
                bs_vec = np.asarray(bs_vals, dtype=np.float64)
        elif "version" not in full:
            # legacy engine save (pre-round-11 format): no extension
            # block AND no top-level version key — genuine reference
            # docs always carry "version" (learner.cc Version::Save),
            # engine legacy saves never did.  Its base_score is already
            # MARGIN space; applying ProbToMargin here would e.g. turn
            # a saved 0.0 for binary:logistic into logit(eps) ~ -34.5
            base_score = bs_vals[0]
        else:
            from xgboost_spark.functions.objectives import prob_to_margin
            base_score = prob_to_margin(objective, bs_vals[0])
        nf = int(lmp.get("num_feature", 0) or (len(wb) // ngroup - 1))
        feature_names = list(doc.get("feature_names") or []) or [
            f"f{i}" for i in range(nf)]
        if ngroup > 1:
            # interleaved reference layout: w[fid*K + gid], bias block
            # at w[nf*K + gid] (gblinear_model.h:49-62)
            W = np.asarray(wb[:nf * ngroup],
                           dtype=np.float64).reshape(nf, ngroup)
            bias = np.asarray(wb[nf * ngroup:(nf + 1) * ngroup],
                              dtype=np.float64)
            m = cls(params, base_score, W, bias, feature_names)
        else:
            m = cls(params, base_score,
                    np.asarray(wb[:nf]), wb[nf], feature_names)
        m.base_score_vec = bs_vec
        return m

    def save(self, path: str):
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "LinearModel":
        with open(path) as f:
            return cls.from_json(f.read())


# reference LinearTrainParam defaults (src/linear/param.h:30-56) —
# SEPARATE from the tree params that share the user-facing names:
# gblinear's eta defaults to 0.5 and its L1/L2 penalties to 0
_LIN_ETA, _LIN_LAMBDA, _LIN_ALPHA = 0.5, 0.0, 0.0
# above this feature count the exact sequential replay's X^T diag(h) X
# cross-product payload (F^2 doubles per partition) stops being cheap;
# fall back to the one-snapshot (Jacobi) pass — at that width the
# reference's own lock-free shotgun races make bit-parity moot anyway
_EXACT_SEQ_MAX_F = 256


def _linear_hyper(p) -> tuple[float, float, float]:
    """(eta, reg_lambda, reg_alpha) for the LINEAR booster: the user's
    explicit values when set, else the reference's gblinear defaults."""
    ek = getattr(p, "explicit_keys", frozenset()) or frozenset()
    eta = p.eta if "eta" in ek else _LIN_ETA
    lam = p.reg_lambda if "reg_lambda" in ek else _LIN_LAMBDA
    alpha = p.reg_alpha if "reg_alpha" in ek else _LIN_ALPHA
    return float(eta), float(lam), float(alpha)


def _coordinate_delta(sum_grad: float, sum_hess: float, w: float,
                      alpha: float, lam: float) -> float:
    """Exact port of the reference's elastic-net coordinate update
    (CoordinateDelta, src/linear/coordinate_common.h:44-56): the L1
    term applies on the side of the CURRENT weight's unregularized
    target, and the step clamps at the zero crossing (a coordinate
    never flips sign in one update); zero when the RAW hessian sum is
    below 1e-5."""
    if sum_hess < 1e-5:
        return 0.0
    sum_grad_l2 = sum_grad + lam * w
    sum_hess_l2 = sum_hess + lam
    tmp = w - sum_grad_l2 / sum_hess_l2
    if tmp >= 0:
        return max(-(sum_grad_l2 + alpha) / sum_hess_l2, -w)
    return min(-(sum_grad_l2 - alpha) / sum_hess_l2, -w)


def _coordinate_delta_bias(sum_grad: float, sum_hess: float) -> float:
    """CoordinateDeltaBias (coordinate_common.h:65-71): -G/H with
    nan/inf guarded to 0."""
    if sum_hess == 0.0:
        return 0.0
    b = -sum_grad / sum_hess
    return 0.0 if (np.isnan(b) or np.isinf(b)) else b


def _replay_linear_round(weights_k: np.ndarray, bias_k: float,
                         G: float, H: float, gx: np.ndarray,
                         hx: np.ndarray, M: np.ndarray, eta: float,
                         lam_d: float, alpha_d: float, selector: str,
                         rng: np.random.Generator, top_k: int) -> float:
    """Driver-side EXACT replay of one reference gblinear round for one
    output group (single-thread shotgun/coord_descent semantics,
    updater_shotgun.cc:33-86 / updater_coordinate.cc:48-90): bias
    updates FIRST and its step propagates into every feature's gradient
    sum; each coordinate's (sum_grad, sum_hess) is then evaluated at the
    CURRENT residuals — since the hessians are fixed within a round, the
    residual updates are linear and the whole sequential pass is a
    deterministic function of the aggregated sufficient statistics
    (gx = X^T g, hx = X^T h, M = X^T diag(h) X).  Mutates ``weights_k``
    in place; returns the updated bias."""
    Fn = len(weights_k)
    dbias = eta * _coordinate_delta_bias(G, H)
    bias_k += dbias
    gxc = gx + dbias * hx          # UpdateBiasResidualParallel

    def apply(f: int) -> None:
        dw = eta * _coordinate_delta(gxc[f], M[f, f], weights_k[f],
                                     alpha_d, lam_d)
        if dw == 0.0:
            return
        weights_k[f] += dw
        gxc[...] = gxc + dw * M[f]  # UpdateResidualParallel

    if selector in ("cyclic", "shuffle", "random"):
        if selector == "cyclic":
            seq = range(Fn)
        elif selector == "shuffle":
            seq = rng.permutation(Fn)
        else:                       # random: F draws WITH replacement
            seq = rng.integers(0, Fn, size=Fn)
        for f in seq:
            apply(int(f))
        return bias_k
    # greedy/thrifty: the reference's counter stops after top_k picks
    # or num_feature - 1 picks (coordinate_common.h:343-345 increments
    # then compares, so the F-th call returns -1) — a genuine quirk
    limit = min(top_k if top_k > 0 else Fn, max(Fn - 1, 1))
    if selector == "thrifty":
        d0 = np.array([abs(_coordinate_delta(gxc[f], M[f, f],
                                             weights_k[f], alpha_d, lam_d))
                       for f in range(Fn)])
        seq = np.argsort(-d0, kind="stable")[:limit]
        for f in seq:
            apply(int(f))
        return bias_k
    if selector == "greedy":
        for _ in range(limit):
            deltas = np.array([abs(_coordinate_delta(
                gxc[f], M[f, f], weights_k[f], alpha_d, lam_d))
                for f in range(Fn)])
            best = int(np.argmax(deltas))   # strict >: lowest index wins
            if deltas[best] == 0.0:
                apply(best)     # no-op, mirrors the reference's pick
                continue
            apply(best)
        return bias_k
    raise ValueError(f"unknown feature_selector {selector!r}")


def _jacobi_linear_round(weights_k: np.ndarray, bias_k: float,
                         G: float, H: float, gx: np.ndarray,
                         hx: np.ndarray, hx2: np.ndarray, eta: float,
                         lam_d: float, alpha_d: float, selector: str,
                         rng: np.random.Generator, top_k: int) -> float:
    """Wide-feature (F > ``_EXACT_SEQ_MAX_F``) stand-in for
    :func:`_replay_linear_round`: the same bias-first CoordinateDelta
    math, but every coordinate evaluates against the round's FROZEN
    snapshot (one Jacobi pass, no in-round residual propagation), so
    the payload is ``hx2 = X^T h x^2`` instead of the F^2 cross
    product.  At that width the reference's own lock-free shotgun races
    make sequential bit-parity moot.  Mutates ``weights_k`` in place;
    returns the updated bias."""
    Fn = len(weights_k)
    dbias = eta * _coordinate_delta_bias(G, H)
    bias_k += dbias
    gx = gx + dbias * hx           # bias residual propagation
    order = np.arange(Fn)
    if selector == "shuffle":
        order = rng.permutation(Fn)
    elif selector == "random":
        order = rng.integers(0, Fn, size=Fn)
    elif selector in ("greedy", "thrifty"):
        mag = np.array([abs(_coordinate_delta(
            gx[f], hx2[f], weights_k[f], alpha_d, lam_d))
            for f in range(Fn)])
        order = np.argsort(-mag, kind="stable")[
            :min(top_k if top_k > 0 else Fn, max(Fn - 1, 1))]
    for f in order:
        weights_k[f] += eta * _coordinate_delta(
            gx[f], hx2[f], weights_k[f], alpha_d, lam_d)
    return bias_k


def _parse_batch(pdf: pd.DataFrame, fnames: list[str], has_w: bool):
    """One Arrow batch as (X, y, w); missing features contribute 0."""
    X = np.column_stack([
        np.nan_to_num(pdf[c].to_numpy(dtype=np.float64, na_value=np.nan))
        for c in fnames])
    y = pdf["label"].to_numpy(dtype=np.float64)
    w = pdf["weight"].to_numpy(dtype=np.float64) if has_w else None
    return X, y, w


def train_linear(params: dict | TrainParams, df: DataFrame,
                 feature_cols: list[str] | None = None,
                 array_col: str | None = None, label_col: str = "label",
                 weight_col: str | None = None,
                 evals: list[tuple[DataFrame, str]] | None = None,
                 verbose: bool = False) -> LinearModel:
    """Train gblinear over an ``(F, K)`` weight matrix and a ``(K,)``
    bias, K = ``p.n_groups`` (reference `src/gbm/gblinear.cc` DoBoost:
    one coordinate pass per output group over the round's shared
    gradient snapshot)."""
    p = params if isinstance(params, TrainParams) else TrainParams.from_dict(params)
    obj = get_objective(p.objective, p)
    raw, fnames = assemble_features(df, feature_cols=feature_cols, array_col=array_col,
                                    label_col=label_col, weight_col=weight_col)
    from xgboost_spark.plans.booster import validate_meta
    validate_meta(raw, obj, p.objective)
    raw = raw.localCheckpoint(eager=True)
    Fn, K = len(fnames), p.n_groups
    has_w = "weight" in raw.columns
    feat_names_out = feature_cols if (feature_cols and not array_col) else fnames
    w_expr = F.col("weight") if has_w else F.lit(1.0)

    if p.base_score is not None:
        base_score = float(p.base_score)
    elif K > 1:
        base_score = 0.5        # identity-link multi-group default
    else:
        # the data intercept through the objective's link (a
        # distributed stump, same as the tree path)
        r = raw.agg((F.sum(F.col("label") * w_expr) / F.sum(w_expr)).alias("v")).first()
        mean = float(r["v"])
        if p.objective in ("binary:logistic", "reg:logistic", "binary:logitraw"):
            mp = min(max(mean, 1e-7), 1 - 1e-7)
            base_score = float(np.log(mp / (1 - mp)))
        elif p.objective in ("count:poisson", "reg:gamma", "reg:tweedie"):
            base_score = float(np.log(max(mean, 1e-16)))
        else:
            base_score = mean

    W = np.zeros((Fn, K))
    bias = np.zeros(K)
    rng = np.random.default_rng(p.seed)
    history: dict[str, dict[str, list[float]]] = {}
    metric_names = p.eval_metric or [obj.default_metric()]
    eta_l, lam_l, alpha_l = _linear_hyper(p)
    # DenormalizePenalties (param.h:59-62): penalties scale by the sum
    # of instance weights (row count when unweighted), recomputed by the
    # reference every Update from the constant training set
    sum_iw = float(raw.agg(F.sum(w_expr)).first()[0] or 0.0)
    lam_d, alpha_d = lam_l * sum_iw, alpha_l * sum_iw
    exact_seq = Fn <= _EXACT_SEQ_MAX_F
    update = _replay_linear_round if exact_seq else _jacobi_linear_round
    # per-partition partial sums, per group: bias sums G, H; X^T g and
    # X^T h; then the cross products M_k = X^T diag(h_k) X (exact) or
    # the diagonals X^T h_k x^2 (wide)
    last = "M" if exact_seq else "hx2"
    shapes = {"G": (K,), "H": (K,), "gx": (K, Fn), "hx": (K, Fn),
              last: (K, Fn, Fn) if exact_seq else (K, Fn)}
    sums_schema = ", ".join(f"{k} array<double>" for k in shapes)
    scale_cols = [f"s{i}" for i in range(K + 1)]

    def margin(X, bw, bb):
        m = bb + X @ bw                     # (n, K)
        return m if K > 1 else m[:, 0]      # K=1 objectives take 1-D

    for it in range(p.num_boost_round):
        bw, bb = W.copy(), bias + base_score

        if obj.needs_global_scale:
            # global residual scale for smooth-MM MAE / smoothed
            # quantile (reference GlobalSum before GetGradient): one
            # partial-sums pre-pass at the current round's margin
            def scale_fn(it_: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                acc = None
                for pdf in it_:
                    if len(pdf) == 0:
                        continue
                    X, y, w_ = _parse_batch(pdf, fnames, has_w)
                    st = obj.scale_stats(y, margin(X, bw, bb), w_)
                    acc = st if acc is None else acc + st
                if acc is not None:
                    yield pd.DataFrame([acc], columns=scale_cols)

            r_sc = (raw.mapInPandas(scale_fn, schema=", ".join(
                        f"{c} double" for c in scale_cols))
                    .agg(*[F.sum(c).alias(c) for c in scale_cols]).first())
            obj.set_scale(np.array([float(r_sc[c] or 0.0)
                                    for c in scale_cols]))

        def sums_fn(it_: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc = {k: np.zeros(v) for k, v in shapes.items()}
            for pdf in it_:
                if len(pdf) == 0:
                    continue
                X, y, w_ = _parse_batch(pdf, fnames, has_w)
                g, h = obj.grad_hess(y, margin(X, bw, bb), w_)
                g, h = g.reshape(len(y), K), h.reshape(len(y), K)
                acc["G"] += g.sum(axis=0)
                acc["H"] += h.sum(axis=0)
                acc["gx"] += (X.T @ g).T
                acc["hx"] += (X.T @ h).T
                if exact_seq:
                    for k in range(K):
                        acc["M"][k] += (X * h[:, k][:, None]).T @ X
                else:
                    acc["hx2"] += ((X * X).T @ h).T
            yield pd.DataFrame({k: [v.reshape(-1).tolist()]
                                for k, v in acc.items()})

        parts = raw.mapInPandas(sums_fn, schema=sums_schema).toPandas()
        S = {k: np.sum(np.stack(parts[k].map(np.asarray)),
                       axis=0).reshape(v) for k, v in shapes.items()}
        for k in range(K):
            wk = W[:, k].copy()
            bias[k] = update(wk, float(bias[k]), float(S["G"][k]),
                             float(S["H"][k]), S["gx"][k], S["hx"][k],
                             S[last][k], eta_l, lam_d, alpha_d,
                             p.feature_selector, rng, p.top_k)
            W[:, k] = wk

        if evals:
            model = LinearModel(p, base_score, W, bias, feat_names_out)
            mcols = [f"m{k}" for k in range(K)]
            for ev_df, ev_name in evals:
                ev_raw, _ = assemble_features(
                    ev_df, feature_cols=feature_cols, array_col=array_col,
                    label_col=label_col, weight_col=weight_col)
                scored = ev_raw.select(
                    F.col("label").alias("y"), w_expr.alias("w"),
                    *[m.alias(c) for m, c in
                      zip(model.margin_exprs(fnames), mcols)])
                for mname in metric_names:
                    val = metrics_mod.compute_metric(
                        scored, mname, y="y", margin_cols=mcols, weight="w")
                    history.setdefault(ev_name, {}).setdefault(
                        mname, []).append(val)
                    if verbose:
                        print(f"[{it}] {ev_name}-{mname}: {val:.6f}")

    if K == 1:      # the public scalar form: (F,) weights, float bias
        return LinearModel(p, base_score, W[:, 0], float(bias[0]),
                           feat_names_out, eval_history=history)
    return LinearModel(p, base_score, W, bias, feat_names_out,
                       eval_history=history)
