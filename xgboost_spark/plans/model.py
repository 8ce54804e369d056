"""Model artifact: trees + metadata, serving, JSON serialization.

The model is driver-side (a few MB even for thousands of trees) and is
broadcast for serving — the same strategy as the reference's own Spark
wrapper (`python-package/xgboost/spark/core.py:1362-1459` broadcast +
pandas_udf predict).  JSON schema mirrors the reference's model format
(`src/learner.cc:625-645,904,956`; tree fields `src/tree/tree_model.cc`):
leaves keep their value in ``split_conditions`` like the reference does.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from xgboost_spark import core
from xgboost_spark.config import TrainParams
from xgboost_spark.functions.objectives import _RT_EPS, get_objective
from xgboost_spark.operators.util import sql_ident, sql_null_if


def _leaf_str(lv) -> str:
    """Leaf value for text/dot dumps: scalars as %.9g, vector leaves in
    the reference's bracketed-and-truncated form (`tree_model.cc:52-75`
    ToStr with truncate_limit=3: first two values, '...', last)."""
    if np.ndim(lv):
        vals = [f"{float(v):.9g}" for v in np.ravel(lv)]
        if len(vals) > 3:
            vals = vals[:2] + ["...", vals[-1]]
        return "[" + ", ".join(vals) + "]"
    return f"{float(lv):.9g}"


def prediction_expr(objective: str, margins: list):
    """The objective's ``pred_transform`` as one SQL Column over the
    per-group margin Columns: the margin-to-prediction mapping shared
    by `GBDTModel.transform_expr` and `LinearModel.transform`.  A vector
    result comes back as an array Column."""
    if len(margins) > 1:
        if objective == "multi:softmax":
            # argmax: margins are exact copies of the greatest() input,
            # so the equality inside array_position is bitwise-safe
            return (F.array_position(F.array(*margins),
                                     F.greatest(*margins)) - 1).cast("double")
        if objective == "multi:softprob":
            mx = F.greatest(*margins)
            exps = [F.exp(m - mx) for m in margins]
            tot = exps[0]
            for e in exps[1:]:
                tot = tot + e
            return F.array(*[e / tot for e in exps])
        if objective == "reg:quantileerror":
            # non-crossing: each row's predictions sorted ascending
            # (quantile_obj.cu:177-198)
            return F.array_sort(F.array(*margins))
        if objective == "reg:expectileerror":
            # stacked expectiles (regression_obj.cu:458-476): pred_0 =
            # m_0, pred_k = pred_{k-1} + kRtEps + SoftPlus(m_k), as
            # stable SQL
            preds = [margins[0]]
            for m in margins[1:]:
                sp = F.when(m > 0, m + F.log1p(F.exp(-m))) \
                     .otherwise(F.log1p(F.exp(m)))
                preds.append(preds[-1] + F.lit(_RT_EPS) + sp)
            return F.array(*preds)
        # any other vector objective transforms each output alone
        return F.array(*[prediction_expr(objective, [m]) for m in margins])
    m = margins[0]
    if objective in ("binary:logistic", "reg:logistic"):
        return F.lit(1.0) / (F.lit(1.0) + F.exp(-m))
    if objective in ("count:poisson", "reg:gamma", "reg:tweedie",
                     "survival:aft", "survival:cox"):
        return F.exp(m)
    if objective == "binary:hinge":
        return F.when(m > 0, 1.0).otherwise(0.0).cast("double")
    return m


class GBDTModel:
    def __init__(self, params: TrainParams, base_score: float,
                 trees: list[list[core.Tree]], feature_names: list[str],
                 cuts: list[np.ndarray] | None = None,
                 best_iteration: int | None = None,
                 eval_history: dict | None = None,
                 tree_weights: list[float] | None = None):
        self.params = params
        self.base_score = base_score
        self.trees = trees
        self.feature_names = feature_names
        self.cuts = cuts
        self.best_iteration = best_iteration
        self.eval_history = eval_history or {}
        # per-round multiplicative weights (DART weight_drop,
        # reference gbtree.h:47); None => all 1.0
        self.tree_weights = tree_weights
        # string-categorical dictionaries learned at fit (reference
        # CatContainer, src/encoder/ordinal.h): {feature -> sorted cats}
        self.category_maps: dict[str, list[str]] | None = None
        # per-class intercepts of an imported reference model (newer
        # reference versions store base_score as a vector, one entry per
        # output — learner.cc ParamArray); None => scalar base_score
        self.base_score_vec: np.ndarray | None = None
        # user attributes (reference Booster.attr/set_attr, core.py:
        # string key-value pairs persisted under learner.attributes)
        self.attributes_: dict[str, str] = {}
        # sentinel feature value treated as missing at fit time
        # (reference DMatrix missing=); reapplied by transform()
        self.missing: float | None = None
        self.obj = get_objective(params.objective, params)

    @property
    def best_score(self) -> float | None:
        """Eval metric value at ``best_iteration`` — the last eval set's
        last metric, matching what the reference's EarlyStopping callback
        records as Booster.best_score.  None without early stopping."""
        if self.best_iteration is None or not self.eval_history:
            return None
        metrics = self.eval_history[list(self.eval_history)[-1]]
        if not metrics:
            return None
        vals = metrics[list(metrics)[-1]]
        if not vals:
            return None
        return float(vals[min(self.best_iteration, len(vals) - 1)])

    # ----------------------------------------------------------- attributes
    def attr(self, key: str) -> str | None:
        """Attribute value, or None if unset (reference Booster.attr)."""
        return self.attributes_.get(key)

    def set_attr(self, **kwargs) -> None:
        """Set/delete attributes (reference Booster.set_attr): values are
        stored as strings; passing None deletes the key."""
        for k, v in kwargs.items():
            if v is None:
                self.attributes_.pop(k, None)
            else:
                self.attributes_[k] = str(v)

    def attributes(self) -> dict[str, str]:
        """All user attributes (a copy; reference Booster.attributes)."""
        return dict(self.attributes_)

    def _objective_json(self) -> dict:
        """Objective block in the reference dialect: vector-alpha
        objectives carry their loss params as string-encoded arrays
        (ExpectileRegression/QuantileError SaveConfig,
        regression_obj.cu:495-499 / quantile_obj.cu:277), so a stripped
        document — no engine-extension block — still reloads with the
        right n_groups."""
        p = self.params
        name = p.objective
        out = {"name": name}
        if name == "reg:quantileerror":
            out["quantile_loss_param"] = {"quantile_alpha": "[" + ", ".join(
                str(float(a)) for a in p.quantile_alpha) + "]"}
        if name == "reg:expectileerror":
            out["expectile_loss_param"] = {"expectile_alpha": "[" + ", ".join(
                str(float(a)) for a in p.expectile_alphas) + "]"}
        # the remaining param blocks are REQUIRED by the reference's
        # LoadConfig (strict `in["<block>"]` lookups: multiclass_obj.cu:
        # 192, poisson_obj.cc:73, tweedie_obj.cc:81, pseudohuber_obj.cc:
        # 62, aft_obj.cu:134, lambdarank_obj.cc:269; reg_loss is lenient
        # but gets its block for symmetry) — without them a genuine
        # reference build cannot load this engine's saves
        if name in ("multi:softmax", "multi:softprob"):
            out["softmax_multiclass_param"] = {"num_class": str(p.num_class)}
        elif name == "count:poisson":
            out["poisson_regression_param"] = {
                "max_delta_step": str(p.max_delta_step or 0.7)}
        elif name == "reg:tweedie":
            out["tweedie_regression_param"] = {
                "tweedie_variance_power": str(p.tweedie_variance_power)}
        elif name == "reg:pseudohubererror":
            out["pseudo_huber_param"] = {"huber_slope": str(p.huber_slope)}
        elif name == "survival:aft":
            out["aft_loss_param"] = {
                "aft_loss_distribution": p.aft_loss_distribution,
                "aft_loss_distribution_scale":
                    str(p.aft_loss_distribution_scale)}
        elif name.startswith("rank:"):
            _np_resolved = (p.lambdarank_num_pair_per_sample
                            if p.lambdarank_num_pair_per_sample is not None
                            else (32 if p.lambdarank_pair_method == "topk"
                                  else 1))
            out["lambdarank_param"] = {
                "lambdarank_num_pair_per_sample": str(_np_resolved),
                "lambdarank_pair_method": p.lambdarank_pair_method,
                "lambdarank_unbiased": str(p.lambdarank_unbiased).lower(),
                "lambdarank_bias_norm": str(p.lambdarank_bias_norm),
                "ndcg_exp_gain": str(p.ndcg_exp_gain).lower()}
        elif name in ("binary:logistic", "reg:logistic",
                      "binary:logitraw", "reg:squarederror",
                      "reg:squaredlogerror"):
            out["reg_loss_param"] = {
                "scale_pos_weight": str(p.scale_pos_weight)}
        return out

    def _bs_output_vec(self) -> np.ndarray:
        """Vector intercept in OUTPUT space for the reference JSON
        dialect (learner.cc stores base_score output-space and applies
        ProbToMargin at load): stacked expectiles get the cumulative
        eps+SoftPlus transform (regression_obj.cu PredTransform); other
        vector objectives apply the scalar link per component."""
        from xgboost_spark.functions.objectives import (Expectile,
                                                        margin_to_prob)
        v = np.asarray(self.base_score_vec, dtype=np.float64)
        if self.params.objective == "reg:expectileerror" and len(v) > 1:
            return Expectile._stack_preds(v[None, :])[0]
        return np.asarray([margin_to_prob(self.params.objective, float(x))
                           for x in v])

    def _bs_row(self, K: int) -> np.ndarray:
        """Intercept as a (K,) vector for margin initialization."""
        if self.base_score_vec is not None:
            v = np.asarray(self.base_score_vec, dtype=np.float64)
            return v if len(v) == K else np.full(K, float(v[0]))
        return np.full(K, float(self.base_score))

    def _categorical_features(self) -> set[str]:
        cats = set(self.category_maps or {})
        for rnd in self.trees:
            for t in rnd:
                for nid in range(t.n_nodes):
                    if t.categories[nid] is not None and t.feature[nid] >= 0:
                        cats.add(self.feature_names[t.feature[nid]])
        return cats

    def num_features(self) -> int:
        """Number of features (reference Booster.num_features)."""
        return len(self.feature_names)

    def num_boosted_rounds(self) -> int:
        """Number of boosting rounds (reference
        Booster.num_boosted_rounds)."""
        return len(self.trees)

    def eval_df(self, df: DataFrame, metric: str | None = None,
                feature_cols: list[str] | None = None,
                array_col: str | None = None,
                label_col: str = "label",
                weight_col: str | None = None) -> float:
        """Post-hoc evaluation on a frame (reference ``Booster.eval``):
        score with output_margin and reduce with the named metric (or
        the objective's default).  One distributed pass; returns the
        scalar."""
        from xgboost_spark.functions.metrics import compute_metric
        if metric is None:
            metric = (self.params.eval_metric[0] if self.params.eval_metric
                      else self.obj.default_metric())
        K = self.params.n_groups
        scored = self.transform(df, feature_cols=feature_cols,
                                array_col=array_col, output_margin=True)
        sel = [F.col(label_col).cast("double").alias("y")]
        sel += [F.col("margin").getItem(k).alias(f"m{k}") for k in range(max(K, 1))]
        if weight_col:
            sel.append(F.col(weight_col).cast("double").alias("w"))
        frame = scored.select(*sel)
        return compute_metric(frame, metric,
                              margin_cols=[f"m{k}" for k in range(max(K, 1))],
                              weight="w" if weight_col else None)

    def eval_set(self, evals: list[tuple[DataFrame, str]],
                 iteration: int = 0,
                 feature_cols: list[str] | None = None,
                 array_col: str | None = None,
                 label_col: str = "label",
                 weight_col: str | None = None) -> str:
        """Evaluate on a list of (df, name) sets and return the
        reference's eval string ``[i]\\tname-metric:value\\t...``
        (``Booster.eval_set``, core.py:2340 / learner.cc EvalOneIter
        format)."""
        from xgboost_spark.plans.booster import _effective_metrics
        metrics = _effective_metrics(self.params, self.obj)
        parts = [f"[{iteration}]"]
        for df, name in evals:
            for m in metrics:
                v = self.eval_df(df, metric=m, feature_cols=feature_cols,
                                 array_col=array_col, label_col=label_col,
                                 weight_col=weight_col)
                # reference value bytes: EvalOneIter prints through an
                # ostringstream with precision(max_digits10)=17 and
                # std::ios::fixed (learner.cc:1170-1171) — i.e. %.17f
                parts.append(f"{name}-{m}:{v:.17f}")
        return "\t".join(parts)

    def eval(self, df: DataFrame, name: str = "eval",
             iteration: int = 0, **kw) -> str:
        """One-set form of :meth:`eval_set` (reference ``Booster.eval``,
        core.py:2401)."""
        return self.eval_set([(df, name)], iteration, **kw)

    def save_config(self) -> str:
        """Training configuration as JSON (reference
        Booster.save_config / learner.cc SaveConfig): the effective
        parameter surface, for experiment logging and reproduction."""
        from dataclasses import asdict
        cfg = {"learner": {
            "objective": self.params.objective,
            "learner_train_param": {"booster": self.params.booster},
            "gradient_booster": {"name": self.params.booster},
            "params": {k: v for k, v in asdict(self.params).items()
                       if v is not None and k != "explicit_keys"}}}
        return json.dumps(cfg)

    def load_config(self, config: str) -> None:
        """Apply a :meth:`save_config` document back onto this model
        (reference ``Booster.load_config``, core.py:1986 ->
        XGBoosterLoadJsonConfig): restores the parameter surface —
        objective included — and re-derives the objective instance."""
        doc = json.loads(config)
        params = dict(doc["learner"].get("params") or {})
        params.setdefault("objective", doc["learner"].get("objective"))
        self.set_param(params)

    def set_param(self, params, value=None) -> None:
        """Set parameters (reference ``Booster.set_param``, core.py:2167
        — dict, iterable of pairs, or a single key + value).  Unknown
        keys are ignored like XGBoosterSetParam; changing ``objective``
        or loss params re-derives the objective instance so
        pred_transform follows (learner.cc Configure)."""
        if isinstance(params, dict):
            items = list(params.items())
        elif isinstance(params, str):
            if value is None:
                raise ValueError("value required when params is a key")
            items = [(params, value)]
        else:
            items = list(params)
        touched_obj = False
        for k, v in items:
            if v is None or not hasattr(self.params, k):
                continue
            cur = getattr(self.params, k)
            if isinstance(cur, bool):
                v = str(v).lower() in ("1", "true", "yes")
            elif isinstance(cur, int) and not isinstance(cur, bool):
                v = int(v)
            elif isinstance(cur, float):
                v = float(v)
            elif isinstance(cur, (tuple, list)) and isinstance(v, (tuple, list)):
                v = type(cur)(v)
            setattr(self.params, k, v)
            if k in ("objective", "num_class", "quantile_alpha",
                     "expectile_alpha", "tweedie_variance_power",
                     "huber_slope", "aft_loss_distribution",
                     "aft_loss_distribution_scale", "scale_pos_weight"):
                touched_obj = True
        if touched_obj:
            from xgboost_spark.functions.objectives import CustomObjective
            if not isinstance(self.obj, CustomObjective):
                self.obj = get_objective(self.params.objective, self.params)

    # ------------------------------------------------------------------ ser
    def to_json(self) -> str:
        """Serialize in the reference's JSON dialect
        (`src/tree/tree_model.cc:1044-1082` SaveCategoricalSplit /
        SaveModel): categorical splits as flat ``categories`` +
        ``categories_nodes/segments/sizes`` arrays, and the categorical
        DIRECTION flipped at the boundary — the reference routes
        in-set-category rows RIGHT (`src/common/categorical.h:50`
        Decision returns left when NOT matching) while this engine
        routes them left, so children and default_left swap on
        categorical nodes.  ``base_score`` is stored in output space
        (reference applies ProbToMargin at load, `src/learner.cc:397`).
        """
        from xgboost_spark.functions.objectives import margin_to_prob
        trees_json = []
        exact_splits: list[list[float] | None] = []
        for rnd in self.trees:
            for k, t in enumerate(rnd):
                n = t.n_nodes
                # vector-leaf (multi-target) trees use the reference's
                # MultiTargetTree dialect (multi_target_tree_model.cc
                # SaveModel): scalar split_conditions (leaves carry 0),
                # per-node weight vectors flattened into base_weights,
                # and leaf_weights = n_leaves x n_targets in ascending
                # leaf-node-id order (the loader's leaf-idx mapping)
                n_targets = max((int(np.size(v)) for v in t.leaf_value),
                                default=1)

                def _cond(i):
                    if t.left[i] == -1:
                        return 0.0 if n_targets > 1 else t.leaf_value[i]
                    if t.tie_strict or t.categories[i] is not None:
                        return t.split_value[i]
                    # engine split values are INCLUSIVE upper bounds
                    # (route left on x <= v) but the reference predictor
                    # is strict float32 'x < cond' (predict_fn.h:22), so
                    # export the EXCLUSIVE bound — one float32 ulp above
                    # — making 'f32(x) < cond' equal 'f32(x) <= f32(v)'.
                    # A genuine reference build then reproduces this
                    # model's routing for every float32-exact feature
                    # value; the exact inclusive bounds ride in the
                    # extension block for bit-exact engine round-trips.
                    return float(np.nextafter(np.float32(t.split_value[i]),
                                              np.float32(np.inf)))

                split_conditions = [_cond(i) for i in range(n)]
                exact_splits.append(
                    None if t.tie_strict
                    else [float(v) for v in t.split_value])
                cat_nodes = [i for i in range(n) if t.categories[i] is not None]
                cats_flat: list[int] = []
                segments, sizes = [], []
                for i in cat_nodes:
                    segments.append(len(cats_flat))
                    cs = sorted(int(c) for c in t.categories[i])
                    cats_flat.extend(cs)
                    sizes.append(len(cs))
                cat_set = set(cat_nodes)
                left = [t.right[i] if i in cat_set else t.left[i] for i in range(n)]
                right = [t.left[i] if i in cat_set else t.right[i] for i in range(n)]
                dleft = [int(not t.default_left[i]) if i in cat_set
                         else int(t.default_left[i]) for i in range(n)]
                leaf_weights = None
                if n_targets > 1:
                    # MultiTargetTree dialect: weights_ is every node's
                    # target vector flattened; leaf_weights holds only
                    # the leaves, ascending node id (the reference's
                    # load-time leaf-idx mapping walks nidx 0..n)
                    base_weights = [
                        float(x)
                        for i in range(n)
                        for x in np.ravel(np.asarray(t.leaf_value[i],
                                                     dtype=np.float64))
                    ]
                    leaf_weights = [
                        float(x)
                        for i in range(n) if t.left[i] == -1
                        for x in np.ravel(np.asarray(t.leaf_value[i],
                                                     dtype=np.float64))
                    ]
                else:
                    base_weights = [
                        float(core.calc_weight(t.sum_grad[i], t.sum_hess[i],
                                               self.params.reg_lambda, self.params.reg_alpha))
                        for i in range(n)
                    ]
                if t.base_weights is not None:
                    # a loaded tree keeps its document's node weights
                    base_weights = [float(x) for x in t.base_weights]
                trees_json.append({
                    # "id" + full tree_param are REQUIRED by the
                    # reference's loader (GBTreeModel::LoadModel
                    # CHECK_EQ(tree_id, t), gbtree_model.cc:108-109;
                    # TreeParam::FromJson obj.at() on num_feature /
                    # size_leaf_vector, tree_model.cc:674-684)
                    "id": len(trees_json),
                    "tree_param": {
                        "num_nodes": str(n),
                        "num_deleted": "0",
                        "num_feature": str(len(self.feature_names)),
                        "size_leaf_vector": str(n_targets),
                    },
                    "split_indices": [max(t.feature[i], 0) for i in range(n)],
                    "split_conditions": split_conditions,
                    "split_type": [int(t.categories[i] is not None) for i in range(n)],
                    "categories": cats_flat,
                    "categories_nodes": cat_nodes,
                    "categories_segments": segments,
                    "categories_sizes": sizes,
                    "default_left": dleft,
                    "left_children": left,
                    "right_children": right,
                    "parents": list(t.parent),
                    "loss_changes": list(t.gain),
                    "sum_hessian": list(t.sum_hess),
                    "base_weights": base_weights,
                    **({"leaf_weights": leaf_weights}
                       if leaf_weights is not None else {}),
                })
        doc = {
            "version": [0, 1, 0],
            "learner": {
                "attributes": {
                    **self.attributes_,
                    **{k: str(v) for k, v in (
                        {"best_iteration": self.best_iteration} if self.best_iteration is not None else {}
                    ).items()},
                },
                "feature_names": self.feature_names,
                # "c" marks categorical features (reference core.py
                # feature_types contract) — a feature is categorical if
                # any node splits it categorically or it has a stored
                # string dictionary
                "feature_types": [
                    "c" if n in self._categorical_features() else "float"
                    for n in self.feature_names],
                "learner_model_param": {
                    "base_score": (
                        "[" + ",".join(
                            str(float(v)) for v in self._bs_output_vec())
                        + "]"
                        if self.base_score_vec is not None
                        else str(margin_to_prob(self.params.objective,
                                                self.base_score))),
                    "num_class": str(self.params.num_class),
                    "num_feature": str(len(self.feature_names)),
                },
                "objective": self._objective_json(),
                "gradient_booster": {
                    "name": "gbtree",
                    "model": {
                        "gbtree_model_param": {
                            "num_trees": str(sum(len(r) for r in self.trees)),
                            "num_parallel_tree": str(self.params.num_parallel_tree),
                        },
                        # tree_info = output GROUP id per tree
                        # (gbtree_model.h tree_info semantics): a round
                        # is K groups x num_parallel_tree trees laid out
                        # k-major, so group = index // npt — NOT the
                        # within-round index (which mislabeled forest
                        # trees as extra classes before round 13)
                        "tree_info": [
                            i // max(self.params.num_parallel_tree, 1)
                            for r in self.trees for i in range(len(r))],
                        # per-iteration tree offsets (gbtree_model.cc:
                        # 75-78) — authoritative round grouping on load
                        "iteration_indptr": [
                            int(v) for v in np.cumsum(
                                [0] + [len(r) for r in self.trees])],
                        "trees": trees_json,
                        # DART drop weights in the reference's modern
                        # model-level dialect (gbtree_model.cc:80-84,
                        # per-TREE, CHECK_LE'd to tree count) so a
                        # genuine reference build reads this engine's
                        # DART saves; omitted when all weights are 1
                        **({"weight_drop": [
                                float(self.tree_weights[ri])
                                for ri, r in enumerate(self.trees)
                                for _ in r]}
                           if self.tree_weights
                           and any(float(w) != 1.0 for w in self.tree_weights)
                           else {}),
                    },
                },
            },
            # engine extension: cuts allow exact training continuation
            "xgboost_spark": {
                # keep an imported reference model's strict-'<' tie
                # convention across engine re-save round-trips
                **({"tie_strict": True} if any(
                    t.tie_strict for rnd in self.trees for t in rnd)
                   else {}),
                # exact inclusive split bounds (the trees above carry
                # the reference-convention EXCLUSIVE float32 bounds);
                # None per tree when the tree is strict (imported)
                "exact_split_values": exact_splits,
                "base_score_margin": float(self.base_score),
                "base_score_margin_vec": (
                    [float(v) for v in self.base_score_vec]
                    if self.base_score_vec is not None else None),
                "category_maps": self.category_maps,
                "tree_weights": list(self.tree_weights) if self.tree_weights else None,
                "cuts": [list(map(float, c)) for c in (self.cuts or [])],
                "params": {"num_boost_round": self.params.num_boost_round,
                           "objective": self.params.objective,
                           "num_class": self.params.num_class,
                           "eta": self.params.eta,
                           "max_depth": self.params.max_depth,
                           "quantile_alpha": list(self.params.quantile_alpha),
                           # without this a vector expectile model
                           # reloads with n_groups=1 and the stacked
                           # serving transform collapses
                           "expectile_alpha": (
                               list(self.params.expectile_alpha)
                               if self.params.expectile_alpha is not None
                               else None)},
            },
        }
        return json.dumps(doc)

    @classmethod
    def from_json(cls, s: str) -> "GBDTModel":
        """Load a model JSON — either this engine's own saves or a
        genuine reference-produced document (`src/tree/tree_model.cc:975`
        LoadCategoricalSplit, `src/learner.cc:397` ProbToMargin):

        - categorical splits come as flat ``categories`` +
          ``categories_nodes/segments/sizes`` arrays and route in-set
          rows RIGHT — converted here to this engine's in-set-left
          convention by swapping children/default_left (the legacy
          per-node ``categories`` list-of-lists dialect is still read);
        - without the ``xgboost_spark`` extension block, ``base_score``
          is an OUTPUT-space intercept (possibly the "[5E-1]" array-
          string form) and is mapped through prob_to_margin.
        """
        return cls.from_doc(json.loads(s))

    @classmethod
    def from_doc(cls, doc: dict) -> "GBDTModel":
        """Load from an already-parsed model document (shared by the
        JSON and UBJSON surfaces — reference `XGBoosterLoadModel`
        dispatches on extension, c_api.h:1353-1389)."""
        from xgboost_spark.functions.objectives import prob_to_margin
        ln = doc["learner"]
        num_class = int(ln["learner_model_param"]["num_class"])
        objective = ln["objective"]["name"]
        ext = doc.get("xgboost_spark", {})
        pd_ = {"objective": objective, "num_class": num_class}
        for k in ("eta", "max_depth", "num_boost_round"):
            if k in ext.get("params", {}):
                pd_[k] = ext["params"][k]
        if ext.get("params", {}).get("quantile_alpha"):
            pd_["quantile_alpha"] = tuple(ext["params"]["quantile_alpha"])
        if ext.get("params", {}).get("expectile_alpha"):
            pd_["expectile_alpha"] = tuple(ext["params"]["expectile_alpha"])

        def _alphas_from_objective_cfg(param_key: str, alpha_key: str):
            # genuine reference JSON carries the loss params inside the
            # objective block (ExpectileRegression/QuantileError
            # SaveConfig, regression_obj.cu:495-499 /
            # quantile_obj.cu:277) — XGBoostParameter values serialize
            # as STRINGS like "[0.25, 0.5, 0.75]"; without this a
            # vector model loads with n_groups=1 and serving collapses
            cfg = ln["objective"].get(param_key) or {}
            v = cfg.get(alpha_key)
            if v is None:
                return None
            if isinstance(v, str):
                v = [x for x in v.strip("[]() ").split(",") if x.strip()]
            if not isinstance(v, (list, tuple)):
                v = [v]
            return tuple(float(x) for x in v) or None

        # scalar objective params from the reference config blocks
        # (SaveConfig dialect) — serving-relevant ones only: tweedie's
        # power and AFT's distribution shape the link inverse
        for blk, src_key, dst_key, conv in (
                ("tweedie_regression_param", "tweedie_variance_power",
                 "tweedie_variance_power", float),
                ("pseudo_huber_param", "huber_slope", "huber_slope", float),
                ("aft_loss_param", "aft_loss_distribution",
                 "aft_loss_distribution", str),
                ("aft_loss_param", "aft_loss_distribution_scale",
                 "aft_loss_distribution_scale", float),
                ("reg_loss_param", "scale_pos_weight",
                 "scale_pos_weight", float)):
            v = (ln["objective"].get(blk) or {}).get(src_key)
            if v is not None and dst_key not in ext.get("params", {}):
                pd_[dst_key] = conv(v)

        if "expectile_alpha" not in pd_ and objective == "reg:expectileerror":
            a = _alphas_from_objective_cfg("expectile_loss_param",
                                           "expectile_alpha")
            if a:
                pd_["expectile_alpha"] = a
        if "quantile_alpha" not in pd_ and objective == "reg:quantileerror":
            a = _alphas_from_objective_cfg("quantile_loss_param",
                                           "quantile_alpha")
            if a:
                pd_["quantile_alpha"] = a
        gb = ln["gradient_booster"]
        # genuine reference DART dialect (`src/gbm/gbtree.cc:448-463`
        # GBTree::LoadModel): ``name == "dart"`` nests the tree model
        # under ``["gbtree"]``; ``weight_drop`` lives either inside the
        # model object (modern save, `src/gbm/gbtree_model.cc:80-84`) or
        # at the booster's top level (legacy compat, which the reference
        # lets OVERRIDE the model-level array — replicated below)
        model_doc = (gb["gbtree"]["model"] if gb.get("name") == "dart"
                     else gb["model"])
        npt = int((model_doc.get("gbtree_model_param") or {})
                  .get("num_parallel_tree", 1) or 1)
        pd_["num_parallel_tree"] = npt
        params = TrainParams.from_dict(pd_)
        K = params.n_groups
        tree_docs = model_doc["trees"]
        flat: list[core.Tree] = []
        for td in tree_docs:
            t = core.Tree()
            n = int(td["tree_param"]["num_nodes"])
            t.feature = [td["split_indices"][i] if td["left_children"][i] != -1 else -1 for i in range(n)]
            t.split_value = [
                float(td["split_conditions"][i]) if td["left_children"][i] != -1 else 0.0 for i in range(n)
            ]
            slv = int(td["tree_param"].get("size_leaf_vector", "1") or 1)
            if slv > 1:
                # MultiTargetTree dialect (tree_model.cc:1155 dispatch,
                # multi_target_tree_model.cc LoadModel): vector leaves
                # live in leaf_weights, n_leaves x n_targets flattened
                # in ascending leaf-node-id order
                lw = [float(x) for x in td["leaf_weights"]]
                t.leaf_value = []
                pos = 0
                for i in range(n):
                    if td["left_children"][i] == -1:
                        t.leaf_value.append(lw[pos:pos + slv])
                        pos += slv
                    else:
                        t.leaf_value.append([0.0] * slv)
            else:
                t.leaf_value = [
                    float(td["split_conditions"][i]) if td["left_children"][i] == -1 else 0.0 for i in range(n)
                ]
            t.default_left = [bool(b) for b in td["default_left"]]
            t.left = list(td["left_children"])
            t.right = list(td["right_children"])
            t.parent = list(td["parents"])
            t.gain = list(td["loss_changes"])
            t.sum_hess = list(td["sum_hessian"])
            t.sum_grad = [0.0] * n
            if "base_weights" in td:
                t.base_weights = [float(x) for x in td["base_weights"]]
            t.split_bin = [-1] * n
            cats = td.get("categories")
            cat_nodes = td.get("categories_nodes")
            st = td.get("split_type")
            if cat_nodes is not None:
                # reference flat layout; in-set goes right -> swap back
                segs = td.get("categories_segments", [])
                sizes = td.get("categories_sizes", [])
                per_node: list[list[int] | None] = [None] * n
                for j, nid in enumerate(cat_nodes):
                    beg = int(segs[j])
                    per_node[int(nid)] = sorted(
                        int(c) for c in cats[beg:beg + int(sizes[j])])
                for nid in range(n):
                    if per_node[nid] is not None:
                        t.left[nid], t.right[nid] = t.right[nid], t.left[nid]
                        t.default_left[nid] = not t.default_left[nid]
                        t.split_value[nid] = 0.0
                t.categories = per_node
            else:
                # legacy per-node list-of-lists dialect (engine's own
                # pre-round-2 saves; in-set already routes left)
                t.categories = [
                    (list(map(int, cats[i])) if cats and st and st[i] else None)
                    for i in range(n)
                ]
            flat.append(t)
        # engine saves export exclusive float32 split bounds in the
        # reference dialect (see to_json); the exact inclusive bounds
        # ride in the extension block — restore them for bit-exact
        # engine round-trips
        esv = ext.get("exact_split_values")
        if esv:
            for t, sv in zip(flat, esv):
                if sv is not None:
                    t.split_value = [float(v) for v in sv]
        # tie convention: a genuine reference document (no engine
        # extension block) is served with the reference predictor's
        # STRICT float32 ``x < split_cond`` (predict_fn.h:22); engine
        # saves keep ``<=`` (consistent with <=-upper-bound binning).
        # Re-saves of imported models persist the flag in the extension
        # block so round-trips keep the convention.
        if bool(ext.get("tie_strict", not ext)):
            for t in flat:
                t.tie_strict = True
        # boosting-round grouping: iteration_indptr is authoritative
        # when present (`gbtree_model.cc:118-127`; MakeIndptr fallback
        # = num_class x num_parallel_tree trees per iteration) — a
        # genuine forest doc (num_parallel_tree > 1) must group as ONE
        # round of npt trees, not npt rounds, or DART weights and
        # iteration_range slicing misapply
        indptr = model_doc.get("iteration_indptr")
        trees: list[list[core.Tree]] = []
        if indptr and len(indptr) >= 2 and int(indptr[-1]) == len(flat):
            bounds = [int(v) for v in indptr]
            # keep EMPTY iterations as empty rounds: the reference's
            # round indexing (gbtree_model.cc:118-127) counts them, so
            # dropping them would shift boosting-round indices and
            # misalign iteration_range slicing / per-round DART weights
            trees = [flat[bounds[i]:bounds[i + 1]]
                     for i in range(len(bounds) - 1)]
        else:
            gs = max(K * npt, 1)
            trees = [flat[i:i + gs] for i in range(0, len(flat), gs)]
        raw_bs = str(ln["learner_model_param"]["base_score"]).strip()
        if raw_bs.startswith("["):
            bs_vals = [float(x) for x in raw_bs.strip("[]").split(",") if x]
        else:
            bs_vals = [float(raw_bs)]
        bs_vec = None
        if "base_score_margin" in ext:
            base_score = float(ext["base_score_margin"])
            if ext.get("base_score_margin_vec"):
                bs_vec = np.asarray(ext["base_score_margin_vec"], dtype=np.float64)
        elif ext:
            base_score = bs_vals[0]      # legacy own saves: margin space
        else:
            # genuine reference JSON: output-space intercepts, possibly
            # one per class (learner.cc ParamArray base_score)
            if objective == "reg:expectileerror" and len(bs_vals) > 1:
                # the reference's own ProbToMargin for stacked
                # expectiles (regression_obj.cu:478-485): margin 0 is
                # the first expectile, margin k >= 1 is the SoftPlusInv
                # of the gap minus kRtEps — NOT the identity link
                from xgboost_spark.functions.objectives import Expectile
                margins_v = Expectile.margins_from_expectiles(
                    np.asarray(bs_vals, dtype=np.float64))
                base_score = float(margins_v[0])
                bs_vec = margins_v
            else:
                margins = [prob_to_margin(objective, v) for v in bs_vals]
                base_score = margins[0]
                if len(margins) > 1:
                    bs_vec = np.asarray(margins, dtype=np.float64)
        feature_names = list(ln.get("feature_names") or [])
        if not feature_names:
            nf = int(ln["learner_model_param"].get("num_feature", 0))
            feature_names = [f"f{i}" for i in range(nf)]
        m = cls(params, base_score, trees, feature_names)
        m.base_score_vec = bs_vec
        if ext.get("cuts"):
            m.cuts = [np.asarray(c) for c in ext["cuts"]]
        if ext.get("category_maps"):
            m.category_maps = {k: [str(v) for v in vs]
                               for k, vs in ext["category_maps"].items()}
        if ext.get("tree_weights"):
            m.tree_weights = [float(v) for v in ext["tree_weights"]]
        else:
            # reference ``weight_drop`` is PER-TREE (CHECK_LE'd to the
            # tree count, `gbtree.cc:462`); within a boosting round every
            # committed tree shares the round's DART normalization, so
            # map the first weight of each round onto this engine's
            # per-round ``tree_weights``; trees past the array keep 1.0
            wd = gb.get("weight_drop")
            if wd is None:
                wd = model_doc.get("weight_drop")
            if wd:
                wd = [float(v) for v in wd]
                per_round, pos = [], 0
                for rnd in m.trees:
                    per_round.append(wd[pos] if pos < len(wd) else 1.0)
                    pos += len(rnd)
                m.tree_weights = per_round
        attrs = ln.get("attributes", {}) or {}
        m.attributes_ = {k: str(v) for k, v in attrs.items()
                         if k != "best_iteration"}
        bi = attrs.get("best_iteration")
        if bi is not None:
            m.best_iteration = int(bi)
        return m

    def save(self, path: str):
        """JSON by default; ``.ubj``/``.ubjson`` extension writes UBJSON
        (reference XGBoosterSaveModel extension dispatch)."""
        if path.endswith((".ubj", ".ubjson")):
            from xgboost_spark.sources import ubjson
            with open(path, "wb") as f:
                f.write(ubjson.dumps(json.loads(self.to_json())))
            return
        with open(path, "w") as f:
            f.write(self.to_json())

    @classmethod
    def load(cls, path: str) -> "GBDTModel":
        with open(path, "rb") as f:
            data = f.read()
        if path.endswith((".ubj", ".ubjson")):
            from xgboost_spark.sources import ubjson
            return cls.from_doc(ubjson.loads(data))
        try:
            return cls.from_json(data.decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError):
            from xgboost_spark.sources import ubjson
            return cls.from_doc(ubjson.loads(data))

    # ------------------------------------------------------------- slicing
    def slice(self, begin: int, end: int, step: int = 1) -> "GBDTModel":
        """Model layer slicing [begin, end) with stride (reference
        `XGBoosterSlice` -> `GBTree::Slice`, `src/gbm/gbtree.cc:568-625`):
        ``end == 0`` means "through the last boosting round"
        (`LayerToTree`, gbtree.h:129-140), an empty slice is an error
        (`CHECK_NE(end, begin)`), and an out-of-bound layer raises
        IndexError exactly like the Python wrapper (core.py:1948
        ``status == -2``).  The sliced model keeps the learner config —
        objective instance, missing sentinel, categorical dictionaries —
        and every attribute except best_iteration/best_score
        (`learner.cc:1054-1090` LearnerImpl::Slice erase_attr)."""
        n_rounds = len(self.trees)
        if begin < 0:
            # learner.cc:1060 CHECK_GE(begin, 0); the Python wrapper
            # surfaces it as ValueError (test_basic_models run_slice)
            raise ValueError("Invalid slice: begin must be >= 0")
        if end < 0:
            raise ValueError("Invalid slice", (begin, end))
        if end == 0:
            end = n_rounds
        if step < 1:
            raise ValueError("Invalid slice: step must be >= 1")
        if end == begin:
            raise ValueError("Empty slice is not allowed.")
        if end < begin:
            raise ValueError("Invalid slice", (begin, end))
        if step > end - begin or end > n_rounds:
            raise IndexError("Layer index out of range")
        m = GBDTModel(self.params, self.base_score,
                      self.trees[begin:end:step],
                      self.feature_names, self.cuts,
                      tree_weights=(self.tree_weights[begin:end:step]
                                    if self.tree_weights else None))
        m.category_maps = self.category_maps
        m.base_score_vec = self.base_score_vec
        m.missing = self.missing
        m.obj = self.obj
        m.attributes_ = {k: v for k, v in self.attributes_.items()
                         if k not in ("best_iteration", "best_score")}
        return m

    def __getitem__(self, val) -> "GBDTModel":
        """``model[begin:end:step]`` boosting-round slicing (reference
        core.py:1910 Booster.__getitem__): int -> single round, Ellipsis
        or open bounds -> 0 (meaning start / through-the-end), stop <
        start raises ValueError before the C-layer is consulted."""
        if isinstance(val, (int, np.integer)):
            val = slice(int(val), int(val) + 1)
        if val is Ellipsis:
            val = slice(0, 0)
        if isinstance(val, tuple):
            raise ValueError("Only supports slicing through 1 dimension.")
        if not isinstance(val, slice):
            raise TypeError(f"Expected int or slice, got {type(val)}")
        start = 0 if (val.start is None or val.start is Ellipsis) else val.start
        if val.stop is None or val.stop is Ellipsis:
            stop = 0
        else:
            stop = val.stop
            if stop < start:
                raise ValueError("Invalid slice", val)
        return self.slice(start, stop, val.step if val.step is not None else 1)

    def __iter__(self):
        """Iterate per-boosting-round single-round models (reference
        core.py Booster.__iter__)."""
        for i in range(len(self.trees)):
            yield self[i]

    # ----------------------------------------------------------- copying
    def __deepcopy__(self, _=None) -> "GBDTModel":
        """Copy via the serialized document, exactly the reference's
        ``Booster.__deepcopy__`` (core.py:1997 — a copy is a reload of
        the model bytes, so it shares nothing mutable)."""
        return GBDTModel.from_json(self.to_json())

    def __copy__(self) -> "GBDTModel":
        return self.__deepcopy__(None)

    def copy(self) -> "GBDTModel":
        """Copy the model (reference ``Booster.copy``, core.py:2001)."""
        import copy as _copy
        return _copy.copy(self)

    def get_quantile_cut(self):
        """The quantization cut values as the reference's CSR pair
        (``DMatrix.get_quantile_cut``, core.py:1126-1155): ``indptr``
        uint64 of length n_features+1 and ``data`` = the concatenated
        per-feature cut arrays (float64).  In the reference this lives
        on the QuantileDMatrix; the engine's quantized state rides on
        the fitted model, which is where the cuts are."""
        cuts = self.cuts or []
        if not cuts:
            raise ValueError(
                "this model carries no quantile cuts (imported models "
                "and gblinear have no quantized training state)")
        indptr = np.zeros(len(cuts) + 1, dtype=np.uint64)
        for i, c in enumerate(cuts):
            indptr[i + 1] = indptr[i] + len(c)
        data = np.concatenate([np.asarray(c, dtype=np.float64)
                               for c in cuts])
        return indptr, data

    def update(self, df: DataFrame, iteration: int = 0, fobj=None,
               label_col: str = "label", **data_kw) -> None:
        """One boosting iteration appended IN PLACE — the reference's
        custom-training-loop primitive (``Booster.update``,
        core.py:2195-2234: ``for i in range(n): bst.update(dtrain, i)``;
        with ``fobj`` it forwards to ``boost``, core.py:2230-2234).
        ``iteration`` is accepted for signature parity; rounds continue
        from the trees already in the model regardless, exactly like
        XGBoosterUpdateOneIter on a persistent handle.  Feature columns
        default to the model's own ``feature_names``."""
        self.boost(df, iteration=iteration, fobj=fobj,
                   label_col=label_col, **data_kw)

    def boost(self, df: DataFrame, iteration: int = 0, *, fobj=None,
              label_col: str = "label", **data_kw) -> None:
        """One iteration with a customized objective (reference
        ``Booster.boost``, core.py:2237-2290).  ``fobj`` takes the
        engine's custom-objective signature ``(y, margin, w) ->
        (grad, hess)`` — the Spark-native form of the reference's
        gradient hand-off, evaluated Arrow-batched against the current
        margins (raw per-row grad/hess ARRAYS have no distributed
        analog: rows of a DataFrame are not addressable by index, so
        gradients must be computed from columns; use ``LocalBooster``
        for the in-memory array form)."""
        from xgboost_spark.plans.booster import SparkBooster
        import dataclasses
        # one raw iteration: training-LOOP controls from the original
        # fit (early stopping needs eval sets this call doesn't have;
        # a leftover checkpoint would reject a 1-round resume) must not
        # ride along — the reference's UpdateOneIter has neither
        p1 = dataclasses.replace(self.params, num_boost_round=1,
                                 early_stopping_rounds=None,
                                 checkpoint_dir=None)
        if not data_kw.get("feature_cols") and not data_kw.get("array_col"):
            data_kw["feature_cols"] = list(self.feature_names)
        new = SparkBooster(p1, obj=fobj).fit(
            df, xgb_model=self, label_col=label_col, **data_kw)
        self.__dict__.update(new.__dict__)

    def used_trees(self) -> list[list[core.Tree]]:
        if self.best_iteration is not None:
            return self.trees[: self.best_iteration + 1]
        return self.trees

    # ------------------------------------------------------------- serving
    def _encode_strings(self, df: DataFrame, feature_cols: list[str]):
        """Recode string categorical inputs through the stored fit-time
        dictionaries (reference Recode, `src/encoder/ordinal.h:349`);
        unknown categories -> NULL -> learned missing direction.  Codes
        land in temp columns so the caller's columns pass through
        unchanged; returns (df, feature_cols, temp_cols_to_drop)."""
        if not self.category_maps:
            return df, feature_cols, []
        from xgboost_spark.sources.encoder import encode_col
        dt = dict(df.dtypes)
        cols = list(feature_cols)
        added = []
        for i, c in enumerate(cols):
            if c in self.category_maps and dt.get(c) == "string":
                tmp = f"__cat_{c}"
                df = df.withColumn(tmp, encode_col(c, self.category_maps[c]))
                cols[i] = tmp
                added.append(tmp)
        return df, cols, added

    def _broadcastable(self):
        from pyspark import cloudpickle
        from xgboost_spark.functions.objectives import CustomObjective
        return {
            # (K,) vector — scalar models broadcast their intercept
            "base_score": self._bs_row(self.params.n_groups),
            "K": self.params.n_groups,
            "objective": self.params.objective,
            # custom objective instances ride along for pred_transform;
            # cloudpickle (not plain pickle: sc.broadcast uses the latter)
            # so closures/lambdas work
            "obj_pickle": (cloudpickle.dumps(self.obj)
                           if isinstance(self.obj, CustomObjective) else None),
            "num_class": self.params.num_class,
            "trees": [[t.finalize_arrays() for t in rnd] for rnd in self.used_trees()],
            "covers": [[np.asarray(t.sum_hess, dtype=np.float64) for t in rnd]
                       for rnd in self.used_trees()],
            "weights": [
                (self.tree_weights[ri] if self.tree_weights else 1.0)
                for ri in range(len(self.used_trees()))
            ],
        }

    # ------------------------------------------- codegen (pure-JVM) serving
    def _node_expr(self, t: core.Tree, nid: int, feats: list):
        """One tree node as a Catalyst expression: one CASE WHEN whose
        condition folds the missing test in (``miss OR cond`` when the
        default goes left, ``NOT miss AND cond`` otherwise), so each
        child appears once and the expression is linear in tree size.
        Both operators short-circuit, so ``cond`` never sees a missing
        value."""
        if t.left[nid] == -1:
            return F.lit(float(t.leaf_value[nid]))
        c = feats[t.feature[nid]]
        left = self._node_expr(t, t.left[nid], feats)
        right = self._node_expr(t, t.right[nid], feats)
        miss = c.isNull() | F.isnan(c)
        cats = t.categories[nid]
        if cats is not None:
            cond = c.cast("long").isin(*[int(v) for v in cats])
        elif getattr(t, "tie_strict", False):
            # genuine reference-dialect import: strict float32 '<'
            # (predict_fn.h:22) — both operands rounded to float32
            # (exact when widened back to double, so the double compare
            # below is bit-equivalent to the reference's float compare)
            cond = c.cast("float") < F.lit(float(np.float32(t.split_value[nid])))
        else:
            cond = c <= F.lit(float(t.split_value[nid]))
        go_left = (miss | cond) if t.default_left[nid] else (~miss & cond)
        return F.when(go_left, left).otherwise(right)

    def margin_exprs(self, feats: list) -> list:
        """The ensemble's K margin columns as pure Catalyst expressions —
        every tree becomes a nested CASE WHEN over the raw feature
        columns, so serving runs entirely inside whole-stage codegen (no
        Python/Arrow boundary).  The declarative twin of the broadcast-UDF
        traversal in :meth:`transform`; same raw-domain semantics
        (``x <= split_value`` left, NULL/NaN -> learned default;
        reference `GetLeafIndex`, cpu_predictor.cc:64-145)."""
        K = self.params.n_groups
        used = self.used_trees()
        bs = self._bs_row(K)
        margins = [F.lit(float(bs[k])) for k in range(K)]
        for ri, rnd in enumerate(used):
            tw = float(self.tree_weights[ri]) if self.tree_weights else 1.0
            nf = max(len(rnd) // K, 1)
            for i, t in enumerate(rnd):
                if any(np.ndim(v) for v in t.leaf_value):
                    raise NotImplementedError(
                        "multi_output_tree serves via the UDF path")
                e = self._node_expr(t, 0, feats)
                if tw != 1.0:
                    e = F.lit(tw) * e
                margins[i // nf] = margins[i // nf] + e
        return margins

    def transform_expr(self, df: DataFrame,
                       feature_cols: list[str] | None = None,
                       array_col: str | None = None,
                       output_margin: bool = False,
                       out_col: str = "prediction",
                       base_margin_col: str | None = None,
                       iteration_range: tuple[int, int] | None = None) -> DataFrame:
        """Catalyst-expression batch predict: appends ``prediction`` built
        from :meth:`margin_exprs` + the objective's link inverse as SQL.
        Supports scalar-leaf models; the prediction is
        :func:`prediction_expr`, and the pred_leaf / SHAP outputs use
        :meth:`transform`.

        Perf (200k rows x 8 features, depth-6 trees, local[4] on 4
        vCPU): bit-identical to :meth:`transform`, one CASE WHEN per
        internal node.  Summing the predictions takes 1.3-2.7 s at 5
        trees and 3.5-5.5 s at 20 trees, against 0.6-0.8 s warm for the
        Arrow UDF at either size: the ensemble expression exceeds the
        JVM's 64KB codegen method limit and partially falls back to
        interpreted eval, while the UDF stays vectorized.  Building the
        Column tree on the driver adds 2.5-3.4 s (5 trees, 597 nodes)
        and 7.8-9.0 s (20 trees, 2198 nodes) before any job runs.  Use
        it for small models, for keeping a scoring
        pipeline entirely JVM-side (no Python workers provisioned), or as
        the basis of a model->SQL export; the UDF path is the default."""
        if iteration_range is not None:
            # (a, 0) means "rounds [a, end)" — LayerToTree gbtree.h:133
            return self.slice(*iteration_range).transform_expr(
                df, feature_cols=feature_cols, array_col=array_col,
                output_margin=output_margin, out_col=out_col,
                base_margin_col=base_margin_col)
        feature_cols = feature_cols or self.feature_names
        if array_col is not None:
            dt = df.schema[array_col].dataType
            col = F.col(sql_ident(array_col))
            if type(dt).__name__ == "VectorUDT":
                from pyspark.ml.functions import vector_to_array
                col = vector_to_array(col)
            feats = [col.getItem(i).cast("double")
                     for i in range(len(self.feature_names))]
        else:
            # string categoricals recode inline (no column mutation)
            dt = dict(df.dtypes)
            feats = []
            for c in feature_cols:
                if self.category_maps and c in self.category_maps \
                        and dt.get(c) == "string":
                    from xgboost_spark.sources.encoder import encode_col
                    feats.append(encode_col(c, self.category_maps[c]))
                else:
                    feats.append(F.col(sql_ident(c)).cast("double"))
        margins = self.margin_exprs(feats)
        if base_margin_col is not None:
            # base_margin REPLACES base_score (predictor.cc:66-72):
            # margin_exprs started every margin at the intercept, so
            # swap it out for the per-row offset
            bs = self._bs_row(len(margins))
            bm_dt = dict(df.dtypes).get(base_margin_col, "")
            if bm_dt.startswith("array") and len(margins) > 1:
                margins = [m - F.lit(float(bs[k]))
                           + F.col(sql_ident(base_margin_col)).getItem(k)
                           .cast("double")
                           for k, m in enumerate(margins)]
            else:
                margins = [m - F.lit(float(bs[k]))
                           + F.col(sql_ident(base_margin_col)).cast("double")
                           for k, m in enumerate(margins)]
        if output_margin:
            out = F.array(*margins) if len(margins) > 1 else margins[0]
            return df.withColumn(out_col, out)
        return df.withColumn(out_col,
                             prediction_expr(self.params.objective, margins))

    def transform(self, df: DataFrame, feature_cols: list[str] | None = None,
                  array_col: str | None = None,
                  out_cols: tuple[str, ...] = ("prediction",),
                  output_margin: bool = False,
                  pred_leaf: bool = False,
                  pred_contribs: bool = False,
                  approx_contribs: bool = False,
                  pred_interactions: bool = False,
                  base_margin_col: str | None = None,
                  iteration_range: tuple[int, int] | None = None,
                  missing: float | None = None,
                  validate_features: bool = True) -> DataFrame:
        """Batch predict: broadcast model + Arrow-batched traversal
        (reference Spark wrapper pattern, `spark/core.py:1388`).
        Appends `prediction` (double; probability array for softprob),
        optionally `margin` (array), `leaf` (array<int>), `contribs`
        (array<double>, F+1 with bias last — exact TreeSHAP, or Saabas
        when ``approx_contribs``; reference shap.cc / learner.h:116-120)
        and `interactions` (flattened (F+1)x(F+1) array<double>).

        ``base_margin_col``: per-row starting margin that REPLACES
        base_score (reference InitOutPredictions, predictor.cc:66-72 —
        a supplied base_margin is copied into the initial predictions
        and the intercept is NOT added), mirroring the training-side
        column (spark/core.py base_margin_col); a scalar column
        broadcasts across classes, an array column supplies one margin
        per class.  With ``pred_contribs`` it becomes the bias term so
        local accuracy still holds.
        """
        if iteration_range is not None:
            # reference predict(iteration_range=(a, b)), core.py Booster
            # .predict: score with boosting rounds [a, b) only; b == 0
            # means "through the last round" (LayerToTree, gbtree.h:133)
            if iteration_range[0] != 0 and (pred_leaf or pred_contribs
                                            or pred_interactions):
                # gbtree.h:326,347,357 CHECK_EQ(tree_begin, 0): these
                # outputs support only iteration end — slice the model
                # instead of passing a non-zero begin
                raise ValueError(
                    "Predict leaf/contribution supports only iteration "
                    "end: [0, n_iteration), use model slicing instead.")
            return self.slice(*iteration_range).transform(
                df, feature_cols=feature_cols, array_col=array_col,
                out_cols=out_cols, output_margin=output_margin,
                pred_leaf=pred_leaf, pred_contribs=pred_contribs,
                approx_contribs=approx_contribs,
                pred_interactions=pred_interactions,
                base_margin_col=base_margin_col, missing=missing,
                validate_features=validate_features)
        if feature_cols is None:
            feature_cols = self.feature_names
        elif (set(feature_cols) == set(self.feature_names)
              and list(feature_cols) != list(self.feature_names)):
            # align by NAME when the caller passes the training columns
            # in a different order (reference validate_features: names
            # are authoritative; silent positional mapping would
            # mispredict).  Differently-NAMED columns keep positional
            # semantics — that is the explicit remapping API, gated by
            # validate_features=False below.
            feature_cols = list(self.feature_names)
        elif (validate_features and self.feature_names
              and set(feature_cols) != set(self.feature_names)
              and array_col is None):
            # reference Booster._validate_features (core.py:3292-3325):
            # a name-SET mismatch raises, listing both directions.
            # Positional remapping onto differently-named columns is
            # still available explicitly via validate_features=False
            # (what the reference Spark wrapper passes on executors,
            # spark/core.py:1297).
            dat_missing = set(self.feature_names) - set(feature_cols)
            my_missing = set(feature_cols) - set(self.feature_names)
            msg = "feature_names mismatch: {0} {1}"
            if dat_missing:
                msg += ("\nexpected " + ", ".join(map(str, dat_missing))
                        + " in input data")
            if my_missing:
                msg += ("\ntraining data did not have the following "
                        "fields: " + ", ".join(map(str, my_missing)))
            raise ValueError(msg.format(self.feature_names,
                                        list(feature_cols)))
        df, feature_cols, enc_tmp = self._encode_strings(df, feature_cols)
        if array_col is not None:
            dt = df.schema[array_col].dataType
            if type(dt).__name__ == "VectorUDT":
                # MLlib vectors densify JVM-side; output column becomes
                # array<double>
                from pyspark.ml.functions import vector_to_array
                df = df.withColumn(array_col,
                                   vector_to_array(F.col(sql_ident(array_col))))
        # sentinel-as-missing (reference DMatrix missing=): NULL the
        # matching values so they route down default directions, same as
        # at fit time.  Explicit argument wins over the fit-time value.
        mv = missing if missing is not None else self.missing
        if mv is not None:
            if array_col is not None:
                a = sql_ident(array_col)
                nulled = {array_col: f"transform({a}, x -> "
                                     f"{sql_null_if('CAST(x AS DOUBLE)', mv)})"}
            else:
                dts = dict(df.dtypes)
                nulled = {c: sql_null_if(f"CAST({sql_ident(c)} AS DOUBLE)", mv)
                          for c in feature_cols if dts.get(c) != "string"}
            # one projection, one SQL parse per column (a chain of
            # Column calls costs ~100 py4j round trips per column)
            df = df.withColumns({c: F.expr(e) for c, e in nulled.items()})
        spark = df.sparkSession
        K = self.params.n_groups
        if (pred_contribs or pred_interactions) and any(
                np.ndim(v) for rnd in self.trees for t in rnd for v in t.leaf_value):
            raise NotImplementedError(
                "contributions not supported for multi_output_tree leaves")
        if not df.isStreaming:
            # Small/single-row-group inputs scan as 1-2 unsplittable
            # partitions, serializing the per-row traversal onto one
            # core while the other slots idle; round-robin them out.
            # At production scale the scan already yields >= slot-count
            # splits and this is a no-op (no shuffle added).  Output
            # row order is not preserved — Spark never guarantees it.
            from xgboost_spark.operators.util import ensure_parallelism
            df = ensure_parallelism(df)
        state = self._broadcastable()
        if not (output_margin or pred_leaf or pred_contribs or pred_interactions):
            # fast path: scalar pandas_udf — only the feature columns
            # cross the Arrow boundary (Catalyst prunes the scan to
            # them); every other column stays JVM-side instead of
            # round-tripping through Python as mapInPandas would
            bc = spark.sparkContext.broadcast(state)
            out = self._transform_udf(df, feature_cols, array_col, bc, K,
                                      base_margin_col=base_margin_col)
            return out.drop(*enc_tmp) if enc_tmp else out
        if pred_interactions or (pred_contribs and not approx_contribs):
            # exact SHAP: every tree compiled once into its root-to-leaf
            # paths (O(paths x depth)); executors evaluate them per batch
            from xgboost_spark.functions import shap as shap_mod
            state["paths"] = [
                [shap_mod.compile_paths(arrs, cover)
                 for arrs, cover in zip(rnd, covers)]
                for rnd, covers in zip(state["trees"], state["covers"])]
        bc = spark.sparkContext.broadcast(state)
        fields = list(df.schema.fields)
        names = [f.name for f in fields]
        # PySpark's mapInPandas resolves each input column as df[name],
        # which misreads a dot or backtick inside the name: such an input
        # runs under positional names and gets its own back on the output
        # (only then — each rename is one more eagerly analysed plan)
        renamed = any("." in c or "`" in c for c in names)
        if renamed:
            pos = [f"_c{i}" for i in range(len(names))]
            at = dict(zip(names, pos))
            feature_cols = [at.get(c, c) for c in feature_cols]
            array_col = at.get(array_col, array_col)
            base_margin_col = at.get(base_margin_col, base_margin_col)
            fields = [T.StructField(c, f.dataType, f.nullable)
                      for c, f in zip(pos, fields)]
            df = df.toDF(*pos)
        # vector prediction: class probabilities (softprob) or one value
        # per alpha (multi-alpha quantile/expectile)
        if K > 1 and self.params.objective in ("multi:softprob",
                                               "reg:quantileerror",
                                               "reg:expectileerror"):
            fields.append(T.StructField("prediction", T.ArrayType(T.DoubleType())))
        else:
            fields.append(T.StructField("prediction", T.DoubleType()))
        if output_margin:
            fields.append(T.StructField("margin", T.ArrayType(T.DoubleType())))
        if pred_leaf:
            fields.append(T.StructField("leaf", T.ArrayType(T.IntegerType())))
        # multiclass: one contribution vector per class (reference
        # multiclass pred_contribs shape (n, K, F+1), cpu_predictor.cc
        # PredictContribution over all groups)
        _contrib_t = (T.ArrayType(T.ArrayType(T.DoubleType())) if K > 1
                      else T.ArrayType(T.DoubleType()))
        if pred_contribs:
            fields.append(T.StructField("contribs", _contrib_t))
        if pred_interactions:
            fields.append(T.StructField("interactions", _contrib_t))
        out_schema = T.StructType(fields)
        use_array = array_col is not None
        n_feat = len(self.feature_names)

        def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from xgboost_spark.functions import shap as shap_mod
            st = bc.value
            if st.get("obj_pickle"):
                import pickle as _pkl
                obj = _pkl.loads(st["obj_pickle"])
            else:
                obj = get_objective(
                    st["objective"],
                    TrainParams(objective=st["objective"], num_class=st["num_class"]))
            for pdf in it:
                if len(pdf) == 0:
                    continue
                if use_array:
                    X = np.stack(pdf[array_col].to_numpy()).astype(np.float64)
                else:
                    X = np.column_stack([
                        pdf[c].to_numpy(dtype=np.float64, na_value=np.nan) for c in feature_cols
                    ])
                n = len(pdf)
                Kk = st["K"]
                bm = None
                if base_margin_col is not None:
                    # base_margin REPLACES base_score (predictor.cc:66)
                    raw_bm = pdf[base_margin_col].to_numpy()
                    bm = (np.stack(raw_bm).astype(np.float64)
                          if raw_bm.dtype == object
                          else raw_bm.astype(np.float64)[:, None])
                    margin = np.broadcast_to(bm, (n, Kk)).astype(np.float64).copy()
                else:
                    margin = np.full((n, Kk), st["base_score"],
                                     dtype=np.float64)
                leaves = []
                phi = np.zeros((n, Kk, n_feat + 1)) if pred_contribs else None
                inter = (np.zeros((n, Kk, n_feat + 1, n_feat + 1))
                         if pred_interactions else None)
                for ri, rnd in enumerate(st["trees"]):
                    tw = st["weights"][ri]
                    # k-major round layout: K groups x num_parallel_tree
                    nf = max(len(rnd) // Kk, 1)
                    for i, arrs in enumerate(rnd):
                        k = i // nf
                        lid = core.leaf_ids_from_arrays(arrs, X, binned=False)
                        if arrs["leaf_value"].ndim == 2:   # multi_output_tree
                            margin += tw * arrs["leaf_value"][lid]
                        else:
                            margin[:, k] += tw * arrs["leaf_value"][lid]
                        if pred_leaf:
                            leaves.append(lid)
                        if phi is not None:
                            phi[:, k, :] += tw * (
                                shap_mod.saabas_contribs(arrs, st["covers"][ri][i], X)
                                if approx_contribs
                                else shap_mod.path_shap(arrs, st["paths"][ri][i],
                                                        X, n_feat))
                        if inter is not None:
                            inter[:, k, :, :] += tw * shap_mod.path_shap_interactions(
                                arrs, st["paths"][ri][i], X, n_feat)
                out = pdf.copy()
                mm = margin if Kk > 1 else margin[:, 0]
                pred = obj.pred_transform(mm)
                out["prediction"] = [r.tolist() for r in pred] if pred.ndim > 1 else pred
                if output_margin:
                    out["margin"] = [row.tolist() for row in margin]
                if pred_leaf:
                    lv = np.stack(leaves, axis=1).astype(np.int32)
                    out["leaf"] = [row.tolist() for row in lv]
                if pred_contribs:
                    phi_out = phi.copy()
                    # the bias term carries the effective intercept: the
                    # supplied base_margin REPLACES base_score
                    if bm is not None:
                        phi_out[:, :, -1] += bm
                    else:
                        phi_out[:, :, -1] += st["base_score"]
                    if Kk > 1:
                        out["contribs"] = [[c.tolist() for c in row] for row in phi_out]
                    else:
                        out["contribs"] = [row.tolist() for row in phi_out[:, 0, :]]
                if pred_interactions:
                    inter_out = inter.copy()
                    if bm is not None:
                        inter_out[:, :, -1, -1] += bm
                    else:
                        inter_out[:, :, -1, -1] += st["base_score"]
                    if Kk > 1:
                        out["interactions"] = [
                            [c.reshape(-1).tolist() for c in row] for row in inter_out]
                    else:
                        out["interactions"] = [
                            row.reshape(-1).tolist() for row in inter_out[:, 0, :, :]]
                yield out

        res = df.mapInPandas(fn, schema=out_schema)
        if renamed:
            res = res.toDF(*names, *out_schema.names[len(names):])
        return res.drop(*enc_tmp) if enc_tmp else res

    def register_sql_udf(self, spark: SparkSession, name: str):
        """Register batch predict as a Spark SQL function so models serve
        straight from SQL::

            model.register_sql_udf(spark, "gbdt_score")
            spark.sql("SELECT gbdt_score(array(c1, c2, c3)) FROM t")

        Same broadcast-model Arrow-batched kernel as ``transform()``'s
        fast path — the UDF takes one ``array<double>`` feature argument
        (build it with ``array(...)`` / ``vector_to_array`` in the query).
        """
        bc = spark.sparkContext.broadcast(self._broadcastable())
        fn = self._predict_pandas_udf(bc, self.params.n_groups,
                                      use_array=True, has_bm=False)
        spark.udf.register(name, fn)
        return fn

    def _predict_pandas_udf(self, bc, K: int, use_array: bool, has_bm: bool):
        from pyspark.sql.functions import pandas_udf
        multi = K > 1 and self.params.objective in ("multi:softprob",
                                                    "reg:quantileerror",
                                                    "reg:expectileerror")
        ret_type = "array<double>" if multi else "double"

        @pandas_udf(ret_type)
        def predict_udf(*cols: pd.Series) -> pd.Series:
            st = bc.value
            if st.get("obj_pickle"):
                import pickle as _pkl
                obj = _pkl.loads(st["obj_pickle"])
            else:
                obj = get_objective(
                    st["objective"],
                    TrainParams(objective=st["objective"], num_class=st["num_class"]))
            n = len(cols[0])
            if n == 0:
                return pd.Series([], dtype=object if multi else np.float64)
            feat_cols = cols[:-1] if has_bm else cols
            if use_array:
                X = np.stack(feat_cols[0].to_numpy()).astype(np.float64)
            else:
                X = np.column_stack([
                    c.to_numpy(dtype=np.float64, na_value=np.nan) for c in feat_cols])
            Kk = st["K"]
            if has_bm:
                # reference InitOutPredictions (predictor.cc:66-72):
                # a supplied base_margin REPLACES base_score
                raw_bm = cols[-1].to_numpy()
                bm = (np.stack(raw_bm).astype(np.float64)
                      if raw_bm.dtype == object
                      else raw_bm.astype(np.float64)[:, None])
                margin = np.broadcast_to(bm, (n, Kk)).astype(np.float64)
            else:
                margin = np.full((n, Kk), st["base_score"],
                                 dtype=np.float64)
            core.apply_model_margin(margin, st["trees"], st["weights"], X, False, Kk)
            pred = obj.pred_transform(margin if Kk > 1 else margin[:, 0])
            if pred.ndim > 1:
                return pd.Series([r.tolist() for r in pred])
            return pd.Series(pred)

        return predict_udf

    def _transform_udf(self, df: DataFrame, feature_cols: list[str],
                       array_col: str | None, bc, K: int,
                       base_margin_col: str | None = None) -> DataFrame:
        use_array = array_col is not None
        has_bm = base_margin_col is not None
        predict_udf = self._predict_pandas_udf(bc, K, use_array, has_bm)
        # one SQL parse per argument (F.col + .cast is ~24 round trips)
        args = ([F.expr(sql_ident(array_col))] if use_array
                else [F.expr(f"CAST({sql_ident(c)} AS DOUBLE)")
                      for c in feature_cols])
        if has_bm:
            args.append(F.expr(sql_ident(base_margin_col)))
        return df.withColumn("prediction", predict_udf(*args))

    # ----------------------------------------------------- model-as-a-table
    def to_nodes_df(self, spark: SparkSession) -> DataFrame:
        """`trees_to_dataframe` (reference `core.py:3103`): the model as a
        relational table — queryable for importance, split histograms, etc.
        """
        rows = []
        ti = 0
        for rnd_i, rnd in enumerate(self.trees):
            for k, t in enumerate(rnd):
                if any(np.ndim(v) for v in t.leaf_value):
                    raise NotImplementedError(
                        "trees_to_dataframe does not support vector-leaf "
                        "(multi_output_tree) models — the scalar "
                        "leaf_value column has no vector shape; use "
                        "get_dump(dump_format='json') instead")
                for nid in range(t.n_nodes):
                    is_leaf = t.left[nid] == -1
                    rows.append((
                        ti, rnd_i, k, nid,
                        None if is_leaf else self.feature_names[t.feature[nid]],
                        None if is_leaf else float(t.split_value[nid]),
                        None if is_leaf else int(t.left[nid]),
                        None if is_leaf else int(t.right[nid]),
                        bool(t.default_left[nid]),
                        float(t.gain[nid]) if not is_leaf else None,
                        float(t.sum_hess[nid]),
                        float(t.leaf_value[nid]) if is_leaf else None,
                    ))
                ti += 1
        schema = ("tree int, round int, class int, node int, feature string, "
                  "split double, yes int, no int, default_left boolean, "
                  "gain double, cover double, leaf_value double")
        return spark.createDataFrame(rows, schema)

    def trees_to_dataframe(self, spark: SparkSession,
                           fmap: str = "") -> DataFrame:
        """The reference's `Booster.trees_to_dataframe` schema
        (core.py:3103-3276), as a Spark DataFrame: columns Tree /
        Target / Node / ID / Feature / Split / Yes / No / Missing /
        Gain / Cover / Category, one row per REACHABLE node (DFS from
        the root), link columns as ``"{tree}-{node}"`` strings, leaves
        with Feature='Leaf' and their value in Gain, vector-leaf
        (multi_output_tree) trees emitting one leaf row per target with
        split rows Target=NULL, and categorical splits carrying the
        in-set codes in Category with Yes pointing at the in-set child
        (the engine routes in-set LEFT internally; its save path swaps
        children so the reference's in-set-RIGHT JSON sees the same
        node ids — both surfaces print identical rows).  Sorted by
        (Tree, Node, Target) like the reference.  ``fmap`` is accepted
        and ignored (deprecated upstream, 3.4.0).  The engine has no
        'i'/'int' feature types, so every numeric split follows the
        float path.  :meth:`to_nodes_df` keeps the engine-native
        relational shape."""
        rows: list[tuple] = []
        npt = max(self.params.num_parallel_tree, 1)
        fnames = dict(enumerate(self.feature_names or []))
        tid = 0
        for rnd in self.trees:
            for k_in_round, t in enumerate(rnd):
                target = k_in_round // npt
                vector = any(np.ndim(v) for v in t.leaf_value)
                stack = [0]
                while stack:
                    nid = stack.pop()
                    cover = float(t.sum_hess[nid])
                    if t.left[nid] == -1:
                        leaf_rows = (list(enumerate(
                                         float(v) for v in t.leaf_value[nid]))
                                     if vector
                                     else [(target, float(t.leaf_value[nid]))])
                        for tgt, value in leaf_rows:
                            rows.append((tid, tgt, nid, f"{tid}-{nid}",
                                         "Leaf", None, None, None, None,
                                         value, cover, None))
                        continue
                    stack.append(t.left[nid])
                    stack.append(t.right[nid])
                    fidx = t.feature[nid]
                    dft = t.left[nid] if t.default_left[nid] else t.right[nid]
                    if t.categories[nid] is not None:
                        # in-set child is YES (reference yes=right on its
                        # in-set-right save dialect == this engine's left)
                        yes, no = t.left[nid], t.right[nid]
                        split, cats = None, sorted(
                            int(c) for c in t.categories[nid])
                    else:
                        yes, no = t.left[nid], t.right[nid]
                        split, cats = float(t.split_value[nid]), None
                    rows.append((tid, None if vector else target, nid,
                                 f"{tid}-{nid}",
                                 fnames.get(fidx, f"f{fidx}"), split,
                                 f"{tid}-{yes}", f"{tid}-{no}",
                                 f"{tid}-{dft}",
                                 float(t.gain[nid]), cover, cats))
                tid += 1
        schema = ("Tree int, Target int, Node int, ID string, "
                  "Feature string, Split double, Yes string, No string, "
                  "Missing string, Gain double, Cover double, "
                  "Category array<int>")
        return (spark.createDataFrame(rows, schema)
                .orderBy("Tree", "Node", "Target"))

    def get_fscore(self, importance_type: str = "weight") -> dict[str, float]:
        """Reference-named alias of :meth:`feature_importance`
        (`core.py Booster.get_fscore` — split counts by default)."""
        return self.feature_importance(importance_type)

    def get_score(self, importance_type: str = "weight") -> dict[str, float]:
        """Reference-named alias (`core.py Booster.get_score`)."""
        return self.feature_importance(importance_type)

    def feature_importance(self, importance_type: str = "gain") -> dict[str, float]:
        """weight/gain/cover/total_gain/total_cover (reference
        `XGBoosterFeatureScore` `c_api.h:1608`, `core.py:3036`)."""
        acc: dict[str, list[float]] = {}
        for rnd in self.trees:
            for t in rnd:
                for nid in range(t.n_nodes):
                    if t.left[nid] == -1:
                        continue
                    fn = self.feature_names[t.feature[nid]]
                    a = acc.setdefault(fn, [0.0, 0.0, 0.0])
                    a[0] += 1.0
                    a[1] += float(t.gain[nid])
                    a[2] += float(t.sum_hess[nid])
        out = {}
        for fn, (w, g, c) in acc.items():
            out[fn] = {
                "weight": w, "total_gain": g, "total_cover": c,
                "gain": g / w, "cover": c / w,
            }[importance_type]
        return out

    def get_dump(self, with_stats: bool = False,
                 dump_format: str = "text") -> list[str]:
        """Dump, one string per tree (reference ``Booster.get_dump``).

        ``text`` (`src/tree/tree_model.cc:232-299` TextGenerator):
        ``{nid}:[{fname}<{cond}] yes=l,no=r,missing=m`` with tab
        indentation by depth, leaves as ``{nid}:leaf={v}``; categorical
        splits as ``[{fname}:{c1,c2}] yes=r,no=l`` (in-set goes right in
        the reference's convention, so children swap like to_json).

        ``json`` (`tree_model.cc:340-465` JsonGenerator): per-tree JSON
        with nodeid/depth/split/split_condition/yes/no/missing and
        nested ``children``; leaves are ``{"nodeid": n, "leaf": v}``;
        stats add gain/cover.  Categorical nodes emit the category list
        as split_condition with yes=right (in-set), exactly the
        generator's Categorical template."""
        if dump_format == "json":
            return self._dump_json(with_stats)
        if dump_format != "text":
            raise ValueError(f"Unknown dump format: {dump_format}")
        dumps = []
        for rnd in self.trees:
            for t in rnd:
                lines: list[str] = []

                def walk(nid: int, depth: int, t=t, lines=lines):
                    tabs = "\t" * depth
                    if t.left[nid] == -1:
                        s = f"{tabs}{nid}:leaf={_leaf_str(t.leaf_value[nid])}"
                        if with_stats:
                            s += f",cover={t.sum_hess[nid]:.9g}"
                        lines.append(s)
                        return
                    fname = self.feature_names[t.feature[nid]]
                    l, r = int(t.left[nid]), int(t.right[nid])
                    cats = t.categories[nid] if t.categories is not None else None
                    if cats:
                        cond = ",".join(str(int(c)) for c in sorted(cats))
                        miss = r if t.default_left[nid] else l
                        s = (f"{tabs}{nid}:[{fname}:{{{cond}}}] "
                             f"yes={r},no={l},missing={miss}")
                    else:
                        miss = l if t.default_left[nid] else r
                        s = (f"{tabs}{nid}:[{fname}<{t.split_value[nid]:.9g}] "
                             f"yes={l},no={r},missing={miss}")
                    if with_stats:
                        s += f",gain={t.gain[nid]:.9g},cover={t.sum_hess[nid]:.9g}"
                    lines.append(s)
                    walk(l, depth + 1)
                    walk(r, depth + 1)

                walk(0, 0)
                dumps.append("\n".join(lines) + "\n")
        return dumps

    def _dump_json(self, with_stats: bool) -> list[str]:
        dumps = []
        for rnd in self.trees:
            for t in rnd:
                def node(nid: int, depth: int, t=t):
                    if t.left[nid] == -1:
                        lv = t.leaf_value[nid]
                        d = {"nodeid": nid,
                             "leaf": (list(map(float, lv))
                                      if np.ndim(lv) else float(lv))}
                        if with_stats:
                            d["cover"] = float(t.sum_hess[nid])
                        return d
                    l, r = int(t.left[nid]), int(t.right[nid])
                    cats = t.categories[nid] if t.categories is not None else None
                    d = {"nodeid": nid, "depth": depth,
                         "split": self.feature_names[t.feature[nid]]}
                    if cats:
                        # Categorical template: in-set -> yes=RIGHT
                        d["split_condition"] = sorted(int(c) for c in cats)
                        d["yes"], d["no"] = r, l
                    else:
                        d["split_condition"] = float(t.split_value[nid])
                        d["yes"], d["no"] = l, r
                    d["missing"] = l if t.default_left[nid] else r
                    if with_stats:
                        d["gain"] = float(t.gain[nid])
                        d["cover"] = float(t.sum_hess[nid])
                    d["children"] = [node(l, depth + 1), node(r, depth + 1)]
                    return d

                dumps.append(json.dumps(node(0, 0), indent=2))
        return dumps

    def dump_model(self, fout, with_stats: bool = False,
                   dump_format: str = "text") -> None:
        """Dump to a text or JSON file — visualization format, not
        loadable (reference ``Booster.dump_model``, core.py:2939: text
        prefixes each tree with ``booster[i]:``, json wraps the per-tree
        documents in one array)."""
        import os as _os
        if isinstance(fout, (str, _os.PathLike)):
            fobj = open(_os.fspath(_os.path.expanduser(fout)), "w",
                        encoding="utf-8")
            need_close = True
        else:
            fobj, need_close = fout, False
        ret = self.get_dump(with_stats=with_stats, dump_format=dump_format)
        if dump_format == "json":
            fobj.write("[\n")
            for i, val in enumerate(ret):
                fobj.write(val)
                if i < len(ret) - 1:
                    fobj.write(",\n")
            fobj.write("\n]")
        else:
            for i, val in enumerate(ret):
                fobj.write(f"booster[{i}]:\n")
                fobj.write(val)
        if need_close:
            fobj.close()

    def save_raw(self, raw_format: str = "ubj") -> bytearray:
        """Model document as in-memory bytes (reference
        ``Booster.save_raw``, core.py:2817): ``ubj`` or ``json``."""
        if raw_format == "json":
            return bytearray(self.to_json().encode("utf-8"))
        if raw_format == "ubj":
            from xgboost_spark.sources import ubjson
            return bytearray(ubjson.dumps(json.loads(self.to_json())))
        raise ValueError(f"Unknown format: {raw_format}")

    @classmethod
    def load_raw(cls, raw: bytes | bytearray) -> "GBDTModel":
        """Load from :meth:`save_raw` bytes (reference
        ``Booster(model_file=bytearray)``)."""
        raw = bytes(raw)
        try:
            return cls.from_json(raw.decode("utf-8"))
        except (UnicodeDecodeError, json.JSONDecodeError):
            from xgboost_spark.sources import ubjson
            return cls.from_doc(ubjson.loads(raw))

    def evals_result(self) -> dict:
        """Per-eval-set metric history — the reference's
        ``Booster.evals_result()`` / ``evals_result`` out-param of
        ``xgboost.train`` (training.py)."""
        return self.eval_history

    def get_dot(self, tree_idx: int = 0, with_stats: bool = False) -> str:
        """Graphviz dot source for one tree (reference
        `src/tree/tree_model.cc:610-700` GraphvizGenerator)."""
        flat = [t for rnd in self.trees for t in rnd]
        t = flat[tree_idx]
        lines = ["digraph {", "    graph [ rankdir=TB ]"]
        for nid in range(t.n_nodes):
            cover = f"\ncover={t.sum_hess[nid]:.9g}" if with_stats else ""
            if t.left[nid] == -1:
                lines.append(
                    f'    {nid} [ label="leaf={_leaf_str(t.leaf_value[nid])}'
                    f'{cover}" ]')
                continue
            fname = self.feature_names[t.feature[nid]]
            gain = f"\ngain={t.gain[nid]:.9g}" if with_stats else ""
            lines.append(
                f'    {nid} [ label="{fname}<{t.split_value[nid]:.9g}{gain}{cover}" ]')
            yes, no = int(t.left[nid]), int(t.right[nid])
            miss = yes if t.default_left[nid] else no
            lines.append(f'    {nid} -> {yes} [ label="yes, missing" ]'
                         if miss == yes else f'    {nid} -> {yes} [ label="yes" ]')
            lines.append(f'    {nid} -> {no} [ label="no, missing" ]'
                         if miss == no else f'    {nid} -> {no} [ label="no" ]')
        lines.append("}")
        return "\n".join(lines) + "\n"

    def split_value_histogram(self, feature: str, bins: int = 10) -> dict:
        """Histogram of split thresholds for one feature (reference
        `core.py:3327 get_split_value_histogram`)."""
        vals = []
        fidx = self.feature_names.index(feature)
        for rnd in self.trees:
            for t in rnd:
                for nid in range(t.n_nodes):
                    if t.left[nid] != -1 and t.feature[nid] == fidx:
                        vals.append(t.split_value[nid])
        if not vals:
            return {"counts": [], "edges": []}
        cnt, edges = np.histogram(np.asarray(vals), bins=bins)
        return {"counts": cnt.tolist(), "edges": edges.tolist()}
