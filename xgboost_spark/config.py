"""Training parameters.

Names and defaults follow the reference's public parameter surface
(xgboost `TrainParam`, reference `src/tree/param.h:30-140`, and the
learner/booster params in `doc/parameter.rst`).  Only the subset with a
Spark-side implementation is listed; unknown names raise early.
"""

from __future__ import annotations

from dataclasses import dataclass, field, fields


@dataclass
class TrainParams:
    # booster / learner
    objective: str = "reg:squarederror"
    booster: str = "gbtree"             # gbtree | dart | gblinear
    num_boost_round: int = 10
    eta: float = 0.3                    # learning_rate
    base_score: float | None = None     # None => fit from data (fit_stump)
    num_class: int = 0                  # >1 for multi:* objectives
    seed: int = 0

    # DART (reference src/gbm/gbtree.h:47,89-123)
    rate_drop: float = 0.0
    skip_drop: float = 0.0
    one_drop: bool = False
    sample_type: str = "uniform"        # uniform | weighted
    normalize_type: str = "tree"        # tree | forest

    # gblinear (reference src/linear/param.h)
    feature_selector: str = "cyclic"    # cyclic|shuffle|random|greedy|thrifty
    top_k: int = 0                      # greedy/thrifty: 0 = all features

    # tree growth (reference src/tree/param.h)
    max_depth: int = 6
    max_leaves: int = 0                 # 0 = unlimited (depthwise)
    grow_policy: str = "depthwise"      # or "lossguide"
    min_child_weight: float = 1.0
    reg_lambda: float = 1.0             # L2  (xgboost "lambda")
    reg_alpha: float = 0.0              # L1  (xgboost "alpha")
    gamma: float = 0.0                  # min_split_loss
    max_delta_step: float = 0.0
    subsample: float = 1.0
    # "uniform" (Bernoulli keep) or "gradient_based" (MVS: keep row i
    # with p_i = min(1, sqrt(g_i^2 + 0.1*h_i^2)/u), kept gradients
    # rescaled by 1/p_i — reference src/tree/hist/sampler.h/.cc)
    sampling_method: str = "uniform"
    colsample_bytree: float = 1.0
    colsample_bylevel: float = 1.0
    colsample_bynode: float = 1.0
    monotone_constraints: dict[str, int] | None = None
    # per-feature sampling weights for colsample_* (reference
    # ColumnSampler feature_weights, src/common/random.h:70-98);
    # list aligned to feature order, or dict feature-name -> weight
    feature_weights: list | dict | None = None
    interaction_constraints: list[list[str]] | None = None
    num_parallel_tree: int = 1          # >1 = random-forest rounds

    # execution strategy:
    #   auto      -> one-job barrier training (plans/barrier.py, the fast
    #                path mirroring the reference's own Spark wrapper)
    #                when the objective/params allow, else DataFrame path
    #   barrier   -> force barrier; raise if unsupported
    #   dataframe -> force the per-level DataFrame path (declarative,
    #                oracle-checkable; required for cox/adaptive/evals)
    exec_mode: str = "auto"

    # quantization (reference max_bin default 256, src/tree/param.h:97)
    max_bin: int = 256
    # hist = global cuts reused all rounds; approx = per-round
    # hessian-weighted re-sketch (reference updater_approx.cc:95-130)
    tree_method: str = "hist"
    # reference process_type/updater (gbtree.h): process_type=update
    # re-runs updaters ('refresh', 'prune') on an existing model's trees
    # instead of growing new ones
    process_type: str = "default"
    updater: str | None = None
    # categorical splits: one-hot below this cardinality, else sorted
    # set-partition (reference evaluate_splits.h:307 gate)
    max_cat_to_onehot: int = 4
    # partition-based splits scan <= thr-1 set sizes from each end of
    # the sorted category order (reference param.h:42)
    max_cat_threshold: int = 64

    # multi-class strategy (reference `include/xgboost/learner.h:327,345`):
    # one_output_per_tree = K trees per round; multi_output_tree = one
    # tree per round with vector leaves
    multi_strategy: str = "one_output_per_tree"

    # objective-specific
    tweedie_variance_power: float = 1.5
    quantile_alpha: tuple[float, ...] = (0.5,)
    # reference ExpectileLossParam (regression_obj.cu:340): a VECTOR of
    # expectile levels trains one output group per alpha with the
    # SoftPlus-stacked monotone composition.  None falls back to
    # quantile_alpha (the pre-vector borrow) so older configs keep
    # working.
    expectile_alpha: tuple[float, ...] | None = None
    huber_slope: float = 1.0
    aft_loss_distribution: str = "normal"
    aft_loss_distribution_scale: float = 1.0
    scale_pos_weight: float = 1.0
    # ranking (reference src/common/ranking_utils.h:64-90)
    # None = the reference's method default (32 for topk, 1 for mean;
    # ranking_utils.h NumPair)
    lambdarank_num_pair_per_sample: int | None = None
    lambdarank_pair_method: str = "topk"
    # group-gradient normalization (lambdarank_obj.cc:228-243) and
    # |delta|/(score diff + 0.01) scaling (lambdarank_obj.h:124-126),
    # both reference defaults
    lambdarank_normalization: bool = True
    lambdarank_score_normalization: bool = True
    ndcg_exp_gain: bool = True
    # position-debiased LambdaRank (Unbiased LambdaMART; reference
    # lambdarank_unbiased / lambdarank_bias_norm, ranking_utils.h:64-90)
    lambdarank_unbiased: bool = False
    lambdarank_bias_norm: float = 1.0

    # early stopping / evals
    early_stopping_rounds: int | None = None
    eval_metric: list[str] = field(default_factory=list)
    # reference learner.cc:302/:1173: when set and eval_metric is
    # empty, EvalOneIter inserts NO default metric — eval sets produce
    # no built-in history entries (a custom_metric still appends)
    disable_default_eval_metric: bool = False

    # barrier-training fault tolerance: when checkpoint_dir is set,
    # rank 0 atomically writes the model-so-far (trees, weights,
    # history, rng/objective state) every checkpoint_interval rounds;
    # a retried barrier job — or a re-issued fit() after a failure —
    # resumes from the last checkpoint instead of round 0 (the
    # reference's own Spark wrapper restarts from scratch; this is the
    # Structured-Streaming checkpointLocation contract applied to
    # training).  The directory must be visible to every task (shared
    # POSIX-mounted/DFS storage on a real cluster).  A successful fit
    # deletes its checkpoint; a failed one leaves it for resumption.
    checkpoint_dir: str | None = None
    checkpoint_interval: int = 10

    # names the caller EXPLICITLY passed through from_dict (post-alias).
    # gblinear needs this: the reference's LinearTrainParam has its own
    # defaults for the SHARED names (eta 0.5, lambda 0, alpha 0 —
    # src/linear/param.h:30-56), applied only when the user did not set
    # them.  Direct TrainParams(...) construction leaves this empty, so
    # gblinear then uses the linear defaults.
    explicit_keys: frozenset = frozenset()

    def __post_init__(self):
        # one metric name is a one-element list (the reference accepts
        # eval_metric="auc"); iterating the bare string would split it
        # into characters
        if isinstance(self.eval_metric, str):
            self.eval_metric = [self.eval_metric]

    ALIASES = {
        "learning_rate": "eta",
        "lambda": "reg_lambda",
        "alpha": "reg_alpha",
        "min_split_loss": "gamma",
        "n_estimators": "num_boost_round",
        "random_state": "seed",
    }

    # reference params that are environment/no-op on Spark: accepted and
    # ignored so migrating configs run unchanged (the reference itself
    # only warns on unknown params unless validate_parameters).  Each
    # entry optionally restricts the ignorable VALUES — asking for
    # behavior we don't implement still raises.
    IGNORED = {
        "nthread": None, "n_jobs": None,            # Spark owns threading
        "verbosity": None, "silent": None,
        "validate_parameters": None,
        "device": ("cpu",),                          # no GPU path
        "predictor": ("auto", "cpu_predictor"),
        "single_precision_histogram": None,          # always f64 here
        "sketch_eps": None,                          # superseded by max_bin
        "refresh_leaf": None,
# sampling_method is a real TrainParams field (uniform | gradient_based)
        "enable_categorical": None,                  # auto-detected
        "importance_type": None,                     # chosen at query time
        "missing": (float("nan"),),                  # NaN is the only missing marker
    }

    @classmethod
    def from_dict(cls, d: dict) -> "TrainParams":
        known = {f.name for f in fields(cls)}
        kw = {}
        for k, v in d.items():
            k = cls.ALIASES.get(k, k)
            if k in cls.IGNORED:
                allowed = cls.IGNORED[k]
                if allowed is not None:
                    ok = any((isinstance(a, float) and isinstance(v, float)
                              and (v != v) == (a != a)) or v == a
                             for a in allowed)
                    if not ok:
                        raise ValueError(
                            f"parameter {k!r}={v!r} requests unsupported "
                            f"behavior (accepted values: {allowed})")
                continue
            if k not in known:
                raise ValueError(f"unknown parameter: {k!r}")
            kw[k] = v
        kw["explicit_keys"] = frozenset(kw)
        return cls(**kw)

    @property
    def is_multiclass(self) -> bool:
        return self.objective.startswith("multi:")

    @property
    def expectile_alphas(self) -> tuple[float, ...]:
        """Effective expectile levels: ``expectile_alpha`` if set, else
        the legacy ``quantile_alpha`` borrow (scalar configs predating
        the dedicated param)."""
        a = (self.expectile_alpha if self.expectile_alpha is not None
             else self.quantile_alpha)
        return tuple(float(v) for v in (a if isinstance(a, (tuple, list))
                                        else (a,)))

    @property
    def n_groups(self) -> int:
        """Number of output groups (trees per boosting round per forest).
        Multi-alpha quantile regression trains one group per alpha
        (reference quantile_obj.cu:272 vector alpha); multi-alpha
        expectile likewise (regression_obj.cu:340 ExpectileRegression,
        group 0 = first expectile, groups >= 1 = SoftPlus gaps)."""
        if self.objective == "reg:quantileerror" and len(self.quantile_alpha) > 1:
            return len(self.quantile_alpha)
        if (self.objective == "reg:expectileerror"
                and len(self.expectile_alphas) > 1):
            return len(self.expectile_alphas)
        return self.num_class if self.is_multiclass and self.num_class > 1 else 1


# ---------------------------------------------------------------------------
# global configuration (reference python-package/xgboost/config.py:127-201
# set_config/get_config/config_context; backed by GlobalConfiguration in
# src/global_config.cc — here a plain process-local dict, since there is
# no C library to hold it)
# ---------------------------------------------------------------------------

_GLOBAL_CONFIG: dict = {"verbosity": 1, "use_rmm": False}


def set_config(**new_config) -> None:
    """Set global configuration.  Supported parameters mirror the
    reference: ``verbosity`` (0=silent, 1=warning, 2=info, 3=debug —
    gates the EvaluationMonitor callback's per-round printing) and
    ``use_rmm`` (accepted for API compatibility; no GPU allocator
    here).  Unknown keys raise, like the reference's C API does."""
    for k, v in new_config.items():
        if v is None:
            continue
        if k not in _GLOBAL_CONFIG:
            raise ValueError(f"unknown global configuration parameter: {k!r}")
        if k == "verbosity":
            v = int(v)
            if not 0 <= v <= 3:
                raise ValueError("verbosity must be in [0, 3]")
        _GLOBAL_CONFIG[k] = v


def get_config() -> dict:
    """Current values of the global configuration (a copy)."""
    return dict(_GLOBAL_CONFIG)


class config_context:
    """Context manager for global configuration; restores ALL previous
    settings on exit (reference config.py:180 semantics).  Not
    thread-safe, same as the reference."""

    def __init__(self, **new_config):
        self._new = new_config
        self._saved: dict | None = None

    def __enter__(self):
        self._saved = get_config()
        set_config(**self._new)
        return self

    def __exit__(self, *exc):
        assert self._saved is not None
        _GLOBAL_CONFIG.clear()
        _GLOBAL_CONFIG.update(self._saved)
        return False


def build_info() -> dict:
    """Build/runtime information (reference ``xgboost.build_info()``):
    engine version plus the versions of the execution substrate."""
    import pyarrow
    import pyspark
    info = {"version": "0.1.0", "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "engine": "pyspark-dataframe"}
    try:
        import numpy
        info["numpy"] = numpy.__version__
    except ImportError:  # pragma: no cover
        pass
    return info
