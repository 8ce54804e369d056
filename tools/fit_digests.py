"""Byte-identity matrix of fitted models: the zero-drift check for
changes that must leave every model bit where it was.

    python tools/fit_digests.py [--cpus 4] [--only SUBSTRING]

Run it from the root of the checkout under test (Spark's Python workers
import ``xgboost_spark`` from the working directory of the process that
starts Spark), once on each side of a change, and diff the two outputs.  Prints one line per
fit::

    path case model=<12 hex> eval=<12 hex> best=<best_iteration>

``model`` is the start of ``sha256(save_raw())``, ``eval`` that of
``sha256(repr(eval_history))``.  A fit that raises prints
``error=<exception type>`` instead, so the diff shows it.

The matrix, every fit with one eval set on small seeded data:

- both trainers (``barrier``, ``dataframe``): hist, DART, DART with
  weighted dropout and forest normalization, approx, ``multi:softprob``
  K=3, DART softprob, ``num_parallel_tree=3`` with subsample, MAE, DART
  MAE, logistic with ``auc`` + ``logloss`` and early stopping, approx +
  DART, approx K=3, approx MAE;
- barrier only (the DataFrame trainer refuses it): multi_output_tree
  K=3;
- continuation (``xgb_model=``) of the hist and of the DART model on
  both trainers, and `refresh_leaves` of each (path ``refresh``).

About 2 minutes on 4 vCPU.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

FCOLS = [f"c{i}" for i in range(5)]
BASE = dict(num_boost_round=5, max_depth=3, max_bin=32, eta=0.4, seed=3)
DART = dict(booster="dart", rate_drop=0.3, one_drop=True)
SOFTPROB = dict(objective="multi:softprob", num_class=3)
MAE = dict(objective="reg:absoluteerror")

# (case, data, params); data: "reg" | "bin" | "multi"
BOTH = [
    ("hist", "reg", {}),
    ("dart", "reg", DART),
    ("dart_weighted_forest", "reg", {**DART, "sample_type": "weighted",
                                     "normalize_type": "forest"}),
    ("approx", "reg", {"tree_method": "approx", "max_bin": 16}),
    ("softprob", "multi", SOFTPROB),
    ("dart_softprob", "multi", {**DART, **SOFTPROB}),
    ("forest_subsample", "reg", {"num_parallel_tree": 3, "subsample": 0.8}),
    ("mae", "reg", MAE),
    ("dart_mae", "reg", {**DART, **MAE}),
    ("logistic_auc", "bin", {"objective": "binary:logistic",
                             "eval_metric": ["auc", "logloss"],
                             "early_stopping_rounds": 2}),
    ("approx_dart", "reg", {"tree_method": "approx", "max_bin": 16, **DART}),
    ("approx_softprob", "multi", {"tree_method": "approx", "max_bin": 16,
                                  **SOFTPROB}),
    ("approx_mae", "reg", {"tree_method": "approx", "max_bin": 16, **MAE}),
]
BARRIER_ONLY = [
    ("multi_output_tree", "multi", {**SOFTPROB,
                                    "multi_strategy": "multi_output_tree"}),
]


def make_data(spark, kind: str, n: int, seed: int):
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, (n, len(FCOLS)))
    X[rng.random(X.shape) < 0.03] = np.nan        # missing-value routing
    x0, x1 = np.nan_to_num(X[:, 0]), np.nan_to_num(X[:, 1])
    if kind == "reg":
        y = np.sin(2 * x0) + 0.5 * x1 + rng.normal(0, 0.2, n)
    elif kind == "bin":
        y = (x0 + 0.5 * x1 + rng.normal(0, 0.5, n) > 0).astype(float)
    else:
        y = ((x0 > 0).astype(float) + (x1 > 0.5)).astype(float)
    pdf = pd.DataFrame(X, columns=FCOLS)
    pdf["label"] = y
    return spark.createDataFrame(pdf).repartition(4).cache()


def digest(path: str, case: str, fit):
    """``(line, model)``; model is None when the fit raised."""
    try:
        m = fit()
    except Exception as e:                       # noqa: BLE001
        return f"{path} {case} error={type(e).__name__}", None
    model = hashlib.sha256(bytes(m.save_raw())).hexdigest()[:12]
    ev = hashlib.sha256(repr(m.eval_history).encode()).hexdigest()[:12]
    return f"{path} {case} model={model} eval={ev} best={m.best_iteration}", m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--only", default=None,
                    help="run only the cases whose name contains this "
                         "(continuation and refresh need their base case)")
    args = ap.parse_args(argv)

    from xgboost_spark.config import TrainParams
    from xgboost_spark.plans.booster import SparkBooster, refresh_leaves
    from xgboost_spark.session import get_session

    spark = get_session("fit_digests", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    data = {kind: (make_data(spark, kind, 2000, 11 + i),
                   make_data(spark, kind, 600, 21 + i))
            for i, kind in enumerate(("reg", "bin", "multi"))}

    def fit(path, kind, params, xgb_model=None):
        train, valid = data[kind]
        p = TrainParams(exec_mode=path, **{**BASE, **params})
        return SparkBooster(p).fit(train, feature_cols=FCOLS,
                                   label_col="label",
                                   evals=[(valid, "valid")],
                                   xgb_model=xgb_model)

    def run(path, case, thunk):
        if args.only is not None and args.only not in case:
            return None
        line, m = digest(path, case, thunk)
        print(line, flush=True)
        return m

    base = {}
    for path in ("barrier", "dataframe"):
        for case, kind, params in BOTH:
            base[(path, case)] = run(path, case,
                                     lambda: fit(path, kind, params))
    for case, kind, params in BARRIER_ONLY:
        run("barrier", case, lambda: fit("barrier", kind, params))
    for case, params in (("hist", {}), ("dart", DART)):
        for path in ("barrier", "dataframe"):
            prev = base.get((path, case))
            if prev is not None:
                run(path, f"continue_{case}",
                    lambda: fit(path, "reg", params, prev))
        prev = base.get(("barrier", case))
        if prev is not None:
            run("refresh", case, lambda: refresh_leaves(
                prev, data["reg"][1], feature_cols=FCOLS, label_col="label"))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
