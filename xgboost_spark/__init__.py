"""xgboost_spark — a PySpark-native gradient-boosted-tree analytics engine.

Re-expresses the capabilities of dmlc/xgboost (reference snapshot at
/root/reference, Apache-2) on top of the public Apache Spark DataFrame /
SQL / pandas-UDF APIs.  Nothing here is a port of the reference's C++
execution engine: the logical computations (quantile sketch, quantized
histograms, split enumeration, boosting, objectives, metrics, prediction)
are re-derived as Spark queries so that Catalyst/Tungsten pick the
physical execution strategy.

Layout
------
- ``operators/`` : the engine's building-block DataFrame operators
  (sketch, binning, gradient histograms, split search, dedup,
  similarity search, text analysis, multimodal plumbing).
- ``functions/`` : objective (gradient) and metric function libraries,
  available both as NumPy kernels (used inside Arrow-batched UDFs) and
  as Spark column expressions where exactly expressible.
- ``plans/``     : driver-side orchestration — the boosting loop,
  prediction, the ``pyspark.ml`` Estimator/Model API, model artifacts.
- ``sources/``   : dataset loading & feature-matrix assembly conventions.
- ``streaming/`` : Structured Streaming scoring & stateful aggregation.
- ``local/``     : a single-node vectorized NumPy booster used as the
  correctness oracle in tests and as the performance baseline proxy.
"""

__version__ = "0.1.0"

from xgboost_spark import _zipcache
from xgboost_spark.config import TrainParams  # noqa: F401

# skip PySpark workers' per-task zip directory re-reads; see _zipcache
_zipcache.install()


def __getattr__(name):
    # lazy top-level API (mirrors `import xgboost; xgboost.train/...`)
    # without importing pyspark at package-import time
    lazy = {
        "train": ("xgboost_spark.plans.booster", "train"),
        "cv": ("xgboost_spark.plans.cv", "cv"),
        "SparkBooster": ("xgboost_spark.plans.booster", "SparkBooster"),
        "GBDTModel": ("xgboost_spark.plans.model", "GBDTModel"),
        "SparkGBDTRegressor": ("xgboost_spark.plans.estimator", "SparkGBDTRegressor"),
        "SparkGBDTClassifier": ("xgboost_spark.plans.estimator", "SparkGBDTClassifier"),
        "SparkGBDTRanker": ("xgboost_spark.plans.estimator", "SparkGBDTRanker"),
        "SparkGBDTRFRegressor": ("xgboost_spark.plans.estimator", "SparkGBDTRFRegressor"),
        "SparkGBDTRFClassifier": ("xgboost_spark.plans.estimator", "SparkGBDTRFClassifier"),
        "get_session": ("xgboost_spark.session", "get_session"),
        # global configuration + build info (reference config.py / build_info)
        "set_config": ("xgboost_spark.config", "set_config"),
        "get_config": ("xgboost_spark.config", "get_config"),
        "config_context": ("xgboost_spark.config", "config_context"),
        "build_info": ("xgboost_spark.config", "build_info"),
        # plotting (reference plotting.py; matplotlib/graphviz optional)
        "plot_importance": ("xgboost_spark.plotting", "plot_importance"),
        "plot_tree": ("xgboost_spark.plotting", "plot_tree"),
        "to_graphviz": ("xgboost_spark.plotting", "to_graphviz"),
    }
    if name in lazy:
        import importlib
        mod, attr = lazy[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'xgboost_spark' has no attribute {name!r}")
