"""pyspark.ml Estimator/Transformer API.

Mirrors the reference's own Spark surface
(`python-package/xgboost/spark/estimator.py:80,249,437` —
SparkXGBRegressor / SparkXGBClassifier / SparkXGBRanker), param-for-param
where sensible, but the training underneath is the Spark-native boosting
driver (plans/booster.py) instead of barrier-mode native workers.

The tunable hyper-parameters are real ``pyspark.ml.param.Param``s, so the
estimators compose with ``ParamGridBuilder`` / ``CrossValidator`` /
``TrainValidationSplit`` exactly like the reference's wrapper does
(its test suite exercises CrossValidator at
`tests/test_distributed/test_with_spark/test_spark.py:752`).

Usage::

    est = SparkGBDTClassifier(label_col="label", features_col="embedding",
                              num_boost_round=20, max_depth=4)
    model = est.fit(train_df)
    scored = model.transform(test_df)        # adds prediction columns
    model.write().save("/tmp/m.json"); SparkGBDTClassifierModel.load(...)

    grid = (ParamGridBuilder()
            .addGrid(est.max_depth, [3, 5])
            .addGrid(est.eta, [0.1, 0.3]).build())
    cv = CrossValidator(estimator=est, estimatorParamMaps=grid,
                        evaluator=RegressionEvaluator(labelCol="label"))
"""

from __future__ import annotations

import os

from pyspark.ml.base import Estimator, Model
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import (DefaultParamsReader, DefaultParamsWriter,
                             MLReadable, MLReader, MLWritable, MLWriter)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xgboost_spark.config import TrainParams
from xgboost_spark.operators.util import sql_ident
from xgboost_spark.plans.booster import SparkBooster
from xgboost_spark.plans.model import GBDTModel


# -- pyspark.ml persistence (reference _SparkXGBEstimator/_SparkXGBModel
# are MLReadable/MLWritable, spark/core.py:569 — required for
# Pipeline / PipelineModel / CrossValidatorModel save round-trips) -----

class _EstimatorWriter(MLWriter):
    def __init__(self, instance):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path):
        inst = self.instance
        ctor = {"label_col": inst.label_col, "features_col": inst.features_col,
                "weight_col": inst.weight_col,
                "base_margin_col": inst.base_margin_col,
                "qid_col": inst.qid_col,
                "validation_indicator_col": inst.validation_indicator_col,
                "categorical_features": inst.categorical_features,
                # r14: pred_contrib_col/missing (added r13) and the
                # repartition surface must survive save/load too
                "pred_contrib_col": inst.pred_contrib_col,
                "missing": inst.missing,
                "num_workers": inst.num_workers,
                "force_repartition": inst.force_repartition,
                "repartition_random_shuffle": inst.repartition_random_shuffle,
                "feature_names": inst.feature_names,
                "extra_params": inst._extra_params}
        DefaultParamsWriter.saveMetadata(inst, path, self.sc,
                                         extraMetadata={"ctor": ctor})


class _EstimatorReader(MLReader):
    def __init__(self, cls):
        super().__init__()
        self._cls = cls

    def load(self, path):
        meta = DefaultParamsReader.loadMetadata(path, self.sc)
        ctor = dict(meta["ctor"])
        extra = ctor.pop("extra_params", None) or {}
        est = self._cls(**ctor, **extra)
        DefaultParamsReader.getAndSetParams(est, meta)
        return est


class _ModelWriter(MLWriter):
    def __init__(self, instance):
        super().__init__()
        self.instance = instance

    def saveImpl(self, path):
        m = self.instance
        DefaultParamsWriter.saveMetadata(
            m, path, self.sc,
            extraMetadata={"feature_kw": m._feature_kw,
                           "base_margin_col": m._base_margin_col,
                           "pred_contrib_col": m._pred_contrib_col})
        spark = SparkSession.getActiveSession()
        # model JSON is a single line; write through Spark so any
        # supported filesystem (local/HDFS/object store) works
        (spark.createDataFrame([(m.core.to_json(),)], "value string")
         .coalesce(1).write.mode("overwrite")
         .text(os.path.join(path, "model")))


class _ModelReader(MLReader):
    def __init__(self, cls):
        super().__init__()
        self._cls = cls

    def load(self, path):
        meta = DefaultParamsReader.loadMetadata(path, self.sc)
        spark = SparkSession.getActiveSession()
        rows = spark.read.text(os.path.join(path, "model")).collect()
        core = GBDTModel.from_json("".join(r["value"] for r in rows))
        return self._cls(core, meta.get("feature_kw") or {},
                         base_margin_col=meta.get("base_margin_col"),
                         pred_contrib_col=meta.get("pred_contrib_col"))

# (name, TypeConverter, doc) — names match TrainParams fields 1:1 so a
# grid entry maps straight into the training config
_TUNABLES = [
    ("objective", TypeConverters.toString, "learning objective name"),
    ("booster", TypeConverters.toString, "gbtree | dart | gblinear"),
    ("num_boost_round", TypeConverters.toInt, "boosting rounds"),
    ("eta", TypeConverters.toFloat, "learning rate"),
    ("max_depth", TypeConverters.toInt, "max tree depth"),
    ("max_leaves", TypeConverters.toInt, "max leaves (lossguide)"),
    ("grow_policy", TypeConverters.toString, "depthwise | lossguide"),
    ("min_child_weight", TypeConverters.toFloat, "min sum hessian per child"),
    ("reg_lambda", TypeConverters.toFloat, "L2 regularization"),
    ("reg_alpha", TypeConverters.toFloat, "L1 regularization"),
    ("gamma", TypeConverters.toFloat, "min split loss"),
    ("max_delta_step", TypeConverters.toFloat, "max delta step"),
    ("subsample", TypeConverters.toFloat, "row subsample rate"),
    ("colsample_bytree", TypeConverters.toFloat, "per-tree column sample"),
    ("colsample_bylevel", TypeConverters.toFloat, "per-level column sample"),
    ("colsample_bynode", TypeConverters.toFloat, "per-node column sample"),
    ("max_bin", TypeConverters.toInt, "histogram bins"),
    ("tree_method", TypeConverters.toString, "hist | approx"),
    ("num_class", TypeConverters.toInt, "number of classes (multi:*)"),
    ("num_parallel_tree", TypeConverters.toInt, "forest size per round"),
    ("seed", TypeConverters.toInt, "random seed"),
    ("scale_pos_weight", TypeConverters.toFloat, "positive-class weight"),
]
_TUNABLE_NAMES = {n for n, _, _ in _TUNABLES}


class _GBDTEstimator(Estimator, MLReadable, MLWritable):
    _default_objective = "reg:squarederror"
    _supports_qid = True        # subclasses opt OUT (reference: ranker-only)

    # class-level Param declarations (re-parented per instance by
    # Params.__init__/_copy_params — the standard pyspark.ml pattern)
    for _n, _conv, _doc in _TUNABLES:
        locals()[_n] = Param(Params._dummy(), _n, _doc, typeConverter=_conv)
    del _n, _conv, _doc

    def __init__(self, label_col: str = "label", features_col: str | list[str] = "features",
                 weight_col: str | None = None, base_margin_col: str | None = None,
                 qid_col: str | None = None, validation_indicator_col: str | None = None,
                 categorical_features: list | None = None,
                 pred_contrib_col: str | None = None,
                 missing: float | None = None,
                 num_workers: int | None = None,
                 force_repartition: bool = False,
                 repartition_random_shuffle: bool = False,
                 feature_names: list[str] | None = None,
                 **params):
        super().__init__()
        self.label_col = label_col
        self.features_col = features_col
        self.weight_col = weight_col
        self.base_margin_col = base_margin_col
        self.qid_col = qid_col
        if qid_col and not self._supports_qid:
            # reference estimator _validate_params overrides
            # (spark/estimator.py:226-231, :410-414): only the ranker
            # takes ranking groups; a silently-ignored qid would train
            # the wrong model
            raise ValueError(
                f"{type(self).__name__} does not support `qid_col` param.")
        self.validation_indicator_col = validation_indicator_col
        self.categorical_features = categorical_features
        self.pred_contrib_col = pred_contrib_col
        # reference spark param `missing` (spark/core.py:141): sentinel
        # treated as absent at fit AND at predict (the fitted value is
        # stored on the model, GBDTModel.missing)
        self.missing = missing
        # reference spark params (spark/core.py:119-139, :215-246):
        # num_workers = training parallelism (one barrier task each);
        # force_repartition / repartition_random_shuffle follow
        # _repartition_needed (core.py:806-830: repartition when forced
        # or partitions != num_workers; shuffle form repartitions on
        # rand(1) to break round-robin skew).  feature_names names the
        # features of an assembled array/vector column (core.py:247).
        # Explicit non-goals (COVERAGE.md §2.7b): enable_sparse_data_optim
        # (engine kernels are Arrow-dense; VectorUDT input is supported
        # directly), device/use_gpu (GPU paths out of scope),
        # launch_tracker_on_driver / coll_cfg (no tracker — barrier
        # rendezvous), arbitrary_params_dict (the **params pass-through
        # IS that surface).
        if num_workers is not None and int(num_workers) < 1:
            raise ValueError(f"num_workers must be >= 1, got {num_workers}")
        self.num_workers = int(num_workers) if num_workers is not None else None
        self.force_repartition = bool(force_repartition)
        self.repartition_random_shuffle = bool(repartition_random_shuffle)
        self.feature_names = list(feature_names) if feature_names else None
        # defaults come from TrainParams so the two surfaces can't drift
        base = TrainParams(objective=self._default_objective)
        self._setDefault(**{n: getattr(base, n) for n in _TUNABLE_NAMES})
        declared, extra = {}, {}
        for k, v in params.items():
            k = TrainParams.ALIASES.get(k, k)
            (declared if k in _TUNABLE_NAMES else extra)[k] = v
        self._set(**declared)
        self._extra_params = extra        # non-tunable knobs pass through
        TrainParams.from_dict({**extra, **declared})  # validate eagerly

    @property
    def train_params(self) -> TrainParams:
        """Materialize the effective TrainParams (declared Params merged
        over the pass-through dict)."""
        d = dict(self._extra_params)
        for n in _TUNABLE_NAMES:
            d[n] = self.getOrDefault(getattr(self, n))
        return TrainParams.from_dict(d)

    def _feature_kw(self, df: DataFrame) -> dict:
        if isinstance(self.features_col, str):
            dtype = dict(df.dtypes).get(self.features_col, "")
            if dtype.startswith("array") or dtype == "vector":
                return {"array_col": self.features_col}
            return {"feature_cols": [self.features_col]}
        return {"feature_cols": list(self.features_col)}

    def _fit(self, dataset: DataFrame):
        p = self.train_params
        if p.early_stopping_rounds and not self.validation_indicator_col:
            # reference _validate_params (spark/core.py:1016-1021)
            raise ValueError(
                "If 'early_stopping_rounds' param is set, you need to set "
                "'validation_indicator_col' param as well.")
        evals = None
        train_df = dataset
        if self.validation_indicator_col:
            is_val = sql_ident(self.validation_indicator_col)
            train_df = dataset.filter(f"NOT {is_val}")
            evals = [(dataset.filter(is_val), "validation")]
        if self.num_workers is not None:
            # reference _repartition_needed (spark/core.py:806-821):
            # repartition when forced or partitions != num_workers; the
            # shuffle form uses rand(1) to break round-robin skew
            # (core.py:825-830)
            if (self.force_repartition
                    or train_df.rdd.getNumPartitions() != self.num_workers):
                train_df = (train_df.repartition(self.num_workers, F.rand(1))
                            if self.repartition_random_shuffle
                            else train_df.repartition(self.num_workers))
        booster = SparkBooster(p)
        core_model = booster.fit(
            train_df, label_col=self.label_col, weight_col=self.weight_col,
            base_margin_col=self.base_margin_col, qid_col=self.qid_col,
            categorical_features=self.categorical_features,
            missing=self.missing, num_partitions=self.num_workers,
            evals=evals, **self._feature_kw(train_df),
        )
        if self.feature_names:
            if "array_col" not in self._feature_kw(train_df):
                # with multi-column input the columns ARE the names;
                # renaming the model would break its own transform
                # (validate_features would see a name-set mismatch).
                # The reference scopes this param to assembled
                # array/vector features too (spark/core.py:247).
                raise ValueError(
                    "feature_names applies to a single assembled "
                    "array/vector features_col; multi-column input "
                    "already carries its column names")
            if len(self.feature_names) != len(core_model.feature_names):
                raise ValueError(
                    f"feature_names has {len(self.feature_names)} entries "
                    f"for {len(core_model.feature_names)} features")
            core_model.feature_names = list(self.feature_names)
        # like the reference wrapper, a configured base_margin_col also
        # applies at predict when the scoring frame carries the column
        return self._model_cls(core_model, self._feature_kw(train_df),
                               base_margin_col=self.base_margin_col,
                               pred_contrib_col=self.pred_contrib_col)

    @property
    def _model_cls(self):
        return _GBDTModel

    def write(self) -> MLWriter:
        return _EstimatorWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _EstimatorReader(cls)


class _GBDTModel(Model, MLReadable, MLWritable):
    def __init__(self, core_model: GBDTModel | None = None, feature_kw: dict | None = None,
                 base_margin_col: str | None = None,
                 pred_contrib_col: str | None = None):
        super().__init__()
        self.core = core_model
        self._feature_kw = feature_kw or {}
        self._base_margin_col = base_margin_col
        # reference spark param pred_contrib_col (spark/core.py:136):
        # when set, transform also emits the feature-contribution
        # vector under this name
        self._pred_contrib_col = pred_contrib_col

    def _predict_kw(self, dataset: DataFrame) -> dict:
        kw = dict(self._feature_kw)
        if self._base_margin_col and self._base_margin_col in dataset.columns:
            kw["base_margin_col"] = self._base_margin_col
        return kw

    def _transform(self, dataset: DataFrame) -> DataFrame:
        out = self.core.transform(dataset, **self._predict_kw(dataset),
                                  pred_contribs=bool(self._pred_contrib_col))
        if self._pred_contrib_col:
            out = out.withColumnRenamed("contribs", self._pred_contrib_col)
        return out

    def transform(self, dataset: DataFrame, params=None, **kw) -> DataFrame:
        if kw:
            if "iteration_range" in kw:
                # wrapper-level iteration_range rule (reference
                # sklearn.py:1450-1461 _get_iteration_range, which the
                # pyspark wrapper rides through XGBModel.predict):
                # None or end==0 -> (0, best_iteration+1) when early
                # stopping set a best_iteration, else ALL rounds —
                # unlike the raw Booster surface, where end==0 is
                # LayerToTree "begin through last round"
                ir = kw["iteration_range"]
                if ir is None or ir[1] == 0:
                    bi = getattr(self.core, "best_iteration", None)
                    ir = (0, bi + 1) if bi is not None else None
                if ir is None:
                    kw.pop("iteration_range")
                else:
                    kw["iteration_range"] = ir
            if set(kw) <= {"iteration_range"}:
                # iteration_range ALONE keeps the wrapper's documented
                # output schema (the reference applies it inside the
                # same predict path that builds the classifier columns)
                # by serving the subclass _transform on a sliced core
                if not kw:
                    return self._transform(dataset)
                sliced = type(self)(self.core.slice(*kw["iteration_range"]),
                                    self._feature_kw,
                                    base_margin_col=self._base_margin_col,
                                    pred_contrib_col=self._pred_contrib_col)
                return sliced._transform(dataset)
            # other engine-level kwargs (pred_leaf, output_margin, ...)
            # are the documented power-user pass-through to the core
            return self.core.transform(dataset, **self._predict_kw(dataset), **kw)
        return super().transform(dataset, params)

    def write(self) -> MLWriter:
        return _ModelWriter(self)

    @classmethod
    def read(cls) -> MLReader:
        return _ModelReader(cls)

    # single-file persistence kept alongside the MLWriter surface
    # (reference `_SparkXGBModel` MLReadable/MLWritable, spark/core.py:569;
    # Pipeline/CrossValidator save goes through write()/read() above)
    def save(self, path: str):
        import json
        doc = json.loads(self.core.to_json())
        doc["xgboost_spark"]["feature_kw"] = self._feature_kw
        doc["xgboost_spark"]["base_margin_col"] = self._base_margin_col
        doc["xgboost_spark"]["pred_contrib_col"] = self._pred_contrib_col
        with open(path, "w") as f:
            json.dump(doc, f)

    @classmethod
    def load(cls, path: str) -> "_GBDTModel":
        import json
        if os.path.isdir(path):
            # MLWriter layout (Pipeline/CrossValidator stage dirs)
            return cls.read().load(path)
        with open(path) as f:
            doc = json.load(f)
        ext = doc.get("xgboost_spark", {})
        core_model = GBDTModel.from_json(json.dumps(doc))
        return cls(core_model, ext.get("feature_kw", {}),
                   base_margin_col=ext.get("base_margin_col"),
                   pred_contrib_col=ext.get("pred_contrib_col"))

    def get_feature_importances(self, importance_type: str = "weight"):
        return self.core.feature_importance(importance_type)

    def apply(self, dataset: DataFrame,
              iteration_range: tuple[int, int] | None = None) -> DataFrame:
        """Reference sklearn-wrapper ``apply`` (sklearn.py:1540-1575):
        the predicted leaf index per tree for each row (a `leaf`
        array column), with the wrapper's best_iteration rule applied
        to ``iteration_range`` exactly like predict."""
        return self.transform(dataset, pred_leaf=True,
                              iteration_range=iteration_range)

    def evals_result(self) -> dict:
        """Reference ``evals_result()`` (sklearn.py:1577-1600): the
        fit-time watchlist history {data: {metric: [values]}}."""
        return self.core.eval_history

    @property
    def best_iteration(self):
        return self.core.best_iteration


class SparkGBDTRegressor(_GBDTEstimator):
    """Analog of SparkXGBRegressor (`spark/estimator.py:80`)."""
    _default_objective = "reg:squarederror"
    _supports_qid = False

    @property
    def _model_cls(self):
        return SparkGBDTRegressorModel


class SparkGBDTClassifier(_GBDTEstimator):
    """Analog of SparkXGBClassifier (`spark/estimator.py:249`).
    Binary by default; multiclass labels auto-select multi:softprob
    like the reference (whose classifier forbids the objective param
    and infers from label cardinality — spark/estimator.py:417-419 +
    sklearn fit; here an explicit objective= is still honored, a
    deliberate superset).  transform() emits the reference schema
    (rawPrediction / probability / prediction); `transform_with_label`
    adds the thresholded class for binary back-compat.
    """
    _default_objective = "binary:logistic"
    _supports_qid = False

    def _label_max(self, dataset: DataFrame):
        return dataset.selectExpr(
            f"max({sql_ident(self.label_col)})").first()[0]

    def _fit(self, dataset: DataFrame):
        p = self.train_params
        explicit_obj = (self.isSet(getattr(self, "objective"))
                        or "objective" in self._extra_params)
        inferred: list[str] = []
        if not explicit_obj and not p.objective.startswith("multi:"):
            # single-column max: Catalyst prunes the scan to the label
            # column (the reference classifier pays the same pass —
            # np.unique(y) in sklearn fit)
            k = self._label_max(dataset)
            if k is not None and int(k) > 1:
                self._set(objective="multi:softprob",
                          num_class=int(k) + 1)
                inferred += ["objective", "num_class"]
                p = self.train_params
        if p.objective.startswith("multi:") and p.num_class <= 1:
            k = self._label_max(dataset)
            self._set(num_class=int(k) + 1)
            inferred.append("num_class")
        try:
            return super()._fit(dataset)
        finally:
            # inference is PER FIT: a leaked auto objective/num_class
            # would silently misconfigure a later fit on different data
            for name in inferred:
                self.clear(getattr(self, name))

    @property
    def _model_cls(self):
        return SparkGBDTClassifierModel


class SparkGBDTClassifierModel(_GBDTModel):
    def _transform(self, dataset: DataFrame) -> DataFrame:
        """Reference classifier output schema (spark/core.py:1475-1478
        `_out_schema` + :1492-1528 `transform_margin`/`_predict` +
        :1530-1560 `_post_transform`): `rawPrediction` (margin vector;
        binary emits [-margin, margin]), `probability` (class-prob
        vector; binary [1-p, p], multiclass softmax over margins) and
        `prediction` (DOUBLE hard label = argmax of class probs, first
        max on ties like np.argmax) — MLlib vectors via array_to_vector,
        so BinaryClassificationEvaluator / MulticlassClassificationEvaluator
        work in a Pipeline unchanged.  All post-processing is pure
        Catalyst column algebra on the margin column (no extra UDF)."""
        from pyspark.ml.functions import array_to_vector
        out = self.core.transform(dataset, **self._predict_kw(dataset),
                                  output_margin=True,
                                  pred_contribs=bool(self._pred_contrib_col))
        if self._pred_contrib_col:
            out = out.withColumnRenamed("contribs", self._pred_contrib_col)
        if self.core.params.n_groups > 1:
            # multinomial: raw = margins, probs = softmax (max-shifted)
            out = out.withColumn("_exp", F.expr(
                "transform(margin, x -> exp(x - array_max(margin)))"))
            probs = ("transform(_exp, x -> x / "
                     "aggregate(_exp, 0.0D, (acc, y) -> acc + y))")
            raw = "margin"
        else:
            # binomial (transform_margin, spark/core.py:1492-1500):
            # raw = [-margin, margin], probs = [1-sigmoid, sigmoid]
            # (the engine's margin column is a length-1 array for K=1)
            m1 = "element_at(margin, 1)"
            p1 = f"1.0D / (1.0D + exp(-{m1}))"
            raw = f"array(-{m1}, {m1})"
            probs = f"array(1.0D - {p1}, {p1})"
        return (out.withColumns({
                    "_probs": F.expr(probs),
                    "rawPrediction": array_to_vector(F.expr(raw))})
                .withColumns({
                    "prediction": F.expr(
                        "cast(array_position(_probs, array_max(_probs)) - 1"
                        " as double)"),
                    "probability": array_to_vector(F.col("_probs"))})
                .drop("_probs", "_exp", "margin"))

    def transform_with_label(self, dataset: DataFrame, threshold: float = 0.5) -> DataFrame:
        from pyspark.ml.functions import vector_to_array
        scored = self.transform(dataset)
        if self.core.params.n_groups > 1:
            return scored.withColumn(
                "predicted_label", F.col("prediction").cast("int"))
        return scored.withColumn(
            "predicted_label",
            (vector_to_array(F.col("probability")).getItem(1)
             > threshold).cast("int"))


class SparkGBDTRegressorModel(_GBDTModel):
    pass


class SparkGBDTRanker(_GBDTEstimator):
    """Analog of SparkXGBRanker (`spark/estimator.py:437`); requires qid_col."""
    _default_objective = "rank:ndcg"

    def _fit(self, dataset: DataFrame):
        if not self.qid_col:
            raise ValueError("SparkGBDTRanker requires qid_col")
        return super()._fit(dataset)

    @property
    def _model_cls(self):
        return SparkGBDTRankerModel


class SparkGBDTRankerModel(_GBDTModel):
    pass

class _RFDefaults:
    """Random-forest parameterization (reference sklearn.py XGBRFRegressor /
    XGBRFClassifier): ONE boosting round of ``n_estimators`` bagged trees
    (num_parallel_tree), learning rate 1, row/column subsampling on, tiny
    L2 — so the ensemble is a random forest, not a boosted chain."""

    def __init__(self, *args, n_estimators: int = 100, **kw):
        merged = dict(eta=1.0, subsample=0.8, colsample_bynode=0.8,
                      reg_lambda=1e-5)
        merged.update({TrainParams.ALIASES.get(k, k): v for k, v in kw.items()})
        merged["num_parallel_tree"] = int(n_estimators)
        if merged.setdefault("num_boost_round", 1) != 1:
            # reference XGBRFModel._get_num_boosting_rounds raises too
            raise ValueError("random forest runs exactly one boosting round; "
                             "set n_estimators for forest size")
        if merged["eta"] != 1.0:
            raise ValueError("random forest requires learning_rate=1")
        super().__init__(*args, **merged)


class SparkGBDTRFRegressor(_RFDefaults, SparkGBDTRegressor):
    """Analog of XGBRFRegressor (reference sklearn.py:2018-2084)."""


class SparkGBDTRFClassifier(_RFDefaults, SparkGBDTClassifier):
    """Analog of XGBRFClassifier (reference sklearn.py:1937-2015)."""
