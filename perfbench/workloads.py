"""The benchmark's workloads and the calls that drive the engine.

The engine is reached only through its public API: ``get_session``,
``SparkBooster.fit``, ``SparkGBDTClassifier``, the models' ``save`` and
``load``, and ``transform``.  Every timed call goes through
:class:`Recorder`, which counts it as attempted, times it, charges it
the CPU seconds of the whole process tree and, in a traced session,
runs it under its own Spark job group so the event log can be split
per call.
"""

from __future__ import annotations

import contextlib
import dataclasses
import hashlib
import json
import math
import os
import shutil
import time
from dataclasses import dataclass

import datagen
import procstat

#: SHAP local accuracy: sum(contribs) equals the margin to this
#: tolerance (relative to max(1, |margin|))
SHAP_TOL = 1e-6
#: validation AUC floor of the classifier workload (measured 0.88-0.89
#: at 1 round, depth 2)
AUC_FLOOR = 0.85
#: the scored regression model must beat the constant predictor by this
#: factor in RMSE (measured ~0.4 of the label's std)
RMSE_RATIO_CEIL = 0.75
#: hard-label accuracy floor on the classifier's scoring set
ACCURACY_FLOOR = 0.75


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    kind: str                # "regression" | "classifier"
    train_rows: int
    rounds: int
    depth: int
    predict_rows: int
    contrib_rows: int
    n_features: int = 16
    max_bin: int = 256
    n_files: int = 8
    row_group_rows: int = 8192


WORKLOADS = {w.name: w for w in (
    Workload(
        "train_regression",
        "hist fit on the one-job barrier path (sketch, rendezvous, "
        "allreduce, tree growth), then batch transform and pred_contribs",
        "regression", train_rows=160_000, rounds=20, depth=6,
        predict_rows=200_000, contrib_rows=1_000),
    Workload(
        "train_classifier_auc",
        "classifier with validation AUC and early stopping: AUC needs a "
        "global sort, so the fit takes the per-level DataFrame path",
        "classifier", train_rows=20_000, rounds=1, depth=2,
        predict_rows=50_000, contrib_rows=1_000),
)}


class CheckFailed(Exception):
    """An output check failed; the call counts as failed."""


def scaled(w: Workload, scale: float) -> Workload:
    """``w`` with every row count multiplied by ``scale`` (smoke tests)."""
    n = lambda rows: max(256, int(rows * scale))
    return dataclasses.replace(
        w, train_rows=n(w.train_rows), predict_rows=n(w.predict_rows),
        contrib_rows=n(w.contrib_rows),
        row_group_rows=max(64, int(w.row_group_rows * scale)))


def model_digest(model) -> str:
    core = getattr(model, "core", model)     # pyspark.ml wrapper or GBDTModel
    return hashlib.sha256(bytes(core.save_raw())).hexdigest()


@dataclass
class Call:
    kind: str
    index: int
    group: str
    start_s: float           # since the Recorder was made
    wall_s: float
    cpu_s: float
    ok: bool
    traced: bool
    foreign_cpus: float      # CPUs that other processes took meanwhile


class Recorder:
    """Times calls; owns the attempted/failed counts and the spans."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.calls: list[Call] = []
        self.spark = None          # set to the session while traced
        self.t0 = time.perf_counter()

    def call(self, kind: str, index: int, fn):
        """Run ``fn()``; returns its result, or ``None`` if it raised or
        failed a check."""
        group = f"{kind}:{index}"
        if self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, kind)
        self.attempted += 1
        busy0 = procstat.system_busy_s()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            out = fn()
        except Exception as e:   # one failed call must not end the run
            ok = False
            self.failed += 1
            self.errors.append(f"{group}: {type(e).__name__}: {e}"[:500])
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        busy = procstat.system_busy_s() - busy0
        foreign = procstat.foreign_cpus(busy, cpu, wall)
        self.calls.append(Call(kind, index, group, t0 - self.t0, wall, cpu,
                               ok, self.spark is not None, foreign))
        return out

    def ok_calls(self, kind: str, traced: bool = False) -> list[Call]:
        return [c for c in self.calls
                if c.kind == kind and c.ok and c.traced == traced]


class Bench:
    """One workload's inputs, session and calls."""

    def __init__(self, w: Workload, seed: int, work_dir: str, cpus: int):
        self.w = w
        self.seed = seed
        self.work = work_dir
        self.cpus = cpus
        self.fc = datagen.feature_names(w.n_features)
        self.spark = None
        self.rec = Recorder()
        self.digests: list[str] = []
        self.loaded_digests: list[str] = []
        self.pred_sums: list[float] = []
        self.notes: dict = {}
        # traced sessions: where rank 0 of a barrier fit writes its
        # in-task profile, and what each traced fit reported
        self.prof_path: str | None = None
        self.fit_reports: list[dict] = []
        # untraced runs: the RSS sampler, and its peak per iteration
        self.rss: procstat.PeakRss | None = None
        self.iteration_peaks: list[int] = []

    # ---------------------------------------------------------- set-up
    def _path(self, name: str) -> str:
        return os.path.join(self.work, "data", name)

    def start_session(self):
        from xgboost_spark.session import get_session
        self.spark = get_session(f"perfbench-{self.w.name}", cpus=self.cpus)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def generate(self) -> None:
        shutil.rmtree(os.path.join(self.work, "data"), ignore_errors=True)
        for stream, (name, rows) in enumerate((
                ("train", self.w.train_rows), ("predict", self.w.predict_rows),
                ("contrib", self.w.contrib_rows))):
            t = datagen.make_table(self.w.kind, rows, self.w.n_features,
                                   self.seed, stream)
            datagen.write_parquet(t, self._path(name), self.w.n_files,
                                  self.w.row_group_rows)

    def load(self) -> None:
        read = self.spark.read.parquet
        self.train_df = read(self._path("train"))
        self.predict_df = read(self._path("predict"))
        self.contrib_df = read(self._path("contrib"))

    def warm_up(self) -> None:
        """The workload's fit for one round on the small contrib set,
        then the timed scoring queries at full size: starts the Python
        workers and compiles the plans, so no timed call is the first of
        its kind.  A cold fit is slow mostly from compiling, whatever its
        input, so the small one costs far less than the full fit (a cold
        full fit took 19 s on 4 loaded CPUs).  The first timed iteration
        still runs up to 20-50% slower than the next, but alike from run
        to run."""
        m = self._fit(self.contrib_df, rounds=1)
        self._predict_row(m)
        self._contrib_rows(m)

    def setup(self) -> float:
        """One full set-up: a fresh session, the inputs generated and
        loaded, and the warm-up.  Returns its wall time."""
        t0 = time.perf_counter()
        self.stop_session()
        self.start_session()
        self.generate()
        self.load()
        self.warm_up()
        return time.perf_counter() - t0

    # ----------------------------------------------------------- calls
    def _fit(self, df, rounds: int, num_partitions: int | None = None):
        """The workload's fit call: ``SparkBooster.fit`` for regression,
        the ``pyspark.ml`` estimator for the classifier."""
        from xgboost_spark.config import TrainParams
        from xgboost_spark.plans.booster import SparkBooster
        from xgboost_spark.plans.estimator import SparkGBDTClassifier
        w = self.w
        if w.kind == "classifier":
            # eval_metric as a list: the string form is split into
            # characters by the estimator (see NOTES.md)
            return SparkGBDTClassifier(
                label_col="label", features_col=self.fc,
                validation_indicator_col="is_val", eval_metric=["auc"],
                early_stopping_rounds=1, num_boost_round=rounds,
                max_depth=w.depth, max_bin=w.max_bin).fit(df)
        return SparkBooster(TrainParams(
            num_boost_round=rounds, max_depth=w.depth, max_bin=w.max_bin)).fit(
            df, feature_cols=self.fc, label_col="label",
            num_partitions=num_partitions)

    def _transform(self, model, df, **kw):
        if self.w.kind != "classifier":         # GBDTModel takes the columns
            kw["feature_cols"] = self.fc
        return model.transform(df, **kw)

    def _fit_once(self):
        model = self._fit(self.train_df, self.w.rounds)
        if self.w.kind == "classifier":
            auc = model.evals_result()["validation"]["auc"]
            self.notes["validation_auc"] = auc
            self.notes["best_iteration"] = model.best_iteration
            if not max(auc) >= AUC_FLOOR:
                raise CheckFailed(f"validation AUC {max(auc)} < {AUC_FLOOR}")
        digest = model_digest(model)
        self.digests.append(digest)
        if digest != self.digests[0]:
            raise CheckFailed(f"model digest {digest} != {self.digests[0]}")
        return model

    def fit(self, index: int):
        if self.prof_path is None:
            return self.rec.call("fit", index, self._fit_once)
        with contextlib.suppress(FileNotFoundError):
            os.remove(self.prof_path)
        model = self.rec.call("fit", index, self._fit_once)
        if model is not None:
            self.fit_reports.append({"stages": self._read_fit_stage_times(),
                                     "prof": self._read_prof()})
        return model

    def _read_prof(self) -> dict | None:
        try:
            with open(self.prof_path) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def fit_single_rank(self, index: int):
        """The regression fit on one barrier rank (scaling baseline)."""
        return self.rec.call("fit_single_rank", index, lambda: self._fit(
            self.train_df, self.w.rounds, num_partitions=1))

    def _predict_row(self, model):
        """Plain ``transform`` over the predict set, and an aggregate of
        it: row count, prediction sum, and accuracy (classifier) or RMSE
        and the label's std (regression)."""
        quality = (("avg(CAST(prediction = label AS DOUBLE)) AS acc",)
                   if self.w.kind == "classifier" else
                   ("sqrt(avg(pow(prediction - label, 2))) AS rmse",
                    "stddev_pop(label) AS sd"))
        return self._transform(model, self.predict_df).selectExpr(
            "count(*) AS n", "sum(prediction) AS s", *quality).first()

    def _contrib_rows(self, model) -> list:
        return self._transform(model, self.contrib_df, pred_contribs=True,
                               output_margin=True) \
            .select("contribs", "margin").collect()

    def _predict_once(self, model) -> None:
        row = self._predict_row(model)
        if self.w.kind == "classifier":
            if not row["acc"] >= ACCURACY_FLOOR:
                raise CheckFailed(f"accuracy {row['acc']} < {ACCURACY_FLOOR}")
        else:
            if not row["rmse"] <= RMSE_RATIO_CEIL * row["sd"]:
                raise CheckFailed(f"rmse {row['rmse']} > "
                                  f"{RMSE_RATIO_CEIL} x sd {row['sd']}")
        if row["n"] != self.w.predict_rows or not math.isfinite(row["s"]):
            raise CheckFailed(f"scored {row['n']} rows, sum {row['s']}")
        self.pred_sums.append(row["s"])
        # the same model scores the same rows on every pass; only the
        # order Spark adds the partial sums in may differ
        ref = self.pred_sums[0]
        if abs(row["s"] - ref) > 1e-9 * max(1.0, abs(ref)):
            raise CheckFailed(f"prediction sum {row['s']} != {ref}")

    def _contribs_once(self, model) -> None:
        rows = self._contrib_rows(model)
        if len(rows) != self.w.contrib_rows:
            raise CheckFailed(f"{len(rows)} contrib rows, "
                              f"expected {self.w.contrib_rows}")
        worst = 0.0
        for r in rows:
            m = r["margin"][0]
            worst = max(worst, abs(math.fsum(r["contribs"]) - m)
                        / max(1.0, abs(m)))
        self.notes["shap_max_rel_err"] = max(
            worst, self.notes.get("shap_max_rel_err", 0.0))
        if worst > SHAP_TOL:
            raise CheckFailed(f"SHAP local accuracy off by {worst}")

    def score(self, model, index: int) -> None:
        """One scoring pass: plain transform plus an aggregate over the
        predict set, then pred_contribs over the contrib set."""
        self.rec.call("predict", index, lambda: self._predict_once(model))
        self.rec.call("contribs", index, lambda: self._contribs_once(model))

    def _reload_once(self, model, index: int):
        """Save the model and read it back: the scoring calls use the
        copy read back.  Its digest must repeat across iterations."""
        path = os.path.join(self.work, f"model-{index}.json")
        model.save(path)
        loaded = type(model).load(path)
        os.remove(path)
        digest = model_digest(loaded)
        self.loaded_digests.append(digest)
        if digest != self.loaded_digests[0]:
            raise CheckFailed(f"read-back digest {digest} != "
                              f"{self.loaded_digests[0]}")
        return loaded

    def iteration(self, index: int) -> None:
        """Fit, save and read back, score the copy read back."""
        model = self.fit(index)
        if model is None:
            return
        loaded = self.rec.call("reload", index,
                               lambda: self._reload_once(model, index))
        if loaded is not None:
            self.score(loaded, index)

    def loop(self, seconds: float, min_iterations: int,
             first_index: int = 0) -> None:
        """The timed loop: runs iterations for ``seconds`` and at least
        ``min_iterations`` times."""
        t0 = time.perf_counter()
        if self.rss is not None:
            self.rss.take()                     # drop the set-up's peak
        i = 0
        while i < min_iterations or time.perf_counter() - t0 < seconds:
            self.iteration(first_index + i)
            if self.rss is not None:
                self.iteration_peaks.append(self.rss.take())
            i += 1

    def _read_fit_stage_times(self) -> dict | None:
        from xgboost_spark.plans import booster
        stages = getattr(booster, "FIT_STAGE_TIMES", None)
        return dict(stages) if stages else None

