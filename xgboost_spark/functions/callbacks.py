"""Training callbacks, mirroring the reference's callback API
(`python-package/xgboost/callback.py`: container :149,
LearningRateScheduler :272, EarlyStopping :311, EvaluationMonitor :511,
TrainingCheckPoint :586).

The driver loop calls:
    before_training(state) / after_training(state)
    before_iteration(state, epoch) -> bool (True = stop)
    after_iteration(state, epoch, evals_log) -> bool (True = stop)

``state`` is the live TrainingState handle: mutable ``eta`` (applied to
the NEXT tree), read-only round count, and ``save_snapshot(path)``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence


class TrainingState:
    """Driver-side handle passed to callbacks."""

    def __init__(self, params, make_model: Callable[[], object]):
        self.params = params
        self.eta = params.eta
        self.stopped = False
        self._make_model = make_model

    def snapshot_model(self):
        """Materialize the model as of the completed rounds."""
        return self._make_model()


def eval_line(epoch: int, evals_log: dict, i: int = -1) -> str | None:
    """One evaluation line in the reference EvaluationMonitor byte format
    (callback.py:545-569): ``[epoch]`` then ``\t{data}-{metric}:{v:.5f}``
    for the ``i``-th value of every history entry that has one, in
    insertion order; None when no entry has one."""
    parts = [f"{d}-{m}:{vals[i]:.5f}" for d, ms in evals_log.items()
             for m, vals in ms.items() if -len(vals) <= i < len(vals)]
    return f"[{epoch}]\t" + "\t".join(parts) if parts else None


class TrainingCallback:
    def before_training(self, state: TrainingState):
        pass

    def after_training(self, state: TrainingState):
        pass

    def before_iteration(self, state: TrainingState, epoch: int) -> bool:
        return False

    def after_iteration(self, state: TrainingState, epoch: int,
                        evals_log: dict) -> bool:
        return False


class LearningRateScheduler(TrainingCallback):
    """Per-round learning rate (reference callback.py:272-308): pass a
    list of rates or a fn(epoch) -> eta.  The reference applies the
    rate in AFTER_iteration — ``set_param`` lands before the NEXT
    boost — so round 0 always trains with the configured eta and
    ``rates(i)`` governs round i+1 (pinned by the reference's own
    run_eta_decay: ``eval_errors_3[0] == eval_errors_2[0]`` holds only
    under one-round-late semantics, testing/callbacks.py:110-128).  A
    too-short list raises IndexError at that round like the
    reference's plain ``learning_rates[epoch]`` indexing."""

    def __init__(self, rates: Sequence[float] | Callable[[int], float]):
        import collections.abc
        if not callable(rates) and not isinstance(
                rates, collections.abc.Sequence):
            raise TypeError(
                "Invalid learning rates, expecting callable or sequence, "
                f"got: {type(rates)}")
        self.rates = rates

    def after_iteration(self, state, epoch, evals_log):
        state.eta = (self.rates(epoch) if callable(self.rates)
                     else self.rates[epoch])
        return False


class EvaluationMonitor(TrainingCallback):
    """Print eval results each period (reference callback.py:511)."""

    def __init__(self, period: int = 1):
        self.period = max(period, 1)
        # last skipped message: replayed at after_training so the final
        # epoch's result always prints even when period skips it
        # (reference callback.py:542 self._latest)
        self._latest: str | None = None

    def after_iteration(self, state, epoch, evals_log):
        from xgboost_spark.config import get_config
        if get_config()["verbosity"] < 1:
            return False
        msg = eval_line(epoch, evals_log)
        if msg is not None:
            if epoch % self.period == 0 or self.period == 1:
                print(msg)
                self._latest = None
            else:
                self._latest = msg
        return False

    def after_training(self, state):
        if self._latest is not None:
            print(self._latest)
            self._latest = None


class EarlyStopping(TrainingCallback):
    """Stop after ``rounds`` consecutive non-improving iterations
    (reference callback.py EarlyStopping): watches ``metric_name`` on
    ``data_name`` (defaults: last metric of the last eval set), infers
    maximize with the inline rule's list (`plans.booster._maximize`), and
    with ``save_best`` the returned model keeps only the rounds up to
    the detected best iteration."""

    def __init__(self, rounds: int, maximize: bool | None = None,
                 min_delta: float = 0.0, metric_name: str | None = None,
                 data_name: str | None = None, save_best: bool = False):
        if min_delta < 0:
            raise ValueError("min_delta must be greater or equal to 0.")
        self.rounds = rounds
        self.maximize = maximize
        self.min_delta = min_delta
        self.metric_name = metric_name
        self.data_name = data_name
        self.save_best = save_best
        self.best = None
        self.best_iteration = None
        self.starting_round = 0

    def before_training(self, state):
        # training continuation: epochs re-start at 0 within the fit but
        # the model's round index continues (reference callback.py
        # before_training: starting_round = model.num_boosted_rounds())
        xm = getattr(state, "xgb_model", None)
        self.starting_round = len(xm.trees) if xm is not None else 0

    def _better(self, new: float, best: float, maximize: bool) -> bool:
        # reference _update_rounds: maximize <=> new - min_delta > best;
        # minimize <=> best - min_delta > new
        return (new - self.min_delta > best if maximize
                else best - self.min_delta > new)

    def after_iteration(self, state, epoch, evals_log):
        if len(evals_log) < 1:
            raise ValueError(
                "Must have at least 1 validation dataset for early "
                "stopping.")
        data = self.data_name or list(evals_log)[-1]
        if data not in evals_log:
            raise ValueError(f"No dataset named: {data}")
        metric = self.metric_name or list(evals_log[data])[-1]
        if metric not in evals_log[data]:
            raise ValueError(f"No metric named: {metric}")
        vals = evals_log[data][metric]
        if not vals:
            return False
        cur = vals[-1]
        if self.maximize is None:
            from xgboost_spark.plans.booster import _maximize
            self.maximize = _maximize(metric)
        if self.best is None or self._better(cur, self.best, self.maximize):
            self.best = cur
            self.best_iteration = epoch
            return False
        return epoch - self.best_iteration >= self.rounds

    def finalize_model(self, model):
        """Stamp best_iteration/best_score on the finished model; with
        ``save_best`` return only the rounds up to the best iteration
        (reference after_training: ``model = model[: best_iteration +
        1]`` with the attributes restored on the slice)."""
        if self.best_iteration is None:
            return model
        bi = self.best_iteration + self.starting_round
        model.best_iteration = bi
        model.set_attr(best_score=str(self.best))
        if self.save_best:
            eh = model.eval_history
            model = model.slice(0, bi + 1)
            model.best_iteration = bi
            model.eval_history = eh
            model.set_attr(best_score=str(self.best))
        return model


class TrainingCheckPoint(TrainingCallback):
    """Model snapshots during training (reference callback.py:586-653):
    files are ``{name}_{epoch + start}.{fmt}`` where ``start`` is the
    number of rounds already in a continued model (before_training
    reads it, callback.py:630-632); the save fires on the call where
    the internal counter REACHES ``interval`` and then resets — i.e.
    the first snapshot lands ``interval`` epochs in, matching the
    reference's counter semantics exactly (``_epoch == _iterations``
    check BEFORE the increment).  ``interval`` defaults to 100 like the
    reference ("checkpointing is slow").  Default format is UBJSON
    (the reference's 2.1.0+ default) through the engine's own codec;
    ``as_pickle`` pickles the model object instead."""

    default_format = "ubj"

    def __init__(self, directory: str, name: str = "model",
                 as_pickle: bool = False, interval: int = 100):
        import os
        self._path = os.fspath(directory)
        self._name = name
        self._as_pickle = as_pickle
        self._iterations = max(int(interval), 1)
        self._epoch = 0
        self._start = 0
        os.makedirs(self._path, exist_ok=True)

    def before_training(self, state):
        prior = getattr(state, "xgb_model", None)
        self._start = len(prior.trees) if prior is not None else 0

    def after_iteration(self, state, epoch, evals_log):
        import os
        if self._epoch == self._iterations:
            path = os.path.join(
                self._path,
                f"{self._name}_{epoch + self._start}"
                + (".pkl" if self._as_pickle else f".{self.default_format}"))
            self._epoch = 0
            model = state.snapshot_model()
            if self._as_pickle:
                import pickle
                with open(path, "wb") as fd:
                    pickle.dump(model, fd)
            else:
                # GBDTModel.save dispatches on extension (.ubj -> the
                # engine's UBJSON codec), same as the reference c_api
                model.save(path)
        self._epoch += 1
        return False
