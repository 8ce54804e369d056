"""Barrier-mode trainer (plans/barrier.py) + mesh allreduce (collective.py).

Mirrors the reference's collective tests (`tests/python/test_collective.py`,
`tests/cpp/collective/`) and its Spark-wrapper equivalence tests
(`tests/test_distributed/test_with_spark/test_spark.py`: fit-predict
equivalence vs single-node, empty partitions `:731`).
"""

import threading

import numpy as np
import pytest

from xgboost_spark import collective
from xgboost_spark.config import TrainParams
from xgboost_spark.plans.booster import SparkBooster


class _FakeCtx:
    """Thread-backed stand-in for the BarrierTaskContext metadata the
    mesh reads (rendezvous itself goes through a RendezvousServer)."""

    def __init__(self, rank, nranks):
        self._rank = rank
        self._n = nranks

    def partitionId(self):
        return self._rank

    def getTaskInfos(self):
        # rank count is local task metadata (no RPC) — create() reads
        # the task list length instead of synchronizing for it
        return [object()] * self._n

    def attemptNumber(self):
        return 0


def _on_ranks(spark, p, fn):
    """``fn(comm)`` on p ranks wired by a `RendezvousServer` and
    `MeshComm`, results in rank order.  A real Spark barrier job when
    ``spark`` is given and has p task slots (a barrier stage cannot
    start with fewer); otherwise one thread per rank over the same
    sockets."""
    import pickle
    srv = collective.RendezvousServer(p)
    try:
        if spark is not None and p <= spark.sparkContext.defaultParallelism:
            addr = srv.address
            host = spark.sparkContext.getConf().get("spark.driver.host", None)
            if host:
                addr = (host, addr[1], addr[2])

            def task(it):
                import pandas as pd
                from pyspark import BarrierTaskContext
                for _ in it:
                    pass
                ctx = BarrierTaskContext.get()
                comm = collective.MeshComm.create(ctx, rendezvous=addr)
                try:
                    out = pickle.dumps(fn(comm))
                finally:
                    comm.close()
                yield pd.DataFrame({"rank": [ctx.partitionId()],
                                    "out": [out]})

            rows = (spark.range(p, numPartitions=p)
                    .mapInPandas(task, "rank int, out binary", barrier=True)
                    .collect())
            return [pickle.loads(bytes(r["out"]))
                    for r in sorted(rows, key=lambda r: r["rank"])]
        results, errors = {}, []

        def worker(rank):
            try:
                comm = collective.MeshComm.create(
                    _FakeCtx(rank, p), rendezvous=srv.address)
                try:
                    results[rank] = fn(comm)
                finally:
                    comm.close()
            except Exception as e:   # pragma: no cover
                errors.append((rank, e))

        ts = [threading.Thread(target=worker, args=(r,)) for r in range(p)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in ts), "a rank hung"
        assert not errors, errors
        return [results[r] for r in range(p)]
    finally:
        srv.close()


def _check_sums(nranks, payloads):
    """Every rank allreduces ``arr + rank``: the exact sum, bit-identical
    on every rank (determinism contract)."""
    results = _on_ranks(None, nranks, lambda comm: [
        comm.allreduce_sum(arr + comm.rank) for arr in payloads])
    for i, arr in enumerate(payloads):
        expect = arr * nranks + sum(range(nranks))
        for rank in range(nranks):
            got = results[rank][i]
            np.testing.assert_allclose(got, expect, rtol=1e-12)
            assert np.array_equal(got, results[0][i])


@pytest.mark.parametrize("nranks", [2, 3, 5, 8])
def test_driver_rendezvous_mesh(nranks):
    """The mesh bootstraps through the driver-side RendezvousServer
    (every BarrierTaskContext RPC costs a fixed ~1 s in this Spark
    build): exact allreduce results, bit-identical across ranks."""
    rng = np.random.default_rng(1)
    _check_sums(nranks, [rng.normal(size=257), np.zeros(3)])


@pytest.mark.parametrize("nranks", [2, 3, 5])
def test_ring_allreduce_sum(nranks):
    """Halving-doubling allreduce over 2-D, long, single-element and
    short payloads (the name predates the switch from a ring)."""
    rng = np.random.default_rng(0)
    _check_sums(nranks, [rng.normal(size=(4, 7)), rng.normal(size=1000),
                         np.zeros(1), rng.normal(size=3)])


@pytest.mark.parametrize("p,links", [(2, [1, 1]), (3, [2, 1, 1]),
                                     (4, [2, 2, 2, 2]),
                                     (5, [3, 1, 2, 2, 2])])
def test_mesh_wires_only_halving_doubling_partners(p, links):
    """Each rank opens a socket to exactly its fold partner and its
    halving-doubling partners — no extra links (p=4: 4 links, not 6)."""
    assert [len(collective._partners(r, p)) for r in range(p)] == links
    assert _on_ranks(None, p, lambda comm: len(comm._socks)) == links


def test_loopback():
    c = collective.Loopback()
    a = np.arange(5, dtype=np.float64)
    np.testing.assert_array_equal(c.allreduce_sum(a), a)
    assert c.allreduce_scalar(2.0, 3.0) == (2.0, 3.0)


def _structurally_equal(ma, mb):
    for ra, rb in zip(ma.trees, mb.trees):
        for ta, tb in zip(ra, rb):
            if list(ta.feature) != list(tb.feature):
                return False
            if list(ta.split_bin) != list(tb.split_bin):
                return False
            if not np.allclose(ta.leaf_value, tb.leaf_value, atol=1e-9):
                return False
    return True


def test_barrier_matches_dataframe_path(spark, reg_df):
    kw = dict(num_boost_round=4, max_depth=4, max_bin=32, eta=0.4, seed=3)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=[f"c{i}" for i in range(5)], label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=[f"c{i}" for i in range(5)], label_col="label")
    assert _structurally_equal(mb, md)


def test_barrier_multiclass_parity(spark):
    rng = np.random.default_rng(11)
    n = 2000
    X = rng.normal(size=(n, 4))
    y = (X[:, 0] + X[:, 1] > 0).astype(int) + (X[:, 2] > 0.5).astype(int)
    import pandas as pd
    df = spark.createDataFrame(
        pd.DataFrame({**{f"f{i}": X[:, i] for i in range(4)}, "label": y}))
    kw = dict(objective="multi:softprob", num_class=3, num_boost_round=3,
              max_depth=3, max_bin=32, seed=5)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        df, feature_cols=[f"f{i}" for i in range(4)], label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        df, feature_cols=[f"f{i}" for i in range(4)], label_col="label")
    assert _structurally_equal(mb, md)


def test_barrier_empty_partitions(spark):
    # 5 rows into 8 barrier tasks -> at least 3 empty partitions
    import pandas as pd
    df = spark.createDataFrame(pd.DataFrame({
        "f0": [1.0, 2.0, 3.0, 4.0, 5.0],
        "label": [1.0, 2.0, 3.0, 4.0, 5.0]}))
    m = SparkBooster(TrainParams(exec_mode="barrier", num_boost_round=2,
                                 max_depth=2, max_bin=4)).fit(
        df, feature_cols=["f0"], label_col="label", num_partitions=8)
    assert len(m.trees) == 2


def test_exec_mode_barrier_rejects_unsupported(spark, reg_df):
    with pytest.raises(ValueError, match="barrier unsupported"):
        SparkBooster(TrainParams(exec_mode="barrier", objective="survival:cox",
                                 num_boost_round=2)).fit(
            reg_df, feature_cols=["c0"], label_col="label")


def test_barrier_evals_early_stopping(spark, reg_df):
    p = TrainParams(num_boost_round=30, max_depth=3, max_bin=32,
                    eval_metric=["rmse", "mae"], early_stopping_rounds=4)
    m = SparkBooster(p).fit(reg_df, feature_cols=[f"c{i}" for i in range(5)],
                            label_col="label", evals=[(reg_df, "train")])
    h = m.eval_history["train"]
    assert "rmse" in h and "mae" in h
    assert h["rmse"][-1] < h["rmse"][0]          # training rmse decreases
    assert len(h["rmse"]) == len(h["mae"])


def test_barrier_eval_matches_dataframe_eval(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    kw = dict(num_boost_round=4, max_depth=3, max_bin=32,
              eval_metric=["rmse"])
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label", evals=[(reg_df, "v")])
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label", evals=[(reg_df, "v")])
    np.testing.assert_allclose(mb.eval_history["v"]["rmse"],
                               md.eval_history["v"]["rmse"], rtol=1e-9)


def test_barrier_ranking_eval(spark):
    import pandas as pd
    rng = np.random.default_rng(3)
    n = 3000
    q = rng.integers(0, 60, n)
    x = rng.normal(size=n)
    rel = (x + rng.normal(0, 0.5, n) > 0.5).astype(float) * 2
    df = spark.createDataFrame(pd.DataFrame(
        {"f0": x, "f1": rng.normal(size=n), "label": rel, "qid": q}))
    p = TrainParams(objective="rank:ndcg", num_boost_round=6, max_depth=3,
                    max_bin=32, eval_metric=["ndcg@5"])
    m = SparkBooster(p).fit(df, feature_cols=["f0", "f1"], label_col="label",
                            qid_col="qid", evals=[(df, "train")])
    h = m.eval_history["train"]["ndcg@5"]
    assert len(h) == 6
    assert h[-1] > 0.9        # high ndcg on this separable set


def test_barrier_training_continuation(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    kw = dict(max_depth=3, max_bin=32, seed=4)
    m1 = SparkBooster(TrainParams(num_boost_round=3, **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    m2 = SparkBooster(TrainParams(num_boost_round=2, **kw)).fit(
        reg_df, feature_cols=fc, label_col="label", xgb_model=m1)
    m5 = SparkBooster(TrainParams(num_boost_round=5, **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    assert sum(len(r) for r in m2.trees) == 5
    # continued model == one-shot 5-round model (same cuts, same margins)
    for ra, rb in zip(m2.trees, m5.trees):
        for ta, tb in zip(ra, rb):
            assert list(ta.feature) == list(tb.feature)
            assert list(ta.split_bin) == list(tb.split_bin)
            np.testing.assert_allclose(ta.leaf_value, tb.leaf_value, atol=1e-8)


def test_feature_weights_bias_column_sampling(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    # colsample_bytree=0.2 -> ONE feature per tree, drawn ~ feature_weights;
    # with all mass on c3 every tree can only split c3
    p = TrainParams(num_boost_round=6, max_depth=3, max_bin=32,
                    colsample_bytree=0.2,
                    feature_weights={"c3": 1000.0, "c0": 1e-6, "c1": 1e-6,
                                     "c2": 1e-6, "c4": 1e-6})
    m = SparkBooster(p).fit(reg_df, feature_cols=fc, label_col="label")
    split_feats = {f for rnd in m.trees for t in rnd
                   for f, l in zip(t.feature, t.left) if l != -1}
    assert split_feats <= {3}


def test_barrier_dart_matches_dataframe(spark, reg_df):
    fc = [f"c{i}" for i in range(5)]
    kw = dict(booster="dart", rate_drop=0.4, one_drop=True,
              num_boost_round=5, max_depth=3, max_bin=32, seed=9)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    assert _structurally_equal(mb, md)
    np.testing.assert_allclose(mb.tree_weights, md.tree_weights, rtol=1e-12)


def test_barrier_adaptive_leaves_close_to_dataframe(spark, reg_df):
    """reg:absoluteerror adaptive leaves: barrier's histogram quantile vs
    the DataFrame path's percentile_approx — same accuracy class."""
    fc = [f"c{i}" for i in range(5)]
    kw = dict(objective="reg:absoluteerror", num_boost_round=5,
              max_depth=3, max_bin=32, seed=2)
    mb = SparkBooster(TrainParams(exec_mode="barrier", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    md = SparkBooster(TrainParams(exec_mode="dataframe", **kw)).fit(
        reg_df, feature_cols=fc, label_col="label")
    from pyspark.sql import functions as F
    mae_b = mb.transform(reg_df, feature_cols=fc).agg(
        F.avg(F.abs(F.col("prediction") - F.col("label")))).first()[0]
    mae_d = md.transform(reg_df, feature_cols=fc).agg(
        F.avg(F.abs(F.col("prediction") - F.col("label")))).first()[0]
    assert abs(mae_b - mae_d) < 0.05 * max(mae_b, mae_d) + 0.02
    # round-1 structure identical (refresh happens after growth); later
    # rounds may diverge: MAE's sign gradient flips for rows whose
    # residual is near zero, amplifying the two paths' (both
    # approximate) quantile differences
    for ta, tb in zip(mb.trees[0], md.trees[0]):
        assert list(ta.feature) == list(tb.feature)


@pytest.mark.parametrize("extra", [
    {},
    {"objective": "reg:pseudohubererror"},
    {"booster": "dart", "rate_drop": 0.3, "one_drop": True},
    {"objective": "multi:softprob", "num_class": 3},
], ids=["squarederror", "pseudohuber", "dart", "softprob"])
def test_barrier_approx_matches_dataframe(spark, reg_df, extra):
    """One approx algorithm: both trainers quantize on the 4x fine grid
    and merge its bins on each round's |h| histogram
    (`core.approx_bounds`), so they grow the same trees and report the
    same eval history.  No subsample: row draws are seeded by partition
    id, so they differ between the trainers' partitionings."""
    from pyspark.sql import functions as F
    fc = [f"c{i}" for i in range(5)]
    df = reg_df
    if "num_class" in extra:
        df = reg_df.withColumn("label", F.expr(
            "CAST(CASE WHEN label < -1 THEN 0 WHEN label < 1 THEN 1 "
            "ELSE 2 END AS DOUBLE)"))
    kw = dict(tree_method="approx", num_boost_round=4, max_depth=3,
              max_bin=16, seed=7, **extra)
    models = {path: SparkBooster(TrainParams(exec_mode=path, **kw)).fit(
        df, feature_cols=fc, label_col="label", evals=[(df, "train")])
        for path in ("barrier", "dataframe")}
    mb, md = models["barrier"], models["dataframe"]
    assert _structurally_equal(mb, md)
    for name, hb in mb.eval_history["train"].items():
        np.testing.assert_allclose(hb, md.eval_history["train"][name],
                                   rtol=1e-9)
    if not extra:
        # hist on the same data should not beat approx by much (sanity
        # that the re-binning isn't destroying signal)
        def rmse(m):
            return m.transform(df, feature_cols=fc).agg(F.sqrt(F.avg(
                F.pow(F.col("prediction") - F.col("label"), 2)))).first()[0]
        mh = SparkBooster(TrainParams(exec_mode="barrier", **{
            **kw, "tree_method": "hist"})).fit(
            df, feature_cols=fc, label_col="label")
        assert rmse(mb) < rmse(mh) * 1.10 + 0.02


def test_barrier_approx_dart_and_evals(spark, reg_df):
    """approx + dart + eval-set early stopping on the default path:
    check it runs and the metric decreases."""
    fc = [f"c{i}" for i in range(5)]
    m = SparkBooster(TrainParams(
        tree_method="approx", booster="dart", rate_drop=0.2,
        num_boost_round=8, max_depth=3, max_bin=16, seed=1,
        eval_metric=["rmse"], early_stopping_rounds=6)).fit(
        reg_df, feature_cols=fc, label_col="label",
        evals=[(reg_df, "train")])
    h = m.eval_history["train"]["rmse"]
    assert h[-1] < h[0]
    # serving traverses raw-domain split_value: finite predictions
    preds = m.transform(reg_df, feature_cols=fc).select("prediction")
    assert preds.filter("prediction is null or isnan(prediction)").count() == 0


def _failing_objective(fail_after: int, params: TrainParams | None = None):
    """The built-in objective ``params.objective`` (squared error when
    ``params`` is None), raising after ``fail_after`` gradient rounds —
    simulates an executor loss mid-training inside the barrier job (the
    objective is called once per round by every task, so it is a
    deterministic failure-injection point).  The subclass is defined
    inside a function so cloudpickle serializes it BY VALUE — the pytest
    module name is not importable from the barrier python workers."""
    from xgboost_spark.functions.objectives import get_objective
    base = get_objective(params.objective if params else "reg:squarederror",
                         params)

    class _Failing(type(base)):
        def grad_hess(self, y, margin, w):
            self._calls += 1
            if self._calls > self.fail_after:
                raise RuntimeError("injected mid-training failure")
            return super().grad_hess(y, margin, w)

    obj = _Failing.__new__(_Failing)
    obj.__dict__.update(base.__dict__, _calls=0, fail_after=fail_after)
    return obj


def test_barrier_checkpoint_resume(spark, reg_df, tmp_path):
    """Kill the barrier job mid-training (after the round-2 checkpoint),
    re-issue the fit with the same checkpoint_dir, and require the
    resumed model to be IDENTICAL to an uninterrupted run — margins are
    replayed from the stored trees in the exact incremental
    accumulation order, so rounds 3..6 proceed bit-for-bit.  Also checks
    the lifecycle contract: a failed fit leaves its checkpoint, a
    completed fit deletes it."""
    import os
    fc = [f"c{i}" for i in range(5)]
    kw = dict(num_boost_round=6, max_depth=4, max_bin=32, eta=0.4, seed=3,
              exec_mode="barrier")
    ckdir = str(tmp_path / "ck")
    ckpt = os.path.join(ckdir, "barrier_ckpt.pkl")

    m_full = SparkBooster(TrainParams(**kw)).fit(
        reg_df, feature_cols=fc, label_col="label")

    p_ck = TrainParams(checkpoint_dir=ckdir, checkpoint_interval=2, **kw)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(p_ck, obj=_failing_objective(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(ckpt), "failed fit must leave its checkpoint"

    m_res = SparkBooster(p_ck).fit(reg_df, feature_cols=fc,
                                   label_col="label")
    assert len(m_res.trees) == 6
    assert _structurally_equal(m_res, m_full)
    assert not os.path.exists(ckpt), "completed fit must delete its checkpoint"


def test_barrier_checkpoint_resume_dart(spark, reg_df, tmp_path):
    """DART kill-and-resume: the checkpoint carries the per-round
    dropout/rescale EVENT LOG (dropped indices, pre-rescale weights,
    factor, new-tree weight), and resume replays the exact float-op
    sequence of the live loop — so the resumed model must match an
    uninterrupted run in structure, leaf values AND final tree weights,
    and the rng continues the same dropout draws for later rounds."""
    import os
    fc = [f"c{i}" for i in range(5)]
    kw = dict(booster="dart", rate_drop=0.5, one_drop=True,
              num_boost_round=6, max_depth=3, max_bin=32, eta=0.4, seed=7,
              exec_mode="barrier")
    ckdir = str(tmp_path / "ckd")
    ckpt = os.path.join(ckdir, "barrier_ckpt.pkl")

    m_full = SparkBooster(TrainParams(**kw)).fit(
        reg_df, feature_cols=fc, label_col="label")

    p_ck = TrainParams(checkpoint_dir=ckdir, checkpoint_interval=2, **kw)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(p_ck, obj=_failing_objective(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(ckpt), "failed fit must leave its checkpoint"

    m_res = SparkBooster(p_ck).fit(reg_df, feature_cols=fc,
                                   label_col="label")
    assert len(m_res.trees) == 6
    assert _structurally_equal(m_res, m_full)
    assert np.allclose(m_res.tree_weights, m_full.tree_weights, atol=0), \
        "dart tree weights must match the uninterrupted run exactly"
    assert not os.path.exists(ckpt), "completed fit must delete its checkpoint"


_CLASS3 = ("CAST(CASE WHEN c0 > 0.5 THEN 2 WHEN c1 > 0 THEN 1 ELSE 0 END "
           "AS DOUBLE) AS label")


@pytest.mark.parametrize("params,label", [
    (dict(booster="dart", rate_drop=0.5, one_drop=True), "label"),
    (dict(objective="multi:softprob", num_class=3), _CLASS3),
    (dict(objective="multi:softprob", num_class=3,
          multi_strategy="multi_output_tree"), _CLASS3),
], ids=["dart", "softprob", "multi_output_tree"])
def test_barrier_checkpoint_resume_with_evals(spark, reg_df, tmp_path, params,
                                              label):
    """Kill-and-resume with an eval set: resume replays the eval margins
    too (DART's eval-side rescale deltas; K=3 scalar groups; 2-D vector
    leaves), so the resumed model's bytes and its whole eval history
    equal an uninterrupted fit's."""
    import os
    fc = [f"c{i}" for i in range(5)]
    df = reg_df.selectExpr(*fc, label)
    evals = [(df.filter("c3 > 0"), "valid")]
    kw = dict(num_boost_round=6, max_depth=3, max_bin=32, eta=0.4, seed=7,
              exec_mode="barrier", **params)
    ckdir = str(tmp_path / "ck")

    m_full = SparkBooster(TrainParams(**kw)).fit(
        df, feature_cols=fc, label_col="label", evals=evals)

    p_ck = TrainParams(checkpoint_dir=ckdir, checkpoint_interval=2, **kw)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(p_ck, obj=_failing_objective(3, p_ck)).fit(
            df, feature_cols=fc, label_col="label", evals=evals)
    assert os.path.exists(os.path.join(ckdir, "barrier_ckpt.pkl"))

    m_res = SparkBooster(p_ck).fit(df, feature_cols=fc, label_col="label",
                                   evals=evals)
    assert len(m_res.trees) == 6
    assert m_res.eval_history == m_full.eval_history
    assert bytes(m_res.save_raw()) == bytes(m_full.save_raw())


def test_barrier_checkpoint_rejects_stale_fingerprint(spark, reg_df, tmp_path):
    """A checkpoint left by a DIFFERENTLY-CONFIGURED fit sharing the
    directory must be rejected at load, never silently resumed."""
    import os
    fc = [f"c{i}" for i in range(5)]
    ckdir = str(tmp_path / "ckf")
    base = dict(max_depth=4, max_bin=32, eta=0.4, seed=3,
                exec_mode="barrier", checkpoint_dir=ckdir,
                checkpoint_interval=2)
    with pytest.raises(Exception, match="injected mid-training failure"):
        SparkBooster(TrainParams(num_boost_round=6, **base),
                     obj=_failing_objective(3)).fit(
            reg_df, feature_cols=fc, label_col="label")
    assert os.path.exists(os.path.join(ckdir, "barrier_ckpt.pkl"))
    with pytest.raises(Exception, match="different fit configuration"):
        SparkBooster(TrainParams(num_boost_round=6, max_depth=2,
                                 max_bin=32, eta=0.4, seed=3,
                                 exec_mode="barrier", checkpoint_dir=ckdir,
                                 checkpoint_interval=2)).fit(
            reg_df, feature_cols=fc, label_col="label")


def test_barrier_scan_partitioning_no_shuffle(spark, tmp_path):
    """Non-ranking fits adopt the parquet scan's own splits as barrier
    tasks instead of repartition()ing the training set (round 11: the
    blanket shuffle cost 20-65 s at sf10 before the first gradient).
    Pins the three moving parts on a many-split input WITH eval frames
    (union under the barrier stage): the fit succeeds, the
    maxPartitionBytes resize is restored afterwards, and the model
    equals the repartition path's (gradient sums are allreduced
    identically regardless of row placement for this integer-exact
    label, so trees must match node-for-node)."""
    import pandas as pd
    key = "spark.sql.files.maxPartitionBytes"
    orig = spark.conf.get(key, "134217728")
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(rng.integers(0, 8, size=(40_000, 3)).astype(float),
                       columns=["a", "b", "c"])
    # label integer-exact: partial gradient sums are order-independent
    pdf["label"] = pdf["a"] * 2 + pdf["b"]
    path = str(tmp_path / "many_files_pq")
    spark.createDataFrame(pdf).repartition(40).write.parquet(path)
    try:
        # force the scan to split finely so np_in > n_part and the
        # resize + adopt path (not the small-input repartition) runs
        spark.conf.set(key, str(64 * 1024))
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() > 32
        params = dict(num_boost_round=3, max_depth=3, max_bin=64, eta=0.5)
        m1 = SparkBooster(TrainParams(**params)).fit(
            df, feature_cols=["a", "b", "c"], label_col="label",
            evals=[(df, "eval")])
        # engine restored the conf to what this test set
        assert spark.conf.get(key) == str(64 * 1024)
        assert m1.eval_history["eval"]["rmse"][-1] < \
            m1.eval_history["eval"]["rmse"][0]
        # the repartition path (single coarse split input) agrees
        spark.conf.set(key, orig)
        m2 = SparkBooster(TrainParams(**params)).fit(
            spark.createDataFrame(pdf), feature_cols=["a", "b", "c"],
            label_col="label")
        for r1, r2 in zip(m1.trees, m2.trees):
            for t1, t2 in zip(r1, r2):
                assert t1.feature == t2.feature
                assert t1.split_bin == t2.split_bin
                assert np.allclose(t1.leaf_value, t2.leaf_value)
    finally:
        spark.conf.set(key, orig)


def test_mpb_conf_restored_on_setup_exception(spark, sf_dir):
    """The scan-split adoption path grows
    spark.sql.files.maxPartitionBytes session-globally while the
    barrier action plans; an exception raised AFTER the mutation but
    BEFORE/DURING the action must still restore the caller's value
    (the whole setup+action now runs under one try/finally)."""
    from xgboost_spark.config import TrainParams
    from xgboost_spark.functions.objectives import get_objective
    from xgboost_spark.plans.barrier import fit_barrier
    from xgboost_spark.sources.tables import load_table

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    tiny = "65536"
    spark.conf.set(key, tiny)
    try:
        li = (load_table(spark, sf_dir, "lineitem")
              .selectExpr("l_quantity as f0", "l_discount as f1",
                          "l_extendedprice as label"))
        # the tiny conf gives the parquet scan many splits; n_part=1
        # forces the growth loop to mutate the conf before bad `cuts`
        # raise at broadcast time (first statement after the mutation)
        p = TrainParams(objective="reg:squarederror", num_boost_round=1)
        obj = get_objective(p.objective, p)
        bad_cuts = [["not-a-float"], ["also-bad"]]
        with pytest.raises(ValueError):
            fit_barrier(p, obj, li, ["f0", "f1"], bad_cuts, None, 0.5,
                        None, None, 1)
        assert spark.conf.get(key) == tiny
    finally:
        spark.conf.set(key, old)


def test_fit_derives_barrier_ranks_from_rows(spark, sf_dir, monkeypatch):
    """Round-14 optimization: with num_partitions unset and no qid, the
    barrier rank count comes from the sketch-scan row count at
    booster.ROWS_PER_RANK rows per rank, capped at the core budget
    — every tree level is a full-mesh sync, so tiny inputs must not be
    spread across ranks whose per-level compute cannot cover the
    collective latency.  Explicit num_partitions still wins."""
    from xgboost_spark.plans import barrier as B
    from xgboost_spark.plans import booster
    from xgboost_spark.sources.tables import load_table

    seen = []
    real = B.fit_barrier

    def spy(p, obj, raw, fnames, cuts, cat_mask, base_score, mono,
            isets, n_part, **kw):
        seen.append(n_part)
        return real(p, obj, raw, fnames, cuts, cat_mask, base_score,
                    mono, isets, n_part, **kw)

    monkeypatch.setattr(B, "fit_barrier", spy)
    monkeypatch.setattr(booster, "ROWS_PER_RANK", 1000)
    li = load_table(spark, sf_dir, "lineitem").limit(3000)
    fc = ["l_quantity", "l_discount"]
    params = TrainParams(num_boost_round=1, max_depth=2, max_bin=16)
    SparkBooster(params).fit(li, feature_cols=fc,
                             label_col="l_extendedprice")
    assert seen[-1] == 3, seen       # ceil(3000 / 1000)
    SparkBooster(params).fit(li, feature_cols=fc,
                             label_col="l_extendedprice",
                             num_partitions=2)
    assert seen[-1] == 2, seen       # explicit override untouched


@pytest.mark.parametrize("nranks", [2, 3, 5])
def test_allgather_rows(spark, nranks):
    """`Comm.allgather_rows` concatenates every rank's block in rank
    order, bit-for-bit, on every rank; rank 1 contributes no rows."""
    def blocks(r):
        n = 0 if r == 1 else r + 2
        return np.random.default_rng(r).normal(size=(n, 3))

    def fn(comm):
        return comm.allgather_rows(blocks(comm.rank))

    expect = np.vstack([blocks(r) for r in range(nranks)])
    for got in _on_ranks(spark, nranks, fn):
        assert np.array_equal(got, expect)
    assert np.array_equal(collective.Loopback().allgather_rows(expect), expect)


def _auc_cases():
    """(name, y, margin (n, K), weight or None) eval sets."""
    rng = np.random.default_rng(21)
    n = 600
    X = rng.normal(size=(n, 3))
    y = (X[:, 0] + 0.8 * rng.normal(size=n) > 0).astype(np.float64)
    # three depth-1 stumps: at most 8 distinct margins, heavy ties
    stumps = (np.where(X[:, 0] < 0.1, -0.4, 0.5)
              + np.where(X[:, 1] < -0.3, 0.2, -0.1)
              + np.where(X[:, 2] < 0.7, 0.05, -0.3))
    smooth = X[:, 0] + 0.3 * X[:, 1]
    w = rng.uniform(0.2, 3.0, n)
    Xm = rng.normal(size=(n, 3))
    ym = rng.integers(0, 3, n).astype(np.float64)
    Xm[np.arange(n), ym.astype(int)] += 1.0
    # ties only between equal margin rows: Spark's exp and NumPy's may
    # differ by an ulp, so rows whose margins differ by a constant
    # shift (equal softprob in exact arithmetic) could tie on one path
    # and not the other
    Xm[1::3] = Xm[0::3][: len(Xm[1::3])]
    return [("stumps", y, stumps[:, None], None),
            ("weighted", y, smooth[:, None], w),
            ("single_class", np.ones(n), smooth[:, None], None),
            ("multiclass", ym, Xm, None)]


@pytest.fixture(scope="module")
def dataframe_aucs(spark):
    """Each case's AUC and AUC-PR from the DataFrame-path queries."""
    import pandas as pd
    from xgboost_spark.functions import metrics as M
    out = {}
    for name, y, m, w in _auc_cases():
        if name == "single_class":
            continue
        K = m.shape[1]
        pdf = pd.DataFrame({"y": y, **{f"m{k}": m[:, k] for k in range(K)},
                            "w": np.ones(len(y)) if w is None else w})
        df = spark.createDataFrame(pdf).coalesce(1)   # one task per stage
        if K == 1:
            out[name] = (M.auc_binary(df, score="m0", weight="w"),
                         M.aucpr_binary(df, score="m0", weight="w"))
        else:
            mc = [f"m{k}" for k in range(K)]
            out[name] = (M.auc_multiclass(df, margin_cols=mc, weight="w"),
                         M.auc_multiclass(df, margin_cols=mc, weight="w",
                                          curve="pr"))
    return out


@pytest.mark.parametrize("nranks", [1, 2, 3, 5])
def test_barrier_auc_matches_dataframe(spark, dataframe_aucs, nranks):
    """In-job exact AUC / AUC-PR (`metric_global_np`) against the
    DataFrame queries at several rank counts, with rank 0 empty once
    p >= 3.  Unweighted values do not depend on the rank count, and
    binary ROC is bit-identical to the query (every sum is an exact
    half-integer); AUC-PR and weighted or softprob curves sum in a
    different order than Spark, to 1e-12.  A single-class set is
    NaN."""
    from xgboost_spark.functions.metrics import metric_global_np
    cases = _auc_cases()

    def fn(comm):
        got = {}
        for name, y, m, w in cases:
            cut = np.linspace(0, len(y), comm.nranks + 1).astype(int)
            if comm.nranks >= 3:
                cut[1] = 0                     # rank 0 holds no rows
            sl = slice(cut[comm.rank], cut[comm.rank + 1])
            ww = None if w is None else w[sl]
            got[name] = tuple(metric_global_np(comm, mn, y[sl], m[sl], ww)
                              for mn in ("auc", "aucpr"))
        return got

    per_rank = _on_ranks(spark, nranks, fn)
    for got in per_rank[1:]:                   # every rank agrees bitwise
        for name in got:
            np.testing.assert_array_equal(got[name], per_rank[0][name])
    one_rank = fn(collective.Loopback())
    got = per_rank[0]
    for name, _y, _m, w in cases:
        roc, pr = got[name]
        if w is None:                         # rank count changes nothing
            np.testing.assert_array_equal(got[name], one_rank[name])
        if name == "single_class":            # auc.cc NaN guards
            assert np.isnan(roc) and np.isnan(pr)
            continue
        roc_df, pr_df = dataframe_aucs[name]
        if name == "stumps":
            assert roc == roc_df, (name, roc, roc_df)
        np.testing.assert_allclose(roc, roc_df, rtol=1e-12, err_msg=name)
        np.testing.assert_allclose(pr, pr_df, rtol=1e-12, err_msg=name)


def test_classifier_auc_early_stopping_barrier_matches_dataframe(spark):
    """AUC / AUC-PR early stopping trains on the barrier path and
    reproduces the DataFrame path: equal unweighted AUC history (exact),
    AUC-PR to summation order, the same best_iteration and the same
    trees."""
    import pandas as pd
    from pyspark.sql import functions as F
    from xgboost_spark.plans.estimator import SparkGBDTClassifier
    rng = np.random.default_rng(5)
    n = 1500
    X = rng.normal(size=(n, 4))
    y = (X[:, 0] - 0.5 * X[:, 1] + rng.normal(size=n) > 0).astype(int)
    df = spark.createDataFrame(pd.DataFrame(
        {**{f"f{i}": X[:, i] for i in range(4)}, "label": y})).withColumn(
        "is_val", F.col("f3") > 0.4)
    models = {}
    for mode in ("barrier", "dataframe"):
        models[mode] = SparkGBDTClassifier(
            label_col="label", features_col=[f"f{i}" for i in range(4)],
            validation_indicator_col="is_val", eval_metric=["auc", "aucpr"],
            early_stopping_rounds=1, num_boost_round=4, max_depth=2,
            max_bin=16, eta=1.0, exec_mode=mode).fit(df)
    hb = models["barrier"].evals_result()["validation"]
    hd = models["dataframe"].evals_result()["validation"]
    assert hb["auc"] == hd["auc"]
    np.testing.assert_allclose(hb["aucpr"], hd["aucpr"], rtol=1e-12)
    assert len(hb["auc"]) < 4                  # early stopping fired
    assert models["barrier"].best_iteration == models["dataframe"].best_iteration
    assert _structurally_equal(models["barrier"].core, models["dataframe"].core)


def test_auto_mode_logs_why_dataframe_path(spark, reg_df, caplog):
    """exec_mode=auto says at INFO why a fit left the barrier path."""
    import logging
    from xgboost_spark.functions.callbacks import TrainingCallback
    fc = [f"c{i}" for i in range(5)]
    df = reg_df.withColumn("label", (reg_df["label"] > 0).cast("double"))
    kw = dict(objective="binary:logistic", num_boost_round=1, max_depth=2,
              max_bin=16)
    caplog.set_level(logging.INFO, logger="xgboost_spark")
    SparkBooster(TrainParams(eval_metric=["ams@0.15"], **kw)).fit(
        df, feature_cols=fc, label_col="label", evals=[(df, "v")])
    SparkBooster(TrainParams(**kw)).fit(
        df, feature_cols=fc, label_col="label",
        callbacks=[TrainingCallback()])
    msgs = [r.getMessage() for r in caplog.records
            if r.name == "xgboost_spark"]
    assert any("DataFrame path" in m and "'ams@0.15'" in m for m in msgs), msgs
    assert any("DataFrame path" in m and "callbacks" in m for m in msgs), msgs
