"""Barrier-mode trainer: the whole boosting loop in ONE Spark job.

This is the fast path, mirroring the architecture of the reference's own
PySpark integration (`python-package/xgboost/spark/core.py:1128`
``dataset.mapInPandas(_train_booster, barrier=True)`` with per-worker
ring-allreduce sync): each barrier task materializes its partition once,
quantizes it against the broadcast global cuts, and runs the identical
deterministic tree-growth loop; per-level gradient histograms are summed
across tasks with the reduce-scatter half of a halving-doubling
allreduce (`xgboost_spark/collective.py`, reference
`src/collective/allreduce.cc:21-129`): each rank keeps the fully reduced
histograms of its own block of features, searches splits there, and the
ranks gather their per-block best candidates, so every rank picks the
same split (`_AllreduceHistBuilder`).  Because the reduced values are
bit-identical to a full allreduce's and all random draws come from the
same seeded generator, every task grows the same trees; task 0 returns
the model.

Why it exists alongside the per-level DataFrame path
(`plans/booster.py`): a depth-6, 100-round training is ~700 level
aggregations.  As DataFrame jobs those cost a scheduler round-trip each
(~0.3-1 s fixed, regardless of data size); inside one barrier job the
same sync is a millisecond-scale allreduce.  The DataFrame path remains
the declarative, oracle-checkable form and the fallback for what needs
global relational context (Cox partial likelihood, AMS), callbacks and
custom metrics.  `plans/booster._choose_path` is the one place that
picks between the two (through `supports_barrier`), before any Spark
job runs.  Both trainers share booster's per-row parse (`parse_rows`),
gradient kernel (`_compute_grads`), DART dropout and normalization
(`dart_drop`, `dart_weights`) and early-stopping rule (`_early_stop`).
Both keep their margin caches with the one tree-margin kernel,
`core.apply_model_margin`: here on per-task NumPy arrays (the new
round's leaf ids come from the hist builder's cached assignment), on
the DataFrame path inside booster's frame kernel (`_frame_batch`).

Scale: per-task memory = its partition's quantized matrix (int16) —
size partitions so each fits (same contract as the reference Spark
wrapper's per-worker DMatrix).  Per level, each rank sends and receives
about nodes x features x (bins+1) x 2 float64 in the reduce-scatter
(half of a full allreduce's traffic) plus a candidate gather of
nodes x 14 + 2 float64 per owning rank, independent of row count;
categorical features add one allreduce of their own histograms.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import time
from collections import defaultdict
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from xgboost_spark import core
from xgboost_spark.collective import MeshComm
from xgboost_spark.config import TrainParams
from xgboost_spark.local.booster import (_NumpyHistBuilder,
                                          _NumpyMultiHistBuilder)

#: per-task wall-clock attribution for the barrier loop (guide §1:
#: measure before optimizing).  Written only inside barrier tasks;
#: rank 0 dumps it to $SPARK_GRAFT_PROF when that env var names a file.
#: Zero overhead concerns: a handful of float adds per tree level.
_PROF: dict[str, float] = defaultdict(float)


class _AllreduceHistBuilder(_NumpyHistBuilder):
    """Feature-sharded histogram sync and split search (LightGBM's
    data-parallel scheme, Ke et al. 2017; the reference instead
    allreduces every histogram to every worker, `SyncHistogram`,
    `src/tree/hist/histogram.h:177-188`).

    ``build`` lays the local histograms out feature-major, zero-padded
    to a multiple of ``comm.owners`` features so each owned range of the
    reduce-scatter is whole features, and returns this rank's block of
    fully reduced features followed by every categorical feature (one
    extra allreduce, so each rank can replay the sequential categorical
    enumeration).  ``best_splits`` searches the block only, gathers the
    per-block best candidates verbatim and picks the winner on every
    rank.  Each element is reduced in the same order as a full
    allreduce, so at any rank count the trees are byte-identical to
    those of a full allreduce and one search over all features."""

    def __init__(self, Xb, cuts, n_bins, comm, cat_features=None):
        super().__init__(Xb, cuts, n_bins)
        self.comm = comm
        q = comm.owners
        self.n_pad = -(-self.n_features // q) * q
        self.cat_fids = (np.nonzero(cat_features)[0]
                         if cat_features is not None
                         else np.zeros(0, dtype=np.int64))
        self.f0 = self.fb = 0           # owned block, set by build
        self._root = (0.0, 0.0)

    def build(self, tree: core.Tree, nids: list[int]):
        t0 = time.perf_counter()
        F, NN, B1 = self.n_features, len(nids), self.n_bins + 1
        buf = np.empty((self.n_pad, 2, NN, B1))
        buf[F:] = 0.0
        self._fill(tree, nids, buf[:F, 0].transpose(1, 0, 2),
                   buf[:F, 1].transpose(1, 0, 2))
        t1 = time.perf_counter()
        lo, part = self.comm.reduce_scatter_sum(buf)
        per = 2 * NN * B1
        self.f0, self.fb = lo // per, len(part) // per
        full = part.reshape(self.fb, 2, NN, B1)
        if len(self.cat_fids):
            full = np.concatenate(
                [full, self.comm.allreduce_sum(buf[self.cat_fids])])
        t2 = time.perf_counter()
        _PROF["hist_local"] += t1 - t0
        _PROF["hist_allreduce"] += t2 - t1
        _PROF["allreduce_calls"] += 1
        _PROF["allreduce_bytes"] += F * per * 8
        return (np.ascontiguousarray(full[:, 0].transpose(1, 0, 2)),
                np.ascontiguousarray(full[:, 1].transpose(1, 0, 2)))

    def _block(self, a, fill):
        """A per-feature array's owned block, padding features = fill."""
        a = np.asarray(a)
        out = np.full(a.shape[:-1] + (self.fb,), fill, dtype=a.dtype)
        n = max(0, min(self.n_features - self.f0, self.fb))
        out[..., :n] = a[..., self.f0:self.f0 + n]
        return out

    def best_splits(self, hg, hh, *, reg_lambda, reg_alpha, gamma,
                    min_child_weight, max_delta_step, feature_mask=None,
                    monotone=None, cat_features=None, node_bounds=None,
                    max_cat_to_onehot=4, max_cat_threshold=64,
                    n_bins_feat=None):
        t0 = time.perf_counter()
        N, fb = hg.shape[0], self.fb
        size = N * 2 * core.CAND_FIELDS + 2
        table = np.full(size, -np.inf)
        if fb and self.n_bins >= 2:
            bg = np.ascontiguousarray(hg[:, :fb])
            bh = np.ascontiguousarray(hh[:, :fb])
            mono = (monotone if monotone is not None and monotone.any()
                    else None)
            table[:-2] = core.split_candidates(
                bg, bh, reg_lambda, reg_alpha, min_child_weight,
                max_delta_step,
                self._block(feature_mask if feature_mask is not None
                            else np.ones(self.n_features, dtype=bool), False),
                None if mono is None else self._block(mono, 0),
                (None if cat_features is None
                 else self._block(cat_features, False)),
                node_bounds, f0=self.f0).ravel()
        if fb:
            # global feature 0's node sums, read from the first block
            table[-2:] = hg[0, 0].sum(), hh[0, 0].sum()
        q = self.comm.owners
        allt = self.comm.allgather(table[:size if fb else 0],
                                   q * size).reshape(q, size)
        self._root = (float(allt[0, -2]), float(allt[0, -1]))
        out = core.pick_splits(
            allt[:, :-2].reshape(q, N, 2, core.CAND_FIELDS),
            np.ascontiguousarray(hg[:, fb:]), np.ascontiguousarray(hh[:, fb:]),
            self.cat_fids, reg_lambda, reg_alpha, gamma, min_child_weight,
            max_delta_step, feature_mask, monotone, max_cat_to_onehot,
            max_cat_threshold, n_bins_feat)
        _PROF["split"] += time.perf_counter() - t0
        return out

    def root_sums(self, hg, hh) -> tuple[float, float]:
        return self._root


class _AllreduceMultiHistBuilder(_NumpyMultiHistBuilder):
    """K-target stacked histograms + one allreduce (multi_output_tree)."""

    def __init__(self, Xb, cuts, n_bins, K, comm):
        super().__init__(Xb, cuts, n_bins, K)
        self.comm = comm

    def build(self, tree: core.Tree, nids: list[int]):
        t0 = time.perf_counter()
        hg, hh = super().build(tree, nids)
        t1 = time.perf_counter()
        red = self.comm.allreduce_sum(np.stack([hg, hh]))
        _PROF["hist_local"] += t1 - t0
        _PROF["hist_allreduce"] += time.perf_counter() - t1
        _PROF["allreduce_calls"] += 1
        _PROF["allreduce_bytes"] += 2 * hg.nbytes
        return red[0], red[1]


def _mvs_threshold_allreduce(comm, rag: np.ndarray, subsample: float,
                             coarse: int = 512,
                             max_rounds: int = 60) -> float:
    """Distributed MVS threshold: the u with
    ``sum_i min(1, rag_i / u) = floor(n_global * subsample)`` over ALL
    workers' rows (reference CalculateThreshold, sampler.cc — a
    single-machine sorted binary search there; here an iterative
    histogram refinement, one (count, sum) + one (min, max) allreduce
    per round, payload O(coarse) float64 — no row ever moves).

    Invariant per round: the breakpoint pair lies in the active value
    interval (lo, hi]; ``S_lo`` = global sum of rag <= lo, ``N_hi`` =
    global count of rag > hi.  Let F(t) = S(<=t)/t + N(>t) — the
    sampled mass at u=t, decreasing in t.  The first nonempty bin
    boundary with F <= k either yields the closed form
    u = S(prev)/(k - N(>prev)) on the value gap before it, or the
    breakpoint is among that bin's values and the search recurses into
    the bin; a single-distinct-value bin resolves exactly.  Every
    worker consumes identical allreduced statistics, so every worker
    computes the IDENTICAL u."""
    stats = comm.allreduce_sum(np.array([float(len(rag)),
                                         float(rag.sum())]))
    n_g, s_g = stats[0], stats[1]
    k = float(int(n_g * subsample))
    if k <= 0:
        return float("inf")
    mn_l = float(rag.min()) if len(rag) else np.inf
    mx_l = float(rag.max()) if len(rag) else -np.inf
    mn, mx = comm.allreduce_minmax(np.array([mn_l]), np.array([mx_l]))
    gmin, gmax = float(mn[0]), float(mx[0])
    if not np.isfinite(gmin) or gmin == gmax:
        # no rows anywhere / all rag equal: reference degenerate
        # fallback total / k
        return float(s_g / k) if s_g > 0 else float("inf")
    lo = np.nextafter(gmin, -np.inf)      # (lo, hi] holds every value
    hi = gmax
    S_lo, N_hi = 0.0, 0.0
    for _ in range(max_rounds):
        width = (hi - lo) / coarse
        in_iv = (rag > lo) & (rag <= hi)
        v = rag[in_iv]
        if width > 0:
            b = np.minimum(((v - lo) / width).astype(np.int64), coarse - 1)
        else:
            b = np.zeros(len(v), dtype=np.int64)
        cnt = np.bincount(b, minlength=coarse).astype(np.float64)
        sm = np.bincount(b, weights=v, minlength=coarse) if len(v) \
            else np.zeros(coarse)
        mns = np.full(coarse, np.inf)
        mxs = np.full(coarse, -np.inf)
        if len(v):
            np.minimum.at(mns, b, v)
            np.maximum.at(mxs, b, v)
        red = comm.allreduce_sum(np.concatenate([cnt, sm]))
        cnt, sm = red[:coarse], red[coarse:]
        mns, mxs = comm.allreduce_minmax(mns, mxs)
        ne = np.nonzero(cnt > 0.0)[0]          # nonempty bins, ascending
        if len(ne) == 0:
            # no breakpoints left in the interval: closed form
            denom = k - N_hi
            return float(S_lo / denom) if denom > 0 else float(s_g / k)
        pre_s = S_lo + np.cumsum(sm[ne])       # S(<= mxs[ne_m])
        post_n = N_hi + (np.cumsum(cnt[ne][::-1])[::-1] - cnt[ne])  # N(> mxs)
        t = mxs[ne]
        with np.errstate(divide="ignore", invalid="ignore"):
            Fv = np.where(t > 0.0, pre_s / np.where(t > 0.0, t, 1.0)
                          + post_n, np.inf)
        hit = np.nonzero(Fv <= k)[0]
        if len(hit) == 0:
            # even u = hi leaves more than k expected rows: breakpoint
            # pair is (hi, next value above], closed form
            denom = k - N_hi
            return float(pre_s[-1] / denom) if denom > 0 else float(s_g / k)
        m = int(hit[0])
        j = int(ne[m])
        prev_s = S_lo + (pre_s[m] - sm[j] - S_lo)   # S(<= prev boundary)
        n_from_j = N_hi
        for jj in ne[m:]:
            n_from_j += cnt[jj]
        # candidate: breakpoint in the empty gap below bin j's values
        denom = k - n_from_j
        if denom > 0:
            u0 = prev_s / denom
            prev_t = mxs[ne[m - 1]] if m > 0 else lo
            if prev_t < u0 <= mns[j]:
                return float(u0)
        # breakpoint among bin j's values: recurse into the bin
        S_lo = prev_s
        N_hi = N_hi + float(post_n[m] - N_hi)       # N(> mxs[j])
        if mns[j] == mxs[j]:
            # single distinct value v0 (count c): below-or-above v0
            v0, c = float(mns[j]), float(cnt[j])
            d1 = k - (N_hi + c)
            if d1 > 0 and 0.0 < S_lo / d1 <= v0:
                return float(S_lo / d1)
            d2 = k - N_hi
            if d2 > 0:
                return float((S_lo + c * v0) / d2)
            return float(s_g / k)
        lo = np.nextafter(float(mns[j]), -np.inf)
        hi = float(mxs[j])
    denom = k - N_hi
    return float(S_lo / denom) if denom > 0 else float(s_g / k)


def _leaf_quantile_refresh(comm, tree, Xb, resid, w, alpha, eta, n_hist=2048,
                           leaf=None):
    """UpdateTreeLeaf for CUSTOM adaptive objectives in barrier mode
    (no built-in reference objective is adaptive — this reference has no
    UpdateTreeLeaf; kept for custom objectives that set adaptive_alpha;
    cf. upstream-style
    `regression_obj.cu:745-753`): per-leaf weighted residual quantiles
    from ONE min/max allreduce + ONE histogram allreduce.  Quantile error
    is bounded by (max-min)/n_hist — the same accuracy class as the
    DataFrame path's percentile_approx."""
    n_nodes = tree.n_nodes
    if len(resid):
        mn_l, mx_l = float(resid.min()), float(resid.max())
    else:
        mn_l, mx_l = np.inf, -np.inf
    mn, mx = comm.allreduce_minmax(np.array([mn_l]), np.array([mx_l]))
    mn, mx = float(mn[0]), float(mx[0])
    if not np.isfinite(mn):
        return
    scale = (mx - mn) or 1.0
    hist = np.zeros(n_nodes * n_hist)
    if len(resid):
        if leaf is None:
            leaf = core.tree_leaf_ids(tree, Xb, binned=True)
        b = np.clip(((resid - mn) / scale * n_hist).astype(np.int64),
                    0, n_hist - 1)
        ww = w if w is not None else np.ones(len(resid))
        hist = np.bincount(leaf.astype(np.int64) * n_hist + b, weights=ww,
                           minlength=n_nodes * n_hist)
    hist = comm.allreduce_sum(hist).reshape(n_nodes, n_hist)
    for nid in range(n_nodes):
        if tree.left[nid] != -1:
            continue
        row = hist[nid]
        tot = row.sum()
        if tot <= 0:
            continue
        cum = np.cumsum(row)
        t = alpha * tot
        i = int(np.searchsorted(cum, t))
        i = min(i, n_hist - 1)
        prev = cum[i - 1] if i > 0 else 0.0
        frac = (t - prev) / row[i] if row[i] > 0 else 0.5
        tree.leaf_value[nid] = eta * (mn + (i + frac) * scale / n_hist)


def _dart_deltas(w_old: list[float], factor: float,
                 train: bool) -> list[float]:
    """Margin weight deltas of a DART round's rescaled dropped rounds
    (pre-rescale weights ``w_old``).  The training margin adds
    ``w * (f - 1)``, the eval margins ``(w * f) * (1 - 1/f)``:
    algebraically equal, bitwise distinct, and resume replays each
    margin with its own form."""
    return [w * (factor - 1.0) if train
            else (w * factor) * (1.0 - 1.0 / factor) for w in w_old]


def supports_barrier(p: TrainParams, obj, evals, callbacks,
                     has_qid: bool = False) -> tuple[bool, str]:
    """``(True, "")`` when this trainer can run the fit, else ``(False,
    why)``; `plans.booster._choose_path` is its one caller."""
    from xgboost_spark.functions.metrics import barrier_metric_supported
    if p.booster not in ("gbtree", "dart"):
        return False, f"booster={p.booster} uses the DataFrame path"
    if p.booster == "dart" and p.multi_strategy == "multi_output_tree":
        return False, "dart + multi_output_tree is unsupported"
    if obj.needs_global_sort:
        return False, "survival:cox needs a global sort (DataFrame path)"

    if callbacks:
        return False, "callbacks run on the DataFrame path"
    if evals:
        from xgboost_spark.plans.booster import _effective_metrics
        metric_names = _effective_metrics(p, obj)
        for mname in metric_names:
            if not barrier_metric_supported(mname, has_qid):
                return False, (f"metric {mname!r} needs a global sort "
                               "(DataFrame path)")
    return True, ""


def fit_barrier(params: TrainParams, obj, raw: DataFrame, fnames: list[str],
                cuts: list[np.ndarray], cat_mask, base_score: float,
                mono, isets, n_part: int,
                evals_raw: list[tuple[DataFrame, str]] | None = None,
                prev_state: dict | None = None, maximize: bool = False,
                ) -> tuple[list[list[core.Tree]], dict, int | None,
                           list[float]]:
    """Run the boosting loop in one barrier job.

    Eval sets ride in the SAME job: tagged with a ``_role`` column,
    co-partitioned with the training rows, re-binned with the training
    cuts (QuantileDMatrix ``ref=`` semantics); per-round metrics are
    allreduced partial sums (`functions/metrics.py metric_global_np`,
    reference metric allreduce `src/metric/elementwise_metric.cu`) or,
    for AUC/AUC-PR, gathered per-score tables swept into the exact
    global curve, so early stopping decides identically on every rank.
    ``maximize`` is the early-stopping direction, resolved on the driver.

    Returns (trees per round, eval history, best_iteration, tree weights).
    """
    p = params
    K = p.n_groups
    spark = raw.sparkSession
    sc = spark.sparkContext
    n_part = max(1, min(n_part, sc.defaultParallelism))  # barrier needs a slot per task
    has_w = "weight" in raw.columns
    has_bm = "base_margin" in raw.columns
    has_q = "qid" in raw.columns
    has_b = obj.needs_bounds
    has_y = "label" in raw.columns
    evals_raw = evals_raw or []
    eval_names = [nm for _, nm in evals_raw]
    from xgboost_spark.plans.booster import _effective_metrics
    metric_names = _effective_metrics(p, obj) if evals_raw else []
    esr = p.early_stopping_rounds

    need = list(fnames)
    for c, flag in (("label", has_y), ("weight", has_w), ("base_margin", has_bm),
                    ("qid", has_q), ("label_lower", has_b), ("label_upper", has_b)):
        if flag:
            need.append(c)
    sel = raw.selectExpr(*need, "0 AS _role")
    for i, (ev, _nm) in enumerate(evals_raw):
        # tolerate absent optional cols on eval frames
        have = set(ev.columns)
        sel = sel.unionByName(ev.selectExpr(
            *[c if c in have else
              f"CAST({'1.0D' if c == 'weight' else '0.0D'} AS DOUBLE) AS {c}"
              for c in need], f"{i + 1} AS _role"))
    need_r = need + ["_role"]
    _mpb_restore = None
    if has_q:
        # ranking co-locates query groups: the hash shuffle is the point
        sel = sel.repartition(n_part, "qid")
    else:
        # non-ranking training doesn't care where a row lives — any
        # task imbalance only idles cores for one barrier level, while
        # a blanket repartition() round-trips the ENTIRE training set
        # through the shuffle before the first gradient (measured sf10:
        # scan+barrier 28-35 s vs 51-99 s with the repartition; at
        # cluster scale it's a full-data shuffle per fit).  Barrier
        # stages forbid coalesce() [SPARK-24820], so the shuffle-free
        # path is to adopt the scan's OWN splits: when they exceed the
        # slot budget, grow spark.sql.files.maxPartitionBytes (re-read
        # at action-planning time, so the SAME plan re-splits) until
        # they fit.  Row-group-starved inputs (small files: one row
        # group = one split) still pay the repartition to CREATE
        # parallelism — which also keeps the driver-gate SFs
        # bit-identical to before this optimization.
        spark = raw.sparkSession

        def _np_in() -> int:
            return sel.rdd.getNumPartitions()

        key = "spark.sql.files.maxPartitionBytes"

        def _parse_bytes(v: str) -> int:
            s_ = str(v).strip().lower()
            for suf, mult in (("pb", 1 << 50), ("tb", 1 << 40),
                              ("gb", 1 << 30), ("mb", 1 << 20),
                              ("kb", 1 << 10), ("p", 1 << 50),
                              ("t", 1 << 40), ("g", 1 << 30),
                              ("m", 1 << 20), ("k", 1 << 10), ("b", 1)):
                if s_.endswith(suf):
                    return int(float(s_[: -len(suf)]) * mult)
            return int(s_)

        np_in = _np_in()
        if np_in > n_part:
            _mpb_restore = spark.conf.get(key, "134217728")
            mpb = _parse_bytes(_mpb_restore)
            for _ in range(4):
                mpb = int(mpb * (np_in / n_part) * 1.05)
                spark.conf.set(key, str(mpb))
                np_in = _np_in()
                if np_in <= n_part:
                    break
        if n_part * 0.6 <= np_in <= n_part:
            n_part = np_in                      # scan splits ARE the tasks
        else:
            # row-group-starved small input (one split per file can't be
            # subdivided) or resize over/undershot: full shuffle
            if _mpb_restore is not None:
                spark.conf.set(key, _mpb_restore)
                _mpb_restore = None
            sel = sel.repartition(n_part)

    # everything from here through the barrier action runs under one
    # try/finally: an exception ANYWHERE after the maxPartitionBytes
    # mutation above (setup validation, broadcasts, the action itself)
    # must still restore the session conf — see the finally below
    try:
        bc_cuts = sc.broadcast([np.asarray(c, dtype=np.float64) for c in cuts])
        bc_cat = sc.broadcast(cat_mask)
        bc_prev = sc.broadcast(prev_state) if prev_state is not None else None
        seed = p.seed

        # fault tolerance (TrainParams.checkpoint_dir): rank 0 periodically
        # persists the model-so-far; a retried barrier job — or a re-issued
        # fit() after a failure — resumes from it instead of round 0.
        # Exactness: plain boosting replays margins from the stored trees
        # (immutable history); DART re-weights historical trees, so its
        # checkpoint carries a per-round dropout/rescale EVENT LOG and
        # resume replays the exact float-op sequence (same dw expressions,
        # same order) — bit-identical either way.  (dart + multi_output_tree
        # and multi_output_tree + adaptive leaves never reach this trainer.)
        ckpt_path = None
        if p.checkpoint_dir:
            os.makedirs(p.checkpoint_dir, exist_ok=True)
            ckpt_path = os.path.join(p.checkpoint_dir, "barrier_ckpt.pkl")
        # fingerprint of everything resume-exactness depends on: a stale
        # checkpoint from a DIFFERENT configuration (params, features,
        # partitioning, data intercept) sharing the dir must be rejected,
        # not silently resumed into the wrong model
        ckpt_fp = hashlib.md5(repr((
            sorted((k, repr(v)) for k, v in vars(p).items()
                   if k != "checkpoint_dir"),
            list(fnames), int(n_part),
            np.asarray(base_score, dtype=np.float64).tolist(), bool(maximize),
        )).encode()).hexdigest()

        from xgboost_spark.functions.metrics import metric_global_np
        from xgboost_spark.plans.booster import (
            _compute_grads, _early_stop, dart_drop, dart_weights, parse_rows)

        prof_path_cfg = os.environ.get("SPARK_GRAFT_PROF")

        # Driver-side rendezvous server (round-15 optimization): every
        # BarrierTaskContext.barrier()/allGather() RPC costs a fixed
        # ~1.0 s in this Spark build (the coordinator reply is polled
        # on a 1 s tick), which was the whole "rendezvous floor" of the
        # fit profile.  The ranks exchange (ip, port) through this
        # millisecond-latency server instead; one server per fit, so
        # concurrent fits never cross-wire.  p=1 jobs skip rendezvous
        # entirely (rank count is local task metadata).
        rdv = None
        rdv_addr = None
        if n_part > 1:
            from xgboost_spark.collective import RendezvousServer
            rdv = RendezvousServer(n_part)
            rdv_addr = rdv.address
            # executors reach the driver at spark.driver.host (the
            # address every executor already uses for RPC); interface
            # sniffing is only the local-mode fallback
            drv_host = sc.getConf().get("spark.driver.host", None)
            if drv_host:
                rdv_addr = (drv_host, rdv_addr[1], rdv_addr[2])

        def train_fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import BarrierTaskContext

            # bind the EXECUTOR module's _PROF (cloudpickle copies
            # module globals referenced by a nested function by value,
            # so without this the hist builders — imported by reference
            # — would write to a different dict than the one dumped)
            from xgboost_spark.plans.barrier import _PROF
            ctx = BarrierTaskContext.get()
            _PROF.clear()
            _t_task0 = time.perf_counter()
            comm = MeshComm.create(ctx, rendezvous=rdv_addr)
            _PROF["rendezvous"] = time.perf_counter() - _t_task0
            try:
                cuts_l = bc_cuts.value
                cm = bc_cat.value
                _t_sec = time.perf_counter()
                parts = [pdf for pdf in it if len(pdf)]
                if parts:
                    full = pd.concat(parts, ignore_index=True)
                else:
                    full = pd.DataFrame({c: pd.Series([], dtype="float64")
                                         for c in need_r})

                Fn = len(fnames)
                st_prev = bc_prev.value if bc_prev is not None else None

                def load_rows(pdf):
                    """(Xb, y, w, q, bounds, margin) for one role's rows."""
                    return parse_rows(pdf, fnames, cuts_l, cm, K, base_score,
                                      st_prev, has_b)

                role = (full["_role"].to_numpy(dtype=np.int64)
                        if "_role" in full.columns else np.zeros(len(full), np.int64))
                _PROF["materialize"] = time.perf_counter() - _t_sec
                _t_sec = time.perf_counter()
                Xb, y, w, q, bounds, margin = load_rows(full[role == 0])
                n = len(y)
                ev_states = [load_rows(full[role == i + 1])
                             for i in range(len(eval_names))]
                _PROF["bin_load"] = time.perf_counter() - _t_sec

                n_bins = max(len(c) for c in cuts_l)
                is_multi = K > 1 and p.multi_strategy == "multi_output_tree"
                is_approx = p.tree_method == "approx"
                # const-hess sketch-once cadence (updater_approx.cc:47-52
                # BatchSpec: regen = !const_hess): round 0's coarse
                # binning is cached and reused for every later round
                approx_cache = None

                def approx_group(bnd):
                    """(builder over the coarse bins, bounds) of one
                    output group's `core.approx_bounds` binning."""
                    cuts_c = core.coarse_cuts(cuts_l, bnd)
                    return (_AllreduceHistBuilder(
                        core.approx_rebin(Xb, bnd), cuts_c,
                        max(len(c) for c in cuts_c), comm, cm), bnd)

                builder = (_AllreduceMultiHistBuilder(Xb, cuts_l, n_bins, K, comm)
                           if is_multi
                           else _AllreduceHistBuilder(Xb, cuts_l, n_bins, comm,
                                                      cm))
                fw = (np.asarray(p.feature_weights, dtype=np.float64)
                      if p.feature_weights is not None else None)
                rng = np.random.default_rng(p.seed)
                n_forest = max(p.num_parallel_tree, 1)
                is_dart = p.booster == "dart"
                tree_weights: list[float] = []
                trees: list[list[core.Tree]] = []
                history: dict[str, dict[str, list[float]]] = {}
                best_it = None
                best_metric = None
                start_round = 0
                # DART resume needs the exact per-round op sequence, not
                # just final weights: one entry per completed round with the
                # dropped tree indices, their PRE-rescale weights, the
                # rescale factor and the new tree's weight
                dart_log: list[dict] = []
                if ckpt_path and os.path.exists(ckpt_path):
                    # resume: every rank reads the same checkpoint and
                    # replays the stored trees over its local rows in the
                    # EXACT accumulation order of the incremental updates,
                    # so margins — and therefore every subsequent round —
                    # are bit-identical to an uninterrupted run.  rng and
                    # objective state (e.g. lambdarank position-bias
                    # tables) ride along so stateful draws continue
                    # deterministically.
                    with open(ckpt_path, "rb") as fh:
                        ck = pickle.load(fh)
                    if ck.get("fingerprint") != ckpt_fp:
                        raise ValueError(
                            "checkpoint_dir holds a checkpoint from a "
                            "different fit configuration (params/features/"
                            "partitioning mismatch); refusing to resume — "
                            "clear the directory or use a distinct one per "
                            "fit")
                    if not 0 < ck["round"] < p.num_boost_round:
                        raise ValueError(
                            f"checkpoint round {ck['round']} is outside "
                            f"(0, {p.num_boost_round}); a completed or "
                            "corrupt checkpoint cannot be resumed")
                    trees = ck["trees"]
                    tree_weights = ck["tree_weights"]
                    history = ck["history"]
                    best_it, best_metric = ck["best_it"], ck["best_metric"]
                    rng = ck["rng"]
                    obj.__dict__.update(ck["obj_state"])
                    start_round = ck["round"]
                    dart_log = ck.get("dart_log", [])
                    replay = [(Xb, margin, True)] + [(st[0], st[5], False)
                                                     for st in ev_states]
                    for ri, rt in enumerate(trees):
                        # each round as the live loop applied it: its
                        # DART rescale deltas (same float forms), then
                        # the round itself
                        ev = (dart_log[ri] if is_dart and ri < len(dart_log)
                              else {"dropped": [], "w_old": [], "factor": 1.0,
                                    "w_new": tree_weights[ri]})
                        for Xc, mc, is_train_m in replay:
                            core.apply_model_margin(
                                mc, [trees[d] for d in ev["dropped"]] + [rt],
                                _dart_deltas(ev["w_old"], ev["factor"],
                                             is_train_m) + [ev["w_new"]],
                                Xc, True, K)
                    if (is_approx and K == 1 and obj.const_hess
                            and ck.get("approx_bounds") is not None):
                        # rebuild the frozen round-0 coarse binning from
                        # the persisted bounds so the resumed fit keeps
                        # the original cuts (BatchSpec regen=!const_hess)
                        approx_cache = [approx_group(ck["approx_bounds"])]
                for it_round in range(start_round, p.num_boost_round):
                    # DART dropout: selection draws are deterministic from
                    # the shared rng, margin corrections are local rows
                    dropped = dart_drop(p, rng, tree_weights)
                    m_eff = core.apply_model_margin(
                        margin.copy() if dropped else margin,
                        [trees[ri] for ri in dropped],
                        [-tree_weights[ri] for ri in dropped], Xb, True, K)
                    if obj.needs_global_scale:
                        # per-iteration global residual scale (reference
                        # MAE/quantile GlobalSum, regression_obj.cu:655-660 /
                        # quantile_obj.cu:139-142): one tiny allreduce of the
                        # per-target sqrt-residual sums, every worker then
                        # computes gradients with the SAME scale
                        m_sc = m_eff if K > 1 else m_eff[:, 0]
                        obj.set_scale(comm.allreduce_sum(
                            obj.scale_stats(y, m_sc, w)))
                    is_mvs = (p.subsample < 1.0
                              and p.sampling_method == "gradient_based")
                    _t_sec = time.perf_counter()
                    g, h = _compute_grads(obj, y, m_eff, w, q, seed + it_round,
                                          1.0 if is_mvs else p.subsample, K,
                                          bounds=bounds)
                    _PROF["grads"] += time.perf_counter() - _t_sec
                    if is_mvs:
                        # MVS gradient-based sampling (reference
                        # src/tree/hist/sampler.cc GradientBasedSampling):
                        # the threshold u is GLOBAL — every worker derives
                        # the identical u from allreduced histograms, then
                        # keeps row i w.p. min(1, rag_i/u) and rescales its
                        # gradients by 1/p (expectation-preserving)
                        rag = core.mvs_reg_abs_grad(g, h)
                        u = _mvs_threshold_allreduce(comm, rag, p.subsample)
                        mvs_rng = np.random.default_rng(
                            ((seed + it_round) * 1_000_003
                             + getattr(comm, "rank", 0)) & 0x7FFFFFFF)
                        core.apply_mvs(g, h, rag, u, mvs_rng)
                    if getattr(obj, "unbiased", False):
                        # position-bias update: sum this round's pair-cost
                        # accumulators over all workers, then every worker
                        # applies the SAME t+/t- tables (one tiny allreduce,
                        # mirroring the reference's distributed estimation)
                        costs = comm.allreduce_sum(obj.take_round_costs())
                        obj.apply_position_bias(costs)
                    fmask = None
                    if p.colsample_bytree < 1.0:
                        fmask = core._rng_mask(rng, Fn, p.colsample_bytree, weights=fw)
                    approx_groups = approx_cache
                    if is_approx and approx_groups is None:
                        # per-group hessian-weighted re-quantization: the
                        # reference regenerates the GHistIndexMatrix once
                        # per group — gbtree BoostNewTrees calls the
                        # updater per group and each Update re-sketches
                        # with THAT group's hessians
                        # (updater_approx.cc:283-298).  Const-hess K=1
                        # objectives (squarederror) freeze round 0's
                        # binning (BatchSpec regen = !const_hess,
                        # updater_approx.cc:47-52).  (approx +
                        # multi_output_tree is rejected at fit entry,
                        # matching CHECK(!IsMultiTarget),
                        # updater_approx.cc:166.)
                        approx_groups = [approx_group(core.approx_bounds(
                            comm.allreduce_sum(
                                core.approx_hist(Xb, h[:, k], n_bins)),
                            cuts_l, cm, p.max_bin)) for k in range(K)]
                        if K == 1 and obj.const_hess:
                            approx_cache = approx_groups
                    _t_sec = time.perf_counter()
                    round_trees: list[core.Tree] = []
                    if is_multi:
                        builder.set_grad(g, h)
                        tree = core.grow_tree_multi(builder, p, rng,
                                                    feature_mask_tree=fmask)
                        round_trees = [tree]
                    else:
                        for k in range(K):
                            if is_approx:
                                builder = approx_groups[k][0]
                            builder.set_grad(g[:, k], h[:, k])
                            forest = []
                            for _ in range(n_forest):
                                # root stats derive from the allreduced root
                                # histogram, matching the DataFrame path
                                tree = core.grow_tree(
                                    builder, p, rng,
                                    feature_mask_tree=fmask, monotone=mono,
                                    interaction_sets=isets, cat_features=cm)
                                forest.append(tree)
                            if n_forest > 1:
                                for t in forest:
                                    t.leaf_value = [v / n_forest
                                                    for v in t.leaf_value]
                            round_trees.extend(forest)
                    _PROF["grow"] += time.perf_counter() - _t_sec
                    _t_sec = time.perf_counter()
                    if is_approx:
                        # back to the global fine bin space: all later
                        # traversals use the one persistent binned matrix
                        # (so the coarse builders' cached leaf ids no
                        # longer match the trees)
                        for ti, t in enumerate(round_trees):
                            core.remap_split_bins(t, approx_groups[ti // n_forest][1])
                    if obj.adaptive_alpha is not None:
                        aa = obj.adaptive_alpha
                        for ti, t in enumerate(round_trees):
                            k_r = ti // n_forest
                            _leaf_quantile_refresh(
                                comm, t, Xb, y - margin[:, k_r], w,
                                aa[k_r] if isinstance(aa, tuple) else aa, p.eta,
                                leaf=(builder.leaf_assignment(t)
                                      if not is_approx else None))
                    # DART normalization (reference normalize_type semantics)
                    w_new, factor = dart_weights(p, len(dropped))
                    w_old = [tree_weights[ri] for ri in dropped]
                    if is_dart:
                        dart_log.append({
                            "dropped": list(dropped), "w_old": w_old,
                            "factor": factor, "w_new": w_new})
                    core.apply_model_margin(
                        margin, [trees[ri] for ri in dropped],
                        _dart_deltas(w_old, factor, True), Xb, True, K)
                    for ri in dropped:
                        tree_weights[ri] *= factor
                    # the builder's cached incremental assignment: only
                    # the final level routes (full re-traversal was a
                    # per-round O(n*depth) tax in the sf10 profile)
                    core.apply_model_margin(
                        margin, [round_trees], [w_new], Xb, True, K,
                        lids=(None if is_approx else
                              (builder.leaf_assignment(t)
                               for t in round_trees)))
                    trees.append(round_trees)
                    tree_weights.append(w_new)
                    _PROF["margin_update"] += time.perf_counter() - _t_sec
                    _t_sec = time.perf_counter()
                    # eval-set margins + allreduced metrics (EvalOneIter,
                    # reference learner.cc:1164-1194): the dropped
                    # rounds' rescale deltas, then the new round
                    last = None
                    for ei, (Xe, ye, we, qe, be, me) in enumerate(ev_states):
                        core.apply_model_margin(
                            me, [trees[ri] for ri in dropped] + [round_trees],
                            _dart_deltas(w_old, factor, False) + [w_new],
                            Xe, True, K)
                        for mname in metric_names:
                            val = metric_global_np(
                                comm, mname, ye, me, we, bounds=be, obj=obj,
                                qid=qe, exp_gain=p.ndcg_exp_gain)
                            history.setdefault(eval_names[ei], {}).setdefault(
                                mname, []).append(val)
                            last = val
                    _PROF["eval"] += time.perf_counter() - _t_sec
                    if esr and last is not None:
                        best_metric, best_it, stop = _early_stop(
                            last, it_round, best_metric, best_it, maximize, esr)
                        if stop:
                            break
                    if (ckpt_path and comm.rank == 0
                            and (it_round + 1) % max(p.checkpoint_interval, 1) == 0
                            and (it_round + 1) < p.num_boost_round):
                        # atomic write (tmp + rename): a task killed
                        # mid-write can never leave a torn checkpoint
                        tmp = ckpt_path + ".tmp"
                        with open(tmp, "wb") as fh:
                            pickle.dump({"round": it_round + 1, "trees": trees,
                                         "tree_weights": tree_weights,
                                         "history": history,
                                         "best_it": best_it,
                                         "best_metric": best_metric,
                                         "rng": rng,
                                         "fingerprint": ckpt_fp,
                                         "dart_log": dart_log,
                                         # const-hess approx: the frozen
                                         # round-0 binning rides along so
                                         # a resume keeps the same cuts
                                         "approx_bounds": (
                                             approx_cache[0][1]
                                             if approx_cache is not None
                                             else None),
                                         "obj_state": obj.__dict__}, fh)
                        os.replace(tmp, ckpt_path)
                _PROF["task_total"] = time.perf_counter() - _t_task0
                prof_path = prof_path_cfg or os.environ.get("SPARK_GRAFT_PROF")
                if prof_path and comm.rank == 0:
                    import json as _json
                    with open(prof_path, "w") as fh:
                        _json.dump({k: (round(v, 4) if isinstance(v, float)
                                        else v)
                                    for k, v in _PROF.items()}, fh)
                if comm.rank == 0:
                    yield pd.DataFrame(
                        {"model": [pickle.dumps(
                            (trees, history, best_it, tree_weights))]})
            finally:
                comm.close()

        try:
            rows = sel.mapInPandas(train_fn, schema="model binary",
                                   barrier=True).collect()
        finally:
            if rdv is not None:
                rdv.close()
    finally:
        if _mpb_restore is not None:
            # the scan-resize conf is only needed while THIS action
            # plans; restore so later jobs see the session default —
            # on EVERY exit path, including exceptions raised anywhere
            # between the mutation and the action (setup validation,
            # broadcasts, a failed barrier job).  Caveat: the mutation
            # is session-global while it lasts, so a concurrent query
            # planned in the SAME session during a fit would see the
            # inflated value — acceptable for this engine's one-fit-at-
            # a-time sessions; migrate to a per-relation read option if
            # Spark ever offers one.
            raw.sparkSession.conf.set(
                "spark.sql.files.maxPartitionBytes", _mpb_restore)
    if not rows:
        raise RuntimeError("barrier training returned no model")
    out = pickle.loads(bytes(rows[0]["model"]))
    # a COMPLETED fit owns no resume state — only a failed/killed one
    # leaves its checkpoint behind (streaming checkpointLocation
    # semantics: re-running with the same dir resumes the failure).
    # checkpoint_dir's contract is a DRIVER-VISIBLE shared filesystem
    # (same as a streaming checkpointLocation); if an exotic mount hides
    # it from the driver, the fingerprint guard above still rejects the
    # leftover on any later differently-configured fit.
    if ckpt_path and os.path.exists(ckpt_path):
        try:
            os.remove(ckpt_path)
        except OSError:
            pass
    return out
