"""Single-node vectorized NumPy hist-GBDT.

Purpose: (a) correctness oracle for the distributed trainer — both use
the same `core.py` split-search/growth code, so any disagreement
isolates the distributed histogram/margin plumbing; (b) measured
performance BASELINE proxy (pip xgboost is not installed in this image;
reference algorithm: `src/tree/updater_quantile_hist.cc:662`).

Semantics follow the reference `tree_method=hist` pipeline: global
quantile cuts -> quantized matrix -> per-level {histogram, split
search, partition} -> leaf weights scaled by eta.
"""

from __future__ import annotations

import numpy as np

from xgboost_spark import core
from xgboost_spark.config import TrainParams
from xgboost_spark.functions.objectives import get_objective


class _NumpyHistBuilder(core.HistBuilder):
    def __init__(self, Xb: np.ndarray, cuts: list[np.ndarray], n_bins: int):
        self.Xb = Xb                       # (n, F) int16, MISSING_BIN = missing
        self.cuts = cuts
        self.n_features = Xb.shape[1]
        self.n_bins = n_bins
        self.g = None
        self.h = None

    def set_grad(self, g: np.ndarray, h: np.ndarray):
        self.g, self.h = g, h

    def split_value(self, fidx: int, split_bin: int) -> float:
        return float(self.cuts[fidx][split_bin])

    def _node_assignment(self, tree: core.Tree) -> np.ndarray:
        """Incremental row->node routing: rows resume from their node of
        the previous build() call, so each row is routed once per new
        LEVEL instead of root-to-leaf on every call (was 55% of
        grow-tree wall at 1.9M rows/task — the round-10 sf10 profile).
        Holding the Tree reference makes the identity check sound (a
        dead tree's id can't be reused while we still reference it);
        any new tree resets to the root."""
        if getattr(self, "_part_tree", None) is not tree:
            self._part_tree = tree
            self._node_of_row = np.zeros(len(self.Xb), dtype=np.int32)
        self._node_of_row = core.leaf_ids_from_arrays(
            tree.finalize_arrays(), self.Xb, binned=True,
            node0=self._node_of_row)
        return self._node_of_row

    def leaf_assignment(self, tree: core.Tree) -> np.ndarray:
        """Final per-row leaf ids for a tree grown against this builder
        — advances the cached incremental assignment (only the last
        level routes), replacing the full root-to-leaf re-traversal the
        per-round margin update used to pay.  Valid because growth only
        splits leaves (never removes nodes); callers must treat the
        returned array as read-only."""
        return self._node_assignment(tree)

    def _feature_cols(self) -> np.ndarray:
        """Transposed (F, n) uint16 copy of the binned matrix with
        missing premapped to bin B — built once per builder.  The hist
        kernel reads ONE feature column per bincount pass; on the
        C-ordered (n, F) matrix that read is strided (touching every
        cache line of the whole matrix per feature), while a contiguous
        column costs exactly 2n bytes — the round-10 sf10 profile's
        DRAM-bandwidth fix.  Premapping missing also drops the
        per-feature astype(int64) + np.where temporaries (3 full-width
        allocations per feature per level)."""
        cols = getattr(self, "_cols", None)
        if cols is None:
            cols = np.ascontiguousarray(
                np.where(self.Xb == core.MISSING_BIN, self.n_bins,
                         self.Xb).T.astype(np.uint16))
            self._cols = cols
        return cols

    #: selected-row fraction above which the no-gather key path wins
    #: (measured 1.9M x 14 x 256: fused 0.17s vs gather 0.26s at 100%
    #: selection; gather 0.10s vs fused 0.15s at 50% — the subtraction
    #: trick's usual regime.  Crossover ~0.7.)
    _FUSED_MIN_FRAC = 0.75

    def _hist_keys(self, tree: core.Tree, nids: list[int]):
        """Plan the per-feature bincount keys: returns
        ``(base, sel, n_slots)`` where ``key_f = base + cols[f][sel]``
        (``sel=None`` means all rows) and histograms occupy the first
        ``len(nids)`` of ``n_slots`` node slots.

        Two regimes, bit-identical results (np.bincount accumulates in
        row order either way):

        - dense selection (>= _FUSED_MIN_FRAC of rows, e.g. the root or
          a full level): NO row gather at all — unselected rows are
          keyed into one overflow slot that is sliced off, saving the
          (n, F) matrix + g/h copies per level;
        - sparse selection (the subtraction trick usually builds only
          the smaller siblings): compact once, then contiguous-column
          gathers per feature."""
        B = self.n_bins
        node_of_row = self._node_assignment(tree)
        slot = np.full(tree.n_nodes + 1, -1, dtype=np.int64)
        slot[np.asarray(nids, dtype=np.int64)] = np.arange(
            len(nids), dtype=np.int64)
        s = slot[node_of_row]
        nsel = int(np.count_nonzero(s >= 0))
        if nsel >= self._FUSED_MIN_FRAC * len(s):
            np.copyto(s, len(nids), where=s < 0)      # overflow slot
            return s * (B + 1), None, len(nids) + 1
        idx = np.nonzero(s >= 0)[0]
        return s[idx] * (B + 1), idx, len(nids)

    def build(self, tree: core.Tree, nids: list[int]):
        shape = (len(nids), self.n_features, self.n_bins + 1)
        hg, hh = np.empty(shape), np.empty(shape)
        self._fill(tree, nids, hg, hh)
        return hg, hh

    def _fill(self, tree: core.Tree, nids: list[int], hg, hh):
        """Write node ``i``'s histogram of feature ``f`` into
        ``hg[i, f]`` / ``hh[i, f]`` (any (NN, F, B+1) view)."""
        B = self.n_bins
        NN = len(nids)
        cols = self._feature_cols()
        base, sel, n_slots = self._hist_keys(tree, nids)
        if sel is None:
            gN, hN = self.g, self.h
        else:
            gN, hN = self.g[sel], self.h[sel]
        size = n_slots * (B + 1)
        want = NN * (B + 1)
        key = np.empty(len(base), dtype=np.int64)
        for f in range(self.n_features):
            np.add(base, cols[f] if sel is None else cols[f][sel], out=key)
            hg[:, f, :] = np.bincount(
                key, weights=gN, minlength=size)[:want].reshape(NN, B + 1)
            hh[:, f, :] = np.bincount(
                key, weights=hN, minlength=size)[:want].reshape(NN, B + 1)


class _NumpyMultiHistBuilder(_NumpyHistBuilder):
    """K-target stacked histograms for multi_output_tree (reference
    multi-target hist path, `src/tree/multi_target_tree_model.cc`)."""

    def __init__(self, Xb: np.ndarray, cuts: list[np.ndarray], n_bins: int, K: int):
        super().__init__(Xb, cuts, n_bins)
        self.K = K

    def build(self, tree: core.Tree, nids: list[int]):
        B, F, K = self.n_bins, self.n_features, self.K
        NN = len(nids)
        cols = self._feature_cols()
        base, sel, n_slots = self._hist_keys(tree, nids)
        if sel is None:
            gN, hN = self.g, self.h
        else:
            gN, hN = self.g[sel], self.h[sel]
        hg = np.empty((K, NN, F, B + 1))
        hh = np.empty((K, NN, F, B + 1))
        size = n_slots * (B + 1)
        want = NN * (B + 1)
        key = np.empty(len(base), dtype=np.int64)
        for f in range(F):
            np.add(base, cols[f] if sel is None else cols[f][sel], out=key)
            for k in range(K):
                hg[k, :, f, :] = np.bincount(
                    key, weights=gN[:, k],
                    minlength=size)[:want].reshape(NN, B + 1)
                hh[k, :, f, :] = np.bincount(
                    key, weights=hN[:, k],
                    minlength=size)[:want].reshape(NN, B + 1)
        return hg, hh


class LocalBooster:
    def __init__(self, params: TrainParams):
        self.params = params
        self.obj = get_objective(params.objective, params)
        self.trees: list[list[core.Tree]] = []   # [round][group]
        self.base_score: float = 0.0
        self.cuts: list[np.ndarray] = []

    # -- data prep ----------------------------------------------------------
    def quantize(self, X: np.ndarray, weights: np.ndarray | None = None,
                 cat_features: np.ndarray | None = None):
        self.cat_features = cat_features
        self.cuts = []
        for f in range(X.shape[1]):
            if cat_features is not None and cat_features[f]:
                n_cats = int(np.nanmax(X[:, f])) + 1 if np.isfinite(np.nanmax(X[:, f])) else 2
                self.cuts.append(np.arange(max(n_cats, 2), dtype=np.float64))
            else:
                self.cuts.append(core.make_cuts(X[:, f], self.params.max_bin, weights))
        return self.bin(X)

    def bin(self, X: np.ndarray) -> np.ndarray:
        Xb = np.empty(X.shape, dtype=np.int16)
        cf = getattr(self, "cat_features", None)
        for f in range(X.shape[1]):
            if cf is not None and cf[f]:
                Xb[:, f] = core.bin_categorical(X[:, f], len(self.cuts[f]))
            else:
                Xb[:, f] = core.bin_values(X[:, f], self.cuts[f])
        return Xb

    # -- training -----------------------------------------------------------
    def fit(self, X: np.ndarray, y: np.ndarray, sample_weight: np.ndarray | None = None,
            qid: np.ndarray | None = None,
            y_lower: np.ndarray | None = None,
            y_upper: np.ndarray | None = None,
            cat_features: np.ndarray | None = None) -> "LocalBooster":
        p = self.params
        K = p.n_groups
        Xb = self.quantize(X, cat_features=cat_features)
        n = len(y)
        if hasattr(self.obj, "weight_norm"):
            self.obj.weight_norm = 1.0   # per-fit; recomputed below
        if (self.obj.needs_qid and qid is not None
                and sample_weight is not None):
            # group-weight normalization n_groups / sum(w_group)
            # (ranking_utils.cc:37-44): one representative row per
            # group — the ranking contract keeps weights constant
            # within a group
            _, first_idx = np.unique(qid, return_index=True)
            gw = np.asarray(sample_weight, dtype=np.float64)[first_idx]
            if gw.sum() > 0:
                self.obj.weight_norm = float(len(gw) / gw.sum())
        n_bins = max(len(c) for c in self.cuts)
        builder = _NumpyHistBuilder(Xb, self.cuts, n_bins)
        if p.base_score is not None:
            self.base_score = p.base_score
        elif self.obj.needs_bounds:
            self.base_score = self.obj.base_score_bounds(y_lower, y_upper, sample_weight)
        elif K > 1 and hasattr(self.obj, "base_score_vec"):
            # vector-intercept objectives (stacked expectile): per-group
            # raw margins, NOT the scalar broadcast — group k >= 1 is a
            # GAP margin in softplus-inverse space
            self.base_score = self.obj.base_score_vec(y, sample_weight)
        else:
            self.base_score = self.obj.base_score(y, sample_weight)
        margin = np.full((n, K) if K > 1 else n, self.base_score, dtype=np.float64)
        fw = (np.asarray(p.feature_weights, dtype=np.float64)
              if p.feature_weights is not None else None)
        rng = np.random.default_rng(p.seed)
        for it in range(p.num_boost_round):
            if self.obj.needs_bounds:
                g, h = self.obj.grad_hess_bounds(y_lower, y_upper, margin, sample_weight)
            elif self.obj.needs_global_sort:
                g, h = self.obj.grad_hess_global(y, margin, sample_weight)
            elif self.obj.needs_qid and qid is not None:
                g = np.zeros(n)
                h = np.zeros(n)
                for q in np.unique(qid):
                    m = qid == q
                    gq, hq = self.obj.grad_hess_group(
                        y[m], margin[m], None if sample_weight is None else sample_weight[m],
                        seed=p.seed + it,
                    )
                    g[m], h[m] = gq, hq
            else:
                g, h = self.obj.grad_hess(y, margin, sample_weight)
            if p.subsample < 1.0 and int(n * p.subsample) < n:
                srng = np.random.default_rng(p.seed * 1_000_003 + it)
                if getattr(p, "sampling_method", "uniform") == "gradient_based":
                    # MVS gradient-based sampling (reference
                    # src/tree/hist/sampler.cc): exact threshold over
                    # the full rag array, keep w.p. min(1, rag/u),
                    # rescale kept gradients by 1/p
                    g = np.array(g, dtype=np.float64, copy=True)
                    h = np.array(h, dtype=np.float64, copy=True)
                    rag = core.mvs_reg_abs_grad(g, h)
                    k_rows = int(n * p.subsample)
                    u = core.mvs_threshold_from_parts(
                        np.sort(rag, kind="stable"), 0.0, 0,
                        float(k_rows), float(rag.sum()))
                    core.apply_mvs(g, h, rag, u, srng)
                else:
                    keep = srng.random(n) < p.subsample
                    if K > 1:
                        g = g * keep[:, None]
                        h = h * keep[:, None]
                    else:
                        g = g * keep
                        h = h * keep
            round_trees = []
            fmask = None
            if p.colsample_bytree < 1.0:
                fmask = core._rng_mask(rng, X.shape[1], p.colsample_bytree, weights=fw)
            if K > 1 and p.multi_strategy == "multi_output_tree":
                if not isinstance(builder, _NumpyMultiHistBuilder):
                    builder = _NumpyMultiHistBuilder(Xb, self.cuts, n_bins, K)
                builder.set_grad(g, h)
                tree = core.grow_tree_multi(builder, p, rng,
                                            feature_mask_tree=fmask)
                margin += core.tree_predict(tree, Xb, binned=True)
                self.trees.append([tree])
                continue
            for k in range(K):
                gk = g[:, k] if K > 1 else g
                hk = h[:, k] if K > 1 else h
                builder.set_grad(gk, hk)
                tree = core.grow_tree(
                    builder, p, rng, float(gk.sum()), float(hk.sum()),
                    feature_mask_tree=fmask, cat_features=cat_features,
                )
                if self.obj.adaptive_alpha is not None:
                    self._adaptive_leaves(tree, Xb, y, margin if K == 1 else margin[:, k])
                delta = core.tree_predict(tree, Xb, binned=True)
                if K > 1:
                    margin[:, k] += delta
                else:
                    margin += delta
                round_trees.append(tree)
            self.trees.append(round_trees)
        return self

    def _adaptive_leaves(self, tree: core.Tree, Xb, y, margin):
        """UpdateTreeLeaf for adaptive objectives (reference
        regression_obj.cu:745-753): leaf <- eta * quantile(residual)."""
        alpha = self.obj.adaptive_alpha
        leaf_of_row = core.tree_leaf_ids(tree, Xb, binned=True)
        for nid in range(tree.n_nodes):
            if tree.is_leaf(nid):
                rows = leaf_of_row == nid
                if rows.any():
                    resid = y[rows] - margin[rows]
                    tree.leaf_value[nid] = self.params.eta * float(np.quantile(resid, alpha))

    # -- inference ----------------------------------------------------------
    def predict_margin(self, X: np.ndarray) -> np.ndarray:
        K = self.params.n_groups
        n = X.shape[0]
        margin = np.full((n, K) if K > 1 else n, self.base_score, dtype=np.float64)
        for round_trees in self.trees:
            for k, tree in enumerate(round_trees):
                d = core.tree_predict(tree, X, binned=False)
                if d.ndim > 1:          # multi_output_tree: vector leaves
                    margin += d
                elif K > 1:
                    margin[:, k] += d
                else:
                    margin += d
        return margin

    def predict(self, X: np.ndarray) -> np.ndarray:
        return self.obj.pred_transform(self.predict_margin(X))

    def predict_leaf(self, X: np.ndarray) -> np.ndarray:
        out = []
        for round_trees in self.trees:
            for tree in round_trees:
                out.append(core.tree_leaf_ids(tree, X, binned=False))
        return np.stack(out, axis=1)
