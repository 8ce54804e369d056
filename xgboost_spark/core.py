"""Core numeric kernels: tree structure, gain/weight math, split search,
vectorized traversal.  Pure NumPy — no Spark imports — so the same code
runs on the driver (split search over aggregated histograms), inside
Arrow-batched UDFs (traversal), and in the local baseline booster.

Math follows the reference's public formulas
(`src/tree/param.h:233-283`):
    w*(G,H)   = -ThresholdL1(G, alpha) / (H + lambda)      (CalcWeight,
                 0 when sum_hess <= 0)
    gain(G,H) = ThresholdL1(G, alpha)^2 / (H + lambda)     (CalcGain), or at a
                 max_delta_step-clipped weight
                 -(2*G*w + (H+lambda)*w^2 + 2*alpha*|w|)   (CalcGainGivenWeight)
which reduces to G^2/(H+lambda) without L1/clipping.
Split enumeration mirrors `EnumerateSplit`
(`src/tree/hist/evaluate_splits.h:205-330`): forward and backward prefix
scans so the missing-value bucket is tried on both sides, learning the
node's default direction (`tree_model.h:115 DefaultLeft()`).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

MISSING_BIN = -1  # bin code for missing values in the quantized matrix
RT_EPS = 1e-6     # reference kRtEps (include/xgboost/base.h:309)


# ---------------------------------------------------------------------------
# gain / weight kernels
# ---------------------------------------------------------------------------

def threshold_l1(g: np.ndarray, alpha: float) -> np.ndarray:
    if alpha == 0.0:
        return g
    return np.sign(g) * np.maximum(np.abs(g) - alpha, 0.0)


def calc_weight(G, H, reg_lambda: float, reg_alpha: float = 0.0, max_delta_step: float = 0.0):
    G = np.asarray(G, dtype=np.float64)
    H = np.asarray(H, dtype=np.float64)
    w = -threshold_l1(G, reg_alpha) / (H + reg_lambda)
    if max_delta_step > 0.0:
        w = np.clip(w, -max_delta_step, max_delta_step)
    # reference CalcWeight (param.h:252-262): zero when sum_hess <= 0,
    # regardless of reg_lambda
    return np.where(H <= 0.0, 0.0, w)


def calc_gain(G, H, reg_lambda: float, reg_alpha: float = 0.0, max_delta_step: float = 0.0):
    """Reference CalcGain (param.h:266-280): without max_delta_step the
    closed form ThresholdL1(G, alpha)^2 / (H + lambda); with it, the
    gain AT the clipped weight, -(2*G*w + (H+lambda)*w^2 + 2*alpha*|w|)
    — the 2*alpha*|w| term keeps the two forms consistent (dropping it
    would overestimate L1-regularized gains by 2*alpha*|T(G)|/(H+lambda)
    and change split selection whenever reg_alpha > 0).  Zero when
    sum_hess <= 0."""
    G = np.asarray(G, dtype=np.float64)
    H = np.asarray(H, dtype=np.float64)
    if max_delta_step == 0.0:
        t = threshold_l1(G, reg_alpha)
        return np.where(H <= 0.0, 0.0, t * t / (H + reg_lambda))
    w = calc_weight(G, H, reg_lambda, reg_alpha, max_delta_step)
    gain = -(2.0 * G * w + (H + reg_lambda) * w * w
             + 2.0 * reg_alpha * np.abs(w))
    return np.where(H <= 0.0, 0.0, gain)


# ---------------------------------------------------------------------------
# tree model
# ---------------------------------------------------------------------------

@dataclass
class Tree:
    """Array-of-nodes binary tree (reference `RegTree`,
    `include/xgboost/tree_model.h:80`): node = split feature + threshold +
    default-left bit + children; per-node stats loss_chg/sum_hess/weight
    (`tree_model.h:56-68`).  ``split_bin`` is the quantized threshold used
    during training; ``split_value`` the raw-domain threshold used for
    serving (upper bound of the bin, test ``x <= split_value`` -> left).
    """

    feature: list[int] = field(default_factory=lambda: [-1])
    split_bin: list[int] = field(default_factory=lambda: [-1])
    split_value: list[float] = field(default_factory=lambda: [0.0])
    default_left: list[bool] = field(default_factory=lambda: [True])
    left: list[int] = field(default_factory=lambda: [-1])
    right: list[int] = field(default_factory=lambda: [-1])
    parent: list[int] = field(default_factory=lambda: [-1])
    leaf_value: list[float] = field(default_factory=lambda: [0.0])
    gain: list[float] = field(default_factory=lambda: [0.0])
    sum_grad: list[float] = field(default_factory=lambda: [0.0])
    sum_hess: list[float] = field(default_factory=lambda: [0.0])
    # categorical splits: category codes routed LEFT; None = numeric node
    # (reference stores a bitset per node, tree_model.h SplitCondT :82)
    categories: list[list[int] | None] = field(default_factory=lambda: [None])
    # tie convention: False (engine-trained) routes left on
    # ``x <= split_value`` (consistent with the <=-upper-bound binning);
    # True (genuine reference-dialect imports) routes left only on the
    # reference predictor's STRICT float32 ``x < split_cond``
    # (`src/predictor/predict_fn.h:22` — fvalue and the threshold are
    # both float32 there, so rows exactly at a threshold go RIGHT)
    tie_strict: bool = False
    # per-node weights as loaded from a saved document (its
    # ``base_weights``); None for trees grown here, whose node weights
    # follow from (sum_grad, sum_hess).  A loaded document carries no
    # sum_grad, so the saver writes these back verbatim instead.
    base_weights: list[float] | None = None

    @property
    def n_nodes(self) -> int:
        return len(self.feature)

    def is_leaf(self, nid: int) -> bool:
        return self.left[nid] == -1

    def expand(self, nid: int, fidx: int, split_bin: int, split_value: float,
               default_left: bool, gain: float,
               g_l: float, h_l: float, g_r: float, h_r: float,
               categories: list[int] | None = None) -> tuple[int, int]:
        """ExpandNode / ExpandCategorical (reference `tree_model.h:290`)."""
        lid, rid = self.n_nodes, self.n_nodes + 1
        for arr, lval, rval in (
            (self.feature, -1, -1), (self.split_bin, -1, -1), (self.split_value, 0.0, 0.0),
            (self.default_left, True, True), (self.left, -1, -1), (self.right, -1, -1),
            (self.parent, nid, nid), (self.leaf_value, 0.0, 0.0), (self.gain, 0.0, 0.0),
            (self.sum_grad, g_l, g_r), (self.sum_hess, h_l, h_r),
            (self.categories, None, None),
        ):
            arr.append(lval)
            arr.append(rval)
        self.feature[nid] = fidx
        self.split_bin[nid] = split_bin
        self.split_value[nid] = split_value
        self.default_left[nid] = default_left
        self.left[nid] = lid
        self.right[nid] = rid
        self.gain[nid] = gain
        self.categories[nid] = categories
        return lid, rid

    def finalize_arrays(self) -> dict[str, np.ndarray]:
        """Dense numpy views for vectorized traversal.  ``categories`` is a
        per-node tuple of int arrays (None for numeric nodes) — absent
        entirely when the tree has no categorical splits."""
        out = {
            "feature": np.asarray(self.feature, dtype=np.int32),
            "split_bin": np.asarray(self.split_bin, dtype=np.int32),
            "split_value": np.asarray(self.split_value, dtype=np.float64),
            "default_left": np.asarray(self.default_left, dtype=bool),
            "left": np.asarray(self.left, dtype=np.int32),
            "right": np.asarray(self.right, dtype=np.int32),
            "leaf_value": np.asarray(self.leaf_value, dtype=np.float64),
        }
        if any(c is not None for c in self.categories):
            out["categories"] = tuple(
                None if c is None else np.asarray(c, dtype=np.int32)
                for c in self.categories)
        if self.tie_strict:
            out["tie_strict"] = True
        return out


def leaf_ids_from_arrays(a: dict[str, np.ndarray], X: np.ndarray, binned: bool,
                         node0: np.ndarray | None = None) -> np.ndarray:
    """Vectorized traversal -> leaf node id per row, from plain arrays
    (broadcast-friendly: executors receive the dict, not a Tree object).

    ``binned``: X is int bins (MISSING_BIN = missing), compare on split_bin;
    else X is raw float64 (NaN = missing), compare on split_value.
    Equivalent to the reference's `GetLeafIndex` loop
    (`src/predictor/cpu_predictor.cc:64-145`) but block-vectorized.

    ``node0``: warm-start node assignment (MUTATED IN PLACE and
    returned) — rows resume routing from their previous node instead of
    the root.  This is the incremental-partitioning fast path the hist
    builders use during growth (reference RowSetCollection /
    UpdatePosition, `src/common/partition_builder.h`): each row is
    routed once per NEW level, O(n*depth) per tree total instead of the
    O(n*depth^2) of per-level root re-traversals.

    Leaves route to themselves, so every working row steps one level
    per wave with no per-wave ``nonzero``/gather compaction; rows leave
    the working set only once at most half of it is still at internal
    nodes (complete depthwise trees never compact, and deep lossguide
    paths do not re-walk finished rows).
    """
    n = X.shape[0]
    cats = a.get("categories")
    left = a["left"]
    leaf = left == -1
    ids = np.arange(len(left), dtype=np.int32)
    # kids[2*nid + go_left]: the next node (a leaf's kids are itself)
    kids = np.stack([np.where(leaf, ids, a["right"]),
                     np.where(leaf, ids, left)], axis=1).astype(np.int32).ravel()
    feat = np.where(leaf, 0, a["feature"]).astype(np.intp)
    dflt = a["default_left"]
    if binned:
        thr = a["split_bin"]
    elif a.get("tie_strict"):
        # reference predictor convention: STRICT less-than over
        # float32 operands (predict_fn.h:22) — ties route RIGHT
        thr = a["split_value"].astype(np.float32)
    else:
        thr = a["split_value"]
    strict = not binned and bool(a.get("tie_strict"))
    cat_ids = ([i for i, c in enumerate(cats) if c is not None]
               if cats is not None else [])
    # X read through its flat buffer: one take per wave, no copy for
    # either memory order
    if not (X.flags.c_contiguous or X.flags.f_contiguous):
        X = np.ascontiguousarray(X)
    flat = X.ravel(order="K")
    rs, fs = (st // X.itemsize for st in X.strides)
    feat *= fs
    node = node0 if node0 is not None else np.zeros(n, dtype=np.int32)
    rows = None                  # the working rows (None = all)
    base = np.arange(n, dtype=np.intp) * rs
    cur = node                   # their nodes
    while True:
        internal = ~leaf.take(cur)
        k = int(np.count_nonzero(internal))
        if k == 0:
            break
        if 2 * k <= len(cur):
            keep = np.nonzero(internal)[0]
            if rows is None:
                node[:] = cur
                rows = keep
            else:
                node[rows] = cur
                rows = rows[keep]
            cur, base = cur[keep], base[keep]
        x = flat.take(base + feat.take(cur))
        t = thr.take(cur)
        if binned:
            miss = x == MISSING_BIN
            go_left = x <= t
        else:
            miss = np.isnan(x)
            go_left = x.astype(np.float32) < t if strict else x <= t
        if miss.any():
            go_left = np.where(miss, dflt.take(cur), go_left)
        if cat_ids:
            # categorical nodes: membership test (category code routed
            # left iff in the node's set)
            here = np.zeros(len(left), dtype=bool)
            here[cur] = True
            for nid in cat_ids:
                if not here[nid]:
                    continue
                m = cur == nid
                xm = x[m]
                mm = (xm == MISSING_BIN) if binned else np.isnan(xm)
                code = np.where(mm, -1, np.nan_to_num(xm)).astype(np.int64)
                go_left[m] = np.where(mm, dflt[nid], np.isin(code, cats[nid]))
        cur = kids.take(2 * cur + go_left)
    if rows is None:
        if cur is not node:
            node[:] = cur
    else:
        node[rows] = cur
    return node


def tree_leaf_ids(tree: Tree, X: np.ndarray, binned: bool) -> np.ndarray:
    return leaf_ids_from_arrays(tree.finalize_arrays(), X, binned)


def tree_predict(tree: Tree, X: np.ndarray, binned: bool) -> np.ndarray:
    a = tree.finalize_arrays()
    return a["leaf_value"][leaf_ids_from_arrays(a, X, binned)]


def apply_model_margin(m: np.ndarray, trees, weights, X: np.ndarray,
                       binned: bool, K: int, lids=None) -> np.ndarray:
    """``m (n,K) += w * leaf(tree, X)`` over rounds of trees, in order:
    the one prediction-cache update (reference `include/xgboost/cache.h`,
    `learner.cc:1128-1131`) for serving, continuation and both trainers.

    ``trees[r]`` is one round as `Tree`s or their broadcastable
    `Tree.finalize_arrays` dicts, weighted by ``weights[r]``.  Round
    layout is k-major: K output groups x num_parallel_tree forest
    members (reference `GBTree::BoostNewTrees`, gbtree.cc:315); 2-D
    leaf_value = multi_output_tree (vector leaves).  ``lids``: optional
    per-tree leaf ids (an iterable consumed in tree order) that replace
    the traversal of ``X``, e.g. a hist builder's cached assignment."""
    lids = None if lids is None else iter(lids)
    for rnd, tw in zip(trees, weights):
        nf = max(len(rnd) // K, 1)
        for i, t in enumerate(rnd):
            arrs = t if isinstance(t, dict) else t.finalize_arrays()
            lid = (leaf_ids_from_arrays(arrs, X, binned) if lids is None
                   else next(lids))
            if arrs["leaf_value"].ndim == 2:
                m += tw * arrs["leaf_value"][lid]
            else:
                m[:, i // nf] += tw * arrs["leaf_value"][lid]
    return m


# ---------------------------------------------------------------------------
# split search over aggregated histograms
# ---------------------------------------------------------------------------

@dataclass
class SplitResult:
    nid: int
    gain: float
    fidx: int
    split_bin: int
    default_left: bool
    g_left: float
    h_left: float
    g_right: float
    h_right: float
    categories: list[int] | None = None   # category codes routed left
    # multi-target (multi_strategy=multi_output_tree): per-target child
    # stat vectors for vector leaf weights (reference
    # `include/xgboost/multi_target_tree_model.h`)
    g_left_vec: np.ndarray | None = None
    h_left_vec: np.ndarray | None = None


def split_search_multi(
    hist_g: np.ndarray,          # (K, n_nodes, n_feat, n_bins+1)
    hist_h: np.ndarray,
    reg_lambda: float = 1.0,
    reg_alpha: float = 0.0,
    gamma: float = 0.0,
    min_child_weight: float = 1.0,
    max_delta_step: float = 0.0,
    feature_mask: np.ndarray | None = None,
) -> list[SplitResult | None]:
    """Best split per node for a vector-leaf tree: one shared structure,
    gain summed over the K output targets (reference multi-target trees,
    `src/tree/multi_target_tree_model.cc`, strategy gate
    `include/xgboost/learner.h:327,345`).  ``min_child_weight`` applies
    to the per-target MEAN hessian so its scale matches single-output.
    """
    K, N, F, Bp1 = hist_g.shape
    B = Bp1 - 1
    if B < 2:
        return [None] * N
    g_miss = hist_g[:, :, :, B]
    h_miss = hist_h[:, :, :, B]
    g_tot = hist_g.sum(axis=3)                       # (K, N, F)
    h_tot = hist_h.sum(axis=3)
    gl_fwd = np.cumsum(hist_g[:, :, :, :B], axis=3)[:, :, :, : B - 1]
    hl_fwd = np.cumsum(hist_h[:, :, :, :B], axis=3)[:, :, :, : B - 1]
    gl_bwd = gl_fwd + g_miss[:, :, :, None]
    hl_bwd = hl_fwd + h_miss[:, :, :, None]
    parent_gain = calc_gain(g_tot, h_tot, reg_lambda, reg_alpha,
                            max_delta_step).sum(axis=0)          # (N, F)

    best_gain = np.full(N, -np.inf)
    best: list[SplitResult | None] = [None] * N
    for direction, (gl, hl) in enumerate(((gl_fwd, hl_fwd), (gl_bwd, hl_bwd))):
        gr = g_tot[:, :, :, None] - gl
        hr = h_tot[:, :, :, None] - hl
        gain = (
            calc_gain(gl, hl, reg_lambda, reg_alpha, max_delta_step)
            + calc_gain(gr, hr, reg_lambda, reg_alpha, max_delta_step)
        ).sum(axis=0) - parent_gain[:, :, None]                   # (N, F, B-1)
        invalid = ((hl.mean(axis=0) < min_child_weight)
                   | (hr.mean(axis=0) < min_child_weight))
        if feature_mask is not None:
            if feature_mask.ndim == 1:
                invalid |= ~feature_mask[None, :, None]
            else:
                invalid |= ~feature_mask[:, :, None]
        gain = np.where(invalid, -np.inf, gain)
        flat = gain.reshape(N, -1)
        idx = np.argmax(flat, axis=1)
        val = flat[np.arange(N), idx]
        for nid in range(N):
            if val[nid] > best_gain[nid] + (0.0 if direction == 0 else 1e-12):
                f, b = divmod(int(idx[nid]), B - 1)
                glv = gl[:, nid, f, b].copy()
                hlv = hl[:, nid, f, b].copy()
                best_gain[nid] = val[nid]
                best[nid] = SplitResult(
                    nid=nid, gain=float(val[nid]), fidx=f, split_bin=b,
                    default_left=(direction == 1),
                    g_left=float(glv.sum()), h_left=float(hlv.sum()),
                    g_right=float(g_tot[:, nid, f].sum() - glv.sum()),
                    h_right=float(h_tot[:, nid, f].sum() - hlv.sum()),
                    g_left_vec=glv, h_left_vec=hlv)
    out: list[SplitResult | None] = []
    for nid in range(N):
        r = best[nid]
        # reference split validity (driver.h IsValidExpandEntry): the
        # gain must exceed kRtEps AND be >= min_split_loss (strict <
        # gamma rejects; equality passes)
        if (r is None or r.gain <= RT_EPS or r.gain < gamma
                or not np.isfinite(r.gain)):
            out.append(None)
        else:
            out.append(r)
    return out


def grow_tree_multi(builder, params, rng: np.random.Generator,
                    feature_mask_tree: np.ndarray | None = None) -> Tree:
    """Grow ONE tree with vector leaves for all K outputs
    (``multi_strategy=multi_output_tree``; reference
    `src/tree/multi_target_tree_model.cc`).  Depthwise, all nodes of a
    level in one histogram batch; ``builder.build`` returns
    (K, nodes, F, B+1) g/h stacks.  ``tree.leaf_value[nid]`` is a
    length-K list; scalar node stats hold target-summed G/H.
    """
    F = builder.n_features
    K = builder.K
    tree = Tree()
    node_stats: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    if feature_mask_tree is None:
        feature_mask_tree = np.ones(F, dtype=bool)

    def level_mask() -> np.ndarray:
        m = feature_mask_tree.copy()
        if params.colsample_bylevel < 1.0:
            fw = getattr(params, "feature_weights", None)
            fw = np.asarray(fw, dtype=np.float64) if fw is not None else None
            idx = np.nonzero(m)[0]
            sub = _rng_mask(rng, len(idx), params.colsample_bylevel,
                            weights=fw[idx] if fw is not None else None)
            m = np.zeros_like(m)
            m[idx[sub]] = True
        return m

    def commit_leaf(nid: int):
        Gv, Hv = node_stats[nid]
        tree.leaf_value[nid] = [
            params.eta * float(calc_weight(Gv[k], Hv[k], params.reg_lambda,
                                           params.reg_alpha, params.max_delta_step))
            for k in range(K)
        ]

    max_depth = params.max_depth if params.max_depth > 0 else 1_000
    active = [0]
    for depth in range(max_depth):
        if not active:
            break
        hg, hh = builder.build(tree, active)          # (K, |active|, F, B+1)
        if depth == 0:
            node_stats[0] = (hg[:, 0, 0, :].sum(axis=1), hh[:, 0, 0, :].sum(axis=1))
            tree.sum_grad[0] = float(node_stats[0][0].sum())
            tree.sum_hess[0] = float(node_stats[0][1].sum())
        results = split_search_multi(
            hg, hh, reg_lambda=params.reg_lambda, reg_alpha=params.reg_alpha,
            gamma=params.gamma, min_child_weight=params.min_child_weight,
            max_delta_step=params.max_delta_step, feature_mask=level_mask())
        nxt = []
        for i, nid in enumerate(active):
            res = results[i]
            if res is None:
                commit_leaf(nid)
                continue
            sv = builder.split_value(res.fidx, res.split_bin)
            lid, rid = tree.expand(
                nid, res.fidx, res.split_bin, sv, res.default_left, res.gain,
                res.g_left, res.h_left, res.g_right, res.h_right)
            Gp, Hp = node_stats.pop(nid)
            node_stats[lid] = (res.g_left_vec, res.h_left_vec)
            node_stats[rid] = (Gp - res.g_left_vec, Hp - res.h_left_vec)
            nxt.extend([lid, rid])
        active = nxt
    for nid in active:
        commit_leaf(nid)
    # uniform (n_nodes, K) leaf matrix: internal nodes get zero vectors so
    # finalize_arrays yields a dense 2-D array
    for nid in range(tree.n_nodes):
        if not isinstance(tree.leaf_value[nid], list):
            tree.leaf_value[nid] = [0.0] * K
    return tree


#: fields of one split candidate row (`split_candidates`)
CAND_FIELDS = 7     # gain, feature, bin, G_left, H_left, G_right, H_right


def split_candidates(
    hist_g: np.ndarray,          # (n_nodes, n_feat, n_bins+1) — last slot = missing
    hist_h: np.ndarray,
    reg_lambda: float = 1.0,
    reg_alpha: float = 0.0,
    min_child_weight: float = 1.0,
    max_delta_step: float = 0.0,
    feature_mask: np.ndarray | None = None,
    monotone: np.ndarray | None = None,
    cat_features: np.ndarray | None = None,
    node_bounds: np.ndarray | None = None,
    f0: int = 0,
) -> np.ndarray:
    """Best numeric split per node and scan direction over one block of
    features (global ids ``f0 .. f0+n_feat-1``): an ``(n_nodes, 2,
    CAND_FIELDS)`` table of ``np.argmax``'s first maximum over the
    block's flattened (feature, bin) gains, with its child sums.

    Vectorized EnumerateSplit over all (node, feature, bin, direction):
    forward scan = missing goes right, backward scan = missing goes left
    (reference `evaluate_splits.h:205-330`, both directions `:323-325`).
    Every value depends on its own feature's histogram only, so a
    block's rows equal the same features' rows of a search over all
    features.  ``monotone`` is None unless some feature (in any block)
    is constrained: node bounds then re-score EVERY feature."""
    N, F, Bp1 = hist_g.shape
    B = Bp1 - 1
    out = np.empty((N, 2, CAND_FIELDS))
    g_miss = hist_g[:, :, B]
    h_miss = hist_h[:, :, B]
    g_tot = hist_g.sum(axis=2)                      # (N, F) — same value each feature
    h_tot = hist_h.sum(axis=2)

    # candidate split after bin b (left = bins 0..b), b in 0..B-2
    gl_fwd = np.cumsum(hist_g[:, :, :B], axis=2)[:, :, : B - 1]
    hl_fwd = np.cumsum(hist_h[:, :, :B], axis=2)[:, :, : B - 1]
    gl_bwd = gl_fwd + g_miss[:, :, None]
    hl_bwd = hl_fwd + h_miss[:, :, None]

    parent_gain = calc_gain(g_tot, h_tot, reg_lambda, reg_alpha, max_delta_step)  # (N,F)
    rows = np.arange(N)
    for direction, (gl, hl) in enumerate(((gl_fwd, hl_fwd), (gl_bwd, hl_bwd))):
        gr = g_tot[:, :, None] - gl
        hr = h_tot[:, :, None] - hl
        gain = (
            calc_gain(gl, hl, reg_lambda, reg_alpha, max_delta_step)
            + calc_gain(gr, hr, reg_lambda, reg_alpha, max_delta_step)
            - parent_gain[:, :, None]
        )
        invalid = (hl < min_child_weight) | (hr < min_child_weight)
        if monotone is not None:
            wl = calc_weight(gl, hl, reg_lambda, reg_alpha, max_delta_step)
            wr = calc_weight(gr, hr, reg_lambda, reg_alpha, max_delta_step)
            if node_bounds is not None:
                # clamp child weights to the node's inherited interval and
                # re-score with the given-weight gain — the reference's
                # monotone evaluator (split_evaluator.h; CalcGainGivenWeight
                # param.h:233-283).  Without this, the immediate wl<wr check
                # holds but grandchildren can still cross their uncles.
                lo = node_bounds[:, 0][:, None, None]
                hi = node_bounds[:, 1][:, None, None]
                wl = np.clip(wl, lo, hi)
                wr = np.clip(wr, lo, hi)
                wp = np.clip(
                    calc_weight(g_tot, h_tot, reg_lambda, reg_alpha, max_delta_step),
                    node_bounds[:, 0][:, None], node_bounds[:, 1][:, None])
                # CalcGainGivenWeight (param.h:245-248) includes the
                # 2*alpha*|w| L1 term
                parent_c = -(2.0 * g_tot * wp + (h_tot + reg_lambda) * wp * wp
                             + 2.0 * reg_alpha * np.abs(wp))
                gain = (
                    -(2.0 * gl * wl + (hl + reg_lambda) * wl * wl
                      + 2.0 * reg_alpha * np.abs(wl))
                    + -(2.0 * gr * wr + (hr + reg_lambda) * wr * wr
                        + 2.0 * reg_alpha * np.abs(wr))
                    - parent_c[:, :, None]
                )
            mono = monotone[None, :, None]
            # reference CalcSplitGain: constraint > 0 valid iff
            # wleft <= wright (EQUAL weights allowed) — strict rejection
            invalid |= (mono > 0) & (wl > wr)
            invalid |= (mono < 0) & (wl < wr)
        if feature_mask is not None:
            if feature_mask.ndim == 1:
                invalid |= ~feature_mask[None, :, None]
            else:  # per-node mask (colsample_bynode)
                invalid |= ~feature_mask[:, :, None]
        if cat_features is not None:
            invalid |= cat_features[None, :, None]   # handled in pick_splits
        gain = np.where(invalid, -np.inf, gain)
        idx = np.argmax(gain.reshape(N, -1), axis=1)
        f, b = np.divmod(idx, B - 1)
        o = out[:, direction]
        o[:, 0] = gain.reshape(N, -1)[rows, idx]
        o[:, 1] = f0 + f
        o[:, 2] = b
        o[:, 3] = gl[rows, f, b]
        o[:, 4] = hl[rows, f, b]
        o[:, 5] = g_tot[rows, f] - o[:, 3]
        o[:, 6] = h_tot[rows, f] - o[:, 4]
    return out


def pick_splits(
    cands: np.ndarray,           # (n_blocks, n_nodes, 2, CAND_FIELDS), feature order
    cat_g: np.ndarray,           # (n_nodes, n_cat, n_bins+1) — categorical features
    cat_h: np.ndarray,
    cat_fids: np.ndarray,        # (n_cat,) their global feature ids
    reg_lambda: float = 1.0,
    reg_alpha: float = 0.0,
    gamma: float = 0.0,
    min_child_weight: float = 1.0,
    max_delta_step: float = 0.0,
    feature_mask: np.ndarray | None = None,
    monotone: np.ndarray | None = None,
    max_cat_to_onehot: int = 4,
    max_cat_threshold: int = 64,
    n_bins_feat: np.ndarray | None = None,
) -> list[SplitResult | None]:
    """Best split per node from the blocks' `split_candidates` tables.

    ``np.argmax`` over the blocks' values, in feature order, picks the
    first maximum (a NaN first), as one argmax over every feature would.
    Returns None for a node when no split beats ``gamma``."""
    N = cands.shape[1]
    B = cat_g.shape[2] - 1
    best_gain = np.full(N, -np.inf)
    best: list[SplitResult | None] = [None] * N
    rows = np.arange(N)
    for direction in (0, 1):
        c = cands[np.argmax(cands[:, :, direction, 0], axis=0), rows, direction]
        for nid in range(N):
            # strict '>' (plus epsilon on the backward pass) keeps the
            # forward/missing-right split on ties — stable direction choice
            if c[nid, 0] > best_gain[nid] + (0.0 if direction == 0 else 1e-12):
                val, f, b, gl, hl, gr, hr = c[nid].tolist()
                best_gain[nid] = c[nid, 0]
                best[nid] = SplitResult(
                    nid=nid, gain=val, fidx=int(f), split_bin=int(b),
                    default_left=(direction == 1),
                    g_left=gl, h_left=hl, g_right=gr, h_right=hr)
    # categorical enumeration (reference EnumerateOneHot
    # `evaluate_splits.h:64` and EnumeratePart `:119-192`): one-hot when
    # few categories, else scan categories sorted by grad/hess ratio —
    # the sorted-prefix split is the optimal set partition
    for nid in range(N):
        for ci, f in enumerate(cat_fids):
            if monotone is not None and monotone[f] != 0:
                continue  # monotonicity is undefined over category sets
            if feature_mask is not None:
                fm = feature_mask if feature_mask.ndim == 1 else feature_mask[nid]
                if not fm[f]:
                    continue
            gb = cat_g[nid, ci, :B]
            hb = cat_h[nid, ci, :B]
            gm = float(cat_g[nid, ci, B])
            hm = float(cat_h[nid, ci, B])
            present = np.nonzero((hb != 0) | (gb != 0))[0]
            if len(present) < 2:
                continue
            gt = float(gb.sum() + gm)
            ht = float(hb.sum() + hm)
            pgain = float(calc_gain(gt, ht, reg_lambda, reg_alpha, max_delta_step))
            # one-hot vs partition decided on the feature's TOTAL
            # category count (UseOneHot, categorical.h:84 over the
            # cut-pointer width, evaluate_splits.h:306) — the same
            # regime at every node; present-count is the fallback
            # for callers without per-feature bin metadata
            n_cats_f = (int(n_bins_feat[f]) if n_bins_feat is not None
                        else len(present))
            if n_cats_f < max_cat_to_onehot:
                # one-hot: {c} vs rest, missing on either side
                cand = [([c], float(gb[c]), float(hb[c])) for c in present]
            else:
                # partition sort key = the per-category LEAF WEIGHT
                # (reference CalcWeightCat, split_evaluator.h:290 →
                # tree::CalcWeight — so reg_alpha's L1 threshold
                # and max_delta_step's clamp reorder/tie categories
                # exactly as the reference sorts them; round-12
                # fix, previously the unregularized g/(h+lambda)
                # ratio).  Negated so that with alpha=0/mds=0 the
                # key reduces to g/(h+lambda) and the established
                # ascending-ratio enumeration order (and every
                # certified oracle) is unchanged; the two-ended
                # max_cat_threshold cap makes the candidate FAMILY
                # reversal-invariant.
                key = np.array([-calc_weight(float(gb[c]), float(hb[c]),
                                             reg_lambda, reg_alpha,
                                             max_delta_step)
                                for c in present])
                order = present[np.argsort(key, kind="stable")]
                cg = np.cumsum(gb[order])
                ch = np.cumsum(hb[order])
                # max_cat_threshold (reference param.h:42 default 64,
                # evaluate_splits.h:148): scan at most thr-1 set
                # sizes from EACH end of the sorted order — bounds
                # work and over-fitting for huge-cardinality splits
                thr = max(int(max_cat_threshold), 1)
                n_sets = len(order) - 1
                cand = [(order[: j + 1].tolist(), float(cg[j]), float(ch[j]))
                        for j in range(n_sets)
                        if (j + 1 <= thr - 1
                            or n_sets - j <= thr - 1)]
            for cats_left, gl_, hl_ in cand:
                for direction in (0, 1):        # 0: missing right, 1: left
                    gl2 = gl_ + (gm if direction else 0.0)
                    hl2 = hl_ + (hm if direction else 0.0)
                    gr2 = gt - gl2
                    hr2 = ht - hl2
                    if hl2 < min_child_weight or hr2 < min_child_weight:
                        continue
                    gn = float(
                        calc_gain(gl2, hl2, reg_lambda, reg_alpha, max_delta_step)
                        + calc_gain(gr2, hr2, reg_lambda, reg_alpha, max_delta_step)
                        - pgain)
                    if gn > best_gain[nid] + 1e-12:
                        best_gain[nid] = gn
                        best[nid] = SplitResult(
                            nid=nid, gain=gn, fidx=int(f), split_bin=-1,
                            default_left=bool(direction),
                            g_left=gl2, h_left=hl2, g_right=gr2, h_right=hr2,
                            categories=sorted(int(c) for c in cats_left))
    # same validity rule as split_search_multi (driver.h)
    return [None if (r is None or r.gain <= RT_EPS or r.gain < gamma
                     or not np.isfinite(r.gain)) else r
            for r in best]


def split_search(
    hist_g: np.ndarray,          # (n_nodes, n_feat, n_bins+1) — last slot = missing
    hist_h: np.ndarray,
    reg_lambda: float = 1.0,
    reg_alpha: float = 0.0,
    gamma: float = 0.0,
    min_child_weight: float = 1.0,
    max_delta_step: float = 0.0,
    feature_mask: np.ndarray | None = None,   # bool (n_feat,) — colsample
    monotone: np.ndarray | None = None,       # int8 (n_feat,) in {-1,0,+1}
    cat_features: np.ndarray | None = None,   # bool (n_feat,) — categorical
    max_cat_to_onehot: int = 4,
    max_cat_threshold: int = 64,
    node_bounds: np.ndarray | None = None,    # (n_nodes, 2) [lower, upper] weight bounds
    n_bins_feat: np.ndarray | None = None,    # (n_feat,) total bins per feature
) -> list[SplitResult | None]:
    """Best split per node from node histograms over all features: the
    one-block case of `split_candidates` + `pick_splits`."""
    N, F, Bp1 = hist_g.shape
    if Bp1 - 1 < 2:
        return [None] * N
    cands = split_candidates(
        hist_g, hist_h, reg_lambda, reg_alpha, min_child_weight,
        max_delta_step, feature_mask,
        monotone if monotone is not None and monotone.any() else None,
        cat_features, node_bounds)
    cat_fids = (np.nonzero(cat_features)[0] if cat_features is not None
                else np.zeros(0, dtype=np.int64))
    return pick_splits(
        cands[None], hist_g[:, cat_fids], hist_h[:, cat_fids], cat_fids,
        reg_lambda, reg_alpha, gamma, min_child_weight, max_delta_step,
        feature_mask, monotone, max_cat_to_onehot, max_cat_threshold,
        n_bins_feat)


# ---------------------------------------------------------------------------
# quantile cuts + quantization (numpy reference forms)
# ---------------------------------------------------------------------------

def make_cuts(x: np.ndarray, max_bin: int, weights: np.ndarray | None = None) -> np.ndarray:
    """Per-feature cut points; cuts[i] is the inclusive upper bound of bin i.
    Last cut covers the max (reference bumps the final boundary,
    `src/common/hist_util.cc` SketchOnDMatrix semantics).
    Weighted path = the approx updater's hessian-weighted re-sketch
    (`src/tree/updater_approx.cc:95-130`).
    """
    v = x[~np.isnan(x)]
    if v.size == 0:
        return np.asarray([np.inf])
    if weights is None:
        qs = np.quantile(v, np.linspace(0, 1, max_bin + 1)[1:])
    else:
        w = weights[~np.isnan(x)]
        order = np.argsort(v, kind="stable")
        v_s, w_s = v[order], w[order]
        cw = np.cumsum(w_s)
        total = cw[-1]
        targets = np.linspace(0, 1, max_bin + 1)[1:] * total
        idx = np.searchsorted(cw, targets, side="left").clip(0, len(v_s) - 1)
        qs = v_s[idx]
    cuts = np.unique(qs)
    cuts[-1] = np.nextafter(max(cuts[-1], v.max()), np.inf)
    return cuts


# ---------------------------------------------------------------------------
# tree growth driver (engine-agnostic)
# ---------------------------------------------------------------------------

class HistBuilder:
    """Interface the grower uses to obtain node histograms and splits.

    ``build(tree, nids)`` returns ``(hist_g, hist_h)`` of shape
    ``(len(nids), n_cols, n_bins+1)`` — last slot is the missing
    bucket — aggregated over the rows currently routed to each node by
    ``tree``.  Columns are all ``n_features`` features here; a builder
    may return a block of them instead (the barrier's sharded builder
    returns the features its rank owns), as long as its `best_splits`
    and `root_sums` read that layout.  The grower only caches these
    arrays and subtracts them elementwise (parent - sibling).  The Spark
    implementation runs one job per call (all nodes of a level batched,
    mirroring the reference's contiguous node batch + single allreduce,
    `src/tree/hist/histogram.h:109,188`); the local implementation uses
    np.bincount.

    ``best_splits(hist_g, hist_h, **kw)`` is `split_search` over what
    ``build`` returned, with `split_search`'s keyword arguments over ALL
    features; it must return what `split_search` over the full
    histograms would, bit for bit.  ``root_sums`` is the root's (G, H):
    the sums over global feature 0's bins, read after the root's
    ``best_splits``.
    """

    n_features: int
    n_bins: int

    def build(self, tree: Tree, nids: list[int]):  # pragma: no cover - interface
        raise NotImplementedError

    def best_splits(self, hist_g, hist_h, **kw) -> list[SplitResult | None]:
        return split_search(hist_g, hist_h, **kw)

    def root_sums(self, hist_g, hist_h) -> tuple[float, float]:
        return float(hist_g[0, 0].sum()), float(hist_h[0, 0].sum())

    def split_value(self, fidx: int, split_bin: int) -> float:  # pragma: no cover
        """Raw-domain threshold for a quantized split (= cuts[fidx][bin])."""
        raise NotImplementedError


MVS_LAMBDA = 0.1   # reference kDefaultMvsLambda (src/tree/hist/sampler.h:41)


def mvs_reg_abs_grad(g: np.ndarray, h: np.ndarray,
                     lam: float = MVS_LAMBDA) -> np.ndarray:
    """Per-row regularized absolute gradient for MVS gradient-based
    sampling: sqrt(sum_t g_t^2 + lam * h_t^2) (reference MvsGradOp +
    CalcRegAbsGrad, src/tree/hist/sampler.h:43-51 / sampler.cc)."""
    if g.ndim == 2:
        return np.sqrt((g * g + lam * h * h).sum(axis=1))
    return np.sqrt(g * g + lam * h * h)


def mvs_threshold_from_parts(vals_sorted: np.ndarray, s_below: float,
                             n_above: int, k: float,
                             total_sum: float) -> float:
    """Solve for the MVS threshold u with sum_i min(1, rag_i/u) = k,
    given the candidate rag values that can contain the breakpoint
    (sorted ascending) plus aggregate stats of the rest: ``s_below`` =
    sum of rag strictly below the candidates, ``n_above`` = count
    strictly above.  Replicates the reference's sorted binary search
    (CalculateThreshold, sampler.cc) including its degenerate fallback
    total/k.  With vals = ALL rag values, s_below = 0, n_above = 0 this
    IS the reference's single-machine computation."""
    if k <= 0:
        return float("inf")
    m = len(vals_sorted)
    # breakpoint below every candidate (only reachable with non-zero
    # aggregate mass below, i.e. the distributed sub-bucket call)
    denom0 = k - (n_above + m)
    if m and denom0 > 0:
        u = s_below / denom0
        if 0.0 < u <= vals_sorted[0]:
            return float(u)
    csum = s_below + np.cumsum(vals_sorted)
    for i in range(m):
        na = n_above + (m - i - 1)
        denom = k - na
        if denom <= 0:
            continue
        u = csum[i] / denom
        lower = vals_sorted[i]
        upper = vals_sorted[i + 1] if i + 1 < m else float("inf")
        if lower < u <= upper:
            return float(u)
    # all-equal / exhausted: reference falls back to total/k
    return float(total_sum / k)


def apply_mvs(g: np.ndarray, h: np.ndarray, rag: np.ndarray, u: float,
              rng: np.random.Generator):
    """Sample-and-rescale in place: row i kept with p_i = min(1,
    rag_i/u) and its (g, h) scaled by 1/p_i, else zeroed (reference
    SamplingProbability/RescaleGrad/IsSampled, sampler.h:54-72;
    expectation-preserving importance weighting).  One uniform draw per
    row.  Returns the keep mask."""
    n = len(rag)
    if not np.isfinite(u):          # empty sampling budget
        g[...] = 0.0
        h[...] = 0.0
        return np.zeros(n, dtype=bool)
    # reference SamplingProbability: |u| floored at kRtEps (1e-6)
    p = rag / max(u, 1e-6)
    keep = (p >= 1.0) | (rng.random(n) <= p)
    keep &= p > 0.0
    scale = np.where(keep, 1.0 / np.minimum(np.maximum(p, 1e-30), 1.0), 0.0)
    if g.ndim == 2:
        scale = scale[:, None]
    g *= scale
    h *= scale
    return keep


def _rng_mask(rng: np.random.Generator, n: int, rate: float,
              weights: np.ndarray | None = None) -> np.ndarray:
    """Column-sampling mask.  Unweighted: Bernoulli(rate).  With
    ``weights``: floor-ish(n*rate) draws WITHOUT replacement,
    probability proportional to weight (reference ColumnSampler with
    feature_weights, `src/common/random.h:70-98`)."""
    if rate >= 1.0:
        return np.ones(n, dtype=bool)
    if weights is not None:
        w = np.asarray(weights, dtype=np.float64)
        pos = w > 0
        k = min(max(1, int(round(n * rate))), int(pos.sum()))
        prob = np.where(pos, w, 0.0)
        prob = prob / prob.sum()
        mask = np.zeros(n, dtype=bool)
        mask[rng.choice(n, size=k, replace=False, p=prob)] = True
        return mask
    mask = rng.random(n) < rate
    if not mask.any():
        mask[rng.integers(0, n)] = True
    return mask


def _interaction_child_mask(path_feats: frozenset, fidx: int,
                            sets: list[np.ndarray],
                            n_features: int) -> np.ndarray:
    """Allowed-feature mask for the children of a node that split on
    ``fidx`` with path-split history ``path_feats`` (reference
    `src/tree/constraints.cc:58-102`
    FeatureInteractionConstraintHost::SplitImpl): a child permits
    (a) every feature already split on along its path, plus (b) every
    member of each constraint set that contains ALL path features —
    the WHOLE-PATH containment test.  (Round-12 fix: the earlier rule
    intersected per-feature unions — each path feature merely had to
    share some set with the candidate — which over-permits: with sets
    {0,1}, {1,2}, {0,2} and path [0,1], feature 2 shares a set with 0
    and with 1, but no single set contains {0,1}, so the reference
    forbids it.)"""
    path = set(path_feats)
    path.add(int(fidx))
    m = np.zeros(n_features, dtype=bool)
    for f in path:
        m[f] = True
    for s in sets:
        if all(s[f] for f in path):
            m |= s
    return m


def grow_tree(
    builder: HistBuilder,
    params,
    rng: np.random.Generator,
    root_g: float | None = None,
    root_h: float | None = None,
    feature_mask_tree: np.ndarray | None = None,
    monotone: np.ndarray | None = None,
    interaction_sets: list[np.ndarray] | None = None,
    cat_features: np.ndarray | None = None,
) -> Tree:
    """Grow one tree.  Depthwise (`grow_policy=depthwise`) expands level by
    level with ONE histogram build per level; lossguide expands the
    highest-loss-change leaf first up to ``max_leaves`` (reference driver,
    `src/tree/driver.h:17-91`).  Sibling histograms use the subtraction
    trick: only the smaller child is aggregated, the other is derived
    (reference `src/tree/hist/histogram.h:386-425`).
    """
    F = builder.n_features
    tree = Tree()
    if root_g is not None:
        tree.sum_grad[0], tree.sum_hess[0] = root_g, root_h
    kw = dict(
        reg_lambda=params.reg_lambda, reg_alpha=params.reg_alpha, gamma=params.gamma,
        min_child_weight=params.min_child_weight, max_delta_step=params.max_delta_step,
        monotone=monotone, cat_features=cat_features,
        max_cat_to_onehot=getattr(params, "max_cat_to_onehot", 4),
        max_cat_threshold=getattr(params, "max_cat_threshold", 64),
        # UseOneHot decides on the feature's TOTAL category count
        # (evaluate_splits.h:306 n_bins from the cut pointers), not the
        # node-local non-empty count — a deep node with few present
        # categories must not flip from partition to one-hot mid-tree
        n_bins_feat=(np.array([len(c) for c in builder.cuts])
                     if (cat_features is not None
                         and getattr(builder, "cuts", None) is not None)
                     else None),
    )
    if feature_mask_tree is None:
        feature_mask_tree = np.ones(F, dtype=bool)
    fw = getattr(params, "feature_weights", None)
    fw = np.asarray(fw, dtype=np.float64) if fw is not None else None
    # interaction constraints: per-node allowed-feature sets + the
    # per-node path-split history the reference's whole-path
    # containment test needs (constraints.cc splits_ record)
    allowed: dict[int, np.ndarray] | None = (
        {0: np.ones(F, dtype=bool)} if interaction_sets else None
    )
    paths: dict[int, frozenset] = {0: frozenset()}

    # monotone constraints: per-node [lower, upper] weight bounds,
    # tightened at each constrained split by the child-weight midpoint
    # (reference split_evaluator.h MonotoneConstraint)
    mono_active = monotone is not None and np.asarray(monotone).any()
    bounds: dict[int, tuple[float, float]] | None = (
        {0: (-np.inf, np.inf)} if mono_active else None
    )

    def node_bounds_for(nids: list[int]) -> np.ndarray | None:
        if bounds is None:
            return None
        return np.array([bounds[n] for n in nids], dtype=np.float64)

    def on_expand(nid: int, fidx: int, lid: int, rid: int,
                  res: "SplitResult | None" = None):
        if allowed is not None:
            child = _interaction_child_mask(paths[nid], fidx,
                                            interaction_sets, F)
            allowed[lid] = child
            allowed[rid] = child
            allowed.pop(nid, None)
            cpath = frozenset(paths[nid] | {int(fidx)})
            paths[lid] = cpath
            paths[rid] = cpath
            paths.pop(nid, None)
        if bounds is not None:
            lo, hi = bounds.pop(nid)
            lo_l, hi_l, lo_r, hi_r = lo, hi, lo, hi
            c = int(monotone[fidx])
            if c != 0 and res is not None and res.categories is None:
                wl = float(np.clip(calc_weight(res.g_left, res.h_left,
                                               params.reg_lambda, params.reg_alpha,
                                               params.max_delta_step), lo, hi))
                wr = float(np.clip(calc_weight(res.g_right, res.h_right,
                                               params.reg_lambda, params.reg_alpha,
                                               params.max_delta_step), lo, hi))
                mid = (wl + wr) / 2.0
                if c > 0:
                    hi_l, lo_r = min(hi_l, mid), max(lo_r, mid)
                else:
                    lo_l, hi_r = max(lo_l, mid), min(hi_r, mid)
            bounds[lid] = (lo_l, hi_l)
            bounds[rid] = (lo_r, hi_r)

    hist_cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}

    def level_mask() -> np.ndarray:
        m = feature_mask_tree.copy()
        if params.colsample_bylevel < 1.0:
            idx = np.nonzero(m)[0]
            sub = _rng_mask(rng, len(idx), params.colsample_bylevel,
                            weights=fw[idx] if fw is not None else None)
            m = np.zeros_like(m)
            m[idx[sub]] = True
        return m

    def node_mask(base: np.ndarray) -> np.ndarray:
        if params.colsample_bynode >= 1.0:
            return base
        idx = np.nonzero(base)[0]
        sub = _rng_mask(rng, len(idx), params.colsample_bynode,
                        weights=fw[idx] if fw is not None else None)
        m = np.zeros_like(base)
        m[idx[sub]] = True
        return m

    def hists_for(nids: list[int]) -> tuple[np.ndarray, np.ndarray]:
        """Fetch hists for nids, using parent-sibling subtraction."""
        need_build, derive = [], []
        for nid in nids:
            parent = tree.parent[nid]
            sib = tree.right[parent] if tree.left[parent] == nid else tree.left[parent]
            if parent in hist_cache and sib in hist_cache:
                derive.append((nid, parent, sib))
            else:
                need_build.append(nid)
        # prefer building the smaller sibling of each pair
        build_set = set(need_build)
        final_build = []
        for nid in need_build:
            parent = tree.parent[nid]
            sib = tree.right[parent] if tree.left[parent] == nid else tree.left[parent]
            if (
                sib in build_set and parent in hist_cache
                and tree.sum_hess[nid] > tree.sum_hess[sib]
            ):
                derive.append((nid, parent, sib))
            else:
                final_build.append(nid)
        if final_build:
            hg, hh = builder.build(tree, final_build)
            for i, nid in enumerate(final_build):
                hist_cache[nid] = (hg[i], hh[i])
        # derive the rest (SubtractionHist, hist_util.h:404); sibling may be
        # derived in this same batch, so resolve iteratively
        pending = list(derive)
        while pending:
            progressed = False
            rest = []
            for nid, parent, sib in pending:
                if sib in hist_cache:
                    pg, ph = hist_cache[parent]
                    sg, sh = hist_cache[sib]
                    hist_cache[nid] = (pg - sg, ph - sh)
                    progressed = True
                else:
                    rest.append((nid, parent, sib))
            pending = rest
            if not progressed and pending:
                nids2 = [t[0] for t in pending]
                hg, hh = builder.build(tree, nids2)
                for i, nid in enumerate(nids2):
                    hist_cache[nid] = (hg[i], hh[i])
                pending = []
        g = np.stack([hist_cache[n][0] for n in nids])
        h = np.stack([hist_cache[n][1] for n in nids])
        return g, h

    def commit_leaf(nid: int):
        w = float(calc_weight(tree.sum_grad[nid], tree.sum_hess[nid],
                              params.reg_lambda, params.reg_alpha,
                              params.max_delta_step))
        if bounds is not None and nid in bounds:
            lo, hi = bounds[nid]
            w = min(max(w, lo), hi)
        tree.leaf_value[nid] = params.eta * w

    def depth_of(nid: int) -> int:
        d = 0
        while tree.parent[nid] != -1:
            nid = tree.parent[nid]
            d += 1
        return d

    max_depth = params.max_depth if params.max_depth > 0 else 1_000
    if params.grow_policy == "lossguide" and params.max_leaves > 0:
        # lossguide: expand best loss_chg first (driver.h lossguide order)
        hg, hh = builder.build(tree, [0])
        hist_cache[0] = (hg[0], hh[0])
        candidates: list[tuple[float, int, SplitResult]] = []

        def nmask(nid: int) -> np.ndarray:
            m = node_mask(level_mask())
            if allowed is not None:
                m = m & allowed[nid]
            return m

        res = builder.best_splits(hg, hh, feature_mask=nmask(0),
                                  node_bounds=node_bounds_for([0]), **kw)[0]
        if root_g is None:
            tree.sum_grad[0], tree.sum_hess[0] = builder.root_sums(hg, hh)
        if res is not None:
            candidates.append((-res.gain, 0, res))
        n_leaves = 1
        counter = 0
        while candidates and n_leaves < params.max_leaves:
            candidates.sort()
            _, nid, res = candidates.pop(0)
            if depth_of(nid) >= max_depth:
                commit_leaf(nid)
                continue
            f = res.fidx
            sv = 0.0 if res.categories is not None else builder.split_value(f, res.split_bin)
            lid, rid = tree.expand(
                nid, f, res.split_bin, sv,
                res.default_left, res.gain,
                res.g_left, res.h_left, res.g_right, res.h_right,
                categories=res.categories,
            )
            n_leaves += 1
            counter += 1
            on_expand(nid, f, lid, rid, res)
            hg, hh = hists_for([lid, rid])
            masks = np.stack([nmask(lid), nmask(rid)])
            both = builder.best_splits(hg, hh, feature_mask=masks,
                                       node_bounds=node_bounds_for([lid, rid]),
                                       **kw)
            for child, r in zip((lid, rid), both):
                if r is not None and depth_of(child) < max_depth:
                    candidates.append((-r.gain, child, r))
                else:
                    commit_leaf(child)
        for _, nid, _r in candidates:
            commit_leaf(nid)
    else:
        # depthwise: one histogram batch per level
        active = [0]
        for depth in range(max_depth):
            if not active:
                break
            if depth == 0:
                hg, hh = builder.build(tree, [0])
                hist_cache[0] = (hg[0], hh[0])
            else:
                hg, hh = hists_for(active)
            fmask = level_mask()
            if params.colsample_bynode < 1.0 or allowed is not None:
                masks = np.stack([
                    (node_mask(fmask) & allowed[nid]) if allowed is not None
                    else node_mask(fmask)
                    for nid in active
                ])
            else:
                masks = fmask
            results = builder.best_splits(hg, hh, feature_mask=masks,
                                          node_bounds=node_bounds_for(active),
                                          **kw)
            if depth == 0 and root_g is None:
                tree.sum_grad[0], tree.sum_hess[0] = builder.root_sums(hg, hh)
            nxt = []
            for nid, res in zip(active, results):
                if res is None:
                    commit_leaf(nid)
                    continue
                f = res.fidx
                sv = (0.0 if res.categories is not None
                      else builder.split_value(f, res.split_bin))
                lid, rid = tree.expand(
                    nid, f, res.split_bin, sv,
                    res.default_left, res.gain,
                    res.g_left, res.h_left, res.g_right, res.h_right,
                    categories=res.categories,
                )
                on_expand(nid, f, lid, rid, res)
                nxt.extend((lid, rid))
            # free parent hists no longer needed
            for nid in active:
                if tree.is_leaf(nid):
                    hist_cache.pop(nid, None)
            active = nxt
        for nid in active:
            commit_leaf(nid)
    return tree


def prune_tree(tree: Tree, min_split_loss: float, eta: float,
               reg_lambda: float, reg_alpha: float = 0.0,
               max_delta_step: float = 0.0) -> int:
    """Post-hoc pruner (reference `src/tree/updater_prune.cc:186`,
    `CollapseToLeaf` `tree_model.h:220`): recursively collapse any internal
    node whose children are both leaves and whose recorded loss change is
    below ``min_split_loss``.  The collapsed node becomes a leaf with weight
    from its stored (sum_grad, sum_hess).  Returns number of nodes pruned.
    Pruned child slots stay in the arrays but become unreachable.
    """
    npruned = 0
    changed = True
    while changed:
        changed = False
        for nid in range(tree.n_nodes):
            if tree.is_leaf(nid):
                continue
            lid, rid = tree.left[nid], tree.right[nid]
            if tree.is_leaf(lid) and tree.is_leaf(rid) and tree.gain[nid] < min_split_loss:
                tree.left[nid] = -1
                tree.right[nid] = -1
                tree.feature[nid] = -1
                tree.leaf_value[nid] = eta * float(
                    calc_weight(tree.sum_grad[nid], tree.sum_hess[nid],
                                reg_lambda, reg_alpha, max_delta_step)
                )
                npruned += 1
                changed = True
    return npruned


def bin_categorical(x: np.ndarray, n_cats: int) -> np.ndarray:
    """Categorical 'binning': the ordinal code IS the bin (reference
    categorical bins = category codes, hist_util.h HistogramCuts).
    NaN -> MISSING_BIN; out-of-range codes clamp into the last bin."""
    code = np.where(np.isnan(x), MISSING_BIN,
                    np.clip(np.nan_to_num(x), 0, n_cats - 1))
    return code.astype(np.int16)


def bin_values(x: np.ndarray, cuts: np.ndarray) -> np.ndarray:
    """value -> bin index: first cut >= x (bin covers (prev_cut, cut]).
    NaN -> MISSING_BIN.  Mirrors `SearchBin` (`src/common/hist_util.h:122`).
    """
    b = np.searchsorted(cuts, x, side="left")
    b = np.minimum(b, len(cuts) - 1)
    return np.where(np.isnan(x), MISSING_BIN, b).astype(np.int16)


# ---------------------------------------------------------------------------
# approx: per-round hessian-weighted re-binning of a fine quantized matrix
# ---------------------------------------------------------------------------
#
# The reference approx updater re-sketches every round with that round's
# hessians as weights (`updater_approx.cc:95-130`).  Here features are
# quantized once at fine resolution (4x max_bin); each round picks the
# coarse boundaries from one global (feature x fine bin) sum-of-|h|
# histogram and re-quantizes through a per-feature lookup table, so raw
# values are never read again.  Error is bounded by the fine grid — the
# approximation class of a direct weighted sketch at 4x resolution.
# Both tree trainers call these kernels; each sums the histogram its own
# way (barrier: allreduce; DataFrame: one job, partitions in order).

def approx_hist(Xb_fine: np.ndarray, h: np.ndarray, n_bins: int) -> np.ndarray:
    """The local ``(features, n_bins + 1)`` histogram of ``|h|`` over the
    fine bins (missing rows in the last slot)."""
    n, Fn = Xb_fine.shape
    hist = np.zeros((Fn, n_bins + 1))
    if n:
        hw = np.abs(h)
        for f in range(Fn):
            b = Xb_fine[:, f].astype(np.int64)
            b = np.where(b == MISSING_BIN, n_bins, b)
            hist[f] = np.bincount(b, weights=hw,
                                  minlength=n_bins + 1)[: n_bins + 1]
    return hist


def approx_bounds(hist: np.ndarray, fine_cuts, cat_mask, max_bin: int) -> list:
    """The round's coarse binning from the globally summed `approx_hist`:
    ``bounds_list[f]`` maps coarse bin -> the last fine bin it covers
    (equal-|h| CDF inversion); None = feature not re-binned (categorical,
    or at most ``max_bin`` fine bins)."""
    bounds_list = []
    for f, fc in enumerate(fine_cuts):
        nf = len(fc)
        if (cat_mask is not None and cat_mask[f]) or nf <= max_bin:
            bounds_list.append(None)
            continue
        w = hist[f, :nf]
        W = w.sum()
        if W <= 0:      # no hessian mass this round: even fine-bin merge
            bounds = np.linspace(0, nf - 1, max_bin).astype(np.int64)
        else:
            cum = np.cumsum(w)
            targets = W * np.arange(1, max_bin) / max_bin
            bounds = np.searchsorted(cum, targets, side="left")
            bounds = np.unique(np.append(bounds, nf - 1))
        bounds_list.append(bounds)
    return bounds_list


def coarse_cuts(fine_cuts, bounds_list) -> list[np.ndarray]:
    """The cuts of an `approx_bounds` binning: a coarse bin's upper bound
    is that of the last fine bin it covers."""
    return [np.asarray(fc, dtype=np.float64) if b is None
            else np.asarray(fc, dtype=np.float64)[b]
            for fc, b in zip(fine_cuts, bounds_list)]


def approx_rebin(Xb_fine: np.ndarray, bounds_list) -> np.ndarray:
    """Fine bins -> the coarse bins of ``bounds_list`` through a
    per-feature lookup table; missing stays missing."""
    Xb_c = Xb_fine.copy()
    for f, bounds in enumerate(bounds_list):
        if bounds is None:
            continue
        lut = np.searchsorted(bounds, np.arange(bounds[-1] + 1),
                              side="left").astype(np.int16)
        col = Xb_fine[:, f]
        Xb_c[:, f] = np.where(col == MISSING_BIN, MISSING_BIN,
                              lut[np.maximum(col, 0)])
    return Xb_c


def remap_split_bins(tree: Tree, bounds_list) -> None:
    """Rewrite a tree grown on a round's coarse bins into the fine bin
    space: coarse split ``b <= sb`` is fine split ``b_fine <= bounds[sb]``
    (the lookup table is monotone).  ``split_value`` is already the
    raw-domain boundary and needs no change."""
    for nid in range(tree.n_nodes):
        f = tree.feature[nid]
        if f < 0 or tree.categories[nid] is not None:
            continue
        b = bounds_list[f]
        if b is not None:
            tree.split_bin[nid] = int(b[tree.split_bin[nid]])
