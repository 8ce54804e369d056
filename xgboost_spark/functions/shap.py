"""TreeSHAP: exact per-feature contributions for tree ensembles.

Path-dependent TreeSHAP (Lundberg, Erion & Lee 2018, "Consistent
Individualized Feature Attribution for Tree Ensembles", Algorithm 2 —
public knowledge; the reference's C++ form is
`src/predictor/interpretability/shap.cc:101`), evaluated path by path
as in GPUTreeShap (Mitchell, Frank & Holmes, PeerJ CS 2022) instead of
by recursion over the tree.

Two forms:
- the path kernel — `compile_paths` turns a tree, once, into its
  root-to-leaf paths: each path is a list of unique features
  ("elements"), each with a zero fraction z (the product of the cover
  ratios of that feature's hops, so a feature repeated on a path merges
  the way the recursion's unwind merges it) and the (node, direction)
  hops it must satisfy.  `path_shap` then builds one node-decision
  matrix per batch; a row satisfies all of an element's hops or not,
  so its one fractions o are bits, and the L bits of a path form a
  pattern.  Element e's contribution w_e * (o_e - z_e) * leaf depends
  only on (path, pattern): the coefficients come from the path-form
  EXTEND / UNWOUND_SUM vectorised over the distinct (path, pattern)
  pairs a batch shows, and are gathered per row and summed into phi by
  feature.  No recursion over the tree per batch.
- `_tree_shap_row` — the scalar textbook recursion, kept as the testing
  oracle for the path kernel.

Contract (matches the reference's `pred_contribs`):
  phi has F+1 slots; phi[:F] are feature contributions, phi[F] is the
  bias (the tree's cover-weighted expected value); sum(phi) equals the
  tree's margin prediction for the row (local accuracy).

`condition` (+1 / -1 on `condition_feature`) computes SHAP values with
that feature fixed present/absent — the building block for interaction
values (`pred_interactions`), mirroring shap.cc's interaction path.  On
a path the conditioned element drops out and scales the path by its o
(present) or z (absent); `path_shap_interactions` applies the same to
every element of every path at once.

Per-node cover = training sum_hess (the reference uses the same stat).
"""

from __future__ import annotations

import numpy as np


def _num_go_left(a, nd, x):
    """Numeric split decision honoring the model's tie convention:
    engine-trained trees route left on ``x <= split_value`` (consistent
    with <=-upper-bound binning); genuine reference-dialect imports
    (``a["tie_strict"]``) use the reference predictor's STRICT float32
    ``x < split_cond`` (`src/predictor/predict_fn.h:22`)."""
    sv = a["split_value"][nd]
    if a.get("tie_strict"):
        return (np.asarray(x, dtype=np.float32)
                < np.asarray(sv, dtype=np.float32))
    return x <= sv


def _max_depth(a) -> int:
    depth = np.zeros(len(a["left"]), dtype=np.int64)
    out = 0
    for nid in range(len(a["left"])):
        if a["left"][nid] != -1:
            for ch in (a["left"][nid], a["right"][nid]):
                depth[ch] = depth[nid] + 1
                out = max(out, int(depth[ch]))
    return out


def _expected_value(a, cover) -> float:
    """Cover-weighted mean of leaves = E[f] over the training mass."""
    leaves = a["left"] == -1
    total = cover[0] if cover[0] > 0 else max(cover[leaves].sum(), 1e-300)
    return float((cover[leaves] * a["leaf_value"][leaves]).sum() / total)


# ---------------------------------------------------------------------------
# path kernel
# ---------------------------------------------------------------------------

# per-chunk working-set cap, in (row, path, element) cells: rows are
# processed in chunks so a batch's memory stays bounded by the tree's
# size, not the batch's
_CHUNK_CELLS = 1 << 20


def compile_paths(a: dict, cover: np.ndarray) -> dict:
    """One tree as its root-to-leaf paths (driver side, once per tree).

    Returns arrays over P paths padded to the longest path's L unique
    features: ``feat`` (P, L) (-1 = padding), ``z`` (P, L) (padding =
    1.0: an element with z = o = 1 is a null player and changes no
    other element's value) and ``leaf`` (P,); the decision ``nodes``
    the paths test; and their hops, slot by slot — (``hop_pos`` into
    ``nodes``, ``hop_left``), where position len(nodes) is an
    always-true decision for padding slots — with each (path, element)
    slot's first hop at ``slot_start``.  Size O(P x depth)."""
    left, right = a["left"], a["right"]
    bias = _expected_value(a, cover)
    nodes = np.flatnonzero(left != -1)
    if len(nodes) == 0:
        return {"bias": bias, "z": np.ones((1, 0))}
    pos = np.full(len(left), -1, dtype=np.int64)
    pos[nodes] = np.arange(len(nodes))
    paths = []                # (leaf, {feature: (z, [(node pos, go_left)])})
    stack = [(0, ())]
    while stack:
        nid, hops = stack.pop()
        if left[nid] != -1:
            stack.append((int(right[nid]), hops + ((nid, False),)))
            stack.append((int(left[nid]), hops + ((nid, True),)))
            continue
        elems: dict[int, tuple[float, list]] = {}
        for h, go_left in hops:
            f = int(a["feature"][h])
            z, hs = elems.get(f, (1.0, []))
            child = left[h] if go_left else right[h]
            elems[f] = (z * (cover[child] / max(cover[h], 1e-300)),
                        hs + [(int(pos[h]), go_left)])
        paths.append((nid, elems))
    P = len(paths)
    L = max(len(elems) for _, elems in paths)
    feat = np.full((P, L), -1, dtype=np.int64)
    z = np.ones((P, L))
    hops, slot_start = [], []
    for p, (_, elems) in enumerate(paths):
        feat[p, :len(elems)] = list(elems)
        z[p, :len(elems)] = [ze for ze, _ in elems.values()]
        pads = [[(len(nodes), True)]] * (L - len(elems))
        for hs in [hs for _, hs in elems.values()] + pads:
            slot_start.append(len(hops))
            hops.extend(hs)
    return {
        "bias": bias, "feat": feat, "z": z,
        "leaf": np.asarray([a["leaf_value"][leaf] for leaf, _ in paths],
                           dtype=np.float64),
        "nodes": nodes,
        "hop_pos": np.asarray([h for h, _ in hops], dtype=np.int64),
        "hop_left": np.asarray([d for _, d in hops], dtype=bool),
        "slot_start": np.asarray(slot_start, dtype=np.int64),
    }


def _decisions(a: dict, nodes: np.ndarray, X: np.ndarray) -> np.ndarray:
    """(n, len(nodes)) go-left matrix: NaN takes ``default_left``,
    categorical nodes test set membership, numeric nodes follow
    `_num_go_left`'s tie convention."""
    x = X[:, a["feature"][nodes]]
    go_left = _num_go_left(a, nodes, x)
    cats = a.get("categories")
    if cats is not None:
        for j, nid in enumerate(nodes):
            if cats[nid] is not None:
                code = np.nan_to_num(x[:, j]).astype(np.int64)
                go_left[:, j] = np.isin(code, cats[nid])
    return np.where(np.isnan(x), a["default_left"][nodes], go_left)


def _one_fractions(a: dict, tp: dict, X: np.ndarray) -> np.ndarray:
    """(n, P, L) bool: does the row satisfy every hop of the element
    (padding slots always do)."""
    n = X.shape[0]
    d = np.ones((n, len(tp["nodes"]) + 1), dtype=bool)
    d[:, :-1] = _decisions(a, tp["nodes"], X)
    sat = d[:, tp["hop_pos"]] == tp["hop_left"]
    o = np.logical_and.reduceat(sat, tp["slot_start"], axis=1)
    return o.reshape(n, *tp["z"].shape)


def _coefs(z: np.ndarray, o: np.ndarray, v: np.ndarray) -> np.ndarray:
    """Per-element contributions w_e * (o_e - z_e) * v of G path
    instances, element-major: z, o (L, G), leaf values v (G,); returns
    (L, G).  EXTEND builds the permutation weights of the whole path
    (root dummy first), then UNWOUND_SUM removes each element in turn —
    shap.cc's ExtendPath / UnwoundPathSum, every element at once."""
    L, G = z.shape
    Lt = L + 1                                # + the root's dummy element
    w = np.zeros((Lt, G))
    w[0] = 1.0
    buf = np.empty((L, G))
    for ln in range(1, Lt):
        i = np.arange(ln)[:, None]
        old = buf[:ln]
        np.copyto(old, w[:ln])
        np.multiply(old, (ln - i) / (ln + 1), out=w[:ln])
        w[:ln] *= z[ln - 1]
        old *= (i + 1) / (ln + 1)
        old *= o[ln - 1]
        w[1:ln + 1] += old
    nxt = np.repeat(w[L:], L, axis=0)
    total_one = np.zeros((L, G))
    total_zero = np.zeros(G)
    for j in range(L - 1, -1, -1):
        np.multiply(nxt, Lt / (j + 1), out=buf)
        total_one += buf
        buf *= z
        buf *= (L - j) / Lt
        np.subtract(w[j], buf, out=nxt)
        total_zero += w[j] * (Lt / (L - j))
    total = np.where(o != 0, total_one, total_zero / np.where(z != 0, z, 1.0))
    total *= o - z
    total *= v
    return total


def _gather_coefs(z: np.ndarray, v: np.ndarray, o: np.ndarray) -> np.ndarray:
    """Coefficients of every (row, path) of ``o`` (m, P, L) for paths
    with zero fractions z (P, L) and leaf values v (P,), computed once
    per distinct (path, pattern) pair the rows show — at most
    min(m, 2^L) per path.  Returns (m, P, L)."""
    m, P, L = o.shape
    flat = o.reshape(m * P, L)
    # dense id of each (path, pattern) pair: start from the path id and
    # fold in the bits a word at a time; an id is < m * P, so the word
    # size keeps every key below 2^62 whatever L is
    key = np.tile(np.arange(P, dtype=np.int64), m)
    word = 62 - (m * P).bit_length()
    for lo in range(0, L, word):
        bits = flat[:, lo:lo + word]
        code = bits @ (np.int64(1) << np.arange(bits.shape[1], dtype=np.int64))
        uniq, key = np.unique((key << bits.shape[1]) | code,
                              return_inverse=True)
    # any row of a pair stands for it
    first = np.empty(len(uniq), dtype=np.int64)
    first[key] = np.arange(m * P)
    up = first % P
    c = _coefs(z[up].T, flat[first].T.astype(np.float64), v[up])
    return np.take(np.ascontiguousarray(c.T), key, axis=0).reshape(m, P, L)


def _scatter_sum(out: np.ndarray, vals: np.ndarray, keys: np.ndarray):
    """out[:, k] += sum of vals[:, c] over the columns c with keys[c] ==
    k (keys < 0 are skipped)."""
    order = np.argsort(keys, kind="stable")
    order = order[keys[order] >= 0]
    if len(order) == 0:
        return
    ks = keys[order]
    starts = np.flatnonzero(np.r_[True, ks[1:] != ks[:-1]])
    out[:, ks[starts]] += np.add.reduceat(vals[:, order], starts, axis=1)


def _chunk_rows(cells_per_row: int) -> int:
    return max(1, _CHUNK_CELLS // cells_per_row)


def path_shap(a: dict, tp: dict, X: np.ndarray, n_features: int,
              condition: int = 0, condition_feature: int = -1) -> np.ndarray:
    """SHAP values of one compiled tree (`compile_paths`) over a batch
    of raw-domain rows: (n, F+1), last column the bias (zero when
    conditioning, matching shap.cc)."""
    n = X.shape[0]
    phi = np.zeros((n, n_features + 1))
    if condition == 0:
        phi[:, n_features] = tp["bias"]
    P, L = tp["z"].shape
    if n == 0 or L == 0:
        return phi
    z, feat = tp["z"], tp["feat"]
    hit = feat == condition_feature if condition != 0 else None
    if hit is not None:
        # the conditioned element drops out as a null player (z = o = 1)
        z = np.where(hit, 1.0, z)
        on_path = hit.any(axis=1)
        e_hit = hit.argmax(axis=1)
        z_hit = np.where(on_path, tp["z"][np.arange(P), e_hit], 1.0)
    keys = feat.reshape(-1)
    step = _chunk_rows(P * L)
    for lo in range(0, n, step):
        o = _one_fractions(a, tp, X[lo:lo + step])
        if hit is not None:
            o_hit = np.where(on_path, o[:, np.arange(P), e_hit], True)
            scale = o_hit if condition > 0 else np.broadcast_to(z_hit, o_hit.shape)
            o = o | hit
        c = _gather_coefs(z, tp["leaf"], o)
        if hit is not None:
            c *= scale[:, :, None]
        _scatter_sum(phi[lo:lo + step], c.reshape(len(o), -1), keys)
    return phi


def path_shap_interactions(a: dict, tp: dict, X: np.ndarray,
                           n_features: int) -> np.ndarray:
    """SHAP interaction values of one compiled tree: (n, F+1, F+1).
    interaction[i][j] = (phi_i | j present  -  phi_i | j absent) / 2 for
    i != j — on each path holding j, the coefficients of the path with
    j's element dropped, scaled by (o_j - z_j) / 2; symmetrised, and the
    diagonal absorbs the remainder so each row sums to phi (reference
    shap.cc interaction path)."""
    n = X.shape[0]
    F1 = n_features + 1
    phi = path_shap(a, tp, X, n_features)
    M = np.zeros((n, F1, F1))
    P, L = tp["z"].shape
    if n and L:
        z, feat = tp["z"], tp["feat"]
        eye = np.eye(L, dtype=bool)
        # virtual path (p, e): path p with element e dropped
        z_drop = np.where(eye, 1.0, z[:, None, :]).reshape(P * L, L)
        leaf = np.repeat(tp["leaf"], L)
        fi, fj = feat[:, None, :], feat[:, :, None]
        keys = np.where((fi >= 0) & (fj >= 0) & ~eye, fi * F1 + fj, -1)
        Mflat = M.reshape(n, F1 * F1)
        step = _chunk_rows(P * L * L)
        for lo in range(0, n, step):
            o = _one_fractions(a, tp, X[lo:lo + step])
            m = len(o)
            c = _gather_coefs(z_drop, leaf,
                              (o[:, :, None, :] | eye).reshape(m, P * L, L))
            c = c.reshape(m, P, L, L) * ((o - z) / 2.0)[:, :, :, None]
            _scatter_sum(Mflat[lo:lo + step], c.reshape(m, -1), keys.reshape(-1))
    # both conditioning orders estimate the same quantity — symmetrize,
    # then the diagonal absorbs the remainder so rows sum to phi
    out = (M + M.transpose(0, 2, 1)) / 2.0
    idx = np.arange(F1)
    out[:, idx, idx] = 0.0
    out[:, idx, idx] = phi - out.sum(axis=2)
    return out


def tree_shap(a: dict, cover: np.ndarray, X: np.ndarray,
              condition: int = 0, condition_feature: int = -1,
              n_features: int | None = None) -> np.ndarray:
    """SHAP values for one tree over a batch of raw-domain rows.

    a: finalize_arrays() dict; cover: per-node sum_hess; X: (n, F) float64
    with NaN for missing.  Returns (n, F+1); last column is the bias
    (zero when conditioning, matching shap.cc).
    """
    F = X.shape[1] if n_features is None else n_features
    return path_shap(a, compile_paths(a, cover), X, F,
                     condition=condition, condition_feature=condition_feature)


# ---------------------------------------------------------------------------
# scalar reference kernel (testing oracle for the path kernel)
# ---------------------------------------------------------------------------

def _decision(a, nid: int, xrow: np.ndarray) -> bool:
    f = a["feature"][nid]
    v = xrow[f]
    if np.isnan(v):
        return bool(a["default_left"][nid])
    if "categories" in a and a["categories"][nid] is not None:
        return bool(np.isin(np.int64(v), a["categories"][nid]))
    return bool(np.all(_num_go_left(a, nid, v)))


class _Path:
    __slots__ = ("d", "z", "o", "w")

    def __init__(self, cap: int):
        self.d = np.full(cap, -1, dtype=np.int64)
        self.z = np.zeros(cap)
        self.o = np.zeros(cap)
        self.w = np.zeros(cap)

    def copy(self, length: int) -> "_Path":
        p = _Path(len(self.d))
        p.d[:length] = self.d[:length]
        p.z[:length] = self.z[:length]
        p.o[:length] = self.o[:length]
        p.w[:length] = self.w[:length]
        return p


def _extend(m: _Path, length: int, pz: float, po: float, pi: int) -> int:
    m.d[length] = pi
    m.z[length] = pz
    m.o[length] = po
    m.w[length] = 1.0 if length == 0 else 0.0
    for i in range(length - 1, -1, -1):
        m.w[i + 1] += po * m.w[i] * (i + 1) / (length + 1)
        m.w[i] = pz * m.w[i] * (length - i) / (length + 1)
    return length + 1


def _unwind(m: _Path, length: int, i: int) -> int:
    length -= 1
    o = m.o[i]
    z = m.z[i]
    n = m.w[length]
    if o != 0:
        for j in range(length - 1, -1, -1):
            t = m.w[j]
            m.w[j] = n * (length + 1) / ((j + 1) * o)
            n = t - m.w[j] * z * (length - j) / (length + 1)
    else:
        for j in range(length):
            m.w[j] = m.w[j] * (length + 1) / (z * (length - j))
    for j in range(i, length):
        m.d[j] = m.d[j + 1]
        m.z[j] = m.z[j + 1]
        m.o[j] = m.o[j + 1]
    return length


def _unwound_sum(m: _Path, length: int, i: int) -> float:
    o = m.o[i]
    z = m.z[i]
    total = 0.0
    n = m.w[length - 1]
    if o != 0:
        for j in range(length - 2, -1, -1):
            t = n * length / ((j + 1) * o)
            total += t
            n = m.w[j] - t * z * (length - 1 - j) / length
    else:
        for j in range(length - 1):
            total += m.w[j] * length / (z * (length - 1 - j))
    return total


def _recurse(a, cover, xrow, phi, nid, m: _Path, length: int,
             pz: float, po: float, pi: int,
             condition: int, condition_feature: int, condition_fraction: float):
    if condition_fraction == 0.0:
        return
    if condition == 0 or pi != condition_feature:
        m = m.copy(length)
        length = _extend(m, length, pz, po, pi)
    if a["left"][nid] == -1:
        v = a["leaf_value"][nid]
        for i in range(1, length):
            w = _unwound_sum(m, length, i)
            phi[m.d[i]] += w * (m.o[i] - m.z[i]) * v * condition_fraction
        return
    f = int(a["feature"][nid])
    lid, rid = int(a["left"][nid]), int(a["right"][nid])
    hot, cold = (lid, rid) if _decision(a, nid, xrow) else (rid, lid)
    cj = max(cover[nid], 1e-300)
    rh = cover[hot] / cj
    rc = cover[cold] / cj
    iz = io = 1.0
    k = -1
    for i in range(1, length):
        if m.d[i] == f:
            k = i
            break
    if k >= 0:
        iz, io = m.z[k], m.o[k]
        m = m.copy(length)
        length = _unwind(m, length, k)
    hot_cf, cold_cf = condition_fraction, condition_fraction
    if condition > 0 and f == condition_feature:
        cold_cf = 0.0
    elif condition < 0 and f == condition_feature:
        hot_cf *= rh
        cold_cf *= rc
    _recurse(a, cover, xrow, phi, hot, m, length, iz * rh, io, f,
             condition, condition_feature, hot_cf)
    _recurse(a, cover, xrow, phi, cold, m, length, iz * rc, 0.0, f,
             condition, condition_feature, cold_cf)


def _tree_shap_row(a: dict, cover: np.ndarray, xrow: np.ndarray,
                   n_features: int,
                   condition: int = 0, condition_feature: int = -1) -> np.ndarray:
    phi = np.zeros(n_features + 1)
    if condition == 0:
        phi[n_features] = _expected_value(a, cover)
    if a["left"][0] == -1:
        return phi
    cap = _max_depth(a) + 2
    m = _Path(cap * (cap + 1))
    _recurse(a, cover, xrow, phi, 0, m, 0, 1.0, 1.0, -1,
             condition, condition_feature, 1.0)
    return phi


# ---------------------------------------------------------------------------
# Saabas + interactions
# ---------------------------------------------------------------------------

def saabas_contribs(a: dict, cover: np.ndarray, X: np.ndarray) -> np.ndarray:
    """Approximate contributions (`approx_contribs=True`; Saabas method —
    change in cover-weighted node expectation along the decision path).
    Vectorized level-walk.  Returns (n, F+1); last column = root
    expectation."""
    n, F = X.shape
    phi = np.zeros((n, F + 1))
    node_val = _node_values(a, cover)
    phi[:, F] = node_val[0]
    nid = np.zeros(n, dtype=np.int64)
    cats = a.get("categories")
    active = a["left"][nid] != -1
    while active.any():
        idx = np.nonzero(active)[0]
        nd = nid[idx]
        f = a["feature"][nd]
        x = X[idx, f]
        go_left = np.where(np.isnan(x), a["default_left"][nd],
                           _num_go_left(a, nd, x))
        if cats is not None:
            for u in np.unique(nd):
                if cats[u] is None:
                    continue
                m = nd == u
                xm = x[m]
                code = np.where(np.isnan(xm), -1, np.nan_to_num(xm)).astype(np.int64)
                go_left[m] = np.where(np.isnan(xm), a["default_left"][u],
                                      np.isin(code, cats[u]))
        nxt = np.where(go_left, a["left"][nd], a["right"][nd])
        np.add.at(phi, (idx, f), node_val[nxt] - node_val[nd])
        nid[idx] = nxt
        active = a["left"][nid] != -1
    return phi


def _node_values(a, cover) -> np.ndarray:
    """Cover-weighted expected leaf value per node (bottom-up)."""
    nn = len(a["left"])
    val = np.zeros(nn)
    cv = np.maximum(cover, 1e-300)
    for nid in range(nn - 1, -1, -1):
        if a["left"][nid] == -1:
            val[nid] = a["leaf_value"][nid]
        else:
            lid, rid = int(a["left"][nid]), int(a["right"][nid])
            val[nid] = (cv[lid] * val[lid] + cv[rid] * val[rid]) / (cv[lid] + cv[rid])
    return val


def tree_shap_interactions(a: dict, cover: np.ndarray, X: np.ndarray) -> np.ndarray:
    """SHAP interaction values for one tree: (n, F+1, F+1) (see
    `path_shap_interactions`)."""
    return path_shap_interactions(a, compile_paths(a, cover), X, X.shape[1])
