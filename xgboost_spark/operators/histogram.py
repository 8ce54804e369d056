"""Gradient-histogram aggregation — the engine's inner-loop operator.

Per (node, feature, bin): sum of gradients and hessians over the rows
currently routed to the node (reference `common::BuildHist`
`src/common/hist_util.h:651-653`, builder `src/tree/hist/histogram.h`).

Spark design (scale-first):
- the quantized matrix is a cached DataFrame; it is NEVER mutated —
  rows are routed to nodes on the fly by traversing the broadcast
  partial tree inside an Arrow-batched `mapInPandas` (this fuses the
  reference's `UpdatePosition` into the histogram pass, so there is no
  per-level shuffle of the data itself);
- each partition emits only its non-zero partial histogram entries
  (node, fidx, bin, g, h) — at most nodes x features x bins rows,
  independent of row count;
- `groupBy(node,fidx,bin).sum` is the cross-worker reduction: Spark's
  partial (map-side) aggregation + exchange IS the reference's ring
  allreduce (`src/collective/allreduce.cc:113`), and one job services
  every node of a level (contiguous-node batching,
  `src/tree/hist/histogram.h:109,188`);
- the driver collects the aggregated histogram (<= nodes x features x
  (bins+1) rows — a few MB at most, independent of data scale) and runs
  split search locally, mirroring the reference where every worker holds
  the reduced histogram.

All-nodes batching + fused routing means exactly ONE Spark job per tree
level regardless of node count — at 100 TB the per-level cost is one
map pass over the cached matrix plus a tiny shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from xgboost_spark import core

PARTIAL_SCHEMA = "nid int, fidx int, bin int, g double, h double"


def _partial_hist_fn(bc_state, fcols: list[str], gcol: str, hcol: str, n_bins: int,
                     bounds=None):
    F_ = len(fcols)
    B = n_bins

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arrays, nids = bc_state.value
        slot = np.full(len(arrays["left"]), -1, dtype=np.int32)
        for i, nid in enumerate(nids):
            slot[nid] = i
        n_slots = len(nids)
        acc_g = np.zeros(n_slots * F_ * (B + 1))
        acc_h = np.zeros(n_slots * F_ * (B + 1))
        for pdf in it:
            if len(pdf) == 0:
                continue
            Xb = np.column_stack([pdf[c].to_numpy(dtype=np.int16, na_value=-1) for c in fcols])
            if bounds is not None:
                Xb = core.approx_rebin(Xb, bounds)
            node = core.leaf_ids_from_arrays(arrays, Xb, binned=True)
            s = slot[node]
            rows = s >= 0
            if not rows.any():
                continue
            Xn = Xb[rows].astype(np.int64)
            g = pdf[gcol].to_numpy(dtype=np.float64)[rows]
            h = pdf[hcol].to_numpy(dtype=np.float64)[rows]
            sn = s[rows].astype(np.int64)
            binm = np.where(Xn == core.MISSING_BIN, B, Xn)
            key = (sn[:, None] * F_ + np.arange(F_)[None, :]) * (B + 1) + binm
            key = key.ravel()
            acc_g += np.bincount(key, weights=np.repeat(g, F_), minlength=len(acc_g))
            acc_h += np.bincount(key, weights=np.repeat(h, F_), minlength=len(acc_h))
        nz = np.nonzero((acc_g != 0) | (acc_h != 0))[0]
        if len(nz) == 0:
            yield pd.DataFrame(
                {"nid": pd.Series([], dtype="int32"), "fidx": pd.Series([], dtype="int32"),
                 "bin": pd.Series([], dtype="int32"), "g": pd.Series([], dtype="float64"),
                 "h": pd.Series([], dtype="float64")}
            )
            return
        s_idx = nz // (F_ * (B + 1))
        rem = nz % (F_ * (B + 1))
        f_idx = rem // (B + 1)
        b_idx = rem % (B + 1)
        nid_arr = np.asarray(nids, dtype=np.int32)[s_idx]
        yield pd.DataFrame(
            {"nid": nid_arr, "fidx": f_idx.astype(np.int32), "bin": b_idx.astype(np.int32),
             "g": acc_g[nz], "h": acc_h[nz]}
        )

    return fn


class SparkHistBuilder(core.HistBuilder):
    """HistBuilder over a cached quantized DataFrame.

    One `build()` call = one Spark job (map pass + tiny shuffle +
    driver collect), covering every requested node.  With ``bounds``
    (an approx round's `core.approx_bounds`), each batch's fine bins
    are mapped onto that round's coarse bins, whose cuts are ``cuts``.
    """

    def __init__(self, binned_df: DataFrame, fcols: list[str], cuts: list[np.ndarray],
                 gcol: str = "g0", hcol: str = "h0", bounds=None):
        self.df = binned_df
        self.bounds = bounds
        self.fcols = fcols
        self.cuts = cuts
        self.gcol = gcol
        self.hcol = hcol
        self.n_features = len(fcols)
        self.n_bins = max(len(c) for c in cuts)
        self._sc = binned_df.sparkSession.sparkContext

    def split_value(self, fidx: int, split_bin: int) -> float:
        return float(self.cuts[fidx][split_bin])

    def build(self, tree: core.Tree, nids: list[int]):
        bc = self._sc.broadcast((tree.finalize_arrays(), list(nids)))
        try:
            fn = _partial_hist_fn(bc, self.fcols, self.gcol, self.hcol, self.n_bins,
                                  self.bounds)
            sel = self.df.select(*self.fcols, self.gcol, self.hcol)
            partials = sel.mapInPandas(fn, schema=PARTIAL_SCHEMA)
            agg = partials.groupBy("nid", "fidx", "bin").agg(
                F.sum("g").alias("g"), F.sum("h").alias("h")
            )
            pdf = agg.toPandas()
        finally:
            bc.destroy()
        B = self.n_bins
        hg = np.zeros((len(nids), self.n_features, B + 1))
        hh = np.zeros((len(nids), self.n_features, B + 1))
        slot = {nid: i for i, nid in enumerate(nids)}
        if len(pdf):
            s = pdf["nid"].map(slot).to_numpy(dtype=np.int64)
            hg[s, pdf["fidx"].to_numpy(), pdf["bin"].to_numpy()] = pdf["g"].to_numpy()
            hh[s, pdf["fidx"].to_numpy(), pdf["bin"].to_numpy()] = pdf["h"].to_numpy()
        return hg, hh
