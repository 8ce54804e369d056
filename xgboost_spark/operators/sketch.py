"""Quantile sketch operators — the engine's cut-finding stage.

The reference builds per-feature epsilon-approximate weighted quantile
summaries and merges them across workers
(`src/common/quantile.h:35`, merge `src/common/quantile.cc:389-473`,
`SketchOnDMatrix` `src/common/hist_util.h:198`).  The unweighted path
mirrors that worker-summary/merge shape with an Arrow-batched NumPy
compaction sketch (`approx_cuts`) — one corpus scan, per-feature merge,
driver traffic independent of corpus size.  The weighted single-column
sketch (`weighted_cuts`) is a range-partitioned cumulative-weight query
— no single-partition global sort, so it scales.  The trainers' `approx`
re-sketch does not read raw values: it merges the bins of a 4x-finer
`approx_cuts` grid by hessian weight (`core.approx_bounds`).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from xgboost_spark.operators.util import sql_ident


def _finish_cuts(qs: list[float], vmax: float) -> np.ndarray:
    cuts = np.unique(np.asarray(qs, dtype=np.float64))
    cuts = cuts[~np.isnan(cuts)]
    if cuts.size == 0:
        return np.asarray([np.inf])
    # final boundary covers the max (reference bumps the last cut)
    cuts[-1] = np.nextafter(max(cuts[-1], vmax), np.inf)
    return cuts


def _ranked_picks(vals: np.ndarray, wts: np.ndarray, k: int):
    """The values at ``k`` evenly spaced cumulative-weight ranks of a
    weighted sample, and its total weight.  Module-level so the
    sketch's UDFs reference engine code: unpickling them in a Python
    worker imports the package (see ``xgboost_spark._zipcache``)."""
    o = np.argsort(vals, kind="stable")
    vals = vals[o]
    cw = np.cumsum(wts[o])
    W = cw[-1]
    tgt = (np.arange(1, k + 1) / k) * W
    idx = np.minimum(np.searchsorted(cw, tgt, side="left"), len(vals) - 1)
    return vals[idx], W


def approx_cuts(df: DataFrame, cols: list[str], max_bin: int,
                accuracy: int | None = None, extra_sums=None):
    """Per-feature bin boundaries via a distributed compaction sketch.

    Equivalent role to `HistogramCuts` build
    (`src/common/hist_util.h:39-147`), same shape as the reference's
    per-worker quantile summaries merged across workers
    (`src/common/quantile.cc:389-473`): ONE Arrow-batched corpus scan
    emits, per (partition, feature), ``accuracy`` evenly-ranked order
    statistics (NumPy sort — vectorized, vs the JVM GK aggregate's
    per-row typed-imperative inserts, which profiled 2-4x slower on the
    same data); a per-feature merge task then weight-merges the
    partition samples and reads off the ``i/max_bin`` quantiles.  Rank
    error is bounded by n/accuracy (default 8x the bin count = 1/8 of a
    bin's mass).  Scale shape: driver traffic is n_features x max_bin
    doubles — independent of corpus size and partition count; the
    per-feature merge handles n_part x accuracy samples (a few MB at
    1000 executors); in-partition buffering is capped with hierarchical
    re-compaction, so executor memory stays bounded on huge partitions.

    ``extra_sums``: optional list of ``(name, value_col | None,
    weight_col | None)`` fused weighted sums — sum((value or 1) *
    (weight or 1)) — computed in the SAME scan (e.g. the trainer's
    intercept sums ride here so cuts + base score cost one scan, not
    two).  When given, returns ``(cuts, dict)``.

    Measured and REJECTED (round-15 optimization pass): rewriting
    ``compact`` as ``mapInArrow`` (skip the Arrow->pandas conversion
    per batch).  Cut values stayed bit-identical (same batch stream,
    same compaction points), but the conversion of a handful of
    all-double columns is near-zero-copy, so the interleaved A/B at
    sf0.1 read best-of-6 0.94 s (pandas) vs 1.03 s (arrow) — no win.
    The remaining sf0.1 cuts cost is the ONE-core scan+sketch of a
    single-row-group parquet (a bench-data artifact — any real layout
    parallelizes the map) plus ~0.3 s of fixed action latency;
    repartitioning the scan or resizing Arrow batches both CHANGE the
    compaction points and drift every unpinned-cuts oracle (round-14
    rejections 1 and 5), so this stage stays as is.
    """
    import pandas as pd
    if accuracy is None:
        accuracy = max(2048, 8 * max_bin)
    s = int(accuracy)
    specs = list(extra_sums or [])
    nf = len(cols)
    need = list(cols)
    for _name, v, w in specs:
        for c in (v, w):
            if c is not None and c not in need:
                need.append(c)
    src = df.selectExpr(*[f"CAST({sql_ident(c)} AS DOUBLE) AS {sql_ident(c)}"
                          for c in need])
    n_specs = len(specs)

    def compact(batches):
        bufs: list[list[tuple[np.ndarray, float]]] = [[] for _ in range(nf)]
        buf_cnt = [0] * nf
        tot = np.zeros(nf)
        mx = np.full(nf, -np.inf)
        sums = np.zeros(n_specs)
        cap = max(4 * s, 65536)

        def squash(i: int, k: int):
            vals = np.concatenate([v for v, _ in bufs[i]])
            wts = np.concatenate([np.full(len(v), w) for v, w in bufs[i]])
            kk = min(k, len(vals))
            picks, W = _ranked_picks(vals, wts, kk)
            bufs[i] = [(picks, W / kk)]
            buf_cnt[i] = kk

        for pdf in batches:
            if len(pdf) == 0:
                continue
            for i, c in enumerate(cols):
                x = pdf[c].to_numpy(dtype=np.float64, na_value=np.nan)
                x = x[~np.isnan(x)]
                if len(x) == 0:
                    continue
                tot[i] += len(x)
                mx[i] = max(mx[i], float(x.max()))
                bufs[i].append((x, 1.0))
                buf_cnt[i] += len(x)
                if buf_cnt[i] > cap:
                    squash(i, s)
            for j, (_name, v, w) in enumerate(specs):
                t = (pdf[v].to_numpy(dtype=np.float64, na_value=np.nan)
                     if v is not None else np.ones(len(pdf)))
                if w is not None:
                    t = t * pdf[w].to_numpy(dtype=np.float64,
                                            na_value=np.nan)
                # SQL-sum null semantics: a null value or weight drops
                # the row, it doesn't poison the total
                sums[j] += np.nansum(t)
        rows = []
        for i in range(nf):
            if tot[i] > 0:
                squash(i, s)
                rows.append((i, float(tot[i]), float(mx[i]),
                             bufs[i][0][0].tolist()))
        if n_specs:
            rows.append((-1, 0.0, 0.0, sums.tolist()))
        yield pd.DataFrame(rows, columns=["fi", "n", "mx", "smp"])

    parts = src.mapInPandas(
        compact, "fi int, n double, mx double, smp array<double>")

    def merge(key, pdf):
        fi = int(key[0])
        if fi == -1:
            # fused extra_sums ride the SAME merge job (one Spark
            # action per sketch instead of a persist + two collects —
            # each action is a full job round-trip of fixed latency)
            acc = np.zeros(n_specs)
            for r in pdf["smp"]:
                acc += np.asarray(r, dtype=np.float64)
            return pd.DataFrame({"fi": [-1], "mx": [0.0],
                                 "qs": [acc.tolist()]})
        vals = np.concatenate([np.asarray(r, dtype=np.float64)
                               for r in pdf["smp"]])
        wts = np.concatenate([np.full(len(r), n_p / len(r))
                              for r, n_p in zip(pdf["smp"], pdf["n"])])
        qs, _ = _ranked_picks(vals, wts, max_bin)
        return pd.DataFrame({"fi": [fi], "mx": [float(pdf["mx"].max())],
                             "qs": [qs.tolist()]})

    merged = (parts.groupBy("fi")
              .applyInPandas(merge, "fi int, mx double, qs array<double>")
              .collect())
    sum_row = None
    if n_specs:
        srow = next((r for r in merged if r["fi"] == -1), None)
        sum_row = {name: (float(srow["qs"][j]) if srow is not None else None)
                   for j, (name, _v, _w) in enumerate(specs)}
    by_fi = {r["fi"]: r for r in merged if r["fi"] >= 0}
    out = []
    for i in range(nf):
        r = by_fi.get(i)
        if r is None:
            out.append(np.asarray([np.inf]))
        else:
            out.append(_finish_cuts(list(r["qs"]), r["mx"]))
    return (out, sum_row) if specs else out


def weighted_cuts(df: DataFrame, col: str, weight_col: str, max_bin: int,
                  num_partitions: int | None = None) -> np.ndarray:
    """Weighted quantile cuts: cut_b = max{v : cumw(v) <= b/B * W}.

    Scalable pattern: range-repartition on the value column, per-partition
    prefix sums plus broadcast partition offsets — the Spark-native
    equivalent of the reference's distributed weighted-sketch merge
    (`src/common/quantile.cc:389-473`).
    """
    d = df.select(F.col(col).cast("double").alias("v"), F.col(weight_col).cast("double").alias("w"))
    d = d.filter(F.col("v").isNotNull())
    if num_partitions:
        d = d.repartitionByRange(num_partitions, "v")
    # cumw within a range partition ordered by v; partition offsets are a
    # tiny driver-side cumsum — two jobs total, no global single-partition sort
    d = d.withColumn("pid", F.spark_partition_id())
    d = d.withColumn("cw_local", F.sum("w").over(Window.partitionBy("pid").orderBy("v", "w")))
    per_part = d.groupBy("pid").agg(F.sum("w").alias("pw")).collect()
    per_part.sort(key=lambda r: r["pid"])
    offsets = {}
    acc = 0.0
    for r in per_part:
        offsets[r["pid"]] = acc
        acc += r["pw"]
    total = acc
    if total <= 0:
        return np.asarray([np.inf])
    off_df = df.sparkSession.createDataFrame(
        [(int(p), float(o)) for p, o in offsets.items()], "pid int, off double"
    )
    d = d.join(F.broadcast(off_df), "pid")
    d = d.withColumn("bucket", F.ceil((F.col("cw_local") + F.col("off")) * max_bin / total))
    rows = (
        d.groupBy("bucket").agg(F.max("v").alias("cut"))
        .orderBy("bucket").collect()
    )
    vmax = max(r["cut"] for r in rows)
    return _finish_cuts([r["cut"] for r in rows], vmax)


def exact_quantiles(df: DataFrame, col: str, n_bins: int,
                    coarse: int = 8192, collect_threshold: int = 1_000_000) -> DataFrame:
    """Exact type-1 quantiles at k/n_bins — value at global rank
    ``ceil(k*n/B)``.  SQL-oracle-equivalent to a `row_number() OVER
    (ORDER BY v)` query, computed scale-safely by iterative histogram
    refinement (distributed selection): each round is ONE full-parallel
    scan with a map-side-combinable `groupBy(bin).agg(count,min,max)`
    over ≤ ``coarse`` bins — no data shuffle, no global window, no
    Python workers.  Every round shrinks each target rank's candidate
    interval ~``coarse``×, so 100 TB needs only 3-4 cheap scans; a bin
    whose min==max (ties) resolves immediately, and once all candidate
    sets fit ``collect_threshold`` the remainders are solved driver-side.
    Returns DataFrame (k, cut)."""
    spark = df.sparkSession
    d = (df.select(F.col(col).cast("double").alias("v"))
           .filter(F.col("v").isNotNull() & ~F.isnan("v")))
    first = d.agg(F.count("*").alias("n"), F.min("v").alias("lo"),
                  F.max("v").alias("hi")).first()
    n = first["n"]
    if n == 0:
        return spark.createDataFrame([], "k bigint, cut double")
    # per-target state: global rank t, candidate interval [lo, hi]
    # (data min/max of the set), #rows below lo, #candidates in interval
    state = {k: {"t": int(math.ceil(k * n / n_bins)), "lo": float(first["lo"]),
                 "hi": float(first["hi"]), "below": 0, "cnt": int(n)}
             for k in range(1, n_bins)}
    resolved: dict[int, float] = {}
    for k, s in list(state.items()):
        if s["lo"] == s["hi"]:
            resolved[k] = s["lo"]
            del state[k]
    while state:
        active = {k: s for k, s in state.items() if s["cnt"] > collect_threshold}
        # Distinct candidate intervals needing refinement.  Invariant:
        # every round, all targets' intervals are pairwise identical or
        # disjoint (round 0 they are all [min,max]; afterwards each is
        # the (mn,mx) of one bin of a shared partitioning, and bins of a
        # partitioning never straddle each other) — so dedup by value is
        # enough and every bin below belongs wholly to each target whose
        # interval it refines.
        merged = sorted({(s["lo"], s["hi"]) for s in active.values()})
        if merged:
            # one scan: histogram of every merged interval at once
            iv_expr = None
            bin_expr = None
            for i, (lo, hi) in enumerate(merged):
                w = (hi - lo) / coarse
                in_iv = (F.col("v") >= lo) & (F.col("v") <= hi)
                b = F.least(F.floor((F.col("v") - lo) / w), F.lit(coarse - 1))
                iv_expr = F.when(in_iv, i) if iv_expr is None else iv_expr.when(in_iv, i)
                bin_expr = F.when(in_iv, b) if bin_expr is None else bin_expr.when(in_iv, b)
            hist = (d.withColumn("_iv", iv_expr).filter(F.col("_iv").isNotNull())
                    .withColumn("_b", bin_expr)
                    .groupBy("_iv", "_b")
                    .agg(F.count("*").alias("c"), F.min("v").alias("mn"),
                         F.max("v").alias("mx"))
                    .collect())
            bins: dict[int, list] = {}
            for r in hist:
                bins.setdefault(int(r["_iv"]), []).append(
                    (int(r["_b"]), int(r["c"]), float(r["mn"]), float(r["mx"])))
            for k, s in list(active.items()):
                iv = merged.index((s["lo"], s["hi"]))
                local = s["t"] - s["below"]
                cum = 0
                for b, c, mn, mx in sorted(bins.get(iv, [])):
                    if cum + c >= local:
                        s["below"] += cum
                        s["cnt"] = c
                        s["lo"], s["hi"] = mn, mx
                        break
                    cum += c
                if s["lo"] == s["hi"]:
                    resolved[k] = s["lo"]
                    del state[k]
        # solve all small-candidate targets with one driver collect
        small = {k: s for k, s in state.items() if s["cnt"] <= collect_threshold}
        if small:
            ivs = sorted({(s["lo"], s["hi"]) for s in small.values()})
            cond = None
            for lo, hi in ivs:
                c = (F.col("v") >= lo) & (F.col("v") <= hi)
                cond = c if cond is None else cond | c
            vals = np.sort(d.filter(cond).toPandas()["v"]
                           .to_numpy(dtype=np.float64))
            for k, s in small.items():
                lo, hi = s["lo"], s["hi"]
                sub = vals[(vals >= lo) & (vals <= hi)]
                resolved[k] = float(sub[s["t"] - s["below"] - 1])
                del state[k]
    return spark.createDataFrame(
        sorted((k, v) for k, v in resolved.items()), "k bigint, cut double")


def exact_rank_values(df: DataFrame, col: str,
                      ranks: "list[int]",
                      coarse: int = 8192,
                      collect_threshold: int = 1_000_000) -> "dict[int, float]":
    """Exact order statistics: value at each global 1-based rank in
    ``ranks`` (NULL/NaN excluded).  Same scale-safe iterative histogram
    refinement as :func:`exact_quantiles` (one map-side-combinable scan
    per round, no global window, no shuffle), keyed by arbitrary ranks
    instead of k/n_bins quantile ranks — the building block for the
    reference's interpolated quantile intercept (common/stats.h:34-66,
    which needs the two order statistics around alpha*(n+1))."""
    d = (df.select(F.col(col).cast("double").alias("v"))
           .filter(F.col("v").isNotNull() & ~F.isnan("v")))
    first = d.agg(F.count("*").alias("n"), F.min("v").alias("lo"),
                  F.max("v").alias("hi")).first()
    n = int(first["n"])
    if n == 0:
        return {}
    state = {}
    resolved: "dict[int, float]" = {}
    for t in sorted(set(int(r) for r in ranks)):
        if not 1 <= t <= n:
            raise ValueError(f"rank {t} out of range 1..{n}")
        s = {"t": t, "lo": float(first["lo"]), "hi": float(first["hi"]),
             "below": 0, "cnt": n}
        if s["lo"] == s["hi"]:
            resolved[t] = s["lo"]
        else:
            state[t] = s
    while state:
        active = {k: s for k, s in state.items()
                  if s["cnt"] > collect_threshold}
        merged = sorted({(s["lo"], s["hi"]) for s in active.values()})
        if merged:
            iv_expr = None
            bin_expr = None
            for i, (lo, hi) in enumerate(merged):
                wd = (hi - lo) / coarse
                in_iv = (F.col("v") >= lo) & (F.col("v") <= hi)
                b = F.least(F.floor((F.col("v") - lo) / wd), F.lit(coarse - 1))
                iv_expr = (F.when(in_iv, i) if iv_expr is None
                           else iv_expr.when(in_iv, i))
                bin_expr = (F.when(in_iv, b) if bin_expr is None
                            else bin_expr.when(in_iv, b))
            hist = (d.withColumn("_iv", iv_expr)
                    .filter(F.col("_iv").isNotNull())
                    .withColumn("_b", bin_expr)
                    .groupBy("_iv", "_b")
                    .agg(F.count("*").alias("c"), F.min("v").alias("mn"),
                         F.max("v").alias("mx"))
                    .collect())
            bins: "dict[int, list]" = {}
            for r in hist:
                bins.setdefault(int(r["_iv"]), []).append(
                    (int(r["_b"]), int(r["c"]), float(r["mn"]), float(r["mx"])))
            for k, s in list(active.items()):
                iv = merged.index((s["lo"], s["hi"]))
                local = s["t"] - s["below"]
                cum = 0
                for b, c, mn, mx in sorted(bins.get(iv, [])):
                    if cum + c >= local:
                        s["below"] += cum
                        s["cnt"] = c
                        s["lo"], s["hi"] = mn, mx
                        break
                    cum += c
                if s["lo"] == s["hi"]:
                    resolved[k] = s["lo"]
                    del state[k]
        small = {k: s for k, s in state.items()
                 if s["cnt"] <= collect_threshold}
        if small:
            ivs = sorted({(s["lo"], s["hi"]) for s in small.values()})
            cond = None
            for lo, hi in ivs:
                c = (F.col("v") >= lo) & (F.col("v") <= hi)
                cond = c if cond is None else cond | c
            vals = np.sort(d.filter(cond).toPandas()["v"]
                           .to_numpy(dtype=np.float64))
            for k, s in small.items():
                lo, hi = s["lo"], s["hi"]
                sub = vals[(vals >= lo) & (vals <= hi)]
                resolved[k] = float(sub[s["t"] - s["below"] - 1])
                del state[k]
    return resolved


def weighted_step_quantiles(df: DataFrame, col: str, wcol: str,
                            alphas: "list[float]",
                            coarse: int = 8192,
                            collect_threshold: int = 200_000) -> "list[float]":
    """Reference common::WeightedQuantile (stats.h:70-103): the step
    function min{v : cum_weight(<= v in sorted order) >= alpha * W} —
    no interpolation.  Distributed via the same histogram-refinement
    selection as :func:`exact_rank_values`, on weight MASS instead of
    row counts."""
    d = (df.select(F.col(col).cast("double").alias("v"),
                   F.col(wcol).cast("double").alias("w"))
           .filter(F.col("v").isNotNull() & ~F.isnan("v")))
    first = d.agg(F.count("*").alias("n"), F.sum("w").alias("W"),
                  F.min("v").alias("lo"), F.max("v").alias("hi")).first()
    n = int(first["n"])
    if n == 0:
        return [float("nan")] * len(alphas)
    W = float(first["W"])
    state = {}
    resolved: "dict[int, float]" = {}
    for i, a in enumerate(alphas):
        s = {"thresh": W * float(a), "lo": float(first["lo"]),
             "hi": float(first["hi"]), "below": 0.0, "cnt": n}
        if s["lo"] == s["hi"]:
            resolved[i] = s["lo"]
        else:
            state[i] = s
    while state:
        active = {k: s for k, s in state.items()
                  if s["cnt"] > collect_threshold}
        merged = sorted({(s["lo"], s["hi"]) for s in active.values()})
        if merged:
            iv_expr = None
            bin_expr = None
            for i, (lo, hi) in enumerate(merged):
                wd = (hi - lo) / coarse
                in_iv = (F.col("v") >= lo) & (F.col("v") <= hi)
                b = F.least(F.floor((F.col("v") - lo) / wd), F.lit(coarse - 1))
                iv_expr = (F.when(in_iv, i) if iv_expr is None
                           else iv_expr.when(in_iv, i))
                bin_expr = (F.when(in_iv, b) if bin_expr is None
                            else bin_expr.when(in_iv, b))
            hist = (d.withColumn("_iv", iv_expr)
                    .filter(F.col("_iv").isNotNull())
                    .withColumn("_b", bin_expr)
                    .groupBy("_iv", "_b")
                    .agg(F.count("*").alias("c"), F.sum("w").alias("m"),
                         F.min("v").alias("mn"), F.max("v").alias("mx"))
                    .collect())
            bins: "dict[int, list]" = {}
            for r in hist:
                bins.setdefault(int(r["_iv"]), []).append(
                    (int(r["_b"]), int(r["c"]), float(r["m"]),
                     float(r["mn"]), float(r["mx"])))
            for k, s in list(active.items()):
                iv = merged.index((s["lo"], s["hi"]))
                local = s["thresh"] - s["below"]
                cum = 0.0
                for b, c, m, mn, mx in sorted(bins.get(iv, [])):
                    if cum + m >= local:
                        s["below"] += cum
                        s["cnt"] = c
                        s["lo"], s["hi"] = mn, mx
                        break
                    cum += m
                else:
                    # float drift pushed the threshold past the last
                    # bin: the answer is the interval maximum
                    resolved[k] = s["hi"]
                    del state[k]
                    continue
                if s["lo"] == s["hi"]:
                    resolved[k] = s["lo"]
                    del state[k]
        small = {k: s for k, s in state.items()
                 if s["cnt"] <= collect_threshold}
        if small:
            ivs = sorted({(s["lo"], s["hi"]) for s in small.values()})
            cond = None
            for lo, hi in ivs:
                c = (F.col("v") >= lo) & (F.col("v") <= hi)
                cond = c if cond is None else cond | c
            rows = d.filter(cond).collect()
            vv = np.array([r["v"] for r in rows], dtype=np.float64)
            wv = np.array([r["w"] for r in rows], dtype=np.float64)
            order = np.argsort(vv, kind="stable")
            for k, s in small.items():
                lo, hi = s["lo"], s["hi"]
                sel = order[(vv[order] >= lo) & (vv[order] <= hi)]
                cw = np.cumsum(wv[sel])
                idx = min(int(np.searchsorted(cw, s["thresh"] - s["below"],
                                              side="left")), len(sel) - 1)
                resolved[k] = float(vv[sel][idx])
                del state[k]
    return [resolved[i] for i in range(len(alphas))]
