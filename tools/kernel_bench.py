"""Per-kernel timings of the barrier trainer's growth loop, without Spark.

    python tools/kernel_bench.py [--scale 1.0] [--reps 3] [--seed 0]

Prints ONE JSON line.  Every input is generated from ``--seed``; every
timing is the median over ``--reps`` repetitions, in seconds:

- ``route_warm_s``: `core.leaf_ids_from_arrays` growth routing (warm
  start from the previous level's assignment) of a depth-6 tree over
  40k binned rows, one call per level;
- ``route_serve_s``: raw-value serving of 200k rows through 20 depth-6
  trees;
- ``route_deep_s``: a 40-level lossguide-style chain over 40k binned
  rows in which half of the working rows reach a leaf at each level;
- ``split_full_s``: `core.split_search` over 16 features for 20 depth-6
  trees' levels (1-32 nodes, 256 bins);
- ``split_block_s``: the same levels searched the sharded way at p=4:
  `split_candidates` over one rank's 4-feature block plus `pick_splits`
  over the 4 gathered tables;
- ``allreduce_s`` / ``reduce_scatter_s``: four local processes wired by
  `MeshComm` through a `RendezvousServer`, each running the 6 level
  payloads of one depth-6, 16-feature, 256-bin tree (the subtraction
  trick builds 1, 1, 2, 4, 8, 16 nodes) 20 times: the full allreduce vs
  its reduce-scatter half, per rank (the slowest rank's total).

``--scale`` multiplies row counts and tree counts (for smoke runs).
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import statistics
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xgboost_spark import collective, core  # noqa: E402

F, B, DEPTH, P = 16, 256, 6, 4


def _median_time(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    return statistics.median(out)


def _full_tree(rng, depth: int, raw: bool) -> core.Tree:
    t = core.Tree()
    level = [0]
    for _ in range(depth):
        nxt = []
        for nid in level:
            b = int(rng.integers(B // 4, 3 * B // 4))
            sv = float(rng.normal()) if raw else float(b)
            nxt.extend(t.expand(nid, int(rng.integers(F)), b, sv,
                                bool(rng.random() < 0.5), 1.0, 0, 0, 0, 0))
        level = nxt
    return t


def _binned(rng, n: int) -> np.ndarray:
    Xb = rng.integers(0, B, size=(n, F)).astype(np.int16)
    Xb[rng.random((n, F)) < 0.02] = core.MISSING_BIN
    return Xb


def bench_routing(rng, scale: float, reps: int) -> dict:
    n_grow = max(64, int(40_000 * scale))
    n_serve = max(64, int(200_000 * scale))
    n_trees = max(1, int(20 * scale))
    Xb = _binned(rng, n_grow)
    tree = _full_tree(rng, DEPTH, raw=False)
    # growth replays the tree level by level: node ids of level d are
    # exactly those a depth-d prefix of the expansion created
    prefixes = []
    for d in range(1, DEPTH + 1):
        keep = 2 ** (d + 1) - 1
        a = tree.finalize_arrays()
        a = {k: v[:keep].copy() for k, v in a.items()}
        a["left"][a["left"] >= keep] = -1
        a["right"][a["right"] >= keep] = -1
        prefixes.append(a)

    def warm():
        node = np.zeros(n_grow, dtype=np.int32)
        for a in prefixes:
            core.leaf_ids_from_arrays(a, Xb, True, node0=node)

    X = rng.normal(size=(n_serve, F))
    X[rng.random((n_serve, F)) < 0.02] = np.nan
    trees = [_full_tree(rng, DEPTH, raw=True).finalize_arrays()
             for _ in range(n_trees)]

    def serve():
        for a in trees:
            core.leaf_ids_from_arrays(a, X, False)

    deep = core.Tree()
    nid = 0
    for _ in range(40):
        nid = deep.expand(nid, int(rng.integers(F)), B // 2, 0.0, True,
                          1.0, 0, 0, 0, 0)[1]
    da = deep.finalize_arrays()
    return {"route_warm_s": _median_time(warm, reps),
            "route_serve_s": _median_time(serve, reps),
            "route_deep_s": _median_time(
                lambda: core.leaf_ids_from_arrays(da, Xb, True), reps),
            "route_rows": n_grow, "serve_rows": n_serve,
            "serve_trees": n_trees}


def bench_split(rng, scale: float, reps: int) -> dict:
    n_trees = max(1, int(20 * scale))
    levels = []
    for _ in range(n_trees):
        for d in range(DEPTH):
            N = 2 ** d
            hh = rng.random((N, F, B + 1)) * 5
            hg = rng.normal(size=(N, F, B + 1))
            levels.append((hg, hh))
    kw = dict(reg_lambda=1.0, reg_alpha=0.0, min_child_weight=1.0,
              max_delta_step=0.0)
    fb = F // P

    def full():
        for hg, hh in levels:
            core.split_search(hg, hh, gamma=0.0, **kw)

    empty = np.zeros(0, dtype=np.int64)

    def block():
        for hg, hh in levels:
            own = core.split_candidates(
                np.ascontiguousarray(hg[:, :fb]),
                np.ascontiguousarray(hh[:, :fb]),
                feature_mask=np.ones(fb, bool), **kw)
            cands = np.stack([own] * P)      # the gathered tables
            core.pick_splits(cands, hg[:, :0], hh[:, :0], empty,
                             gamma=0.0, **kw)

    return {"split_full_s": _median_time(full, reps),
            "split_block_s": _median_time(block, reps),
            "split_levels": len(levels)}


class _Ctx:
    def __init__(self, rank, p):
        self._rank, self._p = rank, p

    def partitionId(self):
        return self._rank

    def getTaskInfos(self):
        return [None] * self._p

    def attemptNumber(self):
        return 0


def _rank_main(rank, addr, sizes, n_trees, reps, out):
    comm = collective.MeshComm.create(_Ctx(rank, P), rendezvous=addr)
    try:
        rng = np.random.default_rng(rank)
        payloads = [rng.normal(size=s) for s in sizes]
        res = {}
        for name, op in (("allreduce_s", comm.allreduce_sum),
                         ("reduce_scatter_s", comm.reduce_scatter_sum)):
            times = []
            for _ in range(reps):
                t0 = time.perf_counter()
                for _ in range(n_trees):
                    for a in payloads:
                        op(a)
                times.append(time.perf_counter() - t0)
            res[name] = statistics.median(times)
        out.put((rank, res))
    finally:
        comm.close()


def bench_collective(scale: float, reps: int) -> dict:
    n_trees = max(1, int(20 * scale))
    nodes = [1, 1, 2, 4, 8, 16]
    sizes = [2 * nn * F * (B + 1) for nn in nodes]
    srv = collective.RendezvousServer(P)
    ctx = mp.get_context("fork")
    out = ctx.Queue()
    try:
        procs = [ctx.Process(target=_rank_main,
                             args=(r, srv.address, sizes, n_trees, reps, out))
                 for r in range(P)]
        for proc in procs:
            proc.start()
        got = dict(out.get(timeout=120) for _ in procs)
        for proc in procs:
            proc.join(timeout=30)
    finally:
        srv.close()
    return {k: max(got[r][k] for r in got)
            for k in ("allreduce_s", "reduce_scatter_s")} | {
        "collective_calls_per_rank": n_trees * len(sizes),
        "collective_bytes_per_rank": 8 * n_trees * sum(sizes)}


def main(argv=None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--seed", type=int, default=0)
    a = ap.parse_args(argv)
    rng = np.random.default_rng(a.seed)
    res = {"scale": a.scale, "reps": a.reps, "seed": a.seed,
           "nproc": len(os.sched_getaffinity(0))}
    res.update(bench_routing(rng, a.scale, a.reps))
    res.update(bench_split(rng, a.scale, a.reps))
    res.update(bench_collective(a.scale, a.reps))
    res = {k: round(v, 4) if isinstance(v, float) else v
           for k, v in res.items()}
    print(json.dumps(res))
    return res


if __name__ == "__main__":
    main()
