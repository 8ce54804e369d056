"""Seeded train/score benchmark of the xgboost_spark engine.

    python3 perfbench/run.py --workload train_regression --seed 1 \
        --seconds 8 --trace 0

Run from the root of a source checkout.  The command generates the
workload's inputs from ``--seed`` under ``.bench_build/`` in the
checkout, sets up a ``local[nproc]`` session, runs the timed loop for
``--seconds`` (and at least ``MIN_ITERATIONS`` iterations), checks every
output, and prints a details line and then, as its last line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, measured with tracing
off.  ``--trace 1`` repeats the loop untraced, then restarts the
session with Spark's event log on and every call in its own job group,
and reports the per-layer metrics (see NOTES.md for what each means).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

import eventlog
import procstat
import sampler
import workloads

#: timed iterations per loop, even when ``--seconds`` runs out first.
#: Two: over ten seeds the spreads of the medians of the first two and
#: of the first three iterations were the same, and the third costs a
#: run 7-9 s
MIN_ITERATIONS = 2
#: iterations of the traced run's traced loop, which keep it well
#: inside the deadline; its untraced loop runs one
TRACED_ITERATIONS = 2
#: the whole run must end inside this, whatever hangs
DEADLINE_S = 170

E2E = {
    "setup_s": "s",
    "fit_s": "s",
    "fit_cpu_s": "s",
    "predict_rows_per_s": "rows/s",
    "contribs_rows_per_s": "rows/s",
    "score_cpu_s": "s",
    "peak_rss_mb": "MB",
}

#: per-layer metrics folded from the event log over each traced fit
LAYER_PRIMARY = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "driver.outside_jobs_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "sketch.wall_s": "s", "sketch.cpu_s": "s", "sketch.jobs": "count",
    "barrier.wall_s": "s", "barrier.run_s": "s",
    "booster.jobs": "count", "booster.wall_s": "s",
    "metrics.jobs": "count", "metrics.wall_s": "s",
}
#: per-layer metrics folded over each traced scoring pass
LAYER_SCORE = {
    "model.wall_s": "s",
    "arrow.to_python_bytes": "bytes", "arrow.from_python_bytes": "bytes",
    "arrow.python_run_s": "s", "arrow.python_start_s": "s",
}
#: the engine's ``FIT_STAGE_TIMES`` key -> metric
STAGE_TIMES = {"prep": "booster.prep_s", "cuts": "booster.cuts_s",
               "base_score": "booster.base_score_s", "loop": "booster.loop_s"}
#: the barrier rank-0 profile (``SPARK_GRAFT_PROF``) key -> (metric, unit)
PROF = {
    "rendezvous": ("barrier.rendezvous_s", "s"),
    "materialize": ("barrier.materialize_s", "s"),
    "bin_load": ("barrier.bin_load_s", "s"),
    "grads": ("barrier.grads_s", "s"),
    "hist_local": ("barrier.hist_local_s", "s"),
    "grow": ("barrier.grow_s", "s"),
    "margin_update": ("barrier.margin_update_s", "s"),
    "task_total": ("barrier.task_total_s", "s"),
    "hist_allreduce": ("collective.allreduce_s", "s"),
    "allreduce_calls": ("collective.allreduce_calls", "count"),
    "allreduce_bytes": ("collective.allreduce_bytes", "bytes"),
}
PER_LAYER = {
    **LAYER_PRIMARY, **LAYER_SCORE,
    **{m: "s" for m in STAGE_TIMES.values()},
    **dict(PROF.values()),
    "collective.single_rank_fit_s": "s",
    "collective.scaling_efficiency": "ratio",
    "trace.overhead_s": "s",
}


def median(values):
    return statistics.median(values) if values else None


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of the machine's memory, between 1 and 8 GB: the
    session default (48g) exceeds many machines."""
    with open("/proc/meminfo") as fh:
        kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return max(1, min(8, kb // (4 << 20)))


def configure_env(root: str, work: str) -> dict:
    """Environment of the session: the checkout on PYTHONPATH (barrier
    tasks import the engine in fresh Python workers), Spark's scratch
    and the JVM's temp dir inside the work dir, sized driver memory."""
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = {
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }
    os.environ.update(env)
    return env


def git_head(root: str) -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


# ------------------------------------------------------------- untraced
def run_untraced(bench: workloads.Bench, seconds: float,
                 rss: procstat.PeakRss) -> dict:
    setup_s = bench.setup()
    bench.rss = rss
    bench.loop(seconds, MIN_ITERATIONS)
    rec, w = bench.rec, bench.w
    fits = rec.ok_calls("fit")
    preds = rec.ok_calls("predict")
    contribs = rec.ok_calls("contribs")
    pred_cpu = {c.index: c.cpu_s for c in preds}
    score_cpu = [pred_cpu[c.index] + c.cpu_s for c in contribs
                 if c.index in pred_cpu]
    bench.notes["raw_wall_medians"] = {
        "fit_s": median([c.wall_s for c in fits]),
        "predict_rows_per_s": median([w.predict_rows / c.wall_s for c in preds]),
        "contribs_rows_per_s": median([w.contrib_rows / c.wall_s
                                       for c in contribs])}

    def wall(c, synchronous=False):
        return procstat.uncontended_wall_s(c.wall_s, c.foreign_cpus,
                                           bench.cpus, synchronous)
    return {
        "setup_s": setup_s,
        "fit_s": median([wall(c, synchronous=True) for c in fits]),
        "fit_cpu_s": median([c.cpu_s for c in fits]),
        "predict_rows_per_s": median([w.predict_rows / wall(c) for c in preds]),
        "contribs_rows_per_s": median([w.contrib_rows / wall(c)
                                       for c in contribs]),
        "score_cpu_s": median(score_cpu),
        "peak_rss_mb": median(bench.iteration_peaks) / 2**20,
    }


# --------------------------------------------------------------- traced
def _event_log_conf(log_dir: str) -> dict:
    return {"spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + log_dir}


def _fit_walls(bench, traced: bool) -> list[float]:
    return [c.wall_s for c in bench.rec.ok_calls("fit", traced)]


def run_traced(bench: workloads.Bench, seconds: float, work: str) -> dict:
    bench.setup()
    bench.loop(0, 1)
    single = None
    if bench.w.kind == "regression":
        if bench.fit_single_rank(0) is not None:
            single = bench.rec.ok_calls("fit_single_rank")[0].wall_s
    untraced_fit = median(_fit_walls(bench, traced=False))

    # a fresh session with the event log on: SparkConf reads spark.*
    # JVM system properties, which is how spark-submit passes --conf
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    system = bench.spark.sparkContext._jvm.java.lang.System
    for k, v in _event_log_conf(log_dir).items():
        system.setProperty(k, v)
    bench.stop_session()
    spark = bench.start_session()
    bench.load()
    bench.warm_up()
    bench.prof_path = os.path.join(work, "barrier_prof.json")
    os.environ["SPARK_GRAFT_PROF"] = bench.prof_path
    bench.rec.spark = spark
    try:
        with sampler.StackSampler() as stacks:
            bench.loop(seconds, TRACED_ITERATIONS, first_index=1000)
    finally:
        bench.rec.spark = None
        del os.environ["SPARK_GRAFT_PROF"]
        bench.stop_session()            # closes and renames the log
    logs = os.listdir(log_dir)
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {logs}")
    groups = eventlog.fold(eventlog.read_events(os.path.join(log_dir, logs[0])),
                           stacks.module_at)
    return fold_layers(bench, groups, single, untraced_fit)


def fold_layers(bench, groups: dict, single: float | None,
                untraced_fit: float | None) -> dict:
    """Median over traced iterations of each per-layer metric; metrics
    whose source did not report are listed in ``notes["absent"]``."""
    def merged(calls):
        g = eventlog.Group()
        for c in calls:
            if c.group in groups:
                g.add(groups[c.group])
        return g

    traced = [c for c in bench.rec.calls if c.traced]
    samples: dict[str, list[float]] = {}
    ranks: list[int] = []
    for i in sorted({c.index for c in traced}):
        calls = [c for c in traced if c.index == i]
        if not all(c.ok for c in calls) or len(calls) < 4:
            continue                    # a failed call ends the iteration
        fits = [c for c in calls if c.kind == "fit"]
        scoring = [c for c in calls if c.kind in ("predict", "contribs")]
        pm = eventlog.layer_metrics(merged(fits), sum(c.wall_s for c in fits))
        sm = eventlog.layer_metrics(merged(scoring),
                                    sum(c.wall_s for c in scoring), "model")
        for k in LAYER_PRIMARY:
            samples.setdefault(k, []).append(pm[k])
        ranks.append(pm["barrier.ranks"])
        for k in LAYER_SCORE:
            samples.setdefault(k, []).append(sm[k])
    for rep in bench.fit_reports:
        for key, metric in STAGE_TIMES.items():
            if rep["stages"] and key in rep["stages"]:
                samples.setdefault(metric, []).append(rep["stages"][key])
        for key, (metric, _) in PROF.items():
            if rep["prof"] and key in rep["prof"]:
                samples.setdefault(metric, []).append(rep["prof"][key])
    jobs_by_module: dict[str, int] = {}
    for c in traced:
        if c.kind == "fit" and c.group in groups:
            for mod, t in groups[c.group].by_module.items():
                key = mod or "unattributed"
                jobs_by_module[key] = jobs_by_module.get(key, 0) + t.jobs
    bench.notes["traced_fit_jobs_by_module"] = jobs_by_module
    out = {k: median(v) for k, v in samples.items()}
    traced_fit = median(_fit_walls(bench, traced=True))
    if traced_fit is not None and untraced_fit is not None:
        out["trace.overhead_s"] = traced_fit - untraced_fit
    bench.notes["barrier_ranks"] = median(ranks)
    if single is not None:
        out["collective.single_rank_fit_s"] = single
        if ranks and median(ranks) and untraced_fit:
            out["collective.scaling_efficiency"] = (
                single / (median(ranks) * untraced_fit))
    bench.notes["absent"] = sorted(k for k in PER_LAYER if out.get(k) is None)
    return out


# ----------------------------------------------------------------- main
def shutdown(bench: workloads.Bench | None) -> None:
    """Stop the session and the JVM gateway, and wait for every process
    the run started to end."""
    if bench is not None:
        bench.stop_session()
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    procstat.end_descendants(timeout_s=30)


def _deadline(signum, frame):
    print(f"perfbench: no result within {DEADLINE_S} s", file=sys.stderr)
    procstat.end_descendants(timeout_s=0)
    os._exit(3)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply every row count (smoke tests)")
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isfile(os.path.join(root, "xgboost_spark", "__init__.py")):
        print(f"perfbench: no xgboost_spark package in {root}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_build", "perfbench",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = configure_env(root, work)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)

    w = workloads.WORKLOADS[args.workload]
    if args.scale != 1.0:
        w = workloads.scaled(w, args.scale)
    details = {"workload": w.name, "seed": args.seed, "trace": args.trace,
               "nproc": nproc(), "loadavg_start": os.getloadavg(),
               "git_head": git_head(root),
               "driver_mem": env["SPARK_GRAFT_DRIVER_MEM"],
               "master": f"local[{env['SPARK_GRAFT_CPUS']}]",
               "sizes": {"train_rows": w.train_rows, "rounds": w.rounds,
                         "depth": w.depth, "predict_rows": w.predict_rows,
                         "contrib_rows": w.contrib_rows}}
    bench = workloads.Bench(w, args.seed, work, nproc())
    try:
        if args.trace:
            values = run_traced(bench, args.seconds, work)
            declared = PER_LAYER
        else:
            with procstat.PeakRss() as rss:
                values = run_untraced(bench, args.seconds, rss)
            declared = E2E
    finally:
        shutdown(bench)
        shutil.rmtree(work, ignore_errors=True)
    signal.alarm(0)

    missing = [k for k in declared if values.get(k) is None
               and k not in bench.notes.get("absent", ())]
    rec = bench.rec
    details.update({
        "loadavg_end": os.getloadavg(),
        "digests": sorted(set(bench.digests)),
        "calls": [[c.kind, c.index, round(c.start_s, 3), round(c.wall_s, 4),
                   round(c.cpu_s, 3), round(c.foreign_cpus, 3), c.ok, c.traced]
                  for c in rec.calls],
        "errors": rec.errors, "missing": missing, **bench.notes})
    print(json.dumps({"perfbench": details}))
    print(json.dumps({
        "correct": rec.failed == 0 and not missing,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": values.get(k) or 0.0, "unit": u}
                    for k, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
