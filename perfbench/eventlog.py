"""Fold a Spark event log into per-job-group, per-engine-module totals.

The benchmark runs every timed call under its own job group, so
``spark.jobGroup.id`` on ``SparkListenerJobStart`` names the call a job
belongs to.  The engine module that issued a job is read from its call
site (``collect at .../xgboost_spark/operators/sketch.py:173``): the
job's ``callSite.short`` property, or the stage name when that names an
engine file, or else the driver's stack samples (``sampler.py``).
``SparkListenerTaskEnd`` metrics are summed per group and per module.
The log must be written uncompressed (``spark.eventLog.compress=false``).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

_SITE = re.compile(r"xgboost_spark/([A-Za-z_]\w*(?:/[A-Za-z_]\w*)*)\.py:\d+")

#: engine module (dotted, relative to the package) -> layer prefix of
#: the per-layer metrics
LAYERS = {
    "operators.sketch": "sketch",
    "plans.barrier": "barrier",
    "plans.booster": "booster",
    "functions.metrics": "metrics",
    "plans.model": "model",
}

#: SQL metrics the Python-UDF operators publish per task (milliseconds
#: for the two times)
PY_ACCUMS = {
    "data sent to Python workers": "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
}


def engine_module(call_site: str | None) -> str | None:
    """``"operators.sketch"`` for a call site inside the engine package,
    else ``None``."""
    m = _SITE.search(call_site or "")
    return m.group(1).replace("/", ".") if m else None


def read_events(path: str):
    """Yield the events of one application's log: a plain file, or a
    rolling-log directory of ``events_<n>_<app>`` files."""
    if os.path.isdir(path):
        def index(name):
            parts = name.split("_")
            return int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else -1
        files = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=index)
        paths = [os.path.join(path, f) for f in files]
    else:
        paths = [path]
    for p in paths:
        with open(p) as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class Totals:
    """Counters summed over tasks; times in seconds, sizes in bytes."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    barrier_tasks: int = 0
    py: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)
    stage_intervals: list = field(default_factory=list)

    def add(self, other: "Totals") -> None:
        for name in ("jobs", "stages", "tasks", "run_s", "cpu_s", "gc_s",
                     "shuffle_write_bytes", "shuffle_read_bytes",
                     "spill_bytes", "barrier_tasks"):
            setattr(self, name, getattr(self, name) + getattr(other, name))
        for k, v in other.py.items():
            self.py[k] = self.py.get(k, 0.0) + v
        self.job_intervals += other.job_intervals
        self.stage_intervals += other.stage_intervals


@dataclass
class Group:
    """One job group: its totals, and the same split by engine module
    (key ``None`` for jobs no engine file issued)."""
    total: Totals = field(default_factory=Totals)
    by_module: dict = field(default_factory=dict)

    def module(self, mod: str | None) -> Totals:
        return self.by_module.setdefault(mod, Totals())

    def add(self, other: "Group") -> None:
        self.total.add(other.total)
        for mod, t in other.by_module.items():
            self.module(mod).add(t)


def fold(events, module_at=None) -> dict[str, Group]:
    """Fold events into ``{job_group_id: Group}``.  Jobs without a
    group are kept under the key ``""``.  ``module_at(t)``, if given,
    names the engine module of a job whose call site names none, from
    its submission time ``t`` (epoch seconds)."""
    groups: dict[str, Group] = {}
    job_info: dict[int, tuple[str, str | None, float]] = {}
    stage_job: dict[int, int] = {}
    stage_mod: dict[int, str | None] = {}
    stage_barrier: dict[int, bool] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            gid = props.get("spark.jobGroup.id") or ""
            infos = ev.get("Stage Infos") or []
            site = props.get("callSite.short")
            mod = engine_module(site)
            if mod is None and infos:
                mod = engine_module(max(infos, key=lambda s: s["Stage ID"])
                                    .get("Stage Name"))
            jid = ev["Job ID"]
            submitted = ev["Submission Time"] / 1000.0
            if mod is None and module_at is not None:
                mod = module_at(submitted)
            job_info[jid] = (gid, mod, submitted)
            for sid in ev.get("Stage IDs") or []:
                stage_job[sid] = jid
            g = groups.setdefault(gid, Group())
            g.total.jobs += 1
            g.module(mod).jobs += 1
        elif kind == "SparkListenerJobEnd":
            info = job_info.get(ev["Job ID"])
            if info is not None:
                gid, mod, start = info
                iv = (start, ev["Completion Time"] / 1000.0)
                groups[gid].total.job_intervals.append(iv)
                groups[gid].module(mod).job_intervals.append(iv)
        elif kind == "SparkListenerStageSubmitted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            job = job_info.get(stage_job.get(sid, -1))
            stage_mod[sid] = (engine_module(si.get("Stage Name"))
                              or (job[1] if job else None))
            stage_barrier[sid] = any(r.get("Barrier")
                                     for r in si.get("RDD Info") or [])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            job = job_info.get(stage_job.get(sid, -1))
            if job is None or "Submission Time" not in si:
                continue
            g = groups[job[0]]
            iv = (si["Submission Time"] / 1000.0,
                  si.get("Completion Time", si["Submission Time"]) / 1000.0)
            for t in (g.total, g.module(stage_mod.get(sid, job[1]))):
                t.stages += 1
                t.stage_intervals.append(iv)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            job = job_info.get(stage_job.get(sid, -1))
            if job is None:
                continue
            g = groups[job[0]]
            for t in (g.total, g.module(stage_mod.get(sid, job[1]))):
                _add_task(t, ev, stage_barrier.get(sid, False))
    return groups


def _add_task(t: Totals, ev: dict, barrier: bool) -> None:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    t.tasks += 1
    t.barrier_tasks += int(barrier)
    t.run_s += m.get("Executor Run Time", 0) / 1e3
    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    t.gc_s += m.get("JVM GC Time", 0) / 1e3
    t.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0))
    t.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                             + sr.get("Local Bytes Read", 0))
    t.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables") or []:
        key = PY_ACCUMS.get(acc.get("Name"))
        if key is not None:
            t.py[key] = t.py.get(key, 0.0) + float(acc.get("Update") or 0)


def layer_metrics(g: Group, wall_s: float,
                  default_layer: str | None = None) -> dict[str, float]:
    """Per-layer metrics of one traced call (or several merged).
    ``wall_s`` is the call's wall time.  Jobs issued outside the engine
    count toward ``default_layer`` (the scoring actions the bench
    itself triggers run the model's UDFs)."""
    t = g.total
    out = {
        "spark.jobs": t.jobs,
        "spark.stages": t.stages,
        "spark.tasks": t.tasks,
        "driver.outside_jobs_s": max(0.0, wall_s - union_s(t.job_intervals)),
        "shuffle.write_bytes": t.shuffle_write_bytes,
        "shuffle.read_bytes": t.shuffle_read_bytes,
        "spill.bytes": t.spill_bytes,
        "executor.run_s": t.run_s,
        "executor.cpu_s": t.cpu_s,
        "executor.gc_s": t.gc_s,
        "arrow.to_python_bytes": t.py.get("to_python_bytes", 0.0),
        "arrow.from_python_bytes": t.py.get("from_python_bytes", 0.0),
        "arrow.python_run_s": t.py.get("python_run_ms", 0.0) / 1e3,
        "arrow.python_start_s": t.py.get("python_start_ms", 0.0) / 1e3,
    }
    per_layer: dict[str, Totals] = {}
    for mod, mt in g.by_module.items():
        layer = LAYERS.get(mod) if mod is not None else default_layer
        if layer is not None:
            per_layer.setdefault(layer, Totals()).add(mt)
    for layer in set(LAYERS.values()):
        lt = per_layer.get(layer, Totals())
        out[f"{layer}.jobs"] = lt.jobs
        out[f"{layer}.wall_s"] = union_s(lt.stage_intervals)
        out[f"{layer}.cpu_s"] = lt.cpu_s
        out[f"{layer}.run_s"] = lt.run_s
    out["barrier.ranks"] = t.barrier_tasks
    return out
