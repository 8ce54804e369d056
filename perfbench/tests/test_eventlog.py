import os
import shutil

import pytest

import eventlog

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures",
                       "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.fold(eventlog.read_events(FIXTURE))


def test_engine_module_from_call_site():
    assert eventlog.engine_module(
        "collect at /a/b/xgboost_spark/operators/sketch.py:173") == "operators.sketch"
    assert eventlog.engine_module("fit at /a/perfbench/workloads.py:9") is None
    assert eventlog.engine_module(None) is None


def test_union_merges_overlaps():
    assert eventlog.union_s([]) == 0.0
    assert eventlog.union_s([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)


def test_fold_totals_per_group(groups):
    assert set(groups) == {"fit:0", "predict:0", ""}
    t = groups["fit:0"].total
    assert (t.jobs, t.stages, t.tasks) == (3, 3, 5)
    assert t.run_s == pytest.approx(4.0)
    assert t.cpu_s == pytest.approx(0.85)
    assert t.gc_s == pytest.approx(0.02)
    assert t.shuffle_write_bytes == 2000
    assert t.shuffle_read_bytes == 1000
    assert t.barrier_tasks == 2
    assert groups[""].total.jobs == 1


def test_fold_attributes_modules(groups):
    mods = groups["fit:0"].by_module
    assert set(mods) == {"operators.sketch", "plans.barrier", "plans.booster"}
    # the booster job has no callSite.short; its stage name decides
    assert mods["plans.booster"].jobs == 1
    assert mods["plans.barrier"].run_s == pytest.approx(3.0)


def test_layer_metrics_of_a_fit(groups):
    m = eventlog.layer_metrics(groups["fit:0"], wall_s=4.0)
    assert m["spark.jobs"] == 3
    # jobs ran 0.7 + 2.15 + 0.35 s of the 4 s call
    assert m["driver.outside_jobs_s"] == pytest.approx(0.8)
    assert m["sketch.jobs"] == 1
    assert m["sketch.wall_s"] == pytest.approx(0.5)
    assert m["sketch.cpu_s"] == pytest.approx(0.6)
    assert m["barrier.wall_s"] == pytest.approx(2.0)
    assert m["barrier.ranks"] == 2
    assert m["booster.wall_s"] == pytest.approx(0.2)
    assert m["model.wall_s"] == 0.0


def test_layer_metrics_of_scoring(groups):
    plain = eventlog.layer_metrics(groups["predict:0"], wall_s=1.0)
    assert plain["model.jobs"] == 0
    m = eventlog.layer_metrics(groups["predict:0"], wall_s=1.0,
                               default_layer="model")
    assert m["model.jobs"] == 1
    assert m["model.wall_s"] == pytest.approx(0.4)
    assert m["arrow.to_python_bytes"] == 10000
    assert m["arrow.from_python_bytes"] == 1000
    assert m["arrow.python_run_s"] == pytest.approx(0.4)
    assert m["arrow.python_start_s"] == pytest.approx(0.1)


def test_merged_groups_add_up(groups):
    g = eventlog.Group()
    g.add(groups["fit:0"])
    g.add(groups["predict:0"])
    assert g.total.jobs == 4
    assert g.module("plans.barrier").tasks == 2


def test_rolling_directory_reads_in_index_order(tmp_path):
    with open(FIXTURE) as fh:
        lines = fh.readlines()
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    # index 10 sorts after 2 numerically, not lexically
    (d / "events_10_app").write_text("".join(lines[20:]))
    (d / "events_2_app").write_text("".join(lines[:20]))
    (d / "appstatus_app").write_text("")
    events = list(eventlog.read_events(str(d)))
    assert [e["Event"] for e in events] == [
        e["Event"] for e in eventlog.read_events(FIXTURE)]
    shutil.rmtree(d)


def test_module_at_fills_in_jobs_without_an_engine_call_site():
    seen = []

    def module_at(t):
        seen.append(t)
        return "plans.booster"

    groups = eventlog.fold(eventlog.read_events(FIXTURE), module_at)
    # only the two jobs whose call site names no engine file ask
    assert seen == [1004.9, 1006.0]
    assert groups["predict:0"].by_module.keys() == {"plans.booster"}
    assert groups["fit:0"].module("plans.booster").jobs == 1
