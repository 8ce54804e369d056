"""Stat-gated ``zipimporter.invalidate_caches`` (xgboost_spark/_zipcache.py):
an unchanged archive is not re-read, a rewritten one is, the wrapper is
installed once, and Python workers that ran an engine UDF carry it."""

import importlib
import os
import sys
import zipfile
import zipimport

import numpy as np
import pandas as pd
import pytest

from xgboost_spark import _zipcache


@pytest.fixture
def zip_on_path(tmp_path):
    """A zip holding module ``zc_mod_a`` on ``sys.path``, imported once
    so its ``zipimporter`` sits in ``sys.path_importer_cache``."""
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zc_mod_a.py", "A = 1\n")
    sys.path.insert(0, archive)
    try:
        assert importlib.import_module("zc_mod_a").A == 1
        assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
        yield archive
    finally:
        sys.path.remove(archive)
        sys.path_importer_cache.pop(archive, None)
        for m in ("zc_mod_a", "zc_mod_b"):
            sys.modules.pop(m, None)


@pytest.fixture
def directory_reads(monkeypatch):
    """Archive paths passed to ``zipimport._read_directory``."""
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def test_unchanged_archive_is_not_reread(zip_on_path, directory_reads):
    importlib.invalidate_caches()  # seeds the importer's last-seen stat
    del directory_reads[:]
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 0


def test_rewritten_archive_is_reread(zip_on_path, directory_reads):
    importlib.invalidate_caches()
    del directory_reads[:]
    with zipfile.ZipFile(zip_on_path, "w") as z:
        z.writestr("zc_mod_a.py", "A = 1\n")
        z.writestr("zc_mod_b.py", "B = 2\n")
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 1
    assert importlib.import_module("zc_mod_b").B == 2
    importlib.invalidate_caches()
    assert directory_reads.count(zip_on_path) == 1


def test_missing_archive_always_falls_through(zip_on_path, directory_reads):
    importlib.invalidate_caches()
    del directory_reads[:]
    importer = sys.path_importer_cache[zip_on_path]
    with open(zip_on_path, "rb") as f:
        data = f.read()
    os.remove(zip_on_path)
    try:
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert directory_reads.count(zip_on_path) == 2
        assert importer._files == {}
    finally:
        with open(zip_on_path, "wb") as f:
            f.write(data)


def test_install_twice_leaves_one_wrapper():
    _zipcache.install()
    _zipcache.install()
    wrapper = zipimport.zipimporter.invalidate_caches
    assert wrapper._stat_gated
    assert not getattr(wrapper.__wrapped__, "_stat_gated", False)
    assert wrapper.__wrapped__.__module__ == "zipimport"


def test_workers_run_engine_wrapper_after_engine_job(spark):
    from xgboost_spark.config import TrainParams
    from xgboost_spark.local.booster import LocalBooster
    from xgboost_spark.plans.model import GBDTModel

    def _report(batches):
        # runs in a Python worker; nested, so cloudpickle ships it by
        # value and unpickling it imports nothing from the engine
        import sys as _sys
        import zipimport as _zi
        for _ in batches:
            pass
        gated = getattr(_zi.zipimporter.invalidate_caches, "_stat_gated", False)
        importers = [v for v in _sys.path_importer_cache.values()
                     if isinstance(v, _zi.zipimporter)]
        seeded = bool(importers) and all(hasattr(v, "_seen_stat") for v in importers)
        yield pd.DataFrame({"gated": [gated], "seeded": [seeded]})

    rng = np.random.default_rng(0)
    X = rng.normal(size=(200, 2))
    p = TrainParams(num_boost_round=1, max_depth=2)
    trees = LocalBooster(p).fit(X, X[:, 0]).trees
    model = GBDTModel(p, 0.5, trees, ["a", "b"])
    # enough tasks to cycle through every idle worker in the pool, so
    # each one has unpickled the serving UDF (and so imported the engine)
    n = 8 * spark.sparkContext.defaultParallelism
    df = (spark.createDataFrame(pd.DataFrame(X, columns=["a", "b"]))
          .repartition(n))
    model.transform(df).collect()
    # the first gated set-up seeds each importer; the next job reads it
    for _ in range(2):
        rows = (spark.range(n).repartition(n)
                .mapInPandas(_report, "gated boolean, seeded boolean")
                .collect())
    assert len(rows) == n
    assert all(r.gated for r in rows)
    assert all(r.seeded for r in rows)
