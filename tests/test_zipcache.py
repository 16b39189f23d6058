"""Python workers re-read a zip archive only when it changed (`_zipcache`).

Asserted on identity of each importer's parsed directory (`_files`), not
on timing."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from openpoiservice_spark import _zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipimport invalidates lazily from 3.13")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_unchanged_zip_keeps_its_directory_and_rewritten_zip_is_reread(
        tmp_path, monkeypatch):
    # the driver never installs it: only worker processes do
    assert zipimport.zipimporter.invalidate_caches is not _zipcache._invalidate_if_changed
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["zc_mod_a"])
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_mod_a", "zc_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    try:
        assert importlib.import_module("zc_mod_a").NAME == "zc_mod_a"
        imp = sys.path_importer_cache[archive]
        files = imp._files
        importlib.invalidate_caches()
        assert imp._files is not files  # stock zipimport re-reads every time

        monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                            zipimport.zipimporter.invalidate_caches)
        _zipcache.install()
        importlib.invalidate_caches()  # first call reads and stamps
        files = imp._files
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert imp._files is files

        _write_zip(archive, ["zc_mod_a", "zc_mod_b"])
        importlib.invalidate_caches()
        assert imp._files is not files
        assert set(imp._files) >= {"zc_mod_a.py", "zc_mod_b.py"}
        assert importlib.import_module("zc_mod_b").NAME == "zc_mod_b"
    finally:
        sys.path_importer_cache.pop(archive, None)


def test_reused_worker_keeps_pyspark_zip_directory(spark):
    """From a worker's second task on, the per-task invalidate_caches()
    pyspark runs before the task body went through the replacement: every
    importer over pyspark.zip carries a stamp, and a further
    invalidate_caches() keeps each one's `_files` object."""
    zc = _zipcache  # pickled by reference: unpickling imports the package

    def probe(batches):
        import importlib as il
        import zipimport as zi

        import pandas as pd

        imps = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zi.zipimporter)
                and os.path.basename(i.archive) == "pyspark.zip"]
        installed = zi.zipimporter.invalidate_caches is zc._invalidate_if_changed
        stamped = all(hasattr(i, zc._STAMP) for i in imps)
        before = [i._files for i in imps]
        il.invalidate_caches()
        kept = all(i._files is f for i, f in zip(imps, before))
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "n": [len(imps)],
                            "installed": [installed], "stamped": [stamped],
                            "kept": [kept]})

    # idle workers are handed out in turn, so run more tasks than the
    # session's pool can hold for pids to repeat
    n = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, n, numPartitions=n)
    rows = []
    for _ in range(4):
        rows += df.mapInPandas(
            probe, "pid long, n int, installed boolean, stamped boolean, kept boolean"
        ).collect()
    assert all(r.installed and r.n > 0 for r in rows)
    seen, later = set(), []
    for r in rows:
        if r.pid in seen:
            later.append(r)
        seen.add(r.pid)
    assert later, "no Python worker ran a second task"
    assert all(r.stamped and r.kept for r in later)
