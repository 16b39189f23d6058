"""Python workers re-read a zip archive only when it changed (`_zipcache`).

Asserted on identity of each importer's parsed directory (`_files`), not
on timing."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from openpoiservice_spark import _zipcache

REPO = Path(__file__).resolve().parents[1]

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


def test_install_stamps_archives_older_than_the_process(tmp_path):
    """At install, an importer over an archive last modified before the
    process started is stamped, so its first invalidate_caches() keeps
    `_files`; an archive rewritten after the start is not, so that call
    re-reads it and its new module imports."""
    old, new = str(tmp_path / "old.zip"), str(tmp_path / "new.zip")
    _write_zip(old, ["zc_old_a"])
    t = os.stat(old).st_mtime - 60
    os.utime(old, (t, t))
    _write_zip(new, ["zc_new_a"])
    script = textwrap.dedent(f"""
        import importlib, sys, zipfile
        from openpoiservice_spark import _zipcache
        old, new = {old!r}, {new!r}
        sys.path[:0] = [old, new]
        importlib.import_module("zc_old_a")
        importlib.import_module("zc_new_a")
        old_imp = sys.path_importer_cache[old]
        files = old_imp._files
        with zipfile.ZipFile(new, "w") as z:
            z.writestr("zc_new_b.py", "NAME = 'zc_new_b'")
        _zipcache.install()
        importlib.invalidate_caches()
        assert old_imp._files is files, "pre-start archive re-read"
        assert importlib.import_module("zc_new_b").NAME == "zc_new_b"
        print("OK")
    """)
    env = dict(os.environ, PYTHONPATH=str(REPO))
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "OK", out.stderr


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
