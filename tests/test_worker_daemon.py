"""The worker daemon's zipimport guard: an archive's directory is
re-read on importlib.invalidate_caches() only when the archive changed,
and the engine's sessions run their Python workers under it."""

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from rhealpixdggs_spark import session, worker_daemon


@pytest.fixture()
def guarded(monkeypatch):
    """The guard installed in this interpreter, and a counter of
    zipimport's directory reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, module, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{module}.py", body)


def test_rewritten_archive_is_reread(guarded, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, "zmod_reread", "VALUE = 1\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zmod_reread", raising=False)
    assert importlib.import_module("zmod_reread").VALUE == 1
    importlib.invalidate_caches()  # stamps the new importer

    st = os.stat(archive)
    _write_zip(archive, "zmod_reread", "VALUE = 22222  # longer\n")
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = os.stat(archive)
    assert (new.st_size, new.st_mtime_ns) != (st.st_size, st.st_mtime_ns)
    guarded.clear()
    importlib.invalidate_caches()
    assert guarded.count(archive) == 1

    del sys.modules["zmod_reread"]
    assert importlib.import_module("zmod_reread").VALUE == 22222
    del sys.modules["zmod_reread"]


def test_unchanged_archive_is_not_reread(guarded, tmp_path, monkeypatch):
    archive = str(tmp_path / "same.zip")
    _write_zip(archive, "zmod_same", "VALUE = 3\n")
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "zmod_same", raising=False)
    assert importlib.import_module("zmod_same").VALUE == 3
    importlib.invalidate_caches()
    guarded.clear()
    importlib.invalidate_caches()
    assert guarded == []
    del sys.modules["zmod_same"]


def test_missing_archive_is_reread(guarded, tmp_path):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, "zmod_gone", "VALUE = 4\n")
    imp = zipimport.zipimporter(archive)
    imp.invalidate_caches()
    assert "zmod_gone.py" in imp._files
    os.remove(archive)
    imp.invalidate_caches()  # the stat fails: the original runs
    assert imp._files == {}


def test_daemon_conf_needs_engine_on_worker_path(tmp_path, monkeypatch):
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert not session._engine_on_worker_path()
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), root]))
    assert session._engine_on_worker_path()
    monkeypatch.delenv("PYTHONPATH")
    monkeypatch.chdir(root)
    assert session._engine_on_worker_path()


def test_session_workers_run_the_guard(spark):
    """In a get_spark session, a pandas-UDF task sees the engine's
    invalidate_caches, and a warm task's invalidation re-reads no zip
    directory (the stock daemon re-reads all 16 of its zipimporters')."""

    @pandas_udf("string")
    def report(s: pd.Series) -> pd.Series:
        import importlib
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or real(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        held = sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())
        return pd.Series([f"{fn.__code__.co_filename}|{fn.__name__}|{held}|{len(reads)}"]
                         * len(s))

    df = spark.range(0, 8, numPartitions=2).select(report(F.col("id")).alias("r"))
    df.collect()  # warms the workers
    rows = {r.r for r in df.collect()}
    for row in rows:
        filename, name, held, reads = row.split("|")
        assert filename.endswith(os.path.join("rhealpixdggs_spark", "worker_daemon.py"))
        assert name == "invalidate_caches"
        assert int(held) > 0
        assert int(reads) == 0
