"""The worker daemon's zipimport patch: unchanged archives are not
re-read, changed ones are, and Spark tasks run with the patch."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from collective_als_spark import pydaemon

pytestmark = pytest.mark.skipif(
    not pydaemon.EAGER_REREAD, reason="zipimport re-reads lazily on Python >= 3.13"
)


@pytest.fixture
def patched(monkeypatch):
    """Install the patch for one test; count directory reads."""
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    pydaemon.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def test_unchanged_archive_is_not_reread(patched, tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zp_mod_a": 1})
    imp = zipimport.zipimporter(archive)
    patched.clear()
    imp.invalidate_caches()  # first call: reads
    assert patched == [archive]
    for _ in range(5):
        imp.invalidate_caches()
    assert patched == [archive]


def test_rewritten_archive_is_reread(patched, tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zp_mod_a": 1})
    monkeypatch.syspath_prepend(archive)
    for name in ("zp_mod_a", "zp_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zp_mod_a").VALUE == 1
    importlib.invalidate_caches()  # the importer reads and stamps the archive
    with pytest.raises(ImportError):
        importlib.import_module("zp_mod_b")

    _write_zip(archive, {"zp_mod_a": 1, "zp_mod_b": 2})
    patched.clear()
    importlib.invalidate_caches()
    assert patched == [archive]
    assert importlib.import_module("zp_mod_b").VALUE == 2


def test_install_is_noop_on_lazy_zipimport(monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(pydaemon, "EAGER_REREAD", False)
    pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is original


def test_spark_tasks_run_patched(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        method = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"patched": [getattr(method, "_skips_unchanged", False)]})

    assert spark.conf.get("spark.python.daemon.module") == "collective_als_spark.pydaemon"
    got = spark.range(2, numPartitions=2).mapInPandas(report, "patched boolean").collect()
    assert [r.patched for r in got] == [True, True]
