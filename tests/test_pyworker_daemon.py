"""The local worker daemon (``pyworker_daemon``): its zipimport guard
re-reads an archive directory only when the archive changed, it is
active in the daemon-forked workers of a local ``get_spark`` session,
it patches nothing on CPython >= 3.12, and no other master gets it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import SparkSession

from etl_everywhere_hub_spark import pyworker_daemon, session

_DAEMON_CONF = "spark.python.daemon.module"


def _package_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))


def test_local_workers_run_the_guard(spark):
    def probe(batches):
        import zipimport

        for _ in batches:
            guard = zipimport.zipimporter.invalidate_caches
            yield pd.DataFrame({"guarded": [hasattr(guard, "reread")]})

    (row,) = spark.range(1).mapInPandas(probe, "guarded boolean").collect()
    assert spark.sparkContext.getConf().get(_DAEMON_CONF) == pyworker_daemon.__name__
    assert row["guarded"] is (sys.version_info < (3, 12))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture
def guarded_zip(tmp_path, monkeypatch):
    """A zip archive on sys.path, the guard on ``zipimporter`` and a
    per-archive count of directory reads."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_zipguard_a": "X = 1\n"})
    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        pyworker_daemon.guarded(zipimport.zipimporter.invalidate_caches),
    )
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in ("_zipguard_a", "_zipguard_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


def test_guard_skips_unchanged_archive(guarded_zip):
    archive, reads = guarded_zip
    importlib.import_module("_zipguard_a")
    importlib.invalidate_caches()  # first call: stamps the archive
    n = reads.count(archive)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads.count(archive) == n


def test_guard_rereads_rewritten_archive(guarded_zip):
    archive, reads = guarded_zip
    assert importlib.import_module("_zipguard_a").X == 1
    importlib.invalidate_caches()
    _write_zip(archive, {"_zipguard_a": "X = 1\n", "_zipguard_b": "Y = 2\n"})
    n = reads.count(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == n + 1
    assert importlib.import_module("_zipguard_b").Y == 2


def test_guard_reads_a_new_archive_once_for_all_its_importers(guarded_zip):
    archive, reads = guarded_zip
    first = zipimport.zipimporter(archive)
    n = reads.count(archive)
    first.invalidate_caches()
    first.invalidate_caches()
    assert reads.count(archive) == n + 1
    # e.g. the importer a subpackage path inside the archive gets
    second = zipimport.zipimporter(f"{archive}/pkg")
    second.invalidate_caches()
    assert reads.count(archive) == n + 1
    assert second._files is zipimport._zip_directory_cache[archive]


def test_install_patches_nothing_on_312(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    pyworker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches is stock


@pytest.mark.skipif(sys.version_info >= (3, 12), reason="guard is for CPython < 3.12")
def test_install_guards_the_stock_reread(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    pyworker_daemon.install()
    assert zipimport.zipimporter.invalidate_caches.reread is stock


@pytest.mark.parametrize(
    "master, daemon",
    [
        ("local", True),
        ("local[4]", True),
        ("local[*]", True),
        ("local[2,3]", True),
        ("local-cluster[2,1,1024]", False),
        ("spark://host:7077", False),
        ("yarn", False),
        ("k8s://https://host:6443", False),
    ],
)
def test_only_local_masters_get_the_daemon(master, daemon, monkeypatch):
    """get_spark's builder options, captured instead of starting a
    second SparkContext."""
    built: dict[str, str] = {}
    monkeypatch.chdir(_package_root())

    def capture(builder):
        built.update(builder._options)
        return "session"

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", capture)
    monkeypatch.setattr(session, "configure_session", lambda s: s)
    assert session.get_spark("probe", master=master) == "session"
    assert built["spark.master"] == master
    assert (built.get(_DAEMON_CONF) == pyworker_daemon.__name__) is daemon


def test_no_daemon_when_workers_cannot_import_the_package(tmp_path, monkeypatch):
    root = _package_root()
    monkeypatch.chdir(tmp_path)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert session._daemon_confs("local[2]") == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/nonexistent", root]))
    assert session._daemon_confs("local[2]") == {_DAEMON_CONF: pyworker_daemon.__name__}
