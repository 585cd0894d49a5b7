"""The engine's worker daemon: zip importers re-read only changed archives."""
import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

import sparkharvester
from sparkharvester import pydaemon
from sparkharvester.session import _with_worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(sparkharvester.__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip with one module, first on sys.path, imported through the
    engine's invalidate_caches, with the importer already stamped; yields
    the archive path and the list of paths _read_directory reads next."""
    path = str(tmp_path / "probe.zip")
    _write_zip(path, {"_pydaemon_probe_a": "VALUE = 'a'\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon.invalidate_caches)
    # only this test's importers take part in invalidation
    monkeypatch.setattr(sys, "path_importer_cache", {})
    monkeypatch.syspath_prepend(path)
    try:
        assert importlib.import_module("_pydaemon_probe_a").VALUE == "a"
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        monkeypatch.setattr(zipimport, "_read_directory",
                            lambda p: reads.append(p) or read_directory(p))
        yield path, reads
    finally:
        for name in ("_pydaemon_probe_a", "_pydaemon_probe_b"):
            sys.modules.pop(name, None)


def test_unchanged_archive_is_not_reread(archive):
    _, reads = archive
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(archive):
    path, reads = archive
    _write_zip(path, {"_pydaemon_probe_a": "VALUE = 'a'\n",
                      "_pydaemon_probe_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    # CPython 3.13 re-reads at the next import, 3.10-3.12 at invalidation
    assert importlib.import_module("_pydaemon_probe_b").VALUE == "b"
    assert reads == [path]


def test_workers_run_the_engine_daemon(spark):
    @F.pandas_udf("string")
    def invalidator(ids: pd.Series) -> pd.Series:
        f = zipimport.zipimporter.invalidate_caches
        return ids.map(lambda _: f.__code__.co_filename)

    files = {r[0] for r in spark.range(2).select(invalidator("id")).collect()}
    assert files == {pydaemon.__file__}


def test_daemon_named_only_where_executors_can_import_it():
    pkg_file = os.path.join(REPO, "sparkharvester", "session.py")
    conf = _with_worker_daemon("local[2]", pkg_file,
                               {"spark.executorEnv.PYTHONPATH": "/x"})
    assert conf == {"spark.python.daemon.module": "sparkharvester.pydaemon",
                    "spark.executorEnv.PYTHONPATH": REPO + os.pathsep + "/x"}
    zipped = os.path.join(REPO, "dist.zip", "sparkharvester", "session.py")
    assert _with_worker_daemon("local[2]", zipped, None) == {}
    assert _with_worker_daemon("spark://h:7077", pkg_file, {"a": "b"}) == {
        "a": "b"}


# Run from a working directory outside the repository: first with the
# package loaded from a zip shipped to the executors by addPyFile, the way
# a --py-files deploy reaches them, then from its directory (in this
# order: a process's SparkSession.builder keeps the options it was given).
_OUTSIDE_REPO = textwrap.dedent("""
    import sys
    import zipimport

    repo, archive = sys.argv[1:]

    def invalidator(_):
        import sparkharvester  # noqa: F401
        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    def run(package_path, ship):
        sys.path.insert(0, package_path)
        from sparkharvester.session import get_spark
        spark = get_spark("outside", master="local[1]")
        if ship:
            spark.sparkContext.addPyFile(package_path)
        rdd = spark.sparkContext.parallelize([1, 2], 2)
        assert rdd.map(lambda x: x + 1).collect() == [2, 3]
        print(rdd.mapPartitions(invalidator).collect())
        spark.stop()
        sys.path.remove(package_path)
        for name in [m for m in sys.modules if m.startswith("sparkharvester")]:
            del sys.modules[name]

    run(archive, ship=True)
    run(repo, ship=False)
""")


def test_session_outside_the_repository(tmp_path):
    archive = tmp_path / "sparkharvester.zip"
    with zipfile.ZipFile(archive, "w") as z:
        for name in os.listdir(os.path.join(REPO, "sparkharvester")):
            if name.endswith(".py"):
                z.write(os.path.join(REPO, "sparkharvester", name),
                        f"sparkharvester/{name}")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_REPO, REPO, str(archive)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    from_zip, from_dir = out.stdout.splitlines()
    daemon_file = os.path.join(REPO, "sparkharvester", "pydaemon.py")
    assert from_dir == repr([daemon_file, daemon_file])
    assert "pydaemon" not in from_zip
