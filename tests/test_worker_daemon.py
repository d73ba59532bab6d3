"""The worker daemon's zip-directory rule: an archive's directory is
re-read only when the archive changed; directory finders, new archives
and ``addPyFile`` behave as with Spark's own daemon."""

import importlib
import json
import logging
import os
import subprocess
import sys
import uuid
import zipfile
import zipimport

import pytest

import weak_supervision_for_ner_spark
from weak_supervision_for_ner_spark import config, worker_daemon
from weak_supervision_for_ner_spark.config import PYTHON_DAEMON_MODULE, worker_daemon_conf

WRAPPER = f"{PYTHON_DAEMON_MODULE}.invalidate_caches"


def _write_zip(path, files: dict) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in files.items():
            zf.writestr(name, source)
    return str(path)


@pytest.fixture
def reads(monkeypatch):
    """Install the wrapper for one test; return the archives it re-reads."""
    monkeypatch.setattr(worker_daemon, "_read_as", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    importlib.invalidate_caches()
    seen = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


@pytest.fixture
def on_path(monkeypatch):
    """``on_path(entry)``: put ``entry`` first on sys.path for one test."""
    added = []

    def add(entry: str) -> None:
        monkeypatch.syspath_prepend(entry)
        added.append(entry)

    yield add
    for entry in added:
        sys.path_importer_cache.pop(entry, None)


@pytest.fixture
def module_m(tmp_path, monkeypatch, on_path):
    """A zip holding module ``m`` (v1), on sys.path and imported."""
    monkeypatch.delitem(sys.modules, "m", raising=False)
    archive = _write_zip(tmp_path / "m.zip", {"m.py": "VERSION = 1\n"})
    on_path(archive)
    import m

    assert m.VERSION == 1
    yield archive
    sys.modules.pop("m", None)


def test_unchanged_archives_are_not_reread(module_m, reads):
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(module_m, reads):
    _write_zip(module_m, {"m.py": "VERSION = 2  # rewritten in place\n"})
    importlib.invalidate_caches()
    assert set(reads) == {module_m}
    del sys.modules["m"]
    import m

    assert m.VERSION == 2
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []


def test_new_archive_is_importable(module_m, reads, tmp_path, monkeypatch, on_path):
    name = f"m_{uuid.uuid4().hex}"
    on_path(_write_zip(tmp_path / "new.zip", {f"{name}.py": "VERSION = 3\n"}))
    importlib.invalidate_caches()
    assert importlib.import_module(name).VERSION == 3
    monkeypatch.delitem(sys.modules, name)


def test_directory_finders_are_still_invalidated(reads, tmp_path, monkeypatch, on_path):
    name = f"m_{uuid.uuid4().hex}"
    on_path(str(tmp_path))
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module(name)  # the directory's finder lists it now
    before = os.stat(tmp_path)
    (tmp_path / f"{name}.py").write_text("VERSION = 4\n")
    # an unchanged directory mtime: only invalidation makes the file visible
    os.utime(tmp_path, ns=(before.st_atime_ns, before.st_mtime_ns))
    importlib.invalidate_caches()
    assert importlib.import_module(name).VERSION == 4
    monkeypatch.delitem(sys.modules, name)


def test_tasks_keep_archive_directories(spark):
    """Every task of two consecutive jobs runs under the package wrapper
    and re-reads no archive in ``importlib.invalidate_caches()``. The
    probe calls it after the task's own set-up has, which is what each
    later task on a reused worker does."""

    def probe(batches):
        import importlib
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        seen = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: seen.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        fn = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"fn": [f"{fn.__module__}.{fn.__qualname__}"],
                            "reads": [len(seen)]})

    frame = spark.range(0, 8, 1, 4)
    for _ in range(2):
        rows = frame.mapInPandas(probe, "fn string, reads long").collect()
        assert [(r.fn, r.reads) for r in rows] == [(WRAPPER, 0)] * 4


def test_add_py_file_is_importable_in_tasks(spark, tmp_path):
    name = f"shipped_{uuid.uuid4().hex}"
    spark.sparkContext.addPyFile(
        _write_zip(tmp_path / f"{name}.zip", {f"{name}.py": "VERSION = 5\n"}))

    def use(batches):
        import importlib

        version = importlib.import_module(name).VERSION
        for batch in batches:
            yield batch.assign(version=version)

    rows = spark.range(0, 4, 1, 2).mapInPandas(use, "id long, version long").collect()
    assert sorted(r.version for r in rows) == [5] * 4


def test_get_spark_warns_when_static_settings_are_ignored(spark, caplog, monkeypatch):
    from weak_supervision_for_ner_spark.config import get_spark

    with caplog.at_level(logging.WARNING, "weak_supervision_for_ner_spark.config"):
        assert get_spark("wsner-tests", cores=4, shuffle_partitions=8) is spark
        assert not caplog.records
        assert get_spark("wsner-tests", cores=3, shuffle_partitions=8) is spark
        monkeypatch.setattr(config, "PYTHON_DAEMON_MODULE", "other_daemon")
        assert get_spark("wsner-tests", cores=4, shuffle_partitions=8) is spark
    assert [r.getMessage() for r in caplog.records] == [
        "get_spark reuses a running session whose spark.master is "
        "'local[4]', not 'local[3]'; static settings apply only to a new session",
        f"get_spark reuses a running session whose spark.python.daemon.module is "
        f"'{PYTHON_DAEMON_MODULE}', not 'other_daemon'; static settings apply "
        f"only to a new session"]


def _conf(**settings):
    from pyspark import SparkConf

    conf = SparkConf(loadDefaults=False)
    for key, value in settings.items():
        conf.set(key.replace("_", "."), value)
    return conf


def test_worker_daemon_conf_is_local_only_and_yields_to_an_explicit_daemon():
    root = os.path.dirname(os.path.dirname(weak_supervision_for_ner_spark.__file__))
    assert worker_daemon_conf(_conf(spark_master="spark://host:7077")) == {}
    assert worker_daemon_conf(_conf()) == {}
    assert worker_daemon_conf(_conf(spark_master="local[2]",
                                    spark_python_daemon_module="pyspark.daemon")) == {}
    assert worker_daemon_conf(_conf(spark_master="local[2]")) == {
        "spark.python.daemon.module": PYTHON_DAEMON_MODULE,
        "spark.executorEnv.PYTHONPATH": root}
    conf = _conf(spark_master="local[2]")
    conf.set("spark.executorEnv.PYTHONPATH", "/elsewhere")
    assert worker_daemon_conf(conf)["spark.executorEnv.PYTHONPATH"] == (
        f"/elsewhere{os.pathsep}{root}")


def _python(code: str, cwd, pythonpath: str | None) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    if pythonpath:
        env["PYTHONPATH"] = pythonpath
    return subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=120)


def test_worker_finds_the_daemon_outside_the_checkout(tmp_path):
    """A driver that imported the package from a ``--py-files`` zip,
    run from a directory other than the checkout: its workers'
    ``PYTHONPATH`` lets them import the daemon module before any task."""
    archive = tmp_path / "wsner.zip"
    root = os.path.dirname(os.path.dirname(weak_supervision_for_ner_spark.__file__))
    with zipfile.ZipFile(archive, "w") as zf:  # zip -r wsner.zip weak_supervision_for_ner_spark
        for folder, _, names in os.walk(os.path.join(root, "weak_supervision_for_ner_spark")):
            for name in names:
                if name.endswith(".py"):
                    path = os.path.join(folder, name)
                    zf.write(path, os.path.relpath(path, root))
    driver = _python(
        "import json\n"
        "from pyspark import SparkConf\n"
        "from weak_supervision_for_ner_spark.config import worker_daemon_conf\n"
        "print(json.dumps(worker_daemon_conf(SparkConf(loadDefaults=False)"
        ".setMaster('local[2]'))))", tmp_path, str(archive))
    assert driver.returncode == 0, driver.stderr
    settings = json.loads(driver.stdout)
    assert settings["spark.executorEnv.PYTHONPATH"] == str(archive)
    find = (f"import importlib.util; "
            f"print(importlib.util.find_spec({settings['spark.python.daemon.module']!r}).origin)")
    assert _python(find, tmp_path, None).returncode != 0
    worker = _python(find, tmp_path, settings["spark.executorEnv.PYTHONPATH"])
    assert worker.returncode == 0, worker.stderr
    assert worker.stdout.strip() == f"{archive}/weak_supervision_for_ner_spark/worker_daemon.py"
