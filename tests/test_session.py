"""Session policy: the spark.local.dir log record and the worker-side
pruning of Spark-archive import finders (driver-side unit cases; the
through-Spark check lives in test_pipeline.py)."""

import importlib
import logging
import sys
import zipfile
from types import SimpleNamespace

import pytest
from pyspark.sql import SparkSession

from artexin_spark import session


@pytest.fixture
def no_session(monkeypatch):
    """get_spark without touching the live session: getOrCreate hands back
    the builder options instead."""
    monkeypatch.setattr(session, "_LOCAL_DIR_ANNOUNCED", False)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))


def _local_dir_records(caplog):
    return [r for r in caplog.records if r.name == session.__name__]


def test_explicit_local_dir_is_logged_once(no_session, monkeypatch, caplog, capsys):
    monkeypatch.setenv("SPARK_LOCAL_DIR", "/tmp/artexin-local-probe")
    caplog.set_level(logging.INFO, logger=session.__name__)
    assert session.get_spark()["spark.local.dir"] == "/tmp/artexin-local-probe"
    session.get_spark()
    (rec,) = _local_dir_records(caplog)
    assert rec.levelno == logging.INFO
    assert rec.getMessage() == "artexin-spark: spark.local.dir=/tmp/artexin-local-probe"
    assert capsys.readouterr().err == ""


def test_auto_selected_tmpfs_is_a_warning(no_session, monkeypatch, caplog):
    monkeypatch.delenv("SPARK_LOCAL_DIR", raising=False)
    monkeypatch.setattr(session.os.path, "isdir", lambda p: p == "/dev/shm")
    monkeypatch.setattr(session.os, "statvfs", lambda p: SimpleNamespace(f_bavail=1 << 40, f_frsize=1))
    caplog.set_level(logging.INFO, logger=session.__name__)
    assert session.get_spark()["spark.local.dir"] == "/dev/shm/artexin-spark-local"
    session.get_spark()
    (rec,) = _local_dir_records(caplog)
    assert rec.levelno == logging.WARNING
    assert "tmpfs auto-selected" in rec.getMessage()


def _zip_with(path, module, body):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(module + ".py", body)
    return str(path)


@pytest.mark.parametrize(
    "spark_archive", ["pyspark.zip", "py4j-0.10.9.9-src.zip", "spark-core_2.13-4.1.2.jar"]
)
def test_prune_drops_spark_archives_keeps_user_zips(tmp_path, monkeypatch, spark_archive):
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    (tmp_path / "lib").mkdir()
    spark_zip = _zip_with(tmp_path / "lib" / spark_archive, "artexin_spark_side_probe", "V = 1\n")
    user_zip = _zip_with(tmp_path / "userlib.zip", "artexin_user_side_probe", "V = 2\n")
    monkeypatch.syspath_prepend(user_zip)
    monkeypatch.syspath_prepend(spark_zip)
    for mod in ("artexin_spark_side_probe", "artexin_user_side_probe"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    # the lookup walks the Spark archive first, so both get a zipimporter
    assert importlib.import_module("artexin_user_side_probe").V == 2
    assert {spark_zip, user_zip} <= set(sys.path_importer_cache)

    assert session.prune_spark_zip_finders() == 1
    assert spark_zip not in sys.path_importer_cache
    assert user_zip in sys.path_importer_cache
    # a later import from the pruned archive rebuilds its finder
    importlib.invalidate_caches()
    assert importlib.import_module("artexin_spark_side_probe").V == 1
    assert spark_zip in sys.path_importer_cache
    assert session.prune_spark_zip_finders() == 1
    for mod in ("artexin_spark_side_probe", "artexin_user_side_probe"):
        sys.modules.pop(mod, None)
