"""The worker daemon's zip re-read rule: unit-tested without Spark, then
checked in the workers of a ``get_spark`` session; and which confs the
builder gives local and cluster masters."""

from __future__ import annotations

import collections
import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import SparkSession

from kafka_spark_streaming_app_spark import pyworker
from kafka_spark_streaming_app_spark.session import CHECKPOINT_FILE_MANAGER, get_spark


CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"

# Before 3.12 every zipimporter re-reads its archive on invalidate_caches and
# keeps the directory in ``_files``; from 3.12 on it is lazy and the daemon
# patches nothing, so the rule's unit tests do not apply there.
eager_only = pytest.mark.skipif(not pyworker.EAGER, reason="zipimport is lazy from Python 3.12 on")

MODULES = {"pw_zip_a": "A = 1\n", "pw_pkg/__init__": "", "pw_pkg/a": "A = 1\n"}


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


@pytest.fixture()
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` with the stat-checked rule installed and fresh
    bookkeeping; everything it adds to the import system is undone."""
    path = str(tmp_path / "mods.zip")
    _write_zip(path, MODULES)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pyworker.invalidate_caches)
    monkeypatch.setattr(pyworker, "reads", collections.Counter())
    monkeypatch.setattr(pyworker, "_read_at", {})
    for name in ("pw_zip_a", "pw_zip_c", "pw_pkg", "pw_pkg.a", "pw_pkg.b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    for entry in (path, os.path.join(path, "pw_pkg")):
        monkeypatch.delitem(sys.path_importer_cache, entry, raising=False)
    monkeypatch.syspath_prepend(path)
    return path


@eager_only
def test_unchanged_archive_is_read_once(archive):
    assert importlib.import_module("pw_zip_a").A == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert pyworker.reads[archive] == 1


@eager_only
def test_rewritten_archive_is_reread(archive):
    # two importers over one archive: the zip's root and the package in it
    importlib.import_module("pw_pkg.a")
    importlib.invalidate_caches()
    _write_zip(archive, {**MODULES, "pw_pkg/b": "B = 2\n"})
    with pytest.raises(ImportError):  # the importers still hold the old directory
        importlib.import_module("pw_pkg.b")
    importlib.invalidate_caches()
    assert importlib.import_module("pw_pkg.b").B == 2
    # the package's importer took the directory its sibling re-read
    assert pyworker.reads[archive] == 2


@eager_only
def test_deleted_archive_does_not_raise(archive):
    importlib.import_module("pw_zip_a")
    os.remove(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    with pytest.raises(ImportError):
        importlib.import_module("pw_zip_c")


def test_session_workers_skip_rereading_pyspark_zip(spark):
    def probe(batches):
        import os
        import zipimport

        import pandas as pd
        import pyspark

        from kafka_spark_streaming_app_spark import pyworker as pw

        for _ in batches:
            pass
        archive = getattr(pyspark.__loader__, "archive", "")
        patched = zipimport.zipimporter.invalidate_caches is pw.invalidate_caches
        yield pd.DataFrame(
            {"pid": [os.getpid()], "archive": [archive], "reads": [pw.reads[archive]], "patched": [patched]}
        )

    df = spark.range(0, 64, numPartitions=4)
    schema = "pid long, archive string, reads long, patched boolean"
    first, second = (df.mapInPandas(probe, schema).collect() for _ in range(2))
    rows = first + second
    assert len(rows) == 8
    assert all(r.patched == pyworker.EAGER for r in rows)
    assert all(r.archive.endswith("pyspark.zip") for r in rows)
    # a task never re-reads the unchanged archive: every worker still holds
    # the count its daemon had when it forked, in both passes
    before = {r.pid: r.reads for r in first}
    assert all(before.get(r.pid, r.reads) == r.reads for r in second)
    assert len({r.reads for r in rows}) == 1


def test_daemon_confs_local_only_and_overridable(spark, monkeypatch):
    options = {}

    def record(builder):
        options.clear()
        options.update(builder._options)
        return spark

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", record)
    get_spark(app_name="tests")
    assert options["spark.python.daemon.module"] == pyworker.__name__
    assert options[CKPT_MANAGER] == CHECKPOINT_FILE_MANAGER
    # the daemon starts before any py-files reach sys.path: name the package root
    root = options["spark.executorEnv.PYTHONPATH"]
    assert os.path.isfile(os.path.join(root, "kafka_spark_streaming_app_spark", "pyworker.py"))
    stock = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    get_spark(app_name="tests", extra_confs={"spark.python.daemon.module": "pyspark.daemon", CKPT_MANAGER: stock})
    assert options["spark.python.daemon.module"] == "pyspark.daemon"
    assert options[CKPT_MANAGER] == stock
    # a cluster ships the package as py-files, so it keeps the stock daemon
    get_spark(app_name="tests", master="spark://cluster:7077")
    assert "spark.python.daemon.module" not in options
    assert "spark.executorEnv.PYTHONPATH" not in options
    # and Spark's default checkpoint manager, which suits object stores and HDFS
    assert CKPT_MANAGER not in options
