"""Session defaults, resolved without starting a SparkContext."""

from __future__ import annotations

import os
import zipfile
from types import SimpleNamespace

from http_log_anonymizer_spark import session

_ENV = ("SPARK_GRAFT_CPUS", "SPARK_MASTER", "SPARK_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR")


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the master and
    every conf instead of building a session."""

    def __init__(self) -> None:
        self.master_url: str | None = None
        self.conf: dict[str, str] = {}

    def appName(self, name):  # noqa: N802 - mirrors the Spark builder API
        return self

    def master(self, url):
        self.master_url = url
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):  # noqa: N802
        return None


def _resolve(monkeypatch, extra_conf: dict[str, str] | None = None, **env: str) -> _RecordingBuilder:
    for var in _ENV:
        monkeypatch.delenv(var, raising=False)
    for var, value in env.items():
        monkeypatch.setenv(var, value)
    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(extra_conf=extra_conf)
    return builder


def test_default_master_uses_the_host_core_count(monkeypatch):
    """With neither SPARK_GRAFT_CPUS nor SPARK_MASTER set, a standalone
    sink or example runs on local[<host cores>] with as many shuffle
    partitions — not a fixed local[32] on a smaller host."""
    builder = _resolve(monkeypatch)
    cores = os.cpu_count()
    assert builder.master_url == f"local[{cores}]"
    assert builder.conf["spark.sql.shuffle.partitions"] == str(cores)


def test_explicit_cpus_still_win(monkeypatch):
    assert _resolve(monkeypatch, SPARK_GRAFT_CPUS="8").master_url == "local[8]"


def test_caller_classpath_is_joined_with_the_package_jar(monkeypatch):
    """A caller's extraClassPath keeps the package jar: without it the
    first file access fails with ClassNotFoundException for the
    fs.file.impl class."""
    conf = _resolve(monkeypatch, extra_conf={
        "spark.driver.extraClassPath": "lib/a.jar",
        "spark.executor.extraClassPath": os.pathsep.join(["lib/b.jar", "lib/c.jar"]),
    }).conf
    jar = session._LOCALFS_JAR
    assert conf["spark.driver.extraClassPath"].split(os.pathsep) == ["lib/a.jar", jar]
    assert conf["spark.executor.extraClassPath"].split(os.pathsep) == ["lib/b.jar", "lib/c.jar", jar]
    default = _resolve(monkeypatch).conf
    assert default["spark.driver.extraClassPath"] == default["spark.executor.extraClassPath"] == jar


def test_local_filesystem_confs_name_classes_in_the_jar(monkeypatch):
    conf = _resolve(monkeypatch).conf
    with zipfile.ZipFile(session._LOCALFS_JAR) as jar:
        names = set(jar.namelist())
    for key in ("spark.hadoop.fs.file.impl", "spark.hadoop.fs.AbstractFileSystem.file.impl"):
        assert conf[key].replace(".", "/") + ".class" in names
