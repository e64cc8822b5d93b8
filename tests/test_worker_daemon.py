"""The Python worker daemon re-reads a zip archive only when it changed.

Every PySpark task calls ``importlib.invalidate_caches()``; on CPython
before 3.13 that re-reads the directory of each zip archive on
``sys.path``. ``http_log_anonymizer_spark._daemon`` makes the re-read
conditional on the archive's file stamp, and ``session.get_spark`` runs
every Python worker under it.
"""

from __future__ import annotations

import importlib
import inspect
import os
import sys
import zipfile
import zipimport

from http_log_anonymizer_spark import _daemon


def _write_zip(path, members: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, source in members.items():
            zf.writestr(name, source)
    os.replace(tmp, path)


def test_unchanged_archive_is_not_reread_and_a_rewrite_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "pkgs.zip")
    _write_zip(archive, {"zd_first.py": "VALUE = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", _daemon.invalidate_caches)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    for name in ("zd_first", "zd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)

    assert importlib.import_module("zd_first").VALUE == 1
    importlib.invalidate_caches()  # first call records the stamp
    before = reads.count(archive)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(archive) == before, "unchanged archive was re-read"

    _write_zip(archive, {"zd_first.py": "VALUE = 1\n", "zd_second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == before + 1
    assert importlib.import_module("zd_second").VALUE == 2


def test_spark_python_workers_run_under_the_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == "http_log_anonymizer_spark._daemon"
    package_parent = os.path.dirname(os.path.dirname(inspect.getsourcefile(_daemon)))
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == package_parent

    def report(batches):
        import importlib
        import inspect
        import zipimport

        import pyarrow as pa

        reads = []
        read_directory = zipimport._read_directory

        def counting_read(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counting_read
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        source = inspect.getsourcefile(zipimport.zipimporter.invalidate_caches) or ""
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"source": [source], "reads": [len(reads)]})

    rows = (
        spark.range(2, numPartitions=2)
        .mapInArrow(report, "source string, reads long")
        .collect()
    )
    assert len(rows) == 2
    own = inspect.getsourcefile(_daemon.invalidate_caches)
    for row in rows:
        assert os.path.samefile(row.source, own), row.source
        assert row.reads == 0, f"a task re-read {row.reads} unchanged archives"
