"""The fork-free local filesystem (``jvm/ForkFreeLocalFs.java``).

Without libhadoop, Hadoop's local filesystem starts a ``chmod`` for every
file and directory it creates with a permission and a ``readlink`` for
every link-status call (4 per FileContext rename), so each checkpointed
micro-batch started dozens of subprocesses. The guard records process
starts in the driver JVM with JFR over one such micro-batch; the parity
tests hold the session's ``file:`` filesystems to Hadoop's stock ones.
"""

from __future__ import annotations

import hashlib
import os
import stat
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from test_streaming import _http_log_json, _run_pipeline

from http_log_anonymizer_spark import session

JVM_DIR = Path(session.__file__).parent / "jvm"
_FS_COMMANDS = {"chmod", "readlink", "ls", "stat"}  # Hadoop's Shell file-metadata commands


# -- the committed jar (no JVM) ---------------------------------------------


def test_jar_is_built_from_the_committed_source():
    """The jar's ``Source-SHA256`` is the hash of the Java source beside
    it; after editing the source, run ``python tools/build_localfs_jar.py``."""
    with zipfile.ZipFile(session._LOCALFS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    fields = dict(ln.split(": ", 1) for ln in manifest.splitlines() if ": " in ln)
    source = (JVM_DIR / "ForkFreeLocalFs.java").read_bytes()
    assert fields["Source-SHA256"] == hashlib.sha256(source).hexdigest()


# -- guard: no filesystem subprocess per micro-batch ------------------------


def _process_starts(spark, run, path: Path) -> list[str]:
    """Commands of every process the driver JVM starts while ``run()``
    runs, from a JFR recording of ``jdk.ProcessStart``."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        run()
    finally:
        rec.stop()
        rec.dump(jvm.java.io.File(str(path)).toPath())
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(jvm.java.io.File(str(path)).toPath())
    return [e.getString("command") for e in events]


def test_checkpointed_micro_batch_starts_no_filesystem_subprocess(spark, tmp_path):
    """One ``ParquetSink(dedup=True)`` micro-batch with a checkpoint: the
    offset/commit log writes and the sink's parquet job create files,
    directories and ``.crc`` files and rename them, without a shell."""
    src = tmp_path / "src"
    src.mkdir()
    (src / "batch.txt").write_text("\n".join(_http_log_json(i) for i in range(8)))
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    commands = _process_starts(
        spark, lambda: _run_pipeline(spark, str(src), str(out), str(ckpt), dedup=True),
        tmp_path / "rec.jfr")
    forked = [c for c in commands if os.path.basename(c.split(" ", 1)[0]) in _FS_COMMANDS]
    assert forked == [], f"{len(forked)} filesystem subprocesses, e.g. {forked[:3]}"
    assert spark.read.parquet(str(out)).count() == 8
    for log in ("offsets", "commits"):  # checkpoint logs still carry their checksums
        assert {"0", ".0.crc"} <= set(os.listdir(ckpt / log))


# -- parity with Hadoop's stock local filesystem ----------------------------


@pytest.fixture(scope="module")
def hadoop(spark):
    """``(jvm, gateway, stock, ours)``; each side holds the raw
    filesystem, the checksummed FileSystem and a FileContext."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    stock_conf = jvm.org.apache.hadoop.conf.Configuration()  # core-default.xml only
    raw = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    raw.initialize(uri, stock_conf)
    local = jvm.org.apache.hadoop.fs.LocalFileSystem()
    local.initialize(uri, stock_conf)
    stock = {"raw": raw, "fs": local,
             "fc": jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, stock_conf)}
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(uri, conf)
    ours = {"raw": fs.getRaw(), "fs": fs,
            "fc": jvm.org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)}
    return jvm, spark.sparkContext._gateway, stock, ours


def test_session_file_scheme_uses_the_fork_free_classes(hadoop):
    _, _, stock, ours = hadoop
    assert ours["fs"].getClass().getName() == "hla.localfs.ForkFreeLocalFs$Local"
    assert ours["raw"].getClass().getName() == "hla.localfs.ForkFreeLocalFs$Raw"
    assert ours["fc"].getDefaultFileSystem().getClass().getName() == "hla.localfs.ForkFreeLocalFs$Fs"
    assert stock["fc"].getDefaultFileSystem().getClass().getName() == "org.apache.hadoop.fs.local.LocalFs"


def _outcome(call):
    """A call's result, or the class name of the Java exception it raised."""
    try:
        return call()
    except Py4JJavaError as e:
        return e.java_exception.getClass().getName()


@pytest.mark.parametrize("mode", [0o600, 0o644, 0o700, 0o755, 0o1777])
def test_set_permission_matches_stock(hadoop, tmp_path, mode):
    jvm, _, stock, ours = hadoop
    perm = jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    for kind in ("file", "dir"):
        modes = []
        for side in (stock, ours):
            p = tmp_path / f"{kind}-{len(modes)}"
            p.write_bytes(b"x") if kind == "file" else p.mkdir()
            os.chmod(p, 0o640)
            side["raw"].setPermission(jvm.org.apache.hadoop.fs.Path(str(p)), perm)
            modes.append(stat.S_IMODE(os.stat(p).st_mode))
        assert modes == [mode, mode], kind


def _link_status(raw, path):
    st = raw.getFileLinkStatus(path)
    link = st.getSymlink().toString() if st.isSymlink() else None
    return (st.getPath().toString(), st.isFile(), st.isDirectory(), st.isSymlink(), link,
            st.getLen(), st.getModificationTime(), st.getPermission().toShort(),
            st.getOwner(), st.getGroup())


def test_file_link_status_matches_stock(hadoop, tmp_path):
    jvm, _, stock, ours = hadoop
    (tmp_path / "file").write_bytes(b"payload")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to("file")
    (tmp_path / "dangling").symlink_to("gone")
    paths = [str(tmp_path / n) for n in ("file", "dir", "link", "dangling", "missing")]
    paths.append(f"file:{tmp_path / 'link'}")  # qualified: stock's readlink sees no link
    for p in paths:
        path = jvm.org.apache.hadoop.fs.Path(p)
        want = _outcome(lambda: _link_status(stock["raw"], path))
        assert _outcome(lambda: _link_status(ours["raw"], path)) == want, p
    link = _link_status(ours["raw"], jvm.org.apache.hadoop.fs.Path(str(tmp_path / "link")))
    assert link[3:5] == (True, f"file:{tmp_path / 'file'}")
    missing = jvm.org.apache.hadoop.fs.Path(str(tmp_path / "missing"))
    assert _outcome(lambda: _link_status(ours["raw"], missing)) == "java.io.FileNotFoundException"


def _fc_write(jvm, fc, path: Path, data: bytes) -> None:
    out = fc.create(jvm.org.apache.hadoop.fs.Path(str(path))).overwrite(True).build()
    out.write(data)
    out.close()


def test_checksums_are_written_and_verified(hadoop, tmp_path):
    """``.crc`` siblings are written through both APIs, and one corrupted
    data byte fails the read with a ChecksumException, as in stock. The
    FileContext side reads through ``AbstractFileSystem.open(path,
    bufferSize)``: in Hadoop 3.4, ``FileContext.open(path)`` reaches
    ``FilterFs.open(path)``, which opens the raw file unverified, stock
    or not."""
    jvm, _, stock, ours = hadoop
    data = b"0123456789" * 10
    for name, side in (("stock", stock), ("ours", ours)):
        for api in ("fc", "fs"):
            p = tmp_path / f"{name}-{api}.bin"
            hp = jvm.org.apache.hadoop.fs.Path(str(p))
            if api == "fc":
                _fc_write(jvm, side["fc"], p, data)
                read = lambda: side["fc"].getDefaultFileSystem().open(hp, 4096).readAllBytes()  # noqa: E731
            else:
                out = side["fs"].create(hp)
                out.write(data)
                out.close()
                read = lambda: side["fs"].open(hp).readAllBytes()  # noqa: E731
            assert (tmp_path / f".{p.name}.crc").exists(), (name, api)
            assert bytes(read()) == data
            corrupt = bytearray(data)
            corrupt[42] ^= 0x01
            p.write_bytes(bytes(corrupt))
            assert _outcome(read) == "org.apache.hadoop.fs.ChecksumException", (name, api)


def test_rename_onto_existing_file_is_refused(hadoop, tmp_path):
    """HDFSMetadataLog's guard against a second writer: a checkpoint log
    rename with ``Rename.NONE`` onto an existing file fails, as in stock."""
    jvm, gateway, stock, ours = hadoop
    rename = jvm.org.apache.hadoop.fs.Options.Rename
    none = gateway.new_array(rename, 1)
    none[0] = rename.NONE
    for name, side in (("stock", stock), ("ours", ours)):
        src, dst = tmp_path / f"{name}-tmp", tmp_path / f"{name}-0"
        _fc_write(jvm, side["fc"], src, b"new")
        _fc_write(jvm, side["fc"], dst, b"old")
        got = _outcome(lambda: side["fc"].rename(
            jvm.org.apache.hadoop.fs.Path(str(src)), jvm.org.apache.hadoop.fs.Path(str(dst)), none))
        assert got == "org.apache.hadoop.fs.FileAlreadyExistsException", name
        assert dst.read_bytes() == b"old"
