"""Rebuild the fork-free local filesystem jar from its Java source.

    python tools/build_localfs_jar.py

Compiles ``http_log_anonymizer_spark/jvm/ForkFreeLocalFs.java`` with
``javac --release 17`` against the jars of the installed pyspark and writes
``http_log_anonymizer_spark/jvm/fork-free-localfs.jar`` with fixed entry
times and a ``Source-SHA256`` manifest entry (the source's SHA-256), which
``tests/test_local_fs.py`` checks against the committed source. Building
needs a JDK; running the package needs only the committed jar.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

JVM_DIR = Path(__file__).resolve().parents[1] / "http_log_anonymizer_spark" / "jvm"
SOURCE = JVM_DIR / "ForkFreeLocalFs.java"
JAR = JVM_DIR / "fork-free-localfs.jar"
_EPOCH = (1980, 1, 1, 0, 0, 0)  # fixed entry times: same source, same jar


def source_sha256() -> str:
    return hashlib.sha256(SOURCE.read_bytes()).hexdigest()


def build() -> Path:
    import pyspark

    classpath = str(Path(pyspark.__file__).parent / "jars" / "*")
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(["javac", "--release", "17", "-encoding", "UTF-8", "-cp", classpath,
                        "-d", out, str(SOURCE)], check=True)
        manifest = ("Manifest-Version: 1.0\r\n"
                    f"Source-SHA256: {source_sha256()}\r\n\r\n")
        with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
            jar.writestr(zipfile.ZipInfo("META-INF/MANIFEST.MF", _EPOCH), manifest)
            for cls in sorted(Path(out).rglob("*.class")):
                info = zipfile.ZipInfo(cls.relative_to(out).as_posix(), _EPOCH)
                jar.writestr(info, cls.read_bytes(), zipfile.ZIP_DEFLATED)
    return JAR


if __name__ == "__main__":
    jar = build()
    print(f"{jar} ({jar.stat().st_size} bytes)", file=sys.stderr)
