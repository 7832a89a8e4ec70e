"""Build (or check) the local file system jar ``get_spark`` installs.

The Java sources under ``cerebro_spark/jvm/src/`` are compiled with
``javac --release 17`` against the installed PySpark's
``hadoop-client-api`` jar and packed into ``cerebro_spark/jvm/<JAR_NAME>``.
The jar records the SHA-256 of the sources it was built from in
``META-INF/<HASH_ENTRY>``, so a source edit without a rebuild is caught:

    python tools/build_localfs.py            # rebuild the jar
    python tools/build_localfs.py --check    # exit 1 if the jar is stale

The jar is committed: a host that runs the engine may have only a JRE.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
JVM_DIR = ROOT / "cerebro_spark" / "jvm"
SRC_DIR = JVM_DIR / "src"
JAR_NAME = "cerebro-localfs.jar"
HASH_ENTRY = "META-INF/cerebro-localfs.sha256"
CLASSES = (
    "NioRawLocalFileSystem",
    "NioLocalFileSystem",
    "NioRawLocalFs",
    "NioLocalFs",
)
# a fixed entry time keeps the jar's bytes a function of the class files
_EPOCH = (1980, 1, 1, 0, 0, 0)


def sources() -> list[Path]:
    return sorted(SRC_DIR.rglob("*.java"))


def source_hash() -> str:
    """SHA-256 over every source's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for src in sources():
        h.update(src.relative_to(SRC_DIR).as_posix().encode() + b"\0")
        h.update(src.read_bytes() + b"\0")
    return h.hexdigest()


def recorded_hash(jar: Path = JVM_DIR / JAR_NAME) -> str | None:
    """The source hash the jar was built from, or None without a jar."""
    if not jar.exists():
        return None
    with zipfile.ZipFile(jar) as zf:
        return zf.read(HASH_ENTRY).decode().strip()


def _hadoop_api_jar() -> str:
    import pyspark

    jars = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar")
    )
    if not jars:
        raise SystemExit("no hadoop-client-api jar in the installed pyspark")
    return jars[0]


def build() -> Path:
    jar = JVM_DIR / JAR_NAME
    with tempfile.TemporaryDirectory() as out:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", _hadoop_api_jar(),
             "-d", out, *map(str, sources())],
            check=True,
        )
        classes = sorted(Path(out).rglob("*.class"))
        tmp = jar.with_suffix(".tmp")
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            entries = [("META-INF/MANIFEST.MF", b"Manifest-Version: 1.0\r\n\r\n"),
                       (HASH_ENTRY, (source_hash() + "\n").encode())]
            entries += [(c.relative_to(out).as_posix(), c.read_bytes()) for c in classes]
            for name, data in entries:
                zf.writestr(zipfile.ZipInfo(name, _EPOCH), data, zipfile.ZIP_DEFLATED)
        shutil.move(tmp, jar)
    return jar


def check() -> list[str]:
    """Problems with the committed jar; empty when it matches the sources."""
    jar = JVM_DIR / JAR_NAME
    recorded = recorded_hash(jar)
    if recorded is None:
        return [f"{jar} is missing"]
    problems = []
    current = source_hash()
    if recorded != current:
        problems.append(
            f"{jar.name} was built from sources {recorded[:12]}, the tree has "
            f"{current[:12]}: run python tools/build_localfs.py"
        )
    with zipfile.ZipFile(jar) as zf:
        names = set(zf.namelist())
    problems += [f"{jar.name} lacks cerebro/fs/{c}.class" for c in CLASSES
                 if f"cerebro/fs/{c}.class" not in names]
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--check", action="store_true",
                    help="verify the committed jar instead of rebuilding it")
    args = ap.parse_args()
    if args.check:
        problems = check()
        for p in problems:
            print(p)
        print("localfs jar STALE" if problems else "localfs jar up to date")
        return 1 if problems else 0
    print(f"wrote {build().relative_to(ROOT)} ({source_hash()[:12]})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
