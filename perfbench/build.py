#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's runner (perfbench/src) with the Scala compiler that ships with
the Spark jars the repository's build.sbt names, into <build dir>/classes.

Usage: python3 perfbench/build.py [build dir]

The build dir defaults to $CARGO_TARGET_DIR, else .bench_build, under the
checkout. A build is skipped when the sources are unchanged since the last
one (a fingerprint of every source file is kept next to the classes).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spark_jars() -> Path:
    """The jar directory the repository's sbt build compiles against (its
    `unmanagedBase`); it holds Spark and the Scala compiler."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def sources() -> list:
    files = []
    for base in (ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"):
        files += sorted(base.rglob("*.scala"))
    return files


def fingerprint(files) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return f"{spark_jars()}/*"


def build(out: Path = None) -> Path:
    """Compiles if needed and returns the classes directory."""
    out = out or build_dir()
    classes = out / "classes"
    files = sources()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not files:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    stamp = fingerprint(files)
    stamp_file = out / "classes.sha256"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath(), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", classpath()] + [str(f) for f in files]
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    print(build(Path(sys.argv[1]) if len(sys.argv) > 1 else None))
