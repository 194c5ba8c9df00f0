"""Build file of the benchmark: compiles the library's main sources and
the benchmark's own Scala sources into one class directory with the
Scala compiler that ships in Spark's jars directory. No sbt is involved,
so the measured JVM starts from this directory plus Spark's jars.

The output is cached under the build directory and keyed on a hash of
every source file, so a run only compiles when a source changed.
"""

import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


def sources():
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise SystemExit(f"perfbench: no library sources under {lib}")
    own = BENCH_DIR / "src"
    return sorted(lib.rglob("*.scala")) + sorted(own.rglob("*.scala"))


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(build_dir: Path, spark_jars: Path):
    """Returns (class directory, source hash), compiling if needed."""
    files = sources()
    key = source_hash(files)
    build_dir = build_dir.resolve()
    classes = build_dir / "classes"
    stamp = build_dir / "classes.stamp"
    build_dir.mkdir(parents=True, exist_ok=True)
    with open(build_dir / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if stamp.exists() and stamp.read_text() == key and classes.is_dir():
            return classes, key
        tmp = build_dir / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = build_dir / "sources.txt"
        argfile.write_text("".join(f'"{f}"\n' for f in files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{spark_jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(tmp), f"@{argfile}"]
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
        done = subprocess.run(cmd, cwd=build_dir, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
        if done.returncode != 0:
            sys.stderr.write(done.stdout[-20000:])
            raise SystemExit("perfbench: compilation failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        stamp.write_text(key)
        return classes, key
