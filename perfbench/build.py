"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with scalac, straight from the Spark jars the
program's build.sbt also compiles against. No sbt is involved, so a build
reads and writes nothing outside the repository checkout.

    python3 perfbench/build.py      # from the repository root

Output goes to .bench_build/classes/{main,perfbench}. A stamp of every source
file's path and content skips the build when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SPARK_JARS = "/opt/spark/jars"
BUILD_DIR = Path(".bench_build")
MAIN_SRC = Path("src/main/scala")
BENCH_SRC = Path("perfbench/src")


def classpath(*dirs):
    return os.pathsep.join([str(d) for d in dirs] + [f"{SPARK_JARS}/*"])


def sources(root):
    return sorted(p for p in root.rglob("*.scala") if p.is_file())


def scalac(out, files, *extra_classpath):
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{SPARK_JARS}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", classpath(*extra_classpath)]
    subprocess.run(cmd + [str(f) for f in files], check=True, stdout=sys.stderr)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)


def build():
    """Compiles when a source changed; returns the runtime classpath."""
    if not MAIN_SRC.is_dir() or not BENCH_SRC.is_dir():
        raise SystemExit(f"build: run from the repository root ({MAIN_SRC} and {BENCH_SRC} must exist)")
    main_files = sources(MAIN_SRC)
    bench_files = sources(BENCH_SRC)
    digest = hashlib.sha256()
    for f in main_files + bench_files:
        digest.update(str(f).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = BUILD_DIR / "stamp"
    main_out = BUILD_DIR / "classes" / "main"
    bench_out = BUILD_DIR / "classes" / "perfbench"
    if not (stamp.is_file() and stamp.read_text() == digest.hexdigest()):
        stamp.unlink(missing_ok=True)
        print(f"build: compiling {len(main_files)} program and {len(bench_files)} benchmark sources",
              file=sys.stderr)
        scalac(main_out, main_files)
        scalac(bench_out, bench_files, main_out)
        stamp.write_text(digest.hexdigest())
    return classpath(bench_out.resolve(), main_out.resolve())


if __name__ == "__main__":
    build()
