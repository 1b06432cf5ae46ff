#!/usr/bin/env python3
"""Builds the benchmark: compiles the repository's main Scala sources
together with perfbench/src into .bench_build/perfbench/classes, using the
Scala compiler that ships among Spark's jars. No sbt and no network; the
root build is not involved. Rebuilds only when a source file changed.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


class BuildError(Exception):
    pass


def spark_jars():
    """`$SPARK_HOME/jars`, else the jars of a Spark install whose
    `bin/spark-submit` is on PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        p = Path(home) / "jars"
        if list(p.glob("scala-compiler-*.jar")) and list(p.glob("spark-sql_*.jar")):
            return p
    raise BuildError("no Spark jars with a Scala compiler (set SPARK_HOME)")


def sources(root):
    main = root / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"{main} is missing: run from a full checkout")
    files = sorted(main.rglob("*.scala")) + sorted((root / "perfbench" / "src").rglob("*.scala"))
    resources = sorted(p for p in (root / "src" / "main" / "resources").rglob("*") if p.is_file())
    return files, resources


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root=ROOT, log=sys.stderr):
    """Returns the runtime classpath, compiling first if needed."""
    jars = spark_jars()
    files, resources = sources(root)
    out = root / ".bench_build" / "perfbench"
    classes = out / "classes"
    stamp = out / "stamp"
    cp = f"{classes}:{jars}/*"
    want = digest(root, files + resources)
    if stamp.exists() and stamp.read_text() == want:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
    proc = subprocess.run(
        ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-usejavacp", "-nowarn", "-d", str(classes), f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    base = root / "src" / "main" / "resources"
    for r in resources:
        dst = classes / r.relative_to(base)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    stamp.write_text(want)
    return cp


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
