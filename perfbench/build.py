#!/usr/bin/env python3
"""Compile the engine (src/main/scala) and the benchmark harness
(perfbench/src) into .bench_build/classes with the Scala compiler that
ships in Spark's jars directory.

Usage: python3 perfbench/build.py   (from the root of a checkout)

A stamp over the source bytes skips the compile when nothing changed.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = pathlib.Path(shutil.which("spark-submit")).resolve().parent.parent
    jars = pathlib.Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no scala-compiler jar under {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return str(pathlib.Path(home) / "bin" / "java") if home else "java"


def sources():
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"build: engine sources not found at {engine}")
    return sorted(engine.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def ensure():
    """Return the classpath entries of the built program."""
    jars = spark_jars()
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update(" ".join(sorted(j.name for j in jars.glob("scala-*.jar"))).encode())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if not (stamp_file.is_file() and stamp_file.read_text() == stamp and classes.is_dir()):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
        cp = f"{jars}/*"
        cmd = [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
        rc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode
        if rc != 0:
            raise SystemExit(f"build: scalac exited {rc}")
        stamp_file.write_text(stamp)
    return [str(classes), str(resources), f"{jars}/*"]


if __name__ == "__main__":
    print(os.pathsep.join(ensure()))
