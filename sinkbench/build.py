#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (sinkbench/src) from source into .bench_build/sinkbench/classes.

Uses the Scala compiler that ships in the Spark jars directory, so no build
tool or network is needed. Skips the compile when no source changed.

Usage (from the repository root): python3 sinkbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SCALA = "2.13.17"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars dir beside the first `bin/` on PATH
    that holds spark-submit and has one."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if home and (Path(home) / "jars").is_dir():
            return Path(home) / "jars"
    raise BuildError("no Spark jars found: set SPARK_HOME")


def sources(root: Path) -> list[Path]:
    dirs = [root / "src" / "main" / "scala", root / "sinkbench" / "src"]
    missing = [str(d) for d in dirs if not d.is_dir()]
    if missing:
        raise BuildError(f"source directories not found: {missing}")
    return sorted(p for d in dirs for p in d.rglob("*.scala"))


def fingerprint(srcs: list[Path]) -> str:
    h = hashlib.sha256(SCALA.encode())
    for p in srcs:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return str(spark_jars() / "*")


def build(root: Path) -> Path:
    """Returns the classes directory, compiling first if sources changed."""
    srcs = sources(root)
    out = root / ".bench_build" / "sinkbench"
    classes, stamp = out / "classes", out / "stamp"
    fp = fingerprint(srcs)
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == fp:
        return classes
    jars = spark_jars()
    compiler = [str(jars / f"scala-{j}-{SCALA}.jar") for j in ("compiler", "library", "reflect")]
    if not all(Path(j).is_file() for j in compiler):
        raise BuildError(f"Scala {SCALA} compiler jars not found in {jars}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp:false", "-classpath", classpath(), "-d", str(tmp), f"@{argfile}"]
    print(f"[sinkbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(fp)
    return classes


if __name__ == "__main__":
    try:
        print(build(Path.cwd()))
    except BuildError as e:
        print(f"[sinkbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
