#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's harness (perfbench/src) into one class directory, and copies
the program's resources (src/main/resources) beside the classes.

    python3 perfbench/build.py

It uses the Scala compiler and the jars of the Spark installation named
by SPARK_HOME (or the one whose `spark-submit` is on PATH), so it needs
no build tool and writes only under the build directory: $CARGO_TARGET_DIR
if set, else .bench_build, both taken relative to the repository root.
A stamp of the sources' hash skips the compile when nothing changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
RESOURCES = ROOT / "src" / "main" / "resources"


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among the Spark jars in {jars}")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    srcs = sorted(p for d in SOURCE_DIRS if d.is_dir() for p in d.rglob("*.scala"))
    if not any(p.is_relative_to(SOURCE_DIRS[0]) for p in srcs):
        sys.exit(f"perfbench: no program sources under {SOURCE_DIRS[0]}")
    return srcs


def build() -> Path:
    """Compiles if the sources changed; returns the class directory."""
    srcs = sources()
    resources = sorted(p for p in RESOURCES.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in srcs + resources:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = build_dir()
    classes, stamp = out / "classes", out / "classes.stamp"
    if stamp.is_file() and stamp.read_text() == h.hexdigest() and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("".join(f'"{p}"\n' for p in srcs))
    cp = str(spark_jars() / "*")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compile failed ({r.returncode})")
    for p in resources:
        dst = classes / p.relative_to(RESOURCES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    stamp.write_text(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
