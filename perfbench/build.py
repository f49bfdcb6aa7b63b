#!/usr/bin/env python3
"""Build the benchmark: compile the engine sources (src/main) together with
the benchmark's own sources (perfbench/src) into .bench_build/classes.

The compiler is the scala-compiler jar that ships with Spark, and the
classpath is Spark's jar directory: $SPARK_HOME/jars if SPARK_HOME is set,
else the `unmanagedBase` the sbt build names. A build is skipped when the
sources hash to the stamp of the last build.

    python3 perfbench/build.py          # build if needed, print the class dir
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = Path(m.group(1))
    if not any(jars.glob("spark-core_*.jar")):
        raise BuildError(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else shutil.which("java")
    if not exe:
        raise BuildError("no java on PATH (set JAVA_HOME)")
    return str(exe)


def source_dirs():
    engine = ROOT / "src" / "main"
    if not (engine / "scala").is_dir():
        raise BuildError(f"engine sources not found at {engine / 'scala'}")
    return [engine / "scala", HERE / "src"], engine / "resources"


def _files(dirs, suffix=None):
    out = []
    for d in dirs:
        if d.is_dir():
            out += sorted(p for p in d.rglob("*") if p.is_file() and (suffix is None or p.suffix == suffix))
    return out


def ensure_built():
    """Compile if the sources changed since the last build; return the class dir."""
    src_dirs, resources = source_dirs()
    jars = spark_jars()
    sources = _files(src_dirs, ".scala")
    res = _files([resources])
    h = hashlib.sha256()
    for p in sources + res:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    digest = h.hexdigest()
    classes = BUILD / "classes"
    stamp = BUILD / "classes.stamp"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", f"{jars}/*", f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-8000:])
    for p in res:
        dest = classes / p.relative_to(resources)
        dest.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dest)
    stamp.write_text(digest)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
