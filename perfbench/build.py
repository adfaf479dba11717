#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) with scalac,
against the Spark jars build.sbt compiles against (or $SPARK_HOME/jars).

Usage: python3 perfbench/build.py     (prints the classes directory)

The output lands in perfbench/.work/build/<source hash>/classes and is
reused while no source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / ".work" / "build"


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the unmanagedBase build.sbt compiles against."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME (build.sbt names no unmanagedBase)")
    return Path(m.group(1))


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not (ROOT / "build.sbt").is_file() or not main.is_dir():
        raise SystemExit(f"perfbench: no program sources under {ROOT} (build.sbt, src/main/scala)")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").glob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources found")
    return files


def ensure() -> Path:
    """Classes directory for the current sources, compiling if needed."""
    files = sources()
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars} (set SPARK_HOME)")
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = BUILD / h.hexdigest()[:16]
    classes = out / "classes"
    if (out / "ok").is_file():
        return classes
    if BUILD.is_dir():
        shutil.rmtree(BUILD)
    tmp = out / "classes.tmp"
    tmp.mkdir(parents=True)
    (out / "tmp").mkdir()
    cp = str(jars / "*")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp]
    cmd += [str(f) for f in files]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    tmp.rename(classes)
    (out / "ok").write_text("\n".join(str(f.relative_to(ROOT)) for f in files) + "\n")
    return classes


if __name__ == "__main__":
    print(ensure())
