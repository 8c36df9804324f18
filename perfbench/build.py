#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`) together with the benchmark's own (`perfbench/src`)
into `.bench_build/perfbench/classes-<digest>`, with the Scala compiler
and Spark jars of the local Spark installation (`$SPARK_HOME/jars`, or
the installation `spark-submit` on the PATH belongs to). A build is reused
while no source changed.

    python3 perfbench/build.py      # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars() -> Path:
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if any((home / "jars").glob("scala-compiler-*.jar")):
            return home / "jars"
    raise SystemExit("perfbench: no Spark installation with a Scala compiler in its jars; set SPARK_HOME")


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise SystemExit(f"perfbench: engine sources not found at {engine}")
    found = sorted(engine.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not found:
        raise SystemExit("perfbench: no sources to build")
    return found


def build() -> Path:
    """Returns the classes directory, compiling it first if needed."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    for j in sorted(jars.glob("*.jar")):
        digest.update(j.name.encode())
    classes = OUT / f"classes-{digest.hexdigest()[:16]}"
    if (classes / ".complete").exists():
        return classes
    OUT.mkdir(parents=True, exist_ok=True)
    tmp = OUT / f"building-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cp = f"{jars}/*"
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", cp]
    proc = subprocess.run(cmd + [str(p) for p in srcs], stdout=sys.stderr, stderr=sys.stderr)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({proc.returncode})")
    (tmp / ".complete").touch()
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    return classes


if __name__ == "__main__":
    print(build())
