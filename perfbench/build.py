#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's main sources and the
benchmark's own sources with the Scala compiler that ships in the Spark
distribution, against the Spark jars, into .bench_build/perfbench/classes.

No sbt and no network: the only inputs are the checkout and the Spark jars,
$SPARK_HOME/jars or else the directory build.sbt names in `unmanagedBase`.
A stamp over every source file's bytes skips the compile when nothing
changed.

    python3 perfbench/build.py
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
OUT = ROOT / ".bench_build" / "perfbench"
CLASSES = OUT / "classes"
SCALA = "2.13.17"


def spark_jars() -> Path:
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if m is None:
            raise SystemExit("perfbench: set SPARK_HOME; build.sbt names no Spark jars")
        jars = Path(m.group(1))
    if not (jars / f"scala-compiler-{SCALA}.jar").is_file():
        raise SystemExit(f"perfbench: no scala-compiler-{SCALA}.jar under {jars}")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not (engine / "graft").is_dir():
        raise SystemExit(f"perfbench: engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala"))
    files += sorted((BENCH / "src").rglob("*.scala"))
    files += sorted((BENCH / "test").rglob("*.scala"))
    return files


def classpath(jars: Path) -> str:
    return os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))


def build() -> Path:
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = OUT / "stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return CLASSES
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compiler = os.pathsep.join(
        str(jars / f"scala-{n}-{SCALA}.jar") for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", classpath(jars),
           f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(h.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
