#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload osrs_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --digests 0-31 > perfbench/gold_digests.tsv

Builds the engine and the benchmark first when their sources changed (see
build.py), then starts one JVM on local[nproc]. With --trace 0 the result
holds the end-to-end metrics, with --trace 1 the per-layer ones. The exit
code is non-zero when an operation or a correctness check failed.
--digests prints the reference gold digests of osrs_refresh for a seed range;
run it only on an engine whose reports are known to be right.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("osrs_refresh", "osrs_backfill", "corpus_ingest")
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(classes: Path, work: Path, main: str, args: list) -> list:
    cp = os.pathsep.join([str(classes), build.classpath(build.spark_jars())])
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
            + opens + ["-cp", cp, main] + args)


def run(cmd: list, timeout: float) -> tuple:
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise SystemExit(f"perfbench: run exceeded {timeout} s")
    return p.returncode, out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--digests", metavar="FIRST-LAST")
    a = ap.parse_args()
    if not (a.selftest or a.digests) and a.workload is None:
        ap.error("--workload is required")

    classes = build.build()
    work = build.OUT / "run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        if a.selftest:
            code, out = run(java_cmd(classes, work, "perfbench.Specs", []), RUN_TIMEOUT_S)
            print(out, end="")
            return code
        if a.digests:
            code, out = run(java_cmd(classes, work, "perfbench.Main", [
                "--digests", a.digests, "--work", str(work)]), None)
            print(out, end="")
            return code
        code, out = run(java_cmd(classes, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--refs", str(build.BENCH / "gold_digests.tsv")]), RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in out.splitlines() if line.strip()]
    if not lines:
        print("perfbench: no output from the run", file=sys.stderr)
        return code or 1
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print("perfbench: malformed result line", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    if code == 0 and not result["correct"]:
        code = 1
    return code


if __name__ == "__main__":
    sys.exit(main())
