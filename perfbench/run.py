#!/usr/bin/env python3
"""Runs one benchmark workload against the engine and prints its result.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/workloads.json): `batch` and `stream`. The engine is built from the checkout's sources on first use
(perfbench/build.py). One JVM runs the workload; its scratch files live
under `.bench_build/perfbench/work/` and are removed when it exits. With
`--trace 1` the span log goes to `.bench_build/perfbench/traces/`.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; the line before it,
prefixed `perfbench `, carries the seed, the error rate and the
workload's own figures. Exits non-zero when a result check failed, and
without a result when the run could not complete.

Options besides the four above: `--scale smoke` (tiny inputs, used by
perfbench/smoke.py) and `--record-golden FILE` (write each query's
fingerprint instead of checking it, to refresh perfbench/golden.json).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_result(lines):
    if not lines:
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["batch", "stream"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--scale", default="bench", choices=["bench", "smoke"])
    ap.add_argument("--record-golden")
    a = ap.parse_args()

    classes = build.build()
    jars = build.spark_jars()
    work = build.OUT / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed, pre-touched heap: without it peak RSS follows the
    # collector's heap sizing (a quarter of the median apart between runs),
    # with it peak RSS moves with native memory only
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss16m", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--scale", a.scale, "--work", str(work),
            "--config", str(HERE / "workloads.json"), "--golden", str(HERE / "golden.json")]
    if a.trace == "1":
        cmd += ["--trace-out", str(build.OUT / "traces" / f"{a.workload}-seed{a.seed}.jsonl")]
    if a.record_golden:
        cmd += ["--record-golden", str(Path(a.record_golden).resolve())]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        print(f"perfbench: {a.workload} did not finish within {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    res = parse_result(lines)
    if proc.returncode != 0 or res is None:
        sys.stderr.write(out)
        print(f"perfbench: {a.workload} exited {proc.returncode} without a result", file=sys.stderr)
        return 2
    for line in lines:
        print(line)
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
