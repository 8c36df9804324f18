#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs (`--scale smoke`: sf0.001
tables, a few dozen event files).

    python3 perfbench/smoke.py

Runs every workload untraced and traced, and asserts that each run passes
its result check and emits exactly the metrics BENCHMARK.json names, each
with its unit: the end-to-end metrics untraced, the per-layer ones traced.
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
              "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in spec["workloads"]:
        for trace in ("0", "1"):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "7", "--seconds", "2",
                                     "--trace", trace, "--scale", "smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = proc.stdout.splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: result check failed ({res['failed']}/{res['attempted']})")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != wanted[trace]:
                missing = sorted(set(wanted[trace]) - set(got))
                extra = sorted(set(got) - set(wanted[trace]))
                units = sorted(k for k in got if k in wanted[trace] and got[k] != wanted[trace][k])
                problems.append(f"{tag}: missing {missing}, unexpected {extra}, wrong unit {units}")
            print(f"{tag}: ok" if not problems or not problems[-1].startswith(tag) else problems[-1])
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
