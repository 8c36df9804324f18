#!/usr/bin/env python3
"""Refreshes perfbench/golden.json, the expected result fingerprint of every
batch query in the mixes, at both scales.

    python3 perfbench/golden.py

The batch workload runs twice per scale, with different seeds and so
different query orders, recording every query's fingerprint on every
pass. A query whose fingerprint differs between passes or runs is not
bit-stable: it is reported and left out of golden.json, and the check
then fails on it until it is removed from the mix in workloads.json
(listed there under `excluded_unstable`).
"""
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
SEEDS = (11, 12)


def record(workload: str, scale: str, seed: int) -> dict:
    with tempfile.NamedTemporaryFile("r", suffix=".tsv", dir=HERE.parent / ".bench_build") as f:
        subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", "1", "--scale", scale,
                        "--record-golden", f.name], check=True, stdout=subprocess.DEVNULL)
        seen = {}
        for line in f.read().splitlines():
            name, fp = line.split("\t")
            seen.setdefault(name, set()).add(fp)
        return seen


def main() -> int:
    (HERE.parent / ".bench_build").mkdir(exist_ok=True)
    golden, unstable = {}, set()
    for scale in ("bench", "smoke"):
        merged = {}
        for seed in SEEDS:
            for name, fps in record("batch", scale, seed).items():
                merged.setdefault(name, set()).update(fps)
        golden[scale] = {n: next(iter(f)) for n, f in sorted(merged.items()) if len(f) == 1}
        unstable |= {n for n, f in merged.items() if len(f) > 1}
    (HERE / "golden.json").write_text(json.dumps(golden, indent=2) + "\n")
    if unstable:
        print("not bit-stable, remove from the mixes:", " ".join(sorted(unstable)))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
