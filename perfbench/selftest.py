"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all) it runs ``run.py --size tiny`` three times
and checks that:
  * ``--trace 0`` prints every end-to-end metric of BENCHMARK.json, with its
    unit, and a correct verdict with nothing failed;
  * ``--trace 1`` prints every per-layer metric;
  * ``--corrupt-oracle`` (the oracle's input perturbed) fails the
    correctness gate.
Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def run(workload: str, *extra: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "3",
           "--seconds", "1", "--size", "tiny", *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(workload: str, spec: dict) -> list[str]:
    errors = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = run(workload, "--trace", str(trace))
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        if got != want:
            errors.append(f"{workload} trace={trace}: metrics differ: missing {sorted(set(want) - set(got))}, "
                          f"extra {sorted(set(got) - set(want))}")
        if not (out["correct"] and out["failed"] == 0 and out["attempted"] >= 1):
            errors.append(f"{workload} trace={trace}: verdict {out['correct']} failed {out['failed']}")
    bad = run(workload, "--corrupt-oracle")
    if bad["correct"] or bad["failed"] == 0:
        errors.append(f"{workload}: a corrupted oracle input passed the correctness gate")
    return errors


def main(argv: list[str]) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = argv or [w["name"] for w in spec["workloads"]]
    errors = []
    for name in names:
        errs = check(name, spec)
        print(f"selftest {name}: {'ok' if not errs else 'FAILED'}", flush=True)
        errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
