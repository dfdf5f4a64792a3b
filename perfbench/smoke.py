"""Smoke check of the benchmark's plumbing at the 0.001 scale.

Runs every workload in BENCHMARK.json with tiny inputs, untraced and
traced, and checks that each run is correct and prints exactly the
metrics BENCHMARK.json names for that mode, each with its unit.

    python3 perfbench/smoke.py
"""
import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bad = 0
    for w in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            r = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w["name"], "--seed", "1",
                 "--seconds", "1", "--trace", str(trace), "--smoke"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = r.stdout.strip().splitlines()
            try:
                out = json.loads(lines[-1])
            except (IndexError, ValueError):
                out = {}
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
            problems = []
            if r.returncode != 0 or not out.get("correct"):
                problems.append(f"exit {r.returncode}, correct={out.get('correct')}: "
                                f"{r.stderr.strip()[-500:]}")
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units "
                                f"{sorted(k for k in want if k in got and got[k] != want[k])}")
            values = [v.get("value") for v in out.get("metrics", {}).values()]
            if not all(isinstance(v, (int, float)) and math.isfinite(v) for v in values):
                problems.append("a metric value is not a finite number")
            print(f"{'FAIL' if problems else 'ok  '} {w['name']} trace={trace}"
                  + "".join(f"\n     {p}" for p in problems))
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
