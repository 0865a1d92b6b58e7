"""Run-to-run spread of the benchmark: one fresh run per seed, then, per
end-to-end metric, the median, the quartiles and (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload agent_qa --seeds 1-10

Runs are sequential, from the repository root, with ``run_seconds`` from
BENCHMARK.json. Prints each run's metrics and record, then a JSON summary.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import quartile_spread  # noqa: E402


def seed_list(spec: str) -> list[int]:
    """``"1-5"`` or ``"1,4,9"``."""
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seed_list)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)

    values: dict[str, list[float]] = {}
    runs = []
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [
                *bench["command"],
                "--workload", args.workload,
                "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]),
                "--trace", "0",
            ],
            cwd=ROOT,
            capture_output=True,
            text=True,
            check=True,
        )
        wall = time.perf_counter() - t0
        record_line, result_line = proc.stdout.strip().splitlines()[-2:]
        result = json.loads(result_line)
        runs.append({"seed": seed, "wall_s": wall, **result})
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(
            json.dumps({"seed": seed, "wall_s": round(wall, 1), "correct": result["correct"],
                        **{k: round(v["value"], 4) for k, v in result["metrics"].items()}}),
            flush=True,
        )
        print(record_line, flush=True)

    summary = {}
    for name, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        summary[name] = {
            "median": statistics.median(vs),
            "q1": q1,
            "q3": q3,
            "spread": quartile_spread(vs),
            "n": len(vs),
        }
    print(json.dumps({"workload": args.workload, "wall_s_max": max(r["wall_s"] for r in runs),
                      "all_correct": all(r["correct"] for r in runs), "metrics": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
