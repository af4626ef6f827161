"""Run a workload on several seeds and report each metric's median and
quartile spread ((Q3 - Q1) / median), the steadiness test the bounds in
BENCHMARK.json are held to.

    python3 perfbench/spread.py --workload serve --seeds 1-10 [--trace 1]

Runs are sequential, from the checkout root. Prints one JSON line per
run as it finishes, then a summary line.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

from stats import median, quartile_spread

HERE = os.path.dirname(os.path.abspath(__file__))


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in seed_range(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]),
                                  "--trace", str(args.trace)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, capture_output=True, text=True,
                              cwd=os.path.dirname(HERE))
        walls.append(time.monotonic() - t0)
        lines = proc.stdout.strip().splitlines() or ["{}"]
        result = json.loads(lines[-1])
        detail = json.loads(lines[-2]).get("detail", {}) if len(lines) > 1 else {}
        print(json.dumps({"seed": seed, "rc": proc.returncode,
                          "wall_s": round(walls[-1], 1),
                          "cpu_steal_pct": detail.get("cpu_steal_pct"), **result}),
              flush=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            return 1
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for name, xs in values.items():
        entry = {"median": median(xs)}
        if len(xs) >= 2:
            entry["spread"] = round(quartile_spread(xs), 4)
        if name in bounds:
            entry["bound"] = bounds[name]
        summary[name] = entry
    print(json.dumps({"workload": args.workload, "runs": len(walls),
                      "max_wall_s": round(max(walls), 1), "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
