"""Spread of the benchmark's end-to-end metrics over several seeds.

    python3 perfbench/steadiness.py --workload sql_star --seeds 1-10

Run from the repository root. Runs ``run.py`` once per seed, one after
another, and prints for every metric its median and the distance between
the first and third quartile as a share of the median (the figure each
metric's ``bound`` in BENCHMARK.json is checked against). Each run's
line also shows the share of CPU time the hypervisor stole from this
machine while it ran, so a slow run on a busy host stands out. Each run's
result line is appended to ``.perfbench/steadiness-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of this machine so far, from /proc/stat;
    (0, 0) where it is not readable."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(fields), fields[7] if len(fields) > 7 else 0


def parse_seeds(text: str) -> list[int]:
    """'1-3,7' -> [1, 2, 3, 7]"""
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(".perfbench", exist_ok=True)
    log = os.path.join(".perfbench", f"steadiness-{args.workload}.jsonl")
    values: dict[str, list[float]] = {}
    for seed in parse_seeds(args.seeds):
        t0 = time.monotonic()
        ticks0 = cpu_ticks()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)],
            capture_output=True, text=True,
        )
        wall = time.monotonic() - t0
        total, steal = (b - a for a, b in zip(ticks0, cpu_ticks()))
        steal_share = steal / total if total else 0.0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, "steal": steal_share,
                                 **result}) + "\n")
        shown = {k: round(v["value"], 3) for k, v in result["metrics"].items()}
        print(f"seed {seed}: {wall:.0f} s, steal {steal_share:.3f}, "
              f"correct={result['correct']} {shown}", flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vals in values.items():
        if len(vals) >= 2 and statistics.median(vals):
            print(f"{k:28s} median {statistics.median(vals):10.4f}  "
                  f"iqr/median {stats.iqr_share(vals):.3f}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
