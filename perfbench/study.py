"""Noise study: run a workload once per seed, each in a fresh process, and
summarise every end-to-end metric.

    python3 perfbench/study.py --workload corpus --seeds 101-110 --out study.json

``--repeat 3`` runs each seed three times, which separates run-to-run noise
from the spread that different inputs add.

For each metric it prints the median, the quartiles and the spread
(Q3 - Q1) / median, with the quartiles of ``statistics.quantiles(n=4)``, next
to the metric's bound in ``BENCHMARK.json``. Given ``--compare`` (an earlier
``--out`` file) it also prints how far this set's median moved from that
set's, as a share of that set's median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.stats import quartile_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall_s = time.perf_counter() - t
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}: {out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    return {
        "seed": seed,
        "wall_s": wall_s,
        "host": json.loads(lines[-3]),
        "report": json.loads(lines[-2]),
        "result": json.loads(lines[-1]),
    }


def summarise(runs: list[dict]) -> dict[str, dict]:
    values: dict[str, list[float]] = {}
    for r in runs:
        for k, m in r["result"]["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    out = {}
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        out[k] = {"median": med, "q1": q1, "q3": q3, "spread": quartile_spread(v) if med else 0.0}
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, required=True)
    p.add_argument("--repeat", type=int, default=1, help="runs per seed")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--out")
    p.add_argument("--compare")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = [
        run_once(args.workload, s, bench["run_seconds"], args.trace)
        for s in args.seeds
        for _ in range(args.repeat)
    ]
    summary = summarise(runs)
    walls = [r["wall_s"] for r in runs]
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    base = None
    if args.compare:
        with open(args.compare) as f:
            base = json.load(f)["summary"]
    for k, s in summary.items():
        line = (f"{k:24s} median {s['median']:.4g}  q1 {s['q1']:.4g}  q3 {s['q3']:.4g}"
                f"  spread {s['spread']:.3f}  bound {bounds.get(k)}")
        if base and k in base:
            line += f"  moved {(s['median'] - base[k]['median']) / base[k]['median']:+.3f}"
        print(line)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
