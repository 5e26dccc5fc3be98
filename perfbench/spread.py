"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload cold_pipeline --seeds 1-10

Runs the benchmark once per seed, one run at a time, for the
``run_seconds`` that ``BENCHMARK.json`` gives, and prints for each
metric its median and the distance between the first and third quartile
(``statistics.quantiles(values, n=4)``) as a share of the median, next to
the bound ``BENCHMARK.json`` allows. Per-run results, with the lines the
run printed before its result, go to ``--out`` as JSON lines.
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


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--out", default=os.path.join(ROOT, ".perfbench_work", "spread.jsonl"))
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seed_range(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return proc.returncode
        *info, last = proc.stdout.strip().splitlines()
        result = json.loads(last)
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                                **result, "info": info}) + "\n")
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
    for k, vs in values.items():
        med = statistics.median(vs)
        line = f"{k}: median {med:.4g} over {len(vs)} runs"
        if len(vs) >= 2:
            q1, _, q3 = statistics.quantiles(vs, n=4)
            line += f", IQR/median {(q3 - q1) / med:.3f} (bound {bounds.get(k)})"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
