#!/usr/bin/env python3
"""Run the benchmark once per seed and collect the results in one file.

    python3 perfbench/sweep.py --workload star_sql --seeds 1-10 \
        --seconds 10 --trace 0 --out perfbench/.work/set_a.jsonl

Each line of the output holds the workload, seed, trace flag, the box-speed
probes, the run's final result object and, for traced runs, the end-to-end
figures printed beside it; perfbench/compare.py reads it.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--seconds", required=True)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    for seed in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", a.seconds, "--trace", a.trace],
            cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            continue
        def tagged(tag):
            return next((json.loads(ln[len(tag) + 1:]) for ln in lines
                         if ln.startswith(tag + " ")), None)
        rec = {"workload": a.workload, "seed": seed, "trace": int(a.trace),
               "box_speed": tagged("box_speed"), "end_to_end": tagged("end_to_end"),
               "result": json.loads(lines[-1])}
        with open(a.out, "a") as f:
            f.write(json.dumps(rec) + "\n")
        m = rec["result"]["metrics"]
        print(f"seed {seed}: correct={rec['result']['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in m.items()), flush=True)


if __name__ == "__main__":
    main()
