#!/usr/bin/env python3
"""Compare sets of benchmark runs, as collected by perfbench/sweep.py.

    python3 perfbench/compare.py A.jsonl            # spread of one set
    python3 perfbench/compare.py A.jsonl B.jsonl    # B against A

For each workload and each end-to-end metric of BENCHMARK.json it prints
the median and quartiles of each set, and the spread (quartile distance
over the median) against the metric's bound. Given two sets it also prints
the pairwise wins (over all pairs of one run of A and one of B, how often
B is better, worse or equal) and whether B's median stays within the
bound of A's. The box-speed probes of both sets are shown beside them,
with their relative change, so that drift of the machine between the sets
shows: when the probes moved, the time metrics moved with them.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    sets = {}
    for ln in open(path):
        if ln.strip():
            r = json.loads(ln)
            sets.setdefault(r["workload"], []).append(r)
    return sets


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, name):
    return [r["result"]["metrics"][name]["value"] for r in runs
            if name in r["result"]["metrics"]]


def failed_share(runs):
    att = sum(r["result"]["attempted"] for r in runs)
    return sum(r["result"]["failed"] for r in runs) / att if att else 0.0


PROBES = ("cpu_probe_start_s", "cpu_probe_end_s", "shuffle_probe_start_s", "shuffle_probe_end_s")


def probes(runs):
    """Median of each box-speed probe over the set."""
    xs = [[r["box_speed"][k] for r in runs if r.get("box_speed")] for k in PROBES]
    return tuple(statistics.median(x) if x else float("nan") for x in xs)


def main(argv):
    bench = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    metrics = bench["end_to_end"]
    a = load(argv[1])
    b = load(argv[2]) if len(argv) > 2 else None
    for w in sorted(a):
        ra, rb = a[w], (b or {}).get(w)
        print(f"== {w}: {len(ra)} runs" + (f" vs {len(rb)} runs" if rb else ""))
        print(f"   correct {all(r['result']['correct'] for r in ra)}"
              f"  failed share {failed_share(ra):.6f}"
              + (f" vs {failed_share(rb):.6f}" if rb else ""))
        fmt = "cpu probe {:.3f} / {:.3f} s, shuffle probe {:.3f} / {:.3f} s (start / end)"
        pa = probes(ra)
        print("   box speed: " + fmt.format(*pa))
        if rb:
            pb = probes(rb)
            drift = " ".join(f"{(y - x) / x:+.2f}" for x, y in zip(pa, pb))
            print("   {:11s}".format("vs") + fmt.format(*pb) + f"; change {drift}")
        for m in metrics:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            xa = values(ra, name)
            if not xa:
                continue
            q1, med, q3 = quartiles(xa)
            spread = (q3 - q1) / med if med else float("inf")
            line = (f"   {name:22s} A median {med:.6g} [{q1:.6g}, {q3:.6g}] "
                    f"spread {spread:.3f} (bound {bound}, aim < {bound / 3:.3f})")
            if rb:
                xb = values(rb, name)
                _, medb, _ = quartiles(xb)
                better = sum((y < x) if lower else (y > x) for x in xa for y in xb)
                worse = sum((y > x) if lower else (y < x) for x in xa for y in xb)
                ties = len(xa) * len(xb) - better - worse
                change = (medb - med) / med if med else 0.0
                worse_by = change if lower else -change
                line += (f"\n   {'':22s} B median {medb:.6g} change {change:+.3f}  "
                         f"B wins {better} / loses {worse} / ties {ties}  "
                         f"{'within bound' if worse_by <= bound else 'OUTSIDE BOUND'}")
            print(line)


if __name__ == "__main__":
    main(sys.argv)
