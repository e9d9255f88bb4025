"""Compare two sets of benchmark runs, metric by metric.

    python3 lakebench/compare.py parent.jsonl change.jsonl [--benchmark BENCHMARK.json]

Each file holds run lines as lakebench/sweep.py writes them. For every
workload and metric it prints each side's median and quartiles, the
change's pair win rate (runs paired by seed, else by order; ties count
for neither side) and a verdict:

  improved    the change wins at least 9 of 10 pairs and the medians
              differ, in the metric's better direction, by more than the
              parent's own quartile spread
  worse       the change's median is worse than the parent's by more
              than the metric's bound (per-layer metrics, which have no
              bound: loses 9 of 10 pairs by more than the parent's spread)
  unresolved  the parent's own spread is wider than the bound, and not
              every change run reads better than every parent run
  unchanged   otherwise
"""

import argparse
import json
import os
import statistics
import sys


def load_runs(path):
    runs = []
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line:
                row = json.loads(line)
                if row.get("result"):
                    runs.append(row)
    return runs


def load_metrics(path):
    with open(path) as fh:
        bench = json.load(fh)
    specs = {}
    for m in bench["end_to_end"]:
        specs[m["name"]] = (m["better"], m["bound"])
    for m in bench["per_layer"]:
        specs[m["name"]] = (m["better"], None)
    return specs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def pairs(base, change):
    """(parent, change) value pairs: by seed when both sides share seeds."""
    bs = {r["seed"]: r for r in base}
    cs = {r["seed"]: r for r in change}
    common = sorted(set(bs) & set(cs))
    if len(common) == min(len(base), len(change)):
        return [(bs[s], cs[s]) for s in common]
    return list(zip(base, change))


def verdict(base, change, better, bound, paired):
    """Verdict for one metric; `paired` is a list of (parent, change) values."""
    sign = -1.0 if better == "lower" else 1.0
    b1, bmed, b3 = quartiles(base)
    _, cmed, _ = quartiles(change)
    gain = (cmed - bmed) * sign
    iqr = b3 - b1
    wins = sum(1 for p, c in paired if (c - p) * sign > 0)
    losses = sum(1 for p, c in paired if (c - p) * sign < 0)
    n = max(len(paired), 1)
    if wins / n >= 0.9 and gain > iqr:
        return "improved", wins / n
    if bound is None:
        if losses / n >= 0.9 and -gain > iqr:
            return "worse", wins / n
        return "unchanged", wins / n
    scale = abs(bmed) if bmed else 1.0
    if -gain / scale > bound:
        return "worse", wins / n
    all_better = min(c * sign for c in change) > max(b * sign for b in base)
    if iqr / scale > bound and not all_better:
        return "unresolved", wins / n
    return "unchanged", wins / n


def compare(base_runs, change_runs, specs):
    """Rows of (workload, metric, parent quartiles, change quartiles, win rate, verdict)."""
    out = []
    workloads = sorted({r["workload"] for r in base_runs} & {r["workload"] for r in change_runs})
    for w in workloads:
        b = [r for r in base_runs if r["workload"] == w]
        c = [r for r in change_runs if r["workload"] == w]
        matched = pairs(b, c)
        names = [m for m in b[0]["result"]["metrics"] if m in c[0]["result"]["metrics"]]
        for m in names:
            def val(r):
                return r["result"]["metrics"][m]["value"]
            better, bound = specs.get(m, ("lower", None))
            bv, cv = [val(r) for r in b], [val(r) for r in c]
            v, win = verdict(bv, cv, better, bound, [(val(p), val(q)) for p, q in matched])
            out.append((w, m, quartiles(bv), quartiles(cv), win, v))
    return out


def main(argv):
    here = os.path.dirname(os.path.abspath(__file__))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--benchmark", default=os.path.join(os.path.dirname(here), "BENCHMARK.json"))
    a = p.parse_args(argv)
    rows = compare(load_runs(a.parent), load_runs(a.change), load_metrics(a.benchmark))
    print(f"{'workload':16s} {'metric':48s} {'parent q1/med/q3':>32s} "
          f"{'change q1/med/q3':>32s} {'win':>5s}  verdict")
    for w, m, bq, cq, win, v in rows:
        fmt = "/".join(f"{x:.4g}" for x in bq), "/".join(f"{x:.4g}" for x in cq)
        print(f"{w:16s} {m:48s} {fmt[0]:>32s} {fmt[1]:>32s} {win:5.2f}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
