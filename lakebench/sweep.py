"""Run the benchmark over several seeds and collect the result lines.

    python3 lakebench/sweep.py --out runs.jsonl --workloads medallion_batch cdc_stream \
        --seeds 1 2 3 4 5 [--trace 0]

Each run measures for BENCHMARK.json's run_seconds. Each line of --out is one run: {"workload", "seed", "trace", "wall_s",
"result"}, where result is run.py's last output line (null when the run
failed). Prints each metric's median and its quartile spread as a share
of the median, per workload, as the acceptance check computes them.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--out", required=True)
    p.add_argument("--workloads", nargs="+", required=True)
    p.add_argument("--seeds", nargs="+", type=int, required=True)
    p.add_argument("--trace", type=int, default=0)
    a = p.parse_args(argv)
    with open(BENCHMARK) as fh:
        seconds = json.load(fh)["run_seconds"]
    rows = []
    with open(a.out, "a") as out:
        for w in a.workloads:
            for s in a.seeds:
                t0 = time.monotonic()
                r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", str(s),
                                    "--seconds", str(seconds), "--trace", str(a.trace)],
                                   stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = r.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if r.returncode == 0 and lines else None
                row = {"workload": w, "seed": s, "trace": a.trace,
                       "wall_s": round(time.monotonic() - t0, 2), "result": result}
                rows.append(row)
                out.write(json.dumps(row) + "\n")
                out.flush()
                print(f"{w} seed={s} wall={row['wall_s']}s "
                      f"{'FAILED' if result is None else 'correct=' + str(result['correct'])}",
                      flush=True)
    for w in a.workloads:
        ok = [r["result"] for r in rows if r["workload"] == w and r["result"]]
        if len(ok) < 2:
            continue
        walls = [r["wall_s"] for r in rows if r["workload"] == w]
        print(f"== {w}: {len(ok)} runs, mean wall {statistics.mean(walls):.1f}s")
        for m in ok[0]["metrics"]:
            vals = [x["metrics"][m]["value"] for x in ok]
            med, sp = spread(vals)
            print(f"  {m:50s} median {med:12.5g}  spread {sp:7.3f}")


if __name__ == "__main__":
    main(sys.argv[1:])
