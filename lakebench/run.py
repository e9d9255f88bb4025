"""Run one benchmark measurement.

    python3 lakebench/run.py --workload <medallion_batch|cdc_stream>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (see build.py), runs one JVM with
one Spark session on local[nproc], and prints as the last line of
standard output one JSON object with the keys correct, attempted,
failed and metrics. --trace 0 prints the end-to-end metrics of
BENCHMARK.json, --trace 1 the per-layer ones. The full run record (every
op's latency, every span, the environment stamp) is written under
<build dir>/records/. Exits non-zero, printing no result, when the
build or the run fails; wrong outputs print "correct": false.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("medallion_batch", "cdc_stream")
# The whole invocation must end within 180 s; the JVM gets what is left
# after the build, minus a margin for its own shutdown.
DEADLINE_S = 170
HEAP = "4g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--mode", choices=("run", "digest"), default="run",
                   help="digest: print the seeded inputs' sizes and digests only")
    return p.parse_args(argv)


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_command(classes, args, work, record):
    with open(os.path.join(classes, ".stamp")) as fh:
        source_digest = fh.read().strip()
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Dlog4j2.level=WARN", "-cp", cp] + opens +
            ["graft.lakebench.Main",
             "--mode", args.mode, "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace), "--work", work, "--record", record,
             "--repo", build.ROOT,
             "--commit", git_commit(), "--source-digest", source_digest])


def main(argv):
    t0 = time.monotonic()
    args = parse_args(argv)
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[lakebench] build failed: {e}", file=sys.stderr)
        return 2
    root = build.build_dir()
    work = os.path.join(root, "work", str(os.getpid()))
    records = os.path.join(root, "records")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, f"{args.workload}_seed{args.seed}_trace{args.trace}_"
                                   f"{time.strftime('%Y%m%dT%H%M%S')}_{os.getpid()}.json")
    budget = DEADLINE_S - (time.monotonic() - t0)
    proc = subprocess.Popen(java_command(classes, args, work, record),
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=max(budget, 1))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print("[lakebench] run exceeded its deadline", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    sys.stdout.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    if proc.returncode != 0 or not lines:
        print(f"[lakebench] run failed with exit code {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
