#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its result.

    python3 perfbench/run.py --workload petro_batch --seed 1 --seconds 12 --trace 0

Builds the library and the benchmark from source on first use (see
build.py), then runs graftbench.Main in one JVM on local[<cores>]. The
lines before the last are '# key = value' notes: input properties,
sample counts, failed_frac, the pass checksum and, with --trace 1, the
trace file. The last line is the JSON result. Exit code 0 only when a
result was produced.
"""
import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

RUN_TIMEOUT_S = 170


def expected_checksum(workload, seed):
    table = json.loads(build.EXPECTED.read_text()) if build.EXPECTED.exists() else {}
    return table.get(workload, {}).get(str(seed))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=build.WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    try:
        cp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    run_dir = build.OUT / "run" / a.workload
    log = build.OUT / "logs" / f"{a.workload}-{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    cmd = [build.java(), *build.jvm_options(), "-cp", os.pathsep.join(map(str, cp)),
           "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", a.trace,
           "--cores", str(os.cpu_count() or 1), "--dir", str(run_dir)]
    expect = expected_checksum(a.workload, a.seed)
    if expect:
        cmd += ["--expect", expect]
    with open(log, "w") as err:
        try:
            res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                 timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}", file=sys.stderr)
            return 1
    lines = res.stdout.strip().splitlines()
    result = None
    if res.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(res.stdout[-2000:])
        sys.stderr.write(log.read_text()[-4000:])
        print(f"no result (exit {res.returncode}); log: {log}", file=sys.stderr)
        return 1
    for line in lines[:-1]:
        print(line)
    if not expect:
        print(f"# note: no expected checksum for seed {a.seed}: `correct` means only that "
              "every pass agreed with the first")
    print(lines[-1])
    return 0


if __name__ == "__main__":
    sys.exit(main())
