"""Run one workload untraced and traced and print every metric.

    python3 perfbench/report.py --workload serving --seed 1 --seconds 5
    python3 perfbench/report.py --workload serving --seed 1 --seconds 5 --exact

The first form prints each end-to-end metric (untraced run) and each
per-layer metric (traced run) by name with its unit, the correctness
result of both runs, and the tracing overhead: the traced run's median
operation time over the untraced one's. ``--exact`` instead makes two
traced runs with the same seed and checks that the counters repeat:
job, stage, task and file counts exactly, and byte counters (input,
shuffle, touched and output bytes, write amplification) within 0.1 %. Bytes
can differ slightly because bucketed layouts are sorted only by their
bucket key, so rows that tie on it are stored in shuffle-arrival order
and compress a few bytes differently. Exits 1 when a run is incorrect
or a counter does not repeat.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = re.compile(r"(jobs|stages|tasks|files_touched)$")
BYTES = re.compile(r"(input_bytes|shuffle_bytes|bytes_touched|output_bytes|"
                   r"write_amp)$")


def _run(args, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), check=True,
                         stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def _print(res: dict) -> None:
    for name, m in res["metrics"].items():
        print(f"{name:44s} {m['value']:16.6g} {m['unit']}")
    print(f"correct={res['correct']} attempted={res['attempted']} "
          f"failed={res['failed']}")


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--exact", action="store_true")
    args = p.parse_args()
    if args.exact:
        a, b = _run(args, 1), _run(args, 1)
        bad = 0
        for name, m in a["metrics"].items():
            x, y = m["value"], b["metrics"][name]["value"]
            if COUNTS.search(name):
                same = x == y
            elif BYTES.search(name):
                same = abs(x - y) <= 1e-3 * max(abs(x), abs(y))
            else:
                continue
            bad += not same
            print(f"{'ok  ' if same else 'DIFF'} {name:44s} "
                  f"{x:16.10g} {y:16.10g}")
        print(f"counters: {'repeat' if not bad else f'{bad} differ'}")
        return int(bool(bad) or not (a["correct"] and b["correct"]))
    plain, traced = _run(args, 0), _run(args, 1)
    _print(plain)
    _print(traced)
    op = plain["metrics"]["op_cpu_s"]["value"]
    over = traced["metrics"]["trace.op_cpu_s"]["value"] / op - 1
    print(f"tracing overhead: {over:+.1%} of op_cpu_s ({op:.4g} s untraced)")
    return int(not (plain["correct"] and traced["correct"]))


if __name__ == "__main__":
    sys.exit(main())
