"""Tracing overhead: run one workload untraced and then traced on the
same seed, and print traced minus untraced for every end-to-end
metric. Run from the repository root:

    python3 perfbench/overhead.py --workload llm_corpus --seed 1 --seconds 30

The traced run's end-to-end figures come from the trace file it
writes; the difference includes the staged calls and extra counts the
traced run makes (see README.md).
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(args: argparse.Namespace, trace: int) -> dict:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(trace),
    ]  # fmt: skip
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description="traced minus untraced end-to-end metrics")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    plain = _run(args, 0)
    traces = os.path.join(os.getcwd(), ".perfbench", "traces")
    before = set(glob.glob(os.path.join(traces, "*.json")))
    traced_result = _run(args, 1)
    (path,) = set(glob.glob(os.path.join(traces, "*.json"))) - before
    with open(path) as fh:
        traced = json.load(fh)["end_to_end"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "correct": plain["correct"] and traced_result["correct"],
        "trace_file": os.path.relpath(path),
        "overhead": {
            name: {
                "untraced": m["value"],
                "traced": traced[name],
                "traced_minus_untraced": traced[name] - m["value"],
                "unit": m["unit"],
            }
            for name, m in plain["metrics"].items()
        },
    }
    print(json.dumps(report, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
