"""Tracing overhead per end-to-end metric.

    python3 perfbench/overhead.py --workload library --seeds 1 2 3 --seconds 20

Runs the workload untraced and traced on each seed, alternating which goes
first, and prints per end-to-end metric the median of the untraced runs,
the median of the traced runs' ``traced.<metric>``, and their difference as
a share of the untraced median. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=20)
    args = ap.parse_args()
    plain: dict[str, list[float]] = {}
    traced: dict[str, list[float]] = {}
    for i, seed in enumerate(args.seeds):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            m = _run(args.workload, seed, args.seconds, trace)
            for name, v in m.items():
                if trace == 0:
                    plain.setdefault(name, []).append(v["value"])
                elif name.startswith("traced."):
                    traced.setdefault(name[len("traced."):], []).append(v["value"])
    for name, values in plain.items():
        base = statistics.median(values)
        with_trace = statistics.median(traced[name])
        share = (with_trace - base) / base if base else float("nan")
        print(f"{name:14s} untraced {base:10.4f}  traced {with_trace:10.4f}  "
              f"overhead {share:+.1%}")


if __name__ == "__main__":
    main()
