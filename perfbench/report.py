"""Per-layer report: for each workload, alternating untraced and traced runs.

    python3 perfbench/report.py [--seed N] [--seconds S] [--pairs P] [workload ...]

Prints the last traced run's self-time table by layer and its per-layer
counters, and the tracing overhead: the traced median warm pass minus the
untraced one (speed-scaled, as ``warm_pass_s``), per pair of runs (seeds
N, N+1, ...), as the median over the pairs with the spread between its
quartiles. Pass times of the same code vary from run to run, so an overhead
no larger than that spread, or taken from fewer than three pairs, is
printed as unresolved.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, seed: int, seconds: float, trace: int):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace",
         str(trace)], cwd=ROOT, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, check=True).stdout
    lines = out.splitlines()
    return lines[:-1], json.loads(lines[-1])


def overhead(pairs: list[tuple[float, float]]) -> str:
    """Describe the traced-minus-untraced pass time of (untraced, traced)
    pairs: median and quartile spread, or unresolved within the spread."""
    diffs = [t - u for u, t in pairs]
    med = statistics.median(diffs)
    if len(diffs) > 1:
        q1, _, q3 = statistics.quantiles(diffs, n=4)
    else:
        q1 = q3 = med
    text = (f"{med:+.3f} s per warm pass, median of {len(diffs)} pairs "
            f"(quartiles {q1:+.3f} .. {q3:+.3f} s; untraced "
            f"{statistics.median(u for u, _ in pairs):.3f} s)")
    if len(diffs) < 3 or abs(med) <= q3 - q1:
        return "unresolved: " + text
    return text


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--pairs", type=int, default=3,
                    help="untraced/traced run pairs per workload (3 or "
                         "more to resolve the overhead)")
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args(argv)
    for w in args.workloads:
        pairs = []
        for i in range(args.pairs):
            plain, _ = run(w, args.seed + i, args.seconds, 0)
            text, traced = run(w, args.seed + i, args.seconds, 1)
            pairs.append(tuple(
                statistics.median(json.loads(lines[-1])["run"][
                    "warm_pass_ref_s"]) for lines in (plain, text)))
        print("\n".join(line for line in text if not line.startswith("{")))
        for name, m in traced["metrics"].items():
            if not name.startswith("self."):
                print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
        print(f"  tracing overhead: {overhead(pairs)}\n")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
