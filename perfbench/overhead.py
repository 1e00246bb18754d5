"""Tracing overhead: traced minus untraced, for every end-to-end metric.

    python3 perfbench/overhead.py --workload <name> --seeds 1,2,3 --seconds 20

For each seed it runs the workload untraced and traced, alternating which
goes first, each run its own process. It prints, per metric, the median of
each side and the overhead (traced - untraced) as a value and as a share
of the untraced median; the last line is the same as one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def one(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    if p.returncode != 0:
        raise SystemExit(f"run failed ({workload} seed {seed} trace {trace}):\n{p.stderr[-2000:]}")
    path = next(x for x in p.stdout.splitlines() if x.startswith("result file: ")).split(": ", 1)[1]
    with open(path) as fh:
        return json.load(fh)["end_to_end"]


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1,2,3")
    ap.add_argument("--seconds", type=float, default=20)
    args = ap.parse_args()
    runs: dict = {0: [], 1: []}
    for i, seed in enumerate(int(s) for s in args.seeds.split(",")):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(one(args.workload, seed, args.seconds, trace))
    out = {}
    for name in runs[0][0]:
        off = statistics.median(r[name] for r in runs[0])
        on = statistics.median(r[name] for r in runs[1])
        out[name] = {"untraced": off, "traced": on, "overhead": on - off,
                     "overhead_share": (on - off) / off if off else None}
        print(f"{args.workload} {name}: untraced {off:.4g} traced {on:.4g} "
              f"overhead {on - off:+.4g} ({(on - off) / off:+.1%})")
    print(json.dumps({"workload": args.workload, "seeds": args.seeds, "overhead": out}))


if __name__ == "__main__":
    main()
