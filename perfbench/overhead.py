"""Tracing overhead: traced minus untraced `pass_s` of the same checkout
and seed.

    python3 perfbench/overhead.py --workload dedup --seed 7 --pairs 2

Each pair is one untraced and one traced run of `run.py` with the same
seed, made back to back; the order alternates from pair to pair so that a
machine that speeds up or slows down during the pairs does not bias the
difference. Prints each pair and the median overhead, and writes them to
perfbench/.out/overhead-<workload>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, ".out")


def run(workload: str, seed: int, seconds: int, trace: int) -> float:
    """`pass_s` of one run (`trace.pass_s` for a traced one)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"overhead: {' '.join(cmd)} exited {proc.returncode}")
    line = json.loads(proc.stdout.strip().splitlines()[-1])
    if not line["correct"]:
        raise SystemExit(f"overhead: {' '.join(cmd)} reported failed operations")
    return line["metrics"]["trace.pass_s" if trace else "pass_s"]["value"]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--pairs", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    args = p.parse_args(argv)

    pairs = []
    for i in range(args.pairs):
        order = (0, 1) if i % 2 == 0 else (1, 0)
        got = {t: run(args.workload, args.seed, args.seconds, t) for t in order}
        pair = {"untraced_pass_s": got[0], "traced_pass_s": got[1], "overhead_s": got[1] - got[0]}
        print(json.dumps(pair), flush=True)
        pairs.append(pair)
    overhead = statistics.median(x["overhead_s"] for x in pairs)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"overhead-{args.workload}.json"), "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "pairs": pairs,
                   "overhead_s": overhead}, f, indent=1)
    print(f"overhead {args.workload} seed {args.seed}: {overhead:+.3f} s over {len(pairs)} pair(s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
