"""Smoke test of the benchmark at a tiny size.

    python3 perfbench/smoke.py [--seeds 1,2] [--workloads tail,backfill,mixed]

Runs every workload once untraced and once traced per seed, with tiny
inputs and a short timed phase, and asserts that each run exits 0, that
every check passed, and that the metrics printed are exactly the
end-to-end (untraced) or per-layer (traced) names of BENCHMARK.json.
Exits non-zero on the first failure.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def main(argv) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--seeds", default="1,2")
    p.add_argument("--workloads", default="tail,backfill,mixed")
    p.add_argument("--seconds", type=float, default=4)
    args = p.parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    want = {
        0: {m["name"] for m in bench["end_to_end"]},
        1: {m["name"] for m in bench["per_layer"]},
    }
    for seed in args.seeds.split(","):
        for workload in args.workloads.split(","):
            for trace in (0, 1):
                out = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                     "--seed", seed, "--seconds", str(args.seconds),
                     "--trace", str(trace), "--tiny"],
                    cwd=REPO, capture_output=True, text=True, timeout=600,
                )
                tag = f"{workload} seed={seed} trace={trace}"
                if out.returncode != 0:
                    print(out.stdout[-3000:], out.stderr[-3000:], sep="\n")
                    print(f"FAIL {tag}: exit {out.returncode}")
                    return 1
                res = json.loads(out.stdout.strip().splitlines()[-1])
                got = set(res["metrics"])
                if not res["correct"] or res["failed"] or got != want[trace]:
                    print(out.stdout[-3000:])
                    print(f"FAIL {tag}: correct={res['correct']} failed={res['failed']} "
                          f"missing={sorted(want[trace] - got)} extra={sorted(got - want[trace])}")
                    return 1
                print(f"ok {tag}: {res['attempted']} checks", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
