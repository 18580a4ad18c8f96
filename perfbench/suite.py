#!/usr/bin/env python3
"""Run every workload once and print each metric by name and unit.

    python3 perfbench/suite.py --seed 1 --seconds 8             # end to end
    python3 perfbench/suite.py --seed 1 --seconds 8 --overhead  # and traced

Each workload runs in its own ``run.py`` process. ``--overhead`` adds a
traced run per workload on the same seed and prints the tracing overhead:
traced end-to-end metrics minus untraced ones. One pair of runs also
carries the run-to-run spread, so read small differences against the
bounds in BENCHMARK.json. Exits 1 if any run fails or any check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("kv_serve", "kv_write", "query_mix")


def run(workload: str, seed: int, seconds: float, trace: int):
    """(detail record, metrics line) of one run.py process, or None."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=os.path.dirname(HERE), capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        print(f"{workload}: run.py --trace {trace} exited with code {out.returncode}")
        return None
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    ok = True
    for w in WORKLOADS:
        plain = run(w, args.seed, args.seconds, 0)
        if plain is None:
            ok = False
            continue
        detail, line = plain
        ok &= line["correct"]
        print(f"{w}: attempted {line['attempted']}, failed {line['failed']}, "
              f"failed_frac {line['failed'] / line['attempted']:.4f}")
        for name, m in line["metrics"].items():
            print(f"  {name:14s} {m['value']:14.4f} {m['unit']}")
        print(f"  detail {json.dumps(detail['detail'])}")
        if not args.overhead:
            continue
        traced = run(w, args.seed, args.seconds, 1)
        if traced is None:
            ok = False
            continue
        e2e = traced[0]["end_to_end"]
        print(f"  tracing overhead (traced - untraced), trace in {traced[0]['trace_file']}")
        for name, m in line["metrics"].items():
            diff = e2e[name] - m["value"]
            print(f"  {name:14s} {diff:+14.4f} {m['unit']} ({diff / m['value']:+.1%})")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
