#!/usr/bin/env python3
"""Run each workload repeatedly, one seed per run, and report every
end-to-end metric's median, quartiles and spread (interquartile range
over the median) against its bound in ``BENCHMARK.json``.

    python3 perfbench/stability.py --runs 10 [--workload NAME ...]

A spread above a third of the bound marks the metric unsteady
(``setup_s`` is judged by its median only, as the gate does).  The share
of failed operations must be the same in every run.  Exits non-zero when
a run fails to produce a result or any check above fails.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(spec: dict, workload: str, seed: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    names = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in names:
        results = [run_once(spec, wl, args.first_seed + i)
                   for i in range(args.runs)]
        shares = {(r["failed"], r["attempted"]) for r in results}
        fail_share = {f / a for f, a in shares}
        correct = all(r["correct"] for r in results)
        print(f"{wl}: correct={correct} failed/attempted={sorted(shares)}")
        ok &= correct and len(fail_share) == 1
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            steady = name == "setup_s" or spread < bound / 3
            ok &= steady
            print(f"  {name:14s} median {med:12.4f}  q1 {q1:12.4f}  "
                  f"q3 {q3:12.4f}  spread {spread:6.3f}  bound {bound:5.3f}"
                  f"  {'ok' if steady else 'UNSTEADY'}")
        sys.stdout.flush()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
