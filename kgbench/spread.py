#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and spread (inter-quartile range over the median), the rule a set of
benchmark runs is accepted by.

    python3 kgbench/spread.py --workload serve_mix --seeds 1-10 --seconds 20
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import metrics  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--out", help="append each run's result line to this file")
    a = p.parse_args()
    values = {}
    for s in seeds(a.seeds):
        t0 = time.perf_counter()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(line)
        took = time.perf_counter() - t0
        print(f"seed {s}: exit {r.returncode}, {took:.0f} s, correct={res.get('correct')}", flush=True)
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": s, "wall_s": took, "result": res}) + "\n")
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    bounds = {n: b for n, _, _, b in metrics.END_TO_END}
    for k, vs in values.items():
        sp = metrics.spread(vs) if len(vs) >= 2 else float("nan")
        print(f"{k:24s} median {statistics.median(vs):14.4f}  spread {sp:.4f}  "
              f"(bound {bounds.get(k, float('nan'))}, third {bounds.get(k, float('nan')) / 3:.4f})")


if __name__ == "__main__":
    main()
