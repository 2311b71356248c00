#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/stability.py [--workloads a,b] [--seeds 1-10] [--out F]

Runs perfbench/run.py once per (workload, seed) with BENCHMARK.json's
run_seconds, then reports for each end-to-end metric the distance between
the first and third quartile of its values as a share of their median,
next to the metric's bound (the target is a third of it). Run from the
root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workloads",
                   default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--out")
    a = p.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    ok = True
    for w in a.workloads.split(","):
        vals, walls = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                print(f"{w} seed {s}: exit {out.returncode}", flush=True)
                ok = False
                continue
            res = json.loads(out.stdout.strip().splitlines()[-1])
            if not res["correct"] or res["failed"]:
                ok = False
            for k, v in res["metrics"].items():
                vals.setdefault(k, []).append(v["value"])
            print(f"{w} seed {s}: {walls[-1]:.0f} s, correct={res['correct']}"
                  f" failed={res['failed']}/{res['attempted']}", flush=True)
        rows = {}
        for k, xs in vals.items():
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            rows[k] = {"median": med, "spread": spread, "bound": bounds.get(k),
                       "values": xs}
            flag = ""
            if k != "setup_s" and spread > bounds.get(k, 0) / 3:
                flag = "  ABOVE bound/3"
                ok = False
            print(f"  {k:14s} median {med:12.4f}  spread {spread:6.3f}"
                  f"  bound {bounds.get(k)}{flag}", flush=True)
        report[w] = {"metrics": rows, "run_wall_s": walls}
        print(f"  run wall: median {statistics.median(walls):.0f} s, "
              f"max {max(walls):.0f} s", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
