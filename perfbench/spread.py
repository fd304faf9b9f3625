#!/usr/bin/env python3
"""Run-to-run spread of the benchmark, the way its acceptance is judged.

    python3 perfbench/spread.py [--runs 10] [--workloads a,b] [--trace 0]
        [--first-seed 1] [--out FILE]

Runs `perfbench/run.py` once per (workload, seed), seeds first-seed..,
cycling through the workloads so no workload owns a quiet or a noisy
stretch of the host, and prints per workload and metric the median and
the distance between the first and third quartile as a share of the
median (statistics.quantiles(values, n=4)), with each metric's bound from
BENCHMARK.json. A spread above the bound is flagged OVER (the acceptance
test fails it); one above a third of the bound is flagged too, since
that is the margin the benchmark is tuned to. setup_s is exempt from the
spread test (only its median shift counts), so it is not flagged.
--reverse cycles through the workloads in reverse order. Each run's JSON
line, with its wall time, is appended to FILE when given.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out", default=None)
    ap.add_argument("--reverse", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    if args.reverse:
        names = names[::-1]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {w: {} for w in names}
    failed = {w: [] for w in names}
    for i in range(args.runs):
        seed = args.first_seed + i
        for w in names:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]),
                                      "--trace", str(args.trace)]
            t0 = time.time()
            p = subprocess.run(cmd, capture_output=True, text=True)
            run_s = time.time() - t0
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            logs = [ln for ln in p.stderr.splitlines() if ln.startswith("[perfbench]")]
            steal = [ln for ln in logs if "steal=" in ln]
            if p.returncode != 0 or not last.startswith("{"):
                print("run %s seed %d failed (%d): %s" % (w, seed, p.returncode,
                                                        p.stderr[-800:]), file=sys.stderr)
                continue
            r = json.loads(last)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": w, "seed": seed, "run_s": run_s,
                                        "result": r, "log": logs})
                            + "\n")
            failed[w].append((r["failed"], r["attempted"], r["correct"]))
            for k, v in r["metrics"].items():
                values[w].setdefault(k, []).append(v["value"])
            print("%-9s seed %-3d %.0fs %s %s" % (
                w, seed, run_s, steal[-1].split("] ", 1)[-1] if steal else "",
                {k: round(v["value"], 3) for k, v in r["metrics"].items()}),
                file=sys.stderr, flush=True)
    for w in names:
        print("== %s  failed/attempted/correct: %s" % (w, failed[w]))
        for k, vs in values[w].items():
            if len(vs) < 2:
                continue
            q = statistics.quantiles(vs, n=4)
            med = statistics.median(vs)
            iqr = (q[2] - q[0]) / med if med else float("nan")
            b = bounds.get(k)
            flag = ""
            if b is not None and k != "setup_s":
                flag = "  OVER" if iqr > b else "  above bound/3" if iqr > b / 3 else ""
            print("  %-24s median %12.4f  iqr/median %.4f  bound %s%s" % (k, med, iqr, b, flag))


if __name__ == "__main__":
    sys.exit(main())
