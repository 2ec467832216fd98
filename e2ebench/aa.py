#!/usr/bin/env python3
"""A/A steadiness check: runs the benchmark twice on the same build and
reports, per workload and end-to-end metric, each set's median and
quartile spread and whether the two sets agree within BENCHMARK.json's
bounds.

    python3 e2ebench/aa.py [--runs 10] [--workload NAME ...] [--overhead]

Set 1 uses seeds 1 ... runs, set 2 seeds runs + 1 ... 2 * runs, so no seed
repeats. A metric passes when each set's spread (Q3 - Q1 over the median,
as statistics.quantiles gives them) is within its bound and the two
medians differ, in either direction, by at most the bound times the first.
--overhead also runs one traced run per seed of the first set and prints
the traced phase value next to the untraced end-to-end median, for the
metrics a traced run measures the same way.
Raw results go to .e2ebench_out/aa_<time>.json at the repository root.
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

# end-to-end metric -> the traced phase metric measured the same way. A
# traced run runs every phase, one client and one batch job at a time, so
# setup, reads, batch passes and the live plane run in another order or
# with other concurrency there and are left out.
TRACED = {
    "endpoint_curation": {"second_p50_ms": "rw.read_p50_ms"},
    "stream_reasoning": {"p50_ms": "burst.p50_ms", "tail_ms": "burst.tail_ms",
                         "per_s": "burst.per_s", "second_p50_ms": "burst.firing_p50_ms"},
}


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, wall
    return json.loads(lines[-1]), wall


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    raw = {}
    ok = True
    for w in workloads:
        sets = []
        for k in range(2):
            vals, walls = {}, []
            for i in range(args.runs):
                seed = 1 + k * args.runs + i
                res, wall = run(w, seed, seconds, 0)
                walls.append(wall)
                if res is None or not res["correct"]:
                    print(f"{w} seed {seed}: run failed or incorrect: {res}", flush=True)
                    ok = False
                    continue
                for m, v in res["metrics"].items():
                    vals.setdefault(m, []).append(v["value"])
            print(f"{w} set {k + 1}: {args.runs} runs, wall median {statistics.median(walls):.1f} s, "
                  f"max {max(walls):.1f} s", flush=True)
            sets.append(vals)
        raw[w] = sets
        print(f"\n{w}")
        print(f"{'metric':16s} " + " ".join(f"{'median' + str(k + 1):>12s} {'spread' + str(k + 1):>8s}"
                                             for k in range(len(sets))) + "   bound  agree")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cols, meds, good = [], [], True
            for vals in sets:
                v = vals.get(name, [])
                if len(v) < 4:
                    cols.append(f"{'-':>12s} {'-':>8s}")
                    good = False
                    continue
                meds.append(statistics.median(v))
                sp = spread(v)
                cols.append(f"{meds[-1]:12.4g} {sp:8.3f}")
                if sp > bound:
                    good = False
            if len(meds) == 2:
                good = good and meds[0] != 0 and abs(meds[1] - meds[0]) / meds[0] <= bound
            ok = ok and good
            print(f"{name:16s} " + " ".join(cols) + f"  {bound:6.3f}  {'yes' if good else 'NO'}")
        if args.overhead and w in TRACED:
            traced = {}
            for i in range(args.runs):
                res, _ = run(w, 1 + i, seconds, 1)
                if res is None:
                    continue
                for e2e, phase in TRACED[w].items():
                    traced.setdefault(e2e, []).append(res["metrics"][phase]["value"])
            print(f"\ntracing overhead on {w} (traced phase median vs untraced set 1 median)")
            for e2e, v in traced.items():
                base = statistics.median(sets[0][e2e])
                t = statistics.median(v)
                print(f"{e2e:16s} untraced {base:12.4g} traced {t:12.4g}  {(t - base) / base:+.1%}")
            raw[w + ":traced"] = traced
    os.makedirs(os.path.join(ROOT, ".e2ebench_out"), exist_ok=True)
    out = os.path.join(ROOT, ".e2ebench_out", f"aa_{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump(raw, fh)
    print(f"\n{'all metrics agree' if ok else 'SOME METRICS DO NOT AGREE'}; raw values in {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
