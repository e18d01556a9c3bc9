#!/usr/bin/env python3
"""Steadiness and comparison for the engine benchmark.

    # ten runs per workload, one seed each; prints median, quartiles and
    # spread (IQR / median) per end-to-end metric and checks each spread
    # against a third of its bound in BENCHMARK.json
    python3 perfbench/steady.py run --runs 10 --first-seed 100 --out .bench_out/steady.json

    # compare two such result files (e.g. parent and change); refuses
    # results taken at different core counts
    python3 perfbench/steady.py compare A.json B.json

Run from the repository root.
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


def contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"),
            "values": values}


def run_all(a):
    c = contract()
    names = a.workloads or [w["name"] for w in c["workloads"]]
    out = {"nproc": None, "runs": a.runs, "seconds": c["run_seconds"], "workloads": {}}
    for w in names:
        metrics, records = {}, []
        for k in range(a.runs):
            seed = a.first_seed + k
            cmd = c["command"] + ["--workload", w, "--seed", str(seed),
                                  "--seconds", str(c["run_seconds"]), "--trace", "0"]
            t0 = time.time()
            r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.time() - t0
            if r.returncode != 0:
                sys.exit(f"{w} seed {seed} failed:\n{r.stderr[-2000:]}")
            res = json.loads(r.stdout.strip().splitlines()[-1])
            rec_path = os.path.join(ROOT, ".bench_out", f"{w}-seed{seed}-trace0.json")
            with open(rec_path) as fh:
                rec = json.load(fh)
            nproc = rec["provenance"]["nproc"]
            if out["nproc"] not in (None, nproc):
                sys.exit(f"core count changed between runs ({out['nproc']} -> {nproc})")
            out["nproc"] = nproc
            records.append({"seed": seed, "attempted": res["attempted"],
                            "failed": res["failed"], "correct": res["correct"],
                            "wall_s": round(wall, 1),
                            "ops": rec["op_tail_s"]["ops"]})
            for m, v in res["metrics"].items():
                metrics.setdefault(m, []).append(v["value"])
            print(f"{w} seed {seed} ({wall:.0f} s): " + ", ".join(
                f"{m}={v['value']:.4g} {v['unit']}" for m, v in res["metrics"].items()),
                flush=True)
        out["workloads"][w] = {"runs": records,
                               "metrics": {m: summary(v) for m, v in metrics.items()}}
    report(out, c)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(out, fh, indent=1)


def report(out, c):
    bounds = {m["name"]: m["bound"] for m in c["end_to_end"]}
    ok = True
    for w, d in out["workloads"].items():
        print(f"\n{w} (nproc={out['nproc']}, {len(d['runs'])} runs)")
        print(f"  {'metric':18} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound/3':>8}")
        for m, s in d["metrics"].items():
            lim = bounds.get(m, 0) / 3
            flag = "" if s["spread"] < lim else "  TOO WIDE"
            ok &= flag == ""
            print(f"  {m:18} {s['median']:12.6g} {s['q1']:12.6g} {s['q3']:12.6g} "
                  f"{s['spread']:8.4f} {lim:8.4f}{flag}")
    print("\nall spreads within a third of their bounds" if ok else "\nsome spreads are too wide")


def compare(a):
    c = contract()
    with open(a.a) as fh:
        x = json.load(fh)
    with open(a.b) as fh:
        y = json.load(fh)
    if x["nproc"] != y["nproc"]:
        sys.exit(f"refusing to compare: results taken at {x['nproc']} and {y['nproc']} cores")
    metrics = {m["name"]: m for m in c["end_to_end"]}
    worse = False
    for w in sorted(set(x["workloads"]) & set(y["workloads"])):
        print(f"{w}")
        for m, spec in metrics.items():
            if m not in x["workloads"][w]["metrics"] or m not in y["workloads"][w]["metrics"]:
                continue
            mx = x["workloads"][w]["metrics"][m]["median"]
            my = y["workloads"][w]["metrics"][m]["median"]
            change = (my - mx) / mx if mx else 0.0
            bad = change > spec["bound"] if spec["better"] == "lower" else -change > spec["bound"]
            worse |= bad
            print(f"  {m:18} {mx:12.6g} -> {my:12.6g}  {change:+8.2%}  bound {spec['bound']:.0%}"
                  f"{'  WORSE' if bad else ''}")
    sys.exit(1 if worse else 0)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    run_all(a) if a.cmd == "run" else compare(a)


if __name__ == "__main__":
    main()
