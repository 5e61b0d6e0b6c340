#!/usr/bin/env python3
"""Steadiness mode: run workloads repeatedly on one commit and report, for
every metric, the median, the quartiles and the quartile spread as a share
of the median, against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--trace 0|1]
                                [--out results.json]

Each run is a fresh `run.py` process with its own seed (run from the
checkout root). With --trace 0 a spread must stay within the metric's bound
(setup_s excepted) and should stay under a third of it. With --trace 1 the
per-layer medians are reported, and trace.pass_s / trace.latency_mean_s can be
read against the untraced medians of the same seeds: their difference is
the tracing overhead.
"""
import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                          cwd=ROOT, capture_output=True, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed (exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), time.time() - t0


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report, ok = {}, True
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            r, wall = run_once(w, s, bench["run_seconds"], a.trace)
            runs.append(r)
            print(f"{w} seed {s}: {wall:.0f} s wall, correct={r['correct']} " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()
                           if a.trace == 0 or k.startswith("trace.")), flush=True)
        report[w] = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            q1, med, q3, spread = stats.quartile_spread(vals)
            report[w][name] = {"values": vals, "median": med, "q1": q1, "q3": q3, "spread": spread}
            if a.trace == 0:
                bound = bounds[name]
                verdict = ("ok" if spread < bound / 3 else "WIDE" if spread <= bound else "FAIL")
                if name == "setup_s":
                    verdict += " (spread not gated)"
                elif spread > bound or any(not r["correct"] for r in runs):
                    ok = False
                print(f"  {w} {name}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                      f"spread {spread:.3f} bound {bound} {verdict}")
        if a.trace == 1:
            for name in ("trace.pass_s", "trace.latency_mean_s", "trace.overhead_s"):
                m = report[w][name]
                print(f"  {w} {name}: median {m['median']:.4g} (q1 {m['q1']:.4g}, q3 {m['q3']:.4g})")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
