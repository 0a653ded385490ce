"""Steadiness check: two interleaved sets of runs per workload.

    python3 perfbench/steady.py [--runs 5]

Run from the root of a checkout. The workloads and the run length come
from BENCHMARK.json. Set A and set B each make `--runs` untraced runs of
every workload, with distinct seeds, alternating A, B, A, B ... so slow
drift on the machine hits both sets alike. For each end-to-end metric it
prints each set's median and quartiles, the quartile spread as a share
of the median, and the difference between the two sets' medians, beside
the metric's bound, and the spread over both sets together; the check
fails if any of these exceeds its bound. The client's wall-clock
figures (median op latency, throughput) and the CPU time the host stole
from the VM are printed the same way, outside the check.
It then makes one traced run per workload on the seed of the first
untraced run and prints traced minus untraced for every end-to-end
metric and client figure. Raw results go to
`.perfbench_out/steady-<time>.json`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    lines = [json.loads(x) for x in proc.stdout.splitlines()
             if x.startswith("{")]
    out = lines[-1]
    out["wall_s"] = wall
    for extra in lines[:-1]:
        out.update(extra)
    return out


def summarize(values: list[float]) -> tuple[float, float, float]:
    """First quartile, median and third quartile (exclusive method, as
    `statistics.quantiles` gives them by default)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=5,
                    help="runs per set, at least 2")
    args = ap.parse_args(argv)
    if args.runs < 2:
        ap.error("--runs must be at least 2")
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"steady-{int(time.time())}.json")

    results: dict = {w: {"A": [], "B": []} for w in workloads}
    for i in range(args.runs):
        for label, base in (("A", 1000), ("B", 2000)):
            for w in workloads:
                r = run_once(w, base + i, seconds, 0)
                results[w][label].append(r)
                with open(path, "w") as f:
                    json.dump(results, f, indent=1)
                print(f"{w} set {label} seed {base + i}: "
                      f"wall {r['wall_s']:.1f}s failed {r['failed']}/"
                      f"{r['attempted']}", flush=True)

    ok = True
    for w in workloads:
        print(f"\n== {w}  ({args.runs} runs per set)")
        print(f"{'metric':14s} {'unit':6s} {'set':3s} {'median':>11s} "
              f"{'q1':>11s} {'q3':>11s} {'spread':>7s}  {'A->B':>7s} "
              f"{'bound':>6s}")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = {}
            for label in ("A", "B"):
                vals = [r["metrics"][name]["value"]
                        for r in results[w][label]]
                q1, med, q3 = summarize(vals)
                meds[label] = med
                spread = (q3 - q1) / med
                if spread > bound:
                    ok = False
                print(f"{name:14s} {m['unit']:6s} {label:3s} {med:11.4f} "
                      f"{q1:11.4f} {q3:11.4f} {spread:7.3f}", end="")
                if label == "B":
                    diff = (meds["B"] - meds["A"]) / meds["A"]
                    if abs(diff) > bound:
                        ok = False
                    print(f"  {diff:+7.3f} {bound:6.2f}", end="")
                print()
        for m in spec["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"]
                    for s in ("A", "B") for r in results[w][s]]
            q1, med, q3 = summarize(vals)
            spread = (q3 - q1) / med
            if spread > m["bound"]:
                ok = False
            print(f"{m['name']:14s} all {len(vals)} runs: median {med:.4f} "
                  f"spread {spread:.3f} (bound {m['bound']})")
        print("not checked:")
        runs = [r for s in ("A", "B") for r in results[w][s]]
        info = {k: [r["client"][k] for r in runs] for k in runs[0]["client"]}
        info["host_steal_s"] = [r["env"]["host_steal_s"] for r in runs]
        for k, vals in info.items():
            q1, med, q3 = summarize(vals)
            print(f"{k:14s} all {len(vals)} runs: median {med:.4f} "
                  f"q1 {q1:.4f} q3 {q3:.4f} min {min(vals):.4f} "
                  f"max {max(vals):.4f}")
        walls = [r["wall_s"] for s in results[w].values() for r in s]
        print(f"run wall: median {statistics.median(walls):.1f}s "
              f"max {max(walls):.1f}s; failed ops "
              f"{sum(r['failed'] for s in results[w].values() for r in s)}")

    print("\n== tracing overhead (traced - untraced, same seed)")
    for w in workloads:
        plain = results[w]["A"][0]
        traced = run_once(w, 1000, seconds, 1)
        results[w]["overhead"] = {
            **{k: v - plain["metrics"][k]["value"]
               for k, v in traced["traced_end_to_end"].items()},
            **{k: v - plain["client"][k]
               for k, v in traced["client"].items()}}
        print(w, " ".join(f"{k}={v:+.4f}" for k, v in
                          results[w]["overhead"].items()))

    with open(path, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\nall spreads and set differences within bounds: {ok}; raw: "
          f"{path}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
