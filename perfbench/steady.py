"""Steadiness runs: the benchmark N times per workload, one seed each.

For every end-to-end metric it reports the ten (or N) values, their
median and quartiles, and the spread (distance between the quartiles
as a share of the median, ``statistics.quantiles(values, n=4)``), next
to the metric's bound from ``BENCHMARK.json``; plus each run's wall
time and the run fingerprint.  Runs alternate workloads seed by seed so
slow drift of the host shows in every workload alike.

Usage (from the repository root):
    python3 perfbench/steady.py [--seeds 1-10] [--workloads fixpoint,relational] [--out FILE]
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
sys.path.insert(0, HERE)

from stats import spread  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    workloads = args.workloads.split(",")
    runs = {w: [] for w in workloads}
    for seed in _seeds(args.seeds):
        for w in workloads:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: rc {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            result, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            runs[w].append({"seed": seed, "wall_s": wall, "result": result,
                            "fingerprint": detail["fingerprint"], "phases": detail["phases"],
                            "latencies_s": detail["latencies_s"],
                            "heap_readings_mb": detail["heap_readings_mb"]})
            print(f"{w} seed {seed}: {wall:.1f}s correct={result['correct']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)
    summary = {}
    for w, rs in runs.items():
        summary[w] = {"wall_s_mean": statistics.mean(r["wall_s"] for r in rs),
                      "all_correct": all(r["result"]["correct"] for r in rs)}
        for m in bench["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            summary[w][m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": spread(vals),
                                     "bound": m["bound"], "values": vals}
    n = len(workloads)
    walls = [summary[w]["wall_s_mean"] for w in workloads]
    budget = 22 * sum(walls) + 4 * max(walls)
    print(f"estimated time for {4 + 22 * n} runs: {budget:.0f} s (limit 3420 s)")
    for w in workloads:
        for m in bench["end_to_end"]:
            s = summary[w][m["name"]]
            flag = "ok" if s["spread"] <= s["bound"] / 3 else "WIDE"
            print(f"{w:12s} {m['name']:16s} median={s['median']:.4g} spread={s['spread']:.3f} "
                  f"bound={s['bound']} {flag}")
    if args.out:
        fp = runs[workloads[0]][0]["fingerprint"]
        with open(args.out, "w") as fh:
            json.dump({"host": {k: v for k, v in fp.items() if k != "seed"},
                       "run_seconds": bench["run_seconds"], "budget_estimate_s": budget,
                       "summary": summary, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
