#!/usr/bin/env python3
"""Steadiness of the gated benchmark: sets of runs over distinct seeds.

    python3 perfbench/steady.py --sets 2 --runs 10 --out perfbench/reports/steadiness.json

Runs the command of BENCHMARK.json (`--seconds run_seconds --trace 0`)
once per seed on every gated workload, alternating the workloads, with
`--runs` fresh seeds per set. For each set, workload and end-to-end
metric it reports the median and the spread: the distance between the
first and the third quartile (`statistics.quantiles(n=4)`) as a share of
the median. For each later set it reports how far its median moved from
the first set's, signed so that a positive share is worse. The report is
rewritten after every run, so an interrupted check keeps what it measured.
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
import build  # noqa: E402
import run  # noqa: E402


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def summarize(bench, runs):
    out = {}
    for w in [x["name"] for x in bench["workloads"]]:
        for m in bench["end_to_end"]:
            k = m["name"]
            sets = {}
            for r in runs:
                if r["workload"] == w and r["result"]:
                    sets.setdefault(r["set"], []).append(r["result"]["metrics"][k]["value"])
            row = {"bound": m["bound"], "better": m["better"], "sets": []}
            first = None
            for s in sorted(sets):
                vals = sets[s]
                med = statistics.median(vals)
                first = med if first is None else first
                worse = (med - first) / first * (1 if m["better"] == "lower" else -1)
                row["sets"].append({"set": s, "runs": len(vals), "median": med,
                                    "spread": spread(vals) if len(vals) >= 2 else None,
                                    "median_worse_than_first": worse})
            out[f"{w}/{k}"] = row
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=10, help="seeds per set and workload")
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = run.spec()
    workloads = [w["name"] for w in bench["workloads"]]
    runs = []
    for s in range(a.sets):
        for i in range(a.runs):
            seed = a.first_seed + 100 * s + i
            for w in workloads:
                t0 = time.time()
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                                   cwd=build.ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
                lines = p.stdout.strip().splitlines()
                result = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                runs.append({"set": s, "seed": seed, "workload": w, "rc": p.returncode,
                             "wall_s": round(time.time() - t0, 1), "result": result})
                print(f"set {s} seed {seed} {w}: rc={p.returncode} wall={runs[-1]['wall_s']}s "
                      f"correct={result and result['correct']}", flush=True)
                report = {"run_seconds": bench["run_seconds"], "cores": os.cpu_count(),
                          "summary": summarize(bench, runs), "runs": runs}
                with open(a.out, "w") as f:
                    json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
