#!/usr/bin/env python3
"""Traced baseline breakdown of one workload.

    python3 perfbench/report.py --workload <name> --seed <n> --seconds <s> --out <file.json>

Runs the workload untraced and traced, alternating, `--pairs` times with
the same seed, and writes one report: the end-to-end metrics of every
run and the tracing overhead (median traced / median untraced - 1 per
metric), the median per-layer metrics, and, from the first traced run, a per-span
summary (calls, total, self time, Spark jobs, tasks, task CPU), the
Spark work each streaming query ran outside any span, and the per-op
accounting that shows the blocking spans' self times covering each op's
wall time, with the remainder reported as `unattributed_ms`.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402
import stats  # noqa: E402


def span_summary(raw):
    spans = [s for s in raw["trace_data"]["spans"] if s["op"] >= 0]
    selfs = stats.self_times(spans)
    out = {}
    for s in spans:
        r = out.setdefault(s["name"], {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, "jobs": 0, "tasks": 0,
                                       "task_cpu_ms": 0.0, "shuffle_bytes": 0, "scan_bytes": 0})
        r["calls"] += 1
        r["total_ms"] += (s["end_ns"] - s["start_ns"]) / 1e6
        r["self_ms"] += selfs[s["id"]] / 1e6
        for k in ("jobs", "tasks", "task_cpu_ms", "shuffle_bytes", "scan_bytes"):
            r[k] += s.get(k, 0)
    return dict(sorted(out.items(), key=lambda kv: -kv[1]["self_ms"]))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pairs", type=int, default=3,
                    help="untraced/traced run pairs; the overhead compares their medians")
    a = ap.parse_args()
    bench = run.spec()
    plains, traceds = [], []
    for _ in range(a.pairs):
        plains.append(run.run_jvm(a.workload, a.seed, a.seconds, False))
        traceds.append(run.run_jvm(a.workload, a.seed, a.seconds, True))
    e_plain = [stats.end_to_end(r)[0] for r in plains]
    e_traced = [stats.end_to_end(r)[0] for r in traceds]
    overhead = {}
    for k, (_, unit) in e_plain[0].items():
        u = statistics.median(e[k][0] for e in e_plain)
        t = statistics.median(e[k][0] for e in e_traced)
        overhead[k] = {"untraced_median": u, "traced_median": t, "unit": unit,
                       "traced_over_untraced": t / u - 1.0,
                       "untraced_runs": [e[k][0] for e in e_plain], "traced_runs": [e[k][0] for e in e_traced]}
    names = [m["name"] for m in bench["per_layer"]]
    layers = [stats.per_layer(r, names) for r in traceds]
    traced = traceds[0]
    acc = stats.op_accounting([s for s in traced["trace_data"]["spans"] if s["op"] >= 0],
                              {i: o["ms"] for i, o in enumerate(traced["ops"])})
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "cores": traced["cores"],
        "pairs": a.pairs,
        "ops": {"untraced": [len(r["ops"]) for r in plains], "traced": [len(r["ops"]) for r in traceds],
                "failed": sum(stats.end_to_end(r)[3] for r in plains + traceds)},
        "checks_ok_all_runs": all(c["ok"] for r in plains + traceds for c in r["checks"]),
        "checks": traced["checks"],
        "end_to_end": overhead,
        "workload_metrics_untraced": stats.end_to_end(plains[0])[1],
        "per_layer": {k: statistics.median(l[k] for l in layers) for k in names},
        "gauges": {k: v for k, v in traced["gauges"].items() if k != "hashes"},
        "spans": span_summary(traced),
        "query_work": traced["trace_data"]["query_work"],
        "op_accounting": acc,
        "note": "per-layer values are per op (median over the traced runs); the streaming.* figures come "
                "from StreamingQueryProgress and the core.* phases from QueryExecution.tracker of each head "
                "call; spans, query_work and op_accounting are from the first traced run",
    }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps(overhead))


if __name__ == "__main__":
    main()
