#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program and the benchmark
(perfbench/build.py) on first use, runs the workload in one JVM inside a
fresh working directory, checks its outputs and prints the metrics; the
last stdout line is the JSON result. `--trace 1` records spans and
prints the per-layer metrics instead of the end-to-end ones;
`--raw PATH` keeps the run's raw record (used by perfbench/report.py).
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("stream_pipeline", "warehouse_queries", "corpus_curation")
RUN_TIMEOUT_S = 160  # a run must end within 180 s, Python start and teardown included


def spec():
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(workload, seed, seconds, trace):
    """Run one workload in a fresh work dir; return its raw record."""
    classpath = build.ensure_built()
    work_root = os.path.join(build.ROOT, ".bench_work")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-", dir=work_root)
    raw_path = os.path.join(work, "raw.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + build.jvm_options(work) +
           ["-cp", classpath, "perfbench.Main", workload, str(seed), str(seconds),
            "1" if trace else "0", raw_path])
    log_path = os.path.join(work_root, f"{os.path.basename(work)}.log")
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise SystemExit(f"perfbench: {workload} timed out; log: {log_path}")
        if rc != 0 or not os.path.exists(raw_path):
            with open(log_path) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"perfbench: {workload} exited with {rc}; log: {log_path}")
        with open(raw_path) as f:
            raw = json.load(f)
        os.remove(log_path)
        return raw
    finally:
        shutil.rmtree(work, ignore_errors=True)


def result_line(raw, trace, bench):
    ops = raw["ops"]
    e2e, named, n, failed = stats.end_to_end(raw)
    checks = raw["checks"]
    for c in checks:
        if not c["ok"]:
            print(f"check FAILED {c['name']}: {c['detail']}")
    correct = failed == 0 and all(c["ok"] for c in checks)
    if trace:
        names = [m["name"] for m in bench["per_layer"]]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        vals = stats.per_layer(raw, names)
        metrics = {k: {"value": vals[k], "unit": units[k]} for k in names}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in bench["end_to_end"]}
        for k, v in named.items():
            value = "n/a (too few samples)" if v[0] is None else f"{v[0]:.6g}"
            extra = f" p{v[3]:g}" if len(v) > 3 else ""
            print(f"metric {k} = {value} {v[1]}{extra} (samples={v[2]})")
    for k, v in metrics.items():
        print(f"metric {k} = {v['value']:.6g} {v['unit']} (samples={len(ops)})")
    return {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw", help="also write the run's raw record here")
    a = ap.parse_args(argv)
    bench = spec()
    raw = run_jvm(a.workload, a.seed, a.seconds, a.trace == 1)
    if a.raw:
        with open(a.raw, "w") as f:
            json.dump(raw, f)
    print(json.dumps(result_line(raw, a.trace == 1, bench)))


if __name__ == "__main__":
    main()
