"""Metric arithmetic for the benchmark: percentiles, span self times and
the end-to-end / per-layer metric sets computed from one run's raw record.
"""
import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_CANDIDATES = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of `values` (p in 0..100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def tail(values):
    """The highest candidate percentile with at least ten samples above it,
    as (percentile, value, sample count), or None when no candidate has."""
    xs = sorted(values)
    for p in TAIL_CANDIDATES:
        v = percentile(xs, p)
        if sum(1 for x in xs if x > v) >= MIN_BEYOND:
            return p, v, len(xs)
    return None


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    tot, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def self_times(spans):
    """Map span id -> self time: its duration minus the part of its
    interval that its child spans cover (ns)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = [(c["start_ns"], c["end_ns"]) for c in kids.get(s["id"], [])]
        dur = s["end_ns"] - s["start_ns"]
        out[s["id"]] = dur - covered(iv, s["start_ns"], s["end_ns"])
    return out


def op_accounting(spans, op_ms):
    """Per op: wall time, summed self time of its blocking spans, and what
    no span covers (`unattributed_ms`). `op_ms` maps op index -> wall ms.
    Only blocking spans (opened on the thread that waits for them) count:
    spans of streaming triggers run beside them and would count their
    overlap twice. Spans with parent 0 are the op's top-level steps."""
    spans = [s for s in spans if s.get("blocking", True)]
    selfs = self_times(spans)
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    rows = []
    for op, wall in sorted(op_ms.items()):
        ss = by_op.get(op, [])
        top = [(s["start_ns"], s["end_ns"]) for s in ss if s["parent"] == 0]
        lo = min((a for a, _ in top), default=0)
        span_ms = covered(top, lo, max((b for _, b in top), default=0)) / 1e6
        self_ms = sum(selfs[s["id"]] for s in ss) / 1e6
        rows.append({"op": op, "wall_ms": wall, "self_ms": self_ms,
                     "unattributed_ms": max(0.0, wall - span_ms)})
    return rows


def end_to_end(raw):
    """The end-to-end metrics of one untraced run, plus the
    workload-specific names they stand for (printed, not gated)."""
    ops = raw["ops"]
    ms = [o["ms"] for o in ops]
    n = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    g = raw["gauges"]
    m = {
        "setup_s": (raw["setup_s"], "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
        "cpu_s_per_op": (raw["cpu_s"] / n, "s"),
        # the mean over whole rounds: a pass's mean head latency does not
        # depend on which head the seed's shuffle puts in the middle
        "op_mean_ms": (sum(ms) / n, "ms"),
        "ops_per_s": (n / raw["loop_s"], "1/s"),
    }
    t = tail(ms)
    named = {"error_rate": (failed / n, "ratio", n)}
    w = raw["workload"]
    if w == "stream_pipeline":
        events = g["events_per_wave"] * n
        named["stream_events_per_s"] = (events / (sum(ms) / 1e3), "events/s", n)
        named["freshness_p50_ms"] = (statistics.median(ms), "ms", n)
        named["freshness_tail_ms"] = (t[1], "ms", n, t[0]) if t else (None, "ms", n)
    elif w == "warehouse_queries":
        named["queries_per_s"] = (n / raw["loop_s"], "1/s", n)
        named["query_p50_ms"] = (statistics.median(ms), "ms", n)
        named["query_tail_ms"] = (t[1], "ms", n, t[0]) if t else (None, "ms", n)
    elif w == "corpus_curation":
        p50 = statistics.median(ms) / 1e3
        named["curate_docs_per_s"] = (g["docs"] / p50, "docs/s", n)
        named["curate_job_p50_s"] = (p50, "s", n)
    return m, named, n, failed


def per_layer(raw, names):
    """Per-layer metrics of one traced run, per op, for every name in
    `names`; a layer the workload does not touch reads 0."""
    ops = raw["ops"]
    n = len(ops)
    td = raw["trace_data"]
    spans = [s for s in td["spans"] if s["op"] >= 0]
    g = raw["gauges"]
    out = {k: 0.0 for k in names}

    def dur(name):
        return sum(s["end_ns"] - s["start_ns"] for s in spans if s["name"] == name) / 1e6

    def work(pred, field):
        return sum(s.get(field, 0) for s in spans if pred(s["name"]))

    # core: Catalyst phases of the head calls; streaming planning below
    for ph in ("analysis", "optimization", "planning"):
        out[f"core.{ph}_ms"] = g.get(f"core.{ph}_ms_total", 0.0) / n
    out["core.graft_rule_ms"] = g.get("core.graft_rule_ms_total", 0.0) / n
    runs = g.get("core.graft_rule_runs", 0)
    out["core.graft_rule_effective_ratio"] = g.get("core.graft_rule_effective_runs", 0) / runs if runs else 0.0

    # ops: the head calls
    is_ops = lambda name: name.startswith("ops.")
    out["ops.build_ms"] = dur("ops.build") / n
    out["ops.exec_ms"] = dur("ops.exec") / n
    out["ops.jobs"] = work(is_ops, "jobs") / n
    out["ops.tasks"] = work(is_ops, "tasks") / n
    out["ops.task_cpu_ms"] = work(is_ops, "task_cpu_ms") / n
    out["ops.sched_idle_ms"] = sum(s["end_ns"] / 1e6 - s["start_ns"] / 1e6 - s.get("busy_ms", 0)
                                   for s in spans if s["name"] == "ops.exec") / n
    out["ops.shuffle_bytes"] = work(is_ops, "shuffle_bytes") / n
    out["ops.scan_bytes"] = work(is_ops, "scan_bytes") / n
    out["ops.scan_files"] = g.get("ops.scan_files_total", 0) / n
    calls = g.get("plans.asof_calls", 0)
    out["plans.asof_exec_ms"] = g.get("plans.asof_exec_ms_total", 0.0) / calls if calls else 0.0

    # io
    out["io.mor_merge_ms"] = dur("io.mor_merge") / n
    out["io.sink_commit_ms"] = dur("io.sink_commit") / n
    out["io.upsert_merge_ms"] = dur("io.upsert_merge") / n
    out["io.serving_read_ms"] = dur("io.serving_read") / n
    maintenance_runs = sum(1 for s in spans if s["name"] == "io.maintenance")
    out["io.maintenance_ms"] = dur("io.maintenance") / maintenance_runs if maintenance_runs else 0.0
    for k in ("io.mor_delta_backlog", "io.bytes_per_input_byte", "io.live_files",
              "rtdw.late_share", "llm.planted_dup_recall", "llm.ivf_recall"):
        if g.get(k) is not None:
            out[k] = g[k]
    out["rtdw.order_detail_ms"] = dur("rtdw.order_detail") / n

    # streaming: per-query trigger progress
    prog = [p for p in td["progress"] if p["op"] >= 0]
    empty = 0
    for p in prog:
        if p["progress"].get("numInputRows", 0) == 0:
            empty += 1
    out["streaming.empty_trigger_ratio"] = empty / len(prog) if prog else 0.0
    per_q = {}
    for p in prog:
        per_q.setdefault(p["query"], []).append(p["progress"])
    for q, ps in per_q.items():
        d = lambda key: sum(x.get("durationMs", {}).get(key, 0) for x in ps) / n
        out[f"streaming.{q}.trigger_ms"] = d("triggerExecution")
        out[f"streaming.{q}.planning_ms"] = d("queryPlanning")
        out[f"streaming.{q}.addbatch_ms"] = d("addBatch")
        out[f"streaming.{q}.wal_ms"] = d("walCommit") + d("commitOffsets")
        out[f"streaming.{q}.input_rows"] = sum(x.get("numInputRows", 0) for x in ps) / n
        st = [x["stateOperators"] for x in ps if x.get("stateOperators")]
        if st:
            out[f"streaming.{q}.state_rows"] = sum(o.get("numRowsTotal", 0) for o in st[-1])
            out[f"streaming.{q}.state_bytes"] = sum(o.get("memoryUsedBytes", 0) for o in st[-1])
    if "dws_trade" in per_q:
        ps = per_q["dws_trade"]
        out["sources.feed_offset_ms"] = sum(x.get("durationMs", {}).get("latestOffset", 0) +
                                            x.get("durationMs", {}).get("getBatch", 0) for x in ps) / n
        out["sources.feed_rows_per_trigger"] = (sum(x.get("numInputRows", 0) for x in ps) /
                                                max(1, sum(1 for x in ps if x.get("numInputRows", 0))))
        out["rtdw.dws_fold_ms"] = out.get("streaming.dws_trade.trigger_ms", 0.0)
    if "dws_uv" in per_q:
        out["sources.sink_epoch_ms"] = out.get("streaming.dws_uv.addbatch_ms", 0.0)

    # llm / functions
    is_llm = lambda name: name.startswith("llm.")
    for stage in ("normalize", "quality", "exact_dedup", "ngram_jaccard", "minhash_covers", "clusters",
                  "curate", "decontaminate", "ann_topk"):
        out[f"llm.{stage}_ms"] = dur(f"llm.{stage}") / n
    out["llm.jobs"] = work(is_llm, "jobs") / n
    out["llm.shuffle_bytes"] = work(is_llm, "shuffle_bytes") / n
    out["llm.spill_bytes"] = work(is_llm, "spill_bytes") / n
    out["functions.vector_exec_ms"] = dur("llm.ann_topk") / n
    out["functions.task_cpu_ms"] = work(lambda name: name.startswith("llm.ann_topk"), "task_cpu_ms") / n

    # attribution: what no blocking span covers
    acc = op_accounting(spans, {i: o["ms"] for i, o in enumerate(ops)})
    out["unattributed_ms"] = sum(r["unattributed_ms"] for r in acc) / n
    return {k: out.get(k, 0.0) for k in names}
