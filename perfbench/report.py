"""Metric arithmetic of the benchmark: everything between the harness's raw
records and spans and the numbers it prints. Pure functions, no I/O."""
import math
import statistics

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "query_p50_s": "s", "query_p90_s": "s",
    "throughput_qps": "1/s", "first_pass_s": "s", "retained_heap_mb": "MB",
}

# per-layer metric -> unit; values are per traced query unless noted
LAYER_UNITS = {
    "queries.build_s": "s", "queries.first_build_s": "s", "queries.build_jobs": "count",
    "queries.build_self_s": "s", "queries.self_s": "s",
    "spark.exec_s": "s", "spark.exec_self_s": "s", "spark.plan_s": "s",
    "spark.codegen_compiles": "count", "spark.codegen_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.sched_wait_s": "s",
    "streaming.batches": "count", "streaming.batch_s": "s", "streaming.plan_s": "s",
    "streaming.wal_s": "s", "streaming.commit_s": "s",
    "streaming.state_commit_s": "s", "streaming.state_rows": "count",
    "jvm.gc_s": "s", "jvm.safepoint_s": "s", "jvm.cpu_s": "s", "host.majflt": "count",
    # per pass end (median over traced passes)
    "core.cached_frames": "count", "spark.persisted_mb": "MB",
    # per run
    "trace.overhead_s": "s", "trace.coverage": "ratio",
}


def quartiles(values):
    """(q1, median, q3) as `statistics.quantiles(n=4)` gives them; a single
    value is its own quartiles."""
    xs = list(values)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def p90(values):
    """Nearest-rank 90th percentile and the number of samples above it.
    From 100 samples on, ten or more lie above it. With fewer the
    percentile stays p90 rather than dropping to one that leaves ten
    above: that would fall below the median under 20 samples, and the
    percentile reported would change with the sample count."""
    xs = sorted(values)
    v = xs[max(1, math.ceil(0.9 * len(xs))) - 1]
    return v, sum(1 for x in xs if x > v)


def fail_ratio(attempted, failed):
    """(failed + wrong-output) / attempted; `failed` counts both."""
    return failed / attempted if attempted else 0.0


def judge(records, oracle):
    """Marks every timed record ok or not, in place, and returns the failed
    ones. A record fails when its query raised, when the oracle rejected the
    reference output of its label, or when its output's fingerprint differs
    from that reference's: the fingerprint of the untimed re-execution that
    was written for the oracle, so the timed run of the reference itself is
    checked too. `oracle` maps label -> None (exact or close) or the first
    line of the mismatch."""
    ref = {r["label"]: r["ref_fingerprint"] for r in records if r.get("ref_fingerprint")}
    bad = []
    for r in records:
        label = r["label"]
        if r["error"]:
            why = r["error"]
        elif label not in ref:
            why = "no reference output"
        elif oracle.get(label, "not checked") is not None:
            why = "oracle: " + (oracle.get(label) or "not checked")
        elif r["fingerprint"] != ref[label]:
            why = f"output {r['fingerprint']} differs from the oracle-checked {ref[label]}"
        else:
            why = None
        r["ok"] = why is None
        if why is not None:
            bad.append({"label": label, "pass": r["pass"], "client": r["client"],
                        "why": why.splitlines()[0] if why else why})
    return bad


def end_to_end(records, passes):
    """End-to-end metrics of one run from its records and passes. Pass 0 is
    the first pass of a fresh session and shows only as `first_pass_s`; all
    other timed passes are steady samples (never a best-of)."""
    steady = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    steady_ids = {p["pass"] for p in steady}
    lat = [r["wall_s"] for r in records if r["pass"] in steady_ids and r["ok"]]
    walls = [p["wall_s"] for p in steady]
    correct = sum(1 for r in records if r["pass"] in steady_ids and r["ok"])
    tail, beyond = p90(lat) if lat else (float("nan"), 0)
    w1, w2, w3 = quartiles(walls)
    l1, l2, l3 = quartiles(lat) if lat else (float("nan"),) * 3
    return {
        "wall_s": w2,
        "query_p50_s": l2,
        "query_p90_s": tail,
        "throughput_qps": correct / sum(walls),
        "first_pass_s": next(p["wall_s"] for p in passes if p["pass"] == 0),
    }, {
        "passes_n": len(walls), "wall_q1_s": w1, "wall_q3_s": w3,
        "query_n": len(lat), "query_q1_s": l1, "query_q3_s": l3,
        "query_p90_beyond": beyond,
    }


def self_time(span, children):
    """Span wall minus the wall its children cover; overlapping children
    (concurrent stages, parallel clients) count once."""
    lo, hi = span["start_s"], span["end_s"]
    covered, cur_lo, cur_hi = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start_s"]):
        a, b = max(lo, c["start_s"]), min(hi, c["end_s"])
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def per_layer(spans, passes):
    """Per-layer metrics from the spans of the traced steady passes: totals
    divided by the number of their queries, unless the name says otherwise.
    The first pass, which fills the memos, shows only in
    `queries.first_build_s`."""
    spans = [s for s in spans if s["end_s"] is not None]
    first_builds = [s["end_s"] - s["start_s"] for s in spans
                    if s["pass"] == 0 and s["kind"] == "build"]
    spans = [s for s in spans if s["pass"] > 0]
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def phase_of(s):
        """'build' or 'exec' for a span under a query's phase span."""
        while s is not None and s["kind"] not in ("build", "exec"):
            s = by_id.get(s["parent"])
        return s["kind"] if s else None

    def total(kind, attr=None, phase=None):
        return sum((s["attrs"].get(attr, 0.0) if attr else 1.0)
                   for s in spans if s["kind"] == kind
                   and (phase is None or phase_of(s) == phase))

    def wall(s):
        return s["end_s"] - s["start_s"]

    def walls(kind):
        return sum(wall(s) for s in spans if s["kind"] == kind)

    def self_s(kind):
        return sum(self_time(s, kids.get(s["id"], [])) for s in spans if s["kind"] == kind)

    queries = [s for s in spans if s["kind"] == "query"]
    n = max(1, len(queries))
    phases = [s for s in spans if s["kind"] in ("build", "exec")]
    traced = [p for p in passes if p["traced"] and p["pass"] > 0]
    host = {k: sum(p["host"].get(k, 0.0) for p in traced)
            for k in ("gc_s", "safepoint_s", "cpu_s", "majflt")}
    # each traced pass against the mean of the untraced passes on either
    # side, which cancels the speed-up that runs through the steady passes
    wall_of = {p["pass"]: p["wall_s"] for p in passes if not p["traced"] and p["pass"] > 0}
    overheads = [p["wall_s"] - (wall_of[p["pass"] - 1] + wall_of[p["pass"] + 1]) / 2
                 for p in traced if p["pass"] - 1 in wall_of and p["pass"] + 1 in wall_of]
    covered = sum(1 for q in queries
                  if sum(wall(c) for c in kids.get(q["id"], [])) >= 0.9 * wall(q))

    def phase_attr(attr):
        return sum(s["attrs"].get(attr, 0.0) for s in phases)

    m = {
        "queries.build_s": walls("build"),
        "queries.build_jobs": total("job", phase="build"),
        "queries.build_self_s": self_s("build"),
        "queries.self_s": self_s("query"),
        "spark.exec_s": walls("exec"),
        "spark.exec_self_s": self_s("exec"),
        "spark.plan_s": phase_attr("plan_s"),
        "spark.codegen_compiles": phase_attr("codegen_compiles"),
        "spark.codegen_s": phase_attr("codegen_s"),
        "spark.jobs": total("job"),
        "spark.stages": total("stage"),
        "spark.tasks": total("stage", "tasks"),
        "spark.task_cpu_s": total("stage", "task_cpu_s"),
        "spark.task_run_s": total("stage", "task_run_s"),
        "spark.shuffle_read_mb": total("stage", "shuffle_read_mb"),
        "spark.shuffle_write_mb": total("stage", "shuffle_write_mb"),
        "spark.spill_mb": total("stage", "spill_mb"),
        "spark.sched_wait_s": total("stage", "sched_wait_s"),
        "streaming.batches": total("batch"),
        "streaming.batch_s": total("batch", "batch_s"),
        "streaming.plan_s": total("batch", "plan_s"),
        "streaming.wal_s": total("batch", "wal_s"),
        "streaming.commit_s": total("batch", "commit_s"),
        "streaming.state_commit_s": total("batch", "state_commit_s"),
        "streaming.state_rows": total("batch", "state_rows"),
        "jvm.gc_s": host["gc_s"],
        "jvm.safepoint_s": host["safepoint_s"],
        "jvm.cpu_s": host["cpu_s"],
        "host.majflt": host["majflt"],
    }
    m = {k: v / n for k, v in m.items()}
    m["queries.first_build_s"] = sum(first_builds) / max(1, len(first_builds))
    m["core.cached_frames"] = statistics.median(p["cached_frames"] for p in traced)
    m["spark.persisted_mb"] = statistics.median(p["persisted_mb"] for p in traced)
    m["trace.overhead_s"] = statistics.median(overheads) if overheads else 0.0
    m["trace.coverage"] = covered / n
    return m
