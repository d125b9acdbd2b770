"""Statistics over one run's raw report and spans.

Pure functions over plain data, so the arithmetic is unit-tested on its own
(`test_metrics.py`): percentiles, failure accounting, span self time, the
end-to-end metrics of an untraced run and the per-layer metrics of a traced
run.
"""
import math
import statistics

# percentiles a latency report may state, lowest first
PERCENTILES = (50.0, 90.0, 99.0, 99.9)

# Set-up ends with this many untimed warm-up passes after the cold pass.
WARMUP_PASSES = 1
# pass_s and heap_live_mb are taken over this many untraced steady passes,
# the first ones after set-up, so the sample does not grow with how many
# passes fit in the measuring window
PASS_SAMPLES = 3


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of the
    samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    v = sorted(values)
    return v[max(0, math.ceil(p / 100.0 * len(v)) - 1)]


def highest_supported(values, tail=10):
    """The highest of PERCENTILES with at least `tail` samples beyond it, as
    (percentile, value, sample count); (None, None, count) when even the
    median has fewer than `tail` samples above it."""
    n = len(values)
    best = None
    for p in PERCENTILES:
        if n - math.ceil(round(p * n / 100.0, 6)) >= tail:
            best = p
    return (best, percentile(values, best) if best else None, n)


def failures(records, wrong):
    """(attempted, failed, causes) over op records. A thrown execution counts
    once per execution; a wrong result counts once per operation, unless that
    operation's checked (cold-pass) execution already threw."""
    attempted = len(records)
    causes = {}
    for r in records:
        if not r["ok"]:
            causes.setdefault(r["op"], r.get("error") or "unknown error")
    thrown = sum(1 for r in records if not r["ok"])
    cold_thrown = {r["op"] for r in records if not r["ok"] and r["pass"] == 0}
    extra = {op: why for op, why in wrong.items() if op not in cold_thrown}
    for op, why in extra.items():
        causes.setdefault(op, why)
    return attempted, thrown + len(extra), causes


def covered(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval its children cover
    (children run in parallel, so their union counts, not their sum)."""
    s, e = span["start_us"], span["end_us"]
    clipped = [(max(s, c["start_us"]), min(e, c["end_us"])) for c in children
               if c["end_us"] > s and c["start_us"] < e]
    return (e - s) - covered(clipped)


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def steady(report, traced=None):
    return [p for p in report["passes"] if not p["cold"] and not p["warmup"]
            and (traced is None or p["traced"] == traced)]


def steady_ops(report):
    """Op records of the steady passes."""
    idx = {p["index"] for p in steady(report)}
    return [r for r in report["ops"] if r["pass"] in idx]


def end_to_end(report):
    """The end-to-end metrics of one run, and their sample counts.

    pass_s is the median wall time of the run's first PASS_SAMPLES steady
    passes, and heap_live_mb the median heap those passes left live (in
    use after the full collections that end each pass); any later passes
    the window allows feed only the summary. The peak heap in use after
    any collection during a pass (heap_peak_mb), and op latency
    percentiles, are reported beside the metrics without a bound. The peak
    samples where the old generation stands in its fill-and-collect cycle,
    so it spreads by a fifth between runs. A run has a few dozen op
    samples from a handful of distinct operations, fewer than ten beyond
    the p90, and its median jumps between operations."""
    passes = steady(report)
    sampled = sorted(steady(report, traced=False), key=lambda p: p["index"])[:PASS_SAMPLES]
    lat = [r["seconds"] for r in steady_ops(report) if r["ok"]]
    p, pv, n = highest_supported(lat)
    return {
        "setup_s": report["setup_s"],
        "pass_s": _median(q["seconds"] for q in sampled),
        "heap_live_mb": _median(q["heap_live_mb"] for q in sampled),
    }, {"passes": len(passes), "pass_s_passes": len(sampled), "ops": n,
        "heap_peak_mb": max(q["heap_peak_mb"] for q in sampled),
        "highest_percentile": p, "highest_percentile_s": pv,
        "op_p50_s": percentile(lat, 50), "op_p90_s": percentile(lat, 90)}


def attach(spans):
    """Give jobs and stream batches recorded without a parent the span whose
    interval contains their start: jobs go under the op, batches under the
    drive's registry call."""
    ops = [s for s in spans if s["kind"] == "op"]
    calls = [s for s in spans if s["kind"] == "registry.call"]

    def container(t, pool):
        hits = [c for c in pool if c["start_us"] <= t <= c["end_us"]]
        return min(hits, key=lambda c: c["end_us"] - c["start_us"])["id"] if hits else -1

    for s in spans:
        if s["parent"] == -1 and s["kind"] == "job":
            s["parent"] = container(s["start_us"], ops)
        elif s["parent"] == -1 and s["kind"] == "batch":
            s["parent"] = container(s["start_us"], calls)
    return spans


END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_live_mb": "MB"}

# per-layer metrics by module, with their units
PER_LAYER = {
    # graft (Registry / Tables)
    "tables.cache_s": "s", "registry.call_s": "s", "registry.cold_s": "s",
    # plans + GraftExtensions
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "plan.exchanges": "count", "plan.sorts": "count", "plan.generates": "count",
    "plan.bnl_joins": "count", "plan.non_codegen_ops": "count", "plan.scans": "count",
    # ops / functions: the work in tasks
    "exec.s": "s", "jobs": "count", "stages": "count", "tasks": "count",
    "task.run_s": "s", "task.cpu_s": "s", "task.gc_s": "s", "task.busy_frac": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes", "spill.bytes": "bytes",
    "task.peak_mem_bytes": "bytes",
    # sources (ManifestTable)
    "manifest.commit_append_s": "s", "manifest.commit_insert_s": "s",
    "manifest.commit_merge_s": "s", "manifest.commit_delete_s": "s",
    "manifest.commit_compact_s": "s", "manifest.files_added": "count",
    "manifest.bytes_added": "bytes", "manifest.scan_s": "s", "manifest.bytes_read": "bytes",
    "manifest.rows_read_frac": "ratio", "commit_rows_per_s": "rows/s",
    "store_bytes_per_row": "bytes/row", "scan_p50_ms": "ms",
    # streaming (StreamDrive)
    "stream.batches": "count", "stream.empty_batches": "count",
    "stream.latest_offset_s": "s", "stream.get_batch_s": "s",
    "stream.query_planning_s": "s", "stream.add_batch_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s", "stream.state_commit_s": "s", "stream.state_rows_updated": "count",
    "stream.state_bytes": "bytes", "stream.lifecycle_s": "s",
    "batch_p50_ms": "ms", "batch_p90_ms": "ms",
    # pipeline (BlockRuntime / GraphLoader)
    "pipeline.call_s": "s", "pipeline.jobs": "count",
    # util / JVM
    "session.build_s": "s", "jvm.jit_s": "s", "codegen.compile_s": "s", "jvm.gc_s": "s",
    # self time of the benchmark's own spans, and the trace's cost
    "self.op_s": "s", "self.registry_call_s": "s", "self.plan_s": "s", "self.exec_s": "s",
    "self.commit_s": "s",
    "trace.pass_s": "s", "trace.untraced_pass_s": "s", "trace.overhead_s": "s",
}

UNITS = {**END_TO_END, **PER_LAYER}

_STREAM_MS = {"stream.latest_offset_s": "ms.latestOffset", "stream.get_batch_s": "ms.getBatch",
              "stream.query_planning_s": "ms.queryPlanning", "stream.add_batch_s": "ms.addBatch",
              "stream.wal_commit_s": "ms.walCommit", "stream.commit_offsets_s": "ms.commitOffsets"}


_SELF = {"registry.call": "self.registry_call_s", "plan": "self.plan_s",
         "exec": "self.exec_s", "commit": "self.commit_s"}


def _pass_layers(report, by_id, children, pass_index, cores):
    """Per-layer sums over one traced steady pass."""
    recs = [r for r in report["ops"] if r["pass"] == pass_index]
    out = {k: 0.0 for k in PER_LAYER}

    def below(root_id, kind):
        found, todo = [], [root_id]
        while todo:
            for c in children.get(todo.pop(), ()):
                if c["kind"] == kind:
                    found.append(c)
                todo.append(c["id"])
        return found

    busy_ms = 0.0
    for r in recs:
        op = by_id[r["span"]]
        kids = children.get(op["id"], [])
        steps = [k for k in kids if k["kind"] in _SELF]
        jobs = below(op["id"], "job")
        # the op's own time outside its steps; a step's own time outside
        # the jobs that ran inside it (jobs hang under the op that launched
        # them, so they are clipped to the step's interval)
        out["self.op_s"] += self_time(op, steps) / 1e6
        for k in steps:
            out[_SELF[k["kind"]]] += self_time(k, children.get(k["id"], []) + jobs) / 1e6
        out["registry.call_s"] += r.get("call_s", 0.0)
        out["exec.s"] += r.get("exec_s", 0.0)
        for phase, ms in (r.get("phases_ms") or {}).items():
            if "plan." + phase + "_s" in out:
                out["plan." + phase + "_s"] += ms / 1e3
        for k, v in (r.get("census") or {}).items():
            out["plan." + k] += v
        stages = below(op["id"], "stage")
        tasks = below(op["id"], "task")
        out["jobs"] += len(jobs)
        out["stages"] += len(stages)
        out["tasks"] += len(tasks)
        attrs = [t.get("attrs", {}) for t in tasks]
        out["task.run_s"] += sum(a.get("run_ms", 0) for a in attrs) / 1e3
        out["task.cpu_s"] += sum(a.get("cpu_ns", 0) for a in attrs) / 1e9
        out["task.gc_s"] += sum(a.get("gc_ms", 0) for a in attrs) / 1e3
        out["shuffle.write_bytes"] += sum(a.get("shuffle_write_bytes", 0) for a in attrs)
        out["shuffle.read_bytes"] += sum(a.get("shuffle_read_bytes", 0) for a in attrs)
        out["spill.bytes"] += sum(a.get("spill_bytes", 0) for a in attrs)
        out["task.peak_mem_bytes"] = max([out["task.peak_mem_bytes"]]
                                         + [a.get("peak_mem_bytes", 0) for a in attrs])
        execs = [k for k in kids if k["kind"] == "exec"]
        for j in jobs:
            if any(e["start_us"] <= j["start_us"] <= e["end_us"] for e in execs):
                busy_ms += sum(t.get("attrs", {}).get("run_ms", 0)
                               for t in below(j["id"], "task"))
        if r["op"].startswith("pipeline_"):
            out["pipeline.call_s"] += r.get("call_s", 0.0)
            out["pipeline.jobs"] += len(jobs)
        step = r.get("step")
        if step in ("append", "insert", "merge", "delete", "compact"):
            out[f"manifest.commit_{step}_s"] += r["seconds"]
            out["manifest.files_added"] += r["files_added"]
            out["manifest.bytes_added"] += r["bytes_added"]
        elif step in ("scan", "travel"):
            out["manifest.scan_s"] += r["seconds"]
            out["manifest.bytes_read"] += r["bytes_read"]
        batches = [b for c in kids if c["kind"] == "registry.call"
                   for b in children.get(c["id"], []) if b["kind"] == "batch"]
        if batches:
            battrs = [b.get("attrs", {}) for b in batches]
            out["stream.batches"] += len(batches)
            out["stream.empty_batches"] += sum(1 for a in battrs if a.get("input_rows", 0) == 0)
            for key, ms in _STREAM_MS.items():
                out[key] += sum(a.get(ms, 0) for a in battrs) / 1e3
            out["stream.state_commit_s"] += sum(a.get("state_commit_ms", 0) for a in battrs) / 1e3
            out["stream.state_rows_updated"] += sum(a.get("state_rows_updated", 0) for a in battrs)
            out["stream.state_bytes"] += max(a.get("state_bytes", 0) for a in battrs)
            trig = sum(a.get("ms.triggerExecution", 0) for a in battrs) / 1e3
            out["stream.lifecycle_s"] += r.get("call_s", 0.0) - trig
    if out["exec.s"] > 0:
        out["task.busy_frac"] = busy_ms / 1e3 / (out["exec.s"] * cores)
    commits = [r for r in recs if r.get("step") in ("append", "insert", "merge", "delete", "compact")]
    if commits:
        out["commit_rows_per_s"] = sum(r["rows"] for r in commits) / sum(r["seconds"] for r in commits)
    scans = [r for r in recs if r.get("step") == "scan"]
    if scans:
        out["scan_p50_ms"] = percentile([r["seconds"] * 1e3 for r in scans], 50)
    return out


def per_layer(report, spans, cores, live_rows=None):
    """Per-layer metrics of a traced run: per-pass sums over the traced
    steady passes (median across them), set-up figures, and the tracing
    overhead against the run's own untraced passes."""
    spans = attach(spans)
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    traced = steady(report, traced=True)
    traced_ids = {p["span"] for p in traced}
    rows = [_pass_layers(report, by_id, children, p["index"], cores) for p in traced]
    out = {k: _median(r[k] for r in rows) for k in PER_LAYER}
    # stream batches and scan pruning across all traced passes
    trig = [b["attrs"].get("ms.triggerExecution", 0) for b in spans if b["kind"] == "batch"
            and b.get("attrs") and (_ancestor(b, by_id, "pass") or {}).get("id") in traced_ids]
    if trig:
        out["batch_p50_ms"] = percentile(trig, 50)
        out["batch_p90_ms"] = percentile(trig, 90)
    scans = [r for r in report["ops"] if r.get("step") in ("scan", "travel")
             and r["pass"] in {p["index"] for p in traced}]
    if scans and live_rows:
        ids = {r["span"] for r in scans}
        read = sum(t.get("attrs", {}).get("records_read", 0) for t in spans
                   if t["kind"] == "task" and (_ancestor(t, by_id, "op") or {}).get("id") in ids)
        out["manifest.rows_read_frac"] = read / (live_rows * len(scans))
    stores = report["ingest"].get("store_bytes", [])
    if stores and live_rows:
        out["store_bytes_per_row"] = _median(stores) / live_rows
    calls = {}
    for r in report["ops"]:
        if "call_s" in r and r["ok"]:
            calls.setdefault(r["op"], {})[r["pass"]] = r["call_s"]
    steady_idx = {p["index"] for p in steady(report)}
    out["registry.cold_s"] = sum(
        c[0] - _median(v for k, v in c.items() if k in steady_idx) for c in calls.values()
        if 0 in c and steady_idx & set(c))
    n_steady = len(steady(report))
    out["tables.cache_s"] = report["tables_cache_s"]
    out["session.build_s"] = report["session_build_s"]
    out["jvm.jit_s"] = report["setup_jit_s"]
    out["codegen.compile_s"] = report["setup_codegen_s"]
    out["jvm.gc_s"] = (report["gc_s"] - report["setup_gc_s"]) / max(1, n_steady)
    out["trace.pass_s"] = _median(p["seconds"] for p in traced)
    out["trace.untraced_pass_s"] = _median(p["seconds"] for p in steady(report, traced=False))
    out["trace.overhead_s"] = out["trace.pass_s"] - out["trace.untraced_pass_s"]
    return out


def pass_shares(layers):
    """Share of the traced pass taken by each top-level step, to confirm a
    workload's dominant layer."""
    total = layers["trace.pass_s"] or 1.0
    commit = sum(v for k, v in layers.items() if k.startswith("manifest.commit_"))
    return {"registry.call": layers["registry.call_s"] / total,
            "plan": layers["self.plan_s"] / total,
            "exec": layers["exec.s"] / total,
            "manifest.commit": commit / total,
            "manifest.scan": layers["manifest.scan_s"] / total}


def _ancestor(span, by_id, kind):
    """The nearest enclosing span of `kind`, or None."""
    while span is not None and span["kind"] != kind:
        span = by_id.get(span["parent"])
    return span
