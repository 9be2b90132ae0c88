"""Metric arithmetic over what one benchmark JVM recorded (raw.json).

Pure functions only, so the tests in test_metrics.py can pin them on
synthetic inputs. Times in raw.json are epoch milliseconds.
"""
import math
import statistics

END_TO_END = {
    "setup_s": "s", "makespan_s": "s", "req_geomean_s": "s", "live_heap_mb": "MB",
}

# Span name -> per-layer metric holding that span's self time.
SPAN_METRICS = {
    "delayed.build": "delayed.build_s", "delayed.compute": "delayed.compute_s",
    "delayed.submit": "delayed.submit_s", "delayed.gather": "delayed.gather_s",
    "core.iterate": "core.iterate_s", "streaming.call": "streaming.call_s",
    "array.gen": "array.gen_s", "array.multiply": "array.multiply_s",
    "array.factor": "array.factor_s",
    "operators.build": "operators.build_s", "operators.action": "operators.action_s",
    "sources.write": "sources.write_s", "sources.read": "sources.read_s",
    "ml.call": "ml.call_s",
    "pass": "trace.harness_s", "request": "trace.harness_s",
}

PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "spark.driver_gap_s": "s", "spark.parallelism": "ratio",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.fetch_wait_s": "s",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.result_mb": "MB",
    "spark.failed_tasks": "count",
    "delayed.nodes": "count", "delayed.build_s": "s", "delayed.compute_s": "s",
    "delayed.nodes_per_s": "1/s", "delayed.futures": "count", "delayed.submit_s": "s",
    "delayed.gather_s": "s",
    "core.session_s": "s", "core.iterate_s": "s", "core.iterate_jobs": "count",
    "streaming.batches": "count", "streaming.plan_s": "s", "streaming.add_batch_s": "s",
    "streaming.commit_s": "s", "streaming.call_s": "s",
    "array.gen_s": "s", "array.multiply_s": "s", "array.factor_s": "s", "array.gflops": "GFLOP/s",
    "operators.build_s": "s", "operators.eager_jobs": "count", "operators.action_s": "s",
    "sources.write_s": "s", "sources.read_s": "s", "sources.input_mb": "MB",
    "ml.call_s": "s",
    "catalyst.executions": "count", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "jvm.jit_s": "s", "jvm.cpu_s": "s",
    "trace.makespan_s": "s", "trace.harness_s": "s", "trace.self_sum_s": "s",
}


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end) intervals, clipped to [lo, hi)."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(window, jobs):
    """(job_busy, driver_gap) of a window: the union of the job intervals
    inside it, and the rest of the window, when no Spark job ran."""
    lo, hi = window
    busy = union_length([(j["start"], j["end"]) for j in jobs], lo, hi)
    return busy, (hi - lo) - busy


def self_times(spans):
    """Span id -> duration minus the part of it that child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def geomean(values):
    if not values or min(values) <= 0:
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def failed_frac(attempted, failed):
    return failed / attempted if attempted else 1.0


def _within(t, window):
    return window[0] <= t < window[1]


def pass_layers(raw, p, pass_span, spans, st):
    """Per-layer metrics of one timed pass."""
    win = (p["start"], p["end"])
    jobs = [j for j in raw["jobs"] if _within(j["start"], win)]
    stage_ids = {sid for j in jobs for sid in j["stages"]}
    stages = [s for s in raw["stages"] if s["id"] in stage_ids]
    busy, gap = driver_gap(win, jobs)
    m = dict.fromkeys(PER_LAYER, 0.0)
    run_s = sum(s["run_ms"] for s in stages) / 1e3
    m.update({
        "spark.jobs": len(jobs), "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.job_busy_s": busy / 1e3, "spark.driver_gap_s": gap / 1e3,
        "spark.parallelism": run_s / (busy / 1e3) if busy else 0.0,
        "spark.exec_run_s": run_s,
        "spark.exec_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / 1e6,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / 1e6,
        "spark.fetch_wait_s": sum(s["fetch_wait_ms"] for s in stages) / 1e3,
        "spark.spill_mb": sum(s["spill"] for s in stages) / 1e6,
        "spark.input_mb": sum(s["input"] for s in stages) / 1e6,
        "spark.result_mb": sum(s["result"] for s in stages) / 1e6,
        "spark.failed_tasks": sum(raw["failed_tasks"].get(str(sid), 0) for sid in stage_ids),
    })

    # Layer self times, and the jobs and bytes started inside layer spans.
    for s in spans:
        name = SPAN_METRICS.get(s["name"])
        if name:
            m[name] += st[s["id"]] / 1e3
    m["trace.self_sum_s"] = sum(st[s["id"]] for s in spans) / 1e3
    m["trace.makespan_s"] = (pass_span["end"] - pass_span["start"]) / 1e3

    def jobs_in(prefix):
        ws = [(s["start"], s["end"]) for s in spans if s["name"].startswith(prefix)]
        return [j for j in jobs if any(_within(j["start"], w) for w in ws)]
    m["core.iterate_jobs"] = len(jobs_in("core.iterate"))
    m["operators.eager_jobs"] = len(jobs_in("operators.build"))
    src_stages = {sid for j in jobs_in("sources.") for sid in j["stages"]}
    m["sources.input_mb"] = sum(s["input"] for s in stages if s["id"] in src_stages) / 1e6

    counts = raw["counts"]
    m["delayed.nodes"] = counts["delayed.nodes"]
    m["delayed.futures"] = counts["delayed.futures"]
    if m["delayed.compute_s"]:
        m["delayed.nodes_per_s"] = counts["delayed.nodes"] / m["delayed.compute_s"]
    gemm = [s for s in spans if s["name"] == "array.multiply"
            and raw["requests"][s["req"]]["name"] == "gemm"]
    if gemm:
        m["array.gflops"] = counts["array.gemm_flops"] / 1e9 / sum(
            (s["end"] - s["start"]) / 1e3 for s in gemm)

    batches = [b for b in raw["batches"] if _within(b["start"], win)]
    m.update({
        "streaming.batches": len(batches),
        "streaming.plan_s": sum(b["planning_ms"] for b in batches) / 1e3,
        "streaming.add_batch_s": sum(b["add_batch_ms"] for b in batches) / 1e3,
        "streaming.commit_s": sum(b["commit_ms"] for b in batches) / 1e3,
    })
    queries = [q for q in raw["queries"] if _within(q["start"], win)]
    m.update({
        "catalyst.executions": len(queries),
        "catalyst.analysis_s": sum(q["analysis_ms"] for q in queries) / 1e3,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q in queries) / 1e3,
        "catalyst.planning_s": sum(q["planning_ms"] for q in queries) / 1e3,
        "jvm.gc_s": p["gc_ms"] / 1e3, "jvm.gc_count": p["gc_count"], "jvm.jit_s": p["jit_ms"] / 1e3,
        "jvm.cpu_s": p["cpu_ms"] / 1e3,
        "core.session_s": (raw["session_end_ms"] - raw["session_start_ms"]) / 1e3,
    })
    return m


def compute(raw, spawn_ms):
    """End-to-end and (for a traced run) per-layer metrics of one run:
    each is the median over the run's timed passes, except setup_s (one
    per run) and live_heap_mb (the highest of the passes)."""
    timed = [p for p in raw["passes"] if p["timed"]]
    reqs = raw["requests"]
    per_pass = [[(r["end"] - r["start"]) / 1e3 for r in reqs if r["pass"] == p["index"]]
                for p in timed]
    e2e = {
        "setup_s": (raw["setup_end_ms"] - spawn_ms) / 1e3,
        "makespan_s": statistics.median((p["end"] - p["start"]) / 1e3 for p in timed),
        "req_geomean_s": statistics.median(geomean(x) for x in per_pass),
        "live_heap_mb": max(p["live_heap_mb"] for p in timed),
    }
    if not raw["traced"]:
        return e2e, None
    spans = raw["spans"]
    st = self_times(spans)
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] != -1:
            s = by_id[s["parent"]]
        return s
    pass_spans = [s for s in spans if s["name"] == "pass"]
    layers = []
    for p, ps in zip(raw["passes"], pass_spans):
        if p["timed"]:
            mine = [s for s in spans if root(s)["id"] == ps["id"]]
            layers.append(pass_layers(raw, p, ps, mine, st))
    return e2e, {k: statistics.median(m[k] for m in layers) for k in PER_LAYER}
