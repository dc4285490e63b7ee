"""Turns the raw record of one benchmark run into metrics.

Kept free of I/O so that perfbench/tests can check the arithmetic.
"""
import math
import statistics

TAIL_BEYOND = 10  # samples a reported tail percentile must have above it
# query_tail_s's percentile: the highest with TAIL_BEYOND samples above it
# over seven passes of five queries (tail_samples_needed(70) == 35)
TAIL_PCT = 70

# per-query counters that are peaks, combined by max rather than sum
PEAKS = {"exec.peak_task_mem_bytes", "cache.peak_bytes"}

LAYER_COUNTERS = [
    "build.ms", "build.jobs", "build.tasks",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.graft_rule_ms",
    "exec.jobs", "exec.stages", "exec.stages_skipped", "exec.tasks",
    "exec.tasks_failed", "exec.run_ms", "exec.cpu_ms", "exec.gc_ms",
    "exec.sched_wait_ms", "exec.peak_task_mem_bytes", "exec.spill_bytes",
    "exec.oversized_tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "cache.peak_bytes", "cache.blocks_written", "cache.left_rdds",
    "cache.left_bytes",
    "streaming.batches", "streaming.rows", "streaming.batch_ms",
    "sources.input_bytes", "sources.output_bytes",
]

# span names whose self time is reported, as self.<group>_ms
SELF_GROUPS = {"query": "query", "build": "build", "execute": "execute",
               "plans.analysis": "plans", "plans.optimization": "plans",
               "plans.planning": "plans", "job": "job", "stage": "stage",
               "clear_cache": "clear_cache"}


def unit(name):
    """The unit of a per-layer metric, from its name."""
    for suffix, u in (("ms", "ms"), ("bytes", "bytes"), ("ratio", "ratio"), ("s", "s")):
        if name.endswith(("_" + suffix, "." + suffix)):
            return u
    return "count"


def tail_rank(n, pct):
    """1-based nearest rank of the pct-th percentile of n samples."""
    return max(1, math.ceil(pct / 100.0 * n))


def tail_samples_needed(pct):
    """Fewest samples whose pct-th percentile has TAIL_BEYOND samples above."""
    n = TAIL_BEYOND + 1
    while n - tail_rank(n, pct) < TAIL_BEYOND:
        n += 1
    return n


def tail(values, pct):
    """The pct-th percentile (nearest rank); refuses too few samples."""
    xs = sorted(values)
    k = tail_rank(len(xs), pct)
    if len(xs) - k < TAIL_BEYOND:
        raise ValueError(f"p{pct} of {len(xs)} samples has {len(xs) - k} "
                         f"above it, fewer than {TAIL_BEYOND}")
    return xs[k - 1]


def covered(interval, others):
    """Length of the part of `interval` that the union of `others` covers."""
    lo, hi = interval
    clipped = sorted((max(lo, s), min(hi, e)) for s, e in others if min(hi, e) > max(lo, s))
    total, end = 0, lo
    for s, e in clipped:
        s = max(s, end)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """Span id -> self time in microseconds: the span's duration minus the
    part of its interval that its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_us"], s["end_us"]))
    return {s["id"]: (s["end_us"] - s["start_us"])
            - covered((s["start_us"], s["end_us"]), children.get(s["id"], []))
            for s in spans}


def passes(executions, traced):
    """Timed warm pass number -> its executions, for traced or untraced
    passes. The cold pass (0) and settling passes are not timed."""
    out = {}
    for e in executions:
        if e["pass"] > 0 and not e.get("settle") and e["traced"] == traced:
            out.setdefault(e["pass"], []).append(e)
    return out


def errors(executions, checks):
    """(attempted, failed, names of failing queries). An execution fails
    when it threw; a cold execution also fails when its output did not
    match the oracle (`checks`: query name -> None if it matched, else
    the reason)."""
    bad = set()
    failed = 0
    for e in executions:
        wrong = e["pass"] == 0 and e["ok"] and checks.get(e["name"]) is not None
        if not e["ok"] or wrong:
            failed += 1
            bad.add(e["name"])
    return len(executions), failed, sorted(bad)


def end_to_end(executions, setup_s, vm_hwm_kb, checks):
    """The end-to-end metrics of one untraced run, name -> (value, unit)."""
    warm = passes(executions, traced=False)
    samples = [e["total_s"] for p in warm.values() for e in p]
    attempted, failed, _ = errors(executions, checks)
    return {
        "setup_s": (setup_s, "s"),
        "cold_wall_s": (sum(e["total_s"] for e in executions if e["pass"] == 0), "s"),
        "wall_s": (statistics.median(sum(e["total_s"] for e in p) for p in warm.values()), "s"),
        "query_p50_s": (statistics.median(samples), "s"),
        "query_tail_s": (tail(samples, TAIL_PCT), "s"),
        "peak_rss_mb": (vm_hwm_kb / 1024.0, "MB"),
        "error_rate": (failed / attempted, "ratio"),
    }


def per_layer(executions, counters, spans, workload):
    """Per-layer metrics of one traced run: each counter summed over a
    traced warm pass (peaks: the pass maximum), median over those passes;
    plus each layer's self time and the tracing overhead."""
    traced = passes(executions, traced=True)
    if not traced:
        raise ValueError("no traced warm pass ran")
    selfs = self_times(spans)
    per_pass = []
    for p, ex in sorted(traced.items()):
        qids = {f"{workload}/{p}/{e['name']}" for e in ex}
        m = {}
        for k in LAYER_COUNTERS + ["plans.graft_rule_runs", "plans.graft_rule_effective_runs"]:
            vals = [counters.get(q, {}).get(k, 0.0) for q in qids]
            m[k] = max(vals) if k in PEAKS else sum(vals)
        for g in set(SELF_GROUPS.values()):
            m[f"self.{g}_ms"] = 0.0
        for s in spans:
            if s["qid"] in qids and s["name"] in SELF_GROUPS:
                m[f"self.{SELF_GROUPS[s['name']]}_ms"] += selfs[s["id"]] / 1e3
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    runs = out.pop("plans.graft_rule_runs")
    eff = out.pop("plans.graft_rule_effective_runs")
    out["plans.graft_rule_effective_ratio"] = eff / runs if runs else 0.0
    seen = out["exec.stages"] + out["exec.stages_skipped"]
    out["exec.stage_reuse_ratio"] = out["exec.stages_skipped"] / seen if seen else 0.0
    wall = {t: statistics.median(sum(e["total_s"] for e in p)
                                 for p in passes(executions, traced=t).values())
            for t in (True, False)}
    out["trace.overhead_s"] = wall[True] - wall[False]
    return out
