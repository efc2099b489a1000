"""Pure functions that turn the JVM's raw measurements into the
benchmark's end-to-end and per-layer metrics. No I/O, so the self-tests in
perfbench/tests exercise them directly.
"""
import math
import re

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

# Spark call-site file -> module. A job belongs to the innermost frame of
# its call site that lies in one of these files; anything else is "other".
MODULE_FILES = {
    "Pipelines.scala": "Pipelines",
    "FinanceOps.scala": "FinanceOps",
    "RelationalOps.scala": "RelationalOps",
    "DedupOps.scala": "DedupOps",
    "TextOps.scala": "TextOps",
    "SimilarityOps.scala": "SimilarityOps",
    "IngestOps.scala": "IngestOps",
    "Tables.scala": "Tables",
    "StreamingOps.scala": "StreamingOps",
    "SparkEntry.scala": "SparkEntry",
}
MODULES = list(MODULE_FILES.values()) + ["other"]

_FRAME_FILE = re.compile(r"\(([A-Za-z0-9_$]+\.scala):\d+\)|\bat ([A-Za-z0-9_$]+\.scala):\d+")


def valid_name(name):
    return bool(NAME_RE.match(name))


def median(xs):
    xs = sorted(xs)
    if not xs:
        raise ValueError("median of no samples")
    n = len(xs)
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail(xs, min_beyond=10, ladder=(99.9, 99, 95, 90, 75, 50)):
    """The highest percentile of `ladder` with at least `min_beyond`
    samples strictly above its nearest-rank value, as (p, value); None when
    not even the median has that many samples beyond it.
    """
    xs = sorted(xs)
    n = len(xs)
    for p in ladder:
        idx = max(0, math.ceil(p / 100 * n) - 1)
        if n and sum(1 for x in xs if x > xs[idx]) >= min_beyond:
            return p, xs[idx]
    return None


def module_of(call_sites, span_name=""):
    """Module of a job. The innermost frame of its call sites (the job's
    own, then its SQL execution's) that lies in a module file decides; a
    job whose action was issued by the benchmark itself belongs to the
    module of the benchmark span it ran in; anything else is "other".
    """
    for text in call_sites:
        for m in _FRAME_FILE.finditer(text or ""):
            f = m.group(1) or m.group(2)
            if f in MODULE_FILES:
                return MODULE_FILES[f]
    head = span_name.split(".")[0]
    return head if head in MODULE_FILES.values() else "other"


def innermost_span(spans, t):
    """Name of the latest-starting span that contains time `t`, or ""."""
    inside = [s for s in spans if s["start"] <= t <= s["end"]]
    return max(inside, key=lambda s: (s["start"], s["id"]))["name"] if inside else ""


def attribute_busy(intervals):
    """Splits the union of job intervals among the jobs: each stretch of
    time is shared equally by the jobs running in it, so the shares sum to
    the union (the driver's busy time) even when jobs overlap.
    `intervals` maps key -> (start, end); returns key -> share.
    """
    events = []
    for k, (s, e) in intervals.items():
        if e > s:
            events.append((s, 1, k))
            events.append((e, -1, k))
    events.sort(key=lambda x: (x[0], x[1]))
    share = {k: 0.0 for k in intervals}
    running = set()
    last = None
    for t, kind, k in events:
        if running and last is not None and t > last:
            part = (t - last) / len(running)
            for r in running:
                share[r] += part
        last = t
        if kind == 1:
            running.add(k)
        else:
            running.discard(k)
    return share


def count_ops(result, oracle_ok):
    """(attempted, failed). Every timed step execution and every final
    check is one op. A step fails if it raised or its output differed from
    the run's first output of that step; if that first output disagrees
    with the DuckDB oracle, every execution of the step counts as failed.
    """
    attempted = failed = 0
    rounds = [{"steps": result.get("warm_up", [])}] + result["iterations"]
    for it in rounds:
        for st in it["steps"]:
            attempted += 1
            wrong = oracle_ok.get(st["name"]) is False
            if not st["ok"] or wrong:
                failed += 1
    for c in result["checks"]:
        if "ok" in c:
            attempted += 1
            failed += 0 if c["ok"] else 1
    return attempted, failed


def run_seconds(iterations, kind=None):
    """Summed step seconds of each iteration, over steps of `kind` only
    when given."""
    return [sum(s["seconds"] for s in it["steps"] if kind is None or s["kind"] == kind)
            for it in iterations]


def end_to_end(result):
    """Per-iteration samples of a tracing-off run -> end-to-end figures
    (seconds unless named). run_s, read_s and write_s come from the closed
    ("nightly") loop; the increment latency from the open ("daily") loop
    when the workload has one, else from the closed loop, where an
    iteration is due when the previous one ends.
    """
    its = [it for it in result["iterations"] if it["loop"] == "nightly"]
    days = [it for it in result["iterations"] if it["loop"] == "daily"] or its
    lat = [it["latency_s"] for it in days]
    return {
        "setup_s": result["setup_s"],
        "run_s": median(run_seconds(its)),
        "read_s": median(run_seconds(its, "read")),
        "write_s": median(run_seconds(its, "write")),
        "increment_p50_s": median(lat),
        "peak_rss_mb": result["peak_rss_mb"],
        "heap_retained_mb": result["heap_retained_mb"],
        "_samples": {"setup_s": 1, "run_s": len(its), "increment": len(lat)},
        "_tails": {"run_s": tail(run_seconds(its)), "increment": tail(lat)},
        "_schedule_lag_s": median([it["lag_s"] for it in days]),
    }


def _steps(result, traced=True, loop=None):
    return [s for it in result["iterations"] if loop in (None, it["loop"])
            for s in it["steps"] if s["traced"] == traced]


def _windows(result):
    """(start_ms, end_ms) of every traced step."""
    return [(s["start_ms"], s["end_ms"]) for s in _steps(result)]


def _inside(t, windows):
    return any(s <= t <= e for s, e in windows)


def layers(result):
    """Per-layer figures of a traced run: totals over its traced steps
    (the benchmark's own output checks do not count). These are each
    closed-loop step once, half of them from each of two iterations, and
    every step of the open loop's slices, whose number the seeded schedule
    and `--seconds` fix; their count is reported as trace.steps. The
    tracing overhead is the traced closed-loop steps' summed time minus
    the untraced ones', which are the same steps in the other iteration.
    """
    tr = result["trace"]
    win = _windows(result)
    jobs = [j for j in tr.get("jobs", []) if _inside(j["start"], win)]
    for j in jobs:
        end = j.get("end", j["start"])
        close = min(e for s, e in win if s <= j["start"] <= e)
        j["_iv"] = (j["start"] / 1e3, min(end, close) / 1e3)
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr.get("stages", []) if s["id"] in stage_ids]
    queries = [q for q in tr.get("queries", []) if _inside(q["t"], win)]
    blocks = [b for b in tr.get("blocks", []) if _inside(b["t"], win)]
    # streaming runs only in the open loop, which starts after its warm-up slice
    days = [s["start_ms"] for s in _steps(result, loop="daily")]
    prog = [p for p in tr.get("streaming", []) if days and p["t"] >= min(days)]
    execs = tr.get("executions", {})
    spans = tr.get("spans", [])

    def ssum(key):
        return sum(s.get(key, 0) for s in stages)

    share = attribute_busy({j["id"]: j["_iv"] for j in jobs})
    busy = sum(share.values())
    step_wall = sum(e - s for s, e in win) / 1e3
    out = {
        "GraftSession.create_s": result["create_s"],
        "sources.input_bytes": ssum("input_bytes"),
        "sources.input_rows": ssum("input_rows"),
        "sources.output_bytes": ssum("output_bytes"),
        "sources.output_rows": ssum("output_rows"),
        "plan.analysis_ms": sum(q["analysis_ms"] for q in queries),
        "plan.optimization_ms": sum(q["optimization_ms"] for q in queries),
        "plan.planning_ms": sum(q["planning_ms"] for q in queries),
        "driver.jobs": len(jobs),
        "driver.stages": len(stages),
        "driver.tasks": ssum("tasks"),
        "driver.busy_s": busy,
        "driver.gap_s": max(0.0, step_wall - busy),
        "driver.broadcast_jobs": sum(1 for j in jobs
                                     if j.get("description", "").startswith("broadcast exchange")),
        "exec.task_run_s": ssum("run_ms") / 1e3,
        "exec.task_cpu_s": ssum("cpu_ns") / 1e9,
        "exec.gc_s": ssum("gc_ms") / 1e3,
        "exec.peak_mem_bytes": max([s.get("peak_mem_bytes", 0) for s in stages] or [0]),
        "exec.task_skew": (sum(s["skew"] for s in stages if s.get("tasks", 0) >= 2)
                           / max(1, sum(1 for s in stages if s.get("tasks", 0) >= 2))),
        "shuffle.write_bytes": ssum("shuffle_write_bytes"),
        "shuffle.read_bytes": ssum("shuffle_read_bytes"),
        "shuffle.fetch_wait_ms": ssum("fetch_wait_ms"),
        "spill.disk_bytes": ssum("spill_disk_bytes"),
        "spill.memory_bytes": ssum("spill_memory_bytes"),
        "cache.stored_bytes": sum(b["bytes"] for b in blocks),
        "cache.blocks": len(blocks),
        "streaming.batches": len(prog),
        "streaming.batch_ms": median([p["batch_ms"] for p in prog]) if prog else 0.0,
        "streaming.input_rows_per_s": median([p["rows_per_s"] for p in prog]) if prog else 0.0,
    }
    mv = [c for c in result["checks"] if c.get("step") == "mv_final_state"]
    out["streaming.state_versions"] = mv[0]["state_versions"] if mv else 0
    out["streaming.state_bytes"] = mv[0]["state_bytes"] if mv else 0
    module = {j["id"]: module_of([j.get("call_long"), j.get("call_short"),
                                  execs.get(j.get("execution_id", ""), "")],
                                 innermost_span(spans, j["start"]))
              for j in jobs}
    for m in MODULES:
        mine = [j for j in jobs if module[j["id"]] == m]
        out[f"{m}.jobs"] = len(mine)
        out[f"{m}.busy_s"] = sum(share[j["id"]] for j in mine)
    out["trace.steps"] = len(_steps(result))
    for key, traced in (("trace.run_s", True), ("trace.untraced_run_s", False)):
        out[key] = sum(s["seconds"] for s in _steps(result, traced, "nightly"))
    out["trace.overhead_s"] = out["trace.run_s"] - out["trace.untraced_run_s"]
    return out
