"""Metric math over one run's raw harness record.

Pure functions only: `run.py` feeds them the JSON the Scala harness
writes, and `tests/test_metrics.py` feeds them synthetic events.
Times in the raw record are epoch milliseconds for spans, jobs, stages
and SQL executions, and seconds for the harness's own timings.
"""
import bisect
import statistics

MIB = 1024 * 1024
TAIL_MIN_BEYOND = 10  # a percentile is reported only with >= 10 samples above it


def quantile(values, q):
    """Linear-interpolated q-quantile (0 <= q <= 1) of a non-empty list."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_ok(n, q):
    """True when a q-quantile of n samples has enough samples beyond it."""
    return n * (1.0 - q) >= TAIL_MIN_BEYOND - 1e-9  # 100 * (1 - 0.9) < 10 in floats


def min_samples(q):
    """Smallest sample count for which the q-quantile may be reported."""
    n = 1
    while not tail_ok(n, q):
        n += 1
    return n


def tail_percentile(values):
    """(whole percentile, value) for the highest percentile with enough
    samples beyond it, or None below 20 samples."""
    for pct in range(99, 49, -1):
        if tail_ok(len(values), pct / 100):
            return pct, quantile(values, pct / 100)
    return None


def union_length(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap(lo, hi, job_intervals):
    """Part of [lo, hi] during which no job was running."""
    return (hi - lo) - union_length(job_intervals, lo, hi)


def self_times(spans):
    """{span id: duration minus the part of it its children cover}.

    `spans` is a list of dicts with id, parent, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def wait_s(run_s, cpu_s):
    """Executor time spent not on a CPU: run time minus CPU time."""
    return run_s - cpu_s


def attach_spark_spans(harness_spans, sqls, jobs, stages):
    """Hang SQL executions, jobs and stages under the harness spans.

    An SQL execution's parent is the innermost harness span containing its
    start; a job's parent is its SQL execution when it has one, else the
    innermost harness span containing its start; a stage's parent is the
    first job that lists it. Returns the combined span list."""
    leaves = [s for s in harness_spans if s["name"] in ("build", "action", "sweep")]
    leaves.sort(key=lambda s: s["start"])
    starts = [s["start"] for s in leaves]

    def enclosing(t):
        i = bisect.bisect_right(starts, t) - 1
        while i >= 0:
            if leaves[i]["start"] <= t <= leaves[i]["end"]:
                return leaves[i]["id"]
            i -= 1
        return 0  # the run span

    out = list(harness_spans)
    next_id = max((s["id"] for s in harness_spans), default=0) + 1
    sql_span = {}
    for q in sqls:
        sql_span[q["id"]] = next_id
        out.append({"id": next_id, "parent": enclosing(q["start"]), "name": "sql",
                    "start": q["start"], "end": q["end"]})
        next_id += 1
    job_span = {}
    for j in jobs:
        parent = sql_span.get(j["sql"], None)
        if parent is None:
            parent = enclosing(j["start"])
        job_span[j["id"]] = next_id
        out.append({"id": next_id, "parent": parent, "name": "job",
                    "start": j["start"], "end": j["end"]})
        for st in j["stages"]:
            job_span.setdefault(("stage", st), next_id)
        next_id += 1
    for st in stages:
        parent = job_span.get(("stage", st["id"]))
        if parent is None or not st["submit"]:
            continue
        out.append({"id": next_id, "parent": parent, "name": "stage",
                    "start": st["submit"], "end": st["complete"]})
        next_id += 1
    return out


# ---- metric assembly ------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw):
    """End-to-end metrics of one run, in BENCHMARK.json's units, with the
    printed-only query_p50_s and cpu_s; and the counts behind them."""
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    cold = [p for p in raw["passes"] if p["kind"] == "cold"]
    warm_ids = {p["pass"] for p in warm}
    execs = raw["execs"]
    lat = [e["build_s"] + e["action_s"] for e in execs
           if e["pass"] in warm_ids and not e["error"]]
    peak = {}
    for e in execs:
        if e["pass"] in warm_ids:
            peak[e["pass"]] = max(peak.get(e["pass"], 0), e["held_peak_b"])
    m = {
        "setup_s": _median(raw["setups"]),
        "cold_pass_s": cold[0]["wall_s"] if cold else 0.0,
        "pass_s": _median([p["wall_s"] for p in warm]),
        "query_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "cpu_s": _median([p["cpu_s"] for p in warm]),
        "storage_peak_mb": _median(list(peak.values())) / MIB,
    }
    # query_p90_s stays out of the metrics: runs of --seconds make fewer
    # than the 100 executions it needs; the report prints the tail it can
    counts = {"passes": len(warm), "query_n": len(lat), "tail": tail_percentile(lat),
              "p90": quantile(lat, 0.9) if tail_ok(len(lat), 0.9) else None}
    return m, counts


def exec_layers(raw):
    """Per-execution layer figures (traced runs only), keyed by exec index."""
    query_span = {s["exec"]: s for s in raw["spans"] if s["name"] == "query"}
    query_of = {s["id"]: ex for ex, s in query_span.items()}
    build_span = {query_of[s["parent"]]: s for s in raw["spans"]
                  if s["name"] == "build" and s["parent"] in query_of}
    jobs_of = {}
    for j in raw["jobs"]:
        jobs_of.setdefault(j["exec"], []).append(j)
    stages_of = {}
    for st in raw["stages"]:
        stages_of.setdefault(st["exec"], []).append(st)
    out = {}
    for e in raw["execs"]:
        ex = e["exec"]
        jobs = jobs_of.get(ex, [])
        q, b = query_span.get(ex), build_span.get(ex)
        m = [0] * 12
        for st in stages_of.get(ex, []):
            m = [a + x for a, x in zip(m, st["m"])]
        ivs = [(j["start"], j["end"]) for j in jobs]
        out[ex] = {
            "query": e["query"], "pass": e["pass"], "kind": e["kind"],
            "sweep_s": e["sweep_s"], "build_s": e["build_s"], "action_s": e["action_s"],
            "build_jobs": sum(1 for j in jobs if b and b["start"] <= j["start"] <= b["end"]),
            "pins": e["pins"], "pin_bytes": e["pin_bytes"],
            "actions": e["actions"], "analysis_s": e["analysis_ms"] / 1e3,
            "optimization_s": e["optimization_ms"] / 1e3, "planning_s": e["planning_ms"] / 1e3,
            "compile_s": e["compile_ns"] / 1e9, "compiles": e["compiles"],
            "jobs": len(jobs), "stages": len({st["id"] for st in stages_of.get(ex, [])}),
            "tasks": m[0],
            "driver_gap_s": driver_gap(q["start"], q["end"], ivs) / 1e3 if q else 0.0,
            "run_s": m[1] / 1e3, "cpu_s": m[2] / 1e9, "wait_s": wait_s(m[1] / 1e3, m[2] / 1e9),
            "gc_s": m[3] / 1e3, "shuffle_write_b": m[4], "shuffle_read_b": m[5],
            "fetch_wait_s": m[6] / 1e3, "spill_b": m[7], "read_b": m[8], "read_rows": m[9],
            "write_b": m[10], "write_rows": m[11],
            "batches": e["batches"], "batch_s": e["batch_ms"] / 1e3,
            "commit_s": e["commit_ms"] / 1e3, "state_rows": e["state_rows"],
        }
    return out


# per-layer metric name -> per-execution field summed over a warm pass
PASS_SUMS = {
    "session.sweep_s": "sweep_s",
    "queries.build_s": "build_s", "queries.build_jobs": "build_jobs",
    "queries.action_s": "action_s",
    "ext.pins": "pins", "ext.pin_bytes": "pin_bytes",
    "catalyst.actions": "actions", "catalyst.analysis_s": "analysis_s",
    "catalyst.optimization_s": "optimization_s", "catalyst.planning_s": "planning_s",
    "codegen.warm_compiles": "compiles",
    "scheduler.jobs": "jobs", "scheduler.stages": "stages", "scheduler.tasks": "tasks",
    "executor.run_s": "run_s", "executor.cpu_s": "cpu_s", "executor.wait_s": "wait_s",
    "executor.gc_s": "gc_s",
    "shuffle.write_bytes": "shuffle_write_b", "shuffle.read_bytes": "shuffle_read_b",
    "shuffle.fetch_wait_s": "fetch_wait_s", "spill.bytes": "spill_b",
    "tables.read_bytes": "read_b", "tables.read_rows": "read_rows",
    "io.write_bytes": "write_b", "io.write_rows": "write_rows",
    "streaming.batches": "batches", "streaming.batch_s": "batch_s",
    "streaming.commit_s": "commit_s", "streaming.state_rows": "state_rows",
}


def per_layer(raw, layers):
    """Per-layer metrics of a traced run: medians over warm passes of each
    pass's sum, except the session build and the cold-pass codegen."""
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    sums = {p["pass"]: {k: 0.0 for k in PASS_SUMS} for p in warm}
    for ex in layers.values():
        if ex["pass"] in sums:
            for name, field in PASS_SUMS.items():
                sums[ex["pass"]][name] += ex[field]
    jobs_by_pass = {}
    exec_pass = {e["exec"]: e["pass"] for e in raw["execs"]}
    for j in raw["jobs"]:
        jobs_by_pass.setdefault(exec_pass.get(j["exec"]), []).append((j["start"], j["end"]))
    for p in warm:
        # the pass's driver gap: pass time not covered by any running job
        sums[p["pass"]]["scheduler.driver_gap_s"] = driver_gap(
            p["start"], p["end"], jobs_by_pass.get(p["pass"], [])) / 1e3
    out = {name: _median([s[name] for s in sums.values()])
           for name in list(PASS_SUMS) + ["scheduler.driver_gap_s"]}
    cold = [ex for ex in layers.values() if ex["kind"] == "cold"]
    out["session.build_s"] = raw["session_s"]
    out["codegen.compile_s"] = sum(ex["compile_s"] for ex in cold)
    out["codegen.compiles"] = sum(ex["compiles"] for ex in cold)
    return out


def per_query(layers, fields=("driver_gap_s", "wait_s", "analysis_s", "optimization_s",
                              "planning_s", "build_s", "action_s", "jobs", "pins")):
    """Median of each field over a query's warm executions, plus the codegen
    compile time of its cold execution (warm ones mostly hit the cache)."""
    by_q = {}
    for ex in layers.values():
        if ex["kind"] == "warm":
            by_q.setdefault(ex["query"], []).append(ex)
    out = {q: {f: _median([ex[f] for ex in xs]) for f in fields} for q, xs in by_q.items()}
    for ex in layers.values():
        if ex["kind"] == "cold" and ex["query"] in out:
            out[ex["query"]]["compile_s"] = ex["compile_s"]
    return out
