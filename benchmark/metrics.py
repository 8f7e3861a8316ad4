"""Turns the benchmark JVM's raw record into named metrics.

Pure functions over the record `graftbench.Main` writes, unit-tested in
test_benchmark.py.
"""
import statistics

MB = 1024.0 * 1024.0

# graft's modules as the benchmark attributes its steps to them
MODULES = ["Relational", "Events", "Changes", "Text", "Dedup", "Multimodal",
           "Similarity", "streaming"]

# per-job task counters the tracer sums (`peak_exec_mem_b` is a maximum)
JOB_COUNTERS = ["stages", "tasks", "task_run_ms", "task_cpu_ns", "sched_delay_ms",
                "shuffle_write_b", "shuffle_read_b", "shuffle_records",
                "peak_exec_mem_b", "input_b", "result_b"]


def highest_percentile(n, candidates=(50, 75, 90, 95, 99)):
    """The highest candidate percentile with at least ten of `n` samples
    beyond it, or None when even the median has fewer."""
    ok = [p for p in candidates if n * (100 - p) / 100 >= 10]
    return max(ok) if ok else None


def self_times(spans):
    """{span id: self time}: the span's duration minus the part of it its
    children cover, overlapping children counted once."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, edge = 0.0, s["start_ms"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ms"]):
            a, b = max(c["start_ms"], edge), min(c["end_ms"], s["end_ms"])
            if b > a:
                covered += b - a
                edge = b
        out[s["id"]] = s["end_ms"] - s["start_ms"] - covered
    return out


def end_to_end(record):
    """The end-to-end metrics of one untraced run: medians over its passes."""
    passes = record["passes"]
    return {
        "setup_s": (record["setup_s"], "s"),
        "run_s": (statistics.median(p["wall_s"] for p in passes), "s"),
        "cpu_s": (statistics.median(p["cpu_s"] for p in passes), "s"),
    }


def op_latency(record):
    """Latency of the run's operations (steps and micro-batches): the
    median and the highest percentile with ten samples beyond it."""
    ops = [ms for p in record["passes"] for s in p["steps"] for ms in s["ops_ms"]]
    if not ops:
        return {"samples": 0}
    out = {"samples": len(ops), "p50_ms": statistics.median(ops)}
    top = highest_percentile(len(ops))
    if top and top > 50:
        out[f"p{top}_ms"] = statistics.quantiles(ops, n=100)[top - 1]
    return out


def _inside(t, span):
    return span["start_ms"] <= t <= span["end_ms"]


def trace_pass(p, trace):
    """Per-layer sums of one traced pass `p`.

    A job belongs to the step span it was tagged with. The planning phases
    of queries started inside a step's materialize span become `plan`
    spans under it, so the materialize span's self time is execution."""
    run = next(s for s in trace["spans"]
               if s["name"] == "run" and abs(s["start_ms"] - p["start_ms"]) < 5)
    spans = [s for s in trace["spans"] if _inside(s["start_ms"], run)]
    steps = [s for s in spans if s["parent"] == run["id"]]
    mats = [s for s in spans if s["name"] == "materialize"]
    # analysis happens when a step's call builds its DataFrame, outside the
    # materializing query, so only optimization and planning are counted
    phase_ms = {"optimization": 0.0, "planning": 0.0}
    plan_spans = []
    for q in trace["plans"]:
        for name, ph in q["phases"].items():
            if name in phase_ms and _inside(ph["start_ms"], run):
                phase_ms[name] += ph["end_ms"] - ph["start_ms"]
                home = [m for m in mats if _inside(ph["start_ms"], m)]
                if home:
                    plan_spans.append({"id": f"plan{len(plan_spans)}", "name": "plan",
                                       "parent": home[0]["id"], **ph})
    own = self_times(spans + plan_spans)
    sums = {k: 0 for k in JOB_COUNTERS}
    sums.update(jobs=0, call_ms=0.0, exec_ms=0.0)
    modules = {m: {"jobs": 0, "call_ms": 0.0, "exec_ms": 0.0} for m in MODULES}
    counts = []
    for span, res in zip(steps, p["steps"]):
        jobs = [j for j in trace["jobs"] if j["step"] == span["id"]]
        for k in JOB_COUNTERS:
            v = [j[k] for j in jobs]
            sums[k] = max([sums[k]] + v) if k == "peak_exec_mem_b" else sums[k] + sum(v)
        sums["jobs"] += len(jobs)
        sums["call_ms"] += res["call_ms"]
        # a stream's execution is its micro-batches
        exec_ms = res["exec_ms"] if res["module"] == "streaming" else sum(
            own[m["id"]] for m in mats if m["parent"] == span["id"])
        sums["exec_ms"] += exec_ms
        mod = modules[res["module"]]
        mod["jobs"] += len(jobs)
        mod["call_ms"] += res["call_ms"]
        mod["exec_ms"] += exec_ms
        counts.append((res["name"], res["module"], len(jobs),
                       sum(j["stages"] for j in jobs), sum(j["tasks"] for j in jobs)))
    wall_ms = run["end_ms"] - run["start_ms"]
    return {
        "wall_ms": wall_ms,
        "coverage": sum(s["end_ms"] - s["start_ms"] for s in steps) / wall_ms,
        "sums": sums,
        "phase_ms": phase_ms,
        "modules": modules,
        "counts": counts,
        "stores": p["stores"],
        "progress": [b for r in p["steps"] for b in r.get("progress", [])],
        "streams": [r for r in p["steps"] if r.get("progress")],
    }


def unrepeated(passes):
    """Names of the batch steps whose job, stage or task counts differ
    between traced passes. (A stream's job count depends on how many empty
    triggers ran, so streams are left out.)"""
    first, bad = {}, set()
    for x in passes:
        for i, (name, module, *c) in enumerate(x["counts"]):
            if first.setdefault(i, c) != c and module != "streaming":
                bad.add(name)
    return sorted(bad)


def per_layer(record, cpus):
    """(metrics, detail) of one traced run; each metric is the median over
    the run's passes of that pass's sum."""
    passes = [trace_pass(p, record["trace"]) for p in record["passes"]]

    def med(f):
        return statistics.median(f(x) for x in passes)

    def s(k, scale=1.0):
        return med(lambda x: x["sums"][k]) / scale

    def batches(f):
        return med(lambda x: sum(f(b) for b in x["progress"]))

    def held(k):
        """State a pass's streams hold after their last micro-batch."""
        return med(lambda x: sum(r["progress"][-1][k] for r in x["streams"]))

    m = {
        "trace.run_s": (med(lambda x: x["wall_ms"]) / 1000, "s"),
        "trace.step_coverage": (med(lambda x: x["coverage"]), "frac"),
        "ops.call_s": (s("call_ms", 1000), "s"),
        "ops.exec_s": (s("exec_ms", 1000), "s"),
        "plans.optimize_s": (med(lambda x: x["phase_ms"]["optimization"]) / 1000, "s"),
        "plans.physical_s": (med(lambda x: x["phase_ms"]["planning"]) / 1000, "s"),
        "exec.jobs": (s("jobs"), "count"),
        "exec.stages": (s("stages"), "count"),
        "exec.tasks": (s("tasks"), "count"),
        "exec.task_run_s": (s("task_run_ms", 1000), "s"),
        "exec.task_cpu_s": (s("task_cpu_ns", 1e9), "s"),
        "exec.sched_delay_s": (s("sched_delay_ms", 1000), "s"),
        "exec.busy_frac": (med(lambda x: x["sums"]["task_run_ms"] /
                               (x["wall_ms"] * cpus)), "frac"),
        "exec.shuffle_write_mb": (s("shuffle_write_b", MB), "MB"),
        "exec.shuffle_read_mb": (s("shuffle_read_b", MB), "MB"),
        "exec.shuffle_records": (s("shuffle_records"), "count"),
        "exec.peak_exec_mem_mb": (s("peak_exec_mem_b", MB), "MB"),
        "exec.input_mb": (s("input_b", MB), "MB"),
        "exec.result_mb": (s("result_b", MB), "MB"),
        "sources.bytes_written_mb": (med(lambda x: x["stores"]["bytes"]) / MB, "MB"),
        "sources.files_written": (med(lambda x: x["stores"]["files"]), "count"),
        "sources.versions": (med(lambda x: x["stores"]["versions"]), "count"),
        "sources.bytes_per_input_byte": (med(
            lambda x: x["stores"]["bytes"] / max(1, x["sums"]["input_b"])), "ratio"),
        "streaming.state_rows": (held("state_rows"), "count"),
        "streaming.state_mb": (held("state_bytes") / MB, "MB"),
    }
    for mod in MODULES:
        m[f"ops.{mod}.jobs"] = (med(lambda x: x["modules"][mod]["jobs"]), "count")
    # Layer times that are zero on the workloads that do not use the layer
    # go here rather than into the metrics.
    detail = {
        "streaming_ms": {k: batches(lambda b: b["duration_ms"].get(k, 0))
                         for k in ("addBatch", "walCommit", "queryPlanning",
                                   "commitOffsets")},
        "streaming_state_commit_ms": batches(lambda b: b["state_commit_ms"]),
        "modules_ms": {mod: {k: med(lambda x: x["modules"][mod][k])
                             for k in ("call_ms", "exec_ms")} for mod in MODULES},
        "unrepeated_steps": unrepeated(passes),
        "step_counts": passes[0]["counts"],
    }
    return m, detail
