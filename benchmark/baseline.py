"""Baseline records: every workload over several seeds, and comparisons.

    python3 benchmark/run.py --baseline OUT.json [--seeds N] [--seconds S]
    python3 benchmark/run.py --compare OLD.json NEW.json

A baseline runs each workload once per seed (untraced), then once traced,
each in its own process exactly as the benchmark's command line does, and
writes every run's result, host stamp and detail to OUT.json together with
each metric's median and quartile spread. The traced runs' span files go
next to it as `trace-<workload>.json`. A comparison prints each
end-to-end metric's medians side by side; it refuses records whose host
stamps differ, because their timings do not compare.
"""
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# Largest relative difference between two calibration times (graft.Bench's
# xorshift stamp) for which two hosts still count as the same.
CALIB_TOLERANCE = 0.10


def _run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, stdin=subprocess.DEVNULL)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} failed (exit {out.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summary(values):
    """Median, quartiles and quartile spread (as a share of the median)."""
    q1, q2, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"median": q2, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / q2 if q2 else 0.0}


def record(out, workloads, seeds, seconds):
    rec = {"seconds": seconds, "workloads": {}}
    for w in workloads:
        runs = []
        for seed in range(1, seeds + 1):
            detail, result = _run(w, seed, seconds, 0)
            runs.append({"seed": seed, "detail": detail, "result": result})
            print(f"{w} seed {seed}: {json.dumps(result['metrics'])}", file=sys.stderr)
        detail, traced = _run(w, seeds + 1, seconds, 1)
        shutil.copy(os.path.join(os.path.dirname(HERE), ".bench_build", f"trace-{w}.json"),
                    os.path.join(os.path.dirname(os.path.abspath(out)), f"trace-{w}.json"))
        names = runs[0]["result"]["metrics"]
        e2e = {k: dict(summary([r["result"]["metrics"][k]["value"] for r in runs]),
                       unit=names[k]["unit"]) for k in names}
        rec["workloads"][w] = {
            "runs": runs,
            "end_to_end": e2e,
            "correct": all(r["result"]["correct"] for r in runs) and traced["correct"],
            "traced": {"detail": detail, "result": traced},
            # what tracing costs: the traced run's pass time over the
            # untraced median
            "trace_overhead": traced["metrics"]["trace.run_s"]["value"] /
            e2e["run_s"]["median"] - 1,
        }
    stamps = [r["detail"]["stamp"] for x in rec["workloads"].values() for r in x["runs"]]
    rec["stamp"] = {"cpus": stamps[0]["cpus"], "heap": stamps[0]["heap"],
                    "calib_st_ms": statistics.median(s["calib_st_ms"] for s in stamps),
                    "load_avg_start": [s["load_avg_start"] for s in stamps]}
    with open(out, "w") as f:
        json.dump(rec, f, indent=1)
    for w, x in rec["workloads"].items():
        print(f"{w}: correct={x['correct']} trace_overhead={x['trace_overhead']:+.1%}")
        for k, s in x["end_to_end"].items():
            print(f"  {k:12s} {s['median']:10.3f} {s['unit']:3s} "
                  f"spread {s['spread']:.3f}")


def same_host(a, b):
    """Why two stamps do not compare, or None."""
    for k in ("cpus", "heap"):
        if a[k] != b[k]:
            return f"{k} differs: {a[k]} vs {b[k]}"
    ca, cb = a["calib_st_ms"], b["calib_st_ms"]
    if abs(ca - cb) > CALIB_TOLERANCE * min(ca, cb):
        return f"calibration differs: {ca} ms vs {cb} ms"
    return None


def compare(old_path, new_path):
    old, new = (json.load(open(p)) for p in (old_path, new_path))
    why = same_host(old["stamp"], new["stamp"])
    if why:
        raise SystemExit(f"refusing to compare records from different hosts: {why}")
    for w in sorted(set(old["workloads"]) & set(new["workloads"])):
        print(w)
        a, b = old["workloads"][w]["end_to_end"], new["workloads"][w]["end_to_end"]
        for k in a:
            if k in b:
                print(f"  {k:12s} {a[k]['median']:10.3f} -> {b[k]['median']:10.3f} "
                      f"{a[k]['unit']} ({b[k]['median'] / a[k]['median'] - 1:+.1%})")
