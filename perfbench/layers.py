"""Per-layer metrics and span self times from a traced harness run.

The JVM records, per pipeline run, raw spans for SQL executions, planning
phases, jobs and stages, plus counters from task metrics and streaming
progress. Here they are arranged into the hierarchy

    pipeline > build > plan > action > job > stage

where `build` is the eager work inside the pipeline function (stream
replays, memo builds: everything before the final action starts) and an
`action` is a root SQL execution. A span's self time is its duration
minus the part of it that its children cover.
"""
import statistics
from collections import defaultdict

LAYERS = ("pipeline", "build", "plan", "action", "job", "stage")

# counter name -> unit, summed over the traced block
COUNTERS = {
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.scheduler_delay_s": "s", "exec.deserialize_s": "s",
    "exec.executor_cpu_s": "s", "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes", "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "io.bytes_read": "bytes", "io.records_read": "count",
    "io.bytes_written": "bytes", "io.files_written": "count",
    "streaming.batches": "count", "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms", "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.input_rows": "count",
    "streaming.state_rows": "count",
}


def covered(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def run_spans(run, raw, mode):
    """Spans of one pipeline run, each with a parent id."""
    i = run["i"]
    p0, p1 = run["start_ms"], run["end_ms"]
    sqls = [s for s in raw if s["k"] == "sql"]
    root_of = {s["id"]: s["root"] for s in sqls}
    roots = sorted((s for s in sqls if s["id"] == s["root"]),
                   key=lambda s: s["start"])
    if mode == "plan":
        build_end = p0 + run["build_s"] * 1000
    else:
        build_end = roots[-1]["start"] if roots else p0
    build_end = min(max(build_end, p0), p1)

    def outer(t):
        return f"{i}/build" if t < build_end else f"{i}/pipeline"

    spans = [
        {"id": f"{i}/pipeline", "layer": "pipeline", "parent": None,
         "name": run["name"], "start": p0, "end": p1},
        {"id": f"{i}/build", "layer": "build", "parent": f"{i}/pipeline",
         "name": run["name"], "start": p0, "end": build_end},
    ]
    actions = {}
    for s in roots:
        sid = f"{i}/action/{s['id']}"
        actions[s["id"]] = (sid, s["start"], s["end"])
        spans.append({"id": sid, "layer": "action", "parent": outer(s["start"]),
                      "name": s["desc"], "start": s["start"], "end": s["end"]})
    for s in raw:
        if s["k"] == "plan":
            parent = next((a for a, lo, hi in actions.values()
                           if lo <= s["start"] and s["end"] <= hi), None)
            spans.append({"id": f"{i}/plan/{s['qe']}/{s['phase']}",
                          "layer": "plan", "parent": parent or outer(s["start"]),
                          "name": s["phase"], "start": s["start"], "end": s["end"]})
        elif s["k"] == "job":
            action = actions.get(root_of.get(s["exec"], s["exec"]))
            spans.append({"id": f"{i}/job/{s['id']}", "layer": "job",
                          "parent": action[0] if action else outer(s["start"]),
                          "name": f"job {s['id']}", "start": s["start"],
                          "end": s["end"]})
        elif s["k"] == "stage":
            spans.append({"id": f"{i}/stage/{s['id']}", "layer": "stage",
                          "parent": f"{i}/job/{s['job']}",
                          "name": f"stage {s['id']} ({s['tasks']} tasks)",
                          "start": s["start"], "end": s["end"]})
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append((s["start"], s["end"]))
    for s in spans:
        dur = max(0.0, s["end"] - s["start"])
        s["self_ms"] = dur - covered(children[s["id"]], s["start"], s["end"])
    build_jobs = sum(1 for s in raw if s["k"] == "job" and s["start"] < build_end)
    return spans, (build_end - p0) / 1000, build_jobs


def per_layer(res, setup):
    mode = res["mode"]
    trace = res["trace"]
    counters = {int(k): v for k, v in trace["counters"].items()}
    raw_by_run = defaultdict(list)
    for s in trace["spans"]:
        raw_by_run[s["run"]].append(s)
    traced = [r for r in res["runs"] if r["block"] == "traced"]
    traced_passes = [p for p in res["passes"] if p["block"] == "traced"]
    untraced_passes = [p for p in res["passes"] if p["block"] == "untraced"]

    per_pipeline, all_spans = [], []
    for r in traced:
        spans, build_s, build_jobs = run_spans(r, raw_by_run[r["i"]], mode)
        all_spans += spans
        c = counters.get(r["i"], {})
        builds = r["memo_new_dirs"] + max(0, r["persist_delta"])
        row = {"name": r["name"], "pass": r["pass"], "ok": r["ok"],
               "lat_s": r["lat_s"],
               "control.submit_s": r["submit_s"],
               "control.status_lag_ms": r["status_lag_ms"] if mode == "run" else 0.0,
               "control.status_mismatch": 0 if r["status"] == "success" else 1,
               "queries.build_s": build_s, "queries.build_jobs": build_jobs,
               "ops.memo_builds": builds, "ops.memo_hit": 1 if builds == 0 else 0,
               "ops.memo_disk_bytes": r["memo_new_bytes"],
               "ops.persist_delta": r["persist_delta"]}
        row.update({k: c.get(k, 0.0) for k in COUNTERS})
        row["exec.driver_cpu_s"] = r["cpu_s"] - row["exec.executor_cpu_s"]
        for layer in LAYERS:
            row[f"self.{layer}_s"] = sum(
                s["self_ms"] for s in spans if s["layer"] == layer) / 1000
        per_pipeline.append(row)

    def total(key):
        return sum(row[key] for row in per_pipeline)

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    metrics = {
        "engine.session_s": ((setup["session_ready_ms"] - setup["session_start_ms"]) / 1000, "s"),
        "engine.warmup_s": ((setup["warm_done_ms"] - setup["session_ready_ms"]) / 1000, "s"),
        "control.submit_s": (total("control.submit_s"), "s"),
        "control.status_lag_ms": (med([row["control.status_lag_ms"] for row in per_pipeline]), "ms"),
        "control.status_mismatch": (total("control.status_mismatch"), "count"),
        "queries.build_s": (total("queries.build_s"), "s"),
        "queries.build_jobs": (total("queries.build_jobs"), "count"),
    }
    metrics.update({k: (total(k), u) for k, u in COUNTERS.items()})
    metrics["exec.driver_cpu_s"] = (total("exec.driver_cpu_s"), "s")
    metrics["ops.memo_builds"] = (total("ops.memo_builds"), "count")
    metrics["ops.memo_hit_ratio"] = (
        sum(row["ops.memo_hit"] for row in per_pipeline) / len(per_pipeline), "ratio")
    metrics["ops.memo_disk_bytes"] = (total("ops.memo_disk_bytes"), "bytes")
    metrics["jvm.gc_ms"] = (sum(p["gc_ms"] for p in traced_passes), "ms")
    for layer in LAYERS:
        metrics[f"self.{layer}_s"] = (total(f"self.{layer}_s"), "s")
    traced_wall = sum(p["wall_s"] for p in traced_passes)
    untraced_wall = sum(p["wall_s"] for p in untraced_passes)
    metrics["trace.wall_s"] = (traced_wall, "s")
    metrics["trace.untraced_wall_s"] = (untraced_wall, "s")
    metrics["trace.overhead_frac"] = (traced_wall / untraced_wall - 1, "ratio")
    return metrics, per_pipeline, all_spans
