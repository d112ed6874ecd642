"""Per-layer numbers of a traced run, read from outside the program.

Joins the spans ``engine.py`` recorded (run → setup → pass → query →
build/plan/exec) with Spark's own event log: jobs and stages (attributed
by their job group ``<workload>/<pass>/<query>/<phase>``, or by time for
jobs that streaming queries start on their own threads) and streaming
progress events (one micro-batch span each). A span's self time is the
time it is open while none of its children is, so the per-layer self
times of a pass add up to that pass's wall time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from datetime import datetime

MB = 1e6
_PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    events.append(json.loads(line))
    if not events:
        raise RuntimeError(f"no Spark event log under {log_dir}")
    return events


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def log_spans(events: list[dict]) -> tuple[list[dict], list[dict], list[dict], list[dict]]:
    """(jobs, stages, tasks, micro-batches) as plain dicts, times in seconds."""
    jobs: dict[int, dict] = {}
    stages: dict[tuple, dict] = {}
    tasks, batches = [], []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[e["Job ID"]] = {
                "job": e["Job ID"], "start": e["Submission Time"] / 1e3,
                "end": e["Submission Time"] / 1e3,
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id", ""),
            }
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" not in si:
                continue
            stages[(si["Stage ID"], si["Stage Attempt ID"])] = {
                "stage": si["Stage ID"], "start": si["Submission Time"] / 1e3,
                "end": si.get("Completion Time", si["Submission Time"]) / 1e3,
                "tasks": si["Number of Tasks"],
            }
        elif kind == "SparkListenerTaskEnd":
            m, info = e.get("Task Metrics") or {}, e["Task Info"]
            if not m:
                continue
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            run_ms = m.get("Executor Run Time", 0)
            tasks.append({
                "stage": e["Stage ID"],
                "start": info["Launch Time"] / 1e3, "end": info["Finish Time"] / 1e3,
                "run_s": run_ms / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "sched_delay_s": max(0.0, (info["Finish Time"] - info["Launch Time"]
                                           - run_ms - m.get("Executor Deserialize Time", 0)
                                           - m.get("Result Serialization Time", 0)) / 1e3),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "spill": m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0),
                "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                "in_rows": m.get("Input Metrics", {}).get("Records Read", 0),
                "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
            })
        elif kind == _PROGRESS:
            pr = e["progress"]
            d = pr.get("durationMs", {})
            start = _iso_s(pr["timestamp"])
            batches.append({
                "start": start, "end": start + d.get("triggerExecution", 0) / 1e3,
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "commit_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
                "rows": pr.get("numInputRows", 0),
            })
    return list(jobs.values()), list(stages.values()), tasks, batches


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: the time during which it is open and none
    of its children is. Time when several such spans are open at once
    (concurrent Spark stages) is split evenly between them, so the self
    times under a span add up to exactly its duration."""
    depth: dict[int, int] = {}
    by_id = {s["id"]: s for s in spans}

    def d(s):
        if s["id"] not in depth:
            depth[s["id"]] = 0 if s["parent"] is None else d(by_id[s["parent"]]) + 1
        return depth[s["id"]]

    events = []
    for s in spans:
        if s["end"] > s["start"]:
            events.append((s["start"], 1, d(s), s["id"]))   # opens, outermost first
            events.append((s["end"], 0, -d(s), s["id"]))    # closes, innermost first
    events.sort()
    out = {s["id"]: 0.0 for s in spans}
    open_kids: dict[int, int] = {}
    leaves: set[int] = set()
    now = None
    for t, opens, _, sid in events:
        if now is not None and leaves and t > now:
            share = (t - now) / len(leaves)
            for leaf in leaves:
                out[leaf] += share
        now = t
        parent = by_id[sid]["parent"]
        if opens:
            open_kids[sid] = 0
            leaves.add(sid)
            if parent in open_kids:
                open_kids[parent] += 1
                leaves.discard(parent)
        else:
            open_kids.pop(sid, None)
            leaves.discard(sid)
            if parent in open_kids:
                open_kids[parent] -= 1
                if open_kids[parent] == 0:
                    leaves.add(parent)
    return out


def _innermost(spans: list[dict], t: float, layers: set[str]) -> dict | None:
    best = None
    for s in spans:
        if s["layer"] in layers and s["start"] <= t <= s["end"]:
            if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                best = s
    return best


def attach(spans: list[dict], jobs, stages, batches) -> list[dict]:
    """Add micro-batch, job and stage spans from the event log under the
    engine's spans. A child is clipped to its parent's interval."""
    spans = [dict(s) for s in spans]
    by_label: dict[str, dict] = {}
    for q in spans:  # phase spans by job group label "<pass>/<query>/<phase>"
        if q["parent"] is not None and spans[q["parent"]]["layer"] == "query":
            query = spans[q["parent"]]
            pas = spans[query["parent"]]
            by_label[f"{pas['name'][4:]}/{query['name']}/{q['name']}"] = q

    def add(name, layer, start, end, parent, **attrs):
        start, end = max(start, parent["start"]), min(end, parent["end"])
        s = {"id": len(spans), "name": name, "layer": layer, "start": start,
             "end": max(start, end), "parent": parent["id"], "run": parent["run"], **attrs}
        spans.append(s)
        return s

    phase_layers = {"queries", "plans"}
    for b in batches:
        parent = _innermost(spans, b["start"], phase_layers)
        if parent is not None:
            add("micro-batch", "streaming", b["start"], b["end"], parent, **{
                k: b[k] for k in ("trigger_s", "add_batch_s", "commit_s", "planning_s", "rows")})
    job_span: dict[int, dict] = {}
    for j in sorted(jobs, key=lambda j: j["start"]):
        label = "/".join(j["group"].split("/")[1:])
        parent = _innermost(spans, j["start"], {"streaming"}) or by_label.get(label) \
            or _innermost(spans, j["start"], phase_layers)
        if parent is not None:
            job_span[j["job"]] = add(f"job{j['job']}", "operators", j["start"], j["end"], parent)
    job_spans = list(job_span.values())
    for st in stages:
        # the job span whose interval holds the stage start
        parent = next((s for s in job_spans if s["start"] <= st["start"] <= s["end"]), None)
        if parent is not None:
            add(f"stage{st['stage']}", "operators", st["start"], st["end"], parent,
                stage=st["stage"], tasks=st["tasks"])
    return spans


def _pass_of(spans: list[dict], s: dict) -> dict | None:
    while s["parent"] is not None:
        if s["layer"] == "pass":
            return s
        s = spans[s["parent"]]
    return s if s["layer"] == "pass" else None


def per_layer(spans: list[dict], tasks: list[dict]) -> dict:
    """Per traced pass sums, reported as the median over traced passes."""
    selft = self_times(spans)
    traced = [s for s in spans if s["layer"] == "pass" and s.get("traced")]
    rows = []
    for p in traced:
        mine = [s for s in spans if s is not p and _pass_of(spans, s) is p]
        layer_self: dict[str, float] = {}
        for s in mine + [p]:
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selft[s["id"]]
        stage_ids = {s["stage"] for s in mine if s["name"].startswith("stage")}
        ts = [t for t in tasks if t["stage"] in stage_ids]
        jobs = [s for s in mine if s["name"].startswith("job")]
        build_jobs = [s for s in jobs if spans[s["parent"]]["name"] == "build"
                      or spans[s["parent"]]["layer"] == "streaming"]
        stage_spans = [s for s in mine if s["name"].startswith("stage")]
        skew = 1.0
        if stage_spans:
            longest = max(stage_spans, key=lambda s: s["end"] - s["start"])
            d = [t["end"] - t["start"] for t in ts if t["stage"] == longest["stage"]]
            if d and statistics.median(d) > 0:
                skew = max(d) / statistics.median(d)
        mb = [s for s in mine if s["layer"] == "streaming"]
        q_spans = [s for s in mine if s["layer"] == "query"]
        rows.append({
            "pass_s": p["end"] - p["start"],
            "queries.build_s": sum(s["end"] - s["start"] for s in mine if s["name"] == "build"),
            "queries.build_jobs": len(build_jobs),
            "queries.exec_s": sum(s["end"] - s["start"] for s in mine if s["name"] == "exec"),
            "queries.slowest_s": max((s["end"] - s["start"] for s in q_spans), default=0.0),
            "plans.plan_s": sum(s["end"] - s["start"] for s in mine if s["name"] == "plan"),
            "operators.jobs": len(jobs),
            "operators.stages": len(stage_spans),
            "operators.tasks": len(ts),
            "operators.task_s": sum(t["run_s"] for t in ts),
            "operators.cpu_s": sum(t["cpu_s"] for t in ts),
            "operators.gc_s": sum(t["gc_s"] for t in ts),
            "operators.sched_delay_s": sum(t["sched_delay_s"] for t in ts),
            "operators.shuffle_write_mb": sum(t["shuffle_write"] for t in ts) / MB,
            "operators.shuffle_read_mb": sum(t["shuffle_read"] for t in ts) / MB,
            "operators.spill_mb": sum(t["spill"] for t in ts) / MB,
            "operators.task_skew": skew,
            "sources.scan_mb": sum(t["in_bytes"] for t in ts) / MB,
            "sources.scan_rows": sum(t["in_rows"] for t in ts),
            "sources.write_mb": sum(t["out_bytes"] for t in ts) / MB,
            "streaming.batches": len(mb),
            "streaming.trigger_s": sum(s["trigger_s"] for s in mb),
            "streaming.add_batch_s": sum(s["add_batch_s"] for s in mb),
            "streaming.commit_s": sum(s["commit_s"] for s in mb),
            "streaming.planning_s": sum(s["planning_s"] for s in mb),
            "self.queries_s": layer_self.get("queries", 0.0) + layer_self.get("query", 0.0),
            "self.plans_s": layer_self.get("plans", 0.0),
            "self.operators_s": layer_self.get("operators", 0.0),
            "self.streaming_s": layer_self.get("streaming", 0.0),
            "self.unattributed_s": layer_self.get("pass", 0.0),
            "self.sum_s": sum(layer_self.values()),
        })
    if not rows:
        raise RuntimeError("the traced run has no traced pass")
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    per_query = {}
    for p in traced:
        for q in (s for s in spans if s["parent"] == p["id"]):
            for ph in (s for s in spans if s["parent"] == q["id"]):
                per_query.setdefault(q["name"], {}).setdefault(ph["name"], []).append(
                    ph["end"] - ph["start"])
    out["per_query"] = {q: {ph: statistics.median(v) for ph, v in d.items()}
                        for q, d in per_query.items()}
    out["passes"] = rows
    setup = {s["name"]: s for s in spans if s["parent"] is not None
             and spans[s["parent"]]["layer"] == "setup"}
    out["self.session_s"] = sum(selft[setup[n]["id"]] for n in ("import", "get_spark"))
    out["self.catalog_s"] = selft[setup["load"]["id"]]
    return out
