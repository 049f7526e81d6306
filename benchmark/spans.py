"""Spans around layer calls, Spark's side from the event log, and the
per-layer metrics derived from both.

Spans are recorded only in a traced run and stay in memory until the
run ends.  Each span sets a Spark job group ``<op>|<span>`` so the jobs
a layer call launches can be attached to it as child spans afterwards,
from the event log the traced run enables.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

# how far a child span may stick out of its parent before it counts as
# a nesting error: Spark stamps job times in whole milliseconds
NEST_SLACK_S = 0.005


class Tracer:
    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.op_id = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"{self.op_id}|{name}", name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{parent['op']}|{parent['name']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def op(self, op_id: str, kind: str):
        self.op_id = op_id
        with self.span("op"):
            if self.enabled:
                self._stack[-1]["kind"] = kind
            yield
        self.op_id = "setup"


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job spans and summed task metrics."""
    files = [
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    ]
    stage_group: dict[int, str] = {}
    jobs: dict[int, dict] = {}
    groups: dict[str, dict] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": [], "stages": set(), "tasks": 0, "failed_tasks": 0,
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sched_ms": 0,
            "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
        })

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job = {"group": g, "start": ev["Submission Time"] / 1000.0}
                    jobs[ev["Job ID"]] = job
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerJobEnd":
                    job = jobs.get(ev["Job ID"])
                    if job is not None:
                        job["end"] = ev["Completion Time"] / 1000.0
                        if job["group"]:
                            grp(job["group"])["jobs"].append(job)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        stage_group[info["Stage ID"]] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if not g:
                        continue
                    s = grp(g)
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    s["stages"].add((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
                    s["tasks"] += 1
                    s["failed_tasks"] += bool(info.get("Failed"))
                    run = m.get("Executor Run Time", 0)
                    s["run_ms"] += run
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    s["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    s["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    s["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    # the web UI's scheduler delay: task duration not spent
                    # deserializing, running, serializing or fetching results
                    getting = info.get("Getting Result Time", 0)
                    fetch = info["Finish Time"] - getting if getting else 0
                    s["sched_ms"] += max(
                        0,
                        info["Finish Time"] - info["Launch Time"] - run
                        - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0) - fetch,
                    )
    return groups


def attach_jobs(spans: list[dict], groups: dict[str, dict]) -> None:
    """Add each Spark job as a child span of the span whose job group
    launched it."""
    by_group = {f"{s['op']}|{s['name']}": s for s in spans if s["op"] != "setup"}
    for g, stats in groups.items():
        parent = by_group.get(g)
        if parent is None:
            continue
        for job in stats["jobs"]:
            spans.append({
                "id": len(spans), "parent": parent["id"], "op": parent["op"],
                "name": "spark.job", "start": job["start"], "end": job["end"],
            })


def self_times(spans: list[dict]) -> tuple[dict[int, float], int]:
    """Self time of every span (its duration minus the union of its
    children's intervals) and the number of children that stick out of
    their parent by more than NEST_SLACK_S."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out, errors = {}, 0
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            if c["start"] < lo - NEST_SLACK_S or c["end"] > hi + NEST_SLACK_S:
                errors += 1
            a, b = max(c["start"], lo), min(c["end"], hi)
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
        out[s["id"]] = (hi - lo) - covered
    return out, errors


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

# span name -> per-layer metric it feeds (mean seconds per measured op)
SPAN_METRIC = {
    "build": "registry.build_s",
    "exec": "sink.exec_s",
    "parse": "sources.parse_s",
    "merge": "upsert.merge_s",
    "write": "staging.write_s",
    "pipeline": "pipelines.call_s",
}


def layer_metrics(spans, groups, measured_ops: set[str], cores: int) -> dict:
    ops = [s for s in spans if s["name"] == "op" and s["op"] in measured_ops]
    n = max(1, len(ops))
    wall = sum(s["end"] - s["start"] for s in ops)
    out = {v: 0.0 for v in SPAN_METRIC.values()}
    for s in spans:
        if s["op"] in measured_ops and s["name"] in SPAN_METRIC:
            out[SPAN_METRIC[s["name"]]] += s["end"] - s["start"]
    build_total = out["registry.build_s"]
    for k in SPAN_METRIC.values():
        out[k] /= n
    tot = {k: 0 for k in ("jobs", "build_jobs", "tasks", "failed_tasks", "run_ms",
                          "cpu_ns", "gc_ms", "sched_ms", "shuffle_read",
                          "shuffle_write", "spill")}
    stages = 0
    for g, st in groups.items():
        op_id, _, span = g.partition("|")
        if op_id not in measured_ops:
            continue
        tot["jobs"] += len(st["jobs"])
        if span == "build":
            tot["build_jobs"] += len(st["jobs"])
        stages += len(st["stages"])
        for k in ("tasks", "failed_tasks", "run_ms", "cpu_ns", "gc_ms", "sched_ms",
                  "shuffle_read", "shuffle_write", "spill"):
            tot[k] += st[k]
    selfs, nest_errors = self_times(spans)
    op_self = sum(selfs[s["id"]] for s in ops)
    out.update({
        "registry.build_jobs": tot["build_jobs"] / n,
        "registry.build_share": build_total / wall if wall else 0.0,
        "spark.jobs": tot["jobs"] / n,
        "spark.stages": stages / n,
        "spark.tasks": tot["tasks"] / n,
        "spark.scheduler_delay_s": tot["sched_ms"] / 1000.0 / n,
        "spark.shuffle_read_bytes": tot["shuffle_read"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write"] / n,
        "spark.spill_bytes": tot["spill"] / n,
        "spark.executor_run_s": tot["run_ms"] / 1000.0 / n,
        "spark.executor_cpu_s": tot["cpu_ns"] / 1e9 / n,
        "spark.gc_s": tot["gc_ms"] / 1000.0 / n,
        "spark.busy_ratio": tot["run_ms"] / 1000.0 / (wall * cores) if wall else 0.0,
        "spark.failed_tasks": tot["failed_tasks"],
        "trace.op_self_share": op_self / wall if wall else 0.0,
        "trace.nesting_errors": nest_errors,
    })
    return out


def build_share_by_kind(spans, measured_ops: set[str]) -> dict[str, float]:
    """``registry.build_share`` of each op kind: build time over op wall
    time, over the measured ops of that kind."""
    kind_of = {
        s["op"]: s["kind"] for s in spans if s["name"] == "op" and s["op"] in measured_ops
    }
    wall: dict[str, float] = {}
    build: dict[str, float] = {}
    for s in spans:
        kind = kind_of.get(s["op"])
        if kind is None:
            continue
        if s["name"] == "op":
            wall[kind] = wall.get(kind, 0.0) + s["end"] - s["start"]
        elif s["name"] == "build":
            build[kind] = build.get(kind, 0.0) + s["end"] - s["start"]
    return {k: round(build.get(k, 0.0) / w, 4) for k, w in wall.items() if w}


def write_spans(path: str, spans: list[dict]) -> None:
    selfs, _ = self_times(spans)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for s in spans:
            f.write(json.dumps({**s, "self_s": selfs[s["id"]]}) + "\n")
