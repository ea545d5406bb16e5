"""Per-layer numbers from Spark's status store (the UI REST API).

The traced run tags the jobs of each op with ``SparkContext.addJobTag``,
fetches jobs, stages and storage once at the end, and attributes every
stage that ran to exactly one op: by the tag of the job that ran it, or,
for jobs submitted from threads that do not carry the tag (streaming
``foreachBatch`` sinks, ``run_parallel`` workers), by the op whose time
window holds the submission. The share attributed by window is reported
as ``trace.untagged_stage_share``.
"""

from __future__ import annotations

import datetime
import json
import time
import urllib.parse
import urllib.request
from dataclasses import dataclass

from spans import clip, union_length

TAG_PREFIX = "perfbench-op-"


def op_tag(index: int) -> str:
    return f"{TAG_PREFIX}{index}"


@dataclass
class OpWindow:
    """One timed call: the plan build, then its execution."""

    index: int
    name: str
    kind: str  # "op" counts in the latency metrics; "read", "maint" do not
    build_start: float
    build_end: float
    exec_end: float

    @property
    def start(self) -> float:
        return self.build_start

    @property
    def end(self) -> float:
        return self.exec_end


def rest_epoch(ts: str | None) -> float | None:
    """REST timestamps look like ``2026-08-15T02:13:45.123GMT``."""
    if not ts:
        return None
    return (
        datetime.datetime.strptime(ts.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


def _window_of(t: float | None, ops: list[OpWindow]) -> int | None:
    if t is None:
        return None
    for op in ops:
        # REST times have millisecond resolution
        if op.start - 0.001 <= t <= op.end + 0.001:
            return op.index
    return None


def attribute(stages: list[dict], jobs: list[dict], ops: list[OpWindow]) -> dict:
    """Map every job and every stage attempt that ran to one op.

    Returns ``{"jobs": {jobId: (op, how)}, "stages": {(stageId, attemptId):
    (op, how)}}`` where ``how`` is ``"tag"`` or ``"window"``; jobs and
    stages outside every op (set-up, checks) are left out."""
    by_index = {op.index: op for op in ops}
    job_op: dict[int, tuple[int, str]] = {}
    for j in jobs:
        tagged = [
            int(t[len(TAG_PREFIX):]) for t in j.get("jobTags") or [] if t.startswith(TAG_PREFIX)
        ]
        tagged = [i for i in tagged if i in by_index]
        if tagged:
            job_op[j["jobId"]] = (tagged[0], "tag")
            continue
        w = _window_of(rest_epoch(j.get("submissionTime")), ops)
        if w is not None:
            job_op[j["jobId"]] = (w, "window")
    # the job that ran a stage: the earliest job listing it (a later job
    # that lists it reuses its output and skips it)
    runner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j.get("stageIds") or []:
            runner.setdefault(sid, j["jobId"])
    stage_op: dict[tuple[int, int], tuple[int, str]] = {}
    for s in stages:
        sub = rest_epoch(s.get("submissionTime"))
        if sub is None:  # skipped or never submitted
            continue
        key = (s["stageId"], s.get("attemptId", 0))
        jid = runner.get(s["stageId"])
        if jid in job_op:
            stage_op[key] = job_op[jid]
            continue
        w = _window_of(sub, ops)
        if w is not None:
            stage_op[key] = (w, "window")
    return {"jobs": job_op, "stages": stage_op}


_STAGE_SUMS = {
    # name: (REST field, scale to the reported unit)
    "tasks": ("numTasks", 1.0),
    "exec_run_s": ("executorRunTime", 1e-3),
    "exec_cpu_s": ("executorCpuTime", 1e-9),
    "exec_gc_s": ("jvmGcTime", 1e-3),
    "input_mb": ("inputBytes", 1e-6),
    "input_rows": ("inputRecords", 1.0),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e-6),
    "shuffle_read_mb": ("shuffleReadBytes", 1e-6),
    "shuffle_fetch_wait_s": ("shuffleFetchWaitTime", 1e-3),
    "spill_mb": ("diskBytesSpilled", 1e-6),
}


def per_op(stages: list[dict], jobs: list[dict], ops: list[OpWindow]) -> tuple[dict, dict]:
    """Per-op layer numbers plus the attribution health counts."""
    att = attribute(stages, jobs, ops)
    out = {
        op.index: {"jobs": 0, "build_jobs": 0, "stages": 0, "sched_delay_s": 0.0, **{k: 0.0 for k in _STAGE_SUMS}}
        for op in ops
    }
    intervals: dict[int, list[tuple[float, float]]] = {op.index: [] for op in ops}
    by_index = {op.index: op for op in ops}
    for j in jobs:
        hit = att["jobs"].get(j["jobId"])
        if hit is None:
            continue
        i = hit[0]
        out[i]["jobs"] += 1
        sub, done = rest_epoch(j.get("submissionTime")), rest_epoch(j.get("completionTime"))
        if sub is not None and sub < by_index[i].build_end:
            out[i]["build_jobs"] += 1
        if sub is not None:
            intervals[i].append((sub, done if done is not None else by_index[i].exec_end))
    for s in stages:
        hit = att["stages"].get((s["stageId"], s.get("attemptId", 0)))
        if hit is None:
            continue
        row = out[hit[0]]
        row["stages"] += 1
        sub, first = rest_epoch(s.get("submissionTime")), rest_epoch(s.get("firstTaskLaunchedTime"))
        if sub is not None and first is not None:
            row["sched_delay_s"] += max(0.0, first - sub)
        for name, (field, scale) in _STAGE_SUMS.items():
            row[name] += (s.get(field) or 0) * scale
    for op in ops:
        # driver gap: execute wall not covered by any of the op's jobs
        covered = union_length(clip(intervals[op.index], op.build_end, op.exec_end))
        out[op.index]["exec_s"] = op.exec_end - op.build_end
        out[op.index]["driver_gap_s"] = max(0.0, out[op.index]["exec_s"] - covered)
    hows = [how for _, how in att["stages"].values()]
    health = {
        "stages_attributed": len(hows),
        "stages_by_tag": hows.count("tag"),
        "stages_by_window": hows.count("window"),
        "stages_ran": sum(1 for s in stages if s.get("submissionTime")),
        "untagged_stage_share": (hows.count("window") / len(hows)) if hows else 0.0,
    }
    return out, health


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def fetch(ui_url: str, app_id: str, settle_s: float = 10.0) -> dict:
    """One read of jobs, stages and storage, after the listener bus has
    drained: no job or stage still running and two equal counts in a row."""
    port = urllib.parse.urlparse(ui_url).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{app_id}"
    deadline = time.time() + settle_s
    last = None
    while True:
        jobs = _get(base, "/jobs")
        stages = _get(base, "/stages")
        running = any(x.get("status") == "RUNNING" for x in jobs + stages)
        now = (len(jobs), len(stages))
        if (not running and now == last) or time.time() > deadline:
            break
        last = now
        time.sleep(0.3)
    return {"jobs": jobs, "stages": stages, "storage": _get(base, "/storage/rdd")}
