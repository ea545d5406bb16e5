"""Stage attribution: every stage that ran belongs to exactly one op, by
its job's tag or, for untagged jobs, by the op's time window; the untagged
share is reported."""

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkrest import OpWindow, attribute, op_tag, per_op, rest_epoch  # noqa: E402

T0 = datetime.datetime(2026, 1, 1, tzinfo=datetime.timezone.utc).timestamp()


def ts(sec: float) -> str:
    d = datetime.datetime.fromtimestamp(T0 + sec, tz=datetime.timezone.utc)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{d.microsecond // 1000:03d}GMT"


def job(jid, stages, sub, done, tags=()):
    return {"jobId": jid, "stageIds": stages, "submissionTime": ts(sub), "completionTime": ts(done), "jobTags": list(tags)}


def stage(sid, sub, first=None, attempt=0, **metrics):
    s = {"stageId": sid, "attemptId": attempt, "submissionTime": ts(sub) if sub is not None else None}
    if first is not None:
        s["firstTaskLaunchedTime"] = ts(first)
    s.update(metrics)
    return s


OPS = [
    OpWindow(0, "q01", "op", T0 + 10.0, T0 + 10.5, T0 + 12.0),
    OpWindow(1, "batch1", "op", T0 + 20.0, T0 + 20.0, T0 + 25.0),
]

JOBS = [
    job(0, [0], 1.0, 2.0),  # set-up: outside every op
    job(1, [1, 2], 10.2, 10.4, tags=[op_tag(0)]),  # a side job during plan build
    job(2, [3, 4], 10.6, 11.8, tags=[op_tag(0), "other"]),
    job(3, [5], 21.0, 22.0),  # untagged: a streaming sink thread
    job(4, [5, 6], 22.5, 24.0, tags=[op_tag(1)]),  # reuses stage 5: skipped there
]

STAGES = [
    stage(0, 1.0, 1.1),
    stage(1, 10.2, 10.25, numTasks=1),
    stage(2, 10.3, 10.35, numTasks=1),
    stage(3, 10.6, 10.7, numTasks=4, shuffleWriteBytes=2_000_000),
    stage(4, 11.0, 11.2, numTasks=4, shuffleReadBytes=2_000_000, executorRunTime=1500),
    stage(5, 21.0, 21.5, numTasks=2),
    stage(6, 22.5, 22.6, numTasks=2),
    stage(7, None),  # skipped: never submitted
    stage(6, 23.0, 23.1, attempt=1, numTasks=1),  # a retried attempt
]


def test_rest_epoch_parses_ms():
    assert abs(rest_epoch(ts(1.25)) - (T0 + 1.25)) < 1e-6
    assert rest_epoch(None) is None


def test_every_stage_that_ran_belongs_to_exactly_one_op():
    att = attribute(STAGES, JOBS, OPS)["stages"]
    ran_in_ops = {(s["stageId"], s["attemptId"]) for s in STAGES if s["submissionTime"]} - {(0, 0)}
    assert set(att) == ran_in_ops
    assert att[(1, 0)] == (0, "tag") and att[(4, 0)] == (0, "tag")
    assert att[(5, 0)] == (1, "window")  # untagged job, inside batch1's window
    assert att[(6, 0)] == (1, "tag") and att[(6, 1)] == (1, "tag")
    assert (0, 0) not in att and (7, 0) not in att


def test_tag_wins_over_window():
    # an op-tagged job submitted inside ANOTHER op's window keeps its tag
    jobs = [job(9, [9], 21.0, 21.5, tags=[op_tag(0)])]
    att = attribute([stage(9, 21.0, 21.1)], jobs, OPS)
    assert att["stages"][(9, 0)] == (0, "tag")


def test_stage_without_job_falls_back_to_window():
    att = attribute([stage(42, 11.0, 11.1)], [], OPS)
    assert att["stages"][(42, 0)] == (0, "window")


def test_per_op_sums_and_untagged_share():
    rows, health = per_op(STAGES, JOBS, OPS)
    q01, batch = rows[0], rows[1]
    assert q01["jobs"] == 2 and q01["build_jobs"] == 1
    assert q01["stages"] == 4 and q01["tasks"] == 10
    assert abs(q01["shuffle_write_mb"] - 2.0) < 1e-9 and abs(q01["shuffle_read_mb"] - 2.0) < 1e-9
    assert abs(q01["exec_run_s"] - 1.5) < 1e-9
    assert abs(q01["sched_delay_s"] - (0.05 + 0.05 + 0.1 + 0.2)) < 1e-6
    # execute window 10.5..12.0; job 2 covers 10.6..11.8 -> gap 0.3
    assert abs(q01["driver_gap_s"] - 0.3) < 1e-6
    assert batch["jobs"] == 2 and batch["stages"] == 3
    # batch1 (no plan build): jobs cover 21..22 and 22.5..24 of 20..25
    assert abs(batch["driver_gap_s"] - 2.5) < 1e-6
    assert health["stages_attributed"] == 7
    assert health["stages_by_window"] == 1
    assert abs(health["untagged_stage_share"] - 1 / 7) < 1e-12
