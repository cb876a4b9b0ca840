"""tools/qtime.py: the per-query timing loop and its event-log parser."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from qtime import stage_records, time_query  # noqa: E402
from test_plans import SF_DIR  # noqa: E402


def _job(jid, t_ms, stage_ids, desc=None, group=None):
    props = {}
    if desc is not None:
        props["spark.job.description"] = desc
    if group is not None:
        props["spark.jobGroup.id"] = group
    return {"Event": "SparkListenerJobStart", "Job ID": jid,
            "Submission Time": t_ms, "Stage IDs": stage_ids,
            "Properties": props}


def _task(sid, run_ms, gc_ms=0, remote=0, local=0, written=0, mem=0, disk=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": sid, "Task Metrics": {
        "Executor Run Time": run_ms, "JVM GC Time": gc_ms,
        "Shuffle Read Metrics": {"Remote Bytes Read": remote,
                                 "Local Bytes Read": local},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written},
        "Memory Bytes Spilled": mem, "Disk Bytes Spilled": disk}}


def _stage_done(sid, name, start_ms, end_ms, scopes=()):
    """`scopes`: (rdd id, operator scope name or None) per RDD."""
    rdds = [{"RDD ID": rid, "Name": "MapPartitionsRDD",
             **({"Scope": json.dumps({"id": str(rid), "name": scope})}
                if scope else {})}
            for rid, scope in scopes]
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": sid, "Stage Name": name,
        "Submission Time": start_ms, "Completion Time": end_ms,
        "RDD Info": rdds}}


def test_stage_records_sums_and_attribution():
    events = [
        # tag A by description: stage 0 (three tasks) and stage 1 (one)
        _job(0, 1_000_000, [0, 1], desc="qtime:a"),
        _task(0, 100, gc_ms=10, remote=5, local=7, written=11, mem=3, disk=4),
        _task(0, 300, gc_ms=20, remote=1, written=2),
        _task(0, 200, disk=6),
        _stage_done(0, "map at A", 1_000_000, 1_000_450),
        _task(1, 50),
        _stage_done(1, "save at A", 1_000_500, 1_000_560, scopes=[
            (3, "Scan csv"), (7, "Exchange"), (4, "WholeStageCodegen (2)"),
            (5, "WholeStageCodegen (2)"), (6, None)]),
        # tag B by job group
        _job(1, 1_001_000, [2], group="qtime:b"),
        _task(2, 70),
        _stage_done(2, "save at B", 1_001_000, 1_001_080),
        # a tag no window names, then untagged jobs in and out of a window
        _job(2, 1_002_000, [3], desc="other"),
        _task(3, 999),
        _job(3, 1_003_500, [4]),
        _task(4, 40),
        _job(4, 9_000_000, [5]),
        _task(5, 888),
        # a skipped stage: listed by its job, never run
        _job(5, 1_000_200, [6], desc="qtime:a"),
    ]
    lines = [json.dumps(e) + "\n" for e in events] + ["\n"]
    out = stage_records(lines, {"qtime:a": (1000.0, 1001.0),
                                "qtime:b": (1003.0, 1004.0)})
    assert set(out) == {"qtime:a", "qtime:b"}

    a = out["qtime:a"]
    assert a["jobs"] == 2  # job 0 and the one whose stage was skipped
    assert [s["stage"] for s in a["stages"]] == [0, 1]
    s0 = a["stages"][0]
    assert s0 == {
        "stage": 0, "name": "map at A", "wall_s": 0.45, "tasks": 3,
        "task_s": 0.6, "max_task_s": 0.3, "gc_s": 0.03,
        "shuffle_read_bytes": 13, "shuffle_write_bytes": 13,
        "spill_bytes": 13,
    }
    assert a["stages"][1]["tasks"] == 1
    assert a["stages"][1]["wall_s"] == 0.06
    # operator scopes, output first, name the stage; no scope: Stage Name
    assert a["stages"][1]["name"] == (
        "Exchange ← WholeStageCodegen (2) ← Scan csv"
    )

    # B: its own job group, plus the untagged job inside B's window;
    # neither the "other" tag nor the untagged job outside every window
    b = out["qtime:b"]
    assert b["jobs"] == 2
    assert [(s["stage"], s["task_s"]) for s in b["stages"]] == [(2, 0.07), (4, 0.04)]
    assert all(s["tasks"] == 1 for s in b["stages"])


@pytest.mark.parametrize("split", [True, False])
def test_time_query_records(spark, split):
    from mempool_dumpster_spark.plans.registry import all_queries

    fn = all_queries()["q1_pricing_summary"]
    recs = time_query(spark, fn, SF_DIR, prime=1, runs=2, split=split)
    assert len(recs) == 2
    for r in recs:
        if split:
            assert set(r) == {"construct_sec", "optimize_sec",
                              "execute_sec", "total_sec"}
            assert min(r.values()) >= 0
            parts = r["construct_sec"] + r["optimize_sec"] + r["execute_sec"]
            assert r["total_sec"] == pytest.approx(parts)
        else:
            assert isinstance(r, float) and r > 0
