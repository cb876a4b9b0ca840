"""Tests of the benchmark's own helpers. Run from the repository root:

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import types

import pytest

from perfbench import measure
from perfbench.metrics import END_TO_END, PER_LAYER

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# --------------------------------------------------------------------------
# self time
# --------------------------------------------------------------------------


def _span(sid, start, end, parent=None, name="x"):
    return measure.Span(name, start, end, parent, "r", sid)


def test_covered_merges_overlaps_and_clips():
    assert measure.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert measure.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert measure.covered([], 0, 10) == 0
    assert measure.covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps its sibling
        _span(3, 2.5, 3.0, parent=2),  # grandchild: not subtracted from 0
        _span(4, 7.0, 8.0, parent=0),
    ]
    st = measure.self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[2] == pytest.approx(3 - 0.5)
    assert st[1] == pytest.approx(2)
    assert st[4] == pytest.approx(1)
    assert st[3] == pytest.approx(0.5)


def test_tracer_records_nesting_and_self_time():
    tr = measure.Tracer("run", enabled=True)
    with tr.span("job"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            with tr.span("a"):
                pass
    assert [(s.name, s.parent) for s in tr.spans] == [
        ("job", None), ("a", 0), ("b", 0), ("a", 2)
    ]
    assert all(s.run_id == "run" and s.end >= s.start for s in tr.spans)
    assert len(tr.durations("a")) == 2
    dur = [s.end - s.start for s in tr.spans]
    summary = tr.summary()
    assert summary["a"]["n"] == 2
    assert summary["job"]["self_s"] == pytest.approx(dur[0] - dur[1] - dur[2])
    assert summary["b"]["self_s"] == pytest.approx(dur[2] - dur[3])


def test_disabled_tracer_records_nothing():
    tr = measure.Tracer("run", enabled=False)
    with tr.span("job"):
        pass
    assert tr.spans == []


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def _task(stage, run_ms, gc_ms=0, shuffle=0, spill=0, read=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": spill,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read},
        },
    }


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    # job 0 before the window: ignored
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000,
     "Stage IDs": [0], "Properties": {}},
    _task(0, 999),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_500},
    # job 1 in span-3, two stages
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_000,
     "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "span-3"}},
    _task(1, 400, gc_ms=50, shuffle=100, read=1000),
    _task(1, 600, spill=7),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 1, "Submission Time": 10_001}},
    _task(2, 250),
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 2, "Submission Time": 10_500}},
    # a skipped stage has no submission time
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 9}},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 12_000},
    # job 2 without a group
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 13_000,
     "Stage IDs": [3]},
    _task(3, 100),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 14_000},
]


def test_event_log_parser_sums_the_window():
    lines = [json.dumps(e) + "\n" for e in EVENTS] + ["\n"]
    ev = measure.parse_event_log(lines, t_lo=5.0, t_hi=20.0)
    assert (ev.jobs, ev.stages, ev.tasks) == (2, 2, 4)
    assert ev.task_s == pytest.approx(1.35)
    assert ev.task_max_s == pytest.approx(0.6)
    assert ev.gc_s == pytest.approx(0.05)
    assert (ev.shuffle_write_bytes, ev.spill_bytes) == (100, 7)
    assert ev.input_bytes == 1000
    assert ev.task_s_by_group == pytest.approx({"span-3": 1.25, None: 0.1})
    assert ev.job_intervals == [(10.0, 12.0), (13.0, 14.0)]
    assert measure.driver_gap(ev.job_intervals, 9.0, 15.0) == pytest.approx(3.0)


def test_event_log_parser_without_window_sees_everything():
    ev = measure.parse_event_log([json.dumps(e) for e in EVENTS])
    assert ev.jobs == 3 and ev.tasks == 5


def test_read_event_log_skips_unfinished_logs(tmp_path):
    (tmp_path / "local-1.inprogress").write_text("partial\n")
    (tmp_path / "local-0").write_text('{"Event": "x"}\n')
    assert measure.read_event_log(str(tmp_path)) == ['{"Event": "x"}\n']
    os.remove(tmp_path / "local-0")
    with pytest.raises(FileNotFoundError):
        measure.read_event_log(str(tmp_path))


# --------------------------------------------------------------------------
# streaming progress and the open loop
# --------------------------------------------------------------------------


def _progress(rows, trigger, add, wal, commit, latest, state_rows=0, state_commit=0):
    return {
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "addBatch": add, "walCommit": wal,
                       "commitOffsets": commit, "latestOffset": latest},
        "stateOperators": [{"numRowsTotal": state_rows, "memoryUsedBytes": 10 * state_rows,
                            "commitTimeMs": state_commit}],
    }


def test_stream_progress_summarises_the_batches_that_read_input():
    progress = [
        _progress(0, 5, 0, 0, 0, 5),  # idle trigger: ignored
        _progress(60, 2000, 1500, 100, 50, 20, state_rows=40, state_commit=30),
        _progress(120, 3000, 2500, 200, 70, 40, state_rows=100, state_commit=50),
        _progress(30, 1000, 600, 150, 60, 10, state_rows=90, state_commit=10),
    ]
    sp = measure.stream_progress(progress)
    assert sp["batches"] == 3
    assert sp["rows_per_batch"] == pytest.approx(70)
    assert sp["trigger_s"] == pytest.approx(2.0)
    assert sp["add_batch_s"] == pytest.approx(1.5)
    assert sp["commit_s"] == pytest.approx(0.21)  # medians of 150, 270, 210 ms
    assert sp["offset_s"] == pytest.approx(0.02)
    assert (sp["state_rows"], sp["state_bytes"]) == (100, 1000)
    assert sp["state_commit_s"] == pytest.approx(0.03)


def test_stream_progress_of_no_batches_is_zero():
    sp = measure.stream_progress([_progress(0, 5, 0, 0, 0, 5)])
    assert sp["batches"] == 0 and sp["trigger_s"] == 0.0 and sp["state_rows"] == 0


def test_late_max_is_the_largest_delay_past_due():
    assert measure.late_max([(10.0, 10.01), (11.0, 11.5), (12.0, 12.0)]) == pytest.approx(0.5)
    assert measure.late_max([]) == 0.0


@pytest.mark.parametrize("n, p", [(1000, 99), (999, 95), (200, 95), (199, 90), (100, 90), (99, 50)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    values = [float(i) for i in range(n)]
    got_p, value = measure.tail_percentile(values)
    assert got_p == p
    assert sum(v > value for v in values) >= 10


def test_publish_latencies_run_from_the_first_carrying_file_due():
    first_file = {"a": 0, "b": 1, "c": 1, "d": 2}
    due = [100.0, 101.0, 102.0]
    published = {"a": [100.5], "b": [103.0, 101.5], "c": [101.25]}  # d never
    lat = measure.publish_latencies(first_file, due, published)
    assert lat == pytest.approx({"a": 0.5, "b": 0.5, "c": 0.25})


def test_open_loop_moves_files_on_schedule(tmp_path):
    src, dest = tmp_path / "src", tmp_path / "dest"
    src.mkdir()
    dest.mkdir()
    for n in ("f0", "f1", "f2"):
        (src / n).write_text(n)
    mover = measure.OpenLoop(
        [(0.0, [str(src / "f0")]), (0.05, [str(src / "f1"), str(src / "f2")])], str(dest)
    )
    mover.start()
    mover.join()
    assert sorted(os.listdir(dest)) == ["f0", "f1", "f2"] and not os.listdir(src)
    assert [due - mover.t0 for due, _ in mover.moved] == pytest.approx([0.0, 0.05])
    assert all(done >= due for due, done in mover.moved)
    assert 0.0 <= measure.late_max(mover.moved) < 1.0


# --------------------------------------------------------------------------
# ground-truth hashes
# --------------------------------------------------------------------------


def test_keccak256_matches_known_digests():
    from perfbench.truth import keccak256

    assert keccak256(b"").hex() == (
        "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
    )
    assert keccak256(b"abc").hex() == (
        "4e03657aea45a94fc7d47ba826c8d667c0d1e6e33a64a036ec44f58fa12d6c45"
    )
    # 136 bytes fill one block exactly, so the padding takes a second one
    assert keccak256(b"a" * 136) != keccak256(b"a" * 135)


def test_tx_hash_strips_the_blob_sidecar():
    from perfbench.truth import keccak256, tx_hash

    # 0x03 || rlp([[0x01], [0x02]]): the tx is [0x01], the sidecar [0x02]
    raw = "0x03" + "c4c101c102"
    assert tx_hash(raw, blob_sidecar=True) == "0x" + keccak256(bytes.fromhex("03c101")).hex()
    assert tx_hash("0x02c101") == "0x" + keccak256(bytes.fromhex("02c101")).hex()


# --------------------------------------------------------------------------
# host readers
# --------------------------------------------------------------------------


def test_peak_rss_covers_this_process():
    assert measure.os.getpid() in measure.descendants(os.getpid())
    assert measure.peak_rss_mb(os.getpid()) > 1.0
    assert measure.loadavg() >= 0.0


# --------------------------------------------------------------------------
# the metric catalogue and BENCHMARK.json agree
# --------------------------------------------------------------------------


def test_benchmark_json_lists_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)


# --------------------------------------------------------------------------
# merge_day's output check
# --------------------------------------------------------------------------


def _merge_out(tmp_path, hashes, ts, by_source, unique):
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = tmp_path / "out"
    (out / "transactions.parquet").mkdir(parents=True)
    (out / "sourcelog.csv").mkdir()
    (out / "sourcelog.csv" / "part-0.csv").write_text("x\n")
    half = len(hashes) // 2
    for i, (lo, hi) in enumerate([(0, half), (half, len(hashes))]):
        pq.write_table(
            pa.table({"hash": hashes[lo:hi], "timestamp": ts[lo:hi]}),
            out / "transactions.parquet" / f"part-{i:05d}.parquet",
        )
    (out / "summary.txt").write_text(f"Unique transactions: {unique:>10,} \n")
    summary = types.SimpleNamespace(
        by_source=[{"source": s, "n": n} for s, n in by_source.items()]
    )
    return str(out), summary


TRUTH = {
    "expected": {"0xa": {"ts": 1}, "0xb": {"ts": 2}, "0xc": {"ts": 3}},
    "per_source": {"alchemy": 3, "infura": 1, "eden": 0},
}


def test_merge_check_accepts_the_truth(tmp_path):
    from perfbench.workloads.merge_day import check

    out, summary = _merge_out(
        tmp_path, ["0xa", "0xb", "0xc"], [1, 2, 3], {"alchemy": 3, "infura": 1}, 3
    )
    assert check(out, summary, TRUTH) == []


@pytest.mark.parametrize(
    "hashes, ts, by_source, unique",
    [
        (["0xa", "0xb"], [1, 2], {"alchemy": 3, "infura": 1}, 3),  # row lost
        (["0xa", "0xc", "0xb"], [1, 3, 2], {"alchemy": 3, "infura": 1}, 3),  # unsorted
        (["0xa", "0xb", "0xc"], [1, 2, 4], {"alchemy": 3, "infura": 1}, 3),  # wrong ts
        (["0xa", "0xb", "0xc"], [1, 2, 3], {"alchemy": 2, "infura": 1}, 3),  # totals
        (["0xa", "0xb", "0xc"], [1, 2, 3], {"alchemy": 3, "infura": 1}, 4),  # summary
    ],
)
def test_merge_check_flags_a_wrong_output(tmp_path, hashes, ts, by_source, unique):
    from perfbench.workloads.merge_day import check

    out, summary = _merge_out(tmp_path, hashes, ts, by_source, unique)
    assert check(out, summary, TRUTH)
