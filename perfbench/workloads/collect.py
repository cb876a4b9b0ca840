"""The collector phase of merge_day's traced run — `collect --sse-port`.

start_collector runs in continuous mode over a landing directory, with an
sse_publish hook that stamps each valid first arrival and hands it to an
SSEBroadcaster. The day's first receipts arrive as pre-built files (see
gen.merge_inputs): file 0 primes the queries untimed; the next files are
renamed into the landing directory by an open-loop mover at RATE receipts/s;
the rest land together as one backlog when that schedule ends.

It reports the `streaming` layer (micro-batch bookkeeping, state store,
commits, from the first-arrivals query's recentProgress after priming),
publish latency, backlog drain rate and the open loop's lateness. It runs in the traced run only: no end-to-end metric
covers the collector.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from perfbench import gen, measure
from perfbench.workloads.common import Context

RATE = 100  # receipts/s while the schedule runs


def run(ctx: Context, inputs: dict) -> tuple[dict, dict, list[str]]:
    """(per-layer metrics, record, problems) of one collector phase."""
    from mempool_dumpster_spark.streaming.collector import (
        file_stream_source,
        start_collector,
    )
    from mempool_dumpster_spark.streaming.sse import SSEBroadcaster

    truth = inputs["truth"]["stream"]
    base = os.path.join(ctx.run_dir, "collect")
    staged, landing, out = f"{base}/staged", f"{base}/landing", f"{base}/out"
    shutil.copytree(f"{inputs['dir']}/stream", staged)
    os.makedirs(landing)
    files = [f"{staged}/{f}" for f in sorted(os.listdir(staged))]
    n_open = truth["open_files"]
    interval = gen.STREAM_FILE_ROWS / RATE
    schedule = [((i - 1) * interval, [files[i]]) for i in range(1, n_open)]
    schedule.append(((n_open - 1) * interval, files[n_open:]))

    published: dict[str, list[float]] = {}
    broadcaster = SSEBroadcaster(port=0)

    def publish(frames: list[dict]) -> int:
        now = time.time()
        for fr in frames:
            published.setdefault(fr["hash"], []).append(now)
        return broadcaster.publish_rows(frames)

    queries = start_collector(
        file_stream_source(ctx.spark, landing),
        out_dir=out,
        checkpoint_dir=f"{base}/checkpoint",
        sse_publish=publish,
    )
    both = (queries.sourcelog, queries.transactions)
    try:
        with ctx.tracer.span("streaming.collect"):
            os.rename(files[0], f"{landing}/{os.path.basename(files[0])}")
            for q in both:
                q.processAllAvailable()
            primed = len(queries.transactions.recentProgress)
            mover = measure.OpenLoop(schedule, landing)
            mover.start()
            mover.join()
            for q in both:
                q.processAllAvailable()
        progress = queries.transactions.recentProgress[primed:]
    finally:
        queries.stop_all()
        broadcaster.close()

    # due time of every file; file 0 was landed before the clock started
    due = [mover.t0 - interval] + [mover.t0 + off for off, fs in schedule for _ in fs]
    first_file = truth["first_file"]
    lat = measure.publish_latencies(first_file, due, published)
    open_lat = [v for k, v in lat.items() if 0 < first_file[k] < n_open]
    backlog = [k for k, f in first_file.items() if f >= n_open and k in lat]
    backlog_rows = (len(files) - n_open) * gen.STREAM_FILE_ROWS
    drain_s = max(min(published[k]) for k in backlog) - due[n_open] if backlog else 0.0

    problems = []
    twice = [k for k in first_file if len(published.get(k, [])) > 1]
    if twice:
        problems.append(f"{len(twice)} txs published more than once")
    if set(published) != set(first_file):
        problems.append(
            f"published {len(set(published))} txs, landed {len(first_file)} valid txs"
        )
    sink = []
    for path in glob.glob(f"{out}/transactions/**/*.csv", recursive=True):
        with open(path) as f:
            sink.extend(line.split(",", 2)[1] for line in f if line.strip())
    if sorted(sink) != sorted(first_file):
        problems.append(f"transactions sink has {len(sink)} rows for {len(first_file)} valid txs")

    sp = measure.stream_progress([json.loads(p.json) for p in progress])
    layer = {f"streaming.{k}": v for k, v in sp.items()}
    layer["streaming.p50_s"] = statistics.median(open_lat) if open_lat else 0.0
    tail_p, layer["streaming.tail_s"] = (
        measure.tail_percentile(open_lat) if open_lat else (0, 0.0)
    )
    layer["streaming.drain_rps"] = backlog_rows / drain_s if drain_s > 0 else 0.0
    layer["generator.late_max_s"] = measure.late_max(mover.moved)
    record = {
        "latency_samples": len(open_lat),
        "tail_percentile": tail_p,
        "drain_s": drain_s,
        "problems": problems,
    }
    return layer, record, problems
