"""merge_day: the daily batch job, one at a time — `merge --write-summary`.

Each job calls merge_transactions (sourcelog + previous-day blacklist),
write_merge_outputs, write_sorted_csv(sourcelog), then analyze and
sprint_summary. The first job in a fresh session is `first_s`; the next
PRIMING_JOBS warm up; later jobs are timed as steady ones. It is the only workload that runs the Python RLP/ECDSA parse
UDF, the CSV readers and the Parquet/CSV sinks; at MERGE_TXS per day the
job's fixed cost (Spark jobs per sink and per analyze aggregate) outweighs
the per-tx work. The traced run adds a per-layer walk and the collector
phase (workloads/collect.py).
"""

from __future__ import annotations

import glob
import os
import statistics
import time
import traceback

from perfbench import gen, measure
from perfbench.workloads import collect
from perfbench.workloads.common import Context, Result, span_task_s

#: jobs after the first that only warm the session up: job time still
#: falls from the second job to the third, so the second is not timed
PRIMING_JOBS = 1


def prepare(work: str, seed: int) -> dict:
    d, truth = gen.merge_inputs(work, seed)
    return {"dir": d, "truth": truth}


def locate(inputs: dict) -> dict:
    d = inputs["dir"]
    return {
        "tx": sorted(glob.glob(f"{d}/txs/*.csv")),
        "sourcelog": sorted(glob.glob(f"{d}/sourcelog/*.csv")),
        "blacklist": [f"{d}/blacklist.csv"],
    }


def _job(ctx: Context, out: str):
    from mempool_dumpster_spark.operators.analyzer import analyze, sprint_summary
    from mempool_dumpster_spark.plans.merge import merge_transactions, write_merge_outputs
    from mempool_dumpster_spark.sources.sinks import write_sorted_csv

    tr, loc = ctx.tracer, ctx.located
    with tr.span("merge_day.job"):
        with tr.span("plans.merge_transactions"):
            result = merge_transactions(
                ctx.spark,
                tx_paths=loc["tx"],
                sourcelog_paths=loc["sourcelog"],
                blacklist_paths=loc["blacklist"],
            )
        with tr.span("sources.write_merge_outputs"):
            write_merge_outputs(result, out)
        with tr.span("sources.write_sorted_csv"):
            write_sorted_csv(result.sourcelog, f"{out}/sourcelog.csv")
        with tr.span("operators.analyze"):
            summary = analyze(result.transactions)
        with tr.span("operators.sprint_summary"):
            report = sprint_summary(summary)
        with open(f"{out}/summary.txt", "w") as f:
            f.write(report)
        result.unpersist()
    return summary


def check(out: str, summary, truth: dict) -> list[str]:
    """Problems with one job's outputs against the generator's truth."""
    import pyarrow.parquet as pq

    problems = []
    parts = sorted(glob.glob(f"{out}/transactions.parquet/*.parquet"))
    t = pq.ParquetDataset(parts).read(columns=["hash", "timestamp"]) if parts else None
    hashes = t.column("hash").to_pylist() if t is not None else []
    ts = t.column("timestamp").to_pylist() if t is not None else []
    expected = truth["expected"]
    if len(hashes) != len(expected):
        problems.append(f"rows {len(hashes)} != {len(expected)}")
    if set(hashes) != set(expected):
        problems.append("hash set differs from the unique valid non-blacklisted txs")
    elif any(expected[h]["ts"] != x for h, x in zip(hashes, ts)):
        problems.append("first-seen timestamps differ")
    if ts != sorted(ts):
        problems.append("rows are not sorted by timestamp")
    by_source = {r["source"]: r["n"] for r in summary.by_source}
    want = {s: n for s, n in truth["per_source"].items() if n}
    if by_source != want:
        problems.append(f"per-source totals {by_source} != {want}")
    with open(f"{out}/summary.txt") as f:
        if f"Unique transactions: {len(expected):>10,} " not in f.read():
            problems.append("summary.txt unique count is wrong")
    if not glob.glob(f"{out}/sourcelog.csv/*.csv"):
        problems.append("sorted sourcelog CSV missing")
    return problems


def _out_bytes(out: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(out) for f in fs if not f.startswith((".", "_"))
    )


def run(ctx: Context) -> Result:
    truth = ctx.inputs["truth"]
    problems: dict = {}

    def one(i: int) -> float | None:
        """Wall seconds of job i, None if it raised; wrong output is
        recorded in `problems`."""
        out = os.path.join(ctx.run_dir, f"out{i}")
        t0 = time.perf_counter()
        try:
            summary = _job(ctx, out)
        except Exception as e:  # a failed job is counted, the run goes on
            problems[f"job{i}"] = [traceback.format_exception_only(e)[-1].strip()]
            return None
        wall = time.perf_counter() - t0
        bad = check(out, summary, truth)
        if bad:
            problems[f"job{i}"] = bad
        return wall

    first = one(0)
    for i in range(1, 1 + PRIMING_JOBS):
        one(i)
    walls, jobs = [], 1 + PRIMING_JOBS
    t_lo = time.time()
    steady_t0 = time.perf_counter()
    while jobs == 1 + PRIMING_JOBS or time.perf_counter() - steady_t0 < ctx.seconds:
        wall = one(jobs)
        jobs += 1
        if wall is not None:
            walls.append(wall)
    t_hi = time.time()
    if first is None or not walls:
        raise RuntimeError(f"merge jobs failed: {problems}")
    p50 = statistics.median(walls)
    res = Result(
        e2e={
            "first_s": first,
            "p50_s": p50,
            "rate_per_s": truth["input_txs"] / p50,
        },
        attempted=jobs,
        failed=len(problems),
        checks={"jobs": jobs, "steady_walls_s": walls, "problems": problems},
        window=(t_lo, t_hi),
    )
    if ctx.tracer.enabled:
        res.layer, res.checks["walk_unique_txs"] = _layers(ctx)
        res.layer["sources.bytes_written_per_tx"] = (
            _out_bytes(os.path.join(ctx.run_dir, "out1")) / len(truth["expected"])
        )
        try:
            stream_layer, res.checks["collect"], bad = collect.run(ctx, ctx.inputs)
            res.layer.update(stream_layer)
        except Exception as e:  # counted as a failed operation, like a job
            bad = [traceback.format_exception_only(e)[-1].strip()]
        res.attempted += 1
        if bad:
            res.failed += 1
            problems["collect"] = bad
    return res


def _layers(ctx: Context) -> tuple[dict, int]:
    """Force each layer's public call on the day's input, one at a time,
    over persisted inputs, so each span holds that layer's work only."""
    import pandas as pd
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.functions.rlp_udf import (
        parse_raw_tx_udf,
        tx_hash_udf,
        with_parsed_tx,
    )
    from mempool_dumpster_spark.operators.dedup import dedup_keep_earliest
    from mempool_dumpster_spark.operators.joins import anti_join_blacklist, attach_sources
    from mempool_dumpster_spark.sources.readers import (
        read_blacklist_csv,
        read_sourcelog_csv,
        read_transactions_parquet,
        read_tx_csv,
    )
    from mempool_dumpster_spark.sources.sinks import (
        write_metadata_csv,
        write_raw_csv,
        write_transactions_parquet,
    )

    spark, tr, loc = ctx.spark, ctx.tracer, ctx.located
    cached = []

    def keep(df):
        df = df.persist()
        cached.append(df)
        return df, df.count()

    with tr.span("sources.read"):
        rr = read_tx_csv(spark, loc["tx"])
        valid, rows_in = keep(rr.valid)
        rejected = rr.rejects.count()
    with tr.span("operators.blacklist"):
        kept, n_kept = keep(anti_join_blacklist(
            valid.withColumnRenamed("hash", "csv_hash"),
            read_blacklist_csv(spark, loc["blacklist"]),
            hash_col="csv_hash",
        ))
    with tr.span("operators.dedup"):
        deduped, n_dedup = keep(
            dedup_keep_earliest(kept, key="csv_hash", ts_col="timestamp_ms")
            .repartition(ctx.nproc, "csv_hash")
        )
    with tr.span("functions.hash"):
        deduped.select(tx_hash_udf("raw_tx").alias("h")).agg(F.count("h")).collect()
    with tr.span("functions.parse"):
        parsed, _ = keep(with_parsed_tx(deduped, raw_col="raw_tx"))
    n_fail = parsed.filter(~F.col("parse_ok")).count()
    sourcelog, _ = keep(
        read_sourcelog_csv(spark, loc["sourcelog"]).valid
        .groupBy("hash", "source").agg(F.min("timestamp_ms").alias("timestamp_ms"))
    )
    with tr.span("operators.attach_sources"):
        attach_sources(parsed.filter("parse_ok").select("hash"), sourcelog).count()
    final, _ = keep(read_transactions_parquet(
        spark, os.path.join(ctx.run_dir, "out1", "transactions.parquet")))
    walk = os.path.join(ctx.run_dir, "walk")
    with tr.span("sources.write"):
        write_transactions_parquet(final, f"{walk}/transactions.parquet")
        write_metadata_csv(final, f"{walk}/transactions.csv")
        write_raw_csv(final, f"{walk}/transactions_raw.csv")
    for df in cached:
        df.unpersist()

    raws = pd.Series([r.raw_tx for r in deduped.select("raw_tx").limit(400).collect()])
    t0 = time.perf_counter()
    parse_raw_tx_udf.func(raws)
    py_us = (time.perf_counter() - t0) / len(raws) * 1e6

    def med(name: str) -> float:
        return statistics.median(tr.durations(name))

    return {
        "sources.read_s": tr.total("sources.read"),
        "sources.rows_in": rows_in + rejected,
        "sources.rows_rejected": rejected,
        "sources.write_s": tr.total("sources.write"),
        "functions.parse_py_us_per_tx": py_us,
        "functions.parse_fail_frac": n_fail / n_dedup,
        "operators.blacklist_s": tr.total("operators.blacklist"),
        "operators.dedup_s": tr.total("operators.dedup"),
        "operators.dedup_ratio": n_dedup / n_kept,
        "operators.attach_sources_s": tr.total("operators.attach_sources"),
        "operators.analyze_s": med("operators.analyze"),
        "plans.merge_construct_s": med("plans.merge_transactions"),
    }, n_dedup


def from_event_log(ctx: Context, res: Result, log_lines: list[str]) -> dict:
    """Per-tx executor time of the forced UDF spans and the input bytes one
    steady job reads."""
    n = res.checks["walk_unique_txs"]
    whole = measure.parse_event_log(log_lines)
    steady = measure.parse_event_log(log_lines, *res.window)
    return {
        "functions.parse_us_per_tx": span_task_s(ctx.tracer, whole, "functions.parse") / n * 1e6,
        "functions.hash_us_per_tx": span_task_s(ctx.tracer, whole, "functions.hash") / n * 1e6,
        "sources.scan_bytes": steady.input_bytes / len(res.checks["steady_walls_s"]),
    }
