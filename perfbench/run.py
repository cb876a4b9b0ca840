#!/usr/bin/env python3
"""Benchmark of record for mempool_dumpster_spark.

    python3 perfbench/run.py --workload merge_day --seed 1 --seconds 5 --trace 0

Generates (or reuses) the seeded inputs, sets up a Spark session the way a
user of the package does, runs the workload for ``--seconds``, checks every
output, and prints one JSON line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. The line before it is the run record:
seed, host stamps, output checks, span summary and every figure the run
produced. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.time()  # before the heavy imports, which set-up includes

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

from perfbench import measure  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads.common import Context, spark_layer  # noqa: E402

WORKLOADS = ("merge_day", "catalog_queries")


def _new_session(nproc: int, event_log_dir: str | None):
    """A session as a user builds it, ready once it has run a job. Returns
    it with the seconds spent inside get_spark."""
    from mempool_dumpster_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if event_log_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.time()
    spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
    in_get_spark = time.time() - t0
    spark.range(1).count()
    return spark, in_get_spark


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    try:
        import mempool_dumpster_spark  # noqa: F401
        import tests.txgen  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the package under test is missing ({e})", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, "runs", run_id)
    results = os.path.join(WORK, "results")
    event_log_dir = os.path.join(run_dir, "eventlog") if args.trace else None
    for d in (run_dir, os.path.join(WORK, "tmp"), results, event_log_dir):
        if d:
            os.makedirs(d, exist_ok=True)
    # what Spark, its JVMs, its Python workers and DuckDB spill stays in the
    # checkout; JVMs otherwise write their perf-data files under /tmp
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    )
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)

    wl = importlib.import_module(f"perfbench.workloads.{args.workload}")
    load_before = measure.loadavg()
    t_gen = time.time()
    inputs = wl.prepare(WORK, args.seed)
    gen_s = time.time() - t_gen

    # Set-up is what a fresh process pays, as the daily cron does: interpreter
    # start, imports, JVM launch, a first job and locating the inputs.
    # Input generation is excluded.
    spark, in_get_spark = _new_session(nproc, event_log_dir)
    located = wl.locate(inputs)
    setup_s = time.time() - T_START - gen_s

    tracer = measure.Tracer(run_id, enabled=bool(args.trace), spark=spark)
    ctx = Context(
        spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds,
        run_dir=run_dir, inputs=inputs, located=located, nproc=nproc,
    )
    jvm = spark.sparkContext._gateway.proc
    try:
        res = wl.run(ctx)
        rss = measure.peak_rss_mb(jvm.pid)
    finally:
        spark.stop()
        jvm.stdin.close()  # the JVM, and the Python workers under it, exit on EOF
        jvm.wait(timeout=60)
    load_after = measure.loadavg()

    e2e = {
        "setup_s": setup_s,
        "ok_frac": (res.attempted - res.failed) / res.attempted,
        **res.e2e,
    }
    layer = {name: 0 for name in PER_LAYER}
    layer["session.start_s"] = in_get_spark
    layer["spark.peak_rss_mb"] = rss
    if args.trace:
        log_lines = measure.read_event_log(event_log_dir)
        layer.update(res.layer)
        layer.update(spark_layer(res, log_lines))
        layer.update(wl.from_event_log(ctx, res, log_lines))
        layer.update({f"traced.{k}": v for k, v in e2e.items()})
        tracer.dump(os.path.join(results, f"{run_id}.spans.jsonl"))
    if set(layer) != set(PER_LAYER) or set(e2e) != set(END_TO_END):
        raise RuntimeError("a workload reported a metric perfbench/metrics.py lacks")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "master": f"local[{nproc}]",
            "load_before": load_before,
            "load_after": load_after,
        },
        "input_gen_s": gen_s,
        "checks": res.checks,
        "spans": tracer.summary(),
        "end_to_end": e2e,
        "per_layer": layer,
    }
    untraced = os.path.join(results, f"{args.workload}-s{args.seed}-t0.json")
    if args.trace and os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)["end_to_end"]
        record["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
    with open(os.path.join(results, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    shutil.rmtree(run_dir, ignore_errors=True)

    chosen = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else e2e
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": values[k], "unit": chosen[k]} for k in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
