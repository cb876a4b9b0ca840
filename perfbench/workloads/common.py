"""What every workload shares: the run context, the result shape and the
Spark-layer figures read from the event log."""

from __future__ import annotations

from dataclasses import dataclass, field

from perfbench import measure


@dataclass
class Context:
    spark: object
    tracer: measure.Tracer
    seed: int
    seconds: int
    run_dir: str
    inputs: dict
    located: dict
    nproc: int


@dataclass
class Result:
    #: workload-specific end-to-end metrics (first_s, p50_s, rate_per_s)
    e2e: dict
    attempted: int
    failed: int
    #: what each output check found, for the run record
    checks: dict
    #: per-layer metrics measured by the workload (traced runs only)
    layer: dict = field(default_factory=dict)
    #: epoch seconds bounding the measured phase, for the event log
    window: tuple = (0.0, 0.0)


def spark_layer(res: Result, log_lines: list[str]) -> dict:
    """spark.* over the jobs submitted in the measured window."""
    lo, hi = res.window
    ev = measure.parse_event_log(log_lines, lo, hi)
    return {
        "spark.jobs": ev.jobs,
        "spark.stages": ev.stages,
        "spark.tasks": ev.tasks,
        "spark.task_s": ev.task_s,
        "spark.task_max_s": ev.task_max_s,
        "spark.gc_s": ev.gc_s,
        "spark.shuffle_write_bytes": ev.shuffle_write_bytes,
        "spark.spill_bytes": ev.spill_bytes,
        "spark.driver_gap_s": measure.driver_gap(ev.job_intervals, lo, hi),
    }


def span_task_s(tracer: measure.Tracer, ev: measure.EventLogSummary, name: str) -> float:
    """Executor run time of the jobs submitted inside spans called `name`;
    `ev` is the whole log's summary."""
    return sum(
        ev.task_s_by_group.get(f"span-{s.sid}", 0.0)
        for s in tracer.spans if s.name == name
    )
