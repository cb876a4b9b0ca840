"""Per-query timing for registry queries: the one loop that times them.

`time_query` is that loop; bench.py's headline and `sf1:` sections time
their queries through it too. Every attempt runs clearCache (so no run
reads another's cache) → fn(spark, sf_dir) → with `split`, force the
optimized plan → noop save (every output column computed, no write
cost). Each query gets 2 priming runs, then N timed runs (-n, default 5).

Modes (--mode, default plain):

- plain: median / min / max wall of the timed runs;
- split: construct / optimize / execute medians. construct is the
  Python-side fn() call (plan assembly over py4j), optimize forces
  queryExecution().optimizedPlan() (Catalyst analysis + optimization),
  execute is the noop save of the optimized frame; total_sec is the
  median end-to-end run, so it can differ slightly from the sum of the
  phase medians;
- stages: split, with the Spark event log on, plus one record per stage
  of the timed runs (see `stage_records`).

--out writes {"__meta__": ..., "entries": {query: {construct_sec, ...,
total_sec, n}}} as JSON; stages mode adds `jobs` and `stages` per query.

Usage: python tools/qtime.py [-n RUNS] [--mode plain|split|stages]
           [--out F.json] [query ...]     # default: every registry entry
The sf directory comes from $SPARK_GRAFT_SF_DIR, as in bench.py.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MODES = ("plain", "split", "stages")


def time_query(spark, fn, sf_dir: str, *, prime: int, runs: int,
               split: bool = False) -> list:
    """Run registry query `fn` `prime` times untimed, then `runs` times
    timed. Returns the walls in seconds or, with `split`, one dict per
    run: construct_sec, optimize_sec, execute_sec, total_sec."""
    out: list = []
    for i in range(prime + runs):
        spark.catalog.clearCache()
        t0 = time.time()
        df = fn(spark, sf_dir)
        t1 = time.time()
        if split:
            df._jdf.queryExecution().optimizedPlan()
        t2 = time.time()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.time()
        if i < prime:
            continue
        out.append(
            {
                "construct_sec": t1 - t0,
                "optimize_sec": t2 - t1,
                "execute_sec": t3 - t2,
                "total_sec": t3 - t0,
            }
            if split
            else t3 - t0
        )
    return out


def _new_stage(sid: int) -> dict:
    return {"stage": sid, "name": "", "wall_s": 0.0, "tasks": 0,
            "task_s": 0.0, "max_task_s": 0.0, "gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0}


def _stage_label(info: dict) -> str:
    """The distinct operator scopes of a stage's RDDs, output first
    (`Exchange ← WholeStageCodegen (2) ← Scan csv`), else Spark's
    `Stage Name`, which for most SQL stages names only a JVM callback."""
    names: list[str] = []
    for rdd in sorted(info.get("RDD Info") or [], key=lambda r: -r["RDD ID"]):
        name = json.loads(rdd.get("Scope") or "{}").get("name")
        if name and name not in names:
            names.append(name)
    return " ← ".join(names) or info.get("Stage Name", "")


def stage_records(lines, windows: dict[str, tuple[float, float]]) -> dict:
    """Per tag in `windows`: {"jobs": n, "stages": [record, ...]} for the
    jobs of that tag in a Spark event log (`lines` yields its JSON lines).

    A job belongs to the tag in its job description, else its job group.
    A job with neither (one submitted from a thread that did not inherit
    the caller's local properties) belongs to the tag whose (start, end)
    window, in epoch seconds, holds its submission time. One record per
    stage that ran: stage id, name (`_stage_label`), wall_s, tasks,
    task_s (summed executor run time), max_task_s, gc_s, shuffle read /
    write bytes and spill bytes (memory + disk)."""
    out = {tag: {"jobs": 0, "stages": []} for tag in windows}
    stage_tag: dict[int, str] = {}
    stages: dict[int, dict] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            tag = props.get("spark.job.description") or props.get(
                "spark.jobGroup.id"
            )
            if not tag:
                t = ev["Submission Time"] / 1000.0
                tag = next(
                    (k for k, (lo, hi) in windows.items() if lo <= t <= hi),
                    None,
                )
            if tag in out:
                out[tag]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_tag[sid] = tag
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            if sid in stage_tag and "Submission Time" in info:
                st = stages.setdefault(sid, _new_stage(sid))
                st["name"] = _stage_label(info)
                st["wall_s"] = (
                    info.get("Completion Time", info["Submission Time"])
                    - info["Submission Time"]
                ) / 1000.0
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if sid not in stage_tag:
                continue
            st = stages.setdefault(sid, _new_stage(sid))
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            st["tasks"] += 1
            st["task_s"] += run_s
            st["max_task_s"] = max(st["max_task_s"], run_s)
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st["shuffle_write_bytes"] += (
                m.get("Shuffle Write Metrics") or {}
            ).get("Shuffle Bytes Written", 0)
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
    for sid in sorted(stages):
        st = stages[sid]
        for k in ("wall_s", "task_s", "max_task_s", "gc_s"):
            st[k] = round(st[k], 3)
        out[stage_tag[sid]]["stages"].append(st)
    return out


def _log_lines(log_dir: str):
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            yield from f


def main(argv: list[str]) -> int:
    n_runs, mode, out_path, names = 5, "plain", None, []
    args = iter(argv)
    for a in args:
        if a == "-n":
            n_runs = int(next(args))
        elif a == "--mode":
            mode = next(args)
        elif a == "--out":
            out_path = next(args)
        else:
            names.append(a)
    if mode not in MODES:
        raise SystemExit(f"--mode must be one of {', '.join(MODES)}")
    sys.path.insert(0, REPO)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from mempool_dumpster_spark.plans.registry import all_queries
    from mempool_dumpster_spark.session import get_spark

    queries = all_queries()
    names = names or sorted(queries)
    log_dir = tempfile.mkdtemp(prefix="qtime-events-") if mode == "stages" else None
    spark = get_spark(
        "qtime",
        extra_conf=log_dir and {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    entries: dict[str, dict] = {}
    windows: dict[str, tuple[float, float]] = {}
    for name in names:
        fn = queries[name]
        try:
            time_query(spark, fn, sf_dir, prime=2, runs=0)
            # only the timed runs carry the tag the event log is read by
            sc.setJobDescription(f"qtime:{name}")
            t0 = time.time()
            recs = time_query(
                spark, fn, sf_dir, prime=0, runs=n_runs, split=mode != "plain"
            )
            windows[f"qtime:{name}"] = (t0, time.time())
        except Exception as exc:  # a broken entry must not end the sweep
            entries[name] = {"error": str(exc)[:200]}
            print(f"{name:30s} error {exc!s:.200}", flush=True)
            continue
        finally:
            sc.setJobDescription(None)
        if mode == "plain":
            recs = [{"total_sec": w} for w in recs]
        entry = {
            k: round(statistics.median(r[k] for r in recs), 3) for k in recs[0]
        }
        entry["n"] = len(recs)
        entries[name] = entry
        walls = sorted(r["total_sec"] for r in recs)
        print(
            f"{name:30s} "
            + "  ".join(f"{k.removesuffix('_sec')} {v}" for k, v in entry.items())
            + f"  min {walls[0]:.3f}  max {walls[-1]:.3f}",
            flush=True,
        )
    spark.stop()

    if log_dir:
        records = stage_records(_log_lines(log_dir), windows)
        shutil.rmtree(log_dir)
        for tag, rec in records.items():
            name = tag.removeprefix("qtime:")
            entries[name].update(rec)
            print(f"\n=== {name}: {rec['jobs']} jobs ===")
            for st in rec["stages"]:
                print(
                    f"  stage {st['stage']:4d} wall {st['wall_s']:6.3f}s"
                    f" tasks {st['tasks']:3d} taskSum {st['task_s']:6.3f}s"
                    f" maxTask {st['max_task_s']:6.3f}s gc {st['gc_s']:5.3f}s"
                    f" shufR {st['shuffle_read_bytes']:>9d}B"
                    f" shufW {st['shuffle_write_bytes']:>9d}B"
                    f" spill {st['spill_bytes']:>9d}B  {st['name'][:80]}"
                )
    if out_path:
        from bench import _md5_mt_sec

        meta = {
            "sf_dir": sf_dir,
            "n_runs": n_runs,
            "mode": mode,
            "nproc": len(os.sched_getaffinity(0)),
            "md5_mt_48mb_sec": round(_md5_mt_sec(), 3),
            "methodology": (
                "2 priming noop runs, then per timed run: clearCache; "
                "construct=fn() wall; optimize=queryExecution()."
                "optimizedPlan() wall (split and stages modes only); "
                "execute=noop save wall; medians; stages mode runs with "
                "the Spark event log on"
            ),
        }
        with open(out_path, "w") as f:
            json.dump({"__meta__": meta, "entries": entries}, f, indent=1,
                      sort_keys=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
