"""catalog_queries: closed loop, one client, over the extended operator
catalog — the 14 ROADMAP headline registry queries plus emb_mmr_topk, in a
seeded order per pass, on seeded reference-schema tables.

The overhead-bound side of the read path (construct and optimize are a
visible share of each query), the only workload that runs the `ml` layer,
and the one whose cached subtrees ROADMAP item 1 changes. The first pass in
a fresh session is `first_s`; later passes are steady. The result cache is
cleared before each query, so no query reuses another's cached frames.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time
import traceback

from mempool_dumpster_spark.plans.tables import TABLES
from perfbench import gen
from perfbench.metrics import CACHED_SUBTREE_QUERIES, CATALOG_QUERIES
from perfbench.workloads.common import Context, Result

MIN_STEADY_PASSES = 1


def prepare(work: str, seed: int) -> dict:
    d, truth = gen.catalog_inputs(work, seed)
    return {"dir": d, "truth": truth}


def locate(inputs: dict) -> dict:
    d = inputs["dir"]
    missing = [t for t in TABLES if not os.path.exists(f"{d}/{t}.parquet")]
    if missing:
        raise FileNotFoundError(f"catalog tables missing: {missing}")
    return {"sf_dir": d}


def _plan_counts(df) -> tuple[int, int]:
    """(InMemoryRelation nodes in the optimized plan, Exchange nodes in the
    physical plan)."""
    qe = df._jdf.queryExecution()
    return (
        len(re.findall(r"InMemoryRelation", qe.optimizedPlan().toString())),
        len(re.findall(r"\b(?:Exchange|BroadcastExchange|ReusedExchange)\b",
                       qe.executedPlan().toString())),
    )


class _Passes:
    """Runs passes and keeps every query's rows, latencies and failures."""

    def __init__(self, ctx: Context):
        from mempool_dumpster_spark.plans.registry import all_queries

        self.ctx = ctx
        self.queries = all_queries()
        self.rng = random.Random(f"catalog-{ctx.seed}")
        self.rows: dict[str, list] = {}
        self.errors: dict[str, str] = {}
        self.attempted = 0
        #: plan-node counts of CACHED_SUBTREE_QUERIES, traced runs only
        self.counts: dict[str, tuple[int, int]] = {}

    def run_pass(self) -> dict[str, float]:
        """Per-query wall seconds of one pass in a seeded order. Traced runs
        split each query into construct, optimize (forcing the physical plan)
        and execute; collect reuses that plan, so no work is added."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        order = list(CATALOG_QUERIES)
        self.rng.shuffle(order)
        walls = {}
        for name in order:
            spark.catalog.clearCache()
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span(f"catalog.{name}"):
                    with tr.span("plans.construct"):
                        df = self.queries[name](spark, self.ctx.located["sf_dir"])
                    if tr.enabled:
                        with tr.span("plans.optimize"):
                            df._jdf.queryExecution().executedPlan()
                        if name in CACHED_SUBTREE_QUERIES and name not in self.counts:
                            self.counts[name] = _plan_counts(df)
                    with tr.span("plans.execute"):
                        rows = df.collect()
            except Exception as e:  # a failed query is counted, the run goes on
                self.errors[f"{name}#{self.attempted}"] = (
                    traceback.format_exception_only(e)[-1].strip()
                )
                continue
            walls[name] = time.perf_counter() - t0
            self.rows.setdefault(name, []).append([r.asDict() for r in rows])
        return walls


def _oracle(sf_dir: str, tmp: str) -> dict:
    """Canonical oracle rows per query, by the selfcheck comparison rule."""
    import duckdb

    from mempool_dumpster_spark.plans.registry import all_oracles
    from tools.selfcheck import canonical

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory='{tmp}/duckdb'")
        con.execute("SET memory_limit='2GB'")
        for t in TABLES:
            con.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out = {}
        for name in CATALOG_QUERIES:
            cur = con.execute(oracles[name])
            cols = [d[0] for d in cur.description]
            out[name] = canonical([dict(zip(cols, r)) for r in cur.fetchall()])
        return out
    finally:
        con.close()


def run(ctx: Context) -> Result:
    from tools.selfcheck import canonical

    p = _Passes(ctx)
    t0 = time.perf_counter()
    p.run_pass()
    first = time.perf_counter() - t0
    passes = []
    t_lo = time.time()
    steady_t0 = time.perf_counter()
    while len(passes) < MIN_STEADY_PASSES or time.perf_counter() - steady_t0 < ctx.seconds:
        passes.append(p.run_pass())
    steady_s = time.perf_counter() - steady_t0
    t_hi = time.time()

    expected = _oracle(ctx.located["sf_dir"], os.environ.get("TMPDIR", ctx.run_dir))
    problems = dict(p.errors)
    for name, runs in p.rows.items():
        for i, rows in enumerate(runs):
            if canonical(rows) != expected[name]:
                problems[f"{name}#{i}"] = (
                    f"differs from the DuckDB oracle ({len(rows)} rows, "
                    f"oracle {expected[name][0]})"
                )
    lat = [w for ps in passes for w in ps.values()]
    if not lat:
        raise RuntimeError(f"every steady query failed: {problems}")
    res = Result(
        e2e={
            "first_s": first,
            "p50_s": statistics.median(lat),
            "rate_per_s": len(lat) / steady_s,
        },
        attempted=p.attempted,
        failed=len(problems),
        checks={
            "passes": len(passes) + 1,
            "steady_pass_s": [sum(ps.values()) for ps in passes],
            "steady_query_s": {q: [ps[q] for ps in passes if q in ps] for q in CATALOG_QUERIES},
            "problems": problems,
        },
        window=(t_lo, t_hi),
    )
    if ctx.tracer.enabled:
        res.layer = _layers(ctx, t_lo, len(passes), p.counts)
    return res


def _layers(ctx: Context, t_lo: float, n_pass: int, counts: dict) -> dict:
    """Per-pass plan phases and per-query execute time over the steady
    passes, and the plan-node counts."""
    tr = ctx.tracer
    steady = [s for s in tr.spans if s.start >= t_lo]

    def per_pass(name: str) -> float:
        return sum(s.end - s.start for s in steady if s.name == name) / n_pass

    out = {f"plans.{k}_s": per_pass(f"plans.{k}") for k in ("construct", "optimize", "execute")}
    for q in CATALOG_QUERIES:
        execs = [
            s.end - s.start for s in steady
            if s.name == "plans.execute" and tr.spans[s.parent].name == f"catalog.{q}"
        ]
        out[f"catalog.{q}.execute_s"] = statistics.median(execs) if execs else 0.0
    for q, (cached, exchanges) in counts.items():
        out[f"plans.cached_nodes.{q}"] = cached
        out[f"plans.exchanges.{q}"] = exchanges
    return out


def from_event_log(ctx: Context, res: Result, log_lines: list[str]) -> dict:
    return {}
