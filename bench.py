"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced to full materialization with the noop sink (computes
every output column, no write cost), so the timing covers the whole plan —
scan, shuffle, agg — not just a count-star shortcut.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_regional_revenue",
    "top_partkeys",
    "dedup_earliest",
    "sources_attach",
    "first_source_counts",
    "hourly_stats",
    "value_quantiles",
    "docs_exact_dedup",
    "docs_ngram_jaccard",
    "docs_minhash_lsh_pairs",
    "docs_simhash",
    "emb_knn",
]


#: the sf1 quiet query tier (r17, r16 verdict #1): at sf0.1 every
#: headline query is fixed-overhead-bound — the r16 driver's 8-vs-32-core
#: ratios sat at 0.70-1.41 against an ideal 4.0, so the sf0.1 queries
#: section stopped discriminating executor-side work. These entries run
#: the SAME registry query functions over the deterministic 10×-sf0.1
#: corpus (tools/stressgen.py — the prep_pipeline_15k precedent; r17
#: extends it to scale events/lineitem/orders so the TPC-H/events heavy
#: queries see 10× fact rows, not a verbatim copy). They ride in the
#: `queries` dict under an `sf1:`-prefixed name — ADDITIONS only: the
#: original 14 keys, their methodology and the headline `value` are
#: byte-for-byte unchanged — so the driver's lower-core PERF run derives
#: 8-vs-32 scaling ratios for them exactly like the headline set.
QUERIES_SF1 = [
    "q1_pricing_summary",
    "q5_regional_revenue",
    "hourly_stats",
    "docs_ngram_jaccard",
    "docs_minhash_lsh_pairs",
    "docs_simhash",
    "emb_knn",
]
SF1_PREFIX = "sf1:"
#: sf1 entries are multi-second each; 2 priming + 3 timed runs bounds the
#: tier at ~3-4 min on a quiet 32-core box (vs 5 timed for the sub-second
#: sf0.1 set, where extra runs are nearly free)
SF1_N_RUNS = 3


def _median(xs: list[float]) -> float:
    """True median: averages the middle two on even counts. The old
    `sorted(xs)[len//2]` was the MAX of a 2-run sample — one contended
    run halved the published steady throughput."""
    s = sorted(xs)
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2.0


def _dispersion(runs: list[float]) -> tuple[float, dict[str, float]]:
    """(median, {min, median, max, n}) of SORTED per-query walls, rounded
    to ms. The median is runs[len // 2], the upper middle on even counts
    — the rule every committed headline was read with."""
    med = round(runs[len(runs) // 2], 3)
    return med, {
        "min": round(runs[0], 3),
        "median": med,
        "max": round(runs[-1], 3),
        "n": len(runs),
    }


def _bench_merge(spark, n: int | None = None, n_runs: int = 4) -> dict:
    """Time the engine's signature operator — the full merge pipeline over a
    synthetic day of collector CSVs (dedup → blacklist → RLP/ECDSA parse UDF →
    sourcelog join → sort). Generation is deterministic, cached under /tmp,
    and excluded from the timing.

    Called at TWO scales per bench: the longitudinal n=1500 (comparable
    across every round's artifact, but fixed-overhead-dominated — ~1.4 s
    of session/stage setup per run) and n=15000, where the per-tx cost
    dominates and steady tx/s approaches the true pipeline rate (the
    committed 7.5 M-unique MERGE_STRESS run measured 21.5k receipts/s;
    the n=1500 number is ~10× under it purely from fixed overhead)."""
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))
    from txgen import make_tx

    from mempool_dumpster_spark.plans.merge import merge_transactions

    if n is None:
        n = int(os.environ.get("SPARK_GRAFT_MERGE_TXS", "1500"))
    base = f"/tmp/spark_graft_bench_merge_{n}"
    marker = os.path.join(base, "_DONE")
    sources = ["alchemy", "infura", "bloxroute"]
    if not os.path.exists(marker):
        os.makedirs(base, exist_ok=True)
        t0_ms = 1_693_785_600_000
        tx_lines: list[str] = []
        sl_lines: list[str] = []
        for i in range(n):
            raw = make_tx(priv=0x1000 + i, nonce=i, tx_type=i % 3)
            from txgen import tx_hash_of

            h = tx_hash_of(raw)
            ts = t0_ms + i * 37
            # 1-3 receipts per tx across sources; merge dedups to the earliest
            for j in range(1 + (i % 3)):
                tx_lines.append(f"{ts + 211 * j},{h},{raw}")
                sl_lines.append(f"{ts + 211 * j},{h},{sources[(i + j) % 3]}")
        for part in range(4):
            with open(os.path.join(base, f"txs_{part}.csv"), "w") as f:
                f.write("\n".join(tx_lines[part::4]) + "\n")
            with open(os.path.join(base, f"sourcelog_{part}.csv"), "w") as f:
                f.write("\n".join(sl_lines[part::4]) + "\n")
        with open(marker, "w") as f:
            f.write(str(len(tx_lines)))
    with open(marker) as f:
        n_receipts = int(f.read())
    # Pre-read the inputs so the "cold" number measures the pipeline, not
    # whether the page cache happens to hold a few MB of CSV (observed
    # 10s-24s cold swings on identical code from exactly this).
    for part in range(4):
        for stem in ("txs", "sourcelog"):
            with open(os.path.join(base, f"{stem}_{part}.csv"), "rb") as f:
                f.read()

    # Warm the Python workers (module imports + keccak codegen + G comb
    # table are per-process one-time costs) so the timed run measures
    # throughput. Drop headline-query caches first — their old-gen footprint
    # otherwise taxes the merge run's GC. The warm-up runs twice over
    # cpus × 16 rows: round-robin repartition from a single limit() split
    # can leave workers cold on a single pass.
    spark.catalog.clearCache()
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.functions.rlp_udf import parse_raw_tx_udf

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    warm = (
        spark.read.schema("timestamp_ms string, hash string, raw_tx string")
        .csv(os.path.join(base, "txs_0.csv"))
        .limit(cpus * 16)
        .repartition(cpus)
    )
    for _ in range(2):
        warm.select(parse_raw_tx_udf(F.col("raw_tx"))["hash"]).write.format(
            "noop"
        ).mode("overwrite").save()

    def one_run() -> float:
        # CacheManager dedups by logical plan: without clearCache() a repeat
        # run reuses the previous run's persisted `transactions` frame and
        # the ECDSA UDF never re-executes — the repeat would time a cache
        # read, not the pipeline. Clearing isolates runs while keeping the
        # Python workers (and their comb tables) warm — which is exactly the
        # steady-state a long-running merge deployment sits in.
        spark.catalog.clearCache()
        t0 = time.time()
        result = merge_transactions(
            spark,
            tx_paths=[os.path.join(base, f"txs_{p}.csv") for p in range(4)],
            sourcelog_paths=[
                os.path.join(base, f"sourcelog_{p}.csv") for p in range(4)
            ],
        )
        result.transactions.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # First timed run = cold-ish (workers pre-warmed above, JIT/GC not yet
    # steady). Steady-state = median of the next 4 runs — a fixed-count
    # median instead of the old "two consecutive within 10%" plateau, which
    # could latch onto two adjacent lucky (or unlucky) runs and made the
    # steady number swing round to round on identical code.
    times = [one_run()]
    for _ in range(n_runs):
        times.append(one_run())
    steady = _median(times[1:])
    return {
        "sec": round(times[0], 3),
        "sec_steady": round(steady, 3),
        "n_receipts": n_receipts,
        "unique_txs": n,
        "tx_per_sec": round(n_receipts / times[0], 1),
        "tx_per_sec_steady": round(n_receipts / steady, 1),
        "n_runs": len(times),
        "run_secs": [round(t, 3) for t in times],
    }


def _bench_ann_recall(spark) -> dict[str, float] | None:
    """recall@3 of each approximate ANN path (LSH, IVF) vs the exact path at
    sf0.01 — the approximate queries' accuracy is part of their benchmark."""
    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        return None
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    if not exact:
        return None
    out = {}
    for name in (
        "emb_knn_lsh",
        "emb_knn_ivf",
        "emb_knn_pq",
        "emb_knn_ivfpq",
        "emb_knn_sq8",
        "emb_knn_bq",
    ):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in qs[name](spark, sf_dir).collect()
        }
        out[name] = round(len(exact & approx) / len(exact), 3)
    return out


def _bench_pretrained_serve(spark, sf_dir: str) -> dict | None:
    """Build vs serve timing for every pretrained ANN entry (r12 verdict
    finding #1 → r13 item #4): each entry rebuilds its index inside the
    timed call — right for the lifecycle gate, wrong for a serving SLA,
    because the one number is mostly `write_*_index`. The entries record
    their eager build phase on the plans.timing side channel; this
    section publishes build_sec and serve_sec (serve-plan construction +
    collect) separately so the SERVING path gets its own dispersion
    ceiling in check_throughput_gates."""
    from mempool_dumpster_spark.plans.registry import all_queries
    from mempool_dumpster_spark.plans.timing import pop_build

    qs = all_queries()
    out: dict = {}
    for name in (
        "emb_knn_ivf_pretrained",
        "emb_knn_ivfpq_pretrained",
        "emb_knn_sq8_pretrained",
        "emb_knn_bq_pretrained",
    ):
        try:
            t0 = time.time()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            total = time.time() - t0
            build = pop_build(name) or 0.0
            # the INLINE sibling, timed in the same session right after
            # its pretrained twin (r15 verdict #2): the serve gate is
            # anchored to this same-run measurement, not to a warm
            # calibration from a different day — the two share
            # ANN_RUNG_PARAMS by aliasing, so the comparison is
            # apples-to-apples, and same-run anchoring makes the gate
            # immune to cross-time box contention (which is exactly what
            # the r15 200k-tier artifact's 2.3× serve/inline reading
            # turned out to be).
            inline = name[: -len("_pretrained")]
            t1 = time.time()
            qs[inline](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            inline_sec = time.time() - t1
            out[name] = {
                "build_sec": round(build, 2),
                "serve_sec": round(total - build, 2),
                "inline_sec": round(inline_sec, 2),
                "serve_over_inline": round(
                    (total - build) / inline_sec, 2
                ) if inline_sec > 0 else None,
            }
        except Exception as exc:
            out[name] = {"error": str(exc)[:200]}
    return out


def _bench_gate_calibration(spark, sf_dir: str) -> dict | None:
    """Measured false-drop / false-keep rates of the incremental-dedup
    gate (ml.prep.cross_corpus_filter defaults: 64-slot MinHash, 16×4
    banding, 0.7 threshold) against exact shingle Jaccard over
    controlled-overlap variants of the bench documents — the accuracy
    half of the gate's benchmark, same pattern as the ANN recall gates.
    A false drop is silent data loss; pinned <1% in tests, republished
    here every round so drift is visible."""
    try:
        from mempool_dumpster_spark.ml.prep import (
            calibrate_cross_corpus_gate,
            gate_error_rates,
        )

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pairs = calibrate_cross_corpus_gate(docs, max_docs=500).cache()
        try:
            r = gate_error_rates(pairs)
        finally:
            pairs.unpersist()
        return {
            k: (round(v, 5) if isinstance(v, float) else v)
            for k, v in r.items()
        }
    except Exception:
        return None


def _ensure_sf1() -> str | None:
    """Derive (or reuse) the deterministic 10×-sf0.1 stress corpus under
    /tmp — shared by the prep_15k section, the sf1 query tier and the
    pytest/selfcheck stress gates. Returns the dir, or None when the base
    fixtures are absent or generation fails (callers degrade to a missing
    section, never abort the bench). A cached dir from an older generator
    layout (no/lower _GENVER stamp — e.g. pre-r17 dirs lack the scaled
    fact tables) is regenerated, not silently reused."""
    import subprocess

    out = "/tmp/spark_graft_sf1"
    base = "/root/testdata/sf0.1"
    repo = os.path.dirname(os.path.abspath(__file__))
    genver = None
    try:
        sys.path.insert(0, os.path.join(repo, "tools"))
        from stressgen import GENVER as genver  # noqa: N811
    except Exception:
        pass
    have = os.path.exists(os.path.join(out, "documents.parquet"))
    if have and genver is not None:
        try:
            with open(os.path.join(out, "_GENVER")) as f:
                have = int(f.read().strip()) >= genver
        except Exception:
            have = False
    if not have:
        if not os.path.isdir(base):
            return None
        try:
            gen = subprocess.run(
                [sys.executable, os.path.join(repo, "tools", "stressgen.py"),
                 base, out, "10"],
                capture_output=True, text=True, timeout=1800,
            )
        except subprocess.TimeoutExpired:
            return None
        if gen.returncode != 0:
            return None
    return out


def _bench_prep_15k(spark) -> dict | None:
    """The ≥15k-doc prep run the throughput gate requires (r11 verdict
    #1): sf0.1's documents table holds only 4,750 non-benchmark docs, so
    per-SESSION fixed overhead is ~25% of its prep wall — a noisy gate
    signal. The 10×-sf0.1 stress corpus (47.5k docs, deterministic
    seedless derivation with a LINEAR dup structure — tools/stressgen)
    puts per-doc cost in charge. Derives the corpus on first use (~2
    min, cached under /tmp and shared with the pytest stress gate)."""
    # Degrades to prep_pipeline_15k: null rather than aborting the whole
    # bench run — the gate reports a missing section cleanly.
    out = _ensure_sf1()
    if out is None:
        return None
    # Priming + median-of-3 (r16): prep was the LAST single-shot gated
    # section, and single-shot is exactly what the queries section
    # abandoned in r8 after phantom regressions. Measured on a quiet box
    # (same code, same day): first 15k-scale run 2,441 docs/s, then
    # 3,947, then 4,147 — a real warm-up slope (C2 JIT at full data
    # volume, same mechanism as the per-query priming passes), plus this
    # box's wave-shaped external contention that the md5 CPU probe
    # cannot see (it is memory-bandwidth/IO shaped; two r16 bench runs
    # read prep 2,900/1,440 against quiet probe pairs while the
    # standalone repeats above read 4k+). One untimed priming run puts
    # the timed runs on the steady-state plateau; the median of 3
    # shrugs off one contended draw; min/max ride along so a real
    # regression cannot hide in the dispersion.
    _bench_prep(spark, out)  # priming, untimed
    runs = [_bench_prep(spark, out) for _ in range(3)]
    runs = [r for r in runs if r is not None]
    if not runs:
        return None
    runs.sort(key=lambda r: r["sec"])
    med = dict(runs[len(runs) // 2])
    rates = sorted(r["docs_per_sec"] for r in runs)
    med["dispersion"] = {
        "min_docs_per_sec": rates[0],
        "median_docs_per_sec": med["docs_per_sec"],
        "max_docs_per_sec": rates[-1],
        "n": len(runs),
    }
    return med


def _bench_prep(spark, sf_dir: str) -> dict | None:
    """Time the end-to-end training-corpus prep composition (ml.prep:
    Gopher ∧ exact-dedup ∧ LSH keep-list ∧ decontamination ∧ splits) at
    the bench SF — the throughput figure for the 100 TB pipeline story."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.ml.prep import PrepConfig, prep_corpus
    from mempool_dumpster_spark.plans.tables import load_tables

    try:
        docs = load_tables(spark, sf_dir, ["documents"])["documents"]
        bench_docs = docs.filter(F.col("source") == "src0")
        corpus = docs.filter(F.col("source") != "src0")
        n_in = corpus.count()
        t0 = time.time()
        out = prep_corpus(corpus, benchmark=bench_docs, config=PrepConfig())
        counts = {
            r["split"]: r["n"]
            for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
        }
        sec = round(time.time() - t0, 3)
        n_out = sum(counts.values())
        return {
            "sec": sec,
            "docs_in": n_in,
            "docs_kept": n_out,
            "docs_per_sec": round(n_in / sec, 1) if sec else None,
            "splits": counts,
        }
    except Exception:
        return None


def _bench_selection(spark, sf_dir: str) -> dict | None:
    """Time the r10 training-data selection family at the bench SF:
    DSIR train (bucket-stats artifact), DSIR apply (pretrained scoring —
    the serve-many path whose docs/s is the 100 TB figure), and the
    leakage-safe split composition (LSH pairs → components → grouped
    split)."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.ml.dedup import duplicate_components
    from mempool_dumpster_spark.ml.selection import dsir_apply, dsir_bucket_stats
    from mempool_dumpster_spark.ml.splits import leakage_safe_split
    from mempool_dumpster_spark.plans.tables import load_tables

    try:
        docs = load_tables(spark, sf_dir, ["documents"])["documents"]
        n_docs = docs.count()
        t0 = time.time()
        stats = dsir_bucket_stats(docs, F.col("lang") == "en").cache()
        n_buckets = stats.count()  # materialize the artifact
        train_sec = round(time.time() - t0, 3)
        t0 = time.time()
        dsir_apply(docs, stats).write.format("noop").mode("overwrite").save()
        apply_sec = round(time.time() - t0, 3)
        stats.unpersist()
        t0 = time.time()
        from mempool_dumpster_spark.plans.registry import all_queries

        pairs = all_queries()["docs_minhash_lsh_pairs"](spark, sf_dir)
        comp = duplicate_components(pairs)
        leakage_safe_split(docs, comp).write.format("noop").mode(
            "overwrite"
        ).save()
        split_sec = round(time.time() - t0, 3)
        return {
            "n_docs": n_docs,
            "dsir_train_sec": train_sec,
            "dsir_train_buckets": n_buckets,
            "dsir_apply_sec": apply_sec,
            "dsir_apply_docs_per_sec": (
                round(n_docs / apply_sec, 1) if apply_sec else None
            ),
            "leakage_safe_split_sec": split_sec,
        }
    except Exception:
        return None


def _bench_text_microcost(spark, sf_dir: str) -> dict | None:
    """Per-document CPU microcost (µs/doc, wall over local[32]) of the
    heaviest text-stack projections — what a 1-10 B-doc prep run actually
    pays per doc. Measured over the bench documents replicated 40× with
    distinct ids (~200k docs at sf0.1): at the raw sf row count these
    operators are dominated by fixed query-launch overhead and the number
    says nothing; at 200k the per-doc slope dominates. Median of 3 after
    one priming run, forced through the noop sink.

    Each op is ALSO timed at 1/5 the doc count so the report can separate
    the marginal per-doc slope from fixed query-launch overhead:
    `us_per_doc_marginal` = (t_big − t_small)/(n_big − n_small) is
    scale-invariant and is the number to compare across rounds and sf
    dirs — `us_per_doc` (total/n) reads 5-10× higher at sf0.01 than
    sf0.1 purely because ~0.3-0.7 s of launch overhead amortizes over
    20k docs instead of 200k (this exact misreading happened comparing
    the r9 driver artifact against an sf0.01 run)."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.ml.text import (
        boilerplate_ngrams,
        gopher_rules,
        language_id,
        quality_features,
        quality_score,
        repetition_stats,
    )
    from mempool_dumpster_spark.plans.tables import load_tables

    try:
        docs0 = load_tables(spark, sf_dir, ["documents"])["documents"]

        def replicated(reps: int):
            return (
                docs0.crossJoin(spark.range(reps).withColumnRenamed("id", "rep"))
                .withColumn("doc_id", F.concat_ws("_", "doc_id", "rep"))
                .drop("rep")
                .repartition(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
                .cache()
            )

        docs = replicated(40)
        docs_small = replicated(8)
        n = docs.count()
        n_small = docs_small.count()
        ops = {
            "language_id": lambda d: language_id(d).select(
                "doc_id", "predicted_lang"
            ),
            "quality": lambda d: quality_score(quality_features(d)).select(
                "doc_id", "quality_score"
            ),
            "repetition_stats": repetition_stats,
            "boilerplate_ngrams": boilerplate_ngrams,
            "gopher_rules": gopher_rules,
        }
        out: dict = {"n_docs": n, "n_docs_small": n_small}

        def timed(frame, op, n_timed: int) -> float:
            runs = []
            for i in range(n_timed + 1):
                t0 = time.time()
                op(frame).write.format("noop").mode("overwrite").save()
                if i:  # first pass primes
                    runs.append(time.time() - t0)
            return _median(runs)

        for name, op in ops.items():
            sec = timed(docs, op, 3)
            sec_small = timed(docs_small, op, 2)
            slope = max(sec - sec_small, 0.0) / (n - n_small)
            out[name] = {
                "sec": round(sec, 3),
                "us_per_doc": round(sec / n * 1e6, 2),
                "us_per_doc_marginal": round(slope * 1e6, 2),
                "fixed_overhead_sec": round(max(sec_small - slope * n_small, 0.0), 3),
            }
        docs.unpersist()
        docs_small.unpersist()
        return out
    except Exception:
        return None


def _load_stress_artifact(prefix: str) -> dict | None:
    """Embed the newest committed stress artifact for `prefix`
    (MERGE_STRESS_r{N}.json from tools/merge_stress.py, STREAM_STRESS_r{N}
    .json from tools/stream_stress.py — multi-minute full-scale runs, far
    too heavy to re-run per bench). The artifact name rides along so a
    stale embed is attributable; regenerate whenever the covered pipeline
    (plans/merge.py, streaming/collector.py, the parse UDF) changes."""
    import glob

    import re

    here = os.path.dirname(os.path.abspath(__file__))
    # numeric round sort: lexicographic order puts r9 after r10 (and r2x
    # after r100), which would embed a stale artifact as current
    def round_no(p: str) -> int:
        m = re.search(r"_r0*(\d+)\.json$", p)
        return int(m.group(1)) if m else -1

    paths = sorted(
        glob.glob(os.path.join(here, f"{prefix}_r*.json")), key=round_no
    )
    if not paths:
        return None
    try:
        with open(paths[-1]) as f:
            d = json.load(f)
    except Exception:
        return None
    d["artifact"] = os.path.basename(paths[-1])
    return d


def _load_merge_stress() -> dict | None:
    return _load_stress_artifact("MERGE_STRESS")


def _bench_stream_15k(spark) -> dict | None:
    """Live streaming-collector throughput at the ~15k-receipt tier —
    the streaming twin of _bench_merge(n=15000) (r12 verdict #1): one
    availableNow drain of a deterministic 7,500-unique day through the
    REAL two-query topology (pre-dedup sourcelog sink + watermarked
    dedup → RLP/ECDSA parse → foreachBatch transactions/trash), via
    tools/stream_stress.drain_collector. The kill/restart semantics are
    proven by the committed STREAM_STRESS artifact; this measures the
    steady micro-batch rate so a streaming-path regression trips a
    floor the way a merge regression trips merge_15k's."""
    repo = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, os.path.join(repo, "tools"))
    sys.path.insert(0, os.path.join(repo, "tests"))
    try:
        from stream_stress import drain_collector, generate

        base = "/tmp/spark_graft_stream_bench_7500"
        counts = generate(
            7500, base, procs=min(16, os.cpu_count() or 8), parts=4
        )
        spark.catalog.clearCache()
        # Drains 1-2 are warm-up and DISCARDED: streaming-engine JIT is
        # deeper than one drain — a measured convergence run (r13, quiet
        # box) read 698 r/s on drain 0, 1,124 by drain 1, then
        # 1,018-1,106 across drains 2-5, and a single-warm-up median
        # once read 783 on healthy code (a still-cold drain polluted
        # it). The gated number is the MEDIAN steady rate of the three
        # fully-warm drains (r14, advice fix: r13 briefly gated the MAX
        # under the same field name the pre-r13 artifacts used for a
        # median — max is the most lenient floor statistic and the
        # silent semantic change broke cross-round comparison; the
        # committed convergence data clears the 1000 floor either way).
        # The warm max rides along as receipts_per_sec_steady_warm_max
        # for capability reading, and every per-drain value stays in
        # the artifact so dispersion is visible.
        runs = [drain_collector(spark, base, counts) for _ in range(5)][2:]
    except Exception as exc:
        return {"error": str(exc)[:300]}
    steadies = [r["receipts_per_sec_steady"] for r in runs
                if r["receipts_per_sec_steady"]]
    return {
        "n_receipts": counts["receipts"],
        "unique_txs": counts["valid_unique"],
        "n_runs": len(runs),
        "wall_secs": [r["wall_sec"] for r in runs],
        "n_batches": runs[0]["n_batches"],
        "receipts_per_sec_wall": _median(
            [r["receipts_per_sec_wall"] for r in runs]
        ),
        "steady_per_drain": [round(s, 1) for s in steadies],
        "receipts_per_sec_steady": _median(steadies) if steadies else None,
        "receipts_per_sec_steady_warm_max": (
            max(steadies) if steadies else None
        ),
        "unique_exact": all(r["unique_exact"] for r in runs),
    }


def _cpu_probe() -> dict:
    """Deterministic CPU probe — a fixed amount of md5 and a fixed numpy
    matmul, timed. The probe is CODE-INDEPENDENT, so when a whole bench
    artifact shifts (r9's driver run read +21% over r8 on every query
    including untouched ones, while the builder's local runs sat at
    7.33 s), the probe says whether the MACHINE was slower that session
    (probe shifted too → environment drift; probe flat → real
    regression). Median of 3.

    r12: added a MULTI-CORE md5 probe (32 threads × 48 MB; hashlib
    releases the GIL on large updates, so the threads genuinely run in
    parallel). The single-core md5 probe read 0.32 — exact parity — on
    the r11 driver host whose matmul sat at 63× and whose Spark-side
    numbers were 2-14× degraded: single-core md5 simply does not see
    multi-core contention, and Spark local[32] is a 32-way workload.
    The throughput gates normalize by THIS probe.

    r17: added a first-touch ALLOCATION probe (alloc_touch_256mb_sec —
    allocate 256 MB and dirty one byte per 4 KiB page), recorded but
    NON-GATING. Measured blind spot it covers: an r17 session observed
    Spark runs 5-10× degraded while md5_mt read quiet parity (0.085 s
    single-core / mt unchanged) — this box's contention waves are
    host-level memory pressure that taxes page faults and fresh
    allocations, which hashing a RESIDENT buffer never performs; a
    512 MB numpy first-touch read 13.7 s during such a wave vs 0.14 s
    quiet. The field rides along for forensics so a polluted artifact
    is identifiable even when the CPU probes read parity."""
    import hashlib

    import numpy as np

    buf = b"\x00" * (1 << 20)
    md5_runs, mm_runs, mt_runs = [], [], []
    mat = np.arange(512 * 512, dtype="float64").reshape(512, 512) / 1e6
    for _ in range(3):
        t0 = time.time()
        h = hashlib.md5()
        for _ in range(192):  # 192 MB hashed
            h.update(buf)
        md5_runs.append(time.time() - t0)
        t0 = time.time()
        acc = 0.0
        for _ in range(8):
            acc += float((mat @ mat)[0, 0])  # fresh operands — no overflow
        mm_runs.append(time.time() - t0)
        mt_runs.append(_md5_mt_sec())
    return {
        "md5_192mb_sec": round(sorted(md5_runs)[1], 3),
        "matmul_512_x8_sec": round(sorted(mm_runs)[1], 3),
        "md5_mt_48mb_sec": round(sorted(mt_runs)[1], 3),
        "mt_threads": MT_THREADS,
        "alloc_touch_256mb_sec": _alloc_touch_probe(),
    }


MT_THREADS = min(32, os.cpu_count() or 8)


def _md5_mt_sec() -> float:
    """Wall seconds for MT_THREADS threads each hashing 48 MB with md5 —
    the multi-core CPU probe. hashlib releases the GIL on large
    updates, so the threads run in parallel."""
    import hashlib
    import threading

    buf = b"\x00" * (1 << 20)

    def _hash_48mb() -> None:
        h = hashlib.md5()
        for _ in range(48):
            h.update(buf)

    threads = [threading.Thread(target=_hash_48mb) for _ in range(MT_THREADS)]
    t0 = time.time()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.time() - t0


def _alloc_touch_probe(n_mb: int = 256) -> float:
    """First-touch allocation probe (r17, recorded-only — see _cpu_probe
    docstring): times allocating n_mb plus its full zero-fill
    (`bytearray(n)` memsets the buffer, so every page is faulted in),
    then one write per 4 KiB page — the page-fault path the CPU probes
    never exercise. Quiet box: ~0.10-0.15 s at 256 MB; during a
    host-memory-pressure wave: 10 s+."""
    t0 = time.time()
    b = bytearray(n_mb << 20)
    step = 4096
    n_pages = len(b) // step
    b[::step] = bytes(n_pages)
    return round(time.time() - t0, 3)


#: ---- throughput gates (r12 re-base) ----------------------------------
#: Three rounds of evidence (r9 false alarm, r10 judge run failing all
#: three old gates on healthy code, r11 judge run failing the headline
#: ceiling at single-core-probe parity) showed the old gates flapped:
#: they gated NOISY signals (the n=1500 merge run is fixed-overhead-
#: dominated; the 14-query headline total swings ±30% across sessions on
#: identical code) and normalized by a SINGLE-CORE probe that reads
#: parity on a host whose 32-way capacity is 2-14× degraded. The
#: re-based gates use (a) the run's STABLE signals — merge_pipeline_15k
#: steady receipts/s (observed spread 3.06-3.34 s across runs, r11
#: verdict) and the ≥15k-doc prep pipeline docs/s — and (b) per-query
#: medians vs each query's RECORDED dispersion ceiling, all normalized
#: by the multi-core probe. Calibration (r12, this box): md5_mt_48mb_sec
#: 0.194-0.215 across 4 runs at load 1.4-4.9 — stable where the
#: single-core probe was blind (r11 driver host: single-core 0.32 ==
#: parity while matmul ran 63× slow and Spark 2-14× slow).
REF_CPU_PROBE_MT = 0.21  # md5_mt_48mb_sec on the box that set the floors

#: Calibration run (r12, quiet box, probe_mt 0.222): merge_15k steady
#: 9,007.7 r/s with run spread 3.232-3.376 s; a SECOND run with a full
#: 32-core selfcheck sweep deliberately contending read 7,920.8 — the
#: signal moves ≤16% under worst-case co-tenancy while the 14-query
#: headline total moved 26% in the same pair of runs. Floor = ~0.83×
#: calibration: a 1.3× code slowdown at probe parity fails (9007/1.3 =
#: 6929 < 7500/1.06), the contended-but-healthy reading passes (its
#: probe read 0.246 → floor relaxes to 6400). Host-level slowdowns
#: inflate the mt probe and relax the floor instead of flapping the gate.
MERGE_15K_STEADY_FLOOR = 7500.0
#: prep over the 47.5k-doc stress corpus (per-doc cost in charge, not
#: session fixed overhead): calibration 3,315.6 docs/s; floor catches a
#: 1.3× slowdown (3315/1.3 = 2550 < 3000/1.06 = 2830) with a 1.17×
#: healthy margin on top of probe normalization.
PREP_FLOOR_DOCS_S = 3000.0
PREP_MIN_DOCS_IN = 15_000
#: streaming collector at the ~15k-receipt tier (r12 verdict #1 — the
#: merge had floors, the 24/7 component had none): the gated signal is
#: the MEDIAN steady rate over three fully-warm drains (two warm-up
#: drains discarded — see _bench_stream_15k; a median over
#: insufficiently-warm drains read 783 r/s on healthy code and fired
#: this gate falsely in the first r13 full-bench run — the fix was
#: discarding cold drains, not switching to max). Calibrations on
#: healthy code: 1,214.8/1,242.7 r/s (first r13 session) and
#: 1,018-1,124 across four warm drains (second session, measured
#: convergence run — warm median ~1,070, clears the floor). 5
#: micro-batches of ~3.7k receipts through the live two-query
#: topology; per-batch trigger overhead + the concurrent sourcelog
#: query keep this well below merge_15k's 9k — the signal is the
#: micro-batch pipeline rate, not raw parse throughput; the committed
#: 1 M-receipt STREAM_STRESS run reads 7.7k r/s at 44k-receipt
#: batches, same code. Floor: a 1.3× code slowdown at probe parity
#: fails from either calibration point (1230/1.3 = 946, 1106/1.3 =
#: 851, both < 1000); the low-session warm max 1,106 clears it by
#: ~10% plus probe normalization.
#:
#: r17 re-base 1000 → 1600: drain_collector's batch size moved 16 → 64
#: files/trigger (see tools/stream_stress.py — the r16-verdict
#: state-store measurement showed per-batch fixed cost dominated at 16),
#: which roughly 2.5×'d the steady rate, so the old floor would have let
#: a halving of the new pipeline rate pass. Calibration: interleaved
#: A/B on a contended box read 1,901-2,652 r/s at mfpt=64 (old config
#: 734-825 on the same box); the end-of-round QUIET artifact reads are
#: recorded in OPTIMIZATION_r17.md — floor set at ~2/3 of the lower
#: quiet reading, same discipline as the 1000 floor was derived.
STREAM_15K_STEADY_FLOOR = 1600.0

#: serve-only ceilings for the pretrained ANN entries (r12 verdict
#: finding #1 → r13 item #4): serve_sec = entry wall − recorded index
#: build, measured at the bench SF after the HEADLINE warm-ups (emb_knn
#: warms the sf0.1 embeddings scan). r13 warm calibration: ivf 2.26 /
#: ivfpq 6.65 / sq8 2.51 / bq 1.54 s. Ceilings = ~3× warm — a serving
#: regression on these paths is a PLAN regression (an Exchange
#: reintroduced on the probe side, codes scan falling out of
#: whole-stage codegen) and shows up ≥2×, while session noise on
#: single sub-10s readings stays under 3×.
#: r16 (r15 verdict #2): these absolute numbers are now the FALLBACK
#: gate, used only when the artifact lacks the same-run inline anchor —
#: 3×-own-warm-calibration is self-referencing (a serving regression
#: landed in the same round as a recalibration would pass). The primary
#: gate is serve_sec ≤ PRETRAINED_SERVE_MAX_INLINE_RATIO × the inline
#: sibling's time measured in the SAME bench run.
PRETRAINED_SERVE_CEILING_SEC: dict[str, float] = {
    "emb_knn_ivf_pretrained": 7.0,
    "emb_knn_ivfpq_pretrained": 20.0,
    "emb_knn_sq8_pretrained": 7.5,
    "emb_knn_bq_pretrained": 4.6,
}

#: serve ≤ this × the inline sibling measured in the same run. Why 2.0:
#: serving SKIPS training (ivf/ivfpq) and reads a pruned pre-encoded
#: index instead of re-encoding the corpus — structurally it should
#: cost ≤ ~1× inline end-to-end (same-box r16 measurements at the 200k
#: tier: ivfpq serve 0.55–0.8× inline; quiet sf0.1: 0.6–1.4×). A
#: serving-path plan regression (Exchange reintroduced on the probe
#: side, partition pruning lost) shows as ≥2×, while the parquet-scan-
#: vs-cached-corpus overhead plus single-reading noise stays under 2×.
#: Anchoring to the SAME run's inline time makes the gate contention-
#: immune: box slowness scales both sides.
PRETRAINED_SERVE_MAX_INLINE_RATIO = 2.0

#: below this serve_sec, the ratio gate does not fire: at sf0.1 both
#: sides are sub-3s, where a single contended GC pause flips the ratio
#: past 2 without any plan change (the absolute fallback ceilings stay
#: active regardless).
PRETRAINED_SERVE_RATIO_MIN_SEC = 3.0

#: per-query median ceilings = r12 calibration max-of-runs × 1.6 (each
#: query's recorded dispersion band, not a shared headline total — one
#: query regressing ≥2× fails ITS gate even when the total hides it;
#: the 1.6 slack covers the documented single-query cross-session noise
#: that the old shared 9-s ceiling punished healthy code for). The
#: worst-case-contention run stays under every ceiling once its own
#: probe scale (1.17) is applied.
#: re-based r16 after the optimization round halved the headline (9.60
#: → ~4.4 s quiet): each value = the max dispersion reading across the
#: four end-of-round bench runs' QUIET-BRACKETED sections (wave-polluted
#: query sets identified by the per-query probe chain are excluded from
#: calibration — three of the four runs carried an external contention
#: wave through part of the queries section) × the same 1.6 noise slack
#: as the r12/r13 re-bases. The old ceilings were 2-4× above the new
#: medians and would have let a full regression of this round's wins
#: pass silently.
#: r17 re-base of two entries the r16 verdict flagged as off-formula
#: (finding #1): the rule is max quiet-bracketed dispersion × 1.6, and
#: the calibration readings are the committed r16 end-of-round quiet
#: artifacts (BENCH_r16_quiet_post + the quiet-bracketed runs tabled in
#: OPTIMIZATION_r16.md "Re-measure"):
#:   q3_shipping_priority: quiet readings 0.531/0.607/0.641/0.724 →
#:     max 0.724 × 1.6 = 1.16 (was 1.95 — ~2.7× the quiet median, loose
#:     enough that a 2.5× regression would have passed its gate)
#:   q1_pricing_summary: quiet readings 0.458/0.464/0.531 →
#:     max 0.531 × 1.6 = 0.85 (was 0.96)
REF_QUERY_CEILING_SEC: dict[str, float] = {
    "q1_pricing_summary": 0.85,
    "q3_shipping_priority": 1.16,
    "q5_regional_revenue": 1.12,
    "top_partkeys": 0.44,
    "dedup_earliest": 0.38,
    "sources_attach": 0.36,
    "first_source_counts": 0.47,
    "hourly_stats": 0.47,
    "value_quantiles": 0.58,
    "docs_exact_dedup": 0.51,
    # r13 band-count history: re-based 16 → 32 bands then (2.05 × 1.6 ≈
    # 3.3); r16's spark.sql construction + explode_outer work brought
    # the quiet median to 0.73-0.78, max 0.84
    "docs_ngram_jaccard": 1.34,
    "docs_minhash_lsh_pairs": 0.85,
    "docs_simhash": 0.39,
    "emb_knn": 0.58,
}


#: ---- calibration-quality bound (r13 verdict finding #2) ---------------
#: BENCH_r13 ran on a contended box (probe scale 2.86, matmul probe 65×
#: r12's) — fine as a gate INPUT (the scale relaxes the floors), poison
#: as a calibration SOURCE: re-basing REF_QUERY_CEILING_SEC /
#: PRETRAINED_SERVE_CEILING_SEC / the *_FLOOR constants from such an
#: artifact would bake the contention into the gates and a genuinely
#: 2×-slower query would pass forever after. Every artifact used to
#: recalibrate ANY gate constant must satisfy calibration_eligible();
#: the bench stamps the verdict into env.calibration_eligible so an
#: artifact self-describes, and tests/test_sweep.py pins that a
#: contended artifact is rejected. Current calibration probes on record:
#: REF_QUERY_CEILING_SEC ← r12 quiet box probe_mt 0.222 (scale 1.06,
#: except docs_ngram_jaccard re-based r13 at probe parity),
#: PRETRAINED_SERVE_CEILING_SEC ← r13 warm run probe_mt ≤0.25,
#: MERGE/STREAM/PREP floors ← r12/r13 quiet-box runs (scales 1.06-1.17).
CALIBRATION_MAX_PROBE_SCALE = 1.3


def probe_scale(data: dict) -> float:
    """Gate-normalization factor from a parsed bench artifact: how much
    slower the host's 32-way capacity was than the box that set the
    floors (1.0 = parity; never below 1.0 — a faster box doesn't
    tighten the gates)."""
    probe = data["env"]["cpu_probe"].get("md5_mt_48mb_sec")
    if probe is None:  # pre-r12 artifact — fall back to single-core probe
        probe = data["env"]["cpu_probe"]["md5_192mb_sec"]
        return max(1.0, probe / 0.32)
    return max(1.0, probe / REF_CPU_PROBE_MT)


#: Per-section contention bound (r14 verdict #2): BENCH_r14's
#: stream_pipeline_15k read 316 r/s against a 1,000 floor while the
#: quiet artifact read 1,149 on identical code — another run's load
#: ramped through the section AFTER the session-start env probe read
#: parity, so the artifact self-described as clean when its tail
#: wasn't. Each gated pipeline section now stamps its own probe
#: immediately before it runs; a section whose probe scale exceeds
#: this bound is EXCLUDED from gate evaluation (gate_exclusions names
#: it) rather than read as a regression, and below the bound the
#: section's floor normalizes by max(env scale, section scale).
GATE_SECTION_MAX_PROBE_SCALE = 2.0

#: the gated pipeline sections that carry their own pre-section probe
GATED_SECTIONS = (
    "merge_pipeline_15k", "stream_pipeline_15k", "prep_pipeline_15k"
)

#: queries that get a probe stamped immediately AFTER their timed runs
#: (the heavy ones — ceiling ≥ ~1.5 s — whose multi-second runs are
#: where a mid-section contention spike can hide from the edge pair;
#: ~6 s per probe, +30 s on a ~340 s bench)
QUERIES_MID_PROBE_AFTER = frozenset(
    {
        "q3_shipping_priority",
        "q5_regional_revenue",
        "docs_ngram_jaccard",
        "docs_minhash_lsh_pairs",
        "docs_simhash",
        # r17 (r16 verdict #5): emb_knn runs last in the headline set and
        # was the only headline query whose bracket degenerated to the
        # section-edge probe — exactly where BENCH_r16_quiet_post's 1.63
        # tail wave landed. A dedicated probe gives it a real bracket
        # (and opens the sf1 tier's chain cleanly).
        "emb_knn",
    }
)


def _section_probe(settle_sec: float = 2.0) -> dict:
    """Multi-core md5 probe + 1-min load, stamped at each edge of a
    gated pipeline section. Two snapshots 3 s apart after a short
    settle, keeping the MIN scale: a probe fired immediately after a
    32-way Spark burst reads the burst's own decaying GC/executor tail
    as contention (measured 2.4× on a quiet box, r15 smoke) — that
    decay is gone one snapshot later, while genuine external load
    persists across the gap. The min is therefore an estimator of
    PERSISTENT contention, which is the only kind the gate logic should
    relax or exclude on; both raw snapshots ride along for forensics."""
    time.sleep(settle_sec)
    s1 = _md5_mt_sec()
    time.sleep(3.0)
    s2 = _md5_mt_sec()
    sec = min(s1, s2)
    return {
        "md5_mt_48mb_sec": round(sec, 3),
        "snapshots": [round(s1, 3), round(s2, 3)],
        "load_avg_1m": round(os.getloadavg()[0], 2),
        "probe_scale": round(max(1.0, sec / REF_CPU_PROBE_MT), 2),
        # recorded-only (r17): catches host-memory-pressure waves the
        # CPU probes are blind to — see _alloc_touch_probe/_cpu_probe
        "alloc_touch_256mb_sec": _alloc_touch_probe(),
    }


def _section_gate_scale(data: dict, section: str, env_scale: float):
    """(effective scale, excluded?) for one gated section, from its
    before/after probe pair:

    - EXCLUSION keys on the pair's MAX — contention visible at either
      edge of the section past GATE_SECTION_MAX_PROBE_SCALE marks it
      gate-ineligible (normalization past 2× stops being honest, and a
      mid-run ramp shows up in the after-probe even when the
      before-probe read parity — exactly BENCH_r14's shape).
    - FLOOR RELAXATION keys on the pair's MIN (worst of that and the
      session scale): the bench's own just-finished section leaves
      decaying GC/actor load that a single before-probe reads as
      contention (observed 1.63 on a quiet box, r15) — relaxing the
      floor on that snapshot would let a genuine regression hide. If
      the box was quiet at EITHER edge, the section plausibly ran
      quiet, so the floor stays tight; sustained contention reads high
      at both edges and relaxes honestly.

    Artifacts from the single-probe interim (before only) fall back to
    that probe for both roles."""
    sec = (data.get(section) or {}).get("section_probe") or {}
    before = sec.get("probe_scale")
    if before is None:
        return env_scale, False
    after = (
        (data.get(section) or {}).get("section_probe_after") or {}
    ).get("probe_scale", before)
    relax = max(env_scale, min(before, after))
    excluded = max(before, after) > GATE_SECTION_MAX_PROBE_SCALE
    return relax, excluded


def _query_probe_chain(data: dict) -> list[tuple[float, float]] | None:
    """Chronological (time, probe_scale) points across the queries
    section. Time is measured in query slots: the section-start probe
    sits at 0, the probe stamped after query j sits at j+1, the
    section-end probe at N. Query i therefore RUNS over the interval
    (i, i+1), and its contention bracket is the nearest probe at-or-
    before i and at-or-after i+1.

    Why a chain and not a pair (r15 advice): the edge pair brackets the
    ENTIRE multi-minute section, so a transient mid-section spike that
    decays before the after-probe — exactly the observed
    docs_ngram_jaccard 1.97 s → 31 s incident — reads quiet at both
    edges and still fires as a phantom per-query ceiling violation.
    Mid-section probes after each known-heavy query make that spike
    visible to the gate, and per-query brackets mean only the queries
    the spike actually touched are excluded, not the whole section.

    Returns None for artifacts with no queries probes at all (pre-r15);
    artifacts with only the edge pair degrade gracefully — every
    query's bracket is then (before, after), the old semantics."""
    env = data.get("env") or {}
    before = (env.get("queries_probe") or {}).get("probe_scale")
    if before is None:
        return None
    names = list((data.get("queries") or {}).keys())
    chain: list[tuple[float, float]] = [(0.0, float(before))]
    for entry in env.get("queries_probe_chain") or []:
        q = entry.get("after_query")
        s = entry.get("probe_scale")
        if q in names and s is not None:
            chain.append((names.index(q) + 1.0, float(s)))
    after = (env.get("queries_probe_after") or {}).get("probe_scale")
    if after is not None:
        chain.append((float(len(names)), float(after)))
    chain.sort()
    return chain


def _query_ceiling_scale(data: dict, name: str, env_scale: float):
    """(effective scale, excluded?) for ONE query's ceiling gate, from
    the probes bracketing that query's run in the probe chain — same
    min/max semantics as _section_gate_scale (exclusion on bracket MAX,
    floor/ceiling relaxation on bracket MIN)."""
    chain = _query_probe_chain(data)
    if not chain:
        return env_scale, False
    names = list((data.get("queries") or {}).keys())
    if name not in names:
        return env_scale, False
    i = names.index(name)
    lo = [s for t, s in chain if t <= i + 1e-9]
    hi = [s for t, s in chain if t >= i + 1 - 1e-9]
    bracket = (
        lo[-1] if lo else chain[0][1],
        hi[0] if hi else chain[-1][1],
    )
    relax = max(env_scale, min(bracket))
    excluded = max(bracket) > GATE_SECTION_MAX_PROBE_SCALE
    return relax, excluded


def gate_exclusions(data: dict) -> list[str]:
    """Sections excluded from gate evaluation because their own
    pre-section probe shows mid-run contention. Companion to
    check_throughput_gates: an excluded section is NOT a violation, but
    the exclusion must be visible so a polluted artifact can't silently
    read as all-gates-green either."""
    env_scale = probe_scale(data)
    out = []
    for section in GATED_SECTIONS:
        if data.get(section) is None:
            continue
        _, excluded = _section_gate_scale(data, section, env_scale)
        if excluded:
            before = (data[section].get("section_probe") or {}).get(
                "probe_scale"
            )
            after = (data[section].get("section_probe_after") or {}).get(
                "probe_scale"
            )
            out.append(
                f"{section}: section probe scale before={before} "
                f"after={after} exceeds {GATE_SECTION_MAX_PROBE_SCALE}"
                " — box got busy mid-run; gate-ineligible, rerun quiet"
            )
    excluded_q = [
        n
        for n in (data.get("queries") or {})
        if _query_ceiling_scale(data, n, env_scale)[1]
    ]
    if excluded_q:
        env = data.get("env") or {}
        out.append(
            f"queries[{','.join(excluded_q)}]: bracketing probe scale "
            f"exceeds {GATE_SECTION_MAX_PROBE_SCALE} (chain edges "
            f"before={(env.get('queries_probe') or {}).get('probe_scale')} "
            f"after={(env.get('queries_probe_after') or {}).get('probe_scale')})"
            " — those per-query ceilings gate-ineligible, rerun quiet"
        )
    return out


def calibration_eligible(data: dict) -> tuple[bool, str]:
    """Whether a bench artifact may be used to re-base gate constants.
    Returns (eligible, reason). Gate INPUTS tolerate contention (the
    probe scale relaxes floors proportionally); calibration SOURCES do
    not — a ceiling derived from a contended run is permanently loose."""
    scale = probe_scale(data)
    if scale > CALIBRATION_MAX_PROBE_SCALE:
        return False, (
            f"probe scale {scale:.2f} > {CALIBRATION_MAX_PROBE_SCALE} — "
            "contended-box artifact; rerun on a quiet box before "
            "re-basing any gate constant"
        )
    return True, f"probe scale {scale:.2f} within calibration bound"


def check_throughput_gates(data: dict) -> list[str]:
    """Pure gate logic over a parsed bench JSON line — returns the list
    of violations (empty = pass). Factored out of the pytest gate so the
    synthetic-slowdown demonstration (scale the parsed numbers by 1.3,
    assert the gates fire) exercises EXACTLY the shipping logic."""
    violations: list[str] = []
    scale = probe_scale(data)

    merge15k = (data.get("merge_pipeline_15k") or {}).get("tx_per_sec_steady")
    m_scale, m_excluded = _section_gate_scale(
        data, "merge_pipeline_15k", scale
    )
    if merge15k is None:
        violations.append("merge_pipeline_15k missing from bench output")
    elif not m_excluded and merge15k < MERGE_15K_STEADY_FLOOR / m_scale:
        violations.append(
            f"merge_15k steady {merge15k} tx/s < floor "
            f"{MERGE_15K_STEADY_FLOOR / m_scale:.0f} (scale {m_scale:.2f})"
        )

    stream15k = (data.get("stream_pipeline_15k") or {}).get(
        "receipts_per_sec_steady"
    )
    s_scale, s_excluded = _section_gate_scale(
        data, "stream_pipeline_15k", scale
    )
    if stream15k is None:
        violations.append("stream_pipeline_15k missing from bench output")
    elif not s_excluded and stream15k < STREAM_15K_STEADY_FLOOR / s_scale:
        violations.append(
            f"stream_15k steady {stream15k} receipts/s < floor "
            f"{STREAM_15K_STEADY_FLOOR / s_scale:.0f} (scale {s_scale:.2f})"
        )

    prep = data.get("prep_pipeline_15k") or {}
    p_scale, p_excluded = _section_gate_scale(
        data, "prep_pipeline_15k", scale
    )
    if prep.get("docs_per_sec") is None:
        violations.append("prep_pipeline_15k missing from bench output")
    else:
        # docs_in is load-INDEPENDENT configuration validation — it must
        # fire even when the section's rate gate is contention-excluded
        # (r15 advice: with the check inside the exclusion branch, an
        # under-sized prep run on a busy box read only as "excluded",
        # never as misconfigured). Only the docs/sec floor is gated on
        # box contention.
        if prep.get("docs_in", 0) < PREP_MIN_DOCS_IN:
            violations.append(
                f"prep ran on {prep.get('docs_in')} docs < required "
                f"{PREP_MIN_DOCS_IN} — fixed overhead would dominate"
            )
        if (
            not p_excluded
            and prep["docs_per_sec"] < PREP_FLOOR_DOCS_S / p_scale
        ):
            violations.append(
                f"prep {prep['docs_per_sec']} docs/s < floor "
                f"{PREP_FLOOR_DOCS_S / p_scale:.0f} (scale {p_scale:.2f})"
            )

    for name, ceiling in REF_QUERY_CEILING_SEC.items():
        med = (data.get("queries") or {}).get(name)
        if med is None:
            continue
        q_scale, q_excluded = _query_ceiling_scale(data, name, scale)
        if not q_excluded and med > ceiling * q_scale:
            violations.append(
                f"{name} median {med}s > ceiling "
                f"{ceiling * q_scale:.2f}s "
                f"(recorded-dispersion × 1.6, scale {q_scale:.2f})"
            )

    serve = data.get("pretrained_serve") or {}
    if not serve:
        violations.append("pretrained_serve missing from bench output")
    for name, ceiling in PRETRAINED_SERVE_CEILING_SEC.items():
        entry = serve.get(name) or {}
        sec = entry.get("serve_sec")
        if sec is None:
            continue
        inline = entry.get("inline_sec")
        if inline:
            # primary gate (r15 verdict #2): ratio vs the inline sibling
            # measured in the same run — contention-immune and not
            # self-referencing. Both paths read ANN_RUNG_PARAMS through
            # the same aliased dict, so a parameter change moves both
            # sides together and the ratio isolates the SERVING path.
            bound = PRETRAINED_SERVE_MAX_INLINE_RATIO * inline
            if sec > bound and sec > PRETRAINED_SERVE_RATIO_MIN_SEC:
                violations.append(
                    f"{name} serve {sec}s > "
                    f"{PRETRAINED_SERVE_MAX_INLINE_RATIO}× same-run "
                    f"inline {inline}s — serving-path regression"
                )
        elif sec > ceiling * scale:
            # fallback for artifacts without the inline anchor
            violations.append(
                f"{name} serve {sec}s > ceiling {ceiling * scale:.2f}s "
                f"(3× warm calibration, scale {scale:.2f})"
            )
    return violations


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # Environment telemetry (r10, verdict #1): BENCH_r09's headline read
    # +21% over r8 with every query slower INCLUDING ones whose code did
    # not change — indistinguishable after the fact from a real
    # regression because the artifact carried no record of host load.
    # Record the 1/5/15-min load averages at start and end so a
    # contended driver run is visible in the artifact itself, and time
    # session setup + registry import separately to rule the
    # registry-growth hypothesis in or out (105 entries now register per
    # session).
    wall0 = time.time()
    env: dict = {"load_avg_start": [round(x, 2) for x in os.getloadavg()]}
    env["cpu_probe"] = _cpu_probe()

    from tools.qtime import time_query

    t_imp = time.time()
    from mempool_dumpster_spark.plans.registry import all_queries
    from mempool_dumpster_spark.session import get_spark

    queries = all_queries()
    env["registry_import_sec"] = round(time.time() - t_imp, 3)
    env["n_registered"] = len(queries)
    t_sess = time.time()
    spark = get_spark("bench")
    env["session_setup_sec"] = round(time.time() - t_sess, 3)

    # Warm-up: run every headline query once at the smallest SF so the timed
    # runs measure steady-state plans (codegen caches, classloading, Arrow
    # init) rather than first-query JVM warm-up.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in HEADLINE:
            try:
                queries[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass
    # The warm-up leaves sf0.001 cached frames (docs_* queries .cache()
    # internally) resident in old-gen for the whole timed section — the r2
    # bench paid ~30% on q3/q5 for exactly this. Drop them and compact the
    # heap so the timed runs start from a clean baseline.
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()

    # the per-query ceilings get the same contention stamps as the
    # pipeline sections (r15): the queries section runs for minutes, and
    # a busy box turns one heavy query's medians into phantom ceiling
    # violations (observed: docs_ngram_jaccard median 31 s under real
    # transient IO/CPU load vs 1.97 s quiet, same code same day)
    env["queries_probe"] = _section_probe()
    timings: dict[str, float] = {}
    dispersion: dict[str, dict[str, float]] = {}
    queries_probe_chain: list[dict] = []
    for name in HEADLINE:
        fn = queries[name]
        # median-of-N, not best-of-2: transient host load swings single-shot
        # timings ±30% (r2 and r4 both shipped phantom "regressions" that
        # were pure harness noise — r4's headline moved +35% on zero batch
        # code change). The median is robust to one slow AND one lucky run;
        # per-query min/median/max is reported so a future delta can be told
        # apart from dispersion at a glance. time_query runs clearCache()
        # before EACH attempt, otherwise the repeat reads the first
        # attempt's materialized caches (CacheManager dedups by plan) and
        # times a cache hit.
        # 5 timed runs for EVERYONE (r8; 3 runs + a 5-run VOLATILE subset
        # before): with 3 runs, max/min is decided by a single outlier
        # draw — r8 measured docs_simhash 1.32 and value_quantiles 1.29
        # on n=3 while every n=5 query sat ≤1.22. The median of 5 is also
        # strictly more robust, and the extra runs cost ~3 s total.
        # Two untimed PRIMING runs at the benchmark SF first: the sf0.001
        # warm-up above exercises classloading/codegen compilation, but C2
        # JIT only fully optimizes the hot loops after they run at real
        # data volume — measured on q3 at sf0.1, the first full-size run
        # is 1.8× the steady state and the next runs decline monotonically
        # (a warm-up slope, not AQE flapping). Priming moves the timed runs
        # onto the steady-state plateau, which is what a long-running
        # deployment executes. The second priming run (r8, verdict #2):
        # r7 measured dedup_earliest max/min 1.36 and docs_ngram_jaccard
        # 1.31 with single priming.
        runs = sorted(time_query(spark, fn, sf_dir, prime=2, runs=5))
        # Outlier policy (r10, verdict #1): when the 5-run spread exceeds
        # 1.35× the query hit transient contention — two extra runs make
        # the median of 7 shrug off up to 3 bad draws instead of 2. The
        # widened spread is still reported (min/max over ALL runs), so a
        # contended bench is visible, it just stops moving the headline.
        if runs[-1] > 1.35 * runs[0]:
            runs = sorted(runs + time_query(spark, fn, sf_dir, prime=0, runs=2))
        timings[name], dispersion[name] = _dispersion(runs)
        # Mid-section probes after the known-heavy queries (r15 advice):
        # the edge pair can't see a transient spike that decays before
        # the after-probe — the observed docs_ngram_jaccard 1.97 s→31 s
        # incident read quiet at both edges. A probe stamped right
        # after each heavy query gives the gate per-query brackets
        # (_query_ceiling_scale); the min-of-2-snapshots probe design
        # already discounts the just-finished query's own GC tail.
        if name in QUERIES_MID_PROBE_AFTER:
            p = _section_probe()
            p["after_query"] = name
            queries_probe_chain.append(p)

    # headline total over EXACTLY the original 14 — the sf1 tier below
    # adds `queries` entries but never moves `value`
    total = round(sum(timings[n] for n in HEADLINE), 3)

    # sf1 quiet tier (r17, r16 verdict #1 — see QUERIES_SF1): the same
    # functions over the 10× corpus, same clearCache/noop methodology,
    # 2 priming + SF1_N_RUNS timed. EVERY sf1 query gets a chain probe
    # stamped after it (they are all multi-second), so each one's
    # ceiling bracket is its own — a wave excludes only the queries it
    # touched. Runs inside the queries probe-chain region: the chain's
    # slot arithmetic keys on the `queries` dict order, which these
    # entries extend in run order.
    queries_sf1: dict[str, float] = {}
    sf1_dir = _ensure_sf1()
    if sf1_dir is not None:
        for name in QUERIES_SF1:
            fn = queries[name]
            key = SF1_PREFIX + name
            try:
                runs = sorted(
                    time_query(spark, fn, sf1_dir, prime=2, runs=SF1_N_RUNS)
                )
            except Exception:
                continue  # missing/failed entry degrades, never aborts
            timings[key], dispersion[key] = _dispersion(runs)
            queries_sf1[key] = timings[key]
            p = _section_probe()
            p["after_query"] = key
            queries_probe_chain.append(p)

    env["queries_probe_chain"] = queries_probe_chain
    env["queries_probe_after"] = _section_probe()
    merge_stats = _bench_merge(spark)
    # Per-section probes (r14 verdict #2): stamp load+probe IMMEDIATELY
    # before each gated pipeline section — the one-shot env probe at
    # session start can read parity while contention ramps through the
    # tail sections (BENCH_r14: stream 316 r/s on code that does 1,149
    # quiet, self-described as clean).
    probe_m = _section_probe()
    merge_mid = _bench_merge(spark, n=15_000, n_runs=2)
    merge_mid["section_probe"] = probe_m
    merge_mid["section_probe_after"] = _section_probe()
    probe_s = _section_probe()
    stream_mid = _bench_stream_15k(spark)
    if stream_mid is not None:
        stream_mid["section_probe"] = probe_s
        stream_mid["section_probe_after"] = _section_probe()
    ann_recall = _bench_ann_recall(spark)
    pretrained_serve = _bench_pretrained_serve(spark, sf_dir)
    prep_stats = _bench_prep(spark, sf_dir)
    probe_p = _section_probe()
    prep_mid = _bench_prep_15k(spark)
    if prep_mid is not None:
        prep_mid["section_probe"] = probe_p
        prep_mid["section_probe_after"] = _section_probe()
    gate_cal = _bench_gate_calibration(spark, sf_dir)
    text_micro = _bench_text_microcost(spark, sf_dir)
    selection = _bench_selection(spark, sf_dir)
    env["load_avg_end"] = [round(x, 2) for x in os.getloadavg()]
    env["bench_wall_sec"] = round(time.time() - wall0, 1)
    # Self-describing calibration quality (r13 verdict #2): scale >1.3
    # marks the artifact gate-input-only — never a calibration source.
    # Stamp via the probe_scale() helper so the gate logic and the
    # artifact share ONE implementation (r14 advice: the inline copy
    # lacked the legacy single-core fallback and could drift).
    env["probe_scale"] = round(probe_scale({"env": env}), 2)
    env["calibration_eligible"] = (
        env["probe_scale"] <= CALIBRATION_MAX_PROBE_SCALE
    )
    out = (
            _assemble_output(
                dispersion=dispersion,
                merge_stats=merge_stats,
                merge_stress=_load_merge_stress(),
                stream_stress=_load_stress_artifact("STREAM_STRESS"),
                merge_stress_skew=_load_stress_artifact("MERGE_STRESS_SKEW"),
                merge_stress_multiday=_load_stress_artifact(
                    "MERGE_STRESS_MULTIDAY"
                ),
                ann_recall=ann_recall,
                pretrained_serve=pretrained_serve,
                prep_stats=prep_stats,
                gate_cal=gate_cal,
                text_micro=text_micro,
                selection=selection,
                env=env,
                sf=float(sf) if sf.replace(".", "").isdigit() else sf,
                merge_mid=merge_mid,
                stream_mid=stream_mid,
                prep_mid=prep_mid,
                timings=timings,
                total=total,
                queries_sf1=queries_sf1 or None,
            )
    )
    # self-describing gate eligibility (r15): the artifact names any
    # section its own probe pair disqualifies, so a polluted run can't
    # silently read as all-gates-green OR as a regression
    env["gate_exclusions"] = gate_exclusions(out)
    # Full artifact first, compact summary LAST (r17, r16 verdict #2):
    # the round driver archives only the final ~2000 characters of the
    # bench output, which truncated r15's single-line artifact and broke
    # round-over-round comparison (PERF_r16: prev_bench_ok=false). The
    # FINAL stdout line is now a self-contained ≤~1.5 KB summary carrying
    # the bench contract fields (metric/value/unit/queries/sf) plus every
    # gated section signal; the COMPLETE artifact is the line printed
    # immediately before it. Timed regions are untouched — this is pure
    # output plumbing.
    print(json.dumps(out))
    print(json.dumps(_summary_line(out)))
    spark.stop()


def _summary_line(out: dict) -> dict:
    """The compact final-line summary: every per-query median, the
    headline total, the three gated pipeline rates, probe scale and any
    gate exclusions (section names only — the full strings live in the
    artifact line). `value` stays the LAST key so even a pathological
    further truncation keeps the headline number."""
    env = out.get("env") or {}
    excl = [e.split(":", 1)[0] for e in env.get("gate_exclusions") or []]
    return {
        "metric": out["metric"],
        "unit": out["unit"],
        "sf": out["sf"],
        "queries": out["queries"],
        "merge_15k_tx_per_sec_steady": (
            out.get("merge_pipeline_15k") or {}
        ).get("tx_per_sec_steady"),
        "stream_15k_receipts_per_sec_steady": (
            out.get("stream_pipeline_15k") or {}
        ).get("receipts_per_sec_steady"),
        "prep_15k_docs_per_sec": (
            out.get("prep_pipeline_15k") or {}
        ).get("docs_per_sec"),
        "probe_scale": env.get("probe_scale"),
        "gate_exclusions": excl,
        "full_artifact": "previous stdout line",
        "value": out["value"],
    }


def _assemble_output(
    dispersion, merge_stats, merge_stress, ann_recall, prep_stats,
    gate_cal, text_micro, selection, env, sf, merge_mid, prep_mid,
    timings, total, stream_stress=None, stream_mid=None,
    pretrained_serve=None, merge_stress_skew=None,
    merge_stress_multiday=None, queries_sf1=None,
) -> dict:
    """Key order is LOAD-BEARING (r11 verdict #2): the round driver
    archives only the LAST 2000 characters of the printed JSON line, so
    BENCH_r10/r11 — which printed value/queries FIRST — lost the
    headline total and every per-query number to truncation. The big
    diagnostic sections go first; everything needed for per-query
    round-over-round comparison (merge_15k steady, the ≥15k-doc prep
    rate, the per-query medians, the headline total) forms the dict's
    TAIL. tests/test_sweep.py pins that the tail survives the 2000-char
    cut with realistic section sizes."""
    return {
        "metric": "headline_queries_total",
        "unit": "sec",
        "queries_dispersion": dispersion,
        "merge_pipeline": merge_stats,
        "merge_stress_10x": merge_stress,
        "merge_stress_skew": merge_stress_skew,
        "merge_stress_multiday": merge_stress_multiday,
        "stream_stress": stream_stress,
        "ann_recall_at3": ann_recall,
        "pretrained_serve": pretrained_serve,
        "prep_pipeline": prep_stats,
        "minhash_gate_calibration": gate_cal,
        "text_microcost": text_micro,
        "selection": selection,
        "env": env,
        "sf": sf,
        # the sf1 quiet tier's medians, ALSO present (prefixed) in
        # `queries` below — this section is the human-readable grouping;
        # it sits above the pinned 5-key comparison tail
        "queries_sf1": queries_sf1,
        "stream_pipeline_15k": stream_mid,
        "merge_pipeline_15k": merge_mid,
        "prep_pipeline_15k": prep_mid,
        "queries": timings,
        "value": total,
    }


if __name__ == "__main__":
    main()
