"""CLI entry points mirroring the reference's subcommands
(`mempool-dumpster merge|analyze|collect|website`, cmd/main.go), so a user
of the reference can run the same daily jobs against this engine:

    python -m mempool_dumpster_spark merge --out DAY_DIR \
        --sourcelog sl_*.csv --tx-blacklist yesterday.csv txs_*.csv
    python -m mempool_dumpster_spark analyze --out summary.txt \
        transactions.parquet
    python -m mempool_dumpster_spark collect --landing DIR --out DIR \
        [--drain]
    python -m mempool_dumpster_spark website --root ARCHIVE --out SITE

Flag names follow cmd/merge/main.go:20-57 and cmd/analyze/main.go:20-34
where the concept carries over. Each command builds a local SparkSession
unless one is injected (tests inject the shared fixture session; a cluster
deployment submits this module via spark-submit and the active session is
picked up)."""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession


def _session(spark: SparkSession | None) -> SparkSession:
    if spark is not None:
        return spark
    return (
        SparkSession.builder.appName("mempool-dumpster-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )


def cmd_merge(args, spark: SparkSession | None = None) -> int:
    from mempool_dumpster_spark.operators.analyzer import analyze, sprint_summary
    from mempool_dumpster_spark.plans.merge import (
        merge_transactions,
        write_merge_outputs,
    )
    from mempool_dumpster_spark.sources.sinks import write_sorted_csv

    spark = _session(spark)
    blocks = spark.read.parquet(args.blocks) if args.blocks else None
    result = merge_transactions(
        spark,
        tx_paths=args.tx,
        sourcelog_paths=args.sourcelog or None,
        blacklist_paths=args.tx_blacklist or None,
        blacklist_table=args.blacklist_table,
        blacklist_before_day=args.blacklist_before_day,
        blocks=blocks,
        collect_stats=args.stats,
    )
    write_merge_outputs(result, args.out)
    if args.blacklist_table is not None and args.append_blacklist_day is not None:
        from mempool_dumpster_spark.plans.merge import append_blacklist_table

        append_blacklist_table(
            spark,
            result.transactions,
            args.blacklist_table,
            day=args.append_blacklist_day,
            path=args.blacklist_table_path,
        )
    if args.sourcelog and result.sourcelog is not None:
        write_sorted_csv(result.sourcelog, f"{args.out}/sourcelog.csv")
    if args.write_summary:
        report = sprint_summary(analyze(result.transactions))
        with open(f"{args.out}/summary.txt", "w") as f:
            f.write(report)
    if args.stats:
        print(f"stats: {result.stats}")
    return 0


def cmd_analyze(args, spark: SparkSession | None = None) -> int:
    from mempool_dumpster_spark.operators.analyzer import analyze, sprint_summary
    from mempool_dumpster_spark.sources.readers import read_transactions_parquet

    spark = _session(spark)
    txs = read_transactions_parquet(spark, args.input)
    report = sprint_summary(analyze(txs))
    if args.out:
        with open(args.out, "w") as f:
            f.write(report)
    else:
        print(report)
    return 0


def cmd_collect(args, spark: SparkSession | None = None) -> int:
    from mempool_dumpster_spark.streaming.collector import (
        file_stream_source,
        start_collector,
    )

    spark = _session(spark)
    broadcaster = None
    if getattr(args, "sse_port", None) is not None:
        from mempool_dumpster_spark.streaming.sse import SSEBroadcaster

        broadcaster = SSEBroadcaster(port=args.sse_port)
        print(f"SSE: http://127.0.0.1:{broadcaster.port}/sse/transactions")
    try:
        stream = file_stream_source(spark, args.landing)
        queries = start_collector(
            stream,
            out_dir=args.out,
            checkpoint_dir=args.checkpoint or f"{args.out}/_checkpoint",
            trigger_available_now=args.drain,
            sse_publish=broadcaster.publish_rows if broadcaster else None,
        )
        queries.await_all()
    finally:
        # without this, a failed/interrupted run leaks the server thread
        # and keeps the port bound for the rest of the process
        if broadcaster is not None:
            broadcaster.close()
    return 0


def cmd_compact(args, spark: SparkSession | None = None) -> int:
    from mempool_dumpster_spark.streaming.compact import compact_partitions

    spark = _session(spark)
    stats = compact_partitions(
        spark,
        args.root,
        target_file_bytes=args.target_mb * 1024 * 1024,
        quiesce_seconds=args.quiesce_seconds,
    )
    print(stats)
    return 0


def cmd_rollup(args, spark: SparkSession | None = None) -> int:
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.streaming.rollup import incremental_rollup

    spark = _session(spark)

    def archive_stats(df):
        aggs = [F.count("*").alias("n_rows")]
        if args.distinct_col and args.distinct_col in df.columns:
            # mergeable sketch: the rollup consumer unions with
            # hll_union_agg for cross-partition distincts
            aggs.append(F.hll_sketch_agg(args.distinct_col).alias("distinct_sk"))
        return df.agg(*aggs)

    stats = incremental_rollup(spark, args.root, args.out, archive_stats)
    print(stats)
    return 0


def cmd_query(args, spark: SparkSession | None = None) -> int:
    from mempool_dumpster_spark.plans.registry import REGISTRY, all_queries

    qs = all_queries()
    if args.list or not args.name:
        for name in qs:
            doc = REGISTRY[name].doc.split(". ")[0][:100]
            oracle = "oracle" if REGISTRY[name].oracle else "rows-only"
            print(f"{name:36s} [{oracle}] {doc}")
        return 0
    if args.name not in qs:
        print(f"unknown query {args.name!r}; run with --list to see all")
        return 2
    spark = _session(spark)
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    for row in df.limit(args.limit).collect():
        print(row.asDict())
    return 0


def cmd_website(args, spark: SparkSession | None = None) -> int:
    from mempool_dumpster_spark.plans.site_index import build_site

    spark = _session(spark)
    for path in build_site(spark, args.root, args.out):
        print(path)
    return 0


def cmd_prep(args, spark: SparkSession | None = None) -> int:
    import json

    from mempool_dumpster_spark.ml.prep import (
        PrepConfig,
        prep_corpus,
        write_prep_outputs,
    )

    spark = _session(spark)
    docs = spark.read.parquet(*args.docs)
    benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
    bounds = None
    if args.splits:
        parts = [int(x) for x in args.splits.split(",")]
        if len(parts) != 3 or sum(parts) != 100:
            print(f"--splits must be three ints summing to 100: {args.splits}")
            return 2
        bounds = {
            "train": parts[0],
            "val": parts[0] + parts[1],
            "test": 100,
        }
    if (args.dsir_target is None) != (args.dsir_keep is None):
        print("--dsir-target and --dsir-keep must be given together")
        return 2
    if args.dsir_keep is not None and args.dsir_keep < 1:
        print(f"--dsir-keep must be positive, got {args.dsir_keep}")
        return 2
    cfg = PrepConfig(
        gopher=not args.no_gopher,
        exact=not args.no_exact_dedup,
        near_dup=not args.no_near_dedup,
        decontaminate=benchmark is not None,
        redact=args.redact_pii,
        boundaries=bounds,
        dsir_target=args.dsir_target,
        dsir_keep=args.dsir_keep,
    )
    if args.pack_tokens is not None and args.pack_tokens < 1:
        print(f"--pack-tokens must be positive, got {args.pack_tokens}")
        return 2
    if args.training_order is not None and args.pack_tokens is None:
        print("--training-order requires --pack-tokens (it orders OUT_packed)")
        return 2
    if args.bucketed and args.bucket_count < 1:
        # rejected BEFORE the (potentially hours-long) prep + write, not
        # deep inside Spark's bucketBy after the corpus already landed
        print(f"--bucket-count must be positive, got {args.bucket_count}")
        return 2
    if args.append:
        # incremental append: gate the new batch within itself AND against
        # the existing corpus's signature artifact, then publish the
        # corpus rows and the new signature rows as manifest versions
        # (upsert = MERGE INTO; new doc_ids append). The corpus text is
        # never re-read for the gates — the artifact carries everything
        # the cross-dedup needs.
        if not args.atomic:
            print("--append requires --atomic (manifest-committed corpus)")
            return 2
        from mempool_dumpster_spark.ml.prep import append_batch

        try:
            counts = append_batch(
                spark, args.out, docs, benchmark=benchmark, config=cfg
            )
        except FileNotFoundError:
            # same clean exit-2 contract as the other precondition
            # failures — a missing corpus/artifact is a usage error, not
            # a traceback
            print(
                f"--append needs a committed corpus and signature "
                f"artifact at {args.out} / {args.out}_signatures; run "
                f"`prep --atomic --signatures` first"
            )
            return 2
        counts_payload = {"appended": counts}
    else:
        prepped = prep_corpus(docs, benchmark=benchmark, config=cfg)
        counts = write_prep_outputs(prepped, args.out, atomic=args.atomic)
        counts_payload = counts
        # the prep manifest records the corpus write; it lands BEFORE the
        # optional packing step so a pack failure can't orphan a
        # fully-valid written corpus from downstream tooling that keys
        # off the manifest
        manifest = {"out": args.out, "splits": counts, "config": vars(args)}
        # underscore prefix: Spark/Hadoop readers ignore _-files during
        # partition discovery, so the manifest can live beside the split=
        # dirs (named distinctly from sources/manifest.py's
        # _manifest.json version pointer, which --atomic writes in the
        # same directory)
        with open(f"{args.out}/_prep_manifest.json", "w") as f:
            json.dump(manifest, f, indent=2, default=str)
    if args.signatures and not args.append:
        # (--append maintains the artifact itself via upsert above)
        from mempool_dumpster_spark.ml.prep import corpus_signatures
        from mempool_dumpster_spark.sources.manifest import (
            commit_write,
            read_committed,
        )

        # the dedup artifact future incremental preps join against —
        # derived from the WRITTEN corpus so it reflects exactly what
        # landed (~100 bytes/doc: text hash + minhash slots). Under
        # --atomic it publishes manifest-committed, so --append can
        # upsert it version-atomically alongside the corpus.
        sigs_out = f"{args.out}_signatures"
        if args.atomic:
            commit_write(
                corpus_signatures(
                    read_committed(spark, args.out), shingle_k=cfg.shingle_k
                ),
                sigs_out,
            )
        else:
            (
                corpus_signatures(
                    spark.read.parquet(args.out), shingle_k=cfg.shingle_k
                )
                .write.mode("overwrite")
                .parquet(sigs_out)
            )
    if args.bucketed:
        from mempool_dumpster_spark.ml.prep import write_prep_bucketed

        # bucket from the WRITTEN corpus (cheap parquet re-read, not a
        # gate recompute): doc_id-bucketed catalog table beside the plain
        # split-partitioned output, so downstream dedup/join/decontam
        # re-runs plan exchange-free on the corpus side
        if args.atomic:
            from mempool_dumpster_spark.sources.manifest import read_committed

            corpus_for_bucket = read_committed(spark, args.out)
        else:
            corpus_for_bucket = spark.read.parquet(args.out)
        write_prep_bucketed(
            corpus_for_bucket,
            args.bucketed,
            path=f"{args.out}_bucketed",
            n_buckets=args.bucket_count,
        )
    if args.pack_tokens:
        from mempool_dumpster_spark.ml.prep import pack_prepped

        # pack from the WRITTEN corpus, not the lazy gate plan — packing
        # re-reads cheap parquet instead of recomputing every dedup gate
        if args.atomic:
            from mempool_dumpster_spark.sources.manifest import (
                commit_write,
                read_committed,
            )

            corpus = read_committed(spark, args.out)
        else:
            corpus = spark.read.parquet(args.out)
        packed = pack_prepped(corpus, max_tokens=args.pack_tokens)
        if args.training_order is not None:
            # land the packed companion in deterministic epoch order:
            # permutation unit = packed sequence (members stay adjacent,
            # in pack order), order key content-addressed from
            # (seed, split, shard, seq_id) — so reading the split's files
            # in name order streams epoch `SEED` directly, no shuffle at
            # training time. Range-partitioned: no global sort.
            from mempool_dumpster_spark.ml.packing import (
                shuffle_packed_for_training,
            )

            packed = shuffle_packed_for_training(
                packed, seed=args.training_order
            )
        if args.atomic:
            # the packed companion gets the SAME atomicity as the corpus:
            # a re-prep never clobbers sequences a training job is reading
            commit_write(
                packed, f"{args.out}_packed", partition_by=["split"]
            )
        else:
            (
                packed.write.mode("overwrite")
                .partitionBy("split")
                .parquet(f"{args.out}_packed")
            )
    print(json.dumps(counts_payload))
    return 0


def cmd_ann(args, spark: SparkSession | None = None) -> int:
    """ANN index lifecycle as a CLI, mirroring `prep`'s corpus
    lifecycle, for the three persistable rungs of the ladder
    (--method): `ivfpq` (default — cell-partitioned code table +
    centroids/codebooks artifact, exchange-free pruned probe), `sq8`
    (r12 — dim-byte grid-code table + 2·dim-float bounds artifact,
    pure-Catalyst prescore scan) and `bq` (r12 — sign-word table, NO
    trained state; the artifact JSON records only the dim contract).
    `build` trains (where there is anything to train) + lands the code
    table and persists the artifacts as one JSON file; `append` encodes
    NEW vectors with those artifacts and appends (no retrain, existing
    files unmodified); `query` serves top-k from the table via the
    matching *_topk_pretrained, which runs the inline rung's own serve
    step over the table, so its rows are the inline rung's under the
    same artifacts."""
    import json

    from mempool_dumpster_spark.ml.similarity import (
        append_ivfpq_index,
        centroids_from_json,
        centroids_to_json,
        ivfpq_topk_pretrained,
        pq_codebooks_from_json,
        pq_codebooks_to_json,
        write_ivfpq_index,
    )

    spark = _session(spark)
    vecs = spark.read.parquet(*args.vectors)
    if args.refine is None:
        # default from the single-sourced production param table — the
        # recall-measured shortlist (r13 PQ and r14 SQ8 both collapsed
        # on a hand-picked smaller refine; the pre-r15 CLI default of 4
        # was exactly that drift class on the user-facing path)
        from mempool_dumpster_spark.plans.ml_queries import ANN_RUNG_PARAMS

        args.refine = ANN_RUNG_PARAMS[f"emb_knn_{args.method}"]["refine"]
    if args.method == "sq8":
        return _ann_sq8(args, spark, vecs)
    if args.method == "bq":
        return _ann_bq(args, spark, vecs)

    def load_artifacts() -> tuple[list, list, dict]:
        with open(args.artifacts) as f:
            obj = json.load(f)
        if obj.get("format") != "ivfpq-index-artifacts-v1":
            raise SystemExit(
                f"{args.artifacts}: not an IVF-PQ artifact file "
                f"(format={obj.get('format')!r})"
            )
        return (
            centroids_from_json(json.dumps(obj["centroids"])),
            pq_codebooks_from_json(json.dumps(obj["codebooks"])),
            obj,
        )

    def from_artifact(obj: dict, key: str, cli_value, fallback):
        """append/query parameters the artifact already records (dim,
        n_assign) default to the ARTIFACT's value — a CLI override must
        match or it is a hard error, never a silent recall degradation
        (e.g. appending at n_assign=1 into an index built at 4)."""
        stored = obj.get(key)
        if cli_value is None:
            return stored if stored is not None else fallback
        if stored is not None and cli_value != stored:
            raise SystemExit(
                f"--{key.replace('_', '-')} {cli_value} contradicts the "
                f"index artifact ({args.artifacts} records {key}={stored}); "
                "drop the flag or rebuild the index"
            )
        return cli_value

    if args.action == "build":
        args.dim = 64 if args.dim is None else args.dim
        args.n_assign = 1 if args.n_assign is None else args.n_assign
        centroids, codebooks = write_ivfpq_index(
            vecs,
            args.table,
            id_col=args.id_col,
            emb_col=args.emb_col,
            dim=args.dim,
            n_cells=args.n_cells,
            n_assign=args.n_assign,
            m=args.m,
            k_codes=args.k_codes,
            n_iters=args.n_iters,
            path=args.path,
        )
        with open(args.artifacts, "w") as f:
            json.dump(
                {
                    "format": "ivfpq-index-artifacts-v1",
                    "dim": args.dim,
                    "n_assign": args.n_assign,
                    "centroids": json.loads(centroids_to_json(centroids)),
                    "codebooks": json.loads(pq_codebooks_to_json(codebooks)),
                },
                f,
            )
        return _emit_index_rows(args, spark)
    if args.action == "append":
        centroids, codebooks, meta = load_artifacts()
        append_ivfpq_index(
            vecs,
            args.table,
            centroids,
            codebooks,
            id_col=args.id_col,
            emb_col=args.emb_col,
            dim=from_artifact(meta, "dim", args.dim, 64),
            n_assign=from_artifact(meta, "n_assign", args.n_assign, 1),
        )
        return _emit_index_rows(args, spark)
    # query
    if not args.queries:
        raise SystemExit("ann query requires --queries")
    centroids, codebooks, meta = load_artifacts()
    queries = spark.read.parquet(*args.queries)
    out = ivfpq_topk_pretrained(
        spark,
        args.table,
        vecs,
        queries,
        centroids,
        codebooks,
        k=args.k,
        id_col=args.id_col,
        emb_col=args.emb_col,
        dim=from_artifact(meta, "dim", args.dim, 64),
        nprobe=args.nprobe,
        refine=args.refine,
    )
    return _emit_query_result(args, spark, out)


def _emit_index_rows(args, spark) -> int:
    """Print an `ann build`/`append` summary: the index table's row
    count, plus the artifact file a build wrote."""
    import json

    summary = {
        "table": args.table, "index_rows": spark.table(args.table).count()
    }
    if args.action == "build":
        summary["artifacts"] = args.artifacts
    print(json.dumps(summary))
    return 0


def _emit_query_result(args, spark, out) -> int:
    import json

    if args.out:
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"out": args.out, "rows": spark.read.parquet(args.out).count()}))
    else:
        for row in out.collect():
            print(row.asDict())
    return 0


def _ann_sq8(args, spark, vecs) -> int:
    """SQ8 lifecycle: the artifact file IS the `sq8_bounds_to_json`
    payload (format sq8-bounds-v1, loud-failure loader incl. the
    inverted-bounds guard), the code table is `write_sq8_index`'s
    (neighbor_id, codes)."""
    import json

    from mempool_dumpster_spark.ml.similarity import (
        append_sq8_index,
        sq8_bounds_from_json,
        sq8_bounds_to_json,
        sq8_topk_pretrained,
        write_sq8_index,
    )

    def load_bounds() -> list[list[float]]:
        with open(args.artifacts) as f:
            payload = f.read()
        try:
            bounds = sq8_bounds_from_json(payload)
        except ValueError as e:
            raise SystemExit(f"{args.artifacts}: {e}") from e
        if args.dim is not None and args.dim != len(bounds[0]):
            raise SystemExit(
                f"--dim {args.dim} contradicts the bounds artifact "
                f"({args.artifacts} records dim={len(bounds[0])}); drop "
                "the flag or rebuild the index"
            )
        return bounds

    if args.action == "build":
        dim = 64 if args.dim is None else args.dim
        bounds = write_sq8_index(
            vecs, args.table, id_col=args.id_col, emb_col=args.emb_col,
            dim=dim, path=args.path,
        )
        with open(args.artifacts, "w") as f:
            f.write(sq8_bounds_to_json(bounds))
        return _emit_index_rows(args, spark)
    if args.action == "append":
        bounds = load_bounds()
        append_sq8_index(
            vecs, args.table, bounds,
            id_col=args.id_col, emb_col=args.emb_col, dim=len(bounds[0]),
        )
        return _emit_index_rows(args, spark)
    if not args.queries:
        raise SystemExit("ann query requires --queries")
    bounds = load_bounds()
    queries = spark.read.parquet(*args.queries)
    out = sq8_topk_pretrained(
        spark, args.table, vecs, queries, bounds,
        k=args.k, id_col=args.id_col, emb_col=args.emb_col,
        dim=len(bounds[0]), refine=args.refine,
    )
    return _emit_query_result(args, spark, out)


def _ann_bq(args, spark, vecs) -> int:
    """BQ lifecycle: zero trained state — the artifact JSON records only
    the dim contract so append/query sessions cannot silently mix word
    widths; the code table is `write_bq_index`'s (neighbor_id, w0..)."""
    import json

    from mempool_dumpster_spark.ml.similarity import (
        append_bq_index,
        bq_topk_pretrained,
        write_bq_index,
    )

    def load_dim() -> int:
        with open(args.artifacts) as f:
            obj = json.load(f)
        if obj.get("format") != "bq-index-artifacts-v1":
            raise SystemExit(
                f"{args.artifacts}: not a BQ artifact file "
                f"(format={obj.get('format')!r})"
            )
        dim = int(obj["dim"])
        if args.dim is not None and args.dim != dim:
            raise SystemExit(
                f"--dim {args.dim} contradicts the BQ artifact "
                f"({args.artifacts} records dim={dim}); drop the flag "
                "or rebuild the index"
            )
        return dim

    if args.action == "build":
        dim = 64 if args.dim is None else args.dim
        write_bq_index(
            vecs, args.table, id_col=args.id_col, emb_col=args.emb_col,
            dim=dim, path=args.path,
        )
        with open(args.artifacts, "w") as f:
            json.dump({"format": "bq-index-artifacts-v1", "dim": dim}, f)
        return _emit_index_rows(args, spark)
    if args.action == "append":
        append_bq_index(
            vecs, args.table,
            id_col=args.id_col, emb_col=args.emb_col, dim=load_dim(),
        )
        return _emit_index_rows(args, spark)
    if not args.queries:
        raise SystemExit("ann query requires --queries")
    dim = load_dim()
    queries = spark.read.parquet(*args.queries)
    out = bq_topk_pretrained(
        spark, args.table, vecs, queries,
        k=args.k, id_col=args.id_col, emb_col=args.emb_col,
        dim=dim, refine=args.refine,
    )
    return _emit_query_result(args, spark, out)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="mempool_dumpster_spark")
    sub = p.add_subparsers(dest="command", required=True)

    m = sub.add_parser("merge", help="merge a day of collector outputs")
    m.add_argument("tx", nargs="+", help="transaction CSV/zip input files")
    m.add_argument("--out", required=True, help="output directory")
    m.add_argument("--sourcelog", nargs="*", default=[], help="sourcelog files")
    m.add_argument(
        "--tx-blacklist", nargs="*", default=[],
        help="blacklisted tx files (e.g. previous day)",
    )
    m.add_argument(
        "--blacklist-table", default=None,
        help="persistent hash-bucketed blacklist catalog table (multi-day "
        "operating mode: the accumulated exclusion list anti-joins "
        "exchange-free on its side; see plans.merge.append_blacklist_table)",
    )
    m.add_argument(
        "--blacklist-before-day", type=int, default=None,
        help="with --blacklist-table: anti-join only hashes admitted on "
        "days strictly before this index (a re-run must never exclude "
        "its own partial append)",
    )
    m.add_argument(
        "--append-blacklist-day", type=int, default=None,
        help="with --blacklist-table: after the merge, append this day's "
        "output hashes to the table under this day index (idempotent — "
        "the day's partition is replaced, so re-runs are crash-safe)",
    )
    m.add_argument(
        "--blacklist-table-path", default=None,
        help="external location for --blacklist-table on first creation",
    )
    m.add_argument(
        "--write-summary", action="store_true",
        help="run the analyzer and write summary.txt",
    )
    m.add_argument(
        "--blocks", default=None,
        help="parquet with (hash, block_number, block_timestamp_ms) for the "
        "inclusion check (J3 join path); omit to skip enrichment",
    )
    m.add_argument(
        "--stats", action="store_true", help="print reject/parse stats"
    )
    m.set_defaults(fn=cmd_merge)

    a = sub.add_parser("analyze", help="analyze merged transactions")
    a.add_argument("input", nargs="+", help="input parquet files")
    a.add_argument("--out", help="output filename (stdout if omitted)")
    a.set_defaults(fn=cmd_analyze)

    c = sub.add_parser("collect", help="run the streaming collector")
    c.add_argument("--landing", required=True, help="landing dir of feed CSVs")
    c.add_argument("--out", required=True, help="output directory")
    c.add_argument("--checkpoint", help="checkpoint dir (default OUT/_checkpoint)")
    c.add_argument(
        "--drain", action="store_true",
        help="process available input then exit (availableNow)",
    )
    c.add_argument(
        "--sse-port", type=int, default=None,
        help="serve valid first arrivals at /sse/transactions on this port "
        "(0 = ephemeral; reference: api/server.go SSE API)",
    )
    c.set_defaults(fn=cmd_collect)

    k = sub.add_parser(
        "compact", help="compact small files in a bucketed archive (hourly cron)"
    )
    k.add_argument("--root", required=True, help="archive root (date=/hour= dirs)")
    k.add_argument(
        "--target-mb", type=int, default=128, help="target output file size (MB)"
    )
    k.add_argument(
        "--quiesce-seconds", type=float, default=300.0,
        help="skip partitions written to within this window (the live hour)",
    )
    k.set_defaults(fn=cmd_compact)

    q = sub.add_parser(
        "query", help="run or explain any registered query from the catalog"
    )
    q.add_argument("name", nargs="?", default=None, help="query name")
    q.add_argument(
        "--sf-dir", default="/root/testdata/sf0.001", help="testdata directory"
    )
    q.add_argument("--limit", type=int, default=20, help="max rows to print")
    q.add_argument(
        "--explain", action="store_true", help="print the physical plan only"
    )
    q.add_argument("--list", action="store_true", help="list registered queries")
    q.set_defaults(fn=cmd_query)

    r = sub.add_parser(
        "rollup",
        help="maintain per-partition archive stats incrementally (hourly cron)",
    )
    r.add_argument("--root", required=True, help="archive root (date=/hour= dirs)")
    r.add_argument("--out", required=True, help="rollup output root")
    r.add_argument(
        "--distinct-col", default=None,
        help="also keep a mergeable HLL sketch of this column per partition",
    )
    r.set_defaults(fn=cmd_rollup)

    w = sub.add_parser("website", help="build the archive file-index site")
    w.add_argument("--root", required=True, help="archive root (month dirs)")
    w.add_argument("--out", required=True, help="site output directory")
    w.set_defaults(fn=cmd_website)

    t = sub.add_parser(
        "prep",
        help="training-corpus prep: filter, dedup, decontaminate, split",
    )
    t.add_argument("docs", nargs="+", help="documents parquet input paths")
    t.add_argument("--out", required=True, help="output directory (split= dirs)")
    t.add_argument(
        "--benchmark", default=None,
        help="benchmark documents parquet; enables word-5-gram decontamination",
    )
    t.add_argument(
        "--splits", default=None,
        help="train,val,test percentages (default 90,5,5)",
    )
    t.add_argument("--redact-pii", action="store_true", help="scrub PII patterns")
    t.add_argument(
        "--pack-tokens", type=int, default=None,
        help="also write OUT_packed: sequences greedily packed to this "
        "token budget, sharded within each split",
    )
    t.add_argument(
        "--training-order", default=None, metavar="SEED",
        help="write OUT_packed in deterministic epoch order for this "
        "seed (ml.packing.shuffle_packed_for_training): sequences are "
        "permuted content-addressably, members stay adjacent, and "
        "reading a split's files in name order streams the epoch; "
        "requires --pack-tokens",
    )
    t.add_argument(
        "--atomic", action="store_true",
        help="publish via a manifest-committed version (sources/manifest.py) "
        "so concurrent readers never see a partial corpus",
    )
    t.add_argument(
        "--append", action="store_true",
        help="incremental mode: gate the input batch against OUT's "
        "existing corpus via OUT_signatures, then atomically UPSERT the "
        "kept rows and their signature rows as new manifest versions "
        "(requires --atomic and a prior `prep --atomic --signatures` run)",
    )
    t.add_argument(
        "--signatures", action="store_true",
        help="also write OUT_signatures: the per-doc text-hash + minhash "
        "dedup artifact that ml.prep.prep_incremental joins new document "
        "batches against without re-reading the corpus",
    )
    t.add_argument(
        "--bucketed", default=None, metavar="TABLE",
        help="also land OUT_bucketed: a doc_id-bucketed catalog table "
        "(partitioned by split) so downstream dedup/join/pack re-runs "
        "plan exchange-free; read it via spark.table(TABLE)",
    )
    t.add_argument(
        "--bucket-count", type=int, default=32,
        help="bucket count for --bucketed (match it across the dataset "
        "family you join against)",
    )
    t.add_argument(
        "--dsir-target", default=None, metavar="SQL_EXPR",
        help="DSIR selection stage: SQL boolean expression over the "
        "document columns selecting the high-quality target subset "
        "(e.g. \"lang = 'en'\"); requires --dsir-keep",
    )
    t.add_argument(
        "--dsir-keep", type=int, default=None, metavar="K",
        help="keep only the K docs ranking highest by DSIR importance "
        "against --dsir-target (runs after dedup/decontamination)",
    )
    t.add_argument("--no-gopher", action="store_true", help="skip quality gates")
    t.add_argument("--no-exact-dedup", action="store_true")
    t.add_argument("--no-near-dedup", action="store_true")
    t.set_defaults(fn=cmd_prep)

    n = sub.add_parser(
        "ann",
        help="ANN index lifecycle: build / append / query a persisted "
        "code-artifact table (--method ivfpq | sq8 | bq)",
    )
    n.add_argument("action", choices=["build", "append", "query"])
    n.add_argument(
        "--method", choices=["ivfpq", "sq8", "bq"], default="ivfpq",
        help="index rung: ivfpq (cell-partitioned PQ codes, pruned "
        "probe), sq8 (uint8 grid codes, pure-Catalyst scan), bq (1-bit "
        "sign words, Hamming scan; no trained state)",
    )
    n.add_argument(
        "vectors", nargs="+",
        help="embedding parquet input paths (the candidate corpus)",
    )
    n.add_argument("--table", required=True, help="index catalog table name")
    n.add_argument(
        "--artifacts", required=True,
        help="train-artifact JSON path (written by build, read by "
        "append/query; codes are meaningless without it)",
    )
    n.add_argument("--path", default=None, help="external table location")
    n.add_argument("--id-col", default="vec_id")
    n.add_argument("--emb-col", default="embedding")
    n.add_argument(
        "--dim", type=int, default=None,
        help="vector width (build default 64; append/query default to "
        "the artifact's recorded value)",
    )
    n.add_argument("--n-cells", type=int, default=16)
    n.add_argument(
        "--n-assign", type=int, default=None,
        help="cells per vector (build default 1; append defaults to the "
        "artifact's recorded value — a mismatched override is an error)",
    )
    n.add_argument("--m", type=int, default=8)
    n.add_argument("--k-codes", type=int, default=16)
    n.add_argument("--n-iters", type=int, default=3)
    n.add_argument("--queries", nargs="+", default=None,
                   help="query parquet paths (query action)")
    n.add_argument("-k", type=int, default=10)
    n.add_argument("--nprobe", type=int, default=4)
    n.add_argument(
        "--refine", type=int, default=None,
        help="shortlist oversampling ×k (default: the method's "
        "recall-gated production value from plans.ml_queries."
        "ANN_RUNG_PARAMS — currently 32 for every method; smaller "
        "shortlists miss ties in near-dup clusters, recall artifacts "
        "ANN_RECALL_100X_r13/r14)",
    )
    n.add_argument("--out", default=None,
                   help="write query results parquet instead of printing")
    n.set_defaults(fn=cmd_ann)
    return p


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args, spark=spark)


if __name__ == "__main__":
    sys.exit(main())
