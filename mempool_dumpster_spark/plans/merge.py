"""The merge pipeline — Spark restatement of the reference's main batch job
`mempool-dumpster merge transactions` (SURVEY.md §3.1; reference
cmd/merge/transactions.go:22-185).

Plan shape (each stage is declarative; Catalyst fuses the filters into the
scans):

    tx CSVs ──F1──▶ anti-join blacklist ──A1 dedup──▶ P1 parse UDF ─┐
    sourcelog CSVs ──F1──▶ A2 dedup ──▶ J1 sources-by-first-seen ───┼─▶ join
    blocks table ───────────────────────▶ J3 inclusion enrich ──────┘
        ──▶ F3 filter already-included ──▶ O1 sort ──▶ S13/S14/S15 sinks

Deliberate ordering (SURVEY.md §4.1 "predicate-before-parse"): blacklist
anti-join and hash-dedup run BEFORE the Python parse UDF so each unique tx
is RLP-decoded exactly once — Catalyst will not hoist filters across a
Python UDF, so the plan encodes it. At 1000 executors the only all-to-all
exchanges are the dedup on `hash` and the two hash-joins on `hash`; AQE
coalesces/skew-splits them at runtime.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mempool_dumpster_spark.functions.ethtx import REASON_CHAINID_NOT_SET
from mempool_dumpster_spark.functions.rlp_udf import with_parsed_tx
from mempool_dumpster_spark.operators.dedup import dedup_keep_earliest
from mempool_dumpster_spark.operators.joins import (
    anti_join_blacklist,
    attach_sources,
    inclusion_enrich,
    was_included_before_received,
)
from mempool_dumpster_spark.schemas import ALREADY_INCLUDED_THRESHOLD_MS, TXSUMMARY
from mempool_dumpster_spark.sources.readers import (
    read_blacklist_csv,
    read_sourcelog_csv,
    read_tx_csv,
)
from mempool_dumpster_spark.sources.sinks import (
    write_metadata_csv,
    write_raw_csv,
    write_transactions_parquet,
)
from mempool_dumpster_spark.sources.zipcsv import expand_zip_inputs


#: blacklist CSV bytes above which J2 switches from a broadcast to a
#: shuffled left-anti join (~64 MB of CSV ≈ 1M hashes — comfortably
#: broadcastable; a week of accumulated daily outputs is not).
BLACKLIST_BROADCAST_MAX_BYTES = 64 * 1024 * 1024

#: bucket count for the persistent blacklist TABLE (the multi-day
#: operating mode's accumulated exclusion list). A layout contract:
#: writer and every J2 read share it, and the day's receipts shuffle
#: to exactly this many partitions to meet the bucketed side. Sized so
#: one bucket of a QUARTER of 2M-unique days (~180M hashes, ~12 GB
#: parquet) is ~190 MB / ~3M hashes — one task's sort fits in memory
#: with a wide margin. Raise it in lockstep on a fleet-scale redeploy
#: (the table must be rewritten; bucket count can't change in place).
BLACKLIST_TABLE_BUCKETS = 64


def blacklist_size_bytes(spark: SparkSession, paths: list[str]) -> int | None:
    """Total on-disk bytes of the blacklist inputs, or None if unknown.

    The r14 probe summed `os.path.getsize` over paths that `os.path.exists`
    — three silent-undercount holes at deployment scale (r14 verdict #1):
    a directory input contributed only its inode size (~4 KB), a glob
    pattern contributed 0, and an object-store URI (`s3://…`, `hdfs://…`
    — the only place a 100 TB deployment keeps a week of blacklists)
    contributed 0; `0 <= threshold` then force-broadcast an arbitrarily
    large exclusion list, resurrecting the pre-r14 OOM.

    This probe closes all three: local globs are expanded, local
    directories are walked (files summed), and scheme-qualified URIs are
    sized through the Hadoop FS API (`FileSystem.getContentSummary`, the
    same listing Spark's own scan planner uses). A path that still can't
    be sized makes the TOTAL unknown (None) — and the caller treats
    unknown as over-threshold, so the fail-safe direction is the shuffled
    anti-join, never the broadcast. Catalyst/AQE can still downgrade the
    shuffle to a broadcast at runtime from the ACTUAL scan size, so the
    conservative default costs nothing when the list turns out small.
    """
    import glob as _glob

    total = 0
    for p in paths:
        if "://" in p:  # object-store / HDFS URI → Hadoop FS
            try:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(p)
                conf = spark._jsc.hadoopConfiguration()
                fs = jpath.getFileSystem(conf)
                total += fs.getContentSummary(jpath).getLength()
            except Exception:
                return None
            continue
        expanded = _glob.glob(p) if _glob.has_magic(p) else [p]
        if not expanded:
            return None  # glob matched nothing we can size
        for e in expanded:
            if os.path.isdir(e):
                for root, _dirs, files in os.walk(e):
                    total += sum(
                        os.path.getsize(os.path.join(root, f)) for f in files
                    )
            elif os.path.isfile(e):
                total += os.path.getsize(e)
            else:
                return None
    return total


def append_blacklist_table(
    spark: SparkSession,
    transactions: DataFrame,
    table: str,
    day: int,
    path: str | None = None,
    n_buckets: int = BLACKLIST_TABLE_BUCKETS,
) -> None:
    """Append one merge day's output hashes to the persistent bucketed
    blacklist table (the accumulated exclusion list of the multi-day
    operating mode; reference semantics common/txsfile.go:115-119 —
    every prior day's admitted hash is blacklisted thereafter).

    Layout: partitioned by `day`, bucketed (and sorted) by `hash`,
    hashes lowercase-normalized AT WRITE so no expression ever needs to
    wrap the join key at read time (an expression on the key would
    discard the bucket partitioning and resurrect the exchange this
    table exists to eliminate — see read_blacklist_table).

    Crash-safe by replacement, not by transaction: the day's partition
    directory is deleted (Hadoop FS, so object stores work) before the
    append, making a re-run of day N idempotent — a merge killed at ANY
    point (mid-output-write, mid-append, between the two) recovers by
    re-running the whole day. A half-appended day can never poison its
    own re-run anyway, because J2 reads strictly `day < N`
    (read_blacklist_table), and duplicate hashes would be harmless to a
    left-anti join even if they survived — the replacement just keeps
    the artifact's bytes/hash flat.
    """
    # repartition BY THE BUCKET KEY before the bucketed write:
    # Spark's bucket id is Pmod(Murmur3(hash), n) — the same function
    # repartition(n, col) uses — so after this every task holds exactly
    # one bucket and writes ONE file (a quarter of daily appends stays
    # at 1 file/bucket/day instead of tasks×buckets). The aggregate for
    # dropDuplicates then runs shuffle-free on the same layout.
    hashes = (
        transactions.select(F.lower(F.col("hash")).alias("hash"))
        .repartition(n_buckets, "hash")
        .dropDuplicates(["hash"])
        .withColumn("day", F.lit(day).cast("int"))
    )
    if spark.catalog.tableExists(table):
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {table}")
            .filter(F.col("col_name") == "Location")
            .collect()
        )
        if loc:
            jvm = spark._jvm
            part_dir = jvm.org.apache.hadoop.fs.Path(
                f"{loc[0]['data_type']}/day={day}"
            )
            fs = part_dir.getFileSystem(spark._jsc.hadoopConfiguration())
            fs.delete(part_dir, True)
            spark.catalog.refreshTable(table)
        w = hashes.write.mode("append")
    else:
        w = hashes.write.mode("overwrite")
        if path is not None:
            w = w.option("path", path)
    (
        w.partitionBy("day")
        .bucketBy(n_buckets, "hash")
        .sortBy("hash")
        .format("parquet")
        .saveAsTable(table)
    )
    spark.catalog.refreshTable(table)


def read_blacklist_table(
    spark: SparkSession, table: str, before_day: int | None = None
) -> DataFrame:
    """The J2 input for a given merge day: all hashes admitted on days
    strictly before `before_day` (partition-pruned), read THROUGH the
    catalog so the bucket spec survives. `before_day=None` reads the
    whole table (analytics / audits).

    The returned frame's `hash` column must reach the anti-join
    unwrapped: merge_transactions aliases it (alias preserves the scan's
    HashPartitioning through the Project) but never applies lower() or
    any other expression — normalization happened at write time."""
    bl = spark.table(table)
    if before_day is not None:
        bl = bl.filter(F.col("day") < before_day)
    return bl.select("hash")


@dataclass
class MergeResult:
    transactions: DataFrame  # TXSUMMARY-shaped, sorted by timestamp
    sourcelog: DataFrame  # deduped (hash, source, min ts)
    stats: dict = field(default_factory=dict)
    _cached: list = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self._cached:
            df.unpersist()


def merge_transactions(
    spark: SparkSession,
    tx_paths: list[str],
    sourcelog_paths: list[str] | None = None,
    blacklist_paths: list[str] | None = None,
    blacklist_table: str | None = None,
    blacklist_before_day: int | None = None,
    blocks: DataFrame | None = None,
    collect_stats: bool = False,
    rpc_client_factory=None,
) -> MergeResult:
    """Load a day of collector outputs and produce the merged TxSummary table.

    Inclusion enrichment (J3) has two interchangeable paths, mirroring the
    reference's check-nodes option:
    - `blocks`: a (hash → block number/timestamp) DataFrame join — right when
      a block table already exists (e.g. an exported chain dataset);
    - `rpc_client_factory`: the live path — per-partition RPC clients with an
      LRU block cache via mapInPandas (operators/inclusion_rpc, reference
      cmd/merge/inclusioncheck.go TxUpdateWorker pool).
    Omit both and every tx is marked not-included, like running the
    reference without check-nodes.

    The exclusion list (J2) likewise has two paths: `blacklist_paths`
    (ad-hoc CSVs, the reference's CLI shape — broadcast under
    BLACKLIST_BROADCAST_MAX_BYTES, shuffled past it) and
    `blacklist_table` (the persistent hash-bucketed table maintained by
    append_blacklist_table — the multi-day operating mode, where the
    accumulated list joins exchange-free; pass `blacklist_before_day`
    = the current day index so a re-run never anti-joins its own
    partial append).
    """
    tx_read = read_tx_csv(spark, expand_zip_inputs(tx_paths))
    raw = tx_read.valid.withColumnRenamed("hash", "csv_hash")

    if blacklist_table:
        # Bucket-aligned J2 (r16): in the multi-day operating mode the
        # exclusion list is EVERY prior day's output hashes — ~760 MB a
        # week, ~12 GB a quarter — and the r15 shuffled anti-join
        # re-partitioned that whole accumulated list on every daily
        # merge. Reading it as a hash-bucketed catalog table instead
        # makes its scan ALREADY hash-partitioned: the sort-merge
        # left-anti plans with ZERO Exchange on the blacklist side, and
        # only the day's new receipts shuffle (to the bucket count).
        # That receipt-side exchange is then reused by the A1 dedup
        # immediately below (same key, partitioning propagates through
        # the join's left side), so the day pays ONE receipt shuffle
        # total for J2+A1. The alias keeps the bucket partitioning
        # (Project is alias-aware); applying lower()/any expression to
        # the key here would silently bring the exchange back — hashes
        # were normalized at write time (append_blacklist_table).
        bl = read_blacklist_table(
            spark, blacklist_table, before_day=blacklist_before_day
        ).select(F.col("hash").alias("csv_hash"))
        raw = raw.join(bl, on="csv_hash", how="left_anti")
    elif blacklist_paths:
        bl_paths = expand_zip_inputs(blacklist_paths)
        blacklist = read_blacklist_csv(spark, bl_paths)
        # Size-aware J2 (r14, surfaced by the multi-day stress): a
        # single reference day's blacklist broadcasts fine, but in the
        # multi-day operating mode the blacklist is EVERY prior day's
        # output hashes — ~66 bytes/hash, so a week of 1M-unique days
        # is ~450 MB, past any sane broadcast. File size is a cheap
        # upper bound on the distinct-hash frame (CSV rows >= distinct
        # hashes); past the threshold the anti-join shuffles instead —
        # same semantics, and the hash-partitioned exchange is the
        # 100 TB-correct plan for a fact-sized exclusion list. An
        # UNKNOWN size (unstatable path) counts as over-threshold: the
        # shuffled plan is always correct, while a wrongly-broadcast
        # 450 MB list OOMs the executors (r14 verdict #1).
        bl_bytes = blacklist_size_bytes(spark, bl_paths)
        raw = anti_join_blacklist(
            raw, blacklist, hash_col="csv_hash",
            broadcast=(
                bl_bytes is not None
                and bl_bytes <= BLACKLIST_BROADCAST_MAX_BYTES
            ),
        )

    # A1 before the UDF: one RLP parse per unique hash. (r16: a
    # window/row_number form with pre-repartition was A/B-measured against
    # this min_by aggregate at the 15k tier — 3.65 s vs 3.38 s steady —
    # and rejected; the partial SortAggregate already dedups receipts
    # map-side before the exchange, which the window's WindowGroupLimit
    # merely matches.)
    deduped = dedup_keep_earliest(raw, key="csv_hash", ts_col="timestamp_ms")

    # The parse UDF is CPU-bound (~ms/tx), so its partitioning must follow
    # CORES, not bytes: AQE coalesces the dedup shuffle by byte size and a
    # day of raw txs is only ~1 GB, which would funnel hours of ECDSA work
    # into a handful of tasks. Explicit hash repartition pins the fan-out
    # (AQE never coalesces a user repartition). EXCEPT on the bucket-
    # aligned J2 path: there the receipts already shuffled to the bucket
    # count to meet the blacklist table, that layout is non-coalescible
    # (AQE must keep it matched to the bucketed side), and the dedup
    # rides it for free — re-repartitioning would add a second full
    # shuffle of the day's receipts for nothing, as long as the bucket
    # count already covers the cores.
    par = spark.sparkContext.defaultParallelism
    if not blacklist_table or BLACKLIST_TABLE_BUCKETS < par:
        deduped = deduped.repartition(par, "csv_hash")
    parsed = with_parsed_tx(deduped, raw_col="raw_tx")
    if collect_stats:
        # Persist before the multiple counting actions below — otherwise each
        # count re-executes the RLP/ECDSA UDF over the whole input.
        parsed = parsed.persist()

    # The reference merge keeps rows whose sender recovery failed (From is the
    # zero address, common/txsfile.go:165-169) but DROPS chainId-not-set rows
    # entirely (ParseTx returns ErrChainIDNotSet and readTxFile skips the row,
    # common/txsfile.go:160-162, 131-136).
    # one parsed predicate + one selectExpr batch (r17, guide §5: the
    # per-Column form was ~20 py4j round trips of per-submission driver
    # cost; identical expression trees)
    txs = parsed.filter(
        F.expr(f"parse_ok AND reason != '{REASON_CHAINID_NOT_SET}'")
    ).selectExpr(
        "timestamp_ms AS timestamp",
        "hash",
        "chainId",
        "txType",
        "`from`",
        "`to`",
        "value",
        "nonce",
        "gas",
        "gasPrice",
        "gasTipCap",
        "gasFeeCap",
        "dataSize",
        "data4Bytes",
        "rawTx",
    )

    if sourcelog_paths:
        sl_read = read_sourcelog_csv(spark, expand_zip_inputs(sourcelog_paths))
        sourcelog = sl_read.valid.groupBy("hash", "source").agg(
            F.min("timestamp_ms").alias("timestamp_ms")
        )
        txs = attach_sources(txs, sourcelog)
    else:
        sourcelog = spark.createDataFrame(
            [], "hash string, source string, timestamp_ms long"
        )
        txs = txs.withColumn("sources", F.array().cast("array<string>"))

    if rpc_client_factory is not None:
        from mempool_dumpster_spark.operators.inclusion_rpc import (
            rpc_inclusion_enrich,
        )

        enriched = rpc_inclusion_enrich(
            txs, rpc_client_factory, hash_col="hash", ts_col="timestamp"
        )
    elif blocks is not None:
        enriched = inclusion_enrich(txs, blocks, ts_col="timestamp")
    else:
        # No inclusion source (reference run without check-nodes): every tx
        # gets the not-included sentinels 0/0/0 (common/txsummary.go:64-66).
        # Identical to inclusion_enrich against an empty blocks frame —
        # left join with zero matches + coalesce(…, 0) — but as a literal
        # projection, which drops a BroadcastExchange + BroadcastHashJoin
        # from the default merge plan (r16; the join against a provably
        # empty side was pure fixed overhead on every run).
        enriched = txs.selectExpr(
            "*",
            "CAST(0 AS LONG) AS includedAtBlockHeight",
            "CAST(0 AS LONG) AS includedBlockTimestamp",
            "CAST(0 AS LONG) AS inclusionDelayMs",
        )

    # F3: drop txs included on-chain ≥12 s before first receipt
    filtered = enriched.filter(
        ~was_included_before_received(ALREADY_INCLUDED_THRESHOLD_MS)
    )

    # Persist before the global sort: orderBy range-partitions via a SAMPLING
    # pass over its child, which would otherwise execute the whole pipeline
    # (including the parse UDF) twice. One day of parsed txs is ~2 GB — cheap
    # to cache at any realistic scale; MergeResult.unpersist() releases it.
    pre_sort = filtered.select([f.name for f in TXSUMMARY.fields]).persist()
    final = pre_sort.orderBy("timestamp")

    stats: dict = {}
    if collect_stats:
        # both parse counters in one aggregate over the persisted `parsed`
        parse_failures, chainid_not_set = parsed.agg(
            F.count_if(~F.col("parse_ok")),
            F.count_if(
                F.col("parse_ok") & (F.col("reason") == REASON_CHAINID_NOT_SET)
            ),
        ).first()
        stats = {
            "tx_rows_rejected": tx_read.rejects.count(),
            "parse_failures": parse_failures,
            "chainid_not_set": chainid_not_set,
            "output_rows": final.count(),
        }
    cached = [pre_sort] + ([parsed] if collect_stats else [])
    return MergeResult(
        transactions=final, sourcelog=sourcelog, stats=stats, _cached=cached
    )


def write_merge_outputs(result: MergeResult, out_dir: str) -> None:
    """S13+S14+S15 off one persisted DataFrame — the reference writes all
    three formats in a single pass (cmd/merge/transactions.go:237-272); the
    Spark version pays one compute and three sink scans of the cache."""
    final = result.transactions.persist()
    try:
        write_transactions_parquet(final, f"{out_dir}/transactions.parquet")
        write_metadata_csv(final, f"{out_dir}/transactions.csv")
        write_raw_csv(final, f"{out_dir}/transactions_raw.csv")
    finally:
        final.unpersist()
