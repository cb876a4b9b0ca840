"""ClickHouse connectivity (S8 source / S20 sink; SURVEY.md §2.1).

The reference reads a deduped day from ClickHouse with a pushed-down
GROUP BY (cmd/merge/clickhouse.go:73-96) and streams inserts in 1,000-row
batches with retries (collector/clickhouse.go:92-242). Spark equivalents:

- source: JDBC read with the dedup query pushed down via the `query`
  option — ClickHouse does the GROUP BY, Spark receives unique rows. The
  same dedup also exists natively (operators.dedup.dedup_keep_earliest),
  so pushdown is an optimization, not a requirement.
- sink: `foreachBatch` + JDBC batch writes; Spark task retries replace the
  reference's manual 5×-linear-backoff loop.

No ClickHouse server or JDBC driver exists in this container, but the
execution paths themselves are NOT dead code: every function takes a
`driver` override, and tests/test_uint256_and_connectors.py executes the
identical read-pushdown and foreachBatch-append paths against embedded
Derby (whose JDBC driver ships inside Spark's own jars). A live ClickHouse
round-trip runs when `SPARK_GRAFT_CH_JAR` + `SPARK_GRAFT_CH_URL` point at
a driver jar and server; it skips otherwise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: The 13 metadata columns of the pushed-down dedup GROUP BY
#: (reference cmd/merge/clickhouse.go:75-81)
DEDUP_META_COLS = [
    "hash", "chain_id", "tx_type", "from", "to", "value", "nonce", "gas",
    "gas_price", "gas_tip_cap", "gas_fee_cap", "data_size", "data_4bytes",
]


def dedup_pushdown_query(
    table: str, date_from: str, date_to: str
) -> str:
    """The earliest-wins dedup as a ClickHouse-side query: min(received_at)
    + any(raw_tx) grouped by all metadata columns, date-bounded for
    partition pruning (PARTITION BY toDate(received_at)).

    table/date bounds are typically CLI inputs interpolated into SQL
    shipped over JDBC — validate them against strict shapes so a stray
    quote can neither break the statement nor inject predicates."""
    import re

    if not re.fullmatch(r"[A-Za-z_][\w.]*", table):
        raise ValueError(f"invalid table identifier: {table!r}")
    for label, d in (("date_from", date_from), ("date_to", date_to)):
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}:\d{2})?", d):
            raise ValueError(f"{label} must be YYYY-MM-DD[ HH:MM:SS], got {d!r}")
    cols = ", ".join(f"`{c}`" for c in DEDUP_META_COLS)
    return (
        f"SELECT min(received_at) AS received_at, {cols}, any(raw_tx) AS raw_tx "
        f"FROM {table} "
        f"WHERE received_at >= '{date_from}' AND received_at < '{date_to}' "
        f"GROUP BY {cols} "
        f"SETTINGS max_threads=8, max_block_size=65536, "
        f"group_by_two_level_threshold=100000"
    )


CLICKHOUSE_DRIVER = "com.clickhouse.jdbc.ClickHouseDriver"


def jdbc_options(
    url: str,
    query: str,
    user: str = "",
    password: str = "",
    driver: str = CLICKHOUSE_DRIVER,
) -> dict:
    return {
        "url": url,
        "query": query,
        "driver": driver,
        "user": user,
        "password": password,
        # one day ≈ 1-2M rows; fetch in streaming blocks
        "fetchsize": "65536",
    }


def read_pushdown(spark: SparkSession, url: str, query: str, **opts) -> DataFrame:
    """The S8 execution path: a JDBC scan whose `query` option ships the
    whole statement to the database — the server does the GROUP BY, Spark
    receives only unique rows."""
    return spark.read.format("jdbc").options(**jdbc_options(url, query, **opts)).load()


def clickhouse_stream_sink(
    df: DataFrame,
    url: str,
    table: str,
    checkpoint: str,
    driver: str = CLICKHOUSE_DRIVER,
    available_now: bool = False,
    **auth,
):
    """S20: streaming insert via foreachBatch + JDBC. Batch size maps to the
    reference's CLICKHOUSE_BATCH_SIZE=1000 via jdbc batchsize; retries are
    Spark task retries + checkpointed exactly-once batch replay.
    `available_now=True` drains the source and stops (tests/backfills)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.format("jdbc")
            .option("url", url)
            .option("dbtable", table)
            .option("driver", driver)
            .option("batchsize", "1000")
            .options(**auth)
            .mode("append")
            .save()
        )

    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
