"""P1/P2/F4 as a vectorized Pandas UDF: raw RLP hex → all 14 TxSummary
metadata columns + validation verdict, in one Arrow-batched pass.

This is the engine's single Python hot path (SURVEY.md §4.3) — everything
around it stays JVM-side. Plan discipline matters here: dedup on
(hash, timestamp) BEFORE applying this UDF so each unique tx is parsed once
(the reference interleaves dedup with parsing for the same reason,
common/txsfile.go:115-136; Catalyst won't reorder around a Python UDF).

Rows that fail RLP decoding come back with parse_ok=false and the error in
`decode_error` — callers filter them out (and can count them) instead of the
job dying, matching the reference's drop-with-log behavior
(common/txsfile.go:131-136).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

PARSED_TX_SCHEMA = T.StructType(
    [
        T.StructField("hash", T.StringType()),
        T.StructField("chainId", T.StringType()),
        T.StructField("txType", T.LongType()),
        T.StructField("from", T.StringType()),
        T.StructField("to", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("nonce", T.StringType()),
        T.StructField("gas", T.StringType()),
        T.StructField("gasPrice", T.StringType()),
        T.StructField("gasTipCap", T.StringType()),
        T.StructField("gasFeeCap", T.StringType()),
        T.StructField("dataSize", T.LongType()),
        T.StructField("data4Bytes", T.StringType()),
        T.StructField("rawTx", T.BinaryType()),  # canonical re-encoding (P2)
        T.StructField("is_valid", T.BooleanType()),
        T.StructField("reason", T.StringType()),
        T.StructField("parse_ok", T.BooleanType()),
        T.StructField("decode_error", T.StringType()),
    ]
)


@F.pandas_udf(PARSED_TX_SCHEMA)
def parse_raw_tx_udf(raw_hex: pd.Series) -> pd.DataFrame:
    # Imports inside the UDF body: executed on workers, keeps pickling cheap.
    from mempool_dumpster_spark.functions.ethtx import TxDecodeError, parse_tx

    rows = []
    for raw in raw_hex:
        if raw is None:
            rows.append(_err_row("null input"))
            continue
        try:
            t = parse_tx(raw)
        except (TxDecodeError, ValueError) as e:
            rows.append(_err_row(str(e)[:200]))
            continue
        rows.append(
            {
                "hash": t.hash,
                "chainId": t.chain_id,
                "txType": t.tx_type,
                "from": t.sender,
                "to": t.to,
                "value": t.value,
                "nonce": t.nonce,
                "gas": t.gas,
                "gasPrice": t.gas_price,
                "gasTipCap": t.gas_tip_cap,
                "gasFeeCap": t.gas_fee_cap,
                "dataSize": t.data_size,
                "data4Bytes": t.data_4bytes,
                "rawTx": t.raw_canonical,
                "is_valid": t.valid,
                "reason": t.reason,
                "parse_ok": True,
                "decode_error": None,
            }
        )
    return pd.DataFrame(rows, columns=[f.name for f in PARSED_TX_SCHEMA.fields])


# asNondeterministic is a plan barrier, not a semantic statement: parsing IS
# deterministic, but Catalyst pushes filters on UDF outputs below exchanges
# and re-evaluates the UDF once per pushed predicate — .explain showed TWO
# ArrowEvalPython nodes for one parse (one of them on AQE-coalesced 1-task
# partitioning). Marking it non-deterministic pins exactly one evaluation at
# the partitioning the plan placed it on.
parse_raw_tx_udf = parse_raw_tx_udf.asNondeterministic()


def _err_row(msg: str) -> dict:
    return {
        "hash": None,
        "chainId": None,
        "txType": None,
        "from": None,
        "to": None,
        "value": None,
        "nonce": None,
        "gas": None,
        "gasPrice": None,
        "gasTipCap": None,
        "gasFeeCap": None,
        "dataSize": None,
        "data4Bytes": None,
        "rawTx": None,
        "is_valid": False,
        "reason": "rlp-decode-error",
        "parse_ok": False,
        "decode_error": msg,
    }


@F.pandas_udf(T.StringType())
def tx_hash_udf(raw_hex: pd.Series) -> pd.Series:
    """Canonical tx hash only (no ECDSA) — the cheap projection for sourcelog
    rows and streaming dedup keys; null for undecodable payloads."""
    from mempool_dumpster_spark.functions.ethtx import TxDecodeError, tx_hash_only

    out = []
    for raw in raw_hex:
        if raw is None:
            out.append(None)
            continue
        try:
            out.append(tx_hash_only(raw))
        except (TxDecodeError, ValueError):
            out.append(None)
    return pd.Series(out, dtype="object")


tx_hash_udf = tx_hash_udf.asNondeterministic()  # same barrier as above


def with_parsed_tx(df: DataFrame, raw_col: str = "raw_tx") -> DataFrame:
    """Attach the parsed struct and explode it to top-level columns.

    Keeps the input columns (e.g. timestamp_ms) alongside; undecodable rows
    survive with parse_ok=false for reject accounting.
    """
    parsed = df.withColumn("__parsed", parse_raw_tx_udf(F.col(raw_col)))
    keep = [c for c in df.columns]
    return parsed.select(*keep, "__parsed.*")
