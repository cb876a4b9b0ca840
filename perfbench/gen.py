"""Seeded input generators, cached on disk by (workload, seed).

Every input the benchmark hands to the program is produced here from the
run's ``--seed``: the same seed gives byte-identical files. Generation runs
before any timing and outside ``setup_s``. A cache entry is written into a
temporary directory and renamed into place, so an interrupted generation is
never read back as a complete one.

The program receives only the generated files; the ground truth each
workload checks against is returned alongside (and cached as ``truth.json``).
"""

from __future__ import annotations

import json
import os
import random
import shutil

from perfbench.truth import tx_hash

#: bump when a generator changes its output, so stale caches are rebuilt
GENVER = 3

SOURCES = ["alchemy", "infura", "blxr", "eden"]

#: merge_day sizes: unique signed txs and the special rows. The mix is
#: exact for every seed (only keys, payloads and times vary), so seeds
#: differ in content but not in the work they ask for.
MERGE_TXS = 1000
MERGE_BLACKLISTED = 50
MERGE_UNDECODABLE = 12
MERGE_NO_CHAINID = 12
MERGE_MALFORMED = 6
#: receipts per tx cycle through these counts (mean 2). Assumed, like _TX_MIX.
MERGE_RECEIPTS = (1, 2, 2, 3)

#: the collector phase of merge_day's traced run replays the day's first
#: receipts, in time order, as landing files of STREAM_FILE_ROWS rows: the
#: first STREAM_OPEN_FILES on a fixed schedule, the rest as one backlog
STREAM_FILE_ROWS = 60
STREAM_OPEN_FILES = 10
STREAM_BACKLOG_FILES = 10

#: catalog_queries: fraction of the sf0.1 reference table sizes
CATALOG_SCALE = 0.1


def _cached(work: str, key: str, build) -> tuple[str, dict]:
    """Return (dir, truth) for `key`, building it with `build(tmpdir)` once."""
    root = os.path.join(work, "inputs")
    final = os.path.join(root, f"{key}-g{GENVER}")
    truth_path = os.path.join(final, "truth.json")
    if os.path.exists(truth_path):
        with open(truth_path) as f:
            return final, json.load(f)
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    truth = build(tmp)
    with open(os.path.join(tmp, "truth.json"), "w") as f:
        json.dump(truth, f)
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)
    return final, truth


# --------------------------------------------------------------------------
# signed transactions
# --------------------------------------------------------------------------


#: one cycle of (tx type, calldata bytes): 30% legacy, 5% access-list, 60%
#: dynamic-fee, 5% blob; calldata of 0, 4, 36 or 68 bytes. Assumed, not
#: measured: no public breakdown of mempool traffic was at hand, so the mix
#: only makes every tx type and calldata shape appear in fixed proportions.
_TX_MIX = [
    (t, (0, 0, 4, 36, 68)[i % 5])
    for i, t in enumerate([0] * 30 + [1] * 5 + [2] * 60 + [3] * 5)
]


def _signed_txs(rng: random.Random, n: int) -> list[tuple[str, str]]:
    """`n` valid signed txs with the exact _TX_MIX proportions, in a seeded
    order: (raw in network form, hash)."""
    from tests.txgen import make_tx

    mix = [_TX_MIX[i % len(_TX_MIX)] for i in range(n)]
    rng.shuffle(mix)
    out = []
    for tx_type, data_len in mix:
        raw = make_tx(
            priv=rng.getrandbits(200) + 1,
            tx_type=tx_type,
            nonce=rng.randrange(1 << 20),
            gas=21000 + rng.randrange(200_000),
            value=rng.randrange(10**19),
            to="0x" + rng.randbytes(20).hex(),
            data=rng.randbytes(data_len),
        )
        out.append((raw, tx_hash(raw, blob_sidecar=tx_type == 3)))
    return out


def _no_chainid_tx(rng: random.Random) -> str:
    """A pre-EIP-155 legacy tx (v = 27/28): decodes, but the merge drops it
    as `chainId not set`."""
    from mempool_dumpster_spark.functions import rlp_codec as rlp
    from mempool_dumpster_spark.functions.keccak import keccak256
    from tests.txgen import _sign

    unsigned = [
        rlp.from_int(rng.randrange(1 << 20)), rlp.from_int(30_000_000_000),
        rlp.from_int(21000), rng.randbytes(20), rlp.from_int(10**18), b"",
    ]
    r, s, rec = _sign(keccak256(rlp.encode(unsigned)), rng.getrandbits(200) + 1)
    signed = unsigned + [rlp.from_int(27 + rec), rlp.from_int(r), rlp.from_int(s)]
    return "0x" + rlp.encode(signed).hex()


def _undecodable(rng: random.Random) -> tuple[str, str]:
    """(well-formed hash, payload): 0xde claims a 30-byte list but 7 bytes
    follow, so RLP decoding always fails."""
    return "0x" + rng.randbytes(32).hex(), "0xdeadbeef" + rng.randbytes(3).hex()


# --------------------------------------------------------------------------
# merge_day
# --------------------------------------------------------------------------


def merge_inputs(work: str, seed: int) -> tuple[str, dict]:
    """One collector day: hourly tx CSVs and sourcelog CSVs over ≥3 sources,
    1-3 receipts per tx, a previous-day blacklist (~5%), undecodable,
    chainId-less and malformed rows. Truth: the hashes and first-seen
    timestamps the merge must output, and per-source totals.

    Also the collector's landing files (`stream/`): the day's first
    receipts as `received_at,raw_tx,source` rows, re-timed to 100 receipts/s
    so that event time follows the replay schedule. Their truth: each valid
    tx's hash and the file of its first receipt."""

    def build(d: str) -> dict:
        rng = random.Random(f"merge-{seed}")
        day0 = (1_690_000_000_000 // 86_400_000 + rng.randrange(300)) * 86_400_000
        tx_rows: list[tuple[int, str, str]] = []
        sl_rows: list[tuple[int, str, str]] = []
        expected: dict[str, dict] = {}
        blacklist: list[str] = []
        receipts = [MERGE_RECEIPTS[i % len(MERGE_RECEIPTS)] for i in range(MERGE_TXS)]
        feed: list[tuple[int, str, str, str]] = []  # (ts, hash, raw, source)
        rng.shuffle(receipts)
        for i, ((raw, h), n_src) in enumerate(zip(_signed_txs(rng, MERGE_TXS), receipts)):
            first = day0 + rng.randrange(86_400_000 - 60_000)
            srcs = rng.sample(SOURCES, n_src)
            seen = sorted(first + (0 if j == 0 else rng.randrange(1, 30_000))
                          for j in range(n_src))
            for ts, src in zip(seen, srcs):
                tx_rows.append((ts, h, raw))
                sl_rows.append((ts, h, src))
                feed.append((ts, h, raw, src))
            if i < MERGE_BLACKLISTED:  # the tx order is already seeded
                blacklist.append(h)
            else:
                expected[h] = {"ts": first, "sources": srcs}
        for _ in range(MERGE_NO_CHAINID):
            raw = _no_chainid_tx(rng)
            ts, h = day0 + rng.randrange(86_400_000 - 60_000), tx_hash(raw)
            tx_rows.append((ts, h, raw))
            feed.append((ts, h, raw, rng.choice(SOURCES)))
        for _ in range(MERGE_UNDECODABLE):
            h, raw = _undecodable(rng)
            ts = day0 + rng.randrange(86_400_000 - 60_000)
            tx_rows.append((ts, h, raw))
            feed.append((ts, h, raw, rng.choice(SOURCES)))
        os.makedirs(f"{d}/txs")
        os.makedirs(f"{d}/sourcelog")
        for rows, sub in ((tx_rows, "txs"), (sl_rows, "sourcelog")):
            by_hour: dict[int, list[str]] = {}
            for ts, h, x in rows:
                by_hour.setdefault((ts - day0) // 3_600_000, []).append(f"{ts},{h},{x}\n")
            for hour, lines in sorted(by_hour.items()):
                rng.shuffle(lines)
                if sub == "txs" and hour < MERGE_MALFORMED:
                    lines.append("malformed line\n")
                with open(f"{d}/{sub}/{sub}-{hour:02d}.csv", "w") as f:
                    f.writelines(lines)
        with open(f"{d}/blacklist.csv", "w") as f:
            f.writelines(f"{day0 - 1000},{h}\n" for h in blacklist)
        per_source = {s: 0 for s in SOURCES}
        for e in expected.values():
            for s in e["sources"]:
                per_source[s] += 1
        return {
            "input_txs": MERGE_TXS,
            "expected": expected,
            "per_source": per_source,
            "stream": _stream_files(f"{d}/stream", feed, day0, set(expected) | set(blacklist)),
        }

    return _cached(work, f"merge_day-{seed}", build)


def _stream_files(d: str, feed: list, t0_ms: int, valid: set) -> dict:
    """Write the collector's landing files; return, per valid tx in them,
    the index of the file holding its first receipt."""
    import datetime as dt

    os.makedirs(d)
    n_files = STREAM_OPEN_FILES + STREAM_BACKLOG_FILES
    rows = sorted(feed)[: n_files * STREAM_FILE_ROWS]
    first_file: dict[str, int] = {}
    for i in range(n_files):
        lines = []
        for k in range(i * STREAM_FILE_ROWS, (i + 1) * STREAM_FILE_ROWS):
            _, h, raw, src = rows[k]
            t = dt.datetime.fromtimestamp((t0_ms + 10 * k) / 1000, dt.timezone.utc)
            lines.append(f"{t:%Y-%m-%d %H:%M:%S.%f},{raw},{src}\n")
            if h in valid:
                first_file.setdefault(h, i)
        with open(f"{d}/f{i:03d}.csv", "w") as f:
            f.writelines(lines)
    return {"files": n_files, "open_files": STREAM_OPEN_FILES, "first_file": first_file}


# --------------------------------------------------------------------------
# catalog_queries
# --------------------------------------------------------------------------

_WORDS = (
    "spark line small fast group customer batch sort value hash filter big "
    "data dup query row stream the part column order scan a slow agg key "
    "window table merge vector join"
).split()


def catalog_inputs(work: str, seed: int) -> tuple[str, dict]:
    """The ten registry tables in the reference testdata schema, at
    CATALOG_SCALE × the sf0.1 row counts: TPC-H-like dims and facts, an
    events stream, a documents corpus with exact and near duplicates, and
    labelled 64-d embeddings."""

    def build(d: str) -> dict:
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        g = np.random.default_rng(seed)
        k = CATALOG_SCALE
        n_cust, n_supp, n_part = int(15000 * k), int(1000 * k), int(20000 * k)
        n_ord, n_line, n_ev = int(150000 * k), int(600000 * k), int(100000 * k)
        n_doc, n_emb = int(5000 * k), int(2000 * k)

        def ts(base: str, days: np.ndarray) -> pa.Array:
            return pa.array(np.datetime64(base, "us") + days.astype("timedelta64[D]"))

        def money(lo: float, hi: float, n: int) -> np.ndarray:
            return np.round(g.uniform(lo, hi, n), 2)

        def write(name: str, cols: dict) -> None:
            pq.write_table(pa.table(cols), f"{d}/{name}.parquet")

        regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
        write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": regions})
        write("nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
        segs = np.array(["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"])
        write("customer", {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999, 9999, n_cust),
            "c_mktsegment": segs[g.integers(0, 5, n_cust)],
        })
        write("supplier", {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999, 9999, n_supp),
        })
        adj = np.array(["small", "red", "blue", "green", "large", "shiny", "old", "new"])
        noun = np.array(["ring", "widget", "bolt", "gear", "pipe", "nut", "valve", "disc"])
        types = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
        write("part", {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj[g.integers(0, 8, n_part)], " "),
                                  noun[g.integers(0, 8, n_part)]),
            "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
            "p_type": types[g.integers(0, 6, n_part)],
            "p_size": g.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n_part) * 0.1 % 1100, 2),
        })
        prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
        write("orders", {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": g.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["F", "O", "P"])[g.integers(0, 3, n_ord)],
            "o_totalprice": money(1000, 500000, n_ord),
            "o_orderdate": ts("1995-01-01", g.integers(0, 2404, n_ord)),
            "o_orderpriority": prio[g.integers(0, 5, n_ord)],
        })
        qty = g.integers(1, 51, n_line).astype(np.float64)
        write("lineitem", {
            "l_orderkey": g.integers(0, n_ord, n_line),
            "l_partkey": g.integers(0, n_part, n_line),
            "l_suppkey": g.integers(0, n_supp, n_line),
            "l_linenumber": g.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * g.uniform(900, 2000, n_line), 2),
            "l_discount": g.integers(0, 11, n_line) / 100.0,
            "l_tax": g.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_line)],
            "l_shipdate": ts("1995-01-02", g.integers(0, 2498, n_line)),
        })
        ev_t = np.sort(g.integers(0, 30 * 86_400_000_000, n_ev))
        write("events", {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_t.astype("timedelta64[us]")),
            "user_id": g.integers(0, int(1500 * max(k, 0.1)), n_ev),
            "event_type": np.array(["signup", "click", "error", "view", "purchase"])[
                g.integers(0, 5, n_ev)],
            "value": np.round(g.exponential(50, n_ev), 2),
            "props": [f'{{"k": {v}}}' for v in g.integers(0, 100, n_ev)],
        })
        texts = []
        for i in range(n_doc):
            if i % 50 == 49:  # exact duplicate of an earlier doc
                texts.append(texts[int(g.integers(0, i))])
            elif i % 16 == 15:  # near duplicate: a few words replaced
                words = texts[int(g.integers(0, i))].split()
                for j in g.integers(0, len(words), max(1, len(words) // 12)):
                    words[j] = _WORDS[int(g.integers(0, len(_WORDS)))]
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(np.array(_WORDS)[g.integers(0, len(_WORDS),
                                                                    int(g.integers(8, 96)))]))
        write("documents", {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "en", "en", "de", "fr"])[g.integers(0, 5, n_doc)],
            "source": np.char.add("src", g.integers(0, 20, n_doc).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        })
        labels = g.integers(0, 10, n_emb)
        centers = g.normal(0, 1, (10, 64))
        vecs = centers[labels] + g.normal(0, 1.5, (n_emb, 64))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        write("embeddings", {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        })
        return {"scale_vs_sf0_1": k}

    return _cached(work, f"catalog_queries-{seed}", build)
