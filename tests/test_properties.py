"""Property-based tests (hypothesis) for the from-scratch codec/crypto layer
— the components where a single wrong byte silently corrupts downstream
analytics. Mirrors the reference's table-driven tests (SURVEY.md §5.1) but
explores the input space instead of fixed vectors."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from mempool_dumpster_spark.functions import rlp_codec as rlp
from mempool_dumpster_spark.functions.keccak import keccak256_pure

rlp_items = st.recursive(
    st.binary(max_size=80),
    lambda children: st.lists(children, max_size=6),
    max_leaves=12,
)


@given(rlp_items)
@settings(max_examples=200, deadline=None)
def test_rlp_roundtrip_property(item):
    assert rlp.decode(rlp.encode(item)) == item


@given(st.binary(max_size=300))
@settings(max_examples=100, deadline=None)
def test_rlp_decode_never_hangs_or_miscrashes(data):
    """decode either returns an item that re-encodes canonically or raises
    RLPError — no other exception, no acceptance of trailing garbage."""
    try:
        item = rlp.decode(data)
    except rlp.RLPError:
        return
    # strict decoding ⇒ the input WAS the canonical encoding
    assert rlp.encode(item) == data


@given(st.binary(max_size=400))
@settings(max_examples=60, deadline=None)
def test_keccak_unrolled_matches_loop_reference(data):
    """The codegen'd unrolled permutation must match the straightforward
    loop implementation for arbitrary input (incl. multi-block absorb)."""
    from mempool_dumpster_spark.functions import keccak as K

    # loop reference, built from the module's own round primitives
    rate = 136
    state = [0] * 25
    padded = bytearray(data)
    pad_len = rate - (len(padded) % rate)
    padded += (
        b"\x01" + b"\x00" * (pad_len - 2) + b"\x80" if pad_len >= 2 else b"\x81"
    )
    for start in range(0, len(padded), rate):
        block = padded[start : start + rate]
        for i in range(rate // 8):
            state[i] ^= int.from_bytes(block[8 * i : 8 * i + 8], "little")
        K._keccak_f(state)
    expect = b"".join(state[i].to_bytes(8, "little") for i in range(4))
    assert keccak256_pure(bytes(data)) == expect


@given(st.integers(min_value=1), st.integers(min_value=1))
@settings(max_examples=100, deadline=None)
def test_secp256k1_mul_consistency(k1, k2):
    """Fixed-base comb and wNAF agree with the plain ladder for arbitrary
    scalars (mod N), and scalar addition is homomorphic."""
    from mempool_dumpster_spark.functions.secp256k1 import (
        GX,
        GY,
        N,
        _jadd,
        _jmul,
        _mul_g,
        _to_affine,
    )

    from mempool_dumpster_spark.functions.secp256k1 import (
        _glv_decompose,
        _jmul_glv,
        _LAMBDA,
    )

    k1 %= N
    k2 %= N
    if k1 == 0 or k2 == 0 or (k1 + k2) % N == 0:
        return
    g = (GX, GY, 1)
    assert _to_affine(_mul_g(k1)) == _to_affine(_jmul(g, k1))
    lhs = _to_affine(_jadd(_mul_g(k1), _mul_g(k2)))
    rhs = _to_affine(_mul_g((k1 + k2) % N))
    assert lhs == rhs
    # GLV: decomposition identity, short scalars, and multiply agreement
    a, b = _glv_decompose(k1)
    assert (a + b * _LAMBDA - k1) % N == 0
    assert abs(a).bit_length() <= 130 and abs(b).bit_length() <= 130
    assert _to_affine(_jmul_glv(g, k1)) == _to_affine(_jmul(g, k1))


@given(st.lists(st.integers(min_value=0, max_value=2**256 - 1), min_size=1, max_size=8))
@settings(max_examples=60, deadline=None)
def test_uint256_chunk_combine_roundtrip(vals):
    """Driver-side chunk recombination is exact for arbitrary uint256s."""
    from mempool_dumpster_spark.functions.uint256 import (
        CHUNK_DIGITS,
        N_CHUNKS,
        _combine,
    )

    total = sum(vals)
    # emulate the chunked sum: per-chunk decimal sums of the padded strings
    pad = N_CHUNKS * CHUNK_DIGITS
    sums = [0] * N_CHUNKS
    for v in vals:
        s = str(v).rjust(pad, "0")
        for i in range(N_CHUNKS):
            sums[i] += int(s[i * CHUNK_DIGITS : (i + 1) * CHUNK_DIGITS])
    row = {f"c{i}": sums[i] for i in range(N_CHUNKS)}
    assert _combine(row) == total


# --- determinism contracts: splits / mixing / PII redaction -----------------
# The whole point of content-addressing (ml/splits.py) is that a row's
# split / mixture membership is a pure function of its id — independent of
# partition layout, union order, or run count. These properties are the
# contract the docstrings promise; hypothesis explores id shapes (unicode,
# empty-adjacent, numeric-looking) that fixed examples miss.

_doc_ids = st.lists(
    st.text(
        alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FFF),
        min_size=1,
        max_size=24,
    ),
    min_size=1,
    max_size=30,
    unique=True,
)


@given(ids=_doc_ids, nparts=st.integers(min_value=1, max_value=7), seed=st.randoms())
@settings(max_examples=10, deadline=None)
def test_assign_split_stable_under_permutation(spark, ids, nparts, seed):
    """assign_split: same label per id regardless of row order, partition
    count, or union composition order (content-addressed contract)."""
    from mempool_dumpster_spark.ml.splits import assign_split

    df = spark.createDataFrame([(i,) for i in ids], "doc_id string")
    base = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}

    shuffled = list(ids)
    seed.shuffle(shuffled)
    cut = len(shuffled) // 2
    a = spark.createDataFrame([(i,) for i in shuffled[:cut]] or [("‾",)], "doc_id string")
    b = spark.createDataFrame([(i,) for i in shuffled[cut:]] or [("‾",)], "doc_id string")
    permuted = b.union(a).repartition(nparts)
    again = {r["doc_id"]: r["split"] for r in assign_split(permuted).collect()}
    for i in ids:
        assert again.get(i, base[i]) == base[i]
    assert set(base.values()) <= {"train", "val", "test"}


@given(
    rows=st.lists(
        st.tuples(
            st.text(min_size=1, max_size=16),
            st.sampled_from(["web", "wiki", "code", None]),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[0],
    ),
    rate=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    nparts=st.integers(min_value=1, max_value=7),
)
@settings(max_examples=10, deadline=None)
def test_mix_corpus_stable_subset_and_rate_bounds(spark, rows, rate, nparts):
    """mix_corpus: kept set is identical under repartition; rate 1.0 keeps
    everything, 0.0 keeps nothing; partial rates keep a subset."""
    from mempool_dumpster_spark.ml.packing import mix_corpus

    df = spark.createDataFrame(rows, "doc_id string, source string")
    rates = {"web": rate, "wiki": 1.0}
    kept = {r["doc_id"] for r in mix_corpus(df, rates).collect()}
    kept2 = {
        r["doc_id"] for r in mix_corpus(df.repartition(nparts), rates).collect()
    }
    assert kept == kept2
    all_ids = {t[0] for t in rows}
    assert kept <= all_ids
    assert {t[0] for t in rows if t[1] == "wiki"} <= kept
    assert not {
        r["doc_id"] for r in mix_corpus(df, {"web": 0.0, "wiki": 0.0, "code": 0.0},
                                        default_rate=0.0).collect()
    }
    assert {
        r["doc_id"] for r in mix_corpus(df, {}, default_rate=1.0).collect()
    } == all_ids


_pii_fragments = st.lists(
    st.one_of(
        st.sampled_from(
            [
                "alice.b+spam@ex-ample.org",
                "0xDEADbeef00112233445566778899aabb",
                "10.0.255.7",
                "+44 20 7946 0958",
                "(415) 555-2671",
                "415-555-2671",
                "released in 2024 2025 2026",
                "costs 1 000 000.00 total",
                "order #123456789",
            ]
        ),
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",), max_codepoint=0x2FF),
            max_size=20,
        ),
    ),
    min_size=1,
    max_size=8,
)


@given(frags=st.lists(_pii_fragments, min_size=1, max_size=6))
@settings(max_examples=10, deadline=None)
def test_redact_pii_counts_equal_placeholders(spark, frags):
    """redact_pii contract: for every kind, n_<kind> == number of [<KIND>]
    placeholders in the redacted text — under adversarial interleavings of
    PII shapes and benign numeric prose (pattern-order attack strings)."""
    from mempool_dumpster_spark.ml.text import PII_PATTERNS, redact_pii

    docs = [(i, " ".join(parts)) for i, parts in enumerate(frags)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for r in redact_pii(df).collect():
        red = r["text_redacted"]
        for kind in PII_PATTERNS:
            assert r[f"n_{kind}"] == red.count(f"[{kind.upper()}]"), (
                kind,
                r["text"],
                red,
            )


@given(
    n_tokens=st.integers(min_value=1, max_value=400),
    max_tokens=st.integers(min_value=2, max_value=64),
    overlap_frac=st.floats(min_value=0.0, max_value=0.9),
)
@settings(max_examples=10, deadline=None)
def test_chunk_documents_reconstruction(spark, n_tokens, max_tokens, overlap_frac):
    """chunk_documents invariants for arbitrary (doc length, budget,
    overlap): every chunk fits the budget, chunk 0 starts at token 0,
    consecutive chunks overlap by exactly `overlap` (except a short tail),
    and dropping each chunk's first `overlap` tokens (after chunk 0)
    reconstructs the document exactly — no token lost or duplicated."""
    from mempool_dumpster_spark.ml.text import chunk_documents

    overlap = min(int(max_tokens * overlap_frac), max_tokens - 1)
    toks = [f"t{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    rows = sorted(
        chunk_documents(df, max_tokens=max_tokens, overlap=overlap).collect(),
        key=lambda r: r["chunk_id"],
    )
    stride = max_tokens - overlap
    rebuilt: list[str] = []
    for i, r in enumerate(rows):
        chunk = r["chunk_text"].split(" ")
        assert len(chunk) <= max_tokens
        assert len(chunk) == r["n_chunk_tokens"]
        assert chunk[0] == toks[i * stride]
        rebuilt.extend(chunk if i == 0 else chunk[overlap:])
    assert rebuilt == toks


@given(
    pts=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=15),
    ivs=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=10,
    ),
    width=st.integers(min_value=1, max_value=12),
)
@settings(max_examples=10, deadline=None)
def test_range_join_matches_bruteforce(spark, pts, ivs, width):
    """range_join ≡ the brute-force point-in-interval product for arbitrary
    points, intervals (inclusive bounds), and bucket widths — inner pair
    set exact, left output keeps every point exactly max(1, matches)
    times."""
    from mempool_dumpster_spark.operators.range_join import range_join

    p = spark.createDataFrame(
        [(i, x) for i, x in enumerate(pts)], "pid long, x long"
    )
    iv = spark.createDataFrame(
        [(j, lo, lo + w) for j, (lo, w) in enumerate(ivs)],
        "iid long, lo long, hi long",
    )
    expect = {
        (i, j)
        for i, x in enumerate(pts)
        for j, (lo, w) in enumerate(ivs)
        if lo <= x <= lo + w
    }
    inner = {
        (r["pid"], r["iid"])
        for r in range_join(p, iv, "x", "lo", "hi", bucket_width=width).collect()
    }
    assert inner == expect
    left = range_join(
        p, iv, "x", "lo", "hi", bucket_width=width, how="left"
    ).collect()
    per_point = {}
    for r in left:
        per_point[r["pid"]] = per_point.get(r["pid"], 0) + 1
        if r["iid"] is None:
            assert (r["pid"] not in {i for i, _ in expect})
    for i in range(len(pts)):
        matches = sum(1 for a, _ in expect if a == i)
        assert per_point[i] == max(1, matches)


@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1, max_size=12,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100)),
        min_size=1, max_size=12,
    ),
    direction=st.sampled_from(["backward", "forward", "nearest"]),
)
@settings(max_examples=12, deadline=None)
def test_asof_join_matches_bruteforce(spark, lefts, rights, direction):
    """asof_join ≡ the brute-force nearest-match scan in all three
    directions, with the greatest-tiebreak contract at equal (key, ts) and
    backward-preferred nearest ties (pandas semantics)."""
    from mempool_dumpster_spark.operators.asof import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(lefts)],
        "lid long, k long, ts long",
    )
    rdf = spark.createDataFrame(
        [(j, k, t) for j, (k, t) in enumerate(rights)],
        "rid long, k long, ts long",
    )

    def brute(k, t):
        back = [(rt, j) for j, (rk, rt) in enumerate(rights) if rk == k and rt <= t]
        fwd = [(rt, j) for j, (rk, rt) in enumerate(rights) if rk == k and rt >= t]
        # backward: max ts, greatest rid tiebreak; forward: min ts, greatest rid
        b = max(back, key=lambda p: (p[0], p[1])) if back else None
        f = min(fwd, key=lambda p: (p[0], -p[1])) if fwd else None
        if direction == "backward":
            return b and b[1]
        if direction == "forward":
            return f and f[1]
        if b is None or f is None:
            pick = b or f
            return pick and pick[1]
        return b[1] if (t - b[0]) <= (f[0] - t) else f[1]

    out = {
        r["lid"]: r["rid_right"]
        for r in asof_join(
            ldf, rdf, on=["k"], right_cols=["rid"],
            right_tiebreak="rid", direction=direction,
        ).collect()
    }
    for i, (k, t) in enumerate(lefts):
        assert out[i] == brute(k, t), (direction, i, k, t, out[i], brute(k, t))


@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=25), min_size=1, max_size=300
    ),
    k=st.integers(min_value=1, max_value=5),
    nparts=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None)
def test_two_pass_topk_properties(spark, keys, k, nparts):
    """two_pass_topk: (1) with capacity >= distinct keys it equals the
    exact groupBy top-k under any partitioning; (2) even with a tiny
    capacity, every emitted count is the TRUE frequency of that key
    (pass 2 recounts from raw data) and the output is count-desc sorted."""
    from collections import Counter

    from mempool_dumpster_spark.operators.skew import two_pass_topk

    df = spark.createDataFrame([(x,) for x in keys], ["key"]).repartition(nparts)
    truth = Counter(keys)
    expect = sorted(truth.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    got = [(r["key"], r["n"]) for r in two_pass_topk(df, "key", k=k, capacity=64).collect()]
    assert got == expect

    tiny = [(r["key"], r["n"]) for r in two_pass_topk(df, "key", k=k, capacity=k).collect()]
    assert all(truth[key] == n for key, n in tiny)
    assert [n for _, n in tiny] == sorted((n for _, n in tiny), reverse=True)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(max_codepoint=0x24F, blacklist_categories=("Cs",)),
            max_size=60,
        ),
        min_size=1,
        max_size=5,
    ),
    n_merges=st.integers(min_value=0, max_value=6),
)
@settings(max_examples=8, deadline=None)
def test_bpe_encode_always_reconstructs(spark, texts, n_merges):
    """BPE invariant: for ANY corpus and any number of learned merges,
    concatenating a document's encoded subwords reconstructs the original
    text byte-for-byte (the pre-tokenizer partitions the string; merges
    only ever concatenate adjacent symbols)."""
    from mempool_dumpster_spark.ml.text import bpe_encode, bpe_learn

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    merges = bpe_learn(df, n_merges=n_merges, checkpoint_every=3)
    rows = {r["doc_id"]: r for r in bpe_encode(df, merges).collect()}
    for i, t in enumerate(texts):
        assert "".join(rows[i]["bpe_tokens"]) == t


@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=0, max_size=40),
        min_size=1,
        max_size=6,
    ),
)
@settings(max_examples=8, deadline=None)
def test_repetition_and_boilerplate_invariants(spark, texts):
    """repetition_stats: 0 <= n_distinct <= n_grams, dup_frac ==
    (n_grams - n_distinct)/n_grams (0.0 when empty), and values match a
    direct python recount. boilerplate_ngrams: every count is between
    min_docs and the number of documents, and equals the true
    distinct-document frequency."""
    from collections import Counter

    from mempool_dumpster_spark.ml.text import (
        boilerplate_ngrams,
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def grams(t, n):
        ws = t.split(" ")
        return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

    rows = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    for i, t in enumerate(texts):
        g = grams(t, 2)
        r = rows[i]
        assert (r["n_grams"], r["n_distinct"]) == (len(g), len(set(g)))
        expect = (len(g) - len(set(g))) / len(g) if g else 0.0
        assert abs(r["dup_frac"] - expect) < 1e-12

    truth = Counter()
    for t in texts:
        for g in set(grams(t, 3)):
            truth[g] += 1
    got = {
        r["shingle"]: r["n_docs"]
        for r in boilerplate_ngrams(df, n=3, min_docs=2).collect()
    }
    assert got == {g: c for g, c in truth.items() if c >= 2}


@given(
    tokens=st.lists(
        st.integers(min_value=1, max_value=50), min_size=1, max_size=12
    ),
    budget=st.integers(min_value=0, max_value=200),
    nparts=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=10, deadline=None)
def test_budget_fill_inclusive_boundary_property(spark, tokens, budget, nparts):
    """budget_fill contract: the kept set is exactly the longest PREFIX of
    the priority order whose inclusive cumulative token sum is <= budget —
    a document straddling the boundary is excluded ENTIRELY (never
    partially), everything after it too, and a document landing exactly ON
    the budget is kept (inclusive <=). Partitioning never changes the
    answer."""
    from mempool_dumpster_spark.ml.packing import budget_fill

    rows = [
        (f"d{i:03d}", "s", t, float(len(tokens) - i))
        for i, t in enumerate(tokens)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, source string, n_tokens long, quality double"
    ).repartition(nparts)
    kept = {
        r["doc_id"]: r["n_tokens"]
        for r in budget_fill(df, {"s": budget}, order_col="quality").collect()
    }
    expected, cum = {}, 0
    for i, t in enumerate(tokens):
        cum += t
        if cum > budget:
            break
        expected[f"d{i:03d}"] = t
    assert kept == expected  # prefix semantics, whole documents only
    assert sum(kept.values()) <= budget


def test_budget_fill_exact_boundary_kept(spark):
    """The inclusive edge pinned explicitly: cum == budget keeps the doc;
    one token over drops it (and the straddler contributes nothing)."""
    from mempool_dumpster_spark.ml.packing import budget_fill

    df = spark.createDataFrame(
        [("a", "s", 3, 2.0), ("b", "s", 7, 1.0), ("c", "s", 1, 0.5)],
        "doc_id string, source string, n_tokens long, quality double",
    )
    kept = {
        r["doc_id"]
        for r in budget_fill(df, {"s": 10}, order_col="quality").collect()
    }
    assert kept == {"a", "b"}  # 3 + 7 == 10: exactly on budget, both kept
    kept9 = {
        r["doc_id"]
        for r in budget_fill(df, {"s": 9}, order_col="quality").collect()
    }
    assert kept9 == {"a"}  # b straddles: excluded entirely, c after it too


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=10, deadline=None)
def test_dup_span_coverage_matches_bruteforce(spark, docs):
    """docs_dup_span_coverage semantics vs a direct Python reference on
    random tiny-vocab corpora (tiny vocab => shared 5-grams are common):
    per doc, the covered-position set must equal the union of [s, s+4]
    over every 5-gram start whose gram occurs in >= 2 distinct docs, and
    the span count must equal the number of such starts."""
    from mempool_dumpster_spark.plans.text_queries import (
        _covered_positions,
        _dup_spans,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    sdf = spark.createDataFrame(rows, ["doc_id", "text"])
    _w, spans = _dup_spans(sdf)
    got_spans = {(r["doc_id"], r["start_pos"]) for r in spans.collect()}
    got_cov = {
        (r["doc_id"], r["p"]) for r in _covered_positions(spans).collect()
    }

    # brute force. NB split(' ') on an empty text yields [''] — one empty
    # word — matching Spark's split semantics on the same string.
    texts = [t.split(" ") for _i, t in rows]
    from collections import defaultdict

    gram_docs = defaultdict(set)
    for i, ws in enumerate(texts):
        for s in range(len(ws) - 4):
            gram_docs[tuple(ws[s : s + 5])].add(i)
    want_spans = set()
    want_cov = set()
    for i, ws in enumerate(texts):
        for s in range(len(ws) - 4):
            if len(gram_docs[tuple(ws[s : s + 5])]) >= 2:
                want_spans.add((i, s + 1))
                want_cov.update((i, p) for p in range(s + 1, s + 6))
    assert got_spans == want_spans
    assert got_cov == want_cov


@given(
    vecs=st.lists(
        st.lists(st.integers(min_value=1, max_value=9), min_size=3, max_size=3),
        min_size=4,
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None)
def test_mmr_unrolled_equals_sequential_greedy(spark, vecs, tmp_path_factory):
    """emb_mmr_topk's three greedy picks must equal the
    SEQUENTIAL greedy MMR algorithm (pick argmax of 7*s_bp - 3*max ps_bp
    over picked, k=3, pool=10, id tiebreak) run in plain Python over the
    same rounded similarities — on random small integer embeddings
    (nonzero norms by construction). Guards the fold itself, not just
    the planted-geometry case."""
    import math
    import os

    from mempool_dumpster_spark.plans.ml_queries import emb_mmr_topk

    rows = [
        (i, [float(x) for x in v], 0) for i, v in enumerate(vecs)
    ]
    td = str(tmp_path_factory.mktemp("mmr"))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    ).write.parquet(os.path.join(td, "embeddings.parquet"))
    got = {
        (r["query_id"], r["pick"], r["neighbor_id"], r["score_bp"])
        for r in emb_mmr_topk(spark, td).collect()
    }

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    units = {i: unit(v) for i, (_, v, _) in zip(range(len(rows)), rows)}

    def sim_bp(a, b):
        s = round(sum(x * y for x, y in zip(units[a], units[b])), 4)
        return int(round(s * 10000))

    def greedy(k):
        want = set()
        for qid in range(min(5, len(rows))):
            cands = [i for i in units if i != qid]
            pool = sorted(cands, key=lambda i: (-sim_bp(qid, i), i))[:10]
            picked = []
            for pick_no in range(1, min(k, len(pool)) + 1):
                best = None
                for i in pool:
                    if i in picked:
                        continue
                    pen = max((sim_bp(i, p) for p in picked), default=0)
                    score = 7 * sim_bp(qid, i) - 3 * (pen if picked else 0)
                    key = (-score, i)
                    if best is None or key < best[0]:
                        best = (key, i, score)
                picked.append(best[1])
                want.add((qid, pick_no, best[1], best[2]))
        return want

    assert got == greedy(3)

    # k-parametric form: mmr_rerank's fold must match sequential greedy
    # well past the registered k=3 — k=12 exceeds the 10-candidate pool,
    # exercising the pool-exhaustion edge too
    from mempool_dumpster_spark.ml.similarity import (
        dot,
        mmr_rerank,
        with_unit_vector,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(td, "embeddings.parquet"))
    u = with_unit_vector(emb).select("vec_id", "unit")
    q = u.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("q_unit")
    )
    sims = (
        u.select(F.col("vec_id").alias("neighbor_id"), "unit")
        .crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "neighbor_id", "unit",
            F.round(dot(F.col("q_unit"), F.col("unit")), 4).alias("sim_r"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("sim_r").desc(), "neighbor_id")
    pool = (
        sims.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= 10)
        .select(
            "query_id", "neighbor_id",
            F.round(F.col("sim_r") * 10000).cast("bigint").alias("s_bp"), "unit",
        )
    )
    for k in (1, 3, 8, 12):
        got_k = {
            (r["query_id"], r["pick"], r["neighbor_id"], r["score_bp"])
            for r in mmr_rerank(pool, k=k).collect()
        }
        assert got_k == greedy(k), f"k={k}"


@given(
    st.integers(min_value=1, max_value=6),   # n_cells (pre-duplication)
    st.integers(min_value=1, max_value=4),   # dim
    st.integers(min_value=1, max_value=8),   # n vectors
    st.integers(min_value=0, max_value=10_000),  # value seed
)
@settings(max_examples=60, deadline=None)
def test_probe_cells_np_matches_udf(spark, n_cells, dim, n_vecs, seed):
    # `spark` (session-scoped) is needed only because pandas_udf parses
    # its return-type DDL through the active context; no job runs here.
    """The driver-side query prober (`_probe_cells_np`, used by
    ivfpq_topk_pretrained) must match the Arrow UDF prober
    (`_probe_cells_udf`, used by the index WRITE path) bit-for-bit,
    including exact-dot ties — a tie-break divergence would silently
    probe the wrong cells and degrade pretrained recall with no error.
    Centroid list deliberately contains an exact duplicate (a guaranteed
    tie) and low-precision values (likely further ties)."""
    import numpy as np
    import pandas as pd

    from mempool_dumpster_spark.ml.similarity import (
        _probe_cells_np,
        _probe_cells_udf,
    )

    # deterministic low-entropy data: quarter-step grid values force dot
    # collisions; duplicated first centroid forces at least one exact tie
    def val(i):
        return ((seed + i * 7) % 5 - 2) / 4.0

    centroids = [
        [val(c * dim + d) for d in range(dim)] for c in range(n_cells)
    ]
    centroids.append(list(centroids[0]))  # exact duplicate
    vecs = np.array(
        [[val(99 + v * dim + d) for d in range(dim)] for v in range(n_vecs)]
    )
    for top in (1, 2, len(centroids)):
        got_np = _probe_cells_np(vecs, centroids, top)
        got_udf = np.vstack(
            _probe_cells_udf(centroids, top)
            .func(pd.Series(list(vecs)))
            .to_numpy()
        )
        assert (got_np == got_udf).all(), (
            f"probe divergence at top={top}:\nnp  {got_np}\nudf {got_udf}"
        )


def test_mmr_rerank_rejects_fractional_weights(spark):
    """mmr_rerank's exact-BIGINT score contract requires integer weights;
    fractional callers must get a ValueError, not silent truncation to
    0/0 (r16 advice: 0.7/0.3 previously became 0/0 and every pick fell
    through to the neighbor_id tiebreak with no error)."""
    import pytest

    from mempool_dumpster_spark.ml.similarity import mmr_rerank

    pool = spark.createDataFrame(
        [(1, 2, 9000, [1.0, 0.0]), (1, 3, 8000, [0.5, 0.75**0.5])],
        "query_id long, neighbor_id long, s_bp long, unit array<double>",
    )
    with pytest.raises(ValueError, match="relevance_weight"):
        mmr_rerank(pool, k=1, relevance_weight=0.7, diversity_weight=3)
    with pytest.raises(ValueError, match="diversity_weight"):
        mmr_rerank(pool, k=1, relevance_weight=7, diversity_weight=0.3)
    # float-typed but integral weights stay accepted (7.0 == 7)
    rows = mmr_rerank(
        pool, k=1, relevance_weight=7.0, diversity_weight=3.0
    ).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in rows} == {(1, 2)}


def test_mmr_rerank_plan_size_is_independent_of_k(spark):
    """Greedy MMR is one per-query fold: picking 12 builds the same joins
    and aggregates as picking 3 (an unrolled form adds joins per pick)."""
    import re

    from mempool_dumpster_spark.ml.similarity import mmr_rerank

    pool = spark.createDataFrame(
        [(1, 2, 9000, [1.0, 0.0]), (1, 3, 8000, [0.5, 0.75**0.5]),
         (2, 1, 7000, [0.0, 1.0])],
        "query_id long, neighbor_id long, s_bp long, unit array<double>",
    )

    def node_counts(k):
        plan = mmr_rerank(pool, k=k)._jdf.queryExecution().optimizedPlan()
        names = re.findall(r"^[\s:+|-]*(\w+)", plan.toString(), re.M)
        return names.count("Join"), names.count("Aggregate")

    assert node_counts(3) == node_counts(12)
    assert node_counts(3)[1] == 1
