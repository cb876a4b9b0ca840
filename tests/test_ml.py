"""ML/training-data operator tests: dedup tiers (exact, minhash-LSH, simhash,
jaccard, components), similarity search (exact vs LSH recall), text analysis,
multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mempool_dumpster_spark.ml.dedup import (
    duplicate_components,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shingle_sets,
    simhash,
    simhash_near_pairs,
)
from mempool_dumpster_spark.ml.multimodal import decode_images, frame_sample_plan
from mempool_dumpster_spark.ml.similarity import (
    cosine_topk,
    ivf_topk,
    lsh_bucketed_topk,
    train_ivf_centroids,
)
from mempool_dumpster_spark.ml.text import language_id, quality_features, quality_score


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near-dup of 0
        (3, "completely different text about spark query engines and shuffles ok"),
        (4, "der hund und die katze sind nicht das problem und der rest ist gut"),
        (5, "el perro y el gato es una historia y los dos son una familia"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    kept = exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    assert 0 in ids and 1 not in ids  # smallest id survives
    assert ids == {0, 2, 3, 4, 5}


def test_soft_dedup_weights(docs):
    from mempool_dumpster_spark.ml.dedup import soft_dedup_weights

    got = {r["doc_id"]: r.asDict() for r in soft_dedup_weights(docs).collect()}
    # the exact-dup pair shares the mass; everyone else keeps full weight
    assert got[0]["multiplicity"] == 2 and got[1]["multiplicity"] == 2
    assert got[0]["weight"] == 0.5 and got[2]["weight"] == 1.0
    # per content group the weights sum to exactly 1 → total gradient mass
    # equals the deduped corpus size
    assert sum(r["weight"] for r in got.values()) == len(got) - 1
    # eff_tokens = n_tokens * weight, and near-dups are NOT discounted
    assert got[0]["eff_tokens"] == got[0]["n_tokens"] / 2
    assert got[2]["eff_tokens"] == got[2]["n_tokens"]


def test_minhash_lsh_finds_near_dups(docs):
    sh = shingle_sets(docs)
    sig = minhash_signatures(sh, n_hashes=16)
    pairs = lsh_candidate_pairs(sig, bands=8, rows_per_band=2)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # identical docs share all bands
    assert (0, 2) in got or (1, 2) in got  # near-dup caught by some band
    assert (0, 3) not in got


def test_minhash_signatures_keeps_caller_cache(spark, docs):
    """A caller's cached shingle frame is still cached after building its
    signatures: no temp view is registered over it and dropped (dropping
    a temp view uncaches its plan)."""
    sh = shingle_sets(docs).cache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    try:
        assert cache.lookupCachedData(sh._jdf).isDefined()
        minhash_signatures(sh, n_hashes=16)
        assert cache.lookupCachedData(sh._jdf).isDefined()
    finally:
        sh.unpersist()


def test_jaccard_with_candidate_pushdown(spark, docs):
    sh = shingle_sets(docs)
    cand = spark.createDataFrame([(0, 1), (0, 3)], "doc_a long, doc_b long")
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh, threshold=0.0, candidates=cand).collect()
    }
    assert out[(0, 1)] == 1.0
    assert (0, 2) not in out  # not in candidate set → never computed
    assert out.get((0, 3), 0.0) < 0.2


def test_simhash_and_near_pairs(docs):
    sig = simhash(docs)
    rows = {r["doc_id"]: r["simhash"] for r in sig.collect()}
    assert rows[0] == rows[1]  # identical docs, identical fingerprint
    pairs = simhash_near_pairs(sig, max_hamming=10)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(0, 1)] == 0


def test_simhash_near_pairs_pigeonhole_guard(spark):
    """Banding only guarantees a shared chunk when max_hamming <= chunks-1:
    an explicit violating chunks raises, and the auto-derived band count
    finds a pair whose differing bits spread across all 4 old chunks
    (which chunks=4 silently missed)."""
    # 4 differing bits, one in each 16-bit quarter of the fingerprint
    a, b = 0, (1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)
    sig = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, simhash long"
    )
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_pairs(sig, max_hamming=4, chunks=4)
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(sig, max_hamming=4).collect()
    }
    assert got == {(1, 2): 4}


def test_duplicate_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "doc_a long, doc_b long"
    )
    comp = {r["doc_id"]: r["component_id"] for r in duplicate_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[7] == comp[9] == 7


def test_duplicate_components_rejects_nonpositive_iterations(spark):
    """iterations=0 used to fall into the for/else warning with `n_changed`
    unbound (NameError); now it's rejected up front."""
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="iterations"):
        duplicate_components(pairs, iterations=0)


def test_contamination_flags_and_short_docs(spark):
    from mempool_dumpster_spark.ml.decontam import contamination

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g"),      # shares 5-grams with benchmark
            (2, "one two three four five six"),  # clean
            (3, "too short"),          # < 5 words -> 0 shingles, never flagged
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "x a b c d e f y")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in contamination(corpus, bench, n=5).collect()}
    assert out[1]["contaminated"] == 1 and out[1]["n_hits"] == 2  # abcde, bcdef
    assert out[1]["n_shingles"] == 3
    assert out[2]["contaminated"] == 0 and out[2]["n_hits"] == 0
    assert out[3]["n_shingles"] == 0 and out[3]["contaminated"] == 0


def test_contamination_report_benchmark_side(spark):
    """The inversion of `contamination`: per benchmark item, leaked-gram
    fraction and (corpus doc, gram) incidence totals."""
    from mempool_dumpster_spark.ml.decontam import contamination_report

    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f g"),   # carries abcde + bcdef
            (2, "z a b c d e"),     # carries abcde again
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (99, "x a b c d e f y"),  # 4 grams; abcde leaks 2x, bcdef 1x
            (98, "totally clean benchmark question here ok"),
            (97, "tiny"),             # < 5 words -> 0 grams
        ],
        "doc_id long, text string",
    )
    out = {
        r["bench_id"]: r
        for r in contamination_report(corpus, bench, n=5).collect()
    }
    assert out[99]["n_grams"] == 4 and out[99]["n_leaked"] == 2
    assert out[99]["leak_frac"] == 0.5
    assert out[99]["n_corpus_hits"] == 3  # abcde in docs 1+2, bcdef in doc 1
    assert out[98]["n_leaked"] == 0 and out[98]["leak_frac"] == 0.0
    assert out[97]["n_grams"] == 0 and out[97]["leak_frac"] == 0.0


def test_redact_pii(spark):
    from mempool_dumpster_spark.ml.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@example.org or call +1 (555) 123-4567"),
            (2, "server 10.0.0.1 sent tx 0xdeadbeefcafe1234 twice 0xdeadbeefcafe1234"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    r1 = out[1]["text_redacted"]
    assert "[EMAIL]" in r1 and "[PHONE]" in r1 and "example.org" not in r1
    assert out[2]["n_ipv4"] == 1 and out[2]["n_hex_id"] == 2
    assert out[2]["text_redacted"].count("[HEX_ID]") == 2
    assert out[3]["text_redacted"] == "nothing sensitive here"
    assert out[3]["n_email"] == out[3]["n_phone"] == 0

    # counts must describe the OUTPUT: a long digit run inside a hex id /
    # an email / an IPv4 is consumed by that pattern first and never
    # double-reported (or mangled) as a phone
    tricky = spark.createDataFrame(
        [
            (10, "tx 0x1234567890abcdef1234567890abcdef"),
            (11, "digits9876543210@example.com"),
            (12, "server 192.168.100.100 up"),
        ],
        "doc_id long, text string",
    )
    t = {r["doc_id"]: r for r in redact_pii(tricky).collect()}
    assert t[10]["n_hex_id"] == 1 and t[10]["n_phone"] == 0
    assert t[10]["text_redacted"] == "tx [HEX_ID]"
    assert t[11]["n_email"] == 1 and t[11]["n_phone"] == 0
    assert t[12]["n_ipv4"] == 1 and t[12]["n_phone"] == 0
    for r in t.values():
        assert "[PHONE]" not in r["text_redacted"]


def test_redact_pii_benign_numeric_prose(spark):
    """The phone pattern is structural: years, grouped amounts, spaced
    ISO dates, and plain big integers must survive redaction untouched,
    while real phone shapes (international, parenthesized, 3-3-4) are
    still caught."""
    from mempool_dumpster_spark.ml.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "annual figures for 2024 2025 2026 were flat"),
            (2, "the fund held 1 000 000.00 and paid 12 345 678 in fees"),
            (3, "between 2024-01-15 2024-01-16 and 2024-01-17"),
            (4, "population 1234567890 grew 3.5 percent"),
            (5, "call (555) 123-4567 or 555.123.4567 or +44 20 7946 0958"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    for i in (1, 2, 3, 4):
        assert out[i]["n_phone"] == 0, out[i]["text_redacted"]
        assert "[PHONE]" not in out[i]["text_redacted"]
    assert out[5]["n_phone"] == 3
    assert out[5]["text_redacted"].count("[PHONE]") == 3


def test_pretoken_count(spark):
    """BPE pre-tokenizer segment counting: punctuation and digit runs are
    separate pre-tokens (unlike the whitespace count), contractions split
    off, and plain word text degenerates to the word count."""
    from mempool_dumpster_spark.ml.text import pretoken_count, token_count

    df = spark.createDataFrame(
        [
            (1, "a b c"),            # plain words: 3 pre-tokens == 3 words
            (2, "don't"),            # contraction: don + 't
            (3, "v2.0 (beta)!"),     # v / 2 / . / 0 / ' (' / beta / ')!'
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            pretoken_count("text").alias("p"),
            token_count("text").alias("w"),
        ).collect()
    }
    assert out[1]["p"] == 3 and out[1]["w"] == 3
    assert out[2]["p"] == 2 and out[2]["w"] == 1
    assert out[3]["p"] == 7 and out[3]["w"] == 2  # punct/digits split out


def test_semantic_dedup_keep_semantics(spark):
    """Embedding near-dup pairs → components → keep-list: one keeper (min
    id) per semantic cluster, singletons kept."""
    from mempool_dumpster_spark.ml.dedup import duplicate_components
    from mempool_dumpster_spark.ml.similarity import cosine_near_pairs

    # 1 ≈ 2 ≈ 5 (same direction), 3 orthogonal, 4 alone in a third direction
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.14, 0.0, 0.0]),
        (5, [0.98, 0.2, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = cosine_near_pairs(
        emb, threshold=0.9, dim=4, n_planes=3, n_tables=48
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    comp = duplicate_components(pairs).select(
        F.col("doc_id").alias("vec_id"), "component_id"
    )
    out = {
        r["vec_id"]: (r["component_id"], r["keep"])
        for r in emb.select("vec_id")
        .join(comp, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("component_id", "vec_id").alias("component_id"),
            (F.coalesce("component_id", "vec_id") == F.col("vec_id"))
            .cast("bigint")
            .alias("keep"),
        )
        .collect()
    }
    assert out[1] == (1, 1) and out[2] == (1, 0) and out[5] == (1, 0)
    assert out[3] == (3, 1) and out[4] == (4, 1)


def test_pack_sequences_greedy_budget(spark):
    from mempool_dumpster_spark.ml.packing import pack_sequences

    docs = spark.createDataFrame(
        [
            # the straddle case a naive cumsum/bucket rule over-packs:
            # greedy must yield [500], [999], [499, 300] — never 999+499
            (1, 500), (2, 999), (3, 499), (4, 300),
            (5, 1500),  # oversize: own sequence, flagged
            (6, 100),
        ],
        "doc_id long, n_tokens long",
    )
    # n_shards=1: explicit opt-in to single-group global packing
    out = {r["doc_id"]: r for r in pack_sequences(docs, 1000, n_shards=1).collect()}
    seqs: dict[int, list[int]] = {}
    for d, r in sorted(out.items()):
        seqs.setdefault(r["seq_id"], []).append(d)
    assert list(seqs.values()) == [[1], [2], [3, 4], [5], [6]]
    assert out[5]["oversize"] == 1 and out[2]["oversize"] == 0
    # every non-oversize sequence fits the budget
    for seq_docs in seqs.values():
        total = sum(out[d]["n_tokens"] for d in seq_docs)
        assert total <= 1000 or any(out[d]["oversize"] for d in seq_docs)

    # per-partition packing: groups pack independently and in parallel
    docs2 = docs.withColumn(
        "shard", (F.col("doc_id") % 2).cast("string")
    )
    out2 = pack_sequences(docs2, 1000, partition_cols=["shard"]).collect()
    by_shard: dict[tuple, int] = {}
    for r in out2:
        by_shard[(r["shard"], r["seq_id"])] = (
            by_shard.get((r["shard"], r["seq_id"]), 0) + r["n_tokens"]
        )
    for (_, _), tot in by_shard.items():
        assert tot <= 1500  # oversize doc 5 sits alone in its shard


def test_pack_sequences_auto_shards_by_default(spark):
    """Without partition_cols the corpus must NOT funnel through one
    applyInPandas group: the default auto-shards by a content-addressed
    md5 bucket of the id, emits the shard key, and stays deterministic
    under repartitioning."""
    from mempool_dumpster_spark.ml.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, 100 + (i % 7)) for i in range(200)], "doc_id long, n_tokens long"
    )
    out = pack_sequences(docs, 1000)
    rows = out.collect()
    assert "shard" in out.columns
    shards = {r["shard"] for r in rows}
    assert len(shards) > 1, "default packing collapsed to a single group"
    assert all(0 <= s < 64 for s in shards)
    # budget holds within every (shard, seq_id) group
    totals: dict[tuple, int] = {}
    for r in rows:
        k = (r["shard"], r["seq_id"])
        totals[k] = totals.get(k, 0) + r["n_tokens"]
    assert all(t <= 1000 for t in totals.values())
    # content-addressed: same assignment under a different partition layout
    again = {
        (r["doc_id"], r["shard"], r["seq_id"])
        for r in pack_sequences(docs.repartition(13), 1000).collect()
    }
    assert again == {(r["doc_id"], r["shard"], r["seq_id"]) for r in rows}
    # a pre-existing column named `shard` must not be silently clobbered
    with pytest.raises(ValueError, match="shard"):
        pack_sequences(docs.withColumn("shard", F.lit(1)), 1000)


def test_mix_corpus_deterministic_rates(spark):
    from mempool_dumpster_spark.ml.packing import mix_corpus

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)],
        "doc_id long, source string",
    )
    kept = mix_corpus(df, {"a": 0.5, "b": 1.0})
    counts = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert counts["b"] == 1000               # rate 1.0 keeps everything
    assert 400 <= counts["a"] <= 600         # rate 0.5 within binomial bounds
    # stable: same subset on re-run and under different partitioning
    ids1 = {r["doc_id"] for r in kept.collect()}
    ids2 = {
        r["doc_id"] for r in mix_corpus(df.repartition(13), {"a": 0.5, "b": 1.0}).collect()
    }
    assert ids1 == ids2
    with pytest.raises(ValueError, match="rate"):
        mix_corpus(df, {"a": 1.5})

    # NULL source must not be silently dropped — it follows default_rate
    withnull = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "doc_id long, source string"
    )
    kept_null = mix_corpus(withnull, {"a": 1.0}, default_rate=1.0)
    assert kept_null.count() == 3


def test_assign_split_deterministic(spark):
    from mempool_dumpster_spark.ml.splits import assign_split

    df = spark.createDataFrame([(i,) for i in range(1000)], "doc_id long")
    out = {r["doc_id"]: r["split"] for r in assign_split(df).collect()}
    # stable across invocations and partitionings
    out2 = {
        r["doc_id"]: r["split"]
        for r in assign_split(df.repartition(7)).collect()
    }
    assert out == out2
    # 90/5/5 within binomial tolerance on 1000 ids
    from collections import Counter

    c = Counter(out.values())
    assert 850 <= c["train"] <= 940 and c["val"] >= 20 and c["test"] >= 20
    # doc 42 pins the cross-engine bucket math (md5 '42' -> bucket 84 -> train)
    assert out[42] == "train"

    with pytest.raises(ValueError, match="boundaries"):
        assign_split(df, boundaries={"a": 50, "b": 90})  # doesn't end at 100


@pytest.fixture(scope="module")
def vectors(spark):
    # 3 clusters around orthogonal axes in 8d + the queries themselves
    rows = []
    for i in range(30):
        axis = i % 3
        vec = [0.05 * ((i * 7 + d) % 5) for d in range(8)]
        vec[axis] += 10.0
        rows.append((i, vec))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_exact(vectors):
    out = cosine_topk(vectors, vectors.filter(F.col("vec_id") < 3), k=5)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2}
    for r in rows:
        # same-cluster neighbors dominate: cluster id = id % 3
        assert r["neighbor_id"] % 3 == r["query_id"] % 3
        assert r["sim"] > 0.9


def test_lsh_topk_recall(vectors):
    exact = cosine_topk(vectors, vectors.filter(F.col("vec_id") < 3), k=3)
    approx = lsh_bucketed_topk(
        vectors, vectors.filter(F.col("vec_id") < 3), k=3, dim=8,
        n_planes=6, n_tables=6,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 2 / 3  # deterministic given the fixed seed


def test_quality_and_langid(docs):
    q = quality_score(quality_features(docs))
    rows = {r["doc_id"]: r for r in q.collect()}
    assert 0.0 <= rows[0]["quality_score"] <= 1.0
    assert rows[0]["stopword_ratio"] > 0  # 'the' appears 3×
    lang = {r["doc_id"]: r["predicted_lang"] for r in language_id(docs).collect()}
    assert lang[0] == "en"
    assert lang[4] == "de"
    assert lang[5] == "es"


def test_multimodal_decode_stub(spark):
    media = spark.createDataFrame(
        [
            (1, b"\x00\x01\x02\x03" * 100, "image/png", {"k": "v"}),
            (2, b"", "image/png", {}),
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    feats = {r["media_id"]: r for r in decode_images(media).collect()}
    assert feats[1]["n_bytes"] == 400
    assert feats[1]["decode_ok"]
    assert feats[1]["width"] * feats[1]["height"] >= 400
    assert abs(feats[1]["byte_entropy"] - 2.0) < 1e-9  # 4 equiprobable bytes
    assert feats[2]["n_bytes"] == 0


def _png(w: int, h: int) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + w.to_bytes(4, "big") + h.to_bytes(4, "big")
        + b"\x08\x02\x00\x00\x00" + b"\x00" * 4
    )


def _jpeg(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof0 = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 9
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_multimodal_header_decode(spark):
    """Real header-derived dimensions for PNG/JPEG/GIF/BMP — no codec
    library involved; malformed-but-recognized payloads mark
    decode_ok=False instead of failing the scan."""
    from mempool_dumpster_spark.ml.multimodal import image_header

    # pure-python parser unit checks
    assert image_header(_png(64, 48)) == ("png", 64, 48)
    assert image_header(_jpeg(640, 480)) == ("jpeg", 640, 480)
    gif = b"GIF89a" + (320).to_bytes(2, "little") + (200).to_bytes(2, "little")
    assert image_header(gif + b"\x00" * 4) == ("gif", 320, 200)
    bmp = (
        b"BM" + b"\x00" * 12
        + (40).to_bytes(4, "little")  # BITMAPINFOHEADER
        + (100).to_bytes(4, "little")
        + (-50).to_bytes(4, "little", signed=True)
    )
    assert image_header(bmp) == ("bmp", 100, 50)  # top-down BMP: |height|
    core = (
        b"BM" + b"\x00" * 12
        + (12).to_bytes(4, "little")  # OS/2 BITMAPCOREHEADER: 16-bit dims
        + (100).to_bytes(2, "little")
        + (50).to_bytes(2, "little")
    )
    assert image_header(core) == ("bmp", 100, 50)
    # 'BM'-prefixed text is NOT a BMP (DIB-size discriminator rejects it)
    assert image_header(b"BMW is a car maker, not a bitmap") is None
    assert image_header(b"\x00\x01\x02\x03" * 100) is None  # unknown format
    with pytest.raises(ValueError):  # zero-dimension GIF is malformed, not ok
        image_header(b"GIF89a" + b"\x00" * 8)
    with pytest.raises(ValueError):
        image_header(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4)  # truncated PNG

    media = spark.createDataFrame(
        [
            (1, _png(64, 48), "image/png", {}),
            (2, _jpeg(640, 480), "image/jpeg", {}),
            (3, b"\x89PNG\r\n\x1a\n" + b"\x00" * 4, "image/png", {}),  # corrupt
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    # strict mode: recognized formats yield REAL dimensions (the stub is
    # gone for these); corrupt-but-recognized rows survive as decode_ok=False
    feats = {r["media_id"]: r for r in decode_images(media, strict=True).collect()}
    assert (feats[1]["width"], feats[1]["height"], feats[1]["format"]) == (64, 48, "png")
    assert (feats[2]["width"], feats[2]["height"], feats[2]["format"]) == (
        640, 480, "jpeg",
    )
    assert feats[1]["decode_ok"] and feats[2]["decode_ok"]
    assert not feats[3]["decode_ok"] and feats[3]["width"] is None

    # strict + genuinely unknown format still raises (honest stub boundary)
    unknown = spark.createDataFrame(
        [(9, b"\x00\x01\x02\x03" * 100, "image/webp", {})],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    with pytest.raises(Exception, match="unrecognized image format"):
        decode_images(unknown, strict=True).collect()


def test_frame_sample_plan(spark):
    media = spark.createDataFrame(
        [(1, None, "video/mp4", {"duration_s": "12"})],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    frames = frame_sample_plan(media, every_n_seconds=5).collect()
    assert [r["frame_ts_s"] for r in frames] == [0, 5]


def test_lsh_ann_recall_on_testdata(spark):
    """Recall@3 of the LSH path vs the exact path on the driver's sf0.01
    embeddings — the registered emb_knn_lsh parameters must stay ≥ 0.9
    (VERDICT r1: the scale path needs a measured recall, not a fixture)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_lsh"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"LSH recall@3 = {recall:.2f} < 0.9"


def test_ivf_planted_clusters(vectors):
    """On clustered data (the planted 3-cluster fixture) the IVF index with
    single assignment and a narrow probe recovers the exact neighbors — the
    genuinely-sublinear regime."""
    queries = vectors.filter(F.col("vec_id") < 3)
    exact = cosine_topk(vectors, queries, k=3)
    cents = train_ivf_centroids(vectors, n_cells=4, n_iters=3, dim=8)
    approx = ivf_topk(
        vectors, queries, k=3, dim=8, n_cells=4, nprobe=1, n_assign=1,
        centroids=cents,
    )
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    assert len(e & a) / len(e) == 1.0  # deterministic centroids, planted clusters


def test_ivf_deterministic_centroids(vectors):
    """DECIMAL-exact Lloyd sums → centroids identical across partitionings."""
    c1 = train_ivf_centroids(vectors, n_cells=4, n_iters=2, dim=8)
    c2 = train_ivf_centroids(vectors.repartition(7), n_cells=4, n_iters=2, dim=8)
    assert c1 == c2


def test_ivf_topk_past_broadcast_guard_matches_default(vectors):
    """ivf_topk past its broadcast guard (broadcast_bytes=0) scores every
    probe-join survivor exactly; the default prescores them and re-ranks
    only each query's refine·k best. The exact top-k always survives
    that window, so both branches return identical rows. nprobe covers
    every cell, so each query has more survivors than the window keeps."""
    queries = vectors.filter(F.col("vec_id") < 3)
    cents = train_ivf_centroids(vectors, n_cells=4, n_iters=2, dim=8)
    kw = dict(k=3, dim=8, n_cells=4, nprobe=4, centroids=cents)
    default = sorted(map(tuple, ivf_topk(vectors, queries, **kw).collect()))
    over_guard = sorted(
        map(tuple, ivf_topk(vectors, queries, broadcast_bytes=0, **kw).collect())
    )
    assert over_guard == default and len(default) == 9


def test_ivf_ann_recall_on_testdata(spark):
    """Recall@3 of the registered emb_knn_ivf parameters vs the exact path
    on the driver's sf0.01 embeddings — must stay ≥ 0.9 (measured 0.967 at
    n_cells=16/n_assign=3/nprobe=8)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_ivf"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall@3 = {recall:.2f} < 0.9"


def test_lsh_hot_bucket_cap(spark):
    """Degenerate corpus: many identical docs share every band bucket; the
    cap drops those buckets so candidate-pair output stays bounded while
    genuinely similar (non-degenerate) pairs still surface."""
    text = "the quick brown fox jumps over the lazy dog again and again"
    near_a = text + " extra"
    near_b = text + " extra tail"
    rows = [(i, text) for i in range(200)] + [(1000, near_a), (1001, near_b)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_sets(df)
    sig = minhash_signatures(sh, n_hashes=16)
    capped = lsh_candidate_pairs(sig, bands=4, rows_per_band=4, max_bucket_size=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # the 200-identical-doc bucket (199*200/2 ≈ 20k pairs) is dropped ...
    assert len(pairs) <= 10
    # ... but the near-dup pair in a small bucket survives
    assert (1000, 1001) in pairs
    # uncapped the degenerate corpus would explode quadratically
    uncapped = lsh_candidate_pairs(sig, bands=4, rows_per_band=4).count()
    assert uncapped >= 199 * 200 / 2


def test_emb_near_pairs_bucketed_parity(spark):
    """The registered bucketed emb_near_pairs plan must (a) contain no
    cartesian/nested-loop join and (b) emit EXACTLY the pairs the exact
    all-pairs definition emits on the driver's testdata — proving the
    3-plane × 20-table banding is exhaustive for this corpus even though
    its true pairs sit at the 0.40-0.51 threshold tail (the worst LSH
    regime). Run on both sf dirs so a testdata regeneration is caught."""
    import os

    from mempool_dumpster_spark.plans.text_queries import (
        emb_near_pairs,
        emb_near_pairs_exact,
    )

    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.isdir(sf_dir):
            pytest.skip("driver testdata not present")
        bucketed = emb_near_pairs(spark, sf_dir)
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
        got = {
            (r["id_a"], r["id_b"], r["sim_r"]) for r in bucketed.collect()
        }
        want = {
            (r["id_a"], r["id_b"], r["sim_r"])
            for r in emb_near_pairs_exact(spark, sf_dir).collect()
        }
        assert got == want, (
            f"{sf_dir}: bucketed plan missed {len(want - got)} pairs / "
            f"invented {len(got - want)}"
        )


def test_cosine_near_pairs_prefilter_paths_agree(spark):
    """cosine_near_pairs has THREE physical paths — the full-GEMM panel
    product (default below the flop cap, r10), the LSH + broadcast
    mapInArrow gather (gemm_flops_cap=0 forces it while the table still
    fits broadcast_bytes), and the LSH + vector-fetch join + pandas-UDF
    fallback (broadcast_bytes=0 forces it). All three must emit the
    identical (id_a, id_b, sim) set: sim comes from the same exact JVM
    fold on survivors, the LSH prefilters share the 0.01 slack argument,
    and the GEMM path's recall is exactly 1 by construction — so any
    divergence is a gather/indexing/banding bug."""
    import os

    from mempool_dumpster_spark.ml.similarity import cosine_near_pairs
    from mempool_dumpster_spark.plans.tables import load_tables

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    kw = dict(threshold=0.4, dim=64, n_planes=3, n_tables=48)
    gemm = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in cosine_near_pairs(emb, **kw).collect()
    }
    gather = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in cosine_near_pairs(emb, gemm_flops_cap=0, **kw).collect()
    }
    join = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in cosine_near_pairs(emb, broadcast_bytes=0, **kw).collect()
    }
    assert gemm == gather == join and len(gemm) > 0


def test_cosine_near_pairs_gemm_cap_boundary(spark):
    """r11 verdict #9 (r10 item 7 residue): pin WHICH physical path runs
    on each side of the GEMM flop cap. The guarded fast path (one-block
    panel GEMM against the broadcast matrix) is what small corpora take;
    the LSH bucket join is the UNGUARDED 100 TB form — the cap crossing
    must demonstrably switch to it, or the scale path silently stops
    being exercised. The cap test is `n²·dim <= gemm_flops_cap`, so a
    cap of exactly n²·dim takes the GEMM branch and cap−1 falls through
    to LSH; the two plans are structurally distinct (the GEMM branch
    never references the posexplode signature stage — no Generate node;
    the LSH branch is built on it) and must emit the identical pair
    set."""
    import os

    from mempool_dumpster_spark.ml.similarity import cosine_near_pairs
    from mempool_dumpster_spark.plans.tables import load_tables

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    n = emb.count()
    flops = n * n * 64
    kw = dict(threshold=0.4, dim=64, n_planes=3, n_tables=48)

    at_cap = cosine_near_pairs(emb, gemm_flops_cap=flops, **kw)
    below_cap = cosine_near_pairs(emb, gemm_flops_cap=flops - 1, **kw)

    plan_gemm = at_cap._jdf.queryExecution().executedPlan().toString()
    plan_lsh = below_cap._jdf.queryExecution().executedPlan().toString()
    # GEMM branch: Arrow panel map, no signature explode anywhere.
    assert "Generate" not in plan_gemm, plan_gemm[:2000]
    assert "MapInArrow" in plan_gemm or "ArrowEval" in plan_gemm
    # LSH branch: the posexplode signature stage feeds the bucket join.
    assert "Generate" in plan_lsh, plan_lsh[:2000]
    # and neither is allowed a Cartesian anything
    for p in (plan_gemm, plan_lsh):
        assert "Cartesian" not in p and "BroadcastNestedLoop" not in p

    got_gemm = {
        (r["id_a"], r["id_b"], r["sim"]) for r in at_cap.collect()
    }
    got_lsh = {
        (r["id_a"], r["id_b"], r["sim"]) for r in below_cap.collect()
    }
    assert got_gemm == got_lsh and len(got_gemm) > 0


def test_simhash64_candidate_selectivity(spark):
    """On a 1k-doc corpus of distinct random texts, the 64-bit/16-bit-chunk
    banding yields candidates ∝ docs (expected n²/2^17 per chunk ≈ 4), while
    the r2 4-bit-chunk demo scheme yields ∝ n²/16 (≈ 62k) — the registered
    query must use the selective topology."""
    import random

    from mempool_dumpster_spark.ml.dedup import simhash

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(5000)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(40))) for i in range(1000)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = simhash(docs).cache()

    def n_candidates(chunks: int) -> int:
        width = 64 // chunks
        parts = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk"),
                            F.shiftrightunsigned("simhash", c * width)
                            .bitwiseAND(F.lit((1 << width) - 1))
                            .alias("key"),
                        )
                        for c in range(chunks)
                    ]
                )
            ).alias("ck"),
        ).select("doc_id", "ck.chunk", "ck.key")
        a, b = parts.alias("a"), parts.alias("b")
        return (
            a.join(
                b,
                (F.col("a.chunk") == F.col("b.chunk"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id"), F.col("b.doc_id"))
            .distinct()
            .count()
        )

    selective = n_candidates(4)   # 16-bit keys — the registered topology
    degenerate = n_candidates(16)  # 4-bit keys — the r2 demo scheme
    assert selective < 1000, f"64/16 banding not ∝ docs: {selective} candidates"
    assert degenerate > 50_000, f"sanity: 4-bit keys should degenerate, got {degenerate}"


def test_ngram_jaccard_band_assumption(spark):
    """docs_ngram_jaccard's Spark plan prefilters with >=2-of-32 MinHash
    bands (r13; b=16 before, which missed exactly ONE pair — jaccard
    exactly 0.5 — out of 288,293 at the 100x tier: per-edge-pair miss
    P[Bin(16,0.5) < 2] = 17/2^16 ~ 2.6e-4, and 100x the pair volume
    finally bought a miss; b=8 before r9 missed 14 of ~900 planted
    j~0.57 pairs at 10x). A true pair at jaccard j is missed w.p.
    P[Bin(b, j) < 2] — at b=32: ~7.7e-9 at the j=0.5 edge, ~1e-17 at
    0.75. The oracle is the exact all-pairs >= 0.5 definition; guard the
    driver corpora at >= 0.75 (where misses are astronomically unlikely);
    the threshold-edge regime is covered by the 100x sweep exact-matching
    after the b=32 fix (SELFCHECK_r13_sf10)."""
    import os

    import duckdb

    from mempool_dumpster_spark.plans.registry import all_oracles

    oracle = all_oracles()["docs_ngram_jaccard"]
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        if not os.path.isdir(sf_dir):
            pytest.skip("driver testdata not present")
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_dir}/documents.parquet')"
        )
        rows = con.execute(oracle).fetchall()
        assert rows, f"{sf_dir}: no true pairs — corpus regenerated?"
        min_j = min(r[2] for r in rows)
        assert min_j >= 0.75, (
            f"{sf_dir}: true pair at jaccard {min_j:.3f} < 0.75 — the "
            "2-of-32 band prefilter's miss probability is no longer "
            "negligible at this corpus's similarity floor"
        )


def test_ivf_pretrained_index_reuse(spark):
    """The persisted-index lifecycle: centroids trained on a half-sample,
    round-tripped through the JSON index format EXACTLY (bit-for-bit
    floats), then reused to serve the full corpus — recall@3 vs brute force
    must hold without re-training."""
    import os

    from mempool_dumpster_spark.ml.similarity import (
        centroids_from_json,
        centroids_to_json,
        train_ivf_centroids,
    )

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.tables import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    sample = emb.filter(F.crc32(F.col("vec_id").cast("string")) % 2 == 0)
    cents = train_ivf_centroids(sample, n_cells=16, n_iters=3, dim=64)
    assert centroids_from_json(centroids_to_json(cents)) == cents  # exact

    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_ivf_pretrained"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"pretrained-IVF recall@3 = {recall:.2f} < 0.9"

    with pytest.raises(ValueError, match="not an IVF centroid payload"):
        centroids_from_json('{"format": "bogus"}')


def test_gopher_rules_hand_computed(spark):
    """Each rule trips independently: too short, too-long mean word,
    repetition-heavy, and a clean doc that passes all gates."""
    from mempool_dumpster_spark.ml.text import gopher_rules

    docs = spark.createDataFrame(
        [
            (1, "tiny doc"),  # n_words=2 < 4 -> short
            (2, "longwordshere everywhere absolutely enormous tokens"),  # mean len
            (3, "spam spam spam spam ham eggs ham eggs"),  # top ratio 0.5
            (4, "the quick brown fox jumps over lazy dogs"),  # clean
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in gopher_rules(
            docs,
            min_words=4,
            max_words=100,
            min_mean_word_len=3.0,
            max_mean_word_len=6.0,
            max_top_word_ratio=0.3,
        ).collect()
    }
    assert not out[1]["keep"]
    assert out[2]["mean_word_len"] > 6.0 and not out[2]["keep"]
    assert out[3]["top_word_ratio"] == 0.5 and not out[3]["keep"]
    assert out[4]["keep"]
    assert out[4]["n_words"] == 8
    assert out[4]["mean_word_len"] == pytest.approx(33 / 8)


def test_gopher_rules_split_on_testdata(spark):
    """The registered thresholds must produce a genuine keep/drop split on
    the driver's corpus (a constant flag would make the gate vacuous)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    rows = all_queries()["docs_gopher_rules"](spark, sf_dir).collect()
    kept = sum(1 for r in rows if r["keep"])
    assert 0 < kept < len(rows)


def test_chunk_documents_coverage_and_overlap(spark):
    from mempool_dumpster_spark.ml.text import chunk_documents

    toks = [f"w{i}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(toks)), (2, "a b c")], "doc_id long, text string"
    )
    out = chunk_documents(df, max_tokens=64, overlap=8).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # short doc: exactly one whole chunk
    (short,) = by_doc[2]
    assert (short["chunk_id"], short["chunk_text"], short["n_chunk_tokens"]) == (
        0, "a b c", 3
    )
    # 100 tokens @ budget 64 stride 56: chunks [0,64) and [56,100)
    c0, c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert c0["chunk_text"].split(" ") == toks[:64]
    assert c1["chunk_text"].split(" ") == toks[56:]
    assert (c0["n_chunk_tokens"], c1["n_chunk_tokens"]) == (64, 44)
    # overlap region is shared verbatim; union covers every token
    assert c0["chunk_text"].split(" ")[56:] == c1["chunk_text"].split(" ")[:8]
    with pytest.raises(ValueError):
        chunk_documents(df, max_tokens=8, overlap=8)


def test_chunk_then_pack_pipeline(spark):
    """chunk_documents feeds pack_sequences: no chunk is oversize, and
    packing respects the budget."""
    from mempool_dumpster_spark.ml.packing import pack_sequences
    from mempool_dumpster_spark.ml.text import chunk_documents

    df = spark.createDataFrame(
        [(i, " ".join(f"t{j}" for j in range(10 + (i * 37) % 90)))
         for i in range(20)],
        "doc_id long, text string",
    )
    chunks = chunk_documents(df, max_tokens=32, overlap=4).withColumn(
        "chunk_key", F.concat_ws("#", "doc_id", "chunk_id")
    )
    packed = pack_sequences(
        chunks, max_tokens=64, token_col="n_chunk_tokens",
        id_col="chunk_key", n_shards=4,
    )
    rows = packed.collect()
    assert rows and all(r["oversize"] == 0 for r in rows)
    fills = {}
    for r in rows:
        key = (r["shard"], r["seq_id"])
        fills[key] = fills.get(key, 0) + r["n_chunk_tokens"]
    assert all(v <= 64 for v in fills.values())


def _wav(rate=16_000, channels=2, bits=16, seconds=2.0):
    import struct

    byte_rate = rate * channels * bits // 8
    data_size = int(byte_rate * seconds)
    fmt = struct.pack("<HHIIHH", 1, channels, rate, byte_rate,
                      channels * bits // 8, bits)
    return (
        b"RIFF" + struct.pack("<I", 36 + data_size) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", data_size) + b"\x00" * data_size
    )


def test_audio_header_and_features(spark):
    from mempool_dumpster_spark.ml.multimodal import audio_features, audio_header

    assert audio_header(_wav(44_100, 1, 16, 1.5)) == ("wav", 44_100, 1, 16, 1.5)
    # word-alignment: odd-sized LIST chunk before fmt must not desync
    import struct

    wav = _wav(8_000, 2, 8, 0.25)
    padded = wav[:12] + b"LIST" + struct.pack("<I", 3) + b"abc\x00" + wav[12:]
    assert audio_header(padded) == ("wav", 8_000, 2, 8, 0.25)
    with pytest.raises(ValueError):  # FLAC is recognized now; zero rate
        audio_header(b"fLaC" + b"\x00" * 64)  # is malformed, not unknown
    with pytest.raises(ValueError):  # Ogg with no codec id packet
        audio_header(b"OggS" + b"\x00" * 64)
    assert audio_header(b"AIFF-ish unknown bytes") is None  # true unknown
    with pytest.raises(ValueError):
        audio_header(b"RIFF\x00\x00\x00\x00WAVE")  # no fmt/data chunks

    df = spark.createDataFrame(
        [
            (1, bytearray(_wav(16_000, 2, 16, 2.0)), "audio/wav", None),
            (2, bytearray(b"\xffsome-mp3-ish-bytes"), "audio/mpeg", None),
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = {r["media_id"]: r for r in audio_features(df).collect()}
    ok = rows[1]
    assert (ok["format"], ok["sample_rate"], ok["channels"],
            ok["bits_per_sample"], ok["duration_s"], ok["decode_ok"]) == (
        "wav", 16_000, 2, 16, 2.0, True
    )
    assert rows[2]["decode_ok"] is False and rows[2]["format"] is None

    with pytest.raises(Exception):  # strict mode surfaces the stub honestly
        audio_features(df, strict=True).collect()


def _mp3(n_frames=10, xing_frames=None, id3_pad=0):
    """Synthetic MPEG1 Layer III 128 kbps 44.1 kHz joint-stereo stream:
    417-byte frames, optional Xing VBR header in frame 1, optional ID3v2
    prefix."""
    frame_size = 144 * 128_000 // 44_100  # 417, no padding bit
    hdr = bytes([0xFF, 0xFB, 0x90, 0x44])
    body = b"\x00" * (frame_size - 4)
    if xing_frames is not None:
        xing = (
            b"\x00" * 32  # MPEG1-stereo side info
            + b"Xing"
            + (0x1).to_bytes(4, "big")  # flags: frame count present
            + int(xing_frames).to_bytes(4, "big")
        )
        first = hdr + xing + b"\x00" * (frame_size - 4 - len(xing))
    else:
        first = hdr + body
    stream = first + (hdr + body) * (n_frames - 1)
    if id3_pad:
        size = id3_pad
        syncsafe = bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F, (size >> 7) & 0x7F, size & 0x7F]
        )
        stream = b"ID3\x04\x00\x00" + syncsafe + b"\x00" * size + stream
    return stream


def test_mp3_header_cbr_vbr_and_id3(spark):
    """MP3 duration decodes for real: CBR via the byte formula (exact for
    a constant-bitrate stream), VBR via the Xing frame count, with an
    ID3v2 tag skipped by its syncsafe size. Malformed framing raises."""
    import pytest as _pytest

    from mempool_dumpster_spark.ml.multimodal import audio_header

    fmt, rate, ch, bits, dur = audio_header(_mp3(n_frames=10))
    assert (fmt, rate, ch, bits) == ("mp3", 44_100, 2, 0)
    assert abs(dur - (417 * 10 * 8) / 128_000) < 1e-9  # CBR byte formula

    # Xing VBR: duration comes from the frame count, not the byte count
    fmt, rate, ch, _, dur = audio_header(_mp3(n_frames=3, xing_frames=100))
    assert fmt == "mp3" and abs(dur - 100 * 1152 / 44_100) < 1e-9

    # ID3v2-tagged stream: tag skipped, same CBR duration
    tagged = _mp3(n_frames=10, id3_pad=57)
    fmt, rate, ch, _, dur = audio_header(tagged)
    assert fmt == "mp3" and abs(dur - (417 * 10 * 8) / 128_000) < 1e-9

    # ID3 tag with no MPEG sync behind it: recognized but malformed
    with _pytest.raises(ValueError):
        audio_header(b"ID3\x04\x00\x00\x00\x00\x00\x04abcd" + b"junk" * 8)
    # reserved sample-rate index (rate bits 11)
    bad = bytearray(_mp3(1))
    bad[2] = 0x9C  # bitrate 9, rate_idx 3 (reserved)
    with _pytest.raises(ValueError):
        audio_header(bytes(bad))
    # bare non-MPEG bytes: unknown, not malformed
    assert audio_header(b"\xff\x00 not audio") is None


def _ogg_page(granule: int, packet: bytes = b"", seq: int = 0) -> bytes:
    """Minimal Ogg page: one segment (or none) carrying `packet`."""
    segs = bytes([len(packet)]) if packet else b""
    nsegs = 1 if packet else 0
    return (
        b"OggS" + b"\x00\x00"
        + granule.to_bytes(8, "little", signed=True)
        + b"\x01\x02\x03\x04"  # serial
        + seq.to_bytes(4, "little")
        + b"\x00\x00\x00\x00"  # crc (unchecked by the probe)
        + bytes([nsegs]) + segs + packet
    )


def test_ogg_vorbis_and_opus_duration(spark):
    """OGG duration decodes for real: Vorbis id packet gives rate and
    channels, the last page's granule gives sample-exact duration; Opus
    granules tick at 48 kHz with pre-skip subtracted."""
    from mempool_dumpster_spark.ml.multimodal import audio_header

    vorbis_id = (
        b"\x01vorbis" + b"\x00\x00\x00\x00"  # version
        + bytes([2])  # channels
        + (44_100).to_bytes(4, "little")
        + b"\x00" * 16
    )
    ogg = (
        _ogg_page(0, vorbis_id)
        + _ogg_page(22_050, b"\xaa" * 10, seq=1)
        + _ogg_page(88_200, b"\xbb" * 10, seq=2)  # last page: 2.0 s
    )
    assert audio_header(ogg) == ("ogg_vorbis", 44_100, 2, 0, 2.0)

    opus_id = (
        b"OpusHead" + bytes([1])  # version
        + bytes([1])  # channels
        + (312).to_bytes(2, "little")  # pre-skip
        + (24_000).to_bytes(4, "little")  # original input rate
        + b"\x00" * 3
    )
    ogg2 = _ogg_page(0, opus_id) + _ogg_page(48_000 + 312, b"\xcc" * 4, seq=1)
    fmt, rate, ch, _, dur = audio_header(ogg2)
    assert (fmt, rate, ch) == ("ogg_opus", 24_000, 1)
    assert abs(dur - 1.0) < 1e-12  # pre-skip excluded, 48 kHz granules


def test_ogg_granule_ignores_oggs_bytes_in_page_bodies(spark):
    """Review regression: the final granule comes from a validated forward
    page walk, never from rfind — compressed page bodies legitimately
    contain the b'OggS' capture pattern, and a blind reverse search read
    a garbage granule with decode_ok=True."""
    from mempool_dumpster_spark.ml.multimodal import audio_header

    vorbis_id = (
        b"\x01vorbis" + b"\x00\x00\x00\x00" + bytes([2])
        + (44_100).to_bytes(4, "little") + b"\x00" * 16
    )
    # last page's BODY contains 'OggS' followed by huge little-endian junk
    trap_body = b"\xf0OggS" + b"\xff" * 12
    ogg = (
        _ogg_page(0, vorbis_id)
        + _ogg_page(44_100, trap_body, seq=1)  # true final granule: 1.0 s
    )
    assert audio_header(ogg) == ("ogg_vorbis", 44_100, 2, 0, 1.0)


def test_adts_aac_is_unknown_not_malformed(spark):
    """Review regression: AAC/ADTS shares the 0xFFE sync with MPEG audio
    but uses the reserved layer bits — it must classify as UNKNOWN (None,
    strict raises NotImplementedError), not as corrupt MP3."""
    import pytest as _pytest

    from mempool_dumpster_spark.ml.multimodal import (
        audio_features,
        audio_header,
    )

    adts = b"\xff\xf1\x50\x80\x01\x7f\xfc" + b"\x00" * 40
    assert audio_header(adts) is None

    df = spark.createDataFrame(
        [(1, bytearray(adts), "audio/aac", None)],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    with _pytest.raises(Exception) as exc:
        audio_features(df, strict=True).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, NotImplementedError
    )


def test_flac_streaminfo_header(spark):
    """FLAC STREAMINFO: rate/channels/bits/total-samples decode exactly
    (44.1 kHz stereo 16-bit, 441000 samples = 10 s)."""
    from mempool_dumpster_spark.ml.multimodal import audio_header

    si = bytearray(34)
    si[10] = 44_100 >> 12
    si[11] = (44_100 >> 4) & 0xFF
    si[12] = ((44_100 & 0xF) << 4) | ((2 - 1) << 1) | ((16 - 1) >> 4)
    si[13] = (((16 - 1) & 0xF) << 4) | 0
    si[14:18] = (441_000).to_bytes(4, "big")
    payload = b"fLaC" + b"\x80" + (34).to_bytes(3, "big") + bytes(si)
    assert audio_header(payload) == ("flac", 44_100, 2, 16, 10.0)


def _ebml(eid: bytes, body: bytes) -> bytes:
    assert len(body) < 0x3FFF
    if len(body) < 0x7F:
        size = bytes([0x80 | len(body)])
    else:
        size = bytes([0x40 | (len(body) >> 8), len(body) & 0xFF])
    return eid + size + body


def test_ebml_video_header(spark):
    """MKV/WebM headers decode for real: DocType picks the format,
    Segment→Info gives duration (ticks × TimestampScale), Tracks→Video
    gives pixel dimensions; an unknown-size Segment (streamed file) and
    a missing DocType (malformed) both behave."""
    import struct

    import pytest as _pytest

    from mempool_dumpster_spark.ml.multimodal import video_header

    info = _ebml(
        b"\x15\x49\xa9\x66",
        _ebml(b"\x2a\xd7\xb1", (1_000_000).to_bytes(3, "big"))
        + _ebml(b"\x44\x89", struct.pack(">d", 42_500.0)),
    )
    video_track = _ebml(
        b"\xae",
        _ebml(
            b"\xe0",
            _ebml(b"\xb0", (640).to_bytes(2, "big"))
            + _ebml(b"\xba", (360).to_bytes(2, "big")),
        ),
    )
    audio_track = _ebml(b"\xae", _ebml(b"\x86", b"A_OPUS"))
    tracks = _ebml(b"\x16\x54\xae\x6b", video_track + audio_track)
    header = _ebml(b"\x1a\x45\xdf\xa3", _ebml(b"\x42\x82", b"webm"))
    webm = header + _ebml(b"\x18\x53\x80\x67", info + tracks)
    assert video_header(webm) == ("webm", 640, 360, 42.5, 2)

    # matroska DocType + unknown-size Segment (live/streamed remux)
    mkv_hdr = _ebml(b"\x1a\x45\xdf\xa3", _ebml(b"\x42\x82", b"matroska"))
    mkv = mkv_hdr + b"\x18\x53\x80\x67" + b"\xff" + info + tracks
    assert video_header(mkv) == ("mkv", 640, 360, 42.5, 2)

    # 4-byte float Duration also decodes
    info32 = _ebml(
        b"\x15\x49\xa9\x66", _ebml(b"\x44\x89", struct.pack(">f", 1000.0))
    )
    small = header + _ebml(b"\x18\x53\x80\x67", info32)
    assert video_header(small)[3] == 1.0  # default 1e6 ns scale

    # EBML magic with garbage behind it: malformed (no DocType), not an
    # empty mkv; a zero lead byte also malformed
    with _pytest.raises(ValueError):
        video_header(b"\x1a\x45\xdf\xa3 webm-ish")
    with _pytest.raises(ValueError):
        video_header(b"\x1a\x45\xdf\xa3\x00")

    # Review regression: a header PROBE cut mid-element (two bytes into
    # the next element's id/size) after Info+Tracks must still decode —
    # truncation at the buffer end is not malformation
    cluster_start = b"\x1f\x43\xb6"  # Cluster id cut after 3 of 4 bytes
    probe = header + _ebml(b"\x18\x53\x80\x67", info + tracks) + cluster_start
    assert video_header(probe) == ("webm", 640, 360, 42.5, 2)


def test_budget_fill_no_partial_and_priority(spark):
    from mempool_dumpster_spark.ml.packing import budget_fill

    df = spark.createDataFrame(
        [
            ("a1", "web", 40, 0.9),
            ("a2", "web", 40, 0.8),
            ("a3", "web", 40, 0.7),  # 3rd doc would exceed 100
            ("b1", "wiki", 10, 0.1),
        ],
        "doc_id string, source string, n_tokens long, quality double",
    )
    kept = {
        r["doc_id"]
        for r in budget_fill(
            df, {"web": 100, "wiki": 5}, order_col="quality"
        ).collect()
    }
    # top-2 web docs fit (80 <= 100), the third would overshoot; wiki's
    # only doc (10 tokens) exceeds its 5-token budget entirely
    assert kept == {"a1", "a2"}
    with pytest.raises(ValueError):
        budget_fill(df, {"web": -1})
    # determinism under repartition with the content-addressed default order
    k1 = {r["doc_id"] for r in budget_fill(df, {"web": 80}, default_budget=0).collect()}
    k2 = {
        r["doc_id"]
        for r in budget_fill(df.repartition(5), {"web": 80}, default_budget=0).collect()
    }
    assert k1 == k2 and len(k1) == 2


def test_sample_per_group_deterministic(spark):
    from mempool_dumpster_spark.ml.packing import sample_per_group

    df = spark.createDataFrame(
        [(f"d{i}", "s" + str(i % 3)) for i in range(60)],
        "doc_id string, source string",
    )
    s1 = {(r["doc_id"], r["source"]) for r in sample_per_group(df, 7).collect()}
    s2 = {
        (r["doc_id"], r["source"])
        for r in sample_per_group(df.repartition(9), 7).collect()
    }
    assert s1 == s2
    per = {}
    for _d, s in s1:
        per[s] = per.get(s, 0) + 1
    assert per == {"s0": 7, "s1": 7, "s2": 7}
    assert sample_per_group(df, 0).count() == 0


def test_repetition_stats_hand_computed(spark):
    from mempool_dumpster_spark.ml.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # bigrams: ab ba ab ba -> 4 total, 2 distinct
            (2, "x y z"),          # xy yz -> 2 total, 2 distinct
            (3, "solo"),           # < 2 words -> 0 grams
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in repetition_stats(df, n=2).collect()}
    assert (rows[1]["n_grams"], rows[1]["n_distinct"]) == (4, 2)
    assert rows[1]["dup_frac"] == 0.5
    assert (rows[2]["n_grams"], rows[2]["n_distinct"]) == (2, 2)
    assert rows[2]["dup_frac"] == 0.0
    assert (rows[3]["n_grams"], rows[3]["dup_frac"]) == (0, 0.0)


def test_boilerplate_ngrams_distinct_doc_counts(spark):
    from mempool_dumpster_spark.ml.text import boilerplate_ngrams

    df = spark.createDataFrame(
        [
            (1, "the quick fox jumps"),
            (2, "the quick fox sleeps"),
            # gram repeated WITHIN one doc must count that doc once
            (3, "the quick fox the quick fox"),
            (4, "unrelated words entirely here"),
        ],
        ["doc_id", "text"],
    )
    out = {r["shingle"]: r["n_docs"] for r in boilerplate_ngrams(df, n=3).collect()}
    assert out["the quick fox"] == 3
    # grams unique to one document are filtered by min_docs=2
    assert "unrelated words entirely" not in out
    import pytest as _pytest

    with _pytest.raises(ValueError):
        boilerplate_ngrams(df, n=0)


def test_bpe_pair_counts_hand_computed(spark):
    from mempool_dumpster_spark.ml.text import bpe_pair_counts

    # pretokens of "aa bb aa": ["aa", " bb", " aa"] — pairs:
    # "aa": aa ; " bb": ' b', bb ; " aa": ' a', aa
    df = spark.createDataFrame([(1, "aa bb aa")], ["doc_id", "text"])
    got = {r["pair"]: r["n"] for r in bpe_pair_counts(df).collect()}
    assert got == {"aa": 2, " b": 1, "bb": 1, " a": 1}


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    return (len(payload) + 8).to_bytes(4, "big") + btype + payload


def _mini_mp4(w=640, h=360, timescale=600, duration=3000, audio_track=True):
    ftyp = _mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isom")
    mvhd = _mp4_box(
        b"mvhd",
        b"\x00\x00\x00\x00"            # version 0 + flags
        + (0).to_bytes(4, "big") * 2    # ctime, mtime
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + b"\x00" * 80,                 # rate/volume/matrix/next_track
    )

    def tkhd(tw, th):
        return _mp4_box(
            b"tkhd",
            b"\x00\x00\x00\x07" + b"\x00" * 72
            + (tw << 16).to_bytes(4, "big") + (th << 16).to_bytes(4, "big"),
        )

    traks = [_mp4_box(b"trak", tkhd(w, h))]
    if audio_track:
        traks.append(_mp4_box(b"trak", tkhd(0, 0)))
    moov = _mp4_box(b"moov", mvhd + b"".join(traks))
    return ftyp + moov


def test_video_header_mp4_hand_built(spark):
    from mempool_dumpster_spark.ml.multimodal import video_features, video_header

    good = _mini_mp4()
    fmt, w, h, dur, ntr = video_header(good)
    assert (fmt, w, h, ntr) == ("mp4", 640, 360, 2)
    assert dur == 5.0  # 3000 / 600

    assert video_header(b"AVI-ish bytes" * 2) is None  # unknown container
    import pytest as _pytest

    with _pytest.raises(ValueError):
        # ftyp present but no moov in the probe: recognized-but-malformed
        video_header(_mp4_box(b"ftyp", b"isom\x00\x00\x02\x00isom"))

    df = spark.createDataFrame(
        [
            (1, bytearray(good), "video/mp4", {}),
            (2, bytearray(b"\x1a\x45\xdf\xa3 unknown"), "video/webm", {}),
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = {r["media_id"]: r for r in video_features(df).collect()}
    assert rows[1]["decode_ok"] and rows[1]["width"] == 640
    assert rows[1]["duration_s"] == 5.0 and rows[1]["n_tracks"] == 2
    assert not rows[2]["decode_ok"] and rows[2]["format"] is None


def test_video_features_feed_frame_sample_plan(spark):
    """Real parsed duration drives the frame expansion: a 5 s video at
    every_n_seconds=2 yields frames at t=0,2 (and a minimum of one)."""
    from mempool_dumpster_spark.ml.multimodal import (
        frame_sample_plan,
        video_features,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, bytearray(_mini_mp4()), "video/mp4", {})],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    feats = video_features(df).select(
        "media_id", F.create_map(F.lit("duration_s"),
                                 F.col("duration_s").cast("string")).alias("meta"),
    )
    frames = frame_sample_plan(feats, every_n_seconds=2).collect()
    assert [(r["frame_idx"], r["frame_ts_s"]) for r in frames] == [(0, 0), (1, 2)]


def test_pca_matches_numpy_reference(spark):
    """pca_fit/pca_transform vs a straight numpy PCA on the collected data:
    same covariance eigenvalues, same projections (signs fixed by the
    largest-coordinate convention on both sides)."""
    import numpy as np

    from mempool_dumpster_spark.ml.pca import pca_fit, pca_transform

    rng = np.random.RandomState(7)
    # anisotropic cloud: variance concentrated in a few directions
    basis = rng.randn(6, 6)
    x = rng.randn(200, 6) * np.array([5.0, 3.0, 1.0, 0.5, 0.2, 0.1]) @ basis
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).repartition(4)

    model = pca_fit(df, k=3)
    mean = x.mean(axis=0)
    cov = (x - mean).T @ (x - mean) / x.shape[0]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:3]
    assert np.allclose(model.explained_variance, evals[order], rtol=1e-8)

    ref_comps = []
    for i in order:
        v = evecs[:, i]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        ref_comps.append(v)
    assert np.allclose(model.components, ref_comps, atol=1e-8)

    out = {
        r["vec_id"]: r["pca"]
        for r in pca_transform(df, model).select("vec_id", "pca").collect()
    }
    ref_proj = (x - mean) @ np.array(ref_comps).T
    got = np.array([out[i] for i in range(len(x))])
    assert np.allclose(got, ref_proj, atol=1e-8)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        pca_fit(df, k=0)
    with _pytest.raises(ValueError):
        pca_fit(df, k=99)


def test_bpe_learn_matches_pure_python_reference(spark):
    """bpe_learn vs a 15-line reference BPE trainer over the identical
    pre-tokens: same merges in the same order with the same counts
    (argmax ties broken lexicographically in both)."""
    import re

    from mempool_dumpster_spark.ml.text import PRETOKEN_PATTERN, bpe_learn

    texts = [
        "low low, low lower!! lowest",
        "new newer... newest news, news",
        "low newer!! low 42 42",
    ]
    df = spark.createDataFrame([(t,) for t in texts], ["text"])

    # Reference pre-tokenization: explicit ASCII translation of
    # PRETOKEN_PATTERN with properly-formed classes (a naive
    # string-replace of \p{L} inside the negated punctuation class nests
    # character classes and silently drops punctuation — the corpus above
    # includes punctuation and digits precisely to keep this honest).
    pat = (
        r"'(?:s|t|re|ve|m|ll|d)"
        r"| ?[a-zA-Z]+"
        r"| ?[0-9]+"
        r"| ?[^ \t\na-zA-Z0-9]+"
        r"|\s+"
    )
    corpus = [
        list(tok)
        for t in texts
        for tok in re.findall(pat, t)
    ]
    # sanity: the reference tokenizer must not drop characters
    assert "".join("".join(s) for s in corpus) == "".join(texts)

    def ref_round(corp):
        from collections import Counter

        c = Counter()
        for syms in corp:
            for x, y in zip(syms, syms[1:]):
                c[(x, y)] += 1
        if not c:
            return None, corp
        (a, b), n = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out = []
        for syms in corp:
            res = []
            for s in syms:
                if res and res[-1] == a and s == b:
                    res[-1] = a + b
                else:
                    res.append(s)
            out.append(res)
        return (a, b, n), out

    expected = []
    corp = corpus
    for _ in range(6):
        m, corp = ref_round(corp)
        expected.append(m)

    got = bpe_learn(df, n_merges=6, checkpoint_every=3, merges_per_scan=1)
    assert got == expected

    import pytest as _pytest

    with _pytest.raises(ValueError):
        bpe_learn(df, n_merges=-1)
    with _pytest.raises(ValueError):
        bpe_learn(df, n_merges=2, checkpoint_every=0)
    with _pytest.raises(ValueError):
        bpe_learn(df, n_merges=2, merges_per_scan=0)


def test_bpe_learn_batched_matches_sequential_set(spark):
    """The batched trainer (merges_per_scan=8) learns the SAME merge set —
    with the same per-pair counts — as the sequential m=1 trainer, in 2
    corpus scans instead of 10. The fixture has eight independent
    two-char words (count-ranked 9..2) plus a three-char word whose
    second merge CHAINS on the first: the batch must select the 8
    non-interacting pairs, defer ('y','z') (shares a symbol with the
    top-ranked ('x','y')), and pick up the chained ('xy','z') next scan.
    Order legally differs — sequential interleaves the chained merge at
    rank 2 — so the pin is set equality plus exact counts."""
    from mempool_dumpster_spark.ml.text import bpe_learn

    words = ["ab"] * 9 + ["cd"] * 8 + ["ef"] * 7 + ["gh"] * 6 + \
        ["ij"] * 5 + ["kl"] * 4 + ["mn"] * 3 + ["op"] * 2 + ["xyz"] * 10
    df = spark.createDataFrame([(w,) for w in words], ["text"])
    sequential = bpe_learn(
        df, n_merges=10, checkpoint_every=4, merges_per_scan=1
    )
    batched = bpe_learn(df, n_merges=10, checkpoint_every=4, merges_per_scan=8)
    assert len(batched) == 10
    assert set(batched) == set(sequential)
    # the chained merge arrived with its true post-(x,y) count
    assert ("xy", "z", 10) in batched
    # scan 1 deferred (y,z): it never appears (superseded by the chain)
    assert not any(m[:2] == ("y", "z") for m in batched)


def test_bpe_learn_adaptive_grows_batch(spark):
    """merges_per_scan='adaptive' doubles the batch while scans fill
    (8 → 16 → 32 …) and learns the same merge SET as the fixed-8
    trainer in fewer scans. Fixture: 72 disjoint two-char words — each
    contributes exactly one merge ever, so the merge set is
    batch-invariant by construction and the assertion isolates the
    pacing policy (chain/interaction correctness is pinned separately
    by the xyz and 'aaaa' tests)."""
    from mempool_dumpster_spark.ml.text import bpe_learn

    words = [
        chr(0x4E00 + 2 * i) + chr(0x4E00 + 2 * i + 1) for i in range(72)
    ]
    # one word per ROW: a multi-word row would also mint the GPT-style
    # space-prefixed pretoken ' word', whose merges chain (batch-variant)
    rows = [(w,) for i, w in enumerate(words) for _ in range(1 + i % 5)]
    df = spark.createDataFrame(rows, ["text"])

    fixed_stats: dict = {}
    fixed = bpe_learn(
        df, n_merges=60, merges_per_scan=8, stats=fixed_stats
    )
    adaptive_stats: dict = {}
    adaptive = bpe_learn(
        df, n_merges=60, merges_per_scan="adaptive", stats=adaptive_stats
    )
    assert len(adaptive) == 60
    assert set(adaptive) == set(fixed)
    assert fixed_stats["scans"] == 8  # ceil(60/8)
    assert adaptive_stats["scans"] <= 4  # 8+16+32+4

    with pytest.raises(ValueError):
        bpe_learn(df, n_merges=4, merges_per_scan="bogus")
    with pytest.raises(ValueError):
        bpe_learn(
            df, n_merges=4, merges_per_scan="adaptive", max_merges_per_scan=4
        )


@pytest.mark.sweep
def test_bpe_learn_adaptive_1k_merge_fixture(spark):
    """Verdict r7 #4's done-criterion at full size: a 1,000-merge train
    on a 1,040-word fixture completes in ≤1/4 the scans of the fixed-8
    trainer with an identical merge set (measured: ~8 scans vs 125).
    Sweep-marked: the fixed-8 side alone is ~125 sequential Spark jobs."""
    from mempool_dumpster_spark.ml.text import bpe_learn

    words = [
        chr(0x4E00 + 2 * i) + chr(0x4E00 + 2 * i + 1) for i in range(1040)
    ]
    rows = [(w,) for i, w in enumerate(words) for _ in range(1 + i % 7)]
    df = spark.createDataFrame(rows, ["text"])

    fixed_stats: dict = {}
    fixed = bpe_learn(
        df, n_merges=1000, merges_per_scan=8, stats=fixed_stats
    )
    adaptive_stats: dict = {}
    adaptive = bpe_learn(
        df, n_merges=1000, merges_per_scan="adaptive", stats=adaptive_stats
    )
    assert len(adaptive) == len(fixed) == 1000
    assert set(adaptive) == set(fixed)
    assert adaptive_stats["scans"] <= fixed_stats["scans"] / 4


def test_bpe_learn_batch_defers_interacting_pairs(spark):
    """A batch never selects two pairs that interact: 'aaaa...' makes
    ('a','a') the top pair and ('aa','a*')-style cascades the trap — one
    scan must take ('a','a') alone (every other candidate shares the
    symbol), and the recorded counts must match the sequential trainer's
    exactly, merge for merge."""
    from mempool_dumpster_spark.ml.text import bpe_learn

    df = spark.createDataFrame([("aaaaaaaa aaaa aa",)], ["text"])
    sequential = bpe_learn(df, n_merges=3, merges_per_scan=1)
    batched = bpe_learn(df, n_merges=3, merges_per_scan=8)
    assert batched == sequential


def test_bpe_encode_roundtrips_training_corpus(spark):
    """Learn merges on a corpus, encode the same corpus: concatenating each
    doc's subword tokens reconstructs the original text exactly, and
    frequent words collapse into fewer tokens than characters."""
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.ml.text import bpe_encode, bpe_learn

    texts = ["low low low lower lowest", "new newer newest news"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["doc_id", "text"])
    merges = bpe_learn(df, n_merges=8, checkpoint_every=4)
    enc = bpe_encode(df, merges)
    rows = {r["doc_id"]: r for r in enc.collect()}
    for i, t in enumerate(texts):
        assert "".join(rows[i]["bpe_tokens"]) == t
        assert rows[i]["n_bpe_tokens"] == len(rows[i]["bpe_tokens"])
        assert rows[i]["n_bpe_tokens"] < len(t)  # merges actually compress

    # the token-count column feeds pack_sequences directly
    from mempool_dumpster_spark.ml.packing import pack_sequences

    packed = pack_sequences(
        enc.select("doc_id", "n_bpe_tokens"),
        max_tokens=16,
        token_col="n_bpe_tokens",
        n_shards=1,
    )
    assert packed.count() == 2


def _mjpeg_mp4(with_stss=False, timescale=600, deltas=(2400, 2400, 2400)):
    """Hand-built MJPEG-in-MP4: ftyp + mdat (three minimal JPEG stills
    with DISTINCT dimensions, so tests can assert which sample a
    timestamp resolved to) + moov with a full video sample table
    (stsd/stts/[stss]/stsc/stsz/stco). Chunk 1 holds stills 1-2,
    chunk 2 holds still 3 — exercising the stsc run expansion."""

    def box(t, b):
        return (len(b) + 8).to_bytes(4, "big") + t + b

    def full(t, b):
        return box(t, b"\x00\x00\x00\x00" + b)

    def jpeg(w, h):
        sof = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + bytes([8])
            + h.to_bytes(2, "big") + w.to_bytes(2, "big")
            + bytes([3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1])
        )
        return b"\xff\xd8" + sof + b"\xff\xd9"

    stills = [jpeg(64, 48), jpeg(32, 24), jpeg(16, 12)]
    ftyp = box(b"ftyp", b"isom\x00\x00\x02\x00isom")
    mdat = box(b"mdat", b"".join(stills))
    off1 = len(ftyp) + 8  # first chunk: stills 1-2
    off2 = off1 + len(stills[0]) + len(stills[1])  # second: still 3

    duration = sum(deltas)
    mdhd = full(
        b"mdhd",
        (0).to_bytes(4, "big") * 2
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x55C4).to_bytes(2, "big")
        + b"\x00\x00",
    )
    hdlr = full(b"hdlr", b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"\x00")
    stsd = full(
        b"stsd", (1).to_bytes(4, "big") + box(b"jpeg", b"\x00" * 70)
    )
    stts = full(
        b"stts",
        (1).to_bytes(4, "big")
        + (3).to_bytes(4, "big")
        + deltas[0].to_bytes(4, "big"),
    )
    stss = (
        full(b"stss", (2).to_bytes(4, "big")
             + (1).to_bytes(4, "big") + (3).to_bytes(4, "big"))
        if with_stss
        else b""
    )
    stsc = full(
        b"stsc",
        (2).to_bytes(4, "big")
        + (1).to_bytes(4, "big") + (2).to_bytes(4, "big") + (1).to_bytes(4, "big")
        + (2).to_bytes(4, "big") + (1).to_bytes(4, "big") + (1).to_bytes(4, "big"),
    )
    stsz = full(
        b"stsz",
        (0).to_bytes(4, "big")
        + (3).to_bytes(4, "big")
        + b"".join(len(s).to_bytes(4, "big") for s in stills),
    )
    stco = full(
        b"stco",
        (2).to_bytes(4, "big")
        + off1.to_bytes(4, "big")
        + off2.to_bytes(4, "big"),
    )
    stbl = box(b"stbl", stsd + stts + stss + stsc + stsz + stco)
    minf = box(b"minf", stbl)
    mdia = box(b"mdia", mdhd + hdlr + minf)
    trak = box(b"trak", mdia)
    moov = box(b"moov", trak)
    return ftyp + mdat + moov


def test_sample_frames_extracts_keyframe_stills(spark):
    """sample_frames: MJPEG-in-MP4 sample-table walk picks the latest
    keyframe per sampled timestamp and extracts the REAL still bytes —
    dimensions parsed from each still's own JPEG header (no codec lib),
    pixel decode honestly gated on PIL (pixels_ok=False pass-through in
    this container, real decode when PIL is importable — same contract
    as resize_images)."""
    from mempool_dumpster_spark.ml.multimodal import sample_frames

    # 3 samples at 0s/4s/8s (timescale 600, delta 2400), duration 12s.
    # every_n=5 -> frames at ts 0 and 5; ts=5 resolves to sample 2
    # (decode time 4s), whose still is 32x24.
    mp4 = _mjpeg_mp4()
    df = spark.createDataFrame(
        [
            (1, bytearray(mp4), "video/mp4", None),
            (2, bytearray(b"not a video"), "video/mp4", None),
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = sorted(
        sample_frames(df, every_n_seconds=5).collect(),
        key=lambda r: (r["media_id"], r["frame_ts_s"] or -1),
    )
    ok = [r for r in rows if r["media_id"] == 1]
    assert len(ok) == 2
    assert [r["frame_ts_s"] for r in ok] == [0.0, 5.0]
    assert [r["sample_idx"] for r in ok] == [0, 1]
    assert all(r["codec"] == "jpeg" and r["decode_ok"] for r in ok)
    assert (ok[0]["width"], ok[0]["height"]) == (64, 48)
    assert (ok[1]["width"], ok[1]["height"]) == (32, 24)
    # the extracted bytes ARE a parseable JPEG still
    assert bytes(ok[0]["frame_bytes"])[:2] == b"\xff\xd8"

    bad = [r for r in rows if r["media_id"] == 2]
    assert len(bad) == 1 and not bad[0]["decode_ok"]

    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False
    if have_pil:
        # real codec: full pixel decode confirms the header dimensions
        assert all(r["pixels_ok"] for r in ok)
    else:
        assert all(not r["pixels_ok"] for r in ok)
        with pytest.raises(Exception):
            sample_frames(df, every_n_seconds=5, strict=True).collect()

    # stss present (samples 1 and 3 sync): ts=5 lands on sample 2 and
    # must SNAP BACK to keyframe 1 -> the 64x48 still
    df2 = spark.createDataFrame(
        [(3, bytearray(_mjpeg_mp4(with_stss=True)), "video/mp4", None)],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    snap = sorted(
        sample_frames(df2, every_n_seconds=5).collect(),
        key=lambda r: r["frame_ts_s"],
    )
    assert [r["sample_idx"] for r in snap] == [0, 0]
    assert all((r["width"], r["height"]) == (64, 48) for r in snap)


def test_resize_images_plumbing(spark):
    """resize_images: schema/batch plumbing is real; without PIL in the
    container the payload passes through unchanged with resize_ok=False,
    strict mode raises, and target-size validation rejects nonsense."""
    import pytest as _pytest

    from mempool_dumpster_spark.ml.multimodal import resize_images

    payload = b"\x89PNG\r\n\x1a\nfakebody"
    df = spark.createDataFrame(
        [(1, bytearray(payload), "image/png", {})],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = resize_images(df, 32, 32).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["width"], r["height"]) == (32, 32)
    try:
        import PIL  # noqa: F401

        have_pil = True
    except Exception:
        have_pil = False
    if not have_pil:
        assert bytes(r["payload"]) == payload and not r["resize_ok"]
        with _pytest.raises(Exception):
            resize_images(df, 32, 32, strict=True).collect()
    else:
        # real codec present: a genuine image resizes for real (header of
        # the output carries the target dims), and an undecodable payload
        # still fails fast under strict
        import io as _io

        from PIL import Image

        from mempool_dumpster_spark.ml.multimodal import image_header

        buf = _io.BytesIO()
        Image.new("RGB", (64, 48)).save(buf, format="PNG")
        real = spark.createDataFrame(
            [(1, bytearray(buf.getvalue()), "image/png", {})],
            "media_id long, payload binary, mime string, meta map<string,string>",
        )
        rr = resize_images(real, 16, 12).collect()[0]
        assert rr["resize_ok"]
        assert image_header(bytes(rr["payload"])) == ("png", 16, 12)
        with _pytest.raises(Exception):
            resize_images(df, 32, 32, strict=True).collect()  # fake payload
    with _pytest.raises(ValueError):
        resize_images(df, 0, 32)


def test_pack_prepped_never_mixes_splits(spark):
    from pyspark.sql import functions as F

    from mempool_dumpster_spark.ml.prep import pack_prepped

    docs = spark.createDataFrame(
        [(i, "tok " * (5 + i % 7), ["train", "val", "test"][i % 3])
         for i in range(60)],
        "doc_id long, text string, split string",
    )
    packed = pack_prepped(docs, max_tokens=16, n_shards=4)
    # every (split, shard, seq_id) group holds rows of exactly one split,
    # and no sequence exceeds the budget (oversize rows sit alone)
    seqs = (
        packed.groupBy("split", "shard", "seq_id")
        .agg(
            F.countDistinct("split").alias("nsplits"),
            F.sum("n_tokens").alias("tot"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    assert seqs and all(r["nsplits"] == 1 for r in seqs)
    for r in seqs:
        assert r["tot"] <= 16 or r["n"] == 1
    assert packed.count() == 60


def test_training_order_deterministic_and_seed_independent(spark):
    """training_order: same seed => identical permutation under any
    partitioning; different seeds => different permutations;
    shuffle_for_training yields the globally-sorted order when partitions
    are read in range order, with every input row exactly once."""
    from mempool_dumpster_spark.ml.packing import (
        shuffle_for_training,
        training_order,
    )

    df = spark.createDataFrame(
        [(f"d{i:03d}",) for i in range(200)], "doc_id string"
    )
    order1 = [
        r["doc_id"]
        for r in training_order(df, seed="ep1")
        .orderBy("order_key", "doc_id")
        .collect()
    ]
    order1b = [
        r["doc_id"]
        for r in training_order(df.repartition(7), seed="ep1")
        .orderBy("order_key", "doc_id")
        .collect()
    ]
    order2 = [
        r["doc_id"]
        for r in training_order(df, seed="ep2")
        .orderBy("order_key", "doc_id")
        .collect()
    ]
    assert order1 == order1b          # partition-independent
    assert order1 != order2           # epochs decorrelate
    assert order1 != sorted(order1)   # actually permuted
    assert sorted(order1) == sorted(order2)  # both cover the corpus

    shuffled = shuffle_for_training(df, seed="ep1", n_partitions=5)
    # range partitioning: concatenating partitions in order IS the sort
    parts = shuffled.select("order_key", "doc_id").collect()
    keys = [r["order_key"] for r in parts]
    assert keys == sorted(keys)
    assert sorted(r["doc_id"] for r in parts) == sorted(order1)


def test_bpe_save_load_roundtrip(spark, tmp_path):
    """bpe_save_merges/bpe_load_merges: the persisted artifact restores
    the exact rank-ordered merge list, and encoding with the loaded
    merges is identical to encoding with the in-memory ones."""
    from mempool_dumpster_spark.ml.text import (
        bpe_encode,
        bpe_learn,
        bpe_load_merges,
        bpe_save_merges,
    )

    df = spark.createDataFrame(
        [("low low low lower lowest",), ("new newer newest news",)], ["text"]
    )
    merges = bpe_learn(df, n_merges=6)
    path = str(tmp_path / "merges.parquet")
    bpe_save_merges(spark, merges, path)
    loaded = bpe_load_merges(spark, path)
    assert loaded == merges

    direct = bpe_encode(df, merges).select("text", "bpe_tokens").collect()
    via_disk = bpe_encode(df, loaded).select("text", "bpe_tokens").collect()
    assert sorted(map(tuple, direct)) == sorted(map(tuple, via_disk))


def test_prep_incremental_dedups_against_existing_corpus(spark, tmp_path):
    """prep_incremental: a new batch preps with all within-batch gates
    PLUS cross-corpus exact and near-dup gates against the persisted
    corpus_signatures artifact — an exact copy of an existing doc and a
    near-duplicate (small edit) are dropped; a genuinely new doc and its
    consistent split label survive."""
    from mempool_dumpster_spark.ml.prep import (
        PrepConfig,
        corpus_signatures,
        prep_incremental,
    )
    from mempool_dumpster_spark.ml.splits import assign_split

    def stream(salt, n=40):
        return " ".join(f"{salt}w{i % 17} {salt}t{i % 31}" for i in range(n))

    base_rows = [(f"base{i:02d}", stream(f"s{i}")) for i in range(8)]
    base = spark.createDataFrame(base_rows, "doc_id string, text string")
    sig_path = str(tmp_path / "sigs.parquet")
    corpus_signatures(base).write.parquet(sig_path)
    sigs = spark.read.parquet(sig_path)

    near_dup_text = stream("s3").replace("s3w1 ", "s3w1 EDIT ", 1)
    assert near_dup_text != stream("s3")
    new_rows = [
        ("new00", stream("s5")),       # exact copy of base05 -> dropped
        ("new01", near_dup_text),      # near-dup of base03 -> dropped
        ("new02", stream("fresh")),    # genuinely new -> kept
        ("new03", stream("fresh")),    # exact dup WITHIN the new batch
    ]
    new = spark.createDataFrame(new_rows, "doc_id string, text string")
    out = prep_incremental(
        new, sigs, config=PrepConfig(gopher=False, decontaminate=False)
    )
    kept = {r["doc_id"]: r["split"] for r in out.collect()}
    assert set(kept) == {"new02"}
    expected_split = {
        r["doc_id"]: r["split"]
        for r in assign_split(new, id_col="doc_id").collect()
    }["new02"]
    assert kept["new02"] == expected_split  # split consistent with base

    # a second run over the same batch is idempotent (same keep-set)
    out2 = prep_incremental(
        new, sigs, config=PrepConfig(gopher=False, decontaminate=False)
    )
    assert {r["doc_id"] for r in out2.collect()} == {"new02"}


def test_cross_corpus_filter_false_drop_rate(spark):
    """MEASURED error rates of the incremental-dedup gate's MinHash
    estimate at the default 64-slot / 16×4-band configuration, against
    exact shingle Jaccard over controlled-overlap variants of the real
    sf0.01 documents (verdict r7 #1: a false DROP at the 0.7 threshold
    is silent data loss; the old 16-slot default made it ~10% likely
    for true-0.55 pairs). Deterministic: md5 slot hashes and the
    doc_id-keyed overlap fractions are fixed, so these are pinned
    rates, not flaky samples."""
    import os

    import pytest as _pytest

    from mempool_dumpster_spark.ml.prep import (
        calibrate_cross_corpus_gate,
        gate_error_rates,
    )

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        _pytest.skip("sf0.01 testdata not present")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = calibrate_cross_corpus_gate(docs, max_docs=400).cache()
    try:
        rates = gate_error_rates(pairs)
        # both bins must actually be populated — an empty bin would make
        # the rate assertions vacuous
        assert rates["n_pairs_low"] >= 200
        assert rates["n_pairs_high"] >= 50
        # the verdict's pin: false drops <1% at |J - 0.7| > 0.1, false
        # keeps <1% at J >= 0.85
        assert rates["false_drop_rate"] < 0.01
        assert rates["false_keep_rate"] < 0.01
        # honesty about the boundary: the hardest sub-bin (true J in
        # [0.4, 0.6), where a 64-slot estimate can still land >= 0.7
        # with probability ~1% at the top edge) stays under 5%
        from pyspark.sql import functions as F

        near = pairs.filter(
            (F.col("j_exact") >= 0.4) & (F.col("j_exact") < 0.6)
        )
        n_near = near.count()
        assert n_near >= 50
        n_drop = near.filter("would_drop").count()
        assert n_drop / n_near < 0.05
        # and dups well above threshold must be caught: J >= 0.85 pairs
        # are LSH candidates (16x4 banding's S-curve midpoint is ~0.5,
        # so recall up here is ~1)
        high = pairs.filter(F.col("j_exact") >= 0.85)
        assert (
            high.filter(~F.col("is_candidate")).count() == 0
        )
    finally:
        pairs.unpersist()


def test_cli_prep_signatures_artifact(spark, tmp_path):
    """prep --signatures lands OUT_signatures with one row per written
    doc (text_hash + minhash slots) that prep_incremental can consume."""
    from mempool_dumpster_spark.__main__ import main
    from mempool_dumpster_spark.ml.prep import PrepConfig, prep_incremental

    docs = tmp_path / "docs.parquet"
    spark.createDataFrame(
        [(f"d{i}", " ".join(f"w{i}x{j}" for j in range(30))) for i in range(10)],
        "doc_id string, text string",
    ).write.parquet(str(docs))
    out = tmp_path / "corpus"
    rc = main(
        ["prep", str(docs), "--out", str(out), "--no-gopher", "--signatures"],
        spark=spark,
    )
    assert rc == 0
    sigs = spark.read.parquet(str(out) + "_signatures")
    n_corpus = spark.read.parquet(str(out)).count()
    assert sigs.count() == n_corpus
    assert {"doc_id", "text_hash", "m0", "m63"} <= set(sigs.columns)

    # a re-prep of the SAME docs against the artifact keeps nothing
    new = spark.read.parquet(str(docs))
    out_inc = prep_incremental(
        new, sigs, config=PrepConfig(gopher=False, decontaminate=False)
    )
    assert out_inc.count() == 0


def test_bpe_learn_stops_when_corpus_exhausted(spark):
    """When every pretoken is fully merged before n_merges is reached,
    training stops cleanly with the merges it found (no empty-scan spin,
    no error) — the behavior a large-vocab run hits on a small corpus."""
    from mempool_dumpster_spark.ml.text import bpe_learn

    df = spark.createDataFrame([("ab ab cd",)], ["text"])
    merges = bpe_learn(df, n_merges=50, merges_per_scan=8)
    assert 0 < len(merges) < 50
    # idempotent: the same truncated list every run
    assert bpe_learn(df, n_merges=50, merges_per_scan=8) == merges


def test_ngram_frequency_score_hand_computed(spark):
    """ngram_frequency_score vs hand-computed corpus bigram stats:
    instance-weighted (duplicates kept), exact ratios, short docs emit
    nothing."""
    import pytest as _pytest

    from mempool_dumpster_spark.ml.text import ngram_frequency_score

    df = spark.createDataFrame(
        [("d1", "a b a b"), ("d2", "a b c"), ("d3", "solo")],
        "doc_id string, text string",
    )
    # corpus bigram counts: 'a b':3, 'b a':1, 'b c':1
    rows = {r["doc_id"]: r for r in ngram_frequency_score(df, n=2).collect()}
    assert set(rows) == {"d1", "d2"}  # d3 has no bigrams
    d1, d2 = rows["d1"], rows["d2"]
    assert d1["n_grams"] == 3
    assert abs(d1["mean_count"] - 7 / 3) < 1e-12  # (3+1+3)/3
    assert abs(d1["rare_frac"] - 1 / 3) < 1e-12   # 'b a' is rare
    assert d2["n_grams"] == 2
    assert abs(d2["mean_count"] - 2.0) < 1e-12    # (3+1)/2
    assert abs(d2["rare_frac"] - 0.5) < 1e-12     # 'b c' is rare

    with _pytest.raises(ValueError):
        ngram_frequency_score(df, n=0)


def test_build_pcm_wav_roundtrip_and_segment_profile(spark):
    """build_pcm_wav → the real decode path must round-trip exactly, and
    pcm_segment_profile's loudness envelope must be the EXACT per-segment
    Σ|x| (each term a dyadic rational — order-independent, the contract
    the audio_clip_knn oracle leans on). Also pins the decode_ok=False
    contract for undecodable payloads and 8-bit / stereo variants."""
    from mempool_dumpster_spark.ml.multimodal import (
        _wav_pcm_samples,
        audio_header,
        build_pcm_wav,
        pcm_segment_profile,
    )

    samples = [100 * i - 800 for i in range(16)]  # ramp crossing zero
    wav = build_pcm_wav(samples, rate=8000)
    kind, rate, channels, bits, _dur = audio_header(wav)
    assert (kind, rate, channels, bits) == ("wav", 8000, 1, 16)
    x = _wav_pcm_samples(wav)
    assert [round(v * 32768) for v in x] == samples  # exact round-trip

    # stereo interleaved: decode mono-mixes frame pairs
    st = build_pcm_wav([100, 300, -100, -300], channels=2)
    assert list(_wav_pcm_samples(st) * 32768) == [200.0, -200.0]

    # 8-bit unsigned variant
    w8 = build_pcm_wav([0, 128, 255], bits=8)
    x8 = _wav_pcm_samples(w8)
    assert [round(v * 128) for v in x8] == [-128, 0, 127]

    df = spark.createDataFrame(
        [
            (1, bytearray(wav), "audio/wav", None),
            (2, bytearray(b"OggS not pcm"), "audio/ogg", None),
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = {r["media_id"]: r for r in pcm_segment_profile(df, 4).collect()}
    ok = rows[1]
    assert ok["decode_ok"] and ok["n_samples"] == 16
    # 4 segments of 4 samples: exact integer sums / 32768
    expect = [
        sum(abs(s) for s in samples[lo : lo + 4]) / 32768
        for lo in range(0, 16, 4)
    ]
    assert ok["profile"] == expect  # bitwise, not approx
    assert not rows[2]["decode_ok"] and rows[2]["profile"] is None

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bits"):
        build_pcm_wav([0], bits=24)


def test_pcm_features_wav_and_contract(spark):
    """pcm_features: RMS/peak/zero-crossings/clipped over real 16-bit PCM
    samples (hand-built square wave: rms=peak=1 after normalization... or
    a known ramp), unknown formats NULL-out (strict raises), malformed
    WAV is decode_ok=False without strict raising."""
    import math
    import struct

    import pytest as _pytest

    from mempool_dumpster_spark.ml.multimodal import pcm_features

    # mono 16-bit square wave at half scale: rms = peak = 0.5, one zero
    # crossing per half-period; 8 samples alternating +/-16384 every 2
    samples = [16384, 16384, -16384, -16384] * 2
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    df = spark.createDataFrame(
        [
            (1, bytearray(wav), "audio/wav", None),
            (2, bytearray(b"OggS not pcm"), "audio/ogg", None),
            (3, bytearray(b"RIFF\x00\x00\x00\x00WAVE"), "audio/wav", None),
        ],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = {r["media_id"]: r for r in pcm_features(df).collect()}
    ok = rows[1]
    assert ok["decode_ok"] and ok["n_samples"] == 8
    assert abs(ok["rms"] - 0.5) < 1e-9 and abs(ok["peak"] - 0.5) < 1e-9
    assert ok["zero_crossings"] == 3  # sign flips at samples 2, 4, 6
    assert ok["clipped_frac"] == 0.0
    assert not rows[2]["decode_ok"]  # unknown container
    assert not rows[3]["decode_ok"]  # malformed WAV: no fmt/data
    with _pytest.raises(Exception):
        pcm_features(df, strict=True).collect()

    # full-scale 8-bit WAV clips
    d8 = bytes([255, 0, 255, 0])
    fmt8 = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    wav8 = (
        b"RIFF" + struct.pack("<I", 36 + len(d8)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt8)) + fmt8
        + b"data" + struct.pack("<I", len(d8)) + d8
    )
    r8 = pcm_features(
        spark.createDataFrame(
            [(9, bytearray(wav8), "audio/wav", None)],
            "media_id long, payload binary, mime string, meta map<string,string>",
        )
    ).collect()[0]
    assert r8["decode_ok"] and r8["clipped_frac"] >= 0.5
    assert math.isclose(r8["peak"], 1.0, rel_tol=1e-6)


def test_prep_incremental_custom_hash_count(spark):
    """Review regression (r8 advisory): the gate compares at the WIDTH
    THE ARTIFACT WAS BUILT WITH — a corpus committed at a legacy slot
    count (e.g. the pre-r8 16-slot default, or 8 here) must keep
    appending under the library's new 64-slot default without the caller
    adjusting anything; mismatched caller banding adapts instead of
    surfacing as unresolved m* columns."""
    from mempool_dumpster_spark.ml.prep import (
        PrepConfig,
        artifact_slot_count,
        corpus_signatures,
        cross_corpus_filter,
        prep_incremental,
    )

    def stream(salt):
        return " ".join(f"{salt}w{j}" for j in range(30))

    base = spark.createDataFrame(
        [("b0", stream("x")), ("b1", stream("y"))],
        "doc_id string, text string",
    )
    sigs8 = corpus_signatures(base, n_hashes=8)
    assert artifact_slot_count(sigs8) == 8
    new = spark.createDataFrame(
        [("n0", stream("x")), ("n1", stream("fresh"))],
        "doc_id string, text string",
    )
    kept = prep_incremental(
        new,
        sigs8,
        config=PrepConfig(gopher=False, decontaminate=False),
        n_hashes=8,
        bands=2,
        rows_per_band=4,
    )
    assert {r["doc_id"] for r in kept.collect()} == {"n1"}
    # ALL-DEFAULTS call against the 8-slot artifact: the old behavior was
    # an opaque failure (agree sum referencing m8..m63); now the gate
    # adapts n_hashes/banding to the artifact and still drops the dup
    adapted = cross_corpus_filter(new, sigs8)
    assert {r["doc_id"] for r in adapted.collect()} == {"n1"}


def test_table_buckets_rejects_wide_planes():
    """Review regression (r8 advisory): the Arrow bucket packer emits
    array<int>; n_planes ≥ 32 would silently WRAP int32 and merge
    buckets (inflated candidates, degraded precision with no error).
    Must refuse loudly — the long-typed simhash_signature path is the
    documented wide-signature alternative."""
    import pytest as _pytest

    from mempool_dumpster_spark.ml.similarity import _table_buckets_udf

    with _pytest.raises(ValueError, match="n_planes"):
        _table_buckets_udf(dim=8, n_planes=32, n_tables=2)
    _table_buckets_udf(dim=8, n_planes=31, n_tables=2)  # boundary ok


def test_calibration_would_drop_never_null(spark):
    """Review regression (r8 advisory): would_drop comes off LEFT joins;
    a pair missing a MinHash estimate must read as a definite False —
    a NULL silently leaves gate_error_rates' false-keep numerator while
    staying in its denominator."""
    from mempool_dumpster_spark.ml.prep import calibrate_cross_corpus_gate

    docs = spark.createDataFrame(
        [(f"d{i}", " ".join(f"w{i}x{j}" for j in range(12))) for i in range(8)]
        # a 2-word doc: too short for 3-shingles → no signature rows,
        # so any shingle-sharing pair it forms has NULL j_est
        + [("short", "w0x0 w0x1")],
        "doc_id string, text string",
    )
    pairs = calibrate_cross_corpus_gate(docs, max_docs=9)
    assert pairs.filter(F.col("would_drop").isNull()).count() == 0


def test_wav_fmt_chunk_declared_size_validated(spark):
    """Review regression: a fmt chunk DECLARING < 16 bytes must reject as
    malformed in both WAV parsers — reading past it would interpret the
    next chunk's header bytes as format fields."""
    import struct

    import pytest as _pytest

    from mempool_dumpster_spark.ml.multimodal import (
        _wav_pcm_samples,
        audio_header,
    )

    # fmt declares 12 bytes; real fields would bleed into 'data' header
    bad = (
        b"RIFF" + struct.pack("<I", 40) + b"WAVE"
        + b"fmt " + struct.pack("<I", 12) + b"\x01\x00\x01\x00" + b"\x40\x1f\x00\x00" + b"\x80\x3e\x00\x00"
        + b"data" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    )
    with _pytest.raises(ValueError):
        audio_header(bad)
    with _pytest.raises(ValueError):
        _wav_pcm_samples(bad)


def test_dup_span_strip_semantics(spark):
    """Constructed corpus: two identical 8-word docs (every position is
    inside a shared 5-gram → clean text empty, md5('')), plus a unique doc
    sharing no 5-gram (kept verbatim — clean_md5 = md5(text)) and a 4-word
    doc (below the gram width, trivially kept). Exercises the
    fully-covered and untouched edges the synthetic sf corpora may not."""
    import hashlib

    from mempool_dumpster_spark.plans.text_queries import (
        _covered_positions,
        _dup_spans,
    )

    rows = [
        (1, "a b c d e f g h"),
        (2, "a b c d e f g h"),
        (3, "q r s t u v w x y"),
        (4, "m n o p"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    w, spans = _dup_spans(docs)
    cov = {
        (r["doc_id"], r["p"]) for r in _covered_positions(spans).collect()
    }
    assert {(d, p) for d, p in cov if d == 1} == {(1, p) for p in range(1, 9)}
    assert not any(d in (3, 4) for d, _ in cov)

    from pyspark.sql import functions as F

    pos = w.select(
        "doc_id", F.posexplode("__w").alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("p"), "word")
    kept = pos.join(
        spark.createDataFrame(
            [{"doc_id": d, "p": p} for d, p in cov] or [],
            "doc_id long, p long",
        ),
        ["doc_id", "p"],
        "left_anti",
    )
    kept_by_doc = {
        r["doc_id"]: r["n"]
        for r in kept.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    assert kept_by_doc.get(1) is None  # fully stripped
    assert kept_by_doc[3] == 9 and kept_by_doc[4] == 4
    _ = hashlib.md5(b"").hexdigest()  # documented empty-doc contract


def test_mmr_diversifies_against_plain_topk(spark):
    """Planted geometry: query q = e0; candidate A = e0 (sim 1.0), its
    near-clone A' (sim ~1.0, nearly parallel to A), and an orthogonal-ish
    B with lower query-sim. Plain top-2 is {A, A'}; MMR's second pick must
    skip the clone (high penalty vs picked A) and take B."""
    import pyspark.sql.functions as F

    from mempool_dumpster_spark.plans.ml_queries import emb_mmr_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),  # the query (vec_id < 5)
        # A: sim(q,A)=0.90 — top relevance, wins pick 1
        (10, [0.9, 0.43589, 0.0, 0.0], 0),
        # A': sim(q,A')=0.88 but sim(A,A')≈0.999 — plain #2, MMR-penalized
        (11, [0.88, 0.47497, 0.0, 0.0], 0),
        # B: sim(q,B)=0.85, sim(A,B)≈0.765 — diverse, wins pick 2
        # (7·8500−3·7650 = 36550 > A's 7·8800−3·9990 = 31630)
        (12, [0.85, 0.0, 0.52678, 0.0], 0),
    ]
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label long"
        ).write.parquet(os.path.join(td, "embeddings.parquet"))
        out = {
            (r["pick"], r["neighbor_id"])
            for r in emb_mmr_topk(spark, td).collect()
        }
    assert (1, 10) in out
    assert (2, 12) in out, f"MMR picked the near-clone over the diverse B: {out}"
    assert (3, 11) in out


def test_duplicate_components_driver_parity(spark):
    """The guarded driver union-find path and the distributed label
    propagation path (forced via driver_max_edges=0) must produce the
    identical (doc_id, component_id) set — including a long chain (where
    min-label needs many rounds) and a duplicate-edge input (the distinct
    collapse feeds both paths)."""
    from mempool_dumpster_spark.ml.dedup import duplicate_components

    # chain 9-8-...-1, a triangle with shared min, a self-contained pair,
    # and duplicate + reversed-duplicate edges
    edges = (
        [(i, i + 1) for i in range(1, 9)]
        + [(20, 21), (21, 22), (20, 22), (30, 31), (20, 21), (1, 2)]
    )
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    fast = {
        (r["doc_id"], r["component_id"])
        for r in duplicate_components(pairs).collect()
    }
    slow = {
        (r["doc_id"], r["component_id"])
        for r in duplicate_components(pairs, driver_max_edges=0).collect()
    }
    assert fast == slow
    assert all(c == 1 for d, c in fast if d <= 9)
    assert {(30, 30), (31, 30)} <= fast


def test_build_keyframe_mp4_roundtrip(spark):
    """build_keyframe_mp4 -> sample_frames round-trips the exact payload
    bytes (stco offset / stsz sizes correct), one frame per
    `frame_seconds`, all samples sync; resize_images passes the
    non-image frames through byte-identically (the honest no-codec
    contract media_frame_knn's oracle also pins cross-engine)."""
    from mempool_dumpster_spark.ml.multimodal import (
        build_keyframe_mp4,
        resize_images,
        sample_frames,
    )

    payloads = [bytes([j] * (10 + j)) for j in range(3)]  # distinct sizes
    mp4 = build_keyframe_mp4(payloads, frame_seconds=5)
    df = spark.createDataFrame(
        [(9, bytearray(mp4), "video/mp4", None)],
        "media_id long, payload binary, mime string, meta map<string,string>",
    )
    rows = sorted(
        sample_frames(df, every_n_seconds=5).collect(),
        key=lambda r: r["frame_ts_s"],
    )
    assert [r["sample_idx"] for r in rows] == [0, 1, 2]
    assert [bytes(r["frame_bytes"]) for r in rows] == payloads
    assert [r["frame_ts_s"] for r in rows] == [0.0, 5.0, 10.0]

    resized = resize_images(
        spark.createDataFrame(
            [(i, bytearray(p), "application/octet-stream") for i, p in enumerate(payloads)],
            "media_id long, payload binary, mime string",
        ),
        8,
        8,
    ).collect()
    got = {r["media_id"]: bytes(r["payload"]) for r in resized}
    assert got == {i: p for i, p in enumerate(payloads)}
    assert not any(r["resize_ok"] for r in resized)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        build_keyframe_mp4([])

    # the container must be self-consistent: the package's OWN header
    # parser accepts it (mvhd/tkhd are mandatory ISO-BMFF boxes — the old
    # builder omitted both, so video_header raised 'moov without mvhd'
    # and video_features called the module's own fixtures corrupt)
    from mempool_dumpster_spark.ml.multimodal import video_header

    fmt, width, height, duration, n_tracks = video_header(mp4)
    assert fmt == "mp4" and n_tracks == 1
    assert duration == 15.0  # 3 frames x 5 s
    assert (width, height) == (0, 0)  # opaque payloads, not coded video


def test_ngram_jaccard_recovers_moderate_similarity_pairs(spark, tmp_path):
    """Regression for the r9 stress-sweep find: the 2-of-8 band prefilter
    missed 14 of ~900 true pairs at jaccard ~0.57 (P[Bin(8,.57)<2] ~ 1.3%)
    — real data loss vs the exact all-pairs oracle. With 16 bands the miss
    probability at j~0.57 is ~3e-5; this corpus plants 60 such pairs
    (every-11th-word salting, the stress generator's near-dup transform)
    and requires ALL of them recovered. Deterministic: xxhash64 banding
    makes the outcome fixed, not a flake."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mempool_dumpster_spark.plans.registry import all_queries

    rows = []
    for i in range(60):
        base = [f"w{i}x{j}" for j in range(40)]
        salted = [
            (f"n_{w}" if j % 11 == 0 else w) for j, w in enumerate(base)
        ]
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(salted)))
    t = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
            "source": pa.array(["src0"] * len(rows)),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(t, str(tmp_path / "documents.parquet"))

    got = {
        (r["doc_a"], r["doc_b"])
        for r in all_queries()["docs_ngram_jaccard"](
            spark, str(tmp_path)
        ).collect()
    }
    want = {(2 * i, 2 * i + 1) for i in range(60)}
    assert got == want, (
        f"missed {sorted(want - got)[:5]}... / spurious {sorted(got - want)[:5]}"
    )


def test_pq_ann_recall_on_testdata(spark):
    """Recall@3 of the PQ-ADC path vs the exact path on the driver's
    sf0.01 embeddings — the registered emb_knn_pq parameters (m=16,
    k_codes=32, refine=8, 5 Lloyd iters) must stay >= 0.9 on the
    isotropic worst case. Deterministic: md5 init + DECIMAL-exact Lloyd
    means this is a fixed number (0.967 measured), not a flake."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_pq"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"PQ recall@3 = {recall:.2f} < 0.9"


def test_pq_codebooks_deterministic_and_encode_shape(spark, vectors):
    """PQ determinism contract: two independent trainings on different
    partitionings produce bit-identical codebooks (DECIMAL-exact Lloyd +
    md5 init, no RNG), and the code artifact is m small ints per vector
    with every code < k_codes."""
    from mempool_dumpster_spark.ml.similarity import (
        _pq_encode_udf,
        train_pq_codebooks,
        with_unit_vector,
    )

    a = train_pq_codebooks(vectors, m=4, k_codes=8, n_iters=2, dim=8)
    b = train_pq_codebooks(
        vectors.repartition(7), m=4, k_codes=8, n_iters=2, dim=8
    )
    assert a == b  # bit-identical across partitionings

    enc = _pq_encode_udf(a)
    rows = (
        with_unit_vector(vectors)
        .select(enc(F.col("unit")).alias("codes"))
        .collect()
    )
    for r in rows:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 8 for c in r["codes"])


def test_ivfpq_ann_recall_on_testdata(spark):
    """Recall@3 of the IVF-PQ composition vs the exact path on the
    driver's sf0.01 embeddings — cell pruning AND code-artifact ADC
    together must keep >= 0.9 on the isotropic worst case (0.967
    measured; deterministic trainings make this a fixed number)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_ivfpq"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF-PQ recall@3 = {recall:.2f} < 0.9"


def test_ivfpq_training_jobs_keep_the_callers_job_group(spark):
    """ivfpq_topk's build (the training collect, the cache, the index
    encode) must run its jobs under the caller's job group, or
    cancelJobGroup cannot reach them."""
    import os

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.ml.similarity import ivfpq_topk
    from mempool_dumpster_spark.plans.tables import load_tables

    emb = load_tables(spark, sf_dir, ["embeddings"])["embeddings"]
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ivfpq-build", "ivfpq_topk build")
    try:
        rows = ivfpq_topk(emb, emb.filter(F.col("vec_id") < 3), k=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows
    assert tracker.getJobIdsForGroup("ivfpq-build")
    assert set(tracker.getJobIdsForGroup(None)) - untagged == set()


def _trainers(sim):
    """Both k-means trainers on the `vectors` fixture's 8-dim shape."""
    return {
        "ivf": lambda df, n_iters=2: sim.train_ivf_centroids(
            df, n_cells=4, n_iters=n_iters, dim=8
        ),
        "pq": lambda df, n_iters=2: sim.train_pq_codebooks(
            df, m=4, k_codes=8, n_iters=n_iters, dim=8
        ),
    }


def test_trainers_leave_no_cache_behind(spark, vectors):
    """A standalone training caches nothing, so it leaves nothing in the
    session's cache manager."""
    from mempool_dumpster_spark.ml import similarity as sim

    cache = spark._jsparkSession.sharedState().cacheManager()
    for name, train in _trainers(sim).items():
        spark.catalog.clearCache()
        assert train(vectors)
        assert cache.isEmpty(), f"{name} training left a cached frame"


def test_training_jobs_do_not_grow_with_iterations(spark, vectors):
    """Training collects its unit vectors once and runs every Lloyd round
    on the driver: a trainer runs as many Spark jobs at n_iters=5 as at
    n_iters=1."""
    from mempool_dumpster_spark.ml import similarity as sim

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs(train, n_iters, group):
        sc.setJobGroup(group, group)
        try:
            train(vectors, n_iters=n_iters)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        return len(tracker.getJobIdsForGroup(group))

    for name, train in _trainers(sim).items():
        one = jobs(train, 1, f"train-{name}-1")
        five = jobs(train, 5, f"train-{name}-5")
        assert one == five, f"{name}: {one} jobs at n_iters=1, {five} at 5"


def test_training_sample_cap(spark, vectors, monkeypatch):
    """Past `_TRAIN_MAX_ROWS` rows a trainer fits on a hash sample of about
    that many rows, the same sample under any partitioning; at or above
    the input size the cap changes nothing."""
    from mempool_dumpster_spark.ml import similarity as sim

    n_rows = vectors.count()
    full = {name: train(vectors) for name, train in _trainers(sim).items()}
    fitted = []
    collect = sim._training_matrix

    def spy(*args, **kwargs):
        x, fixed = collect(*args, **kwargs)
        fitted.append(len(x))
        return x, fixed

    monkeypatch.setattr(sim, "_training_matrix", spy)
    monkeypatch.setattr(sim, "_TRAIN_MAX_ROWS", n_rows)
    for name, train in _trainers(sim).items():
        assert train(vectors) == full[name]
    assert fitted == [n_rows, n_rows]

    cap = n_rows // 4
    monkeypatch.setattr(sim, "_TRAIN_MAX_ROWS", cap)
    fitted.clear()
    for name, train in _trainers(sim).items():
        assert train(vectors) == train(vectors.repartition(7)), name
    assert len(fitted) == 4
    assert all(0 < n <= 2 * cap for n in fitted), fitted


def test_pq_codebook_roundtrip_and_reuse(spark, vectors):
    """PQ persisted-index lifecycle: codebooks round-trip through JSON
    bit-for-bit, and a pq_topk served from the deserialized index equals
    one served from the in-memory training (train once, serve many)."""
    from mempool_dumpster_spark.ml.similarity import (
        pq_codebooks_from_json,
        pq_codebooks_to_json,
        pq_topk,
        train_pq_codebooks,
    )

    books = train_pq_codebooks(vectors, m=4, k_codes=8, n_iters=2, dim=8)
    back = pq_codebooks_from_json(pq_codebooks_to_json(books))
    assert back == books  # bit-for-bit

    q = vectors.filter(F.col("vec_id") < 3)
    a = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_topk(
            vectors, q, k=3, dim=8, m=4, k_codes=8, codebooks=books
        ).collect()
    }
    b = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_topk(
            vectors, q, k=3, dim=8, m=4, k_codes=8, codebooks=back
        ).collect()
    }
    assert a == b and a

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a PQ codebook"):
        pq_codebooks_from_json('{"format": "nope"}')


def test_pq_topk_empty_queries_and_shape_validation(spark, vectors, tmp_path):
    """Review regressions (r9 advisory): (a) an EMPTY query set used to
    crash np.stack with 'need at least one array to stack' — every
    query-collecting rung, inline or served from a written index, must
    return an empty frame with the standard top-k schema; (b) supplied
    codebooks are the shape authority — a caller m/k_codes that
    disagrees used to mis-slice the ADC query subranges and silently
    degrade recall; now the shape is derived from the codebooks and a
    dim mismatch raises."""
    from mempool_dumpster_spark.ml.similarity import (
        bq_topk,
        bq_topk_pretrained,
        ivfpq_topk,
        ivfpq_topk_pretrained,
        pq_topk,
        sq8_topk,
        sq8_topk_pretrained,
        train_pq_codebooks,
        write_bq_index,
        write_ivfpq_index,
        write_sq8_index,
    )

    books = train_pq_codebooks(vectors, m=4, k_codes=8, n_iters=1, dim=8)
    empty_q = vectors.filter(F.col("vec_id") < 0)
    cents, _ = write_ivfpq_index(
        vectors, "empty_q_ivfpq", dim=8, n_cells=4, n_iters=1,
        codebooks=books, path=str(tmp_path / "ivfpq"),
    )
    bounds = write_sq8_index(
        vectors, "empty_q_sq8", dim=8, path=str(tmp_path / "sq8")
    )
    write_bq_index(vectors, "empty_q_bq", dim=8, path=str(tmp_path / "bq"))
    for out in (
        pq_topk(vectors, empty_q, k=3, dim=8, codebooks=books),
        ivfpq_topk(vectors, empty_q, k=3, dim=8, codebooks=books),
        sq8_topk(vectors, empty_q, k=3, dim=8),
        bq_topk(vectors, empty_q, k=3, dim=8),
        ivfpq_topk_pretrained(
            spark, "empty_q_ivfpq", vectors, empty_q, cents, books,
            k=3, dim=8,
        ),
        sq8_topk_pretrained(
            spark, "empty_q_sq8", vectors, empty_q, bounds, k=3, dim=8
        ),
        bq_topk_pretrained(spark, "empty_q_bq", vectors, empty_q, k=3, dim=8),
    ):
        assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
        assert out.count() == 0

    q = vectors.filter(F.col("vec_id") < 2)
    # mismatched caller m/k_codes with valid codebooks: codebooks win —
    # identical results to the correctly-parameterized call
    good = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_topk(
            vectors, q, k=3, dim=8, m=4, k_codes=8, codebooks=books
        ).collect()
    }
    lied = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in pq_topk(
            vectors, q, k=3, dim=8, m=8, k_codes=16, codebooks=books
        ).collect()
    }
    assert lied == good and good

    # codebooks trained for a different width: loud error, not bad recall
    with pytest.raises(ValueError, match="different vector width"):
        pq_topk(vectors, q, k=3, dim=16, codebooks=books)
    with pytest.raises(ValueError, match="ragged"):
        ragged = [b[:-1] if i == 1 else b for i, b in enumerate(books)]
        pq_topk(vectors, q, k=3, dim=8, codebooks=ragged)


def test_cross_corpus_filter_n_hashes_deprecation(spark):
    """Review regression (r9 advisory): n_hashes is overridden by the
    artifact's slot width — an explicit caller value that disagrees must
    warn (it used to be silently ignored), and the default (None) must
    stay silent."""
    import warnings

    from mempool_dumpster_spark.ml.prep import (
        corpus_signatures,
        cross_corpus_filter,
    )

    base = spark.createDataFrame(
        [("b0", " ".join(f"w{j}" for j in range(30)))],
        "doc_id string, text string",
    )
    sigs = corpus_signatures(base, n_hashes=8)
    new = spark.createDataFrame(
        [("n0", " ".join(f"z{j}" for j in range(30)))],
        "doc_id string, text string",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # silent on default
        cross_corpus_filter(new, sigs).collect()
    with pytest.warns(DeprecationWarning, match="n_hashes=64 ignored"):
        cross_corpus_filter(new, sigs, n_hashes=64).collect()


def test_sq8_topk_recall_and_exact_rerank(vectors):
    """SQ8 on the clustered 8-d fixture: the quantized shortlist + exact
    re-rank must reproduce the exact top-3 sets, and the sims it emits
    are bit-identical to cosine_topk's for the same pairs (the re-rank
    recomputes exact cosine over raw vectors — quantization only decides
    WHICH pairs reach the re-rank)."""
    from mempool_dumpster_spark.ml.similarity import sq8_topk

    q = vectors.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in cosine_topk(vectors, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in sq8_topk(vectors, q, k=3, dim=8, refine=4).collect()
    }
    assert set(approx) == set(exact)
    for pair, sim in approx.items():
        assert sim == exact[pair]  # bit-identical — same exact fold


def test_sq8_bounds_deterministic_roundtrip_and_guards(spark, vectors):
    """SQ8 trained state: (a) bounds are partition-invariant by
    construction (exact min/max, no iteration); (b) the JSON artifact
    round-trips bit-for-bit and validates its format marker; (c) a
    bounds/dim mismatch raises loudly; (d) an empty query set returns
    the standard empty top-k frame instead of crashing."""
    from mempool_dumpster_spark.ml.similarity import (
        sq8_bounds_from_json,
        sq8_bounds_to_json,
        sq8_topk,
        train_sq8_bounds,
    )

    a = train_sq8_bounds(vectors, dim=8)
    b = train_sq8_bounds(vectors.repartition(7), dim=8)
    assert a == b
    assert sq8_bounds_from_json(sq8_bounds_to_json(a)) == a
    with pytest.raises(ValueError, match="not an SQ8 bounds payload"):
        sq8_bounds_from_json('{"format": "pq-codebooks-v1"}')
    with pytest.raises(ValueError, match="does not match dim"):
        sq8_topk(vectors, vectors.limit(1), k=3, dim=16, bounds=a)
    empty_q = vectors.filter(F.col("vec_id") < 0)
    out = sq8_topk(vectors, empty_q, k=3, dim=8, bounds=a)
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    assert out.count() == 0
    # serving from the deserialized artifact == serving from training
    q = vectors.filter(F.col("vec_id") < 2)
    served = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sq8_topk(
            vectors, q, k=3, dim=8,
            bounds=sq8_bounds_from_json(sq8_bounds_to_json(a)),
        ).collect()
    }
    trained = {
        (r["query_id"], r["rank"], r["neighbor_id"])
        for r in sq8_topk(vectors, q, k=3, dim=8).collect()
    }
    assert served == trained and served


def test_sq8_ann_recall_on_testdata(spark):
    """Recall@3 of the SQ8 path vs the exact path on the driver's sf0.01
    embeddings — the registered emb_knn_sq8 parameters (dim=64 uint8
    codes, refine=32 since r14: the 690-pair 200k-vector artifact read
    0.9971 at refine=8, PQ's near-dup tie pressure in miniature) must
    stay >= 0.9 on the isotropic worst case (1.000 measured; exact
    min/max training makes this a fixed number, not a flake)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_sq8"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"SQ8 recall@3 = {recall:.2f} < 0.9"


@pytest.fixture(scope="module")
def labeled_docs(spark):
    # two dialects sharing half their vocabulary: positive docs mix
    # shared tokens with 'alpha/beta', negatives with 'gamma/delta' —
    # plus one ambiguous doc that is mostly shared tokens
    rows = []
    for i in range(20):
        pos = i % 2 == 0
        marked = ["alpha", "beta"] if pos else ["gamma", "delta"]
        toks = []
        for j in range(30):
            # 2/3 of instances carry class signal: the majority-vote
            # pooling predicts by instance majority, so discriminative
            # tokens must outnumber ambiguous shared ones per doc
            toks.append(
                marked[j % 2] if j % 3 != 0 else f"shared{(i * 7 + j) % 9}"
            )
        rows.append((i, " ".join(toks), pos))
    return spark.createDataFrame(
        rows, "doc_id long, text string, is_pos boolean"
    )


def test_nb_classifier_learns_separable_signal(labeled_docs):
    """On a corpus whose classes have genuinely different token
    distributions, the token-vote classifier must (a) reach 100% on a
    leakage-free held-out half, (b) train partition-invariantly (the
    stats artifact is exact BIGINT counts — any partitioning agrees),
    and (c) score unseen tokens deterministically (absent from the
    artifact -> both classes smooth to 1)."""
    from mempool_dumpster_spark.ml.selection import nb_predict, nb_train

    train = labeled_docs.filter(F.col("doc_id") < 10)
    test = labeled_docs.filter(F.col("doc_id") >= 10)
    stats, totals = nb_train(train, F.col("is_pos"))
    assert totals["vocab"] > 0 and totals["n_pos"] > 0
    pred = {
        r["doc_id"]: r["predicted"]
        for r in nb_predict(test, stats, totals).collect()
    }
    actual = {
        r["doc_id"]: int(r["is_pos"]) for r in test.collect()
    }
    assert pred == actual  # 100% on the separable held-out half

    # (b) partition invariance of the trained artifact
    s2, t2 = nb_train(train.repartition(7), F.col("is_pos"))
    assert t2 == totals
    assert sorted(map(tuple, stats.collect())) == sorted(
        map(tuple, s2.collect())
    )

    # (c) a doc of entirely unseen tokens: both classes smooth to c+1=1,
    # so the vote is (n_neg+V) > (n_pos+V) — it falls to the class with
    # FEWER training token instances. Pinned in BOTH directions with
    # deliberately unbalanced training slices (the balanced fixture
    # above has n_pos == n_neg, which masks an inverted comparison).
    spark = labeled_docs.sparkSession
    unseen = spark.createDataFrame(
        [(99, "zzz yyy xxx")], "doc_id long, text string"
    )
    s_posheavy, t_posheavy = nb_train(
        labeled_docs.filter(F.col("doc_id") < 9), F.col("is_pos")
    )  # 5 pos / 4 neg docs -> n_pos > n_neg -> unseen votes go NEGATIVE
    assert t_posheavy["n_pos"] > t_posheavy["n_neg"]
    row = nb_predict(unseen, s_posheavy, t_posheavy).collect()[0]
    assert row["n_tok"] == 3 and row["pos_votes"] == 0

    s_negheavy, t_negheavy = nb_train(
        labeled_docs.filter(
            (F.col("doc_id") >= 1) & (F.col("doc_id") < 10)
        ),
        F.col("is_pos"),
    )  # 4 pos / 5 neg docs -> n_neg > n_pos -> unseen votes positive
    assert t_negheavy["n_neg"] > t_negheavy["n_pos"]
    row = nb_predict(unseen, s_negheavy, t_negheavy).collect()[0]
    assert row["n_tok"] == 3 and row["pos_votes"] == 3


def test_bq_topk_exact_on_separated_clusters(vectors):
    """BQ on the clustered 8-d fixture: with refine covering the pool,
    the sign-code shortlist + exact re-rank reproduces the exact top-3
    sets with bit-identical sims (quantization only decides WHICH pairs
    reach the re-rank, same contract as SQ8). Also pins the multi-word
    path (dim=8 → one word) and the empty-query guard."""
    from mempool_dumpster_spark.ml.similarity import bq_topk

    q = vectors.filter(F.col("vec_id") < 3)
    exact = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in cosine_topk(vectors, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in bq_topk(vectors, q, k=3, dim=8, refine=10).collect()
    }
    assert set(approx) == set(exact)
    for pair, sim in approx.items():
        assert sim == exact[pair]

    empty_q = vectors.filter(F.col("vec_id") < 0)
    out = bq_topk(vectors, empty_q, k=3, dim=8)
    assert out.columns == ["query_id", "neighbor_id", "sim", "rank"]
    assert out.count() == 0
    with pytest.raises(ValueError, match="dim must be"):
        bq_topk(vectors, q, k=3, dim=0)


def test_bq_ann_recall_on_testdata(spark):
    """Recall@3 of the 1-bit sign-code path vs the exact path on the
    driver's sf0.01 embeddings — the registered emb_knn_bq parameters
    (dim=64 → one BIGINT word, refine=32 oversampling) must stay >= 0.9
    on the isotropic worst case (0.933 measured; the code has no
    trained state, so this is a fixed number, not a flake)."""
    import os

    sf_dir = "/root/testdata/sf0.01"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    from mempool_dumpster_spark.plans.registry import all_queries

    qs = all_queries()
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn"](spark, sf_dir).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in qs["emb_knn_bq"](spark, sf_dir).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"BQ recall@3 = {recall:.2f} < 0.9"


def test_wordpiece_greedy_longest_match(spark):
    """Hand-computed greedy rule: longest vocabulary prefix wins at each
    position, unknown chars pass through as themselves (the lenient
    [UNK] stand-in), and concatenation reconstructs the input."""
    from mempool_dumpster_spark.ml.text import wordpiece_encode

    df = spark.createDataFrame(
        [(0, "the table that"), (1, "xyz")], "doc_id long, text string"
    )
    rows = {
        r["doc_id"]: r
        for r in wordpiece_encode(
            df, ["th", "the", " t", " table", "at"]
        ).collect()
    }
    # "the" -> [the] (longest wins over th); " that" -> [' t','h','at']
    assert rows[0]["wp_tokens"] == ["the", " table", " t", "h", "at"]
    assert rows[1]["wp_tokens"] == ["x", "y", "z"]  # all-unknown channel
    for r in rows.values():
        assert "".join(r["wp_tokens"]) == r["text"]
        assert r["n_wp_tokens"] == len(r["wp_tokens"])
    with pytest.raises(ValueError, match="non-empty"):
        wordpiece_encode(df, [])


def _reference_unigram_train(tok_counts, vocab_size, max_piece_len,
                             n_iters, min_count, prune_frac):
    """Independent pure-Python re-implementation of the unigram trainer's
    contract (substring seeding, Viterbi hard-EM with the (cost,
    n_pieces, sequence) tie rule, -log(count/total) M-step with the
    0.5-use floor, prune-worst-multi-char loop) used to pin
    ml.text.unigram_train piece-for-piece."""
    import math
    from collections import Counter

    def viterbi(tok, costs, unk):
        best = [None] * (len(tok) + 1)
        best[0] = (0.0, 0, ())
        for i in range(1, len(tok) + 1):
            cand = None
            for ln in range(1, min(max(map(len, costs)), i) + 1):
                piece = tok[i - ln : i]
                prev = best[i - ln]
                if prev is None:
                    continue
                c = costs.get(piece)
                if c is None:
                    if ln > 1:
                        continue
                    c = unk
                key = (round(prev[0] + c, 12), prev[1] + 1,
                       prev[2] + (piece,))
                if cand is None or key < cand:
                    cand = key
            best[i] = cand
        return best[len(tok)][2]

    subs = Counter()
    for tok, cnt in tok_counts.items():
        for i in range(len(tok)):
            for ln in range(1, min(max_piece_len, len(tok) - i) + 1):
                subs[tok[i : i + ln]] += cnt
    pieces = {p for p, c in subs.items() if len(p) == 1 or c >= min_count}
    total0 = sum(subs[p] for p in pieces)
    costs = {p: -math.log(subs[p] / total0) for p in pieces}
    while True:
        for _ in range(n_iters):
            unk = max(costs.values()) + 10.0
            used = Counter()
            for tok, cnt in tok_counts.items():
                for piece in viterbi(tok, costs, unk):
                    used[piece] += cnt
            total = sum(used.get(p, 0) for p in costs) or 1
            floor_c = -math.log(0.5 / total)
            costs = {
                p: (-math.log(used[p] / total) if used.get(p) else floor_c)
                for p in costs
            }
        multi = [p for p in costs if len(p) > 1]
        if len(costs) <= vocab_size or not multi:
            break
        n_drop = max(1, int(len(multi) * prune_frac))
        n_drop = min(n_drop, len(costs) - vocab_size, len(multi))
        for p in sorted(multi, key=lambda p: (used.get(p, 0), p))[:n_drop]:
            del costs[p]
    return sorted(costs.items(), key=lambda kv: (round(kv[1], 12), kv[0]))


def test_unigram_train_reference_pin_and_invariance(spark):
    """The distributed trainer must match the independent pure-Python
    reference piece-for-piece AND cost-for-cost on a small corpus, and
    train bit-identically for any input partitioning (exact integer
    E-step counts + the deterministic tie discipline)."""
    import re

    from mempool_dumpster_spark.ml.text import unigram_train

    texts = [
        "the table holds the data",
        "a fast table scan",
        "data tables scan fast",
        "the the the scan",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    model = unigram_train(
        df, vocab_size=24, max_piece_len=4, n_iters=2, min_count=2
    )
    # reference pretokenization: GPT-2 pattern on this corpus = words
    # with their leading space (Java/Python agree on this ASCII subset)
    from collections import Counter

    toks = Counter()
    for t in texts:
        for m in re.findall(r" ?[A-Za-z]+", t):
            toks[m] += 1
    ref = _reference_unigram_train(
        toks, vocab_size=24, max_piece_len=4, n_iters=2, min_count=2,
        prune_frac=0.2,
    )
    assert [p for p, _ in model] == [p for p, _ in ref]
    for (_, a), (_, b) in zip(model, ref):
        assert abs(a - b) < 1e-12
    m2 = unigram_train(
        df.repartition(7), vocab_size=24, max_piece_len=4, n_iters=2,
        min_count=2,
    )
    assert m2 == model
    # r16 dual-path parity: driver_max_pretokens=0 forces the distributed
    # mapInPandas E-step (the web-scale-vocabulary path); the default runs
    # the bounded driver-side fold. Same integer arithmetic, same model —
    # the duplicate_components dual-path discipline.
    m3 = unigram_train(
        df, vocab_size=24, max_piece_len=4, n_iters=2, min_count=2,
        driver_max_pretokens=0,
    )
    assert m3 == model


def test_unigram_viterbi_optimality_and_roundtrip(spark):
    """Viterbi vs brute force: on every segmentation of short tokens the
    encoder's pick must have minimal (cost, n_pieces, sequence); the
    model JSON artifact round-trips bit-for-bit; encoding reconstructs."""
    from itertools import combinations

    from mempool_dumpster_spark.ml.text import (
        _viterbi_segment,
        unigram_encode,
        unigram_model_from_json,
        unigram_model_to_json,
        unigram_train,
    )

    scores = {"a": 1.0, "b": 1.2, "ab": 1.9, "ba": 3.5, "aba": 3.1,
              "bb": 2.0}
    unk = max(scores.values()) + 10.0
    for tok in ["abab", "bbaab", "ababa", "zza", "b"]:
        got = _viterbi_segment(tok, scores, 3, unk)
        best = None
        n = len(tok)
        for k in range(n):
            for cuts in combinations(range(1, n), k):
                bounds = [0, *cuts, n]
                seg = [tok[bounds[i]:bounds[i + 1]]
                       for i in range(len(bounds) - 1)]
                cost = 0.0
                ok = True
                for p in seg:
                    if p in scores:
                        cost += scores[p]
                    elif len(p) == 1:
                        cost += unk
                    else:
                        ok = False
                        break
                if not ok:
                    continue
                key = (round(cost, 12), len(seg), tuple(seg))
                if best is None or key < best:
                    best = key
        assert tuple(got) == best[2], f"{tok}: {got} vs {best}"
        assert "".join(got) == tok

    docs = spark.createDataFrame(
        [(0, "abab zza bb")], "doc_id long, text string"
    )
    model = unigram_train(docs, vocab_size=16, max_piece_len=3, n_iters=1,
                          min_count=1)
    assert unigram_model_from_json(unigram_model_to_json(model)) == model
    with pytest.raises(ValueError, match="not a unigram model"):
        unigram_model_from_json('{"format": "sq8-bounds-v1"}')
    enc = unigram_encode(docs, model)
    r = enc.collect()[0]
    assert "".join(r["unigram_tokens"]) == r["text"]
    with pytest.raises(ValueError, match="non-empty"):
        unigram_encode(docs, [])


def test_unigram_train_n_iters_guard(spark):
    """Review regression: n_iters=0 used to reach the prune step with no
    E-step counts bound (NameError); now a loud ValueError."""
    from mempool_dumpster_spark.ml.text import unigram_train

    df = spark.createDataFrame([(0, "aa ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="n_iters must be >= 1"):
        unigram_train(df, vocab_size=2, n_iters=0)


def test_unigram_seed_cap_bounded_and_nonbinding(spark):
    """r11 (verdict #2): candidate seeding runs IN SPARK — substring
    explode + one grouped BIGINT aggregate over the vocabulary table, so
    the distinct-pretoken set never reaches the driver — and is budgeted
    by max_seed_pieces. The default budget must be non-binding on small
    corpora (model identical to uncapped), and a tiny binding cap must
    still keep every single char (the encodability floor) and at most
    `cap` multi-char pieces."""
    from mempool_dumpster_spark.ml.text import unigram_train

    texts = [
        "the table holds the data",
        "a fast table scan",
        "data tables scan fast",
        "the the the scan",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    kw = dict(vocab_size=24, max_piece_len=4, n_iters=2, min_count=2)
    default = unigram_train(df, **kw)
    uncapped = unigram_train(df, max_seed_pieces=None, **kw)
    assert default == uncapped
    capped = unigram_train(df, max_seed_pieces=3, **kw)
    chars = {p for p, _ in capped if len(p) == 1}
    assert chars == {c for t in texts for c in t}
    assert len([p for p, _ in capped if len(p) > 1]) <= 3


def test_sq8_inverted_bounds_artifact_rejected():
    """r10 advisory: a corrupted/hand-edited bounds artifact with hi < lo
    used to silently zero delta/inv in sq8_topk (codes collapse to 0,
    recall degrades); the loader now fails loudly like the other artifact
    loaders."""
    from mempool_dumpster_spark.ml.similarity import (
        sq8_bounds_from_json,
        sq8_bounds_to_json,
    )

    payload = sq8_bounds_to_json([[0.0, 0.5], [1.0, 0.25]])
    with pytest.raises(ValueError, match="inverted"):
        sq8_bounds_from_json(payload)


def test_nb_train_excludes_null_labels(spark):
    """r10 advisory: rows whose label casts to NULL are unlabeled, not
    negative — they used to be routed to c_neg via when(...).otherwise(0).
    They are now excluded from training entirely."""
    from mempool_dumpster_spark.ml.selection import nb_train

    df = spark.createDataFrame(
        [
            (0, "alpha alpha", True),
            (1, "beta beta", False),
            (2, "poison poison", None),
        ],
        "doc_id long, text string, lab boolean",
    )
    stats, totals = nb_train(df, F.col("lab"))
    toks = {r["token"]: (r["c_pos"], r["c_neg"]) for r in stats.collect()}
    assert "poison" not in toks
    assert toks["alpha"] == (2, 0) and toks["beta"] == (0, 2)
    assert totals == {"n_pos": 2, "n_neg": 2, "vocab": 2}


def test_pretoken_digest_twins_preserve_empty_docs(spark):
    """r10 advisory: the digest twins dropped zero-pretoken docs via the
    inner explode+join while sibling docs_bpe_encode preserved them as
    (0, ''); the Spark helper and the digest oracles now LEFT JOIN back
    to the input so the row-preservation contract matches across the
    twin families — empty-text docs appear as (0, 0)."""
    from mempool_dumpster_spark.ml.text import bpe_encode
    from mempool_dumpster_spark.plans.text_queries import (
        _BPE_ENCODE_MERGES,
        _pretoken_digest,
    )

    docs = spark.createDataFrame(
        [(0, "the table"), (1, ""), (2, "data")],
        "doc_id long, text string",
    )

    def encode_vocab(toks):
        return bpe_encode(toks, _BPE_ENCODE_MERGES).select(
            F.col("text").alias("tok"),
            F.col("n_bpe_tokens").alias("n_syms"),
            F.array_join(F.col("bpe_tokens"), "~").alias("js"),
        )

    out = {
        r["doc_id"]: (r["n_bpe_tokens"], r["seg_digest"])
        for r in _pretoken_digest(
            docs, encode_vocab, "n_bpe_tokens"
        ).collect()
    }
    assert set(out) == {0, 1, 2}
    assert out[1] == (0, 0)
    assert out[0][0] > 0 and out[2][0] > 0


def test_pretrained_quantized_dim_guard(spark, tmp_path):
    """The pretrained SQ8/BQ query paths must validate the dim contract
    against the persisted table like append_* already does (r12 advice):
    scoring a word/code PREFIX of a wider table is silently wrong —
    plausible neighbors, wrong ranking — so a mismatched dim is a hard
    error, not a degraded answer."""
    from mempool_dumpster_spark.ml.similarity import (
        bq_topk_pretrained,
        sq8_topk_pretrained,
        train_sq8_bounds,
        write_bq_index,
        write_sq8_index,
    )

    rows = []
    for i in range(20):
        vec = [0.05 * ((i * 7 + d) % 5) for d in range(64)]
        vec[i % 3] += 10.0
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 2")

    write_sq8_index(
        emb, "dim_guard_sq8", dim=64, path=str(tmp_path / "sq8_idx")
    )
    narrow = emb.select(
        "vec_id", F.slice("embedding", 1, 8).alias("embedding")
    )
    wrong_bounds = train_sq8_bounds(narrow, "embedding", 8)
    with pytest.raises(ValueError, match="built at a different dim"):
        sq8_topk_pretrained(
            spark, "dim_guard_sq8", narrow, narrow.filter("vec_id < 2"),
            bounds=wrong_bounds, dim=8, k=3,
        )

    write_bq_index(
        emb, "dim_guard_bq", dim=64, path=str(tmp_path / "bq_idx")
    )
    wide = emb.select(
        "vec_id",
        F.concat("embedding", "embedding").alias("embedding"),
    )
    with pytest.raises(ValueError, match="built at a different dim"):
        bq_topk_pretrained(
            spark, "dim_guard_bq", wide, wide.filter("vec_id < 2"),
            dim=128, k=3,
        )

    # the matching dim still serves
    assert sq8_topk_pretrained(
        spark, "dim_guard_sq8", emb, q,
        bounds=train_sq8_bounds(emb, "embedding", 64), dim=64, k=3,
    ).count() > 0
