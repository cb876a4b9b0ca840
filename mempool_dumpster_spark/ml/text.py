"""Text-analysis operators for corpus curation: token counting, quality
scoring, language identification, document fingerprinting. All JVM-side
Column algebra (no UDFs) so they ride whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mempool_dumpster_spark.ml.dedup import shingles, words

#: Minimal stopword profiles for the language-ID heuristic; extend per
#: deployment. Scores are tf ratios of profile hits.
DEFAULT_LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "une"],
    "es": ["el", "la", "los", "y", "es", "una"],
}


def token_count(text: Column | str = "text") -> Column:
    """Whitespace tokenizer count. For a BPE-ish estimate use
    `subword_estimate` (≈ chars/4 heuristic used by LLM data pipelines)."""
    return F.size(words(text)).cast("bigint")


def subword_estimate(text: Column | str = "text") -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.ceil(F.length(c) / 4).cast("bigint")


#: GPT-2-style BPE pre-tokenizer pattern, simplified to be RE2-compatible
#: (the original's trailing `\s+(?!\S)` negative lookahead is dropped —
#: RE2 has no lookahead, and the cross-engine oracle runs on RE2): English
#: contractions, optionally space-prefixed letter runs / digit runs /
#: punctuation runs, then residual whitespace. Each match is one
#: pre-token — the unit a BPE tokenizer would merge within.
PRETOKEN_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"
)


def pretoken_count(text: Column | str = "text") -> Column:
    """Count of BPE pre-tokenizer segments — the tokenizer-shaped budget
    estimate between the whitespace count (undercounts punctuation/digit
    splits) and chars/4 (`subword_estimate`, ignores token structure).
    One JVM regexp_count, codegen'd — scalar-map cost at any scale."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_count(c, F.lit(PRETOKEN_PATTERN)).cast("bigint")


def stopword_hits(text_words: Column, profile: list[str]) -> Column:
    """Count of tokens that appear in `profile` (array_contains chain over a
    literal array — broadcastable, codegen'd)."""
    lit = F.array(*[F.lit(w) for w in profile])
    return F.size(F.filter(text_words, lambda w: F.array_contains(lit, w)))


def quality_features(
    df: DataFrame, text_col: str = "text", stopwords: list[str] | None = None
) -> DataFrame:
    """Length / word-shape / stopword-ratio features — the standard cheap
    quality filters of LLM corpus pipelines (drop too-short, too-repetitive,
    stopword-free docs)."""
    # Materialize the token array ONCE in its own projection: it is
    # referenced five times below, and Catalyst's CollapseProject keeps
    # a separate Project alive when inlining would duplicate a non-cheap
    # expression — so split() runs once per row instead of 5×.
    df = df.withColumn("__words", words(text_col))
    w = F.col("__words")
    ntok = F.size(w).cast("bigint")
    text = F.col(text_col)
    profile = stopwords or DEFAULT_LANG_PROFILES["en"]
    return df.withColumns(
        {
            "n_chars": F.length(text).cast("bigint"),
            "n_tokens": ntok,
            "n_distinct_tokens": F.size(F.array_distinct(w)).cast("bigint"),
            "avg_word_len": (F.length(text) - ntok + 1).cast("double") / ntok,
            "stopword_ratio": stopword_hits(w, profile).cast("double") / ntok,
            "distinct_ratio": F.size(F.array_distinct(w)).cast("double") / ntok,
        }
    ).drop("__words")


def quality_score(df: DataFrame) -> DataFrame:
    """Composite [0,1] score from `quality_features` columns: penalize
    ultra-short docs, low lexical diversity, and stopword-free text."""
    length_ok = F.least(F.col("n_tokens") / 20.0, F.lit(1.0))
    diversity = F.least(F.col("distinct_ratio") * 2, F.lit(1.0))
    stopword_ok = F.least(F.col("stopword_ratio") * 10, F.lit(1.0))
    return df.withColumn(
        "quality_score", (length_ok + diversity + stopword_ok) / 3.0
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Stopword-profile language ID: score = profile-hit ratio per language,
    predicted = argmax (ties broken by language code for determinism).

    N-gram-free by design — profile hits are exact token matches, which a
    follow-up char-n-gram model can refine; at 100 TB this stays a single
    projection with no shuffle.

    The token array is materialized once in its own projection (each
    language's score references it twice; CollapseProject won't
    re-inline a non-cheap expression used more than once) — measured 6×
    on the per-doc cost vs re-splitting per language."""
    df = df.withColumn("__words", words(text_col))
    w = F.col("__words")
    profs = profiles or DEFAULT_LANG_PROFILES
    ntok = F.size(w)
    scored = F.array(
        *[
            F.struct(
                (stopword_hits(w, p).cast("double") / ntok).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, p in sorted(profs.items())
        ]
    )
    # argmax reads the materialized lang_scores COLUMN, not the scored
    # expression — otherwise the per-language scoring runs twice per row
    best = F.array_max(F.col("lang_scores"))
    return (
        df.withColumn("lang_scores", scored)
        .withColumn(
            "predicted_lang",
            F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und")),
        )
        .drop("__words")
    )


def with_gopher_stats(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Append the three per-document statistics gopher_rules gates on as
    ROW-LOCAL columns — n_words (BIGINT), top_word_count (BIGINT:
    occurrences of the most-frequent word), total_chars (BIGINT: summed
    word lengths). Zero shuffle; null-text rows are dropped (matching
    the explode form's semantics, where split(NULL) exploded to no
    rows).

    top_word_count = longest run in the SORTED token array, computed as
    one fold: adjacent-equality flags (zip_with of the sorted array
    against its own 1-shifted slice), then an aggregate() whose BIGINT
    state packs (current run << 32 | best run) — run resets to 0 on an
    unequal pair, best = max. longest-equal-run + 1 IS max(count per
    distinct word), in exact integers.

    SUBSTITUTION SAFETY IS LOAD-BEARING: this expression is ONE
    self-contained tree whose lambdas touch only their own variables,
    and no non-cheap subexpression is referenced more than twice (the
    sorted array appears exactly twice, so a fully-inlined copy costs
    two per-ROW sorts, never per-element work). That matters because
    PushDownPredicates substitutes Project aliases into a pushed filter
    UNCONDITIONALLY — `gopher_rules(df).filter("keep")`, the prep-gate
    shape, inlines whatever tree defines these columns. Two measured
    failure modes at 200 k docs: an index-diff run-length form whose
    filter() lambda read the sorted array via get() — after pushdown
    the sort re-inlined PER ELEMENT, 175 µs/doc (vs 3.6 projected, 10
    sort_array copies in the optimized plan); and a struct-state
    (prev, run, best) fold — safe but 13.5 µs/doc (a struct built per
    token). This packed-bits form measures ~4 µs/doc as a projection
    AND stays O(n log n)/row under full substitution.

    total_chars needs no pass at all: split on single-space means every
    separator is exactly one char, so sum(length(word)) ==
    length(text) - (n_words - 1) — exact for any text, including
    consecutive spaces (empty-string words) and the empty document.
    """
    w = F.col("__w")
    n = F.size(w)
    mask = F.lit((1 << 32) - 1).cast("long")
    eqs = F.zip_with(
        F.sort_array(w),
        F.slice(F.sort_array(w), 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: a.eqNullSafe(b).cast("long"),
    )
    folded = F.aggregate(
        eqs,
        F.lit(0).cast("long"),
        lambda acc, x: F.shiftleft(
            (F.shiftright(acc, 32) + F.lit(1)) * x, 32
        ).bitwiseOR(
            F.greatest(
                acc.bitwiseAND(mask),
                (F.shiftright(acc, 32) + F.lit(1)) * x,
            )
        ),
    )
    top = F.when(n > 0, folded.bitwiseAND(mask) + 1).otherwise(F.lit(0))
    return (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__w", words(text_col))
        .withColumns(
            {
                "n_words": n.cast("bigint"),
                "top_word_count": top.cast("bigint"),
                "total_chars": (F.length(text_col) - n + 1).cast("bigint"),
            }
        )
        .drop("__w")
    )


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 30,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.8,
    max_mean_word_len: float = 5.0,
    max_top_word_ratio: float = 0.12,
) -> DataFrame:
    """Gopher-style corpus filter rules (Rae et al. 2021 §A1.1; the same
    family as C4's heuristics): word-count bounds, mean-word-length band,
    and a repetition gate on the most-frequent word's share of the document
    — the cheap structural filters every LLM pre-training pipeline runs
    before dedup. `keep` is the conjunction.

    Plan (r16): a pure ROW-LOCAL projection — zero Exchange. The previous
    form exploded to words and aggregated twice (shuffling the distinct
    (doc, word) pairs, ∝ corpus size); all three statistics are
    per-document folds over that document's own tokens, so they now
    compute inside the row via with_gopher_stats (guide §2.4: remove
    shuffles outright). At 100 TB this is one scan with no network —
    and it is ALSO 1.6× cheaper on pure CPU than the shuffle form at
    bench scale (see the A/B notes on with_gopher_stats). Results are
    identical exact integers: the sorted-run arithmetic IS max(per-word
    count), and the NOT-NULL filter reproduces the explode form's drop
    of null-text docs (split(NULL) exploded to zero rows). Ratios stay
    double-division of exact BIGINTs — bit-identical cross-engine, so
    the thresholds compare deterministically in the DuckDB oracle too.
    """
    per_doc = with_gopher_stats(df, text_col=text_col).select(
        F.col(id_col), "n_words", "top_word_count", "total_chars"
    )
    mean_len = F.col("total_chars").cast("double") / F.col("n_words")
    top_ratio = F.col("top_word_count").cast("double") / F.col("n_words")
    return per_doc.select(
        F.col(id_col),
        F.col("n_words"),
        mean_len.alias("mean_word_len"),
        top_ratio.alias("top_word_ratio"),
        (
            F.col("n_words").between(min_words, max_words)
            & (mean_len >= min_mean_word_len)
            & (mean_len <= max_mean_word_len)
            & (top_ratio <= max_top_word_ratio)
        ).alias("keep"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k salient terms by a TF-IDF-style score — the
    keyword-extraction primitive of corpus exploration/labeling pipelines.

    Score = tf / df (term count over document frequency). Classic TF-IDF
    multiplies by ln(N/df), but ln() is libm-dependent (breaks bit-exact
    cross-engine oracles) and the corpus size N is one constant over every
    scored row, so it cannot change any per-document ranking — dropping it
    removes a whole join from the plan. tf/df is a BIGINT÷BIGINT double:
    IEEE-deterministic in any engine. Ties break on the term itself so
    top-k is deterministic.

    Plan: (doc,term) counts and the term document-frequency both
    partial-aggregate map-side; the single tf⋈df join keys on term —
    broadcast when the vocabulary fits (Catalyst/AQE decides),
    shuffle-on-term otherwise, either way ∝ vocab not tokens; final top-k
    is one window per doc over ≤ vocab rows."""
    from pyspark.sql import Window

    w = df.select(F.col(id_col), F.explode(words(text_col)).alias("term"))
    tf = w.groupBy(id_col, "term").agg(F.count("*").alias("c"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    scored = tf.join(dfreq, "term").select(
        F.col(id_col),
        "term",
        (F.col("c").cast("double") / F.col("dfreq")).alias("score"),
    )
    rank_w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= k)
    )


# --- PII redaction -----------------------------------------------------------

#: conservative structural patterns — emails, 0x-hex blobs (this corpus's
#: domain-specific identifier), IPv4, and phone-ish digit runs. Pure-regex
#: detection: JVM-side regexp_replace/regexp_count, whole-stage codegen'd,
#: no Python in the loop. ORDER IS LOAD-BEARING and enforced by applying
#: patterns sequentially to the partially-redacted text: email, hex ids and
#: IPs are consumed before the greedy phone pattern, so the digit run
#: inside `0xdeadbeef1234...` or `192.168.100.100` can't be mangled into
#: `[PHONE]` (a ≥9-digit decimal run occurs in most 64-char tx hashes).
#: The phone pattern is STRUCTURAL, not "any long digit run": an earlier
#: `\+?\d[\d\s().-]{7,}\d` form matched every spaced/dotted digit run of
#: ~9+ chars and destroyed benign numeric prose ('2024 2025 2026',
#: '1 000 000.00') into [PHONE]. The replacement is an alternation of the
#: three shapes real phone numbers take — international (+CC ...),
#: parenthesized-area-code, and 3-3-4 separated — each requiring its
#: grouping punctuation in place, so free-standing years/amounts/dates
#: never match. Deliberately RE2-compatible (no lookahead), so the exact
#: same patterns run in the DuckDB oracle.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "hex_id": r"\b0x[0-9a-fA-F]{8,}\b",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": (
        r"\+\d{1,3}[\s.-]?\(?\d{1,4}\)?(?:[\s.-]\d{2,4}){1,3}\b"
        r"|\(\d{3}\)[\s.-]?\d{3}[\s.-]\d{4}\b"
        r"|\b\d{3}[\s.-]\d{3}[\s.-]\d{4}\b"
    ),
}


def redact_pii(
    df, text_col: str = "text", patterns: dict[str, str] | None = None
):
    """Replace each PII pattern match with `[<KIND>]` and count matches per
    kind — the compliance pass a corpus runs between filtering and
    packing. Adds `<text_col>_redacted` plus one `n_<kind>` LONG column
    per pattern. Patterns apply SEQUENTIALLY to the progressively-redacted
    text, and each count is taken at that same stage — so `n_<kind>`
    equals the number of `[<KIND>]` placeholders actually in the output
    (an email's digits are never also counted as a phone). One projection,
    zero shuffles, codegen'd regex — the cost profile of any scalar map at
    100 TB. Redaction is substitution, not detection-grade NER: patterns
    are structural, the conservative default for pre-training scrubbing."""
    pats = patterns or PII_PATTERNS
    out = df
    red = F.col(text_col)
    for kind, pat in pats.items():
        out = out.withColumn(
            f"n_{kind}", F.regexp_count(red, F.lit(pat)).cast("long")
        )
        red = F.regexp_replace(red, pat, f"[{kind.upper()}]")
    return out.withColumn(f"{text_col}_redacted", red)


# --- document chunking -------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    max_tokens: int = 512,
    overlap: int = 0,
    chunk_col: str = "chunk_text",
) -> DataFrame:
    """Split documents into fixed-token-budget chunks with optional overlap
    — the upstream producer for `ml.packing.pack_sequences` (which flags
    docs longer than its budget as `oversize` and tells you to pre-split
    them here) and for embedding models with bounded context windows.

    Chunk i covers tokens [i·stride, i·stride + max_tokens) with
    stride = max_tokens − overlap; the last chunk is short rather than
    padded, and a doc of ≤ max_tokens tokens yields exactly one chunk.
    Adds `chunk_id` (0-based LONG), `<chunk_col>`, and `n_chunk_tokens`.

    Pure column algebra — tokens array, one `sequence`+`explode`, one
    `slice` per chunk — so the whole operator is JVM-side codegen with NO
    Python in the loop; output rows ∝ input tokens / stride, and the
    explode is pipelined into the scan (no shuffle at all)."""
    if not (0 <= overlap < max_tokens):
        raise ValueError(f"need 0 <= overlap < max_tokens, got {overlap}/{max_tokens}")
    stride = max_tokens - overlap
    w = words(text_col)
    n = F.size(w)
    n_chunks = F.when(n <= max_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(overlap)) / F.lit(stride)).cast("int")
    )
    start = F.col("chunk_id").cast("int") * stride  # 0-based token offset
    return (
        df.withColumn("__toks", w)
        .withColumn("__n", n)
        .withColumn("chunk_id", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
        .withColumn(
            chunk_col,
            F.array_join(F.slice(F.col("__toks"), start + 1, max_tokens), " "),
        )
        .withColumn(
            "n_chunk_tokens",
            F.least(F.lit(max_tokens), F.col("__n") - start).cast("long"),
        )
        .withColumn("chunk_id", F.col("chunk_id").cast("long"))
        .drop("__toks", "__n")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
) -> DataFrame:
    """Per-document duplicate word-n-gram fraction — the Gopher-style
    repetition signal (machine-generated and template text repeats itself;
    high dup_frac documents are dropped or downweighted before training).

    Output: (id, n_grams, n_distinct, dup_frac) where dup_frac =
    (n_grams - n_distinct) / n_grams (0.0 for docs shorter than n words).

    ZERO shuffle: the gram array is built once per row and reduced with
    size/array_distinct — a pure projection that rides whole-stage codegen;
    at 100 TB this costs exactly one scan, no network. (The two size()
    references share the materialized `__g` column; worst case Catalyst's
    project collapse re-inlines it, which doubles CPU on this row-local
    expression but never adds exchange or memory pressure.)"""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    total = F.size(F.col("__g"))
    distinct = F.size(F.array_distinct(F.col("__g")))
    frac = F.when(
        total > 0,
        (total - distinct).cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))
    return (
        df.withColumn("__g", shingles(text_col, k=n))
        .select(
            id_col,
            total.cast("long").alias("n_grams"),
            distinct.cast("long").alias("n_distinct"),
            frac.alias("dup_frac"),
        )
    )


def boilerplate_ngrams(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document boilerplate mining: word n-grams ranked by how many
    DISTINCT documents contain them. Headers, footers, license blurbs, and
    injected benchmark strings surface at the top; the result feeds strip
    rules or a contamination review (the cross-corpus complement of
    ml.decontam.contamination's benchmark-vs-corpus direction).

    Output: (shingle, n_docs) for n-grams in >= min_docs documents.

    Plan: within-document dedup happens in the ROW via array_distinct
    (no pre-shuffle of exploded rows), so each doc emits each gram once
    and the count(*) after the single groupBy shuffle IS the distinct-doc
    count. Map-side partial agg collapses popular grams before the wire;
    shuffle volume is bounded by per-partition distinct grams, not corpus
    tokens."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    return (
        df.select(
            F.col(id_col),
            F.explode(F.array_distinct(shingles(text_col, k=n))).alias("shingle"),
        )
        .groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Adjacent character-pair frequencies within BPE pre-tokens — the
    statistic behind the FIRST merge round of byte-pair-encoding vocab
    training (and the corpus-side input to any subsequent round: replace
    the winning pair, recount). Computing it over 100 TB is the canonical
    "tokenizer induction" job.

    Pipeline: regexp_extract_all with the GPT-2-style pre-tokenizer
    (PRETOKEN_PATTERN, leading-space convention preserved so ' t'+'he'
    style merges are learnable) → per-token adjacent pairs via a
    sequence/transform slice (tokens shorter than 2 chars emit nothing —
    guarded BEFORE sequence(), whose descending form would throw) → one
    map-side-combined count per pair. All JVM codegen; the only shuffle
    carries (pair, partial_count) rows bounded by alphabet², not corpus
    size."""
    toks = df.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_PATTERN), 0)
        ).alias("tok")
    ).filter(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, char_length(tok) - 1),"
                " i -> substring(tok, i, 2))"
            )
        ).alias("pair")
    )
    return pairs.groupBy("pair").agg(F.count("*").alias("n"))


def bpe_learn(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    checkpoint_every: int = 8,
    merges_per_scan: int | str = 8,
    max_merges_per_scan: int = 256,
    stats: dict | None = None,
) -> list[tuple[str, str, int]]:
    """Learn `n_merges` BPE merges from the corpus — the full iterative
    tokenizer-induction loop on top of `bpe_pair_counts`' single-round
    statistic. Returns [(left, right, pair_count), ...] in merge order.

    Scan structure (the standard BATCHED BPE trainer, distributed):
      1. pair counts over the CURRENT symbol arrays — pure column algebra
         (transform over index sequence + explode + count), shuffle bounded
         by the live pair vocabulary;
      2. the top candidate pairs come to the driver (a few dozen tiny
         rows; total order `count desc, left, right` so training is
         deterministic), and up to `merges_per_scan` NON-INTERACTING pairs
         are selected greedily in rank order. Non-interacting means: no
         shared symbol with a selected pair, no symbol equal to a selected
         pair's concatenation, and no concatenation equal to a selected
         pair's symbol (the `(a,b)` + `(ab,c)` cascade in either
         direction). That is what keeps the batch exact: applying a merge
         only creates/destroys pairs that touch its own two symbols or its
         produced symbol, so a non-interacting pair's count — the one
         recorded in the merge list — is provably identical to what a
         one-merge-at-a-time trainer would have counted. Interacting
         candidates defer to the next scan.
      3. apply ALL selected merges to every distinct pretoken's symbol
         array in ONE Arrow-batched mapInPandas pass — a greedy leftmost
         fold over a pair→merged map, equivalent to applying each merge's
         own fold sequentially BECAUSE the batch is non-interacting (a
         position matches at most one batch pair, and merging two symbols
         into one never makes two previously-separated symbols adjacent).

    `merges_per_scan=1` reproduces the classic sequential trainer exactly
    (and is pinned merge-for-merge against a pure-Python reference in
    tests). Larger values can reorder merges relative to sequential when a
    freshly-created symbol would have out-ranked a deferred pair — the
    standard fast-trainer approximation; vocab quality is unaffected and
    each recorded count is still the true corpus count at apply time.

    `merges_per_scan="adaptive"` grows the batch geometrically (8 → 16 →
    … → `max_merges_per_scan`) while every scan fills its whole batch
    with non-interacting pairs — which the ranked candidate list is rich
    in after the first few hundred merges — and halves it when a scan
    comes up short (the interacting-dense regime early in training).
    The exactness argument is UNCHANGED at any batch size: each applied
    batch is still non-interacting, so every recorded count is the true
    corpus count at apply time; only the merge order drifts further from
    sequential, exactly as with a larger fixed batch. This cuts a
    32k-merge vocabulary from ~4k scans (fixed 8) to ~150, turning hours
    of job-scheduling overhead into minutes — the 100 TB cost is still
    ONE corpus scan either way. Scan count is reported via `stats`
    (pass a dict; key "scans") so tests and benchmarks can pin the
    reduction.

    Cost: the corpus is scanned ONCE — pre-tokens collapse to a
    (distinct pretoken, count) frame up front (the standard trainer
    optimization: pair statistics are weighted by the count, which is
    numerically identical to counting per occurrence), so every
    subsequent scan touches the DISTINCT-pretoken vocabulary (~10^5-10^7
    rows for any natural corpus, independent of corpus bytes), and there
    are O(n_merges / merges_per_scan) of those instead of O(n_merges) —
    at the default 8 a 32k-merge production vocabulary is ~4k
    vocabulary-sized scans after one 100 TB scan. Each scan's symbol
    frame is cached and the previous evicted; every `checkpoint_every`
    scans the lineage is truncated (localCheckpoint) — without this the
    plan doubles per scan and the driver dies at ~30 scans (the
    duplicate_components lesson). Vocab-sized state never leaves the
    driver.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    if checkpoint_every < 1:
        raise ValueError(
            f"checkpoint_every must be >= 1, got {checkpoint_every} "
            "(skipping checkpoints reintroduces per-round plan doubling)"
        )
    adaptive = merges_per_scan == "adaptive"
    if adaptive:
        batch_size = 8
        if max_merges_per_scan < 8:
            raise ValueError(
                f"max_merges_per_scan must be >= 8, got {max_merges_per_scan}"
            )
    elif isinstance(merges_per_scan, str):
        raise ValueError(
            f"merges_per_scan must be an int >= 1 or 'adaptive', "
            f"got {merges_per_scan!r}"
        )
    elif merges_per_scan < 1:
        raise ValueError(
            f"merges_per_scan must be >= 1, got {merges_per_scan}"
        )
    else:
        batch_size = merges_per_scan
    from pyspark.sql import functions as F

    toks = df.select(
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_PATTERN), 0)
        ).alias("tok")
    )
    # THE corpus scan: collapse occurrences to (distinct pretoken, count).
    # Everything after trains on this weighted vocabulary frame. The
    # split's non-start lookahead keeps a TRAILING empty string (Spark's
    # split is Java split(limit=-1)); drop it or the trainer learns bogus
    # ('x','') merges once real pairs thin out.
    symbols = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("weight"))
        .select(
            F.array_remove(F.split("tok", "(?!^)"), "").alias("syms"),
            "weight",
        )
    )
    symbols = symbols.cache()
    merges: list[tuple[str, str, int]] = []
    scan_no = 0
    while len(merges) < n_merges:
        want = min(batch_size, n_merges - len(merges))
        # Fetch enough ranked candidates that `want` disjoint ones are
        # usually available even when the top of the distribution shares
        # symbols (e.g. many ' e'/'e…' pairs early in training).
        fetch = max(want * 8, 32)
        pairs = (
            symbols.filter(F.size("syms") >= 2)
            .select(
                "weight",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at("syms", i.cast("int")).alias("a"),
                            F.element_at("syms", (i + 1).cast("int")).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("weight").alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(fetch)
            .collect()
        )
        if not pairs:
            break
        # Greedy rank-order selection of non-interacting pairs.
        selected: list[tuple[str, str, int]] = []
        used: set[str] = set()  # symbols consumed by selected pairs
        produced: set[str] = set()  # symbols created by selected pairs
        for row in pairs:
            a, b = row["a"], row["b"]
            if (
                a in used
                or b in used
                or a in produced
                or b in produced
                or (a + b) in used
            ):
                continue
            selected.append((a, b, row["n"]))
            used.add(a)
            used.add(b)
            produced.add(a + b)
            if len(selected) >= want:
                break
        merges.extend(selected)
        if adaptive:
            # filled the whole batch -> the candidate list is rich in
            # non-interacting pairs, double the next batch; came up
            # short -> interacting-dense regime, halve (floor 8, the
            # proven fixed default)
            if len(selected) >= want:
                batch_size = min(batch_size * 2, max_merges_per_scan)
            else:
                batch_size = max(8, batch_size // 2)
        pair_map = {(a, b): a + b for a, b, _n in selected}

        def apply_merges(batches, _pm=pair_map):
            for pdf in batches:
                out = []
                for syms in pdf["syms"]:
                    res: list[str] = []
                    for s in syms:
                        if res and (res[-1], s) in _pm:
                            res[-1] = res[-1] + s
                        else:
                            res.append(s)
                    out.append(res)
                pdf = pdf.copy()
                pdf["syms"] = out
                yield pdf

        nxt = symbols.mapInPandas(
            apply_merges, schema="syms array<string>, weight long"
        )
        scan_no += 1
        if scan_no % checkpoint_every == 0:
            nxt = nxt.localCheckpoint(eager=True)
        else:
            nxt = nxt.cache()
            nxt.count()  # materialize before evicting the parent
        symbols.unpersist()
        symbols = nxt
    symbols.unpersist()
    if stats is not None:
        stats["scans"] = scan_no
    return merges


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str, int]] | list[tuple[str, str]],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Encode text with a learned merge list (`bpe_learn` output): apply
    merges RANK-ORDERED within each pre-token — the standard BPE encoder,
    so train-then-encode round-trips the training corpus. Adds `out_col`
    (array<string> of subword tokens) and `n_<out_col>`.

    Pre-tokenization happens ON THE JVM with the literal PRETOKEN_PATTERN
    — the same engine and pattern `bpe_learn` trained with, so token
    boundaries can never diverge between train and encode (a Python `re`
    translation would: Java's \\p{N} spans No/Nl characters like '¾'
    where \\d does not, and Python's \\s is Unicode-wide where Java's is
    ASCII). The rank-ordered merge application is the Arrow-batched
    per-pretoken pass (`_pretoken_mapper`, shared with wordpiece_encode /
    unigram_encode); the merge table rides the task closure (merge lists
    are KBs — broadcast-by-closure is the right size). Encoding cost is
    O(symbols × applicable merges) per doc, the same as any BPE encoder;
    no shuffle at any scale."""
    ranks = {(a, b): i for i, (a, b, *_rest) in enumerate(merges)}

    def enc_tok(tok: str) -> list[str]:
        syms = list(tok)
        while len(syms) >= 2:
            best = None
            for i, pair in enumerate(zip(syms, syms[1:])):
                r = ranks.get(pair)
                if r is not None and (best is None or r < best[0]):
                    best = (r, i)
            if best is None:
                break
            _, i = best
            syms[i : i + 2] = [syms[i] + syms[i + 1]]
        return syms

    return _pretoken_mapper(df, text_col, enc_tok, out_col)


def bpe_save_merges(spark, merges, path: str) -> None:
    """Persist a learned merge list as a rank-ordered parquet table — the
    tokenizer artifact a training pipeline ships alongside the corpus
    (same persisted-artifact lifecycle as ml.similarity's IVF index).
    KB-sized: one row per merge."""
    df = spark.createDataFrame(
        [(i, a, b, int(n)) for i, (a, b, n) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(path)


def bpe_load_merges(spark, path: str) -> list[tuple[str, str, int]]:
    """Load a `bpe_save_merges` artifact back into the in-memory merge
    list `bpe_encode` consumes, rank order restored."""
    rows = spark.read.parquet(path).orderBy("rank").collect()
    return [(r["left"], r["right"], r["pair_count"]) for r in rows]


def ngram_frequency_score(
    df: DataFrame,
    n: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_threshold: int = 2,
) -> DataFrame:
    """CCNet-style corpus-frequency quality signal, float-hazard-free:
    per document, over its word n-gram INSTANCES (duplicates kept — this
    is an LM-style statistic, not a set statistic),

      - n_grams:     instance count
      - mean_count:  average corpus-wide frequency of the doc's n-grams
      - rare_frac:   fraction of instances whose corpus frequency is
                     below `rare_threshold`

    High rare_frac ≈ high perplexity under a corpus n-gram LM (the doc
    is made of word sequences the corpus has rarely seen) — the standard
    frequency-filtering signal — but computed with exact BIGINT counts
    and a single IEEE division per ratio (correctly rounded identically
    by every engine), so the DuckDB oracle hash-matches where a
    log-probability would drift in the last ulps.

    Plan: explode to instances → collapse to (doc, gram, k) counts (ONE
    map-side-combined aggregate; instances never touch a join) → corpus
    gram counts derived FROM the pair frame (c = Σ_doc k) → pair ⋈
    counts on gram → per-doc k-weighted fold. Weighting by k is
    integer-identical to iterating instances (Σ over instances ≡
    Σ k·(per-gram term)), measured 1.6× the instance-join form at sf0.1
    because the gram-string join input shrinks from instances to
    distinct pairs. No UDF, no all-pairs; at 100 TB both shuffled frames
    are bounded by (doc × per-doc vocabulary) and the vocabulary."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # dedup.shingles keeps duplicate instances — exactly the LM statistic
    wc = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(text_col, k=n)).alias("gram"),
        )
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("__k"))
    )
    counts = wc.groupBy("gram").agg(F.sum("__k").alias("__c"))
    return (
        wc.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.sum("__k").alias("n_grams"),
            (
                F.sum(F.col("__k") * F.col("__c")).cast("double")
                / F.sum("__k")
            ).alias("mean_count"),
            (
                F.sum(
                    F.when(F.col("__c") < rare_threshold, F.col("__k"))
                    .otherwise(0)
                )
                .cast("double")
                / F.sum("__k")
            ).alias("rare_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Second tokenizer family: WordPiece greedy longest-match inference and a
# SentencePiece-style unigram-LM trainer (Kudo 2018) with its Viterbi
# encoder. BPE above covers merge-based tokenization; these cover the
# match-based and probabilistic families every tokenizer toolkit ships.
# ---------------------------------------------------------------------------


def _pretoken_mapper(df: DataFrame, text_col: str, encode_tok, out_col: str):
    """Shared mapInPandas shell for per-pretoken encoders (the bpe_encode
    pattern): pre-tokenize ON THE JVM with the literal PRETOKEN_PATTERN —
    the same engine/pattern every tokenizer here trains with, so token
    boundaries can never diverge between train and encode — then run
    `encode_tok` per pre-token in Arrow batches. No shuffle at any scale."""
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # Pre-tokens are Zipfian (the trainers exploit exactly this by
    # collapsing to distinct pre-tokens), so each task memoizes encode_tok
    # over the distinct pre-tokens it sees — one encode per distinct token
    # per partition instead of one per instance, byte-identical output
    # (the encoders are pure functions of the token). The memo is capped
    # so a pathological all-distinct partition stays bounded: past the
    # cap new tokens encode uncached, the hot Zipfian head stays cached.
    def run(batches):
        memo: dict = {}
        cap = 1 << 20
        for pdf in batches:
            toks = []
            for pretoks in pdf["__pretoks"]:
                row: list = []
                for tok in pretoks:
                    enc = memo.get(tok)
                    if enc is None:
                        enc = encode_tok(tok)
                        if len(memo) < cap:
                            memo[tok] = enc
                    row.extend(enc)
                toks.append(row)
            out = pdf.drop(columns=["__pretoks"])
            out[out_col] = toks
            out[f"n_{out_col}"] = [len(t) for t in toks]
            yield out

    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(out_col, ArrayType(StringType()), False),
            StructField(f"n_{out_col}", LongType(), False),
        ]
    )
    with_pretoks = df.withColumn(
        "__pretoks",
        F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_PATTERN), 0),
    )
    return with_pretoks.mapInPandas(run, schema=schema)


def wordpiece_encode(
    df: DataFrame,
    pieces: list[str],
    text_col: str = "text",
    out_col: str = "wp_tokens",
) -> DataFrame:
    """WordPiece-style greedy longest-match segmentation (the BERT
    inference rule, minus the '##' continuation-alphabet convention —
    the segmentation algorithm, not the vocab spelling): at each
    position take the LONGEST piece in the vocabulary that prefixes the
    remaining pre-token; if none matches, emit the single character (the
    lenient stand-in for [UNK], so concatenation always reconstructs
    the input). Deterministic BY CONSTRUCTION — two same-length prefixes
    of the same string are the same piece, so no tie-break rule is ever
    needed; that is what makes this encoder exactly replayable in a SQL
    oracle at any scale, unlike Viterbi whose float ties need a
    discipline. Adds `out_col` (array<string>) and `n_<out_col>`."""
    pieceset = set(pieces)
    if not pieceset:
        raise ValueError("pieces must be non-empty")
    maxlen = max(len(p) for p in pieceset)

    def enc_tok(tok: str) -> list[str]:
        out: list[str] = []
        i = 0
        n = len(tok)
        while i < n:
            for ln in range(min(maxlen, n - i), 0, -1):
                if tok[i : i + ln] in pieceset:
                    out.append(tok[i : i + ln])
                    i += ln
                    break
            else:
                out.append(tok[i])
                i += 1
        return out

    return _pretoken_mapper(df, text_col, enc_tok, out_col)


def _viterbi_segment(
    tok: str, scores: dict[str, float], max_len: int, unk_cost: float
) -> list[str]:
    """Min-cost segmentation under per-piece costs (-logp), with the
    package's deterministic tie discipline: minimize (total_cost,
    n_pieces, piece_sequence) lexicographically. Unknown single chars
    cost `unk_cost` (worse than any trained piece), keeping every string
    encodable. Cost comparisons round to 12 decimals so float-sum
    association noise cannot flip a tie across runs."""
    n = len(tok)
    # best[i] = (cost, n_pieces, pieces tuple) for tok[:i]
    best: list[tuple] = [None] * (n + 1)  # type: ignore[list-item]
    best[0] = (0.0, 0, ())
    for i in range(1, n + 1):
        cand = None
        for ln in range(1, min(max_len, i) + 1):
            piece = tok[i - ln : i]
            prev = best[i - ln]
            if prev is None:
                continue
            c = scores.get(piece)
            if c is None:
                if ln > 1:
                    continue
                c = unk_cost
            key = (
                round(prev[0] + c, 12),
                prev[1] + 1,
                prev[2] + (piece,),
            )
            if cand is None or key < cand:
                cand = key
        best[i] = cand
    return list(best[n][2])


def unigram_train(
    docs: DataFrame,
    vocab_size: int = 64,
    max_piece_len: int = 6,
    n_iters: int = 3,
    min_count: int = 2,
    prune_frac: float = 0.2,
    text_col: str = "text",
    max_seed_pieces: int = 1 << 20,
    driver_max_pretokens: int = 200_000,
) -> list[tuple[str, float]]:
    """SentencePiece-style unigram-LM tokenizer training (Kudo 2018),
    hard-EM (Viterbi-EM) variant: seed a candidate vocabulary from the
    corpus's pre-token SUBSTRINGS, iterate (E) best-segmentation of
    every distinct pre-token under current piece costs → (M) piece cost
    = -log(count/total) from the exact integer usage counts, then prune
    the least-used `prune_frac` of multi-char pieces per round until
    `vocab_size` remains (single chars are never pruned — every string
    must stay encodable). Returns [(piece, cost)] sorted by (cost,
    piece) — the persistable tokenizer artifact `unigram_encode`
    consumes.

    Scale shape: the corpus is touched ONCE — a JVM regexp explode into
    the (pretoken, count) vocabulary table; every EM iteration runs on
    that vocabulary-bounded table (E-step as an Arrow-batched
    mapInPandas with the current costs in the task closure, usage
    counts aggregated as exact BIGINTs — deterministic for any
    partitioning; M-step on the ≤|pieces| count table driver-side).
    Candidate SEEDING is distributed too: substrings up to
    max_piece_len explode JVM-side from the vocabulary table (the
    shingles pattern) into one grouped aggregate, and only the
    survivors — count >= min_count, capped at the top
    `max_seed_pieces` multi-char candidates by (count, piece) — plus
    the single-char floor are ever collected; the web-scale distinct-
    pretoken vocabulary (1e7–1e8 rows of typos/numerals/identifiers)
    never reaches the driver. This mirrors how SentencePiece itself
    trains on a pre-counted sentence table rather than raw text.
    Determinism: integer counts + the _viterbi_segment tie discipline
    make training a pure function of the corpus — pinned against a
    pure-Python reference in tests."""
    import math
    from collections import Counter

    import pandas as pd

    vocab = (
        docs.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_PATTERN), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    vocab = vocab.cache()
    # Seed candidates: all substrings up to max_piece_len with weighted
    # count >= min_count, plus every single char (the encodability floor).
    # Exploded and counted IN SPARK — one flatten/transform expression per
    # distinct pre-token, one grouped BIGINT sum — so the seed pass is a
    # single aggregate in the plan, not a driver-side Counter over the
    # full distinct-pretoken vocabulary (r10 verdict's one scale-killer).
    sub_expr = (
        "flatten(transform(sequence(1, length(tok)), i -> "
        f"transform(sequence(1, least({int(max_piece_len)}, "
        "length(tok) - i + 1)), ln -> substring(tok, i, ln))))"
    )
    subs = (
        vocab.select(F.col("cnt"), F.explode(F.expr(sub_expr)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
    )
    singles = subs.filter(F.length("piece") == 1)
    multi = subs.filter(
        (F.length("piece") > 1) & (F.col("c") >= min_count)
    )
    if max_seed_pieces is not None:
        # deterministic budget: keep the most frequent multi-char
        # candidates, ties by piece — bounds the collect at any scale
        multi = multi.orderBy(F.col("c").desc(), "piece").limit(
            int(max_seed_pieces)
        )
    cand = singles.unionByName(multi).collect()
    if not cand:
        vocab.unpersist()
        return []
    sub_counts = {r["piece"]: int(r["c"]) for r in cand}
    chars = {p for p in sub_counts if len(p) == 1}
    pieces = set(sub_counts)
    total0 = sum(sub_counts[p] for p in pieces)
    costs = {
        p: -math.log(sub_counts[p] / total0) for p in pieces
    }

    if n_iters < 1:
        # the prune step ranks pieces by the E-step's usage counts — with
        # zero EM rounds there are none (an unbound `used` was a NameError)
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    # Driver-side EM fast path (r16, the duplicate_components dual-path
    # precedent): the EM loop runs n_iters × O(log vocab / prune_frac)
    # E-steps — ~30-45 Spark jobs, each a mapInPandas + aggregate +
    # collect barrier over the DISTINCT-PRETOKEN table. When that table
    # is small (bench corpora: 61 rows; anything under ~200 k ≈ a few MB
    # of strings), per-job fixed overhead IS the training time — measured
    # 13 s of a 16 s sf0.1 train, vs milliseconds of driver CPU for the
    # same arithmetic. Collect it once (bounded probe: limit(cap+1), so
    # an over-cap vocabulary never materializes on the driver) and fold
    # the Counter locally; the distributed mapInPandas path is unchanged
    # for web-scale vocabularies. Both paths sum the SAME exact integer
    # counts through the SAME _viterbi_segment — the model is
    # bit-identical (integer addition is associative; the E-step has no
    # float accumulation), pinned by the pure-Python-reference parity
    # test.
    tok_rows: list[tuple[str, int]] | None = None
    probe = vocab.limit(driver_max_pretokens + 1).collect()
    if len(probe) <= driver_max_pretokens:
        tok_rows = [(r["tok"], int(r["cnt"])) for r in probe]
    del probe
    try:
        while True:
            for _ in range(n_iters):
                cur = dict(costs)
                ml = max(len(p) for p in cur)
                unk = max(cur.values()) + 10.0

                if tok_rows is not None:
                    agg: Counter = Counter()
                    for tok, cnt in tok_rows:
                        for piece in _viterbi_segment(tok, cur, ml, unk):
                            agg[piece] += cnt
                    used = dict(agg)
                else:

                    def estep(batches, _c=cur, _ml=ml, _unk=unk):
                        for pdf in batches:
                            agg: Counter = Counter()
                            for tok, cnt in zip(pdf["tok"], pdf["cnt"]):
                                for piece in _viterbi_segment(
                                    tok, _c, _ml, _unk
                                ):
                                    agg[piece] += int(cnt)
                            yield pd.DataFrame(
                                {"piece": list(agg), "used": list(agg.values())}
                            )

                    used = {
                        r["piece"]: r["used"]
                        for r in vocab.mapInPandas(
                            estep, schema="piece string, used long"
                        )
                        .groupBy("piece")
                        .agg(F.sum("used").cast("bigint").alias("used"))
                        .collect()
                    }
                total = sum(used.get(p, 0) for p in costs) or 1
                floor_c = -math.log(0.5 / total)  # unused: sub-single-use
                costs = {
                    p: (-math.log(used[p] / total) if used.get(p) else floor_c)
                    for p in costs
                }
            multi = [p for p in costs if len(p) > 1]
            if len(costs) <= vocab_size or not multi:
                break
            # prune the worst multi-char pieces (fewest uses; ties by piece)
            n_drop = max(1, int(len(multi) * prune_frac))
            n_drop = min(n_drop, len(costs) - vocab_size, len(multi))
            drop = sorted(multi, key=lambda p: (used.get(p, 0), p))[:n_drop]
            for p in drop:
                del costs[p]
    finally:
        vocab.unpersist()
    assert chars <= set(costs)
    return sorted(costs.items(), key=lambda kv: (round(kv[1], 12), kv[0]))


def unigram_encode(
    df: DataFrame,
    model: list[tuple[str, float]],
    text_col: str = "text",
    out_col: str = "unigram_tokens",
) -> DataFrame:
    """Viterbi segmentation under a trained unigram model
    (`unigram_train` output): per pre-token, the min-cost piece
    sequence with the deterministic (cost, n_pieces, sequence) tie
    discipline; unknown chars cost max+10 so concatenation always
    reconstructs. Same Arrow-batched per-pretoken shell as bpe_encode /
    wordpiece_encode — model in the task closure, no shuffle."""
    if not model:
        raise ValueError("model must be non-empty")
    scores = {p: float(c) for p, c in model}
    ml = max(len(p) for p in scores)
    unk = max(scores.values()) + 10.0

    def enc_tok(tok: str) -> list[str]:
        return _viterbi_segment(tok, scores, ml, unk)

    return _pretoken_mapper(df, text_col, enc_tok, out_col)


def unigram_model_to_json(model: list[tuple[str, float]]) -> str:
    """Persist a trained unigram model — same exact-float JSON contract
    as the PQ/SQ8 artifacts (shortest-repr doubles round-trip
    bit-for-bit, so an encoder on another cluster segments identically)."""
    import json

    return json.dumps(
        {
            "format": "unigram-model-v1",
            "n_pieces": len(model),
            "pieces": [[p, c] for p, c in model],
        }
    )


def unigram_model_from_json(payload: str) -> list[tuple[str, float]]:
    import json

    obj = json.loads(payload)
    if obj.get("format") != "unigram-model-v1":
        raise ValueError(
            f"not a unigram model payload: {obj.get('format')!r}"
        )
    return [(str(p), float(c)) for p, c in obj["pieces"]]
