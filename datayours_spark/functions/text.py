"""Text analysis operators for training-data pipelines.

Beyond the reference surface (BASELINE.json north star): language
identification (n-gram profile heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and rolling-hash document fingerprinting.

All expressions are built-in column ops — JVM-side, whole-stage codegen, and
md5-derived where hashing is needed so any engine reproduces them exactly.
At 100 TB these are embarrassingly-parallel projections: no shuffle except
the final per-group aggregates the caller adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datayours_spark.io import small_df

from datayours_spark.functions.dedup import md5_int32

#: BPE-ish tokenizer: word pieces, numbers, or single non-space symbols —
#: the common pre-tokenization regex shape (letters | digits | symbol).
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: tiny per-language stopword profiles for the n-gram/profile LID heuristic.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "es": ("el", "la", "de"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "zh": ("的", "了", "是"),
}

FINGERPRINT_MOD = 1_000_000_007


def lang_scores(text_col: str) -> list[tuple[str, Column]]:
    """Per-language profile hit ratios (stopword-profile LID heuristic)."""
    toks = F.split(text_col, " ")
    out = []
    for lang, words in LANG_PROFILES.items():
        hits = F.size(F.filter(toks, lambda w: w.isin(*words)))
        out.append((lang, hits / F.greatest(F.size(toks), F.lit(1))))
    return out


def predict_lang(text_col: str) -> Column:
    """argmax over profile scores via struct max (field-order comparison:
    score first, then language); ties — including the all-zero case —
    resolve to the lexicographically GREATEST language, identically in any
    engine with struct ordering."""
    scores = lang_scores(text_col)
    structs = [
        F.struct(score.alias("s"), F.lit(lang).alias("lang"))
        for lang, score in sorted(scores, key=lambda kv: kv[0])
    ]
    return F.array_max(F.array(*structs)).getField("lang")


def rolling_fingerprint(text_col: str, window: int = 16) -> Column:
    """Rolling-hash document fingerprint: position-weighted token-hash sum
    mod a prime.  Deterministic, order-sensitive (unlike the token-set
    fingerprint), cheap to compare across engines.

    Column form — per-token md5 inside a higher-order ``transform`` is
    interpreted row-at-a-time; prefer :func:`rolling_fingerprints` (the
    explode+aggregate DataFrame form, whole-stage codegen) in bulk paths.
    """
    toks = F.split(text_col, " ")
    idx = F.sequence(F.lit(1), F.size(toks))
    weighted = F.transform(
        idx,
        lambda i: (md5_int32(F.element_at(toks, i)) % FINGERPRINT_MOD)
        * ((i % window) + 1),
    )
    return (
        F.aggregate(weighted, F.lit(0).cast("bigint"), lambda acc, x: (acc + x) % FINGERPRINT_MOD)
    )


def rolling_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 16,
) -> DataFrame:
    """(doc_id, fingerprint) via explode + sum — same value as
    :func:`rolling_fingerprint` (``(Σ xᵢ) mod m`` equals the sequential
    per-term mod; terms are ≤ mod·window so int64 sum is overflow-safe up to
    ~5e8 tokens/doc), but the md5 runs in codegen'd projection instead of
    an interpreted array lambda (~4× faster measured, and map-side partial
    aggregation keeps the shuffle at one row per doc)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(text_col, " ")).alias("pos", "tok"),
    )
    term = (md5_int32(F.col("tok")) % FINGERPRINT_MOD) * (
        ((F.col("pos") + 1) % window) + 1
    )
    return toks.groupBy("doc_id").agg(
        (F.sum(term) % FINGERPRINT_MOD).cast("bigint").alias("fingerprint")
    )


def text_profile(
    docs: DataFrame, text_col: str = "text", fingerprint: bool = True
) -> DataFrame:
    """Full per-document profile: counts, quality, predicted language, and
    (optionally) the rolling fingerprint.

    Shape: ONE posexplode of the token array feeding ONE hash aggregation
    keyed by doc_id — every per-token metric (token counts, short-token and
    stopword-profile hits, the fingerprint term) is a codegen'd conditional
    aggregate over the token stream, and the text-level scalars (char count,
    punctuation count, BPE token count) are computed pre-explode and carried
    through with ``first()``.  The earlier formulation used higher-order
    ``filter`` lambdas (interpreted per element, 6 per doc) plus a 1:1 join
    to attach the fingerprint; this one is join-free and fully
    whole-stage-codegen, with map-side partial aggregation keeping the
    shuffle at one row per document.

    Docs with NULL ``text`` are dropped (explode of a null array); the gate
    corpus has none.

    PLAN-SHAPE TRAP: the text-level scalars MUST be computed in a select
    of their own BELOW the posexplode select.  A single
    ``select(scalars..., posexplode(...))`` puts the non-generator
    expressions in the Project ABOVE the Generate (ExtractGenerator), so
    the three regexes re-run once per exploded TOKEN instead of once per
    doc — measured 70s vs 3s at 200k×50-token docs."""
    words_sorted = sorted(LANG_PROFILES)
    pre = docs.select(
        "doc_id",
        F.length(text_col).alias("_n_chars"),
        F.length(F.regexp_replace(text_col, r"[^.,;:!?]", "")).alias("_punct"),
        F.regexp_count(F.col(text_col), F.lit(BPE_TOKEN_REGEX)).alias("_n_bpe"),
        F.split(text_col, " ").alias("_toks"),
    ).select(
        "doc_id",
        "_n_chars",
        "_punct",
        "_n_bpe",
        F.posexplode("_toks").alias("pos", "tok"),
    )
    aggs = [
        F.count("*").alias("n_tokens"),
        F.first("_n_bpe").alias("n_bpe_tokens"),
        F.first("_n_chars").alias("_n_chars"),
        F.first("_punct").alias("_punct"),
        F.count(F.when(F.length("tok") <= 2, 1)).alias("_short"),
        *[
            F.count(F.when(F.col("tok").isin(*LANG_PROFILES[lang]), 1)).alias(
                f"_hits_{lang}"
            )
            for lang in words_sorted
        ],
    ]
    if fingerprint:
        term = (md5_int32(F.col("tok")) % FINGERPRINT_MOD) * (
            ((F.col("pos") + 1) % 16) + 1
        )
        aggs.append(
            (F.sum(term) % FINGERPRINT_MOD).cast("bigint").alias("fingerprint")
        )
    agg = pre.groupBy("doc_id").agg(*aggs)

    n = F.col("n_tokens")
    length_ok = F.when((n >= 10) & (n <= 1000), 1.0).otherwise(0.3)
    raw_quality = (
        length_ok
        - 0.5 * (F.col("_punct") / F.greatest(F.col("_n_chars"), F.lit(1)))
        - 0.3 * (F.col("_short") / F.greatest(n, F.lit(1)))
    )
    lang_structs = [
        F.struct(
            (F.col(f"_hits_{lang}") / F.greatest(n, F.lit(1))).alias("s"),
            F.lit(lang).alias("lang"),
        )
        for lang in words_sorted
    ]
    out_cols = [
        F.col("doc_id"),
        n.cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.round(F.greatest(F.least(raw_quality, F.lit(1.0)), F.lit(0.0)), 4).alias(
            "quality"
        ),
        F.array_max(F.array(*lang_structs)).getField("lang").alias("pred_lang"),
    ]
    if fingerprint:
        out_cols.append(F.col("fingerprint"))
    return agg.select(*out_cols)


def unigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Corpus-unigram language-model quality score per document:
    mean log10 p(token) under the corpus's OWN unigram distribution —
    the cheapest LM-perplexity proxy used for pretraining-data quality
    filtering (docs of rare-token gibberish score far more negative than
    docs of common words; no external model needed).

    Returns (doc_id, n_tokens, avg_logprob).  No smoothing: the scoring
    corpus IS the model corpus, so every token has count >= 1.

    Scale shape: token counts are one map-side-combinable aggregation;
    scoring joins each (doc, token) occurrence to its corpus logprob by
    an equi-join on the token (shuffle keyed by token — at 100 TB bucket
    the vocab table) and averages per doc.  Rounding at ``round_dp``
    absorbs cross-engine float summation-order differences, the same
    contract as the k-means means.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # the corpus total enters as a broadcast 1-row scalar — no plan-build
    # count job, no second pass over the tokens
    total = vocab.agg(F.sum("c").alias("n"))
    lp = vocab.crossJoin(F.broadcast(total)).select(
        "tok", F.log10(F.col("c") / F.col("n")).alias("logp")
    )
    return (
        toks.join(lp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), round_dp).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Corpus-bigram language-model quality score per document: mean
    log10 p(w2 | w1) = c(w1 w2) / c(w1 ·) under the corpus's own bigram
    counts — one rung up the perplexity-proxy ladder from
    :func:`unigram_logprob` (catches shuffled-word salad that unigram
    frequency cannot: every token common, every transition rare).

    Returns (doc_id, n_bigrams, avg_logprob); docs with < 2 tokens are
    absent (they have no bigram to score).  No smoothing: the scoring
    corpus is the model corpus, so every scored bigram has count >= 1.
    c(w1 ·) counts bigram STARTS (last tokens of docs start nothing), so
    the conditional sums to exactly 1 per context.

    Scale shape: identical to the unigram path with the join key widened
    to the bigram — counts are map-side-combinable aggregations; scoring
    is an equi-join on (w1, w2) then a per-doc average.  At 100 TB the
    bigram table is the big side: bucket it by hash(w1, w2) and the
    score join co-locates.
    """
    pairs = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("t"),
    ).select(
        "doc_id",
        F.explode(
            F.expr("transform(slice(t, 1, size(t) - 1), (w, i) -> struct(w as w1, t[i + 1] as w2))")
        ).alias("bg"),
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # context totals roll up from the bigram counts (c1 = Σ_w2 c2): the
    # second aggregation runs over the vocab-sized bi table, not a second
    # corpus-wide pass over the exploded pairs
    ctx = bi.groupBy("w1").agg(F.sum("c2").alias("c1"))
    lp = bi.join(ctx, "w1").select(
        "w1", "w2", F.log10(F.col("c2") / F.col("c1")).alias("logp")
    )
    return (
        pairs.join(lp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.avg("logp"), round_dp).alias("avg_logprob"),
        )
    )


# --------------------------------------------------------------- PII scrub

#: the patterns are RE2-compatible (no backrefs/lookaround) so Spark's
#: Java regex engine and the DuckDB oracle's RE2 agree character for
#: character.  Deliberately conservative (C4/Dolma-style structural PII):
#: emails, dashed US-style phone numbers, dotted-quad IPs.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}-\d{3}-\d{4}\b",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def pii_scrub(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    replacement: str = "<PII>",
) -> DataFrame:
    """Structural PII detection + redaction per document.

    Output: (doc_id, n_email, n_phone, n_ip, clean_text) — per-kind match
    counts and the text with every match replaced by ``replacement``.
    The standard pre-training scrub pass (C4/Dolma run exactly this shape
    before tokenization).

    Scale shape: pure projection — regexp_count/regexp_replace are
    JVM-side whole-stage-codegen expressions, no shuffle, no Python; at
    100 TB this runs at scan speed and column-prunes to (id, text).
    Overlap semantics (ADVICE r5): kinds count AND redact in a fixed
    sequence (email, phone, ip) — each kind's count is taken on the text
    AFTER the prior kinds' redaction, so overlapping regions are
    attributed to exactly one kind (555-123-4567@example.org counts as
    one email, zero phones; the IP inside user@10.0.0.1.example.com
    counts only if the email pattern didn't consume it).  Σ n_kind is
    therefore the number of distinct redacted regions.
    """
    counts = []
    clean = F.col(text_col)
    for k, p in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(clean, F.lit(p)).cast("long").alias(f"n_{k}")
        )
        clean = F.regexp_replace(clean, p, replacement)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, clean.alias("clean_text")
    )


# ------------------------------------------------------------- URL/domain

#: RE2-compatible (shared verbatim with the DuckDB oracle): scheme,
#: host, optional path up to whitespace.  The whitespace class is spelled
#: out explicitly: Java's \s includes \x0B (vertical tab) while RE2's
#: does not, so a bare [^\s] would make the two engines extract different
#: URLs from text containing \x0B (ADVICE r5) — both engines read this
#: class identically (it equals Java's \s semantics).
URL_PATTERN = r"https?://[A-Za-z0-9.-]+(?:/[^ \t\n\r\f\x0b]*)?"


def url_domains(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, url, domain) — one row per URL occurrence.

    The extraction feeding domain-frequency stats and blocklist filters
    (the standard pre-training corpus hygiene step: count per domain,
    drop or downweight docs from blocked/overrepresented hosts).

    Scale shape: regexp_extract_all + explode is a generator projection —
    no shuffle; the downstream per-domain aggregation map-side combines.
    A blocklist application is a broadcast (or literal) anti-join on
    domain, never a scan of the list per row.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            # idx=0 (full match): Spark's default group index is 1
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
        ).alias("url"),
    ).withColumn(
        "domain", F.regexp_extract("url", r"^https?://([^/]+)", 1)
    )


def vocab_topv(docs: DataFrame, v: int, text_col: str = "text") -> DataFrame:
    """Exact top-``v`` unigram vocabulary by corpus frequency: (tok, n, rk).

    Vocabulary induction for tokenizer-coverage checks — the deterministic
    (count DESC, tok ASC) tiebreak makes the induced vocab unique, so any
    engine re-derives the identical token set.

    Scale shape: one explode feeding one map-side-combined count
    aggregation, then DISTRIBUTED top-k.  A raw whitespace-token
    vocabulary over a web-scale corpus reaches 10^8-10^9 distinct tokens
    (typos/URLs/numbers), so no single task may ever sort the full count
    table: the top-``v`` selection is expressed as ``orderBy(...).
    limit(v)``, which Spark plans as ``TakeOrderedAndProject`` — every
    partition keeps a bounded ``v``-row heap and only partition winners
    are merged (O(v) memory per task, O(partitions x v) at the merge),
    regardless of vocabulary size.  (A bare global ranking window would
    NOT get this bound: Spark 4's InferWindowGroupLimit rewrite only
    fires for windows with a non-empty partitionSpec, so the previous
    ``Window.orderBy + row_number`` formulation sorted the entire
    vocabulary in one task.)  The rank column is then assigned by a
    window over just the ``v`` selected rows — model-state-sized like
    the centroid and stratum tables elsewhere.  ``tools/plancheck.py``
    asserts the TakeOrderedAndProject node is present in the executed
    plan."""
    counts = (
        docs.select(F.explode(F.split(text_col, " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    order = [F.col("n").desc(), F.col("tok").asc()]
    top = counts.orderBy(*order).limit(int(v))
    w = Window.orderBy(*order)
    return top.select(
        "tok", "n", F.row_number().over(w).cast("long").alias("rk")
    )


def oov_rate(
    docs: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against an induced (or given)
    vocabulary: (doc_id, n_tokens, n_oov, oov_ratio).

    The tokenizer-fit signal: a doc whose tokens mostly fall outside the
    vocabulary will shatter into long byte-fallback sequences at training
    time — high-OOV docs are re-routed or dropped before they burn
    context budget.  ``vocab`` is any (tok) DataFrame (typically
    :func:`vocab_topv` output).

    Scale shape: explode → BROADCAST left join on the vocabulary-sized
    token list → one groupBy(doc_id) aggregation — a single corpus
    shuffle; the vocab never shuffles the corpus."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    )
    known = F.broadcast(vocab.select("tok").withColumn("_known", F.lit(1)))
    hit = F.sum(F.when(F.col("_known").isNull(), 1).otherwise(0))
    return (
        toks.join(known, "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            hit.cast("bigint").alias("n_oov"),
        )
        .withColumn(
            "oov_ratio",
            F.round(F.col("n_oov") / F.col("n_tokens"), 4),
        )
    )


def chunk_documents(
    docs: DataFrame,
    window: int = 32,
    stride: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window token chunking: (doc_id, chunk_no, chunk_start,
    n_chunk_tokens, chunk_text) — one row per overlapping ``window``-token
    chunk, starts every ``stride`` tokens.

    The retrieval/embedding pre-step: long documents are embedded and
    indexed per chunk, with the overlap (window > stride) preserving
    context across chunk boundaries.  Chunk identity is pure integer
    arithmetic on the token index (chunk_no = chunk_start div stride), so
    any engine re-derives the same chunk set — the chunk table can serve
    as a stable join key for embeddings computed elsewhere.

    Scale shape: ONE generator projection (sequence + explode) with no
    shuffle at all — chunking streams through the scan, and the output
    size is bounded at ~n_tokens/stride rows per doc.  The final chunk
    may be shorter than ``window`` (tail), never empty.  A null text
    yields zero chunks: ``split(NULL)`` is NULL so ``size`` is -1, and an
    unguarded ``sequence(0, -2, stride)`` would throw at runtime and kill
    the whole job for one bad row — the guard below (same discipline as
    :func:`dup_ngram_stats`) maps it to an empty start list instead."""
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("_t")
    ).withColumn("_n", F.size("_t"))
    starts = F.when(
        F.col("_n") >= 1,
        F.sequence(F.lit(0), F.col("_n") - 1, F.lit(int(stride))),
    ).otherwise(F.array().cast("array<int>"))
    chunk = F.slice("_t", F.col("_s0") + 1, int(window))
    return (
        d.select("doc_id", "_t", F.explode(starts).alias("_s0"))
        .select(
            "doc_id",
            F.expr(f"_s0 div {int(stride)}").cast("bigint").alias("chunk_no"),
            F.col("_s0").cast("bigint").alias("chunk_start"),
            F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
            F.concat_ws(" ", chunk).alias("chunk_text"),
        )
    )


def dup_ngram_stats(
    docs: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Within-document duplicate n-gram fraction: (doc_id, n_ngrams,
    dup_ngrams, dup_fraction) — the fraction of a doc's n-gram
    OCCURRENCES whose n-gram appears at least twice in that doc.

    The published boilerplate/repetition quality gate (the duplicate
    2-/3-/4-gram fractions): a doc assembled from a repeated template
    scores high here even when no single token dominates, so it
    complements the top-token repetition filter.  Docs with fewer than
    ``n`` tokens emit no row (no n-grams exist), identically in any
    engine.

    Scale shape: one generator projection (the n-gram enumeration is a
    guarded sequence+transform — no self-join), one (doc_id, ngram)
    count aggregation, one per-doc rollup; both aggregations map-side
    combine and share the doc_id-prefixed key."""
    # Bind the token array before the n-gram lambda references it
    # (r15): embedding the ``split`` expression in the lambda body
    # re-evaluates it once per n-gram — O(tokens²) per doc, measured
    # 3.1 s vs 0.54 s for this generator at sf0.1.  Multiple references
    # (_n, starts, the lambda) keep CollapseProject from inlining it.
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(text_col, " ").alias("_t")
    )
    t = F.col("_t")
    starts = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, n)))
    base = toks.select(
        "doc_id",
        F.size(t).alias("_n"),
        F.explode(grams).alias("ng"),
    )
    cnt = base.groupBy("doc_id", "ng").agg(
        F.count("*").alias("cnt"), F.first("_n").alias("_n")
    )
    dup = F.sum(F.when(F.col("cnt") >= 2, F.col("cnt")).otherwise(0))
    return (
        cnt.groupBy("doc_id")
        .agg(
            (F.first("_n") - (n - 1)).cast("bigint").alias("n_ngrams"),
            dup.cast("bigint").alias("dup_ngrams"),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("dup_ngrams") / F.col("n_ngrams"), 4),
        )
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The published Gopher document-quality rules (Rae et al. 2021,
    arXiv:2112.11446 Appendix A1.1) as explicit per-rule booleans:
    (doc_id, n_words, ok_word_count, ok_mean_word_len, ok_symbol_ratio,
    ok_bullet_lines, ok_ellipsis_lines, ok_alpha_words, ok_stopwords,
    pass_all).

    The rule set most pretraining pipelines start from — each rule is a
    separate column so a pipeline can report WHICH rule rejected a doc
    (the standard ablation/debug need), with ``pass_all`` as the gate:

    - word count in [min_words, max_words]
    - mean word length in [3, 10] characters
    - symbol-to-word ratio <= 0.1 for '#' AND (separately) for '...' —
      the paper gates each symbol's ratio on its own, not their sum
    - at most 90% of lines may start with a bullet (the paper removes
      docs where MORE than 90% of lines are bullets; bullet chars:
      '-', '*')
    - <= 30% of lines end with an ellipsis
    - >= 80% of words contain at least one alphabetic character
    - at least 2 of the 8 required English stop words appear

    Scale shape: a single zero-shuffle projection over the scan — every
    rule is column arithmetic on the token/line arrays.  (The
    higher-order filter/aggregate lambdas are CodegenFallback, so the
    projection runs interpreted-but-JVM-side rather than in a
    whole-stage-codegen span — still one scan-bound pass with no
    exchange; plancheck pins the zero-shuffle shape.)  Null text fails
    all rules (n_words = 0), never crashes: the ratio denominators are
    double-typed, so the degenerate 0/0 is an IEEE NaN — whose every
    comparison is false — not an ANSI DIVIDE_BY_ZERO."""
    # r15: the token and line arrays are BOUND in their own projection —
    # the rules reference the token array ~11 times (size, char fold,
    # alpha filter, 8 stop-word membership tests) and the line array 3
    # times; as inline expressions each reference re-runs the split per
    # row.  The bound form computes each split once per row; the many
    # references keep CollapseProject from re-inlining them.  (The
    # composed pipeline's gate FILTER still inlines via predicate
    # pushdown into the scan — that path is unchanged by construction.)
    docs = docs.select(
        "*",
        F.split(text_col, " ").alias("_gopher_toks"),
        F.split(text_col, "\n").alias("_gopher_lines"),
    )
    t = F.col("_gopher_toks")
    n_words = F.when(
        F.col(text_col).isNotNull() & (F.length(text_col) > 0), F.size(t)
    ).otherwise(F.lit(0))
    total_chars = F.aggregate(
        F.coalesce(t, F.array().cast("array<string>")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + F.length(x),
    )
    mean_len = F.try_divide(total_chars, n_words)
    n_hash = F.length(text_col) - F.length(F.replace(text_col, F.lit("#"), F.lit("")))
    n_ell = (
        F.length(text_col)
        - F.length(F.replace(text_col, F.lit("..."), F.lit("")))
    ) / 3
    hash_ratio = F.try_divide(n_hash, n_words)
    ell_ratio = F.try_divide(n_ell, n_words)
    lines = F.col("_gopher_lines")
    n_lines = F.size(lines)
    bullet_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*]"))), n_lines
    )
    ellipsis_frac = F.try_divide(
        F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))), n_lines
    )
    alpha_frac = F.try_divide(
        F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))), n_words
    )
    stop_hits = None
    for wrd in GOPHER_STOPWORDS:
        hit = F.when(F.array_contains(t, wrd), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit
    ok = {
        "ok_word_count": (n_words >= min_words) & (n_words <= max_words),
        "ok_mean_word_len": F.coalesce(
            (mean_len >= 3) & (mean_len <= 10), F.lit(False)
        ),
        "ok_symbol_ratio": F.coalesce(
            (hash_ratio <= 0.1) & (ell_ratio <= 0.1), F.lit(False)
        ),
        "ok_bullet_lines": F.coalesce(bullet_frac <= 0.9, F.lit(False)),
        "ok_ellipsis_lines": F.coalesce(ellipsis_frac <= 0.3, F.lit(False)),
        "ok_alpha_words": F.coalesce(alpha_frac >= 0.8, F.lit(False)),
        "ok_stopwords": F.coalesce(stop_hits >= 2, F.lit(False)),
    }
    cols = [F.col(id_col).alias("doc_id"), n_words.cast("bigint").alias("n_words")]
    cols += [F.col(c) for c in carry_cols]
    cols += [v.alias(k) for k, v in ok.items()]
    passed = None
    for v in ok.values():
        passed = v if passed is None else passed & v
    return docs.select(*cols, passed.alias("pass_all"))


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 4,
) -> DataFrame:
    """BM25 lexical retrieval: top-``k`` documents per query string —
    (query_id, doc_id, score, rank).

    The Robertson/Spärck-Jones ranking every retrieval pipeline starts
    from: score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·|d|/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) (the non-negative
    Lucene/ATIRE form).  Deterministic: scores round to ``round_dp`` and
    rank ties break by doc_id, so any engine reproduces the ordering.

    Scale shape: the exploded token stream is broadcast-SEMI-JOINED
    against the query's term list BEFORE the (doc_id, tok) tf aggregate,
    so the only thing that shuffles at corpus scale is the matched
    posting lists — at 100 TB that is orders of magnitude smaller than
    the full (doc, token) relation.  The single remaining corpus-wide
    aggregate is ``dlen`` (``groupBy(doc_id).count()`` — map-side
    combinable partial aggregation, the minimum BM25's |d|/avgdl terms
    require); df then derives from the already-filtered tf; N and avgdl
    enter as broadcast scalars (crossJoin of a 1-row aggregate — no
    driver-side action); the final per-query ranking is a top-k window
    per query over only the docs that matched ≥ 1 term."""
    from pyspark.sql import Window

    qrows = [(int(qid), t) for qid, qtext in queries
             for t in dict.fromkeys(qtext.split(" ")) if t]
    spark = docs.sparkSession
    qterms = F.broadcast(
        small_df(spark, qrows, "query_id bigint, tok string")
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(text_col, " ")).alias("tok"),
    )
    # the query-term filter sits BELOW the tf aggregate: only matched
    # (doc, tok) rows ever shuffle (the corpus-wide token relation never
    # does)
    tf = (
        toks.join(qterms.select("tok").distinct(), "tok", "left_semi")
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    # |d| is size(split(text)): identical to counting the exploded token
    # stream (explode of [""] emits one row exactly as size([""]) is 1;
    # the isNotNull guard reproduces explode's silent drop of null
    # texts), but a ZERO-SHUFFLE projection — the former
    # groupBy(doc_id).count() exploded the whole corpus a second time
    # and shuffled one row per doc for a value the row itself already
    # determines (r15)
    dlen = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(text_col, " ")).cast("long").alias("dl"),
    )
    stats = dlen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("tok").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    scored = (
        tf.join(qterms, "tok")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(df_t), "tok")
        .select(
            "query_id",
            "doc_id",
            (
                idf
                * (F.col("tf") * (k1 + 1))
                / (
                    F.col("tf")
                    + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("part"), round_dp).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("long"))
    )


def ppl_buckets(
    docs: DataFrame,
    by: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    language's documents into head / middle / tail terciles by LM score
    (here the corpus-unigram :func:`unigram_logprob` proxy — head = the
    best-scoring third, the slice CCNet keeps outright; tail = the third
    most pipelines drop or down-weight).

    Returns (doc_id, <by>, avg_logprob, p_low, p_high, bucket) with the
    tercile thresholds exposed for auditability.

    Scale shape: bucket membership is decided by comparing each doc's
    score against its group's two PERCENTILE THRESHOLDS — a
    groups-sized aggregate broadcast back onto the scored corpus — NOT
    by an ``ntile`` window: a per-language ntile puts an entire
    language in one task (the head language IS the corpus at 100 TB),
    while the threshold form is one tiny aggregate plus a map-side
    broadcast join, the same shape as the adaptive quality gate.
    Thresholds and scores are both rounded to 6 dp, so the boundary
    comparison is engine-stable.
    """
    scored = unigram_logprob(docs, text_col, id_col).join(
        docs.select(F.col(id_col).alias("doc_id"), by), "doc_id"
    )
    thr = scored.groupBy(by).agg(
        F.round(F.percentile("avg_logprob", 1.0 / 3.0), 6).alias("p_low"),
        F.round(F.percentile("avg_logprob", 2.0 / 3.0), 6).alias("p_high"),
    )
    return scored.join(F.broadcast(thr), by).select(
        "doc_id",
        by,
        "avg_logprob",
        "p_low",
        "p_high",
        F.when(F.col("avg_logprob") >= F.col("p_high"), F.lit("head"))
        .when(F.col("avg_logprob") >= F.col("p_low"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def tokenize_ids(
    docs: DataFrame,
    vocab: DataFrame,
    unk_id: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Map every document token to its vocabulary id — the id-ization
    step between vocabulary induction (:func:`vocab_topv`) and sequence
    packing / shard export: (doc_id, pos, tid) with ``pos`` the 0-based
    token position and ``tid`` the vocab rank (1..V, the
    frequency-ordered id convention) or ``unk_id`` for OOV tokens.

    Scale shape: one posexplode generator feeding a BROADCAST left join
    on the vocabulary (model-state scale — even a 10^5-type vocab is
    MBs) — fully map-side, zero corpus shuffle; plancheck pins the
    exchange-free shape."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "tok"),
    )
    v = F.broadcast(vocab.select("tok", F.col("rk").alias("tid")))
    return toks.join(v, "tok", "left").select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.coalesce(F.col("tid"), F.lit(unk_id)).cast("long").alias("tid"),
    )


def hashed_weight_table(
    spark, buckets: int, seed: str = "qc", scale: int = 1000
) -> DataFrame:
    """Deterministic fixed-point weight table for
    :func:`quality_classifier`: bucket i carries an integer-valued
    weight in [-scale, scale] derived from md5(seed:i) — a
    reproducible stand-in for TRAINED classifier weights (swap in any
    (bucket, w) relation; the Spark-side plumbing is identical).
    Integer-valued weights make the per-doc sum EXACT under any
    accumulation order, so the classifier score is engine-portable
    without decimal casts (the quantized-weight deployment shape)."""
    from datayours_spark.functions.dedup import md5_int32

    return spark.range(buckets).select(
        F.col("id").cast("long").alias("bucket"),
        (
            F.pmod(
                md5_int32(
                    F.concat(F.lit(seed + ":"), F.col("id").cast("string"))
                ),
                F.lit(2 * scale + 1),
            )
            - scale
        )
        .cast("double")
        .alias("w"),
    )


def quality_classifier(
    docs: DataFrame,
    weights: DataFrame,
    buckets: int,
    bias: float = 0.0,
    w_scale: float = 1.0,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """fastText/DCLM-style hashed linear quality classifier: score
    every document with a bag-of-hashed-ngram linear model —
    sigmoid(bias + Σ w[h(feat) mod buckets] / (w_scale · n_feats))
    over unigram + bigram token features — the model-based quality
    filter that sits after the Gopher-style heuristic gate in modern
    LLM corpus pipelines (CCNet's LM filter, DCLM's fastText
    classifier).  Output: (doc_id, n_feats, score, keep) with ``keep``
    compared on the ROUNDED score so both engines decide identically;
    EVERY input doc gets a row — a featureless doc (null text) scores
    (n_feats=0, score null, keep false) instead of silently bypassing
    the filter and the audit record (ADVICE r10).

    ``weights`` is (bucket, w) MODEL STATE (broadcast); hash-missing
    buckets weigh 0.  With integer-valued ``w`` (quantized weights,
    :func:`hashed_weight_table`) the feature sum is exact under any
    accumulation order — floating weights work but put scores within
    one ulp of a rounding boundary at the mercy of partial-sum order.

    Scale shape: one feature explode (unigrams + the shingle chain) →
    md5-bucket hash → BROADCAST weight join (model state, MBs) → ONE
    doc-keyed combine (map-side partial) → in-plan sigmoid.  No
    corpus-sized shuffle other than the per-doc aggregate; no Python."""
    from datayours_spark.functions.dedup import md5_int32, token_shingles

    toks = F.col("_toks")
    feats = F.concat(toks, token_shingles(text_col, 2, tokens=toks))
    # explode_OUTER keeps featureless docs (null text → null feature
    # array) in the stream as one null-feature row, so every input doc
    # reaches the aggregate — same plan, zero extra shuffles (a
    # join-back to the input ids would add one); the null feature
    # hashes to a null bucket, matches no weight, and is excluded from
    # the n_feats count below.  The token array is bound in its own
    # projection so the unigram + shingle references share one split
    # per row (r15).
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_toks"),
    ).select(
        "doc_id", F.explode_outer(feats).alias("feat")
    ).select(
        "doc_id",
        F.pmod(md5_int32(F.col("feat")), F.lit(buckets))
        .cast("long")
        .alias("bucket"),
    )
    w = F.broadcast(
        weights.select(
            F.col("bucket").cast("long").alias("bucket"), "w"
        )
    )
    agg = (
        hashed.join(w, "bucket", "left")
        .groupBy("doc_id")
        .agg(
            # count("bucket") skips the null-feature sentinel rows, so
            # a featureless doc aggregates to n_feats=0
            F.count("bucket").cast("long").alias("n_feats"),
            F.sum(F.coalesce("w", F.lit(0.0))).alias("s"),
        )
    )
    z = F.lit(bias) + F.col("s") / (F.lit(w_scale) * F.col("n_feats"))
    score = F.when(
        F.col("n_feats") > 0,
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6),
    )
    return agg.select(
        "doc_id",
        "n_feats",
        score.alias("score"),
        F.coalesce(score >= F.lit(threshold), F.lit(False)).alias("keep"),
    )


# --------------------------------------------------------------- BPE

#: BPE end-of-word marker (Sennrich et al. 2016).  Symbols never
#: contain spaces, so the spaced-string encoding below is unambiguous.
BPE_EOW = "</w>"


#: vocabulary-size gate for the driver-side BPE rounds: at or below
#: this many distinct words the whole word-frequency table is collected
#: once (≤ a few MB of strings) and the merge rounds run in Python; above
#: it the rounds stay distributed.  The merge table itself is model
#: state either way — this only moves WHERE the bounded per-round
#: arithmetic happens, exactly like TRAINING_CODEGEN_MIN_ROWS moves
#: codegen, never what is computed.
BPE_DRIVER_MAX_VOCAB = 65_536


def _bpe_merges_rounds_py(
    vocab: list[tuple[int, str]], n_merges: int
) -> list[tuple[str, str, int]]:
    """Driver-side replay of the distributed merge rounds below —
    operation-for-operation identical: symbols are the double-spaced
    string split on two spaces (after trim), pair counts are
    freq-weighted adjacent occurrences, the winner is (freq DESC, left
    ASC, right ASC), and the merge is the literal non-overlapping
    left-to-right ``" a  b " -> " ab "`` string replace (Python
    ``str.replace`` and Spark/DuckDB ``replace`` share exactly those
    semantics)."""
    entries = [(freq, s) for freq, s in vocab]
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for freq, s in entries:
            syms = s.strip().split("  ")
            for i in range(len(syms) - 1):
                key = (syms[i], syms[i + 1])
                counts[key] = counts.get(key, 0) + freq
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, int(cnt)))
        entries = [
            (freq, s.replace(f" {a}  {b} ", f" {a}{b} "))
            for freq, s in entries
        ]
    return merges


def _bpe_spaced(chars_col):
    """Encode a symbol array as the DOUBLE-SPACED string ``' a  b  c '``
    (two spaces between symbols, one at each end).  Replacing the
    pattern ``' a  b '`` with ``' ab '`` then merges one adjacent pair
    occurrence per scan position, left-to-right non-overlapping over
    the ORIGINAL string — exactly the published merge semantics
    (Sennrich's ``(?<!\\S)a b(?!\\S)`` re.sub): in ``l l l l`` the
    first and second merges both fire (``ll ll``), in ``l l l`` only
    the first (``ll l``) — while keeping the whole rewrite one
    engine-portable ``replace`` call (no lookarounds, which RE2/DuckDB
    lack)."""
    return F.concat(
        F.lit(" "), F.array_join(chars_col, "  "), F.lit(" ")
    )


def bpe_merges(
    docs: DataFrame,
    n_merges: int = 16,
    text_col: str = "text",
    checkpoint_every: int = 8,
) -> list[tuple[str, str, int]]:
    """Byte-pair-encoding merge induction (Sennrich et al. 2016): learn
    the ``n_merges`` most frequent adjacent symbol pairs, starting from
    characters + the ``</w>`` end-of-word marker, each round merging
    the winning pair everywhere before recounting.  Returns the ordered
    merge table ``[(left, right, pair_freq), ...]`` — model state, like
    :func:`~datayours_spark.functions.similarity.pq_codebooks`.

    Ties break (freq DESC, left ASC, right ASC) so the table is unique
    and engine-independent (the DuckDB oracle replays every round).

    Scale shape: the corpus collapses to the WORD-FREQUENCY table once
    (one map-side-combinable aggregate; every later round touches only
    the vocabulary, never the corpus — the standard BPE reduction).
    Each round is (a) one pair-count aggregate over the vocab (pair
    extraction is a zip of two array slices — a generator projection),
    (b) a bounded top-1 (``orderBy().limit(1)``, TakeOrderedAndProject),
    (c) one literal ``replace`` rewrite of the spaced symbol string —
    the merge pair enters as a plan literal, nothing shuffles.  Plan
    depth grows with rounds, so the vocab re-checkpoints every
    ``checkpoint_every`` merges."""
    words = (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("word")
        )
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")
    vocab = words.select(
        "freq",
        _bpe_spaced(
            F.concat(chars, F.array(F.lit(BPE_EOW)))
        ).alias("s"),
    )
    # r15: the rounds only ever touch the word-frequency table (the
    # standard BPE reduction) — when that table is model-state sized,
    # run them DRIVER-SIDE on one collected copy instead of paying
    # n_merges Spark jobs over a KB-scale relation (measured ~2.5 s of
    # pure job/plan overhead per induction at sf0.1, ×3 BPE queries).
    # The cap-bounded `limit(cap+1).collect()` probe is the r14
    # stats-floor discipline: ≤ cap rows means we hold the WHOLE vocab
    # and the Python replay is exact (same integer counts, same
    # string-replace merge semantics, same freq-desc/lex tie-break —
    # UTF-8 binary order equals code-point order); cap+1 rows means a
    # big vocabulary, and the distributed rounds below run unchanged.
    head = vocab.limit(BPE_DRIVER_MAX_VOCAB + 1).collect()
    if len(head) <= BPE_DRIVER_MAX_VOCAB:
        return _bpe_merges_rounds_py(
            [(int(r["freq"]), r["s"]) for r in head], n_merges
        )
    vocab = vocab.localCheckpoint(eager=True)

    merges: list[tuple[str, str, int]] = []
    for r in range(n_merges):
        ss = F.split(F.trim(F.col("s")), "  ")
        n = F.size(ss)
        pairs = vocab.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.slice(ss, 1, n - 1).alias("a"),
                    F.slice(ss, 2, n - 1).alias("b"),
                )
            ).alias("p"),
        ).where(F.col("p.b").isNotNull())
        top = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] is None:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((a, b, cnt))
        vocab = vocab.select(
            "freq",
            F.replace(
                F.col("s"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")
            ).alias("s"),
        )
        if (r + 1) % checkpoint_every == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges


def bpe_sym_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
) -> DataFrame:
    """Post-merge symbol occurrence counts (sym, n) over the corpus,
    computed from the WORD-FREQUENCY table: the segmentation of a token
    depends only on the word, so the corpus-wide symbol count is
    Σ_word freq(word) × multiplicity(sym in segment(word)) — integer-
    exact equal to counting over the corpus-occurrence segment stream,
    at the cost of one light token count instead of a second run of the
    merge-chain projection over every token occurrence (r15: the
    duplicated segment pass was ~half of q_bpe_ids' execution)."""
    words = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
    )
    s = _bpe_spaced(F.concat(chars, F.array(F.lit(BPE_EOW))))
    for a, b, _cnt in merges:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return (
        words.select(
            "freq", F.explode(F.split(F.trim(s), "  ")).alias("sym")
        )
        .groupBy("sym")
        .agg(F.sum("freq").alias("n"))
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table: segment every document token into
    its BPE subword symbols — (doc_id, pos, word, sym_pos, sym).  The
    merge table is model state (``n_merges`` literal replaces chained
    into ONE projection over the token generator), so the whole
    segmentation is a zero-shuffle codegen pass; feed the output to
    :func:`tokenize_ids`-style id-ization or straight to packing."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word"),
    ).where(F.length("word") > 0)
    chars = F.expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")
    s = _bpe_spaced(F.concat(chars, F.array(F.lit(BPE_EOW))))
    for a, b, _cnt in merges:
        s = F.replace(s, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return toks.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        "word",
        F.posexplode(F.split(F.trim(s), "  ")).alias("sym_pos", "sym"),
    ).select(
        "doc_id", "pos", "word",
        F.col("sym_pos").cast("long").alias("sym_pos"), "sym",
    )
