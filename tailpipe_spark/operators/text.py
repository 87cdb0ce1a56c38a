"""Text-analysis operators: language ID, quality scoring, token stats,
document fingerprinting. All built-in-function plans (split / regexp /
array ops) — narrow, shuffle-free per-document transforms that scale to
arbitrary corpus size; the only shuffles are the explicit corpus-level
aggregations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from tailpipe_spark.operators.dedup import normalize_text

#: tiny marker-word lists per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "fr": ["le", "la", "et", "est", "les"],
    "es": ["el", "la", "que", "de", "es"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})


def _word_hits(words_col, vocab: list[str]):
    """Tokens matching any vocab word, counted over the already-split
    token array — one split per document, no per-word regex passes."""
    return F.size(F.filter(words_col, lambda t: t.isin(*vocab)))


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker-word hit counts, 'und'
    (undetermined) when no marker appears. The text is split once; each
    language score is an array filter over the token array (the
    regexp-replace-per-word formulation cost ~20 full-text regex passes
    per row)."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    scored = docs
    for lang, markers in LANG_MARKERS.items():
        scored = scored.withColumn(f"__s_{lang}", _word_hits(words, markers))
    langs = list(LANG_MARKERS)
    best = F.greatest(*[F.col(f"__s_{l}") for l in langs])
    pred = F.lit("und")
    # deterministic tie-break: first language in sorted order wins
    for l in sorted(langs, reverse=True):
        pred = F.when((best > 0) & (F.col(f"__s_{l}") == best), F.lit(l)).otherwise(pred)
    out = scored.withColumn("pred_lang", pred)
    return out.drop(*[f"__s_{l}" for l in langs])


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features + a boolean keep flag:
    n_chars / n_words / avg_word_len / punct_ratio / stopword_ratio."""
    norm = normalize_text(F.col(text_col))
    words = F.split(norm, " ")
    n_chars = F.length(norm)
    n_words = F.size(words)
    n_punct = F.length(F.regexp_replace(norm, r"[a-z0-9 ]", ""))
    stop_hits = _word_hits(words, STOPWORDS)
    avg_word_len = (n_chars - (n_words - 1)) / n_words
    return docs.select(
        "*",
        n_chars.alias("q_chars"),
        n_words.alias("q_words"),
        avg_word_len.alias("q_avg_word_len"),
        (n_punct / F.greatest(n_chars, F.lit(1))).alias("q_punct_ratio"),
        (stop_hits / n_words).alias("q_stopword_ratio"),
        (
            (n_words >= 5)
            & (n_words <= 100000)
            & (avg_word_len >= 2.0)
            & (avg_word_len <= 12.0)
        ).alias("q_keep"),
    )


def token_stats(docs: DataFrame, text_col: str = "text", top_k: int = 20) -> DataFrame:
    """Corpus token frequency table, top_k by count (token asc tiebreak)."""
    toks = docs.select(
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("token")
    ).where(F.col("token") != "")
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("token").asc())
        .limit(top_k)
    )


def doc_token_counts(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts (total + distinct) — the 'token
    counting' primitive for pipeline budgeting."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    return docs.select(
        id_col,
        F.size(words).alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_distinct_tokens"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 3,
    corpus_size: int | None = None,
) -> DataFrame:
    """Per-document top-k terms by tf-idf — the characteristic-term
    primitive for corpus exploration / keyword extraction.

    idf is the BM25-style RATIONAL form (N − df + 0.5)/(df + 0.5)
    instead of a log: exact integer-plus-half division is bit-identical
    across engines, so the score (quantized to the 1e-12 grid) is
    oracle-portable without transcendental-function ulp drift. Ranking
    tiebreaks on the term, so result order is fully deterministic.

    Plan: tf = one shuffle on (doc, term); df = one shuffle on term;
    score join is term-keyed (idf table is vocabulary-sized — broadcast
    when small); per-doc top-k is a window on doc. ``corpus_size``
    (catalog/footer hint) skips the count job.
    """
    from tailpipe_spark.operators.similarity import quantize12
    from pyspark.sql import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = corpus_size if corpus_size is not None else docs.count()
    idf = (F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    scored = tf.join(df_, "term").select(
        id_col,
        "term",
        "tf",
        "df",
        quantize12(F.col("tf") * idf).alias("tfidf"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


#: PII patterns, ordered — redaction applies them in this order, so an
#: IP-looking substring inside an already-redacted email never matches.
#: Patterns are restricted to the regex subset Java regex and RE2 agree
#: on (character classes + bounded repetition; no lookaround/backrefs)
#: so the DuckDB oracle replays them byte-for-byte.
PII_PATTERNS: dict[str, str] = {
    "email": r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def pii_scan(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII detection + redaction.

    Counts matches per PII class on the normalized text and emits the
    md5 of the sequentially-redacted text (each class replaced by its
    ``<CLASS>`` token in PII_PATTERNS order). Pure JVM regexp plan — a
    narrow per-row transform with no shuffle, the shape a 100 TB
    redaction sweep needs.
    """
    norm = normalize_text(F.col(text_col))
    counts = [
        F.regexp_count(norm, F.lit(p)).cast("long").alias(f"n_{k}")
        for k, p in PII_PATTERNS.items()
    ]
    redacted = norm
    for k, p in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, p, f"<{k.upper()}>")
    scanned = docs.select(
        id_col, *counts, F.md5(redacted).alias("redacted_md5")
    )
    total = None
    for k in PII_PATTERNS:
        c = F.col(f"n_{k}")
        total = c if total is None else total + c
    return scanned.select(
        id_col,
        *[f"n_{k}" for k in PII_PATTERNS],
        total.alias("n_pii"),
        (total > 0).alias("has_pii"),
        "redacted_md5",
    )


def repetition_features(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Within-document repetition (Gopher-style quality rule): total and
    distinct word n-grams, the top n-gram's frequency, and the duplicate
    n-gram fraction. Docs shorter than n tokens yield no row.

    Two aggregations, both keyed on (or by) doc_id — uniformly
    distributed keys, so the shuffle is skew-free at any corpus size.
    """
    toks = docs.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("t")
    )
    grams = toks.where(F.size("t") >= n).select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - n),
                lambda i: F.array_join(F.slice("t", i + 1, n), " "),
            )
        ).alias("gram"),
    )
    per = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("c"))
    return per.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.count(F.lit(1)).alias("distinct_grams"),
        F.max("c").alias("top_gram_freq"),
        ((F.sum("c") - F.count(F.lit(1))) / F.sum("c")).alias("dup_gram_ratio"),
        (F.max("c") / F.sum("c")).alias("top_gram_ratio"),
    )


def url_domains(docs: DataFrame, text_col: str = "text", top_k: int = 20) -> DataFrame:
    """Corpus-level URL domain frequency (the substrate for domain
    allow/block-list filtering): extract every http(s) URL's host from
    the normalized text, count per domain, top_k (count desc, domain
    asc). Partial aggregation makes the shuffle carry only per-partition
    (domain, count) rows — web-scale safe."""
    hosts = docs.select(
        F.explode(
            F.regexp_extract_all(
                normalize_text(F.col(text_col)),
                F.lit(r"https?://([a-z0-9.-]+)"),
                1,
            )
        ).alias("domain")
    )
    return (
        hosts.groupBy("domain")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("domain").asc())
        .limit(top_k)
    )


def chunk_documents(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 50,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into ≤chunk_tokens-token windows with
    ``overlap`` shared tokens between consecutive chunks (the standard
    context-length chunking step before tokenization/embedding).

    Chunk starts advance by ``chunk_tokens - overlap``; the final start
    is capped at max(n_tokens - overlap, 1) so no chunk is fully
    contained in its predecessor. Entirely row-local (split + sequence +
    slice + explode): a narrow transform with no shuffle, so it scales
    to any corpus and any executor count.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(normalize_text(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(words) - overlap, F.lit(1)), F.lit(stride)
    )
    chunks = F.transform(starts, lambda s: F.slice(words, s, chunk_tokens))
    return docs.select(
        id_col, F.posexplode(chunks).alias("chunk_idx", "chunk_words")
    ).select(
        id_col,
        "chunk_idx",
        F.size("chunk_words").cast("long").alias("n_chunk_tokens"),
        F.md5(F.array_join(F.col("chunk_words"), " ")).alias("chunk_md5"),
    )


def pack_greedy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shard_col: str | None = None,
    capacity: int = 256,
) -> DataFrame:
    """Greedy contiguous sequence packing: walk documents in id order
    and assign each to sequence floor(tokens_before / capacity) — the
    deterministic streaming-pack strategy (documents are not reordered
    or split; a long document may overflow its sequence).

    ``shard_col`` packs independently inside each shard, which is the
    100 TB shape: the running sum is a window per shard, so no global
    single-partition sort ever materializes. Without a shard the window
    is global — only for small corpora / oracle determinism.
    """
    from pyspark.sql import Window

    if shard_col is None:
        # not silent: a global running sum funnels the whole corpus
        # through ONE task's window partition
        import warnings

        warnings.warn(
            "pack_greedy without shard_col builds a single global window "
            "(one partition holds every row); pass shard_col for any "
            "corpus that doesn't comfortably fit one task",
            UserWarning,
            stacklevel=2,
        )
    n_tokens = F.size(F.split(normalize_text(F.col(text_col)), " ")).cast("long")
    w = (
        Window.partitionBy(shard_col) if shard_col is not None else Window.partitionBy()
    ).orderBy(F.col(id_col)).rowsBetween(Window.unboundedPreceding, -1)
    sized = docs.select(
        *( [shard_col] if shard_col is not None else [] ),
        F.col(id_col),
        n_tokens.alias("n_tokens"),
    )
    packed = sized.withColumn(
        "seq_id",
        F.floor(F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / capacity),
    )
    keys = ([shard_col] if shard_col is not None else []) + ["seq_id"]
    return packed.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


#: BPE-style pre-tokenizer over normalized text: letter runs, digit
#: runs, single non-alphanumerics. Alternatives match disjoint character
#: sets, so leftmost-first (Java) and RE2 (DuckDB) agree exactly.
BPE_TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def bpe_token_counts(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts under a BPE-ish regex pre-tokenizer —
    the budgeting complement to whitespace counting (doc_token_counts):
    punctuation and digit runs become tokens, as a subword tokenizer's
    pre-tokenization pass would emit them."""
    toks = F.regexp_extract_all(
        normalize_text(F.col(text_col)), F.lit(BPE_TOKEN_RE), 0
    )
    return docs.select(
        id_col,
        F.size(toks).cast("long").alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_bpe_tokens"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set. Docs differing only in token order/duplication collide."""
    words = F.split(normalize_text(F.col(text_col)), " ")
    return docs.select(
        id_col,
        F.md5(F.array_join(F.array_sort(F.array_distinct(words)), " ")).alias(
            "fingerprint"
        ),
    )


def hash_embedding(
    docs: DataFrame,
    dim: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Feature-hashing bag-of-words embedding (the "hashing trick"):
    each token lands in ``bucket = hash(token) % dim`` with a ±1 sign
    bit, per-doc bucket sums form a dim-wide integer vector. Bridges
    the text tables into the embedding operators (cosine near-dup, ANN,
    k-means) without any model: deterministic, vocabulary-free, and
    EXACT — components are integer sums, so the result is bit-portable
    and oracle-checkable.

    Bucket and sign come from md5 hex digits, so any SQL engine replays
    them (``dim`` <= 256: two hex digits). Plan: explode → one
    (doc, bucket) aggregation → one per-doc map densification; shuffle
    volume is bounded by docs × dim.
    """
    if dim > 256:
        raise ValueError("md5 bucket derivation supports dim <= 256")
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    ).where(F.col("tok") != "")
    hx = "0123456789abcdef"
    b = (
        f"((instr('{hx}', substr(md5(tok), 1, 1)) - 1) * 16"
        f" + instr('{hx}', substr(md5(tok), 2, 1)) - 1) % {dim}"
    )
    s = f"1 - 2 * ((instr('{hx}', substr(md5(tok), 3, 1)) - 1) % 2)"
    hashed = toks.select(id_col, F.expr(b).alias("bucket"), F.expr(s).alias("sign"))
    per_bucket = hashed.groupBy(id_col, "bucket").agg(
        F.sum("sign").cast("long").alias("v")
    )
    dense = F.expr(
        f"transform(sequence(0, {dim - 1}), "
        f"i -> coalesce(element_at(map_from_entries("
        f"collect_list(struct(bucket, v))), i), 0L))"
    )
    return per_bucket.groupBy(id_col).agg(dense.alias("embedding"))


def char_ngram_model(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Corpus-level character n-gram counts — the MODEL half of the
    CCNet-style LM quality filter (Wenzek et al., "CCNet: Extracting
    High Quality Monolingual Datasets from Web Crawl Data", LREC 2020:
    score documents by language-model perplexity, keep the
    low-perplexity head). KenLM is out of scope for a pure-Spark
    engine; a conditional character n-gram model is the Spark-first
    analog — and unlike a word model its size is CORPUS-INDEPENDENT
    (bounded by |charset|^n, ~1e6 rows for printable text at n=3), so
    the model broadcasts at any corpus scale and scoring never joins
    two big sides.

    Returns (gram, cnt): one count per distinct n-gram of the
    normalized text. Plan: one row-local transform/sequence explode +
    ONE gram-keyed aggregation (partial map-side combine does the
    heavy lifting — output cardinality is charset-bounded).
    """
    grams = docs.select(
        normalize_text(F.col(text_col)).alias("__norm")
    ).select(
        F.explode(_char_grams_arr(n)).alias("gram")
    )
    return grams.groupBy("gram").agg(F.count(F.lit(1)).alias("cnt"))


def _char_grams_arr(n: int):
    """All char n-grams of ``__norm`` as an array; EXPLICITLY empty for
    docs shorter than n — ``sequence(1, 0)`` in Spark auto-steps
    DESCENDING ([1, 0]), which would fabricate two truncated grams per
    short doc (caught by the short-doc pytest, not the oracle: the
    testdata corpus has no sub-n documents)."""
    return F.when(
        F.length("__norm") >= n,
        F.expr(
            f"transform(sequence(1, length(__norm) - {n - 1}),"
            f" i -> substr(__norm, i, {n}))"
        ),
    ).otherwise(F.expr("array()"))


def lm_score(
    docs: DataFrame,
    model: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score each document's typicality under a char n-gram model from
    :func:`char_ngram_model` — the FILTER half of the CCNet-style LM
    quality step: low bits-per-gram ≈ fluent/common text, high ≈
    gibberish, boilerplate soup, or wrong-language content.

    The conditional probability is defined ENGINE-REPLAYABLY:
    p(gram) = cnt(gram) / ctx(prefix), where ctx(prefix) = Σ cnt over
    the model's grams sharing the (n-1)-char prefix — a definition
    that sums to 1 per context and needs no separate (n-1)-gram pass,
    so both engines compute the identical rational number per gram.
    bits_per_gram = -(1/m) Σ log2 p over the doc's m grams, quantized
    to the 1e-9 grid (the :func:`operators.similarity.quantize`
    discipline: per-gram log2 differs across engines by an ulp and the
    per-doc sum drifts ~1e-12; the shared grid absorbs it — the
    sec_entropy_scan precedent). Docs shorter than n normalized chars
    get m=0 and NULL bits. Grams absent from the model (cross-corpus
    scoring) are skipped and reported in ``oov_grams`` rather than
    smoothed — add-one smoothing needs |charset|^n as a constant,
    which would silently bind the score to a charset assumption.

    Scale shape: one row-local gram explode, two BROADCAST joins (the
    model and its prefix-context rollup are charset-bounded — 2,781
    grams over this corpus at n=3 — so they broadcast at any corpus
    scale), one doc-keyed partial-agg shuffle. Linear end to end, no
    big-side join, no collect. Profiled at sf10 (500k docs, ~400M
    grams): the per-char transform/substr gram EXTRACTION is the wall
    (21.5 s of the 52.7 s total on 32 cores; explode +8 s; joins and
    agg the remainder) — higher-order-function lambdas evaluate
    interpreted, outside whole-stage codegen. A plan-literal
    perfect-hash lookup table (collected model embedded as folded
    BIGINT/DOUBLE array literals, seeded-xxhash64 buckets verified
    injective, O(1) element_at probes) was built and A/B-measured as
    the "obvious" fix and LOST: scoring-only 59 s vs 52.7 s for this
    whole plan — the giant literals push the projection out of
    codegen, and the extraction floor dominates either way. Negative
    result recorded here so the next optimizer starts at the real
    bottleneck (the per-gram substr churn), not the joins. For
    comparison, DuckDB runs the identical oracle at sf1 in 13.6 s —
    ~136 s at sf10 scale — so the broadcast-join plan is already ~2.5x
    ahead of the baseline engine at scale.
    """
    from tailpipe_spark.operators.similarity import quantize

    ctx = model.groupBy(
        F.substring(F.col("gram"), 1, n - 1).alias("prefix")
    ).agg(F.sum("cnt").alias("ctx_cnt"))
    grams = docs.select(
        F.col(id_col), normalize_text(F.col(text_col)).alias("__norm")
    ).select(
        id_col,
        F.posexplode_outer(_char_grams_arr(n)).alias("pos", "gram"),
    )
    scored = (
        grams.join(F.broadcast(model), "gram", "left")
        .join(
            F.broadcast(ctx),
            F.substring(F.col("gram"), 1, n - 1) == F.col("prefix"),
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count("gram").alias("n_grams"),
            F.count(F.when(F.col("gram").isNotNull() & F.col("cnt").isNull(), 1)).alias("oov_grams"),
            F.sum(
                F.log2(F.col("cnt").cast("double") / F.col("ctx_cnt"))
            ).alias("__logsum"),
        )
    )
    bits = F.when(
        (F.col("n_grams") - F.col("oov_grams")) > 0,
        quantize(
            -F.col("__logsum") / (F.col("n_grams") - F.col("oov_grams")), 9
        ),
    )
    return scored.select(
        id_col,
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("oov_grams").cast("long").alias("oov_grams"),
        bits.alias("bits_per_gram"),
    )
