"""Training-data pipeline queries over ``documents``: dedup tiers,
text analysis, fingerprinting. Oracle SQL is generated from the same
parameters (marker words, hash seeds, band layout) as the Spark plans so
both sides stay in lock-step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tailpipe_spark.operators import dedup as dd
from tailpipe_spark.operators import text as tx
from tailpipe_spark.queries import QuerySpec


def _docs(spark: SparkSession, sf_dir: str, parallel: bool = False) -> DataFrame:
    from tailpipe_spark.session import read_table

    return read_table(
        spark, f"{sf_dir}/documents.parquet", parallelize=parallel
    )


#: DuckDB expression mirroring operators.dedup.normalize_text
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
#: DuckDB CTE producing distinct (doc_id, gram) word-3-grams
_GRAMS_SQL = f"""
toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks)
)
"""


# --- exact dedup (md5 hash-groupBy) ---

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_dedup_stats(_docs(spark, sf_dir))


DEDUP_EXACT_SQL = f"""
SELECT COUNT(*) AS total_docs,
       COUNT(DISTINCT md5({_NORM_SQL})) AS distinct_docs,
       COUNT(*) - COUNT(DISTINCT md5({_NORM_SQL})) AS duplicate_docs
FROM documents
"""


# --- n-gram Jaccard near-dup pairs ---

_MAX_GRAM_DF = 1000  # hot-gram cap, mirrored in the oracle below


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.session import parquet_column_range, parquet_row_count

    # footer-PROVED 32-bit ids enable the packed pair key (identical
    # results; the proof, not an assumption, gates the plan variant)
    rng = parquet_column_range(f"{sf_dir}/documents.parquet", "doc_id")
    packable = rng is not None and 0 <= rng[0] and rng[1] < (1 << 31)
    return dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, threshold=0.2,
        max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
        packable_ids=packable,
    ).orderBy("id_a", "id_b")


def _jaccard_sql(threshold: float) -> str:
    """Ground-truth exact all-shared-grams Jaccard join at ``threshold``
    — the oracle for BOTH the inverted-index plan (dedup_ngram_jaccard)
    and the prefix-filtered plan (dedup_prefix_jaccard); for the latter
    the hash match doubles as the prefix filter's losslessness proof."""
    return f"""
WITH {_GRAMS_SQL},
gram_df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
kept AS (
  SELECT g.doc_id, g.gram FROM grams g
  JOIN gram_df d ON d.gram = g.gram AND d.df <= {_MAX_GRAM_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       common / (sa.sz + sb.sz - common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common / (sa.sz + sb.sz - common) >= {threshold}
ORDER BY id_a, id_b
"""


DEDUP_JACCARD_SQL = _jaccard_sql(0.2)

_PREFIX_T = 0.2  # same params as dedup_ngram_jaccard => same result set


def dedup_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllPairs prefix-filtered exact Jaccard join — identical output
    contract to dedup_ngram_jaccard at the same (n, threshold, cap),
    but candidates come only from each doc's rare-first gram prefix.
    The oracle is the exact all-shared-grams SQL, so the value-hash
    match proves the prefix filter loses no pairs."""
    return dd.prefix_jaccard_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, threshold=_PREFIX_T,
        max_gram_df=_MAX_GRAM_DF,
    ).orderBy("id_a", "id_b")


# --- MinHash + LSH candidate pairs (portable md5 min-hashes) ---

_NUM_HASHES = 12
_BANDS = 4
_ROWS_PER_BAND = _NUM_HASHES // _BANDS


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 hash variant: the portable twin DuckDB can replay, so the
    whole LSH pipeline (grams → signatures → bands → bucket join) is
    value-checked. The engine default is xxhash64 (dedup_minhash_fast)."""
    from tailpipe_spark.session import parquet_row_count

    return dd.minhash_lsh_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, num_hashes=_NUM_HASHES,
        bands=_BANDS, hash_fn=dd.md5_hash_fn,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).orderBy("id_a", "id_b")


def dedup_minhash_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-default MinHash LSH (seeded xxhash64, JVM-native). Same
    plan shape as dedup_minhash_lsh; hash values are engine-specific so
    the harness checks rows-only — the md5 twin covers value parity."""
    from tailpipe_spark.session import parquet_row_count

    return dd.minhash_lsh_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, num_hashes=_NUM_HASHES,
        bands=_BANDS,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).orderBy("id_a", "id_b")


def _minhash_ctes() -> str:
    """Shared CTE chain ending in ``cand`` — distinct LSH candidate
    pairs from md5 min-hash band signatures (the portable twin)."""
    mins = ", ".join(
        f"min(md5(gram || '#{s}')) AS mh{s}" for s in range(_NUM_HASHES)
    )
    band_selects = []
    for b in range(_BANDS):
        cols = " || '|' || ".join(
            f"mh{b * _ROWS_PER_BAND + r}" for r in range(_ROWS_PER_BAND)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {cols} AS sig FROM sigs"
        )
    bands_union = "\nUNION ALL ".join(band_selects)
    return f"""
WITH {_GRAMS_SQL},
sigs AS (SELECT doc_id, {mins} FROM grams GROUP BY doc_id),
buckets AS ({bands_union}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id)
"""


def _minhash_sql() -> str:
    return _minhash_ctes() + "SELECT id_a, id_b FROM cand ORDER BY id_a, id_b"


# --- LSH candidates -> exact-Jaccard verification (canonical chain) ---

_VERIFY_THRESHOLD = 0.3


def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical near-dup pipeline as one query: MinHash-LSH
    candidate generation (md5 portable twin) -> exact n-gram Jaccard
    verification restricted to the candidate list (verify_pairs).
    Value-checked end-to-end: the oracle replays signatures, banding,
    bucket join AND the per-pair verification join."""
    from tailpipe_spark.session import parquet_row_count

    docs = _docs(spark, sf_dir, parallel=True)
    cand = dd.minhash_lsh_pairs(
        docs, n=3, num_hashes=_NUM_HASHES, bands=_BANDS, hash_fn=dd.md5_hash_fn,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    )
    return dd.verify_pairs(
        docs, cand, n=3, threshold=_VERIFY_THRESHOLD
    ).orderBy("id_a", "id_b")


def _lsh_verified_sql() -> str:
    # jaccard = exact-int division in doubles — engine-identical, same
    # as DEDUP_JACCARD_SQL's comparison
    return _minhash_ctes() + f""",
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
common AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS common
  FROM cand c
  JOIN grams ga ON ga.doc_id = c.id_a
  JOIN grams gb ON gb.doc_id = c.id_b AND gb.gram = ga.gram
  GROUP BY 1, 2)
SELECT id_a, id_b,
       common / (sa.sz + sb.sz - common) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common / (sa.sz + sb.sz - common) >= {_VERIFY_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- SimHash fingerprints (xxhash64 — Spark-native, rows-only check) ---

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.session import parquet_row_count

    docs = _docs(spark, sf_dir, parallel=True)
    fp = dd.simhash(docs)
    cands = dd.simhash_candidates(
        docs, corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet")
    ).groupBy().agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    return fp.crossJoin(F.broadcast(cands)).orderBy("doc_id")


def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash chain in PORTABLE mode, oracle-checked end to end:
    60-bit fingerprints from md5-prefix token hashes (the same
    cross-engine trick as the md5 MinHash twin) plus the corpus-wide
    15-bit-chunk candidate-pair count. DuckDB replays every step —
    tokenization, per-bit votes, sign fold, chunk bucketing, distinct
    pairs — bit-identically, so a wrong bit anywhere in the chain
    breaks the hash. The xxhash64 sibling (dedup_simhash) stays the
    fast engine default."""
    from tailpipe_spark.session import parquet_row_count

    docs = _docs(spark, sf_dir, parallel=True)
    fp = dd.simhash(docs, portable=True)
    cands = dd.simhash_candidates(
        docs,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
        portable=True,
    ).groupBy().agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
    return fp.crossJoin(F.broadcast(cands)).orderBy("doc_id")


def _simhash_md5_sql() -> str:
    bits = 60
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    fold = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM toks
), votes AS (
  SELECT doc_id,
         {votes}
  FROM hashed GROUP BY doc_id
), fp AS (
  SELECT doc_id, CAST({fold} AS BIGINT) AS simhash FROM votes
), memb AS (
  SELECT doc_id, u.ci, (simhash >> (u.ci * 15)) & 32767 AS cv
  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS ci) u
), pairs AS (
  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
  FROM memb a JOIN memb b ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
), n AS (SELECT COUNT(*) AS n_candidate_pairs FROM pairs)
SELECT f.doc_id, f.simhash, CAST(n.n_candidate_pairs AS BIGINT) AS n_candidate_pairs
FROM fp f, n ORDER BY doc_id
"""


# --- language ID heuristic ---

def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.language_id(_docs(spark, sf_dir))
    return (
        out.groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("pred_lang")
    )


def _hits_sql(vocab: list[str]) -> str:
    """DuckDB twin of text._word_hits: token-array filter, one split."""
    lst = ", ".join(f"'{w}'" for w in vocab)
    return f"len(list_filter(words, t -> list_contains([{lst}], t)))"


def _langid_sql() -> str:
    score_cols = ", ".join(
        f"{_hits_sql(words)} AS s_{lang}" for lang, words in tx.LANG_MARKERS.items()
    )
    langs = sorted(tx.LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    return f"""
WITH scored AS (
  SELECT string_split({_NORM_SQL}, ' ') AS words FROM documents),
s AS (SELECT {score_cols} FROM scored),
p AS (SELECT CASE WHEN {best} > 0
             THEN CASE {case.replace('best', best)} END
             ELSE 'und' END AS pred_lang
      FROM s)
SELECT pred_lang, COUNT(*) AS n_docs FROM p GROUP BY pred_lang ORDER BY pred_lang
"""


# --- quality features (per-doc, deterministic arithmetic) ---

def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = tx.quality_features(_docs(spark, sf_dir, parallel=True))
    return out.select(
        "doc_id",
        "q_chars",
        "q_words",
        "q_avg_word_len",
        "q_punct_ratio",
        "q_stopword_ratio",
        "q_keep",
    ).orderBy("doc_id")


def _quality_sql() -> str:
    return f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL} AS norm, string_split({_NORM_SQL}, ' ') AS words
  FROM documents),
feat AS (
  SELECT doc_id,
         length(norm) AS q_chars,
         len(words) AS q_words,
         length(regexp_replace(norm, '[a-z0-9 ]', '', 'g')) AS n_punct,
         {_hits_sql(tx.STOPWORDS)} AS stop_hits
  FROM base)
SELECT doc_id, q_chars, q_words,
       (q_chars - (q_words - 1)) / q_words AS q_avg_word_len,
       n_punct / greatest(q_chars, 1) AS q_punct_ratio,
       stop_hits / q_words AS q_stopword_ratio,
       (q_words >= 5 AND q_words <= 100000
        AND (q_chars - (q_words - 1)) / q_words >= 2.0
        AND (q_chars - (q_words - 1)) / q_words <= 12.0) AS q_keep
FROM feat ORDER BY doc_id
"""


# --- token-budget curation (greedy prefix under budget) ---

_TOKEN_BUDGET = 12_000  # strict-subset budget at every shipped sf


def data_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Select the best documents until a token budget is exhausted:
    rank by (quality keep flag first, longer docs first, doc_id
    tiebreak) and keep the maximal prefix whose inclusive token sum
    stays <= the budget. Since r14 the plan is the BOUNDED-PREFIX fast
    path: a distributed TakeOrdered of at most ``budget`` rows plus one
    window over that budget-constant prefix (the only global window in
    the plan, bounded by the caller's constant, never by data scale).
    The two-phase distributed_cumsum remains the operator's generic
    path for budgets too large to prune (see budget_select). The
    oracle replays the ranking with a plain windowed SUM.

    r14 (optimization round): every document's q_words is >= 1 (the
    split of the collapsed normalized text is never empty), so
    ``unit_lower_bound=1`` lets budget_select bound the selectable
    prefix at ``_TOKEN_BUDGET`` rows and replace the full-corpus
    two-phase cumsum with a distributed TakeOrdered + a window over
    that budget-constant prefix (see the operator docstring's
    equivalence argument; values hash-identical at sf0.1/sf10). One
    featurize pass instead of sketch+offsets+rows branches: sf0.1
    0.824 -> 0.229 s, sf10 1.66 -> 1.49 s honest per-execution, and
    the input is read once, so no input cache is needed."""
    from tailpipe_spark.operators import sampling as sp

    feats = tx.quality_features(_docs(spark, sf_dir, parallel=True)).select(
        "doc_id",
        "q_words",
        F.when(F.col("q_keep"), F.lit(0)).otherwise(F.lit(1)).alias("not_keep"),
        (-F.col("q_words")).alias("neg_words"),
    )
    sel = sp.budget_select(
        feats, ["not_keep", "neg_words", "doc_id"], "q_words", _TOKEN_BUDGET,
        unit_lower_bound=1,
    )
    # cum_total is already LONG (F.sum over int + int); no cast needed
    return sel.select("doc_id", "q_words", "cum_total").orderBy("doc_id")


DATA_TOKEN_BUDGET_SQL = f"""
WITH base AS (
  SELECT doc_id, {_NORM_SQL} AS norm, string_split({_NORM_SQL}, ' ') AS words
  FROM documents),
feat AS (
  SELECT doc_id, len(words) AS q_words, length(norm) AS q_chars
  FROM base),
flagged AS (
  SELECT doc_id, q_words,
         CASE WHEN q_words >= 5 AND q_words <= 100000
                   AND (q_chars - (q_words - 1)) / q_words >= 2.0
                   AND (q_chars - (q_words - 1)) / q_words <= 12.0
              THEN 0 ELSE 1 END AS not_keep
  FROM feat),
ranked AS (
  SELECT doc_id, q_words,
         CAST(SUM(q_words) OVER (
           ORDER BY not_keep ASC, q_words DESC, doc_id ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_total
  FROM flagged)
SELECT doc_id, q_words, cum_total
FROM ranked WHERE cum_total <= {_TOKEN_BUDGET}
ORDER BY doc_id
"""


# --- token statistics ---

def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(_docs(spark, sf_dir), top_k=20)


TOKEN_STATS_SQL = f"""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS token FROM documents)
WHERE token <> ''
GROUP BY token
ORDER BY freq DESC, token ASC
LIMIT 20
"""


def text_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.doc_token_counts(_docs(spark, sf_dir)).orderBy("doc_id")


DOC_TOKENS_SQL = f"""
SELECT doc_id,
       len(string_split({_NORM_SQL}, ' ')) AS n_tokens,
       len(list_distinct(string_split({_NORM_SQL}, ' '))) AS n_distinct_tokens
FROM documents ORDER BY doc_id
"""


# --- document fingerprint (sorted distinct token set → md5) ---

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(_docs(spark, sf_dir)).orderBy("doc_id")


FINGERPRINT_SQL = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(string_split({_NORM_SQL}, ' '))), ' '))
         AS fingerprint
FROM documents ORDER BY doc_id
"""


# --- PII scan + redaction ---
#
# The synthetic corpus carries no real PII, so the query injects
# deterministic PII-shaped fields from (doc_id, source) IDENTICALLY on
# both engines before scanning — the oracle then value-checks the whole
# regex detect/redact pipeline, not just zeros.

def _with_pii(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.when(
            d % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                d.cast("string"),
                F.lit("@mail.com or 10.0."),
                (d % 256).cast("string"),
                F.lit("."),
                (d % 100).cast("string"),
            ),
        )
        .when(
            d % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" ssn 123-45-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col("text")),
    )


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.pii_scan(_with_pii(_docs(spark, sf_dir))).orderBy("doc_id")


_PII_AUG_SQL = """
aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@mail.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                     || '.' || CAST(doc_id % 100 AS VARCHAR)
              WHEN doc_id % 7 = 0 THEN
                text || ' ssn 123-45-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE text END AS text
  FROM documents)
"""


def _pii_sql() -> str:
    from tailpipe_spark.operators.text import PII_PATTERNS

    norm = _NORM_SQL
    counts = ", ".join(
        f"len(regexp_extract_all({norm}, '{p}')) AS n_{k}"
        for k, p in PII_PATTERNS.items()
    )
    red = norm
    for k, p in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{p}', '<{k.upper()}>', 'g')"
    total = " + ".join(f"n_{k}" for k in PII_PATTERNS)
    return f"""
WITH {_PII_AUG_SQL},
scanned AS (SELECT doc_id, {counts}, md5({red}) AS redacted_md5 FROM aug)
SELECT doc_id, {', '.join(f'n_{k}' for k in PII_PATTERNS)},
       {total} AS n_pii, ({total}) > 0 AS has_pii, redacted_md5
FROM scanned ORDER BY doc_id
"""


# --- BPE-ish token counting (over the PII-augmented text so digit runs
# and punctuation actually appear in the synthetic corpus) ---

def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.bpe_token_counts(
        _with_pii(_docs(spark, sf_dir, parallel=True))
    ).orderBy("doc_id")


def _bpe_sql() -> str:
    from tailpipe_spark.operators.text import BPE_TOKEN_RE

    return f"""
WITH {_PII_AUG_SQL}
SELECT doc_id,
       len(regexp_extract_all({_NORM_SQL}, '{BPE_TOKEN_RE}')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all({_NORM_SQL}, '{BPE_TOKEN_RE}')))
         AS n_distinct_bpe_tokens
FROM aug ORDER BY doc_id
"""


# --- context-length chunking + greedy sequence packing ---

_CHUNK, _OVERLAP = 50, 10
_PACK_CAPACITY = 256


def text_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.chunk_documents(
        _docs(spark, sf_dir, parallel=True), chunk_tokens=_CHUNK, overlap=_OVERLAP
    ).orderBy("doc_id", "chunk_idx")


def _chunk_sql() -> str:
    stride = _CHUNK - _OVERLAP
    return f"""
WITH toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
starts AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - {_OVERLAP}, 1) + 1, {stride})) AS s
  FROM toks),
chunks AS (
  SELECT doc_id, CAST((s - 1) / {stride} AS BIGINT) AS chunk_idx,
         list_slice(t, s, least(s + {_CHUNK - 1}, len(t))) AS cw
  FROM starts)
SELECT doc_id, chunk_idx, len(cw) AS n_chunk_tokens,
       md5(array_to_string(cw, ' ')) AS chunk_md5
FROM chunks ORDER BY doc_id, chunk_idx
"""


def text_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.pack_greedy(
        _docs(spark, sf_dir), shard_col="source", capacity=_PACK_CAPACITY
    ).orderBy("source", "seq_id")


PACK_SQL = f"""
WITH sized AS (
  SELECT source, doc_id, len(string_split({_NORM_SQL}, ' ')) AS n_tokens
  FROM documents),
p AS (
  SELECT source, doc_id, n_tokens,
         CAST(FLOOR(CAST(COALESCE(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           / {_PACK_CAPACITY}) AS BIGINT) AS seq_id
  FROM sized)
SELECT source, seq_id, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
FROM p GROUP BY source, seq_id ORDER BY source, seq_id
"""


# --- within-document repetition (Gopher-style quality rule) ---

def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.repetition_features(_docs(spark, sf_dir)).orderBy("doc_id")


REPETITION_SQL = f"""
WITH toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
bigrams AS (
  SELECT doc_id, t[i] || ' ' || t[i+1] AS gram
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)),
per AS (SELECT doc_id, gram, COUNT(*) AS c FROM bigrams GROUP BY doc_id, gram),
agg AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_grams,
         COUNT(*) AS distinct_grams,
         MAX(c) AS top_gram_freq
  FROM per GROUP BY doc_id)
SELECT doc_id, n_grams, distinct_grams, top_gram_freq,
       (n_grams - distinct_grams) / n_grams AS dup_gram_ratio,
       top_gram_freq / n_grams AS top_gram_ratio
FROM agg ORDER BY doc_id
"""


# --- URL domain frequency (domain allow/block-list substrate) ---

def _with_urls(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    return docs.withColumn(
        "text",
        F.when(
            d % 5 == 0,
            F.concat(F.col("text"), F.lit(" see https://"), F.col("source"), F.lit(".example.com/a")),
        )
        .when(
            d % 5 == 1,
            F.concat(F.col("text"), F.lit(" ref http://cdn."), F.col("source"), F.lit(".net/b")),
        )
        .otherwise(F.col("text")),
    )


def text_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.url_domains(_with_urls(_docs(spark, sf_dir)), top_k=20)


URL_DOMAINS_SQL = f"""
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' see https://' || source || '.example.com/a'
              WHEN doc_id % 5 = 1 THEN text || ' ref http://cdn.' || source || '.net/b'
              ELSE text END AS text
  FROM documents),
hosts AS (
  SELECT unnest(regexp_extract_all({_NORM_SQL}, 'https?://([a-z0-9.-]+)', 1)) AS domain
  FROM aug)
SELECT domain, COUNT(*) AS freq FROM hosts
GROUP BY domain ORDER BY freq DESC, domain ASC LIMIT 20
"""


# --- benchmark decontamination (3-gram overlap vs a held-out set) ---

#: chosen so the synthetic corpus yields a real contaminated/clean mix
#: (p75 overlap ≈ 0.014, max ≈ 0.11 at gate scale)
_DECON_THRESHOLD = 0.03


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir, parallel=True)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    cands = docs.where(F.col("doc_id") % 97 != 0)
    return dd.decontaminate(
        cands, bench, n=3, threshold=_DECON_THRESHOLD
    ).orderBy("doc_id")


DECONTAMINATE_SQL = f"""
WITH {_GRAMS_SQL},
bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 97 = 0),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams
          WHERE doc_id % 97 <> 0 GROUP BY doc_id),
overlap AS (
  SELECT g.doc_id, COUNT(*) AS n_overlap
  FROM grams g JOIN bench b ON b.gram = g.gram
  WHERE g.doc_id % 97 <> 0 GROUP BY g.doc_id)
SELECT s.doc_id, s.n_grams, COALESCE(o.n_overlap, 0) AS n_overlap,
       COALESCE(o.n_overlap, 0) / s.n_grams AS overlap_ratio,
       COALESCE(o.n_overlap, 0) / s.n_grams >= {_DECON_THRESHOLD} AS contaminated
FROM sizes s LEFT JOIN overlap o ON o.doc_id = s.doc_id
ORDER BY s.doc_id
"""


# --- duplicate-cluster resolution: connected components over dup pairs ---

def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative min-label propagation over the Jaccard dup-pair graph
    (non-SQL-expressible as one query on the Spark side; the DuckDB
    oracle replays it with a recursive transitive-closure CTE)."""
    from tailpipe_spark.session import parquet_row_count

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, threshold=0.2,
        max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).select("id_a", "id_b")
    cc = dd.connected_components(pairs)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        cc.join(sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component"),
            "component_size",
        )
        .orderBy("doc_id")
    )


#: CTE chain ending in comp/csize — the Jaccard dup-pair graph resolved
#: to components by a recursive transitive closure; shared by the
#: components and resolve oracles
_COMPONENTS_CTES = f"""
WITH RECURSIVE {_GRAMS_SQL},
gram_df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
kept AS (
  SELECT g.doc_id, g.gram FROM grams g
  JOIN gram_df d ON d.gram = g.gram AND d.df <= {_MAX_GRAM_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common / (sa.sz + sb.sz - common) >= 0.2),
sym AS (SELECT id_a AS a, id_b AS b FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
reach(node, root) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node),
comp AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node),
csize AS (SELECT component, COUNT(*) AS component_size FROM comp GROUP BY component)
"""

COMPONENTS_SQL = _COMPONENTS_CTES + """
SELECT c.node AS doc_id, c.component, s.component_size
FROM comp c JOIN csize s ON s.component = c.component
ORDER BY doc_id
"""


def dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same dup-pair graph resolved by the alternating large-star /
    small-star contraction (Kiveris et al. SoCC'14) instead of label
    propagation — O(log² n) rounds proven vs O(diameter), the variant
    that survives adversarially deep components at 100 TB. The oracle
    is the SAME recursive-CTE transitive closure as dedup_components,
    so the hash match proves the two algorithms agree on every label."""
    from tailpipe_spark.session import parquet_row_count

    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, threshold=0.2,
        max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).select("id_a", "id_b")
    cc = dd.connected_components_star(pairs)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    return (
        cc.join(sizes, "comp")
        .select(
            F.col("node").alias("doc_id"),
            F.col("comp").alias("component"),
            "component_size",
        )
        .orderBy("doc_id")
    )


# --- asymmetric near-dup: n-gram containment join ---

_CONTAIN_T = 0.5  # containment >= jaccard, so keep the bar higher


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram containment join (|A∩B| / |A|) — the asymmetric
    metric that catches subset duplication (boilerplate, quoted posts,
    excerpts) which symmetric Jaccard structurally misses. Ordered
    pairs: id_a is the contained document, id_b its container."""
    from tailpipe_spark.session import parquet_row_count

    return dd.ngram_containment_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, threshold=_CONTAIN_T,
        max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).orderBy("id_a", "id_b")


CONTAINMENT_SQL = f"""
WITH {_GRAMS_SQL},
gram_df AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram),
kept AS (
  SELECT g.doc_id, g.gram FROM grams g
  JOIN gram_df d ON d.gram = g.gram AND d.df <= {_MAX_GRAM_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
both_dirs AS (
  SELECT c.id_a AS src, c.id_b AS dst, c.common, sa.sz AS sz_src
  FROM common c JOIN sizes sa ON sa.doc_id = c.id_a
  UNION ALL
  SELECT c.id_b, c.id_a, c.common, sb.sz
  FROM common c JOIN sizes sb ON sb.doc_id = c.id_b)
SELECT src AS id_a, dst AS id_b, common / sz_src AS containment
FROM both_dirs
WHERE common / sz_src >= {_CONTAIN_T}
ORDER BY id_a, id_b
"""


# --- tf-idf characteristic terms ---

def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 tf-idf terms with the rational BM25-style idf
    (transcendental-free, bit-portable across engines)."""
    from tailpipe_spark.session import parquet_row_count

    return tx.tfidf_top_terms(
        _docs(spark, sf_dir), top_k=3,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).orderBy("doc_id", "rank")


TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term <> '' GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(ROUND((tf.tf * ((n.n - df.df + 0.5) / (df.df + 0.5)))
              * 1000000000000) AS BIGINT) / 1000000000000 AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
ORDER BY doc_id, rank
"""


# --- duplicate resolution: corpus-wide keep/drop decisions ---

def dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup chain: every document gets a
    component label and a keep/drop decision (keep = the component's
    min-id member, which IS the component label under min-label
    propagation — no extra aggregation needed). Singleton docs keep
    their own id as component. The full corpus rides a left join against
    the (small) component map, so cost is one broadcast-ish join over
    the corpus — the 100 TB shape."""
    from tailpipe_spark.session import parquet_row_count

    docs = _docs(spark, sf_dir, parallel=True).select("doc_id")
    pairs = dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir, parallel=True), n=3, threshold=0.2,
        max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).select("id_a", "id_b")
    cc = dd.connected_components(pairs)
    sizes = cc.groupBy("comp").agg(F.count(F.lit(1)).alias("component_size"))
    labeled = cc.join(sizes, "comp").select(
        F.col("node").alias("doc_id"),
        F.col("comp").alias("__comp"),
        F.col("component_size").alias("__csize"),
    )
    return (
        docs.join(labeled, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("__comp", "doc_id").alias("component"),
            F.coalesce("__csize", F.lit(1).cast("long")).alias("component_size"),
            (F.coalesce("__comp", "doc_id") == F.col("doc_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


DEDUP_RESOLVE_SQL = _COMPONENTS_CTES + """
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS component,
       CAST(COALESCE(s.component_size, 1) AS BIGINT) AS component_size,
       COALESCE(c.component, d.doc_id) = d.doc_id AS keep
FROM documents d
LEFT JOIN comp c ON c.node = d.doc_id
LEFT JOIN csize s ON s.component = COALESCE(c.component, d.doc_id)
ORDER BY d.doc_id
"""


def dedup_resolve_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware resolution over the same dup graph as
    dedup_resolve: keep the LONGEST member (token count, min-id
    tiebreak) instead of the smallest id — the policy a real pipeline
    runs. Score is an integer (len of the split token array), so the
    argmax is bit-portable and the entry carries a full hash oracle."""
    from tailpipe_spark.session import parquet_row_count

    docs = _docs(spark, sf_dir, parallel=True)
    scored = tx.doc_token_counts(docs).select(
        "doc_id", F.col("n_tokens").cast("long").alias("score")
    )
    pairs = dd.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).select("id_a", "id_b")
    return dd.resolve_by_quality(scored, pairs, "score").orderBy("doc_id")


DEDUP_RESOLVE_QUALITY_SQL = _COMPONENTS_CTES + f""",
scored AS (
  SELECT doc_id, len(string_split({_NORM_SQL}, ' ')) AS score FROM documents),
labeled AS (
  SELECT s.doc_id, COALESCE(c.component, s.doc_id) AS component, s.score
  FROM scored s LEFT JOIN comp c ON c.node = s.doc_id),
ranked AS (
  SELECT doc_id, component, score,
         COUNT(*) OVER (PARTITION BY component) AS component_size,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY score DESC, doc_id ASC) AS rn
  FROM labeled)
SELECT doc_id, component,
       CAST(component_size AS BIGINT) AS component_size,
       CAST(score AS BIGINT) AS score,
       rn = 1 AS keep
FROM ranked
ORDER BY doc_id
"""


# --- end-to-end pipeline: quality -> dedup resolve -> split -> audit ---

def pipeline_quality_dedup_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical training-data preparation pipeline as ONE lazy
    plan: per-doc quality gate (operators/text.py), duplicate
    resolution over the n-gram Jaccard dup graph (operators/dedup.py),
    deterministic train/val/test assignment (operators/sampling.py),
    and the audit aggregate a pipeline persists alongside its output.

    Every stage is individually oracle-checked elsewhere
    (`text_quality`, `dedup_resolve`, `data_split_counts`); this entry
    value-checks their *composition* — join alignment, null handling at
    the seams, and the split-before-filter ordering (split is assigned
    to every doc so re-running with a different gate cannot move docs
    across splits)."""
    from tailpipe_spark.operators import sampling
    from tailpipe_spark.session import parquet_row_count

    docs = _docs(spark, sf_dir, parallel=True)
    quality = tx.quality_features(docs).select("doc_id", "q_keep")
    pairs = dd.ngram_jaccard_pairs(
        docs, n=3, threshold=0.2, max_gram_df=_MAX_GRAM_DF,
        corpus_size=parquet_row_count(f"{sf_dir}/documents.parquet"),
    ).select("id_a", "id_b")
    labeled = dd.connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("__comp")
    )
    base = (
        docs.select("doc_id", "source", "n_chars")
        .join(quality, "doc_id")
        .join(labeled, "doc_id", "left")
        .withColumn(
            "keep_dedup",
            F.coalesce("__comp", F.col("doc_id")) == F.col("doc_id"),
        )
    )
    return (
        sampling.assign_split(base)
        .groupBy(
            "split", (F.col("q_keep") & F.col("keep_dedup")).alias("selected")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("split", "selected")
    )


_SPLIT_CASE = (
    "CASE WHEN substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'e666'"
    " THEN 'train'"
    " WHEN substr(md5('split-v1:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'f333'"
    " THEN 'val' ELSE 'test' END"
)

PIPELINE_SQL = _COMPONENTS_CTES + f"""
, quality AS (
  SELECT doc_id,
         (q_words >= 5 AND q_words <= 100000
          AND (q_chars - (q_words - 1)) / q_words >= 2.0
          AND (q_chars - (q_words - 1)) / q_words <= 12.0) AS q_keep
  FROM (SELECT doc_id, length({_NORM_SQL}) AS q_chars,
               len(string_split({_NORM_SQL}, ' ')) AS q_words
        FROM documents)),
resolve AS (
  SELECT d.doc_id, COALESCE(c.component, d.doc_id) = d.doc_id AS keep_dedup
  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
final AS (
  SELECT {_SPLIT_CASE} AS split,
         q.q_keep AND r.keep_dedup AS selected,
         d.n_chars
  FROM documents d
  JOIN quality q USING (doc_id)
  JOIN resolve r USING (doc_id))
SELECT split, selected, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM final GROUP BY split, selected
ORDER BY split, selected
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (operators/dedup.py incremental_dedup):
    even-id docs play the already-indexed corpus (md5 set + LSH band
    index), odd-id docs are the new batch probed against those indexes
    only. The oracle replays hash membership and the band join from the
    shared signature CTEs."""
    docs = _docs(spark, sf_dir)
    old = docs.where(F.col("doc_id") % 2 == 0)
    new = docs.where(F.col("doc_id") % 2 == 1)
    seen_hashes = old.select(F.md5(dd.normalize_text(F.col("text"))).alias("h"))
    seen_bands = dd.band_memberships(old, n=3, num_hashes=_NUM_HASHES,
                                     bands=_BANDS, hash_fn=dd.md5_hash_fn)
    out = dd.incremental_dedup(
        new, seen_hashes, seen_bands, n=3, num_hashes=_NUM_HASHES,
        bands=_BANDS, hash_fn=dd.md5_hash_fn,
    )
    return out.orderBy("doc_id")


DEDUP_INCREMENTAL_SQL = _minhash_ctes() + f"""
, seen AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS h FROM documents WHERE doc_id % 2 = 0),
new_docs AS (
  SELECT doc_id, md5({_NORM_SQL}) AS h FROM documents WHERE doc_id % 2 = 1),
near AS (
  SELECT n.doc_id, CAST(COUNT(DISTINCT o.doc_id) AS BIGINT) AS n_near_candidates
  FROM buckets n
  JOIN buckets o ON n.band = o.band AND n.sig = o.sig
  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
  GROUP BY n.doc_id)
SELECT nd.doc_id,
       nd.h IN (SELECT h FROM seen) AS is_exact_dup,
       COALESCE(near.n_near_candidates, 0) AS n_near_candidates
FROM new_docs nd LEFT JOIN near ON near.doc_id = nd.doc_id
ORDER BY nd.doc_id
"""


def text_hash_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing embedding over documents (operators/text.py
    hash_embedding, portable md5 twin): integer bucket sums, so the
    whole dim-64 vector value-hashes across engines. Summarized per doc
    as (l1 norm, nonzero count, first/last component) to keep the
    compare row compact while still pinning every bucket's placement."""
    from tailpipe_spark.operators.text import hash_embedding

    emb = hash_embedding(_docs(spark, sf_dir), dim=64)
    return emb.select(
        "doc_id",
        F.expr("aggregate(embedding, 0L, (a, x) -> a + abs(x))").alias("l1"),
        F.expr("size(filter(embedding, x -> x != 0))").alias("nonzero"),
        F.expr("embedding[0]").alias("c0"),
        F.expr("embedding[63]").alias("c63"),
    ).orderBy("doc_id")


_HX = "0123456789abcdef"
HASH_EMBEDDING_SQL = f"""
WITH toks AS (
  SELECT doc_id, t AS tok
  FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS t
        FROM documents)
  WHERE t <> ''),
hashed AS (
  SELECT doc_id,
         ((strpos('{_HX}', substr(md5(tok), 1, 1)) - 1) * 16
          + strpos('{_HX}', substr(md5(tok), 2, 1)) - 1) % 64 AS bucket,
         1 - 2 * ((strpos('{_HX}', substr(md5(tok), 3, 1)) - 1) % 2) AS sign
  FROM toks),
pb AS (
  SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS v
  FROM hashed GROUP BY doc_id, bucket)
SELECT doc_id,
       CAST(SUM(ABS(v)) AS BIGINT) AS l1,
       CAST(COUNT(CASE WHEN v != 0 THEN 1 END) AS INTEGER) AS nonzero,
       CAST(COALESCE(MAX(CASE WHEN bucket = 0 THEN v END), 0) AS BIGINT) AS c0,
       CAST(COALESCE(MAX(CASE WHEN bucket = 63 THEN v END), 0) AS BIGINT) AS c63
FROM pb GROUP BY doc_id ORDER BY doc_id
"""


# --- multimodal plumbing: docs as binary payloads through mapInPandas ---

def mm_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the Arrow-batched multimodal feature extractor with
    document text as the binary payload; checksum/byte-count are
    engine-agnostic so the mapInPandas path itself is oracle-checked."""
    from tailpipe_spark.operators.multimodal import extract_features

    docs = _docs(spark, sf_dir)
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("text").alias("modality"),
        F.lit("text/plain").alias("mime_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit(None)
        .cast(
            "struct<width:int,height:int,duration_ms:bigint,sample_rate:int>"
        )
        .alias("meta"),
    )
    feats = extract_features(assets)
    return feats.select(
        "asset_id",
        "payload_bytes",
        "checksum",
        F.size("feature").alias("n_feature_dims"),
    ).orderBy("asset_id")


MM_CHECKSUMS_SQL = """
SELECT doc_id AS asset_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS payload_bytes,
       md5(text) AS checksum,
       8 AS n_feature_dims
FROM documents ORDER BY asset_id
"""


def mm_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the REAL WAV kernel: synthesize a stereo
    square-wave PCM WAV per doc (parameters derived from doc_id), then
    decode it with operators.multimodal.decode_audio. A square wave's
    RMS equals its amplitude exactly (every |sample| = A, and the
    float64 mean/sqrt of integer-valued squares is exact), so the
    oracle recomputes every output column with integer arithmetic — a
    wrong byte anywhere in the encoder or decoder breaks the hash."""
    from tailpipe_spark.operators.multimodal import decode_audio, encode_wav_pcm16

    docs = _docs(spark, sf_dir).select("doc_id")

    def synth(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                rate = 8000 + (did % 3) * 4000
                d_ms = 50 + (did % 100)
                n = d_ms * rate // 1000
                a_l = 1000 + (did % 2000)
                a_r = 500 + (did % 3000)
                sign = np.where(np.arange(n) % 2 == 0, 1, -1)
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "audio",
                        "payload": encode_wav_pcm16(
                            np.column_stack([sign * a_l, sign * a_r]), rate
                        ),
                    }
                )
            yield pd.DataFrame(rows)

    assets = docs.mapInPandas(
        synth, schema="asset_id long, modality string, payload binary"
    )
    return (
        decode_audio(assets)
        .select(
            "asset_id",
            "channels",
            "sample_rate",
            "n_frames",
            "duration_ms",
            F.col("rms")[0].alias("rms_left"),
            F.col("rms")[1].alias("rms_right"),
        )
        .orderBy("asset_id")
    )


MM_AUDIO_SQL = """
SELECT doc_id AS asset_id,
       2 AS channels,
       CAST(8000 + (doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
       CAST((50 + (doc_id % 100)) * (8 + (doc_id % 3) * 4) AS BIGINT) AS n_frames,
       CAST(50 + (doc_id % 100) AS BIGINT) AS duration_ms,
       CAST(1000 + (doc_id % 2000) AS DOUBLE) AS rms_left,
       CAST(500 + (doc_id % 3000) AS DOUBLE) AS rms_right
FROM documents ORDER BY asset_id
"""


def mm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the REAL GIF video kernel: synthesize a
    2-frame GIF per doc (stdlib LZW encoder; frame 0 a two-color
    checkerboard, frame 1 solid — palette derived from doc_id), then
    decode with operators.multimodal.decode_video (stdlib LZW decoder,
    one row per frame). Channel means are exact integer sums divided
    once in float64, so the oracle recomputes every column
    arithmetically — a wrong bit anywhere in either LZW direction
    breaks the hash."""
    from tailpipe_spark.operators.multimodal import decode_video, encode_gif

    docs = _docs(spark, sf_dir).select("doc_id")

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 4 + did % 5
                h = 3 + did % 4
                p0 = ((did * 7) % 256, (did * 11) % 256, (did * 13) % 256)
                p1 = ((did * 17) % 256, (did * 19) % 256, (did * 23) % 256)
                checker = bytes(i % 2 for i in range(w * h))
                solid = bytes([1]) * (w * h)
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "video",
                        "payload": encode_gif(w, h, [p0, p1], [checker, solid]),
                    }
                )
            yield pd.DataFrame(rows)

    assets = docs.mapInPandas(
        synth, schema="asset_id long, modality string, payload binary"
    )
    return (
        decode_video(assets)
        .select(
            "asset_id", "frame_no", "width", "height",
            "mean_r", "mean_g", "mean_b",
        )
        .orderBy("asset_id", "frame_no")
    )


# the oracle replays the synth parameters and the decoder's exact
# arithmetic: integer channel sums, ONE float64 division by npx
MM_VIDEO_SQL = """
WITH d AS (
  SELECT doc_id,
         4 + doc_id % 5 AS w,
         3 + doc_id % 4 AS h,
         (doc_id * 7) % 256 AS p0r, (doc_id * 11) % 256 AS p0g, (doc_id * 13) % 256 AS p0b,
         (doc_id * 17) % 256 AS p1r, (doc_id * 19) % 256 AS p1g, (doc_id * 23) % 256 AS p1b
  FROM documents
), e AS (
  SELECT *, w * h AS npx, (w * h + 1) // 2 AS c0 FROM d
)
SELECT doc_id AS asset_id, 0 AS frame_no,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(c0 * p0r + (npx - c0) * p1r AS DOUBLE) / npx AS mean_r,
       CAST(c0 * p0g + (npx - c0) * p1g AS DOUBLE) / npx AS mean_g,
       CAST(c0 * p0b + (npx - c0) * p1b AS DOUBLE) / npx AS mean_b
FROM e
UNION ALL
SELECT doc_id AS asset_id, 1 AS frame_no,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(p1r AS DOUBLE) AS mean_r,
       CAST(p1g AS DOUBLE) AS mean_g,
       CAST(p1b AS DOUBLE) AS mean_b
FROM e
ORDER BY asset_id, frame_no
"""


def mm_video_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end proof of the raw-video container kernels: synthesize
    a 2-frame uncompressed-RGB AVI per doc (operators.multimodal
    encode_avi_rgb — real RIFF/hdrl/strf/movi writer), decode through
    the same mapInPandas path as GIF (real RIFF walk + BI_RGB frame
    math). Frame 0 is a per-channel linear ramp with no mod-256
    wraparound (base < 200, npx ≤ 20), frame 1 solid — so every channel
    mean is an exact integer sum divided once in float64 and the
    oracle recomputes all columns arithmetically. The Y4M kernel
    (float BT.601 conversion) is pytest-pinned instead — float chain
    replay across engines is the same last-ulp trap as r7's q01."""
    from tailpipe_spark.operators.multimodal import decode_video, encode_avi_rgb

    docs = _docs(spark, sf_dir).select("doc_id")

    def synth(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 2 + did % 4
                h = 2 + did % 3
                npx = w * h
                br, bg, bb = (did * 3) % 200, (did * 5) % 200, (did * 7) % 200
                f0 = bytes(
                    ch
                    for i in range(npx)
                    for ch in (br + i, bg + i, bb + i)
                )
                sr, sg, sb = (did * 29) % 256, (did * 31) % 256, (did * 37) % 256
                f1 = bytes((sr, sg, sb)) * npx
                rows.append(
                    {
                        "asset_id": did,
                        "modality": "video",
                        "payload": encode_avi_rgb(w, h, [f0, f1]),
                    }
                )
            yield pd.DataFrame(rows)

    assets = docs.mapInPandas(
        synth, schema="asset_id long, modality string, payload binary"
    )
    return (
        decode_video(assets)
        .select(
            "asset_id", "frame_no", "width", "height",
            "mean_r", "mean_g", "mean_b",
        )
        .orderBy("asset_id", "frame_no")
    )


# ramp frame: sum_i (base + i) = npx*base + npx(npx-1)/2, one float64
# division by npx — the decoder's exact arithmetic replayed
MM_VIDEO_RAW_SQL = """
WITH d AS (
  SELECT doc_id,
         2 + doc_id % 4 AS w,
         2 + doc_id % 3 AS h,
         (doc_id * 3) % 200 AS br, (doc_id * 5) % 200 AS bg, (doc_id * 7) % 200 AS bb,
         (doc_id * 29) % 256 AS sr, (doc_id * 31) % 256 AS sg, (doc_id * 37) % 256 AS sb
  FROM documents
), e AS (
  SELECT *, w * h AS npx FROM d
)
SELECT doc_id AS asset_id, 0 AS frame_no,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(npx * br + (npx * (npx - 1)) // 2 AS DOUBLE) / npx AS mean_r,
       CAST(npx * bg + (npx * (npx - 1)) // 2 AS DOUBLE) / npx AS mean_g,
       CAST(npx * bb + (npx * (npx - 1)) // 2 AS DOUBLE) / npx AS mean_b
FROM e
UNION ALL
SELECT doc_id AS asset_id, 1 AS frame_no,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(sr AS DOUBLE) AS mean_r,
       CAST(sg AS DOUBLE) AS mean_g,
       CAST(sb AS DOUBLE) AS mean_b
FROM e
ORDER BY asset_id, frame_no
"""


# --- exact substring-span dedup (cross-doc repeated k-token spans) ---
#
# operators/dedup.py:duplicated_span_coverage — the substring-level
# exact dedup of Lee et al. 2022. k=4 at corpus-demo scale (the
# operator default is 8; the synthetic corpus carries verbatim
# boilerplate spans at both). Portable md5 window hashes → full oracle.

_SPAN_K = 4


def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.duplicated_span_coverage(_docs(spark, sf_dir), k=_SPAN_K).orderBy(
        "doc_id"
    )


SUBSTRING_SPANS_SQL = f"""
WITH toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id, i - 1 AS pos, len(t) AS n_tokens,
         md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_SPAN_K} + 2)) AS i
        FROM toks WHERE len(t) >= {_SPAN_K})
),
dup AS (SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
dw AS (SELECT doc_id, pos, n_tokens FROM wins WHERE wh IN (SELECT wh FROM dup)),
flagged AS (
  SELECT doc_id, pos, n_tokens,
         CASE WHEN max(pos + {_SPAN_K}) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
              OR pos > max(pos + {_SPAN_K}) OVER (PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         THEN 1 ELSE 0 END AS new_island
  FROM dw
),
isl AS (
  SELECT doc_id, pos, n_tokens,
         SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
per_island AS (
  SELECT doc_id, island, MAX(n_tokens) AS n_tokens, COUNT(*) AS dup_windows,
         MAX(pos + {_SPAN_K}) - MIN(pos) AS covered
  FROM isl GROUP BY doc_id, island
)
SELECT doc_id,
       CAST(MAX(n_tokens) AS INTEGER) AS n_tokens,
       CAST(SUM(dup_windows) AS BIGINT) AS dup_windows,
       CAST(SUM(covered) AS BIGINT) AS covered_tokens,
       CAST(SUM(covered) AS DOUBLE) / MAX(n_tokens) AS dup_fraction
FROM per_island GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excision transform twin of dedup_substring_spans: min-id owner
    keeps each duplicated window, every other doc has its positions
    cut; one row per document including untouched ones. Full oracle —
    the DuckDB replay rebuilds the cleaned text by anti-joining covered
    positions, so the value-hash match pins the rewritten STRINGS, not
    just the counts."""
    return dd.remove_duplicated_spans(_docs(spark, sf_dir), k=_SPAN_K).orderBy(
        "doc_id"
    )


SPAN_REMOVAL_SQL = f"""
WITH toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
wins AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(t[i:i+{_SPAN_K - 1}], ' ')) AS wh
  FROM (SELECT doc_id, t, unnest(range(1, len(t) - {_SPAN_K} + 2)) AS i
        FROM toks WHERE len(t) >= {_SPAN_K})
),
dup AS (SELECT wh, MIN(doc_id) AS owner FROM wins
        GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2),
spans AS (
  SELECT w.doc_id, w.pos FROM wins w JOIN dup d USING (wh)
  WHERE w.doc_id != d.owner),
covered AS (
  SELECT DISTINCT doc_id, pos + j AS i0
  FROM (SELECT doc_id, pos, unnest(range(0, {_SPAN_K})) AS j FROM spans)),
tokrows AS (
  SELECT doc_id, j - 1 AS i0, t[j] AS tok
  FROM (SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM toks)),
kept AS (
  SELECT tr.doc_id, tr.i0, tr.tok
  FROM tokrows tr LEFT JOIN covered c
    ON c.doc_id = tr.doc_id AND c.i0 = tr.i0
  WHERE c.doc_id IS NULL)
SELECT s.doc_id,
       CAST(s.n_tokens AS BIGINT) AS n_tokens,
       CAST(s.n_tokens - COALESCE(kc.cnt, 0) AS BIGINT) AS removed_tokens,
       COALESCE(kc.clean_text, '') AS clean_text
FROM (SELECT doc_id, len(t) AS n_tokens FROM toks) s
LEFT JOIN (SELECT doc_id, COUNT(*) AS cnt,
                  string_agg(tok, ' ' ORDER BY i0) AS clean_text
           FROM kept GROUP BY doc_id) kc ON kc.doc_id = s.doc_id
ORDER BY s.doc_id
"""


# --- count-min frequency sketch (mergeable, portable md5 buckets) ---
#
# operators/sketches.py:countmin_sketch. The Spark side builds
# PER-SOURCE sketches and merges them (cell-wise sum); the oracle
# computes the unsplit sketch directly — the hash match is a
# cross-engine merge-losslessness proof, the same trick as
# q_quantile_sketch_rollup. Estimates probe the exact top-15 tokens so
# the result also exhibits the ≥true guarantee (overcount ≥ 0).

_CM_DEPTH, _CM_WIDTH, _CM_TOPK = 4, 512, 15


def text_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.operators import sketches as sk

    docs = _docs(spark, sf_dir)
    tok = F.explode(F.split(dd.normalize_text(F.col("text")), " ")).alias("tok")
    toks_src = docs.select("source", tok).where(F.col("tok") != "")
    per_src = sk.countmin_sketch(
        toks_src, "tok", group_cols=["source"], depth=_CM_DEPTH, width=_CM_WIDTH
    )
    merged = sk.countmin_merge(per_src)
    top = (
        toks_src.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
        .limit(_CM_TOPK)
    )
    est = sk.countmin_estimate(
        merged, top.select("tok"), "tok", depth=_CM_DEPTH, width=_CM_WIDTH
    )
    return (
        top.join(est, "tok")
        .select(
            "tok",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("tok"))
    )


def _countmin_sql() -> str:
    d, w, topk = _CM_DEPTH, _CM_WIDTH, _CM_TOPK
    bucket = (
        "(('0x' || substring(md5(tok || '#cm' || CAST(r AS VARCHAR)), 1, 15))"
        f"::BIGINT) % {w}"
    )
    probe_bucket = (
        "(('0x' || substring(md5(t.tok || '#cm' || CAST(d.r AS VARCHAR)), 1, 15))"
        f"::BIGINT) % {w}"
    )
    return f"""
WITH tk AS (
  SELECT tok FROM (SELECT unnest(string_split({_NORM_SQL}, ' ')) AS tok
                   FROM documents) WHERE tok <> ''
),
depths AS (SELECT unnest(range(0, {d})) AS r),
counts AS (SELECT tok, COUNT(*) AS true_cnt FROM tk GROUP BY tok),
top AS (SELECT tok, true_cnt FROM counts ORDER BY true_cnt DESC, tok ASC LIMIT {topk}),
cells AS (
  SELECT r, {bucket} AS bucket, COUNT(*) AS cnt
  FROM tk CROSS JOIN depths GROUP BY 1, 2
),
probe AS (
  SELECT t.tok, d.r, {probe_bucket} AS bucket FROM top t CROSS JOIN depths d
),
est AS (
  SELECT p.tok, MIN(COALESCE(c.cnt, 0)) AS est_cnt
  FROM probe p LEFT JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
  GROUP BY p.tok
)
SELECT t.tok, t.true_cnt, CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overcount
FROM top t JOIN est e USING (tok)
ORDER BY true_cnt DESC, tok ASC
"""


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al., LREC 2020) on a
    conditional CHARACTER-trigram model built over the corpus itself
    (operators/text.py char_ngram_model + lm_score): bits_per_gram is
    the perplexity proxy — low = fluent/common text, high = gibberish
    or boilerplate soup. The model is charset-bounded (corpus-size-
    INDEPENDENT), so both the counts and their prefix-context rollup
    broadcast at any corpus scale; the doc side is one row-local gram
    explode + two broadcast joins + one doc-keyed partial-agg shuffle.
    The conditional p(gram) = cnt(gram)/Σ cnt(prefix·*) is a rational
    number both engines compute identically; the per-doc log2 sum is
    quantized to the 1e-9 grid (the sec_entropy_scan discipline), so
    the entry carries a FULL hash oracle."""
    from tailpipe_spark.operators.text import char_ngram_model, lm_score

    d = _docs(spark, sf_dir, parallel=True)
    model = char_ngram_model(d, n=3)
    return lm_score(d, model, n=3).orderBy("doc_id")


TEXT_LM_SQL = f"""
WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
g AS (
  SELECT doc_id, substr(t, CAST(i AS INT), 3) AS gram
  FROM (SELECT doc_id, t,
               unnest(range(1, CAST(greatest(len(t) - 2, 0) AS BIGINT) + 1)) AS i
        FROM norm)
),
model AS (SELECT gram, COUNT(*) AS cnt FROM g GROUP BY gram),
ctx AS (SELECT substr(gram, 1, 2) AS prefix, SUM(cnt) AS ctx_cnt
        FROM model GROUP BY prefix),
sc AS (
  SELECT n.doc_id,
         COUNT(g.gram) AS m,
         SUM(log2(CAST(mo.cnt AS DOUBLE) / c.ctx_cnt)) AS logsum
  FROM norm n
  LEFT JOIN g ON g.doc_id = n.doc_id
  LEFT JOIN model mo ON mo.gram = g.gram
  LEFT JOIN ctx c ON c.prefix = substr(g.gram, 1, 2)
  GROUP BY n.doc_id
)
SELECT doc_id, CAST(m AS BIGINT) AS n_grams, CAST(0 AS BIGINT) AS oov_grams,
       CASE WHEN m > 0
            THEN CAST(ROUND(-logsum / m * 1e9) AS BIGINT) / 1e9
       END AS bits_per_gram
FROM sc ORDER BY doc_id
"""


SPECS = [
    QuerySpec("mm_checksums", mm_checksums, MM_CHECKSUMS_SQL, "multimodal binary payloads through Arrow mapInPandas (checksum parity)"),
    QuerySpec("mm_audio_stats", mm_audio_stats, MM_AUDIO_SQL, "real WAV encode->decode roundtrip vs arithmetic oracle (square-wave RMS exactness)"),
    QuerySpec("mm_video_frames", mm_video_frames, MM_VIDEO_SQL, "real GIF LZW encode->decode roundtrip, one row per frame vs arithmetic oracle"),
    QuerySpec("mm_video_raw", mm_video_raw, MM_VIDEO_RAW_SQL, "real uncompressed-RGB AVI encode->decode roundtrip (RIFF walk + BI_RGB frames) vs arithmetic oracle"),
    QuerySpec("dedup_simhash_md5", dedup_simhash_md5, _simhash_md5_sql(), "portable 60-bit md5 SimHash chain + chunk-LSH candidate count, bit-exact oracle"),
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_SQL, "exact dedup via md5 hash-groupBy"),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, DEDUP_JACCARD_SQL, "word-3-gram Jaccard near-dup pairs"),
    QuerySpec("dedup_prefix_jaccard", dedup_prefix_jaccard, _jaccard_sql(_PREFIX_T), "AllPairs prefix-filtered exact Jaccard join (lossless vs all-shared-grams oracle)"),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, _minhash_sql(), "MinHash(12) + 4-band LSH candidate pairs (portable md5 twin)"),
    QuerySpec("dedup_lsh_verified", dedup_lsh_verified, _lsh_verified_sql(), "LSH candidates -> exact-Jaccard verification (canonical chain, value-checked end-to-end)"),
    QuerySpec("dedup_resolve", dedup_resolve, DEDUP_RESOLVE_SQL, "corpus-wide keep/drop decisions from dup components (keep = min-id member)"),
    QuerySpec("dedup_resolve_quality", dedup_resolve_quality, DEDUP_RESOLVE_QUALITY_SQL, "quality-aware resolution: keep the longest member per dup component (argmax token count, min-id tiebreak)"),
    QuerySpec("pipeline_quality_dedup_split", pipeline_quality_dedup_split, PIPELINE_SQL, "end-to-end pipeline: quality gate -> dedup resolve -> hash split -> audit agg, one lazy plan"),
    QuerySpec("dedup_minhash_fast", dedup_minhash_fast, None, "MinHash(12) + 4-band LSH, engine-default seeded xxhash64 (rows-only)"),
    QuerySpec("dedup_simhash", dedup_simhash, None, "64-bit SimHash fingerprints + Hamming-chunk candidates (xxhash64; rows-only)"),
    QuerySpec("text_language_id", text_language_id, _langid_sql(), "marker-word language ID heuristic"),
    QuerySpec("text_quality", text_quality, _quality_sql(), "per-doc quality features + keep flag"),
    QuerySpec("text_token_stats", text_token_stats, TOKEN_STATS_SQL, "corpus token frequency top-k"),
    QuerySpec("text_doc_tokens", text_doc_tokens, DOC_TOKENS_SQL, "per-doc token counting"),
    QuerySpec("text_fingerprint", text_fingerprint, FINGERPRINT_SQL, "order-insensitive doc fingerprint"),
    QuerySpec("text_pii_redact", text_pii_redact, _pii_sql(), "PII detect + redact (email/ipv4/ssn regex classes, md5 of redacted text)"),
    QuerySpec("text_bpe_tokens", text_bpe_tokens, _bpe_sql(), "BPE-ish regex pre-tokenizer token counting"),
    QuerySpec("text_chunk", text_chunk, _chunk_sql(), "token-window chunking with overlap (row-local, shuffle-free)"),
    QuerySpec("text_pack", text_pack, PACK_SQL, "greedy contiguous sequence packing per shard (windowed cumsum)"),
    QuerySpec("text_repetition", text_repetition, REPETITION_SQL, "within-doc bigram repetition (Gopher-style quality rule)"),
    QuerySpec("text_url_domains", text_url_domains, URL_DOMAINS_SQL, "URL domain frequency top-k (block-list substrate)"),
    QuerySpec("text_decontaminate", text_decontaminate, DECONTAMINATE_SQL, "benchmark decontamination via 3-gram overlap (broadcast bench grams)"),
    QuerySpec("text_tfidf_topterms", text_tfidf_topterms, TFIDF_SQL, "per-doc top-3 tf-idf terms (rational BM25-style idf, bit-portable)"),
    QuerySpec("text_hash_embedding", text_hash_embedding, HASH_EMBEDDING_SQL, "feature-hashing bag-of-words embedding (integer buckets, bit-portable)"),
    QuerySpec("dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL, "incremental dedup of a new batch against persisted md5 + LSH band indexes"),
    QuerySpec("dedup_components", dedup_components, COMPONENTS_SQL, "dup-cluster connected components (min-label propagation vs recursive-CTE oracle)"),
    QuerySpec("dedup_components_star", dedup_components_star, COMPONENTS_SQL, "same components via large-star/small-star contraction (O(log^2 n) rounds; Kiveris et al.) — hash match proves algorithm agreement"),
    QuerySpec("dedup_containment", dedup_containment, CONTAINMENT_SQL, "asymmetric n-gram containment join (|A∩B|/|A|) — subset/boilerplate duplication Jaccard misses"),
    QuerySpec("data_token_budget", data_token_budget, DATA_TOKEN_BUDGET_SQL, "token-budget curation: quality-ranked greedy prefix via distributed prefix sum (no single-partition window)"),
    QuerySpec("dedup_substring_spans", dedup_substring_spans, SUBSTRING_SPANS_SQL, "cross-doc duplicated k-token spans + interval-union coverage (Lee et al. substring dedup)"),
    QuerySpec("dedup_span_removal", dedup_span_removal, SPAN_REMOVAL_SQL, "span EXCISION transform: min-id owner keeps, others cut; rewritten text value-checked"),
    QuerySpec("text_countmin_topk", text_countmin_topk, _countmin_sql(), "mergeable count-min frequency sketch: per-source build -> cell-sum merge -> top-k probe (md5-portable)"),
    QuerySpec("text_lm_score", text_lm_score, TEXT_LM_SQL, "CCNet-style LM quality scoring: conditional char-trigram bits-per-gram (charset-bounded broadcast model, 1e-9-grid portable)"),
]
