"""Deduplication operators for training-data pipelines.

Four tiers, cheapest first — all shuffle-on-key DataFrame plans, no
Python in the hot path:

- exact: md5 over (normalized) text → groupBy hash. One shuffle on a
  16-byte key regardless of document size.
- fingerprint: md5 over the sorted distinct token set — catches
  reorderings/duplicated-whitespace variants at exact-dedup cost.
- n-gram Jaccard: explode token n-grams → self-join on gram →
  common-gram counts → |A∩B| / (|A|+|B|−|A∩B|). Exact pairwise
  similarity; the gram join keys the shuffle so only documents sharing
  a gram ever meet (never the full cross product). Hot grams can be
  frequency-capped before the join at scale.
- MinHash + LSH: k min-hashes per doc → band signatures → equi-join on
  (band, signature) buckets → candidate pairs (optionally verified with
  the Jaccard op above). Cost linear in corpus + bucket collisions —
  the 100 TB path.

SimHash (Hamming-ball near-dup) lives here too: 64-bit fingerprint from
xxhash64 token bits; near-dup candidates = equal 16-bit chunks (LSH on
4 chunks catches all pairs within Hamming distance 3).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def normalize_text(col):
    """Lowercase + collapse whitespace — shared by every dedup tier."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_dedup_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Corpus-level exact-duplicate summary (1 row)."""
    h = docs.select(F.md5(normalize_text(F.col(text_col))).alias("h"))
    return h.agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("h").alias("distinct_docs"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("duplicate_docs"),
    )


def _tokens(docs: DataFrame, text_col: str, n: int, id_col: str) -> DataFrame:
    """(id, token-array) rows for docs long enough to yield a gram.

    The token array is materialized as its own projection BEHIND the
    length filter: inlining the split into downstream gram expressions
    lets Catalyst collapse projects and re-evaluate the
    lower+regexp+split chain per gram slice — measured 7× slower at
    sf0.1 than splitting once per row."""
    return docs.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__t")
    ).where(F.size("__t") >= n)


def token_ngram_hashes(
    docs: DataFrame, text_col: str, n: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, gram) pairs with the gram as a 64-bit xxhash64 of the token
    n-tuple — never materializing the gram STRING.

    ``xxhash64(tok_i, …, tok_{i+n-1})`` hashes the n token values
    directly (the same n-tuple collapse minhash_fast uses), skipping
    the per-gram ``array_join`` concat that allocates a ~3-token string
    only to hash and discard it. Measured at the 10× bench set (50k
    docs): gram construction 1.06 s → 0.46 s min-of-5. Distinctness is
    applied to the hash array — identical set sizes to string-distinct
    modulo 64-bit collisions (~|grams_doc|²/2⁶⁴, the same accepted odds
    as hashing the strings). Use wherever grams are only compared for
    EQUALITY; portable md5 chains (minhash/simhash twins) hash gram
    strings instead, for cross-engine replay."""
    args = ", ".join(f"element_at(__t, i + {j + 1})" for j in range(n))
    gram_hashes = F.expr(
        f"array_distinct(transform(sequence(0, size(__t) - {n}), "
        f"i -> xxhash64({args})))"
    )
    return _tokens(docs, text_col, n, id_col).select(
        id_col, F.explode(gram_hashes).alias("gram")
    )


#: buckets up to this many members expand pairwise inside one row; the
#: worst case is ~cap²/2 pair structs (~8 MB at 1024) per bucket row
_LOCAL_PAIR_CAP = 1024


def _agg_partitions(df: DataFrame, corpus_size: int | None) -> int | None:
    """Shuffle-partition count for the gram/pair aggregations, or None
    to keep the session default.

    The session's ``spark.sql.shuffle.partitions`` is typically sized
    to the INPUT (bench: bytes/64MB), but this operator's intermediates
    explode ~20× the input (grams, then candidate pairs), so an
    input-sized shuffle serializes the heavy aggregations on a few
    tasks (measured at 10× bench scale: 7.4 s at 8 partitions → 4.8 s
    at 32 on a 32-core box). Heuristic: one partition per ~1500 docs,
    never BELOW the session default (a properly sized cluster config
    wins), capped at 2000 (AQE coalesces from there at real scale)."""
    if corpus_size is None:
        return None
    base = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    p = max(base, min(2000, corpus_size // 1500))
    return p if p > base else None


def _drop_hot_keys(rows: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows whose key's row count exceeds ``cap`` BEFORE any
    collect_list: count per key, broadcast the (by construction small)
    offending key set, anti-join. Every bucketing path runs membership
    lists through this guard so a degenerate hot key (a stop-phrase
    gram, a boilerplate band signature, a constant simhash chunk) can
    never materialize as one giant aggregation buffer on one executor."""
    hot = (
        rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > cap)
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), keys, "left_anti")


def bucket_pairs(
    buckets: DataFrame,
    keys: list[str],
    ids_col: str = "ids",
    out: tuple[str, str] = ("id_a", "id_b"),
    max_bucket_size: int | None = None,
    packed: bool = False,
) -> DataFrame:
    """All ordered member pairs (a < b) within each bucket.

    ``buckets`` has one row per bucket: ``keys`` identify it, ``ids_col``
    holds the member-id array. Buckets with ≤ _LOCAL_PAIR_CAP members
    expand row-locally (sort → nested transform → explode), which turns
    the classic bucket self-join into ZERO extra shuffles — measured ~2×
    faster than the renamed-sides equi-join at sf0.1. Larger (hot)
    buckets fall back to that equi-join so one m-member bucket's m²
    pairs spread across tasks instead of materializing in a single row —
    the skew story a 1000-executor cluster needs.

    ``max_bucket_size``: when the caller PROVES every bucket holds at
    most this many members (e.g. an upstream df cap), and the bound is
    within _LOCAL_PAIR_CAP, the join branch is provably empty and is
    dropped from the plan entirely — its empty stages still cost
    scheduling time otherwise.

    ``packed``: emit one BIGINT column ``__pk`` = id_a·2³² + id_b
    instead of two id columns — a single-word aggregation key is ~15%
    faster through the downstream pair groupBy (measured, 14M pairs).
    ONLY valid when the caller proves every id is in [0, 2³¹); callers
    derive that from parquet footer stats, never assume it."""
    oa, ob = out
    b2 = buckets.where(F.size(ids_col) >= 2)
    local_only = max_bucket_size is not None and max_bucket_size <= _LOCAL_PAIR_CAP
    # defensive: a duplicate member (e.g. a within-doc hash collision
    # upstream producing (id, key) twice) would emit (x, x) self-pairs
    # the old id_a < id_b join filtered out; array_distinct on a sorted
    # array is row-local, order-preserving, and cheap. It is projected
    # ONCE per bucket before the expansion: referenced inline inside
    # the lambdas, Catalyst re-evaluates the O(m log m)
    # distinct+sort per ELEMENT (measured 12% of pair-stage time at
    # 50k docs). One SQL-parsed expression per step (not nested Column
    # lambdas): ~50 fewer py4j round trips per plan construction.
    if packed:
        pair_expr = F.expr(
            "explode(flatten(transform(__s, (x, i) -> transform("
            "slice(__s, i + 2, size(__s)), "
            "y -> x * 4294967296 + y))))"
        )
        small = (
            (b2 if local_only else b2.where(F.size(ids_col) <= _LOCAL_PAIR_CAP))
            .select(F.expr(f"array_distinct(array_sort({ids_col}))").alias("__s"))
            .select(pair_expr.alias("__pk"))
        )
    else:
        pair_expr = F.expr(
            f"explode(flatten(transform(__s, (x, i) -> transform("
            f"slice(__s, i + 2, size(__s)), "
            f"y -> struct(x AS {oa}, y AS {ob})))))"
        )
        small = (
            (b2 if local_only else b2.where(F.size(ids_col) <= _LOCAL_PAIR_CAP))
            .select(F.expr(f"array_distinct(array_sort({ids_col}))").alias("__s"))
            .select(pair_expr.alias("__p"))
            .select(f"__p.{oa}", f"__p.{ob}")
        )
    if local_only:
        return small
    big = b2.where(F.size(ids_col) > _LOCAL_PAIR_CAP)
    ba = big.select(*keys, F.explode(F.array_distinct(ids_col)).alias(oa))
    bb = big.select(*keys, F.explode(F.array_distinct(ids_col)).alias(ob))
    big_pairs = (
        ba.join(bb, keys).where(F.col(oa) < F.col(ob)).select(oa, ob)
    )
    if packed:
        big_pairs = big_pairs.select(
            (F.col(oa) * F.lit(4294967296) + F.col(ob)).alias("__pk")
        )
    return small.unionByName(big_pairs)


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 100_000,
    corpus_size: int | None = None,
    packable_ids: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 gram.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.

    ``max_gram_df`` drops grams whose document frequency exceeds the cap
    BEFORE the self-join: one stop-phrase gram shared by m documents
    produces an O(m²) bucket, which at web scale is quadratic in the
    corpus. Similarity is then Jaccard over the remaining informative
    grams (sizes are recomputed post-cap, so the metric stays
    self-consistent). None disables the cap.

    ``corpus_size``: optional document-count hint. When the caller
    already knows the corpus size (catalog stats, a prior count), pass
    it to skip the one count job the cap guard otherwise runs — on a
    derived input that count re-executes the upstream plan.

    ``packable_ids``: caller-proved guarantee that every id is in
    [0, 2³¹) (derive from parquet footer stats / catalog metadata, do
    NOT assume). Lets the candidate pair travel as one BIGINT key
    through the heaviest aggregation (~15% faster there, measured at
    14M pairs); results are identical either way.
    """
    common, sizes, post_filter_safe = _inverted_common(
        docs, n, text_col, id_col, max_gram_df, corpus_size, packable_ids
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    if post_filter_safe:
        # ≤1M docs → the per-doc size table is ≤~16 MB: ship it to the
        # pair side instead of shuffling both join inputs. At real scale
        # sizes is corpus-sized and the sort-merge path is correct.
        sz_a, sz_b = F.broadcast(sz_a), F.broadcast(sz_b)
    return (
        common.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def _inverted_common(
    docs: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_gram_df: int | None,
    corpus_size: int | None,
    packable_ids: bool = False,
):
    """Shared inverted-index core for the exact set-overlap joins
    (Jaccard and containment): one gram-keyed shuffle builds
    gram → [doc ids] buckets, pair generation is row-local, and the
    heavy aggregation counts shared grams per candidate pair.

    Returns ``(common, sizes, post_filter_safe)`` where ``common`` is
    (id_a, id_b, common) with id_a < id_b, ``sizes`` is the post-cap
    per-doc informative-gram counts, and ``post_filter_safe`` tells the
    caller the corpus is provably small enough to broadcast ``sizes``.
    """
    # ONE shuffle keyed on gram builds inverted-index buckets
    # (gram → [doc ids]); everything the old plan did with a hot-gram
    # aggregation + broadcast anti-join + renamed-sides self-join falls
    # out of that single aggregation: the df cap is a WHERE on the
    # bucket's member count, and pair generation is row-local
    # (bucket_pairs). Grams travel as 64-bit xxhash64 keys, not strings:
    # the shuffle and agg key on 8 bytes instead of a ~20-byte utf8 gram
    # (collision odds over per-doc gram sets are ~|grams|²/2⁶⁴ —
    # negligible at any corpus size). r8: the hash is computed straight
    # from the token n-tuple (token_ngram_hashes) — the gram string was
    # built only to be hashed, and skipping it halves gram-stage cost.
    grams = token_ngram_hashes(docs, text_col, n, id_col)
    size = None
    if max_gram_df is None:
        # not silent: with the cap disabled by the caller, one
        # stop-phrase gram shared by m documents materializes an
        # m-member list in a SINGLE aggregation buffer row — at web
        # scale that's one executor OOMing, not just a slow task
        import warnings

        warnings.warn(
            "ngram_jaccard_pairs with max_gram_df=None builds unbounded "
            "inverted-index buckets (one agg-buffer row per gram holds "
            "every sharing doc id); keep a document-frequency cap on any "
            "corpus with hot grams",
            UserWarning,
            stacklevel=3,  # through the public jaccard/containment wrapper
        )
    if max_gram_df is not None:
        # A gram's document frequency is bounded by the corpus size, so
        # when the corpus holds <= max_gram_df documents the cap provably
        # cannot trigger — skip it (and the count job it needs, unless
        # the caller supplied the size). Results are bit-identical with
        # or without the skip at ANY corpus size; at real scale doc
        # count >> cap and the cap runs as designed.
        size = corpus_size if corpus_size is not None else docs.count()
        if size <= max_gram_df:
            max_gram_df = None
    # A bucket's member list is bounded by the corpus size, so on a
    # PROVABLY small corpus (≤1M docs → ≤8 MB worst-case array) the cap
    # can be a post-collect WHERE on bucket size — one aggregation pass.
    # On a large or unknown corpus, hot grams must be dropped BEFORE the
    # collect (a stop-phrase gram shared by 10⁸ docs must never
    # materialize as one giant agg buffer): count df per gram, broadcast
    # the small offending set, anti-join. Same results either way.
    post_filter_safe = size is not None and size <= 1_000_000
    if max_gram_df is not None and not post_filter_safe:
        grams = _drop_hot_keys(grams, ["gram"], max_gram_df)
    # corpus-aware shuffle sizing for the two heavy aggregations: the
    # explicit hash repartition SATISFIES the groupBy's distribution
    # requirement, so it replaces (not adds to) the agg's exchange
    nparts = _agg_partitions(docs, size if size is not None else corpus_size)
    if nparts is not None:
        grams = grams.repartition(nparts, "gram")
    buckets = grams.groupBy("gram").agg(F.collect_list(id_col).alias("ids"))
    if max_gram_df is not None and post_filter_safe:
        buckets = buckets.where(F.size("ids") <= max_gram_df)
    # per-doc informative-gram counts, recomputed post-cap so the metric
    # stays self-consistent
    sizes = (
        buckets.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    if packable_ids:
        pk = bucket_pairs(
            buckets, ["gram"], max_bucket_size=max_gram_df, packed=True
        )
        if nparts is not None:
            pk = pk.repartition(nparts, "__pk")
        common = (
            pk.groupBy("__pk")
            .agg(F.count(F.lit(1)).alias("common"))
            .select(
                # bitwise unpack — a double division would lose bits
                # above 2^53 for large ids
                F.shiftright("__pk", 32).alias("id_a"),
                F.col("__pk").bitwiseAND(F.lit(0xFFFFFFFF)).alias("id_b"),
                "common",
            )
        )
    else:
        pairs = bucket_pairs(buckets, ["gram"], max_bucket_size=max_gram_df)
        if nparts is not None:
            pairs = pairs.repartition(nparts, "id_a", "id_b")
        common = pairs.groupBy("id_a", "id_b").agg(
            F.count(F.lit(1)).alias("common")
        )
    return common, sizes, post_filter_safe


def ngram_containment_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 100_000,
    corpus_size: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT join: ordered pairs (id_a, id_b,
    containment) with containment = |grams(a) ∩ grams(b)| / |grams(a)|
    >= threshold and a != b — id_a is the (mostly-)contained document,
    id_b its container.

    Jaccard is symmetric and structurally blind to subset duplication:
    a 50-token boilerplate notice pasted into a 5,000-token document
    has Jaccard ≈ 0.01 but containment(notice → doc) = 1.0. Broder's
    resemblance-vs-containment distinction (SEQUENCES'97) is exactly
    this split, and at training-data scale the contained class —
    license headers, quoted posts, template wrappers, near-verbatim
    excerpts — is the near-dup mass that resemblance thresholds skip.
    (Reference analog: the dup detection surface around
    internal/parse/*; the containment direction has no reference
    counterpart — it exists for the LLM-pipeline requirement.)

    Same single-shuffle inverted-index shape as ngram_jaccard_pairs
    (shared _inverted_common core: hot-gram df cap, corpus-aware
    shuffle sizing, row-local pair generation); the only differences
    are the normalizer (|A| instead of |A∪B|) and that each unordered
    candidate yields BOTH ordered directions before the threshold
    filter. Since containment(a→b) >= jaccard(a,b), any threshold
    admits at least the Jaccard pair set — keep it high (>=0.5) on
    corpora where the symmetric join already fires.
    """
    common, sizes, post_filter_safe = _inverted_common(
        docs, n, text_col, id_col, max_gram_df, corpus_size
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    if post_filter_safe:
        sz_a, sz_b = F.broadcast(sz_a), F.broadcast(sz_b)
    scored = common.join(sz_a, "id_a").join(sz_b, "id_b")
    # both ordered directions from each unordered candidate; the
    # union is row-local (no extra shuffle) and the filter prunes
    # before anything downstream sees the doubled row count
    fwd = scored.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        (F.col("common") / F.col("sz_a")).alias("containment"),
    )
    rev = scored.select(
        F.col("id_b").alias("src"),
        F.col("id_a").alias("dst"),
        (F.col("common") / F.col("sz_b")).alias("containment"),
    )
    return (
        fwd.union(rev)
        .where(F.col("containment") >= threshold)
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            "containment",
        )
    )


def verify_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact n-gram Jaccard over an EXPLICIT candidate pair list — the
    verification stage after LSH/SimHash candidate generation (the
    canonical pipeline this module's docstring describes).

    Returns (id_a, id_b, jaccard) for candidates with jaccard >=
    threshold. Unlike :func:`ngram_jaccard_pairs` (all pairs sharing a
    gram), cost here is linear in Σ|grams(doc)| over candidate docs plus
    Σ|grams(id_a)| over candidate pairs: grams are restricted to
    candidate docs by a semi-join, each pair expands to side-a's grams,
    and the side-b membership check is an equi-join on (id, gram) — no
    bucket blowup, no all-pairs anywhere. Candidate pairs sharing NO
    gram simply drop out (jaccard would be 0 < threshold).

    Contract: ``pairs`` rows are DISTINCT (duplicate rows would double
    the common counts) — every candidate generator in this module
    (minhash_lsh_pairs, simhash_candidates) already emits distinct
    pairs. Self-pairs (x, x) are not meaningful input.
    """
    oa, ob = "id_a", "id_b"
    cand_ids = (
        pairs.select(F.col(oa).alias(id_col))
        .union(pairs.select(F.col(ob).alias(id_col)))
        .distinct()
    )
    grams = token_ngram_hashes(docs, text_col, n, id_col)
    g = grams.join(cand_ids, id_col, "left_semi")
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ga = g.select(F.col(id_col).alias(oa), "gram")
    gb = g.select(F.col(id_col).alias(ob), "gram")
    common = (
        pairs.join(ga, oa)
        .join(gb, [ob, "gram"])
        .groupBy(oa, ob)
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sz_a = sizes.select(F.col(id_col).alias(oa), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col(id_col).alias(ob), F.col("sz").alias("sz_b"))
    return (
        common.join(sz_a, oa)
        .join(sz_b, ob)
        .select(
            oa,
            ob,
            (
                F.col("common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag training documents whose n-gram
    overlap with a benchmark/eval corpus exceeds ``threshold``.

    Returns (id, n_grams, n_overlap, overlap_ratio, contaminated) per
    candidate document. The benchmark gram set is tiny relative to the
    corpus (eval suites, not training data), so it ships as a broadcast
    hash join against the exploded corpus grams — the corpus side never
    shuffles on gram, only on doc id for the two per-doc aggregations.
    For an unusually large benchmark, drop the broadcast hint and let
    AQE pick the join side.
    """
    # hashed grams on BOTH sides (equality-only comparison): smaller
    # broadcast (8-byte longs vs utf8 grams) and no gram-string allocs
    doc_grams = token_ngram_hashes(docs, text_col, n, id_col)
    bench_grams = (
        token_ngram_hashes(benchmark, text_col, n, id_col)
        .select("gram")
        .distinct()
    )
    sizes = doc_grams.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    overlap = (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    joined = sizes.join(overlap, id_col, "left").fillna(0, subset=["n_overlap"])
    ratio = F.col("n_overlap") / F.col("n_grams")
    return joined.select(
        id_col,
        "n_grams",
        "n_overlap",
        ratio.alias("overlap_ratio"),
        (ratio >= threshold).alias("contaminated"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Connected components over an undirected edge set by min-label
    propagation: every node starts labeled with its own id; each round
    every node takes the minimum label among itself and its neighbors,
    until a round changes nothing. Rounds needed = graph diameter —
    near-dup clusters are shallow (stars/chains of a few hops), so this
    converges in a handful of shuffles even at web scale. (The
    alternating large-star/small-star contraction halves round count on
    adversarially deep graphs; diameter-bounded dup graphs don't need
    it.) Labels are localCheckpointed per round so the loop's lineage
    stays flat.

    Returns (node, component) where component is the minimum node id in
    the node's component.
    """
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    # Same per-round exchange pinning as connected_components_star: the
    # loop multiplies each stage's scheduling floor by the round count,
    # so width follows edge count (~1 partition per 25k edges, clamped
    # to [1, session default] — unchanged at cluster scale). sym is
    # checkpointed pre-partitioned on the join key so every round's
    # join starts co-partitioned.
    spark_parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    sym = sym.localCheckpoint(eager=True)
    np_ = max(1, min(spark_parts, sym.count() // 25_000 + 1))
    sym = sym.repartition(np_, "a").localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("a").alias("node"))
        .repartition(np_, "node")
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        msgs = (
            sym.join(labels, sym["a"] == labels["node"])
            .repartition(np_, sym["b"])
            .groupBy(sym["b"].alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(msgs, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nbr_comp", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        # labels only ever decrease, so "changed" == strictly-smaller rows
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") < F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # same contract as connected_components_star (r11 ADVICE): a
        # truncated propagation returns labels that are only min-over-
        # max_iterations-hops — on a component deeper than the budget
        # they are NOT component minima, and the caller must hear it.
        import warnings

        warnings.warn(
            f"connected_components exhausted max_iterations="
            f"{max_iterations} without converging; returned labels are "
            "min-within-budget-hops, NOT final component minima — raise "
            "max_iterations (rounds needed = component diameter) or use "
            "connected_components_star (O(log^2 n) rounds) for deep graphs",
            UserWarning,
            stacklevel=2,
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 40,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii —
    "Connected Components in MapReduce and Beyond", SoCC'14). Same
    contract as :func:`connected_components`: returns (node, comp)
    with comp = the minimum node id in the node's component.

    Why a second algorithm: min-label propagation costs one full-graph
    shuffle per hop of component DIAMETER. Near-dup graphs are usually
    shallow, but they are not provably so — chained near-dups
    (A~B~C~…, each adjacent pair similar, the ends not) build paths,
    and at 100 TB a pathological 10⁵-hop chain turns propagation into
    10⁵ shuffles. Star contraction roughly halves component height per
    large+small round-pair: convergence is O(log² n) rounds proven,
    ~log₂(diameter) round-pairs observed, independent of corpus size.
    Measured on a 32-core box (the one-off script that took these
    numbers, tools/cc_scale_proof.py, is kept in git history only): a
    100k-node path exhausts propagation's 50-round budget (40.1 s,
    99,950 wrong components) while star converges in 18 rounds / 22.0 s
    to the one correct component; on a shallow star forest
    propagation's cheaper rounds win (2.6 vs 3.1 s), which is why it
    stays the default in the dedup entries.

    Phases, on an edge SET kept canonically oriented (u, v), u > v:
      large-star: for every node u, link every STRICTLY LARGER
        neighbor w > u to m = min(N(u) ∪ {u}).
      small-star: group edges by their larger endpoint u (all
        neighbors smaller); link every neighbor and u itself to
        m = min(N(u)) — dropping the self-loop m→m.
    Both phases only ever connect nodes inside one component (m is a
    neighbor-or-self, never from another component), so connectivity
    is preserved exactly; the unique fixed point is a star per
    component rooted at its minimum id.

    Convergence check: |E| equality plus a left-anti count (edges in
    the new set absent from the old). Both sets are distinct, so
    equal-count + empty-anti ⟺ set equality — no hash shortcut that
    could terminate early on a collision. Per round the edge set is
    localCheckpointed to keep the loop's lineage flat. A budget
    exhausted before convergence is reported with a UserWarning.
    """
    raw = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # node universe BEFORE dropping self-loops: a self-loop-only node
    # is a singleton component labeled with itself
    nodes = (
        raw.select(F.col("u").alias("node"))
        .union(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = (
        raw.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_cnt = e.count()
    converged = prev_cnt == 0
    # The loop multiplies every per-stage scheduling floor by the round
    # count, so each round's exchanges are pinned to ~1 partition per
    # 25k edges, clamped to [1, session default]: at cluster scale
    # (edge count >> 100k * conf) this IS the session default and
    # behavior is unchanged; on small or shrinking graphs it collapses
    # 32-task stages to a few tasks (sf0.01 entry: 64 s -> the
    # round-dominated floor, measured in the entry docstring). The
    # hash(u) pin also SATISFIES the (u,v)-distinct and the groupBy(u)
    # clustering requirements (subset partitioning), so each explicit
    # repartition replaces the exchanges downstream of it.
    spark_parts = int(
        edges.sparkSession.conf.get("spark.sql.shuffle.partitions")
    )
    for _ in range(max_iterations):
        if converged:
            break
        np_ = max(1, min(spark_parts, prev_cnt // 25_000 + 1))
        # --- large-star: m = min over the SYMMETRIC neighborhood ---
        sym = e.union(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition(np_, "u")
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            # emitted as (w, m) with w > u >= m, so the (big, small)
            # orientation is already canonical and w == m is impossible
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .repartition(np_, "u")
            .distinct()
        )
        # --- small-star: edges grouped by larger endpoint ---
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("w"), "m")
            .union(mins2.select(F.col("u").alias("w"), "m"))
            .where(F.col("w") != F.col("m"))
            .select(
                F.greatest("w", "m").alias("u"),
                F.least("w", "m").alias("v"),
            )
            .repartition(np_, "u")
            .distinct()
            .localCheckpoint(eager=True)
        )
        cnt = small.count()
        if cnt == prev_cnt:
            if small.join(e, ["u", "v"], "left_anti").isEmpty():
                converged = True
        e = small
        prev_cnt = cnt
    if not converged:
        # not silent (r11 ADVICE): an exhausted budget means the edge
        # set is still mid-contraction — the min-agg below then labels
        # nodes with sub-star parent pointers, not component minima,
        # and a caller reading only the DataFrame would ship wrong
        # component ids with no signal.
        import warnings

        warnings.warn(
            f"connected_components_star exhausted max_iterations="
            f"{max_iterations} without converging ({prev_cnt} edges "
            "still contracting); returned labels are best-so-far parent "
            "pointers, NOT final component minima — raise max_iterations "
            "(rounds needed ~ log^2 of the deepest component)",
            UserWarning,
            stacklevel=2,
        )
    # At the fixed point e is a disjoint union of stars u → root; the
    # min-agg is the identity there, and on a max_iterations truncation
    # it still yields a well-defined (best-so-far) label per node —
    # mirroring connected_components' truncation behavior.
    parents = e.groupBy("u").agg(F.min("v").alias("comp"))
    return nodes.join(
        parents.select(F.col("u").alias("node"), "comp"), "node", "left"
    ).select("node", F.coalesce("comp", F.col("node")).alias("comp"))


def md5_hash_fn(c, s: int):
    """Portable MinHash hash: md5 over a seed-salted gram — any SQL
    engine can replay it, so the oracle harness uses this twin."""
    return F.md5(F.concat(c, F.lit(f"#{s}")))


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """k min-hash values per document over its n-gram set.

    ``hash_fn(gram_col, seed) -> Column``; the engine default is
    xxhash64 (seeded, JVM-native — ~10x cheaper than md5-over-string).
    Pass ``md5_hash_fn`` for a hash any SQL engine can replay (the
    oracle-parity twin used by the correctness harness).
    """
    # Row-local: each signature is a fold over the document's own grams
    # (transform + array_min), so signature computation needs NO shuffle
    # at all — the explode→groupBy formulation re-shuffled the entire
    # gram set just to take per-doc minima. Docs shorter than n tokens
    # have no grams and (as before) produce no signature row. min over
    # the gram MULTISET equals min over the gram set, so no
    # array_distinct pass is needed either.
    #
    # The gram array is built ONCE in its own projection. No filter
    # barrier is needed (or wanted): CollapseProject refuses to inline a
    # non-cheap expression referenced k times (SPARK-36718), so the
    # projection survives as-is — while an explicit size() barrier
    # filter gets predicate-pushed below the projection and re-evaluates
    # the whole split+hash chain per element inside the Filter
    # (measured ~18× slower at sf0.1).
    g = _tokens(docs, text_col, n, id_col)

    if hash_fn is None:
        # engine default: collapse each token n-tuple to ONE xxhash64
        # long up front, then derive every seeded hash from that 8-byte
        # value — k fixed-width long hashes per gram instead of k
        # variable-length string-tuple hashes (the dominant cost).
        # Built as ONE SQL-parsed expression, not nested Column lambdas:
        # the lambda formulation cost ~100s of py4j round trips and
        # ~0.3 s of driver time PER plan construction (measured at
        # sf0.1) — identical Catalyst tree either way, so results are
        # bit-for-bit unchanged.
        args = ", ".join(f"element_at(__t, i + {j + 1})" for j in range(n))
        grams = F.expr(
            f"transform(sequence(0, size(__t) - {n}), i -> xxhash64({args}))"
        )
        g = g.select(F.col(id_col), grams.alias("__g"))
        sigs = [
            F.expr(f"array_min(transform(__g, x -> xxhash64(x, {s})))").alias(
                f"mh{s}"
            )
            for s in range(num_hashes)
        ]
        return g.select(F.col(id_col), *sigs)

    # portable twin: build the exact gram string any SQL engine can
    # replay, then apply the caller's hash per seed
    seq = F.sequence(F.lit(0), F.size("__t") - n)
    grams = F.transform(seq, lambda i: F.array_join(F.slice("__t", i + 1, n), " "))
    g = g.select(F.col(id_col), grams.alias("__g"))

    # factory keeps the lambda single-arg: a 2-arg lambda (e.g. `s=s`
    # defaulting) makes F.transform pass the ELEMENT INDEX as the second
    # argument, silently replacing the seed
    def _sig(s: int):
        return F.array_min(
            F.transform("__g", lambda x: hash_fn(x, s))
        ).alias(f"mh{s}")

    return g.select(F.col(id_col), *[_sig(s) for s in range(num_hashes)])


def band_memberships(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """(id, band, sig) LSH band membership rows — the INDEX an
    incremental pipeline persists: new batches probe it by (band, sig)
    equi-join without ever rescanning the historical corpus."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(docs, n, num_hashes, text_col, id_col, hash_fn)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("sig"),
        )
        for b in range(bands)
    ]
    return sig.select(id_col, F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig")
    )


def incremental_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    seen_bands: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
) -> DataFrame:
    """Dedup a NEW batch against an already-indexed corpus — the
    incremental-ingest shape: the historical corpus is touched only
    through its two persisted indexes (``seen_hashes``: one md5 per
    seen normalized text; ``seen_bands``: band_memberships output), so
    per-batch cost is O(batch) regardless of history size.

    Returns one row per new doc: ``is_exact_dup`` (its normalized text
    was seen verbatim) and ``n_near_candidates`` (distinct historical
    docs sharing >=1 LSH band — candidates for the verify_pairs stage).
    """
    h = new_docs.select(
        F.col(id_col), F.md5(normalize_text(F.col(text_col))).alias("__h")
    )
    seen = seen_hashes.select(F.col(seen_hashes.columns[0]).alias("__h")).distinct()
    exact = h.join(seen.withColumn("__seen", F.lit(True)), "__h", "left").select(
        id_col, F.coalesce("__seen", F.lit(False)).alias("is_exact_dup")
    )
    nb = band_memberships(
        new_docs, n, num_hashes, bands, text_col, id_col, hash_fn
    )
    sb = seen_bands.select(
        F.col(seen_bands.columns[0]).alias("__old_id"), "band", "sig"
    )
    near = (
        nb.join(sb, ["band", "sig"])
        .groupBy(id_col)
        .agg(F.count_distinct("__old_id").alias("n_near_candidates"))
    )
    return exact.join(near, id_col, "left").select(
        id_col,
        "is_exact_dup",
        F.coalesce("n_near_candidates", F.lit(0).cast("long")).alias(
            "n_near_candidates"
        ),
    )


#: band memberships of a (band, sig) bucket past this many are
#: dropped by ``minhash_lsh_pairs``
MAX_BUCKET_DF = 1_000_000


def minhash_lsh_pairs(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn=None,
    corpus_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs via banded MinHash LSH.

    Two docs collide if any band (num_hashes/bands consecutive
    min-hashes) is identical. Returns distinct (id_a, id_b), id_a<id_b.

    ``MAX_BUCKET_DF`` guards the bucket aggregation against degenerate
    corpora (10⁸ verbatim copies of one document funnel into ONE
    (band, sig) bucket): band memberships past the cap are dropped
    before the collect (count per key → broadcast anti-join), trading
    candidates from pathological mega-clusters — which exact dedup, the
    standard upstream stage, should have collapsed anyway — for a
    bounded aggregation buffer. ``corpus_size`` (catalog/footer hint)
    skips the one count job the cap guard otherwise needs; on a corpus
    provably at-or-under the cap the guard is dropped from the plan and
    results are bit-identical to the uncapped form.
    """
    memberships = band_memberships(
        docs, n, num_hashes, bands, text_col, id_col, hash_fn
    )
    size = corpus_size if corpus_size is not None else docs.count()
    if size > MAX_BUCKET_DF:  # bucket size is bounded by corpus size
        memberships = _drop_hot_keys(memberships, ["band", "sig"], MAX_BUCKET_DF)
    # One shuffle builds the collision buckets; bucket_pairs expands
    # small buckets row-locally and spreads oversized ones through the
    # join path.
    buckets = memberships.groupBy("band", "sig").agg(
        F.collect_list(id_col).alias("ids")
    )
    return bucket_pairs(buckets, ["band", "sig"]).distinct()


#: portable SimHash width: 15 hex chars of md5 = 60 bits keeps the
#: token hash inside a signed BIGINT on every engine
_SIMHASH_PORTABLE_BITS = 60


def simhash(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
) -> DataFrame:
    """SimHash per document: 64-bit from xxhash64 token hashes, or — in
    ``portable`` mode — 60-bit from md5-prefix token hashes.

    For each bit position, sum +1/−1 over tokens by whether the token
    hash has that bit set; fingerprint bit = sign of the sum. Pure
    JVM-side bit arithmetic (explode + bitwise ops + groupBy).

    ``portable``: token hash = conv(first 15 hex chars of md5, 16, 10)
    — the same cross-engine trick as the md5 MinHash twin, so any SQL
    engine with md5() replays the fingerprint bit-identically (DuckDB:
    ``('0x' || substring(md5(tok),1,15))::BIGINT``). xxhash64 stays the
    fast default; the portable mode exists so the whole SimHash chain
    is oracle-checkable."""
    bits = _SIMHASH_PORTABLE_BITS if portable else 64
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias("tok"),
    )
    if portable:
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    hashed = toks.select(id_col, h.alias("h"))
    bit_votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(bits)
    ]
    votes = hashed.groupBy(id_col).agg(*bit_votes)
    fp = F.lit(0).cast("long")
    for i in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(0)
        )
    return votes.select(id_col, fp.alias("simhash"))


#: memberships of a simhash chunk value past this many are dropped by
#: ``simhash_candidates``
MAX_CHUNK_DF = 1_000_000


def simhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunks: int = 4,
    corpus_size: int | None = None,
    portable: bool = False,
) -> DataFrame:
    """Near-dup candidates: pairs sharing any 16-bit simhash chunk
    (15-bit in ``portable`` mode — see :func:`simhash`; catches all
    pairs within Hamming distance chunks−1).

    Chunk values live in a 2^(64/chunks) space, so bucket sizes grow
    linearly with the corpus — chunk-LSH is a small-to-mid-corpus tool
    (beyond ~10⁷ docs, widen chunks or pre-partition by a coarser key).
    ``MAX_CHUNK_DF``/``corpus_size`` apply the same degenerate-hot-key
    guard as minhash_lsh_pairs: memberships of a chunk value shared by
    more than the cap are dropped before the collect so one boilerplate
    corpus can't funnel into a single aggregation buffer."""
    fp = simhash(docs, text_col, id_col, portable=portable)
    width = (_SIMHASH_PORTABLE_BITS if portable else 64) // chunks
    mask = (1 << width) - 1
    chunk_cols = [
        F.struct(
            F.lit(i).alias("ci"),
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)).alias("cv"),
        )
        for i in range(chunks)
    ]
    memberships = fp.select(id_col, F.explode(F.array(*chunk_cols)).alias("c")).select(
        id_col, "c.ci", "c.cv"
    )
    size = corpus_size if corpus_size is not None else docs.count()
    if size > MAX_CHUNK_DF:  # chunk df is bounded by corpus size
        memberships = _drop_hot_keys(memberships, ["ci", "cv"], MAX_CHUNK_DF)
    parts = memberships.groupBy("ci", "cv").agg(F.collect_list(id_col).alias("ids"))
    return bucket_pairs(parts, ["ci", "cv"]).distinct()


# --- exact substring-span dedup (cross-document repeated spans) ------------
#
# Fifth dedup tier: find VERBATIM k-token spans shared across documents
# and measure how much of each document they cover — the substring-level
# exact dedup of Lee et al. 2022 ("Deduplicating Training Data Makes
# Language Models Better"), which catches boilerplate (headers, license
# blocks, templates) that document-level hashing misses because the
# surrounding text differs. (Within-document repetition is the separate
# text_repetition operator; this one is cross-document by design.)
#
# Fully deterministic with portable md5 window hashes, so the registry
# entry carries a complete cross-engine hash oracle.


def resolve_by_quality(
    scored_docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate resolution that keeps the BEST member per component,
    not the smallest id: real pipelines keep the longest / highest-
    quality copy of a near-dup cluster (min-id keep discards the good
    copy whenever it happens to carry the bigger id).

    ``scored_docs`` is (id, score, …); ``pairs`` is the dup graph
    (id_a, id_b). Components come from :func:`connected_components`
    (min-label propagation, converges in graph-diameter rounds);
    the kept member is argmax(score) with min-id tiebreak —
    deterministic, so the registry entry carries a full hash oracle
    (DuckDB replays components via recursive CTE and the winner via
    ROW_NUMBER). Returns one row per input doc:
    ``(id, component, component_size, score, keep)`` — singletons keep
    themselves.

    Scale shape: the dup graph is pair-count-sized (never corpus-
    squared — upstream candidate generation bounds it), label
    propagation shuffles the EDGE list per round, and the winner pick
    is one component-keyed window (one shuffle + sort on the component
    key; ``row_number`` + a frame-count share the sort). The tiebreak
    is ``ORDER BY score DESC, id ASC`` — type-agnostic, so string doc
    ids work (the earlier ``max_by(id, struct(score, -id))`` form
    required a NUMERIC id: unary minus on a string id fails at plan
    time with an AnalysisException)."""
    from pyspark.sql import Window

    comp = connected_components(pairs).select(
        F.col("node").alias(id_col), F.col("comp").alias("component")
    )
    labeled = (
        scored_docs.select(id_col, score_col)
        .join(comp, id_col, "left")
        .withColumn("component", F.coalesce("component", F.col(id_col)))
    )
    wo = Window.partitionBy("component").orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    size = F.count(F.lit(1)).over(
        wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return labeled.select(
        id_col,
        "component",
        size.cast("long").alias("component_size"),
        score_col,
        (F.row_number().over(wo) == 1).alias("keep"),
    )


def remove_duplicated_spans(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Excise cross-document verbatim spans, keeping one owner copy —
    the text-REWRITING half of exact substring dedup (Lee et al.,
    "Deduplicating Training Data Makes Language Models Better"):
    :func:`duplicated_span_coverage` reports the duplication,
    this produces the deduplicated corpus.

    Contract (deterministic, engine-replayable): for every k-token
    window whose hash appears in ≥2 distinct documents, the OWNER is
    the minimum doc id containing it; every other document has the
    window's token positions excised. Overlapping/adjacent excisions
    union via gaps-and-islands intervals; the cleaned text is the
    remaining tokens rejoined in order. Owners keep all their
    occurrences (within-doc repetition is :func:`text_repetition`'s
    job). Returns one row per document —
    ``(id, n_tokens, removed_tokens, clean_text)`` — including
    untouched and shorter-than-k documents (removed_tokens = 0).

    Scale shape: one window-hash-keyed shuffle finds duplicated
    windows + owners (agg state = one row per distinct window), one
    id-keyed window pass builds interval islands, and the excision
    itself is ROW-LOCAL — a higher-order ``filter`` over the token
    array against the doc's collected interval list (intervals per doc
    are bounded by n_tokens/k after the union). No pair
    materialization, no position explode: cost is linear in corpus
    token count, the same class as the span detector.

    AQE-safety (the distributed_cumsum class — two consumers of one
    exchange): ``wins`` feeds BOTH the duplicated-window aggregate and
    the span join, and ``base`` is read again for the final excision —
    so AQE may re-execute either subtree per consumer without exchange
    reuse. Every column is a pure function of the input rows (md5 over
    normalized tokens, posexplode positions — no RNG, no partition-id,
    no mono-id), so re-executions are
    bit-identical and the consumers cannot disagree under any re-plan.
    Pinned by tests/test_aqe_multiconsumer.py."""
    from pyspark.sql import Window

    base = docs.select(
        F.col(id_col), F.split(normalize_text(F.col(text_col)), " ").alias("__t")
    )
    long_enough = base.where(F.size("__t") >= k)
    wins = long_enough.select(
        F.col(id_col), F.posexplode(_window_hashes(k)).alias("pos", "wh")
    )
    dup = (
        wins.groupBy("wh")
        .agg(
            F.count_distinct(F.col(id_col)).alias("__df"),
            F.min(id_col).alias("__owner"),
        )
        .where(F.col("__df") >= 2)
        .select("wh", "__owner")
    )
    spans = wins.join(dup, "wh").where(F.col(id_col) != F.col("__owner")).select(
        id_col, "pos"
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = spans.select(
        id_col,
        "pos",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0).alias("__ni"),
    )
    island = F.sum("__ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    intervals = (
        flagged.select(id_col, "pos", island.alias("__isl"))
        .groupBy(id_col, "__isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + k).alias("e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("__ivs"))
    )
    joined = base.join(intervals, id_col, "left")
    kept = F.when(
        F.col("__ivs").isNull(), F.col("__t")
    ).otherwise(
        F.filter(
            "__t",
            lambda tok, i: ~F.exists(
                "__ivs", lambda iv: (i >= iv["s"]) & (i < iv["e"])
            ),
        )
    )
    return joined.select(
        F.col(id_col),
        F.size("__t").cast("long").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("long").alias("removed_tokens"),
        F.array_join(kept, " ").alias("clean_text"),
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = 100_000,
) -> DataFrame:
    """Exact Jaccard-threshold pair join via PREFIX FILTERING
    (AllPairs — Bayardo et al., WWW'07; Chaudhuri et al., ICDE'06).

    Returns (id_a, id_b, jaccard), id_a < id_b, jaccard >= threshold —
    the SAME result set as :func:`ngram_jaccard_pairs` at the same
    parameters, from a candidate space that is a small fraction of it.
    The inverted-index join generates a candidate for every shared
    gram (O(Σ df²) across grams); prefix filtering sorts each
    document's gram set in one GLOBAL rare-first order (document
    frequency asc, gram asc) and emits only its first
    ``p = |g| − ⌈t·|g|⌉ + 1`` grams. Pigeonhole: J(a,b) ≥ t implies
    |a∩b| ≥ ⌈t·|a|⌉, and a's suffix past the prefix holds only
    ⌈t·|a|⌉ − 1 grams, so at least one intersection gram sits in each
    prefix — the filter is provably LOSSLESS at the threshold (the
    registry oracle replays the exact all-shared-grams join in DuckDB,
    so the cross-engine hash match IS the losslessness proof). At
    t=0.5 the candidate join touches half the grams; rare-first
    ordering means those are precisely the grams with the SMALLEST
    buckets, so candidate volume falls far more than 2× (the df² sum
    is dominated by hot grams, which land in suffixes).

    Shuffle ledger at cluster scale: gram-df agg + df join (keyed on
    8-byte gram hash), one per-doc window sort (keyed on id), the
    prefix self-join (keyed on gram, buckets capped by rarity +
    ``max_gram_df``), and two id-keyed verify joins against the
    collected gram arrays. Verification is row-local
    ``array_intersect`` on the candidate pair — no gram re-shuffle.
    ``max_gram_df`` drops stop-phrase grams from the metric BEFORE
    sizing (mirrored in the oracle), same contract as
    :func:`ngram_jaccard_pairs`."""
    from pyspark.sql import Window

    grams = token_ngram_hashes(docs, text_col, n, id_col)
    gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    kept = grams.join(gram_df, "gram")
    if max_gram_df is not None:
        kept = kept.where(F.col("__df") <= F.lit(max_gram_df))

    w = Window.partitionBy(id_col).orderBy("__df", "gram")
    sz = F.count(F.lit(1)).over(Window.partitionBy(id_col))
    ranked = kept.select(
        F.col(id_col),
        F.col("gram"),
        F.row_number().over(w).alias("__r"),
        sz.alias("__sz"),
    )
    prefix = ranked.where(
        F.col("__r")
        <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + F.lit(1)
    ).select(id_col, "gram")

    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "gram")
        .join(prefix.select(F.col(id_col).alias("id_b"), "gram"), "gram")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    sets = kept.groupBy(id_col).agg(
        F.collect_list("gram").alias("__gs"), F.count(F.lit(1)).alias("__sz")
    )
    joined = (
        cand.join(
            sets.select(
                F.col(id_col).alias("id_a"),
                F.col("__gs").alias("__ga"),
                F.col("__sz").alias("__sza"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col(id_col).alias("id_b"),
                F.col("__gs").alias("__gb"),
                F.col("__sz").alias("__szb"),
            ),
            "id_b",
        )
        .withColumn("__common", F.size(F.array_intersect("__ga", "__gb")))
    )
    jac = F.col("__common") / (
        F.col("__sza") + F.col("__szb") - F.col("__common")
    )
    return joined.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).where(F.col("jaccard") >= F.lit(threshold))


def _window_hashes(k: int) -> Column:
    """md5 of each k-token window of the ``__t`` token array, in
    position order: the gram string any SQL engine can replay."""
    return F.transform(
        F.sequence(F.lit(0), F.size("__t") - k),
        lambda i: F.md5(F.array_join(F.slice("__t", i + 1, k), " ")),
    )


def duplicated_spans(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """(id, pos, n_tokens) rows for every position whose k-token window
    also appears verbatim in at least one OTHER document.

    Plan: one pass builds all windows as (pos, hash) via posexplode —
    the token array is split once per row (see :func:`_tokens`); window
    hashes with ≥2 distinct docs are found by one hash-keyed shuffle
    (grid-bounded agg state: one row per distinct window), and a
    left-semi join keeps the duplicated positions. No pair
    materialization anywhere — cost is linear in corpus token count
    plus the window-hash shuffle, the same scaling class as the gram
    join. Window hashes are md5 of the gram string (any-engine replay)."""
    t = _tokens(docs, text_col, k, id_col)
    wins = t.select(
        F.col(id_col),
        F.size("__t").alias("n_tokens"),
        F.posexplode(_window_hashes(k)).alias("pos", "wh"),
    )
    dup_hashes = (
        wins.groupBy("wh")
        .agg(F.count_distinct(F.col(id_col)).alias("df"))
        .where(F.col("df") >= 2)
        .select("wh")
    )
    return wins.join(dup_hashes, "wh", "left_semi").select(id_col, "pos", "n_tokens")


def duplicated_span_coverage(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Per-document coverage of cross-document duplicated k-token spans:
    ``(id, n_tokens, dup_windows, covered_tokens, dup_fraction)``, one
    row per document that contains at least one duplicated span.

    A window at position p covers tokens [p, p+k); overlapping and
    adjacent windows merge via gaps-and-islands (running max of span
    ends over a per-doc window ordered by position — one shuffle keyed
    by doc), so ``covered_tokens`` is the exact interval-union size.
    ``dup_fraction`` is one exactly-rounded double division of two
    integers — bit-identical on any IEEE-754 engine."""
    from pyspark.sql import Window

    spans = duplicated_spans(docs, text_col, id_col, k)
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = spans.select(
        id_col,
        "pos",
        "n_tokens",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1)
        .otherwise(0)
        .alias("__new_island"),
    )
    island = F.sum("__new_island").over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = flagged.select(
        id_col, "pos", "n_tokens", island.alias("__island")
    ).groupBy(id_col, "__island").agg(
        F.max("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("dup_windows"),
        (F.max(F.col("pos") + k) - F.min("pos")).alias("covered"),
    )
    return islands.groupBy(id_col).agg(
        F.max("n_tokens").alias("n_tokens"),
        F.sum("dup_windows").cast("long").alias("dup_windows"),
        F.sum("covered").cast("long").alias("covered_tokens"),
        (F.sum("covered").cast("double") / F.max("n_tokens")).alias("dup_fraction"),
    )
