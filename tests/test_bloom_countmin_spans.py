"""Tests for the r10 second-wave operators: Bloom-filter join pruning,
count-min frequency sketches, and cross-document substring-span dedup."""

import pytest
from pyspark.sql import Row, functions as F

from tailpipe_spark.operators import bloom as bl
from tailpipe_spark.operators import dedup as dd
from tailpipe_spark.operators import sketches as sk


# --- bloom ----------------------------------------------------------------


def test_bloom_semi_join_exact(spark):
    small = spark.range(0, 200).select((F.col("id") * 13).alias("k"))
    big = spark.range(0, 5000).select(
        F.pmod(F.col("id"), F.lit(3000)).alias("k"), F.col("id").alias("v")
    )
    got = bl.bloom_prune_semi_join(big, small, "k", 1 << 16)
    want = big.join(small.distinct(), "k", "left_semi")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_bloom_no_false_negatives_and_fpr(spark):
    # every true member must pass the probe; FPR among non-members must
    # be within ~4x of theory (p = (1 - e^{-kn/m})^k)
    import math

    n, m, k = 500, 1 << 14, 2
    small = spark.range(0, n).select((F.col("id") * 7 + 3).alias("k"))
    bf = bl.bloom_build(small, "k", num_bits=m, num_hashes=k)
    probes = spark.range(0, 20000).select((F.col("id") + 1_000_000).alias("k"))
    members = small.crossJoin(F.broadcast(bf)).where(
        bl.bloom_might_contain(F.col("bf"), F.col("k"), m, k)
    )
    assert members.count() == n  # no false negatives, ever
    fp = (
        probes.crossJoin(F.broadcast(bf))
        .where(bl.bloom_might_contain(F.col("bf"), F.col("k"), m, k))
        .count()
    )
    p_theory = (1 - math.exp(-k * n / m)) ** k
    assert fp / 20000 <= max(4 * p_theory, 0.01)


def test_bloom_probe_ordered_before_exact_join(spark):
    # the optimizer fence must keep the bloom probe BELOW the exact
    # semi join — without it PushDownLeftSemiAntiJoin hoists the join
    # under the probe and the prune becomes a post-join no-op
    small = spark.range(0, 10).select(F.col("id").alias("k"))
    big = spark.range(0, 100).select(F.col("id").alias("k"), F.col("id").alias("v"))
    out = bl.bloom_prune_semi_join(big, small, "k", 1 << 16)
    plan = out._jdf.queryExecution().optimizedPlan().treeString()
    lines = plan.splitlines()
    join_i = min(i for i, l in enumerate(lines) if "LeftSemi" in l)
    fence_i = min(i for i, l in enumerate(lines) if "monotonically_increasing_id" in l)
    probe_i = min(i for i, l in enumerate(lines) if "element_at" in l)
    assert join_i < fence_i < probe_i, plan


def test_bloom_null_keys_never_match(spark):
    small = spark.createDataFrame([Row(k=1), Row(k=2)])
    big = spark.createDataFrame([Row(k=1, v=10), Row(k=None, v=20), Row(k=5, v=30)])
    got = bl.bloom_prune_semi_join(big, small, "k", 1 << 16).collect()
    assert [r.v for r in got] == [10]


def test_bloom_empty_small_side(spark):
    # empty build side -> all-zero bitmap -> nothing survives the probe
    small = spark.range(0, 10).select(F.col("id").alias("k")).where(F.lit(False))
    big = spark.range(0, 100).select(F.col("id").alias("k"))
    assert bl.bloom_prune_semi_join(big, small, "k", 1 << 16).count() == 0


# --- count-min ------------------------------------------------------------


@pytest.fixture(scope="module")
def cm_items(spark):
    # zipf-ish skew: item i appears ~ 2000/i times, tagged by group
    rows = spark.range(1, 2001).select(
        F.explode(F.sequence(F.lit(1), (F.lit(2000) / F.col("id")).cast("int")))
        .alias("rep"),
        F.concat(F.lit("item"), F.col("id")).alias("item"),
        (F.pmod(F.col("id"), F.lit(3))).alias("grp"),
    )
    return rows.select("item", "grp")


def test_countmin_never_underestimates(spark, cm_items):
    sketch = sk.countmin_sketch(cm_items, "item", depth=4, width=256)
    true = cm_items.groupBy("item").agg(F.count(F.lit(1)).alias("t"))
    probes = true.select("item")
    est = sk.countmin_estimate(sketch, probes, "item", depth=4, width=256)
    joined = true.join(est, "item")
    assert joined.where(F.col("est_cnt") < F.col("t")).count() == 0


def test_countmin_error_bound(spark, cm_items):
    # CM guarantee: err <= e/width * N with prob >= 1 - e^{-depth} per
    # item; assert the 99th-percentile error honors the bound
    import math

    depth, width = 4, 256
    n_total = cm_items.count()
    sketch = sk.countmin_sketch(cm_items, "item", depth=depth, width=width)
    true = cm_items.groupBy("item").agg(F.count(F.lit(1)).alias("t"))
    est = sk.countmin_estimate(sketch, true.select("item"), "item", depth=depth, width=width)
    errs = sorted(
        r.e for r in true.join(est, "item").select((F.col("est_cnt") - F.col("t")).alias("e")).collect()
    )
    bound = math.e / width * n_total
    p99 = errs[int(0.99 * (len(errs) - 1))]
    assert p99 <= bound, (p99, bound)


def test_countmin_merge_lossless(spark, cm_items):
    # per-group sketches merged cell-wise == sketch of the whole corpus
    direct = sk.countmin_sketch(cm_items, "item", depth=4, width=256)
    per_grp = sk.countmin_sketch(cm_items, "item", group_cols=["grp"], depth=4, width=256)
    merged = sk.countmin_merge(per_grp)
    assert direct.exceptAll(merged).count() == 0
    assert merged.exceptAll(direct).count() == 0


def test_countmin_unseen_item_estimates_low(spark, cm_items):
    sketch = sk.countmin_sketch(cm_items, "item", depth=4, width=256)
    probes = spark.createDataFrame([Row(item="never-seen-token")])
    est = sk.countmin_estimate(sketch, probes, "item", depth=4, width=256).collect()
    # unseen items can only pick up collision mass, bounded by the
    # same eps*N guarantee (and usually ~min cell load)
    import math

    assert est[0].est_cnt <= math.e / 256 * cm_items.count()


# --- substring spans ------------------------------------------------------


def _docs_df(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    )


def test_spans_cross_doc_only(spark):
    # the repeated phrase inside doc 0 is NOT shared with another doc
    # -> no rows; the shared phrase between 1 and 2 is
    docs = _docs_df(
        spark,
        [
            "alpha beta gamma delta alpha beta gamma delta unrelated tail words here",
            "the quick brown fox jumps over the lazy dog tonight",
            "prefix words the quick brown fox jumps over the lazy dog indeed",
        ],
    )
    cov = dd.duplicated_span_coverage(docs, k=8).orderBy("doc_id").collect()
    assert [r.doc_id for r in cov] == [1, 2]
    # the shared phrase "the ... dog" is 9 tokens -> two overlapping
    # 8-token windows, merged into one island covering [0, 9)
    d1, d2 = cov
    assert d1.n_tokens == 10 and d1.dup_windows == 2 and d1.covered_tokens == 9
    assert d1.dup_fraction == 0.9
    assert d2.n_tokens == 12 and d2.dup_windows == 2 and d2.covered_tokens == 9
    assert d2.dup_fraction == 0.75


def test_spans_island_merging(spark):
    # two disjoint duplicated spans in one doc -> two islands summed
    shared_a = "one two three four five six seven eight"
    shared_b = "red orange yellow green blue indigo violet ultraviolet"
    docs = _docs_df(
        spark,
        [
            f"{shared_a} XfillerX YfillerY ZfillerZ {shared_b}",
            f"{shared_a} completely different middle text goes here now {shared_b}",
        ],
    )
    cov = dd.duplicated_span_coverage(docs, k=8).orderBy("doc_id").collect()
    assert len(cov) == 2
    for r in cov:
        # each shared phrase is one 8-token window -> 2 windows, 16 tokens
        assert r.dup_windows == 2 and r.covered_tokens == 16


# --- prefix-filtered jaccard join ----------------------------------------


def _corpus(spark, rows):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in rows])


def test_prefix_jaccard_matches_inverted_index(spark):
    # same result set as the all-shared-grams plan at identical params
    docs = _corpus(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six seven"),
            (4, "one two three four five six eight"),
            (5, "totally different words entirely here now"),
            (6, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
        ],
    )
    for t in (0.2, 0.5, 0.9):
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dd.prefix_jaccard_pairs(docs, n=3, threshold=t).collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dd.ngram_jaccard_pairs(
                docs, n=3, threshold=t, max_gram_df=10_000
            ).collect()
        }
        assert got == want, t


def test_prefix_jaccard_exact_value_and_threshold_edge(spark):
    # doc pair sharing 3 of 5 distinct grams -> J = 3/5 exactly; the
    # >= comparison must include the boundary
    docs = _corpus(
        spark,
        [(1, "a b c d e f"), (2, "a b c d e g")],
    )
    rows = dd.prefix_jaccard_pairs(docs, n=3, threshold=0.6).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in rows] == [(1, 2, 0.6)]
    assert dd.prefix_jaccard_pairs(docs, n=3, threshold=0.61).collect() == []


def test_prefix_jaccard_prefix_is_smaller_than_full_gram_set(spark):
    # structural: the candidate-generating prefix explode must touch
    # fewer (doc, gram) rows than the full gram relation at t=0.5
    docs = _corpus(
        spark,
        [(i, " ".join(f"w{i}_{j}" for j in range(40)) + " common tail words")
         for i in range(20)],
    )
    full = dd.token_ngram_hashes(docs, "text", 3).count()
    from pyspark.sql import Window

    grams = dd.token_ngram_hashes(docs, "text", 3)
    gram_df = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("__df"))
    kept = grams.join(gram_df, "gram")
    w = Window.partitionBy("doc_id").orderBy("__df", "gram")
    sz = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    ranked = kept.select(
        F.col("doc_id"), F.row_number().over(w).alias("__r"), sz.alias("__sz")
    )
    prefix_rows = ranked.where(
        F.col("__r") <= F.col("__sz") - F.ceil(F.lit(0.5) * F.col("__sz")) + 1
    ).count()
    assert prefix_rows < full * 0.6  # ~half + 1 per doc


# --- span removal ---------------------------------------------------------


def test_span_removal_owner_keeps_others_cut(spark):
    # doc 1 (min id) owns the shared 4-token span; doc 2 loses it;
    # doc 3 untouched; doc 4 shorter than k passes through whole
    docs = _corpus(
        spark,
        [
            (1, "the quick brown fox jumps over lazy dogs"),
            (2, "prefix words the quick brown fox suffix words"),
            (3, "completely unrelated text with no shared span"),
            (4, "tiny doc"),
        ],
    )
    rows = {r.doc_id: r for r in dd.remove_duplicated_spans(docs, k=4).collect()}
    assert rows[1].removed_tokens == 0
    assert rows[1].clean_text == "the quick brown fox jumps over lazy dogs"
    assert rows[2].removed_tokens == 4
    assert rows[2].clean_text == "prefix words suffix words"
    assert rows[3].removed_tokens == 0
    assert rows[4].removed_tokens == 0 and rows[4].n_tokens == 2


def test_span_removal_overlapping_windows_union(spark):
    # doc 2 shares a 6-token run with doc 1 -> three overlapping
    # 4-token windows excise the union (6 tokens), not 12
    docs = _corpus(
        spark,
        [
            (1, "a b c d e f"),
            (2, "x a b c d e f y"),
        ],
    )
    rows = {r.doc_id: r for r in dd.remove_duplicated_spans(docs, k=4).collect()}
    assert rows[2].removed_tokens == 6
    assert rows[2].clean_text == "x y"


def test_span_removal_fully_covered_doc_empty(spark):
    docs = _corpus(
        spark,
        [(1, "a b c d"), (2, "a b c d")],
    )
    rows = {r.doc_id: r for r in dd.remove_duplicated_spans(docs, k=4).collect()}
    assert rows[1].clean_text == "a b c d"
    assert rows[2].clean_text == "" and rows[2].removed_tokens == 4


def test_prefix_jaccard_equals_inverted_property(spark):
    """Random small-vocab corpora (forced gram sharing): the prefix
    plan must return the inverted-index plan's exact result set at
    every threshold — the losslessness pin the registry oracle proves
    at corpus scale, here hammered on adversarial tiny inputs (df
    ties, all-hot grams, docs at the n-token boundary)."""
    from hypothesis import given, settings, strategies as st

    words = st.integers(min_value=0, max_value=4).map(lambda i: f"w{i}")

    @settings(max_examples=5, deadline=None)
    @given(
        texts=st.lists(
            st.lists(words, min_size=2, max_size=9).map(" ".join),
            min_size=2,
            max_size=6,
        ),
        t=st.sampled_from([0.25, 0.5, 0.75, 1.0]),
    )
    def check(texts, t):
        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        got = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dd.prefix_jaccard_pairs(df, n=3, threshold=t).collect()
        }
        want = {
            (r.id_a, r.id_b, round(r.jaccard, 12))
            for r in dd.ngram_jaccard_pairs(
                df, n=3, threshold=t, max_gram_df=10_000
            ).collect()
        }
        assert got == want

    check()


def test_span_removal_invariants_property(spark):
    """Random corpora invariants: token conservation (n_tokens =
    kept + removed), cut-implies-shared (a doc only loses tokens if it
    shares a window with a SMALLER-id doc — excisions come only from
    windows owned by someone else), untouched docs byte-unchanged, and
    the first doc never loses anything (doc 0 owns every window it
    shares). NOTE: "every duplicated window survives in one clean
    text" is deliberately NOT asserted — overlapping excisions owned
    by different docs can clip a window inside its own owner (the
    standard greedy-excision property; same in Lee et al.)."""
    from hypothesis import given, settings, strategies as st

    words = st.integers(min_value=0, max_value=3).map(lambda i: f"w{i}")
    K = 3

    @settings(max_examples=5, deadline=None)
    @given(
        texts=st.lists(
            st.lists(words, min_size=1, max_size=8).map(" ".join),
            min_size=2,
            max_size=5,
        )
    )
    def check(texts):
        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        rows = dd.remove_duplicated_spans(df, k=K).collect()
        by_id = {r.doc_id: r for r in rows}
        assert set(by_id) == set(range(len(texts)))
        orig_wins = {}
        for i, t in enumerate(texts):
            toks = t.split()
            assert by_id[i].n_tokens == len(toks)
            kept = by_id[i].clean_text.split() if by_id[i].clean_text else []
            assert len(kept) == len(toks) - by_id[i].removed_tokens
            for j in range(len(toks) - K + 1):
                orig_wins.setdefault(" ".join(toks[j : j + K]), set()).add(i)
        # doc 0 owns every window it shares: never cut
        assert by_id[0].removed_tokens == 0
        # a doc loses tokens only if it shares a window with a
        # smaller-id doc (the owner of whatever was excised)
        for i in range(len(texts)):
            if by_id[i].removed_tokens > 0:
                assert any(
                    i in docs and min(docs) < i
                    for docs in orig_wins.values()
                    if len(docs) >= 2
                ), i
        # untouched docs unchanged
        for i, t in enumerate(texts):
            if by_id[i].removed_tokens == 0:
                assert by_id[i].clean_text == " ".join(t.split())

    check()


def test_resolve_by_quality_argmax_and_tiebreak(spark):
    # component {1,2,3}: doc 2 has the top score -> keep; component
    # {4,5}: tied score -> min id 4 keeps; doc 9 is a singleton
    scored = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 20), (4, 7), (5, 7), (9, 1)],
        ["doc_id", "score"],
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], ["id_a", "id_b"])
    rows = {r.doc_id: r for r in dd.resolve_by_quality(scored, pairs, "score").collect()}
    assert [rows[i].keep for i in (1, 2, 3)] == [False, True, False]
    assert rows[2].component_size == 3
    assert [rows[i].keep for i in (4, 5)] == [True, False]
    assert rows[9].keep and rows[9].component_size == 1 and rows[9].component == 9
    # exactly one keeper per component
    from collections import Counter
    keeps = Counter(r.component for r in rows.values() if r.keep)
    assert all(v == 1 for v in keeps.values())


def test_resolve_by_quality_string_ids(spark):
    # string doc ids must work (the old max_by(id, struct(score, -id))
    # tiebreak applied unary minus to the id and blew up at plan time
    # on non-numeric ids); tie on score -> lexicographically-min id
    scored = spark.createDataFrame(
        [("doc-a", 5), ("doc-b", 5), ("doc-c", 9), ("solo", 2)],
        ["doc_id", "score"],
    )
    pairs = spark.createDataFrame(
        [("doc-a", "doc-b"), ("doc-b", "doc-c")], ["id_a", "id_b"]
    )
    rows = {r.doc_id: r for r in dd.resolve_by_quality(scored, pairs, "score").collect()}
    assert rows["doc-c"].keep and not rows["doc-a"].keep and not rows["doc-b"].keep
    assert rows["doc-c"].component_size == 3
    assert rows["solo"].keep and rows["solo"].component_size == 1


def test_bloom_anti_join_exact(spark):
    small = spark.range(0, 200).select((F.col("id") * 13).alias("k"))
    big = spark.range(0, 5000).select(
        F.pmod(F.col("id"), F.lit(3000)).alias("k"), F.col("id").alias("v")
    )
    got = bl.bloom_prune_anti_join(big, small, "k", 1 << 16)
    want = big.join(small.distinct(), "k", "left_anti")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    assert got.columns == big.columns


def test_bloom_anti_join_null_keys_kept(spark):
    # anti-join semantics: a NULL key never matches -> always kept
    small = spark.createDataFrame([Row(k=1), Row(k=2)])
    big = spark.createDataFrame([Row(k=1, v=10), Row(k=None, v=20), Row(k=5, v=30)])
    got = sorted(r.v for r in bl.bloom_prune_anti_join(big, small, "k", 1 << 16).collect())
    assert got == [20, 30]


def test_bloom_anti_join_empty_small_keeps_all(spark):
    small = spark.range(0, 10).select(F.col("id").alias("k")).where(F.lit(False))
    big = spark.range(0, 100).select(F.col("id").alias("k"))
    assert bl.bloom_prune_anti_join(big, small, "k", 1 << 16).count() == 100


def _exec_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_auto_filter_join_branch_pins(spark):
    """The planner flips physical shape on build-side size; both
    branches return the exact join result (semi AND anti)."""
    big = spark.range(0, 5000).select(
        F.pmod(F.col("id"), F.lit(400)).alias("k"), F.col("id").alias("v")
    )
    small = spark.range(0, 100).select((F.col("id") * 3).alias("k"))

    for how in ("semi", "anti"):
        want = sorted(
            map(tuple, big.join(small.distinct(), "k", f"left_{how}").collect())
        )
        # build side UNDER the threshold -> broadcast keys, no bloom probe
        bcast = bl.auto_filter_join(big, small, "k", how, broadcast_max_rows=1000)
        p = _exec_plan(bcast)
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoop" in p
        assert "xxhash64" not in p  # no bloom machinery in this branch
        assert sorted(map(tuple, bcast.collect())) == want

        # build side OVER the threshold -> bloom-pruned branch
        bloom = bl.auto_filter_join(big, small, "k", how, broadcast_max_rows=10)
        p = _exec_plan(bloom)
        assert "xxhash64" in p  # the probe is in the plan
        assert sorted(map(tuple, bloom.collect())) == want

    with pytest.raises(ValueError):
        bl.auto_filter_join(big, small, "k", "inner")
