"""Properties of the deterministic sampling operators that the oracle
hash can't express: growth stability, salt independence, plan shape."""

from pyspark.sql import functions as F

from tailpipe_spark.operators import sampling


def _docs(spark, n=400):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 7).cast("string").alias("source"),
        (F.col("id") * 13 % 997).alias("n_chars"),
    )


def test_split_covers_everything_and_roughly_matches_weights(spark):
    out = sampling.assign_split(_docs(spark, 2000)).groupBy("split").count()
    counts = {r["split"]: r["count"] for r in out.collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == 2000
    assert counts["train"] > 1600  # ~90% of 2000, generous tolerance
    assert 40 < counts["val"] + counts["test"] < 360


def test_split_stable_under_corpus_growth(spark):
    """Adding documents never flips an existing assignment — the reason
    this is hash-based, not row_number or df.sample based."""
    small = sampling.assign_split(_docs(spark, 200)).collect()
    big = sampling.assign_split(_docs(spark, 2000)).collect()
    big_map = {r["doc_id"]: r["split"] for r in big}
    for r in small:
        assert big_map[r["doc_id"]] == r["split"]


def test_split_salt_redraws(spark):
    a = {
        r["doc_id"]: r["split"]
        for r in sampling.assign_split(_docs(spark), salt="a").collect()
    }
    b = {
        r["doc_id"]: r["split"]
        for r in sampling.assign_split(_docs(spark), salt="b").collect()
    }
    assert a != b  # some assignment must differ under a new salt
    assert set(a) == set(b)  # same rows, only labels move


def test_assign_split_is_shuffle_free(spark):
    plan = (
        sampling.assign_split(_docs(spark))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_sample_fraction_deterministic_and_proportional(spark):
    df = _docs(spark, 5000)
    once = sorted(r["doc_id"] for r in sampling.sample_fraction(df, 0.2).collect())
    again = sorted(r["doc_id"] for r in sampling.sample_fraction(df, 0.2).collect())
    assert once == again
    assert 700 < len(once) < 1300  # ~1000


def test_stratified_sample_exact_n_and_deterministic(spark):
    df = _docs(spark, 700)
    out = sampling.stratified_sample(df, "source", 3).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    assert all(len(v) == 3 for v in by_src.values())
    again = sampling.stratified_sample(df, "source", 3).collect()
    assert sorted(r["doc_id"] for r in again) == sorted(r["doc_id"] for r in out)


def test_mixture_rates_cap_and_identity(spark):
    out = sampling.mixture_rates(_docs(spark), "source", "n_chars", 0.10).collect()
    assert len(out) == 7
    for r in out:
        assert 0.0 < r["rate"] <= 1.0
    # a single dominant source gets capped below 1
    skew = spark.createDataFrame(
        [(i, "big" if i else "tiny", 1000 if i else 1) for i in range(100)],
        "doc_id long, source string, n_chars long",
    )
    rates = {
        r["source"]: r["rate"]
        for r in sampling.mixture_rates(skew, "source", "n_chars", 0.5).collect()
    }
    assert rates["tiny"] == 1.0
    assert rates["big"] < 1.0


def test_sample_fraction_one_keeps_everything(spark):
    """fraction=1.0 must be the identity — the 5-char hex threshold
    '10000' string-compares below most buckets (r6 ADVICE)."""
    df = _docs(spark, 500)
    assert sampling.sample_fraction(df, 1.0).count() == 500
    assert sampling.sample_fraction(df, 1.5).count() == 500


def test_split_boundaries_full_weight_absorbs_all(spark):
    """A non-last cumulative weight reaching 1.0 gets the catch-all
    sentinel boundary, so even ids hashing to bucket 'ffff' stay in the
    weight-1.0 split — nothing leaks to the zero-weight tail (r7 ADVICE
    tightened the r6 clamp, which leaked ~1/65536 of ids)."""
    bounds = dict(sampling.split_boundaries({"a": 1.0, "b": 0.0}))
    assert bounds["a"] == bounds["b"]  # both carry the sentinel
    assert bounds["a"] > "ffff"  # string-compares above every hex bucket
    out = sampling.assign_split(_docs(spark, 300), weights={"a": 1.0, "b": 0.0})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert counts == {"a": 300}  # exact: no leak to the zero-weight split

    # the ordinary case is unchanged by the sentinel logic
    bounds = dict(sampling.split_boundaries({"train": 0.9, "val": 0.05, "test": 0.05}))
    assert bounds["train"] == "e666" and bounds["val"] == "f333"
    assert bounds["test"] > "ffff"


def _docs_weighted(spark, n):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        (F.pmod(F.col("id") * 37, F.lit(100)) + 1).alias("w"),
    )


def test_distributed_cumsum_matches_naive(spark):
    from pyspark.sql import Window

    docs = _docs_weighted(spark, 1000)
    got = {
        r.doc_id: r.cum_before
        for r in sampling.distributed_cumsum(docs, "doc_id", "w", partitions=7).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.doc_id: r.c
        for r in docs.select(
            "doc_id", F.coalesce(F.sum("w").over(w), F.lit(0)).alias("c")
        ).collect()
    }
    assert got == want
    # deterministic under a different partition count
    got3 = {
        r.doc_id: r.cum_before
        for r in sampling.distributed_cumsum(docs, "doc_id", "w", partitions=3).collect()
    }
    assert got3 == want


def test_pps_systematic_exactly_k_and_proportional(spark):
    docs = _docs_weighted(spark, 2000)
    k = 500
    out = sampling.pps_systematic(docs, "w", k=k, phase=11).collect()
    assert sum(r.n_picks for r in out) == k  # telescoping: EXACTLY k
    # inclusion law: n_picks is floor/ceil of k*w/W (within 1)
    W = sum(r.w for r in docs.collect())
    by_id = {r.doc_id: r.n_picks for r in out}
    for r in docs.collect():
        expect = k * r.w / W
        got = by_id.get(r.doc_id, 0)
        assert abs(got - expect) <= 1, (r.doc_id, got, expect)
    # heavy rows picked with replacement: a row with w > 2*W/k gets >= 2
    # (construct one)
    docs2 = docs.union(
        docs.sparkSession.createDataFrame([(99999, 100000)], ["doc_id", "w"])
    )
    out2 = {r.doc_id: r.n_picks for r in sampling.pps_systematic(docs2, "w", k=k).collect()}
    assert out2[99999] >= 2
    assert sum(out2.values()) == k


def test_pps_systematic_deterministic_and_phase_varies(spark):
    docs = _docs_weighted(spark, 500)
    a = sorted(map(tuple, sampling.pps_systematic(docs, "w", 50, phase=3).collect()))
    b = sorted(map(tuple, sampling.pps_systematic(docs.repartition(13), "w", 50, phase=3).collect()))
    assert a == b  # layout-independent
    # a HALF-STRIDE phase shift moves every sample point past ~half a
    # row span -> a different draw (a 37-unit shift in a ~25k stride
    # crosses almost no row boundary and legitimately returns the same
    # sample — systematic sampling's phase granularity is the stride)
    W = sum(r.w for r in docs.collect())
    c = sorted(map(tuple, sampling.pps_systematic(docs, "w", 50, phase=W // 2).collect()))
    assert a != c  # phase is the draw knob
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sampling.pps_systematic(docs, "w", 0)


def test_pps_no_single_partition_window(spark):
    # the scale contract: no global Window without partitionBy in the
    # physical plan (the classic one-task cumsum killer)
    docs = _docs_weighted(spark, 100)
    plan = (
        sampling.pps_systematic(docs, "w", 10)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # every window spec must carry partition expressions OR run
            # over the tiny per-partition-totals side (bounded rows)
            assert "__bkt" in line or "__psum" in line, line


def test_budget_select_prefix_semantics(spark):
    """Greedy prefix under budget: inclusive cumsum monotone -> the
    selection is exactly the maximal affordable prefix of the ranking."""
    rows = [(i, 10 * (10 - i)) for i in range(1, 10)]  # ids 1..9, vals 90..10
    df = spark.createDataFrame(rows, ["doc_id", "tokens"])
    # rank by tokens desc (doc_id asc tiebreak); budget 240 buys
    # 90 + 80 + 70 = 240 exactly (boundary row kept at equality)
    got = sorted(
        (r["doc_id"], r["cum_total"])
        for r in sampling.budget_select(
            df, ["doc_id"], "tokens", 240
        ).collect()
    )
    assert got == [(1, 90), (2, 170), (3, 240)]
    # budget below the first row selects nothing
    assert sampling.budget_select(df, ["doc_id"], "tokens", 80).count() == 0
    # budget >= total selects everything
    assert sampling.budget_select(df, ["doc_id"], "tokens", 10_000).count() == 9


def test_budget_select_multi_col_order_and_layout_independence(spark):
    import random

    rng = random.Random(3)
    rows = [(i, rng.randint(0, 1), rng.randint(5, 50)) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "not_keep", "tokens"])
    want_order = sorted(rows, key=lambda r: (r[1], -r[2], r[0]))
    budget, cum, want = 1500, 0, []
    for i, nk, t in want_order:
        cum += t
        if cum > budget:
            break
        want.append((i, cum))
    from pyspark.sql import functions as F

    d2 = df.withColumn("neg_tokens", -F.col("tokens"))
    for layout in (d2, d2.repartition(17)):
        got = sorted(
            (r["doc_id"], r["cum_total"])
            for r in sampling.budget_select(
                layout, ["not_keep", "neg_tokens", "doc_id"], "tokens", budget
            ).collect()
        )
        assert got == sorted(want)


def test_budget_select_unit_lower_bound_matches_generic(spark):
    """r14 pruned fast path: with a declared value lower bound, the
    TakeOrdered(budget//bound) + bounded-window plan must select the
    exact rows and cum totals of the generic distributed-cumsum path,
    including the boundary row kept at equality."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(0, 1), rng.randint(5, 50)) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "not_keep", "tokens"]).withColumn(
        "neg_tokens", -F.col("tokens")
    )
    order = ["not_keep", "neg_tokens", "doc_id"]
    for budget in (80, 1500, 10**6):
        generic = sorted(
            (r["doc_id"], r["cum_total"])
            for r in sampling.budget_select(df, order, "tokens", budget).collect()
        )
        pruned = sorted(
            (r["doc_id"], r["cum_total"])
            for r in sampling.budget_select(
                df, order, "tokens", budget, unit_lower_bound=5
            ).collect()
        )
        assert pruned == generic
    # a huge budget/bound ratio falls back to the generic path (the
    # prune cap) and still agrees
    cap_fallback = sampling.budget_select(
        df, order, "tokens", 10**9, unit_lower_bound=1
    )
    assert cap_fallback.count() == 500


def test_budget_select_unit_lower_bound_guard_fires(spark):
    """A row below the declared bound (or NULL, which the generic path
    counts as 0) must fail the job loudly, not silently truncate."""
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, 10), (2, 0), (3, 7)], ["doc_id", "tokens"]
    )
    with _pytest.raises(Exception, match="below the declared bound|ASSERT"):
        sampling.budget_select(
            df, ["doc_id"], "tokens", 100, unit_lower_bound=1
        ).collect()
    df_null = spark.createDataFrame(
        [(1, 10), (2, None), (3, 7)], "doc_id int, tokens int"
    )
    with _pytest.raises(Exception):
        sampling.budget_select(
            df_null, ["doc_id"], "tokens", 100, unit_lower_bound=1
        ).collect()


def test_distributed_cumsum_exact_under_aqe(spark):
    """Regression for the AQE boundary-resample bug: the old
    repartitionByRange + spark_partition_id() bucket derivation was
    consistent between the totals branch and the row branch only via
    non-AQE exchange reuse; under AQE the two query stages resampled
    range boundaries independently and 48k of 50k prefix sums came out
    wrong. Buckets are now a pure function of the order-key values
    (plan-literal cut points), so the identity must hold with AQE
    forced ON, repeatedly, on multi-partition data."""
    from pyspark.sql import Window

    old = spark.conf.get("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        df = (
            spark.range(50_000)
            .repartition(16)
            .select(
                F.col("id").alias("doc_id"),
                (F.xxhash64("id") % 97 + 97).alias("w"),
            )
            .persist()
        )
        df.count()
        truth_w = Window.orderBy("doc_id").rowsBetween(
            Window.unboundedPreceding, -1
        )
        truth = df.withColumn(
            "t", F.coalesce(F.sum("w").over(truth_w), F.lit(0))
        ).select("doc_id", "t")
        for _ in range(2):
            got = sampling.distributed_cumsum(
                df, "doc_id", "w", out_col="c"
            ).select("doc_id", "c")
            bad = got.join(truth, "doc_id").where(
                F.col("c") != F.col("t")
            ).count()
            assert bad == 0
        df.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_pps_systematic_stable_under_aqe(spark):
    """Same regression surface through the PPS sampler: repeated draws
    with AQE on must be byte-identical."""
    old = spark.conf.get("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try:
        docs = _docs_weighted(spark, 2000).persist()
        docs.count()
        draws = [
            sorted(map(tuple, sampling.pps_systematic(docs, "w", 100).collect()))
            for _ in range(3)
        ]
        assert draws[0] == draws[1] == draws[2]
        assert sum(n for *_, n in draws[0]) == 100
        docs.unpersist()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
