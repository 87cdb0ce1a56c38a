"""Operator unit tests: as-of join, range join, sessionize, dedup,
similarity — checked against naive in-memory reference computations."""

import math
import warnings
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tailpipe_spark.operators.asof import asof_join
from tailpipe_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_candidates,
)
from tailpipe_spark.operators.sessionize import sessionize
from tailpipe_spark.operators.similarity import brute_force_topk, lsh_topk


def ts(m):
    return datetime(2024, 1, 1) + timedelta(minutes=m)


def test_asof_join_backward(spark):
    trades = spark.createDataFrame(
        [(1, ts(5), "t1"), (1, ts(10), "t2"), (2, ts(3), "t3")],
        ["k", "t", "trade"],
    )
    quotes = spark.createDataFrame(
        [(1, ts(4), 100.0), (1, ts(9), 101.0), (1, ts(11), 102.0), (2, ts(99), 50.0)],
        ["k", "qt", "price"],
    )
    out = asof_join(trades, quotes, on="k", left_time="t", right_time="qt",
                    value_cols=["price"]).collect()
    got = {r["trade"]: r["price"] for r in out}
    assert got == {"t1": 100.0, "t2": 101.0, "t3": None}
    # a right row at the left row's exact time matches
    left = spark.createDataFrame([(1, ts(5), "x")], ["k", "t", "tag"])
    right = spark.createDataFrame([(1, ts(5), 7.0)], ["k", "qt", "v"])
    assert asof_join(left, right, "k", "t", "qt", ["v"]).collect()[0]["v"] == 7.0


def test_following_window_agg_matches_self_range_join(spark):
    """The window-frame rewrite must equal a naive self range join +
    per-driver aggregation on randomized data (ties on timestamps
    included)."""
    import random
    from datetime import datetime, timedelta

    from tailpipe_spark.operators.range_join import following_window_agg

    rnd = random.Random(11)
    base = datetime(2024, 1, 1)
    rows = [
        (i, rnd.randrange(0, 4), base + timedelta(seconds=rnd.randrange(0, 500)))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, ["eid", "uid", "t"])

    via_window = {
        (r["eid"], r["n"], r["m"])
        for r in following_window_agg(
            df, "t", 60, ["uid"],
            {"n": F.count(F.lit(1)), "m": F.min("eid")},
        )
        .filter(F.col("n") > 0)
        .collect()
    }
    following = {
        d: [f for f, fu, ft in rows if fu == du and dt < ft <= dt + timedelta(seconds=60)]
        for d, du, dt in rows
    }
    via_join = {(d, len(fs), min(fs)) for d, fs in following.items() if fs}
    assert via_window == via_join
    assert via_window  # non-degenerate


def test_following_window_agg_inclusive_lower_bound(spark):
    """strict_after=False includes same-timestamp rows (range offset 0)
    — OTHER rows at the driver's exact time count, and since the frame
    is value-based the driver row itself is also in its own frame."""
    from datetime import datetime

    from tailpipe_spark.operators.range_join import following_window_agg

    t0 = datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, 1, t0), (2, 1, t0), (3, 1, datetime(2024, 1, 1, 12, 0, 30))],
        ["eid", "uid", "t"],
    )
    strict = {
        r["eid"]: r["n"]
        for r in following_window_agg(
            df, "t", 60, ["uid"], {"n": F.count(F.lit(1))}, strict_after=True
        ).collect()
    }
    inclusive = {
        r["eid"]: r["n"]
        for r in following_window_agg(
            df, "t", 60, ["uid"], {"n": F.count(F.lit(1))}, strict_after=False
        ).collect()
    }
    assert strict == {1: 1, 2: 1, 3: 0}  # only the +30s row follows
    assert inclusive == {1: 3, 2: 3, 3: 1}  # ties + self included


def test_sessionize_gap(spark):
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(10)), (1, ts(60)), (1, ts(65)), (2, ts(0))],
        ["user", "t"],
    )
    out = sessionize(df, "user", "t", gap_seconds=1200)  # 20 min gap
    got = {(r["user"], r["t"]): r["session_id"] for r in out.collect()}
    assert got[(1, ts(0))] == 0 and got[(1, ts(10))] == 0
    assert got[(1, ts(60))] == 1 and got[(1, ts(65))] == 1  # 50-min gap splits
    assert got[(2, ts(0))] == 0


def test_sessionize_session_count(spark):
    df = spark.createDataFrame(
        [(1, ts(0)), (1, ts(10)), (1, ts(60)), (1, ts(65)), (2, ts(0))],
        ["user", "t"],
    )
    out = sessionize(df, "user", "t", gap_seconds=1200)
    per_user = (
        out.groupBy("user")
        .agg(F.countDistinct("session_id").alias("n"))
        .collect()
    )
    assert {r["user"]: r["n"] for r in per_user} == {1: 2, 2: 1}


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "z y x w v u t s")],
        ["doc_id", "text"],
    )
    pairs = ngram_jaccard_pairs(df, n=3, threshold=0.9).collect()
    assert [(p["id_a"], p["id_b"], p["jaccard"]) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_finds_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely unrelated text with other words entirely")],
        ["doc_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_lsh_pairs(df).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_near_dup_candidates(spark):
    # Contract: Hamming distance <= chunks-1 is always caught; identical
    # docs (distance 0) must collide, unrelated docs must not. (A single
    # changed token on a short doc can flip many bits — that's inherent
    # to unweighted SimHash, not a bug.)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, "totally different words here now then")],
        ["doc_id", "text"],
    )
    cands = {(r["id_a"], r["id_b"]) for r in simhash_candidates(df).collect()}
    assert (1, 2) in cands
    assert all(3 not in pair for pair in cands)


def test_brute_force_topk_matches_numpy(spark):
    import numpy as np

    rnd = np.random.RandomState(0)
    vecs = rnd.randn(30, 8).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probe = df.filter(F.col("vec_id") == 0)
    got = [
        r["vec_id"]
        for r in brute_force_topk(df, probe, k=5)
        .orderBy(F.col("cosine").desc(), "vec_id")
        .collect()
    ]
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    ranked = sorted(
        ((i, float(s)) for i, s in enumerate(sims) if i != 0),
        key=lambda p: (-round(p[1], 9), p[0]),
    )
    want = [i for i, _s in ranked[:5]]
    assert got == want


def test_lsh_topk_subset_of_exact_space(spark):
    import numpy as np

    rnd = np.random.RandomState(1)
    vecs = rnd.randn(50, 16).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    probe = df.filter(F.col("vec_id") == 0)
    out = lsh_topk(df, probe, k=5, num_planes=8, bands=4).collect()
    assert 0 < len(out) <= 5
    for r in out:
        assert r["vec_id"] != 0
        assert -1.0001 <= r["cosine"] <= 1.0001


def test_ivf_topk_exhaustive_equals_brute_force(spark):
    import numpy as np

    from tailpipe_spark.operators.similarity import ivf_topk

    rnd = np.random.RandomState(3)
    vecs = rnd.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)], ["vec_id", "embedding"]
    )
    probe = df.filter(F.col("vec_id") == 0)
    # nprobe == nlist scans every cluster -> must equal brute force
    exact = [r["vec_id"] for r in brute_force_topk(df, probe, k=5)
             .orderBy(F.col("cosine").desc(), "vec_id").collect()]
    ivf = [r["vec_id"] for r in ivf_topk(df, probe, k=5, nlist=4, nprobe=4)
           .orderBy(F.col("cosine").desc(), "vec_id").collect()]
    assert ivf == exact
    # restricted probe returns a subset of the corpus, never the probe itself
    part = ivf_topk(df, probe, k=5, nlist=4, nprobe=1).collect()
    assert 0 < len(part) <= 5 and all(r["vec_id"] != 0 for r in part)


def test_cosine_pairs_threshold_exact_vs_lsh(spark):
    import numpy as np

    from tailpipe_spark.operators.similarity import cosine_pairs_threshold

    rnd = np.random.RandomState(5)
    base = rnd.randn(8).astype("float32")
    rows = [(0, [float(x) for x in base]), (1, [float(x) for x in base * 1.5])]
    rows += [(i, [float(x) for x in rnd.randn(8)]) for i in range(2, 30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs_threshold(df, 0.99).collect()}
    assert (0, 1) in exact  # scaled copy has cosine 1.0
    lsh = {(r["id_a"], r["id_b"]) for r in
           cosine_pairs_threshold(df, 0.99, use_lsh=True).collect()}
    assert lsh <= exact  # LSH candidates re-ranked exactly: subset, no false positives
    assert (0, 1) in lsh  # identical-direction vectors share every band


def test_ngram_jaccard_hot_gram_cap(spark):
    """An adversarial corpus where every doc shares one phrase: the cap
    drops the shared grams before the self-join (no quadratic bucket),
    and similarity is Jaccard over the remaining informative grams."""
    shared = "lorem ipsum dolor sit amet"
    docs = [(i, f"{shared} unique{i} token{i} word{i}") for i in range(30)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = ngram_jaccard_pairs(df, n=3, threshold=0.1, max_gram_df=5).collect()
    # shared-phrase grams have df=30 > 5; surviving grams are unique per
    # doc (they all contain a uniqueN token), so no pair reaches 0.1
    assert out == []
    # uncapped, every pair matches via the shared phrase
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.1, max_gram_df=None)
    assert uncapped.count() == 30 * 29 // 2


def test_ngram_cap_gate_skips_when_provably_noop(spark):
    """doc_count <= max_gram_df bounds every gram's df under the cap, so
    the frequency pass must be skipped — same results, cheaper plan.
    Above the bound the cap runs: as a post-collect bucket-size filter
    on a provably small corpus, or a pre-collect anti-join when the
    corpus is large or of unknown size (a hot gram must never
    materialize as one giant agg buffer)."""
    docs = [(i, f"alpha beta gamma delta{i} epsilon{i} zeta{i}") for i in range(4)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    gated = ngram_jaccard_pairs(df, n=3, threshold=0.1, max_gram_df=100)
    g_plan = gated._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in g_plan and " <= 100)" not in g_plan
    # small corpus (count job finds 4 docs ≤ 1M): post-collect filter
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.1, max_gram_df=3)
    c_plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in c_plan and " <= 3)" in c_plan
    # caller claims a huge corpus: hot grams drop before the collect
    big = ngram_jaccard_pairs(
        df, n=3, threshold=0.1, max_gram_df=3, corpus_size=2_000_000
    )
    assert "LeftAnti" in big._jdf.queryExecution().executedPlan().toString()
    # the gate skip is exact: same pairs as explicitly uncapped
    key = lambda rows: {(r["id_a"], r["id_b"]) for r in rows}
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.1, max_gram_df=None)
    assert key(gated.collect()) == key(uncapped.collect())
    # and both cap paths agree with each other
    assert key(capped.collect()) == key(big.collect())


def test_verify_pairs_exact_jaccard_on_candidate_list(spark):
    """verify_pairs computes exact n-gram Jaccard ONLY for listed
    candidate pairs, agreeing with ngram_jaccard_pairs where both apply,
    and silently dropping candidates that share no gram."""
    from tailpipe_spark.operators.dedup import ngram_jaccard_pairs, verify_pairs

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),  # near-dup of 1
        (3, "completely different text with no shared phrases here"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], ["id_a", "id_b"]
    )
    out = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           verify_pairs(df, cand, n=3, threshold=0.0).collect()}
    # (1,3) shares no gram → absent; (1,4) exact → jaccard 1.0
    assert set(out) == {(1, 2), (1, 4)}
    assert out[(1, 4)] == 1.0
    # (1,2): 7 grams each, 6 shared → 6/8
    assert abs(out[(1, 2)] - 6 / 8) < 1e-12
    # agrees with the all-pairs operator on the same corpus
    ref = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
           ngram_jaccard_pairs(df, n=3, threshold=0.0, max_gram_df=None).collect()}
    for k, v in out.items():
        assert abs(ref[k] - v) < 1e-12
    # thresholding filters
    assert {(r["id_a"], r["id_b"]) for r in
            verify_pairs(df, cand, n=3, threshold=0.9).collect()} == {(1, 4)}


def test_verify_pairs_agrees_with_all_pairs_property(spark):
    """Random corpora: verify_pairs over the complete pair list must
    equal ngram_jaccard_pairs (same jaccard per pair, same survivors)."""
    from hypothesis import given, settings, strategies as st

    from tailpipe_spark.operators.dedup import ngram_jaccard_pairs, verify_pairs

    words = st.integers(min_value=0, max_value=6).map(lambda i: f"w{i}")

    @settings(max_examples=4, deadline=None)
    @given(
        texts=st.lists(
            st.lists(words, min_size=3, max_size=8).map(" ".join),
            min_size=2,
            max_size=6,
        )
    )
    def check(texts):
        df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
        n = len(texts)
        all_pairs = spark.createDataFrame(
            [(a, b) for a in range(n) for b in range(a + 1, n)], ["id_a", "id_b"]
        )
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               verify_pairs(df, all_pairs, n=2, threshold=0.0).collect()}
        ref = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
               ngram_jaccard_pairs(df, n=2, threshold=0.0, max_gram_df=None).collect()}
        assert got == ref

    check()


def test_tfidf_top_terms_known_values(spark):
    from tailpipe_spark.operators.text import tfidf_top_terms

    docs = [
        (1, "apple apple banana"),
        (2, "banana cherry"),
        (3, "cherry cherry cherry durian"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    out = tfidf_top_terms(df, top_k=2).collect()
    by = {(r["doc_id"], r["rank"]): r for r in out}
    # doc 1: apple tf=2 df=1 idf=(3-1+.5)/1.5=5/3 → 10/3; banana tf=1 df=2
    # idf=(3-2+.5)/2.5=0.6 → 0.6
    assert by[(1, 1)]["term"] == "apple"
    assert abs(by[(1, 1)]["tfidf"] - 2 * (2.5 / 1.5)) < 1e-9
    assert by[(1, 2)]["term"] == "banana"
    assert abs(by[(1, 2)]["tfidf"] - 0.6) < 1e-9
    # doc 3: cherry tf=3 df=2 → 3*0.6=1.8; durian tf=1 df=1 → 5/3
    assert by[(3, 1)]["term"] == "cherry"
    assert by[(3, 2)]["term"] == "durian"
    # corpus_size hint must not change results
    hinted = tfidf_top_terms(df, top_k=2, corpus_size=3).collect()
    assert sorted(map(tuple, hinted)) == sorted(map(tuple, out))


def test_registry_ann_recall_vs_exact_ground_truth(spark):
    """The two forever-rows-only ANN registry entries (sim_lsh_topk,
    sim_ivf_topk) are pinned against sim_cosine_topk ground truth at
    sf0.01: LSH recall must clear the analytic expectation minus two
    binomial standard deviations (p_catch = 1-(1-p^W)^bands with
    p = 1-θ/π per true neighbor), IVF must clear an empirical floor
    (deterministic seeds → deterministic recall; measured 0.9)."""
    import math

    from tailpipe_spark.queries import build_registry

    reg = build_registry()
    sf = "/root/testdata/sf0.01"
    truth = {r["vec_id"]: r["cosine"]
             for r in reg["sim_cosine_topk"].fn(spark, sf).collect()}
    k = len(truth)
    assert k == 10

    lsh = {r["vec_id"] for r in reg["sim_lsh_topk"].fn(spark, sf).collect()}
    # analytic per-neighbor catch probability for 16 planes / 4 bands
    ps = []
    for c in truth.values():
        p = 1 - math.acos(max(-1.0, min(1.0, c))) / math.pi
        ps.append(1 - (1 - p ** 4) ** 4)
    mean = sum(ps) / k
    sd = math.sqrt(sum(p * (1 - p) for p in ps)) / k
    lsh_recall = len(lsh & set(truth)) / k
    assert lsh_recall >= mean - 2 * sd, (lsh_recall, mean, sd)

    ivf = {r["vec_id"] for r in reg["sim_ivf_topk"].fn(spark, sf).collect()}
    ivf_recall = len(ivf & set(truth)) / k
    assert ivf_recall >= 0.7, ivf_recall


def test_cosine_pairs_auto_flips_to_lsh(spark, monkeypatch):
    import numpy as np

    from tailpipe_spark.operators import similarity as sim

    rnd = np.random.RandomState(5)
    vecs = rnd.randn(40, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    monkeypatch.setattr(sim, "AUTO_LSH_THRESHOLD", 10)
    auto = sim.cosine_pairs_threshold(df, threshold=0.5)  # 40 > 10 -> LSH
    exact = sim.cosine_pairs_threshold(df, threshold=0.5, use_lsh=False)
    got_auto = {(r["id_a"], r["id_b"]) for r in auto.collect()}
    got_exact = {(r["id_a"], r["id_b"]) for r in exact.collect()}
    assert got_auto <= got_exact  # LSH candidates are a subset of all pairs


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property test: asof_join == pandas.merge_asof (backward, exact
    matches allowed) on random inputs (the reference semantics)."""
    import pandas as pd
    from hypothesis import given, settings, strategies as st

    times = st.integers(min_value=0, max_value=500)
    keys = st.integers(min_value=1, max_value=3)

    @settings(max_examples=6, deadline=None)
    @given(
        left=st.lists(st.tuples(keys, times), min_size=1, max_size=12),
        right=st.lists(st.tuples(keys, times), min_size=1, max_size=12),
    )
    def check(left, right):
        ldf = spark.createDataFrame(
            [(k, ts(t), i) for i, (k, t) in enumerate(left)], ["k", "t", "lid"]
        )
        rdf = spark.createDataFrame(
            [(k, ts(t), float(i)) for i, (k, t) in enumerate(right)],
            ["k", "qt", "rv"],
        )
        got = {
            r["lid"]: r["rv"]
            for r in asof_join(
                ldf, rdf, on="k", left_time="t", right_time="qt",
                value_cols=["rv"],
            ).collect()
        }
        lp = pd.DataFrame(
            [(k, ts(t), i) for i, (k, t) in enumerate(left)],
            columns=["k", "t", "lid"],
        ).sort_values("t", kind="stable")
        rp = pd.DataFrame(
            [(k, ts(t), float(i)) for i, (k, t) in enumerate(right)],
            columns=["k", "qt", "rv"],
        ).sort_values("qt", kind="stable")
        want_df = pd.merge_asof(
            lp, rp, left_on="t", right_on="qt", by="k",
        )
        want = {
            int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
            for r in want_df.itertuples()
        }
        # tie-break freedom: when several right rows share the matched
        # timestamp, engines may pick different rv — compare the matched
        # TIMESTAMP by mapping rv back to qt
        rv_to_qt = {float(i): ts(t) for i, (k, t) in enumerate(right)}
        got_t = {lid: rv_to_qt.get(v) for lid, v in got.items()}
        want_t = {lid: rv_to_qt.get(v) for lid, v in want.items()}
        assert got_t == want_t

    check()


def test_sessionize_matches_naive_property(spark):
    """Property test: sessionize == a naive per-key gap scan on random
    inputs (sorted-by-time semantics, gap strictly-greater splits)."""
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=6, deadline=None)
    @given(
        events=st.lists(
            st.tuples(st.integers(1, 3), st.integers(0, 400)),
            min_size=1, max_size=25,
        ),
        gap_minutes=st.integers(1, 60),
    )
    def check(events, gap_minutes):
        df = spark.createDataFrame(
            [(k, ts(t), i) for i, (k, t) in enumerate(events)],
            ["user", "t", "eid"],
        )
        got = {
            r["eid"]: r["session_id"]
            for r in sessionize(df, "user", "t", gap_seconds=gap_minutes * 60).collect()
        }
        # naive reference: per key, sort by (time, eid), split when the
        # gap exceeds the threshold
        want = {}
        bykey = {}
        for i, (k, t) in enumerate(events):
            bykey.setdefault(k, []).append((t, i))
        for k, rows in bykey.items():
            rows.sort()
            sid, last = 0, None
            for t, i in rows:
                if last is not None and (t - last) * 60 > gap_minutes * 60:
                    sid += 1
                want[i] = sid
                last = t
        assert got == want

    check()


def test_asof_null_keys_never_match(spark):
    left = spark.createDataFrame([(None, ts(10), "L")], "k int, t timestamp, tag string")
    right = spark.createDataFrame([(None, ts(5), 42.0)], "k int, qt timestamp, v double")
    out = asof_join(left, right, on="k", left_time="t", right_time="qt",
                    value_cols=["v"]).collect()
    assert len(out) == 1 and out[0]["v"] is None  # left survives unmatched


def test_range_join_rejects_nonpositive_span(spark):
    import pytest

    from tailpipe_spark.operators.range_join import following_window_agg

    df = spark.createDataFrame([(1, ts(0))], ["i", "t"])
    with pytest.raises(ValueError):
        following_window_agg(df, "t", 0, ["i"], {"n": F.count(F.lit(1))})


def test_pii_scan_detects_and_redacts(spark):
    from tailpipe_spark.operators.text import pii_scan

    docs = spark.createDataFrame(
        [
            (1, "mail Bob.Smith+x@Example.COM and peer 192.168.0.1 ok"),
            (2, "ssn 123-45-6789 twice 999-11-2222"),
            (3, "nothing personal here"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert (got[1]["n_email"], got[1]["n_ipv4"], got[1]["n_ssn"]) == (1, 1, 0)
    assert got[1]["has_pii"] and got[1]["n_pii"] == 2
    assert (got[2]["n_ssn"], got[2]["n_pii"]) == (2, 2)
    assert not got[3]["has_pii"] and got[3]["n_pii"] == 0
    # identical docs after redaction collide on the redacted hash
    pair = spark.createDataFrame(
        [(1, "call a@b.io now"), (2, "call c.d@e.org now")], ["doc_id", "text"]
    )
    hashes = {r["redacted_md5"] for r in pii_scan(pair).collect()}
    assert len(hashes) == 1


def test_repetition_features_known_counts(spark):
    from tailpipe_spark.operators.text import repetition_features

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x y z w"), (3, "solo")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    # doc 1 bigrams: "a b","b a","a b","b a" -> 4 total, 2 distinct, top 2
    assert (got[1]["n_grams"], got[1]["distinct_grams"], got[1]["top_gram_freq"]) == (4, 2, 2)
    assert got[1]["dup_gram_ratio"] == 0.5 and got[1]["top_gram_ratio"] == 0.5
    assert (got[2]["n_grams"], got[2]["distinct_grams"]) == (3, 3)
    assert got[2]["dup_gram_ratio"] == 0.0
    assert 3 not in got  # shorter than n tokens: no row


def test_url_domains_counts(spark):
    from tailpipe_spark.operators.text import url_domains

    docs = spark.createDataFrame(
        [
            (1, "see https://A.example.com/x and http://b.org/y"),
            (2, "again https://a.example.com/z"),
            (3, "no links"),
        ],
        ["doc_id", "text"],
    )
    got = [(r["domain"], r["freq"]) for r in url_domains(docs).collect()]
    assert got == [("a.example.com", 2), ("b.org", 1)]


def test_decontaminate_flags_overlap(spark):
    from tailpipe_spark.operators.dedup import decontaminate

    bench = spark.createDataFrame([(100, "the quick brown fox jumps")], ["doc_id", "text"])
    cands = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps high"),  # heavy overlap
            (2, "totally unrelated words entirely different"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in decontaminate(cands, bench, n=3, threshold=0.5).collect()}
    # doc 1: grams {the quick brown, quick brown fox, brown fox jumps, fox jumps high}
    assert (got[1]["n_grams"], got[1]["n_overlap"]) == (4, 3)
    assert got[1]["contaminated"]
    assert got[2]["n_overlap"] == 0 and not got[2]["contaminated"]


def test_connected_components_chain_and_island(spark):
    from tailpipe_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter > 1 forces multiple propagation rounds),
    # island 10-11, self-contained pair order reversed (7, 5)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (7, 5)], ["id_a", "id_b"]
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 5: 5, 7: 5}


def test_connected_components_star_chain_island_and_agreement(spark):
    from tailpipe_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (7, 5)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings():  # an exhausted budget warns
        warnings.filterwarnings("error", "connected_components_star exhausted")
        got = {r["node"]: r["comp"] for r in connected_components_star(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 5: 5, 7: 5}

    # agreement with propagation on a denser random-ish graph
    import random

    rng = random.Random(13)
    raw = [
        (rng.randint(0, 40), rng.randint(0, 40)) for _ in range(60)
    ]
    raw = [(a, b) for a, b in raw if a != b]
    df = spark.createDataFrame(raw, ["id_a", "id_b"])
    prop = {r["node"]: r["comp"] for r in connected_components(df).collect()}
    star = {
        r["node"]: r["comp"] for r in connected_components_star(df).collect()
    }
    assert star == prop


def test_connected_components_star_logarithmic_rounds(spark):
    """The algorithm's reason to exist: a 64-node path has diameter 63
    (63 propagation rounds) but the star contraction converges in
    O(log) round-pairs — assert a wide margin, not an exact count: it
    converges within 16 rounds, so that budget raises no warning."""
    from tailpipe_spark.operators.dedup import connected_components_star

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings():
        warnings.filterwarnings("error", "connected_components_star exhausted")
        got = {
            r["node"]: r["comp"]
            for r in connected_components_star(edges, max_iterations=16).collect()
        }
    assert got == {i: 0 for i in range(64)}


def test_connected_components_star_self_loops_and_empty(spark):
    from tailpipe_spark.operators.dedup import connected_components_star

    # self-loop-only node is a singleton component labeled with itself
    edges = spark.createDataFrame([(5, 5), (1, 2)], ["id_a", "id_b"])
    got = {
        r["node"]: r["comp"]
        for r in connected_components_star(edges).collect()
    }
    assert got == {5: 5, 1: 1, 2: 1}
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(empty).count() == 0


def test_ngram_containment_subset_direction(spark):
    """A doc whose grams are a strict subset of another must reach
    containment 1.0 in the contained→container direction only."""
    from tailpipe_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    inner = "alpha beta gamma delta epsilon"
    outer = inner + " zeta eta theta iota kappa lam mu nu xi omicron pi"
    docs = spark.createDataFrame(
        [(1, inner), (2, outer), (3, "totally different words here now")],
        ["doc_id", "text"],
    )
    rows = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, n=3, threshold=0.5).collect()
    }
    # inner has 3 grams, all present in outer (outer has 14 grams)
    assert rows == {(1, 2): 1.0}
    # …while symmetric Jaccard on the same pair is 3/14 — below any
    # sane near-dup threshold: the metric this operator exists for
    jac = ngram_jaccard_pairs(docs, n=3, threshold=0.05).collect()
    assert all(r["jaccard"] < 0.25 for r in jac)


def test_ngram_containment_matches_brute_force(spark):
    """Both directions vs a driver-side exact computation."""
    from tailpipe_spark.operators.dedup import ngram_containment_pairs

    texts = {
        1: "a b c d e f g",
        2: "a b c d e",
        3: "c d e f g h i j",
        4: "x y z w v",
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])

    def grams(t):
        w = t.split()
        return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}

    want = {}
    for a in texts:
        for b in texts:
            if a == b:
                continue
            ga, gb = grams(texts[a]), grams(texts[b])
            c = len(ga & gb) / len(ga)
            if c >= 0.4:
                want[(a, b)] = c
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in ngram_containment_pairs(docs, n=3, threshold=0.4).collect()
    }
    assert got == want


def test_bpe_token_counts_splits_runs(spark):
    from tailpipe_spark.operators.text import bpe_token_counts

    docs = spark.createDataFrame(
        [(1, "hello, world 42 a@b.io"), (2, "abc abc")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in bpe_token_counts(docs).collect()}
    # hello , world 42 a @ b . io -> 9 tokens
    assert got[1]["n_bpe_tokens"] == 9
    assert got[1]["n_distinct_bpe_tokens"] == 9
    assert (got[2]["n_bpe_tokens"], got[2]["n_distinct_bpe_tokens"]) == (2, 1)


def test_assign_clusters_score_col(spark):
    from tailpipe_spark.operators.similarity import assign_clusters

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.9, 0.1])],
        ["vec_id", "embedding"],
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], ["cluster_id", "centroid"]
    )
    got = {r["vec_id"]: r for r in
           assign_clusters(vecs, cents, score_col="cosine").collect()}
    assert got[0]["cluster_id"] == 0 and got[0]["cosine"] == 1.0
    assert got[1]["cluster_id"] == 1
    assert got[2]["cluster_id"] == 0 and got[2]["cosine"] > 0.9


def test_connected_components_random_property(spark):
    """Random graphs vs a driver-side union-find reference."""
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = rng.randint(5, 30)
        edges = [
            (rng.randint(0, n), rng.randint(0, n))
            for _ in range(rng.randint(1, 2 * n))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue

        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        def union(a, b):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)

        for a, b in edges:
            union(a, b)
        # canonicalize: min node id per root
        members = {}
        for x in parent:
            members.setdefault(find(x), []).append(x)
        want = {x: min(ms) for r, ms in members.items() for x in ms}

        from tailpipe_spark.operators.dedup import connected_components

        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {r["node"]: r["comp"] for r in connected_components(df).collect()}
        assert got == want, f"trial {trial}: {got} != {want}"


def test_hll_sketch_rollup_lossless_union_and_accuracy(spark):
    """HLL union must be lossless (merged estimate == whole-corpus
    estimate) and the estimate within the standard error bound of the
    exact count."""
    import pyspark.sql.functions as F

    from tailpipe_spark.operators import sketches as sk

    df = spark.range(60000).select(
        (F.col("id") % 30).cast("string").alias("day"),
        # ~20k distinct users spread over all days
        F.abs(F.xxhash64("id")).bitwiseAND(F.lit(0x3FFF)).alias("user_id"),
    )
    daily = sk.sketch_buckets(df, F.col("day"), "user_id")
    merged = sk.rollup_estimate(daily).collect()[0]["approx_distinct"]
    direct = (
        df.agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).cast("long").alias("e")
        ).collect()[0]["e"]
    )
    assert merged == direct  # lossless union
    exact = df.select("user_id").distinct().count()
    assert abs(merged - exact) / exact < 0.05  # lgk=12 → ~1.6% RSE


def test_ewma_matches_hand_rolled_recurrence(spark):
    """applyInPandas EWMA must equal the textbook recurrence
    EWMA_t = a*x_t + (1-a)*EWMA_{t-1} computed independently."""
    import pyspark.sql.functions as F

    from tailpipe_spark.operators.trend import ewma

    rows = [
        ("g1", i, float(v))
        for i, v in enumerate([10, 20, 10, 40, 0, 30])
    ] + [("g2", i, float(i * i)) for i in range(5)]
    df = spark.createDataFrame(rows, "grp string, t long, value double").withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01")) + F.make_interval(secs=F.col("t"))
    )
    out = ewma(df, ["grp"], "ts", "value", alpha=0.5).collect()
    got = {}
    for r in sorted(out, key=lambda r: (r["grp"], r["t"])):
        got.setdefault(r["grp"], []).append(r["ewma"])
    for grp, vals in {
        "g1": [10, 20, 10, 40, 0, 30],
        "g2": [0, 1, 4, 9, 16],
    }.items():
        acc = None
        for i, v in enumerate(vals):
            acc = v if acc is None else 0.5 * v + 0.5 * acc
            assert abs(got[grp][i] - acc) < 1e-9, (grp, i)


def test_linear_trend_exact_on_known_line(spark):
    """y = 3x + 7 with zero noise must recover slope/intercept exactly
    (the integer-sum path has no rounding anywhere)."""
    import pyspark.sql.functions as F

    from tailpipe_spark.operators.trend import linear_trend

    df = spark.range(100).select(
        F.lit("g").alias("grp"),
        F.col("id").alias("x"),
        (F.col("id") * 3 + 7).cast("double").alias("y"),
    )
    row = linear_trend(df, ["grp"], "x", "y").collect()[0]
    assert row["slope"] == 3.0
    assert row["intercept"] == 7.0
    assert row["n"] == 100


def test_hash_embedding_properties(spark):
    """Deterministic, dense dim-64, and usable by the embedding
    operators (the documents→embeddings bridge)."""
    import pyspark.sql.functions as F

    from tailpipe_spark.operators.text import hash_embedding
    from tailpipe_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    emb = hash_embedding(docs, dim=64)
    a = {r["doc_id"]: r["embedding"] for r in emb.collect()}
    b = {r["doc_id"]: r["embedding"] for r in hash_embedding(docs, dim=64).collect()}
    assert a == b  # deterministic
    assert all(len(v) == 64 for v in a.values())
    # identical docs hash to identical vectors; the duplicated corpus
    # rows must collide exactly
    texts = {r["doc_id"]: r["text"] for r in docs.select("doc_id", "text").collect()}
    by_text = {}
    for did, t in texts.items():
        by_text.setdefault(t, []).append(did)
    dup_group = next((ids for ids in by_text.values() if len(ids) > 1), None)
    if dup_group:
        first = a[dup_group[0]]
        assert all(a[d] == first for d in dup_group[1:])
    # bridges into the similarity operators: exact cosine top-k runs
    from tailpipe_spark.operators.similarity import brute_force_topk

    vecs = hash_embedding(docs, dim=64).select(
        F.col("doc_id").alias("vec_id"),
        F.expr("transform(embedding, x -> cast(x as float))").alias("embedding"),
    )
    probe = vecs.limit(2)
    out = brute_force_topk(vecs, probe, k=3)
    assert out.count() == 6


def test_arrow_pair_kernel_bit_identical_to_sql_fold(spark):
    """The vectorized exact-cosine kernel must reproduce the SQL
    fixed-point fold bit-for-bit on every pair (no tolerance)."""
    import pyspark.sql.functions as F

    from tailpipe_spark.operators import similarity as sim
    from tailpipe_spark.session import read_table

    emb = read_table(spark, "/root/testdata/sf0.001/embeddings.parquet")
    norms = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.sqrt(sim._exact_sq_norm(F.col("embedding"))).alias("norm"),
    )
    a = norms.select(
        F.col("id").alias("id_a"), F.col("v").alias("__va"), F.col("norm").alias("__na")
    )
    b = norms.select(
        F.col("id").alias("id_b"), F.col("v").alias("__vb"), F.col("norm").alias("__nb")
    )
    cand = a.join(b, F.col("id_a") < F.col("id_b"))
    sql_scored = cand.select(
        "id_a", "id_b",
        sim.quantize12(
            sim._exact_dot(F.col("__va"), F.col("__vb"))
            / (F.col("__na") * F.col("__nb"))
        ).alias("cosine"),
    )
    arrow_scored = sim._score_pairs_arrow(
        cand.select("id_a", "id_b", "__va", "__vb", "__na", "__nb"), -2.0
    )
    assert sql_scored.exceptAll(arrow_scored).count() == 0
    assert arrow_scored.exceptAll(sql_scored).count() == 0


def test_simhash_portable_matches_duckdb_replay(spark):
    """The portable (md5-prefix) SimHash is bit-identical when replayed
    in DuckDB — the property the dedup_simhash_md5 oracle relies on —
    and near-identical texts land within small Hamming distance."""
    import duckdb

    from tailpipe_spark.operators.dedup import simhash

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely different content about spark engines"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in simhash(df, portable=True).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(60)
    )
    fold = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60))
    want = dict(con.execute(f"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS tok
          FROM documents),
        hashed AS (SELECT doc_id, ('0x' || substring(md5(tok),1,15))::BIGINT AS h FROM toks),
        votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id)
        SELECT doc_id, CAST({fold} AS BIGINT) FROM votes
    """).fetchall())
    assert got == want
    # near-dup texts: small Hamming distance; unrelated: large
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(got[1], got[2]) <= 12
    assert ham(got[1], got[3]) > 12


def test_dsum_dec_is_decimal_and_engine_exact(spark):
    """dsum_dec keeps DECIMAL end-to-end: the value equals the exact
    decimal sum with scale 6 — no double conversion anywhere (the
    conversion itself diverges across engines past 16 significant
    digits)."""
    import decimal

    import pyspark.sql.functions as F

    from tailpipe_spark.functions.exact import dsum_dec

    # values whose exact sum needs 17 significant digits
    df = spark.range(4).select(
        (F.lit(9876543210.123456) + F.col("id")).alias("v")
    )
    row = df.agg(dsum_dec("v", "s")).collect()[0]
    assert isinstance(row["s"], decimal.Decimal)
    expect = sum(
        decimal.Decimal(9876543210.123456 + i).quantize(decimal.Decimal("0.000001"))
        for i in range(4)
    )
    assert row["s"] == expect


def test_merge_intervals_overlap_touch_and_gap(spark):
    from tailpipe_spark.operators.sessionize import merge_intervals

    rows = [
        # key a: [0,10] + [5,20] overlap; [20,30] touches (merges);
        # [40,50] gapped -> two islands
        ("a", 0, 10), ("a", 5, 20), ("a", 20, 30), ("a", 40, 50),
        # key b: nested interval [0,100] contains [10,20]
        ("b", 0, 100), ("b", 10, 20),
    ]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = sorted(
        map(tuple, merge_intervals(df, "k", "s", "e").collect())
    )
    assert got == [
        ("a", 0, 30, 3),
        ("a", 40, 50, 1),
        ("b", 0, 100, 2),
    ]


def test_merge_intervals_nested_then_extend(spark):
    """The cumulative-max (not lag) is the load-bearing part: after a
    long interval swallows short ones, a later interval overlapping
    only the LONG one must still merge."""
    from tailpipe_spark.operators.sessionize import merge_intervals

    rows = [("k", 0, 100), ("k", 10, 20), ("k", 90, 150), ("k", 200, 210)]
    df = spark.createDataFrame(rows, ["k", "s", "e"])
    got = sorted(map(tuple, merge_intervals(df, "k", "s", "e").collect()))
    assert got == [("k", 0, 150, 3), ("k", 200, 210, 1)]


def test_merge_intervals_random_vs_brute_force(spark):
    import random

    from tailpipe_spark.operators.sessionize import merge_intervals

    rng = random.Random(99)
    for trial in range(3):
        rows = []
        for k in ("a", "b"):
            for _ in range(rng.randint(1, 25)):
                s = rng.randint(0, 200)
                rows.append((k, s, s + rng.randint(0, 40)))
        # brute force: per key, sweep sorted intervals
        want = []
        for k in ("a", "b"):
            ivs = sorted((s, e) for kk, s, e in rows if kk == k)
            if not ivs:
                continue
            cs, ce, cn = ivs[0][0], ivs[0][1], 1
            for s, e in ivs[1:]:
                if s <= ce:
                    ce, cn = max(ce, e), cn + 1
                else:
                    want.append((k, cs, ce, cn))
                    cs, ce, cn = s, e, 1
            want.append((k, cs, ce, cn))
        df = spark.createDataFrame(rows, ["k", "s", "e"])
        got = sorted(map(tuple, merge_intervals(df, "k", "s", "e").collect()))
        assert got == sorted(want), f"trial {trial}"


# --- CCNet-style char n-gram LM scoring (operators/text.py) ---

def _lm(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_lm_score_perfectly_predictable_doc_is_zero_bits(spark):
    from tailpipe_spark.operators.text import char_ngram_model, lm_score

    docs = _lm(spark, [("a", "aaaa")])
    model = char_ngram_model(docs, n=3)
    out = lm_score(docs, model, n=3).collect()[0]
    # grams: aaa, aaa -> p(a|aa) = 1 everywhere -> 0 bits
    assert out.n_grams == 2 and out.oov_grams == 0
    assert out.bits_per_gram == 0.0


def test_lm_score_uniform_context_is_one_bit(spark):
    from tailpipe_spark.operators.text import char_ngram_model, lm_score

    # contexts 'ab' -> {c, d} equally often: p = 1/2, 1 bit per gram
    docs = _lm(spark, [("a", "abcabd"), ("b", "abdabc")])
    model = char_ngram_model(docs, n=3)
    got = {r.doc_id: r for r in lm_score(docs, model, n=3).collect()}
    for r in got.values():
        assert r.n_grams == 4 and r.oov_grams == 0
    # grams per doc: abc/abd (1 bit each under ctx 'ab'), bca|bda etc.
    # unique contexts contribute 0 bits; 2 of 4 grams cost 1 bit
    assert got["a"].bits_per_gram == got["b"].bits_per_gram == 0.5


def test_lm_score_short_doc_null_bits_and_oov_skipped(spark):
    from tailpipe_spark.operators.text import char_ngram_model, lm_score

    ref = _lm(spark, [("r", "abcabc")])
    model = char_ngram_model(ref, n=3)
    docs = _lm(spark, [("s", "ab"), ("x", "abcxyz")])
    got = {r.doc_id: r for r in lm_score(docs, model, n=3).collect()}
    # shorter than n: zero grams, NULL score
    assert got["s"].n_grams == 0 and got["s"].bits_per_gram is None
    # 'abcxyz' grams: abc (in model), bcx/cxy/xyz (OOV) -> scored over
    # the 1 in-model gram only; p(c|ab)=1 -> 0 bits
    assert got["x"].n_grams == 4 and got["x"].oov_grams == 3
    assert got["x"].bits_per_gram == 0.0


def test_lm_model_is_charset_bounded_and_broadcast_planned(spark):
    from tailpipe_spark.operators.text import char_ngram_model, lm_score

    docs = _lm(spark, [(str(i), "the quick brown fox " * 3) for i in range(50)])
    model = char_ngram_model(docs, n=3)
    # distinct grams bounded by charset^3, not by corpus size
    assert model.count() < 200
    # model + ctx both broadcast, never shuffled
    plan = lm_score(docs, model, n=3)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2


def test_quantize_embeddings_int8_bounds_and_reconstruction(spark):
    from tailpipe_spark.operators.similarity import quantize_embeddings_int8

    rows = [
        (1, [0.5, -1.0, 0.25, 0.0]),
        (2, [0.0, 0.0, 0.0, 0.0]),      # zero vector
        (3, [1e-8, -1e-8, 1e-8, 0.0]),  # tiny magnitudes
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in quantize_embeddings_int8(df).collect()}
    # codes bounded, extremes hit +/-127 exactly
    assert out[1].q == [64, -127, 32, 0]
    # zero vector -> zero codes, zero scale (no div-by-zero NaNs)
    assert out[2].q == [0, 0, 0, 0] and out[2].scale == 0.0
    # reconstruction error bounded by scale/2 per component
    for vid, emb in [(1, rows[0][1]), (3, rows[2][1])]:
        r = out[vid]
        for v, q in zip(emb, r.q):
            assert abs(v - q * r.scale) <= r.scale / 2 + 1e-12


def test_int8_topk_recall_vs_brute_force(spark):
    """The int8 shortlist must recover the exact top-k on clusterable
    data (shortlist=5x headroom): recall@k == 1.0 vs brute force, and
    the reranked cosines are the exact fixed-point values."""
    import random

    from tailpipe_spark.operators.similarity import brute_force_topk, int8_topk

    rnd = random.Random(3)
    rows = [
        (i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    probe = df.filter(F.col("vec_id") == 0)
    exact = [
        (r.vec_id, r.cosine) for r in brute_force_topk(df, probe, k=8).collect()
    ]
    viaq = [
        (r.vec_id, r.cosine) for r in int8_topk(df, probe, k=8, shortlist=40).collect()
    ]
    assert sorted(viaq) == sorted(exact)
