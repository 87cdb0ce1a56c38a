"""Skew operators: correctness guarantees."""

from tailpipe_spark.operators.skew import salted_join, two_phase_agg


def test_salted_join_matches_plain_join(spark):
    big = spark.createDataFrame(
        [(1, i) for i in range(500)] + [(2, i) for i in range(5)], ["k", "v"]
    )
    small = spark.createDataFrame([(1, "one"), (2, "two"), (3, "three")], ["k", "name"])
    plain = {(r["k"], r["v"], r["name"]) for r in big.join(small, "k").collect()}
    salted = {(r["k"], r["v"], r["name"]) for r in salted_join(big, small, "k", salt=8).collect()}
    assert salted == plain
    assert len(salted) == 505


def test_two_phase_agg_matches_plain(spark):
    df = spark.createDataFrame(
        [(1, float(i)) for i in range(1000)] + [(2, 5.0)], ["k", "v"]
    )
    out = {
        r["k"]: (r["n"], r["total"], r["mx"])
        for r in two_phase_agg(
            df, "k", [("v", "count", "n"), ("v", "sum", "total"), ("v", "max", "mx")]
        ).collect()
    }
    assert out[1] == (1000, sum(float(i) for i in range(1000)), 999.0)
    assert out[2] == (1, 5.0, 5.0)


def test_salted_join_rejects_outer(spark):
    import pytest

    big = spark.createDataFrame([(1, "a")], ["k", "v"])
    small = spark.createDataFrame([(1, "x")], ["k", "name"])
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(big, small, "k", how=how)
