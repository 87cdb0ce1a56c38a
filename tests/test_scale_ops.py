"""Skew operators: correctness guarantees."""

from tailpipe_spark.operators.skew import two_phase_agg


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
