import math
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from tailpipe_spark.functions.security import (
    burst_count,
    ip_in_cidr,
    ipv4_to_long,
    is_private_ip,
    shannon_entropy,
)


def test_ipv4_parsing(spark):
    df = spark.createDataFrame(
        [("10.0.0.1",), ("255.255.255.255",), ("not.an.ip.x",), ("1.2.3.999",)],
        ["ip"],
    )
    out = {r["ip"]: r["n"] for r in df.select("ip", ipv4_to_long(F.col("ip")).alias("n")).collect()}
    assert out["10.0.0.1"] == 10 * 16777216 + 1
    assert out["255.255.255.255"] == (1 << 32) - 1
    assert out["not.an.ip.x"] is None
    assert out["1.2.3.999"] is None


def test_cidr_and_private(spark):
    df = spark.createDataFrame(
        [("10.1.2.3",), ("172.16.0.1",), ("172.32.0.1",), ("192.168.9.9",),
         ("8.8.8.8",), ("127.0.0.1",)],
        ["ip"],
    )
    out = {
        r["ip"]: (r["priv"], r["ten"])
        for r in df.select(
            "ip",
            is_private_ip(F.col("ip")).alias("priv"),
            ip_in_cidr(F.col("ip"), "10.0.0.0/8").alias("ten"),
        ).collect()
    }
    assert out["10.1.2.3"] == (True, True)
    assert out["172.16.0.1"][0] is True
    assert out["172.32.0.1"][0] is False  # outside /12
    assert out["192.168.9.9"][0] is True
    assert out["8.8.8.8"] == (False, False)
    assert out["127.0.0.1"][0] is True


def test_shannon_entropy_values(spark):
    df = spark.createDataFrame([("aaaa",), ("abab",), ("abcd",)], ["s"])
    out = {r["s"]: r["e"] for r in df.select("s", shannon_entropy(F.col("s")).alias("e")).collect()}
    assert abs(out["aaaa"] - 0.0) < 1e-9
    assert abs(out["abab"] - 1.0) < 1e-9
    assert abs(out["abcd"] - 2.0) < 1e-9


def test_burst_count_window(spark):
    t0 = datetime(2024, 1, 1)
    rows = [(1, t0 + timedelta(seconds=s), "error") for s in (0, 10, 20, 4000)]
    rows += [(2, t0, "error")]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = burst_count(df, "user_id", "ts", 60, F.col("event_type") == "error")
    got = {(r["user_id"], r["ts"].second + r["ts"].minute * 60 + r["ts"].hour * 3600): r["burst_count"]
           for r in out.collect()}
    assert got[(1, 0)] == 1 and got[(1, 10)] == 2 and got[(1, 20)] == 3
    assert got[(1, 4000)] == 1  # outside the 60s window
    assert got[(2, 0)] == 1
