"""Threat-detection functions: the engine's extension layer beyond the
reference, Spark SQL over Parquet with custom threat-detection
functions. All pure Column expressions — JVM-side, codegen-friendly —
not Python UDFs, so they run at scan speed over 100 TB of logs.
"""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F


def ipv4_to_long(ip: Column) -> Column:
    """Dotted-quad string → numeric (NULL for malformed)."""
    parts = F.split(ip, r"\.")
    valid = (F.size(parts) == 4) & ip.rlike(
        r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$"
    )
    octets = [F.element_at(parts, i + 1).cast("long") for i in range(4)]
    in_range = valid
    for o in octets:
        in_range = in_range & (o <= 255)
    num = (
        octets[0] * 16777216 + octets[1] * 65536 + octets[2] * 256 + octets[3]
    )
    return F.when(in_range, num)


def ip_in_cidr(ip: Column, cidr: str) -> Column:
    """Membership test against a literal CIDR block (e.g. '10.0.0.0/8')."""
    base, _, bits = cidr.partition("/")
    bits = int(bits or 32)
    base_parts = [int(x) for x in base.split(".")]
    base_num = (
        base_parts[0] * 16777216
        + base_parts[1] * 65536
        + base_parts[2] * 256
        + base_parts[3]
    )
    mask = ((1 << 32) - 1) ^ ((1 << (32 - bits)) - 1)
    return (ipv4_to_long(ip).bitwiseAND(F.lit(mask))) == F.lit(base_num & mask)


def is_private_ip(ip: Column) -> Column:
    """RFC1918 + loopback + link-local."""
    return (
        ip_in_cidr(ip, "10.0.0.0/8")
        | ip_in_cidr(ip, "172.16.0.0/12")
        | ip_in_cidr(ip, "192.168.0.0/16")
        | ip_in_cidr(ip, "127.0.0.0/8")
        | ip_in_cidr(ip, "169.254.0.0/16")
    )


def shannon_entropy(s: Column) -> Column:
    """Character-level Shannon entropy in bits — the classic DGA /
    exfiltration-string detector. Computed with higher-order array
    functions over the distinct characters (JVM-side; no shuffle).
    """
    chars = F.filter(F.split(F.lower(s), ""), lambda c: c != "")
    n = F.size(chars)
    distinct = F.array_distinct(chars)
    # sum over distinct chars of -p*log2(p)
    return F.when(
        n > 0,
        F.aggregate(
            distinct,
            F.lit(0.0),
            lambda acc, ch: acc
            + (
                lambda p: -p * F.log2(p)
            )(
                F.size(F.filter(chars, lambda c: c == ch)).cast("double") / n
            ),
        ),
    )


def burst_count(
    df,
    key: str,
    time_col: str,
    window_seconds: int,
    filter_expr: Column | None = None,
    out_col: str = "burst_count",
):
    """Events per key in the trailing window — brute-force auth /
    beaconing detector. One shuffle on the key; a RANGE window frame
    over epoch seconds keeps it streaming-friendly."""
    d = df.filter(filter_expr) if filter_expr is not None else df
    w = (
        Window.partitionBy(key)
        .orderBy(F.unix_micros(F.col(time_col)) / 1_000_000)
        .rangeBetween(-window_seconds, 0)
    )
    return d.withColumn(out_col, F.count(F.lit(1)).over(w))
