"""Relational surface (SURVEY.md §2.b): the query classes the reference
delegates verbatim to DuckDB, expressed as DataFrame plans.

Scale notes baked into each plan:
- dimension joins (region/nation/supplier) are broadcast explicitly;
- fact-fact joins shuffle on their keys and rely on AQE for skew;
- top-k goes through orderBy().limit() → TakeOrderedAndProject (no full
  sort at scale);
- double aggregates use exact decimal accumulation (functions.exact) so
  results are deterministic across partition orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tailpipe_spark.functions.exact import davg, dsum, dsum_fp, dsum_fp_revenue, oracle_davg, oracle_dsum, dsum_dec, oracle_dsum_dec
from tailpipe_spark.queries import QuerySpec
from tailpipe_spark.session import load_tables


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from tailpipe_spark.session import read_table

    return read_table(spark, f"{sf_dir}/{name}.parquet")


# --- q01: TPC-H Q1-style pricing summary (scan → filter → hash agg) ---

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing q01: exact decimal accumulation surfaced as DOUBLE.

    The surface type is load-bearing: DECIMAL(38,6) output columns are
    driver-hash-unsafe (a pandas-style DuckDB fetch converts decimal128
    to float64 while Spark collects Decimal — the round-7 hash_match
    failure). The DOUBLE surface was driver-green rounds 1–6 and is
    restored here; :func:`q01_pricing_summary_dec` keeps the
    DECIMAL-end-to-end twin for the local sf1 exactness gate.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            dsum(disc_price, "sum_disc_price"),
            dsum(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q01_pricing_summary_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-only exactness twin: sums stay DECIMAL(38,6) end-to-end.

    At 10× bench scale the double surface loses the last ulp of
    sum_charge to cross-engine decimal→double conversion differences
    (Spark's BigDecimal.doubleValue is correctly rounded, DuckDB
    double-rounds via int128/10^scale). This twin keeps the comparison
    exact at ANY scale — but only under the typed local harness; it is
    never exposed to the driver (local_only=True in its spec).
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum_dec("l_quantity", "sum_qty"),
            dsum_dec("l_extendedprice", "sum_base_price"),
            dsum_dec(disc_price, "sum_disc_price"),
            dsum_dec(charge, "sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q01_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q01 on the JVM-native double-sum path — what a user issuing plain
    ``SUM(...)`` through the query CLI actually gets.

    The decimal twin (``q01_pricing_summary``) exists for cross-engine
    oracle parity: its DECIMAL(27,6) accumulation is order-independent
    and replayable bit-for-bit in any SQL engine, at ~10× the JVM sum
    cost. Plain double sums are partition-order-dependent in the last
    ulps, so this twin is checked rows-only — the decimal twin carries
    the value hash. Same split as dedup_minhash_fast / dedup_minhash_lsh.
    """
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(disc_price).alias("sum_disc_price"),
            F.sum(charge).alias("sum_charge"),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum('l_quantity')} AS sum_qty,
       {oracle_dsum('l_extendedprice')} AS sum_base_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {oracle_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {oracle_davg('l_quantity')} AS avg_qty,
       {oracle_davg('l_extendedprice')} AS avg_price,
       {oracle_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

Q01_DEC_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {oracle_dsum_dec('l_quantity')} AS sum_qty,
       {oracle_dsum_dec('l_extendedprice')} AS sum_base_price,
       {oracle_dsum_dec('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {oracle_dsum_dec('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {oracle_davg('l_quantity')} AS avg_qty,
       {oracle_davg('l_extendedprice')} AS avg_price,
       {oracle_davg('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --- q03: shipping priority (3-way join → agg → top-k) ---

def q03_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The customer join is a PURE FILTER here (no customer column
    # survives the projection), so reduce orders with a LEFT SEMI join
    # before the lineitem join. Why semi and not inner: Catalyst's size
    # estimate for a semi-join output is bounded by its left side,
    # while an inner-join output gets the useless row-product estimate
    # — an inner-join reduction therefore DESTROYS the planner's
    # ability to broadcast the reduced orders side into lineitem, and
    # at sf1 that costs 3x (li shuffles for nothing). The semi shape
    # keeps one static plan that adapts with scale: orders side
    # broadcast into lineitem while it fits (zero fact-side shuffles),
    # sort-merge on a 5x-reduced side once it doesn't.
    # A/B (interleaved rebuild+noop-save reps):
    #   sf0.1  current 0.446  inner-reorder 0.668  semi 0.440
    #   sf1    current 0.831  inner-reorder 2.518  semi 0.685
    #   sf10   current 3.447  inner-reorder 2.998  semi 2.340
    # bucketed-layout A/B (sf10): with lineitem+orders bucketed by
    # orderkey the big-scale SMJ branch goes zero-fact-exchange (3→1
    # Exchanges), 2.29 → 2.05 min-of-5 (~10%; scan+agg dominate this
    # query once the shuffle is gone).
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15").cast("timestamp")
    )
    reduced = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left_semi"
    )
    # r12: revenue via dsum_fp_revenue — q03's groups are PER-ORDER
    # (<=17 line items, a bound independent of SF), so the exact
    # integer fixed-point path applies where per-nation rollups (q05)
    # cannot; values bit-identical to the decimal path, same oracle.
    return (
        li.join(reduced, li.l_orderkey == reduced.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum_fp_revenue("l_extendedprice", "l_discount", "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


Q03_SQL = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# --- q05: local-supplier volume (6-way join, broadcast dims) ---

def q05_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r14 (optimization round): the customer join IS a pure filter —
    # n_name rides supplier.s_nationkey -> nation, and no customer
    # column survives the projection — so the q03 semi-join lesson
    # applies after all (earlier rounds' "c_nationkey must survive"
    # note predated the s_nationkey-keyed nation join). customer is now
    # a LEFT SEMI join on BOTH equi conditions (o_custkey = c_custkey
    # AND s_nationkey = c_nationkey); c_custkey is a PK so the inner
    # form had <=1 match per fact row and row multiplicity is
    # unchanged — values hash-identical at sf0.1 and sf10. Measured
    # min-of-5 interleaved: sf10 8.49 -> 6.84 s on a noisy window
    # (-19%; every semi rep under the inner plan's min), sf0.1 a wash
    # (0.849 vs 0.843). The semi probe carries no customer payload
    # through the join, and Catalyst's semi output-size estimate
    # (bounded by the left side) preserves the scale-adaptive
    # broadcast/SMJ switching the round-9 A/B table below established.
    #
    # Historical shape notes (pre-r14, inner-join regime): three
    # reduction shapes were A/B'd at three scales (interleaved
    # rebuild+noop-save reps) and ALL measured worse where it matters:
    #   dim-first inner reorder: sf0.1 0.66, sf1 3.66 (vs current 0.47 /
    #     0.68 — the reduced side is a join output whose row-product
    #     size estimate kills Catalyst's static broadcast of the orders
    #     side into lineitem); sf10 5.37 vs 5.73 — only a 6% win there.
    #   semi-reduce + rejoin customer after the fact join: sf0.1 0.645
    #     (the second customer join adds a stage the small scales never
    #     earn back).
    #   hard-broadcast of the reduced orders side: fastest at sf10
    #     (3.34) but a join output that scales with SF — the hint OOMs
    #     at cluster scale and AQE rightly demotes the runtime
    #     conversion; hints stay on bounded dims only.
    # bucketed-layout A/B (sf10, 32 buckets on orderkey, one sorted
    # file per bucket, min-of-5):
    #   default plan      parquet 5.09  bucketed 4.87  (wash — the
    #     static sf10 plan broadcasts filtered orders, no orderkey
    #     exchange exists to remove)
    #   SMJ shape (merge hint) parquet 8.47  bucketed 5.02 — the
    #     co-located layout deletes BOTH fact exchanges (8→6
    #     Exchanges) and 40% of the runtime, reaching parity with the
    #     broadcast plan. At cluster scale the orders broadcast is
    #     infeasible (the side scales with SF; the size estimate
    #     crosses the threshold and the static plan falls back to
    #     exactly this SMJ shape), so bucketing the two fact tables by
    #     orderkey is the 100 TB answer to DuckDB's never-shuffles
    #     advantage. The query text stays layout-agnostic: bucketing
    #     is a storage decision (compact.bucket_rewrite), not a plan
    #     rewrite.
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    sup = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (sup.s_nationkey == cust.c_nationkey),
            "left_semi",
        )
        .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


Q05_SQL = f"""
SELECT n_name, {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# --- join-type suite ---

def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal", "total_acctbal"),
        )
        .orderBy("r_name", "n_name")
    )


Q_JOIN_INNER_SQL = f"""
SELECT r_name, n_name, COUNT(*) AS n_customers,
       {oracle_dsum('c_acctbal')} AS total_acctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    s = _t(spark, sf_dir, "supplier")
    return (
        n.join(s, n.n_nationkey == s.s_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            dsum("s_acctbal", "total_bal"),
        )
        .orderBy("n_name")
    )


Q_JOIN_LEFT_SQL = f"""
SELECT n_name, COUNT(s_suppkey) AS n_suppliers,
       {oracle_dsum('s_acctbal')} AS total_bal
FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .select("n_nationkey", "n_name", "s_suppkey")
        .orderBy("n_nationkey", "s_suppkey")
    )


Q_JOIN_RIGHT_SQL = """
SELECT n_nationkey, n_name, s_suppkey
FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
ORDER BY n_nationkey, s_suppkey
"""


def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full")
        .select(
            F.coalesce("c_nationkey", "s_nationkey").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
        .orderBy("nationkey")
    )


Q_JOIN_FULL_SQL = """
WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey),
     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey)
SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(n_supp, 0) AS n_supp
FROM c FULL JOIN s ON c_nationkey = s_nationkey
ORDER BY nationkey
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


Q_JOIN_SEMI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > 100000)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


Q_JOIN_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 200000)
ORDER BY c_custkey
"""


def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r1 = _t(spark, sf_dir, "region").select(F.col("r_name").alias("r1"))
    r2 = _t(spark, sf_dir, "region").select(F.col("r_name").alias("r2"))
    return r1.crossJoin(r2).filter(F.col("r1") < F.col("r2")).orderBy("r1", "r2")


Q_JOIN_CROSS_SQL = """
SELECT a.r_name AS r1, b.r_name AS r2
FROM region a CROSS JOIN region b
WHERE a.r_name < b.r_name
ORDER BY r1, r2
"""


# --- grouping sets / rollup / cube ---

def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice", "total"))
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


Q_ROLLUP_SQL = f"""
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       {oracle_dsum('o_totalprice')} AS total
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("l_quantity", "qty"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


Q_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n, {oracle_dsum('l_quantity')} AS qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tailpipe_spark.session import configure_runtime

    configure_runtime(spark)
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


Q_GROUPING_SETS_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
"""


# --- distinct / set ops / top-k ---

def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("d_parts"),
        F.countDistinct("l_suppkey").alias("d_supps"),
        F.countDistinct("l_returnflag", "l_linestatus").alias("d_flag_status"),
        F.count(F.lit(1)).alias("n_rows"),
        # the reference also uses list(distinct col) (convertor_validate
        # .go:68-69) — sorted and joined so the value is a plain string
        # (deterministic AND representation-proof in the driver's hasher)
        F.array_join(F.sort_array(F.collect_set("l_returnflag")), ",").alias("flags"),
    )


Q_DISTINCT_SQL = """
SELECT COUNT(DISTINCT l_partkey) AS d_parts,
       COUNT(DISTINCT l_suppkey) AS d_supps,
       COUNT(DISTINCT (l_returnflag, l_linestatus)) AS d_flag_status,
       COUNT(*) AS n_rows,
       array_to_string(list_sort(list(DISTINCT l_returnflag)), ',') AS flags
FROM lineitem
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    union_all = c.unionAll(s).groupBy().agg(F.count(F.lit(1)).alias("cnt")).select(
        F.lit("union_all").alias("op"), "cnt"
    )
    inter = (
        c.intersect(s)
        .groupBy()
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("intersect").alias("op"), "cnt")
    )
    exc = (
        c.distinct()
        .subtract(s.distinct())
        .groupBy()
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("except").alias("op"), "cnt")
    )
    return union_all.unionAll(inter).unionAll(exc).orderBy("op")


Q_SET_OPS_SQL = """
SELECT 'union_all' AS op, COUNT(*) AS cnt FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL SELECT s_nationkey FROM supplier)
UNION ALL
SELECT 'intersect', COUNT(*) FROM (
  SELECT DISTINCT c_nationkey FROM customer
  INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
UNION ALL
SELECT 'except', COUNT(*) FROM (
  SELECT DISTINCT c_nationkey FROM customer
  EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
ORDER BY op
"""


def q_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by revenue per nation.

    Plan profile (SCALE_PROOF §q_topk_window, sf10 min-of-5
    interleaved): the window stage costs ~nothing — Spark plans the
    ``row_number <= 3`` filter as WindowGroupLimit (per-partition
    partial limiting before the nation exchange), and an explicit
    two-phase group-local top-k rewrite measured DEAD EVEN (5.146 vs
    5.156 s). The wall was the rev aggregation: scan 0.24 / +SMJ 1.57 /
    +dsum agg 5.47 — of which ~2.3 s was the BigDecimal-per-row
    accumulation (the double-SUM twin ``q_topk_fast`` runs the same
    plan in 3.46 s). r12 (verdict ask #2) recovers that tax WITHOUT
    giving up cross-engine exactness: ``dsum_fp`` folds the 6-decimal
    fixed-point LONG numerators in codegen and divides once per group
    — exactly the decimal sum (o_totalprice is on a 2-decimal grid; a
    customer's revenue is orders of magnitude under the 2^53-micro-
    unit bound), hash-checked against the UNCHANGED decimal oracle.
    The remaining wall is the 15M-row join + 1.5M-group agg engine
    constant that scale-out amortizes.

    r14 (optimization round): aggregate BEFORE the customer join (guide
    §2.3 "aggregate before you shuffle", lifted to the join input).
    The customer join only attaches c_nationkey — a PK 1:1 lookup — so
    grouping the 15M orders by o_custkey first and joining the ~1M
    aggregated rows afterwards computes the identical per-customer sum
    (same multiset of longs; long addition is exact and
    order-independent; the per-group divide happens in the same
    custkey group either way) while the join and everything after it
    touch 15x fewer rows. Measured min-of-5 interleaved, values
    hash-identical: sf10 3.53 -> 2.17 s (-38%), sf0.1 0.476 -> 0.405 s.
    Scale-safe: when customer outgrows the broadcast threshold the
    fallback SMJ sorts the 1M-row aggregate, not the 15M-row fact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.groupBy("o_custkey")
        .agg(dsum_fp("o_totalprice", "revenue"))
        .join(c, F.col("o_custkey") == c.c_custkey)
        .select("c_custkey", "c_nationkey", "revenue")
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("c_nationkey", "rk")
    )


def q_topk_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_topk_window on the JVM-native double-sum path — what a user's
    plain ``SUM(o_totalprice)`` runs (the q01_fast precedent). Rows-only
    in the harness: double sums are partition-order-dependent, so the
    revenue values (and tie order) can flap across engines; the exact
    twin above carries the hash oracle. 1.7 s faster at sf10 (3.46 vs
    5.15 — SCALE_PROOF §q_topk_window)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum("o_totalprice").alias("revenue"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey").asc()
    )
    return (
        rev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("c_nationkey", "rk")
    )


Q_TOPK_WINDOW_SQL = f"""
WITH rev AS (
  SELECT c_custkey, c_nationkey, {oracle_dsum('o_totalprice')} AS revenue
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_nationkey
)
SELECT c_custkey, c_nationkey, revenue,
       ROW_NUMBER() OVER (PARTITION BY c_nationkey
                          ORDER BY revenue DESC, c_custkey ASC) AS rk
FROM rev QUALIFY rk <= 3
ORDER BY c_nationkey, rk
"""


# --- scalar zoo / CASE-LIKE / CTE / subqueries ---

def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.upper(F.col("o_orderpriority")).alias("pri_upper"),
            F.substring(F.col("o_orderpriority"), 1, 1).alias("pri_code"),
            F.length(F.col("o_orderpriority")).alias("pri_len"),
            F.concat_ws("#", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
                "status_pri"
            ),
            F.year("o_orderdate").alias("o_year"),
            F.month("o_orderdate").alias("o_month"),
            F.dayofmonth("o_orderdate").alias("o_day"),
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
            F.abs(F.col("o_totalprice") - 100000).alias("price_dist"),
            F.round(F.col("o_totalprice"), 1).alias("price_r1"),
            F.floor(F.col("o_totalprice")).alias("price_floor"),
            F.ceil(F.col("o_totalprice")).alias("price_ceil"),
            (F.col("o_orderkey") % 7).alias("key_mod7"),
            F.sqrt(F.col("o_totalprice")).alias("price_sqrt"),
        )
        .orderBy("o_orderkey")
        .limit(5000)
    )


Q_SCALAR_SQL = """
SELECT o_orderkey,
       UPPER(o_orderpriority) AS pri_upper,
       SUBSTRING(o_orderpriority, 1, 1) AS pri_code,
       LENGTH(o_orderpriority) AS pri_len,
       CONCAT_WS('#', o_orderstatus, o_orderpriority) AS status_pri,
       YEAR(o_orderdate) AS o_year,
       MONTH(o_orderdate) AS o_month,
       DAY(o_orderdate) AS o_day,
       CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
       ABS(o_totalprice - 100000) AS price_dist,
       ROUND(o_totalprice, 1) AS price_r1,
       CAST(FLOOR(o_totalprice) AS BIGINT) AS price_floor,
       CAST(CEIL(o_totalprice) AS BIGINT) AS price_ceil,
       o_orderkey % 7 AS key_mod7,
       SQRT(o_totalprice) AS price_sqrt
FROM orders
ORDER BY o_orderkey
LIMIT 5000
"""


def q_case_like(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
    )
    return (
        c.filter(F.col("c_name").like("%0%") & ~F.col("c_mktsegment").like("MACH%"))
        .select("c_custkey", "c_mktsegment", bucket.alias("bal_bucket"))
        .groupBy("c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("c_mktsegment", "bal_bucket")
    )


Q_CASE_LIKE_SQL = """
SELECT c_mktsegment,
       CASE WHEN c_acctbal < 0 THEN 'negative'
            WHEN c_acctbal < 5000 THEN 'low'
            ELSE 'high' END AS bal_bucket,
       COUNT(*) AS n
FROM customer
WHERE c_name LIKE '%0%' AND c_mktsegment NOT LIKE 'MACH%'
GROUP BY 1, 2
ORDER BY c_mktsegment, bal_bucket
"""


def q_cte_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery CTE: the threshold stays IN the plan as a
    broadcast crossJoin with the 1-row aggregate (one lazy plan, no
    driver-side collect between stages)."""
    o = _t(spark, sf_dir, "orders")
    stats = o.agg(davg("o_totalprice", "a"))
    return (
        o.crossJoin(F.broadcast(stats))
        .filter(F.col("o_totalprice") > F.col("a"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_above_avg"), dsum("o_totalprice", "total"))
        .orderBy("o_orderstatus")
    )


Q_CTE_SQL = f"""
WITH stats AS (SELECT {oracle_davg('o_totalprice')} AS a FROM orders)
SELECT o_orderstatus, COUNT(*) AS n_above_avg, {oracle_dsum('o_totalprice')} AS total
FROM orders, stats
WHERE o_totalprice > stats.a
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def q_exists_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rich = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 5000)
    return (
        o.join(rich, o.o_custkey == rich.c_custkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderstatus")
    )


Q_EXISTS_IN_SQL = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — HLL sketches differ across engines, so
    this entry is rows-only (no oracle)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("median_price"),
    )


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective semi-join through Bloom-filter pre-pruning
    (operators/bloom.py): revenue by return flag for line items whose
    order is 1-URGENT in a date window.

    The bloom bitmap (auto-sized 16 bits/key, broadcast as ONE row;
    8 KiB at this key count) drops non-matching
    fact rows at the scan, so only the selective fraction reaches the
    semi-join shuffle — at 100 TB that is the difference between
    shuffling the whole fact table and shuffling a few percent of it.
    False positives are removed by the trailing exact semi-join, so the
    result (and the oracle, a plain IN-subquery) is bloom-invisible.

    Entered through :func:`auto_filter_join` — the planner is the ONE
    code path for filter joins (r11 verdict ask #7); this entry pins
    its BLOOM branch by setting ``broadcast_max_rows=0``, so the branch
    taken is deterministic at every SF (the planner's size-driven flip
    itself is pinned by ``q_auto_filter_join``)."""
    from tailpipe_spark.operators.bloom import auto_filter_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        auto_filter_join(li, urgent, "l_orderkey", "semi", broadcast_max_rows=0)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("l_returnflag")
    )


Q_BLOOM_PRUNE_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_items,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders
  WHERE o_orderpriority = '1-URGENT'
    AND o_orderdate >= TIMESTAMP '1995-03-01'
)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_bloom_prune_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact anti join through Bloom pre-partition
    (operators/bloom.py bloom_prune_anti_join): revenue by return flag
    for line items whose order is NOT urgent-in-window — the
    decontamination shape (drop everything on a block list too big to
    broadcast). Probe-failing rows are provably clean and skip the
    join entirely; only the suspect fraction pays the exact LEFT ANTI
    shuffle. The oracle is the plain NOT-IN-as-anti-join, so the hash
    match pins bloom-invisibility for the anti direction too.

    Entered through :func:`auto_filter_join` with
    ``broadcast_max_rows=0`` — pins the planner's bloom-ANTI branch at
    every SF (see q_bloom_prune_join for the rationale)."""
    from tailpipe_spark.operators.bloom import auto_filter_join

    li = _t(spark, sf_dir, "lineitem")
    urgent = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1995-03-01").cast("timestamp"))
        )
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return (
        auto_filter_join(li, urgent, "l_orderkey", "anti", broadcast_max_rows=0)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
        .orderBy("l_returnflag")
    )


Q_BLOOM_ANTI_SQL = f"""
SELECT l_returnflag, COUNT(*) AS n_items,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey
    AND o.o_orderpriority = '1-URGENT'
    AND o.o_orderdate >= TIMESTAMP '1995-03-01'
)
GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_auto_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-driven filter-join PLANNER (operators/bloom.py
    auto_filter_join): the reference's perfect-hash pruning is
    automatic, so ours is too — the caller states the semi/anti intent
    and the planner picks broadcast-keys vs bloom-prune from the build
    side's row count (catalog footer counts when cataloged; one
    O(build) count otherwise).

    Two build sides through the SAME planner with a 1 000-row
    threshold: the nation-1 supplier keys (a handful — broadcast
    branch at every SF) and the 1-URGENT order keys (crosses the
    threshold between sf0.001 and sf0.01, so the PLAN flips shape with
    scale while this oracle stays hash-identical — plan shape is
    provably semantics-free; branch pins live in
    tests/test_bloom_countmin_spans.py). Semi direction on the
    supplier build, anti on the orders build."""
    from tailpipe_spark.operators.bloom import auto_filter_join

    li = _t(spark, sf_dir, "lineitem")
    sup_keys = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 1)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    ord_keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )

    def summarize(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("build_side"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        ).select("build_side", "n_items", "revenue")

    semi = auto_filter_join(li, sup_keys, "l_suppkey", "semi", broadcast_max_rows=1000)
    anti = auto_filter_join(li, ord_keys, "l_orderkey", "anti", broadcast_max_rows=1000)
    return (
        summarize(semi, "supplier_semi")
        .unionByName(summarize(anti, "orders_anti"))
        .orderBy("build_side")
    )


Q_AUTO_FILTER_SQL = f"""
SELECT 'supplier_semi' AS build_side, CAST(COUNT(*) AS BIGINT) AS n_items,
       {oracle_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_nationkey = 1)
UNION ALL
SELECT 'orders_anti', CAST(COUNT(*) AS BIGINT),
       {oracle_dsum('l_extendedprice * (1 - l_discount)')}
FROM lineitem l
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT'
)
ORDER BY build_side
"""


SPECS = [
    QuerySpec("q01_pricing_summary", q01_pricing_summary, Q01_SQL, "TPC-H Q1 pricing summary: filter + hash agg + exact decimal sums (double surface)"),
    QuerySpec("q01_pricing_summary_dec", q01_pricing_summary_dec, Q01_DEC_SQL, "q01 exactness twin: DECIMAL(38,6) surface, local typed harness only (DECIMAL output is driver-hash-unsafe)", local_only=True),
    QuerySpec("q01_fast", q01_fast, None, "q01 on the JVM-native double-sum path (rows-only: double sums are partition-order-dependent)"),
    QuerySpec("q03_shipping_priority", q03_shipping_priority, Q03_SQL, "3-way join, agg, deterministic top-k"),
    QuerySpec("q05_local_supplier", q05_local_supplier, Q05_SQL, "6-way join with broadcast dims"),
    QuerySpec("q_join_inner", q_join_inner, Q_JOIN_INNER_SQL, "inner joins + agg"),
    QuerySpec("q_join_left", q_join_left, Q_JOIN_LEFT_SQL, "left outer join"),
    QuerySpec("q_join_right", q_join_right, Q_JOIN_RIGHT_SQL, "right outer join"),
    QuerySpec("q_join_full", q_join_full, Q_JOIN_FULL_SQL, "full outer join"),
    QuerySpec("q_join_semi", q_join_semi, Q_JOIN_SEMI_SQL, "left semi join / EXISTS"),
    QuerySpec("q_join_anti", q_join_anti, Q_JOIN_ANTI_SQL, "left anti join / NOT EXISTS"),
    QuerySpec("q_join_cross", q_join_cross, Q_JOIN_CROSS_SQL, "cross join"),
    QuerySpec("q_rollup", q_rollup, Q_ROLLUP_SQL, "ROLLUP hierarchy agg"),
    QuerySpec("q_cube", q_cube, Q_CUBE_SQL, "CUBE agg"),
    QuerySpec("q_grouping_sets", q_grouping_sets, Q_GROUPING_SETS_SQL, "GROUPING SETS"),
    QuerySpec("q_distinct_agg", q_distinct_agg, Q_DISTINCT_SQL, "count distinct, multi-col distinct"),
    QuerySpec("q_set_ops", q_set_ops, Q_SET_OPS_SQL, "UNION ALL / INTERSECT / EXCEPT"),
    QuerySpec("q_topk_window", q_topk_window, Q_TOPK_WINDOW_SQL, "window rank top-k per group"),
    QuerySpec("q_topk_fast", q_topk_fast, None, "q_topk_window on the JVM-native double-sum path (rows-only: double sums are partition-order-dependent)"),
    QuerySpec("q_scalar_functions", q_scalar_functions, Q_SCALAR_SQL, "string/date/math scalar function zoo"),
    QuerySpec("q_case_like", q_case_like, Q_CASE_LIKE_SQL, "CASE WHEN + LIKE predicates"),
    QuerySpec("q_cte_subquery", q_cte_subquery, Q_CTE_SQL, "CTE + scalar subquery threshold"),
    QuerySpec("q_exists_in", q_exists_in, Q_EXISTS_IN_SQL, "IN subquery as semi join"),
    QuerySpec("q_approx_distinct", q_approx_distinct, None, "approx_count_distinct / approx_percentile (engine-specific sketches; rows-only)"),
    QuerySpec("q_bloom_prune_join", q_bloom_prune_join, Q_BLOOM_PRUNE_SQL, "Bloom-filter pre-pruned semi join (broadcast auto-sized bitmap, exact result)"),
    QuerySpec("q_bloom_prune_anti", q_bloom_prune_anti, Q_BLOOM_ANTI_SQL, "Bloom pre-partitioned exact anti join (probe-failing rows provably clean, suspects exact-verified)"),
    QuerySpec("q_auto_filter_join", q_auto_filter_join, Q_AUTO_FILTER_SQL, "size-driven filter-join planner: broadcast-keys vs bloom-prune chosen from build-side row count (semi + anti)"),
]
