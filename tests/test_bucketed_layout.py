"""Productized bucketed co-located layout (compact.bucket_rewrite +
catalog layout metadata + read_table bucket-spec registration).

The sf10 A/B (SCALE_PROOF §bucketed) proved bucketBy deletes the fact
exchanges from same-key SortMergeJoins; these tests pin that the
PRODUCT path — collect → compact --bucket-by → read_table — produces
that plan, preserves every row, and survives further compactions.
"""

import json

import pytest
from pyspark.sql import functions as F

from tailpipe_spark.collect import collect
from tailpipe_spark.compact import bucket_rewrite, compact_table
from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
from tailpipe_spark.sources.formats import read_jsonl


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _mk_table(spark, workspace, tmp_path, name, n_rows, val_col, day=lambda i: 15):
    table = TableConfig(
        name=name,
        columns=[
            ColumnConfig(name="k", type="bigint", required=True),
            ColumnConfig(name=val_col, type="double"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    rows = [
        {"k": i % 97, val_col: float(i), "time": f"2024-0{1 + (i % 2)}-{day(i):02d}T10:00:00"}
        for i in range(n_rows)
    ]
    p = tmp_path / f"{name}.jsonl"
    p.write_text("\n".join(json.dumps(r) for r in rows))
    collect(
        spark, workspace, table, PartitionConfig(name, "default"),
        source_df=read_jsonl(spark, [str(p)]),
    )
    return table


@pytest.fixture()
def two_tables(spark, workspace, tmp_path):
    _mk_table(spark, workspace, tmp_path, "facts_a", 400, "va")
    _mk_table(spark, workspace, tmp_path, "facts_b", 300, "vb")
    return workspace


def test_bucket_rewrite_zero_exchange_join(spark, two_tables):
    ws = two_tables
    plain = (
        ws.read_table(spark, "facts_a")
        .join(ws.read_table(spark, "facts_b"), "k")
        .select("k", "va", "vb")
    )
    want = sorted(map(tuple, plain.collect()))
    # the plain-path join shuffles both sides
    assert _plan(plain).count("Exchange") >= 2

    for t in ("facts_a", "facts_b"):
        s = bucket_rewrite(spark, ws, t, ["k"], 4)
        assert s["num_buckets"] == 4 and s["layout_rev"] == 1
        assert ws.table_layout(t)["bucket_by"] == ["k"]

    a, b = ws.read_table(spark, "facts_a"), ws.read_table(spark, "facts_b")
    j = a.join(b, "k").select("k", "va", "vb")
    plan = _plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # ZERO shuffles: bucket-co-located scan
    assert sorted(map(tuple, j.collect())) == want
    # r15: the registration deliberately carries NO size stats — a
    # partitioned external table without stats reports a huge default
    # size, so the planner can never broadcast a provisioned fact (the
    # q12 sf10 hazard: a compressed-bytes estimate slipped an
    # unfiltered 15M-row fact under the broadcast threshold). The join
    # above must therefore stay SMJ even though the tables are tiny.
    # row counts intact through the rewrite
    assert a.count() == 400 and b.count() == 300


def test_compaction_is_layout_sticky(spark, two_tables):
    ws = two_tables
    bucket_rewrite(spark, ws, "facts_a", ["k"], 4)
    rev1 = ws.table_layout("facts_a")["layout_rev"]
    # a later generic compaction must NOT flatten the layout
    out = compact_table(spark, ws, "facts_a")
    assert out.get("bucket_by") == ["k"]
    assert ws.table_layout("facts_a")["layout_rev"] == rev1 + 1
    assert ws.read_table(spark, "facts_a").count() == 400


def test_delete_range_keeps_bucketed_layout(spark, workspace, tmp_path):
    """A range delete rewrites the keys it touches with plain files, so
    on a bucketed table it re-buckets on the manifest's spec: scans in
    the same session must not use the registration that listed the old
    files, and a new registration must find only bucket files."""
    from datetime import datetime

    from tailpipe_spark.compact import delete_range

    ws = workspace
    _mk_table(spark, ws, tmp_path, "facts_d", 400, "vd", day=lambda i: 1 + i % 28)
    bucket_rewrite(spark, ws, "facts_d", ["k"], 4, force=True)
    rev = ws.table_layout("facts_d")["layout_rev"]
    assert ws.read_table(spark, "facts_d").count() == 400  # registers rev

    # part of January: the January key keeps some rows
    n = delete_range(
        ws, spark, "facts_d", "default", datetime(2024, 1, 1), datetime(2024, 1, 10)
    )
    assert 0 < n < 200

    plain = spark.read.parquet(ws.table_dir("facts_d"))
    df = ws.read_table(spark, "facts_d")
    by_key = sorted(map(tuple, df.groupBy("k").count().collect()))
    assert by_key == sorted(map(tuple, plain.groupBy("k").count().collect()))
    assert sum(c for _k, c in by_key) == 400 - n
    assert (
        df.alias("l").join(df.alias("r"), "k").count()
        == plain.alias("l").join(plain.alias("r"), "k").count()
    )
    assert ws.table_layout("facts_d")["layout_rev"] > rev


def test_time_pruned_read_keeps_path_branch(spark, two_tables):
    from datetime import datetime

    ws = two_tables
    bucket_rewrite(spark, ws, "facts_a", ["k"], 4)
    # bounded reads fall back to the file-subset scan (no bucket spec)
    df = ws.read_table(
        spark, "facts_a",
        time_from=datetime(2024, 1, 1), time_to=datetime(2024, 2, 1),
    )
    got = df.filter(
        (F.col("tp_timestamp") >= "2024-01-01") & (F.col("tp_timestamp") < "2024-02-01")
    ).count()
    assert got == 200  # half the rows land in January


def test_bucket_rewrite_auto_sizes_and_cli_e2e(spark, two_tables, capsys):
    ws = two_tables
    s = bucket_rewrite(spark, ws, "facts_b", ["k"])  # auto N
    assert s["num_buckets"] >= 4 and (s["num_buckets"] & (s["num_buckets"] - 1)) == 0
    # the product CLI path: compact --bucket-by cols:N
    from tailpipe_spark.cli import main

    rc = main(
        ["--workspace", ws.workspace, "compact", "facts_a", "--bucket-by", "k:8"]
    )
    assert rc == 0
    assert "bucketed facts_a" in capsys.readouterr().out
    lay = ws.table_layout("facts_a")
    assert lay["bucket_by"] == ["k"] and lay["num_buckets"] == 8


def test_q05_smj_zero_fact_exchange_product_path(spark, workspace, assert_manifest_schema):
    """The r10 sf10 A/B's cluster-scale plan, now through the PRODUCT
    path: orders+lineitem ingested as catalog tables, bucketed by their
    orderkey via `compact --bucket-by`, q05's SMJ shape planned over
    `read_table` — both fact Exchanges gone, results identical."""
    from tailpipe_spark import writer
    from tailpipe_spark.cli import main
    from tailpipe_spark.functions.exact import dsum
    from tailpipe_spark.session import read_table as rt

    sf = "/root/testdata/sf0.001"
    for name, ts in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        df = (
            rt(spark, f"{sf}/{name}.parquet")
            .withColumn("tp_timestamp", F.col(ts))
            .withColumn("tp_partition", F.lit(name))
            .withColumn("tp_index", F.lit("default"))
        )
        workspace.ensure_table(
            name, {f.name: f.dataType.simpleString() for f in df.schema.fields}
        )
        writer.append(workspace, name, df)
        workspace.refresh_partition_index(name)
        assert_manifest_schema(workspace, name)

    def q05(orders, li):
        region = rt(spark, f"{sf}/region.parquet").filter(F.col("r_name") == "ASIA")
        nation = rt(spark, f"{sf}/nation.parquet")
        cust = rt(spark, f"{sf}/customer.parquet")
        sup = rt(spark, f"{sf}/supplier.parquet")
        orders = orders.filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        ).hint("merge")  # the shape that survives when orders outgrows broadcast
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .filter(cust.c_nationkey == sup.s_nationkey)
            .join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .groupBy("n_name")
            .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
        )

    plain = q05(
        workspace.read_table(spark, "orders"), workspace.read_table(spark, "lineitem")
    )
    plain_plan = _plan(plain)
    want = [tuple(r) for r in plain.collect()]

    for t, k in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        assert main(
            ["--workspace", workspace.workspace, "compact", t, "--bucket-by", f"{k}:8"]
        ) == 0

    bucketed = q05(
        workspace.read_table(spark, "orders"), workspace.read_table(spark, "lineitem")
    )
    b_plan = _plan(bucketed)
    assert "SortMergeJoin" in b_plan
    # the co-located layout deletes BOTH fact-side Exchanges
    assert b_plan.count("Exchange") == plain_plan.count("Exchange") - 2
    assert [tuple(r) for r in bucketed.collect()] == want


def test_bucket_pruning_on_equality_filter(spark, two_tables):
    """An equality filter on the bucket key scans ONE bucket of N —
    the scan-side dividend of the layout (hash-route the predicate to
    its bucket, skip the rest), on top of the join-side exchange
    elimination.

    Spark's DisableUnnecessaryBucketedScan (autoBucketedScan, default
    on) trades this pruning away for full scan parallelism when no
    join/agg consumes the bucket partitioning — a filter-only query
    then reads every bucket. The flag-off branch pins that the layout
    DOES carry the pruning capability; deployments with selective
    point-lookups on the bucket key should disable autoBucketedScan."""
    ws = two_tables
    bucket_rewrite(spark, ws, "facts_a", ["k"], 4)
    old = spark.conf.get("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    try:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        df = ws.read_table(spark, "facts_a").filter(F.col("k") == 42)
        plan = _plan(df)
        assert "SelectedBucketsCount: 1 out of 4" in plan, plan
        # correctness of the pruned scan: k=42 hits i in {42,139,236,333}
        assert sorted(r.va for r in df.collect()) == [
            float(i) for i in range(42, 400, 97)
        ]
    finally:
        spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", old)


def test_row_count_no_spark_job(spark, two_tables):
    """Catalog row_count serves counts from parquet footers/file index —
    NO Spark job may run (the corpus_size feed for dedup/bloom)."""
    ws = two_tables
    sc = spark.sparkContext
    sc.setJobGroup("rowcount-probe", "must stay empty")
    try:
        n = ws.row_count("facts_a")
        # feeding the hint into ngram-style operators keeps plan
        # CONSTRUCTION job-free too (the count() fallback fires at
        # construction time, not execution time)
        from tailpipe_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"]
        )
        ngram_jaccard_pairs(docs, corpus_size=n)
    finally:
        ids = sc.statusTracker().getJobIdsForGroup("rowcount-probe")
        sc.setJobGroup("", "")
    assert n == 400
    assert list(ids) == []


def test_row_count_stale_index_falls_back(spark, two_tables, tmp_path):
    import os

    ws = two_tables
    n = ws.row_count("facts_a")
    # drop a foreign parquet into the tree -> index stale -> footer walk
    extra = (
        ws.read_table(spark, "facts_a").limit(7).drop(
            "tp_partition", "tp_index", "tp_year", "tp_month"
        )
    )
    extra.coalesce(1).write.mode("append").parquet(str(tmp_path / "x"))
    import shutil

    src = [
        os.path.join(str(tmp_path / "x"), f)
        for f in os.listdir(str(tmp_path / "x"))
        if f.endswith(".parquet")
    ][0]
    dst_dir = None
    for root, _d, files in os.walk(ws.table_dir("facts_a")):
        if any(f.endswith(".parquet") for f in files):
            dst_dir = root
            break
    shutil.copy(src, os.path.join(dst_dir, "zzz_foreign.parquet"))
    assert ws.row_count("facts_a") == n + 7


def test_provisioned_symlink_dir_serves_bucketed_scan(spark, two_tables, tmp_path):
    """r15: a provisioned layout travels with the data. A fixture dir
    whose table entry symlinks into a bucketed workspace's data tree is
    served by session.read_table through the catalog's bucket-spec
    registration — a join on the bucket key plans with ZERO Exchange —
    while values stay identical to the plain path read. Non-bucketed
    workspace trees and plain fixture dirs keep the plain path."""
    import os

    from tailpipe_spark.session import read_table as rt

    ws = two_tables
    d = tmp_path / "sfdir"
    d.mkdir()
    os.symlink(ws.table_dir("facts_a"), d / "facts_a.parquet")
    os.symlink(ws.table_dir("facts_b"), d / "facts_b.parquet")

    # before any layout exists the symlinked read takes the plain path
    plain = rt(spark, str(d / "facts_a.parquet"))
    want = sorted((r.k, r.va) for r in plain.select("k", "va").collect())

    for t in ("facts_a", "facts_b"):
        bucket_rewrite(spark, ws, t, ["k"], 4)

    a = rt(spark, str(d / "facts_a.parquet"))
    b = rt(spark, str(d / "facts_b.parquet"))
    assert sorted((r.k, r.va) for r in a.select("k", "va").collect()) == want
    j = a.join(b, "k").select("k", "va", "vb")
    plan = _plan(j)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # both scans co-located via the layout


def test_bucket_rewrite_warns_on_fragmenting_layout(spark, two_tables):
    """Small-scale guard (r11 verdict #3): a bucket count that projects
    sub-8MB files per hive-dir x bucket cell warns with the numbers;
    force=True acknowledges the trade and silences it. The rewrite runs
    either way (the layout may be about to grow into its scale)."""
    import warnings

    ws = two_tables
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        s = bucket_rewrite(spark, ws, "facts_a", ["k"], 8)
    frag = [w for w in caught if "fragments" in str(w.message)]
    assert len(frag) == 1
    msg = str(frag[0].message)
    assert "8 buckets" in msg and "force=True" in msg
    assert s["num_buckets"] == 8  # still rewritten
    assert ws.read_table(spark, "facts_a").count() == 400

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        bucket_rewrite(spark, ws, "facts_b", ["k"], 8, force=True)
    assert not [w for w in caught if "fragments" in str(w.message)]
