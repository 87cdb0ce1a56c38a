"""Plan-shape regression tests: the physical plans that make the engine
scale must not silently degrade (SURVEY.md §4)."""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q05_broadcasts_dims_no_nlj(spark):
    from tailpipe_spark.queries.relational import q05_local_supplier

    plan = _plan(q05_local_supplier(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_timestamp_filter_pushdown(spark):
    from tailpipe_spark.session import read_table

    li = read_table(spark, "/root/testdata/sf0.001/lineitem.parquet")
    df = li.filter(F.col("l_shipdate") <= F.lit("1997-01-01").cast("timestamp")).select(
        "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the two referenced columns reach the scan
    assert "ReadSchema: struct<l_quantity:double,l_shipdate" in plan


def test_asof_join_has_no_join_operator(spark):
    from tailpipe_spark.queries.timeseries import q_asof_join

    plan = _plan(q_asof_join(spark, "/root/testdata/sf0.001"))
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct", "SortMergeJoin"):
        assert bad not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # union+window: one key shuffle (+AQE reuse)


def test_range_join_self_rewrite_is_single_shuffle_window(spark):
    """q_range_join (self range-join + per-driver agg) takes the
    window-frame rewrite: no join operator at all, one hash exchange on
    the user key, a Window node carrying both frame aggregates."""
    from tailpipe_spark.queries.timeseries import q_range_join

    plan = _plan(q_range_join(spark, "/root/testdata/sf0.001"))
    for bad in ("Join", "CartesianProduct"):  # matches *Join variants too
        assert bad not in plan
    assert "Window" in plan
    # one key shuffle (user_id) + the final tiny orderBy's range exchange
    assert plan.count("Exchange hashpartitioning") == 1


def test_dedup_exact_is_partial_agg(spark):
    from tailpipe_spark.operators.dedup import exact_dedup_stats
    from tailpipe_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup_stats(docs))
    assert "partial_count" in plan  # map-side combine before the shuffle


def test_compaction_time_clusters_row_groups(spark, workspace, tmp_path):
    """After compaction, files are tp_timestamp-sorted so parquet
    row-group min/max stats enable time-range skipping (SURVEY §4
    'data ordering / clustering')."""
    import json as _json

    import pyarrow.parquet as pq

    from tailpipe_spark.collect import collect
    from tailpipe_spark.compact import compact_table, enumerate_partition_keys, file_stats
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.sources.formats import read_jsonl

    table = TableConfig(
        name="rg",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    part = PartitionConfig("rg", "default")
    # three interleaved batches within one month -> overlapping files
    for b in range(3):
        rows = [
            {"id": b * 1000 + i, "time": f"2024-05-{(i % 27) + 1:02d}T{b * 2:02d}:00:00"}
            for i in range(200)
        ]
        p = tmp_path / f"b{b}.jsonl"
        p.write_text("\n".join(_json.dumps(r) for r in rows))
        collect(spark, workspace, table, part, source_df=read_jsonl(spark, [str(p)]))

    key = enumerate_partition_keys(workspace, "rg")[0]
    assert len(file_stats(workspace, "rg", key)) >= 3

    compact_table(spark, workspace, "rg")
    # a key carries its file list as enumerated: list the keys again
    (key,) = enumerate_partition_keys(workspace, "rg")
    stats = file_stats(workspace, "rg", key)
    # time-disjoint files after the reorder...
    spans = sorted((s.min_ts, s.max_ts) for s in stats)
    for (a_min, a_max), (b_min, b_max) in zip(spans, spans[1:]):
        assert a_max <= b_min
    # ...and rows sorted INSIDE each file (row-group stats monotone)
    for s in stats:
        md = pq.read_metadata(s.path)
        idx = md.schema.to_arrow_schema().get_field_index("tp_timestamp")
        prev_max = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            if prev_max is not None:
                assert st.min >= prev_max
            prev_max = st.max


def test_cte_subquery_is_one_lazy_plan(spark, monkeypatch):
    """The scalar threshold must stay in the plan (broadcast 1-row agg),
    not be fetched with a driver-side collect during plan construction."""
    from pyspark.sql import DataFrame

    from tailpipe_spark.queries.relational import q_cte_subquery

    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (_ for _ in ()).throw(AssertionError("collect() during plan build")),
    )
    df = q_cte_subquery(spark, "/root/testdata/sf0.001")
    monkeypatch.undo()
    assert df.count() > 0


def test_query_time_filter_prunes_partition_dirs(spark, workspace, tmp_path):
    """--from/--to must reach the scan as PartitionFilters on
    (tp_year, tp_month): directory pruning, not just row filtering."""
    import json as _json

    from tailpipe_spark.collect import collect
    from tailpipe_spark.config import ColumnConfig, PartitionConfig, TableConfig
    from tailpipe_spark.query_cli import apply_query_filters
    from tailpipe_spark.sources.formats import read_jsonl

    rows = [
        {"id": i, "time": f"2024-{m:02d}-15T00:00:00"}
        for i, m in enumerate([1, 2, 3, 4, 5, 6])
    ]
    p = tmp_path / "c.jsonl"
    p.write_text("\n".join(_json.dumps(r) for r in rows))
    table = TableConfig(
        name="pruned_t",
        columns=[
            ColumnConfig(name="id", type="bigint"),
            ColumnConfig(name="tp_timestamp", type="timestamp", source="time"),
        ],
        map_fields=[],
    )
    collect(spark, workspace, table, PartitionConfig("pruned_t", "default"),
            source_df=read_jsonl(spark, [str(p)]))

    df = workspace.read_table(spark, "pruned_t")
    filtered = apply_query_filters(
        df, time_from="2024-03-01T00:00:00", time_to="2024-04-30T00:00:00"
    )
    assert filtered.count() == 2  # March + April rows only
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "tp_year" in plan.split("PartitionFilters")[1][:400]


def test_ngram_jaccard_reuses_gram_exchange(spark):
    """The gram pipeline must compute once: the explicit repartition on
    gram is the shared exchange every consumer (hot-gram agg, both
    self-join sides) reuses. A restructure that loses ReusedExchange
    recomputes the split/explode 3-4x (measured slower)."""
    from tailpipe_spark.queries.textdata import dedup_ngram_jaccard

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            dedup_ngram_jaccard(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in plan


def test_partition_predicate_month_boundary_and_null_keep(spark):
    """The (tp_year, tp_month) rewrite must linearize across year
    boundaries and must not drop null-timestamp rows (hive default
    partition) when the row filter keeps them."""
    from datetime import datetime

    from tailpipe_spark.query_cli import filter_conditions

    def apply(df, time_from=None, time_to=None):
        for cond in filter_conditions(time_from, time_to):
            df = df.filter(F.expr(cond))
        return df

    rows = [
        (1, datetime(2023, 12, 15), 2023, 12),
        (2, datetime(2024, 1, 15), 2024, 1),
        (3, datetime(2024, 6, 15), 2024, 6),
        (4, None, None, None),  # null-timestamp row in default partition
    ]
    df = spark.createDataFrame(
        rows, "id int, tp_timestamp timestamp, tp_year int, tp_month int"
    )
    out = apply(
        df, time_from=datetime(2023, 12, 1), time_to=datetime(2024, 1, 31)
    )
    # null-keep is a LOWER-bound contract; an upper bound excludes nulls
    assert sorted(r["id"] for r in out.collect()) == [1, 2]
    lower_only = apply(df, time_from=datetime(2024, 1, 1))
    assert sorted(r["id"] for r in lower_only.collect()) == [2, 3, 4]


def test_pii_scan_is_shuffle_free(spark):
    from tailpipe_spark.operators.text import pii_scan

    docs = spark.createDataFrame([(1, "a@b.io")], ["doc_id", "text"])
    plan = _plan(pii_scan(docs))
    assert "Exchange" not in plan  # narrow per-row transform end to end


def test_decontaminate_broadcasts_benchmark_grams(spark):
    from tailpipe_spark.operators.dedup import decontaminate
    from tailpipe_spark.session import read_table

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    cands = docs.where(F.col("doc_id") % 97 != 0)
    plan = _plan(decontaminate(cands, bench))
    assert "BroadcastHashJoin" in plan  # bench gram set ships broadcast
    assert "CartesianProduct" not in plan


def test_kmeans_assign_broadcasts_centroids(spark):
    from tailpipe_spark.queries.vectors_q import emb_kmeans_assign

    plan = _plan(emb_kmeans_assign(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # the corpus side must never shuffle on anything but the window key
    assert "SortMergeJoin" not in plan


def test_funnel_reuses_user_exchange(spark):
    """The three stage aggregations all key on user_id; at most a
    handful of exchanges survive (reuse + the tiny stage-count union),
    and nothing goes cartesian."""
    from tailpipe_spark.queries.timeseries import q_funnel

    plan = _plan(q_funnel(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_upsert_latest_uses_window_group_limit(spark):
    """Non-latest rows must be pruned before the final window stage —
    state-size, not history-size, output."""
    from tailpipe_spark.queries.advanced import q_upsert_latest

    plan = _plan(q_upsert_latest(spark, "/root/testdata/sf0.001"))
    assert "WindowGroupLimit" in plan


def test_trend_linear_single_agg_no_join(spark):
    from tailpipe_spark.queries.timeseries import q_trend_linear

    plan = _plan(q_trend_linear(spark, "/root/testdata/sf0.001"))
    assert "Join" not in plan  # pure one-pass aggregation
    assert plan.count("Exchange hashpartitioning") <= 1
