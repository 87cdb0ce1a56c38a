"""Parquet footer facts the read path plans from: session.footers and
its helpers, all read through catalog.FooterInfo."""

import os

from pyspark.sql import types as T

from tailpipe_spark.session import (
    footers,
    input_bytes,
    parquet_column_range,
    parquet_row_count,
    read_table,
)


def _single_file(d: str) -> str:
    return next(
        os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")
    )


def test_variant_file_gives_rows_range_and_parallel_scan(spark, tmp_path):
    """Spark writes a VARIANT column as a parquet logical type that
    pyarrow <18 cannot parse; FooterInfo's DuckDB fallback still gives
    the row count, the id range and the row-group count that
    ``parallelize=True`` sizes its repartition from."""
    d = str(tmp_path / "variant")
    (
        spark.range(100)
        .selectExpr("id", "parse_json(concat('{\"k\": ', id, '}')) AS v")
        .coalesce(1)
        .write.parquet(d)
    )
    assert parquet_row_count(d) == 100
    assert parquet_column_range(d, "id") == (0, 99)
    df = read_table(spark, d, parallelize=True)
    par = spark.sparkContext.defaultParallelism
    assert df.select("id").rdd.getNumPartitions() == par
    assert df.count() == 100


def test_row_count_follows_replaced_files(spark, tmp_path):
    """The footer cache is keyed on each file's size and mtime, so a
    file replaced under the same name is re-read with no cache reset."""
    d, other = str(tmp_path / "t"), str(tmp_path / "other")
    spark.range(10).coalesce(1).write.parquet(d)
    assert parquet_row_count(d) == 10
    assert parquet_column_range(d, "id") == (0, 9)

    spark.range(25).coalesce(1).write.parquet(other)
    os.replace(_single_file(other), _single_file(d))
    assert parquet_row_count(d) == 25
    assert parquet_column_range(d, "id") == (0, 24)


def test_cached_read_follows_a_table_rewritten_in_place(spark, tmp_path):
    """The DataFrame cache is keyed on the table's files, so a directory
    overwritten with new files is read again rather than served the old
    file list (which would fail on the deleted files)."""
    d = str(tmp_path / "t")
    spark.range(5).write.parquet(d)
    assert read_table(spark, d).count() == 5
    spark.range(7).write.mode("overwrite").parquet(d)
    assert read_table(spark, d).count() == 7
    assert read_table(spark, d) is read_table(spark, d)


def test_unreadable_paths_give_no_footers(tmp_path):
    assert footers(str(tmp_path / "missing")) is None
    assert parquet_row_count(str(tmp_path)) is None  # no parquet files
    bad = tmp_path / "bad.parquet"
    bad.write_text("not parquet")
    assert parquet_row_count(str(bad)) is None
    assert parquet_column_range(str(tmp_path), "id") is None


def test_nano_timestamps_are_converted(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_714_521_600_123_456_000], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts, "n": [1]}), p)
    assert footers(p)[0].nano_timestamp_cols() == ["ts"]
    df = read_table(spark, p)
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.selectExpr("unix_micros(ts) AS u").first().u == 1_714_521_600_123_456


def test_input_bytes_follows_links_once(tmp_path):
    data = tmp_path / "data"
    data.mkdir()
    (data / "a.parquet").write_bytes(b"x" * 10)
    (data / "notes.txt").write_bytes(b"y" * 99)
    root = tmp_path / "root"
    root.mkdir()
    os.symlink(data, root / "t.parquet")
    os.symlink(root, data / "loop")  # cycle back to the top
    assert input_bytes(str(root)) == 10
    assert input_bytes(str(data / "a.parquet")) == 10
    assert input_bytes(str(tmp_path / "missing")) is None
