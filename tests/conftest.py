import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from tailpipe_spark.session import build_session

    s = build_session("tailpipe-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture()
def workspace(tmp_path):
    from tailpipe_spark.catalog import Catalog

    return Catalog(str(tmp_path / "ws"))


@pytest.fixture()
def assert_manifest_schema(spark):
    """Check that ``catalog.spark_schema(table)`` has the data fields
    Spark infers from the table's files (names, order, types and, unless
    ``nullability=False``, nullability) and the hive columns by name."""
    from tailpipe_spark.catalog import PARTITION_COLS

    def data(schema, nullability):
        return [
            f if nullability else (f.name, f.dataType)
            for f in schema
            if f.name not in PARTITION_COLS
        ]

    def hive(schema):
        return [f.name for f in schema if f.name in PARTITION_COLS]

    def check(catalog, table, nullability=True):
        tdir = catalog.table_dir(table)
        inferred = spark.read.option("basePath", tdir).parquet(tdir).schema
        manifest = catalog.spark_schema(table)
        assert data(manifest, nullability) == data(inferred, nullability)
        assert hive(manifest) == hive(inferred) == list(PARTITION_COLS)

    return check
