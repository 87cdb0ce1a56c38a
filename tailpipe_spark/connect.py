"""Init-script generation for external SQL clients.

The reference's `tailpipe connect` emits a SQL init script that any
DuckDB client can source (``duckdb --init $(tailpipe connect)`` —
reference: cmd/connect.go:94-172); `--output json` wraps the path in a
machine-readable envelope (connect.go:231-258). The Spark-native
equivalent emits ``CREATE OR REPLACE TEMPORARY VIEW`` statements over
the workspace's hive-partitioned parquet, runnable verbatim by
``spark-sql -i <file>``, a Thrift/JDBC session, or ``spark.sql`` — so
BI tools and plain SQL shells attach to a workspace without importing
any Python.

Filter semantics match the query CLI by construction: the views bake in
the conjuncts of ``query_cli.filter_conditions``, the one definition of
the filter, which the CLI also applies. ``--from`` keeps NULL-timestamp
rows (reference collector.go:228-239), wildcards in
``--index``/``--partition`` become LIKE patterns, and the implied
``(tp_year*12+tp_month)`` bound is baked into each view so an external
session still gets partition-directory pruning (the views are the only
scan path an external client has).
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime

from tailpipe_spark.query_cli import filter_conditions, parse_time

#: init files older than this are swept on each connect (connect.go:175-229)
INIT_FILE_MAX_AGE_S = 86400


def _pruned_lists(catalog, tf, tt) -> dict:
    """table → pruned file list (manifest index) for time-bounded
    connects, or {} when no bound is set. A None value (index missing
    or stale) or an empty list falls back to the directory scan — the
    baked WHERE keeps results correct either way; the list is a scan
    OPTIMIZATION, never a correctness dependency."""
    if tf is None and tt is None:
        return {}
    out = {}
    for t in catalog.list_tables():
        files = catalog.pruned_files(t, time_from=tf, time_to=tt)
        out[t] = files or None
    return out


def _views(catalog, conds: list[str], pruned: dict | None, view) -> str:
    """One ``view(table, where)`` statement per table, each after a
    comment naming it and, for a time-bounded connect, a ``--
    pruned-files:`` hint: the manifest index's verdict, for external
    tools that can take explicit file lists. The engines themselves
    re-derive the skipping from the baked WHERE."""
    where = f"\nWHERE {' AND '.join(conds)}" if conds else ""
    stmts = []
    for t in catalog.list_tables():
        files = (pruned or {}).get(t)
        hint = "-- pruned-files: " + " ".join(sorted(files)) + "\n" if files else ""
        stmts.append(f"-- register workspace table {t}\n{hint}{view(t, where)}")
    return "\n".join(stmts)


def generate_sql_init(catalog, conds: list[str], pruned: dict | None = None) -> str:
    """Two temporary views per workspace table: ``tp_source_<t>`` reads
    the parquet with ``Catalog.spark_schema``, so ``tp_index=0123`` stays
    a string even where Spark's partition type inference is on (its
    default), and the view ``<t>`` filters it. ``SELECT * EXCEPT
    (tp_year, tp_month)`` hides the layout columns so an external
    ``select *`` sees the reference's schema (views.go does the same
    column elision on the DuckDB side)."""
    from tailpipe_spark.schema import ddl

    def view(t, where):
        return (
            f"CREATE OR REPLACE TEMPORARY VIEW `tp_source_{t}`\n"
            f"({ddl(catalog.spark_schema(t))})\n"
            f"USING parquet OPTIONS (path '{catalog.table_dir(t)}');\n"
            f"CREATE OR REPLACE TEMPORARY VIEW `{t}` AS\n"
            f"SELECT * EXCEPT (tp_year, tp_month)\n"
            f"FROM `tp_source_{t}`{where};\n"
        )

    header = (
        "-- generated by tailpipe-spark connect\n"
        f"-- workspace: {catalog.workspace}\n"
        "-- source with: spark-sql -i <this file>, or run each\n"
        "-- statement over Thrift/JDBC or spark.sql()\n\n"
    )
    return header + _views(catalog, conds, pruned, view)


#: code points Spark percent-escapes in hive dir names (control
#: characters, ``"#'*/:=?[\]^{`` and DEL), ``%`` itself last so that a
#: decoded ``%`` never starts another escape
_HIVE_ESCAPED = [*range(1, 32), *map(ord, '"#\'*/:=?[\\]^{'), 127, ord("%")]


def _hive_unescaped(col: str) -> str:
    """DuckDB expression: the hive value ``col`` as Spark reads it."""
    expr = f"NULLIF({col}, '__HIVE_DEFAULT_PARTITION__')"
    for c in _HIVE_ESCAPED:
        expr = f"replace({expr}, '%{c:02X}', chr({c}))"
    return expr


def generate_duckdb_init(catalog, conds: list[str], pruned: dict | None = None) -> str:
    """DuckDB twin — direct parity with the reference, whose connect
    verb emits exactly this kind of init file for ``duckdb --init``
    (cmd/connect.go:94-172): one view per table over read_parquet with
    hive partitioning, same filter conjuncts, layout columns hidden
    via EXCLUDE.

    The view source is always the glob, resolved at QUERY time like the
    reference's catalog views, so files collected after the script was
    generated stay visible to a long-lived session (a baked file list
    froze the file set at connect time). The script sets ``TimeZone``
    to UTC: DuckDB reads the stored timestamps as ``TIMESTAMPTZ`` and
    compares the baked ``TIMESTAMP`` bounds in its session zone.

    DuckDB 1.0 reads hive dir names as written, so one projection over
    ``read_parquet`` reads them as Spark does: ``hive_types`` keeps
    ``tp_index=123456789012`` a string, not a BIGINT, the percent-escapes
    in ``tp_partition``/``tp_index`` are decoded, and ``TRY_CAST`` reads a
    ``__HIVE_DEFAULT_PARTITION__`` ``tp_year``/``tp_month`` (NULL-timestamp
    rows) as NULL, where autocast would make the column VARCHAR and
    pinning it INTEGER would fail the scan."""

    def view(t, where):
        src = os.path.join(catalog.table_dir(t), "**", "*.parquet")
        return (
            f'CREATE OR REPLACE VIEW "{t}" AS\n'
            f"SELECT * EXCLUDE (tp_year, tp_month)\n"
            "FROM (SELECT * REPLACE (TRY_CAST(tp_year AS INTEGER) AS tp_year, "
            "TRY_CAST(tp_month AS INTEGER) AS tp_month, "
            f"{_hive_unescaped('tp_partition')} AS tp_partition, "
            f"{_hive_unescaped('tp_index')} AS tp_index)\n"
            f"FROM read_parquet('{src}', hive_partitioning=true, "
            "hive_types={'tp_partition': VARCHAR, 'tp_index': VARCHAR}, "
            f"union_by_name=true)){where};\n"
        )

    header = (
        "-- generated by tailpipe-spark connect (duckdb dialect)\n"
        f"-- workspace: {catalog.workspace}\n"
        "-- source with: duckdb --init <this file>\n\n"
        "SET TimeZone = 'UTC';\n\n"
    )
    return header + _views(catalog, conds, pruned, view)


def generate_pyspark_init(catalog, conds: list[str]) -> str:
    """The PySpark bootstrap twin (for pyspark-shell consumers): the
    same filter conjuncts, applied by ``Catalog.register_views`` before
    it hides the layout columns."""
    return "\n".join(
        [
            "# generated by tailpipe-spark connect",
            "from pyspark.sql import SparkSession",
            "from tailpipe_spark.catalog import Catalog",
            "spark = SparkSession.builder.getOrCreate()",
            f"catalog = Catalog({catalog.workspace!r})",
            f"catalog.register_views(spark, filters={conds!r})",
            "",
        ]
    )


def write_init_script(
    catalog,
    out_dir: str,
    dialect: str = "sql",
    time_from: str | None = None,
    time_to: str | None = None,
    index_patterns: list[str] | None = None,
    partition_patterns: list[str] | None = None,
    extra_filter: str | None = None,
    now: datetime | None = None,
) -> str:
    """Write the init script, sweep stale ones, return its path."""
    if extra_filter:
        # same lexical guard partition filters get (reference validates
        # connect filters through the partition path too,
        # internal/config/partition.go:139-186): the filter lands
        # verbatim in an executable init script, so statements,
        # comments, and reflection calls must be rejected here
        from tailpipe_spark.config import validate_filter_expression

        extra_filter = validate_filter_expression(extra_filter, "connect --filter")
    os.makedirs(out_dir, exist_ok=True)
    tf = parse_time(time_from, now) if time_from else None
    tt = parse_time(time_to, now) if time_to else None
    conds = filter_conditions(tf, tt, index_patterns, partition_patterns)
    if extra_filter:
        conds.append(f"({extra_filter})")
    if dialect in ("sql", "duckdb"):
        pruned = _pruned_lists(catalog, tf, tt)
        gen = generate_sql_init if dialect == "sql" else generate_duckdb_init
        body, ext = gen(catalog, conds, pruned), "sql"
    elif dialect == "pyspark":
        body, ext = generate_pyspark_init(catalog, conds), "py"
    else:
        raise ValueError(f"unknown connect dialect {dialect!r}")

    path = os.path.join(out_dir, f"init_{int(time.time() * 1000)}.{ext}")
    with open(path, "w") as f:
        f.write(body)
    cutoff = time.time() - INIT_FILE_MAX_AGE_S
    for name in os.listdir(out_dir):
        p = os.path.join(out_dir, name)
        if (
            (name.startswith("init_") or name.startswith("connect_"))
            and os.path.getmtime(p) < cutoff
        ):
            os.unlink(p)
    return path


def connect_response(path: str, error: str | None = None) -> str:
    """The --output json envelope (connect.go:231-258)."""
    res: dict = {"init_script_path": path}
    if error:
        res["error"] = error
    return json.dumps(res)
