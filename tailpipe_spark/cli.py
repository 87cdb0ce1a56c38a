"""CLI verbs mirroring the reference's UX (SURVEY.md §3):

  query    — run SQL over the workspace views (--from/--to/--index/
             --partition filters, --output csv|json|table)
  collect  — run a collection for a configured partition
  compact  — compact a table (--reindex)
  connect  — emit a PySpark bootstrap script registering the views
  list     — tables / partitions / stats introspection

Config comes from a YAML-ish JSON file (the HCL surface 1:1 — see
config.py docstrings for the block semantics).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame


def _build_spark(args=None):
    from tailpipe_spark.session import build_session

    settings = getattr(args, "settings", None) or {}
    extra_conf = {}
    if settings.get("memory_max_mb"):
        extra_conf["spark.driver.memory"] = f"{settings['memory_max_mb']}m"
    spark = build_session("tailpipe-cli", extra_conf=extra_conf or None)
    if settings.get("log_level"):
        spark.sparkContext.setLogLevel(str(settings["log_level"]).upper())
    return spark


def _catalog(args):
    from tailpipe_spark.catalog import Catalog

    return Catalog(args.workspace)


#: rows per chunk that ``render_stream`` emits
PAGE_SIZE = 1000


def render_stream(df: DataFrame, output: str, header: bool = True, separator: str = ","):
    """Stream result rendering (csv/json/table): rows arrive through
    ``toLocalIterator`` one partition at a time and are emitted in
    ``PAGE_SIZE`` chunks, so a select-* over a huge table never
    materializes on the driver — the reference streams results row by
    row the same way (reference: internal/query/execute.go:154-202 =
    A32, cmd/query.go:57-58 for the formats).

    For ``table`` output, column widths come from the first page only
    (a full-result width pass would defeat streaming).
    """
    import itertools

    cols = df.columns
    rows = df.toLocalIterator()

    def fetch():
        page = []
        for r in rows:
            page.append(r)
            if len(page) >= PAGE_SIZE:
                yield page
                page = []
        if page:
            yield page

    # the first page is fetched before anything is yielded: a query that
    # fails within it (a corrupt file) has then printed nothing, so
    # cmd_query can still quarantine and retry it
    fetched = fetch()
    pages = itertools.chain(list(itertools.islice(fetched, 1)), fetched)

    if output == "json":
        yield "["
        first = True
        for page in pages:
            body = ",\n".join(
                json.dumps({c: _jsonable(r[c]) for c in cols}, default=str)
                for r in page
            )
            yield body if first else ",\n" + body
            first = False
        yield "]"
        return

    if output == "csv":
        if header:
            yield separator.join(cols)
        for page in pages:
            yield "\n".join(
                separator.join("" if r[c] is None else str(r[c]) for c in cols)
                for r in page
            )
        return

    if output == "line":
        # one "column = value" line per column, rows separated by a
        # blank line (the reference's fourth format: .output line)
        first = True
        w = max((len(c) for c in cols), default=0)
        for page in pages:
            for r in page:
                if not first:
                    yield ""
                first = False
                for c in cols:
                    yield f"{c.ljust(w)} = {'' if r[c] is None else r[c]}"
        return

    # table: widths fixed after the first page
    widths = None
    for page in pages:
        if widths is None:
            widths = [
                max(len(c), *(len(str(r[c])) for r in page)) for c in cols
            ]
            yield " | ".join(c.ljust(w) for c, w in zip(cols, widths))
            yield "-+-".join("-" * w for w in widths)
        for r in page:
            yield " | ".join(
                str(r[c] if r[c] is not None else "").ljust(w)
                for c, w in zip(cols, widths)
            )
    if widths is None:  # empty result: still print the header
        widths = [len(c) for c in cols]
        yield " | ".join(c.ljust(w) for c, w in zip(cols, widths))
        yield "-+-".join("-" * w for w in widths)


def render(df: DataFrame, output: str, header: bool = True, separator: str = ",") -> str:
    """Materialized convenience wrapper over :func:`render_stream` (small
    results, tests). The CLI path prints the stream incrementally."""
    sep = "" if output == "json" else "\n"
    return sep.join(render_stream(df, output, header=header, separator=separator))


def _jsonable(v):
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return v


def _workspace_bytes(cat) -> int | None:
    """Data bytes across the workspace — the split-sizing hint."""
    from tailpipe_spark.session import input_bytes

    return input_bytes(cat.data_dir)


def cmd_query(args) -> int:
    from tailpipe_spark.session import tune_scan_splits

    spark = _build_spark(args)
    cat = _catalog(args)
    tune_scan_splits(spark, _workspace_bytes(cat))
    if args.sql is None:
        # reference: `tailpipe query` with no argument opens the
        # interactive shell (cmd/query.go:100-104)
        from tailpipe_spark.shell import Shell

        Shell(spark, cat).repl()
        return 0
    from datetime import datetime, timezone

    from tailpipe_spark.query_cli import filter_conditions, parse_time
    from tailpipe_spark.repair import is_corrupt_parquet_error, quarantine_invalid_files

    # Invalid-parquet files are quarantined and the query retried, like
    # the reference's error-retry loop (duck_db_error.go:25-80). Each
    # attempt rebuilds the views AND the plan — a retried DataFrame
    # would still carry the pre-quarantine file listing — and a retry is
    # only attempted while nothing has been printed yet (a streamed
    # partial page must never be emitted twice).
    # one `now` for both the file-index pruning bound and the row
    # filter, so relative T-7d forms can't straddle
    now = datetime.now(timezone.utc)
    tf = parse_time(args.time_from, now) if args.time_from else None
    tt = parse_time(args.time_to, now) if args.time_to else None
    filters = filter_conditions(tf, tt, args.index, args.partition)
    attempts = 0
    while True:
        emitted = False
        try:
            # registration reads footers too — keep it inside the retry
            cat.register_views(spark, filters, time_from=tf, time_to=tt)
            result = spark.sql(args.sql)
            if args.explain:
                result.explain(mode="formatted")
                return 0
            end = "" if args.output == "json" else "\n"
            for chunk in render_stream(
                result, args.output,
                header=not args.no_header, separator=args.separator,
            ):
                emitted = True
                print(chunk, end=end, flush=True)
            if args.output == "json":
                print()
            return 0
        except Exception as e:  # noqa: BLE001
            msg = str(e)
            if "TABLE_OR_VIEW_NOT_FOUND" in msg:
                # reference rewrites missing-table errors (execute.go:125-144)
                print(
                    "Error: no data has been collected for this table yet "
                    f"(underlying: {msg.splitlines()[0]})",
                    file=sys.stderr,
                )
                return 1
            if emitted or attempts >= 3 or not is_corrupt_parquet_error(e):
                raise
            moved = [
                p for t in cat.list_tables()
                for p in quarantine_invalid_files(cat, t)
            ]
            if not moved:
                raise  # nothing to remove: a retry cannot make progress
            attempts += 1


def cmd_collect(args) -> int:
    spark = _build_spark(args)
    cat = _catalog(args)

    from tailpipe_spark.synthetic import parse_synthetic_spec, run_synthetic_collect

    synth = [parse_synthetic_spec(p) for p in args.patterns]
    if any(synth):
        import tempfile

        for spec in filter(None, synth):
            out = run_synthetic_collect(spark, cat, spec, tempfile.mkdtemp(prefix="synth_"))
            print(json.dumps(out))
        return 0

    if not args.config:
        print(
            "error: --config is required (only synthetic_<N>cols_<M>rows_"
            "<C>chunk_<I>ms patterns run without one)",
            file=sys.stderr,
        )
        return 2
    if not os.path.exists(args.config):
        print(f"error: config file not found: {args.config}", file=sys.stderr)
        return 2
    cfg = _load_config(args.config)
    from tailpipe_spark.config import TableConfig, match_partitions
    from tailpipe_spark.collect import collect
    from tailpipe_spark.query_cli import parse_time

    partitions = {p.qualified_name: p for p in cfg["partitions"]}
    matched = match_partitions(args.patterns, partitions)
    for part in matched:
        # a partition may reference a table with no local table block:
        # fall back to installed-plugin table defaults (the reference's
        # plugin-defined tables), then to auto-mapping all source fields
        from tailpipe_spark.plugins import plugin_table

        table = (
            cfg["tables"].get(part.table)
            or plugin_table(part.table)
            or TableConfig(name=part.table)
        )

        # OOM-shaped failures retry with smaller work units (A39 — the
        # reference shrinks the conversion chunk on DuckDB OOM). Safe to
        # re-run: a failed append commits nothing and state persists
        # only on success.
        from tailpipe_spark.repair import run_with_oom_retry

        res = run_with_oom_retry(
            spark,
            lambda: collect(
                spark,
                cat,
                table,
                part,
                time_from=parse_time(args.time_from) if args.time_from else None,
                time_to=parse_time(args.time_to) if args.time_to else None,
                overwrite=args.overwrite,
                timestamp_source=args.timestamp_source,
            ),
        )
        print(
            f"collected {part.qualified_name}: {res.rows_written} rows "
            f"({res.rows_dropped} dropped{', null cols: ' + ','.join(res.null_columns) if res.null_columns else ''})"
        )
        if args.compact:
            from tailpipe_spark.compact import bucket_rewrite, compact_table

            if table.bucket_by and not cat.table_layout(part.table):
                # first collect into a bucket_by-configured table seeds
                # the layout; afterwards compact_table routes through
                # bucket_rewrite on its own (sticky layout)
                bucket_rewrite(
                    spark, cat, part.table, table.bucket_by, table.num_buckets
                )
            else:
                compact_table(spark, cat, part.table)
    return 0


def cmd_compact(args) -> int:
    spark = _build_spark(args)
    cat = _catalog(args)
    from tailpipe_spark.compact import compact_table

    zorder = (
        [c.strip() for c in args.zorder.split(",") if c.strip()]
        if args.zorder
        else None
    )
    if args.bucket_by:
        from tailpipe_spark.compact import bucket_rewrite

        spec, _, n = args.bucket_by.partition(":")
        cols = [c.strip() for c in spec.split(",") if c.strip()]
        num = int(n) if n else None
        for t in args.tables or cat.list_tables():
            summary = bucket_rewrite(
                spark, cat, t, cols, num, force=args.force
            )
            print(f"bucketed {t}: {summary}")
        return 0
    for t in args.tables or cat.list_tables():
        summary = compact_table(
            spark, cat, t, reindex_expr=args.reindex, zorder_by=zorder
        )
        print(f"compacted {t}: {summary}")
    return 0


def cmd_connect(args) -> int:
    """Emit an init script registering the workspace views — the
    reference's init-script handshake (cmd/connect.go:94-172). Default
    dialect is plain SQL for spark-sql/Thrift/JDBC clients; --dialect
    pyspark keeps the bootstrap-module form. --output json wraps the
    path in the machine envelope (connect.go:231-258)."""
    from tailpipe_spark.connect import connect_response, write_init_script

    cat = _catalog(args)
    try:
        path = write_init_script(
            cat,
            out_dir=args.out_dir,
            dialect=args.dialect,
            time_from=args.time_from,
            time_to=args.time_to,
            index_patterns=args.index,
            partition_patterns=args.partition,
            extra_filter=args.filter,
        )
    except Exception as exc:  # noqa: BLE001 — reported per output mode
        if args.output == "json":
            print(connect_response("", str(exc)))
        else:
            print(f"error: {exc}", file=sys.stderr)
        return 1
    print(connect_response(path) if args.output == "json" else path)
    return 0


def _describe_source(src) -> dict | None:
    if src is None:
        return None
    return {
        "paths": src.paths,
        "file_layout": src.file_layout,
        "format": vars(src.format) if src.format else None,
        "options": src.options,
    }


def _describe_partition(p) -> dict:
    return {
        "table": p.table,
        "name": p.name,
        "filter": p.filter,
        "tp_index": p.tp_index,
        "source": _describe_source(p.source),
    }


def cmd_list(args) -> int:
    """Introspection verbs (reference: partition/source/format list+show
    — tests/acceptance/test_files/introspection.bats)."""
    if args.what in ("partitions", "sources", "formats"):
        if not args.config:
            print("error: --config is required to list config blocks", file=sys.stderr)
            return 2
        cfg = _load_config(args.config)
        if args.what == "partitions":
            out = [_describe_partition(p) for p in cfg["partitions"]]
        elif args.what == "sources":
            out = [
                {"partition": p.qualified_name, **(_describe_source(p.source) or {})}
                for p in cfg["partitions"]
                if p.source is not None
            ]
        else:
            from tailpipe_spark.config import FORMAT_PRESETS

            out = {
                name: vars(f)
                for name, f in {**FORMAT_PRESETS, **cfg["formats"]}.items()
            }
        print(json.dumps(out, indent=1))
        return 0
    cat = _catalog(args)
    if args.what == "tables":
        out = []
        for t in cat.list_tables():
            stats = cat.file_stats(t)
            out.append(
                {"table": t, "rows": stats["rows"], "files": stats["files"],
                 "bytes": stats["bytes"], "columns": cat.table_schema(t)}
            )
        print(json.dumps(out, indent=1))
    elif args.what == "snapshots":
        print(json.dumps(cat._load()["snapshots"], indent=1))
    return 0


def cmd_show(args) -> int:
    """`show partition|table|format <name>` → JSON detail (reference:
    introspection.bats 'partition show displays correct JSON')."""
    if args.kind == "table" and not args.config:
        cat = _catalog(args)
        try:
            schema = cat.table_schema(args.name)
        except KeyError:
            print(f"error: table {args.name!r} not found", file=sys.stderr)
            return 1
        stats = cat.file_stats(args.name)
        print(json.dumps({"table": args.name, "columns": schema, **stats}, indent=1))
        return 0
    if not args.config:
        print("error: --config is required", file=sys.stderr)
        return 2
    cfg = _load_config(args.config)
    if args.kind == "partition":
        for p in cfg["partitions"]:
            if p.qualified_name == args.name or p.name == args.name:
                print(json.dumps(_describe_partition(p), indent=1))
                return 0
    elif args.kind == "source":
        # reference: `tailpipe source show <name>` (cmd/source.go:111-113);
        # sources live on partitions here, addressed by partition name
        for p in cfg["partitions"]:
            if (
                p.source is not None
                and (p.qualified_name == args.name or p.name == args.name)
            ):
                print(
                    json.dumps(
                        {"partition": p.qualified_name, **_describe_source(p.source)},
                        indent=1,
                    )
                )
                return 0
    elif args.kind == "table":
        t = cfg["tables"].get(args.name)
        if t is not None:
            print(
                json.dumps(
                    {
                        "name": t.name,
                        "columns": [vars(c) for c in t.columns],
                        "map_fields": t.map_fields,
                        "null_if": t.null_if,
                    },
                    indent=1,
                )
            )
            return 0
    else:
        from tailpipe_spark.config import FORMAT_PRESETS

        f = {**FORMAT_PRESETS, **cfg["formats"]}.get(args.name)
        if f is not None:
            print(json.dumps(vars(f), indent=1))
            return 0
    print(f"error: {args.kind} {args.name!r} not found", file=sys.stderr)
    return 1


def _parse_plugin_ref(ref: str) -> tuple[str | None, str]:
    """Reference plugin-ref syntax ``[registry/org/]name[@version]``
    (reference: cmd/plugin.go:78-98, internal/ociinstaller) → (dist
    name or None, pip requirement). ``name@1.2.0`` pins the version
    (pip ``name==1.2.0``); wheel / sdist / existing filesystem paths
    pass through verbatim (dist name unknowable until pip resolves)."""
    if ref.endswith((".whl", ".tar.gz", ".zip")) or os.path.exists(ref):
        return None, ref
    base = ref.rstrip("/").split("/")[-1]
    name, sep, ver = base.partition("@")
    if sep and ver:
        return name, f"{name}=={ver}"
    return base, base


def _uninstall_from_target(target: str, dist: str) -> bool:
    """Remove a distribution pip-installed with ``--target`` (pip
    itself refuses to uninstall from a --target dir): delete every
    RECORD-listed file under the target, then the dist-info dir."""
    import glob as _glob
    import shutil

    norm = dist.replace("-", "_")
    infos = _glob.glob(os.path.join(target, f"{norm}-*.dist-info"))
    if not infos:
        return False
    for info in infos:
        record = os.path.join(info, "RECORD")
        root = os.path.abspath(target)
        if os.path.exists(record):
            with open(record, encoding="utf-8") as fh:
                for line in fh:
                    rel = line.split(",")[0].strip()
                    if not rel:
                        continue
                    p = os.path.abspath(os.path.join(root, rel))
                    # RECORD paths are target-relative; refuse traversal
                    if p.startswith(root + os.sep) and os.path.isfile(p):
                        os.remove(p)
        shutil.rmtree(info, ignore_errors=True)
    return True


def _prune_target_duplicates(target: str) -> None:
    """pip ``--target`` upgrades overwrite the package files but leave
    the old version's ``*.dist-info`` behind, so importlib.metadata can
    resolve the stale version. Keep only the newest dist-info per
    distribution (dir removal only — the RECORD-listed module files are
    shared with the new version and must survive)."""
    import glob as _glob
    import re
    import shutil

    by_dist: dict[str, list[tuple[tuple, str]]] = {}
    for info in _glob.glob(os.path.join(target, "*.dist-info")):
        m = re.match(r"(.+)-([^-]+)\.dist-info$", os.path.basename(info))
        if not m:
            continue
        ver_key = tuple(
            int(p) if p.isdigit() else -1 for p in m.group(2).split(".")
        )
        by_dist.setdefault(m.group(1), []).append((ver_key, info))
    for versions in by_dist.values():
        for _, stale in sorted(versions)[:-1]:
            shutil.rmtree(stale, ignore_errors=True)


def cmd_plugin(args) -> int:
    """Extension-package verbs (reference: cmd/plugin.go:49-142 —
    `tailpipe plugin list/show/install/update [--all]/uninstall`,
    refs ``[registry/org/]name[@version]``). Python packaging is this
    engine's plugin distribution channel, so install/update/uninstall
    bridge to pip, then rescan the entry-point group and report the
    newly contributed surface plus the resolved installed versions."""
    from tailpipe_spark import plugins

    if args.action in ("install", "update", "uninstall"):
        if args.action == "update" and getattr(args, "all", False):
            dists = sorted({p.dist for p in plugins.load_all() if p.dist})
            if not dists:
                print(json.dumps({"action": "update", "packages": []}, indent=1))
                return 0
            targets = [(d, d) for d in dists]
        elif not args.name:
            print(f"error: plugin {args.action} needs a package name", file=sys.stderr)
            return 2
        else:
            targets = [_parse_plugin_ref(args.name)]
        before = {p.name: p.describe() for p in plugins.load_all()}
        import subprocess

        pip_target = getattr(args, "target", None)
        for dist, spec in targets:
            if args.action == "uninstall":
                if pip_target:
                    if not _uninstall_from_target(pip_target, dist or spec):
                        print(
                            f"error: {dist or spec!r} not found in {pip_target}",
                            file=sys.stderr,
                        )
                        return 1
                    continue
                pip_args = ["uninstall", "-y", dist or spec]
            else:
                pip_args = ["install", spec]
                if args.action == "update":
                    pip_args.insert(1, "--upgrade")
                if pip_target:
                    pip_args += ["--target", pip_target]
                if getattr(args, "index_url", None):
                    pip_args += ["--index-url", args.index_url]
                if getattr(args, "find_links", None):
                    pip_args += ["--find-links", args.find_links]
                if getattr(args, "no_index", False):
                    pip_args += ["--no-index"]
            proc = subprocess.run(
                [sys.executable, "-m", "pip", "--disable-pip-version-check", *pip_args],
                capture_output=True,
                text=True,
            )
            if proc.returncode != 0:
                print(
                    f"error: pip {args.action} {spec} failed:\n{proc.stderr}",
                    file=sys.stderr,
                )
                return 1
        if pip_target and args.action in ("install", "update"):
            _prune_target_duplicates(pip_target)
        # fresh interpreter metadata: a newly installed dist must be
        # visible to entry_points() even if this process imported
        # importlib.metadata before the install; a --target dir must be
        # importable for its entry points to resolve
        import importlib

        if pip_target and pip_target not in sys.path:
            sys.path.insert(0, pip_target)
        importlib.invalidate_caches()
        after = {p.name: p.describe() for p in plugins.load_all(refresh=True)}
        added = {n: d for n, d in after.items() if n not in before}
        removed = sorted(n for n in before if n not in after)
        # resolved versions for reproducibility: what pip actually chose
        versions = sorted(
            {
                (d["distribution"], d["version"])
                for d in after.values()
                if d["distribution"]
            }
        )
        print(
            json.dumps(
                {
                    "action": args.action,
                    "package": args.name,
                    "packages": [spec for _, spec in targets],
                    "plugins_added": added,
                    "plugins_removed": removed,
                    "plugins_installed": sorted(after),
                    "installed_versions": [
                        {"distribution": d, "version": v} for d, v in versions
                    ],
                },
                indent=1,
            )
        )
        return 0

    found = plugins.load_all()
    if args.action == "list":
        print(json.dumps([p.describe() for p in found], indent=1))
        return 0
    match = [p for p in found if p.name == args.name or p.dist == args.name]
    if not match:
        print(f"error: no installed plugin named {args.name!r}", file=sys.stderr)
        return 1
    print(json.dumps(match[0].describe(), indent=1))
    return 0


def cmd_migrate(args) -> int:
    """A34: the reference's migration verb (internal/migration/
    migration.go:38-160) — legacy parquet → hive layout + catalog."""
    from tailpipe_spark.migrate import migrate_legacy_table

    spark = _build_spark(args)
    cat = _catalog(args)
    rows = migrate_legacy_table(
        spark,
        cat,
        args.legacy_path,
        args.table,
        partition=args.partition,
        timestamp_col=args.timestamp_col,
        index_expr=args.index_expr,
    )
    print(f"migrated {rows} rows from {args.legacy_path} into {args.table}")
    return 0


def _load_config(path: str) -> dict:
    """Config file or dir → TableConfig/PartitionConfig objects.
    HCL (.tpc/.hcl — the reference's native format) or the JSON mirror."""
    from tailpipe_spark.config_io import load_config

    return load_config(path)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="tailpipe-spark")
    # resolved later through the workspace-profile precedence chain
    # (flag > explicit profile > env > default profile > baked default —
    # reference: internal/cmdconfig/cmd_hooks.go:185-200)
    ap.add_argument("--workspace", default=None)
    ap.add_argument("--profile", default=None,
                    help="named workspace profile (reference --workspace)")
    ap.add_argument("--config-dir", default=None,
                    help="directory holding workspace profile blocks")
    sub = ap.add_subparsers(dest="cmd", required=True)

    q = sub.add_parser("query")
    # no SQL argument → interactive shell, like the reference
    # (cmd/query.go:100-104 drops into the REPL when no args are given)
    q.add_argument("sql", nargs="?")
    q.add_argument("--from", dest="time_from")
    q.add_argument("--to", dest="time_to")
    q.add_argument("--index", action="append")
    q.add_argument("--partition", action="append")
    q.add_argument("--output", choices=["csv", "json", "table", "line"], default="csv")
    q.add_argument("--no-header", action="store_true")
    q.add_argument("--separator", default=",")
    q.add_argument("--explain", action="store_true",
                   help="print the formatted physical plan instead of results")
    q.set_defaults(fn=cmd_query)

    c = sub.add_parser("collect")
    c.add_argument("patterns", nargs="+")
    c.add_argument("--config")
    c.add_argument("--from", dest="time_from")
    c.add_argument("--to", dest="time_to")
    c.add_argument("--overwrite", action="store_true")
    c.add_argument("--compact", action="store_true", default=True)
    c.add_argument("--no-compact", dest="compact", action="store_false")
    c.add_argument("--timestamp-source", default="tp_timestamp")
    c.set_defaults(fn=cmd_collect)

    k = sub.add_parser("compact")
    k.add_argument("tables", nargs="*")
    k.add_argument("--reindex")
    k.add_argument(
        "--zorder",
        help="comma-separated 2-4 columns: cluster rewritten chunks on "
        "the interleaved z-value for multi-column pruning",
    )
    k.add_argument(
        "--bucket-by",
        dest="bucket_by",
        help="cols[:N] — rewrite into a bucketed layout (hash-clustered "
        "by the comma-separated keys into N buckets; N auto-sizes from "
        "table bytes when omitted). Joins between same-bucketed tables "
        "then plan with no Exchange on either side.",
    )
    k.add_argument(
        "--force",
        action="store_true",
        help="acknowledge the small-table fragmentation warning: rewrite "
        "into the bucketed layout even when the projected per-file size "
        "(table bytes / (hive dirs x buckets)) is under 8 MB",
    )
    k.set_defaults(fn=cmd_compact)

    n = sub.add_parser("connect")
    n.add_argument("--filter")
    n.add_argument("--from", dest="time_from")
    n.add_argument("--to", dest="time_to")
    n.add_argument("--index", action="append")
    n.add_argument("--partition", action="append")
    n.add_argument(
        "--dialect", choices=["sql", "duckdb", "pyspark"], default="sql"
    )
    n.add_argument("--output", choices=["text", "json"], default="text")
    n.add_argument("--out-dir", default="/tmp/tailpipe_spark_connect")
    n.set_defaults(fn=cmd_connect)

    ls = sub.add_parser("list")
    ls.add_argument(
        "what", choices=["tables", "snapshots", "partitions", "sources", "formats"]
    )
    ls.add_argument("--config")
    ls.set_defaults(fn=cmd_list)

    sh = sub.add_parser("show", help="JSON detail for one config block or table")
    sh.add_argument("kind", choices=["partition", "table", "format", "source"])
    sh.add_argument("name")
    sh.add_argument("--config")
    sh.set_defaults(fn=cmd_show)

    mg = sub.add_parser("migrate", help="copy a legacy parquet dir into the workspace layout")
    mg.add_argument("legacy_path")
    mg.add_argument("table")
    mg.add_argument("--partition", default="migrated")
    mg.add_argument("--timestamp-col", default="tp_timestamp")
    mg.add_argument("--index-expr")
    mg.set_defaults(fn=cmd_migrate)

    pl = sub.add_parser(
        "plugin",
        help="installed extension packages (entry-point group "
        "tailpipe_spark.plugins; reference: cmd/plugin.go)",
    )
    pl.add_argument(
        "action", choices=["list", "show", "install", "update", "uninstall"]
    )
    pl.add_argument("name", nargs="?")
    pl.add_argument(
        "--all", action="store_true",
        help="update every installed plugin distribution (update --all)",
    )
    pl.add_argument("--index-url", help="pip index pass-through for install/update")
    pl.add_argument(
        "--find-links", help="pip --find-links pass-through (local wheel dirs)"
    )
    pl.add_argument(
        "--no-index", action="store_true",
        help="pip --no-index pass-through (air-gapped installs)",
    )
    pl.add_argument(
        "--target",
        help="install into / uninstall from this directory instead of "
        "site-packages (pip --target; dir is added to sys.path for discovery)",
    )
    pl.set_defaults(fn=cmd_plugin)

    args = ap.parse_args(argv)
    from tailpipe_spark.workspace import resolve_settings

    args.settings = resolve_settings(
        flags={"workspace_dir": args.workspace},
        profile=args.profile,
        config_dir=args.config_dir,
    )
    args.workspace = args.settings["workspace_dir"]
    # diagnostic dump-and-exit, the reference's TAILPIPE_CONFIG_DUMP
    # handshake its precedence acceptance tests drive (connect.go:115-118)
    if os.environ.get("TAILPIPE_SPARK_CONFIG_DUMP"):
        print(json.dumps(args.settings, indent=1))
        return 0
    # plugin-contributed presets/tables must exist before any config
    # resolution; a broken plugin is reported by `plugin list`, not here
    from tailpipe_spark import plugins

    plugins.load_all()
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
