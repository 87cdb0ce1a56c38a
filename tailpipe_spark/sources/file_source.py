"""File source: glob paths + grok-templated ``file_layout`` filename
matching, with layout fields surfaced as columns (reference contract:
core_formats.bats:22-28,178-183; internal/parse/load_config.go:91-97).

Listing happens driver-side (cheap metadata); the matched files feed a
single Spark read so the data path stays distributed. Layout fields
(e.g. ``plugin-%{YEAR:year}-%{MONTHNUM:month}.log``) become literal
columns per file via ``input_file_name()`` mapping — no per-row Python.

Cloud sources: paths may be URIs (``s3a://bucket/logs/*.json``,
``abfss://…``, ``file://…``) — the reference's product point is cloud
log collection via source plugins (internal/plugin/plugin_manager.go).
URI paths list through the Hadoop FileSystem API of the live Spark
session, so any filesystem the cluster mounts works unchanged, with the
same glob, directory-scan, and file_layout semantics as local paths.
``SourceConfig.options`` entries are applied to the Hadoop configuration
first (e.g. ``fs.s3a.access.key`` — the credential surface).
"""

from __future__ import annotations

import glob as _glob
import os
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tailpipe_spark.config import SourceConfig
from tailpipe_spark.sources.formats import read_with_format
from tailpipe_spark.sources.grok import compile_grok

_URI_RE = re.compile(r"^[a-z][a-z0-9+.-]*://")


@dataclass
class MatchedFile:
    path: str
    layout_fields: dict[str, str]
    mtime: float = 0.0


class FileSource:
    def __init__(self, config: SourceConfig):
        self.config = config
        self._layout = (
            compile_grok(config.file_layout) if config.file_layout else None
        )

    # --- listing ---
    def _candidate_paths(self, spark: SparkSession | None) -> list[tuple[str, float]]:
        out: list[tuple[str, float]] = []
        for pattern in self.config.paths:
            if _URI_RE.match(pattern):
                if spark is None:
                    raise ValueError(
                        f"URI source path {pattern!r} needs a SparkSession "
                        "for filesystem listing (pass spark to list_files)"
                    )
                out.extend(self._hadoop_expand(spark, pattern))
            else:
                paths = (
                    sorted(_glob.glob(pattern, recursive=True))
                    if any(ch in pattern for ch in "*?[")
                    else ([pattern] if os.path.exists(pattern) else [])
                )
                # a directory path means "scan it" (reference: paths name
                # the source dir, file_layout picks files —
                # core_formats.bats:22-28)
                for p in paths:
                    if os.path.isdir(p):
                        for root, _dirs, names in os.walk(p):
                            out.extend(
                                (os.path.join(root, n), os.path.getmtime(os.path.join(root, n)))
                                for n in sorted(names)
                            )
                    else:
                        out.append((p, os.path.getmtime(p)))
        return out

    @staticmethod
    def scoped_option_key(key: str, scheme: str, authority: str | None) -> str:
        """Rewrite a source option key to its narrowest per-resource form.

        ``fs.s3a.*`` keys become ``fs.s3a.bucket.<bucket>.*`` (Hadoop's
        documented per-bucket override mechanism) so two sources with
        different credentials/endpoints for different buckets never
        clobber each other in the shared Hadoop configuration, and a
        credential set for one bucket is not consulted for any other.
        Keys already bucket-scoped, keys for schemes without a
        per-resource form (gs, abfss account keys are self-scoped by key
        name), and URIs with no authority pass through unchanged."""
        if (
            scheme == "s3a"
            and authority
            and key.startswith("fs.s3a.")
            and not key.startswith("fs.s3a.bucket.")
        ):
            return f"fs.s3a.bucket.{authority}.{key[len('fs.s3a.'):]}"
        return key

    def _hadoop_expand(self, spark: SparkSession, pattern: str) -> list[tuple[str, float]]:
        """List a URI (glob, file, or directory) via Hadoop FileSystem —
        works for any scheme the cluster mounts (s3a, abfss, gs, file).

        Source options go into the session Hadoop configuration because
        the subsequent distributed ``spark.read`` resolves credentials
        from it too — but s3a keys are rewritten to the per-bucket form
        first (see :meth:`scoped_option_key`) so they stay scoped."""
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        from urllib.parse import urlparse

        parsed = urlparse(pattern)
        for k, v in (self.config.options or {}).items():
            hconf.set(self.scoped_option_key(k, parsed.scheme, parsed.netloc), str(v))
        jpath = jvm.org.apache.hadoop.fs.Path(pattern)
        fs = jpath.getFileSystem(hconf)
        statuses = (
            fs.globStatus(jpath)
            if any(ch in pattern for ch in "*?[")
            else ([fs.getFileStatus(jpath)] if fs.exists(jpath) else [])
        )
        out: list[tuple[str, float]] = []
        for st in statuses or []:
            if st.isDirectory():
                it = fs.listFiles(st.getPath(), True)  # recursive
                while it.hasNext():
                    f = it.next()
                    out.append(
                        (str(f.getPath()), f.getModificationTime() / 1000.0)
                    )
            else:
                out.append(
                    (str(st.getPath()), st.getModificationTime() / 1000.0)
                )
        return sorted(out)

    def list_files(self, spark: SparkSession | None = None) -> list[MatchedFile]:
        out: list[MatchedFile] = []
        for p, mtime in self._candidate_paths(spark):
            if self._layout is None:
                out.append(MatchedFile(p, {}, mtime))
                continue
            m = re.fullmatch(self._layout.regex, os.path.basename(p))
            if m:
                fields = {
                    name: m.group(gi)
                    for name, (gi, _typ) in self._layout.fields.items()
                }
                out.append(MatchedFile(p, fields, mtime))
        return out

    def read(self, spark: SparkSession, only_paths: list[str] | None = None) -> DataFrame:
        fmt = self.config.format
        if fmt is None:
            raise ValueError("file source needs a format")
        files = self.list_files(spark)
        if only_paths is not None:
            keep = set(only_paths)
            files = [f for f in files if f.path in keep]
        if not files:
            raise FileNotFoundError(
                f"no files match paths={self.config.paths} "
                f"layout={self.config.file_layout!r}"
            )
        df = read_with_format(spark, [f.path for f in files], fmt)
        if self._layout is not None:
            # map layout fields onto rows by source file, JVM-side.
            # input_file_name() is a URI, so compare the LAST path
            # segment for equality against both the raw and URI-quoted
            # basename — a bare endswith() would let 'app-2024.log'
            # shadow '1-app-2024.log' (suffix collision).
            from urllib.parse import quote

            fname = F.element_at(F.split(F.input_file_name(), "/"), -1)
            for name in self._layout.fields:
                expr = F.lit(None).cast("string")
                for f in files:
                    base = os.path.basename(f.path)
                    expr = (
                        F.when(
                            fname.isin(base, quote(base)),
                            F.lit(f.layout_fields[name]),
                        ).otherwise(expr)
                    )
                df = df.withColumn(name, expr)
        return df
