"""Parquet sink: per-stream directories with a real path/naming scheme.

The reference declared ``filepath`` and ``file_naming_scheme`` in its
config schema but never read them — output always landed in CWD as
``{stream}-{YYYYMMDDTHHMMSS}.parquet`` (W5, reference target.py:16-25 vs
writers.py:10-11,31-33).  This sink implements them for real:

- ``filepath``            output root (default: CWD)
- ``file_naming_scheme``  directory-name template, placeholders
                          ``{stream}`` and ``{timestamp}``; default
                          ``{stream}-{timestamp}`` mirrors the reference
- ``compression``         parquet codec (default snappy = reference's
                          pyarrow default, reference writers.py:31-33)
- ``partition_cols``      optional hive-style partitioning per stream
- ``max_records_per_file`` row-group-ish granularity (the reference's
                          10k batch buffer, reference sinks.py:118)

Key-properties metadata (W4, reference sinks.py:152-155): Spark's parquet
writer cannot inject footer metadata, so the primary-key declaration is
written as a ``_key_properties.json`` sidecar in the stream directory —
same information, readable without opening any data file.

Schema evolution (BUG-4 fix, reference tests/README.md:73-87): each schema
version appends its own part files to the same stream directory; readers
use ``spark.read.option("mergeSchema", "true")`` — no writer crash, no
corrupt file.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

from pyspark.sql import DataFrame

__all__ = ["ParquetStreamSink", "read_stream_output", "write_json_atomic"]


def write_json_atomic(path: str, payload, **dump_kw) -> None:
    """Write a JSON sidecar through a temp file and ``os.replace``: a crash
    or a failed dump leaves the previous file whole, never a truncated
    one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh, **dump_kw)
    os.replace(tmp, path)


class ParquetStreamSink:
    def __init__(self, config: dict | None = None):
        self.config = config or {}
        self.root = self.config.get("filepath") or os.getcwd()
        self.scheme = self.config.get("file_naming_scheme") or "{stream}-{timestamp}"
        self.compression = self.config.get("compression", "snappy")
        self.max_records_per_file = int(self.config.get("max_records_per_file", 0))
        self._dirs: dict[str, str] = {}
        self._timestamp = _dt.datetime.now().strftime("%Y%m%dT%H%M%S")

    def stream_dir(self, stream: str) -> str:
        """Stable per-stream output directory for the run (idempotent, like
        the reference's writer registry W2 — reference writers.py:27-29)."""
        if stream not in self._dirs:
            name = self.scheme.format(stream=stream, timestamp=self._timestamp)
            self._dirs[stream] = os.path.join(self.root, name)
        return self._dirs[stream]

    def write(
        self,
        stream: str,
        df: DataFrame,
        key_properties: list[str] | None = None,
    ) -> str:
        path = self.stream_dir(stream)
        writer = df.write.mode("append").option("compression", self.compression)
        if self.max_records_per_file:
            writer = writer.option("maxRecordsPerFile", self.max_records_per_file)
        partition_cols = (self.config.get("partition_cols") or {}).get(stream)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(path)
        if key_properties is not None:
            write_json_atomic(
                os.path.join(path, "_key_properties.json"),
                {"key_properties": key_properties},
            )
        return path

    def row_count(self, stream: str) -> int:
        """Metadata-only count from parquet footers (no data scan)."""
        import pyarrow.dataset as ds

        path = self._dirs.get(stream)
        if not path or not os.path.isdir(path):
            return 0
        return ds.dataset(path, format="parquet").count_rows()


def read_stream_output(spark, path: str) -> DataFrame:
    """Read-back contract for evolved streams: mergeSchema on."""
    return spark.read.option("mergeSchema", "true").parquet(path)


def compact_stream_dir(
    spark,
    path: str,
    target_records_per_file: int = 1_000_000,
    compression: str = "snappy",
) -> int:
    """Rewrite a stream directory's many small part files (one+ per
    micro-batch under the streaming target) into ~target-sized files.

    The at-scale maintenance job for any streaming parquet sink: small
    files destroy scan parallelism economics (per-file open cost, tiny row
    groups).  Works on a SNAPSHOT of the part files present at entry: the
    directory itself never disappears (a racing reader at worst sees a
    transiently reduced view), files appended by a live stream DURING the
    compaction are not in the snapshot and survive untouched, and the
    replaced snapshot files are moved into a ``_compact_trash`` subdir
    (invisible to Spark's file listing) before deletion, so no crash
    point silently loses rows — the earlier whole-directory rename+rmtree
    deleted concurrent appends outright.  Returns the snapshot row count.
    """
    import shutil

    # Hive-partitioned streams (partition_cols config) keep their data in
    # key=value subdirs with no top-level part files: recurse and compact
    # each partition leaf in place, preserving the layout (partition
    # values live in the dir names, not the files, so a per-leaf rewrite
    # round-trips exactly).
    names = os.listdir(path)
    total = 0
    for d in sorted(names):
        full = os.path.join(path, d)
        if "=" in d and not d.startswith((".", "_")) and os.path.isdir(full):
            total += compact_stream_dir(
                spark, full, target_records_per_file, compression
            )
    snapshot = sorted(
        f
        for f in names
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    if not snapshot:
        return total
    df = spark.read.option("mergeSchema", "true").parquet(
        *[os.path.join(path, f) for f in snapshot]
    )
    n = df.count()
    files = max(1, -(-n // target_records_per_file))
    # Staging dir name starts with "_" so Spark's file listing ignores it
    # wherever it lands.  For a partition LEAF the parent is the stream
    # read root: the old `<leaf>__compact_tmp` sibling matched partition
    # discovery there, so a racing reader double-counted (a bogus
    # day=a__compact_tmp partition value) and a crash left a permanently
    # discoverable duplicate — an underscore prefix makes both windows
    # invisible, and the recursion above skips it too.
    base = path.rstrip("/")
    tmp = os.path.join(
        os.path.dirname(base), f"_{os.path.basename(base)}__compact_tmp"
    )
    (
        df.repartition(files)
        .write.mode("overwrite")
        .option("compression", compression)
        .parquet(tmp)
    )
    # move the snapshot OUT to an underscore-prefixed trash dir (Spark
    # readers ignore it), move the compacted files IN, then drop trash
    trash = os.path.join(path, "_compact_trash")
    shutil.rmtree(trash, ignore_errors=True)
    os.makedirs(trash)
    for f in snapshot:
        os.rename(os.path.join(path, f), os.path.join(trash, f))
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            os.rename(
                os.path.join(tmp, f), os.path.join(path, f"compacted-{f}")
            )
    shutil.rmtree(tmp)
    shutil.rmtree(trash)
    return total + n
