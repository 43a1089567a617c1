"""Singer JSONL as a Spark write format:
``df.write.format("singer").option("stream", "users").save(path)``.

Spark 4's Python DataSource API (`pyspark.sql.datasource`) lets a format
plug into the writer surface directly.  Each task writes a
self-describing shard of Singer messages (a SCHEMA line, then RECORD
lines), so a DataFrame becomes tap output that any Singer target can
consume::

    spark.dataSource.register(SingerDataSource)
    df.write.format("singer").option("stream", "users").mode("append").save(out)

This module is a writer only.  Singer files are read through the
target's own record pipeline, ``SingerTarget.read_records(path,
stream)``: the same SCHEMA-version routing, widening and decode as an
ingest run, so what a read returns is what the target would write.

Reference parity: the reference (hotgluexyz/target-parquet) consumes
Singer messages only through its CLI stdin loop
(``target_parquet/__init__.py``); it has no Singer *format* at all.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.datasource import DataSource, DataSourceWriter, WriterCommitMessage
from pyspark.sql import types as T

__all__ = ["SingerDataSource"]


class SingerDataSource(DataSource):
    """Write a DataFrame as Singer JSONL message shards.

    Options:
      * ``path`` — output directory.
      * ``stream`` — stream name of the messages (default ``stream``).
      * ``key_properties`` — comma-separated key columns for the SCHEMA.
    """

    @classmethod
    def name(cls) -> str:
        return "singer"

    def writer(self, schema, overwrite: bool):
        path = self.options.get("path")
        if not path:
            raise ValueError("singer data source requires a path")
        stream = self.options.get("stream", "stream")
        keys = [
            k.strip()
            for k in self.options.get("key_properties", "").split(",")
            if k.strip()
        ]
        return _SingerWriter(path, schema, stream, keys, overwrite)


def _json_schema_of(dt: T.DataType) -> dict:
    """Inverse of schema.resolve_property for the writer: Spark type ->
    Singer JSON-Schema property (always nullable — Spark columns are)."""
    if isinstance(dt, T.TimestampType):
        return {"type": ["string", "null"], "format": "date-time"}
    if isinstance(dt, T.LongType) or isinstance(dt, T.IntegerType):
        return {"type": ["integer", "null"]}
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType)):
        return {"type": ["number", "null"]}
    if isinstance(dt, T.BooleanType):
        return {"type": ["boolean", "null"]}
    return {"type": ["string", "null"]}


def _json_value(v):
    if v is None:
        return None
    if isinstance(v, datetime):
        # Spark hands workers naive datetimes in the session timezone;
        # every session in this engine runs UTC (see queries.t) — make
        # the shard self-describing by emitting the explicit offset
        # (RFC3339) instead of a naive string
        if v.tzinfo is None:
            v = v.replace(tzinfo=timezone.utc)
        return v.isoformat()
    if isinstance(v, float) and not math.isfinite(v):
        # NaN/Infinity are not valid JSON tokens — repair to NULL (the
        # engine's contract) instead of emitting an unparseable shard
        return None
    if isinstance(v, (str, bool, int, float)):
        return v
    return str(v)


@dataclass
class _SingerCommit(WriterCommitMessage):
    path: str
    n_records: int


class _SingerWriter(DataSourceWriter):
    """Emit a DataFrame as Singer JSONL message shards: every partition
    writes a self-describing file (SCHEMA message first, then its RECORD
    lines) so each shard is independently consumable by any Singer
    target — including ``SingerTarget.read_records`` (round-trip pinned
    in tests).

    Two-phase commit on plain files: tasks write ``*.jsonl.pending``
    and return the path; the driver's commit() renames the committed
    attempts to ``*.jsonl`` and writes the ``_SUCCESS`` manifest.
    Failed or speculative attempts leave only ``.pending`` files, which
    ``read_records`` skips — a partial shard can never be read as data.  In
    overwrite mode the OLD shards are deleted inside commit(), after
    every task has succeeded, so a failed overwrite leaves the previous
    output intact; in append mode the manifest merges with the existing
    one so it always names all live shards."""

    def __init__(self, path, schema, stream, keys, overwrite):
        self.path = path
        self.schema = schema
        self.stream = stream
        self.keys = keys
        self.overwrite = overwrite
        os.makedirs(path, exist_ok=True)

    def _schema_line(self) -> str:
        return json.dumps(
            {
                "type": "SCHEMA",
                "stream": self.stream,
                "schema": {
                    "type": "object",
                    "properties": {
                        f.name: _json_schema_of(f.dataType)
                        for f in self.schema.fields
                    },
                },
                "key_properties": self.keys,
            }
        )

    def write(self, iterator):
        import uuid

        names = [f.name for f in self.schema.fields]
        out = os.path.join(
            self.path, f"part-{uuid.uuid4().hex}.jsonl.pending"
        )
        n = 0
        with open(out, "w", encoding="utf-8") as fh:
            fh.write(self._schema_line() + "\n")
            for row in iterator:
                rec = {
                    k: _json_value(v) for k, v in zip(names, tuple(row))
                }
                fh.write(
                    json.dumps(
                        {"type": "RECORD", "stream": self.stream,
                         "record": rec},
                        separators=(",", ":"),
                    )
                    + "\n"
                )
                n += 1
        return _SingerCommit(path=out, n_records=n)

    def commit(self, messages):
        final = {}  # basename -> n_records, for the manifest
        marker = os.path.join(self.path, "_SUCCESS")
        # snapshot the OLD shard names before promoting anything (uuid
        # names cannot collide with the new attempt's files)
        old = (
            [f for f in os.listdir(self.path) if f.endswith(".jsonl")]
            if self.overwrite
            else []
        )
        if not self.overwrite and os.path.exists(marker):
            # append: the manifest keeps naming prior jobs' shards
            with open(marker, "r", encoding="utf-8") as fh:
                for line in fh:
                    parts = line.rstrip("\n").split("\t")
                    if len(parts) == 2:
                        final[parts[0]] = parts[1]
        # promote FIRST: a crash mid-commit leaves old+new coexisting
        # (duplication, recoverable via the manifest) instead of a
        # directory with neither — delete-old-last is the safe order
        for m in messages:
            if m is None:
                continue
            dst = m.path[: -len(".pending")]
            os.replace(m.path, dst)
            final[os.path.basename(dst)] = str(m.n_records)
        with open(marker, "w", encoding="utf-8") as fh:
            for name in sorted(final):
                fh.write(f"{name}\t{final[name]}\n")
        for f in old:
            p = os.path.join(self.path, f)
            if os.path.exists(p):
                os.remove(p)

    def abort(self, messages):
        # best-effort: known attempts are removed here; unknown (dead
        # executor) attempts remain as .pending, which readers skip
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
