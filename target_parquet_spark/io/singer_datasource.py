"""Singer JSONL as a first-class Spark data source:
``spark.read.format("singer").load(path)``.

Spark 4's Python DataSource API (`pyspark.sql.datasource`) lets a
format plug into the reader surface directly — schema inference,
per-file partitions, Arrow-batched record yield.  This wraps the
engine's existing Singer machinery (``schema.resolve_schema`` for
SCHEMA-message DDL, the same type-resolution rules the target uses) so
Singer tap output can be explored ad hoc::

    spark.dataSource.register(SingerDataSource)
    df = spark.read.format("singer").option("stream", "users").load("out/*.jsonl")

Division of labor — this is the CONVENIENCE surface, not the 100 TB
path: the production ingest (`target.py` / `io/singer_source.py`) stays
on the JVM route (text scan + ``from_json`` + Column-expression
coercion, whole-stage codegen).  A Python data source pays one Python
worker hop per partition; for interactive reads, tests, and small
backfills that's irrelevant, and partition-per-file parallelism still
applies.

Reference parity: the reference (hotgluexyz/target-parquet) consumes
Singer messages only through its CLI stdin loop
(``target_parquet/__init__.py``); it has no readable *format* at all.
This module makes the message files themselves a queryable table.
"""

from __future__ import annotations

import glob as _glob
import json
import math
import os
import re
import warnings
from dataclasses import dataclass
from datetime import datetime, timezone

from dateutil import parser as du

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from target_parquet_spark.coerce import TZ_ABBREV_OFFSETS
from target_parquet_spark.schema import resolve_schema

__all__ = ["SingerDataSource"]


def _readable(name: str) -> bool:
    # skip writer staging files and markers: an uncommitted .pending
    # shard (dead/speculative task attempt) must NEVER be read as data
    return not (name.endswith(".pending") or os.path.basename(name) == "_SUCCESS")


def _expand(path: str) -> list[str]:
    if os.path.isdir(path):
        out = []
        for root, _dirs, files in os.walk(path):
            out.extend(
                os.path.join(root, f) for f in sorted(files) if _readable(f)
            )
        return sorted(out)
    hits = sorted(p for p in _glob.glob(path) if _readable(p))
    if not hits:
        # a literal filename containing glob metacharacters ([1], ?) is
        # not a match failure — fall back to the file itself if present
        if os.path.exists(path):
            return [path]
        raise FileNotFoundError(f"singer source: no files match {path!r}")
    return hits


def _first_schema_msg(paths: list[str], stream: str | None) -> dict:
    for p in paths:
        with open(p, "r", encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    msg = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if msg.get("type") == "SCHEMA" and (
                    stream is None or msg.get("stream") == stream
                ):
                    return msg
    raise ValueError(
        "no SCHEMA message found"
        + (f" for stream {stream!r}" if stream else "")
    )


class SingerDataSource(DataSource):
    """Read Singer JSONL message files as a table of RECORD rows.

    Options:
      * ``path`` — file, directory, or glob of Singer JSONL files.
      * ``stream`` — optional stream name; defaults to the first SCHEMA
        message's stream.
    """

    @classmethod
    def name(cls) -> str:
        return "singer"

    def _paths(self) -> list[str]:
        path = self.options.get("path")
        if not path:
            raise ValueError("singer data source requires a path")
        return _expand(path)

    def _schema_msg(self) -> dict:
        # one driver-side scan per load: schema() and reader() share the
        # discovered SCHEMA message instead of re-reading the files
        if not hasattr(self, "_schema_msg_cache"):
            self._schema_msg_cache = _first_schema_msg(
                self._paths(), self.options.get("stream")
            )
        return self._schema_msg_cache

    def schema(self):
        fields = resolve_schema(self._schema_msg()["schema"])
        return T.StructType(
            [T.StructField(f.name, f.spark_type, True) for f in fields]
        )

    def reader(self, schema):
        stream = self.options.get("stream") or self._schema_msg().get("stream")
        return _SingerReader(self._paths(), schema, stream)

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


class _SingerReader(DataSourceReader):
    def __init__(self, paths: list[str], schema, stream: str | None):
        self.paths = paths
        self.schema = schema
        self.stream = stream
        # (name, converter) per field, resolved once driver-side
        self.converters = [
            (f.name, _converter(f.dataType)) for f in schema.fields
        ]

    def partitions(self):
        # one partition per input file: the natural parallelism of a
        # tap's sharded output, and each worker opens exactly one file
        return [InputPartition(p) for p in self.paths]

    def read(self, partition):
        with open(partition.value, "r", encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    msg = json.loads(line)
                except json.JSONDecodeError:
                    continue  # reference behavior: non-JSON lines skipped
                if msg.get("type") != "RECORD":
                    continue
                if self.stream is not None and msg.get("stream") != self.stream:
                    continue
                rec = msg.get("record") or {}
                yield tuple(conv(rec.get(name)) for name, conv in self.converters)


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
    target — including this module's own reader (round-trip pinned in
    tests).

    Two-phase commit on plain files: tasks write ``*.jsonl.pending``
    and return the path; the driver's commit() renames the committed
    attempts to ``*.jsonl`` and writes the ``_SUCCESS`` manifest.
    Failed or speculative attempts leave only ``.pending`` files, which
    the reader skips — a partial shard can never be read as data.  In
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


# coerce.TZ_ABBREV_OFFSETS in seconds, as dateutil's ``tzinfos`` takes it
_TZINFOS = {
    k: (-1 if off[0] == "-" else 1) * (int(off[1:3]) * 3600 + int(off[4:6]) * 60)
    for k, off in TZ_ABBREV_OFFSETS.items()
}

_LONG_MIN, _LONG_MAX = -(2**63), 2**63 - 1
_INT_RE = re.compile(r"^[+-]?[0-9]+$")
_NUM_RE = re.compile(r"^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?$")


def _converter(dt: T.DataType):
    """Python-side twin of coerce.py's cast rules for the primitive
    types a Singer schema resolves to; unparseable values -> None (the
    engine's repair-to-NULL contract).  Each branch mirrors the batch
    path's semantics: booleans accept only the try_cast('boolean')
    spellings, integers REJECT non-integral input rather than truncate,
    timestamps parse as dateutil does with coerce.TZ_ABBREV_OFFSETS as
    its ``tzinfos`` -- the contract coerce.lenient_timestamp is pinned
    to -- and are truncated to millisecond precision."""
    if isinstance(dt, T.TimestampType):

        def conv_ts(v):
            if v is None or v == "":
                return None
            s = str(v).strip()
            try:
                d = datetime.fromisoformat(s.replace("Z", "+00:00"))
            except ValueError:
                # dateutil only warns on an unknown zone name and returns
                # the naive clock time; the batch path nulls that string
                with warnings.catch_warnings():
                    warnings.simplefilter("error", du.UnknownTimezoneWarning)
                    try:
                        d = du.parse(s, tzinfos=_TZINFOS)
                    except (ValueError, OverflowError, du.UnknownTimezoneWarning):
                        return None
            if d.tzinfo is None:
                d = d.replace(tzinfo=timezone.utc)
            # millisecond truncation: the engine writes ms-precision
            # parquet (coerce.py date_trunc('millisecond'))
            return d.replace(microsecond=d.microsecond - d.microsecond % 1000)

        return conv_ts
    if isinstance(dt, T.DoubleType):

        def conv_num(v):
            if v is None or v == "" or isinstance(v, bool):
                return None
            if isinstance(v, (int, float)):
                try:
                    return float(v)
                except OverflowError:
                    # a >308-digit JSON integer: the JVM double cast
                    # saturates to +/-Infinity — mirror, never crash
                    return float("inf") if v > 0 else float("-inf")
            # string spellings: the JVM cast's grammar, NOT Python's —
            # underscores ("1_000") repair to NULL; the special
            # floating-point literals are accepted case-insensitively
            # (Spark's UTF8String.toDouble lowercases inf/infinity/nan)
            s = str(v).strip()
            if _NUM_RE.match(s):
                return float(s)
            low = s.lower()
            if low in ("inf", "+inf", "infinity", "+infinity"):
                return float("inf")
            if low in ("-inf", "-infinity"):
                return float("-inf")
            if low == "nan":
                return float("nan")
            return None

        return conv_num
    if isinstance(dt, T.LongType):

        def conv_int(v):
            # parity with the batch path: string "3.2" and float 7.9 are
            # REJECTED (repair-to-NULL), never truncated; out-of-range
            # values also repair instead of crashing the partition;
            # Python-only spellings like "1_000" repair too
            if v is None or v == "" or isinstance(v, bool):
                return None
            if isinstance(v, int):
                return v if _LONG_MIN <= v <= _LONG_MAX else None
            if isinstance(v, float):
                if not (math.isfinite(v) and v.is_integer()):
                    return None
                iv = int(v)
                return iv if _LONG_MIN <= iv <= _LONG_MAX else None
            s = str(v).strip()
            if not _INT_RE.match(s):
                return None
            iv = int(s)
            return iv if _LONG_MIN <= iv <= _LONG_MAX else None

        return conv_int
    if isinstance(dt, T.BooleanType):

        def conv_bool(v):
            # try_cast('boolean') spellings only; anything else -> NULL
            # (including JSON numbers other than 0/1 — the from_json
            # boolean parser has no numeric coercion)
            if v is None or v == "":
                return None
            if isinstance(v, bool):
                return v
            if isinstance(v, int):
                # JSON integers 0/1 match the batch path's "0"/"1"
                # string spellings; floats do NOT ("1.0" casts to NULL)
                if v == 0:
                    return False
                if v == 1:
                    return True
                return None
            if isinstance(v, float):
                return None
            s = str(v).strip().lower()
            if s in ("true", "t", "yes", "y", "1"):
                return True
            if s in ("false", "f", "no", "n", "0"):
                return False
            return None

        return conv_bool

    # string / nested: Python spellings for scalars, JSON for structures
    def conv_str(v):
        if v is None:
            return None
        if isinstance(v, (dict, list)):
            return json.dumps(v, separators=(",", ":"), sort_keys=True)
        if isinstance(v, bool):
            return "True" if v else "False"
        return str(v)

    return conv_str
