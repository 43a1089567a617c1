"""Unbounded Singer ingestion via Structured Streaming.

The reference processes an unbounded stdin pipe single-threaded on the
driver and flushes every 10k records (reference target_parquet/sinks.py:118
batch buffer; singer-sdk drain loop).  The Spark-native shape:

- source: ``spark.readStream.text(dir)`` over a drop-directory of Singer
  message files (the file source is the durable stand-in for a stdin pipe;
  any line-oriented streaming source — Kafka, socket — plugs in the same).
- ``foreachBatch``: each micro-batch IS the reference's batch buffer (B1),
  and runs the batch target's record pipeline (target.py) on it: SCHEMA
  versions routed by arrival position, one aggregate for the orphan
  check, the last STATE and every per-version check, then decode and
  parquet append.
- the checkpoint directory is Spark's commit log == Singer STATE (S4): on
  restart, already-committed files are not re-ingested.  The latest STATE
  message seen is additionally written to ``state.json`` per epoch so a
  downstream tap-orchestrator can read it exactly as it would read the
  reference's stdout state emission.

Schema registry semantics: a SCHEMA message governs all later RECORDs of
its stream — across micro-batches — until re-declared (schema evolution →
version-append + mergeSchema read, BUG-4 fixed; reference
tests/README.md:73-87).  Each micro-batch starts from one carried version
per stream, so SCHEMA messages inside the batch split a stream into
versions exactly as in a batch run.  The registry lives on the driver
(exactly where the reference kept its sink registry, reference
writers.py:14-24) and is persisted to ``_schema_registry.json`` in the
output root — committed micro-batches are NOT replayed on restart, so a
relaunched target reloads stream DDL from the sidecar, not the stream.
What a stream needs beyond a batch run is here: that registry with its
widened columns, the rewrite of history already on disk when a column
widens, running metric totals, and the per-epoch sidecars.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from target_parquet_spark.io.parquet_sink import write_json_atomic
from target_parquet_spark.io.singer_source import with_input_file
from target_parquet_spark.schema import ResolvedField
from target_parquet_spark.target import SingerTarget

# Unused here, kept because perfbench/tracing.py patches them on this module.
from target_parquet_spark.io.singer_source import decode_records_jvm, parse_envelope  # noqa: F401
from target_parquet_spark.schema import resolve_schema  # noqa: F401

__all__ = ["SingerStreamTarget"]


class SingerStreamTarget(SingerTarget):
    """Streaming Singer target.  Config keys are the batch target's plus
    ``checkpoint``."""

    def __init__(self, spark: SparkSession, config: dict | None = None):
        config = dict(config or {})
        # A STREAMING target must resolve each stream to the SAME
        # directory on every relaunch: the batch default
        # "{stream}-{timestamp}" would fragment output across restarts,
        # break the widening rewrite (it would probe a fresh empty dir),
        # and reset metrics.  Timestamped names remain available by
        # configuring file_naming_scheme explicitly.
        config.setdefault("file_naming_scheme", "{stream}")
        super().__init__(spark, config)
        self.checkpoint = self.config.get("checkpoint") or os.path.join(
            self.sink.root, "_checkpoint"
        )
        # stream -> {"schema", "key_properties",
        #            "widened": {column: [type_id, format]}}
        self._registry: dict[str, dict] = {}
        if os.path.isfile(self._sidecar("_schema_registry.json")):
            with open(self._sidecar("_schema_registry.json")) as fh:
                self._registry = json.load(fh)
        # stream -> {column: widened field} to rewrite on disk before the
        # current batch writes
        self._rewrites: dict[str, dict] = {}
        # Running totals across relaunches — committed batches are not
        # replayed, so starting from zero would lose prior counts.
        self._metrics: dict[str, int] = {}
        self._violations: dict[str, int] = {}
        try:
            with open(self._sidecar("job_metrics.json")) as fh:
                saved = json.load(fh)
            self._metrics = dict(saved.get("recordCount", {}))
            self._violations = dict(saved.get("validationViolations", {}))
        except (OSError, ValueError):
            pass

    def _sidecar(self, name: str) -> str:
        return os.path.join(self.sink.root, name)

    # -- public API ----------------------------------------------------------

    def start(self, input_dir: str, available_now: bool = False):
        """Begin ingesting ``*.jsonl``-style Singer line files dropped into
        ``input_dir``.  Returns the StreamingQuery."""
        lines = with_input_file(self.spark.readStream.text(input_dir))
        writer = (
            lines.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint)
            .queryName("singer-stream-target")
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # -- micro-batch processor ----------------------------------------------

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        carried = {
            s: (e["schema"], e["key_properties"]) for s, e in self._registry.items()
        }
        self._rewrites = {}
        versions, widened, state, metrics = self._ingest(batch_df, carried)

        registry = {
            s: {
                "schema": vs[-1].schema,
                "key_properties": vs[-1].key_properties,
                "widened": {n: [f.type_id, f.format] for n, f in widened[s].items()},
            }
            for s, vs in versions.items()
        }
        if registry != self._registry:
            self._registry = registry
            write_json_atomic(self._sidecar("_schema_registry.json"), registry)
        for total, key in (
            (self._metrics, "recordCount"),
            (self._violations, "validationViolations"),
        ):
            for s, n in metrics[key].items():
                total[s] = total.get(s, 0) + n
        # Once per micro-batch — the reference rewrote this file per RECORD
        # (O(n^2) I/O anti-pattern, reference writers.py:52-74).
        write_json_atomic(
            self._sidecar("job_metrics.json"),
            {"recordCount": self._metrics, "validationViolations": self._violations},
        )
        if state is not None:
            write_json_atomic(
                self._sidecar("state.json"), {"epoch": epoch_id, "state": state}
            )

    def _widen(self, stream, vers):
        """Widening only grows across batches: a column an earlier batch
        widened stays widened for every later version.  A column this
        batch newly widens is rewritten in the history already on disk
        (see ``_write_versions``), because a stream cannot see future
        versions up front the way a batch run does."""
        on_disk = {
            n: ResolvedField(n, t, fmt, True)
            for n, (t, fmt) in self._registry.get(stream, {}).get("widened", {}).items()
        }
        fresh = super()._widen(stream, vers, on_disk)
        if fresh and vers[0].pos is None:
            # Only rewrite columns whose on-disk type differs from the
            # widened one: a tap re-declaring its original narrow schema
            # after a past widening (standard on restart) folds back onto
            # the type already written, and rewriting then would be an
            # O(all data) directory swap per restart.
            written = {
                f.name: f.spark_type
                for f in self._fields(stream, vers[0].schema, on_disk)
            }
            need = {
                n: f
                for n, f in fresh.items()
                if n in written and written[n] != f.spark_type
            }
            if need:
                self._rewrites[stream] = need
        return {**on_disk, **fresh}

    def _write_versions(self, *args) -> dict:
        """History on disk is rewritten once every check of the batch has
        passed, and before the batch appends to it."""
        for stream, need in self._rewrites.items():
            self._rewrite_widened(stream, need)
        return super()._write_versions(*args)

    def _rewrite_widened(self, stream: str, fresh: dict) -> None:
        """One-time type-widening compaction of a stream's existing output:
        read the (pre-widening, internally consistent) directory, cast the
        newly-widened columns, swap the directory.  The streaming target is
        the single writer, so the swap races nobody; on an object store
        this is the same rewrite expressed as a compaction job.  Sidecars
        (non-parquet files) are preserved, and the rewrite keeps the
        sink's compression and partition layout (the data files of a
        partitioned stream live in key=value subdirs — the parquet probe
        walks recursively for exactly that reason)."""
        d = self.sink.stream_dir(stream)
        has_parquet = os.path.isdir(d) and any(
            f.endswith(".parquet")
            for _, _, files in os.walk(d)
            for f in files
        )
        if not has_parquet:
            return
        df = self.spark.read.option("mergeSchema", "true").parquet(d)
        for name, f in fresh.items():
            if name in df.columns:
                df = df.withColumn(name, F.col(name).cast(f.spark_type))
        tmp = d.rstrip("/") + ".widening"
        writer = df.write.mode("overwrite").option(
            "compression", self.sink.compression
        )
        partition_cols = (self.config.get("partition_cols") or {}).get(stream)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(tmp)
        for side in os.listdir(d):
            if not side.endswith(".parquet") and not side.startswith("_SUCCESS"):
                src = os.path.join(d, side)
                if os.path.isfile(src):
                    shutil.copy2(src, os.path.join(tmp, side))
        # Crash-safe swap: move the old dir ASIDE first, so every failure
        # point leaves either the old or the new directory in place —
        # rmtree-then-rename had a window where a crash lost the stream.
        old = d.rstrip("/") + ".pre-widening"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(d, old)
        os.rename(tmp, d)
        shutil.rmtree(old, ignore_errors=True)
