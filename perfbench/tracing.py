"""Traced mode: spans around the program's public functions, recorded
from the benchmark's side, plus Spark job/stage/task attribution.

Nothing here runs in an untraced run.  Spans are kept in memory and
written to ``spans.jsonl`` in the run's work directory when the run ends.
The tracer also times its own bookkeeping (``own_s``), which is reported
as ``bench.tracing_overhead_s``.
"""

from __future__ import annotations

import contextlib
import json
import threading
import time

from pyspark.sql import functions as F

# (module path, attribute, span name): module attributes the program calls
# through.  The target and the streaming target import these by name, so
# each importing module is patched; the streaming target imports
# widen_versions and compile_predicate inside its methods, so the defining
# modules are patched too.
_FUNCTIONS = [
    ("target_parquet_spark.target", "parse_envelope", "singer_source.parse_envelope"),
    ("target_parquet_spark.target", "decode_records_jvm", "singer_source.decode_records_jvm"),
    ("target_parquet_spark.target", "resolve_schema", "schema.resolve_schema"),
    ("target_parquet_spark.target", "widen_versions", "schema.widen_versions"),
    ("target_parquet_spark.target", "compile_predicate", "validation.compile_predicate"),
    ("target_parquet_spark.streaming.singer_stream", "parse_envelope",
     "singer_source.parse_envelope"),
    ("target_parquet_spark.streaming.singer_stream", "decode_records_jvm",
     "singer_source.decode_records_jvm"),
    ("target_parquet_spark.streaming.singer_stream", "resolve_schema", "schema.resolve_schema"),
    ("target_parquet_spark.schema", "widen_versions", "schema.widen_versions"),
    ("target_parquet_spark.validation", "compile_predicate", "validation.compile_predicate"),
]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.own_s = 0.0
        self.op = None  # label of the operation spans are attributed to
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        stack = self._stack()
        rec = {"name": name, "op": self.op,
               "parent": stack[-1]["id"] if stack else None,
               "thread": threading.get_ident()}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        t1 = time.perf_counter()
        try:
            yield rec
        finally:
            t2 = time.perf_counter()
            stack.pop()
            rec["start"], rec["end"] = t1, t2
            self.own_s += (t1 - t0) + (time.perf_counter() - t2)

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self) -> None:
        import importlib

        from target_parquet_spark.io.parquet_sink import ParquetStreamSink
        from target_parquet_spark.target import SingerTarget

        for mod_name, attr, name in _FUNCTIONS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._wrap(getattr(mod, attr), name))
        self._patch(ParquetStreamSink, "write",
                    self._wrap(ParquetStreamSink.write, "parquet_sink.write"))
        self._patch(SingerTarget, "run_path",
                    self._wrap(SingerTarget.run_path, "target.run_path"))

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._patches):
            setattr(owner, attr, old)
        self._patches.clear()

    # -- aggregation ---------------------------------------------------------

    def totals(self, op) -> dict[str, tuple[float, int]]:
        """{span name: (summed seconds, calls)} for one operation."""
        out: dict[str, list] = {}
        for s in self.spans:
            if s["op"] == op and "end" in s:
                acc = out.setdefault(s["name"], [0.0, 0])
                acc[0] += s["end"] - s["start"]
                acc[1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}

    def self_time(self, op, name: str) -> float:
        """Summed self time of ``name`` spans in ``op``: span duration
        minus the time its direct children cover."""
        spans = [s for s in self.spans if s["op"] == op and "end" in s]
        total = 0.0
        for s in spans:
            if s["name"] != name:
                continue
            kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
            total += (s["end"] - s["start"]) - kids
        return total

    # -- Spark job attribution -------------------------------------------------

    @contextlib.contextmanager
    def jobs(self, group: str):
        """Attribute the Spark jobs started inside the block to ``group``;
        yields a dict filled with jobs/stages/tasks/failed_tasks on exit."""
        t = time.perf_counter()
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        self.own_s += time.perf_counter() - t
        out: dict = {}
        try:
            yield out
        finally:
            t = time.perf_counter()
            tracker = sc.statusTracker()
            job_ids = tracker.getJobIdsForGroup(group)
            stages = tasks = failed = 0
            for jid in job_ids:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
            out.update(jobs=len(job_ids), stages=stages, tasks=tasks, failed_tasks=failed)
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.own_s += time.perf_counter() - t

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------------------
# layer probes: the ingest layers run lazily inside the sink's write, so
# their execution cost is isolated afterwards by running each stage alone
# into Spark's no-op sink over the same input.
# --------------------------------------------------------------------------


def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def probe_ingest_layers(spark, path: str, schemas: dict[str, list[dict]]) -> dict[str, float]:
    """Execution seconds of envelope parse, raw capture, full decode and
    predicate evaluation over one input file.  ``schemas`` are the SCHEMA
    messages the file declares per stream, in order; each stream is probed
    over all of its records with the fields the batch target writes: its
    last version's, widened over every version as the target widens them."""
    from target_parquet_spark.io.singer_source import (
        decode_records_jvm,
        parse_envelope,
        raw_record_struct,
    )
    from target_parquet_spark.schema import resolve_schema, widen_versions
    from target_parquet_spark.validation import compile_predicate

    out = {"parse_envelope_s": _noop(parse_envelope(spark.read.text(path)))}
    env = parse_envelope(spark.read.text(path)).cache()
    env.count()
    raw = decode = pred_s = 0.0
    try:
        for stream, versions in schemas.items():
            fields = resolve_schema(versions[-1])
            if len(versions) > 1:
                overrides = widen_versions([resolve_schema(v) for v in versions])
                fields = [overrides.get(f.name, f) for f in fields]
            records = env.filter((F.col("msg_type") == "RECORD") & (F.col("stream") == stream))
            parsed = records.withColumn(
                "_rec", F.from_json(F.col("record_json"), raw_record_struct(fields)))
            raw += _noop(parsed.select("_rec.*"))
            decode += _noop(decode_records_jvm(records, fields))
            pred = compile_predicate(versions[-1], source_col="_rec", raw_json_col="record_json",
                                     declared_cols=[f.name for f in fields])
            pred_s += _noop(parsed.select("_rec.*", (~pred).alias("_bad")))
    finally:
        env.unpersist()
    out.update(raw_capture_s=raw, decode_s=decode, coerce_s=max(0.0, decode - raw),
               predicate_eval_s=max(0.0, pred_s - raw))
    return out
