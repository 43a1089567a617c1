"""The Singer target: message lines in, per-stream Parquet out.

End-to-end equivalent of the reference's CLI pipeline (reference
target_parquet/target.py + singer-sdk Target.listen), restructured for
Spark's execution model:

- ONE text scan; envelope parse and RECORD decoding/coercion are Catalyst
  plans that run on executors (S1/S3).
- SCHEMA messages (rare, tiny) are collected to the driver — stream DDL is
  driver-side by nature (S2).
- Each RECORD is routed to the stream × schema-version that governs it:
  the latest SCHEMA of its stream before it in arrival order (``_pos``:
  input file, then line).  A RECORD with no such SCHEMA is an orphan.
- ONE aggregate over the cached envelope answers every question asked
  before writing: per version the record count, the invalid count and the
  null counts of key (and, in strict mode, non-nullable) columns; the
  orphan count; the last STATE (S4).  Every check fails the run from that
  row, before anything is written.
- Each non-empty version is then decoded and appended to its stream's
  parquet directory (B1/B2/W1-W4; BUG-4 fixed by version-append +
  mergeSchema read).  Output directories write concurrently, from a
  small driver thread pool; the versions bound for one directory append
  in order.
  ``job_metrics.json`` takes its counts from the aggregate and is written
  ONCE per run — the reference rewrote it per record, an O(n²)
  anti-pattern called out in SURVEY §4 (reference writers.py:52-74).

So a run is a fixed number of Spark jobs: the SCHEMA collect, the
aggregate, and one write per non-empty version (plus one quarantine write
per version with invalid records).

Validation (V1-V4): the compiled predicate runs JVM-side, in the
aggregate.  Lenient (default): invalid records are written and counted in
``validationViolations`` (the reference silently passes the raw record,
sinks.py:136-139), or rerouted when ``quarantine_path`` is set.  Strict:
any invalid record fails the run.  BUG-2 fix: nulls in non-nullable
columns are counted the same way — strict rejects, lenient writes a
readable file with nulls.

This is the one record pipeline: ``SingerTarget.run_lines`` runs it over a
whole input, the streaming target (streaming/singer_stream.py) runs it
over each micro-batch with the stream versions carried in from earlier
batches, and ``SingerTarget.read_records`` runs its plan half over Singer
files and returns one stream's decoded records without writing them.
"""

from __future__ import annotations

import functools
import json
import os
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from target_parquet_spark.io.parquet_sink import ParquetStreamSink, write_json_atomic
from target_parquet_spark.io.singer_source import (
    decode_records_exact,
    decode_records_jvm,
    parse_envelope,
    position_literal,
    raw_record_struct,
    with_input_file,
)
from target_parquet_spark.schema import ResolvedField, resolve_schema, widen_versions
from target_parquet_spark.validation import compile_predicate, load_ref_registry

__all__ = ["SingerTarget", "SingerValidationError"]


class SingerValidationError(Exception):
    pass


def enforce_undeclared_keys(stream, fields, key_properties) -> None:
    """Key properties must be resolvable columns, or the key-integrity
    check is silently vacuous — exactly the malformed-schema case most
    likely to carry keyless records.  Also fails a fixed_headers
    projection that drops its own primary key."""
    undeclared_keys = sorted(set(key_properties) - {f.name for f in fields})
    if undeclared_keys:
        raise SingerValidationError(
            f"stream {stream!r}: key_properties {undeclared_keys} are "
            "not declared in the schema properties (or were projected "
            "away by fixed_headers)"
        )


def quarantine_invalid(parsed, pred, stream, quarantine_root):
    """Reroute invalid records to <quarantine_root>/<stream>/ as JSON
    lines carrying the raw Singer record text (re-playable: wrap each
    line back into a RECORD message once the tap is fixed).  Called only
    for a version with invalid records: an unconditional write would
    litter an empty directory per clean stream-version (which replay
    tooling would then pick up).  Returns the rest, for the main sink."""
    parsed.filter(~pred).select(
        F.lit(stream).alias("stream"), "record_json"
    ).write.mode("append").json(os.path.join(quarantine_root, stream))
    return parsed.filter(F.coalesce(pred, F.lit(True)))


class _StreamVersion:
    """One SCHEMA of a stream and the RECORDs it governs: those after
    ``pos`` and before ``end_pos`` (the next version's SCHEMA) in arrival
    order.  ``pos`` None marks a version carried in from earlier input,
    which governs from the start."""

    def __init__(self, pos, schema: dict, key_properties: list[str]):
        self.pos = pos
        self.schema = schema
        self.key_properties = key_properties
        self.end_pos = None


def _route(plans: list[tuple]) -> Column:
    """Each RECORD's index into ``plans``: the version of its stream whose
    ``_pos`` range holds it.  Null for any other message and for an
    orphan RECORD.  This is the only statement of the routing rule."""
    vidx = None
    for i, (stream, v, _) in enumerate(plans):
        cond = F.col("stream") == stream
        if v.pos is not None:
            cond = cond & (F.col("_pos") > position_literal(v.pos))
        if v.end_pos is not None:
            cond = cond & (F.col("_pos") < position_literal(v.end_pos))
        vidx = F.when(cond, i) if vidx is None else vidx.when(cond, i)
    if vidx is None:
        return F.lit(None).cast("int")
    return F.when(F.col("msg_type") == "RECORD", vidx)


class SingerTarget:
    """Batch Singer target.  ``config`` keys (all the reference's, honored
    for real): filepath, file_naming_scheme, compression, fixed_headers,
    strict_validation, partition_cols, max_records_per_file, exact_compat,
    quarantine_path (lenient mode: invalid records land there instead of
    the main sink), ref_base_dir (local-file $ref resolution root),
    ref_registry / ref_registry_path (offline remote-$ref store — inline
    dict / sidecar JSON file of {url: schema_document}; path entries are
    overridable by inline ones).
    """

    def __init__(self, spark: SparkSession, config: dict | None = None):
        self.spark = spark
        self.config = config or {}
        self.sink = ParquetStreamSink(self.config)
        self.exact = bool(self.config.get("exact_compat", False))
        self.strict = bool(self.config.get("strict_validation", False))
        self.ref_base_dir = self.config.get("ref_base_dir")
        # remote-$ref registry: inline dict (ref_registry) or sidecar
        # JSON file (ref_registry_path — the --config-friendly form,
        # VERDICT r8 #7); loaded ONCE at startup, failing loudly on a
        # malformed file rather than leaving remote refs permissive.
        self.ref_registry = self.config.get("ref_registry")
        reg_path = self.config.get("ref_registry_path")
        if reg_path:
            loaded = load_ref_registry(reg_path)
            self.ref_registry = {**loaded, **(self.ref_registry or {})}

    # -- entry points --------------------------------------------------------

    def run_strings(self, lines: list[str]) -> dict:
        df = self.spark.createDataFrame([(l,) for l in lines], "value string")
        return self.run_lines(df)

    def run_path(self, path: str) -> dict:
        return self.run_lines(with_input_file(self.spark.read.text(path)))

    def run_lines(self, lines: DataFrame) -> dict:
        versions, _, state, metrics = self._ingest(lines)
        write_json_atomic(
            os.path.join(self.sink.root, "job_metrics.json"), metrics, indent=2
        )
        return {
            "state": state,
            "metrics": metrics,
            "paths": {s: self.sink.stream_dir(s) for s in versions},
        }

    def read_records(self, path: str, stream: str | None = None) -> DataFrame:
        """The typed records of ``stream`` in the Singer files at ``path``
        (a file, a glob, or a directory read recursively), as the target
        would write them: each SCHEMA version's RECORDs routed and decoded
        by the record pipeline, the versions' decodes joined by
        ``unionByName`` -- what ``read_stream_output`` reads back from a
        run over the same input.  ``stream`` defaults to the first SCHEMA's
        stream.  Uncommitted ``*.pending`` shards are not read, and a
        RECORD that no SCHEMA governs is left out.

        Only the SCHEMA collect runs here; the result is a lazy DataFrame
        over the files: each version's branch re-scans them, and the line
        ids in ``_pos`` are recomputed on every scan, so a routing is
        stable only while the files do not change."""
        try:
            lines = self.spark.read.option("recursiveFileLookup", "true").text(path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            raise FileNotFoundError(f"singer source: no files match {path!r}") from e
        lines = with_input_file(lines).filter(~F.col("_file").endswith(".pending"))
        versions, _, plans, routed = self._plan(parse_envelope(lines))
        if stream is None:
            stream = next(iter(versions), None)
        decoded = [
            self._decode(routed.filter(F.col("_vidx") == i), fields)
            for i, (s, _, fields) in enumerate(plans)
            if s == stream and fields
        ]
        if not decoded:
            raise SingerValidationError(
                f"{path!r}: no SCHEMA message declares columns for stream {stream!r}"
            )
        return functools.reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), decoded
        )

    def _plan(self, env: DataFrame, carried: dict | None = None):
        """The plan half of the record pipeline over a parsed envelope:
        SCHEMA versions, per-stream widening, each version's resolved
        columns, and each RECORD's version index ``_vidx``.  Returns
        (versions, widened columns per stream, plans, routed envelope);
        ``plans`` holds (stream, version, fields), indexed by ``_vidx``."""
        versions = self._collect_schemas(env, carried)
        widened = {s: self._widen(s, vs) for s, vs in versions.items()}
        plans = [
            (stream, v, self._fields(stream, v.schema, widened[stream]))
            for stream, vers in versions.items()
            for v in vers
        ]
        return versions, widened, plans, env.withColumn("_vidx", _route(plans))

    def _decode(self, records: DataFrame, fields: list[ResolvedField]) -> DataFrame:
        decode = decode_records_exact if self.exact else decode_records_jvm
        return decode(records, fields)

    def _ingest(self, lines: DataFrame, carried: dict | None = None):
        """The record pipeline over one input: the plan half, each
        version's validation predicate, the pre-write aggregate and its
        checks, then the writes.  ``carried`` maps a stream to the
        (schema, key_properties) that governs its RECORDs before any
        SCHEMA in ``lines``.  Returns (versions, widened columns per
        stream, state, metrics)."""
        env = parse_envelope(lines)
        env.cache()  # scanned by the SCHEMA collect, the aggregate and each write
        try:
            versions, widened, plans, routed = self._plan(env, carried)
            plans = [  # (stream, version, fields, predicate)
                (stream, v, fields, compile_predicate(
                    v.schema,
                    source_col=f"_rec{i}",
                    raw_json_col="record_json",
                    declared_cols=[f.name for f in fields],
                    ref_base_dir=self.ref_base_dir,
                    ref_registry=self.ref_registry,
                ))
                for i, (stream, v, fields) in enumerate(plans)
            ]
            got = self._aggregate(routed, plans)
            self._check(plans, got)
            state = json.loads(got["state"]) if got["state"] else None
            metrics = self._write_versions(routed, plans, got)
        finally:
            env.unpersist()
        return versions, widened, state, metrics

    # -- driver-side DDL -----------------------------------------------------

    def _collect_schemas(
        self, env: DataFrame, carried: dict | None = None
    ) -> dict[str, list[_StreamVersion]]:
        rows = (
            env.filter(F.col("msg_type") == "SCHEMA")
            .select("_pos", "stream", "schema_json", "key_properties")
            .collect()
        )
        rows.sort(key=lambda r: tuple(r["_pos"]))  # a struct sorts field by field
        versions = {
            s: [_StreamVersion(None, schema, kp)]
            for s, (schema, kp) in (carried or {}).items()
        }
        for r in rows:
            try:
                schema = json.loads(r.schema_json) if r.schema_json else {}
            except ValueError:  # a JSON string: the envelope captures its text
                schema = None
            # Contract parity (SDK "invalid schema" standard test): a SCHEMA
            # message whose schema is not an object, or whose `properties`
            # is not a mapping, is a hard error.  A MISSING/empty
            # `properties` stays accepted (SDK "schema with no properties").
            if not isinstance(schema, dict) or not isinstance(
                schema.get("properties", {}), dict
            ):
                raise SingerValidationError(
                    f"stream {r.stream!r}: SCHEMA message carries an invalid "
                    f"JSON schema: {r.schema_json[:200]}"
                )
            kp = list(r.key_properties or [])
            prev = versions.setdefault(r.stream, [])
            if prev and (prev[-1].schema, prev[-1].key_properties) == (schema, kp):
                # a re-emitted SCHEMA (taps re-send it on reconnect) keeps
                # the current version instead of opening an identical one
                continue
            v = _StreamVersion(r["_pos"], schema, kp)
            if prev:
                prev[-1].end_pos = v.pos
            prev.append(v)
        return versions

    # -- record path ---------------------------------------------------------

    def _fields(
        self, stream: str, schema: dict, overrides: dict | None = None
    ) -> list[ResolvedField]:
        """The stream's resolved columns under ``schema``, with widened
        ``overrides`` applied."""
        fixed = (self.config.get("fixed_headers") or {}).get(stream)
        fields = resolve_schema(schema, fixed_headers=fixed)
        if overrides:
            fields = [overrides.get(f.name, f) for f in fields]
        return fields

    def _widen(
        self,
        stream: str,
        vers: list[_StreamVersion],
        on_disk: dict | None = None,
    ) -> dict[str, ResolvedField]:
        """Mid-stream TYPE changes: parquet mergeSchema cannot reconcile
        conflicting column types, so conflicting versions widen to a common
        supertype at write time (schema.widen_versions) — the output
        directory stays readable, upholding the BUG-2/BUG-4 fix contract.
        Returns {column: widened field} over the versions, each read with
        the columns ``on_disk`` already holds widened applied."""
        if len(vers) < 2:
            return {}
        return widen_versions([self._fields(stream, v.schema, on_disk) for v in vers])

    def _aggregate(self, routed: DataFrame, plans: list[tuple]) -> dict:
        """The one pre-write aggregate's single row, keyed: ``("n", i)`` records of
        version ``i``, ``("invalid", i)`` of them failing its predicate,
        ``("null", i, column)`` nulls in a key (strict: also non-nullable)
        column; ``orphans`` and the first orphan's ``orphan_stream``;
        ``state``, the last STATE's JSON.  Each RECORD is parsed once,
        under its own version's struct."""
        vidx = F.col("_vidx")
        orphan = (F.col("msg_type") == "RECORD") & vidx.isNull()
        aggs = {
            "orphans": F.count(F.when(orphan, 1)),
            "orphan_stream": F.min_by("stream", F.when(orphan, F.col("_pos"))),
            "state": F.max_by(
                "state_json", F.when(F.col("msg_type") == "STATE", F.col("_pos"))
            ),
        }
        parsed = []
        for i, (_, v, fields, pred) in enumerate(plans):
            mine = vidx == i
            aggs[("n", i)] = F.count(F.when(mine, 1))
            if not fields:
                continue
            rec = f"_rec{i}"
            parsed.append(
                F.when(
                    mine, F.from_json(F.col("record_json"), raw_record_struct(fields))
                ).alias(rec)
            )
            aggs[("invalid", i)] = F.count(F.when(mine & ~pred, 1))
            for f in fields:
                if f.name in v.key_properties or (self.strict and not f.nullable):
                    aggs[("null", i, f.name)] = F.count(
                        F.when(mine & F.col(f"{rec}.`{f.name}`").isNull(), 1)
                    )
        row = (
            routed.select("*", *parsed)
            .agg(*[a.alias(f"_a{j}") for j, a in enumerate(aggs.values())])
            .collect()[0]
        )
        return dict(zip(aggs, row))

    def _check(self, plans: list[tuple], got: dict) -> None:
        """Every structural and validation failure, raised before any
        write: a run never leaves half-written output that a retry would
        re-append into."""
        if got["orphans"]:
            # Contract parity (SDK "record before schema" standard test): a
            # RECORD whose stream has no SCHEMA yet — never declared, or
            # declared only later in the pipe — fails the run.
            raise SingerValidationError(
                f"RECORD for stream {got['orphan_stream']!r} arrived before its "
                "SCHEMA message"
            )
        for i, (stream, v, fields, _) in enumerate(plans):
            if not got[("n", i)]:
                continue
            enforce_undeclared_keys(stream, fields, v.key_properties)
            # Contract parity (SDK "record missing key property" standard
            # test): every declared key property is present and non-null in
            # every record, in either validation mode — key integrity is a
            # structural guarantee, not a JSON-schema keyword.
            missing = sorted(
                f.name
                for f in fields
                if f.name in v.key_properties and got[("null", i, f.name)]
            )
            if missing:
                raise SingerValidationError(
                    f"stream {stream!r}: record(s) missing key_properties "
                    f"{missing}"
                )
            if not self.strict:
                continue
            # reference raises at _validate_and_parse
            bad = got.get(("invalid", i))
            if bad:
                raise SingerValidationError(
                    f"stream {stream!r}: {bad} record(s) failed schema validation"
                )
            for f in fields:
                if not f.nullable and got[("null", i, f.name)]:
                    raise SingerValidationError(
                        f"stream {stream!r}: null in non-nullable column {f.name!r}"
                    )

    def _write_versions(
        self, routed: DataFrame, plans: list[tuple], got: dict
    ) -> dict:
        """One append per non-empty version; counts come from the
        aggregate.  Output directories write concurrently, one driver
        thread each, so their small jobs overlap; the versions bound for
        one directory append in order within its thread, because
        concurrent appends into one directory collide on the output
        committer's ``_temporary`` directory and ``_key_properties.json``
        must end with the last version's keys.  Streams share a directory
        when ``file_naming_scheme`` has no ``{stream}``.  Once a task
        fails, the tasks not yet started are cancelled; those already
        running finish their appends before the first error re-raises.

        A version with zero resolvable columns (SDK "schema with no
        properties" standard test) is counted without writing a
        zero-column parquet file.  With ``quarantine_path`` (lenient mode
        only — strict already failed), invalid records are REROUTED there
        and the main sink receives only valid rows: the badRecordsPath
        pattern SURVEY V4 sketches.  Without it, lenient keeps the
        reference's pass-through (reference sinks.py:136-139)."""
        counts: dict[str, int] = {}
        violations: dict[str, int] = {}
        writes: dict[str, list[tuple]] = {}  # output directory -> its appends
        quarantine_root = None if self.strict else self.config.get("quarantine_path")
        for i, (stream, v, fields, pred) in enumerate(plans):
            n, bad = got[("n", i)], got.get(("invalid", i), 0)
            if not n:
                continue
            if fields:
                quarantined = bool(quarantine_root and bad)
                writes.setdefault(self.sink.stream_dir(stream), []).append(
                    (i, stream, v, fields, pred, quarantined)
                )
                if quarantined:
                    n -= bad
            counts[stream] = counts.get(stream, 0) + n
            violations[stream] = violations.get(stream, 0) + bad

        def append_in_order(appends: list[tuple]) -> None:
            for i, stream, v, fields, pred, quarantined in appends:
                records = routed.filter(F.col("_vidx") == i)
                if quarantined:
                    parsed = records.withColumn(
                        f"_rec{i}",
                        F.from_json(F.col("record_json"), raw_record_struct(fields)),
                    )
                    records = quarantine_invalid(parsed, pred, stream, quarantine_root)
                self.sink.write(
                    stream, self._decode(records, fields), key_properties=v.key_properties
                )

        workers = min(len(writes), self.spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(max(1, workers)) as pool:
            # inheritable_thread_target: each task's jobs carry a copy of the
            # caller's local properties (job group included), one per task
            # since a running SQL execution sets its id in that copy.
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(append_in_order), a)
                for a in writes.values()
            ]
            wait(futures, return_when=FIRST_EXCEPTION)
            pool.shutdown(cancel_futures=True)
        for f in futures:
            if not f.cancelled():
                f.result()
        return {"recordCount": counts, "validationViolations": violations}
