"""One record path: the batch target and the streaming target run the same
SCHEMA-version pipeline, so the same message file gives the same rows,
``job_metrics.json`` counts and final STATE through ``SingerTarget.run_path``
and through ``SingerStreamTarget`` (one ``availableNow`` micro-batch)."""

from __future__ import annotations

import io
import json
import os
import re
import sys
import tempfile
import threading
import time
import uuid

import py4j.clientserver
import pytest

from target_parquet_spark.__main__ import main
from target_parquet_spark.coerce import coerce_columns
from target_parquet_spark.io.parquet_sink import ParquetStreamSink, read_stream_output
from target_parquet_spark.schema import resolve_schema
from target_parquet_spark.streaming import SingerStreamTarget
from target_parquet_spark.target import SingerTarget, SingerValidationError
from target_parquet_spark.validation import compile_predicate


def _msg(**kw):
    return json.dumps(kw)


def _schema(props):
    return {"type": "object", "properties": props}


def _rows(spark, path):
    if not os.path.isdir(path):
        return []
    df = read_stream_output(spark, path)
    return sorted(
        tuple(sorted(r.asDict().items())) for r in df.collect()
    )


def _outputs(spark, root):
    """(stream ``s``'s rows, job_metrics.json or None) under an output root."""
    rows = _rows(spark, os.path.join(root, "s"))
    jm = os.path.join(root, "job_metrics.json")
    if not os.path.isfile(jm):
        return rows, None
    with open(jm) as fh:
        return rows, json.load(fh)


def _run_stream(spark, inbox, out, config):
    """One availableNow run; returns (query exception or None, STATE or
    None, number of micro-batches that carried rows)."""
    tgt = SingerStreamTarget(
        spark, dict(config, filepath=str(out), file_naming_scheme="{stream}")
    )
    q = tgt.start(str(inbox), available_now=True)
    try:
        q.awaitTermination(120)
    except Exception as exc:  # the query's failure, re-raised by the wait
        err = exc
    else:
        err = None
    assert not q.isActive
    state_path = out / "state.json"
    state = json.loads(state_path.read_text())["state"] if state_path.exists() else None
    batches = sum(1 for p in q.recentProgress if p["numInputRows"])
    return err, state, batches


def _run_both(spark, tmp_path, files, config=None):
    """Write ``files`` ({name: (lines, mtime offset s)}) into one inbox, run
    them through both targets and return both sides' outputs."""
    config = config or {}
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    now = time.time()
    for name, (lines, age) in files.items():
        p = inbox / name
        p.write_text("\n".join(lines) + "\n")
        os.utime(p, (now - age, now - age))

    batch_out = tmp_path / "batch"
    try:
        res = SingerTarget(
            spark, dict(config, filepath=str(batch_out), file_naming_scheme="{stream}")
        ).run_path(str(inbox))
        batch_err, batch_state = None, res["state"]
    except SingerValidationError as exc:
        batch_err, batch_state = exc, None

    stream_out = tmp_path / "stream"
    stream_err, stream_state, batches = _run_stream(spark, inbox, stream_out, config)
    assert batches <= 1  # every file landed in the same micro-batch
    return {
        "batch": (batch_err, batch_state, _outputs(spark, str(batch_out))),
        "stream": (stream_err, stream_state, _outputs(spark, str(stream_out))),
    }


@pytest.mark.parametrize("config", [{}, {"exact_compat": True}], ids=["jvm", "exact"])
def test_mid_batch_redeclaration_routes_records_by_version(spark, tmp_path, config):
    """A SCHEMA re-declared inside one micro-batch splits the stream into
    versions: the RECORD before it decodes under v1, which lacks ``name``,
    so the value it carries is not kept."""
    v1 = _schema({"id": {"type": ["integer", "null"]}})
    v2 = _schema(
        {"id": {"type": ["integer", "null"]}, "name": {"type": ["string", "null"]}}
    )
    lines = [
        _msg(type="SCHEMA", stream="s", schema=v1, key_properties=["id"]),
        _msg(type="RECORD", stream="s", record={"id": 1, "name": "early"}),
        _msg(type="STATE", value={"pos": 1}),
        _msg(type="SCHEMA", stream="s", schema=v2, key_properties=["id"]),
        _msg(type="RECORD", stream="s", record={"id": 2, "name": "late"}),
        _msg(type="STATE", value={"pos": 2}),
    ]
    got = _run_both(spark, tmp_path, {"f1.jsonl": (lines, 0)}, config)
    assert got["stream"] == got["batch"]
    err, state, (rows, metrics) = got["batch"]
    assert err is None and state == {"pos": 2}
    assert rows == [
        (("id", 1), ("name", None)),
        (("id", 2), ("name", "late")),
    ]
    assert metrics == {"recordCount": {"s": 2}, "validationViolations": {"s": 0}}


def test_integral_json_number_in_integer_column(spark, tmp_path):
    """An integral JSON number written as a float (7.0, 1e2, -0.0) is an
    integer to JSON Schema and to the reference's int(); it decodes to
    that long.  A fraction, a string with a fraction and a number out of
    long range still repair to NULL."""
    lines = [
        _msg(type="SCHEMA", stream="s", key_properties=["id"],
             schema=_schema({"id": {"type": ["integer"]},
                             "n": {"type": ["integer", "null"]}})),
    ] + [
        _msg(type="RECORD", stream="s", record={"id": i, "n": n})
        for i, n in enumerate([7.0, 1e2, -0.0, 7.9, "3.2", 1e30, 42, "42"])
    ]
    out = tmp_path / "out"
    res = SingerTarget(
        spark, {"filepath": str(out), "file_naming_scheme": "{stream}"}
    ).run_strings([l.replace("100.0", "1e2") for l in lines])
    # 7.9, "3.2" and "42" fail validation; the integral floats pass it
    assert res["metrics"]["validationViolations"] == {"s": 3}
    got = {r.id: r.n for r in read_stream_output(spark, str(out / "s")).collect()}
    assert got == {0: 7, 1: 100, 2: 0, 3: None, 4: None, 5: None, 6: 42, 7: 42}


def test_exact_compat_integer_outside_int64_is_null(spark, tmp_path):
    """exact_compat decodes an integer column with the reference's int():
    7.0 -> 7 and 7.9 -> 7 (truncation is reference parity), while a value
    past int64 (1e30) is NULL instead of failing the Arrow batch."""
    path = tmp_path / "in.jsonl"
    path.write_text("\n".join([
        _msg(type="SCHEMA", stream="s", key_properties=["id"],
             schema=_schema({"id": {"type": ["integer"]},
                             "n": {"type": ["integer", "null"]}})),
    ] + [
        _msg(type="RECORD", stream="s", record={"id": i, "n": n})
        for i, n in enumerate([1e30, 7.0, 7.9])
    ]))
    df = SingerTarget(spark, {"exact_compat": True}).read_records(str(path))
    assert {r.id: r.n for r in df.collect()} == {0: None, 1: 7, 2: 7}


def test_strict_null_in_non_nullable_column_fails_both(spark, tmp_path):
    """Strict mode rejects a null in a non-nullable column (the record
    omits it, which the JSON schema itself allows) before writing."""
    schema = _schema({"id": {"type": "string"}, "need": {"type": "string"}})
    lines = [
        _msg(type="SCHEMA", stream="s", schema=schema, key_properties=[]),
        _msg(type="RECORD", stream="s", record={"id": "1", "need": "x"}),
        _msg(type="RECORD", stream="s", record={"id": "2"}),
        _msg(type="STATE", value={"pos": 2}),
    ]
    got = _run_both(
        spark, tmp_path, {"f1.jsonl": (lines, 0)}, {"strict_validation": True}
    )
    for side in ("batch", "stream"):
        err, state, (rows, metrics) = got[side]
        assert "non-nullable column 'need'" in str(err), side
        assert (state, rows, metrics) == (None, [], None), side


def test_state_and_routing_follow_file_arrival_order(spark, tmp_path):
    """Two files in one micro-batch: the newer file's lines come after the
    older file's, although a scan numbers the larger (here: newer) file's
    lines first and its name sorts first.  So its RECORDs are not orphans
    of the SCHEMA declared in the older file, and its STATE wins."""
    schema = _schema({"id": {"type": ["integer", "null"]}})
    old = [
        _msg(type="SCHEMA", stream="s", schema=schema, key_properties=["id"]),
        _msg(type="RECORD", stream="s", record={"id": 0}),
        _msg(type="STATE", value={"file": "old"}),
    ]
    new = [_msg(type="RECORD", stream="s", record={"id": i}) for i in range(1, 6)]
    new.append(_msg(type="STATE", value={"file": "new"}))
    got = _run_both(
        spark, tmp_path, {"b_old.jsonl": (old, 100), "a_new.jsonl": (new, 0)}
    )
    assert got["stream"] == got["batch"]
    err, state, (rows, metrics) = got["batch"]
    assert err is None and state == {"file": "new"}
    assert rows == [(("id", i),) for i in range(6)]
    assert metrics["recordCount"] == {"s": 6}


def test_failed_metrics_write_keeps_previous_file(spark, tmp_path, monkeypatch):
    """``job_metrics.json`` is replaced atomically: a dump that fails on
    the second run leaves the first run's file whole."""
    schema = _schema({"id": {"type": ["integer", "null"]}})
    lines = [
        _msg(type="SCHEMA", stream="s", schema=schema, key_properties=[]),
        _msg(type="RECORD", stream="s", record={"id": 1}),
    ]
    tgt = SingerTarget(spark, {"filepath": str(tmp_path), "file_naming_scheme": "{stream}"})
    tgt.run_strings(lines)
    path = tmp_path / "job_metrics.json"
    first = json.loads(path.read_text())

    real_dump = json.dump

    def failing_dump(obj, fh, **kw):
        if "job_metrics" in os.path.basename(fh.name):
            fh.write('{"recordCount": {')
            raise OSError("disk full")
        return real_dump(obj, fh, **kw)

    monkeypatch.setattr(json, "dump", failing_dump)
    with pytest.raises(OSError, match="disk full"):
        tgt.run_strings(lines)
    assert json.loads(path.read_text()) == first


def test_cli_stdin_spool_is_removed(spark, tmp_path, monkeypatch, capsys):
    """The CLI spools stdin to a temp file for Spark to scan and removes it
    once the run is done."""
    spool = tmp_path / "spool"
    spool.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(spool))
    schema = _schema({"id": {"type": ["integer", "null"]}})
    lines = [
        _msg(type="SCHEMA", stream="s", schema=schema, key_properties=[]),
        _msg(type="RECORD", stream="s", record={"id": 1}),
        _msg(type="STATE", value={"pos": 1}),
    ]
    monkeypatch.setattr(sys, "stdin", io.StringIO("\n".join(lines) + "\n"))
    cfg = tmp_path / "cfg.json"
    cfg.write_text(
        json.dumps({"filepath": str(tmp_path / "out"), "file_naming_scheme": "{stream}"})
    )
    assert main(["--config", str(cfg)]) == 0
    assert json.loads(capsys.readouterr().out) == {"pos": 1}
    assert list(spool.glob("*.jsonl")) == []


@pytest.mark.parametrize(
    "later, error",
    [
        (
            ("pk", {"id": {"type": ["integer", "null"]}}, {"id": None}),
            "missing key_properties ['id']",
        ),
        (
            ("pk", {"v": {"type": ["integer", "null"]}}, {"v": 1}),
            "key_properties ['id'] are not declared",
        ),
    ],
    ids=["null_key", "undeclared_key"],
)
def test_lenient_structural_failure_writes_nothing(spark, tmp_path, later, error):
    """A key failure on a later stream fails the run before the earlier,
    valid stream ``s`` is written: no half-written output for a retry to
    re-append into."""
    stream, props, record = later
    lines = [
        _msg(type="SCHEMA", stream="s", schema=_schema({"id": {"type": ["integer", "null"]}}),
             key_properties=["id"]),
        _msg(type="RECORD", stream="s", record={"id": 1}),
        _msg(type="SCHEMA", stream=stream, schema=_schema(props), key_properties=["id"]),
        _msg(type="RECORD", stream=stream, record=record),
        _msg(type="STATE", value={"pos": 1}),
    ]
    got = _run_both(spark, tmp_path, {"f1.jsonl": (lines, 0)})
    for side in ("batch", "stream"):
        err, state, (rows, metrics) = got[side]
        assert error in str(err), side
        assert (state, rows, metrics) == (None, [], None), side


def test_stream_check_failure_leaves_history_unwidened(spark, tmp_path):
    """A micro-batch that widens a column but then fails a check does not
    rewrite the stream's history on disk: the rewrite waits for the
    checks."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    out = tmp_path / "out"

    def drop(name, props, record):
        lines = [
            _msg(type="SCHEMA", stream="s", schema=_schema(props), key_properties=["id"]),
            _msg(type="RECORD", stream="s", record=record),
        ]
        (inbox / name).write_text("\n".join(lines) + "\n")

    key = {"id": {"type": ["integer", "null"]}}
    drop("f1.jsonl", {**key, "n": {"type": ["integer", "null"]}}, {"id": 1, "n": 1})
    assert _run_stream(spark, inbox, out, {})[0] is None
    drop("f2.jsonl", {**key, "n": {"type": ["number", "null"]}}, {"id": None, "n": 1.5})
    err = _run_stream(spark, inbox, out, {})[0]
    assert "missing key_properties ['id']" in str(err)
    written = spark.read.parquet(str(out / "s")).schema["n"].dataType
    assert written.simpleString() == "bigint"


@pytest.mark.parametrize("config", [{}, {"exact_compat": True}], ids=["jvm", "exact"])
def test_validation_violations_counted_on_every_decode_path(spark, tmp_path, config):
    """Lenient mode writes invalid records and counts them, whichever
    decode path writes them."""
    schema = _schema({"id": {"type": ["integer", "null"]}, "v": {"type": ["number", "null"], "minimum": 0}})
    lines = [_msg(type="SCHEMA", stream="s", schema=schema, key_properties=["id"])]
    lines += [_msg(type="RECORD", stream="s", record={"id": i, "v": i - 2}) for i in range(4)]
    got = _run_both(spark, tmp_path, {"f1.jsonl": (lines, 0)}, config)
    assert got["stream"] == got["batch"]
    err, _, (rows, metrics) = got["batch"]
    assert err is None and len(rows) == 4
    assert metrics == {"recordCount": {"s": 4}, "validationViolations": {"s": 2}}


def _three_streams_one_redeclared():
    """3 streams; ``b`` is re-declared with a different schema halfway, so
    4 versions, each with records."""
    def schema(extra):
        return _schema({"id": {"type": ["integer"]}, extra: {"type": ["string", "null"]}})

    lines = [
        _msg(type="SCHEMA", stream=s, schema=schema("x"), key_properties=["id"]) for s in "abc"
    ]
    for i in range(20):
        if i == 10:
            lines.append(_msg(type="SCHEMA", stream="b", schema=schema("y"), key_properties=["id"]))
        lines += [
            _msg(type="RECORD", stream=s, record={"id": i, "x": "p", "y": "q"}) for s in "abc"
        ]
    lines.append(_msg(type="STATE", value={"pos": 20}))
    return lines


def test_ingest_runs_a_fixed_number_of_spark_jobs(spark, tmp_path):
    """One SCHEMA collect and one aggregate before the writes, whatever
    the number of versions: at most 3 jobs (the aggregate may run as two
    under adaptive execution) plus one write per version."""
    sc = spark.sparkContext
    group = f"ingest-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        res = SingerTarget(
            spark, {"filepath": str(tmp_path), "file_naming_scheme": "{stream}"}
        ).run_strings(_three_streams_one_redeclared())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res["metrics"]["recordCount"] == {"a": 20, "b": 20, "c": 20}
    versions_written = 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3 + versions_written


def test_write_plan_parses_record_json_once(spark, tmp_path, monkeypatch):
    """The default write decodes each RECORD with one ``from_json``: the
    checks ran in the aggregate, so the write carries no second parse."""
    plans = []
    real_write = ParquetStreamSink.write

    def capture(self, stream, df, key_properties=None):
        plans.append(df._jdf.queryExecution().optimizedPlan().toString())
        return real_write(self, stream, df, key_properties)

    monkeypatch.setattr(ParquetStreamSink, "write", capture)
    SingerTarget(
        spark, {"filepath": str(tmp_path), "file_naming_scheme": "{stream}"}
    ).run_strings(_three_streams_one_redeclared())
    parse = re.compile(r"from_json\((?:StructField\([^()]*\), )+record_json#\d+")
    assert len(plans) == 4
    assert [len(parse.findall(p)) for p in plans] == [1] * 4


def _wide_lines(invalid: bool):
    """2 streams of a 25-column schema with one ``date-time`` column; with
    ``invalid``, one record per stream breaks a ``maximum``."""
    props = {
        "id": {"type": ["integer"]},
        "ts": {"type": ["string", "null"], "format": "date-time"},
    }
    props.update({f"n{i}": {"type": ["number", "null"], "maximum": 1000} for i in range(8)})
    props.update({f"s{i}": {"type": ["string", "null"], "maxLength": 32} for i in range(8)})
    props.update({f"b{i}": {"type": ["boolean", "null"]} for i in range(7)})
    assert len(props) == 25
    lines = [
        _msg(type="SCHEMA", stream=s, schema=_schema(props), key_properties=["id"])
        for s in "ab"
    ]
    for i in range(10):
        rec = {"id": i, "ts": f"1/{i + 1}/2024 10:30 PM EST"}
        rec.update({f"n{j}": 5000 if invalid and i == 3 else i * 1.5 for j in range(8)})
        rec.update({f"s{j}": f"v{i}" for j in range(8)})
        rec.update({f"b{j}": i % 2 == 0 for j in range(7)})
        lines += [_msg(type="RECORD", stream=s, record=rec) for s in "ab"]
    return lines


@pytest.mark.parametrize("mode", ["default", "strict", "quarantine"])
def test_wide_ingest_write_compiles(spark, tmp_path, mode):
    """The write projection of a 25-column schema with a ``date-time``
    column stays within whole-stage codegen's generated-code limit:
    with interpreted fallback disabled, a projection that fails to
    compile raises instead of running slowly."""
    config = {"filepath": str(tmp_path / "out"), "file_naming_scheme": "{stream}"}
    if mode == "strict":
        config["strict_validation"] = True
    if mode == "quarantine":
        config["quarantine_path"] = str(tmp_path / "quarantine")
    key = "spark.sql.codegen.fallback"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        res = SingerTarget(spark, config).run_strings(_wide_lines(mode != "strict"))
    finally:
        spark.conf.set(key, prev)
    kept, bad = {"default": (10, 1), "strict": (10, 0), "quarantine": (9, 1)}[mode]
    assert res["metrics"] == {
        "recordCount": {"a": kept, "b": kept},
        "validationViolations": {"a": bad, "b": bad},
    }
    ts = sorted(r.ts for r in read_stream_output(spark, res["paths"]["a"]).collect())
    assert ts[0].isoformat() == "2024-01-02T03:30:00"


def test_run_without_records_keeps_state(spark, tmp_path):
    """An incremental sync with nothing new (SCHEMA and STATE only) into
    an output root that does not exist yet: the run writes its metrics
    and returns the STATE, so the tap's bookmark advances."""
    out = tmp_path / "not" / "yet"
    lines = [
        _msg(type="SCHEMA", stream="s", schema=_schema({"id": {"type": ["integer"]}}),
             key_properties=["id"]),
        _msg(type="STATE", value={"bookmark": 7}),
    ]
    res = SingerTarget(
        spark, {"filepath": str(out), "file_naming_scheme": "{stream}"}
    ).run_strings(lines)
    assert res["state"] == {"bookmark": 7}
    assert json.loads((out / "job_metrics.json").read_text()) == {
        "recordCount": {},
        "validationViolations": {},
    }


# perfbench's 25-column schema (perfbench/gen.py WIDE_SCHEMA).
WIDE_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "seq": {"type": ["integer", "null"]},
        "qty": {"type": ["integer", "null"]},
        "price": {"type": ["number", "null"], "maximum": 1000},
        "discount": {"anyOf": [{"type": "number"}, {"type": "null"}]},
        "flag": {"type": "boolean"},
        "active": {"type": ["boolean", "null"]},
        "name": {"type": "string"},
        "sku": {"type": ["string", "null"], "maxLength": 32},
        "status": {"type": "string", "enum": ["new", "paid", "shipped", "void"]},
        "created_at": {"type": "string", "format": "date-time"},
        "updated_at": {"type": ["string", "null"]},
        "tags": {"type": ["array", "null"], "items": {"type": "string"}},
        "attrs": {"type": ["object", "null"]},
        "nothing": {"type": "null"},
        "mixed": {"type": ["number", "string"]},
        "score": {"type": "number"},
        "units": {"type": "integer"},
        "note": {"type": ["string", "null"]},
        "country": {"type": "string"},
        "lat": {"type": "number"},
        "lon": {"type": "number"},
        "is_test": {"type": "boolean"},
        "ratio": {"type": ["number", "null"]},
        "ext_id": {"type": "string"},
    },
}


def test_building_one_version_takes_few_jvm_calls(spark, monkeypatch):
    """A version's predicate and coercion projection reach the JVM as SQL
    text, one parse per expression, not one py4j round trip per node."""
    fields = resolve_schema(WIDE_SCHEMA)
    assert len(fields) == 25
    calls = 0
    real_send = py4j.clientserver.ClientServerConnection.send_command
    # Only this thread's calls: py4j sends the deletions of collected JVM
    # objects from its own finalizer thread, and other threads (streaming
    # callbacks) may talk to the JVM meanwhile.
    me = threading.get_ident()

    def counting_send(self, *args, **kwargs):
        nonlocal calls
        calls += threading.get_ident() == me
        return real_send(self, *args, **kwargs)

    monkeypatch.setattr(
        py4j.clientserver.ClientServerConnection, "send_command", counting_send
    )
    compile_predicate(
        WIDE_SCHEMA,
        source_col="_rec0",
        raw_json_col="record_json",
        declared_cols=[f.name for f in fields],
    )
    coerce_columns(fields, source_col="_rec")
    monkeypatch.undo()
    assert calls <= 100


def _three_streams_one_widened():
    """3 streams; ``b`` is re-declared halfway with ``v`` widened from
    integer to number and a second key property."""
    def schema(v_type):
        return _schema({"id": {"type": ["integer"]}, "v": {"type": [v_type, "null"]}})

    lines = [
        _msg(type="SCHEMA", stream=s, schema=schema("integer"), key_properties=["id"])
        for s in "abc"
    ]
    for i in range(20):
        if i == 10:
            lines.append(_msg(type="SCHEMA", stream="b", schema=schema("number"),
                              key_properties=["id", "v"]))
        lines += [
            _msg(type="RECORD", stream=s, record={"id": i, "v": _v(s, i)}) for s in "abc"
        ]
    return lines


def _v(stream, i):
    return i + 0.5 if stream == "b" and i >= 10 else i


def test_concurrent_stream_writes(spark, tmp_path):
    """Streams write concurrently, a stream's versions in order: every
    row reads back, the key sidecar holds the last version's keys, no
    committer ``_temporary`` directory is left, and every job of the run
    lands in the job group the caller set."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    group = f"pool-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        res = SingerTarget(
            spark, {"filepath": str(tmp_path), "file_naming_scheme": "{stream}"}
        ).run_strings(_three_streams_one_widened())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not set(tracker.getJobIdsForGroup(None)) - ungrouped
    assert len(tracker.getJobIdsForGroup(group)) >= 2 + 4  # collect, aggregate, 4 writes
    assert res["metrics"]["recordCount"] == {"a": 20, "b": 20, "c": 20}
    for s in "abc":
        got = sorted(
            (r.id, r.v) for r in read_stream_output(spark, res["paths"][s]).collect()
        )
        assert got == [(i, _v(s, i)) for i in range(20)]
    with open(os.path.join(res["paths"]["b"], "_key_properties.json")) as fh:
        assert json.load(fh) == {"key_properties": ["id", "v"]}
    assert not [d for d, _, _ in os.walk(tmp_path) if os.path.basename(d) == "_temporary"]


def test_streams_sharing_one_directory_append_in_turn(spark, tmp_path):
    """A naming scheme without ``{stream}`` sends every stream to one
    directory; their appends must not overlap there, or one commit
    deletes the committer's ``_temporary`` directory under another."""
    streams = [f"s{k}" for k in range(8)]
    schema = _schema({"id": {"type": ["integer"]}, "s": {"type": ["string"]}})
    lines = [
        _msg(type="SCHEMA", stream=s, schema=schema, key_properties=["id"])
        for s in streams
    ]
    lines += [
        _msg(type="RECORD", stream=s, record={"id": i, "s": s})
        for i in range(20)
        for s in streams
    ]
    for attempt in range(3):  # overlapping appends fail only some of the time
        root = tmp_path / str(attempt)
        res = SingerTarget(
            spark, {"filepath": str(root), "file_naming_scheme": "out-{timestamp}"}
        ).run_strings(lines)
        assert len(set(res["paths"].values())) == 1
        out = read_stream_output(spark, res["paths"]["s0"])
        assert sorted((r.s, r.id) for r in out.collect()) == [
            (s, i) for s in streams for i in range(20)
        ]
        assert not [d for d, _, _ in os.walk(root) if os.path.basename(d) == "_temporary"]
