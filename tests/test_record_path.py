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
import time
import uuid

import pytest

from target_parquet_spark.__main__ import main
from target_parquet_spark.io.parquet_sink import ParquetStreamSink, read_stream_output
from target_parquet_spark.streaming import SingerStreamTarget
from target_parquet_spark.target import SingerTarget, SingerValidationError


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
