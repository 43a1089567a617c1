"""Tests for Singer JSONL files: the Spark 4 Python DataSource writer
(``df.write.format("singer")``) and reads through
``SingerTarget.read_records``."""

from __future__ import annotations

import json

import pytest

from target_parquet_spark.io.singer_datasource import SingerDataSource
from target_parquet_spark.target import SingerTarget


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(SingerDataSource)


def _schema_msg(stream="s", props=None):
    props = props or {
        "id": {"type": ["integer", "null"]},
        "v": {"type": ["number", "null"]},
        "name": {"type": ["string", "null"]},
        "ts": {"type": ["string", "null"], "format": "date-time"},
    }
    return json.dumps(
        {
            "type": "SCHEMA",
            "stream": stream,
            "schema": {"type": "object", "properties": props},
            "key_properties": ["id"],
        }
    )


def _record(stream, **kw):
    return json.dumps({"type": "RECORD", "stream": stream, "record": kw})


def test_reads_typed_records_across_files(spark, tmp_path):
    a, b = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    a.write_text(
        "\n".join(
            [_schema_msg()]
            + [_record("s", id=i, v=i * 1.5, name=f"n{i}",
                       ts=f"2024-01-01T00:00:0{i}Z") for i in range(5)]
        )
    )
    b.write_text(
        "\n".join(
            [_schema_msg()]
            + [_record("s", id=i + 5, v=None, name=None, ts=None)
               for i in range(5)]
            + [json.dumps({"type": "STATE", "value": {}})]
        )
    )
    df = SingerTarget(spark).read_records(f"{tmp_path}/*.jsonl")
    assert [f.name for f in df.schema.fields] == ["id", "v", "name", "ts"]
    assert dict(df.dtypes)["ts"] == "timestamp"
    rows = {r.id: r for r in df.collect()}
    assert len(rows) == 10
    assert rows[1].v == 1.5 and rows[1].name == "n1"
    assert rows[7].v is None and rows[7].ts is None
    # one partition per file
    assert df.rdd.getNumPartitions() == 2


def test_stream_option_filters_and_schema_follows(spark, tmp_path):
    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            [
                _schema_msg("users", {"uid": {"type": ["integer", "null"]}}),
                _schema_msg("events", {"eid": {"type": ["integer", "null"]}}),
                _record("users", uid=1),
                _record("events", eid=100),
                _record("users", uid=2),
            ]
        )
    )
    users = (
        SingerTarget(spark).read_records(str(p), "users")
    )
    assert [f.name for f in users.schema.fields] == ["uid"]
    assert sorted(r.uid for r in users.collect()) == [1, 2]
    events = (
        SingerTarget(spark).read_records(str(p), "events")
    )
    assert sorted(r.eid for r in events.collect()) == [100]


def test_repair_semantics_match_engine_contract(spark, tmp_path):
    """Unparseable numerics/timestamps repair to NULL; nested values
    stringify as JSON; garbage lines are skipped — the same contract as
    the batch target."""
    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            [
                _schema_msg(
                    "s",
                    {
                        "id": {"type": ["integer", "null"]},
                        "v": {"type": ["number", "null"]},
                        "meta": {"type": ["object", "null"]},
                        "ts": {"type": ["string", "null"],
                               "format": "date-time"},
                    },
                ),
                "not json at all {{{",
                _record("s", id=1, v="not-a-number", ts="never",
                        meta={"b": 2, "a": 1}),
                _record("s", id="7", v="2.5", ts="2024-06-01T12:00:00Z"),
            ]
        )
    )
    rows = {r.id: r for r in SingerTarget(spark).read_records(str(p)).collect()}
    assert len(rows) == 2
    assert rows[1].v is None and rows[1].ts is None
    assert json.loads(rows[1].meta) == {"a": 1, "b": 2}
    assert rows[7].v == 2.5 and rows[7].ts is not None


def test_missing_schema_message_raises(spark, tmp_path):
    p = tmp_path / "m.jsonl"
    p.write_text(_record("s", id=1))
    with pytest.raises(Exception):
        SingerTarget(spark).read_records(str(p)).collect()


def test_converter_parity_with_batch_coercion(spark, tmp_path):
    """The reader's Python converters must match coerce.py's cast rules:
    stringly booleans parse (not bool(str)!), non-integral numerics
    repair to NULL (never truncate), timestamps truncate to ms."""
    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            [
                _schema_msg(
                    "s",
                    {
                        "id": {"type": ["integer", "null"]},
                        "n": {"type": ["integer", "null"]},
                        "b": {"type": ["boolean", "null"]},
                        "ts": {"type": ["string", "null"],
                               "format": "date-time"},
                    },
                ),
                _record("s", id=1, n="3.2", b="false",
                        ts="2024-06-01T12:00:00.123456Z"),
                _record("s", id=2, n=7.9, b="maybe", ts="01/02/2024"),
                _record("s", id=3, n=7.0, b="TRUE", ts=None),
                _record("s", id=4, n="1e30", b=0, ts="2024-06-01"),
            ]
        )
    )
    rows = {r.id: r for r in SingerTarget(spark).read_records(str(p)).collect()}
    assert rows[1].n is None          # "3.2" repairs, never truncates
    assert rows[1].b is False         # "false" is False, not bool("false")
    assert rows[1].ts.microsecond == 123000  # ms truncation (sink parity)
    assert rows[2].n is None          # 7.9 repairs
    assert rows[2].b is None          # garbage boolean repairs
    assert rows[2].ts is not None     # lenient M/d/yyyy fallback parses
    assert rows[3].n == 7             # integral float is fine
    assert rows[3].b is True
    assert rows[4].n is None          # out-of-long-range repairs
    assert rows[4].b is False


def test_timestamps_match_batch_coercion_on_parity_corpora(spark, tmp_path):
    """Every string of the dateutil parity corpora reads to the value the
    batch target's lenient_timestamp gives it, unparseable ones (NULL)
    included: an unknown zone name is a miss, not a naive clock time."""
    from pyspark.sql import functions as F

    from target_parquet_spark.coerce import lenient_timestamp
    from tests.test_r3_hardening import DATEUTIL_CORPUS, TZINFOS_CORPUS

    corpus = DATEUTIL_CORPUS + TZINFOS_CORPUS + [
        "not a date",
        "2024-01-15 10:30:00 XQZT",
    ]
    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            [_schema_msg()] + [_record("s", id=i, ts=s) for i, s in enumerate(corpus)]
        )
    )
    got = {r.id: r.ts for r in SingerTarget(spark).read_records(str(p)).collect()}
    want = {
        r.id: r.ts
        for r in spark.createDataFrame(list(enumerate(corpus)), "id long, raw string")
        .select("id", lenient_timestamp("raw").alias("ts"))
        .collect()
    }
    for i, s in enumerate(corpus):
        assert got[i] == want[i], f"{s!r}: reader={got[i]!r} batch={want[i]!r}"
    assert sum(t is None for t in want.values()) == 2


def test_unmatched_glob_raises_clear_error(spark, tmp_path):
    with pytest.raises(Exception, match="no files match"):
        SingerTarget(spark).read_records(f"{tmp_path}/nothing-*.jsonl")


def test_writer_pending_staging_and_manifest_merge(spark, tmp_path):
    """Uncommitted .pending shards (dead/speculative attempts) must be
    invisible to the reader; append-mode commits merge the _SUCCESS
    manifest so it names ALL live shards."""
    import os

    out = f"{tmp_path}/singer_out"
    df1 = spark.createDataFrame([(1, "a")], "id long, name string")
    df1.coalesce(1).write.format("singer").option("stream", "s").mode(
        "append"
    ).save(out)
    # simulate a dead task attempt's leftover staging file
    with open(f"{out}/part-deadbeef.jsonl.pending", "w") as fh:
        fh.write('{"type":"RECORD","stream":"s","record":{"id":99,"name":"x"}}\n')
    df2 = spark.createDataFrame([(2, "b")], "id long, name string")
    df2.coalesce(1).write.format("singer").option("stream", "s").mode(
        "append"
    ).save(out)

    back = SingerTarget(spark).read_records(out)
    assert sorted(r.id for r in back.collect()) == [1, 2]  # 99 invisible
    manifest = open(f"{out}/_SUCCESS").read().strip().splitlines()
    assert len(manifest) == 2  # both jobs' shards named
    shards = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    assert {line.split("\t")[0] for line in manifest} == shards


def test_writer_nan_inf_repair_and_utc_offset(spark, tmp_path):
    """Non-finite doubles repair to NULL (shards stay valid JSON for
    strict parsers) and timestamps carry an explicit UTC offset."""
    from datetime import datetime, timezone

    out = f"{tmp_path}/singer_out"
    df = spark.createDataFrame(
        [(1, float("nan"), datetime(2024, 6, 1, 12, tzinfo=timezone.utc)),
         (2, float("inf"), None)],
        "id long, v double, ts timestamp",
    )
    df.coalesce(1).write.format("singer").option("stream", "s").mode(
        "append"
    ).save(out)
    import os

    shard = [f for f in os.listdir(out) if f.endswith(".jsonl")][0]
    lines = open(f"{out}/{shard}").read().splitlines()
    for line in lines:
        json.loads(line)  # also rejects bare NaN/Infinity tokens? no -- check below
    assert "Infinity" not in "".join(lines) and "NaN" not in "".join(lines)
    assert "+00:00" in "".join(lines)
    back = {r.id: r for r in SingerTarget(spark).read_records(out).collect()}
    assert back[1].v is None and back[2].v is None


def test_write_round_trip(spark, tmp_path):
    """df -> write singer -> read singer must reproduce rows and types;
    every shard is self-describing (SCHEMA first line) and _SUCCESS
    names the shards."""
    import os
    from datetime import datetime, timezone

    src = spark.createDataFrame(
        [
            (1, 1.5, "a", True,
             datetime(2024, 6, 1, 12, 0, 0, 123000, tzinfo=timezone.utc)),
            (2, None, None, None, None),
        ],
        "id long, v double, name string, ok boolean, ts timestamp",
    )
    out = f"{tmp_path}/singer_out"
    (
        src.coalesce(2)
        .write.format("singer")
        .option("stream", "users")
        .option("key_properties", "id")
        .mode("overwrite")
        .save(out)
    )
    assert os.path.exists(f"{out}/_SUCCESS")
    shards = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert shards
    for s in shards:
        first = open(f"{out}/{s}").readline()
        assert json.loads(first)["type"] == "SCHEMA"

    back = SingerTarget(spark).read_records(f"{out}/*.jsonl")
    got = {r.id: r for r in back.collect()}
    assert dict(back.dtypes) == dict(src.dtypes)
    assert got[1].v == 1.5 and got[1].ok is True
    assert got[1].ts == datetime(2024, 6, 1, 12, 0, 0, 123000)
    assert got[2].v is None and got[2].ts is None


def test_converter_special_numeric_spellings(spark, tmp_path):
    """JVM-grammar corners: case-insensitive inf/nan strings parse,
    huge JSON integers saturate to Infinity (never crash), float 1.0 in
    a boolean field repairs to NULL."""
    import math

    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            [
                _schema_msg(
                    "s",
                    {
                        "id": {"type": ["integer", "null"]},
                        "v": {"type": ["number", "null"]},
                        "b": {"type": ["boolean", "null"]},
                    },
                ),
                _record("s", id=1, v="inf", b=1.0),
                _record("s", id=2, v="NaN", b=1),
                json.dumps(
                    {"type": "RECORD", "stream": "s",
                     "record": {"id": 3, "v": int("9" * 400), "b": None}}
                ),
            ]
        )
    )
    rows = {r.id: r for r in SingerTarget(spark).read_records(str(p)).collect()}
    assert rows[1].v == float("inf") and rows[1].b is None
    assert math.isnan(rows[2].v) and rows[2].b is True
    assert rows[3].v == float("inf")


def test_redeclared_stream_reads_as_the_target_writes(spark, tmp_path):
    """A stream re-declared with ``v`` widened from integer to number and
    a new column ``w`` reads back through ``read_records`` exactly as the
    target writes it: ``v double``, ``w string``, each RECORD decoded
    under the version that governs it."""
    from target_parquet_spark.io.parquet_sink import read_stream_output

    p = tmp_path / "m.jsonl"
    p.write_text(
        "\n".join(
            [
                _schema_msg("s", {"id": {"type": ["integer", "null"]},
                                  "v": {"type": ["integer", "null"]}}),
                _record("s", id=1, v=2),
                _schema_msg("s", {"id": {"type": ["integer", "null"]},
                                  "v": {"type": ["number", "null"]},
                                  "w": {"type": ["string", "null"]}}),
                _record("s", id=2, v=2.5, w="x"),
            ]
        )
    )
    out = tmp_path / "out"
    SingerTarget(
        spark, {"filepath": str(out), "file_naming_scheme": "{stream}"}
    ).run_path(str(p))
    written = read_stream_output(spark, str(out / "s"))
    read = SingerTarget(spark).read_records(str(p))
    assert read.dtypes == written.dtypes
    assert dict(read.dtypes) == {"id": "bigint", "v": "double", "w": "string"}
    assert sorted(read.collect()) == sorted(written.collect())
    assert sorted(tuple(r) for r in read.collect()) == [(1, 2.0, None), (2, 2.5, "x")]
