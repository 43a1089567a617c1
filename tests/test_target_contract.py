"""Twin of the singer-sdk standard target contract suite.

The reference's tests/test_core.py:12-19 runs
``singer_sdk.testing.get_standard_target_tests`` — the SDK's standard
target scenarios (record-before-schema, missing key property, duplicate
records, schema updates, no-properties schemas, special-char/camelCase
attributes, encoded strings, array data, multiple STATE messages, CLI
about).  singer-sdk is not installed in this environment (BASELINE.md),
so this module re-states each scenario directly against SingerTarget —
same stimulus, same expected contract — closing the one reference test
file that had no repo twin (VERDICT r2, "what's missing" #4).
"""

import json
import os
import subprocess
import sys

import pytest

from tests.test_target_integration import (
    STR_NULL,
    msg_record,
    msg_schema,
    msg_state,
    rows_of,
    run,
)
from target_parquet_spark.target import SingerValidationError


# --- TargetRecordBeforeSchemaTest ------------------------------------------


def test_record_before_schema_raises(spark, tmp_out):
    lines = [
        msg_record("early", {"id": "1"}),
        msg_schema("early", {"id": STR_NULL}),
    ]
    with pytest.raises(SingerValidationError, match="before its SCHEMA"):
        run(spark, tmp_out, lines)


def test_record_for_undeclared_stream_raises(spark, tmp_out):
    lines = [
        msg_schema("known", {"id": STR_NULL}),
        msg_record("unknown", {"id": "1"}),
        msg_record("known", {"id": "2"}),
    ]
    with pytest.raises(SingerValidationError, match="unknown"):
        run(spark, tmp_out, lines)


# --- TargetRecordMissingKeyProperty ----------------------------------------


def test_record_with_null_key_property_raises(spark, tmp_out):
    lines = [
        msg_schema("pk", {"id": STR_NULL, "v": STR_NULL}, key_properties=["id"]),
        msg_record("pk", {"id": "1", "v": "a"}),
        msg_record("pk", {"id": None, "v": "b"}),
    ]
    with pytest.raises(SingerValidationError, match="key_properties"):
        run(spark, tmp_out, lines)


def test_record_with_absent_key_property_raises(spark, tmp_out):
    lines = [
        msg_schema("pk", {"id": STR_NULL, "v": STR_NULL}, key_properties=["id"]),
        msg_record("pk", {"v": "only-value"}),
    ]
    with pytest.raises(SingerValidationError, match="key_properties"):
        run(spark, tmp_out, lines)


# --- TargetDuplicateRecords / TargetNoPrimaryKeys --------------------------


def test_duplicate_records_are_appended_not_upserted(spark, tmp_out):
    lines = [
        msg_schema("dup", {"id": STR_NULL, "metric": STR_NULL},
                   key_properties=["id"]),
        msg_record("dup", {"id": "1", "metric": "a"}),
        msg_record("dup", {"id": "1", "metric": "b"}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["dup"])
    assert sorted(r["metric"] for r in rows) == ["a", "b"]
    assert res["metrics"]["recordCount"] == {"dup": 2}


def test_no_primary_keys_stream_passes(spark, tmp_out):
    lines = [
        msg_schema("nopk", {"id": STR_NULL}),
        msg_record("nopk", {"id": "1"}),
        msg_record("nopk", {"id": "1"}),
        msg_record("nopk", {"id": None}),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["nopk"])
    assert len(rows) == 3


# --- TargetSchemaNoProperties / TargetInvalidSchemaTest --------------------


@pytest.mark.parametrize(
    "schema",
    [
        {"type": "object", "properties": {}},
        {"type": "object"},
    ],
)
def test_schema_with_no_properties_is_processed(spark, tmp_out, schema):
    lines = [
        json.dumps(
            {"type": "SCHEMA", "stream": "bare", "schema": schema,
             "key_properties": []}
        ),
        msg_record("bare", {"anything": "goes"}),
        msg_record("bare", {}),
    ]
    _, res = run(spark, tmp_out, lines)
    assert res["metrics"]["recordCount"] == {"bare": 2}


@pytest.mark.parametrize(
    "schema",
    [
        {"type": "object", "properties": "not-a-mapping"},
        ["not", "an", "object"],
    ],
)
def test_invalid_schema_raises(spark, tmp_out, schema):
    lines = [
        json.dumps(
            {"type": "SCHEMA", "stream": "broken", "schema": schema,
             "key_properties": []}
        ),
    ]
    with pytest.raises(SingerValidationError, match="invalid JSON schema"):
        run(spark, tmp_out, lines)


def test_string_schema_raises_validation_error(spark, tmp_out):
    """A JSON string is not a schema: the same contract error as ``5`` or
    ``[1]``, not a JSON decode error."""
    lines = [
        json.dumps(
            {"type": "SCHEMA", "stream": "broken", "schema": "abc",
             "key_properties": []}
        ),
    ]
    with pytest.raises(SingerValidationError, match="invalid JSON schema"):
        run(spark, tmp_out, lines)


# --- TargetSchemaUpdates ----------------------------------------------------


def test_schema_update_adds_column_and_keeps_history(spark, tmp_out):
    lines = [
        msg_schema("evolve", {"id": STR_NULL}),
        msg_record("evolve", {"id": "1"}),
        msg_schema("evolve", {"id": STR_NULL, "extra": STR_NULL}),
        msg_record("evolve", {"id": "2", "extra": "x"}),
    ]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["evolve"])
    assert set(df.columns) == {"id", "extra"}
    by_id = {r["id"]: r for r in rows}
    assert by_id["1"]["extra"] is None  # pre-evolution row back-filled null
    assert by_id["2"]["extra"] == "x"
    assert res["metrics"]["recordCount"] == {"evolve": 2}


# --- TargetSpecialCharsInAttributes / TargetCamelcaseTest ------------------


def test_special_chars_and_camelcase_attributes(spark, tmp_out):
    props = {
        "Id": STR_NULL,
        "clientName": STR_NULL,
        "attr-with-dash": STR_NULL,
        "attr_with_underscore": STR_NULL,
        "attr!exclaim": STR_NULL,
    }
    rec = {
        "Id": "1",
        "clientName": "Gitter",
        "attr-with-dash": "d",
        "attr_with_underscore": "u",
        "attr!exclaim": "e",
    }
    lines = [msg_schema("Chars", props), msg_record("Chars", rec)]
    _, res = run(spark, tmp_out, lines)
    df, rows = rows_of(spark, res["paths"]["Chars"])
    assert set(df.columns) == set(props)  # names preserved verbatim
    assert rows[0] == rec


# --- TargetEncodedStringData ------------------------------------------------


def test_encoded_string_data_roundtrip(spark, tmp_out):
    values = [
        "simple",
        "unicode üñîçødé",
        "emoji \U0001f680\U0001f4a5",
        'quotes "double" and \'single\'',
        "newline\nand\ttab",
        "backslash \\ slash /",
    ]
    lines = [msg_schema("enc", {"id": STR_NULL, "info": STR_NULL})] + [
        msg_record("enc", {"id": str(i), "info": v})
        for i, v in enumerate(values)
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["enc"])
    got = {r["id"]: r["info"] for r in rows}
    assert [got[str(i)] for i in range(len(values))] == values


# --- TargetArrayData / TargetCamelcaseComplexSchema ------------------------


def test_array_and_object_data_degrade_to_json_strings(spark, tmp_out):
    props = {
        "id": STR_NULL,
        "fruits": {"type": ["array", "null"], "items": {"type": "string"}},
        "Payload": {"type": ["object", "null"]},
    }
    lines = [
        msg_schema("complex", props),
        msg_record(
            "complex",
            {
                "id": "1",
                "fruits": ["apple", "orange", "pear"],
                "Payload": {"CamelKey": {"Nested": [1, 2]}},
            },
        ),
    ]
    _, res = run(spark, tmp_out, lines)
    _, rows = rows_of(spark, res["paths"]["complex"])
    r = rows[0]
    assert json.loads(r["fruits"]) == ["apple", "orange", "pear"]
    assert json.loads(r["Payload"]) == {"CamelKey": {"Nested": [1, 2]}}


# --- TargetMultipleStateMessages -------------------------------------------


def test_multiple_state_messages_keep_last_and_all_records(spark, tmp_out):
    lines = [
        msg_schema("s", {"id": STR_NULL}),
        msg_record("s", {"id": "1"}),
        msg_state({"bookmark": 1}),
        msg_record("s", {"id": "2"}),
        msg_state({"bookmark": 2}),
        msg_record("s", {"id": "3"}),
        msg_state({"bookmark": 3}),
    ]
    _, res = run(spark, tmp_out, lines)
    assert res["state"] == {"bookmark": 3}
    _, rows = rows_of(spark, res["paths"]["s"])
    assert sorted(r["id"] for r in rows) == ["1", "2", "3"]


# --- TargetCliPrintsTest ----------------------------------------------------


def test_cli_about_prints_capabilities_and_settings():
    out = subprocess.run(
        [sys.executable, "-m", "target_parquet_spark", "--about"],
        capture_output=True,
        text=True,
        timeout=120,
        env={**os.environ, "PYTHONPATH": "/root/repo"},
        check=True,
    )
    about = json.loads(out.stdout)
    assert about["name"]
    assert "about" in about["capabilities"]
    assert "filepath" in about["settings"]["properties"]


# --- quarantine path (badRecordsPath pattern, lenient mode) ----------------


def test_quarantine_reroutes_invalid_records(spark, tmp_out):
    import glob
    import os

    props = {
        "id": STR_NULL,
        "v": {"type": ["integer", "null"], "minimum": 0},
    }
    lines = [msg_schema("q", props)] + [
        msg_record("q", {"id": "ok1", "v": 1}),
        msg_record("q", {"id": "bad", "v": -5}),
        msg_record("q", {"id": "ok2", "v": 2}),
    ]
    qdir = os.path.join(tmp_out, "_quarantine")
    _, res = run(spark, tmp_out, lines, config={"quarantine_path": qdir})
    # main sink holds only the valid rows
    _, rows = rows_of(spark, res["paths"]["q"])
    assert sorted(r["id"] for r in rows) == ["ok1", "ok2"]
    assert res["metrics"]["recordCount"] == {"q": 2}
    assert res["metrics"]["validationViolations"] == {"q": 1}
    # the quarantine dir carries the raw record text, replayable
    payloads = []
    for f in glob.glob(os.path.join(qdir, "q", "*.json")):
        with open(f) as fh:
            payloads += [json.loads(l) for l in fh if l.strip()]
    assert len(payloads) == 1
    assert json.loads(payloads[0]["record_json"]) == {"id": "bad", "v": -5}

    # replay: wrap the quarantined text back into RECORD messages — after
    # "fixing the tap" (flipping the sign) the record lands in the main sink
    fixed = json.loads(payloads[0]["record_json"])
    fixed["v"] = abs(fixed["v"])
    replay = [msg_schema("q", props), msg_record("q", fixed)]
    _, res2 = run(spark, tmp_out, replay, config={"quarantine_path": qdir})
    _, rows2 = rows_of(spark, res2["paths"]["q"])
    assert sorted(r["id"] for r in rows2) == ["bad", "ok1", "ok2"]


def test_quarantine_ignored_in_strict_mode(spark, tmp_out):
    import os

    lines = [
        msg_schema("s", {"v": {"type": ["integer", "null"], "minimum": 0}}),
        msg_record("s", {"v": -1}),
    ]
    with pytest.raises(SingerValidationError):
        run(
            spark,
            tmp_out,
            lines,
            config={
                "quarantine_path": os.path.join(tmp_out, "_q"),
                "strict_validation": True,
            },
        )
    assert not os.path.exists(os.path.join(tmp_out, "_q", "s"))


# --- type-changing schema evolution (widening) ------------------------------


def test_type_changing_evolution_stays_readable(spark, tmp_out):
    """Mid-stream TYPE changes widen to a common supertype at write time
    (integer+number -> double; anything else -> string) so the output
    directory always reads back — the reference crashes here (BUG-4
    family) and naive version-append writes an unmergeable directory."""
    lines = [
        msg_schema("t", {"v": STR_NULL}),
        msg_record("t", {"v": "one"}),
        msg_schema("t", {"v": {"type": ["integer", "null"]}}),
        msg_record("t", {"v": 2}),
        msg_schema("n", {"w": {"type": ["integer", "null"]}}),
        msg_record("n", {"w": 1}),
        msg_schema("n", {"w": {"type": ["number", "null"]}}),
        msg_record("n", {"w": 2.5}),
    ]
    _, res = run(spark, tmp_out, lines)
    dft, rows_t = rows_of(spark, res["paths"]["t"])
    assert dict(dft.dtypes) == {"v": "string"}
    assert sorted(r["v"] for r in rows_t) == ["2", "one"]
    dfn, rows_n = rows_of(spark, res["paths"]["n"])
    assert dict(dfn.dtypes) == {"w": "double"}
    assert sorted(r["w"] for r in rows_n) == [1.0, 2.5]


def test_strict_failure_in_later_stream_writes_nothing(spark, tmp_out):
    """Strict contract across the whole run: a bad record in stream B must
    fail the run BEFORE stream A's output is written."""
    import glob
    import os

    lines = [
        msg_schema("aa", {"x": STR_NULL}),
        msg_record("aa", {"x": "fine"}),
        msg_schema("bb", {"v": {"type": ["integer", "null"], "minimum": 0}}),
        msg_record("bb", {"v": -1}),
    ]
    with pytest.raises(SingerValidationError, match="bb"):
        run(spark, tmp_out, lines, config={"strict_validation": True})
    assert not glob.glob(os.path.join(tmp_out, "aa*", "*.parquet"))


def test_compiled_validation_survives_fixed_headers_projection(spark, tmp_out):
    """A constrained property projected away by fixed_headers must not
    crash compilation (it is addressed via the raw record text)."""
    props = {
        "id": STR_NULL,
        "email": {"type": ["string", "null"], "minLength": 3},
    }
    lines = [
        msg_schema("u", props),
        msg_record("u", {"id": "1", "email": "a@b.co"}),
        msg_record("u", {"id": "2", "email": "x"}),
    ]
    _, res = run(
        spark, tmp_out, lines, config={"fixed_headers": {"u": ["id"]}}
    )
    df, rows = rows_of(spark, res["paths"]["u"])
    assert df.columns == ["id"]
    assert res["metrics"]["validationViolations"] == {"u": 1}


# --- ref_registry_path: offline remote-$ref store from a sidecar file -------
# (VERDICT r8 #7: a --config JSON carries the registry as a file path)


def _remote_ref_fixture(tmp_out):
    """Schema whose only constraint lives behind a remote $ref, plus a
    registry sidecar file resolving it offline."""
    props = {
        "id": STR_NULL,
        "v": {"$ref": "https://example.com/defs.json#/defs/nonneg"},
    }
    reg_path = os.path.join(tmp_out, "registry.json")
    with open(reg_path, "w") as fh:
        json.dump(
            {
                "https://example.com/defs.json": {
                    "defs": {
                        "nonneg": {"type": ["integer", "null"], "minimum": 0}
                    }
                }
            },
            fh,
        )
    lines = [
        msg_schema("rr", props),
        msg_record("rr", {"id": "a", "v": 1}),
        msg_record("rr", {"id": "b", "v": -5}),
    ]
    return lines, reg_path


def test_ref_registry_path_enforces_remote_ref(spark, tmp_out):
    """With ref_registry_path in --config, a remote-$ref constraint is
    ENFORCED end-to-end through the target (strict mode fails on the
    violating record); without it, the same ref stays permissive —
    the flip the validation matrix pins at compile_predicate level,
    here pinned through the full target pipeline."""
    lines, reg_path = _remote_ref_fixture(tmp_out)
    # permissive without the registry: both records land
    _, res = run(spark, tmp_out, lines, config={"strict_validation": True})
    assert res["metrics"]["recordCount"] == {"rr": 2}
    # enforced with it: strict mode fails the run
    with pytest.raises(SingerValidationError, match="rr"):
        run(
            spark,
            tmp_out,
            lines,
            config={
                "strict_validation": True,
                "ref_registry_path": reg_path,
            },
        )


def test_ref_registry_path_lenient_counts_violation(spark, tmp_out):
    lines, reg_path = _remote_ref_fixture(tmp_out)
    _, res = run(
        spark, tmp_out, lines, config={"ref_registry_path": reg_path}
    )
    assert res["metrics"]["recordCount"] == {"rr": 2}
    assert res["metrics"]["validationViolations"] == {"rr": 1}


def test_ref_registry_path_malformed_fails_loudly(spark, tmp_out):
    from target_parquet_spark.validation import load_ref_registry

    bad = os.path.join(tmp_out, "bad.json")
    with open(bad, "w") as fh:
        json.dump(["not", "a", "dict"], fh)
    with pytest.raises(ValueError, match="expected a JSON object"):
        load_ref_registry(bad)
    with open(bad, "w") as fh:
        json.dump({"ftp://x/y.json": {}}, fh)
    with pytest.raises(ValueError, match="not an http"):
        load_ref_registry(bad)
    with open(bad, "w") as fh:
        json.dump({"https://x/y.json": 3}, fh)
    with pytest.raises(ValueError, match="not a schema document"):
        load_ref_registry(bad)
