"""Compiled-predicate vs jsonschema-fallback agreement matrix (VERDICT r2
#3): one (schema, good record, bad record) case per draft-7 keyword the
reference validator registers (reference target_parquet/validator.py:51-89),
restricted to the raw-capture agreement surface documented in
validation.py (no explicit nulls, no type-only branch discrimination).

For every compilable keyword both engines must agree on both records; for
UDF-only keywords the compiled path must be PERMISSIVE (never
false-rejects — it simply doesn't constrain them), while the relaxed
jsonschema validator still catches the bad record.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from target_parquet_spark.io.singer_source import raw_record_struct
from target_parquet_spark.schema import resolve_schema
from target_parquet_spark.validation import (
    _build_relaxed_validator,
    compile_predicate,
)

# keyword -> (schema, valid_record, invalid_record)
COMPILED_CASES = {
    "enum": (
        {"properties": {"x": {"type": "string", "enum": ["a", "b"]}}},
        {"x": "a"},
        {"x": "z"},
    ),
    "const": (
        {"properties": {"x": {"type": "string", "const": "k"}}},
        {"x": "k"},
        {"x": "q"},
    ),
    "pattern": (
        {"properties": {"x": {"type": "string", "pattern": "^ab+$"}}},
        {"x": "abb"},
        {"x": "ba"},
    ),
    "minLength": (
        {"properties": {"x": {"type": "string", "minLength": 3}}},
        {"x": "abc"},
        {"x": "ab"},
    ),
    "maxLength": (
        {"properties": {"x": {"type": "string", "maxLength": 2}}},
        {"x": "ab"},
        {"x": "abc"},
    ),
    "minimum": (
        {"properties": {"x": {"type": "number", "minimum": 5}}},
        {"x": 5},
        {"x": 4.5},
    ),
    "maximum": (
        {"properties": {"x": {"type": "number", "maximum": 5}}},
        {"x": 5},
        {"x": 5.5},
    ),
    "exclusiveMinimum": (
        {"properties": {"x": {"type": "number", "exclusiveMinimum": 5}}},
        {"x": 5.1},
        {"x": 5},
    ),
    "exclusiveMaximum": (
        {"properties": {"x": {"type": "number", "exclusiveMaximum": 5}}},
        {"x": 4.9},
        {"x": 5},
    ),
    "multipleOf-int": (
        {"properties": {"x": {"type": "integer", "multipleOf": 3}}},
        {"x": 9},
        {"x": 10},
    ),
    "type-integer": (
        {"properties": {"x": {"type": "integer"}}},
        {"x": 3.0},  # draft-7: int-valued float IS an integer
        {"x": 3.5},
    ),
    "required": (
        {"properties": {"x": {"type": "string"}}, "required": ["x"]},
        {"x": "here"},
        {},
    ),
    "items": (
        {"properties": {"x": {"type": "array",
                              "items": {"type": "integer", "minimum": 0}}}},
        {"x": [1, 2, 3]},
        {"x": [1, -2]},
    ),
    "minItems": (
        {"properties": {"x": {"type": "array", "minItems": 2}}},
        {"x": [1, 2]},
        {"x": [1]},
    ),
    "maxItems": (
        {"properties": {"x": {"type": "array", "maxItems": 2}}},
        {"x": [1, 2]},
        {"x": [1, 2, 3]},
    ),
    "contains": (
        {"properties": {"x": {"type": "array",
                              "contains": {"type": "integer", "minimum": 10}}}},
        {"x": [1, 11]},
        {"x": [1, 2]},
    ),
    "uniqueItems": (
        {"properties": {"x": {"type": "array", "uniqueItems": True}}},
        {"x": [1, 2, 3]},
        {"x": [1, 2, 2]},
    ),
    "allOf": (
        {"properties": {"x": {"type": "number",
                              "allOf": [{"minimum": 0}, {"maximum": 10}]}}},
        {"x": 5},
        {"x": 11},
    ),
    "anyOf": (
        {"properties": {"x": {"type": "number",
                              "anyOf": [{"maximum": 0}, {"minimum": 10}]}}},
        {"x": 12},
        {"x": 5},
    ),
    "oneOf": (
        {"properties": {"x": {"type": "number",
                              "oneOf": [{"minimum": 0}, {"minimum": 10}]}}},
        {"x": 5},   # only the first branch
        {"x": 12},  # both branches -> not exactly one
    ),
    "not": (
        {"properties": {"x": {"type": "string",
                              "not": {"enum": ["bad", "worse"]}}}},
        {"x": "fine"},
        {"x": "bad"},
    ),
    "object-allOf": (
        {"properties": {"a": {"type": "number"}, "b": {"type": "number"}},
         "allOf": [{"properties": {"a": {"minimum": 0}}},
                   {"properties": {"b": {"maximum": 5}}}]},
        {"a": 1, "b": 2},
        {"a": 1, "b": 9},
    ),
    "object-oneOf": (
        {"properties": {"a": {"type": "number"}},
         "oneOf": [{"properties": {"a": {"minimum": 0}}},
                   {"properties": {"a": {"minimum": 10}}}]},
        {"a": 5},
        {"a": 15},
    ),
    "object-not": (
        {"properties": {"a": {"type": "string"}},
         "not": {"properties": {"a": {"const": "forbidden"}}}},
        {"a": "ok"},
        {"a": "forbidden"},
    ),
    "dependencies-list": (
        {"properties": {"cc": {"type": "string"}, "addr": {"type": "string"}},
         "dependencies": {"cc": ["addr"]}},
        {"cc": "4111", "addr": "1 Main St"},
        {"cc": "4111"},
    ),
    "dependencies-schema": (
        {"properties": {"cc": {"type": "string"}, "addr": {"type": "string"}},
         "dependencies": {"cc": {"required": ["addr"]}}},
        {"cc": "4111", "addr": "1 Main St"},
        {"cc": "4111"},
    ),
    "if-then-else": (
        {"properties": {"country": {"type": "string"}, "zip": {"type": "string"}},
         "if": {"properties": {"country": {"const": "US"}}},
         "then": {"properties": {"zip": {"pattern": "^[0-9]{5}$"}}},
         "else": {"properties": {"zip": {"minLength": 2}}}},
        {"country": "US", "zip": "12345"},
        {"country": "US", "zip": "xx"},
    ),
    "nested-combinator": (
        {"properties": {"x": {"type": "array",
                              "items": {"anyOf": [{"pattern": "^a"},
                                                  {"pattern": "z$"}]}}}},
        {"x": ["abc", "xyz"]},
        {"x": ["abc", "nope"]},
    ),
    # r5 (VERDICT r4 #4): tuple-form items + additionalItems compile
    "items-tuple": (
        {"properties": {"x": {"type": "array",
                              "items": [{"type": "integer", "minimum": 0},
                                        {"pattern": "^a"}]}}},
        {"x": [3, "abc", "anything after"]},
        {"x": [-1, "abc"]},
    ),
    "items-tuple-second": (
        {"properties": {"x": {"type": "array",
                              "items": [{"type": "integer"},
                                        {"pattern": "^a"}]}}},
        {"x": [3]},          # absent tuple slot passes
        {"x": [3, "zzz"]},
    ),
    "additionalItems-false": (
        {"properties": {"x": {"type": "array",
                              "items": [{"type": "integer"}],
                              "additionalItems": False}}},
        {"x": [1]},
        {"x": [1, 2]},
    ),
    "additionalItems-schema": (
        {"properties": {"x": {"type": "array",
                              "items": [{"type": "integer"}],
                              "additionalItems": {"type": "integer",
                                                  "maximum": 9}}}},
        {"x": [1, 2, 3]},
        {"x": [1, 2, 30]},
    ),
    # Quoting: the predicate is SQL text, so identifiers, string
    # literals, regex patterns and numbers must read back exactly.
    **{
        f"name-with-{kind}": (
            {"properties": {name: {"type": "string", "maxLength": 2}}},
            {name: "ab"},
            {name: "abc"},
        )
        for kind, name in [("dot", "a.b"), ("quote", "it's"),
                           ("backtick", "a`b"), ("space", "a b")]
    },
    "enum-quote-backslash": (
        {"properties": {"x": {"type": "string", "enum": ["it's", "a\\b"]}}},
        {"x": "it's"},
        {"x": "a\\\\b"},
    ),
    "enum-backslash": (
        {"properties": {"x": {"type": "string", "enum": ["it's", "a\\b"]}}},
        {"x": "a\\b"},
        {"x": "its"},
    ),
    "const-quote-backslash": (
        {"properties": {"x": {"type": "string", "const": "o'k\\"}}},
        {"x": "o'k\\"},
        {"x": "o'k"},
    ),
    "pattern-digit-class": (
        {"properties": {"x": {"type": "string", "pattern": "^\\d{3}$"}}},
        {"x": "123"},
        {"x": "12a"},
    ),
    "pattern-escaped-backslash": (
        {"properties": {"x": {"type": "string", "pattern": "^a\\\\b$"}}},
        {"x": "a\\b"},
        {"x": "ab"},
    ),
    "pattern-quote": (
        {"properties": {"x": {"type": "string", "pattern": "^it's$"}}},
        {"x": "it's"},
        {"x": "its"},
    ),
    "maximum-int-above-2^53": (
        {"properties": {"x": {"type": "integer", "maximum": 2**53 + 1}}},
        {"x": 2**53 + 1},
        {"x": 2**53 + 3},
    ),
    "minimum-float": (
        {"properties": {"x": {"type": "number", "minimum": 0.1}}},
        {"x": 0.1},
        {"x": 0.09},
    ),
    "multipleOf-int-float-value": (
        {"properties": {"x": {"type": "number", "multipleOf": 4}}},
        {"x": 12.0},
        {"x": 12.5},
    ),
}

# Keywords the compiled path cannot constrain in THIS addressing mode
# (no raw record text available -> key-set keywords stay permissive);
# jsonschema still rejects the bad record.  With raw_json_col these same
# keywords compile — see RAW_COMPILED_CASES.
UDF_ONLY_CASES = {
    "patternProperties-no-raw": (
        {"properties": {"x": {"type": "string"}},
         "patternProperties": {"^n_": {"type": "integer"}}},
        {"x": "v", "n_a": 3},
        {"x": "v", "n_a": "many"},
    ),
}

# r3: object-shape keywords compile when the caller passes raw_json_col
# (target.py does); local $ref expands driver-side before compilation.
RAW_COMPILED_CASES = {
    "ref-local": (
        {"definitions": {"pos": {"type": "number", "minimum": 0}},
         "properties": {"x": {"$ref": "#/definitions/pos"}}},
        {"x": 3},
        {"x": -1},
    ),
    "ref-nested": (
        {"$defs": {"short": {"type": "string", "maxLength": 3}},
         "properties": {"x": {"type": "array",
                              "items": {"$ref": "#/$defs/short"}}}},
        {"x": ["ab", "c"]},
        {"x": ["toolong"]},
    ),
    "minProperties": (
        {"properties": {"x": {"type": "string"}}, "minProperties": 2},
        {"x": "v", "y": 1},
        {"x": "v"},
    ),
    "maxProperties": (
        {"properties": {"x": {"type": "string"}}, "maxProperties": 1},
        {"x": "v"},
        {"x": "v", "y": 1},
    ),
    "propertyNames": (
        {"properties": {}, "propertyNames": {"pattern": "^[a-z_]+$"}},
        {"snake_case": 1},
        {"BadName": 1},
    ),
    "additionalProperties-false": (
        {"properties": {"x": {"type": "string"}},
         "additionalProperties": False},
        {"x": "v"},
        {"x": "v", "extra": 1},
    ),
    "dependencies-undeclared-target": (
        # legal draft-7: the dependent property is NOT declared in
        # properties — used to crash compilation with FIELD_NOT_FOUND
        {"properties": {"a": {"type": "string"}},
         "dependencies": {"a": ["b"]}},
        {"a": "x", "b": 1},
        {"a": "x"},
    ),
    "required-undeclared": (
        {"properties": {"a": {"type": "string"}}, "required": ["a", "b"]},
        {"a": "x", "b": 2},
        {"a": "x"},
    ),
    # r5 (VERDICT r4 #4): patternProperties compiles against the raw text
    "patternProperties": (
        {"properties": {"x": {"type": "string"}},
         "patternProperties": {"^n_": {"type": "integer"}}},
        {"x": "v", "n_a": 3},
        {"x": "v", "n_a": "many"},
    ),
    "patternProperties-value-constraints": (
        {"properties": {},
         "patternProperties": {"_pct$": {"type": "number", "minimum": 0,
                                         "maximum": 100}}},
        {"cpu_pct": 55.5, "other": "free"},
        {"cpu_pct": 140},
    ),
    "additionalProperties-false-with-patterns": (
        {"properties": {"x": {"type": "string"}},
         "patternProperties": {"^n_": {"type": "integer"}},
         "additionalProperties": False},
        {"x": "v", "n_count": 3},
        {"x": "v", "rogue": 1},
    ),
    # Quoting of undeclared names: they read through get_json_object.
    **{
        f"undeclared-name-with-{kind}": (
            {"properties": {"x": {"type": "string"}},
             "anyOf": [{"properties": {name: {"maxLength": 2}},
                        "required": [name]}]},
            {"x": "v", name: "ab"},
            {"x": "v", name: "abc"},
        )
        for kind, name in [("dot", "a.b"), ("quote", "it's"),
                           ("backtick", "a`b"), ("space", "a b")]
    },
}


def _compiled_verdict(spark, schema, record, with_raw=False, **kw) -> bool:
    fields = resolve_schema(schema)
    df = spark.createDataFrame(
        [(json.dumps(record),)], "record_json string"
    ).withColumn(
        "_rec", F.from_json(F.col("record_json"), raw_record_struct(fields))
    )
    pred = compile_predicate(
        schema,
        source_col="_rec",
        raw_json_col="record_json" if with_raw else None,
        **kw,
    )
    return df.select(pred.alias("ok")).collect()[0].ok


def _jsonschema_verdict(schema, record) -> bool:
    v = _build_relaxed_validator({"type": "object", **schema})
    return next(iter(v.iter_errors(record)), None) is None


@pytest.mark.parametrize("kw", sorted(COMPILED_CASES))
def test_compiled_keyword_agrees_with_jsonschema(spark, kw):
    schema, good, bad = COMPILED_CASES[kw]
    assert _jsonschema_verdict(schema, good) is True, f"{kw}: bad fixture (good)"
    assert _jsonschema_verdict(schema, bad) is False, f"{kw}: bad fixture (bad)"
    assert _compiled_verdict(spark, schema, good) is True, f"{kw}: compiled rejects valid"
    assert _compiled_verdict(spark, schema, bad) is False, f"{kw}: compiled passes invalid"


@pytest.mark.parametrize("kw", sorted(UDF_ONLY_CASES))
def test_udf_only_keywords_are_permissive_compiled(spark, kw):
    schema, good, bad = UDF_ONLY_CASES[kw]
    assert _jsonschema_verdict(schema, good) is True
    assert _jsonschema_verdict(schema, bad) is False
    # compiled path: no constraint -> both pass (permissive, never
    # false-rejecting); full fidelity lives in jsonschema_error_udf
    assert _compiled_verdict(spark, schema, good) is True
    assert _compiled_verdict(spark, schema, bad) is True


@pytest.mark.parametrize("kw", sorted(RAW_COMPILED_CASES))
def test_raw_compiled_keyword_agrees_with_jsonschema(spark, kw):
    schema, good, bad = RAW_COMPILED_CASES[kw]
    assert _jsonschema_verdict(schema, good) is True, f"{kw}: bad fixture (good)"
    assert _jsonschema_verdict(schema, bad) is False, f"{kw}: bad fixture (bad)"
    assert _compiled_verdict(spark, schema, good, with_raw=True) is True, (
        f"{kw}: compiled rejects valid"
    )
    assert _compiled_verdict(spark, schema, bad, with_raw=True) is False, (
        f"{kw}: compiled passes invalid"
    )


def test_format_is_noop_in_both_engines(spark):
    """Parity pin: the reference builds its validator WITHOUT a
    FormatChecker (reference validator.py:51-89 registers the keyword but
    never passes a checker), so `format` validates nothing there, in our
    relaxed fallback, and in the compiled path alike."""
    schema = {"properties": {"x": {"type": "string", "format": "date-time"}}}
    for rec in ({"x": "2024-01-01T00:00:00Z"}, {"x": "not a date"}):
        assert _jsonschema_verdict(schema, rec) is True
        assert _compiled_verdict(spark, schema, rec) is True


# format -> (good instances, bad instances) for the r6 compiled set —
# spec-driven fixtures (the sandbox's jsonschema has no rfc3339/idn
# checker extras, so the library cannot serve as the oracle here; the
# draft-7 spec forms are pinned directly).  Compiled ONLY behind
# check_formats=True; the default stays reference-parity (format off).
FORMAT_CASES = {
    "date": (["2024-02-29", "1999-12-31"], ["2023-02-29", "2024-13-01",
                                            "24-01-01", "2024/01/01"]),
    "date-time": (
        ["2024-01-02T03:04:05Z", "2024-01-02t23:59:60+05:30",
         "2024-06-30T12:00:00.123-08:00"],
        ["2024-01-02 03:04:05Z", "2024-02-30T00:00:00Z",
         "2024-01-02T24:00:00Z", "2024-01-02T03:04:05"],
    ),
    "time": (["03:04:05Z", "23:59:60+05:30", "12:00:00.5-08:00"],
             ["24:00:00Z", "03:04:05", "3:04:05Z"]),
    "email": (["a@b.com", "x.y+z@sub.host"], ["nope", "two@@at", "a b@c"]),
    "hostname": (["example.com", "a-1.b-2.c", "localhost"],
                 ["-bad.start", "under_score.com", "bad-.dash"]),
    "ipv4": (["0.0.0.0", "255.255.255.255", "10.1.2.3"],
             ["256.1.1.1", "1.2.3", "1.2.3.4.5", "01a.2.3.4"]),
    "ipv6": (["::1", "2001:db8::8a2e:370:7334",
              "0:0:0:0:0:0:0:1"],
             ["02001:db8::1", "g::1", "1.2.3.4"]),
    "uuid": (["123e4567-e89b-12d3-a456-426614174000"],
             ["123e4567e89b12d3a456426614174000", "xyz-bad"]),
    "uri": (["https://example.com/a?b=c", "urn:isbn:0451450523"],
            ["not a uri", "//missing.scheme/x"]),
    "json-pointer": (["", "/a/b", "/a~0b/~1c"], ["a/b", "/a~2b"]),
}


@pytest.mark.parametrize("fmt", sorted(FORMAT_CASES))
def test_compiled_format_flag_on(spark, fmt):
    schema = {"properties": {"x": {"type": "string", "format": fmt}}}
    good, bad = FORMAT_CASES[fmt]
    for v in good:
        assert _compiled_verdict(spark, schema, {"x": v},
                                 check_formats=True) is True, (fmt, v)
        # parity default: flag off never constrains
        assert _compiled_verdict(spark, schema, {"x": v}) is True
    for v in bad:
        assert _compiled_verdict(spark, schema, {"x": v},
                                 check_formats=True) is False, (fmt, v)
        assert _compiled_verdict(spark, schema, {"x": v}) is True, (fmt, v)


def test_compiled_format_nested_in_items_and_anyof(spark):
    """The marker injection must reach subschemas re-entered by the
    recursive compiler, not just top-level properties."""
    schema = {"properties": {"xs": {
        "type": "array", "items": {"type": "string", "format": "ipv4"}}}}
    assert _compiled_verdict(spark, schema, {"xs": ["1.2.3.4", "5.6.7.8"]},
                             check_formats=True) is True
    assert _compiled_verdict(spark, schema, {"xs": ["1.2.3.4", "999.0.0.1"]},
                             check_formats=True) is False
    schema2 = {"properties": {"x": {"anyOf": [
        {"type": "string", "format": "uuid"},
        {"type": "string", "format": "ipv4"}]}}}
    assert _compiled_verdict(spark, schema2, {"x": "10.0.0.1"},
                             check_formats=True) is True
    assert _compiled_verdict(spark, schema2, {"x": "neither"},
                             check_formats=True) is False


class TestLocalFileRef:
    def _write(self, tmp_path, name, doc):
        p = tmp_path / name
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_text(json.dumps(doc))
        return str(p)

    def test_file_ref_with_fragment(self, spark, tmp_path):
        self._write(tmp_path, "common.json", {"definitions": {
            "code": {"type": "string", "pattern": "^[A-Z]{3}$"}}})
        schema = {"properties": {
            "x": {"$ref": "common.json#/definitions/code"}}}
        ok = dict(ref_base_dir=str(tmp_path))
        assert _compiled_verdict(spark, schema, {"x": "ABC"}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": "abc"}, **ok) is False

    def test_whole_file_ref_and_chained_include(self, spark, tmp_path):
        """A file ref with no fragment takes the whole document; the
        included document's own file refs resolve against ITS directory."""
        self._write(tmp_path, "sub/leaf.json", {
            "type": "integer", "minimum": 10})
        self._write(tmp_path, "sub/mid.json", {"$ref": "leaf.json"})
        schema = {"properties": {"x": {"$ref": "sub/mid.json"}}}
        ok = dict(ref_base_dir=str(tmp_path))
        assert _compiled_verdict(spark, schema, {"x": 11}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": 9}, **ok) is False

    def test_internal_pointer_of_included_file_uses_its_root(
        self, spark, tmp_path
    ):
        self._write(tmp_path, "c.json", {
            "definitions": {"inner": {"type": "string", "maxLength": 2}},
            "wrap": {"$ref": "#/definitions/inner"}})
        schema = {"properties": {"x": {"$ref": "c.json#/wrap"}}}
        ok = dict(ref_base_dir=str(tmp_path))
        assert _compiled_verdict(spark, schema, {"x": "ab"}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": "abc"}, **ok) is False

    def test_remote_and_missing_refs_stay_permissive(self, spark, tmp_path):
        for ref in ("https://example.invalid/s.json#/a",
                    "no_such_file.json#/b"):
            schema = {"properties": {"x": {"$ref": ref}}}
            assert _compiled_verdict(
                spark, schema, {"x": "anything"},
                ref_base_dir=str(tmp_path),
            ) is True

    def test_no_base_dir_keeps_relative_refs_permissive(self, spark):
        schema = {"properties": {"x": {"$ref": "common.json#/definitions/c"}}}
        assert _compiled_verdict(spark, schema, {"x": "zz"}) is True

    def test_no_base_dir_gates_absolute_and_file_url_refs(
        self, spark, tmp_path
    ):
        """ADVICE r6: without ref_base_dir, ABSOLUTE-path and file://
        refs must not read the driver filesystem either — they stay
        permissive; with base_dir opted in, the same refs resolve."""
        p = self._write(tmp_path, "abs.json", {
            "type": "string", "maxLength": 1})
        for ref in (p, "file://" + p):
            schema = {"properties": {"x": {"$ref": ref}}}
            # opted out: permissive even though the file exists
            assert _compiled_verdict(spark, schema, {"x": "zz"}) is True
            # opted in: the very same ref resolves and rejects
            assert _compiled_verdict(
                spark, schema, {"x": "zz"}, ref_base_dir=str(tmp_path)
            ) is False


class TestRemoteRefRegistry:
    """r8 (VERDICT r7 #6): remote http(s) $refs resolve OFFLINE from a
    pre-fetched {url: document} store — the same cases that were
    permissive without it flip to enforced when the registry is supplied.
    Nothing is ever fetched."""

    URL = "https://schemas.example.com/common.json"

    def test_registry_flips_permissive_to_enforced(self, spark):
        schema = {"properties": {
            "x": {"$ref": self.URL + "#/definitions/code"}}}
        reg = {self.URL: {"definitions": {
            "code": {"type": "string", "pattern": "^[A-Z]{3}$"}}}}
        # without the registry: the documented permissive fallback
        assert _compiled_verdict(spark, schema, {"x": "abc"}) is True
        # with it: the very same ref enforces
        ok = dict(ref_registry=reg)
        assert _compiled_verdict(spark, schema, {"x": "ABC"}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": "abc"}, **ok) is False

    def test_whole_document_ref(self, spark):
        schema = {"properties": {"x": {"$ref": self.URL}}}
        reg = {self.URL: {"type": "integer", "minimum": 10}}
        ok = dict(ref_registry=reg)
        assert _compiled_verdict(spark, schema, {"x": 11}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": 9}, **ok) is False

    def test_chained_remote_include_relative_url(self, spark):
        """A registry document's own RELATIVE ref resolves against its
        URL (urljoin) back into the store."""
        leaf = "https://schemas.example.com/sub/leaf.json"
        mid = "https://schemas.example.com/sub/mid.json"
        schema = {"properties": {"x": {"$ref": mid}}}
        reg = {
            mid: {"$ref": "leaf.json"},
            leaf: {"type": "string", "maxLength": 2},
        }
        ok = dict(ref_registry=reg)
        assert _compiled_verdict(spark, schema, {"x": "ab"}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": "abc"}, **ok) is False

    def test_internal_pointer_of_registry_doc_uses_its_root(self, spark):
        schema = {"properties": {"x": {"$ref": self.URL + "#/wrap"}}}
        reg = {self.URL: {
            "definitions": {"inner": {"type": "string", "maxLength": 2}},
            "wrap": {"$ref": "#/definitions/inner"}}}
        ok = dict(ref_registry=reg)
        assert _compiled_verdict(spark, schema, {"x": "ab"}, **ok) is True
        assert _compiled_verdict(spark, schema, {"x": "abc"}, **ok) is False

    def test_unregistered_url_stays_permissive(self, spark):
        schema = {"properties": {
            "x": {"$ref": "https://other.example.com/s.json#/a"}}}
        reg = {self.URL: {"type": "string"}}
        assert _compiled_verdict(
            spark, schema, {"x": "anything"}, ref_registry=reg
        ) is True

    def test_registry_and_base_dir_compose(self, spark, tmp_path):
        """A local file ref and a remote ref in the same schema each
        resolve through their own store."""
        import json as _json

        p = tmp_path / "local.json"
        p.write_text(_json.dumps({"type": "string", "minLength": 2}))
        schema = {"properties": {
            "a": {"$ref": "local.json"},
            "b": {"$ref": self.URL + "#/definitions/code"},
        }}
        reg = {self.URL: {"definitions": {
            "code": {"type": "string", "pattern": "^[A-Z]{3}$"}}}}
        ok = dict(ref_base_dir=str(tmp_path), ref_registry=reg)
        assert _compiled_verdict(
            spark, schema, {"a": "xy", "b": "ABC"}, **ok) is True
        assert _compiled_verdict(
            spark, schema, {"a": "x", "b": "ABC"}, **ok) is False
        assert _compiled_verdict(
            spark, schema, {"a": "xy", "b": "abc"}, **ok) is False
