"""Value coercion as Catalyst expressions (C4-C11 in SURVEY §2).

The reference coerces record values one at a time in a Python loop
(reference target_parquet/sinks.py:72-112, 165-166).  Here each declared
field becomes ONE vectorized expression applied to the whole micro-batch —
the per-record loop disappears and the coercions run inside whole-stage
codegen on the JVM.  The expressions are rendered as Spark SQL text
(sql_text.py quotes literals and identifiers) and each reaches the JVM in
one ``F.expr`` parse, instead of a ``Column`` tree assembled one py4j
round trip per node.

Input convention: the Singer RECORD payload is parsed with
``from_json(record, <all-string struct>)`` so every declared field arrives
as its *raw JSON text* (Spark captures nested objects/arrays as their JSON
serialization — this is the engine's row-raw representation).  The
expressions below implement, per resolved type (schema.resolve_type — the
same resolution as the schema path, fixing reference BUG-3):

- C9  null preservation: raw NULL stays NULL (falsy ``0``/``0.0``/``False``/
      ``""`` survive — native SQL null semantics; reference sinks.py:73-74).
- C10 empty-string -> null for non-string targets (reference sinks.py:87-88).
- C4  number: ``try_cast(double)``  (reference float(), sinks.py:90-91;
      unparseable values become null instead of crashing the pipe).
- C5  integer: ``try_cast(long)``, else an integral decimal (``7.0``)
      that fits a long  (reference int(), sinks.py:93-94).
- C6/C11 date-time: one dateutil-grade grammar (``lenient_timestamp``: a
      zone-abbreviation lookup, the ISO cast, then six optional-section
      patterns over a once-cleaned string), malformed -> NULL
      (``datetime_error_treatment = NULL``, reference sinks.py:141-143,
      177-208), truncated to millisecond precision to match the reference's
      ``pa.timestamp("ms")`` sink type (reference sinks.py:40-41).
- C7  string: raw text passthrough (JSON numbers keep their literal text,
      matching Python ``str()``; JSON ``true`` arrives as ``"true"`` — the
      reference's ``str(True) == "True"`` spelling is available via the
      exact-compat ingest path in io/singer_source.py).
- C8  nested array/object -> JSON string: the raw captured subtree text
      (reference json.dumps, sinks.py:106-110; equality is JSON round-trip,
      not byte-identical whitespace).

BUG-2 fix (reference tests/README.md:38-50): a null in a non-nullable
column never produces an unreadable file — strict mode rejects the batch,
lenient mode writes null and counts a violation (see target.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from target_parquet_spark import sql_text as S
from target_parquet_spark.schema import ResolvedField

__all__ = ["coerce_expr", "coerce_columns", "lenient_timestamp"]

# dateutil resolves a zone abbreviation only through an explicit
# ``tzinfos=`` map, and THIS dict is that map's single source of truth:
# the parity tests hand the same dict (in seconds) to dateutil, so
# dateutil and lenient_timestamp agree by construction.  UTC/GMT are
# absent because both resolve them unaided.  Ambiguous
# abbreviations (CST, IST) take the offset recorded here.
TZ_ABBREV_OFFSETS = {
    "EST": "-05:00", "EDT": "-04:00",
    "CST": "-06:00", "CDT": "-05:00",
    "MST": "-07:00", "MDT": "-06:00",
    "PST": "-08:00", "PDT": "-07:00",
    "AKST": "-09:00", "AKDT": "-08:00",
    "HST": "-10:00",
    "WET": "+00:00", "WEST": "+01:00",
    "CET": "+01:00", "CEST": "+02:00",
    "EET": "+02:00", "EEST": "+03:00",
    "BST": "+01:00",
    "IST": "+05:30",
    "SGT": "+08:00", "HKT": "+08:00",
    "JST": "+09:00", "KST": "+09:00",
    "AEST": "+10:00", "AEDT": "+11:00",
    "NZST": "+12:00", "NZDT": "+13:00",
}

# A trailing mapped abbreviation; group 1 is its TZ_ABBREV_OFFSETS key.
_TZ_ABBREV_TRAILING = r"\s(" + "|".join(TZ_ABBREV_OFFSETS) + r")\s*$"

# Leading weekday tokens dateutil skips ("Tuesday, June 3, 2021");
# anchored, so month names containing weekday substrings can't be hit.
_WEEKDAY_PREFIX = (
    r"(?i)^\s*(monday|tuesday|wednesday|thursday|friday|saturday|sunday"
    r"|mon|tue|tues|wed|thu|thur|thurs|fri|sat|sun)[,.]?\s+"
)

# Optional clock and zone sections shared by every date shape.  The
# meridiem section comes before the 24-hour one: an optional section that
# parses is kept, so "10:30:45 PM" read by ``H:m:s`` first would leave
# " PM" unparsed.
_CLOCK = "[ h[:m[:s]] a][ H:m[:s[.SSSSSS]]][ XXX][ zzz]"

# Patterns for the cleaned string (see lenient_timestamp), tried in
# order.  M/d comes before d/M, as in dateutil: "01/02/2024" is Jan 2,
# while "15/01/2024" fails M/d (month 15) and parses as d/M.
# ``[MMMM][MMM]`` takes a full month name, else a short one.
_TS_PATTERNS = [
    "M/d/yyyy" + _CLOCK,
    "d/M/yyyy" + _CLOCK,
    "yyyy/M/d" + _CLOCK,
    "[MMMM][MMM] d yyyy" + _CLOCK,
    "d [MMMM][MMM] yyyy" + _CLOCK,
    "yyyyMMdd['T'HHmmss]",
]


def _sub(text: str, pattern: str, replacement: str) -> str:
    return f"regexp_replace({text}, {S.string(pattern)}, {S.string(replacement)})"


def _timestamp_sql(raw: str) -> str:
    """SQL text of :func:`lenient_timestamp` over the SQL text ``raw``."""
    offsets = "map(" + ", ".join(
        S.string(x) for kv in TZ_ABBREV_OFFSETS.items() for x in kv
    ) + ")"
    trailing = S.string(_TZ_ABBREV_TRAILING)
    zoned = (
        f"concat_ws(' ', regexp_replace({raw}, {trailing}, ''), "
        f"try_element_at({offsets}, regexp_extract({raw}, {trailing}, 1)))"
    )
    cleaned = _sub(zoned, _WEEKDAY_PREFIX, "")
    cleaned = _sub(cleaned, r"(?i)(\d{1,2})(st|nd|rd|th)\b", "$1")
    cleaned = _sub(cleaned, r"(?i)\bof\s+", "")
    cleaned = _sub(cleaned, r"(?i)(\d)\s*(am|pm)\b", "$1 $2")
    cleaned = "trim(" + _sub(cleaned, r"[\s,]+", " ") + ")"
    cleaned = _sub(cleaned, r"^(\d{1,4})[-.](\d{1,2})[-.]", "$1/$2/")
    cleaned = _sub(cleaned, r"^(\d{1,2})-([A-Za-z]+)-", "$1 $2 ")
    parsed = ", ".join(
        [f"try_cast({zoned} AS TIMESTAMP)"]
        + [f"try_to_timestamp({cleaned}, {S.string(p)})" for p in _TS_PATTERNS]
    )
    return f"date_trunc('millisecond', coalesce({parsed}))"


def lenient_timestamp(raw: str) -> Column:
    """Best-effort string -> timestamp over the SQL text ``raw`` (a column
    name is valid SQL); null (never error) on failure.

    One grammar approximating dateutil.parser (reference sinks.py:96-101):

    1. A trailing mapped zone abbreviation becomes its fixed offset (one
       map lookup).  This runs before anything parses a zone name,
       because java.time resolves bare abbreviations to DST-observing
       region zones (summer "CST" would be America/Chicago's -05:00, not
       the map's -06:00).
    2. ``try_cast(timestamp)`` takes the ISO-8601 family (``T``
       separator, ``Z`` / numeric offsets, fractional seconds).  It reads
       the substituted string, not the raw one, because the cast also
       resolves a bare abbreviation to its region zone.
    3. Otherwise the string is cleaned once -- leading weekday, ordinal
       suffixes and "of", an attached am/pm ("4pm"), commas and repeated
       whitespace; numeric date separators become ``/`` and
       "15-Jan-2024" becomes "15 Jan 2024" -- and tried against
       ``_TS_PATTERNS``.  The cleaned string is referenced once per
       pattern, which keeps a wide ingest projection inside the 64 KB
       generated-method limit of whole-stage codegen.

    The result is truncated to millisecond precision (reference
    pa.timestamp("ms")).
    """
    return F.expr(_timestamp_sql(raw))


def coerce_expr(raw: str, rf: ResolvedField) -> str:
    """SQL text of one vectorized expression implementing the reference's
    parse_record_value (reference sinks.py:72-112) for the resolved field
    ``rf``, over the SQL text ``raw`` of its raw capture."""
    if rf.type_id == "null":
        # All-null column (see schema.py for the NullType->string deviation).
        return "CAST(NULL AS STRING)"
    if rf.type_id == "string" and rf.format == "date-time":
        parsed = _timestamp_sql(raw)
    elif rf.type_id == "number":
        parsed = f"try_cast({raw} AS DOUBLE)"
    elif rf.type_id == "integer":
        # Spark's string->long cast rejects "3.2" (→ null) just as Python
        # int() raises; unlike the reference, the pipe survives.  An
        # integral JSON number spelled as a float (7.0, 1e2, -0.0) is an
        # integer to JSON Schema and to the reference's int(7.0), so it
        # falls back to the exact decimal when that has no fraction and
        # fits a long.
        dec = f"try_cast({raw} AS DECIMAL(38,18))"
        parsed = (
            f"coalesce(try_cast({raw} AS BIGINT), "
            f"CASE WHEN {dec} = floor({dec}) THEN try_cast({dec} AS BIGINT) END)"
        )
    elif rf.type_id == "boolean":
        parsed = f"try_cast({raw} AS BOOLEAN)"
    else:
        # string / array / object / unknown: raw JSON text passthrough.
        return raw
    return f"CASE WHEN {raw} = '' THEN NULL ELSE {parsed} END"


def coerce_columns(fields: list[ResolvedField], source_col: str = "record") -> list[Column]:
    """The full projection: one coercion expression per declared field,
    each parsed from its SQL text in one JVM call.

    ``source_col`` is the struct column produced by the all-string
    ``from_json`` parse.  The resulting select is the entire RECORD hot path
    of the reference (validate/coerce/append, sinks.py:162-170) as a single
    Catalyst plan.
    """
    src = S.ident(source_col)
    return [
        F.expr(f"{coerce_expr(f'{src}.{S.ident(rf.name)}', rf)} AS {S.ident(rf.name)}")
        for rf in fields
    ]
