"""Output checks.  Each returns a list of problems (empty = correct).

Ingest output is read back through the program's own read-back contract
(``read_stream_output``: mergeSchema on) and compared with the generator's
manifest; query results are compared with the registry's DuckDB oracle.
"""

from __future__ import annotations

import json
import math
import os

from gen import rows_hash


def canonical_rows(spark, path: str, columns: list[str]):
    """Rows of one stream directory as canonical lists (sorted column
    order, timestamps as epoch microseconds)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from target_parquet_spark.io.parquet_sink import read_stream_output

    df = read_stream_output(spark, path)
    kinds = {f.name: f.dataType for f in df.schema.fields}
    cols = []
    for c in columns:
        if c not in kinds:
            cols.append(F.lit(None).alias(c))
        elif isinstance(kinds[c], T.TimestampType):
            cols.append(F.unix_micros(F.col(c)).alias(c))
        else:
            cols.append(F.col(c))
    return [list(r) for r in df.select(*cols).collect()]


def check_stream_dirs(spark, dirs: dict[str, str], manifest: dict) -> list[str]:
    """Full value check: per-stream row count and order-insensitive hash."""
    problems = []
    for stream, want in manifest["streams"].items():
        path = dirs.get(stream)
        if path is None or not os.path.isdir(path):
            problems.append(f"{stream}: no output directory")
            continue
        got = rows_hash(canonical_rows(spark, path, manifest["columns"]))
        if got != want["hash"]:
            problems.append(f"{stream}: value hash {got} != expected {want['hash']}")
    return problems


def check_job_metrics(root: str, manifest: dict, violations: bool = True) -> list[str]:
    """``job_metrics.json`` record (and violation) counts per stream."""
    path = os.path.join(root, "job_metrics.json")
    if not os.path.isfile(path):
        return [f"missing {path}"]
    with open(path) as fh:
        jm = json.load(fh)
    problems = []
    for stream, want in manifest["streams"].items():
        n = jm.get("recordCount", {}).get(stream)
        if n != want["records"]:
            problems.append(f"{stream}: recordCount {n} != {want['records']}")
        if violations:
            bad = jm.get("validationViolations", {}).get(stream)
            if bad != want["invalid"]:
                problems.append(f"{stream}: validationViolations {bad} != {want['invalid']}")
    extra = set(jm.get("recordCount", {})) - set(manifest["streams"])
    if extra:
        problems.append(f"unexpected streams {sorted(extra)}")
    return problems


def check_state(state, manifest: dict) -> list[str]:
    if state != manifest["last_state"]:
        return [f"final STATE {state!r} != {manifest['last_state']!r}"]
    return []


# --------------------------------------------------------------------------
# query results vs DuckDB oracle
# --------------------------------------------------------------------------


def _canon_cell(v):
    import datetime as dt
    import decimal

    if v is None:
        return None
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6) + 0.0  # +0.0 folds -0.0
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [_canon_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _canon_cell(x) for k, x in sorted(v.items())}
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "asDict"):
        return _canon_cell(v.asDict())
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(b, float) and isinstance(a, int):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def compare_result(spark_cols, spark_rows, duck_cols, duck_rows) -> list[str]:
    """Order-insensitive comparison with a float tolerance of 1e-6."""
    if sorted(spark_cols) != sorted(duck_cols):
        return [f"columns {sorted(spark_cols)} != oracle {sorted(duck_cols)}"]
    if len(spark_rows) != len(duck_rows):
        return [f"{len(spark_rows)} rows != oracle {len(duck_rows)}"]
    names = sorted(spark_cols)

    def norm(cols, rows):
        idx = [cols.index(c) for c in names]
        out = [[_canon_cell(r[i]) for i in idx] for r in rows]
        return sorted(out, key=lambda r: json.dumps(r, default=str, sort_keys=True))

    a, b = norm(spark_cols, spark_rows), norm(duck_cols, duck_rows)
    bad = sum(1 for x, y in zip(a, b) if not _close(x, y))
    return [f"{bad} rows differ from oracle"] if bad else []
