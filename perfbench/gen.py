"""Seeded input generators for the benchmark.

Everything here is pure Python (stdlib + pyarrow) and depends only on the
seed, so the same seed gives byte-identical inputs and manifests.

Singer inputs come with a *manifest*: what a correct target must commit
per stream (record count and declared schema per schema version, invalid
records injected, an order-insensitive hash of the expected typed values)
and the last STATE message.  ``check.py`` compares the committed Parquet against it.

The expected typed value of each cell is predicted here from the value
written, following the target's coercion rules (integer -> long, number
-> double, boolean, date-time -> UTC timestamp truncated to milliseconds,
array/object -> compact JSON text, "null" type -> always null, a
``["number", "string"]`` union -> the raw JSON text).  Invalid injections
are chosen so their outcome is unambiguous: an integer column receives a
non-numeric string (validation fails, the cell decodes to null) or a
number column exceeds its declared ``maximum`` (validation fails, the
value is kept).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# value hashing (shared with check.py)
# --------------------------------------------------------------------------

_MASK = (1 << 64) - 1


def row_digest(values: list) -> int:
    """64-bit digest of one canonical row (columns in sorted-name order)."""
    text = json.dumps(values, separators=(",", ":"))
    return int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")


def rows_hash(rows) -> str:
    """Order-insensitive hash of an iterable of canonical rows."""
    total = 0
    n = 0
    for r in rows:
        total = (total + row_digest(r)) & _MASK
        n += 1
    return f"{n}:{total:016x}"


def _dumps(obj) -> str:
    return json.dumps(obj, separators=(",", ":"))


# --------------------------------------------------------------------------
# Singer message generators
# --------------------------------------------------------------------------

_EPOCH_2024_MS = 1_704_067_200_000
_WORDS = ["alpha", "beta", "gamma", "delta", "omega", "sigma", "kappa", "zeta"]
_COUNTRIES = ["DE", "FR", "US", "JP", "BR", "IN", "NG", "AU"]


def _iso_ms(ms: int) -> str:
    d = dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)
    return d.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


# Wide schema: every type family schema.py resolves, nullability variants,
# validation keywords (maximum / maxLength / enum) and a key property.
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
WIDE_COLUMNS = sorted(WIDE_SCHEMA["properties"])


def _wide_record(rng: random.Random, rid: int, invalid: str | None):
    """One wide RECORD payload and its expected typed row (dict)."""
    created = _EPOCH_2024_MS + rng.randrange(0, 300 * 86_400_000)
    updated = None if rng.random() < 0.2 else created + rng.randrange(0, 86_400_000)
    tags = [rng.choice(_WORDS) for _ in range(rng.randrange(0, 4))]
    attrs = {"k": rng.randrange(100), "w": rng.choice(_WORDS)}
    mixed = round(rng.uniform(1, 9999), 2) if rng.random() < 0.5 else rng.choice(_WORDS)
    rec = {
        "id": rid,
        "seq": rng.randrange(1_000_000) if rng.random() < 0.9 else None,
        "qty": rng.randrange(1, 500),
        "price": round(rng.uniform(1, 999), 2),
        "discount": round(rng.uniform(0, 0.5), 2) if rng.random() < 0.8 else None,
        "flag": rng.random() < 0.5,
        "active": None if rng.random() < 0.1 else rng.random() < 0.5,
        "name": f"{rng.choice(_WORDS)}-{rid}",
        "sku": f"SKU{rng.randrange(10**8):08d}",
        "status": rng.choice(["new", "paid", "shipped", "void"]),
        "created_at": _iso_ms(created),
        "updated_at": None if updated is None else _iso_ms(updated),
        "tags": tags,
        "attrs": attrs,
        "nothing": None,
        "mixed": mixed,
        "score": round(rng.uniform(1, 100), 3),
        "units": rng.randrange(1, 10_000),
        "note": None if rng.random() < 0.3 else " ".join(rng.choices(_WORDS, k=3)),
        "country": rng.choice(_COUNTRIES),
        "lat": round(rng.uniform(-89, 89), 4),
        "lon": round(rng.uniform(-179, 179), 4),
        "is_test": rng.random() < 0.05,
        "ratio": round(rng.uniform(1, 2), 3) if rng.random() < 0.9 else None,
        "ext_id": f"x{rng.randrange(16**10):010x}",
    }
    expected = dict(rec)
    expected["created_at"] = created * 1000  # timestamps compare as epoch micros
    expected["tags"] = _dumps(tags)
    expected["attrs"] = _dumps(attrs)
    expected["mixed"] = mixed if isinstance(mixed, str) else json.dumps(mixed)
    for c in ("price", "discount", "score", "lat", "lon", "ratio"):
        if expected[c] is not None:
            expected[c] = float(expected[c])
    if invalid == "qty":
        rec["qty"] = f"n/a-{rid}"
        expected["qty"] = None
    elif invalid == "price":
        rec["price"] = round(rng.uniform(1001, 5000), 2)
        expected["price"] = float(rec["price"])
    return rec, expected


def _canon(expected: dict, columns: list[str]) -> list:
    return [expected[c] for c in columns]


def _manifest_entry(schema: dict) -> dict:
    """Per stream: records (also per schema version), the schema each
    version declared, invalid records injected, and the value digest."""
    return {"records": 0, "versions": [0], "schemas": [schema], "invalid": 0, "_digest": 0}


def _finish(manifest: dict) -> dict:
    for s in manifest["streams"].values():
        s["hash"] = f"{s['records']}:{s.pop('_digest'):016x}"
    return manifest


def _add_row(entry: dict, canon: list) -> None:
    entry["records"] += 1
    entry["versions"][-1] += 1
    entry["_digest"] = (entry["_digest"] + row_digest(canon)) & _MASK


def wide_messages(seed: int, n_records: int, streams=("orders", "payments", "shipments")):
    """``ingest_wide`` input: interleaved wide streams, ~1% invalid values,
    a STATE message every 1000 records.  Returns (lines, manifest)."""
    rng = random.Random(f"wide-{seed}")
    lines = []
    manifest = {"streams": {}, "last_state": None, "columns": WIDE_COLUMNS}
    for s in streams:
        lines.append(_dumps({"type": "SCHEMA", "stream": s, "schema": WIDE_SCHEMA,
                             "key_properties": ["id"]}))
        manifest["streams"][s] = _manifest_entry(WIDE_SCHEMA)
    bookmarks = {}
    for i in range(n_records):
        s = streams[rng.randrange(len(streams))]
        entry = manifest["streams"][s]
        invalid = None
        if rng.random() < 0.01:
            invalid = rng.choice(["qty", "price"])
            entry["invalid"] += 1
        rid = entry["records"]
        rec, expected = _wide_record(rng, rid, invalid)
        lines.append(_dumps({"type": "RECORD", "stream": s, "record": rec}))
        _add_row(entry, _canon(expected, WIDE_COLUMNS))
        bookmarks[s] = {"id": rid}
        if (i + 1) % 1000 == 0:
            state = {"bookmarks": dict(bookmarks), "seq": i + 1}
            lines.append(_dumps({"type": "STATE", "value": state}))
            manifest["last_state"] = state
    state = {"bookmarks": dict(bookmarks), "seq": n_records}
    lines.append(_dumps({"type": "STATE", "value": state}))
    manifest["last_state"] = state
    return lines, _finish(manifest)


NARROW_COLUMNS = ["amount", "id", "label", "ok", "qty"]


def _narrow_schema(amount_type: str) -> dict:
    return {
        "type": "object",
        "properties": {
            "id": {"type": "integer"},
            "amount": {"type": [amount_type, "null"]},
            "label": {"type": ["string", "null"]},
            "ok": {"type": ["boolean", "null"]},
            "qty": {"type": ["integer", "null"]},
        },
    }


def _narrow_record(rng: random.Random, rid: int, as_number: bool) -> dict:
    return {"id": rid,
            "amount": round(rng.uniform(1, 5000), 2) if as_number else rng.randrange(1, 5000),
            "label": rng.choice(_WORDS) if rng.random() < 0.9 else None,
            "ok": rng.random() < 0.5, "qty": rng.randrange(1, 100)}


def many_stream_messages(seed: int, n_streams: int, per_stream: int):
    """``ingest_many_streams`` input: many narrow streams in round-robin
    blocks; every fourth stream re-declares its SCHEMA halfway with
    ``amount`` widened integer -> number, so version-append and
    ``widen_versions`` run (its earlier integer rows land as doubles).
    Returns (lines, manifest)."""
    rng = random.Random(f"many-{seed}")
    names = [f"s{i:03d}_{rng.choice(_WORDS)}" for i in range(n_streams)]
    redeclare = set(names[::4])
    lines = []
    manifest = {"streams": {}, "last_state": None, "columns": NARROW_COLUMNS}
    for s in names:
        lines.append(_dumps({"type": "SCHEMA", "stream": s,
                             "schema": _narrow_schema("integer"),
                             "key_properties": ["id"]}))
        manifest["streams"][s] = _manifest_entry(_narrow_schema("integer"))
    block = max(1, per_stream // 4)
    for start in range(0, per_stream, block):
        for s in names:
            entry = manifest["streams"][s]
            if s in redeclare and start == (per_stream // 2 // block) * block:
                lines.append(_dumps({"type": "SCHEMA", "stream": s,
                                     "schema": _narrow_schema("number"),
                                     "key_properties": ["id"]}))
                entry["versions"].append(0)
                entry["schemas"].append(_narrow_schema("number"))
            widened = s in redeclare
            as_number = len(entry["versions"]) > 1
            for rid in range(start, min(start + block, per_stream)):
                rec = _narrow_record(rng, rid, as_number)
                amount = rec["amount"]
                lines.append(_dumps({"type": "RECORD", "stream": s, "record": rec}))
                expected = dict(rec, amount=float(amount) if widened else amount)
                _add_row(entry, _canon(expected, NARROW_COLUMNS))
        state = {"bookmarks": {"block": start}}
        lines.append(_dumps({"type": "STATE", "value": state}))
        manifest["last_state"] = state
    return lines, _finish(manifest)


def drop_files(seed: int, n_files: int, records_per_file: int,
               streams=("orders", "payments", "shipments")):
    """``stream_drop`` input: ``n_files`` message files for the drop
    directory, records spread over narrow streams.  File 0 declares every
    stream; every file re-declares one stream's SCHEMA (unchanged, as taps
    do on reconnect) before its records.  Returns (list of file texts,
    manifest)."""
    rng = random.Random(f"drop-{seed}")
    schema = _narrow_schema("number")
    manifest = {"streams": {}, "last_state": None, "columns": NARROW_COLUMNS}
    for s in streams:
        manifest["streams"][s] = _manifest_entry(schema)
    texts = []
    for f in range(n_files):
        lines = []
        declare = streams if f == 0 else (streams[f % len(streams)],)
        for s in declare:
            lines.append(_dumps({"type": "SCHEMA", "stream": s, "schema": schema,
                                 "key_properties": ["id"]}))
        for _ in range(records_per_file):
            s = streams[rng.randrange(len(streams))]
            entry = manifest["streams"][s]
            rec = _narrow_record(rng, entry["records"], as_number=True)
            lines.append(_dumps({"type": "RECORD", "stream": s, "record": rec}))
            _add_row(entry, _canon(dict(rec, amount=float(rec["amount"])), NARROW_COLUMNS))
        state = {"file": f}
        lines.append(_dumps({"type": "STATE", "value": state}))
        manifest["last_state"] = state
        texts.append("\n".join(lines) + "\n")
    return texts, _finish(manifest)


def write_lines(path: str, lines: list[str]) -> int:
    data = ("\n".join(lines) + "\n").encode()
    with open(path, "wb") as fh:
        fh.write(data)
    return len(data)


# --------------------------------------------------------------------------
# query-side tables (the registry's star schema + events/documents/embeddings)
# --------------------------------------------------------------------------


def _ts_us(base: dt.datetime, seconds: float) -> int:
    return int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1e6 + seconds * 1e6)


def query_tables(seed: int, out_dir: str, scale: float = 0.01) -> dict[str, int]:
    """Write the ten registry tables (same names, columns and types the
    query library reads) with row counts proportional to ``scale``
    (0.01 -> 60k lineitems).  Returns {table: rows}."""
    rng = random.Random(f"tables-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = int(10_000 * scale)
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = max(50, int(50_000 * scale))
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    tables: dict[str, dict] = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(regions)},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)], pa.int32()),
            "c_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)]),
            "c_mktsegment": pa.array([rng.choice(segments) for _ in range(n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)], pa.int32()),
            "s_acctbal": pa.array([round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)]),
        },
        "part": {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"{rng.choice(['small', 'large', 'tiny'])} "
                                f"{rng.choice(['ring', 'bolt', 'gear', 'pipe'])}"
                                for _ in range(n_part)]),
            "p_brand": pa.array([f"Brand#{rng.randrange(1, 6)}" for _ in range(n_part)]),
            "p_type": pa.array([rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"])
                                for _ in range(n_part)]),
            "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)], pa.int32()),
            "p_retailprice": pa.array([float(900 + rng.randrange(0, 1100))
                                       for _ in range(n_part)]),
        },
    }
    base = dt.datetime(1992, 1, 1)
    o_date = [_ts_us(base, rng.randrange(0, 7 * 365) * 86400) for _ in range(n_ord)]
    tables["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": pa.array([rng.choice("FOP") for _ in range(n_ord)]),
        "o_totalprice": pa.array([round(rng.uniform(1000, 400000), 2) for _ in range(n_ord)]),
        "o_orderdate": pa.array(o_date, pa.timestamp("us")),
        "o_orderpriority": pa.array([rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                 "4-NOT SPECIFIED", "5-LOW"])
                                     for _ in range(n_ord)]),
    }
    li: dict[str, list] = {k: [] for k in (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
        "l_shipdate")}
    for ok in range(n_ord):
        for ln in range(1, rng.randrange(1, 8)):
            qty = float(rng.randrange(1, 51))
            li["l_orderkey"].append(ok)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
            li["l_discount"].append(rng.randrange(0, 11) / 100)
            li["l_tax"].append(rng.randrange(0, 9) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("OF"))
            li["l_shipdate"].append(o_date[ok] + rng.randrange(1, 122) * 86_400_000_000)
    li_types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
                "l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us")}
    tables["lineitem"] = {k: pa.array(v, li_types.get(k)) for k, v in li.items()}
    n_users = max(20, n_events // 66)
    ev_base = dt.datetime(2024, 1, 1)
    ev_ts = sorted(_ts_us(ev_base, rng.uniform(0, 30 * 86400)) for _ in range(n_events))
    tables["events"] = {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": pa.array([rng.choice(["click", "signup", "error", "view", "purchase"])
                                for _ in range(n_events)]),
        "value": pa.array([round(rng.uniform(0, 100), 2) for _ in range(n_events)]),
        "props": pa.array([_dumps({"k": rng.randrange(100)}).replace(":", ": ")
                           for _ in range(n_events)]),
    }
    vocab = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
             "hash", "a", "the", "merge", "batch", "spark", "line", "sort", "window",
             "join", "index", "query", "plan", "shuffle", "cache"]
    texts = []
    for d in range(n_docs):
        if d and rng.random() < 0.1:  # near-duplicate of an earlier doc
            words = texts[rng.randrange(len(texts))].split()
            words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            words = rng.choices(vocab, k=rng.randrange(10, 40))
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([rng.choice(["en", "en", "en", "de", "fr", "es", "zh"])
                          for _ in range(n_docs)]),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    centers = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(10)]
    embs, labels = [], []
    for _ in range(n_docs):
        lab = rng.randrange(10)
        v = [c + rng.gauss(0, 0.5) for c in centers[lab]]
        norm = sum(x * x for x in v) ** 0.5
        embs.append([x / norm for x in v])
        labels.append(lab)
    tables["embeddings"] = {
        "vec_id": pa.array(range(n_docs), pa.int64()),
        "embedding": pa.array(embs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
