"""The workloads.  Each drives the program only through its public entry
points (``session.get_spark``, ``SingerTarget.run_path``,
``SingerStreamTarget.start``, ``__spark_entry__.queries()``) and returns
``(end_to_end, per_layer, attempted, failed)``.

Every workload first runs untimed warm-up operations (the JVM compiles
the hot paths during them; the first one's time is reported per layer as
``bench.first_op_s``).  The timed operations are a fixed number:
``--seconds`` is turned into an operation count once, from a nominal cost
per operation, so a parent commit and a change do identical work.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import statistics
import subprocess
import threading
import time

import check
import gen

# Nominal seconds per timed operation on a 4-core box; only used to turn
# --seconds into a fixed operation count.  After one warm-up call the JVM
# is still compiling and the next call's time depends on how fast it gets
# there (a second run_path call took 8.9-11.4 s, later ones 7.2-8.6 s), so
# ingest has two.  A pass over the query mix gets there sooner (passes took
# 21, 9, 6.9, then 6.1-6.3 s), and a second warm-up pass did not narrow
# the spread of its runs, so it has one.
CALL_S = 7.5  # one warm run_path call (6-9 s)
PASS_S = 7.0  # one warm pass over the query mix (6-8 s)
WARMUP_CALLS, WARMUP_PASSES = 2, 1
WIDE_RECORDS = 3000
MANY_STREAMS, MANY_PER_STREAM = 12, 100
DROP_RECORDS, DROP_PERIOD_S, DROP_WARMUP_FILES = 5000, 6.0, 2
TRACE_DROP_FILES = 2  # timed files of the streaming leg of a traced ingest run
QUERY_SCALE = 0.01

# query_mix: (registry name, tables it reads), one per operator family.
QUERY_MIX = [
    ("q1_pricing_summary", ["lineitem"]),
    ("q3_shipping_priority", ["customer", "orders", "lineitem"]),
    ("q18_large_orders", ["customer", "orders", "lineitem"]),
    ("window_topk_per_group", ["lineitem"]),
    ("agg_hll_sketch", ["events"]),
    ("dedup_minhash_lsh_pairs", ["documents"]),
    ("sim_ann_ivf", ["embeddings"]),
    ("text_bm25_search", ["documents"]),
    ("multimodal_decode_png", ["documents"]),
    ("events_sessionize", ["events"]),
]


def _count(seconds: float, per_op: float, least: int) -> int:
    return max(least, round(seconds / per_op))


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of this process plus the driver JVM."""
    total_kb = 0
    for pid in ("self", str(spark.sparkContext._gateway.proc.pid)):
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def parquet_files(root: str) -> list[str]:
    return [p for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
            if not os.path.basename(p).startswith((".", "_"))]


def _median(values, default=0.0):
    values = list(values)
    return statistics.median(values) if values else default


# --------------------------------------------------------------------------
# session set-up
# --------------------------------------------------------------------------


def start_spark():
    """Set the session up from a cold start: ``get_spark`` launches the
    JVM, then the first trivial action runs.  Returns (spark, set-up
    seconds, get_spark-only seconds)."""
    from target_parquet_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench")
    t1 = time.perf_counter()
    spark.range(1).count()
    return spark, time.perf_counter() - t0, t1 - t0


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


# --------------------------------------------------------------------------
# batch ingest
# --------------------------------------------------------------------------


def run_ingest(ctx, workload: str):
    """Closed loop: ``run_path`` calls on the same generated pipe, each
    into a fresh output root; the first ``WARMUP_CALLS`` are the warm-up."""
    from target_parquet_spark.target import SingerTarget

    if workload == "ingest_wide":
        lines, manifest = gen.wide_messages(ctx.seed, WIDE_RECORDS)
    else:
        lines, manifest = gen.many_stream_messages(ctx.seed, MANY_STREAMS, MANY_PER_STREAM)
    path = os.path.join(ctx.work, "input.jsonl")
    in_bytes = gen.write_lines(path, lines)
    spark, tracer = ctx.spark, ctx.tracer
    n_ops = _count(ctx.seconds, CALL_S, 1)
    lat, ops, outs, job_stats, first = [], [], [], [], None
    failed = 0
    for i in range(-WARMUP_CALLS, n_ops):  # negative: warm-up calls
        out = os.path.join(ctx.work, f"out{i + WARMUP_CALLS}")
        target = SingerTarget(spark, {"filepath": out, "file_naming_scheme": "{stream}"})
        if tracer:
            tracer.op = i if i >= 0 else "warm-up"
        try:
            jobs = tracer.jobs(f"perfbench-call{i}") if tracer else contextlib.nullcontext({})
            with jobs as js:
                t0 = time.perf_counter()
                result = target.run_path(path)
                dt_s = time.perf_counter() - t0
        except Exception as exc:  # a failed operation is counted, not fatal
            failed += 1
            ctx.problems.append(f"call {i + WARMUP_CALLS}: {type(exc).__name__}: {exc}"[:300])
            continue
        if i < 0:
            first = first or dt_s
        else:
            lat.append(dt_s)
            ops.append(i)
            job_stats.append(js)
        bad = check.check_job_metrics(out, manifest) + check.check_state(result["state"], manifest)
        outs.append((out, result))
        if bad:
            failed += 1
            ctx.problems += bad
    # Full value check (read back through read_stream_output) on the last
    # output, outside timing.
    t_check = time.perf_counter()
    if outs:
        bad = check.check_stream_dirs(spark, outs[-1][1]["paths"], manifest)
        if bad:
            failed += 1
            ctx.problems += bad
    ctx.detail.update(latency_s=lat, first_s=first, check_s=time.perf_counter() - t_check)
    files = parquet_files(outs[-1][0]) if outs else []
    out_bytes = sum(os.path.getsize(p) for p in files)
    records = sum(s["records"] for s in manifest["streams"].values())
    e2e = {
        "latency_p50_s": _median(lat),
        "records_per_s": records / _median(lat) if lat else 0.0,
    }
    layer = {
        "bench.first_op_s": first or 0.0,
        "singer_source.rows": sum(outs[-1][1]["metrics"]["recordCount"].values()) if outs else 0,
        "parquet_sink.files": len(files),
        "parquet_sink.bytes": out_bytes,
        "parquet_sink.bytes_per_input_byte": out_bytes / in_bytes,
        "validation.invalid_records": sum(
            outs[-1][1]["metrics"]["validationViolations"].values()) if outs else 0,
    }
    attempted = n_ops + WARMUP_CALLS
    if tracer and lat:
        layer.update(_ingest_layers(ctx, path, manifest, ops, job_stats))
    for out, _ in outs:
        shutil.rmtree(out, ignore_errors=True)
    if tracer:
        # The streaming target shares the ingest layers; its own layer is
        # measured here, on a short drop-directory leg after the timed calls.
        _, stream_layer, n, bad = run_stream(ctx, TRACE_DROP_FILES)
        layer.update((k, v) for k, v in stream_layer.items()
                     if k.startswith("singer_stream.") or k == "bench.generator_lag_s")
        attempted, failed = attempted + n, failed + bad
    return e2e, layer, attempted, failed


def _ingest_layers(ctx, path: str, manifest: dict, ops: list[int],
                   job_stats: list[dict]) -> dict:
    from tracing import probe_ingest_layers

    tracer = ctx.tracer
    per_op = [tracer.totals(i) for i in ops]

    def med(name, field=0):
        return _median(t.get(name, (0.0, 0))[field] for t in per_op)

    tracer.op = "probe"  # keep the probes' own calls out of the per-call totals
    probes = probe_ingest_layers(
        ctx.spark, path, {s: m["schemas"] for s, m in manifest["streams"].items()})
    return {
        "target.run_path_s": med("target.run_path"),
        "target.self_s": _median(tracer.self_time(i, "target.run_path") for i in ops),
        "target.spark_jobs": _median(j["jobs"] for j in job_stats),
        "target.spark_stages": _median(j["stages"] for j in job_stats),
        "target.spark_tasks": _median(j["tasks"] for j in job_stats),
        "target.failed_tasks": max(j["failed_tasks"] for j in job_stats),
        "parquet_sink.write_s": med("parquet_sink.write"),
        "parquet_sink.writes": med("parquet_sink.write", 1),
        "schema.resolve_schema_s": med("schema.resolve_schema"),
        "schema.widen_versions_s": med("schema.widen_versions"),
        "schema.resolve_calls": med("schema.resolve_schema", 1),
        "validation.compile_predicate_s": med("validation.compile_predicate"),
        "validation.predicate_eval_s": probes["predicate_eval_s"],
        "singer_source.parse_envelope_s": probes["parse_envelope_s"],
        "singer_source.decode_records_jvm_s": probes["decode_s"],
        "coerce.coerce_s": probes["coerce_s"],
    }


# --------------------------------------------------------------------------
# streaming drop directory
# --------------------------------------------------------------------------


def stream_progress(query, checkpoint: str) -> list[dict]:
    """Per micro-batch that processed data: id, start and commit time
    (epoch s), durations and the files the checkpoint's file-source log
    assigned to it."""
    import datetime as dt

    files: dict[int, list[str]] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        with open(p) as fh:
            for line in fh.read().splitlines()[1:]:
                e = json.loads(line)
                files.setdefault(int(e["batchId"]), []).append(os.path.basename(e["path"]))
    out = []
    for p in query.recentProgress:
        if "addBatch" not in p["durationMs"]:  # trigger that found no new file
            continue
        start = dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start_s = start.replace(tzinfo=dt.timezone.utc).timestamp()
        d = p["durationMs"]
        out.append({"batch": p["batchId"], "start": start_s,
                    "commit": start_s + d.get("triggerExecution", 0) / 1000,
                    "rows": p["numInputRows"], "durations": d,
                    "files": sorted(set(files.get(p["batchId"], [])))})
    return out


def _drop_and_wait(query, ckpt: str, src: str, dst: str, timeout: float = 120.0) -> float:
    """Move one file into the drop directory and wait for its commit;
    returns seconds from the drop to the commit."""
    t0 = time.time()
    os.rename(src, dst)
    name = os.path.basename(dst)
    while time.time() < t0 + timeout and query.exception() is None:
        for b in stream_progress(query, ckpt):
            if name in b["files"]:
                return b["commit"] - t0
        time.sleep(0.1)
    raise TimeoutError(f"{name} not committed within {timeout:.0f}s")


def run_stream(ctx, n_files: int | None = None):
    """Open loop: after untimed warm-up files (each awaited), file f lands
    in the drop directory at t0 + f * period whatever the target is doing;
    each file's latency runs from that due time to the commit of the
    micro-batch that holds it.  ``n_files`` timed files, by default as many
    as ``--seconds`` holds."""
    from target_parquet_spark.streaming import SingerStreamTarget

    n_files = n_files or _count(ctx.seconds, DROP_PERIOD_S, 3)
    n_all = n_files + DROP_WARMUP_FILES
    texts, manifest = gen.drop_files(ctx.seed, n_all, DROP_RECORDS)
    drop, stage, out, ckpt = (os.path.join(ctx.work, d)
                              for d in ("drop", "stage", "out", "checkpoint"))
    for d in (drop, stage, out):
        os.makedirs(d)
    names = [f"part-{f:04d}.jsonl" for f in range(n_all)]
    for name, text in zip(names, texts):
        with open(os.path.join(stage, name), "w") as fh:
            fh.write(text)
    in_bytes = sum(len(t.encode()) for t in texts)
    warm, names = names[:DROP_WARMUP_FILES], names[DROP_WARMUP_FILES:]
    if ctx.tracer:
        ctx.tracer.op = "stream-warm-up"
    target = SingerStreamTarget(ctx.spark, {"filepath": out, "checkpoint": ckpt})
    query = target.start(drop)
    due, lag, batches, exc = [], [], [], None
    try:
        first = _drop_and_wait(query, ckpt, os.path.join(stage, warm[0]),
                               os.path.join(drop, warm[0]))
        for name in warm[1:]:
            _drop_and_wait(query, ckpt, os.path.join(stage, name), os.path.join(drop, name))
        if ctx.tracer:
            ctx.tracer.op = "stream"
        t0 = time.time() + 0.2

        def generator():
            for f, name in enumerate(names):
                when = t0 + f * DROP_PERIOD_S
                time.sleep(max(0.0, when - time.time()))
                os.rename(os.path.join(stage, name), os.path.join(drop, name))
                due.append(when)
                lag.append(time.time() - when)

        gen_thread = threading.Thread(target=generator, name="perfbench-drop")
        gen_thread.start()
        gen_thread.join()
        deadline = time.time() + 120
        while time.time() < deadline and query.exception() is None:
            batches = [b for b in stream_progress(query, ckpt)
                       if not set(b["files"]) & set(warm)]
            if {f for b in batches for f in b["files"]} >= set(names):
                break
            time.sleep(0.1)
        exc = query.exception()
    except TimeoutError as err:
        exc = err
        first = 0.0
    finally:
        query.stop()
    failed = 0
    if exc is not None:
        failed += 1
        ctx.problems.append(f"streaming query failed: {exc}"[:300])
    commit_of = {f: b["commit"] for b in batches for f in b["files"]}
    ctx.detail["batches"] = [dict(b, due=[due[names.index(f)] for f in b["files"]])
                             for b in batches]
    lat = [commit_of[n] - w for n, w in zip(names, due) if n in commit_of]
    missing = [n for n in names if n not in commit_of]
    failed += len(missing)
    ctx.problems += [f"{n} never committed" for n in missing]
    if not failed:
        bad = check.check_job_metrics(out, manifest, violations=False)
        with open(os.path.join(out, "state.json")) as fh:
            bad += check.check_state(json.load(fh)["state"], manifest)
        bad += check.check_stream_dirs(
            ctx.spark, {s: os.path.join(out, s) for s in manifest["streams"]}, manifest)
        if bad:
            failed += 1
            ctx.problems += bad
    span = max(commit_of.values()) - due[0] if commit_of else 0.0
    records = DROP_RECORDS * sum(1 for name in names if name in commit_of)
    files = parquet_files(out)
    out_bytes = sum(os.path.getsize(p) for p in files)
    e2e = {
        "latency_p50_s": _median(lat),
        "records_per_s": records / span if span > 0 else 0.0,
    }
    backlog = 0
    for b in batches:  # files due but not yet committed when a batch commits
        backlog = max(backlog, sum(1 for w, name in zip(due, names)
                                   if w <= b["commit"] and commit_of.get(name, 1e18) > b["commit"]))
    durations = [b["durations"] for b in batches]
    layer = {
        "bench.first_op_s": first,
        "singer_source.rows": records,
        "parquet_sink.files": len(files),
        "parquet_sink.bytes": out_bytes,
        "parquet_sink.bytes_per_input_byte": out_bytes / in_bytes,
        "singer_stream.batches": len(batches),
        "singer_stream.trigger_ms": _median(d.get("triggerExecution", 0) for d in durations),
        "singer_stream.add_batch_ms": _median(d.get("addBatch", 0) for d in durations),
        "singer_stream.latest_offset_ms": _median(d.get("latestOffset", 0) for d in durations),
        "singer_stream.files_per_batch": statistics.mean(
            len(b["files"]) for b in batches) if batches else 0,
        "singer_stream.backlog_files_max": backlog,
        "bench.generator_lag_s": max(lag) if lag else 0.0,
    }
    if ctx.tracer and commit_of:
        # per timed file: the spans' sums over the timed files / their number
        t, n = ctx.tracer.totals("stream"), len(commit_of)
        for key, span, field in (
                ("parquet_sink.write_s", "parquet_sink.write", 0),
                ("parquet_sink.writes", "parquet_sink.write", 1),
                ("schema.resolve_schema_s", "schema.resolve_schema", 0),
                ("schema.widen_versions_s", "schema.widen_versions", 0),
                ("schema.resolve_calls", "schema.resolve_schema", 1),
                ("validation.compile_predicate_s", "validation.compile_predicate", 0)):
            layer[key] = t.get(span, (0.0, 0))[field] / n
    return e2e, layer, n_files + DROP_WARMUP_FILES, failed


# --------------------------------------------------------------------------
# read-side query mix
# --------------------------------------------------------------------------


def run_queries(ctx):
    """Closed loop, one client: untimed warm-up passes over the mix (each
    query pays its first-use compilation in the first), then a fixed number
    of timed passes, each query's rows collected to the driver (a few hundred
    at most).  The operation is one pass: its latency is the sum of its
    query times.  The first pass's results are checked against the DuckDB
    oracles after the timing; later passes must return as many rows."""
    import duckdb

    import __spark_entry__ as entry

    tables = os.path.join(ctx.work, "tables")
    rows = gen.query_tables(ctx.seed, tables, QUERY_SCALE)
    registry, oracles = entry.queries(), entry.oracle_sql()
    spark, tracer = ctx.spark, ctx.tracer
    n_pass = _count(ctx.seconds, PASS_S, 1)
    lat: dict[str, list[float]] = {name: [] for name, _ in QUERY_MIX}
    first: dict[str, tuple] = {}
    first_s: dict[str, float] = {}
    failed, jobs, passes = 0, [], []
    for p in range(-WARMUP_PASSES, n_pass):  # negative: warm-up passes
        if tracer:
            tracer.op = p if p >= 0 else "warm-up"
        pass_s = 0.0
        with tracer.jobs(f"perfbench-pass{p}") if tracer else contextlib.nullcontext({}) as js:
            for name, _ in QUERY_MIX:
                t0 = time.perf_counter()
                try:
                    with tracer.span(f"queries.{name}") if tracer else contextlib.nullcontext():
                        df = registry[name](spark, tables)
                        got = [tuple(r) for r in df.collect()]
                except Exception as exc:  # counted as a failed operation
                    failed += 1
                    ctx.problems.append(f"{name} pass {p}: {type(exc).__name__}: {exc}"[:300])
                    continue
                dt_s = time.perf_counter() - t0
                if name in first and len(got) != len(first[name][1]):
                    failed += 1
                    ctx.problems.append(f"{name} pass {p}: {len(got)} rows, first "
                                        f"pass had {len(first[name][1])}")
                first.setdefault(name, (df.columns, got))
                if p < 0:
                    first_s.setdefault(name, dt_s)
                    continue
                lat[name].append(dt_s)
                pass_s += dt_s
        if p >= 0:
            passes.append(pass_s)
            if tracer:
                jobs.append(js["jobs"])
    # each query's warm-up result against its DuckDB oracle, outside timing
    con = duckdb.connect()
    for t in rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    for name, (cols, got) in first.items():
        res = con.execute(oracles[name])
        issues = check.compare_result(cols, got, [d[0] for d in res.description],
                                      res.fetchall())
        if issues:
            failed += 1
            ctx.problems += [f"{name}: {i}" for i in issues]
    con.close()
    ctx.detail.update(first_s=first_s, latency_s=lat, pass_s=passes)
    e2e = {
        "latency_p50_s": _median(passes),
        # table rows one pass reads, per second of the median pass
        "records_per_s": sum(rows[t] for _, reads in QUERY_MIX for t in reads)
        / _median(passes) if passes else 0.0,
    }
    layer = {f"queries.{name}_s": _median(v) for name, v in lat.items()}
    layer["bench.first_op_s"] = first_s.get(QUERY_MIX[0][0], 0.0)
    if tracer:
        layer["queries.spark_jobs"] = _median(jobs)
    return e2e, layer, (n_pass + WARMUP_PASSES) * len(QUERY_MIX), failed


RUNNERS = {
    "ingest_wide": lambda ctx: run_ingest(ctx, "ingest_wide"),
    "ingest_many_streams": lambda ctx: run_ingest(ctx, "ingest_many_streams"),
    "stream_drop": run_stream,
    "query_mix": run_queries,
}
