"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py

Checks that inputs are a pure function of the seed, that the manifest
check catches a single dropped row, and that BENCHMARK.json is
well-formed with names of the form [A-Za-z0-9_.-]{1,64}.  The dropped-row test
starts a small local Spark session.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _digest(seed: int) -> str:
    h = hashlib.sha256()
    for lines, manifest in (gen.wide_messages(seed, 500),
                            gen.many_stream_messages(seed, 8, 40)):
        h.update("\n".join(lines).encode())
        h.update(json.dumps(manifest, sort_keys=True).encode())
    texts, manifest = gen.drop_files(seed, 2, 300)
    h.update("".join(texts).encode())
    h.update(json.dumps(manifest, sort_keys=True).encode())
    with tempfile.TemporaryDirectory() as d:
        gen.query_tables(seed, d, 0.001)
        for p in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            import pyarrow.parquet as pq

            h.update(repr(pq.read_table(p).to_pydict()).encode())
    return h.hexdigest()


def test_same_seed_same_inputs():
    assert _digest(7) == _digest(7)


def test_other_seed_other_inputs():
    assert _digest(7) != _digest(8)


def test_manifest_counts_versions_and_invalid():
    _, wide = gen.wide_messages(3, 2000)
    assert sum(s["records"] for s in wide["streams"].values()) == 2000
    assert sum(s["invalid"] for s in wide["streams"].values()) > 0
    _, many = gen.many_stream_messages(3, 8, 40)
    assert sum(len(s["versions"]) > 1 for s in many["streams"].values()) == 2
    for s in many["streams"].values():
        assert sum(s["versions"]) == s["records"] == 40


def test_metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in spec[k]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    assert any(m["name"] == "setup_s" for m in spec["end_to_end"])
    import workloads

    assert {w["name"] for w in spec["workloads"]} <= set(workloads.RUNNERS)
    mix = {f"queries.{q}_s" for q, _ in workloads.QUERY_MIX}
    assert mix == {m["name"] for m in spec["per_layer"]
                   if m["name"].startswith("queries.") and m["name"] != "queries.spark_jobs"}


def test_manifest_check_catches_one_dropped_row():
    import pyarrow.parquet as pq

    import run
    from target_parquet_spark.target import SingerTarget

    with tempfile.TemporaryDirectory() as d:
        run.pin_environment(d)
        import workloads

        spark, _, _ = workloads.start_spark()
        try:
            lines, manifest = gen.many_stream_messages(5, 4, 20)
            path = os.path.join(d, "in.jsonl")
            gen.write_lines(path, lines)
            out = os.path.join(d, "out")
            result = SingerTarget(
                spark, {"filepath": out, "file_naming_scheme": "{stream}"}).run_path(path)
            assert check.check_job_metrics(out, manifest) == []
            assert check.check_state(result["state"], manifest) == []
            assert check.check_stream_dirs(spark, result["paths"], manifest) == []
            victim = next(iter(manifest["streams"]))
            part = sorted(f for f in glob.glob(os.path.join(result["paths"][victim], "*.parquet"))
                          if pq.read_metadata(f).num_rows)[0]
            table = pq.read_table(part)
            pq.write_table(table.slice(0, table.num_rows - 1), part)
            crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
            os.remove(crc)  # Spark's local checksum would reject the edited file
            problems = check.check_stream_dirs(spark, result["paths"], manifest)
            assert len(problems) == 1 and problems[0].startswith(victim), problems
        finally:
            workloads.stop_spark(spark)


if __name__ == "__main__":
    failures = 0
    for name, fn in sorted(globals().items()):
        if name.startswith("test_") and callable(fn):
            try:
                fn()
                print(f"ok    {name}")
            except Exception as exc:  # report every test, then fail
                failures += 1
                print(f"FAIL  {name}: {type(exc).__name__}: {exc}")
    sys.exit(1 if failures else 0)
