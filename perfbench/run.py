"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ingest_wide --seed 1 --seconds 20 --trace 0

Run it from the repository root.  Inputs are generated from ``--seed``
inside ``.perfbench_work/`` (removed again at exit, except for the run
record and, with ``--trace 1``, the spans).  ``--trace 0`` reports the
end-to-end metrics named in BENCHMARK.json; ``--trace 1`` repeats the run
with spans around the program's layers and reports the per-layer metrics
instead (a layer a workload never enters reads 0).

Without ``--workload`` every workload runs once, each in its own process,
and a table of the end-to-end metrics plus error rates is printed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")
DRIVER_MEMORY = "2g"


class Context:
    """Per-run state handed to a workload."""

    def __init__(self, seed: int, seconds: float, work: str):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.tracer = None
        self.problems: list[str] = []
        self.detail: dict = {}  # workload-specific facts for the run record


def pin_environment(work: str) -> dict:
    """Cores, driver memory, scratch and import path for the Spark JVM and
    its Python workers; set before the JVM starts.  Temporary files of the
    JVM (native-library extraction, perf data) and of Python stay in the
    run's own directory."""
    cores = min(4, len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    env = {
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    os.environ.update(env)
    for d in (tmp, env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return dict(env, nproc=len(os.sched_getaffinity(0)), mem_total_mb=mem_kb // 1024,
                python=sys.version.split()[0])


def cpu_ticks() -> list[int]:
    """The machine's summed CPU time counters (``/proc/stat``), in ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    # import the program first: without it there is nothing to measure
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import target_parquet_spark.session  # noqa: F401

    import workloads

    if name not in workloads.RUNNERS:
        raise SystemExit(f"unknown workload {name!r}; have {sorted(workloads.RUNNERS)}")
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{name}-s{seed}-{os.getpid()}")
    os.makedirs(work)
    cwd = os.getcwd()
    os.chdir(work)  # stray Spark files (derby.log, warehouse) land here
    ctx = Context(seed, seconds, work)
    try:
        env = pin_environment(work)
        t0 = time.perf_counter()
        ctx.spark, setup_s, get_spark_s = workloads.start_spark()
        t1, ticks = time.perf_counter(), cpu_ticks()
        try:
            if trace:
                from tracing import Tracer

                ctx.tracer = Tracer(ctx.spark)
                ctx.tracer.install()
            try:
                e2e, layer, attempted, failed = workloads.RUNNERS[name](ctx)
            finally:
                if ctx.tracer:
                    ctx.tracer.uninstall()
            layer["bench.peak_rss_mb"] = workloads.peak_rss_mb(ctx.spark)
        finally:
            t2 = time.perf_counter()
            workloads.stop_spark(ctx.spark)
        e2e["setup_s"] = setup_s
        layer["session.get_spark_s"] = get_spark_s
        layer["bench.error_rate"] = failed / attempted
        if ctx.tracer:
            layer["bench.tracing_overhead_s"] = ctx.tracer.own_s / attempted
            ctx.tracer.dump(os.path.join(base, f"spans-{name}-s{seed}.jsonl"))
        env["phases_s"] = {"setup": t1 - t0, "workload": t2 - t1,
                           "stop": time.perf_counter() - t2}
        # share of the machine's CPU time during the workload that was
        # busy, and that the hypervisor gave to other guests (steal)
        used = [b - a for a, b in zip(ticks, cpu_ticks())]
        env["workload_cpu"] = {"busy": 1 - (used[3] + used[4]) / sum(used),
                               "steal": used[7] / sum(used)}
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    kind = "per_layer" if trace else "end_to_end"
    source = layer if trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in spec[kind]}
    if not trace:
        missing = [m["name"] for m in spec[kind] if m["name"] not in source]
        if missing:
            raise RuntimeError(f"workload {name} did not report {missing}")
    record = {"workload": name, "seed": seed, "seconds": seconds, "trace": trace,
              "environment": env, "problems": ctx.problems, "detail": ctx.detail,
              "end_to_end": e2e, "per_layer": layer}
    with open(os.path.join(base, f"last-{name}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for p in ctx.problems:
        print(f"perfbench: {name}: {p}", file=sys.stderr)
    return {"correct": not ctx.problems and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def run_all(seed: int, seconds: float) -> int:
    """Every workload once (own process each), as a readable table."""
    with open(SPEC_PATH) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["end_to_end"]]
    print(f"{'workload':22s} {'error_rate':>10s} " + " ".join(f"{n:>16s}" for n in names))
    status = 0
    for w in spec["workloads"]:
        proc = subprocess.run(
            [sys.executable, __file__, "--workload", w["name"], "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{w['name']:22s} FAILED (exit {proc.returncode})")
            status = 1
            continue
        res = json.loads(lines[-1])
        rate = res["failed"] / res["attempted"]
        vals = " ".join(f"{res['metrics'][n]['value']:>12.4g} {res['metrics'][n]['unit']:>3s}"
                        for n in names)
        print(f"{w['name']:22s} {rate:>10.3f} {vals}")
        status |= not res["correct"]
    return status


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="measured span; defaults to run_seconds in BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds is None:
        with open(SPEC_PATH) as fh:
            args.seconds = json.load(fh)["run_seconds"]
    if args.workload is None:
        return run_all(args.seed, args.seconds)
    t0 = time.perf_counter()
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print(f"perfbench: {args.workload} done in {time.perf_counter() - t0:.1f}s",
          file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
