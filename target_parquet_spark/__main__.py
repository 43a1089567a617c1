"""CLI entry point: ``... | python -m target_parquet_spark --config cfg.json``.

Drop-in surface for the reference's ``target-parquet`` console script
(reference target_parquet/target.py:34-35, pyproject.toml:39-40): reads
newline-delimited Singer messages on stdin, writes per-stream Parquet, and
emits the final STATE to stdout (so a pipeline runner can checkpoint it).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="target-parquet-spark")
    ap.add_argument("--config", help="path to JSON config", default=None)
    ap.add_argument("--input", help="read messages from file instead of stdin", default=None)
    ap.add_argument(
        "--watch",
        metavar="DIR",
        default=None,
        help="streaming mode: continuously ingest Singer line files dropped "
        "into DIR (Structured Streaming; checkpoint under the output root)",
    )
    ap.add_argument(
        "--about",
        action="store_true",
        help="print capabilities + settings schema as JSON and exit "
        "(reference: singer-sdk Target --about)",
    )
    args = ap.parse_args(argv)

    if args.about:
        # Settings surface: the reference's config_jsonschema
        # (reference target_parquet/target.py:16-25) plus the options it
        # declared but never read (W5), implemented for real here.
        print(
            json.dumps(
                {
                    "name": "target-parquet-spark",
                    "capabilities": ["about", "stream-maps", "batch", "watch"],
                    "settings": {
                        "type": "object",
                        "properties": {
                            "filepath": {"type": "string"},
                            "file_naming_scheme": {"type": "string"},
                            "compression": {
                                "type": "string",
                                "enum": ["snappy", "zstd", "gzip", "none"],
                            },
                            "partition_cols": {"type": "object"},
                            "max_records_per_file": {"type": "integer"},
                            "fixed_headers": {"type": "object"},
                            "strict_validation": {"type": "boolean"},
                            "exact_compat": {"type": "boolean"},
                            "quarantine_path": {"type": "string"},
                            "ref_base_dir": {"type": "string"},
                            "ref_registry_path": {"type": "string"},
                        },
                    },
                }
            )
        )
        return 0

    config = {}
    if args.config:
        with open(args.config) as fh:
            config = json.load(fh)

    from target_parquet_spark.session import get_spark
    from target_parquet_spark.target import SingerTarget

    spark = get_spark(app_name="target-parquet-spark-cli")

    if args.watch:
        from target_parquet_spark.streaming import SingerStreamTarget

        query = SingerStreamTarget(spark, config).start(args.watch)
        query.awaitTermination()  # runs until killed; checkpoint resumes
        return 0

    target = SingerTarget(spark, config)

    if args.input:
        result = target.run_path(args.input)
    else:
        # Spool stdin to a temp file so Spark can scan it in parallel —
        # the pipe is consumed once, the scan may run many tasks.
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as tmp:
            for line in sys.stdin:
                tmp.write(line)
            path = tmp.name
        try:
            result = target.run_path(path)
        finally:
            os.remove(path)

    counts = result["metrics"]["recordCount"]
    print(
        json.dumps({"recordCount": counts, "paths": result["paths"]}),
        file=sys.stderr,
    )
    if result["state"] is not None:
        print(json.dumps(result["state"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
