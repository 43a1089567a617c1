"""target-parquet-spark: a PySpark-native analytics engine with the query and
data-processing capabilities of the Singer target ``hotgluexyz/target-parquet``.

The reference (/root/reference) is a single-threaded Python pipe that turns
Singer SCHEMA/RECORD/STATE messages into typed Parquet files.  This package
re-expresses that surface Spark-first:

- ``schema``      Singer JSON Schema (draft-7) -> ``StructType``  (SURVEY §1.2)
- ``coerce``      value coercion as Catalyst expressions from SQL text (C4-C11)
- ``validation``  JSON-Schema keywords compiled to SQL predicates  (V1-V4)
- ``target``      the batch Singer target: text lines -> per-stream Parquet
- ``streaming``   Structured Streaming ingest (readStream + foreachBatch)
- ``operators``   the 100-TB extension surface: dedup, similarity search,
                  text analysis, multimodal columns, as-of/range joins
- ``queries``     the relational query library exercised by __spark_entry__

Everything here is DataFrame/SQL-first: coercions are vectorized Column
expressions, validation failures are predicates, batching is Spark's own
micro-batching, and the writer is ``df.write.parquet`` with a real
``filepath`` / naming scheme (the reference declared but never read its
own — reference target.py:16-25).
"""

__version__ = "0.1.0"

from target_parquet_spark.schema import (  # noqa: F401
    build_struct_field,
    json_schema_to_struct,
    resolve_type,
)
