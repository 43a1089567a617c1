"""SparkSession factory with the engine's scale-oriented defaults.

Local mode is the test bed; the same knobs are what you'd set on a real
cluster (AQE handles runtime re-planning / skew / partition coalescing, so
plans written here survive a 1000-executor deployment).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "target-parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Shuffle width 4x cores: the canonical over-provision-then-coalesce
        # setup.  AQE coalesces byte-small shuffles back down, so tiny
        # queries pay nothing, while CPU-bound wide shuffles (interpreted
        # higher-order-function folds in the dedup/text posting joins) get
        # task-level pipelining and skew smoothing — measured at sf1:
        # dedup_ngram_jaccard 35.0s @ 1x cores -> 9.1s @ 4x.  On a real
        # cluster this number is thousands; AQE still right-sizes it.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 4 * cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Pin UTC so parquet timestamps agree with UTC-naive oracles (DuckDB).
        .config("spark.sql.session.timeZone", "UTC")
        # The driver's events table stores TIMESTAMP(NANOS); read as long.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # MIN/MAX/COUNT without filter/group-by answered from parquet
        # footer statistics — no row scan at all.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Subset co-partitioning (r11, guide §2.4 remove shuffles
        # outright): Spark's default requires a join's children to be
        # hash-partitioned on ALL join keys before it skips the
        # exchange.  The bucketed similarity pipelines deliberately
        # partition on the BUCKET alone and then join on (bucket, id) —
        # rows with equal (bucket, id) are already co-located, so the
        # stricter default re-shuffled the embedding-carrying frames by
        # (bucket, id) on BOTH sides of every verify join
        # (plans/r11/sim_knn_graph_quantized_fixed_before.txt: Exchange
        # (20)/(26)/(35) per table, corpus-payload rows).  Allowing
        # subset co-partitioning removes those exchanges at every
        # scale — the bigger the corpus, the bigger the win; AQE skew
        # handling still covers the coarser partitioning.  Same-session
        # A/B (min-of-4/arm, sf0.1): quantized kNN 4.91->4.22 / fixed
        # 4.37->3.66, minhash pairs 5.28->4.03, ngram jaccard
        # 4.12->3.74, anchors unchanged.
        # The trade-off is skew: the setting is session-wide, so a join
        # whose children are partitioned on a low-cardinality subset of
        # its keys keeps that coarse partitioning instead of being
        # re-shuffled on all keys, and a hot subset value lands in one
        # task.  Only AQE's skew-join split (enabled above) bounds that
        # task, and it applies only to a sort-merge or shuffled-hash join
        # that reads a shuffle on each side, not to every operator that
        # inherits the coarse partitioning.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Runtime bloom-filter join pruning: when one join side is
        # selectively filtered, inject a bloom filter of its keys into the
        # other side's scan.  Irrelevant at sf0.1 (thresholds keep it off
        # for tiny inputs) but it is the difference between scanning and
        # skipping terabytes of probe side on the 100 TB fact joins.
        .config("spark.sql.optimizer.runtimeFilter.bloomFilter.enabled", "true")
        # Arrow transfer for the pandas-UDF slow paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Generated-class cache sized to the working set.  One pass over
        # the perfbench query_mix needs 149 distinct generated classes;
        # at Spark's default of 100 entries the LRU misses on every class
        # of that cyclic set, so each warm pass re-ran 142 Janino
        # compilations (about 10 ms each).  At 1000 a warm pass compiles
        # none.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Let HotSpot JIT long generated methods: a generated Java
        # method past HotSpot's 8 KB HugeMethodLimit otherwise runs in
        # the bytecode interpreter.  Measured with the vector ops'
        # higher-order fold (operators/similarity.dot) on a 15-query
        # similarity subset at sf0.1: 58.5 s without the flag, 54.0 s
        # with it (OPTIMIZATION_r10.md, "C HOF fold+flag").
        # Scale-independent: a real cluster sets the same flag on its
        # executors (the executor option below is a no-op in local mode
        # where executor == driver JVM).
        .config("spark.driver.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.executor.extraJavaOptions", "-XX:-DontCompileHugeMethods")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
