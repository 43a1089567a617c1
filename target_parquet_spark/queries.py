"""Relational query library — the §2.10 surface the reference lacks.

Every entry is registered as ``(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) an exact DuckDB oracle.  Conventions that make the
driver's order-insensitive value-hash comparison deterministic:

- every computed column is aliased IDENTICALLY in Spark and SQL;
- floating-point aggregates are ``round``-ed (sums to 2 dp, ratios/avgs
  to 4 dp) in BOTH engines — partial-aggregation order differs, rounding
  absorbs the last-bit drift;
- DuckDB integer sums are cast to BIGINT (DuckDB widens to INT128);
- top-k queries order by a unique tie-break key, or use thresholds.

Plan-shape notes are in each docstring: what shuffles, what broadcasts,
what prunes — the 100-TB rationale, verified via .explain in tests.
"""

from __future__ import annotations

import os
import stat
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        if name in QUERIES:
            # A silent overwrite once shadowed queries_r4's
            # sample_temperature_mixture with a same-named round-5 query
            # (its test failed against the wrong output shape) — duplicate
            # registration is always a bug, fail loudly at import time.
            raise ValueError(f"query {name!r} is already registered")
        import inspect

        required = [
            p
            for p in inspect.signature(fn).parameters.values()
            if p.default is p.empty
            and p.kind
            in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        ]
        if len(required) != 2:
            # A decorator once ended up attached to a 1-arg helper after
            # an edit inserted defs between @query(...) and the intended
            # function — catch that at import time, not at driver time.
            raise TypeError(
                f"query {name!r} must take (spark, sf_dir); "
                f"{fn.__name__} takes {len(required)} required args"
            )
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: table path -> (session, listing signature, base DataFrame) of its last
#: read.  Two threads that miss at once both read; the later entry wins.
_BASE: dict[str, tuple[SparkSession, tuple, DataFrame]] = {}


def _listing_signature(path: str) -> tuple | None:
    """What a re-read of ``path`` would list: a file's (size, mtime_ns),
    or a directory's sorted (relative path, size, mtime_ns) per file.
    None when ``os`` cannot stat it (a non-local URI)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        sig = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                fst = os.stat(p)
                sig.append((os.path.relpath(p, path), fst.st_size, fst.st_mtime_ns))
    except OSError:
        return None
    return tuple(sorted(sig))


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a test table.

    One base relation per (session, table path): a call returns the
    DataFrame an earlier call built while the table's listing signature
    (see ``_listing_signature``) is unchanged and ``spark`` is the same
    session object.  A changed signature or another session reads the
    table again and replaces the entry; a path ``os`` cannot stat is read
    fresh every time.  A read lists the files and infers the schema in a
    Spark job, and the relation's FileIndex keeps that listing, so the
    signature is what makes handing the relation out again safe.  Only
    the relation is reused: nothing is cached or persisted, and every
    query still scans the files.

    ``events.parquet`` stores naive timestamps (parquet
    isAdjustedToUTC=false), which Spark 4 reads as TIMESTAMP_NTZ — a type
    the epoch/interval toolchain (``unix_micros``, double casts, interval
    arithmetic against LTZ literals) rejects.  Normalize ``ts`` to the
    session TIMESTAMP type; every session here (and the driver's JVM) runs
    UTC, so the cast is an exact reinterpretation and epochs agree with
    DuckDB's naive-timestamp ``epoch()``.  Older nanos-encoded drops read
    as bigint under ``nanosAsLong`` and take the integer-div path (``/``
    would drift: epoch-nanos exceed double's 53-bit mantissa).

    Fact-table date columns (l_shipdate, o_orderdate) are left NTZ —
    literal comparisons coerce the literal, not the column, so parquet
    predicate pushdown is preserved (verified via .explain in tests).
    """
    path = f"{sf_dir}/{name}.parquet"
    # Signature before the read: a rewrite that lands in between leaves
    # a stale signature, which the next call sees as a change.
    sig = _listing_signature(path)
    hit = _BASE.get(path)
    if sig is not None and hit is not None and hit[0] is spark and hit[1] == sig:
        return hit[2]
    df = spark.read.parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if sig is not None:
        _BASE[path] = (spark, sig, df)
    return df


# ---------------------------------------------------------------------------
# TPC-H-style analytics
# ---------------------------------------------------------------------------


@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                   AS sum_qty,
           round(sum(l_extendedprice), 2)                              AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4)                                   AS avg_qty,
           round(avg(l_extendedprice), 4)                              AS avg_price,
           round(avg(l_discount), 4)                                   AS avg_disc,
           count(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1(spark, sf_dir):
    """Flagship scan+filter+group-agg.  Plan: parquet scan with the
    shipdate filter PUSHED to the reader and only 7 columns read; partial
    (map-side) aggregation before the single shuffle on the 6-value
    grouping key — the shape that holds at any scale."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l.l_orderkey AS o_orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
)
def q3(spark, sf_dir):
    """3-way join + agg + top-k.  customer (filtered) is small relative to
    lineitem -> broadcast it; orders⋈lineitem shuffles on orderkey.  The
    LIMIT is a TakeOrderedAndProject — no global sort materialization."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(li.l_orderkey.alias("o_orderkey"), o.o_orderdate)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def q5(spark, sf_dir):
    """6-way join: the three dims (supplier/nation/region) are broadcast —
    only customer⋈orders⋈lineitem shuffle, and those share join keys so
    AQE can reuse exchanges."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6(spark, sf_dir):
    """Pure scan-filter-agg: every predicate reaches PushedFilters; reads
    exactly 4 columns.  No shuffle at all (single global agg)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# join strategies
# ---------------------------------------------------------------------------


@query(
    "join_broadcast_dim",
    """
    SELECT p.p_brand,
           count(*) AS n_items,
           round(sum(l.l_extendedprice), 2) AS total_price
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 20
    GROUP BY p.p_brand
    """,
)
def join_broadcast_dim(spark, sf_dir):
    """Fact⋈dim with an explicit broadcast hint: zero shuffle for the join
    (dim ships to every executor); the only exchange is the final agg."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").filter(F.col("p_size") <= 20)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "join_left_outer",
    """
    SELECT c.c_custkey, c.c_mktsegment,
           count(o.o_orderkey)                        AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
    """,
)
def join_left_outer(spark, sf_dir):
    """Left outer fact-dim join preserving unmatched left rows; null-safe aggregation downstream."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@query(
    "join_semi",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    GROUP BY c_mktsegment
    """,
)
def join_semi(spark, sf_dir):
    """EXISTS as a left-semi join: no row multiplication, the probe side
    short-circuits on first match."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_anti",
    """
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def join_anti(spark, sf_dir):
    """Left-anti join: customers with no RECENT orders (the NOT EXISTS plan,
    broadcastable key side).  The date predicate makes the anti set provably
    non-empty at sf0.01 (135 rows) — an unfiltered anti-join against orders
    returns 0 rows on this data (every customer has orders), which would
    pass the oracle vacuously and hide any under-producing bug."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "join_range_banded",
    """
    SELECT b.band_name,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS band_total
    FROM orders o
    JOIN (VALUES ('low', 0.0, 100000.0),
                 ('mid', 100000.0, 300000.0),
                 ('high', 300000.0, 1000000.0)) AS b(band_name, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice <= b.hi
    GROUP BY b.band_name
    """,
)
def join_range_banded(spark, sf_dir):
    """Range (theta) join via the banded equi-join operator: each interval
    explodes to ~hi/width buckets, orders join on their single bucket —
    O(n) instead of O(n·m) nested-loop."""
    from target_parquet_spark.operators.asof import range_join

    o = t(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 300000.0), ("high", 300000.0, 1000000.0)],
        "band_name string, lo double, hi double",
    )
    joined = range_join(o, bands, "o_totalprice", "lo", "hi", bucket_width=100000.0)
    return joined.groupBy("band_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("band_total"),
    )


# ---------------------------------------------------------------------------
# aggregation surface
# ---------------------------------------------------------------------------


@query(
    "agg_distinct_count",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS distinct_parts,
           count(DISTINCT l_suppkey) AS distinct_suppliers,
           count(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_distinct_count(spark, sf_dir):
    """count(DISTINCT suppkey) per returnflag — two-phase distinct aggregate (dedup shuffle, then count)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query("agg_approx_distinct")
def agg_approx_distinct(spark, sf_dir):
    """HyperLogLog++ distinct — the 100-TB substitute for exact distinct
    (no oracle: DuckDB's approx_count_distinct uses a different sketch)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts")
    )


@query(
    "agg_stats",
    """
    SELECT o_orderstatus,
           round(avg(o_totalprice), 4)         AS avg_price,
           round(min(o_totalprice), 2)         AS min_price,
           round(max(o_totalprice), 2)         AS max_price,
           round(stddev_samp(o_totalprice), 2) AS sd_price,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_stats(spark, sf_dir):
    """Moment aggregates per group: avg/stddev/skew-adjacent stats in a single shuffle."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
        F.round(F.stddev_samp("o_totalprice"), 2).alias("sd_price"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_having",
    """
    SELECT o_custkey, count(*) AS n_orders
    FROM orders GROUP BY o_custkey HAVING count(*) >= 12
    """,
)
def agg_having(spark, sf_dir):
    """Post-aggregation HAVING filter on group count."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 12)
    )


@query(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark, sf_dir):
    """ROLLUP hierarchy (flag, status): subtotal and grand-total levels from one Expand."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_cube",
    """
    SELECT o_orderstatus, CAST(year(o_orderdate) AS BIGINT) AS order_year,
           round(sum(o_totalprice), 2) AS total, count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, CAST(year(o_orderdate) AS BIGINT))
    """,
)
def agg_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all 4 grouping levels in one pass — Expand feeds a single shuffle, not 4 scans."""
    o = t(spark, sf_dir, "orders")
    return o.cube(
        "o_orderstatus", F.year("o_orderdate").cast("long").alias("order_year")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("total"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "agg_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS total
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS: per-flag, per-status, and grand-total rows from one scan."""
    li = t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, round(sum(l_extendedprice), 2) AS total
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "agg_pivot",
    """
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_open,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_finished
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark, sf_dir):
    """pivot(linestatus) to per-flag wide columns; fixed value list keeps the plan static (no extra distinct job)."""
    li = t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return out.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_finished"),
    )


# ---------------------------------------------------------------------------
# window functions
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    """
    SELECT p_brand, p_partkey, p_retailprice FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part) WHERE rn <= 3
    """,
)
def window_topk_per_group(spark, sf_dir):
    """Top-k per group: one shuffle on the partition key, per-partition
    heap — never a global sort."""
    p = t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice")
    )


@query(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_spend
    FROM orders
    """,
)
def window_running_total(spark, sf_dir):
    """Running sum per customer: unbounded-preceding frame over one key shuffle."""
    o = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "window_time_range_rolling",
    """
    SELECT user_id, event_id,
           count(*) OVER w AS n_last_hour,
           round(sum(value) OVER w, 2) AS value_last_hour
    FROM (SELECT user_id, event_id, value, epoch_us(ts) AS tu FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY tu
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_time_range_rolling(spark, sf_dir):
    """RANGE-framed window (value-based frame, not row-based): per event,
    activity over the TRAILING HOUR of the same user — the frame holds
    every row whose event-time lies within 1h, however many that is.
    Ordering on integer epoch-micros makes the frame arithmetic exact
    and portable.  One shuffle on user_id; the frame scan is a sliding
    two-pointer inside each sorted partition."""
    e = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("tu")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tu")
        .rangeBetween(-3600000000, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 2).alias("value_last_hour"),
    )


@query(
    "window_ntile_quartiles",
    """
    SELECT o_orderpriority, quartile,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM (SELECT o_orderpriority, o_totalprice,
                 ntile(4) OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS quartile
          FROM orders)
    GROUP BY o_orderpriority, quartile
    """,
)
def window_ntile_quartiles(spark, sf_dir):
    """ntile quartile assignment per priority class (deterministic
    tie-break on the key), folded to per-quartile bands."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("quartile", F.ntile(4).over(w))
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@query(
    "window_lag_delta",
    """
    SELECT o_custkey, o_orderkey,
           round(o_totalprice - lag(o_totalprice) OVER (PARTITION BY o_custkey
                                                        ORDER BY o_orderdate, o_orderkey), 2)
             AS delta_vs_prev
    FROM orders
    """,
)
def window_lag_delta(spark, sf_dir):
    """lag() delta per customer: order-sensitive window over one key shuffle."""
    o = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") - F.lag("o_totalprice").over(w), 2).alias(
            "delta_vs_prev"
        ),
    )


@query(
    "window_ntile",
    """
    SELECT c_custkey, c_acctbal,
           ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey) AS balance_quartile
    FROM customer
    """,
)
def window_ntile(spark, sf_dir):
    """Rank/percent windows per group (row_number + percent_rank) over a single partition-sort."""
    c = t(spark, sf_dir, "customer")
    w = Window.orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return c.select(
        "c_custkey", "c_acctbal", F.ntile(4).over(w).alias("balance_quartile")
    )


# ---------------------------------------------------------------------------
# sort / limit / set ops / distinct
# ---------------------------------------------------------------------------


@query(
    "sort_limit_topk",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def sort_limit_topk(spark, sf_dir):
    """Global top-k via orderBy+limit — planned as TakeOrdered (per-partition heap + driver merge), never a full sort."""
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "set_union",
    """
    SELECT custkey, count(*) AS n FROM (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      UNION ALL
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
    ) GROUP BY custkey
    """,
)
def set_union(spark, sf_dir):
    """UNION (distinct) of two filtered projections — one dedup shuffle over the unioned scan."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    u = (
        c.filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(F.col("c_custkey").alias("custkey"))
        .unionAll(
            o.filter(F.col("o_totalprice") > 400000).select(
                F.col("o_custkey").alias("custkey")
            )
        )
    )
    return u.groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "set_intersect",
    """
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
    """,
)
def set_intersect(spark, sf_dir):
    """INTERSECT of two filtered key sets — dedup + hash semi."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("custkey"))
        .intersect(
            o.filter(F.col("o_totalprice") > 200000).select(
                F.col("o_custkey").alias("custkey")
            )
        )
    )


@query(
    "set_except",
    """
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
    """,
)
def set_except(spark, sf_dir):
    """EXCEPT: customers absent from the recent-order key set, as a set
    difference.  The date filter on the subtrahend makes the result provably
    non-empty at sf0.01 (135 rows); an unfiltered EXCEPT against all orders
    is empty on this data and would pass the oracle vacuously."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
    return c.select(F.col("c_custkey").alias("custkey")).exceptAll(
        o.select(F.col("o_custkey").alias("custkey"))
    ).distinct()


@query(
    "set_except_all_bag",
    """
    SELECT custkey, count(*) AS n FROM (
      SELECT o_custkey AS custkey FROM orders
      EXCEPT ALL
      SELECT c_custkey AS custkey FROM customer
    ) GROUP BY custkey
    """,
)
def set_except_all_bag(spark, sf_dir):
    """EXCEPT ALL (bag semantics): each customer key keeps (orders - 1)
    copies, so the surviving multiplicity = order count minus the one
    customer-row occurrence — multiset difference, not the set EXCEPT.
    Folded to (key, count) so the oracle checks multiplicities
    exactly."""
    o = t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
    c = t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("custkey"))
    return o.exceptAll(c).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "set_intersect_all_bag",
    """
    SELECT custkey, count(*) AS n FROM (
      SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
      INTERSECT ALL
      SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1998
    ) GROUP BY custkey
    """,
)
def set_intersect_all_bag(spark, sf_dir):
    """INTERSECT ALL (bag semantics): per key, min(multiplicity in 1997,
    multiplicity in 1998) copies survive — the multiset overlap that
    plain INTERSECT collapses to 0/1."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.year("o_orderdate") == 1997).select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.year("o_orderdate") == 1998).select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b).groupBy("custkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "distinct_projection",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_projection(spark, sf_dir):
    """DISTINCT over a 2-column projection — hash-aggregate dedup, pruned scan."""
    li = t(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# scalar function library
# ---------------------------------------------------------------------------


@query(
    "scalar_string_funcs",
    """
    SELECT p_partkey,
           upper(p_brand)                         AS brand_upper,
           substr(p_name, 1, 10)                  AS name_prefix,
           length(p_name)                         AS name_len,
           concat(p_brand, ':', p_type)           AS brand_type,
           replace(p_type, ' ', '_')              AS type_snake
    FROM part
    """,
)
def scalar_string_funcs(spark, sf_dir):
    """String scalar family (lower/substr/length/concat/trim) as scan-stage expressions."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
    )


@query(
    "scalar_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - 1000.0), 2)      AS abs_centered,
           CAST(l_orderkey % 7 AS BIGINT)               AS key_mod,
           round(sqrt(l_quantity), 4)                   AS qty_sqrt,
           round(l_quantity * l_quantity, 2)            AS qty_sq,
           CAST(floor(l_extendedprice / 100) AS BIGINT) AS price_bucket,
           round(ln(l_extendedprice + 1), 4)            AS log_price
    FROM lineitem
    """,
)
def scalar_math_funcs(spark, sf_dir):
    """Numeric scalar family (round/abs/ceil/floor/log) as scan-stage expressions."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - 1000.0), 2).alias("abs_centered"),
        (F.col("l_orderkey") % 7).cast("long").alias("key_mod"),
        F.round(F.sqrt("l_quantity"), 4).alias("qty_sqrt"),
        F.round(F.col("l_quantity") * F.col("l_quantity"), 2).alias("qty_sq"),
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("price_bucket"),
        F.round(F.log(F.col("l_extendedprice") + 1), 4).alias("log_price"),
    )


@query(
    "scalar_date_funcs",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT)    AS order_year,
           CAST(month(o_orderdate) AS BIGINT)   AS order_month,
           CAST(day(o_orderdate) AS BIGINT)     AS order_day,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate AS DATE)            AS order_date
    FROM orders
    """,
)
def scalar_date_funcs(spark, sf_dir):
    """Date scalar family: year/month extraction, truncation, date arithmetic — all codegen, pushed into the scan stage."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.dayofmonth("o_orderdate").cast("long").alias("order_day"),
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
        F.col("o_orderdate").cast("date").alias("order_date"),
    )


@query(
    "scalar_case_when",
    """
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_totalprice > 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
           CAST(sum(CASE WHEN o_totalprice <= 300000 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
           round(avg(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 4)
             AS avg_urgent_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def scalar_case_when(spark, sf_dir):
    """CASE WHEN banding into a low-cardinality label, aggregated per band."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.sum(F.when(F.col("o_totalprice") > 300000, 1).otherwise(0))
        .cast("long")
        .alias("n_big"),
        F.sum(F.when(F.col("o_totalprice") <= 300000, 1).otherwise(0))
        .cast("long")
        .alias("n_small"),
        F.round(
            F.avg(F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice"))),
            4,
        ).alias("avg_urgent_price"),
    )


# ---------------------------------------------------------------------------
# events: JSON, time windows, sessionization, as-of
# ---------------------------------------------------------------------------


@query(
    "json_extract_props",
    """
    SELECT event_type,
           round(avg(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS avg_k,
           CAST(max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract_props(spark, sf_dir):
    """Semi-structured scalar path: get_json_object stays JVM-side."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k.cast("double")), 4).alias("avg_k"),
        F.max(k.cast("long")).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "scalar_variant_props",
    """
    WITH v AS (SELECT event_type,
                      TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
               FROM events)
    SELECT event_type,
           count(k) AS n_with_k,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(min(k) AS BIGINT) AS min_k,
           CAST(max(k) AS BIGINT) AS max_k
    FROM v GROUP BY event_type
    """,
)
def scalar_variant_props(spark, sf_dir):
    """Spark 4 VARIANT path for semi-structured data: parse once into the
    binary variant encoding, then typed ``variant_get`` extraction — at
    scale this beats per-access ``get_json_object`` re-parsing when many
    fields are read from the same JSON blob (parse cost amortized; the
    variant stays columnar-binary through the plan)."""
    e = t(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "events_tumbling_window",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS window_day, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE), event_type
    """,
)
def events_tumbling_window(spark, sf_dir):
    """Batch form of the streaming tumbling window (same grouping the
    streaming module applies with window()/watermark)."""
    e = t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("window_day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "events_sessionize",
    """
    WITH g AS (
      SELECT user_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events)
    SELECT user_id, CAST(sum(CASE WHEN prev_ts IS NULL
                                   OR epoch(ts) - epoch(prev_ts) > 1800
                                  THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
    FROM g GROUP BY user_id
    """,
)
def events_sessionize(spark, sf_dir):
    """Sessionization: lag + gap>30min counter.  One shuffle on user_id;
    the same semantics session_window() gives in streaming."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
    return (
        e.withColumn("new_session", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("long").alias("n_sessions"))
    )


@query(
    "asof_join_events",
    """
    SELECT p.event_id, p.user_id,
           round(epoch(p.ts) - epoch(c.ts), 3) AS secs_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_events(spark, sf_dir):
    """As-of join (operator Spark lacks): each purchase matched to the
    latest preceding click per user via the union+window implementation —
    one shuffle, no per-key loops.  Oracle: DuckDB's native ASOF JOIN."""
    from target_parquet_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(purchases, clicks, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.round(
            F.col("ts").cast("double") - F.col("ts_right").cast("double"), 3
        ).alias("secs_since_click"),
    )


@query(
    "events_interval_join",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT c.click_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS wait_us
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def events_interval_join(spark, sf_dir):
    """Time-interval equi-join (operators/asof.interval_join): every
    click paired with same-user purchases in the following hour.  Batch
    plan = one key shuffle + residual band filter; the identical
    transform with watermarks on both sides is the stateful
    stream-stream join proven in tests/test_streaming.py."""
    from target_parquet_spark.operators.asof import interval_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = interval_join(clicks, purchases, on="user_id", upper="1 hour")
    return j.select(
        "click_id",
        F.col("event_id_right").alias("purchase_id"),
        (F.unix_micros("ts_right") - F.unix_micros("ts")).alias("wait_us"),
    )


# ---------------------------------------------------------------------------
# streaming-module window operators, batch-applied (the same transforms run
# incrementally under watermarks in target_parquet_spark/streaming/windows.py;
# tests/test_streaming.py proves streaming == batch, this oracle pins batch)
# ---------------------------------------------------------------------------


@query(
    "events_window_tumbling_exact",
    """
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start, event_type,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM events GROUP BY time_bucket(INTERVAL '1 day', ts), event_type
    """,
)
def events_window_tumbling_exact(spark, sf_dir):
    """window('1 day') tumbling agg via the streaming module's transform.
    One shuffle on (window, event_type) with map-side partial agg."""
    from target_parquet_spark.streaming.windows import tumbling_counts

    return tumbling_counts(t(spark, sf_dir, "events"))


@query(
    "events_window_sliding",
    """
    SELECT make_timestamp(CAST(((floor(epoch(ts) / 1800) - g.i) * 1800) * 1000000
                          AS BIGINT)) AS window_start,
           event_type, count(*) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1)) g(i)
    GROUP BY 1, 2
    """,
)
def events_window_sliding(spark, sf_dir):
    """window('1 hour', '30 minutes') sliding agg: each event multiplies
    into duration/slide = 2 windows before the shuffle (the fan-out ratio
    to watch at 100 TB).  Oracle enumerates the same 2 aligned starts."""
    from target_parquet_spark.streaming.windows import sliding_counts

    return sliding_counts(t(spark, sf_dir, "events"))


@query(
    "events_window_session",
    """
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800
                  THEN 1 ELSE 0 END AS brk
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT user_id, ts, value,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)
    SELECT user_id, min(ts) AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS total_value
    FROM s GROUP BY user_id, sid
    """,
)
def events_window_session(spark, sf_dir):
    """session_window(gap=30min) per user: dynamic-length windows that
    merge while events arrive within the gap.  Oracle reconstructs the
    identical sessions with lag + cumulative break-sum (a session breaks
    when the gap is >= 30min — session_window's exclusive end)."""
    from target_parquet_spark.streaming.windows import session_agg

    return session_agg(t(spark, sf_dir, "events"))


@query(
    "agg_salted_skew",
    """
    SELECT l_returnflag,
           count(*) AS n_rows,
           round(sum(l_quantity), 2) AS total_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_salted_skew(spark, sf_dir):
    """Two-stage salted aggregation — the skew-mitigation pattern: partial
    agg on (key, salt) spreads one hot key over 8 reducers, final agg on
    key re-combines.  Result is identical to the direct groupBy (the
    oracle), only the shuffle distribution differs; sums/counts
    re-associate exactly."""
    li = t(spark, sf_dir, "lineitem")
    partial = (
        li.withColumn("_salt", F.pmod(F.hash("l_orderkey"), F.lit(8)))
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("l_quantity").alias("_q"),
        )
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_n").alias("n_rows"),
        F.round(F.sum("_q"), 2).alias("total_qty"),
    )


@query(
    "q4_order_priority",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    """,
)
def q4_order_priority(spark, sf_dir):
    """Correlated EXISTS as a LEFT SEMI join with a non-equi residual
    (late-shipment orders).  The semi join shuffles on orderkey once and
    never materializes the multiplicity of matching lineitems."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.date_add(o.o_orderdate, 60)
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
      JOIN orders o   ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """Top lossy customers: fact filtered on the scan (returnflag pushed),
    nation broadcast, one shuffle for the customer-grain agg, top-k as
    TakeOrderedAndProject."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "agg_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
           round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_percentiles(spark, sf_dir):
    """Exact interpolated percentiles (Spark `percentile` == DuckDB
    quantile_cont).  At 100 TB switch to approx_percentile — the exact
    form needs per-group sorted materialization."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.9)), 4).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.95)), 4).alias("p95_price"),
    )


@query(
    "window_rank_distribution",
    """
    SELECT c_custkey, n_nationkey,
           round(percent_rank() OVER w, 4) AS pr,
           round(cume_dist() OVER w, 4) AS cd
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_nationkey ORDER BY c_acctbal)
    """,
)
def window_rank_distribution(spark, sf_dir):
    """percent_rank / cume_dist per nation over account balance — rank
    functions are tie-stable so the result is deterministic without a
    unique order key."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy("c_acctbal")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            "n_nationkey",
            F.round(F.percent_rank().over(w), 4).alias("pr"),
            F.round(F.cume_dist().over(w), 4).alias("cd"),
        )
    )


@query(
    "join_salted_skew",
    """
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           round(sum(l.l_extendedprice), 2) AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_salted_skew(spark, sf_dir):
    """Manual salted join — the pre-AQE skew cure, shown for when runtime
    re-planning is unavailable (streaming joins, very hot keys): the fact
    side gets a random-ish salt, the dimension side is exploded across all
    salt values, and the join key becomes (key, salt) so one hot orderkey
    spreads over 8 reducers.  Result identical to the plain join (the
    oracle); AQE's skewJoin does this adaptively for batch."""
    n_salt = 8
    li = t(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.hash("l_linenumber", "l_partkey"), F.lit(n_salt))
    )
    o = t(spark, sf_dir, "orders").withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li._salt == o._salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@query(
    "q18_large_orders",
    """
    SELECT c.c_name, o.o_orderkey, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(l_quantity) > 100)
    GROUP BY c.c_name, o.o_orderkey, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: IN over a HAVING-filtered aggregate = aggregate ->
    semi join back to the fact on the same key (exchange reuse), then the
    customer join and top-k."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 100)
        .select("l_orderkey")
    )
    return (
        li.join(big.withColumnRenamed("l_orderkey", "_bok"),
                F.col("l_orderkey") == F.col("_bok"), "left_semi")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query(
    "events_interval_join_outer",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase')
    SELECT count(DISTINCT c.click_id) AS n_clicks,
           count(DISTINCT CASE WHEN p.event_id IS NOT NULL
                               THEN c.click_id END) AS n_converted,
           round(CAST(count(DISTINCT CASE WHEN p.event_id IS NOT NULL
                                          THEN c.click_id END) AS DOUBLE)
                 / CAST(count(DISTINCT c.click_id) AS DOUBLE), 4) AS conv_rate
    FROM c LEFT JOIN p
      ON c.user_id = p.user_id
     AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def events_interval_join_outer(spark, sf_dir):
    """Left-outer interval join: every click kept, null-padded when no
    same-user purchase follows within the hour — the conversion-rate
    denominator the inner form cannot provide.  Same single key shuffle
    with the band as the join residual."""
    from target_parquet_spark.operators.asof import interval_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    j = interval_join(
        clicks, purchases, on="user_id", upper="1 hour", how="left_outer"
    )
    converted = F.countDistinct(
        F.when(F.col("event_id_right").isNotNull(), F.col("click_id"))
    )
    return j.agg(
        F.countDistinct("click_id").alias("n_clicks"),
        converted.alias("n_converted"),
        F.round(
            converted.cast("double") / F.countDistinct("click_id").cast("double"), 4
        ).alias("conv_rate"),
    )
