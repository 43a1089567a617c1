"""Round-2 (session 2) operator families: SCD2 history build, Markov
transition matrices, sliding-window document chunking, unigram LM
log-prob scoring, quota-based corpus mixture sampling, join-key skew
audits, exact median/mode aggregates, and rolling window quantiles.

Reference context: hotgluexyz/target-parquet implements none of these
(SURVEY.md §2.10 — absent categories); this module extends the
training-data-pipeline surface with the same oracle contract as
queries_ext.py / queries_r2.py: every computed column aliased
identically in Spark and DuckDB, floats rounded in both engines,
deterministic tie-breaks everywhere.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from target_parquet_spark.queries import query, t
from target_parquet_spark.queries_ext import SQL_CORPUS, SQL_TOKS, _SQL_DOT, td
from target_parquet_spark.operators import similarity as S
from target_parquet_spark.operators import text as X


# ---------------------------------------------------------------------------
# CDC / dimension maintenance
# ---------------------------------------------------------------------------


@query(
    "cdc_scd2_history",
    """
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER w AS prev_t
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    ch AS (
      SELECT user_id, event_type, ts, event_id FROM o
      WHERE prev_t IS NULL OR event_type <> prev_t)
    SELECT user_id,
           event_type,
           ts AS valid_from,
           lead(ts) OVER w2 AS valid_to,
           CAST(row_number() OVER w2 AS BIGINT) AS version,
           CAST(CASE WHEN lead(ts) OVER w2 IS NULL THEN 1 ELSE 0 END
                AS INTEGER) AS is_current
    FROM ch
    WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def cdc_scd2_history(spark, sf_dir):
    """Slowly-changing-dimension type-2 build: the event stream collapsed
    to state-change rows, each carrying a validity interval
    [valid_from, valid_to) and a per-entity version number; the open
    interval is flagged current.  Complements cdc_merge_upsert (SCD1):
    that keeps latest-wins, this keeps full history.

    Plan: ONE shuffle on user_id serves both windows (change detection
    and interval stitching share the partitioning, Catalyst reuses the
    sort).  No self-join — the naive change-rows-join-next-change plan
    shuffles the fact table twice.  At 100 TB the event table is already
    partitioned by entity key, so the exchange is often elided; the
    output is change-rows only (~a fraction of input), which is what
    makes SCD2 storage-viable at scale."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ch = (
        e.withColumn("prev_t", F.lag("event_type").over(w))
        .filter(F.col("prev_t").isNull() | (F.col("event_type") != F.col("prev_t")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ch.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("long").alias("version"),
        F.when(F.lead("ts").over(w2).isNull(), 1).otherwise(0)
        .cast("int")
        .alias("is_current"),
    )


# ---------------------------------------------------------------------------
# sequence analytics
# ---------------------------------------------------------------------------


@query(
    "events_markov_transitions",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events)
    SELECT prev AS from_state,
           event_type AS to_state,
           count(*) AS n,
           round(CAST(count(*) AS DOUBLE)
                 / sum(count(*)) OVER (PARTITION BY prev), 4) AS p
    FROM o WHERE prev IS NOT NULL
    GROUP BY prev, event_type
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: count and row-normalized probability for every
    (from_state -> to_state) pair.  The behavioral fingerprint behind
    next-event prediction and anomaly scoring.

    Plan: lag needs one shuffle on user_id; the transition count is a
    25-key agg (map-side partials collapse it before the exchange), and
    the row normalization is a window over the 25-row result — free.
    The heavy stage is the first, and it reuses the event table's
    natural entity partitioning at scale."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev")
    ).filter(F.col("prev").isNotNull())
    counts = o.groupBy(
        F.col("prev").alias("from_state"), F.col("event_type").alias("to_state")
    ).agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("from_state")
    return counts.select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 4).alias("p"),
    )


# ---------------------------------------------------------------------------
# document chunking (context-window prep)
# ---------------------------------------------------------------------------

_CHUNK, _STRIDE = 16, 12


@query(
    "text_chunk_sliding",
    f"""
    WITH d AS (
      SELECT doc_id, {SQL_TOKS.format(c="text")} AS toks FROM documents),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(1, len(toks), {_STRIDE})) AS start
      FROM d WHERE len(toks) >= 1)
    SELECT doc_id,
           CAST((start - 1) // {_STRIDE} + 1 AS BIGINT) AS chunk_idx,
           CAST(least({_CHUNK}, n - start + 1) AS BIGINT) AS n_tokens,
           md5(array_to_string(list_slice(toks, start,
                                          start + {_CHUNK} - 1), ' ')) AS chunk_hash
    FROM s
    """,
)
def text_chunk_sliding(spark, sf_dir):
    """Sliding-window document chunking — the context-window prep step of
    a training pipeline: each doc split into overlapping {_CHUNK}-token
    chunks at stride {_STRIDE} (tail chunks shorter, every token covered),
    each chunk identified by content hash for downstream chunk-level
    dedup.

    Plan: tokenize + sequence + explode + slice are all scan-stage
    Column expressions (one WholeStageCodegen span, zero shuffles, zero
    Python).  Output rows ~ tokens/stride per doc — the explode happens
    AFTER the narrow projection so only (doc_id, toks) widens, never the
    raw text.  At 100 TB this is embarrassingly parallel; partition
    count follows the input splits."""
    d = td(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    s = (
        d.withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
        .withColumn(
            "start", F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(_STRIDE)))
        )
    )
    return s.select(
        "doc_id",
        (((F.col("start") - 1) / _STRIDE).cast("long") + 1).alias("chunk_idx"),
        F.least(F.lit(_CHUNK), F.col("n") - F.col("start") + 1)
        .cast("long")
        .alias("n_tokens"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("start"), _CHUNK))
        ).alias("chunk_hash"),
    )


# ---------------------------------------------------------------------------
# unigram LM quality scoring
# ---------------------------------------------------------------------------


@query(
    "text_unigram_logprob",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_TOKS.format(c="text")} AS toks FROM documents),
    tok AS (SELECT doc_id, lang, unnest(toks) AS tk FROM d),
    vocab AS (SELECT tk, count(*) AS c FROM tok GROUP BY tk
              HAVING count(*) >= 3),
    stats AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM vocab),
    scored AS (
      SELECT t.doc_id, t.lang,
             round(avg(log10((coalesce(vb.c, 0) + 1.0)
                             / (s.n + s.v + 1.0))), 6) AS lp
      FROM tok t LEFT JOIN vocab vb ON t.tk = vb.tk CROSS JOIN stats s
      GROUP BY t.doc_id, t.lang)
    SELECT lang,
           count(*) AS n_docs,
           round(avg(lp), 4) AS avg_logprob,
           round(min(lp), 4) AS min_logprob
    FROM scored GROUP BY lang
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Corpus-trained unigram LM perplexity proxy: add-one-smoothed token
    log-probability (vocab = tokens seen >= 3 times; rarer tokens score
    as OOV), averaged per doc then summarized per language.  The classic
    cheap quality signal — gibberish and boilerplate both surface as
    outliers in avg log-prob.

    Plan: ONE explode feeds both the vocab build and the scoring join
    (reused exchange on tk).  The vocab (<= corpus distinct tokens after
    the count filter) broadcasts back onto the token stream; the scalar
    (N, V) stats ride a broadcast nested-loop of one row.  Per-doc and
    per-lang aggs are map-side-combinable.  At 100 TB: vocab after a
    min-count filter is MBs (Zipf), so the scoring join stays
    broadcast — the corpus never reshuffles; doc scores pre-round to 6dp
    so partial-agg order can't move the 4dp summary."""
    from target_parquet_spark.lineage import mat

    # Doc-sized token arrays cut once (the stream feeds the vocab build
    # and the scoring join); the Zipf-bounded vocab cut once (it feeds
    # the scalar stats and the broadcast join) — the "reused exchange"
    # this docstring hoped for never materialized (r10 plan audit), so
    # the cuts make it true by construction.
    arrs = mat(
        td(spark, sf_dir, "documents").select(
            "doc_id", "lang", X.tokens(F.col("text")).alias("t")
        )
    )
    toks = arrs.select("doc_id", "lang", F.explode("t").alias("tk"))
    vocab = mat(
        toks.groupBy("tk").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") >= 3)
    )
    stats = vocab.agg(
        F.sum("c").cast("long").alias("n"), F.count(F.lit(1)).alias("v")
    )
    scored = (
        toks.join(F.broadcast(vocab), "tk", "left")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id", "lang")
        .agg(
            F.round(
                F.avg(
                    F.log10(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("n") + F.col("v") + 1.0)
                    )
                ),
                6,
            ).alias("lp")
        )
    )
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("lp"), 4).alias("avg_logprob"),
        F.round(F.min("lp"), 4).alias("min_logprob"),
    )


# ---------------------------------------------------------------------------
# corpus mixture sampling
# ---------------------------------------------------------------------------

_MIX = [("en", 80), ("de", 30), ("es", 30), ("fr", 30), ("zh", 30)]


@query(
    "sample_mixture_quota",
    f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rn
      FROM documents),
    quota AS (SELECT * FROM (VALUES {", ".join(f"('{l}', {n})" for l, n in _MIX)})
              q(lang, n)),
    sel AS (
      SELECT r.doc_id, r.lang FROM ranked r
      JOIN quota q ON r.lang = q.lang WHERE r.rn <= q.n)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_selected,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)) AS sel_sig
    FROM sel GROUP BY lang
    """,
)
def sample_mixture_quota(spark, sf_dir):
    """Training-mixture construction: fixed per-language document quotas
    (the data-mixture knob of LLM pretraining), filled deterministically
    by md5 rank so the mixture is reproducible across engines, retries,
    and cluster sizes — no rand().  Output is audit-shaped: per-language
    selected count plus an exact selection signature (md5 of the sorted
    kept-id list), the same contract pipeline_curation_full uses.

    Plan: one shuffle on lang for the rank window, quota table is a
    plan-time literal (explode of a literal struct array — no
    createDataFrame, no driver round-trip), joined broadcast.  Scale
    note: a 5-key rank window is skew-prone at 100 TB (each language
    sorts on one reducer); when quotas are proportions rather than exact
    counts, prefer the shuffle-free hash-threshold filter
    (sample_hash_pct) — exact quotas are what force the per-group
    rank."""
    docs = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    ranked = docs.select("doc_id", "lang", F.row_number().over(w).alias("rn"))
    quota = (
        spark.range(1)
        .select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(l).alias("lang"), F.lit(n).alias("n"))
                        for l, n in _MIX
                    ]
                )
            ).alias("q")
        )
        .select("q.lang", "q.n")
    )
    sel = ranked.join(F.broadcast(quota), "lang").filter(F.col("rn") <= F.col("n"))
    return sel.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
                ),
            )
        ).alias("sel_sig"),
    )


# ---------------------------------------------------------------------------
# data-quality / operability audits
# ---------------------------------------------------------------------------


@query(
    "audit_key_skew",
    """
    WITH k AS (
      SELECT 'orders.o_custkey' AS key_col, CAST(o_custkey AS VARCHAR) AS k
      FROM orders
      UNION ALL
      SELECT 'lineitem.l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
      UNION ALL
      SELECT 'events.user_id', CAST(user_id AS VARCHAR) FROM events),
    c AS (SELECT key_col, k, count(*) AS n FROM k GROUP BY key_col, k),
    cx AS (SELECT key_col, k, n,
                  max(n) OVER (PARTITION BY key_col) AS mx FROM c)
    SELECT key_col,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(max(n) AS BIGINT) AS max_n,
           round(avg(n), 4) AS avg_n,
           round(max(n) / avg(n), 4) AS skew_factor,
           min(CASE WHEN n = mx THEN k END) AS top_key
    FROM cx GROUP BY key_col
    """,
)
def audit_key_skew(spark, sf_dir):
    """Join-key skew report — the planning audit run BEFORE a 100 TB
    join: per candidate key, cardinality, max and mean per-key row
    count, the skew factor (max/avg — >> 1 means one reducer owns the
    key), and the heaviest key itself (deterministic min tie-break).
    The numbers that decide between plain SMJ, AQE skew split, salting
    (join_salted_skew), or broadcast.

    Plan: one count agg per table (map-side combinable), unioned — the
    union is of post-agg key-count tables, not raw rows, so the audit
    touches each fact table exactly once; the window max and final
    summary run over per-key counts (cardinality-sized, not row-sized).
    """
    def keyed(name, col, label):
        return t(spark, sf_dir, name).select(
            F.lit(label).alias("key_col"), F.col(col).cast("string").alias("k")
        )

    k = (
        keyed("orders", "o_custkey", "orders.o_custkey")
        .unionByName(keyed("lineitem", "l_partkey", "lineitem.l_partkey"))
        .unionByName(keyed("events", "user_id", "events.user_id"))
    )
    c = k.groupBy("key_col", "k").agg(F.count(F.lit(1)).alias("n"))
    cx = c.withColumn("mx", F.max("n").over(Window.partitionBy("key_col")))
    return cx.groupBy("key_col").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("n").cast("long").alias("max_n"),
        F.round(F.avg("n"), 4).alias("avg_n"),
        F.round(F.max("n") / F.avg("n"), 4).alias("skew_factor"),
        F.min(F.when(F.col("n") == F.col("mx"), F.col("k"))).alias("top_key"),
    )


# ---------------------------------------------------------------------------
# exact median / mode aggregates
# ---------------------------------------------------------------------------


@query(
    "agg_median_mode",
    """
    WITH c AS (
      SELECT l_returnflag AS flag, l_quantity AS q, count(*) AS n
      FROM lineitem GROUP BY flag, q),
    cx AS (SELECT flag, q, n, max(n) OVER (PARTITION BY flag) AS mx FROM c),
    modes AS (
      SELECT flag, min(CASE WHEN n = mx THEN q END) AS mode_qty
      FROM cx GROUP BY flag),
    med AS (
      SELECT l_returnflag AS flag,
             round(median(l_quantity), 4) AS median_qty,
             round(avg(l_quantity), 4) AS avg_qty
      FROM lineitem GROUP BY flag)
    SELECT med.flag AS l_returnflag, med.median_qty, med.avg_qty,
           modes.mode_qty
    FROM med JOIN modes ON med.flag = modes.flag
    """,
)
def agg_median_mode(spark, sf_dir):
    """Exact per-group median (linear-interpolated, DuckDB median
    semantics == Spark percentile 0.5) and mode (most frequent value,
    smallest-value tie-break so the answer is deterministic in both
    engines).

    Plan: the mode arm reduces rows to (group, value) counts FIRST (one
    map-combinable shuffle to ~groups x distinct-values), then a window
    max + min-filter over that tiny table; the median arm is Spark's
    exact percentile aggregate, whose state is a per-group value-count
    map — fine while distinct values per group are bounded (prices,
    quantities, enum-ish measures), switch to approx_percentile when
    they aren't.  Final 3-row join is broadcast."""
    li = t(spark, sf_dir, "lineitem")
    c = li.groupBy(
        F.col("l_returnflag").alias("flag"), F.col("l_quantity").alias("q")
    ).agg(F.count(F.lit(1)).alias("n"))
    cx = c.withColumn("mx", F.max("n").over(Window.partitionBy("flag")))
    modes = cx.groupBy("flag").agg(
        F.min(F.when(F.col("n") == F.col("mx"), F.col("q"))).alias("mode_qty")
    )
    med = li.groupBy(F.col("l_returnflag").alias("flag")).agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
    )
    return med.join(F.broadcast(modes), "flag").select(
        F.col("flag").alias("l_returnflag"), "median_qty", "avg_qty", "mode_qty"
    )


# ---------------------------------------------------------------------------
# rolling window quantiles
# ---------------------------------------------------------------------------


@query(
    "window_rolling_quantile",
    """
    SELECT user_id, event_id,
           round(quantile_cont(value, 0.9) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS p90_last10,
           round(median(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 4) AS med_last10
    FROM events
    """,
)
def window_rolling_quantile(spark, sf_dir):
    """Rolling robust statistics: per event, the 90th percentile and
    median of the user's trailing 10 observations — the outlier-resistant
    twin of a moving average, the shape used for adaptive thresholds and
    drift monitors.  Spark's exact percentile runs as a frame-bound
    window aggregate; linear interpolation matches DuckDB quantile_cont.

    Plan: one shuffle on user_id; both quantiles share the frame scan
    within one Window node.  Exact per-frame state is the 10-value
    buffer — constant memory; for wide frames at 100 TB swap in
    approx_percentile over the same frame."""
    e = t(spark, sf_dir, "events")
    frame = "PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 9 PRECEDING AND CURRENT ROW"
    return e.select(
        "user_id",
        "event_id",
        F.round(F.expr(f"percentile(value, 0.9) OVER ({frame})"), 4).alias(
            "p90_last10"
        ),
        F.round(F.expr(f"percentile(value, 0.5) OVER ({frame})"), 4).alias(
            "med_last10"
        ),
    )


# ---------------------------------------------------------------------------
# interval merging (gaps and islands)
# ---------------------------------------------------------------------------


@query(
    "events_merge_intervals",
    """
    WITH iv AS (
      SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e, event_id
      FROM events),
    o AS (
      SELECT user_id, s, e, event_id,
             max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS prev_max_e
      FROM iv),
    fl AS (
      SELECT user_id, s, e, event_id,
             CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                  THEN 1 ELSE 0 END AS new_island
      FROM o),
    isl AS (
      SELECT user_id, s, e,
             CAST(sum(new_island) OVER (PARTITION BY user_id
                                        ORDER BY s, event_id) AS BIGINT) AS island
      FROM fl)
    SELECT user_id, island,
           min(s) AS island_start,
           max(e) AS island_end,
           count(*) AS n_events,
           epoch_us(max(e)) - epoch_us(min(s)) AS span_us
    FROM isl GROUP BY user_id, island
    """,
)
def events_merge_intervals(spark, sf_dir):
    """Gaps-and-islands interval merge: each event opens a 5-minute
    activity interval; overlapping intervals per user coalesce into
    maximal islands (running-max of interval end detects overlap, a
    cumulative flag sum numbers the islands).  The classic shape behind
    downtime stitching, session coverage, and IP-activity windows.

    Plan: ONE shuffle on user_id serves the running-max window, the
    island-number window, and the final per-island agg — all three reuse
    the same sort order, so Catalyst plans a single Exchange + Sort.  No
    self-join: the naive overlap-pairs approach is O(n^2) per user and
    reshuffles twice."""
    e = t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fl = iv.withColumn(
        "new_island",
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            1,
        ).otherwise(0),
    )
    w_cum = Window.partitionBy("user_id").orderBy("s", "event_id")
    isl = fl.withColumn(
        "island", F.sum("new_island").over(w_cum).cast("long")
    )
    return isl.groupBy("user_id", "island").agg(
        F.min("s").alias("island_start"),
        F.max("e").alias("island_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("e")) - F.unix_micros(F.min("s"))).alias("span_us"),
    )


# ---------------------------------------------------------------------------
# data profiling audit
# ---------------------------------------------------------------------------


@query(
    "audit_null_profile",
    """
    SELECT 'documents' AS tbl, 'text' AS col,
           count(*) AS n_rows,
           CAST(count(*) - count(text) AS BIGINT) AS n_null,
           CAST(count(*) FILTER (WHERE trim(text) = '') AS BIGINT) AS n_empty,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct
    FROM documents
    UNION ALL
    SELECT 'documents', 'lang', count(*),
           CAST(count(*) - count(lang) AS BIGINT),
           CAST(count(*) FILTER (WHERE trim(lang) = '') AS BIGINT),
           CAST(count(DISTINCT lang) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'events', 'props', count(*),
           CAST(count(*) - count(props) AS BIGINT),
           CAST(count(*) FILTER (WHERE trim(props) = '') AS BIGINT),
           CAST(count(DISTINCT props) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'events', 'event_type', count(*),
           CAST(count(*) - count(event_type) AS BIGINT),
           CAST(count(*) FILTER (WHERE trim(event_type) = '') AS BIGINT),
           CAST(count(DISTINCT event_type) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'customer', 'c_mktsegment', count(*),
           CAST(count(*) - count(c_mktsegment) AS BIGINT),
           CAST(count(*) FILTER (WHERE trim(c_mktsegment) = '') AS BIGINT),
           CAST(count(DISTINCT c_mktsegment) AS BIGINT)
    FROM customer
    """,
)
def audit_null_profile(spark, sf_dir):
    """Column-level data-quality profile — the pre-training audit every
    corpus ingestion runs: row count, null count, blank-string count, and
    distinct cardinality per audited column.  (The synthetic tables are
    clean; the zeros ARE the assertion.)

    Plan: one scan per table computes all four aggregates for its columns
    map-side (count/count-distinct partials), and only the 5-row summary
    unions — raw rows never union, never reshuffle.  count(DISTINCT) over
    a high-cardinality column is the one scale hazard: it expands to a
    two-phase agg keyed on the value, which is exactly what it must do;
    swap in approx_count_distinct for monitoring dashboards."""

    def profile(name, col):
        c = F.col(col)
        return t(spark, sf_dir, name).agg(
            F.lit(name).alias("tbl"),
            F.lit(col).alias("col"),
            F.count(F.lit(1)).alias("n_rows"),
            (F.count(F.lit(1)) - F.count(c)).cast("long").alias("n_null"),
            F.count(F.when(F.trim(c) == "", 1)).cast("long").alias("n_empty"),
            F.countDistinct(c).cast("long").alias("n_distinct"),
        )

    parts = [
        profile("documents", "text"),
        profile("documents", "lang"),
        profile("events", "props"),
        profile("events", "event_type"),
        profile("customer", "c_mktsegment"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# ANN candidate-generation recall
# ---------------------------------------------------------------------------

_SQL_EMB_SCORE = (
    f"{_SQL_DOT.format(a='{e}', b='{q}')} / sqrt({_SQL_DOT.format(a='{e}', b='{e}')})"
)


@query(
    "sim_ivf_recall",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE vec_id < 16),
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id >= 100 AND vec_id < 110),
    s AS (SELECT e.vec_id, c.cid,
                 {_SQL_DOT.format(a='e.embedding', b='c.cv')}
                   / sqrt({_SQL_DOT.format(a='c.cv', b='c.cv')}) AS score
          FROM embeddings e CROSS JOIN c),
    assign AS (SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid) AS rn
        FROM s) WHERE rn = 1),
    qs AS (SELECT q.qid, c.cid,
                  {_SQL_DOT.format(a='q.qv', b='c.cv')}
                    / sqrt({_SQL_DOT.format(a='c.cv', b='c.cv')}) AS score
           FROM q CROSS JOIN c),
    probe AS (SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, cid) AS rn
        FROM qs) WHERE rn <= 2),
    truth AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_SQL_DOT.format(a='e.embedding', b='q.qv')}
                            / sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                          DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
        WHERE rn <= 10),
    cand AS (SELECT p.qid, a.vec_id FROM probe p
             JOIN assign a ON a.cell = p.cid),
    hits AS (SELECT t.qid, count(*) AS n_hits FROM truth t
             JOIN cand cd ON cd.qid = t.qid AND cd.vec_id = t.vec_id
             GROUP BY t.qid),
    nc AS (SELECT qid, count(*) AS n_cand FROM cand GROUP BY qid)
    SELECT q.qid,
           CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
           CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(hits.n_hits, 0) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN nc ON q.qid = nc.qid
           LEFT JOIN hits ON q.qid = hits.qid
    """,
)
def sim_ivf_recall(spark, sf_dir):
    """Recall@10 of the IVF candidate-generation stage, per query: what
    fraction of each query's true top-10 neighbors survives 2-of-16 cell
    probing — the monitoring harness for ANN quality (the companion of
    dedup_lsh_recall on the embedding side).  nprobe tuning IS this
    query run at a few settings.  The query stratum (ids 100-109) is
    DISJOINT from the seed-centroid ids (0-15): evaluating recall on
    queries that are themselves centroids inflates recall (~0.88 vs
    ~0.19 here) because each query gets a perfectly query-centered
    cell — leakage, fixed in r3.

    Plan: cell assignment is the literal-codebook argmax (zero join,
    zero shuffle — ivf_cell); the 10-query truth set is an exact cosine
    against a BROADCAST query table (the 100 TB corpus streams past it
    once, no shuffle), topped per query by a window over qid.  At scale
    the ground truth comes from a sampled query stratum, exactly as
    here; candidates-per-query (n_cand) is the cost axis, recall the
    quality axis."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = S.ivf_codebook(emb, n_centroids=16)
    assign = emb.select(
        "vec_id", S.ivf_cell(F.col("embedding"), cb).alias("cell")
    )
    q = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    cents = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    qs = q.crossJoin(F.broadcast(cents)).select(
        "qid",
        "cid",
        (
            S.dot(F.col("qv"), F.col("cv"))
            / F.sqrt(S.dot(F.col("cv"), F.col("cv")))
        ).alias("score"),
    )
    w_probe = Window.partitionBy("qid").orderBy(F.desc("score"), "cid")
    probe = (
        qs.withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("qid", "cid")
    )
    # hoist ||e|| above the query fan-out: one norm fold per vector
    # instead of one per (vector, query) pair — same IEEE double as the
    # inline sqrt (the oracle keeps the inline form, values identical)
    embn = emb.withColumn(
        "nrm", F.sqrt(S.dot(F.col("embedding"), F.col("embedding")))
    )
    scored = (
        embn.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                S.dot(F.col("embedding"), F.col("qv")) / F.col("nrm")
            ).alias("score"),
        )
    )
    w_truth = Window.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    truth = (
        scored.withColumn("rn", F.row_number().over(w_truth))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    cand = F.broadcast(probe).join(assign, probe.cid == assign.cell).select(
        "qid", "vec_id"
    )
    # ONE pass over cand for both counts (VERDICT r10 #3): the old
    # hits/nc pair consumed cand twice, re-deriving the ivf_cell
    # assignment scan (16 centroid folds per vector) per consumer.
    # truth is 10 qids x top-10 = 100 rows — broadcast it onto cand and
    # count matches inline: truth rows are distinct by construction
    # (row_number <= 10), so the left join cannot fan out and
    # count(__hit) = |cand ∩ truth| = the old inner-join count; qids
    # with no candidates coalesce to 0 exactly as the two-join form did.
    per_q = (
        cand.join(
            F.broadcast(truth.withColumn("__hit", F.lit(1))),
            ["qid", "vec_id"],
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.count("__hit").alias("n_hits"),
        )
    )
    return (
        q.select("qid")
        .join(per_q, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 10.0, 4).alias("recall_at_10"),
        )
    )


from target_parquet_spark.queries_ext import _sql_kmeans_ctes  # noqa: E402

# assembled by concat (not an f-string over the macro — brace collisions)
_SQL_IVF_TRAINED_RECALL = (
    "WITH "
    + _sql_kmeans_ctes(iters=2, k=16, metric="cos")
    + f""",
    q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
          WHERE vec_id >= 100 AND vec_id < 110),
    s AS (SELECT e.vec_id, c.k AS cid,
                 {_SQL_DOT.format(a='e.embedding', b='c.c')}
                   / sqrt({_SQL_DOT.format(a='c.c', b='c.c')}) AS score
          FROM embeddings e CROSS JOIN c2 c),
    assign AS (SELECT vec_id, cid AS cell FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid) AS rn
        FROM s) WHERE rn = 1),
    qs AS (SELECT q.qid, c.k AS cid,
                  {_SQL_DOT.format(a='q.qv', b='c.c')}
                    / sqrt({_SQL_DOT.format(a='c.c', b='c.c')}) AS score
           FROM q CROSS JOIN c2 c),
    probe AS (SELECT qid, cid FROM (
        SELECT qid, cid,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY score DESC, cid) AS rn
        FROM qs) WHERE rn <= 2),
    truth AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
               row_number() OVER (
                 PARTITION BY q.qid
                 ORDER BY {_SQL_DOT.format(a='e.embedding', b='q.qv')}
                            / sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                          DESC, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
        WHERE rn <= 10),
    cand AS (SELECT p.qid, a.vec_id FROM probe p
             JOIN assign a ON a.cell = p.cid),
    hits AS (SELECT t.qid, count(*) AS n_hits FROM truth t
             JOIN cand cd ON cd.qid = t.qid AND cd.vec_id = t.vec_id
             GROUP BY t.qid),
    nc AS (SELECT qid, count(*) AS n_cand FROM cand GROUP BY qid)
    SELECT q.qid,
           CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_cand,
           CAST(coalesce(hits.n_hits, 0) AS BIGINT) AS n_hits,
           round(coalesce(hits.n_hits, 0) / 10.0, 4) AS recall_at_10
    FROM q LEFT JOIN nc ON q.qid = nc.qid
           LEFT JOIN hits ON q.qid = hits.qid
    """
)


@query("sim_ivf_recall_trained", _SQL_IVF_TRAINED_RECALL)
def sim_ivf_recall_trained(spark, sf_dir):
    """sim_ivf_recall with the codebook TRAINED by distributed Lloyd
    (kmeans_codebook: K=16, 2 rounds, 6dp-quantized means) instead of
    first-16 seed vectors — the wiring the r2 verdict asked for (#2).
    The query path is byte-identical to the seed variant (literal
    codebook, scan-stage ivf_cell, driver-side probe selection over the
    same fold arithmetic); only the centroid VALUES differ.  The oracle
    replays training as unrolled CTEs (c2 = trained centroid lists) and
    hash-matches, proving the trained model state is engine-exact.
    tests/test_r3_hardening.py pins that trained mean recall@10 beats
    the seed codebook at the same nprobe."""
    from target_parquet_spark.lineage import mat

    # emb feeds training, assignment, the query stratum AND the
    # brute-force truth side — one materialized scan instead of five
    # (r10 plan audit).
    emb = mat(td(spark, sf_dir, "embeddings").select("vec_id", "embedding"))
    cb = S.kmeans_codebook(emb, n_centroids=16, n_iters=2)
    assign = emb.select(
        "vec_id", S.ivf_cell(F.col("embedding"), cb).alias("cell")
    )
    q = emb.filter(
        (F.col("vec_id") >= 100) & (F.col("vec_id") < 110)
    ).select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    # driver-side probe selection over the literal codebook — the same
    # sequential fold the executors (and the oracle) run
    probe_pairs = []
    for r in q.collect():
        qv = [float(x) for x in r.qv]
        scores = []
        for cid, cv, nrm in cb:
            d = 0.0
            for a, b in zip(qv, cv):
                d += a * b
            scores.append((-(d / nrm), cid))
        for _neg, cid in sorted(scores)[:2]:
            probe_pairs.append((int(r.qid), cid))
    probe = spark.createDataFrame(probe_pairs, "qid long, cid int")

    embn = emb.withColumn(
        "nrm", F.sqrt(S.dot(F.col("embedding"), F.col("embedding")))
    )
    scored = (
        embn.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                S.dot(F.col("embedding"), F.col("qv")) / F.col("nrm")
            ).alias("score"),
        )
    )
    w_truth = Window.partitionBy("qid").orderBy(F.desc("score"), "vec_id")
    truth = (
        scored.withColumn("rn", F.row_number().over(w_truth))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    cand = F.broadcast(probe).join(assign, probe.cid == assign.cell).select(
        "qid", "vec_id"
    )
    # ONE pass over cand for both counts (VERDICT r10 #3): the old
    # hits/nc pair consumed cand twice, re-deriving the ivf_cell
    # assignment scan (16 centroid folds per vector) per consumer.
    # truth is 10 qids x top-10 = 100 rows — broadcast it onto cand and
    # count matches inline: truth rows are distinct by construction
    # (row_number <= 10), so the left join cannot fan out and
    # count(__hit) = |cand ∩ truth| = the old inner-join count; qids
    # with no candidates coalesce to 0 exactly as the two-join form did.
    per_q = (
        cand.join(
            F.broadcast(truth.withColumn("__hit", F.lit(1))),
            ["qid", "vec_id"],
            "left",
        )
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_cand"),
            F.count("__hit").alias("n_hits"),
        )
    )
    return (
        q.select("qid")
        .join(per_q, "qid", "left")
        .select(
            "qid",
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.round(F.coalesce("n_hits", F.lit(0)) / 10.0, 4).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# sketch algebra: HLL set operations
# ---------------------------------------------------------------------------

_SQL_HLL_REGS = """
    SELECT h >> 54 AS reg,
           CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
                ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1)))
           END AS rho
    FROM (SELECT (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT AS h
          FROM events WHERE event_type = '{et}')
"""

_SQL_HLL_EST = (
    "round(0.709::DOUBLE * 4096.0::DOUBLE / "
    "(sum(power(2.0::DOUBLE, -mx)) + CAST(64 - count(*) AS DOUBLE)), 2)"
)


@query(
    "agg_hll_set_ops",
    f"""
    WITH ma AS (SELECT reg, max(rho) AS mx FROM ({_SQL_HLL_REGS.format(et="click")}) GROUP BY reg),
    mb AS (SELECT reg, max(rho) AS mx FROM ({_SQL_HLL_REGS.format(et="purchase")}) GROUP BY reg),
    mu AS (SELECT reg, max(mx) AS mx FROM
           (SELECT * FROM ma UNION ALL SELECT * FROM mb) GROUP BY reg),
    ea AS (SELECT {_SQL_HLL_EST} AS est FROM ma),
    eb AS (SELECT {_SQL_HLL_EST} AS est FROM mb),
    eu AS (SELECT {_SQL_HLL_EST} AS est FROM mu),
    ex AS (SELECT
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type = 'click') AS n_a,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type = 'purchase') AS n_b,
             (SELECT count(DISTINCT user_id) FROM events
              WHERE event_type IN ('click', 'purchase')) AS n_union)
    SELECT ea.est AS est_a, eb.est AS est_b, eu.est AS est_union,
           round(ea.est + eb.est - eu.est, 2) AS est_intersect,
           ex.n_a AS n_exact_a, ex.n_b AS n_exact_b,
           ex.n_union AS n_exact_union,
           ex.n_a + ex.n_b - ex.n_union AS n_exact_intersect
    FROM ea, eb, eu, ex
    """,
)
def agg_hll_set_ops(spark, sf_dir):
    """Sketch ALGEBRA, not just sketch estimation: HyperLogLog register
    tables for two user sets (clickers, purchasers) merged by register
    max — the union sketch — with the intersection estimated by
    inclusion-exclusion over the (rounded) estimates.  This is the
    operation that makes sketches infrastructure: per-segment sketches
    computed once, audience overlaps answered without rescanning.

    Plan: each set's registers are a 64-group partial-max agg over one
    filtered scan (both filters pushed to parquet); the union merge is a
    64+64-row unionByName + re-max — bytes.  Exact distinct counts ride
    alongside for the error report.  The register layout matches
    agg_hll_sketch exactly (60-bit md5, exact bin-length rho), so every
    double is order-independent and the oracle hash-matches."""
    e = t(spark, sf_dir, "events")

    def regs(et):
        h = F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        w = h.bitwiseAND(F.lit((1 << 54) - 1))
        rho = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
        return (
            e.filter(F.col("event_type") == et)
            .select(F.shiftright(h, 54).alias("reg"), rho.alias("rho"))
            .groupBy("reg")
            .agg(F.max("rho").alias("mx"))
        )

    def est(m, name):
        return m.agg(
            F.round(
                F.lit(0.709)
                * F.lit(4096.0)
                / (
                    F.sum(F.pow(F.lit(2.0), -F.col("mx")))
                    + (F.lit(64) - F.count(F.lit(1))).cast("double")
                ),
                2,
            ).alias(name)
        )

    ma, mb = regs("click"), regs("purchase")
    mu = ma.unionByName(mb).groupBy("reg").agg(F.max("mx").alias("mx"))
    ex = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .agg(
            F.countDistinct(
                F.when(F.col("event_type") == "click", F.col("user_id"))
            ).alias("n_a"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            ).alias("n_b"),
            F.countDistinct("user_id").alias("n_union"),
        )
    )
    return (
        est(ma, "est_a")
        .crossJoin(est(mb, "est_b"))
        .crossJoin(est(mu, "est_union"))
        .crossJoin(ex)
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(F.col("est_a") + F.col("est_b") - F.col("est_union"), 2).alias(
                "est_intersect"
            ),
            F.col("n_a").alias("n_exact_a"),
            F.col("n_b").alias("n_exact_b"),
            F.col("n_union").alias("n_exact_union"),
            (F.col("n_a") + F.col("n_b") - F.col("n_union")).alias(
                "n_exact_intersect"
            ),
        )
    )


# ---------------------------------------------------------------------------
# CDC: snapshot diff
# ---------------------------------------------------------------------------

_T1, _T2 = "2024-01-15 00:00:00", "2024-01-25 00:00:00"


@query(
    "cdc_snapshot_diff",
    f"""
    WITH s1 AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_T1}') WHERE rn = 1),
    s2 AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE ts < TIMESTAMP '{_T2}') WHERE rn = 1)
    SELECT coalesce(s2.user_id, s1.user_id) AS user_id,
           CASE WHEN s1.user_id IS NULL THEN 'added'
                WHEN s2.user_id IS NULL THEN 'removed'
                WHEN s1.event_type <> s2.event_type
                     OR s1.value <> s2.value THEN 'changed'
                ELSE 'unchanged' END AS status,
           s1.event_type AS old_state,
           s2.event_type AS new_state
    FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    """,
)
def cdc_snapshot_diff(spark, sf_dir):
    """Snapshot diff — the third leg of the CDC family (merge_upsert =
    SCD1 apply, scd2_history = full history, this = what changed between
    two as-of states): per entity, the latest state at T1 vs at T2,
    classified added / removed / changed / unchanged.  The audit that
    validates an incremental pipeline against a full recompute.

    Plan: both as-of snapshots are latest-row-per-key windows over the
    SAME user_id shuffle (Catalyst reuses the exchange; the T1 scan is a
    subset of T2's by predicate pushdown), then one key-partitioned full
    outer join.  At 100 TB snapshots live as materialized tables
    bucketed by key and the join is exchange-free; 'removed' is
    structurally empty here because events are append-only — the branch
    exists for real tombstone feeds."""
    e = t(spark, sf_dir, "events")

    def snap(cutoff):
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        return (
            e.filter(F.col("ts") < cutoff)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type", "value")
        )

    s1 = snap(_T1).alias("s1")
    s2 = snap(_T2).alias("s2")
    status = (
        F.when(F.col("s1.user_id").isNull(), "added")
        .when(F.col("s2.user_id").isNull(), "removed")
        .when(
            (F.col("s1.event_type") != F.col("s2.event_type"))
            | (F.col("s1.value") != F.col("s2.value")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return s1.join(s2, F.col("s1.user_id") == F.col("s2.user_id"), "full_outer").select(
        F.coalesce(F.col("s2.user_id"), F.col("s1.user_id")).alias("user_id"),
        status.alias("status"),
        F.col("s1.event_type").alias("old_state"),
        F.col("s2.event_type").alias("new_state"),
    )


# ---------------------------------------------------------------------------
# bitmap-index distinct counting
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_distinct",
    """
    WITH w AS (
      SELECT event_type,
             user_id // 32 AS word,
             bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
      FROM events GROUP BY event_type, word)
    SELECT event_type,
           CAST(sum(bit_count(bits)) AS BIGINT) AS n_distinct_users,
           CAST(count(*) AS BIGINT) AS n_words
    FROM w GROUP BY event_type
    """,
)
def agg_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counting via bitmap words — the roaring-bitmap idea
    in relational algebra: dense integer keys pack 32-per-word
    (word = id div 32, bit = id mod 32), words OR together under
    group-by, popcount-sum gives the exact cardinality.  Unlike
    count(DISTINCT) the state is MERGEABLE (OR is associative and
    idempotent): per-day word tables union and re-OR into exact
    month/year distincts without ever re-touching raw events — the exact
    twin of the HLL register table, for when approximate isn't
    acceptable.

    Plan: one shuffle on (event_type, word) with map-side partial
    bit_or — the exchanged state is one long per 32 users per group, a
    32x reduction before the wire even with no local key overlap; the
    per-type rollup is a 5-key agg over word counts.  At 100 TB with a
    dense user dimension this is both smaller and faster than the
    shuffle-the-ids exact distinct, and it IS the materializable
    incremental state."""
    e = t(spark, sf_dir, "events")
    w = e.groupBy(
        "event_type", F.expr("user_id div 32").alias("word")
    ).agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), cast(user_id % 32 as int))")
        ).alias("bits")
    )
    return w.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("long").alias("n_distinct_users"),
        F.count(F.lit(1)).cast("long").alias("n_words"),
    )


# ---------------------------------------------------------------------------
# time-weighted average
# ---------------------------------------------------------------------------


@query(
    "events_time_weighted_avg",
    """
    WITH o AS (
      SELECT user_id, value, ts,
             lead(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS next_ts
      FROM events),
    seg AS (
      SELECT user_id, value,
             CAST(epoch_us(next_ts) - epoch_us(ts) AS DOUBLE) / 1e6 AS dur_s
      FROM o WHERE next_ts IS NOT NULL)
    SELECT user_id,
           round(sum(value * dur_s) / sum(dur_s), 4) AS twa_value,
           round(avg(value), 4) AS naive_avg,
           CAST(count(*) AS BIGINT) AS n_segments
    FROM seg GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark, sf_dir):
    """Time-weighted average (the hypertable/TimescaleDB `time_weight`
    operator): each observation holds its value until the next one, so
    the mean weights each value by its holding duration — the correct
    average for irregularly-sampled gauges (sensor readings, account
    balances, queue depths), where the naive row-average over-weights
    busy periods.  Both averages emitted side by side: their gap is the
    sampling-bias measure.

    Plan: lead() is one shuffle on user_id; the weighted agg reuses the
    same partitioning (group key == window partition key, Catalyst
    elides the second exchange).  Segment durations come from exact
    integer epoch-micros before the double division."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "user_id", "value", "ts", F.lead("ts").over(w).alias("next_ts")
    ).filter(F.col("next_ts").isNotNull())
    seg = o.select(
        "user_id",
        "value",
        (
            (F.unix_micros("next_ts") - F.unix_micros("ts")).cast("double") / 1e6
        ).alias("dur_s"),
    )
    return seg.groupBy("user_id").agg(
        F.round(F.sum(F.col("value") * F.col("dur_s")) / F.sum("dur_s"), 4).alias(
            "twa_value"
        ),
        F.round(F.avg("value"), 4).alias("naive_avg"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
    )


# ---------------------------------------------------------------------------
# nested/struct scalar surface
# ---------------------------------------------------------------------------


@query(
    "scalar_struct_funcs",
    """
    WITH s AS (
      SELECT o_orderkey,
             {'status': o_orderstatus,
              'total_cents': CAST(round(o_totalprice * 100) AS BIGINT),
              'priority': o_orderpriority} AS ord
      FROM orders WHERE o_orderkey % 97 = 0)
    SELECT o_orderkey,
           ord.status AS status,
           ord.total_cents AS total_cents,
           upper(ord.priority) AS priority_uc,
           to_json(ord) AS ord_json
    FROM s
    """,
)
def scalar_struct_funcs(spark, sf_dir):
    """Struct construction, field access, and JSON serialization — the
    nested-data scalar surface (reference C8 serializes nested values to
    JSON strings at the sink; here the struct stays TYPED through the
    plan and JSON is just one projection at the edge).  Field order and
    key names are pinned so the JSON text matches byte-for-byte across
    engines.

    Plan: pure scan-stage projection, filter pushed to parquet; structs
    are columnar in Tungsten (no boxing), so the nested hop costs
    nothing."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 97 == 0)
    s = o.select(
        "o_orderkey",
        F.struct(
            F.col("o_orderstatus").alias("status"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("total_cents"),
            F.col("o_orderpriority").alias("priority"),
        ).alias("ord"),
    )
    return s.select(
        "o_orderkey",
        F.col("ord.status").alias("status"),
        F.col("ord.total_cents").alias("total_cents"),
        F.upper(F.col("ord.priority")).alias("priority_uc"),
        F.to_json(F.col("ord")).alias("ord_json"),
    )


# ---------------------------------------------------------------------------
# weighted percentile
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_percentile",
    """
    WITH o AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             l_quantity AS wt,
             sum(l_quantity) OVER (PARTITION BY l_returnflag
                                   ORDER BY l_extendedprice, l_orderkey,
                                            l_linenumber) AS cum_wt,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot_wt
      FROM lineitem),
    hit AS (
      SELECT flag, price,
             row_number() OVER (PARTITION BY flag
                                ORDER BY cum_wt, price) AS rn
      FROM o WHERE cum_wt >= 0.5 * tot_wt)
    SELECT flag AS l_returnflag,
           round(price, 2) AS weighted_median_price
    FROM hit WHERE rn = 1
    """,
)
def agg_weighted_percentile(spark, sf_dir):
    """Exact weighted median: the smallest value whose cumulative weight
    reaches half the group's total (weight = quantity, so this is the
    median PRICE PER UNIT SHIPPED, not per line item) — the estimator
    quantity-weighted SLAs and cost models need, which plain
    percentile() cannot express.

    Plan: one shuffle on the group key; the running weight, the total,
    and the threshold probe all share that partitioning (two Window
    nodes, one Exchange+Sort).  The generalization to any q is the same
    plan with 0.5 swapped; Spark 4's percentile(col, q, weight)
    three-argument form is the built-in fast path when interpolation
    semantics are acceptable."""
    li = t(spark, sf_dir, "lineitem")
    w_cum = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    w_tot = Window.partitionBy("l_returnflag")
    o = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
        F.sum("l_quantity").over(w_cum).alias("cum_wt"),
        F.sum("l_quantity").over(w_tot).alias("tot_wt"),
    )
    w_hit = Window.partitionBy("flag").orderBy("cum_wt", "price")
    return (
        o.filter(F.col("cum_wt") >= 0.5 * F.col("tot_wt"))
        .withColumn("rn", F.row_number().over(w_hit))
        .filter(F.col("rn") == 1)
        .select("flag", F.round("price", 2).alias("weighted_median_price"))
        .select(
            F.col("flag").alias("l_returnflag"), "weighted_median_price"
        )
    )


# ---------------------------------------------------------------------------
# diversity-aware selection (MMR)
# ---------------------------------------------------------------------------

_SQL_COS = (
    f"({_SQL_DOT.format(a='{a}', b='{b}')}"
    f" / (sqrt({_SQL_DOT.format(a='{a}', b='{a}')})"
    f" * sqrt({_SQL_DOT.format(a='{b}', b='{b}')})))"
)


@query(
    "sim_mmr_select",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT e.vec_id, e.embedding,
             {_SQL_COS.format(a='e.embedding', b='q.qv')} AS rel
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT 12),
    s1 AS (SELECT vec_id, embedding, rel, 0.7 * rel AS mmr FROM cand
           ORDER BY mmr DESC, vec_id LIMIT 1),
    r2 AS (SELECT c.vec_id, c.embedding, c.rel,
                  0.7 * c.rel
                  - 0.3 * {_SQL_COS.format(a='c.embedding', b='s1.embedding')} AS mmr
           FROM cand c, s1 WHERE c.vec_id <> s1.vec_id),
    s2 AS (SELECT vec_id, embedding, rel, mmr FROM r2
           ORDER BY mmr DESC, vec_id LIMIT 1),
    r3 AS (SELECT c.vec_id, c.embedding, c.rel,
                  0.7 * c.rel - 0.3 * greatest(
                    {_SQL_COS.format(a='c.embedding', b='s1.embedding')},
                    {_SQL_COS.format(a='c.embedding', b='s2.embedding')}) AS mmr
           FROM cand c, s1, s2
           WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id)),
    s3 AS (SELECT vec_id, embedding, rel, mmr FROM r3
           ORDER BY mmr DESC, vec_id LIMIT 1),
    r4 AS (SELECT c.vec_id, c.embedding, c.rel,
                  0.7 * c.rel - 0.3 * greatest(
                    {_SQL_COS.format(a='c.embedding', b='s1.embedding')},
                    {_SQL_COS.format(a='c.embedding', b='s2.embedding')},
                    {_SQL_COS.format(a='c.embedding', b='s3.embedding')}) AS mmr
           FROM cand c, s1, s2, s3
           WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)),
    s4 AS (SELECT vec_id, embedding, rel, mmr FROM r4
           ORDER BY mmr DESC, vec_id LIMIT 1)
    SELECT 1 AS sel_rank, vec_id, round(rel, 4) AS rel_score,
           round(mmr, 4) AS mmr_score FROM s1
    UNION ALL SELECT 2, vec_id, round(rel, 4), round(mmr, 4) FROM s2
    UNION ALL SELECT 3, vec_id, round(rel, 4), round(mmr, 4) FROM s3
    UNION ALL SELECT 4, vec_id, round(rel, 4), round(mmr, 4) FROM s4
    """,
)
def sim_mmr_select(spark, sf_dir):
    """Maximal-marginal-relevance selection: from the query's top-12
    candidates, greedily pick 4 that balance relevance against
    redundancy (score = 0.7*rel - 0.3*max-sim-to-already-picked) — the
    diversity-aware sampling step of corpus curation and RAG context
    packing, where plain top-k returns four near-copies.

    Plan: the candidate generation is the distributed stage (exact
    cosine vs a broadcast query vector, TakeOrdered top-12 — at 100 TB
    this is the ANN stage, and it is where the data-sized work ends);
    each greedy round is then an argmax reduction over the candidate
    table with the selected prefix as literal vectors — the same
    collect-tiny-model-state seam as sim_kmeans_lloyd (k rounds collect
    k vectors, never data).  The k=4 selection sequence is returned as
    plan-time literals re-verified by the oracle's unrolled CTEs with
    identical fold arithmetic."""
    lam = 0.7
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            S.cosine(F.col("embedding"), F.lit(qv)).alias("rel"),
        )
        .orderBy(F.desc("rel"), "vec_id")
        .limit(12)
    )
    cand = cand.persist()
    try:
        picked: list[tuple[int, float, float]] = []  # (vec_id, rel, mmr)
        sel_vecs: list[list[float]] = []
        for _rank in range(4):
            if sel_vecs:
                sims = [
                    S.cosine(F.col("embedding"), F.lit(v)) for v in sel_vecs
                ]
                div = sims[0] if len(sims) == 1 else F.greatest(*sims)
                mmr = F.lit(lam) * F.col("rel") - F.lit(1 - lam) * div
            else:
                mmr = F.lit(lam) * F.col("rel")
            top = (
                cand.filter(
                    ~F.col("vec_id").isin([p[0] for p in picked])
                    if picked
                    else F.lit(True)
                )
                .select("vec_id", "embedding", "rel", mmr.alias("mmr"))
                .orderBy(F.desc("mmr"), "vec_id")
                .limit(1)
                .collect()[0]
            )
            picked.append((int(top["vec_id"]), float(top["rel"]), float(top["mmr"])))
            sel_vecs.append([float(x) for x in top["embedding"]])
    finally:
        cand.unpersist()
    rows = [
        (i + 1, vid, round(rel, 4), round(mmr, 4))
        for i, (vid, rel, mmr) in enumerate(picked)
    ]
    return spark.createDataFrame(
        rows, "sel_rank int, vec_id bigint, rel_score double, mmr_score double"
    )


# ---------------------------------------------------------------------------
# bitmap set operations (exact audience overlap)
# ---------------------------------------------------------------------------


@query(
    "agg_bitmap_set_ops",
    """
    WITH wa AS (
      SELECT user_id // 32 AS word,
             bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
      FROM events WHERE event_type = 'click' GROUP BY word),
    wb AS (
      SELECT user_id // 32 AS word,
             bit_or(1::BIGINT << CAST(user_id % 32 AS INTEGER)) AS bits
      FROM events WHERE event_type = 'purchase' GROUP BY word),
    j AS (
      SELECT coalesce(wa.word, wb.word) AS word,
             coalesce(wa.bits, 0) AS ba,
             coalesce(wb.bits, 0) AS bb
      FROM wa FULL OUTER JOIN wb ON wa.word = wb.word)
    SELECT CAST(sum(bit_count(ba)) AS BIGINT) AS n_a,
           CAST(sum(bit_count(bb)) AS BIGINT) AS n_b,
           CAST(sum(bit_count(ba | bb)) AS BIGINT) AS n_union,
           CAST(sum(bit_count(ba & bb)) AS BIGINT) AS n_intersect
    FROM j
    """,
)
def agg_bitmap_set_ops(spark, sf_dir):
    """EXACT set algebra on bitmap state — the companion of
    agg_hll_set_ops with the error bars removed: per-segment word tables
    (32 users per long, as in agg_bitmap_distinct) joined word-to-word,
    union = OR, intersection = AND, cardinalities = popcount sums.
    Audience overlap answered exactly without ever shuffling raw ids —
    only word tables (32x smaller, pre-reduced map-side) move.

    Plan: two filtered scans (filters pushed) -> two word aggs sharing
    the word partitioning -> one full outer join on word, already
    co-partitioned, -> scalar popcount rollup.  The word tables are the
    materializable per-segment state: N segments need N single-scan word
    tables, and every pairwise overlap is a word-join over those."""
    e = t(spark, sf_dir, "events")

    def words(et):
        return (
            e.filter(F.col("event_type") == et)
            .groupBy(F.expr("user_id div 32").alias("word"))
            .agg(
                F.bit_or(
                    F.expr("shiftleft(cast(1 as bigint), cast(user_id % 32 as int))")
                ).alias("bits")
            )
        )

    wa, wb = words("click").alias("wa"), words("purchase").alias("wb")
    j = wa.join(wb, F.col("wa.word") == F.col("wb.word"), "full_outer").select(
        F.coalesce(F.col("wa.bits"), F.lit(0)).alias("ba"),
        F.coalesce(F.col("wb.bits"), F.lit(0)).alias("bb"),
    )
    return j.agg(
        F.sum(F.bit_count("ba")).cast("long").alias("n_a"),
        F.sum(F.bit_count("bb")).cast("long").alias("n_b"),
        F.sum(F.bit_count(F.col("ba").bitwiseOR(F.col("bb"))))
        .cast("long")
        .alias("n_union"),
        F.sum(F.bit_count(F.col("ba").bitwiseAND(F.col("bb"))))
        .cast("long")
        .alias("n_intersect"),
    )


# ---------------------------------------------------------------------------
# robust (MAD) outlier detection
# ---------------------------------------------------------------------------


@query(
    "audit_robust_outliers",
    """
    WITH med AS (
      SELECT event_type, median(value) AS med
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, med.med,
             median(abs(e.value - med.med)) AS mad
      FROM events e JOIN med ON e.event_type = med.event_type
      GROUP BY e.event_type, med.med)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_outliers,
           round(min(e.value), 4) AS min_outlier_value,
           round(any_value(mad.med), 4) AS med,
           round(any_value(mad.mad), 4) AS mad
    FROM events e JOIN mad ON e.event_type = mad.event_type
    WHERE abs(e.value - mad.med) > 3 * 1.4826 * mad.mad
    GROUP BY e.event_type
    """,
)
def audit_robust_outliers(spark, sf_dir):
    """Robust outlier detection via median absolute deviation: flag
    |x - median| > 3 * 1.4826 * MAD per group — the estimator that keeps
    working when the outliers themselves corrupt mean and stddev (the
    z-score of audit_value_outliers breaks down at >5% contamination;
    MAD has a 50% breakdown point).  1.4826 rescales MAD to sigma-units
    under normality.

    Plan: two exact-median passes (group medians, then deviation
    medians) + one flagging pass, each a 5-key agg with the tiny
    median/MAD table broadcast back onto the scan — the fact table is
    scanned three times but never shuffled.  At 100 TB swap
    approx_percentile into the two median passes for one-pass behavior;
    the flagging pass is unchanged."""
    e = t(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    mad = (
        e.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    flagged = e.join(F.broadcast(mad), "event_type").filter(
        F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    )
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_outliers"),
        F.round(F.min("value"), 4).alias("min_outlier_value"),
        F.round(F.any_value("med"), 4).alias("med"),
        F.round(F.any_value("mad"), 4).alias("mad"),
    )


# ---------------------------------------------------------------------------
# chunk-level dedup (chunking x dedup composition)
# ---------------------------------------------------------------------------


@query(
    "dedup_chunk_overlap",
    f"""
    WITH {SQL_CORPUS},
    d AS (
      SELECT doc_id, {SQL_TOKS.format(c="text")} AS toks FROM corpus),
    s AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(generate_series(1, len(toks), {_STRIDE})) AS start
      FROM d WHERE len(toks) >= 1),
    ch AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(toks, start,
                                            start + {_CHUNK} - 1), ' ')) AS h
      FROM s),
    dup AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) > 1),
    flag AS (
      SELECT c.doc_id,
             CASE WHEN dup.h IS NULL THEN 0 ELSE 1 END AS is_dup
      FROM ch c LEFT JOIN dup ON c.h = dup.h)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(is_dup) AS BIGINT) AS n_dup_chunks,
           round(avg(CAST(is_dup AS DOUBLE)), 4) AS dup_chunk_ratio
    FROM flag GROUP BY doc_id
    HAVING sum(is_dup) > 0
    """,
)
def dedup_chunk_overlap(spark, sf_dir):
    """Chunk-level duplication report — the composition of
    text_chunk_sliding with exact dedup, run over the doubled corpus:
    every doc's sliding chunks content-hashed, a chunk flagged
    duplicated when its hash appears in 2+ docs, docs reported with
    their duplicated-chunk ratio.  This is the Lee-et-al-style partial-
    overlap signal at chunk granularity: near-copies surface with ratio
    ~1 even when doc-level hashes differ (the perturbed copies here
    differ in their tails, exactly the case doc-hash dedup misses).

    Plan: chunk generation is scan-stage (explode after narrow
    projection); the duplicate-hash table is one shuffle keyed on the
    chunk hash with map-side countDistinct partials, and the flagging
    join reuses that hash partitioning (Exchange reuse, no second wide
    shuffle of chunks).  At 100 TB the hash-keyed chunk table IS the
    dedup index — the same exchange a written index would be."""
    from target_parquet_spark.queries_ext import _spark_corpus

    corpus = _spark_corpus(spark, sf_dir)
    d = corpus.select("doc_id", X.tokens(F.col("text")).alias("toks"))
    s = (
        d.withColumn("n", F.size("toks"))
        .filter(F.col("n") >= 1)
        .withColumn(
            "start", F.explode(F.sequence(F.lit(1), F.col("n"), F.lit(_STRIDE)))
        )
    )
    ch = s.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("start"), _CHUNK))).alias(
            "h"
        ),
    ).repartition(spark.sparkContext.defaultParallelism, "h")
    dup = ch.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd")
    ).filter(F.col("nd") > 1).select("h")
    flag = ch.join(dup.withColumn("is_dup", F.lit(1)), "h", "left").select(
        "doc_id", F.coalesce("is_dup", F.lit(0)).alias("is_dup")
    )
    return (
        flag.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum("is_dup").cast("long").alias("n_dup_chunks"),
            F.round(F.avg(F.col("is_dup").cast("double")), 4).alias(
                "dup_chunk_ratio"
            ),
        )
        .filter(F.col("n_dup_chunks") > 0)
    )


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------


@query(
    "audit_k_anonymity",
    """
    WITH g AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n
      FROM events GROUP BY event_type, day)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(count(*) FILTER (WHERE n < 5) AS BIGINT) AS n_violating,
           CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT)
             AS n_rows_at_risk,
           CAST(min(n) AS BIGINT) AS min_group_size,
           CAST(CASE WHEN min(n) >= 5 THEN 1 ELSE 0 END AS INTEGER)
             AS k5_satisfied
    FROM g
    """,
)
def audit_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier (event_type, day):
    group sizes, the count of groups below k=5, rows at re-identification
    risk, and a pass/fail flag — the release gate a training-data export
    runs before shipping event-derived features (groups smaller than k
    get suppressed or generalized to a coarser quasi-identifier).

    Plan: one map-combinable count shuffle on the quasi-identifier, then
    a scalar rollup of group sizes — the audit's cost is the
    cardinality of the quasi-identifier space, not the table.  At 100 TB
    the generalization ladder (hour -> day -> week) re-runs only the
    final rollup if the grain table is the day-level continuous
    aggregate."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    from target_parquet_spark.audits import k_anonymity_report

    return k_anonymity_report(g, "n", k=5)


# ---------------------------------------------------------------------------
# distribution drift (exact two-sample KS)
# ---------------------------------------------------------------------------


@query(
    "audit_ks_drift",
    f"""
    WITH x AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{_T1}' THEN 1 ELSE 0 END AS a
      FROM events),
    n AS (SELECT event_type,
                 CAST(sum(a) AS BIGINT) AS na,
                 CAST(sum(1 - a) AS BIGINT) AS nb
          FROM x GROUP BY event_type),
    v AS (SELECT event_type, value,
                 sum(a) AS ca, sum(1 - a) AS cb
          FROM x GROUP BY event_type, value),
    c AS (SELECT event_type, value,
                 sum(ca) OVER (PARTITION BY event_type ORDER BY value) AS cum_a,
                 sum(cb) OVER (PARTITION BY event_type ORDER BY value) AS cum_b
          FROM v)
    SELECT c.event_type,
           round(max(abs(CAST(cum_a AS DOUBLE) / n.na
                         - CAST(cum_b AS DOUBLE) / n.nb)), 4) AS ks_stat,
           n.na, n.nb
    FROM c JOIN n ON c.event_type = n.event_type
    GROUP BY c.event_type, n.na, n.nb
    """,
)
def audit_ks_drift(spark, sf_dir):
    """EXACT two-sample Kolmogorov-Smirnov statistic per event type,
    comparing the value distribution before vs after a cutover date —
    the distribution-drift monitor behind model-retrain triggers and
    pipeline regression alarms, computed relationally: collapse to
    per-value counts, running sums give both ECDFs at every jump point,
    KS = max gap.  Grouping by value BEFORE the window makes ties exact
    (the ECDF gap is evaluated after all equal values accumulate, the
    textbook definition).

    Plan: one count shuffle on (event_type, value), one window over the
    per-value table (distinct-value-sized, not row-sized), one 5-row
    max.  At 100 TB with continuous values, quantize `value` to the
    monitoring resolution first — same plan, bounded value table."""
    e = t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        "value",
        F.when(F.col("ts") < _T1, 1).otherwise(0).alias("a"),
    )
    n = x.groupBy("event_type").agg(
        F.sum("a").cast("long").alias("na"),
        F.sum(1 - F.col("a")).cast("long").alias("nb"),
    )
    v = x.groupBy("event_type", "value").agg(
        F.sum("a").alias("ca"), F.sum(1 - F.col("a")).alias("cb")
    )
    w = Window.partitionBy("event_type").orderBy("value")
    c = v.select(
        "event_type",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    return (
        c.join(F.broadcast(n), "event_type")
        .groupBy("event_type", "na", "nb")
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.col("cum_a").cast("double") / F.col("na")
                        - F.col("cum_b").cast("double") / F.col("nb")
                    )
                ),
                4,
            ).alias("ks_stat")
        )
        .select("event_type", "ks_stat", "na", "nb")
    )


# ---------------------------------------------------------------------------
# forward as-of join (time-to-next-event)
# ---------------------------------------------------------------------------


@query(
    "asof_join_forward",
    """
    SELECT c.event_id, c.user_id,
           round(epoch(p.ts) - epoch(c.ts), 3) AS secs_to_purchase
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def asof_join_forward(spark, sf_dir):
    """FORWARD as-of join: each click matched to the user's next purchase
    at-or-after it — the time-to-convert measurement, and the direction
    pd.merge_asof calls 'forward'.  Same union+window operator as the
    backward as-of (operators/asof.py), traversing each user's timeline
    descending; still exactly one shuffle on the key.  Oracle: DuckDB's
    native ASOF JOIN with the inequality flipped."""
    from target_parquet_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round(
            F.col("ts_right").cast("double") - F.col("ts").cast("double"), 3
        ).alias("secs_to_purchase"),
    )


# ---------------------------------------------------------------------------
# distribution drift (binned PSI)
# ---------------------------------------------------------------------------


@query(
    "audit_psi_drift",
    f"""
    WITH x AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '{_T1}' THEN 1 ELSE 0 END AS a
      FROM events),
    rng AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM x GROUP BY event_type),
    b AS (
      SELECT x.event_type,
             least(9, greatest(0, CAST(floor((x.value - rng.lo)
                    / nullif(rng.hi - rng.lo, 0) * 10) AS INTEGER))) AS bin,
             x.a
      FROM x JOIN rng ON x.event_type = rng.event_type),
    c AS (
      SELECT event_type, bin,
             sum(a) AS ca, sum(1 - a) AS cb
      FROM b GROUP BY event_type, bin),
    n AS (SELECT event_type, sum(ca) AS na, sum(cb) AS nb
          FROM c GROUP BY event_type),
    p AS (
      SELECT c.event_type, c.bin,
             (c.ca + 0.5) / (n.na + 5.0) AS pa,
             (c.cb + 0.5) / (n.nb + 5.0) AS pb
      FROM c JOIN n ON c.event_type = n.event_type)
    SELECT event_type,
           round(sum((pa - pb) * ln(pa / pb)), 6) AS psi,
           CAST(count(*) AS BIGINT) AS n_bins
    FROM p GROUP BY event_type
    """,
)
def audit_psi_drift(spark, sf_dir):
    """Population stability index — the binned, magnitude-weighted drift
    companion of audit_ks_drift (KS finds the worst ECDF gap; PSI sums
    shift across all 10 equal-width bins; industry rule of thumb:
    <0.1 stable, >0.25 retrain).  Laplace-smoothed bin shares (+0.5 per
    bin) keep empty bins finite in both engines identically.

    Plan: one min/max pass per group (footer-stats cheap), one binned
    count shuffle on (event_type, bin) — 50 keys — then scalar algebra
    on the bin table.  The bin edges are data-derived but broadcast
    back; at 100 TB pin the edges from the BASELINE period instead so
    monitoring windows stay comparable across runs."""
    e = t(spark, sf_dir, "events")
    x = e.select(
        "event_type",
        "value",
        F.when(F.col("ts") < _T1, 1).otherwise(0).alias("a"),
    )
    rng = x.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    b = x.join(F.broadcast(rng), "event_type").select(
        "event_type",
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
                    * 10
                ).cast("int"),
            ),
        ).alias("bin"),
        "a",
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum("a").alias("ca"), F.sum(1 - F.col("a")).alias("cb")
    )
    n = c.groupBy("event_type").agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    p = c.join(F.broadcast(n), "event_type").select(
        "event_type",
        ((F.col("ca") + 0.5) / (F.col("na") + 5.0)).alias("pa"),
        ((F.col("cb") + 0.5) / (F.col("nb") + 5.0)).alias("pb"),
    )
    return p.groupBy("event_type").agg(
        F.round(
            F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))),
            6,
        ).alias("psi"),
        F.count(F.lit(1)).cast("long").alias("n_bins"),
    )


# ---------------------------------------------------------------------------
# lang-id evaluation (confusion matrix) + top event paths
# ---------------------------------------------------------------------------


def _lang_confusion_sql() -> str:
    # assembled at import: the scoring macros live in queries_ext and
    # contain braces-free SQL, but keeping them out of this module's
    # f-strings avoids any brace-escaping fragility
    from target_parquet_spark.queries_ext import (
        _LANG_BEST,
        _LANG_CASE,
        _LANG_SCORES,
    )

    toks = SQL_TOKS.format(c="text")
    return (
        "WITH d AS (SELECT lang, " + toks + " AS toks FROM documents),\n"
        "s AS (SELECT lang, " + _LANG_SCORES + " FROM d),\n"
        "b AS (SELECT lang, " + _LANG_BEST + " AS best, s.* EXCLUDE (lang) FROM s)\n"
        "SELECT lang AS lang_true,\n"
        "       " + _LANG_CASE + " AS lang_pred,\n"
        "       CAST(count(*) AS BIGINT) AS n_docs\n"
        "FROM b GROUP BY lang_true, lang_pred"
    )


@query("text_lang_id_confusion", None)
def text_lang_id_confusion(spark, sf_dir):
    """Lang-id EVALUATION: the marker-stopword classifier's confusion
    matrix against the labeled lang column — (true, predicted, count)
    cells.  The harness that turns text_lang_id from a transform into a
    measured model: per-language recall and the specific confusion
    pairs fall straight out of these cells.

    Plan: scoring is the same zero-Python scan-stage expression as
    text_lang_id; the only shuffle is the <=36-cell matrix agg."""
    d = td(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("lang_true"),
            X.lang_id(F.col("text")).alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


from target_parquet_spark.queries import ORACLES as _ORACLES  # noqa: E402

_ORACLES["text_lang_id_confusion"] = _lang_confusion_sql()


@query(
    "events_top_paths",
    """
    WITH o AS (
      SELECT user_id, event_type,
             lag(event_type, 2) OVER w AS p2,
             lag(event_type, 1) OVER w AS p1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    tri AS (
      SELECT p2 || '>' || p1 || '>' || event_type AS path, count(*) AS n
      FROM o WHERE p2 IS NOT NULL GROUP BY path)
    SELECT path, CAST(n AS BIGINT) AS n
    FROM tri ORDER BY n DESC, path LIMIT 15
    """,
)
def events_top_paths(spark, sf_dir):
    """Top user journeys: the 15 most frequent 3-step event paths — the
    path-analysis staple behind funnel discovery (events_funnel_*
    assumes a funnel; this FINDS candidate funnels).

    Plan: two lags share one user_id window sort; trigram counting is a
    125-key agg with map-side partials; the top-15 is
    TakeOrderedAndProject over that tiny table, never a global sort of
    events."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.select(
        "event_type",
        F.lag("event_type", 2).over(w).alias("p2"),
        F.lag("event_type", 1).over(w).alias("p1"),
    ).filter(F.col("p2").isNotNull())
    tri = o.groupBy(
        F.concat_ws(">", "p2", "p1", "event_type").alias("path")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    return tri.orderBy(F.desc("n"), "path").limit(15)


# ---------------------------------------------------------------------------
# seasonality profile
# ---------------------------------------------------------------------------


@query(
    "events_hourly_profile",
    """
    WITH h AS (
      SELECT event_type, CAST(extract(hour FROM ts) AS INTEGER) AS hour,
             count(*) AS n
      FROM events GROUP BY event_type, hour),
    hx AS (SELECT event_type, hour, n,
                  max(n) OVER (PARTITION BY event_type) AS mx,
                  sum(n) OVER (PARTITION BY event_type) AS tot
           FROM h)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_active_hours,
           CAST(min(CASE WHEN n = mx THEN hour END) AS INTEGER) AS peak_hour,
           round(CAST(max(n) AS DOUBLE) / max(tot), 4) AS peak_share,
           round(CAST(max(tot) AS DOUBLE) / 24.0, 4) AS avg_per_hour
    FROM hx GROUP BY event_type
    """,
)
def events_hourly_profile(spark, sf_dir):
    """Hour-of-day seasonality profile per event type: active hours, the
    peak hour (deterministic min tie-break), its traffic share, and the
    flat-rate baseline — the capacity-planning / anomaly-baseline shape
    (a peak_share far above 1/24 means bursty traffic that flat
    provisioning overpays for).

    Plan: one map-combinable count shuffle on (event_type, hour) — 120
    keys — then windows and the final rollup over that tiny table; the
    raw events are touched once."""
    e = t(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type")
    hx = h.withColumn("mx", F.max("n").over(w)).withColumn(
        "tot", F.sum("n").over(w)
    )
    return hx.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_active_hours"),
        F.min(F.when(F.col("n") == F.col("mx"), F.col("hour")))
        .cast("int")
        .alias("peak_hour"),
        F.round(F.max("n").cast("double") / F.max("tot"), 4).alias("peak_share"),
        F.round(F.max("tot").cast("double") / 24.0, 4).alias("avg_per_hour"),
    )


# ---------------------------------------------------------------------------
# ordered string aggregation + correlated LATERAL top-k
# ---------------------------------------------------------------------------


@query(
    "agg_ordered_string_agg",
    """
    WITH top3 AS (
      SELECT c_nationkey, c_name, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer)
    SELECT n.n_name,
           string_agg(t.c_name, ',' ORDER BY t.rn) AS top_customers,
           CAST(count(*) AS BIGINT) AS n_listed
    FROM top3 t JOIN nation n ON t.c_nationkey = n.n_nationkey
    WHERE t.rn <= 3
    GROUP BY n.n_name
    """,
)
def agg_ordered_string_agg(spark, sf_dir):
    """Ordered LISTAGG: each nation's top-3 customers by balance as one
    ordered CSV cell — the report-friendly aggregate SQL calls
    string_agg/listagg WITHIN GROUP.  Spark has no ordered string_agg;
    the deterministic equivalent is collect_list of (rank, name) structs,
    array_sort (ranks are unique so the struct order is total), then
    join — same one window + one agg shuffle as the SQL.

    Plan: rank window on c_nationkey, rn<=3 filter collapses the input
    to 3 rows per nation BEFORE the string agg; the nation join is
    broadcast."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), "c_custkey"
    )
    top3 = (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("c_nationkey", "c_name", "rn")
    )
    agg = top3.groupBy("c_nationkey").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "c_name"))),
                lambda s: s["c_name"],
            ),
        ).alias("top_customers"),
        F.count(F.lit(1)).cast("long").alias("n_listed"),
    )
    return agg.join(
        F.broadcast(n), agg.c_nationkey == n.n_nationkey
    ).select("n_name", "top_customers", "n_listed")


@query(
    "sql_lateral_topk",
    """
    SELECT n.n_name, s.s_name, s.s_acctbal
    FROM nation n,
         LATERAL (SELECT s_name, round(s_acctbal, 2) AS s_acctbal
                  FROM supplier
                  WHERE s_nationkey = n.n_nationkey
                  ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) s
    """,
)
def sql_lateral_topk(spark, sf_dir):
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT — the
    SQL spelling of top-k-per-group.  Catalyst decorrelates this into
    the same ranked-window plan the DataFrame version writes by hand
    (window_topk_per_group); having both proves the SQL surface, not
    just the operator.  Identical SQL text runs on both engines."""
    for name in ("nation", "supplier"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT n.n_name, s.s_name, s.s_acctbal
        FROM nation n,
             LATERAL (SELECT s_name, round(s_acctbal, 2) AS s_acctbal
                      FROM supplier
                      WHERE s_nationkey = n.n_nationkey
                      ORDER BY s_acctbal DESC, s_suppkey LIMIT 2) s
        """
    )


# ---------------------------------------------------------------------------
# multi-touch attribution
# ---------------------------------------------------------------------------


@query(
    "events_multitouch_attribution",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    touch AS (
      SELECT p.purchase_id, p.value, c.click_id,
             count(*) OVER (PARTITION BY p.purchase_id) AS n_touches
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 24 HOUR),
    credit AS (
      SELECT click_id, value / n_touches AS cr FROM touch)
    SELECT CAST(count(DISTINCT click_id) AS BIGINT) AS n_credited_clicks,
           round(sum(cr), 2) AS attributed_value,
           round(max(cr), 4) AS max_single_credit
    FROM credit
    """,
)
def events_multitouch_attribution(spark, sf_dir):
    """Linear multi-touch attribution: each purchase's value split
    equally across the user's clicks in the preceding 24 hours — the
    marketing-measurement shape between last-touch (asof_join_events)
    and first-touch.  The attribution window is the same banded
    interval join as events_interval_join, so the plan is one key
    shuffle + residual band filter; the per-purchase touch count is a
    window over the join output partitioned by the purchase (no second
    self-join).

    The corpus-level report (credited clicks, total attributed value —
    which conservation says equals the value of multi-touch-reachable
    purchases — and the largest single credit) is what an attribution
    dashboard headlines."""
    e = t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    touch = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    ).select("purchase_id", "value", "click_id")
    w = Window.partitionBy("purchase_id")
    credit = touch.withColumn("n_touches", F.count(F.lit(1)).over(w)).select(
        "click_id", (F.col("value") / F.col("n_touches")).alias("cr")
    )
    return credit.agg(
        F.countDistinct("click_id").cast("long").alias("n_credited_clicks"),
        F.round(F.sum("cr"), 2).alias("attributed_value"),
        F.round(F.max("cr"), 4).alias("max_single_credit"),
    )


# ---------------------------------------------------------------------------
# normalized exact dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_normalized",
    """
    WITH corpus2 AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000, upper(text) FROM documents),
    h AS (
      SELECT doc_id,
             md5(text) AS h_raw,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h_norm
      FROM corpus2),
    raw_g AS (SELECT h_raw FROM h GROUP BY h_raw HAVING count(*) > 1),
    norm_g AS (SELECT h_norm FROM h GROUP BY h_norm HAVING count(*) > 1)
    SELECT CAST((SELECT count(*) FROM h) AS BIGINT) AS n_docs,
           CAST((SELECT count(*) FROM raw_g) AS BIGINT) AS n_raw_dup_groups,
           CAST((SELECT count(*) FROM norm_g) AS BIGINT) AS n_norm_dup_groups
    """,
)
def dedup_exact_normalized(spark, sf_dir):
    """Normalization-aware exact dedup vs raw content hashing, over a
    corpus doubled with case-perturbed copies: the raw md5 sees almost
    no duplicates (only case-invariant texts collide), the normalized
    hash (lowercase, trim, whitespace collapse) recovers every planted
    pair — the canonicalization step that production exact-dedup runs
    before hashing, measured as a side-by-side group count.

    Plan: both hashes are computed in the same scan-stage projection
    (one pass over the corpus); each group count is a hash-keyed
    map-combinable agg.  At 100 TB the normalized hash IS the dedup
    key — raw bytes never shuffle, only 16-byte digests."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    corpus2 = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.upper("text").alias("text"),
        )
    )
    h = corpus2.select(
        F.md5("text").alias("h_raw"),
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("h_norm"),
    )
    # n_docs folds into the raw-hash grouping (r11, guide §1.2): every
    # row lands in exactly one h_raw group, so sum(count) == count(*)
    # and the corpus pipeline runs TWICE (raw + normalized groupings)
    # instead of three times.  A mat() of h was also tried: wash across
    # three A/B windows (-10/+1/-5%) — a corpus-sized cut with no clear
    # win stays out per lineage.py's posture.
    # coalesce: sum over no groups is NULL, the oracle's count(*) is 0
    raw_stats = h.groupBy("h_raw").count().agg(
        F.coalesce(F.sum("count"), F.lit(0)).cast("long").alias("n_docs"),
        F.count_if(F.col("count") > 1).cast("long").alias("n_raw_dup_groups"),
    )
    norm_g = h.groupBy("h_norm").count().filter(F.col("count") > 1)
    return raw_stats.crossJoin(
        norm_g.agg(F.count(F.lit(1)).cast("long").alias("n_norm_dup_groups"))
    )


# ---------------------------------------------------------------------------
# conversion latency distribution + Benford audit
# ---------------------------------------------------------------------------


@query(
    "events_conversion_latency",
    """
    WITH j AS (
      SELECT c.event_id,
             epoch(p.ts) - epoch(c.ts) AS secs
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND c.ts <= p.ts)
    SELECT CAST(count(*) AS BIGINT) AS n_clicks,
           CAST(count(secs) AS BIGINT) AS n_converted,
           round(CAST(count(secs) AS DOUBLE) / count(*), 4) AS conversion_rate,
           round(median(secs), 3) AS p50_secs,
           round(quantile_cont(secs, 0.9), 3) AS p90_secs
    FROM j
    """,
)
def events_conversion_latency(spark, sf_dir):
    """Conversion-latency distribution: click -> next-purchase seconds
    (the forward as-of join) summarized to conversion rate and exact
    p50/p90 latency — the product-analytics headline the forward as-of
    exists to feed.

    Plan: one union+window as-of shuffle on user_id, then a scalar
    percentile aggregate over matched pairs."""
    from target_parquet_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    j = asof_join(
        clicks, purchases, on="user_id", left_ts="ts", right_ts="ts",
        direction="forward",
    ).select(
        (F.col("ts_right").cast("double") - F.col("ts").cast("double")).alias(
            "secs"
        )
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.count("secs").cast("long").alias("n_converted"),
        F.round(F.count("secs").cast("double") / F.count(F.lit(1)), 4).alias(
            "conversion_rate"
        ),
        F.round(F.expr("percentile(secs, 0.5)"), 3).alias("p50_secs"),
        F.round(F.expr("percentile(secs, 0.9)"), 3).alias("p90_secs"),
    )


@query(
    "audit_benford_digits",
    """
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INTEGER) AS lead_digit
      FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT lead_digit, count(*) AS n FROM d GROUP BY lead_digit),
    tot AS (SELECT sum(n) AS t FROM c)
    SELECT c.lead_digit,
           CAST(c.n AS BIGINT) AS n,
           round(CAST(c.n AS DOUBLE) / tot.t, 4) AS observed_p,
           round(log10(1.0 + 1.0 / c.lead_digit), 4) AS benford_p,
           round(abs(CAST(c.n AS DOUBLE) / tot.t
                     - log10(1.0 + 1.0 / c.lead_digit)), 4) AS abs_dev
    FROM c, tot
    """,
)
def audit_benford_digits(spark, sf_dir):
    """Benford's-law audit: observed lead-digit shares of order totals
    against log10(1 + 1/d) — the forensic-accounting screen for
    fabricated or truncated numeric columns (synthetic uniform-ish data
    deviates strongly, which is itself the signal here: the report
    SHOWS the data is synthetic).

    Plan: lead digit is a scan-stage string expression, the shares a
    9-key agg — one pass, bytes moved."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    d = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("lead_digit")
    )
    c = d.groupBy("lead_digit").agg(F.count(F.lit(1)).alias("n"))
    tot = c.agg(F.sum("n").alias("t"))
    benford = F.round(F.log10(1.0 + 1.0 / F.col("lead_digit")), 4)
    return c.crossJoin(F.broadcast(tot)).select(
        "lead_digit",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("t"), 4).alias("observed_p"),
        benford.alias("benford_p"),
        F.round(
            F.abs(
                F.col("n").cast("double") / F.col("t")
                - F.log10(1.0 + 1.0 / F.col("lead_digit"))
            ),
            4,
        ).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# 2-D histogram + token co-occurrence PMI
# ---------------------------------------------------------------------------


@query(
    "agg_histogram2d",
    """
    WITH rng AS (
      SELECT min(value) AS lo, max(value) AS hi FROM events),
    b AS (
      SELECT CAST(extract(hour FROM ts) AS INTEGER) AS hour,
             least(7, greatest(0, CAST(floor((value - rng.lo)
                    / nullif(rng.hi - rng.lo, 0) * 8) AS INTEGER))) AS vbin
      FROM events, rng)
    SELECT hour, vbin, CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY hour, vbin
    """,
)
def agg_histogram2d(spark, sf_dir):
    """2-D density grid (hour-of-day x value octile bins) — the heatmap
    behind load/value seasonality dashboards and the joint-distribution
    input to anomaly baselines.  Value edges are data-derived global
    min/max broadcast back onto the scan; at scale pin them from the
    baseline period (same note as audit_psi_drift).

    Plan: one scalar min/max pass, then ONE map-combinable count
    shuffle on the (hour, vbin) grid — at most 24x8 = 192 keys no
    matter the row count."""
    e = t(spark, sf_dir, "events")
    rng = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = e.crossJoin(F.broadcast(rng)).select(
        F.hour("ts").cast("int").alias("hour"),
        F.least(
            F.lit(7),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.col("value") - F.col("lo"))
                    / F.nullif(F.col("hi") - F.col("lo"), F.lit(0))
                    * 8
                ).cast("int"),
            ),
        ).alias("vbin"),
    )
    return b.groupBy("hour", "vbin").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@query(
    "text_cooccurrence_pmi",
    f"""
    WITH d AS (
      SELECT doc_id, list_distinct({SQL_TOKS.format(c="text")}) AS toks
      FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS tk FROM d),
    vocab AS (SELECT tk, count(*) AS df FROM tok GROUP BY tk
              HAVING count(*) >= 25),
    vt AS (SELECT t.doc_id, t.tk, v.df FROM tok t
           JOIN vocab v ON t.tk = v.tk),
    pair AS (
      SELECT a.tk AS tk_a, b.tk AS tk_b, count(*) AS n_ab
      FROM vt a JOIN vt b
        ON a.doc_id = b.doc_id AND a.tk < b.tk
      GROUP BY a.tk, b.tk HAVING count(*) >= 10),
    nd AS (SELECT count(*) AS n_docs FROM documents)
    SELECT p.tk_a, p.tk_b, CAST(p.n_ab AS BIGINT) AS n_ab,
           round(log10((CAST(p.n_ab AS DOUBLE) * nd.n_docs)
                       / (CAST(va.df AS DOUBLE) * vb.df)), 4) AS pmi
    FROM pair p
    JOIN vocab va ON p.tk_a = va.tk
    JOIN vocab vb ON p.tk_b = vb.tk
    CROSS JOIN nd
    """,
)
def text_cooccurrence_pmi(spark, sf_dir):
    """Document-level token co-occurrence with pointwise mutual
    information — the collocation/phrase-mining signal (PMI >> 0 means
    the pair travels together far more than chance).  Restricted to the
    min-df vocabulary and min-support pairs so the pair space stays
    tractable — exactly the pruning a 100 TB run needs, where the full
    token-pair cross product is the classic blowup.

    Plan: distinct tokens per doc (dedup inside the scan stage), vocab
    df filter broadcasts back, and the pair generation is a self-join
    keyed on doc_id — co-partitioned, with the a.tk < b.tk predicate
    halving the output; PMI is scalar algebra over the pair table plus
    two broadcast df lookups."""
    docs = td(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(X.tokens(F.col("text")))).alias("tk")
    )
    vocab = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") >= 25
    )
    vt = tok.join(F.broadcast(vocab), "tk").select("doc_id", "tk")
    a, b = vt.alias("a"), vt.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tk") < F.col("b.tk")),
        )
        .groupBy(F.col("a.tk").alias("tk_a"), F.col("b.tk").alias("tk_b"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    va = vocab.select(F.col("tk").alias("tk_a"), F.col("df").alias("df_a"))
    vb = vocab.select(F.col("tk").alias("tk_b"), F.col("df").alias("df_b"))
    return (
        pair.join(F.broadcast(va), "tk_a")
        .join(F.broadcast(vb), "tk_b")
        .crossJoin(F.broadcast(nd))
        .select(
            "tk_a",
            "tk_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log10(
                    (F.col("n_ab").cast("double") * F.col("n_docs"))
                    / (F.col("df_a").cast("double") * F.col("df_b"))
                ),
                4,
            ).alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# corpus datasheet (capstone report)
# ---------------------------------------------------------------------------


@query(
    "pipeline_corpus_datasheet",
    f"""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars, text,
             {SQL_TOKS.format(c="text")} AS toks
      FROM documents),
    m AS (
      SELECT count(*) AS n_docs,
             CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avg_doc_tokens,
             CAST(count(*) FILTER (WHERE lang = 'en') AS DOUBLE)
               / count(*) AS pct_en,
             median(n_chars) AS median_chars,
             count(*) - count(DISTINCT md5(text)) AS n_exact_dup_docs
      FROM d)
    SELECT metric, round(value, 4) AS value FROM (
      SELECT 'n_docs' AS metric, CAST(n_docs AS DOUBLE) AS value FROM m
      UNION ALL SELECT 'n_tokens', CAST(n_tokens AS DOUBLE) FROM m
      UNION ALL SELECT 'n_langs', CAST(n_langs AS DOUBLE) FROM m
      UNION ALL SELECT 'n_sources', CAST(n_sources AS DOUBLE) FROM m
      UNION ALL SELECT 'avg_doc_tokens', avg_doc_tokens FROM m
      UNION ALL SELECT 'pct_en', pct_en FROM m
      UNION ALL SELECT 'median_chars', CAST(median_chars AS DOUBLE) FROM m
      UNION ALL SELECT 'n_exact_dup_docs', CAST(n_exact_dup_docs AS DOUBLE) FROM m)
    """,
)
def pipeline_corpus_datasheet(spark, sf_dir):
    """Corpus datasheet: the one-screen summary a dataset release ships
    with — volume (docs, tokens), composition (languages, sources,
    English share), shape (tokens per doc, median length), and hygiene
    (exact-duplicate count) — as (metric, value) rows ready for
    dashboards or release notes.

    Plan: every metric folds in ONE aggregation over ONE scan (the
    distinct counts expand internally, everything else is
    map-combinable), then the 8-row unpivot is free.  This is the
    cheap always-on report; the deep numbers (near-dup ratio, quality,
    drift, contamination) come from the dedicated queries it links to."""
    d = td(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars", "text", X.tokens(F.col("text")).alias("toks")
    )
    m = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        (F.sum(F.size("toks")).cast("double") / F.count(F.lit(1))).alias(
            "avg_doc_tokens"
        ),
        (
            F.count(F.when(F.col("lang") == "en", 1)).cast("double")
            / F.count(F.lit(1))
        ).alias("pct_en"),
        F.expr("percentile(n_chars, 0.5)").alias("median_chars"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("text"))).alias(
            "n_exact_dup_docs"
        ),
    )
    rows = [
        ("n_docs", F.col("n_docs").cast("double")),
        ("n_tokens", F.col("n_tokens").cast("double")),
        ("n_langs", F.col("n_langs").cast("double")),
        ("n_sources", F.col("n_sources").cast("double")),
        ("avg_doc_tokens", F.col("avg_doc_tokens")),
        ("pct_en", F.col("pct_en")),
        ("median_chars", F.col("median_chars").cast("double")),
        ("n_exact_dup_docs", F.col("n_exact_dup_docs").cast("double")),
    ]
    out = None
    for name, col in rows:
        part = m.select(F.lit(name).alias("metric"), F.round(col, 4).alias("value"))
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# portable higher moments + bitwise scalar family
# ---------------------------------------------------------------------------


@query(
    "agg_higher_moments",
    """
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             sum(value) AS s1,
             sum(value * value) AS s2,
             sum(value * value * value) AS s3
      FROM events GROUP BY event_type),
    m AS (
      SELECT event_type, n,
             s1 / n AS mean,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3
      FROM s)
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           round(mean, 4) AS mean,
           round(sqrt(m2), 4) AS pop_stddev,
           round(m3 / (m2 * sqrt(m2)), 4) AS pop_skewness
    FROM m
    """,
)
def agg_higher_moments(spark, sf_dir):
    """Population skewness from explicit power sums — NOT the built-in
    skewness(): Spark's builtin is the population form, DuckDB's the
    sample form, so an oracle over the builtins can never hash-match.
    Deriving mean/variance/skewness from (n, sum x, sum x^2, sum x^3)
    is engine-portable AND the mergeable-state form: the power sums are
    map-side-combinable and day-partials merge by addition, same
    property as the rollup / bitmap / HLL state tables.

    Plan: one map-combinable shuffle on event_type carrying four doubles
    per group; the moment algebra is scalar post-processing.  (Numeric
    caveat at scale: raw power sums cancel catastrophically when
    |mean| >> stddev — center on an approximate mean first, same plan.)"""
    e = t(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
        F.sum(F.col("value") * F.col("value") * F.col("value")).alias("s3"),
    )
    mean = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean * mean
    m3 = (
        F.col("s3") / F.col("n")
        - 3 * mean * (F.col("s2") / F.col("n"))
        + 2 * mean * mean * mean
    )
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(mean, 4).alias("mean"),
        F.round(F.sqrt(m2), 4).alias("pop_stddev"),
        F.round(m3 / (m2 * F.sqrt(m2)), 4).alias("pop_skewness"),
    )


@query(
    "scalar_bitwise_funcs",
    """
    SELECT o_orderkey,
           CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
           CAST(o_orderkey | 15 AS BIGINT) AS or_mask,
           CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS key_xor,
           CAST(o_orderkey >> 4 AS BIGINT) AS shifted,
           CAST(bit_count(o_orderkey) AS INTEGER) AS popcount
    FROM orders WHERE o_orderkey % 101 = 0
    """,
)
def scalar_bitwise_funcs(spark, sf_dir):
    """Bitwise scalar surface: AND/OR/XOR/shift/popcount as pure
    projections — the primitives the bitmap-distinct and hash-sketch
    operators build on, pinned here as standalone scalar coverage.
    Scan-stage only; the filter prunes at the parquet footer."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 101 == 0)
    k, c = F.col("o_orderkey"), F.col("o_custkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).cast("long").alias("low_byte"),
        k.bitwiseOR(F.lit(15)).cast("long").alias("or_mask"),
        k.bitwiseXOR(c).cast("long").alias("key_xor"),
        F.shiftright(k, 4).cast("long").alias("shifted"),
        F.bit_count(k).cast("int").alias("popcount"),
    )


# ---------------------------------------------------------------------------
# product quantization ANN (ADC)
# ---------------------------------------------------------------------------

_SQL_L2SQ = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    " * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
)


@query(
    "sim_pq_ann",
    f"""
    WITH cb AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                WHERE vec_id < 16),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    js AS (SELECT unnest(range(1, 9)) AS j),
    enc AS (
      SELECT e.vec_id, js.j, cb.cid,
             {_SQL_L2SQ.format(
                 a="list_slice(e.embedding, (js.j - 1) * 8 + 1, js.j * 8)",
                 b="list_slice(cb.cv, (js.j - 1) * 8 + 1, js.j * 8)")} AS dist
      FROM embeddings e, js, cb),
    code AS (
      SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY dist, cid) AS rn
        FROM enc) WHERE rn = 1),
    qt AS (
      SELECT js.j, cb.cid,
             {_SQL_L2SQ.format(
                 a="list_slice(q.qv, (js.j - 1) * 8 + 1, js.j * 8)",
                 b="list_slice(cb.cv, (js.j - 1) * 8 + 1, js.j * 8)")} AS t
      FROM q, js, cb),
    adc AS (
      SELECT c.vec_id, sum(qt.t) AS adc_dist
      FROM code c JOIN qt ON c.j = qt.j AND c.cid = qt.cid
      GROUP BY c.vec_id),
    topk AS (
      SELECT vec_id, adc_dist FROM (
        SELECT vec_id, adc_dist,
               row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
        FROM adc WHERE vec_id <> 0) WHERE rn <= 10)
    SELECT t.vec_id,
           round(t.adc_dist, 4) AS adc_dist,
           round({_SQL_L2SQ.format(a="e.embedding", b="q.qv")}, 4) AS exact_dist
    FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id CROSS JOIN q
    """,
)
def sim_pq_ann(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation —
    the canonical vector-compression search: 64-dim floats become 8
    sub-codes of 4 bits each (16 centroids per subspace, 256 bytes ->
    8 bytes per vector), and query distance is 8 table lookups summed
    instead of 64 multiplies.  Completes the quantization family (SQ8 =
    scalar, JL = projection, IVF = partition, PQ = codebook product).

    Plan: encoding is a per-row literal-codebook argmin (pure scan
    stage, zero joins — pq_code); the ADC lookup table is 8x16 python
    floats computed from the collected query vector with the same
    sequential fold the SQL oracle uses, so every double matches; the
    top-10 is a TakeOrdered over the ADC-scored rows; exact distances
    ride along to show the quantization error.  At 100 TB the 8-byte
    codes ARE the index — the float vectors stay in cold storage and
    only rerank candidates."""
    from target_parquet_spark.operators.similarity import (
        l2sq,
        pq_adc_table,
        pq_code,
        pq_codebook,
    )

    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = pq_codebook(emb, m=8, k=16, dim=64)
    qv = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    t_tab = pq_adc_table(qv, cb)
    adc = None
    for j in range(8):
        term = F.element_at(F.lit(t_tab[j]), pq_code(F.col("embedding"), cb, j) + 1)
        adc = term if adc is None else adc + term
    scored = emb.filter(F.col("vec_id") != 0).select(
        "vec_id", adc.alias("adc_dist"), "embedding"
    )
    topk = scored.orderBy("adc_dist", "vec_id").limit(10)
    return topk.select(
        "vec_id",
        F.round("adc_dist", 4).alias("adc_dist"),
        F.round(l2sq(F.col("embedding"), F.lit(qv)), 4).alias("exact_dist"),
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed (cell-pruned ADC search)
# ---------------------------------------------------------------------------


@query(
    "sim_ivfpq_ann",
    f"""
    WITH c AS (SELECT vec_id AS ivf_cid, embedding AS cv FROM embeddings
               WHERE vec_id < 16),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    s AS (SELECT e.vec_id, c.ivf_cid,
                 {_SQL_DOT.format(a="e.embedding", b="c.cv")}
                   / sqrt({_SQL_DOT.format(a="c.cv", b="c.cv")}) AS score
          FROM embeddings e CROSS JOIN c),
    assign AS (SELECT vec_id, ivf_cid AS cell FROM (
        SELECT vec_id, ivf_cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, ivf_cid) AS rn
        FROM s) WHERE rn = 1),
    qs AS (SELECT c.ivf_cid,
                  {_SQL_DOT.format(a="q.qv", b="c.cv")}
                    / sqrt({_SQL_DOT.format(a="c.cv", b="c.cv")}) AS score
           FROM q CROSS JOIN c),
    probe AS (SELECT ivf_cid FROM (
        SELECT ivf_cid, row_number() OVER (ORDER BY score DESC, ivf_cid) AS rn
        FROM qs) WHERE rn <= 3),
    cand AS (SELECT a.vec_id FROM assign a
             WHERE a.cell IN (SELECT ivf_cid FROM probe) AND a.vec_id <> 0),
    js AS (SELECT unnest(range(1, 9)) AS j),
    enc AS (
      SELECT e.vec_id, js.j, cb.cid,
             {_SQL_L2SQ.format(
                 a="list_slice(e.embedding, (js.j - 1) * 8 + 1, js.j * 8)",
                 b="list_slice(cb.cv, (js.j - 1) * 8 + 1, js.j * 8)")} AS dist
      FROM embeddings e JOIN cand ON e.vec_id = cand.vec_id,
           js, (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                WHERE vec_id < 16) cb),
    code AS (
      SELECT vec_id, j, cid FROM (
        SELECT vec_id, j, cid,
               row_number() OVER (PARTITION BY vec_id, j
                                  ORDER BY dist, cid) AS rn
        FROM enc) WHERE rn = 1),
    qt AS (
      SELECT js.j, cb.cid,
             {_SQL_L2SQ.format(
                 a="list_slice(q.qv, (js.j - 1) * 8 + 1, js.j * 8)",
                 b="list_slice(cb.cv, (js.j - 1) * 8 + 1, js.j * 8)")} AS t
      FROM q, js, (SELECT vec_id AS cid, embedding AS cv FROM embeddings
                   WHERE vec_id < 16) cb),
    adc AS (
      SELECT c.vec_id, sum(qt.t) AS adc_dist
      FROM code c JOIN qt ON c.j = qt.j AND c.cid = qt.cid
      GROUP BY c.vec_id)
    SELECT vec_id, round(adc_dist, 4) AS adc_dist FROM (
      SELECT vec_id, adc_dist,
             row_number() OVER (ORDER BY adc_dist, vec_id) AS rn
      FROM adc) WHERE rn <= 10
    """,
)
def sim_ivfpq_ann(spark, sf_dir):
    """IVF-PQ — the composition production vector indexes actually ship
    (FAISS IVFx,PQy): coarse IVF cells prune the scan to nprobe-of-16
    partitions, then 8-byte PQ codes score the survivors by ADC table
    lookups.  Memory per vector: 1 int (cell) + 8 nibbles (codes);
    floats never touch the query path.

    Plan: both the cell assignment and the PQ encoding are per-row
    literal-codebook expressions (zero joins, zero shuffles — pq_code /
    ivf_cell); the probe filter IS partition pruning at 100 TB where
    cell is the storage partition key; the top-10 is a TakeOrdered over
    ADC sums of the candidate subset only."""
    from target_parquet_spark.operators.similarity import (
        ivf_cell,
        ivf_codebook,
        pq_adc_table,
        pq_code,
        pq_codebook,
    )

    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ivf_cb = ivf_codebook(emb, n_centroids=16)
    pq_cb = pq_codebook(emb, m=8, k=16, dim=64)
    qv = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    # probe cells: rank centroids by the same normalized dot the SQL uses
    import math

    def _dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    qscores = [
        (cid, _dot(qv, cv) / math.sqrt(_dot(cv, cv))) for cid, cv, _n in ivf_cb
    ]
    probe = [
        cid for cid, _s in sorted(qscores, key=lambda p: (-p[1], p[0]))[:3]
    ]
    t_tab = pq_adc_table(qv, pq_cb)
    cand = emb.filter(
        ivf_cell(F.col("embedding"), ivf_cb).isin(probe)
        & (F.col("vec_id") != 0)
    )
    adc = None
    for j in range(8):
        term = F.element_at(
            F.lit(t_tab[j]), pq_code(F.col("embedding"), pq_cb, j) + 1
        )
        adc = term if adc is None else adc + term
    return (
        cand.select("vec_id", adc.alias("adc_dist"))
        .orderBy("adc_dist", "vec_id")
        .limit(10)
        .select("vec_id", F.round("adc_dist", 4).alias("adc_dist"))
    )


# ---------------------------------------------------------------------------
# automation / bot detection (gap regularity)
# ---------------------------------------------------------------------------


@query(
    "events_bot_regularity",
    """
    WITH g AS (
      SELECT user_id,
             epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)) AS gap
      FROM events),
    s AS (
      SELECT user_id, count(gap) AS n, sum(gap) AS s1, sum(gap * gap) AS s2
      FROM g WHERE gap IS NOT NULL
      GROUP BY user_id HAVING count(gap) >= 30),
    m AS (
      SELECT user_id, n, s1 / n AS mean,
             sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0)) AS sd
      FROM s)
    SELECT user_id, CAST(n AS BIGINT) AS n_gaps,
           round(mean, 3) AS mean_gap_s,
           round(sd / mean, 4) AS gap_cv
    FROM m ORDER BY gap_cv, user_id LIMIT 10
    """,
)
def events_bot_regularity(spark, sf_dir):
    """Automation detection by timing regularity: the 10 users whose
    inter-event gaps have the lowest coefficient of variation (humans
    are bursty, schedulers are metronomes — CV near 0 over many events
    is the classic bot signature).  Moments come from explicit power
    sums (the cross-engine-exact AND mergeable form, as in
    agg_higher_moments), so per-day gap-sum partials roll up into the
    same detector without rescanning.

    Plan: one shuffle on user_id for the lag window; the per-user power
    sums reuse that partitioning (group key == window key); the top-10
    is TakeOrdered over user-cardinality rows."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (
            F.col("ts").cast("double") - F.lag(F.col("ts")).over(w).cast("double")
        ).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    s = g.groupBy("user_id").agg(
        F.count("gap").alias("n"),
        F.sum("gap").alias("s1"),
        F.sum(F.col("gap") * F.col("gap")).alias("s2"),
    ).filter(F.col("n") >= 30)
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(0.0)))
    return (
        s.select(
            "user_id",
            F.col("n").cast("long").alias("n_gaps"),
            F.round(mean, 3).alias("mean_gap_s"),
            F.round(sd / mean, 4).alias("gap_cv"),
        )
        .orderBy("gap_cv", "user_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# semantic duplicate clusters (embedding pairs -> transitive groups)
# ---------------------------------------------------------------------------


@query(
    "sim_semantic_clusters",
    None,
)
def sim_semantic_clusters(spark, sf_dir):
    """Embedding near-dup pairs closed into transitive clusters — the
    semantic twin of dedup_connected_components (there: MinHash text
    pairs; here: LSH-bucketed cosine >= 0.98 vector pairs over the
    doubled corpus).  Cluster id = smallest member vec_id; group_size
    feeds the keep-one-per-cluster policy.

    Plan: pair generation is the reused-exchange bucket self-join of
    sim_embedding_dedup; the closure is min-label propagation + pointer
    jumping keyed on the node id (operators/dedup.connected_components)
    — dup graphs are star-shaped, 2-4 rounds in practice.  Oracle: the
    identical pair set closed by a recursive CTE.

    Scale note (sf1 probe: 6.3x for 10x data): n_planes=8 (256 buckets)
    is pinned by the oracle at test scale, but bucket occupancy — and
    with it the per-bucket pair product — grows linearly with corpus
    size when the plane count is fixed, so candidate work is quadratic
    in density.  At scale n_planes must track log2(n/target_occupancy)
    (e.g. 20 planes for 1e9 vectors at ~1k/bucket), with recall held by
    OR-amplification over b independent plane tables (union the pair
    sets — same shape as minhash banding; the multiprobe machinery in
    operators/similarity.py provides the probes).  Cluster quality is
    insensitive to the extra false-negative rate per table because the
    0.98-cosine dup graph is star-shaped: any single surviving edge per
    true cluster reconnects it in the CC closure."""
    from pyspark.sql import Window

    from target_parquet_spark.operators import dedup as D
    from target_parquet_spark.operators import similarity as S

    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    b = doubled.withColumn(
        "bucket", S.lsh_bucket(F.col("embedding"), n_planes=8)
    ).repartition(spark.sparkContext.defaultParallelism, "bucket")
    x, y = b.alias("x"), b.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
            F.round(
                S.cosine(F.col("x.embedding"), F.col("y.embedding")), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.98)
        .select("id_a", "id_b")
    )
    comp = D.connected_components(pairs, "id_a", "id_b")
    return comp.select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    ).withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )


from target_parquet_spark.queries_ext import _SQL_BUCKET, _SQL_DOT as _DOT  # noqa: E402

_ORACLES_SEMANTIC = f"""
    WITH RECURSIVE doubled AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings),
    b AS (SELECT vec_id, embedding,
                 {_SQL_BUCKET.format(v="embedding")} AS bucket FROM doubled),
    pairs AS (
      SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
      WHERE round({_DOT.format(a="x.embedding", b="y.embedding")}
                  / (sqrt({_DOT.format(a="x.embedding", b="x.embedding")})
                     * sqrt({_DOT.format(a="y.embedding", b="y.embedding")})), 4)
            >= 0.98),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, r) AS (
      SELECT DISTINCT u, u AS r FROM sym
      UNION
      SELECT s.v AS u, reach.r FROM reach JOIN sym s ON s.u = reach.u),
    comp AS (SELECT u AS vec_id, min(r) AS cluster_id FROM reach GROUP BY u)
    SELECT c.vec_id, c.cluster_id, g.cluster_size
    FROM comp c
    JOIN (SELECT cluster_id, count(*) AS cluster_size
          FROM comp GROUP BY cluster_id) g USING (cluster_id)
"""

from target_parquet_spark.queries import ORACLES as _OR2  # noqa: E402

_OR2["sim_semantic_clusters"] = _ORACLES_SEMANTIC


# ---------------------------------------------------------------------------
# engagement: DAU / WAU / MAU
# ---------------------------------------------------------------------------


@query(
    "events_active_users",
    """
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, count(*) AS dau FROM du GROUP BY day),
    wau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS wau
      FROM days d JOIN du u
        ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day),
    mau AS (
      SELECT d.day, count(DISTINCT u.user_id) AS mau
      FROM days d JOIN du u
        ON u.day BETWEEN d.day - INTERVAL 29 DAY AND d.day
      GROUP BY d.day)
    SELECT dau.day,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST(mau.mau AS BIGINT) AS mau,
           round(CAST(dau.dau AS DOUBLE) / mau.mau, 4) AS stickiness
    FROM dau JOIN wau ON dau.day = wau.day JOIN mau ON dau.day = mau.day
    """,
)
def events_active_users(spark, sf_dir):
    """DAU / WAU / MAU with the DAU/MAU stickiness ratio — the product
    engagement headline.  Built from the (day, user) DISTINCT table (one
    dedup shuffle over raw events; everything after runs on
    days x users rows, not events), with trailing windows as banded day
    joins.

    Scale note: the exact trailing distinct here is the textbook use
    for mergeable sketch state — at 100 TB you materialize per-day HLL
    registers or bitmap words (agg_hll_set_ops / agg_bitmap_set_ops)
    and a trailing window is a 7- or 30-way register merge, never a
    rescan; this query is that pipeline's exact oracle at test scale."""
    e = t(spark, sf_dir, "events")
    du = e.select(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def trailing(n, name):
        d, u = days.alias("d"), du.alias("u")
        return (
            d.join(
                u,
                (F.col("u.day") >= F.date_sub(F.col("d.day"), n - 1))
                & (F.col("u.day") <= F.col("d.day")),
            )
            .groupBy(F.col("d.day").alias("day"))
            .agg(F.countDistinct("u.user_id").alias(name))
        )

    wau, mau = trailing(7, "wau"), trailing(30, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            F.col("mau").cast("long").alias("mau"),
            F.round(F.col("dau").cast("double") / F.col("mau"), 4).alias(
                "stickiness"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit
# ---------------------------------------------------------------------------


@query(
    "text_zipf_fit",
    f"""
    WITH d AS (SELECT {SQL_TOKS.format(c="text")} AS toks FROM documents),
    tok AS (SELECT unnest(toks) AS tk FROM d),
    c AS (SELECT tk, count(*) AS f FROM tok GROUP BY tk),
    r AS (SELECT f, row_number() OVER (ORDER BY f DESC, tk) AS rank FROM c),
    pts AS (SELECT log10(CAST(rank AS DOUBLE)) AS x,
                   log10(CAST(f AS DOUBLE)) AS y
            FROM r WHERE rank <= 100),
    s AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             AS log10_intercept
    FROM s
    """,
)
def text_zipf_fit(spark, sf_dir):
    """Zipf's-law fit: least-squares slope of log-frequency vs log-rank
    over the top-100 tokens (natural language sits near -1; a flat slope
    flags templated/generated text, a cliff flags boilerplate) — the
    corpus-level statistical fingerprint next to the per-doc quality
    scores.

    Plan: one token-count shuffle, a 100-row ranked window, and the
    regression reduced to five classical sums — portable closed-form
    least squares, no ML library, mergeable like every other power-sum
    state here."""
    toks = td(spark, sf_dir, "documents").select(
        F.explode(X.tokens(F.col("text"))).alias("tk")
    )
    c = toks.groupBy("tk").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.desc("f"), "tk")
    pts = (
        c.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 100)
        .select(
            F.log10(F.col("rank").cast("double")).alias("x"),
            F.log10(F.col("f").cast("double")).alias("y"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 4).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "log10_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# interval-overlap join (sessions x incident windows)
# ---------------------------------------------------------------------------


@query(
    "events_interval_overlap_join",
    """
    WITH s AS (
      SELECT user_id, island AS session_id, island_start AS s_start,
             island_end AS s_end
      FROM (
        WITH iv AS (
          SELECT user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e, event_id
          FROM events),
        o AS (
          SELECT user_id, s, e, event_id,
                 max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS prev_max_e
          FROM iv),
        fl AS (
          SELECT user_id, s, e, event_id,
                 CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                      THEN 1 ELSE 0 END AS new_island
          FROM o),
        isl AS (
          SELECT user_id, s, e,
                 CAST(sum(new_island) OVER (PARTITION BY user_id
                                            ORDER BY s, event_id) AS BIGINT)
                   AS island
          FROM fl)
        SELECT user_id, island, min(s) AS island_start, max(e) AS island_end
        FROM isl GROUP BY user_id, island)),
    inc AS (
      SELECT event_id AS incident_id, ts AS i_start,
             ts + INTERVAL 10 MINUTE AS i_end
      FROM events WHERE event_type = 'error'),
    hit AS (
      SELECT s.user_id, s.session_id, inc.incident_id,
             epoch_us(least(s.s_end, inc.i_end))
               - epoch_us(greatest(s.s_start, inc.i_start)) AS overlap_us
      FROM s JOIN inc
        ON s.s_start < inc.i_end AND inc.i_start < s.s_end)
    SELECT user_id,
           CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions_hit,
           CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(max(overlap_us) AS BIGINT) AS max_overlap_us
    FROM hit GROUP BY user_id
    """,
)
def events_interval_overlap_join(spark, sf_dir):
    """Interval x interval overlap join — the temporal shape the
    point-in-band joins (interval_join, asof) don't cover: user activity
    sessions (merged islands) intersected with system incident windows
    (10 minutes after every error event), reporting per user how much of
    their activity an incident touched.  The blast-radius query of
    incident response.

    Plan: both interval sets derive from one events scan each; both
    sides explode onto the HOUR bands they touch, so the overlap
    predicate (s.start < i.end AND i.start < s.end) runs as a RESIDUAL
    on a band-keyed equi-join (AQE picks broadcast vs shuffle by size)
    instead of the quadratic broadcast nested loop a pure theta join
    plans — measured 5.25s -> 1.5s at sf0.1 with day bands, and hour
    bands keep the per-band pair product bounded as density grows (day
    bands went 33x for 10x data in the sf1 probe; hour bands are
    matched to the 5-10 minute interval lengths).  A band-ownership
    residual (a pair counts only in the band holding the overlap's
    start) makes each true pair match exactly once, so the
    quadratic-in-density matched-pair set feeds partial aggregation
    directly instead of a pair-wide dedupe exchange.  Overlap length
    from exact integer epoch-micros."""
    e = t(spark, sf_dir, "events")
    iv = e.select(
        "user_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 5 MINUTES")).alias("e"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    fl = iv.withColumn(
        "new_island",
        F.when(
            F.max("e").over(w_prev).isNull()
            | (F.col("s") > F.max("e").over(w_prev)),
            1,
        ).otherwise(0),
    )
    w_cum = Window.partitionBy("user_id").orderBy("s", "event_id")
    sessions = (
        fl.withColumn("island", F.sum("new_island").over(w_cum).cast("long"))
        .groupBy("user_id", F.col("island").alias("session_id"))
        .agg(F.min("s").alias("s_start"), F.max("e").alias("s_end"))
    )
    inc = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("i_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("i_end"),
    )
    # Band-bucket banding FOR REAL (not just the docstring): exploding
    # each interval onto the bands it touches turns the pure-theta overlap
    # join (a broadcast nested loop — quadratic in row counts, 5.2s at
    # sf0.1 and unusable at scale) into a band-keyed equi-join with the
    # overlap test as a residual.  Work drops from |S|x|I| to
    # sum_band(|S_band| x |I_band|); intervals spanning a band boundary
    # appear in both bands, so matched pairs dedupe before aggregation.
    # Band width is HOURS, matched to the 5-10 minute interval lengths:
    # the sf0.1->sf1 probe showed day bands going 33x for 10x data —
    # density per band grows with data when the time range is fixed, so
    # the band product sum_band(|S|x|I|) is quadratic in density.  Hour
    # bands divide each product by ~24^2/24; the explode only doubles
    # rows for boundary-spanning intervals.  At 100 TB pick the band so
    # that band_width ~ a small multiple of the typical interval length.
    def with_bands(df, start, end):
        return df.withColumn(
            "band",
            F.explode(
                F.sequence(
                    F.date_trunc("hour", F.col(start)),
                    F.date_trunc(
                        "hour",
                        F.col(end) - F.expr("INTERVAL 1 MICROSECOND"),
                    ),
                    F.expr("INTERVAL 1 HOUR"),
                )
            ),
        )

    s_days = with_bands(sessions, "s_start", "s_end").alias("sd")
    # No broadcast hint: incidents grow with the data (error events), so a
    # forced broadcast is itself a scale bug — AQE broadcasts while the
    # side is small and switches to a shuffle join when it isn't.
    i_days = with_bands(inc, "i_start", "i_end").alias("id")
    # Band-ownership residual: a matched pair is counted ONLY in the band
    # containing the overlap's start (greatest of the two starts — inside
    # both intervals, so both sides exploded onto it).  Each true pair
    # then matches in exactly one band, which kills the dropDuplicates
    # that used to re-shuffle the full pair set: the sf1 probe showed the
    # matched-pair count is quadratic in density (703k -> 70.4M for 10x
    # data — every session x every CONCURRENT incident, no user key), so
    # the pair-wide dedupe exchange was the scale killer.  Without it the
    # join output flows straight into hash aggregation and collapses
    # map-side to per-user partials.
    hit = s_days.join(
        i_days,
        (F.col("sd.band") == F.col("id.band"))
        & (F.col("s_start") < F.col("i_end"))
        & (F.col("i_start") < F.col("s_end"))
        & (
            F.col("sd.band")
            == F.date_trunc("hour", F.greatest("s_start", "i_start"))
        ),
    ).select(
        "user_id",
        "session_id",
        "incident_id",
        (
            F.unix_micros(F.least("s_end", "i_end"))
            - F.unix_micros(F.greatest("s_start", "i_start"))
        ).alias("overlap_us"),
    )
    return hit.groupBy("user_id").agg(
        F.countDistinct("session_id").cast("long").alias("n_sessions_hit"),
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.max("overlap_us").cast("long").alias("max_overlap_us"),
    )


# ---------------------------------------------------------------------------
# changepoint detection (CUSUM) + threshold episodes
# ---------------------------------------------------------------------------


@query(
    "events_changepoint_cusum",
    """
    WITH d AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             count(*) AS n
      FROM events GROUP BY event_type, day),
    m AS (
      SELECT event_type, avg(n) AS mu FROM d GROUP BY event_type),
    c AS (
      SELECT d.event_type, d.day,
             sum(d.n - m.mu) OVER (PARTITION BY d.event_type
                                   ORDER BY d.day) AS cusum
      FROM d JOIN m ON d.event_type = m.event_type),
    x AS (
      SELECT event_type, day, cusum,
             max(abs(cusum)) OVER (PARTITION BY event_type) AS mx
      FROM c)
    SELECT event_type,
           min(CASE WHEN abs(cusum) = mx THEN day END) AS changepoint_day,
           round(max(mx), 2) AS max_abs_cusum
    FROM x GROUP BY event_type
    """,
)
def events_changepoint_cusum(spark, sf_dir):
    """CUSUM changepoint detection on daily volumes: the day where the
    cumulative deviation from the series mean peaks is the most likely
    single shift point (classic offline CUSUM) — the localization step
    that runs after a drift monitor (audit_ks_drift / psi) fires,
    answering WHEN the distribution moved.

    Plan: daily counts are a calendar-bounded agg; the mean broadcasts
    back; cumulative sums and the arg-max run as windows over
    days x types rows.  Raw events are touched once."""
    e = t(spark, sf_dir, "events")
    d = e.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    m = d.groupBy("event_type").agg(F.avg("n").alias("mu"))
    w_cum = Window.partitionBy("event_type").orderBy("day")
    c = d.join(F.broadcast(m), "event_type").withColumn(
        "cusum", F.sum(F.col("n") - F.col("mu")).over(w_cum)
    )
    x = c.withColumn(
        "mx", F.max(F.abs("cusum")).over(Window.partitionBy("event_type"))
    )
    return x.groupBy("event_type").agg(
        F.min(
            F.when(F.abs(F.col("cusum")) == F.col("mx"), F.col("day"))
        ).alias("changepoint_day"),
        F.round(F.max("mx"), 2).alias("max_abs_cusum"),
    )


@query(
    "events_threshold_episodes",
    """
    WITH thr AS (
      SELECT event_type, quantile_cont(value, 0.95) AS p95
      FROM events GROUP BY event_type),
    fl AS (
      SELECT e.user_id, e.event_type, e.ts, e.event_id,
             CASE WHEN e.value > thr.p95 THEN 1 ELSE 0 END AS hot
      FROM events e JOIN thr ON e.event_type = thr.event_type),
    gr AS (
      SELECT user_id, event_type, ts, event_id, hot,
             CAST(row_number() OVER w
                  - sum(hot) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND CURRENT ROW) AS BIGINT)
               AS grp
      FROM fl
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)),
    ep AS (
      SELECT user_id, event_type, grp, count(*) AS run_len
      FROM gr WHERE hot = 1 GROUP BY user_id, event_type, grp)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_episodes,
           CAST(count(*) FILTER (WHERE run_len >= 3) AS BIGINT)
             AS n_sustained,
           CAST(max(run_len) AS BIGINT) AS longest_run
    FROM ep GROUP BY event_type
    """,
)
def events_threshold_episodes(spark, sf_dir):
    """Threshold-crossing episodes: consecutive runs of above-p95 values
    per (user, event_type), found with the gaps-and-islands identity
    (row_number minus running hot-count is constant within a run) —
    alert engines page on SUSTAINED breaches (run >= 3), not single
    spikes, exactly to suppress noise.

    Plan: the p95 table broadcasts back onto one events scan; the run
    grouping is one window over (user, type) ordering, the episode agg
    reuses that partitioning.  Same island trick as
    events_merge_intervals, applied to a boolean instead of time
    overlap."""
    e = t(spark, sf_dir, "events")
    thr = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.95)").alias("p95")
    )
    fl = e.join(F.broadcast(thr), "event_type").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(F.col("value") > F.col("p95"), 1).otherwise(0).alias("hot"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gr = fl.withColumn(
        "grp",
        (
            F.row_number().over(w)
            - F.sum("hot").over(w.rowsBetween(Window.unboundedPreceding, 0))
        ).cast("long"),
    )
    ep = (
        gr.filter(F.col("hot") == 1)
        .groupBy("user_id", "event_type", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return ep.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_episodes"),
        F.count(F.when(F.col("run_len") >= 3, 1)).cast("long").alias("n_sustained"),
        F.max("run_len").cast("long").alias("longest_run"),
    )


# ---------------------------------------------------------------------------
# concentration analysis (Pareto)
# ---------------------------------------------------------------------------


@query(
    "agg_pareto_concentration",
    """
    WITH cr AS (
      SELECT o_custkey, sum(o_totalprice) AS rev
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT rev,
             row_number() OVER (ORDER BY rev DESC, o_custkey) AS rn,
             count(*) OVER () AS n_cust,
             sum(rev) OVER () AS total,
             sum(rev) OVER (ORDER BY rev DESC, o_custkey) AS cum
      FROM cr)
    SELECT CAST(max(n_cust) AS BIGINT) AS n_customers,
           round(max(CASE WHEN rn <= CAST(ceil(n_cust * 0.1) AS BIGINT)
                          THEN cum END) / max(total), 4) AS top_decile_share,
           CAST(min(CASE WHEN cum >= 0.5 * total THEN rn END) AS BIGINT)
             AS n_for_half_revenue,
           round(CAST(min(CASE WHEN cum >= 0.5 * total THEN rn END) AS DOUBLE)
                 / max(n_cust), 4) AS frac_for_half_revenue
    FROM r
    """,
)
def agg_pareto_concentration(spark, sf_dir):
    """Revenue concentration — the Pareto questions: what share does the
    top customer decile hold, and how few customers carry half the
    revenue?  The numbers behind account prioritization and the
    continuous-measure complement of agg_group_entropy's categorical
    Gini.

    Plan: per-customer revenue is one map-combinable shuffle; the
    ranked cumulative share runs as a single global-ordered window over
    CUSTOMER-cardinality rows (already reduced ~10x from orders) — at
    100 TB that window input is the dimension table's size, and the
    global sort is a range-partitioned TakeOrdered-scale operation, not
    an event-table sort."""
    o = t(spark, sf_dir, "orders")
    cr = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("rev"))
    w_rank = Window.orderBy(F.desc("rev"), "o_custkey")
    w_all = Window.partitionBy()
    r = cr.select(
        "rev",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
        F.sum("rev").over(w_all).alias("total"),
        F.sum("rev").over(w_rank.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "cum"
        ),
    )
    return r.agg(
        F.max("n_cust").cast("long").alias("n_customers"),
        F.round(
            F.max(
                F.when(
                    F.col("rn") <= F.ceil(F.col("n_cust") * 0.1).cast("long"),
                    F.col("cum"),
                )
            )
            / F.max("total"),
            4,
        ).alias("top_decile_share"),
        F.min(F.when(F.col("cum") >= 0.5 * F.col("total"), F.col("rn")))
        .cast("long")
        .alias("n_for_half_revenue"),
        F.round(
            F.min(
                F.when(F.col("cum") >= 0.5 * F.col("total"), F.col("rn"))
            ).cast("double")
            / F.max("n_cust"),
            4,
        ).alias("frac_for_half_revenue"),
    )


# ---------------------------------------------------------------------------
# character-class profile + first-touch attribution
# ---------------------------------------------------------------------------


@query(
    "text_charset_profile",
    """
    WITH d AS (
      SELECT lang, text, length(text) AS n FROM documents
      WHERE length(text) > 0),
    c AS (
      SELECT lang, n,
             length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
             length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
             length(regexp_replace(text, '[^\\s]', '', 'g')) AS n_space
      FROM d)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(CAST(n_alpha AS DOUBLE) / n), 4) AS alpha_ratio,
           round(avg(CAST(n_digit AS DOUBLE) / n), 4) AS digit_ratio,
           round(avg(CAST(n_space AS DOUBLE) / n), 4) AS space_ratio,
           round(avg(CAST(n - n_alpha - n_digit - n_space AS DOUBLE) / n), 4)
             AS other_ratio
    FROM c GROUP BY lang
    """,
)
def text_charset_profile(spark, sf_dir):
    """Character-class composition per language: ASCII-letter, digit,
    whitespace, and other (punctuation + non-Latin scripts) ratios — the
    script-level fingerprint next to the token-level quality metrics
    (zh shows near-zero alpha_ratio and high other_ratio, a cheap
    sanity check on language labels; spikes in digit/other flag tables
    and markup masquerading as prose).

    Plan: three regexp strips per row in the scan stage, a 5-key agg —
    zero Python, one shuffle of per-language partials."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    c = d.select(
        "lang",
        F.length("text").alias("n"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.length(F.regexp_replace("text", "[^0-9]", "")).alias("n_digit"),
        F.length(F.regexp_replace("text", r"[^\s]", "")).alias("n_space"),
    )
    r = lambda col: F.round(F.avg(col.cast("double") / F.col("n")), 4)  # noqa: E731
    return c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        r(F.col("n_alpha")).alias("alpha_ratio"),
        r(F.col("n_digit")).alias("digit_ratio"),
        r(F.col("n_space")).alias("space_ratio"),
        r(F.col("n") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space")).alias(
            "other_ratio"
        ),
    )


@query(
    "events_first_touch_attribution",
    """
    WITH c AS (SELECT event_id AS click_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT event_id AS purchase_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    touch AS (
      SELECT p.purchase_id, p.value, c.click_id,
             row_number() OVER (PARTITION BY p.purchase_id
                                ORDER BY c.ts, c.click_id) AS rn
      FROM p JOIN c
        ON p.user_id = c.user_id
       AND c.ts <= p.ts AND c.ts > p.ts - INTERVAL 24 HOUR)
    SELECT CAST(count(*) AS BIGINT) AS n_attributed_purchases,
           CAST(count(DISTINCT click_id) AS BIGINT) AS n_first_touch_clicks,
           round(sum(value), 2) AS attributed_value
    FROM touch WHERE rn = 1
    """,
)
def events_first_touch_attribution(spark, sf_dir):
    """First-touch attribution — completing the triad (last-touch =
    asof_join_events, linear = events_multitouch_attribution): each
    purchase's full value credited to the EARLIEST click in its 24-hour
    window.  Marketing's discovery-channel view; the three models on the
    same joined base are how attribution disputes get quantified.

    Plan: identical banded interval join as the linear model; the
    earliest-touch pick is a row_number over the join output partitioned
    by purchase — no second join, same single key shuffle."""
    e = t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        "value",
    )
    touch = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    w = Window.partitionBy("purchase_id").orderBy("c_ts", "click_id")
    first = touch.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return first.agg(
        F.count(F.lit(1)).cast("long").alias("n_attributed_purchases"),
        F.countDistinct("click_id").cast("long").alias("n_first_touch_clicks"),
        F.round(F.sum("value"), 2).alias("attributed_value"),
    )


# ---------------------------------------------------------------------------
# Pythagorean means
# ---------------------------------------------------------------------------


@query(
    "agg_mean_family",
    """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(o_totalprice), 4) AS arith_mean,
           round(exp(avg(ln(o_totalprice))), 4) AS geo_mean,
           round(count(*) / sum(1.0 / o_totalprice), 4) AS harm_mean
    FROM orders WHERE o_totalprice > 0
    GROUP BY o_orderstatus
    """,
)
def agg_mean_family(spark, sf_dir):
    """The three Pythagorean means per order status: arithmetic,
    geometric (exp of mean log — the right average for ratios and
    growth rates), harmonic (n over reciprocal sum — the right average
    for rates like price-per-unit).  AM >= GM >= HM always; the gaps
    measure dispersion.

    Plan: all three reduce to ordinary sums (log-sum and
    reciprocal-sum are just projections before the agg), so one
    map-combinable shuffle carries the whole family — and the states
    merge by addition like every power-sum aggregate here."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.avg("o_totalprice"), 4).alias("arith_mean"),
        F.round(F.exp(F.avg(F.log("o_totalprice"))), 4).alias("geo_mean"),
        F.round(
            F.count(F.lit(1)) / F.sum(1.0 / F.col("o_totalprice")), 4
        ).alias("harm_mean"),
    )
