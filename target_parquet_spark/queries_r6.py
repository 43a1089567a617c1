"""Round-4 additions: k-NN graph construction + link prediction,
content-defined chunk dedup, corpus novelty, seasonal anomaly scoring,
RFM segmentation, merge-on-read deletion vectors, and EWMA smoothing.

Reference context: hotgluexyz/target-parquet implements none of these
(SURVEY.md §2.10 — absent categories); each is a standard large-scale
pipeline stage the existing families do not yet cover:

* ``sim_knn_graph`` materializes the k-nearest-neighbor GRAPH (not a
  single query's top-k): the input artifact for graph clustering,
  diversity analysis, and label propagation over an embedding corpus.
  Candidate generation is the LSH bucket equi-join (never all-pairs).
* ``graph_link_prediction`` runs common-neighbor / Jaccard link
  prediction over that graph — the classic "records that SHOULD be
  connected" screen (entity resolution, near-dup recall auditing).
* ``dedup_cdc_chunks`` is content-defined chunking (the FastCDC /
  rsync-family idea restated over tokens): chunk boundaries depend only
  on local content, so an insertion or truncation re-aligns after one
  chunk — unlike fixed-stride chunking, whose boundaries all shift.
* ``text_novelty_curve`` measures per-source novel-n-gram share with
  first-occurrence attribution — the dataset-freshness/diversity metric
  behind "does this new crawl add anything".
* ``events_seasonal_anomaly`` z-scores each event against its
  (event_type, hour-of-day) seasonal baseline — the monitoring step
  between the drift audits (KS/PSI) and changepoint localization.
* ``events_rfm_segmentation`` is the classic recency/frequency/monetary
  quintile segmentation (window work is over USER-cardinality rows,
  never events).
* ``scan_merge_on_read`` demonstrates the deletion-vector read path of
  merge-on-read table formats: base files stay immutable, deletes live
  in a small sidecar, reads anti-join it (broadcast — the 100 TB side
  never shuffles).
* ``window_ewma_daily`` is exponentially-weighted smoothing over the
  day-grain rollup — trend extraction off a pre-aggregate, never raw
  events.

Oracle contract as everywhere in this repo: integer-cents arithmetic
wherever a float sum would make borderline rows engine-dependent,
identical fold/tokenize/md5 expressions in both engines, every computed
column aliased identically, floats rounded in both engines.
"""

from __future__ import annotations

import functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from target_parquet_spark.operators import similarity as S
from target_parquet_spark.operators import text as X
from target_parquet_spark.queries import query, t
from target_parquet_spark.queries_ext import (
    SQL_CORPUS,
    SQL_TOKS,
    _SQL_DOT,
    _spark_corpus,
    sql_bucket,
    td,
)
from target_parquet_spark.queries_r2 import _SQL_GRAMS5, _grams5

# ---------------------------------------------------------------------------
# k-NN graph over embeddings (LSH-bucketed candidate generation)
# ---------------------------------------------------------------------------

# 4 planes -> 16 buckets: dense enough that every vector has bucket-mates
# at the test scales.  At corpus scale the plane count follows the
# adaptive rule (operators/similarity.semantic_dup_pairs): n_planes ~
# log2(n / target_occupancy), optionally OR-amplified across independent
# plane families for recall.
_PLANES4 = S.plane_weights(n_planes=4, dim=64)
_SQL_BUCKET4 = sql_bucket(_PLANES4)

# Shared CTE prefix: bucketed embeddings with precomputed norms, bucket
# self-join pairs, per-source neighbor ranking.
_SQL_KNN = f"""
    b AS (SELECT vec_id, embedding,
                 {_SQL_BUCKET4.format(v='embedding')} AS bucket,
                 sqrt({_SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
          FROM embeddings),
    p AS (SELECT a.vec_id AS src, c.vec_id AS nbr,
                 round({_SQL_DOT.format(a='a.embedding', b='c.embedding')}
                       / (a.nrm * c.nrm), 4) AS sim
          FROM b a JOIN b c
            ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
    r AS (SELECT src, nbr, sim,
                 row_number() OVER (PARTITION BY src
                                    ORDER BY sim DESC, nbr) AS nbr_rank
          FROM p)
"""

# Symmetrized edge set + per-node degrees over the k-NN graph — ONE SQL
# fragment (and one Spark helper, _symmetrize_degrees) shared by the
# link-prediction and degree-distribution oracles so the graph they
# analyze cannot drift.
# e + sym alone (no deg) — consumers that need just the symmetric edge
# set (k-truss, betweenness) compose this instead of string-splitting
# _SQL_SYM_DEG (review r7: the split was a silent-degradation hazard).
_SQL_SYM = """
    e AS (SELECT src, nbr FROM r WHERE nbr_rank <= 3),
    sym AS (SELECT DISTINCT u, v FROM (
              SELECT src AS u, nbr AS v FROM e
              UNION ALL
              SELECT nbr AS u, src AS v FROM e))
"""

_SQL_SYM_DEG = (
    _SQL_SYM
    + ",\n    deg AS (SELECT u, count(*) AS d FROM sym GROUP BY u)\n"
)


def _symmetrize_degrees(edges):
    """(sym, deg) for a directed (src, nbr) edge list — the Spark twin
    of _SQL_SYM_DEG.

    Both the input edge list and the symmetrized table are materialized
    (`lineage.mat`): ``e`` feeds both halves of the union and ``sym``
    feeds every consumer (posting self-joins, degree aggregates, hop
    expansions) — without the cut, each reference re-ran the whole
    upstream edge derivation (the r10 plan audit read 40 parquet scans
    and 9 replays of the bucketed kNN self-join in
    ``graph_link_prediction`` alone).  Edge tables are k*n rows — model
    state, not corpus."""
    from target_parquet_spark.lineage import mat

    e = mat(edges.select("src", "nbr"))
    sym = mat(
        e.select(F.col("src").alias("u"), F.col("nbr").alias("v"))
        .unionByName(e.select(F.col("nbr").alias("u"), F.col("src").alias("v")))
        .distinct()
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    return sym, deg


def _knn_edges(spark, sf_dir, k: int = 3):
    """Top-k cosine neighbors per vector among LSH bucket-mates.

    Plan shape for 100 TB: ONE repartition on the bucket key feeds both
    sides of the self-join (ReusedExchange — the bucket index is built
    once), pair volume is bounded by bucket occupancy (never n^2), norms
    are computed once per vector BEFORE the join so each candidate pair
    costs one fold, and the ranking window partitions by the source id —
    state is one vector's candidate list.  The emitted edge table is the
    artifact: at scale it is written once and every downstream graph op
    (link prediction, components, PageRank) reads it instead of
    re-deriving pairs."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b = emb.select(
        "vec_id",
        "embedding",
        S.lsh_bucket(F.col("embedding"), n_planes=4).alias("bucket"),
        F.sqrt(S.dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    ).repartition("bucket")
    a = b.select(
        F.col("vec_id").alias("src"),
        F.col("embedding").alias("_avec"),
        "bucket",
        F.col("nrm").alias("_anrm"),
    )
    c = b.select(
        F.col("vec_id").alias("nbr"),
        F.col("embedding").alias("_cvec"),
        "bucket",
        F.col("nrm").alias("_cnrm"),
    )
    # SHUFFLE_MERGE hint: at corpus scale neither self-join side fits a
    # broadcast, and the hint makes the LOCAL plan match — both branches
    # consume the ONE bucket repartition above (ReusedExchange, pinned in
    # tests) instead of broadcasting a duplicate of the whole
    # bucket+norm pipeline.
    #
    # Unordered-pair halving (r10, guide §1.2 per-task work): the join
    # keeps src < nbr so each candidate pair pays the 64-element cosine
    # fold ONCE, then the (src, nbr, sim) rows — fixed-width, no vector
    # payloads — are mirrored through a lineage cut.  sim is symmetric
    # BIT-exactly: the fold multiplies a[i]*c[i] in the same index order
    # either way (IEEE multiplication is commutative), so the mirrored
    # row carries the identical double the swapped fold would have
    # produced, null-poisoning included.
    from target_parquet_spark.lineage import mat

    half = mat(
        a.join(c.hint("merge"), "bucket")
        .filter(F.col("src") < F.col("nbr"))
        .select(
            "src",
            "nbr",
            F.round(
                S.dot(F.col("_avec"), F.col("_cvec"))
                / (F.col("_anrm") * F.col("_cnrm")),
                4,
            ).alias("sim"),
        )
    )
    pairs = half.unionByName(
        half.select(
            F.col("nbr").alias("src"), F.col("src").alias("nbr"), "sim"
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("sim").desc(), F.col("nbr"))
    return (
        pairs.withColumn("nbr_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("nbr_rank") <= k)
        .select("src", "nbr_rank", "nbr", "sim")
    )


@query(
    "sim_knn_graph",
    f"""
    WITH {_SQL_KNN}
    SELECT src, CAST(nbr_rank AS BIGINT) AS nbr_rank, nbr, sim
    FROM r WHERE nbr_rank <= 3
    """,
)
def sim_knn_graph(spark, sf_dir):
    """k-NN graph construction (k=3) — see ``_knn_edges`` for the
    100 TB plan rationale.  Oracle replays bucket assignment, the
    sequential dot-product fold, and the ranking window verbatim."""
    return _knn_edges(spark, sf_dir, k=3)


@query("sim_knn_graph_scaled")
def sim_knn_graph_scaled(spark, sf_dir):
    """The k-NN graph's scale path (`operators/similarity.knn_graph`):
    adaptive plane count (bucket occupancy held constant as the corpus
    grows) with OR-amplification across 2 independent plane families —
    the same fixed-vs-adaptive split as sim_semantic_clusters[_scaled].
    No SQL oracle: the plane count is a function of corpus size no
    static SQL can replay (rows-only driver check); correctness is
    pinned by the planted-twin test (an exact duplicate shares every
    bucket in every table, so it must surface as rank 1, sim 1.0)."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return S.knn_graph(emb, k=3)


@query(
    "graph_link_prediction",
    f"""
    WITH {_SQL_KNN},
    {_SQL_SYM_DEG},
    cn AS (SELECT s1.u AS u, s2.u AS w, count(*) AS common
           FROM sym s1 JOIN sym s2 ON s1.v = s2.v AND s1.u < s2.u
           GROUP BY s1.u, s2.u),
    cand AS (SELECT cn.u, cn.w, cn.common FROM cn
             LEFT JOIN sym ON sym.u = cn.u AND sym.v = cn.w
             WHERE sym.u IS NULL)
    SELECT c.u, c.w, CAST(c.common AS BIGINT) AS common_nbrs,
           round(c.common * 1.0 / (du.d + dw.d - c.common), 4) AS jaccard
    FROM cand c
    JOIN deg du ON du.u = c.u
    JOIN deg dw ON dw.u = c.w
    WHERE c.common >= 2
    """,
)
def graph_link_prediction(spark, sf_dir):
    """Common-neighbor / Jaccard link prediction over the k-NN graph:
    node pairs sharing >= 2 neighbors that are NOT already connected —
    the near-dup recall audit ("the index says these are unrelated, the
    graph structure disagrees") and the entity-resolution candidate
    screen.

    Plan shape for 100 TB: the quadratic step is the neighbor-posting
    self-join keyed on the SHARED NEIGHBOR — per-key work is deg^2 with
    deg <= 2k (bounded by construction, no hot-key hazard, unlike raw
    co-occurrence joins).  Degrees are node-cardinality and join back on
    the node key; existing edges are removed by an anti-join on the
    same key pair.  All counts are integers — no float boundary rows."""
    return _link_predict(_knn_edges(spark, sf_dir, k=3))


def _link_predict(edges):
    """Common-neighbor / Jaccard link prediction over a directed edge
    list (src, nbr) — symmetrize, posting self-join on the shared
    neighbor, degree join-back, anti-join existing edges."""
    sym, deg = _symmetrize_degrees(edges)
    s2 = sym.select(F.col("u").alias("w"), F.col("v"))
    cn = (
        sym.join(s2, "v")
        .filter(F.col("u") < F.col("w"))
        .groupBy("u", "w")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    cand = cn.join(
        sym.select("u", F.col("v").alias("w")), ["u", "w"], "left_anti"
    ).filter(F.col("common") >= 2)
    du = deg.select(F.col("u"), F.col("d").alias("_du"))
    dw = deg.select(F.col("u").alias("w"), F.col("d").alias("_dw"))
    return (
        cand.join(du, "u")
        .join(dw, "w")
        .select(
            "u",
            "w",
            F.col("common").alias("common_nbrs"),
            F.round(
                F.col("common")
                / (F.col("_du") + F.col("_dw") - F.col("common")),
                4,
            ).alias("jaccard"),
        )
    )


@query("graph_link_prediction_scaled")
def graph_link_prediction_scaled(spark, sf_dir):
    """Link prediction over the ADAPTIVE k-NN graph — the composition a
    cluster actually runs (the fixed-plane edge stage is 12.7x for 10x
    data in the sf1 probe; adaptive is 1.34x, and the prediction logic
    downstream is identical).  Rows-only driver check, same reason as
    sim_knn_graph_scaled; the prediction algebra itself is oracle-pinned
    through the fixed twin."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return _link_predict(S.knn_graph(emb, k=3))


_SQL_RECURSIVE_REACH = """
    WITH RECURSIVE seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events),
    edges AS (
      SELECT event_type AS src, nxt AS dst, count(*) AS n
      FROM seq WHERE nxt IS NOT NULL
      GROUP BY 1, 2 HAVING count(*) >= 100),
    reach(node, depth) AS (
      SELECT 'click' AS node, 0 AS depth
      UNION ALL
      SELECT e.dst AS node, r.depth + 1 AS depth
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.depth < 4)
    SELECT node, CAST(min(depth) AS BIGINT) AS min_depth
    FROM reach GROUP BY node
"""


@query("sql_recursive_reachability", _SQL_RECURSIVE_REACH)
def sql_recursive_reachability(spark, sf_dir):
    """Recursive CTE as IDENTICAL SQL text on spark.sql and DuckDB
    (Spark 4 added WITH RECURSIVE): breadth-first reachability with
    minimum depth over the frequent-transition graph derived from the
    event stream — which states a 'click' can lead to, and how fast.
    The iterative closure operators here (connected components,
    PageRank) implement this shape at data scale with explicit rounds
    and lineage cuts; the recursive CTE is the declarative form for
    METADATA-scale graphs (the transition graph is event-type
    cardinality — dozens of nodes — regardless of corpus size, and the
    depth guard bounds the recursion).

    Plan shape: one window + one count shuffle derive the edge set; the
    recursion then runs over dozens of rows.  The 100 TB rule is the
    split used here: recursion for metadata-sized graphs, the
    label-propagation operators for data-sized ones."""
    t(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_SQL_RECURSIVE_REACH)


@query(
    "asof_join_tolerance",
    """
    SELECT p.event_id, p.user_id,
           CASE WHEN c.ts IS NOT NULL
                 AND epoch(p.ts) - epoch(c.ts) <= 3600.0
                THEN round(epoch(p.ts) - epoch(c.ts), 3) END
             AS secs_since_click
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_join_tolerance(spark, sf_dir):
    """As-of join with a staleness tolerance (pd.merge_asof's
    ``tolerance``): each purchase takes its latest preceding click ONLY
    if that click is within the last hour — a stale match enriches
    nothing.  Same one-shuffle union+window plan as asof_join_events;
    the tolerance is a scan-stage mask after the window.  Oracle:
    DuckDB's native ASOF JOIN with the gap test applied to the match."""
    from target_parquet_spark.operators.asof import asof_join

    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        tolerance_seconds=3600.0,
    )
    return joined.select(
        "event_id",
        "user_id",
        F.round(
            F.col("ts").cast("double") - F.col("ts_right").cast("double"), 3
        ).alias("secs_since_click"),
    )


@query(
    "audit_embedding_quality",
    f"""
    WITH e AS (
      SELECT vec_id, embedding,
             CASE WHEN embedding IS NULL THEN -1
                  ELSE len(list_filter(embedding, x -> x IS NULL)) END
               AS n_nulls_inside,
             CASE WHEN embedding IS NULL THEN -1 ELSE len(embedding) END
               AS dim
      FROM embeddings),
    n AS (
      SELECT vec_id, n_nulls_inside, dim,
             CASE WHEN dim <= 0 OR n_nulls_inside > 0 THEN NULL
                  ELSE sqrt({_SQL_DOT.format(a='embedding', b='embedding')})
             END AS nrm
      FROM e)
    SELECT CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(count(*) FILTER (WHERE dim = -1) AS BIGINT) AS n_null,
           CAST(count(*) FILTER (WHERE dim = 0) AS BIGINT) AS n_empty,
           CAST(count(*) FILTER (WHERE n_nulls_inside > 0) AS BIGINT)
             AS n_null_elem,
           CAST(count(*) FILTER (WHERE nrm = 0) AS BIGINT) AS n_zero_norm,
           CAST(count(*) FILTER (WHERE dim <> 64 AND dim > 0) AS BIGINT)
             AS n_bad_dim,
           round(min(nrm), 4) AS min_norm,
           round(max(nrm), 4) AS max_norm,
           round(quantile_cont(nrm, 0.5), 4) AS p50_norm
    FROM n
    """,
)
def audit_embedding_quality(spark, sf_dir):
    """Data-quality audit for an embedding column: null vectors, zero
    norms, dimension mismatches, and the norm distribution — the
    pre-flight gate before any similarity/ANN job (a null vector
    null-poisons LSH sign folds into the all-zeros bucket, a zero norm
    divides 0/0, and a wrong width silently pads zip_with folds: every
    one of those failure modes is invisible until a downstream join
    explodes or returns garbage; see lsh_bucket and knn_graph notes).

    Plan shape: one scan, one scalar aggregate; the norm expression is
    S.norm — the very Column every similarity operator evaluates — so
    the audit measures exactly what the operators will see.  Degenerate
    vectors (empty arrays, null ELEMENTS) are excluded from the norm
    distribution explicitly in BOTH engines and counted in their own
    columns: the engines' native folds disagree on them (Spark's
    aggregate null-propagates and returns 0.0 on empty; DuckDB's
    list_sum skips nulls and returns NULL on empty), so an explicit
    definition is the only cross-engine-stable one."""
    emb = td(spark, sf_dir, "embeddings")
    n_nulls_inside = F.when(F.col("embedding").isNull(), F.lit(-1)).otherwise(
        F.size(F.filter("embedding", lambda x: x.isNull()))
    )
    dim = F.when(F.col("embedding").isNull(), F.lit(-1)).otherwise(
        F.size("embedding")
    )
    e = emb.select(
        "vec_id",
        "embedding",
        n_nulls_inside.alias("n_nulls_inside"),
        dim.alias("dim"),
    )
    nrm = F.when(
        (F.col("dim") <= 0) | (F.col("n_nulls_inside") > 0),
        F.lit(None).cast("double"),
    ).otherwise(S.norm(F.col("embedding")))
    n = e.withColumn("nrm", nrm)
    return n.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count(F.when(F.col("dim") == -1, 1)).alias("n_null"),
        F.count(F.when(F.col("dim") == 0, 1)).alias("n_empty"),
        F.count(F.when(F.col("n_nulls_inside") > 0, 1)).alias("n_null_elem"),
        F.count(F.when(F.col("nrm") == 0, 1)).alias("n_zero_norm"),
        F.count(
            F.when((F.col("dim") != 64) & (F.col("dim") > 0), 1)
        ).alias("n_bad_dim"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.round(F.expr("percentile(nrm, 0.5)"), 4).alias("p50_norm"),
    )


@query(
    "graph_degree_distribution",
    f"""
    WITH {_SQL_KNN},
    {_SQL_SYM_DEG}
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(count(*) AS BIGINT) AS n_nodes
    FROM deg GROUP BY d
    """,
)
def graph_degree_distribution(spark, sf_dir):
    """Degree histogram of the (symmetrized) k-NN graph — the first
    thing to look at before running anything iterative over a graph:
    a heavy tail here predicts hot keys in every downstream
    neighbor-keyed join (the skew the link-prediction bound deg<=2k
    rules out by construction; this query is how you CHECK that).

    Plan shape: node-cardinality aggregates only — degree is one
    groupBy on the node key, the histogram one more on the (tiny)
    degree domain."""
    _sym, deg = _symmetrize_degrees(_knn_edges(spark, sf_dir, k=3))
    return deg.groupBy(F.col("d").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


# ---------------------------------------------------------------------------
# content-defined chunking (FastCDC-style, over tokens)
# ---------------------------------------------------------------------------


@query(
    "dedup_cdc_chunks",
    f"""
    WITH {SQL_CORPUS},
    base AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM corpus),
    tk0 AS (SELECT doc_id,
                   unnest(range(1, len(toks) + 1)) AS pos,
                   unnest(toks) AS tok
            FROM base),
    tk AS (SELECT doc_id, pos, tok,
                  CASE WHEN substr(md5(tok), 32, 1) IN ('0','4','8','c')
                       THEN 1 ELSE 0 END AS cut
           FROM tk0),
    ck0 AS (SELECT doc_id, pos, tok,
                   1 + COALESCE(SUM(cut) OVER (
                         PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS chunk_id
            FROM tk),
    chunks AS (SELECT doc_id, chunk_id,
                      md5(string_agg(tok, ' ' ORDER BY pos)) AS ch,
                      count(*) AS n_toks
               FROM ck0 GROUP BY doc_id, chunk_id),
    dup AS (SELECT ch FROM (
              SELECT ch, count(DISTINCT doc_id) AS nd
              FROM chunks GROUP BY ch)
            WHERE nd >= 2)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN d.ch IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           round(sum(CASE WHEN d.ch IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / count(*), 4) AS dup_ratio,
           round(avg(n_toks), 2) AS avg_chunk_tokens
    FROM chunks c LEFT JOIN dup d ON c.ch = d.ch
    GROUP BY c.doc_id
    """,
)
def dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking: a token is a cut point iff the last hex
    digit of its md5 is in {0,4,8,c} (expected chunk length 4 tokens —
    scaled to the synthetic docs; production uses a rolling hash over a
    byte window with a larger mask).  Chunk boundaries depend ONLY on
    local content, so the truncated near-copies in the doubled corpus
    share every interior chunk despite the global position shift —
    exactly the property fixed-stride chunking (``dedup_chunk_overlap``)
    lacks.  Output per doc: chunk count, duplicated-chunk count/ratio
    (chunk content seen in >= 2 docs), mean chunk length.

    Plan shape for 100 TB: cut flags and chunk ids are scan-stage
    expressions plus ONE per-doc window (state = one document's tokens);
    chunk hashes are fixed-width and the duplicated-chunk set is a
    (doc, hash)-distinct pre-aggregation followed by a count per hash —
    map-side combinable, never a pair join.  The flag join back to
    chunks is an equi-join on the hash with the dup side orders of
    magnitude smaller."""
    corpus = _spark_corpus(spark, sf_dir)
    tk = corpus.select(
        "doc_id", F.posexplode(X.tokens(F.col("text"))).alias("pos", "tok")
    ).withColumn(
        "cut",
        F.when(
            F.substring(F.md5("tok"), 32, 1).isin("0", "4", "8", "c"), 1
        ).otherwise(0),
    )
    wprev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ck = tk.withColumn(
        "chunk_id", F.lit(1) + F.coalesce(F.sum("cut").over(wprev), F.lit(0))
    )
    chunks = ck.groupBy("doc_id", "chunk_id").agg(
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            )
        ).alias("ch"),
        F.count(F.lit(1)).alias("n_toks"),
    )
    dup = (
        chunks.select("ch", "doc_id")
        .distinct()
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("ch", F.lit(1).alias("_dup"))
    )
    return (
        chunks.join(dup, "ch", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup_chunks"),
            F.round(
                F.sum(F.coalesce(F.col("_dup"), F.lit(0)))
                / F.count(F.lit(1)),
                4,
            ).alias("dup_ratio"),
            F.round(F.avg("n_toks"), 2).alias("avg_chunk_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# corpus novelty (first-occurrence attribution)
# ---------------------------------------------------------------------------


@query(
    "text_novelty_curve",
    f"""
    WITH base AS (SELECT doc_id, source, {SQL_TOKS.format(c='text')} AS toks
                  FROM documents),
    g0 AS (SELECT doc_id, source,
                  ('0x' || substr(md5(unnest(
                    {_SQL_GRAMS5.format(t='toks')}
                  )), 1, 15))::BIGINT AS gh
           FROM base),
    g AS (SELECT DISTINCT doc_id, source, gh FROM g0),
    fst AS (SELECT gh, min(doc_id) AS first_doc FROM g GROUP BY gh),
    perdoc AS (SELECT g.doc_id, g.source,
                      count(*) AS n_grams,
                      sum(CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END)
                        AS n_new
               FROM g JOIN fst f ON g.gh = f.gh
               GROUP BY g.doc_id, g.source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_grams) AS BIGINT) AS total_grams,
           CAST(sum(n_new) AS BIGINT) AS novel_grams,
           round(avg(n_new * 1.0 / n_grams), 4) AS avg_novelty
    FROM perdoc GROUP BY source
    """,
)
def text_novelty_curve(spark, sf_dir):
    """Per-source novelty: a document's distinct 5-grams are NOVEL if
    this document is the first (lowest doc_id — ingestion order) to
    contain them.  Per source: docs, total/novel distinct-gram counts,
    mean per-doc novelty share — the "does this crawl add anything"
    curve that decides whether a new source earns its storage.

    Plan shape for 100 TB: grams are hashed to 60-bit ints in the scan
    stage; the (doc, gh)-distinct set is a map-side-combinable
    pre-aggregation; first-occurrence attribution is a min() groupBy on
    the gram hash whose result joins back ON THE SAME KEY (one hash
    partitioning serves both sides — ReusedExchange); the final
    aggregation is source-cardinality."""
    docs = td(spark, sf_dir, "documents").select(
        "doc_id", "source", X.tokens(F.col("text")).alias("toks")
    )
    gh = X.hash60(F.col("gram"))
    g = (
        docs.select(
            "doc_id", "source", F.explode(_grams5(F.col("toks"))).alias("gram")
        )
        .select("doc_id", "source", gh.alias("gh"))
        .distinct()
    )
    fst = g.groupBy("gh").agg(F.min("doc_id").alias("first_doc"))
    perdoc = (
        g.join(fst, "gh")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
            ).alias("n_new"),
        )
    )
    return perdoc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_grams").alias("total_grams"),
        F.sum("n_new").alias("novel_grams"),
        F.round(F.avg(F.col("n_new") / F.col("n_grams")), 4).alias(
            "avg_novelty"
        ),
    )


# ---------------------------------------------------------------------------
# seasonal anomaly scoring
# ---------------------------------------------------------------------------


@query(
    "events_seasonal_anomaly",
    """
    WITH e AS (SELECT event_type,
                      CAST(round(value * 100) AS BIGINT) AS cents,
                      EXTRACT(hour FROM ts) AS hr
               FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    b AS (SELECT event_type, hr, count(*) AS n,
                 sum(cents) AS s1, sum(cents * cents) AS s2
          FROM e GROUP BY event_type, hr),
    z AS (SELECT e.event_type, e.cents,
                 b.s1 * 1.0 / b.n AS mu,
                 sqrt(greatest(b.s2 * 1.0 / b.n
                      - (b.s1 * 1.0 / b.n) * (b.s1 * 1.0 / b.n), 0.0)) AS sd
          FROM e JOIN b ON e.event_type = b.event_type AND e.hr = b.hr)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN sd > 0
                          AND abs(round((cents - mu) / sd, 4)) > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(max(CASE WHEN sd > 0
                          THEN abs(round((cents - mu) / sd, 4))
                          ELSE 0 END), 4) AS max_abs_z
    FROM z GROUP BY event_type
    """,
)
def events_seasonal_anomaly(spark, sf_dir):
    """Each event z-scored against its (event_type, hour-of-day)
    seasonal baseline; anomalies are |z| > 3.  The step between the
    distribution-drift audits (which say the data CHANGED) and
    changepoint localization (which says WHEN): this says WHICH rows.

    Plan shape for 100 TB: one (type, hour) aggregation — at most
    types*24 cells, broadcast back onto the scan (the event side never
    shuffles); z is then a scan-stage expression.  Engine-exactness:
    values become integer cents at the scan, so the power sums are
    exact integers and mean/sd/z are identical scalar arithmetic in
    both engines — no summation-order drift under the |z|>3 boundary."""
    e = (
        t(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
            F.hour("ts").alias("hr"),
        )
    )
    b = e.groupBy("event_type", "hr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    # greatest(var, 0): at 100 TB cell counts, the BIGINT->double power
    # sums can round var to a tiny negative for near-constant cells;
    # sqrt(negative) is NaN in Spark (which sorts ABOVE every number, so
    # sd > 0 would pass and flag the whole cell) and an error in DuckDB.
    sd = F.sqrt(F.greatest(F.col("s2") / F.col("n") - mu * mu, F.lit(0.0)))
    z = e.join(F.broadcast(b), ["event_type", "hr"]).select(
        "event_type",
        mu.alias("mu"),
        sd.alias("sd"),
        F.col("cents"),
    )
    az = F.abs(F.round((F.col("cents") - F.col("mu")) / F.col("sd"), 4))
    return z.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(
            F.when((F.col("sd") > 0) & (az > 3.0), 1).otherwise(0)
        ).alias("n_anomalies"),
        F.round(
            F.max(F.when(F.col("sd") > 0, az).otherwise(F.lit(0.0))), 4
        ).alias("max_abs_z"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


@query(
    "events_rfm_segmentation",
    """
    WITH u AS (SELECT user_id,
                      count(*) AS freq,
                      COALESCE(sum(CAST(round(value * 100) AS BIGINT)), 0)
                        AS monetary_cents,
                      max(date_diff('day', DATE '1970-01-01',
                                    CAST(ts AS DATE))) AS last_day
               FROM events WHERE ts IS NOT NULL GROUP BY user_id),
    g AS (SELECT max(last_day) AS gday FROM u),
    s AS (SELECT u.user_id, u.freq, u.monetary_cents,
                 g.gday - u.last_day AS rec_days
          FROM u, g),
    sc AS (SELECT freq, monetary_cents,
                  ntile(5) OVER (ORDER BY rec_days ASC, user_id) AS r_score,
                  ntile(5) OVER (ORDER BY freq DESC, user_id) AS f_score,
                  ntile(5) OVER (ORDER BY monetary_cents DESC, user_id)
                    AS m_score
           FROM s)
    SELECT CAST(r_score AS BIGINT) AS r_score,
           CAST(f_score AS BIGINT) AS f_score,
           CAST(m_score AS BIGINT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(monetary_cents) AS BIGINT) AS total_cents
    FROM sc GROUP BY r_score, f_score, m_score
    """,
)
def events_rfm_segmentation(spark, sf_dir):
    """Classic RFM: per-user recency (days since last event, vs the
    corpus max day), frequency, monetary (integer cents), each cut into
    quintiles; output the populated (R,F,M) cells with user counts and
    value.  The segmentation behind lifecycle campaigns and churn
    screens.

    Plan shape for 100 TB: the event scan collapses to USER-cardinality
    aggregates first; the three ntile windows run over those user rows
    only (the documented global-sort hazard is bounded by user
    cardinality, and at extreme scale the quintiles come from
    approx-percentile cutpoints instead — this exact form is that
    path's oracle).  Every ordering has a user_id tie-break and every
    metric is an integer, so quintile membership is engine-exact."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("freq"),
        F.coalesce(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")), F.lit(0)
        ).alias("monetary_cents"),
        F.max(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
        ).alias("last_day"),
    )
    g = F.broadcast(u.agg(F.max("last_day").alias("gday")))
    s = u.crossJoin(g).select(
        "user_id",
        "freq",
        "monetary_cents",
        (F.col("gday") - F.col("last_day")).alias("rec_days"),
    )
    sc = s.select(
        "freq",
        "monetary_cents",
        F.ntile(5)
        .over(Window.orderBy(F.col("rec_days").asc(), F.col("user_id")))
        .cast("long")
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("freq").desc(), F.col("user_id")))
        .cast("long")
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary_cents").desc(), F.col("user_id")))
        .cast("long")
        .alias("m_score"),
    )
    return sc.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("monetary_cents").alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# merge-on-read deletion vectors
# ---------------------------------------------------------------------------


@query(
    "scan_merge_on_read",
    """
    WITH tomb AS (SELECT event_id FROM events
                  WHERE substr(md5(CAST(event_id AS VARCHAR)), 1, 1) = '0'),
    live AS (SELECT e.event_type FROM events e
             LEFT JOIN tomb t ON e.event_id = t.event_id
             WHERE t.event_id IS NULL),
    base AS (SELECT event_type, count(*) AS n_total
             FROM events GROUP BY event_type),
    lv AS (SELECT event_type, count(*) AS n_live
           FROM live GROUP BY event_type)
    SELECT b.event_type,
           CAST(b.n_total AS BIGINT) AS n_total,
           CAST(b.n_total - COALESCE(lv.n_live, 0) AS BIGINT) AS n_deleted,
           CAST(COALESCE(lv.n_live, 0) AS BIGINT) AS n_live
    FROM base b LEFT JOIN lv ON b.event_type = lv.event_type
    """,
)
def scan_merge_on_read(spark, sf_dir):
    """The deletion-vector read path of merge-on-read table formats
    (Delta DVs / Iceberg positional deletes, restated engine-neutral):
    base files are immutable, deletes accumulate in a small sidecar
    (here a deterministic ~1/16 of event ids standing in for the DV),
    and every read anti-joins the sidecar.  Reports per-type
    total/deleted/live so the compaction decision ("rewrite when
    deleted fraction exceeds X") has its input.

    Plan shape for 100 TB: the tombstone side is orders of magnitude
    smaller and BROADCAST — the base scan never shuffles for the
    anti-join; at real scale the sidecar is a bitmap keyed by file, and
    this row-level anti-join is its semantic oracle."""
    ev = t(spark, sf_dir, "events")
    tomb = F.broadcast(
        ev.select("event_id").filter(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 1) == "0"
        )
    )
    live = ev.join(tomb, "event_id", "left_anti")
    base = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_total"))
    lv = live.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_live"))
    return base.join(lv, "event_type", "left").select(
        "event_type",
        "n_total",
        (F.col("n_total") - F.coalesce(F.col("n_live"), F.lit(0))).alias(
            "n_deleted"
        ),
        F.coalesce(F.col("n_live"), F.lit(0)).alias("n_live"),
    )


# ---------------------------------------------------------------------------
# EWMA trend smoothing over the day-grain rollup
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.3
_EWMA_K = 14
_EWMA_W = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_K)]


def _sql_ewma() -> tuple[str, str]:
    """(numerator, denominator) SQL for the truncated-kernel EWMA; term
    order fixed so both engines evaluate the identical float chain."""
    num = [f"{_EWMA_W[0]!r} * xc"]
    den = [f"{_EWMA_W[0]!r}"]
    for j in range(1, _EWMA_K):
        num.append(f"{_EWMA_W[j]!r} * COALESCE(x{j}, 0)")
        den.append(f"CASE WHEN x{j} IS NULL THEN 0 ELSE {_EWMA_W[j]!r} END")
    return " + ".join(num), " + ".join(den)


@query(
    "window_ewma_daily",
    f"""
    WITH d AS (SELECT CAST(ts AS DATE) AS day,
                      sum(CAST(round(value * 100) AS BIGINT)) AS xc
               FROM events
               WHERE ts IS NOT NULL AND value IS NOT NULL
               GROUP BY day),
    spine AS (SELECT (SELECT min(day) FROM d)
                       + CAST(unnest(range(0,
                           (SELECT date_diff('day', min(day), max(day))
                            FROM d) + 1)) AS INTEGER) AS day),
    dd AS (SELECT s.day, d.xc FROM spine s LEFT JOIN d ON d.day = s.day),
    l AS (SELECT day, xc,
                 {', '.join(f'lag(xc, {j}) OVER (ORDER BY day) AS x{j}'
                            for j in range(1, _EWMA_K))}
          FROM dd)
    SELECT day,
           round(xc / 100.0, 2) AS daily_total,
           round(({_sql_ewma()[0]}) / ({_sql_ewma()[1]}) / 100.0, 4)
             AS ewma14
    FROM l WHERE xc IS NOT NULL
    """,
)
def window_ewma_daily(spark, sf_dir):
    """Exponentially-weighted moving average (alpha=0.3, 14-day
    truncated kernel, weights renormalized over the observed prefix) of
    daily event value — trend extraction for dashboards, and the
    smoothed input a threshold alert wants instead of raw dailies.

    Plan shape for 100 TB: events collapse to the DAY grain first (the
    same sufficient-statistics move as ensure_rollup), so the window
    runs over a few hundred rows regardless of corpus size; the kernel
    is a fixed set of lag() columns over one sort — no self-join, no
    per-row arrays — and a calendar day spine under the lags makes
    lag(j) mean "j calendar days back" even across ingestion gaps
    (absent days drop their weight; the kernel renormalizes).  Daily
    sums are integer cents and the weight chain is evaluated in the
    same term order in both engines, so the floats are bit-identical
    before rounding."""
    d = (
        t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("xc")
        )
    )
    # Day spine: lag(j) must mean "j CALENDAR days back", not "j observed
    # rows back" — an ingestion-outage gap would otherwise attach
    # yesterday's weight to a month-old value.  Spine days carry xc NULL,
    # which the kernel already treats as absent (weight renormalized);
    # only observed days are emitted.
    bounds = d.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    dd = spine.join(d, "day", "left")
    w = Window.orderBy("day")
    lagged = dd.select(
        "day",
        "xc",
        *[F.lag("xc", j).over(w).alias(f"x{j}") for j in range(1, _EWMA_K)],
    ).filter(F.col("xc").isNotNull())
    num = functools.reduce(
        lambda acc, j: acc
        + F.lit(_EWMA_W[j]) * F.coalesce(F.col(f"x{j}"), F.lit(0)),
        range(1, _EWMA_K),
        F.lit(_EWMA_W[0]) * F.col("xc"),
    )
    den = functools.reduce(
        lambda acc, j: acc
        + F.when(F.col(f"x{j}").isNull(), F.lit(0.0)).otherwise(
            F.lit(_EWMA_W[j])
        ),
        range(1, _EWMA_K),
        F.lit(_EWMA_W[0]),
    )
    return lagged.select(
        "day",
        F.round(F.col("xc") / 100.0, 2).alias("daily_total"),
        F.round(num / den / 100.0, 4).alias("ewma14"),
    )


# ---------------------------------------------------------------------------
# DAU/WAU via mergeable per-day HLL sketches
# ---------------------------------------------------------------------------

# Raw HLL estimator + the standard small-range (linear counting)
# correction: when the raw estimate is <= 2.5*m and empty registers
# remain, est = m * ln(m / V) — without it the raw formula floors at
# ~0.709*m for tiny cardinalities (a 14-user day would read as ~52).
# Both branches are single-expression scalar arithmetic over exact
# integer register states, so the correction is engine-exact too.
_SQL_HLL_RAW = (
    "(0.709 * 4096.0 / (sum(power(2.0::DOUBLE, -mx)) "
    "+ CAST(64 - count(*) AS DOUBLE)))"
)
_SQL_HLL_EST = (
    f"round(CASE WHEN (64 - count(*)) > 0 AND {_SQL_HLL_RAW} <= 160.0 "
    "THEN 64.0 * ln(64.0 / CAST(64 - count(*) AS DOUBLE)) "
    f"ELSE {_SQL_HLL_RAW} END, 2)"
)


@query(
    "events_active_users_hll",
    f"""
    WITH e AS (
      SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             user_id,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT)::BIGINT AS h
      FROM events WHERE ts IS NOT NULL),
    spine AS (SELECT DISTINCT d FROM e),
    r AS (SELECT d, h >> 54 AS reg,
                 CASE WHEN (h & ((1::BIGINT << 54) - 1)) = 0 THEN 55
                      ELSE 55 - length(bin(h & ((1::BIGINT << 54) - 1)))
                 END AS rho
          FROM e),
    day_reg AS (SELECT d, reg, max(rho) AS mx FROM r GROUP BY d, reg),
    contrib AS (SELECT d + unnest(range(0, 7)) AS t, reg, mx FROM day_reg),
    wau_reg AS (SELECT t, reg, max(mx) AS mx FROM contrib GROUP BY t, reg),
    we AS (SELECT t, {_SQL_HLL_EST} AS wau_est FROM wau_reg GROUP BY t),
    de AS (SELECT d AS t, {_SQL_HLL_EST} AS dau_est FROM day_reg GROUP BY d),
    du AS (SELECT DISTINCT d, user_id FROM e),
    wx AS (SELECT t, count(DISTINCT user_id) AS wau_exact FROM
             (SELECT d + unnest(range(0, 7)) AS t, user_id FROM du)
           GROUP BY t),
    dx AS (SELECT d AS t, count(DISTINCT user_id) AS dau_exact
           FROM du GROUP BY d)
    SELECT DATE '1970-01-01' + CAST(s.d AS INTEGER) AS day,
           de.dau_est, dx.dau_exact, we.wau_est, wx.wau_exact
    FROM spine s
    JOIN de ON de.t = s.d
    JOIN dx ON dx.t = s.d
    JOIN we ON we.t = s.d
    JOIN wx ON wx.t = s.d
    """,
)
def events_active_users_hll(spark, sf_dir):
    """DAU/WAU from MERGEABLE per-day HLL sketches — the materialized
    scale path whose exact oracle is ``events_active_users``: each day
    collapses to a 64-row register table (the portable relational HLL of
    ``agg_hll_sketch``), and trailing-window counts are register-max
    merges of 7 day sketches — raw events are touched exactly once,
    ever.  Exact daily/weekly distincts ride alongside as the
    verification columns (at 100 TB only the sketch side runs; the
    sliding merge generalizes to MAU with the same 64-row state).

    Plan shape: the day->window fan-out is a 7-way explode of the
    REGISTER table (64 rows/day), not of events; every aggregation is
    map-side-combinable max/sum; the estimator sums exact powers of two,
    so the double arithmetic is order-independent and hash-exact across
    engines."""
    ev = t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    e = ev.select(d.alias("d"), "user_id", h.alias("h"))
    w = F.col("h").bitwiseAND(F.lit((1 << 54) - 1))
    rho = F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - F.length(F.bin(w)))
    day_reg = (
        e.select("d", F.shiftright(F.col("h"), 54).alias("reg"), rho.alias("rho"))
        .groupBy("d", "reg")
        .agg(F.max("rho").alias("mx"))
    )
    off = F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off")
    contrib = day_reg.select("d", "reg", "mx", off).select(
        (F.col("d") + F.col("off")).alias("t"), "reg", "mx"
    )
    wau_reg = contrib.groupBy("t", "reg").agg(F.max("mx").alias("mx"))

    def est(grouped, alias):
        empty = (F.lit(64) - F.count(F.lit(1))).cast("double")
        raw = (
            F.lit(0.709)
            * F.lit(4096.0)
            / (F.sum(F.pow(F.lit(2.0), -F.col("mx"))) + empty)
        )
        corrected = F.when(
            (empty > 0) & (raw <= 160.0),
            F.lit(64.0) * F.log(F.lit(64.0) / empty),
        ).otherwise(raw)
        return grouped.agg(F.round(corrected, 2).alias(alias))

    we = est(wau_reg.groupBy("t"), "wau_est")
    de = est(day_reg.groupBy(F.col("d").alias("t")), "dau_est")
    du = e.select("d", "user_id").distinct()
    wx = (
        du.select("d", "user_id", off)
        .select((F.col("d") + F.col("off")).alias("t"), "user_id")
        .groupBy("t")
        .agg(F.countDistinct("user_id").alias("wau_exact"))
    )
    dx = du.groupBy(F.col("d").alias("t")).agg(
        F.countDistinct("user_id").alias("dau_exact")
    )
    spine = e.select("d").distinct()
    return (
        spine.join(de, spine["d"] == de["t"])
        .join(dx, spine["d"] == dx["t"])
        .join(we, spine["d"] == we["t"])
        .join(wx, spine["d"] == wx["t"])
        .select(
            F.date_add(
                F.lit("1970-01-01").cast("date"), F.col("d").cast("int")
            ).alias("day"),
            "dau_est",
            "dau_exact",
            "wau_est",
            "wau_exact",
        )
    )


# ---------------------------------------------------------------------------
# IVF cell as the physical partition key (the claim, materialized)
# ---------------------------------------------------------------------------


def _register_ivf_partitioned():
    """Register with sim_ann_ivf's oracle verbatim: the LAYOUT changes,
    the answer must not."""
    from target_parquet_spark.queries import ORACLES

    @query("scan_ivf_partitioned", ORACLES["sim_ann_ivf"])
    def scan_ivf_partitioned(spark, sf_dir):
        """``sim_ann_ivf`` docstrings claim "at 100 TB the cell is the
        partition key and probing prunes the scan to nprobe/16" — this
        query MATERIALIZES that layout and runs the probe against it:
        the embedding table is written once ``partitionBy('cell')``
        (assignment = the same literal-argmax expression), and the
        2-cell probe becomes a directory-level ``PartitionFilters``
        prune (pinned by plan test) — vectors outside the probed cells
        are never read, not merely filtered.  Same oracle as
        ``sim_ann_ivf``: the layout changes, the answer must not.
        """
        import math
        import os

        from target_parquet_spark.io.layout import _tag, warehouse_dir

        emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        codebook = S.ivf_codebook(emb, n_centroids=16)
        # Key the materialized layout on the DATA, not just the path: if the
        # files under sf_dir are regenerated (the .scratch workflow), a
        # path-only tag would re-probe a fresh codebook against STALE stored
        # cell assignments.  content_fingerprint = row count + xor of
        # per-row content hashes; the codebook rides in `extra` — the
        # content xor is what catches regenerations confined to NON-seed
        # rows (the codebook is just the first 16 vectors, so centroids
        # alone would reuse a stale layout whenever only vec_id >= 16
        # rows changed).
        from target_parquet_spark.io.layout import content_fingerprint

        fp = content_fingerprint(
            emb,
            ["vec_id", "embedding"],
            extra=tuple(
                (cid, tuple(round(x, 6) for x in v), round(nrm, 6))
                for cid, v, nrm in codebook
            ),
        )
        name = f"ivf_embeddings_{_tag(sf_dir)}_{fp}"
        path = os.path.join(warehouse_dir(), name)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            (
                emb.withColumn("cell", S.ivf_cell(F.col("embedding"), codebook))
                .write.mode("overwrite")
                .partitionBy("cell")
                .parquet(path)
            )
        stored = spark.read.parquet(path)
        qv = [
            float(x)
            for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
        ]
        probe = S.ivf_probe_cells(qv, codebook, nprobe=2)
        qnorm = math.sqrt(sum(x * x for x in qv))
        qlit = F.array(*[F.lit(x) for x in qv])
        return (
            stored.filter(F.col("cell").isin(probe))
            .select(
                "vec_id",
                "cell",
                F.round(
                    S.dot(F.col("embedding"), qlit)
                    / (S.norm(F.col("embedding")) * F.lit(qnorm)),
                    4,
                ).alias("sim"),
            )
            .filter(F.col("sim") >= 0.1)
        )

    return scan_ivf_partitioned


_register_ivf_partitioned()


# ---------------------------------------------------------------------------
# l-diversity audit (companion of audit_k_anonymity)
# ---------------------------------------------------------------------------


@query(
    "audit_l_diversity",
    """
    WITH g AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id, count(*) AS cnt
      FROM events GROUP BY event_type, day, user_id),
    s AS (
      SELECT event_type, day, cnt,
             cnt * 1.0 / sum(cnt) OVER (PARTITION BY event_type, day)
               AS share
      FROM g),
    grp AS (
      SELECT event_type, day,
             count(*) AS n_distinct,
             sum(cnt) AS n_rows,
             round(-sum(share * ln(share)), 4) AS entropy
      FROM s GROUP BY event_type, day)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(n_distinct) AS BIGINT) AS min_diversity,
           CAST(count(*) FILTER (WHERE n_distinct < 3) AS BIGINT)
             AS n_violating,
           CAST(coalesce(sum(n_rows) FILTER (WHERE n_distinct < 3), 0)
                AS BIGINT) AS n_rows_at_risk,
           round(min(entropy), 4) AS min_entropy,
           CAST(CASE WHEN min(n_distinct) >= 3 THEN 1 ELSE 0 END AS INTEGER)
             AS l3_satisfied
    FROM grp
    """,
)
def audit_l_diversity(spark, sf_dir):
    """l-diversity audit over the same quasi-identifier as
    ``audit_k_anonymity`` (event_type, day), with user_id as the
    sensitive attribute: k-anonymity bounds group SIZE, but a size-50
    group where every row belongs to one user still re-identifies —
    each group must contain >= l distinct sensitive values (and, by the
    entropy criterion reported alongside, spread them evenly).  The
    release gate pairs both audits before a training-data export.

    Plan shape: one map-combinable count shuffle on (QI, sensitive) —
    cardinality-bounded, never row-bounded — then a per-QI aggregate
    and a scalar rollup.  Entropy is computed from within-group shares
    (window over the same partitioning the groupBy just produced) and
    rounded in both engines before the min."""
    e = t(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
        "user_id",
    ).agg(F.count(F.lit(1)).alias("cnt"))
    wg = Window.partitionBy("event_type", "day")
    share = F.col("cnt") / F.sum("cnt").over(wg)
    g2 = g.withColumn("share", share)
    grp = g2.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_distinct"),
        F.sum("cnt").alias("n_rows"),
        F.round(-F.sum(F.col("share") * F.log(F.col("share"))), 4).alias(
            "entropy"
        ),
    )
    return grp.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("n_distinct").cast("long").alias("min_diversity"),
        F.count(F.when(F.col("n_distinct") < 3, 1))
        .cast("long")
        .alias("n_violating"),
        F.coalesce(F.sum(F.when(F.col("n_distinct") < 3, F.col("n_rows"))), F.lit(0))
        .cast("long")
        .alias("n_rows_at_risk"),
        F.round(F.min("entropy"), 4).alias("min_entropy"),
        F.when(F.min("n_distinct") >= 3, 1)
        .otherwise(0)
        .cast("int")
        .alias("l3_satisfied"),
    )
