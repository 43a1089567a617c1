"""Round-5 fourth-wave operators: HITS hubs/authorities over the k-NN
graph, hybrid lexical+dense retrieval fused with Reciprocal Rank Fusion,
sign-bit (binary-quantized) Hamming ANN, and a Bayesian beta-posterior
A/B read-out.

Reference context: hotgluexyz/target-parquet implements none of these
(SURVEY.md §2.10 — the reference's §2 surface is pyarrow ingest glue,
`target_parquet/sinks.py`); all four are standard pieces of a
large-scale training-data / retrieval pipeline:

- HITS (Kleinberg 1999) separates *hub* vectors (whose neighbor lists
  cover many distinct regions) from *authority* vectors (appearing in
  many other vectors' top-k) — on an asymmetric k-NN graph the two
  roles genuinely differ, and authorities are the natural medoid
  candidates for cluster seeding.
- RRF (Cormack et al. 2009) is the default fusion rule for hybrid
  BM25+dense retrieval in every production RAG stack — rank-based, so
  no score calibration between the two retrievers is needed.
- Binary quantization (1 bit/dim + Hamming re-rank) is the cheapest ANN
  index: 64x smaller than float32, distance = one XOR + popcount —
  completing the quantization family next to SQ8 / PQ / IVF-PQ.
- The beta-posterior read-out is the Bayesian twin of the Welch-t
  `events_ab_experiment`: exact integer conversion counts, closed-form
  posterior moments.

Oracle contract as everywhere in this repo: integer micro-unit
quantization before every rank/normalization, every computed column
aliased identically in Spark and DuckDB, deterministic tie-breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from target_parquet_spark.lineage import cut
from target_parquet_spark.operators import similarity as S
from target_parquet_spark.queries import query, t
from target_parquet_spark.queries_ext import (
    SQL_CC_CTES,
    SQL_CORPUS,
    SQL_MINHASH_PAIR_CTES,
    SQL_TOKS,
    sql_bucket,
    td,
)
from target_parquet_spark.queries_ops import _SQL_HASH_MOD, _hash_mod
from target_parquet_spark.queries_r4 import _B, _BM25_TERMS, _K1
from target_parquet_spark.queries_r6 import _SQL_BUCKET4, _SQL_KNN
from target_parquet_spark.queries_r9 import (
    _cos_micro,
    _cos_micro_safe,
    _sql_cos_micro,
    _sql_cos_micro_safe,
)

# ---------------------------------------------------------------------------
# HITS hubs & authorities over the directed k-NN graph
# ---------------------------------------------------------------------------

_HITS_ITERS = 3


def _sql_hits_ctes(iters: int) -> str:
    """Unrolled HITS CTE chain over an ``e(u, v)`` edge CTE — the DuckDB
    twin of operators/graph.hits.  Scores are integer micro-units; each
    half-round is an exact BIGINT edge sum, an exact BIGINT total, and
    one float multiply+divide on identical integers — so the serial
    oracle and Spark's parallel sums cannot drift (the reason the L1
    norm is integer, not float)."""
    norm = (
        "{o} AS (SELECT nd.node, CASE WHEN t.s > 0 THEN "
        "CAST(round(coalesce(r.raw, 0) * 1000000.0 / t.s) AS BIGINT) "
        "ELSE 0::BIGINT END AS sc "
        "FROM nd LEFT JOIN {r} r USING (node) CROSS JOIN {t} t)"
    )
    parts = [
        "nd AS (SELECT u AS node FROM e UNION SELECT v AS node FROM e)",
        "h0 AS (SELECT node, 1000000::BIGINT AS sc FROM nd)",
    ]
    for k in range(1, iters + 1):
        parts.append(
            f"ar{k} AS (SELECT e.v AS node, CAST(sum(h.sc) AS BIGINT) AS raw"
            f" FROM e JOIN h{k - 1} h ON h.node = e.u GROUP BY e.v)"
        )
        parts.append(
            f"at{k} AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM ar{k})"
        )
        parts.append(norm.format(o=f"a{k}", r=f"ar{k}", t=f"at{k}"))
        parts.append(
            f"hr{k} AS (SELECT e.u AS node, CAST(sum(a.sc) AS BIGINT) AS raw"
            f" FROM e JOIN a{k} a ON a.node = e.v GROUP BY e.u)"
        )
        parts.append(
            f"ht{k} AS (SELECT CAST(sum(raw) AS BIGINT) AS s FROM hr{k})"
        )
        parts.append(norm.format(o=f"h{k}", r=f"hr{k}", t=f"ht{k}"))
    return ",\n    ".join(parts)


@query(
    "graph_hits_knn",
    f"""
    WITH {_SQL_KNN},
    e AS (SELECT src AS u, nbr AS v FROM r WHERE nbr_rank <= 3),
    {_sql_hits_ctes(_HITS_ITERS)}
    SELECT h.node AS vec_id, h.sc AS hub_micro, a.sc AS auth_micro
    FROM h{_HITS_ITERS} h JOIN a{_HITS_ITERS} a USING (node)
    """,
)
def graph_hits_knn(spark, sf_dir):
    """HITS hubs & authorities (3 rounds) over the DIRECTED
    k-NN graph (k=3): the edge u->v ("v is in u's top-3") is asymmetric,
    so hub and authority roles genuinely differ — authorities sit in
    many vectors' neighbor lists (the density medoids a downstream
    cluster-seeding or keep-one policy wants); hubs point at many
    authorities.  Completes the centrality family next to PageRank
    (symmetric dupweb) and TrustRank (seeded).

    Determinism: operators/graph.hits keeps scores in integer
    micro-units with an integer L1 norm per half-round — exact BIGINT
    sums in any order; the single float multiply+divide per node sees
    identical integers in both engines.  Oracle replays the rounds as
    unrolled CTEs over the shared _SQL_KNN edge fragment.

    Plan shape for 100 TB: edges come from the WRITTEN k-NN artifact
    (queries_r7.knn_edge_artifact — fingerprint-keyed, built once per
    corpus, adaptive-plane above the ladder threshold), so the measured
    path is one parquet scan, not a re-derived bucketed self-join; each
    HITS half-round is one edge-key join + one groupBy + a broadcast
    1-row integer total.  Per-node state is two 8-byte ints."""
    from target_parquet_spark.operators.graph import hits
    from target_parquet_spark.queries_r7 import knn_edge_artifact

    edges = knn_edge_artifact(spark, sf_dir)
    return hits(edges, src="src", dst="nbr", iters=_HITS_ITERS).select(
        F.col("node").alias("vec_id"), "hub_micro", "auth_micro"
    )


# ---------------------------------------------------------------------------
# hybrid retrieval: BM25 + dense cosine fused with Reciprocal Rank Fusion
# ---------------------------------------------------------------------------

_RRF_K = 60  # the canonical RRF damping constant (Cormack et al. 2009)
_RRF_DEPTH = 50  # per-retriever candidate depth
_RRF_TOPK = 20
_RRF_QVEC = 0  # probe document: dense query = its embedding

_SQL_BM25_MICRO = f"""
    d AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM documents),
    base AS (SELECT doc_id, toks, len(toks) AS dl FROM d WHERE len(toks) > 0),
    stats AS (SELECT count(*) AS n, avg(CAST(dl AS DOUBLE)) AS avgdl
              FROM base),
    tok AS (SELECT doc_id, dl, unnest(toks) AS token FROM base),
    qtf AS (SELECT doc_id, dl, token, count(*) AS tf FROM tok
            WHERE token IN {_BM25_TERMS!r} GROUP BY doc_id, dl, token),
    qdf AS (SELECT token, count(*) AS df FROM qtf GROUP BY token),
    lexs AS (
      SELECT q.doc_id,
             CAST(round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * (q.tf * ({_K1} + 1.0))
                 / (q.tf + {_K1} * (1.0 - {_B} + {_B} * q.dl / s.avgdl)))
                 * 10000) AS BIGINT) AS s_q
      FROM qtf q JOIN qdf d ON q.token = d.token CROSS JOIN stats s
      WHERE q.doc_id <> {_RRF_QVEC}
      GROUP BY q.doc_id)
"""


@query(
    "sim_rrf_hybrid",
    f"""
    WITH {_SQL_BM25_MICRO},
    lex AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY s_q DESC, doc_id)
                        AS BIGINT) AS lex_rank
            FROM lexs
            ORDER BY s_q DESC, doc_id LIMIT {_RRF_DEPTH}),
    qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {_RRF_QVEC}),
    dens AS (SELECT e.vec_id AS doc_id,
                    {_sql_cos_micro('e.embedding', 'qv.q')} AS sim_micro
             FROM embeddings e CROSS JOIN qv
             WHERE e.vec_id <> {_RRF_QVEC}),
    den AS (SELECT doc_id,
                   CAST(row_number() OVER (ORDER BY sim_micro DESC, doc_id)
                        AS BIGINT) AS dense_rank
            FROM dens
            ORDER BY sim_micro DESC, doc_id LIMIT {_RRF_DEPTH}),
    fused AS (
      SELECT coalesce(l.doc_id, dn.doc_id) AS doc_id,
             l.lex_rank, dn.dense_rank,
             coalesce(CAST(round(1000000.0 / ({_RRF_K} + l.lex_rank))
                           AS BIGINT), 0)
               + coalesce(CAST(round(1000000.0 / ({_RRF_K} + dn.dense_rank))
                               AS BIGINT), 0) AS rrf_micro
      FROM lex l FULL OUTER JOIN den dn ON l.doc_id = dn.doc_id)
    SELECT doc_id, lex_rank, dense_rank, rrf_micro
    FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {_RRF_TOPK}
    """,
)
def sim_rrf_hybrid(spark, sf_dir):
    """Hybrid retrieval with Reciprocal Rank Fusion: the BM25 lexical
    retriever (fixed 3-term query, text_bm25_search's scoring) and the
    dense cosine retriever (query = doc 0's embedding, the
    probe doc held out of both candidate sets) each produce a
    depth-50 ranking; RRF fuses them as
    sum(1/(60+rank)) — rank-based, so no score calibration
    between retrievers is needed (Cormack et al. 2009).  A doc missing
    from one list simply contributes nothing from that list.

    Determinism: both retrievers rank on micro-quantized scores with a
    doc_id tie-break; each 1/(60+rank) term is micro-quantized
    before the sum, so the fused score is an exact integer.

    Plan shape for 100 TB: each retriever ends in
    TakeOrderedAndProject (distributed top-50, no global
    sort); ranks are assigned by a window over the ALREADY-truncated
    50-row set (single tiny partition by construction, not a
    data-sized window).  The fusion join is 50x50
    rows — driver-scale, broadcast.  BM25's explode keeps only
    query-term matches (3 terms); the dense pass is one broadcast
    vector against the scan."""
    # -- lexical side: BM25 micro-scores (text_bm25_search's pipeline) --
    from target_parquet_spark.operators import text as X

    docs = td(spark, sf_dir, "documents").select(
        "doc_id", X.tokens(F.col("text")).alias("toks")
    )
    base = docs.withColumn("dl", F.size("toks")).filter(F.col("dl") > 0)
    stats = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    qtf = (
        base.select("doc_id", "dl", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "dl", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # df over the FULL corpus (the probe doc is held out of candidates,
    # not of the collection statistics)
    qdf = qtf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    qtf = qtf.filter(F.col("doc_id") != _RRF_QVEC)
    idf = F.log(1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tf_part = (F.col("tf") * (_K1 + 1.0)) / (
        F.col("tf") + _K1 * (1.0 - _B + _B * F.col("dl") / F.col("avgdl"))
    )
    lexs = (
        qtf.join(F.broadcast(qdf), "token")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            # 4dp, not micro: the per-doc score is a float SUM whose
            # order differs across engines (parallel vs serial) — 1e-4
            # quantization absorbs the ulp drift (text_bm25_search's
            # proven granularity); ties break on doc_id in both engines.
            F.round(F.sum(idf * tf_part) * 10000)
            .cast("long")
            .alias("s_q")
        )
    )
    w_lex = Window.orderBy(F.desc("s_q"), F.asc("doc_id"))
    lex = (
        lexs.orderBy(F.desc("s_q"), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("lex_rank", F.row_number().over(w_lex).cast("long"))
        .select("doc_id", "lex_rank")
    )
    # -- dense side: cosine against the probe embedding --
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = F.broadcast(
        emb.filter(F.col("vec_id") == _RRF_QVEC).select(
            F.col("embedding").alias("_q")
        )
    )
    dens = (
        emb.filter(F.col("vec_id") != _RRF_QVEC)
        .crossJoin(qv)
        .select(
            F.col("vec_id").alias("doc_id"),
            _cos_micro(F.col("embedding"), F.col("_q")).alias("sim_micro"),
        )
    )
    w_den = Window.orderBy(F.desc("sim_micro"), F.asc("doc_id"))
    den = (
        dens.orderBy(F.desc("sim_micro"), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("dense_rank", F.row_number().over(w_den).cast("long"))
        .select("doc_id", "dense_rank")
    )
    # -- fuse --
    rrf_term = lambda r: F.coalesce(  # noqa: E731
        F.round(1000000.0 / (_RRF_K + F.col(r))).cast("long"), F.lit(0)
    )
    fused = lex.join(den, "doc_id", "full").select(
        "doc_id",
        "lex_rank",
        "dense_rank",
        (rrf_term("lex_rank") + rrf_term("dense_rank")).alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), "doc_id").limit(_RRF_TOPK)


# ---------------------------------------------------------------------------
# binary-quantized (sign-bit) Hamming ANN
# ---------------------------------------------------------------------------

_BQ_TOPK = 10
_BQ_QVEC = 0

# 64 dims packed as two 32-bit halves (a single 64-bit pack would need
# bit 63 = the BIGINT sign bit; integer SUM of distinct powers stays
# exact and portable only below it).  {v} = array expr, {off} = 0 | 32.
_SQL_PACK32 = (
    "CAST(list_sum(list_transform(range(1, 33), i -> CASE WHEN "
    "{v}[i + {off}] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) "
    "AS BIGINT)"
)


def _sign_pack(v, off: int):
    """Spark twin of _SQL_PACK32: dims [off, off+32) of ``v`` as a
    32-bit sign mask in a BIGINT.  Distinct powers of two — the sum IS
    the bitwise OR, with no overflow below bit 62."""
    powers = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    return F.aggregate(
        F.zip_with(
            F.slice(v, off + 1, 32),
            powers,
            lambda x, p: F.when(x > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


@query(
    "sim_binary_hamming_ann",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_SQL_PACK32.format(v='embedding', off=0)} AS lo,
                      {_SQL_PACK32.format(v='embedding', off=32)} AS hi
               FROM embeddings),
    q AS (SELECT embedding AS qv, lo AS qlo, hi AS qhi FROM b
          WHERE vec_id = {_BQ_QVEC})
    SELECT b.vec_id,
           CAST(bit_count(xor(b.lo, q.qlo))
                + bit_count(xor(b.hi, q.qhi)) AS BIGINT) AS hamming,
           CASE WHEN {_sql_cos_micro_safe('b.embedding', 'q.qv')} > -2000000
                THEN round({_sql_cos_micro_safe('b.embedding', 'q.qv')}
                           / 1000000.0, 4) END AS cos_sim
    FROM b CROSS JOIN q
    WHERE b.vec_id <> {_BQ_QVEC}
    ORDER BY hamming, b.vec_id LIMIT {_BQ_TOPK}
    """,
)
def sim_binary_hamming_ann(spark, sf_dir):
    """Binary-quantized ANN: each 64-dim embedding collapses to its
    sign bits (1 bit/dim, a 64x compression over float32), candidate
    distance = Hamming (one XOR + popcount per 32-bit half), top-10
    re-ranked deterministically with exact cosine reported alongside —
    the cheapest member of the quantization family (SQ8 -> PQ -> IVF-PQ
    -> 1-bit), and the standard first-stage filter before float
    re-ranking at corpus scale.

    Packing: dims split into two 32-bit halves because a single 64-bit
    mask would place dim 63 on the BIGINT sign bit — integer sums of
    distinct powers stay exact and engine-portable only below it.

    Plan shape for 100 TB: the pack is a scan-stage codegen fold (the
    index would be materialized once as two BIGINT columns — 16 bytes
    per vector instead of 256); the probe broadcasts one query row;
    distance is XOR+bit_count inside whole-stage codegen; the top-k is
    TakeOrderedAndProject.  No shuffle at all."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    b = emb.select(
        "vec_id",
        "embedding",
        _sign_pack(F.col("embedding"), 0).alias("lo"),
        _sign_pack(F.col("embedding"), 32).alias("hi"),
    )
    q = F.broadcast(
        b.filter(F.col("vec_id") == _BQ_QVEC).select(
            F.col("embedding").alias("_qv"),
            F.col("lo").alias("_qlo"),
            F.col("hi").alias("_qhi"),
        )
    )
    ham = F.bit_count(F.col("lo").bitwiseXOR(F.col("_qlo"))) + F.bit_count(
        F.col("hi").bitwiseXOR(F.col("_qhi"))
    )
    return (
        b.filter(F.col("vec_id") != _BQ_QVEC)
        .crossJoin(q)
        .select(
            "vec_id",
            ham.cast("long").alias("hamming"),
            # zero-norm vectors (defective embeddings) report NULL
            # cosine instead of crashing ANSI division
            F.when(
                _cos_micro_safe(F.col("embedding"), F.col("_qv"))
                > -2000000,
                F.round(
                    _cos_micro_safe(F.col("embedding"), F.col("_qv"))
                    / 1000000.0,
                    4,
                ),
            ).alias("cos_sim"),
        )
        .orderBy("hamming", "vec_id")
        .limit(_BQ_TOPK)
    )


# ---------------------------------------------------------------------------
# Bayesian A/B read-out (beta posterior on conversion)
# ---------------------------------------------------------------------------


@query(
    "events_bayesian_ab",
    f"""
    WITH u AS (
      SELECT user_id, {_SQL_HASH_MOD.format(c='user_id', m=2)} AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(conv) AS BIGINT) AS x
          FROM u GROUP BY arm),
    p AS (SELECT arm, n, x, x + 1 AS a, n - x + 1 AS b FROM s),
    m AS (SELECT arm, n, x, a, b,
                 1.0 * a / (a + b) AS mean,
                 1.0 * a * b / ((1.0 * (a + b)) * (a + b) * (a + b + 1)) AS var
          FROM p),
    ab AS (SELECT
             max(CASE WHEN arm = 0 THEN n END) AS n_a,
             max(CASE WHEN arm = 1 THEN n END) AS n_b,
             max(CASE WHEN arm = 0 THEN x END) AS conv_a,
             max(CASE WHEN arm = 1 THEN x END) AS conv_b,
             max(CASE WHEN arm = 0 THEN mean END) AS mean_a,
             max(CASE WHEN arm = 1 THEN mean END) AS mean_b,
             max(CASE WHEN arm = 0 THEN var END) AS var_a,
             max(CASE WHEN arm = 1 THEN var END) AS var_b
           FROM m),
    z AS (SELECT *, round((mean_b - mean_a) / sqrt(var_a + var_b), 6) AS zq
          FROM ab)
    SELECT n_a, n_b, conv_a, conv_b,
           round(mean_a, 4) AS post_mean_a,
           round(mean_b, 4) AS post_mean_b,
           zq AS z_score,
           round(1.0 / (1.0 + exp(-1.702 * zq)), 4) AS p_b_beats_a
    FROM z
    """,
)
def events_bayesian_ab(spark, sf_dir):
    """Bayesian A/B read-out on CONVERSION (any purchase): users
    hash-assigned to two arms (the same md5 split as
    events_ab_experiment — this is its Bayesian twin), per-arm
    Beta(1,1) posterior over the conversion rate from exact integer
    counts, and P(B beats A) via moment-matched normal approximation
    with the logistic CDF surrogate (sigmoid(1.702*z) — Zelen & Severo
    1964; labeled an approximation, exact closed form needs the
    incomplete beta).  On this hash split it is an A/A test, so
    p_b_beats_a should hover near 0.5 — which is the read-out working.

    Determinism: posterior parameters are integers (counts + prior), so
    both engines compute moments from identical values; z is quantized
    to 6dp BEFORE the sigmoid so both engines take exp of the same
    number.

    Plan shape for 100 TB: one user_id shuffle for per-user conversion
    flags, then a 2-row integer aggregate; everything after is
    driver-scale arithmetic on one row."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .withColumn("arm", _hash_mod(F.col("user_id"), 2))
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("conv").cast("long").alias("x"),
    )
    a, b = F.col("x") + 1, F.col("n") - F.col("x") + 1
    mean = 1.0 * a / (a + b)
    var = 1.0 * a * b / ((1.0 * (a + b)) * (a + b) * (a + b + 1))
    m = s.select("arm", "n", "x", mean.alias("mean"), var.alias("var"))
    ab = m.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c2}_{l}")
            for arm, l in ((0, "a"), (1, "b"))
            for c, c2 in (("n", "n"), ("x", "conv"), ("mean", "mean"), ("var", "var"))
        ]
    )
    zq = F.round(
        (F.col("mean_b") - F.col("mean_a"))
        / F.sqrt(F.col("var_a") + F.col("var_b")),
        6,
    )
    return ab.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round("mean_a", 4).alias("post_mean_a"),
        F.round("mean_b", 4).alias("post_mean_b"),
        zq.alias("z_score"),
        F.round(1.0 / (1.0 + F.exp(-1.702 * zq)), 4).alias("p_b_beats_a"),
    )


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup with a centroid-diversity keep rule
# ---------------------------------------------------------------------------

_SD_TAU_MICRO = 970000  # pairwise cosine >= 0.97 = semantic duplicate

# integer-micro embedding: round(x * 1e6) — the exactness anchor for
# every centroid sum below ({v} = array expr, {i} = 1-based index expr)
_SQL_EMB_MICRO = "CAST(round({v}[{i}] * 1000000) AS BIGINT)"

# candidate generation INSIDE a cluster: two independent 8-plane fine
# families, OR-amplified — a near-dup pair is a candidate if it agrees
# on either sub-bucket (exact twins agree on both by construction).
# This bounds in-cluster pair volume by sub-bucket occupancy instead of
# cluster occupancy (the cluster self-join is quadratic at scale — the
# sf1 probe caught it); the recall trade is the dedup family's standard
# banded-LSH contract (dedup_minhash_lsh_pairs).
_SD_SUB_A = sql_bucket(S.plane_weights(n_planes=8, dim=64, table=1))
_SD_SUB_B = sql_bucket(S.plane_weights(n_planes=8, dim=64, table=2))


@query(
    "dedup_semdedup",
    f"""
    WITH raw0 AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding
      FROM embeddings WHERE vec_id % 3 = 0),
    base AS (
      SELECT vec_id, embedding,
             {_SQL_BUCKET4.format(v='embedding')} AS cluster,
             {_SD_SUB_A.format(v='embedding')} AS sub_a,
             {_SD_SUB_B.format(v='embedding')} AS sub_b
      FROM raw0),
    ex AS (SELECT vec_id, cluster, u.i AS pos,
                  {_SQL_EMB_MICRO.format(v='embedding', i='u.i')} AS m
           FROM base, unnest(range(1, 65)) AS u(i)),
    cs AS (SELECT cluster, pos, CAST(sum(m) AS BIGINT) AS s,
                  CAST(count(*) AS BIGINT) AS n
           FROM ex GROUP BY cluster, pos),
    cm AS (SELECT cluster, pos, CAST(round(1.0 * s / n) AS BIGINT) AS c
           FROM cs),
    vs AS (SELECT e.vec_id, e.cluster,
                  CAST(sum(e.m * c.c) AS BIGINT) AS dot_c,
                  CAST(sum(e.m * e.m) AS BIGINT) AS nv2,
                  CAST(sum(c.c * c.c) AS BIGINT) AS nc2
           FROM ex e JOIN cm c ON c.cluster = e.cluster AND c.pos = e.pos
           GROUP BY e.vec_id, e.cluster),
    rk AS (SELECT vec_id, cluster,
                  CAST(round(dot_c / (sqrt(nv2) * sqrt(nc2)) * 1000000)
                       AS BIGINT) AS cc_micro,
                  CAST(row_number() OVER (
                       PARTITION BY cluster
                       ORDER BY CAST(round(dot_c / (sqrt(nv2) * sqrt(nc2))
                                           * 1000000) AS BIGINT),
                                vec_id) AS BIGINT) AS rank_div
           FROM vs),
    rkb AS (SELECT r.vec_id, r.cluster, r.rank_div, b.sub_a, b.sub_b
            FROM rk r JOIN base b USING (vec_id)),
    cand AS (
      SELECT a.vec_id AS aid, k.vec_id AS kid
      FROM rkb a JOIN rkb k
        ON k.cluster = a.cluster AND k.sub_a = a.sub_a
       AND k.rank_div < a.rank_div
      UNION
      SELECT a.vec_id AS aid, k.vec_id AS kid
      FROM rkb a JOIN rkb k
        ON k.cluster = a.cluster AND k.sub_b = a.sub_b
       AND k.rank_div < a.rank_div),
    drop_set AS (
      SELECT DISTINCT c.aid AS vec_id
      FROM cand c
      JOIN base ba ON ba.vec_id = c.aid
      JOIN base bk ON bk.vec_id = c.kid
      WHERE {_sql_cos_micro('ba.embedding', 'bk.embedding')}
              >= {_SD_TAU_MICRO})
    SELECT r.vec_id, r.cluster,
           round(r.cc_micro / 1000000.0, 4) AS cos_centroid,
           r.rank_div,
           d.vec_id IS NULL AS keep
    FROM rk r LEFT JOIN drop_set d ON d.vec_id = r.vec_id
    """,
)
def dedup_semdedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): cluster the embedding space, and
    inside each cluster drop every item that has a semantic duplicate
    (pairwise cosine >= 0.97) ranked more diverse than itself — rank =
    ascending similarity to the cluster centroid, so of each duplicate
    group the member FARTHEST from the cluster core survives (the
    paper's diversity-keeping rule; tie on vec_id).  The corpus is
    augmented with exact twins of every third vector so the keep
    decision is exercised (same planted-twin pattern as
    sim_embedding_dedup).  Clusters here are the 16 LSH cells; in
    production the trained k-means codebook cells (kmeans_codebook)
    play that role.

    Determinism (the part float centroids would break): embeddings are
    micro-quantized to integers at the scan, per-dim centroid sums are
    exact BIGINT in any order, the centroid is re-quantized to an
    integer micro vector (round(s/n) of identical integers), and every
    dot/norm after that is a sum of bounded integer products (<= 64 *
    1e12 — far inside BIGINT).  Pairwise cosine uses the sequential
    per-row fold both engines share.

    Candidate generation is NOT the cluster self-join (quadratic in
    cluster occupancy — the sf0.1->sf1 probe caught it): a duplicate
    pair must also agree on one of TWO independent 8-plane fine
    sub-buckets (OR-amplified; exact twins agree on both), so pair
    volume is bounded by sub-bucket occupancy.  The recall trade is
    the dedup family's standard banded-LSH contract, and the oracle
    replays the identical candidate rule.

    Plan shape for 100 TB: the 64x dim explode is the exactness price,
    paid once per vector into a (cluster, pos) aggregate that
    map-side-combines to |clusters| * 64 rows; the keep rule is two
    (cluster, sub-bucket)-keyed self-joins with the cheap rank
    precondition applied BEFORE the expensive pair cosine
    (verify-before-distinct convention), unioned and deduped on
    16-byte id pairs before the verify."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.unionByName(
        emb.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    # ONE implementation of the keep rule (operators/similarity.
    # semdedup_keep — review r6: two hand-synced copies had already
    # drifted on the pair-verify quantization); the fixed twin is the
    # operator with its granularity pinned to the oracle's plane counts.
    return S.semdedup_keep(
        base, tau_micro=_SD_TAU_MICRO, cluster_planes=4, sub_planes=8
    ).select(
        F.col("id").alias("vec_id"),
        "cluster",
        "cos_centroid",
        "rank_div",
        "keep",
    )


@query("dedup_semdedup_scaled")
def dedup_semdedup_scaled(spark, sf_dir):
    """SemDeDup's scale path (`operators/similarity.semdedup_keep`):
    the SAME keep rule as the oracle-pinned ``dedup_semdedup`` but with
    BOTH granularity levels adaptive — coarse cell count AND fine
    sub-bucket plane count derive from ceil(log2(n/occupancy)), so
    per-cell centroid work and per-sub-bucket candidate volume stay
    constant as the corpus grows (the fixed twin's 16 cells + 8-plane
    sub-buckets measured 4.16x/decade at sf10 — granularity frozen
    while density grows).  Same fixed-vs-adaptive split as
    sim_semantic_clusters[_scaled] and sim_knn_graph_scaled.

    No SQL oracle: both plane counts are functions of corpus size no
    static SQL can replay (rows-only driver check); correctness is
    pinned by (a) the planted-twin test — an exact duplicate agrees on
    every bucket at every level, so each planted pair must have exactly
    one member dropped — and (b) the fixed twin staying hash-exact."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    base = emb.unionByName(
        emb.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
        )
    )
    return S.semdedup_keep(base).withColumnRenamed("id", "vec_id")


# ---------------------------------------------------------------------------
# always-valid sequential A/B monitor (normal mSPRT)
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 10000.0  # mixture variance (cents^2) — fixed plan-time prior
_MSPRT_ALPHA = 0.05  # reject when log-Lambda > ln(1/alpha)


@query(
    "events_msprt_monitor",
    f"""
    WITH obs AS (
      SELECT CAST(ts AS DATE) AS day,
             {_SQL_HASH_MOD.format(c='user_id', m=2)} AS arm,
             CAST(round(sum(value) * 100) AS BIGINT) AS v
      FROM events GROUP BY CAST(ts AS DATE), user_id),
    daily AS (
      SELECT day, arm, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(v * v) AS BIGINT) AS s2
      FROM obs GROUP BY day, arm),
    scaf AS (
      SELECT d.day, a.arm,
             coalesce(dl.n, 0) AS n, coalesce(dl.s1, 0) AS s1,
             coalesce(dl.s2, 0) AS s2
      FROM (SELECT DISTINCT day FROM daily) d
      CROSS JOIN (SELECT unnest([0, 1]) AS arm) a
      LEFT JOIN daily dl ON dl.day = d.day AND dl.arm = a.arm),
    cum AS (
      SELECT day, arm,
             CAST(sum(n) OVER w AS BIGINT) AS n,
             CAST(sum(s1) OVER w AS BIGINT) AS s1,
             CAST(sum(s2) OVER w AS BIGINT) AS s2
      FROM scaf
      WINDOW w AS (PARTITION BY arm ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    ab AS (
      SELECT day,
             max(CASE WHEN arm = 0 THEN n END) AS n_a,
             max(CASE WHEN arm = 1 THEN n END) AS n_b,
             max(CASE WHEN arm = 0 THEN s1 END) AS s1_a,
             max(CASE WHEN arm = 1 THEN s1 END) AS s1_b,
             max(CASE WHEN arm = 0 THEN s2 END) AS s2_a,
             max(CASE WHEN arm = 1 THEN s2 END) AS s2_b
      FROM cum GROUP BY day),
    st AS (
      SELECT day, n_a, n_b,
             1.0 * s1_b / n_b - 1.0 * s1_a / n_a AS delta,
             ((1.0 * s2_a - 1.0 * s1_a * s1_a / n_a)
              + (1.0 * s2_b - 1.0 * s1_b * s1_b / n_b))
               / (n_a + n_b - 2) * (1.0 / n_a + 1.0 / n_b) AS v
      FROM ab
      WHERE n_a > 1 AND n_b > 1),
    lr AS (
      SELECT day, n_a, n_b, delta, v,
             round(0.5 * ln(v / (v + {_MSPRT_TAU2}))
                   + delta * delta * {_MSPRT_TAU2}
                     / (2.0 * v * (v + {_MSPRT_TAU2})), 4) AS log_lambda
      FROM st WHERE v > 0)
    SELECT day, n_a, n_b,
           round(delta / 100.0, 4) AS mean_diff,
           round(delta / sqrt(v), 4) AS z,
           log_lambda,
           log_lambda > ln(1.0 / {_MSPRT_ALPHA}) AS reject
    FROM lr
    """,
)
def events_msprt_monitor(spark, sf_dir):
    """Always-valid sequential A/B monitor: the normal mixture
    sequential probability ratio test (mSPRT — Johari et al. 2017, the
    'peeking-safe' test every experimentation platform runs daily).
    Observations are per-user-day spend (integer cents), arms the
    standard md5 hash split; per day the monitor reports the cumulative
    mean difference, the naive z, and log Lambda_t = 0.5*ln(V/(V+tau2))
    + delta^2*tau2/(2V(V+tau2)) where V is the Welch variance of the
    running mean difference and tau2 the fixed mixture prior — crossing
    ln(1/alpha) is a valid stop at ANY day, unlike the z threshold.
    On this A/A split the monitor should never reject — which is the
    calibration property the test pins.

    Determinism: all inputs to the float math are exact integer-cent
    power sums accumulated by a per-arm day window (cardinality =
    days — bounded); log Lambda is rounded at 4dp.  A day x arm
    scaffold zero-fills arms with no events that day, so cumulative
    state carries forward and no monitoring day is silently dropped.

    Plan shape for 100 TB: one (day, user) shuffle for daily per-user
    spend, one (day, arm) aggregate (map-side combined), then windows
    and arithmetic over |days| rows — driver-scale."""
    obs = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.col("ts").cast("date").alias("day"),
            "user_id",
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("v"))
        .withColumn("arm", _hash_mod(F.col("user_id"), 2))
    )
    return msprt_readout(obs)


def msprt_readout(obs):
    """The mSPRT read-out over ``(day, arm, v)`` observation rows —
    shared by the batch query above and the streaming monitor
    (``streaming/sequential_monitor.py``), so the two surfaces cannot
    drift.  See ``events_msprt_monitor`` for the math and scaffold
    contract."""
    daily = obs.groupBy("day", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"),
    )
    return msprt_readout_from_moments(daily)


def msprt_readout_from_moments(daily):
    """The read-out from pre-aggregated (day, arm, n, s1, s2) moment
    rows — split out (r10) so the streaming monitor's compacted-moments
    fast read feeds the SAME scaffold/window/stat code the batch query
    and the slow fold use; only the moment ACCUMULATION differs between
    the surfaces, never the math."""
    # day x arm scaffold: a day where one arm happens to have no events
    # must still carry that arm's cumulative state forward (a boundary
    # crossing on such a day would otherwise be silently dropped)
    scaf = (
        daily.select("day")
        .distinct()
        .select(
            "day", F.explode(F.array(F.lit(0), F.lit(1))).alias("arm")
        )
        .join(daily, ["day", "arm"], "left")
        .select(
            "day",
            "arm",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.coalesce("s1", F.lit(0)).alias("s1"),
            F.coalesce("s2", F.lit(0)).alias("s2"),
        )
    )
    w = (
        Window.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = scaf.select(
        "day",
        "arm",
        F.sum("n").over(w).cast("long").alias("n"),
        F.sum("s1").over(w).cast("long").alias("s1"),
        F.sum("s2").over(w).cast("long").alias("s2"),
    )
    ab = cum.groupBy("day").agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c2}_{l}")
            for arm, l in ((0, "a"), (1, "b"))
            for c, c2 in (("n", "n"), ("s1", "s1"), ("s2", "s2"))
        ]
    )
    delta = 1.0 * F.col("s1_b") / F.col("n_b") - 1.0 * F.col("s1_a") / F.col(
        "n_a"
    )
    v = (
        (
            (1.0 * F.col("s2_a") - 1.0 * F.col("s1_a") * F.col("s1_a") / F.col("n_a"))
            + (1.0 * F.col("s2_b") - 1.0 * F.col("s1_b") * F.col("s1_b") / F.col("n_b"))
        )
        / (F.col("n_a") + F.col("n_b") - 2)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    st = ab.filter((F.col("n_a") > 1) & (F.col("n_b") > 1)).select(
        "day", "n_a", "n_b", delta.alias("delta"), v.alias("v")
    )
    t2 = _MSPRT_TAU2
    log_lambda = F.round(
        0.5 * F.log(F.col("v") / (F.col("v") + t2))
        + F.col("delta")
        * F.col("delta")
        * t2
        / (2.0 * F.col("v") * (F.col("v") + t2)),
        4,
    )
    return st.filter(F.col("v") > 0).select(
        "day",
        "n_a",
        "n_b",
        F.round(F.col("delta") / 100.0, 4).alias("mean_diff"),
        F.round(F.col("delta") / F.sqrt("v"), 4).alias("z"),
        log_lambda.alias("log_lambda"),
        (log_lambda > float(math.log(1.0 / _MSPRT_ALPHA))).alias(
            "reject"
        ),
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U rank-sum test (nonparametric A/B)
# ---------------------------------------------------------------------------


@query(
    "events_mann_whitney",
    f"""
    WITH u AS (
      SELECT user_id, {_SQL_HASH_MOD.format(c='user_id', m=2)} AS arm,
             CAST(round(sum(value) * 100) AS BIGINT) AS v
      FROM events GROUP BY user_id),
    g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cnt_b
          FROM u GROUP BY v),
    r AS (SELECT v, cnt, cnt_b,
                 CAST(coalesce(sum(cnt) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
          FROM g),
    s AS (SELECT
            CAST(sum(cnt) AS BIGINT) AS n,
            CAST(sum(cnt_b) AS BIGINT) AS n_b,
            CAST(sum(cnt_b * (2 * cum_before + cnt + 1)) AS BIGINT)
              AS two_rb,
            sum(1.0 * cnt * cnt * cnt - cnt) AS tie3
          FROM r),
    stat AS (SELECT n, n - n_b AS n_a, n_b,
                    (two_rb - n_b * (n_b + 1)) / 2.0 AS u_b,
                    1.0 * (n - n_b) * n_b / 2.0 AS mean_u,
                    1.0 * (n - n_b) * n_b / 12.0
                      * ((n + 1) - 1.0 * tie3 / (n * (n - 1.0))) AS var_u
             FROM s)
    SELECT n_a, n_b,
           round(u_b, 1) AS u_stat,
           round((u_b - mean_u) / sqrt(var_u), 4) AS z,
           round(2.0 / (1.0 + exp(1.702 * abs(round((u_b - mean_u)
                 / sqrt(var_u), 6)))), 4) AS p_two_sided_approx
    FROM stat
    """,
)
def events_mann_whitney(spark, sf_dir):
    """Mann-Whitney U rank-sum test on per-user spend between the two
    hash arms — the nonparametric member of the A/B family (Welch-t:
    events_ab_experiment, Bayesian: events_bayesian_ab): no normality
    assumption on the heavy-tailed spend distribution.  Average ranks
    for ties, the exact tie-corrected normal variance, and the logistic
    CDF surrogate for the two-sided p (labeled an approximation).

    Determinism — and the scale trick: ranks are NEVER assigned per
    row.  Spend is integer cents, so grouping by VALUE gives exact tie
    groups; the average rank of a value is (2*cum_before + cnt + 1)/2,
    so 2*R_B = sum(cnt_b * (2*cum_before + cnt + 1)) is an exact
    integer — no float rank sums, no per-row window.  The only window
    runs over DISTINCT spend values (bounded, far below user count).

    Plan shape for 100 TB: one user_id shuffle, one value-group
    aggregate, a window over distinct values, then one-row arithmetic.
    The classic per-row global rank() (single-partition sort) never
    appears."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value") * 100).cast("long").alias("v"))
        .withColumn("arm", _hash_mod(F.col("user_id"), 2))
    )
    g = u.groupBy("v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("cnt_b"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    r = g.select(
        "v",
        "cnt",
        "cnt_b",
        F.coalesce(F.sum("cnt").over(w), F.lit(0))
        .cast("long")
        .alias("cum_before"),
    )
    s = r.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("cnt_b").cast("long").alias("n_b"),
        F.sum(
            F.col("cnt_b") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("two_rb"),
        F.sum(
            1.0 * F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")
        ).alias("tie3"),
    )
    n, n_b = F.col("n"), F.col("n_b")
    n_a = n - n_b
    u_b = (F.col("two_rb") - n_b * (n_b + 1)) / 2.0
    mean_u = 1.0 * n_a * n_b / 2.0
    var_u = (
        1.0 * n_a * n_b / 12.0
        * ((n + 1) - 1.0 * F.col("tie3") / (n * (n - 1.0)))
    )
    stat = s.select(
        n_a.alias("n_a"),
        n_b.alias("n_b"),
        u_b.alias("u_b"),
        mean_u.alias("mean_u"),
        var_u.alias("var_u"),
    )
    zq = F.round((F.col("u_b") - F.col("mean_u")) / F.sqrt("var_u"), 6)
    return stat.select(
        "n_a",
        "n_b",
        F.round("u_b", 1).alias("u_stat"),
        F.round((F.col("u_b") - F.col("mean_u")) / F.sqrt("var_u"), 4).alias(
            "z"
        ),
        F.round(2.0 / (1.0 + F.exp(1.702 * F.abs(zq))), 4).alias(
            "p_two_sided_approx"
        ),
    )


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peel) over the symmetrized k-NN graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ROUNDS = 4


def _sql_kcore_ctes(k: int, rounds: int) -> str:
    """Unrolled peel rounds over a symmetric ``sym(u, v)`` CTE: each
    round keeps nodes whose degree among SURVIVORS is >= k.  Fixed
    round count (not run-to-fixpoint) keeps the chain replayable; the
    in_core flag below reports the round-``rounds`` survivor set."""
    parts = [
        "n0 AS (SELECT DISTINCT u AS node FROM sym)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS (SELECT s.u AS node, CAST(count(*) AS BIGINT) AS d
             FROM sym s
             JOIN n{r - 1} a ON a.node = s.u
             JOIN n{r - 1} b ON b.node = s.v
             GROUP BY s.u)"""
        )
        parts.append(
            f"n{r} AS (SELECT node FROM d{r} WHERE d >= {k})"
        )
    return ",\n    ".join(parts)


@query(
    "graph_kcore",
    f"""
    WITH {_SQL_KNN},
    e AS (SELECT src, nbr FROM r WHERE nbr_rank <= 3),
    sym AS (SELECT DISTINCT u, v FROM (
              SELECT src AS u, nbr AS v FROM e
              UNION ALL
              SELECT nbr AS u, src AS v FROM e)),
    {_sql_kcore_ctes(_KCORE_K, _KCORE_ROUNDS)}
    SELECT n.node AS vec_id,
           coalesce(d.d, 0) AS initial_degree,
           c.node IS NOT NULL AS in_core
    FROM n0 n
    LEFT JOIN d1 d ON d.node = n.node
    LEFT JOIN n{_KCORE_ROUNDS} c ON c.node = n.node
    """,
)
def graph_kcore(spark, sf_dir):
    """k-core decomposition (k=3, 4 peel rounds) of the symmetrized
    k-NN graph: repeatedly remove nodes with fewer than k surviving
    neighbors — the classic density filter separating the graph's
    cohesive core (dense semantic regions worth downweighting or
    deduplicating aggressively) from its tree-like fringe.  Fixed round
    count, not run-to-fixpoint, so the oracle replays the peel as
    unrolled CTEs; on this corpus the peel converges within the 4
    rounds (pinned by the fixpoint test).

    Plan shape for 100 TB: each round is the edge list joined to the
    survivor set on BOTH endpoints (two hash joins on the same node
    key — AQE reuses the exchange) + one degree aggregate; survivor
    state is one id column.  Edge generation amortizes across the graph
    family via the written k-NN artifact (queries_r7.knn_edge_artifact
    — the measured path reads parquet, it does not re-derive)."""
    from target_parquet_spark.queries_r6 import _symmetrize_degrees
    from target_parquet_spark.queries_r7 import knn_edge_artifact

    edges = knn_edge_artifact(spark, sf_dir)
    sym, _ = _symmetrize_degrees(edges)
    # r7 tail fix: materialize the edge table ONCE, hash-partitioned on
    # v (localCheckpoint freezes the partitioning), and restructure each
    # peel round as  count(active v-neighbors) GROUP BY u  followed by
    # an inner join with the survivor set on the node key — the edge
    # table is never re-exchanged (previously it shuffled twice per
    # round, once per endpoint join); only the node-sized survivor set
    # and the map-side-combined (u, cnt) partials move.  Identical
    # survivor sets: counting pairs with both endpoints active grouped
    # by u == counting active-v neighbors per u then keeping active u.
    sym = cut(sym.repartition("v"), eager=True)
    active = sym.select(F.col("u").alias("node")).distinct()
    n0 = active
    d1 = None
    for r in range(_KCORE_ROUNDS):
        deg = (
            sym.join(active.select(F.col("node").alias("v")), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.count(F.lit(1)).cast("long").alias("d"))
            .join(active, "node")
        )
        if d1 is None:
            d1 = deg
        active = cut(
            deg.filter(F.col("d") >= _KCORE_K).select("node"), eager=True
        )
    return (
        n0.join(d1.withColumnRenamed("d", "_d0"), "node", "left")
        .join(active.withColumn("_core", F.lit(1)), "node", "left")
        .select(
            F.col("node").alias("vec_id"),
            F.coalesce("_d0", F.lit(0)).cast("long").alias("initial_degree"),
            F.col("_core").isNotNull().alias("in_core"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic Poisson bootstrap CI for the mean
# ---------------------------------------------------------------------------

_BOOT_B = 32  # replicates

# Poisson(1) CDF thresholds (cumulative e^-1 * sum 1/j!) — identical
# literals in both engines; a uniform u maps to the smallest k with
# u < CDF(k).
_POIS_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


def _sql_pois_w(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 7 END)"


def _pois_w(u):
    expr = F.lit(7)
    for k, c in reversed(list(enumerate(_POIS_CDF))):
        expr = F.when(u < c, F.lit(k)).otherwise(expr)
    return expr


@query(
    "events_bootstrap_ci",
    f"""
    WITH u AS (
      SELECT user_id, CAST(round(sum(value) * 100) AS BIGINT) AS v
      FROM events GROUP BY user_id),
    rep AS (
      SELECT u.user_id, u.v, b.b,
             {_sql_pois_w(
                 "(('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || ':' || "
                 "CAST(b.b AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0)"
             )} AS w
      FROM u CROSS JOIN (SELECT unnest(range(0, {_BOOT_B})) AS b) b),
    rm AS (
      SELECT b, CAST(sum(w * v) AS BIGINT) AS sv,
             CAST(sum(w) AS BIGINT) AS sw
      FROM rep GROUP BY b),
    means AS (
      SELECT b, 1.0 * sv / sw / 100.0 AS m,
             row_number() OVER (ORDER BY 1.0 * sv / sw, b) AS rk
      FROM rm WHERE sw > 0),
    pt AS (SELECT 1.0 * sum(v) / count(*) / 100.0 AS mean_obs,
                  CAST(count(*) AS BIGINT) AS n_users
           FROM u)
    SELECT p.n_users,
           CAST({_BOOT_B} AS BIGINT) AS n_replicates,
           round(p.mean_obs, 4) AS mean_obs,
           round(min(CASE WHEN m.rk = 1 THEN m.m END), 4) AS ci_lo,
           round(min(CASE WHEN m.rk = {_BOOT_B} THEN m.m END), 4) AS ci_hi
    FROM means m CROSS JOIN pt p
    GROUP BY p.n_users, p.mean_obs
    """,
)
def events_bootstrap_ci(spark, sf_dir):
    """Poisson bootstrap CI for mean user spend (Chamandy et al. 2012,
    the Google large-scale bootstrap): each of 32 replicates reweights
    every user by a Poisson(1) draw, replicate means are computed from
    weighted integer sums, and the CI is the (1st, 32nd) order
    statistics of the replicate means (~94% nominal at B=32).  The
    bootstrap is how production metric platforms attach uncertainty to
    arbitrary aggregates without a closed-form variance.

    Determinism (the usual bootstrap is random): the Poisson draw is
    the inverse CDF applied to a uniform derived from md5(user:b) — the
    same hash-as-randomness convention as the sampling family, so both
    engines draw identical weights and the CI is exactly reproducible.

    Plan shape for 100 TB: one user_id shuffle, then a 32x explode of
    per-user (v, b) pairs into a 32-row aggregate (map-side combined —
    the explode never shuffles); order statistics over 32 rows are
    driver-scale.  B scales the explode linearly; the replicate
    aggregate stays 32 rows regardless of corpus size."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value") * 100).cast("long").alias("v"))
    )
    rep = u.select(
        "user_id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).select(
        "v",
        "b",
        _pois_w(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("user_id").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            / 4294967296.0
        ).alias("w"),
    )
    rm = rep.groupBy("b").agg(
        F.sum(F.col("w") * F.col("v")).cast("long").alias("sv"),
        F.sum("w").cast("long").alias("sw"),
    )
    m = 1.0 * F.col("sv") / F.col("sw") / 100.0
    means = (
        rm.filter(F.col("sw") > 0)
        .select("b", m.alias("m"))
        .withColumn("rk", F.row_number().over(Window.orderBy("m", "b")))
    )
    pt = F.broadcast(
        u.agg(
            (1.0 * F.sum("v") / F.count(F.lit(1)) / 100.0).alias("mean_obs"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
    )
    return (
        means.crossJoin(pt)
        .groupBy("n_users", "mean_obs")
        .agg(
            F.min(F.when(F.col("rk") == 1, F.col("m"))).alias("_lo"),
            F.min(F.when(F.col("rk") == _BOOT_B, F.col("m"))).alias("_hi"),
        )
        .select(
            "n_users",
            F.lit(_BOOT_B).cast("long").alias("n_replicates"),
            F.round("mean_obs", 4).alias("mean_obs"),
            F.round("_lo", 4).alias("ci_lo"),
            F.round("_hi", 4).alias("ci_hi"),
        )
    )


# ---------------------------------------------------------------------------
# propensity-score matching (observational causal inference)
# ---------------------------------------------------------------------------

# pretrained logistic weights over (1, log1p(n_events), n_types,
# log1p(total_value)) — plan-time literal model state, the same seam as
# text_quality_logreg; the trained-GD variant follows the
# text_quality_logreg_trained pattern if needed.
_PSM_W = (-2.0, 0.4, 0.15, 0.1)
_PSM_CALIPER_MICRO = 50000  # 0.05 propensity caliper


@query(
    "events_propensity_match",
    f"""
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    fe AS (SELECT user_id,
                  CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END
                    AS treated
           FROM o WHERE rn = 1),
    agg AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_ev,
             CAST(count(DISTINCT event_type) AS BIGINT) AS n_ty,
             CAST(round(sum(value) * 100) AS BIGINT) AS spend_c
      FROM events GROUP BY user_id),
    f AS (SELECT a.user_id, fe.treated, a.n_ev, a.n_ty, a.spend_c
          FROM agg a JOIN fe USING (user_id)),
    p AS (
      SELECT user_id, treated, spend_c,
             CAST(round(1.0 / (1.0 + exp(-(
                 {_PSM_W[0]!r} + {_PSM_W[1]!r} * ln(1.0 + n_ev)
                 + {_PSM_W[2]!r} * n_ty
                 + {_PSM_W[3]!r} * ln(1.0 + spend_c / 100.0))))
                 * 1000000) AS BIGINT) AS pm
      FROM f),
    tr AS (SELECT user_id, pm, spend_c FROM p WHERE treated = 1),
    ct AS (SELECT user_id, pm, spend_c,
                  pm // {_PSM_CALIPER_MICRO} AS bk
           FROM p WHERE treated = 0),
    cand AS (
      SELECT t.user_id AS treated_id, t.pm AS p_t, t.spend_c AS y_t,
             c.user_id AS control_id, c.pm AS p_c, c.spend_c AS y_c,
             abs(t.pm - c.pm) AS gap
      FROM tr t
      JOIN (SELECT unnest([-1, 0, 1]) AS o) o ON TRUE
      JOIN ct c ON c.bk = t.pm // {_PSM_CALIPER_MICRO} + o.o
      WHERE abs(t.pm - c.pm) <= {_PSM_CALIPER_MICRO}),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY treated_id
                                   ORDER BY gap, control_id) AS rk
      FROM cand)
    SELECT treated_id, control_id,
           round(p_t / 1000000.0, 4) AS p_treated,
           round(p_c / 1000000.0, 4) AS p_control,
           round((y_t - y_c) / 100.0, 2) AS outcome_diff
    FROM best WHERE rk = 1
    """,
)
def events_propensity_match(spark, sf_dir):
    """Propensity-score matching (Rosenbaum & Rubin 1983): treatment =
    the user's FIRST event is a signup (the "joined via the signup
    flow" cohort, ~20% of users — first-touch, so the treated/control
    split is a real partition, unlike ever-signed-up which is nearly
    universal here); propensity = pretrained logistic over activity
    features (literal model state, the text_quality_logreg seam); every
    treated user matched with replacement to its nearest control within
    a 0.05 caliper; per-pair outcome difference (spend) is the ATT
    ingredient.  Treated users with no control inside the caliper are
    dropped (standard caliper matching).

    Scale design — the reason this is NOT a global sort-merge AND not a
    banded pair join: nearest-propensity matching is a 1-D nearest-
    neighbor problem.  The oracle states the declarative spec (banded
    candidates + argmin), but a literal band join is QUADRATIC when
    propensities concentrate in few caliper buckets (the sf0.1->sf1
    probe measured 24x for 10x data).  The Spark plan instead unions
    treated+controls per caliper bucket (controls replicated into +-1
    buckets, so every within-caliper neighbor is present), sorts once
    per bucket, and takes each treated row's nearest control below and
    above via running min/max struct windows — O(n log n) per bucket,
    no pair materialization.  Result rows are IDENTICAL to the banded
    argmin: same-side equal gaps share a pm (the struct tie picks the
    lowest id), cross-side ties compare (gap, control_id) explicitly.
    Extreme propensity skew at 100 TB calls for quantile range
    partitioning of pm instead of fixed-width buckets.

    Determinism: propensity is micro-quantized before bucketing and
    matching; gap is an integer; ties break on control_id."""
    e = t(spark, sf_dir, "events")
    w_first = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fe = (
        e.withColumn("rn", F.row_number().over(w_first))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.when(F.col("event_type") == "signup", 1)
            .otherwise(0)
            .alias("treated"),
        )
    )
    agg = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.countDistinct("event_type").cast("long").alias("n_ty"),
        F.round(F.sum("value") * 100).cast("long").alias("spend_c"),
    )
    f = agg.join(fe, "user_id")
    w0, w1, w2, w3 = _PSM_W
    logit = (
        F.lit(w0)
        + w1 * F.log(1.0 + F.col("n_ev"))
        + w2 * F.col("n_ty")
        + w3 * F.log(1.0 + F.col("spend_c") / 100.0)
    )
    p = f.select(
        "user_id",
        "treated",
        "spend_c",
        F.round(1.0 / (1.0 + F.exp(-logit)) * 1000000)
        .cast("long")
        .alias("pm"),
    )
    # ONE pass over the per-user features (a treated/control union
    # would recompute the whole two-scan feature subtree per branch):
    # controls replicate into the +-1 neighbor buckets (so every
    # control within the caliper of a treated row is inside its
    # bucket); treated rows stay in their own bucket only
    both = (
        p.select(
            F.col("user_id").alias("uid"),
            F.col("pm"),
            F.col("spend_c").alias("y"),
            F.col("treated").alias("is_t"),
            F.explode(
                F.when(
                    F.col("treated") == 1, F.array(F.lit(0))
                ).otherwise(F.array(F.lit(-1), F.lit(0), F.lit(1)))
            ).alias("o"),
        )
        .withColumn(
            "bk",
            (F.col("pm") / _PSM_CALIPER_MICRO).cast("long") + F.col("o"),
        )
        .drop("o")
    )
    # per bucket: sorted once; controls sort before treated at equal pm
    # so a zero-gap control is visible in the "prev" frame
    # BOTH directions as running-PREFIX frames: Spark's WindowExec is
    # incremental only for UnboundedPreceding..CurrentRow; a
    # CurrentRow..UnboundedFollowing max/min re-aggregates per row —
    # O(rows^2) per bucket (the sf10 probe measured minutes per task).
    # The "next" side therefore runs over the REVERSED sort order: the
    # prefix of (pm DESC, is_t DESC, uid DESC) is exactly the ASC
    # following-frame including the current row.
    order = [F.col("pm"), F.col("is_t"), F.col("uid")]
    w_prev = (
        Window.partitionBy("bk")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("bk")
        .orderBy(
            F.col("pm").desc(), F.col("is_t").desc(), F.col("uid").desc()
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c_struct = F.when(
        F.col("is_t") == 0,
        F.struct(
            F.col("pm").alias("cpm"),
            (-F.col("uid")).alias("nid"),
            F.col("y").alias("cy"),
        ),
    )
    n_struct = F.when(
        F.col("is_t") == 0,
        F.struct(
            F.col("pm").alias("cpm"),
            F.col("uid").alias("cid"),
            F.col("y").alias("cy"),
        ),
    )
    scanned = (
        both.withColumn("_prev", F.max(c_struct).over(w_prev))
        .withColumn("_next", F.min(n_struct).over(w_next))
        .filter(F.col("is_t") == 1)
    )
    gp = F.col("pm") - F.col("_prev.cpm")
    gn = F.col("_next.cpm") - F.col("pm")
    prev_ok = F.coalesce(
        F.col("_prev").isNotNull() & (gp <= _PSM_CALIPER_MICRO), F.lit(False)
    )
    next_ok = F.coalesce(
        F.col("_next").isNotNull() & (gn <= _PSM_CALIPER_MICRO), F.lit(False)
    )
    prev_id = -F.col("_prev.nid")
    # nearest by gap; equal gaps -> lowest control id (banded-argmin spec)
    prev_wins = prev_ok & (
        ~next_ok
        | (gp < gn)
        | ((gp == gn) & (prev_id <= F.col("_next.cid")))
    )
    return (
        scanned.filter(prev_ok | next_ok)
        .select(
            F.col("uid").alias("treated_id"),
            F.when(prev_wins, prev_id)
            .otherwise(F.col("_next.cid"))
            .alias("control_id"),
            F.round(F.col("pm") / 1000000.0, 4).alias("p_treated"),
            F.round(
                F.when(prev_wins, F.col("_prev.cpm")).otherwise(
                    F.col("_next.cpm")
                )
                / 1000000.0,
                4,
            ).alias("p_control"),
            F.round(
                (
                    F.col("y")
                    - F.when(prev_wins, F.col("_prev.cy")).otherwise(
                        F.col("_next.cy")
                    )
                )
                / 100.0,
                2,
            ).alias("outcome_diff"),
        )
    )


# ---------------------------------------------------------------------------
# multi-format sources: CSV and JSONL round-trips through the warehouse
# ---------------------------------------------------------------------------

# integer content checksum shared by the round-trip queries and their
# oracles: any mangling of text by the interchange format breaks the sum
_SQL_TEXT_CRC = (
    "(('0x' || substr(md5({c}), 1, 8))::BIGINT)"
)


def _text_crc(c):
    """Spark twin of _SQL_TEXT_CRC: first 8 md5 hex chars as BIGINT."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


_SQL_DOCS_CHECKSUM = f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum({_SQL_TEXT_CRC.format(c='text')}) AS BIGINT)
             AS content_crc
    FROM documents GROUP BY lang
"""


def _docs_checksum(df):
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        F.sum(_text_crc(F.col("text"))).cast("long").alias("content_crc"),
    )


def _roundtrip_artifact(spark, sf_dir, fmt: str):
    """Materialize documents in ``fmt`` (csv | json) under the warehouse
    (content-fingerprinted, two-phase build — the scan_schema_evolution
    pattern) and read it back with an EXPLICIT schema."""
    import os

    from target_parquet_spark.io.layout import (
        _tag,
        content_fingerprint,
        two_phase_artifact,
        warehouse_dir,
    )

    docs = td(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    fp = content_fingerprint(
        docs, ["doc_id", "n_chars", "text"], extra=(f"roundtrip_{fmt}",)
    )
    path = os.path.join(warehouse_dir(), f"rt_{fmt}_{_tag(sf_dir)}_{fp}")

    def _build(tmp):
        w = docs.write.mode("overwrite")
        if fmt == "csv":
            # RFC-4180 quoting (doubled quotes) so embedded quotes,
            # commas and newlines in text survive the round-trip
            w.options(header=True, quoteAll=True, escape='"').csv(tmp)
        elif fmt == "orc":
            w.orc(tmp)
        elif fmt == "xml":
            # Spark 4 native XML (the spark-xml package merged upstream):
            # one <doc> element per row, entity-escaped text content
            w.format("xml").options(rootTag="docs", rowTag="doc").save(tmp)
        else:
            w.json(tmp)

    two_phase_artifact(path, "_RT_DONE", _build)
    schema = (
        "doc_id long, lang string, source string, n_chars long, text string"
    )
    if fmt == "csv":
        return spark.read.schema(schema).options(
            header=True, multiLine=True, escape='"'
        ).csv(path)
    if fmt == "orc":
        return spark.read.schema(schema).orc(path)
    if fmt == "xml":
        return (
            spark.read.schema(schema)
            .format("xml")
            .option("rowTag", "doc")
            .load(path)
        )
    return spark.read.schema(schema).json(path)


@query("scan_csv_source", _SQL_DOCS_CHECKSUM)
def scan_csv_source(spark, sf_dir):
    """CSV as a source format: documents written to RFC-4180-quoted CSV
    (quoteAll + doubled-quote escape) in the warehouse, read back with
    an explicit schema + multiLine, and checksummed per language.  The
    oracle computes the identical checksum over the ORIGINAL parquet —
    equality proves the interchange format preserved every byte of
    text (embedded quotes, commas, newlines) and every numeric column.

    Plan shape: schema is explicit, so no inference pass; multiLine CSV
    is the one format where a file is a split boundary (quoted newlines
    make rows non-splittable) — the warehouse artifact is written from
    the source partitioning, so parallelism survives as one file per
    input partition.  At 100 TB you ingest CSV once and convert to
    parquet (this query IS that conversion's verification gate)."""
    return _docs_checksum(_roundtrip_artifact(spark, sf_dir, "csv"))


@query("scan_jsonl_source", _SQL_DOCS_CHECKSUM)
def scan_jsonl_source(spark, sf_dir):
    """JSON-lines as a source format: the same round-trip gate as
    scan_csv_source through Spark's json writer/reader (one JSON object
    per line, \\n and unicode escaped by the writer).  JSONL splits by
    line, so unlike multiLine CSV the scan parallelizes within files;
    explicit schema skips inference.  Together with Singer files
    (SingerTarget.read_records) and parquet this completes the
    source-format matrix."""
    return _docs_checksum(_roundtrip_artifact(spark, sf_dir, "json"))


# ---------------------------------------------------------------------------
# readability scoring (Flesch reading ease)
# ---------------------------------------------------------------------------

# syllable proxy: runs of vowels (incl. y) per word — the standard
# dictionary-free approximation; identical regex both engines
_SQL_SYL = (
    "greatest(len(regexp_extract_all(lower({c}), '[aeiouy]+')), 1)"
)


@query(
    "text_readability",
    f"""
    WITH d AS (
      SELECT doc_id, lang, {SQL_TOKS.format(c='text')} AS toks,
             greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sent
      FROM documents),
    w AS (SELECT doc_id, lang, n_sent,
                 CAST(len(toks) AS BIGINT) AS n_words,
                 CAST((SELECT sum({_SQL_SYL.format(c='tk')})
                       FROM unnest(toks) AS u(tk)) AS BIGINT) AS n_syl
          FROM d WHERE len(toks) > 0),
    f AS (SELECT doc_id, lang,
                 round(206.835 - 1.015 * (1.0 * n_words / n_sent)
                       - 84.6 * (1.0 * n_syl / n_words), 4) AS flesch
          FROM w)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(flesch), 4) AS mean_flesch,
           CAST(sum(CASE WHEN flesch < 30 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_very_hard,
           CAST(sum(CASE WHEN flesch >= 70 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_easy
    FROM f GROUP BY lang
    """,
)
def text_readability(spark, sf_dir):
    """Flesch reading-ease per language (Flesch 1948): 206.835 -
    1.015*(words/sentences) - 84.6*(syllables/word), with the standard
    dictionary-free syllable proxy (runs of vowels incl. y, min 1 per
    word) — the readability screen quality pipelines run next to the
    Gopher heuristics (a corpus whose mean Flesch collapses is OCR
    garbage or boilerplate, not prose).  Reported per language with
    very-hard (<30) and easy (>=70) tail counts.

    Determinism: words/sentences/syllables are integer counts from the
    shared tokenizer and identical regexes; per-doc flesch is rounded
    4dp before the per-lang mean (avg of identical rounded doubles —
    sum order immaterial at 4dp output rounding).

    Plan shape for 100 TB: pure scan-stage expressions (two
    regexp_extract_all + one fold over tokens), one lang aggregate —
    no joins, no windows, map-side combined."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    from target_parquet_spark.operators import text as X

    toks = X.tokens(F.col("text"))
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    w = docs.select(
        "doc_id",
        "lang",
        n_sent.alias("n_sent"),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, tk: acc
            + F.greatest(
                F.size(
                    F.regexp_extract_all(
                        F.lower(tk), F.lit("[aeiouy]+"), F.lit(0)
                    )
                ),
                F.lit(1),
            ).cast("long"),
        ).alias("n_syl"),
    ).filter(F.col("n_words") > 0)
    flesch = F.round(
        206.835
        - 1.015 * (1.0 * F.col("n_words") / F.col("n_sent"))
        - 84.6 * (1.0 * F.col("n_syl") / F.col("n_words")),
        4,
    )
    f = w.select("lang", flesch.alias("flesch"))
    return f.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(F.avg("flesch"), 4).alias("mean_flesch"),
        F.sum(F.when(F.col("flesch") < 30, 1).otherwise(0))
        .cast("long")
        .alias("n_very_hard"),
        F.sum(F.when(F.col("flesch") >= 70, 1).otherwise(0))
        .cast("long")
        .alias("n_easy"),
    )


@query("scan_orc_source", _SQL_DOCS_CHECKSUM)
def scan_orc_source(spark, sf_dir):
    """ORC as a source format: the same warehouse round-trip gate as
    scan_csv_source/scan_jsonl_source through Spark's native ORC
    writer/reader (columnar + footer statistics like parquet, the
    Hive-ecosystem interchange format).  DuckDB cannot read ORC, so the
    oracle — as for every round-trip query — checksums the ORIGINAL
    parquet: equality proves byte-exact preservation.  Completes the
    source matrix: parquet, CSV, JSONL, ORC, Singer."""
    return _docs_checksum(_roundtrip_artifact(spark, sf_dir, "orc"))


# ---------------------------------------------------------------------------
# deterministic random walks over the k-NN graph (node2vec-style sampler)
# ---------------------------------------------------------------------------

_WALK_LEN = 4

_SQL_WALK_H = (
    "md5(CAST({cur} AS VARCHAR) || ':{step}:' || CAST({nbr} AS VARCHAR))"
)


def _sql_walk_ctes(steps: int) -> str:
    parts = ["w0 AS (SELECT DISTINCT src AS start, src AS cur FROM e)"]
    for s in range(1, steps + 1):
        parts.append(
            f"""w{s} AS (
          SELECT start,
                 min(struct_pack(h := {_SQL_WALK_H.format(
                     cur='w.cur', step=s, nbr='e.nbr')},
                                 nbr := e.nbr)).nbr AS cur
          FROM w{s - 1} w JOIN e ON e.src = w.cur
          GROUP BY start)"""
        )
    return ",\n    ".join(parts)


@query(
    "graph_random_walk",
    f"""
    WITH {_SQL_KNN},
    e AS (SELECT src, nbr FROM r WHERE nbr_rank <= 3),
    {_sql_walk_ctes(_WALK_LEN)}
    SELECT start,
           {", ".join(f"w{s}.cur AS step{s}" for s in range(1, _WALK_LEN + 1))}
    FROM w1 {" ".join(f"JOIN w{s} USING (start)" for s in range(2, _WALK_LEN + 1))}
    """,
)
def graph_random_walk(spark, sf_dir):
    """Length-4 pseudo-random walk from EVERY node of the directed k-NN
    graph — the node2vec/DeepWalk sampling primitive that feeds graph
    embedding training.  "Random" is the repo's hash-as-randomness
    convention: at step s the walker at ``cur`` moves to the neighbor
    minimizing md5(cur:s:nbr) — uniform over neighbors, reproducible
    across engines and reruns (a seeded PRNG would be neither), and
    varying by step so walks do not 2-cycle.

    Determinism: the argmin is min(struct(h, nbr)) — lexicographic on
    (hash, nbr) in both engines, so even an md5 collision ties
    deterministically.

    Plan shape for 100 TB: each step is one walkers-join-edges on the
    current-node key + a per-walker argmin aggregate (map-side
    combined) — walk state is 2 ids per walker; k bounds the per-step
    candidate fan-out at 3.  The loop runs over the WRITTEN k-NN edge
    artifact (queries_r7.knn_edge_artifact), and W independent walks
    per node just add a walk_id to the key."""
    from target_parquet_spark.queries_r7 import knn_edge_artifact

    edges = knn_edge_artifact(spark, sf_dir).select("src", "nbr")
    walkers = edges.select(F.col("src").alias("start")).distinct().select(
        "start", F.col("start").alias("cur")
    )
    outs = []
    for s in range(1, _WALK_LEN + 1):
        h = F.md5(
            F.concat_ws(
                "", F.col("cur").cast("string"), F.lit(f":{s}:"),
                F.col("nbr").cast("string"),
            )
        )
        walkers = (
            walkers.join(edges, walkers["cur"] == edges["src"])
            .groupBy("start")
            .agg(
                F.min(F.struct(h.alias("h"), F.col("nbr").alias("nbr")))[
                    "nbr"
                ].alias("cur")
            )
        )
        outs.append(walkers.select("start", F.col("cur").alias(f"step{s}")))
    res = outs[0]
    for o in outs[1:]:
        res = res.join(o, "start")
    return res


# ---------------------------------------------------------------------------
# cohort LTV curves
# ---------------------------------------------------------------------------


@query(
    "events_cohort_ltv",
    """
    WITH fu AS (
      SELECT user_id,
             CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id),
    cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_users
           FROM fu GROUP BY cohort_week),
    rev AS (
      SELECT f.cohort_week,
             CAST(datediff('week', f.cohort_week,
                           CAST(date_trunc('week', e.ts) AS DATE))
                  AS BIGINT) AS age_weeks,
             CAST(round(sum(e.value) * 100) AS BIGINT) AS rev_c
      FROM events e JOIN fu f USING (user_id)
      GROUP BY 1, 2),
    cum AS (
      SELECT cohort_week, age_weeks,
             CAST(sum(rev_c) OVER (PARTITION BY cohort_week
                    ORDER BY age_weeks
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_rev_c
      FROM rev)
    SELECT c.cohort_week, c.age_weeks, s.cohort_users,
           round(c.cum_rev_c / 100.0, 2) AS cum_revenue,
           round(c.cum_rev_c / 100.0 / s.cohort_users, 4) AS ltv_per_user
    FROM cum c JOIN cs s USING (cohort_week)
    """,
)
def events_cohort_ltv(spark, sf_dir):
    """Cohort LTV curves: users grouped by first-seen week, cumulative
    revenue per cohort by age-in-weeks, normalized per cohort user —
    the value-dimension companion to events_retention_cohorts (which
    counts activity; this accumulates spend).  The curve every
    growth/finance readout starts from.

    Determinism: revenue in integer cents; the cumulative window runs
    over (cohort, age) aggregate rows — cardinality weeks x weeks.

    Plan shape for 100 TB: one user_id shuffle for first-seen, one
    broadcast-sized cohort join back to events (fu is |users| rows —
    at extreme scale it shuffles on user_id, the key events already
    hash by), one (cohort, age) aggregate, windows over week-grain
    rows."""
    e = t(spark, sf_dir, "events")
    fu = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    cs = fu.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = (
        e.join(fu, "user_id")
        .groupBy(
            "cohort_week",
            (
                F.floor(
                    F.datediff(
                        F.date_trunc("week", F.col("ts")).cast("date"),
                        F.col("cohort_week"),
                    )
                    / 7
                )
            )
            .cast("long")
            .alias("age_weeks"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("rev_c"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("age_weeks")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.select(
        "cohort_week",
        "age_weeks",
        F.sum("rev_c").over(w).cast("long").alias("cum_rev_c"),
    )
    return cum.join(cs, "cohort_week").select(
        "cohort_week",
        "age_weeks",
        "cohort_users",
        F.round(F.col("cum_rev_c") / 100.0, 2).alias("cum_revenue"),
        F.round(
            F.col("cum_rev_c") / 100.0 / F.col("cohort_users"), 4
        ).alias("ltv_per_user"),
    )


# ---------------------------------------------------------------------------
# soft dedup: down-weight duplicate groups instead of dropping
# ---------------------------------------------------------------------------


@query(
    "sample_soft_dedup_weights",
    f"""
    WITH RECURSIVE {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES},
    {SQL_CC_CTES},
    gs AS (SELECT component_id, CAST(count(*) AS BIGINT) AS group_size
           FROM comp GROUP BY component_id)
    SELECT c.doc_id AS doc_id,
           coalesce(g.group_size, 1) AS group_size,
           CAST(round(1000000.0 / coalesce(g.group_size, 1)) AS BIGINT)
             AS weight_micro
    FROM corpus c
    LEFT JOIN comp USING (doc_id)
    LEFT JOIN gs g USING (component_id)
    """,
)
def sample_soft_dedup_weights(spark, sf_dir):
    """Soft dedup (down-weighting, not dropping): every document in a
    near-dup connected component gets sampling weight 1/group_size, so
    a duplicated document contributes ONE document's worth of expected
    training mass however many copies exist, while singletons keep
    weight 1 — the SoftDeDup alternative to hard removal (duplicates
    often carry quality signal; weight, don't delete).  Consumes the
    SAME minhash-pair + connected-component machinery as
    dedup_connected_components / split_leakage_safe (shared fragments,
    cannot drift).

    Plan shape for 100 TB: the pair/CC stages are the dedup family's
    bucketed path; the weight assignment is two key joins (component
    id, group size) — weights ride as one BIGINT column into whatever
    sampler consumes them (sample_weighted_quality's shape)."""
    from target_parquet_spark.queries_ext import corpus_components

    corpus, comp = corpus_components(spark, sf_dir)
    gs = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    return (
        corpus.select("doc_id")
        .join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .join(gs, "component", "left")
        .select(
            "doc_id",
            F.coalesce("group_size", F.lit(1)).alias("group_size"),
            F.round(1000000.0 / F.coalesce("group_size", F.lit(1)))
            .cast("long")
            .alias("weight_micro"),
        )
    )


# ---------------------------------------------------------------------------
# modularity of the LPA communities
# ---------------------------------------------------------------------------


def _register_graph_modularity():
    from target_parquet_spark.queries_r6 import _SQL_KNN, _SQL_SYM_DEG
    from target_parquet_spark.queries_r8 import _LPA_ROUNDS, _sql_lpa_rounds

    rounds_sql = _sql_lpa_rounds(_LPA_ROUNDS)

    @query(
        "graph_modularity",
        f"""
    WITH {_SQL_KNN},
    {_SQL_SYM_DEG},
    l0 AS (SELECT u AS node, u AS lbl FROM (SELECT DISTINCT u FROM sym)),
    {rounds_sql},
    m2 AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM sym),
    intra AS (
      SELECT a.lbl AS community, CAST(count(*) AS BIGINT) AS e_in
      FROM sym s
      JOIN l{_LPA_ROUNDS} a ON a.node = s.u
      JOIN l{_LPA_ROUNDS} b ON b.node = s.v
      WHERE a.lbl = b.lbl GROUP BY a.lbl),
    dsum AS (
      SELECT l.lbl AS community, CAST(sum(d.d) AS BIGINT) AS d_c,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM l{_LPA_ROUNDS} l JOIN deg d ON d.u = l.node
      GROUP BY l.lbl),
    contrib AS (
      SELECT ds.community, ds.n_nodes,
             CAST(round((coalesce(i.e_in, 0) * 1.0 / m.m2
                   - (ds.d_c * 1.0 / m.m2) * (ds.d_c * 1.0 / m.m2))
                   * 1000000) AS BIGINT) AS q_micro
      FROM dsum ds LEFT JOIN intra i USING (community) CROSS JOIN m2 m)
    SELECT CAST(count(*) AS BIGINT) AS n_communities,
           CAST(max(n_nodes) AS BIGINT) AS largest,
           round(sum(q_micro) / 1000000.0, 4) AS modularity
    FROM contrib
        """,
    )
    def graph_modularity(spark, sf_dir):
        """Newman modularity Q of the LPA communities over the k-NN
        graph — the quality score that tells a curation pipeline
        whether its topical clusters are real structure (Q well above
        0) or noise (Q ~ 0):
        Q = sum_c [ e_c/2m - (d_c/2m)^2 ] computed on the directed
        double-counted edge set (|sym| = 2m).  Shares the LPA round
        CTEs with graph_communities_lpa verbatim, so the partition
        scored is exactly the partition reported there.

        Determinism: per-community contributions are micro-quantized
        from exact integer edge/degree counts BEFORE the cross-
        community sum (float sum order never matters).

        Plan shape for 100 TB: two label joins over the edge list +
        two bounded aggregates; everything keys on node/community
        ids."""
        from target_parquet_spark.operators.graph import lpa_communities
        from target_parquet_spark.queries_r6 import _symmetrize_degrees
        from target_parquet_spark.queries_r7 import knn_edge_artifact

        sym, deg = _symmetrize_degrees(knn_edge_artifact(spark, sf_dir))
        labels = lpa_communities(sym, rounds=_LPA_ROUNDS)
        m2v = sym.agg(F.count(F.lit(1)).cast("long").alias("m2"))
        la = labels.select(
            F.col("node").alias("u"), F.col("lbl").alias("_la")
        )
        lb = labels.select(
            F.col("node").alias("v"), F.col("lbl").alias("_lb")
        )
        intra = (
            sym.join(la, "u")
            .join(lb, "v")
            .filter(F.col("_la") == F.col("_lb"))
            .groupBy(F.col("_la").alias("community"))
            .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
        )
        dsum = (
            labels.join(deg, labels["node"] == deg["u"])
            .groupBy(F.col("lbl").alias("community"))
            .agg(
                F.sum("d").cast("long").alias("d_c"),
                F.count(F.lit(1)).cast("long").alias("n_nodes"),
            )
        )
        contrib = (
            dsum.join(intra, "community", "left")
            .crossJoin(F.broadcast(m2v))
            .select(
                "n_nodes",
                F.round(
                    (
                        F.coalesce("e_in", F.lit(0)) * 1.0 / F.col("m2")
                        - (F.col("d_c") * 1.0 / F.col("m2"))
                        * (F.col("d_c") * 1.0 / F.col("m2"))
                    )
                    * 1000000
                )
                .cast("long")
                .alias("q_micro"),
            )
        )
        return contrib.agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.max("n_nodes").cast("long").alias("largest"),
            F.round(F.sum("q_micro") / 1000000.0, 4).alias("modularity"),
        )

    return graph_modularity


_register_graph_modularity()


# ---------------------------------------------------------------------------
# A/B power analysis (sample-size planning from pilot variance)
# ---------------------------------------------------------------------------

_PWR_Z_ALPHA = 1.959964  # two-sided alpha = 0.05
_PWR_Z_BETA = 0.841621  # power = 0.80
_PWR_Z2 = (_PWR_Z_ALPHA + _PWR_Z_BETA) ** 2


@query(
    "events_power_analysis",
    f"""
    WITH u AS (
      SELECT user_id, CAST(round(sum(value) * 100) AS BIGINT) AS v
      FROM events GROUP BY user_id),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(v) AS BIGINT) AS s1,
                 CAST(sum(v * v) AS BIGINT) AS s2
          FROM u),
    st AS (SELECT n, 1.0 * s1 / n AS mean_c,
                  greatest((1.0 * s2 - 1.0 * s1 * s1 / n) / (n - 1), 0)
                    AS var_c
           FROM s),
    mde AS (SELECT unnest([1, 2, 5, 10]) AS mde_pct)
    SELECT m.mde_pct,
           round(st.mean_c / 100.0, 4) AS pilot_mean,
           round(sqrt(st.var_c) / 100.0, 4) AS pilot_sd,
           CAST(ceil(2.0 * st.var_c * {_PWR_Z2!r}
                / ((st.mean_c * m.mde_pct / 100.0)
                   * (st.mean_c * m.mde_pct / 100.0))) AS BIGINT)
             AS n_per_arm
    FROM mde m CROSS JOIN st
    """,
)
def events_power_analysis(spark, sf_dir):
    """A/B sample-size planning from pilot variance: n per arm =
    2*sigma^2*(z_a + z_b)^2 / delta^2 at alpha=0.05 two-sided, power
    0.80, for minimum detectable effects of 1/2/5/10% of the pilot
    mean — the calculator every experiment starts with, fed by the
    same integer-cents power sums as the rest of the A/B family.

    Determinism: one exact integer power-sum row; four literal MDE
    rows; every float op runs on identical inputs in both engines.

    Plan shape: one user shuffle, one 1-row aggregate, a 4-row literal
    cross join — driver-scale."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value") * 100).cast("long").alias("v"))
    )
    s = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("s2"),
    )
    mean_c = 1.0 * F.col("s1") / F.col("n")
    var_c = F.greatest(
        (1.0 * F.col("s2") - 1.0 * F.col("s1") * F.col("s1") / F.col("n"))
        / (F.col("n") - 1),
        F.lit(0.0),
    )
    st = s.select(mean_c.alias("mean_c"), var_c.alias("var_c"))
    mde = spark.createDataFrame(
        [(1,), (2,), (5,), (10,)], "mde_pct int"
    )
    delta = F.col("mean_c") * F.col("mde_pct") / 100.0
    return mde.crossJoin(F.broadcast(st)).select(
        "mde_pct",
        F.round(F.col("mean_c") / 100.0, 4).alias("pilot_mean"),
        F.round(F.sqrt("var_c") / 100.0, 4).alias("pilot_sd"),
        F.ceil(2.0 * F.col("var_c") * _PWR_Z2 / (delta * delta))
        .cast("long")
        .alias("n_per_arm"),
    )


# ---------------------------------------------------------------------------
# sample-ratio-mismatch (SRM) health check
# ---------------------------------------------------------------------------


@query(
    "events_srm_check",
    f"""
    WITH u AS (
      SELECT user_id, {_SQL_HASH_MOD.format(c='user_id', m=2)} AS arm
      FROM events GROUP BY user_id),
    s AS (SELECT
            CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
            CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM u),
    chi AS (SELECT n_a, n_b,
                   round((n_a - (n_a + n_b) / 2.0)
                         * (n_a - (n_a + n_b) / 2.0)
                         / ((n_a + n_b) / 4.0), 6) AS chi2
            FROM s)
    SELECT n_a, n_b, chi2,
           round(2.0 / (1.0 + exp(1.702 * sqrt(chi2))), 4)
             AS p_approx,
           chi2 > 10.83 AS srm_detected
    FROM chi
    """,
)
def events_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch check — the first health gate every
    experiment readout runs (Fabijan et al. 2019): under a 50/50
    assignment the arm counts follow Binomial(n, 0.5), so the 1-dof
    chi-square chi2 = (n_a - n/2)^2 / (n/4) flags a broken
    randomizer / logging loss when it exceeds the conventional 0.001
    threshold (10.83).  Any downstream significance claim is void when
    SRM fires — which is why this ships alongside the Welch / Bayesian
    / Mann-Whitney / mSPRT readouts.  p is the logistic CDF surrogate
    of the normal tail (|z| = sqrt(chi2)); labeled an approximation.

    Determinism: integer arm counts; chi2 quantized at 6dp before the
    transcendental; threshold compares the quantized value.

    Plan shape: one user_id shuffle, a 1-row integer aggregate,
    driver-scale arithmetic."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.first(F.lit(1)))
        .select("user_id", _hash_mod(F.col("user_id"), 2).alias("arm"))
    )
    s = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    n = F.col("n_a") + F.col("n_b")
    chi2 = F.round(
        (F.col("n_a") - n / 2.0) * (F.col("n_a") - n / 2.0) / (n / 4.0), 6
    )
    return s.select("n_a", "n_b", chi2.alias("chi2")).select(
        "n_a",
        "n_b",
        "chi2",
        F.round(2.0 / (1.0 + F.exp(1.702 * F.sqrt("chi2"))), 4).alias(
            "p_approx"
        ),
        (F.col("chi2") > 10.83).alias("srm_detected"),
    )


# ---------------------------------------------------------------------------
# winsorized-mean A/B and quantile treatment effects
# ---------------------------------------------------------------------------

_WINS_PCT = 99  # winsorize at the pooled p99

# exact type-1 (lower) quantile from value-group cumulative counts: the
# smallest v whose cumulative count reaches ceil(q * n) — integer-exact,
# no per-row global window (the Mann-Whitney machinery)
_SQL_VALUE_GROUPS = """
    u AS (
      SELECT user_id, {arm} AS arm,
             CAST(round(sum(value) * 100) AS BIGINT) AS v
      FROM events GROUP BY user_id),
    g AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM u GROUP BY v),
    r AS (SELECT v, cnt,
                 CAST(sum(cnt) OVER (ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum
          FROM g),
    nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM g)
"""


@query(
    "events_winsorized_ab",
    f"""
    WITH {_SQL_VALUE_GROUPS.format(arm=_SQL_HASH_MOD.format(c='user_id', m=2))},
    cap AS (
      SELECT min(v) AS cap_v FROM r CROSS JOIN nn
      WHERE cum >= CAST(ceil({_WINS_PCT} / 100.0 * n) AS BIGINT)),
    w AS (SELECT arm, least(v, cap.cap_v) AS wv FROM u CROSS JOIN cap),
    s AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(wv) AS BIGINT) AS s1,
                 CAST(sum(wv * wv) AS BIGINT) AS s2
          FROM w GROUP BY arm),
    m AS (SELECT arm, n, 1.0 * s1 / n AS mean,
                 (1.0 * s2 - 1.0 * s1 * s1 / n) / (n - 1) AS var
          FROM s),
    ab AS (SELECT
             max(CASE WHEN arm = 0 THEN n END) AS n_a,
             max(CASE WHEN arm = 1 THEN n END) AS n_b,
             max(CASE WHEN arm = 0 THEN mean END) AS mean_a,
             max(CASE WHEN arm = 1 THEN mean END) AS mean_b,
             max(CASE WHEN arm = 0 THEN var END) AS var_a,
             max(CASE WHEN arm = 1 THEN var END) AS var_b
           FROM m)
    SELECT n_a, n_b,
           round((SELECT cap_v FROM cap) / 100.0, 2) AS cap_value,
           round(mean_a / 100.0, 4) AS wmean_a,
           round(mean_b / 100.0, 4) AS wmean_b,
           round((mean_b - mean_a) / sqrt(var_a / n_a + var_b / n_b), 4)
             AS welch_t
    FROM ab
    """,
)
def events_winsorized_ab(spark, sf_dir):
    """Winsorized-mean A/B read-out: per-user spend clipped at the
    POOLED exact p99 before the Welch comparison — the standard
    heavy-tail treatment (one whale in one arm otherwise owns the
    t-statistic; clipping at a pooled cap keeps the estimator unbiased
    between arms).  Complements events_ab_experiment (raw means) and
    events_mann_whitney (ranks) in the robustness spectrum.

    Determinism — and the scale trick: the p99 is EXACT but computed
    from value-group cumulative counts (the Mann-Whitney machinery),
    never a per-row global sort; the cap is a 1-row broadcast; clipped
    moments are integer power sums.

    Plan shape for 100 TB: one user shuffle, one value-group aggregate
    + a window over DISTINCT spend values, a broadcast cap join, a
    2-row moment aggregate."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value") * 100).cast("long").alias("v"))
        .withColumn("arm", _hash_mod(F.col("user_id"), 2))
    )
    g = u.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    r = g.select(
        "v", "cnt", F.sum("cnt").over(wv).cast("long").alias("cum")
    )
    nn = g.agg(F.sum("cnt").cast("long").alias("n"))
    cap = (
        r.crossJoin(F.broadcast(nn))
        .filter(
            F.col("cum")
            >= F.ceil(_WINS_PCT / 100.0 * F.col("n")).cast("long")
        )
        .agg(F.min("v").alias("cap_v"))
    )
    w = u.crossJoin(F.broadcast(cap)).select(
        "arm", F.least(F.col("v"), F.col("cap_v")).alias("wv"), "cap_v"
    )
    s = w.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("wv").cast("long").alias("s1"),
        F.sum(F.col("wv") * F.col("wv")).cast("long").alias("s2"),
        F.first("cap_v").alias("cap_v"),
    )
    mean = 1.0 * F.col("s1") / F.col("n")
    var = (1.0 * F.col("s2") - 1.0 * F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    m = s.select(
        "arm", "n", "cap_v", mean.alias("mean"), var.alias("var")
    )
    ab = m.agg(
        *[
            F.max(F.when(F.col("arm") == arm, F.col(c))).alias(f"{c}_{l}")
            for arm, l in ((0, "a"), (1, "b"))
            for c in ("n", "mean", "var")
        ],
        F.max("cap_v").alias("cap_v"),
    )
    return ab.select(
        "n_a",
        "n_b",
        F.round(F.col("cap_v") / 100.0, 2).alias("cap_value"),
        F.round(F.col("mean_a") / 100.0, 4).alias("wmean_a"),
        F.round(F.col("mean_b") / 100.0, 4).alias("wmean_b"),
        F.round(
            (F.col("mean_b") - F.col("mean_a"))
            / F.sqrt(
                F.col("var_a") / F.col("n_a") + F.col("var_b") / F.col("n_b")
            ),
            4,
        ).alias("welch_t"),
    )


_QTE_DECILES = (10, 25, 50, 75, 90)


@query(
    "events_quantile_treatment_effect",
    f"""
    WITH u AS (
      SELECT user_id, {_SQL_HASH_MOD.format(c='user_id', m=2)} AS arm,
             CAST(round(sum(value) * 100) AS BIGINT) AS v
      FROM events GROUP BY user_id),
    g AS (SELECT arm, v, CAST(count(*) AS BIGINT) AS cnt
          FROM u GROUP BY arm, v),
    r AS (SELECT arm, v, cnt,
                 CAST(sum(cnt) OVER (PARTITION BY arm ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT) AS cum
          FROM g),
    nn AS (SELECT arm, CAST(sum(cnt) AS BIGINT) AS n FROM g GROUP BY arm),
    q AS (SELECT unnest({list(_QTE_DECILES)}) AS pct),
    qv AS (
      SELECT q.pct, r.arm, min(r.v) AS qv
      FROM q CROSS JOIN r JOIN nn ON nn.arm = r.arm
      WHERE r.cum >= CAST(ceil(q.pct / 100.0 * nn.n) AS BIGINT)
      GROUP BY q.pct, r.arm)
    SELECT pct,
           round(max(CASE WHEN arm = 0 THEN qv END) / 100.0, 2) AS q_a,
           round(max(CASE WHEN arm = 1 THEN qv END) / 100.0, 2) AS q_b,
           round((max(CASE WHEN arm = 1 THEN qv END)
                  - max(CASE WHEN arm = 0 THEN qv END)) / 100.0, 2)
             AS qte
    FROM qv GROUP BY pct
    """,
)
def events_quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effects: the per-arm EXACT spend quantiles
    (p10/p25/p50/p75/p90) and their differences — where in the
    distribution an effect lives (a mean shift from whales looks
    nothing like a median shift from everyone), the distributional
    companion to the mean-based A/B readouts.  On this A/A hash split
    every QTE should hover near 0.

    Determinism & scale: type-1 quantiles from per-arm value-group
    cumulative counts (windows over DISTINCT values per arm) — the
    exact-quantile-without-global-sort trick shared with
    events_mann_whitney / events_winsorized_ab; quantile picks are
    min-aggregates over the (pct, arm) candidate sets."""
    u = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.round(F.sum("value") * 100).cast("long").alias("v"))
        .withColumn("arm", _hash_mod(F.col("user_id"), 2))
    )
    g = u.groupBy("arm", "v").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = (
        Window.partitionBy("arm")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = g.select(
        "arm", "v", F.sum("cnt").over(wv).cast("long").alias("cum")
    )
    nn = g.groupBy("arm").agg(F.sum("cnt").cast("long").alias("n"))
    q = spark.createDataFrame([(p,) for p in _QTE_DECILES], "pct int")
    qv = (
        q.crossJoin(r.join(nn, "arm"))
        .filter(
            F.col("cum")
            >= F.ceil(F.col("pct") / 100.0 * F.col("n")).cast("long")
        )
        .groupBy("pct", "arm")
        .agg(F.min("v").alias("qv"))
    )
    return qv.groupBy("pct").agg(
        F.round(
            F.max(F.when(F.col("arm") == 0, F.col("qv"))) / 100.0, 2
        ).alias("q_a"),
        F.round(
            F.max(F.when(F.col("arm") == 1, F.col("qv"))) / 100.0, 2
        ).alias("q_b"),
        F.round(
            (
                F.max(F.when(F.col("arm") == 1, F.col("qv")))
                - F.max(F.when(F.col("arm") == 0, F.col("qv")))
            )
            / 100.0,
            2,
        ).alias("qte"),
    )
