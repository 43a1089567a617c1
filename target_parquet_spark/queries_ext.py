"""Extension queries: text analysis, dedup, similarity search, multimodal,
and the ingest-operator parity checks.

These register into the same QUERIES/ORACLES registry as queries.py.  The
dedup/similarity oracles reproduce the Spark math exactly in DuckDB SQL
(portable md5 hashing, identical shingle/token definitions, same fold
order for dot products) — so MinHash signatures, LSH candidate pairs and
cosine scores are checked bit-for-bit, not just row counts.

Near-dup corpora: the source ``documents`` table has no duplicates, so
dedup queries build a deterministic augmented corpus inline — each doc is
unioned with a perturbed copy (id+1000000, last 2 tokens dropped), giving
known high-Jaccard pairs the operators must find.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from target_parquet_spark.operators import dedup as D
from target_parquet_spark.operators import multimodal as M
from target_parquet_spark.operators import similarity as S
from target_parquet_spark.operators import text as X
from target_parquet_spark.queries import ORACLES, QUERIES, query, t

# ---------------------------------------------------------------------------
# shared DuckDB fragments (must mirror operators/text.py exactly)
# ---------------------------------------------------------------------------

SQL_TOKS = (
    "CASE WHEN trim(lower({c})) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower({c})), '\\s+') END"
)

SQL_SHINGLES = (
    "CASE WHEN len({t}) < 3 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_distinct(list_transform(range(1, len({t}) - 1), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])) END"
)

# doubled corpus: original docs + perturbed copies (drop last 2 tokens)
SQL_CORPUS = f"""
  corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(tt[1:greatest(len(tt) - 2, 0)], ' ') AS text
    FROM (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM documents)
  )
"""


def td(spark, sf_dir, name):
    """Load a table and widen it to the session's parallelism when the scan
    yields fewer partitions (single small file locally).  The text/dedup/
    similarity operators are CPU-bound per row (interpreted higher-order
    functions, md5 folds) — a few-MB round-robin shuffle buys full-width
    execution.  On a real cluster the scan is already wide (many files)
    and this guard makes it a no-op.  The width probe uses inputFiles()
    rather than df.rdd.getNumPartitions(): the first .rdd conversion in a
    session costs ~3s of Py4J/serde init, while inputFiles() reads the
    listing the relation's FileIndex holds.  That listing is made once
    per relation, and ``t`` hands out one relation per session while the
    table's files are unchanged, so a repeated call lists nothing."""
    df = t(spark, sf_dir, name)
    target = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        df = df.repartition(target)
    return df


def _spark_corpus(spark, sf_dir):
    """The Spark twin of SQL_CORPUS."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    perturbed = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0)))).alias("text"),
    )
    return docs.unionByName(perturbed)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


_SW = ", ".join(f"'{w}'" for w in X.STOPWORDS)


@query(
    "text_token_stats",
    f"""
    WITH d AS (
      SELECT lang, {SQL_TOKS.format(c='text')} AS toks, text FROM documents)
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
           round(avg(CASE WHEN len(toks) = 0 THEN 0.0
                          ELSE CAST(len(list_filter(toks, x -> list_contains([{_SW}], x))) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE) END), 4) AS avg_stopword_ratio,
           round(avg(CASE WHEN length(text) = 0 THEN 0.0
                          ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                               / CAST(length(text) AS DOUBLE) END), 4) AS avg_punct_ratio
    FROM d GROUP BY lang
    """,
)
def text_token_stats(spark, sf_dir):
    """Per-language corpus statistics — tokenization, stopword and
    punctuation ratios as pure Column expressions (no shuffle besides the
    5-key agg)."""
    d = td(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(X.token_count(F.col("text"))).alias("total_tokens"),
        F.round(F.avg(X.stopword_ratio(F.col("text"))), 4).alias("avg_stopword_ratio"),
        F.round(F.avg(X.punct_ratio(F.col("text"))), 4).alias("avg_punct_ratio"),
    )


_MARK_SQL = {
    lang: "[" + ", ".join(f"'{w}'" for w in words) + "]"
    for lang, words in X.LANG_MARKERS.items()
}

_LANG_SCORES = ", ".join(
    f"len(list_filter(toks, x -> list_contains({_MARK_SQL[lang]}, x))) AS s_{lang}"
    for lang in X.LANG_MARKERS
)
_LANG_BEST = "greatest(" + ", ".join(f"s_{lang}" for lang in X.LANG_MARKERS) + ")"
_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN best > 0 AND s_{lang} = best THEN '{lang}'" for lang in X.LANG_MARKERS
    )
    + " ELSE 'und' END"
)


@query(
    "text_lang_id",
    f"""
    WITH d AS (SELECT {SQL_TOKS.format(c='text')} AS toks FROM documents),
    s AS (SELECT {_LANG_SCORES} FROM d),
    b AS (SELECT *, {_LANG_BEST} AS best FROM s)
    SELECT {_LANG_CASE} AS lang_pred, count(*) AS n_docs
    FROM b GROUP BY 1
    """,
)
def text_lang_id(spark, sf_dir):
    """Marker-stopword language ID per doc, aggregated to per-language counts (pure Column expressions, zero Python)."""
    d = td(spark, sf_dir, "documents")
    return d.groupBy(X.lang_id(F.col("text")).alias("lang_pred")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "text_quality_filter",
    f"""
    WITH d AS (
      SELECT source, text, {SQL_TOKS.format(c='text')} AS toks FROM documents),
    q AS (
      SELECT source,
             round(((CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN len(toks) = 0 THEN 0.0
                          WHEN CAST(len(list_filter(toks, x -> list_contains([{_SW}], x))) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE) > 0.01
                           AND CAST(len(list_filter(toks, x -> list_contains([{_SW}], x))) AS DOUBLE)
                               / CAST(len(toks) AS DOUBLE) < 0.8 THEN 1.0 ELSE 0.0 END)
                  + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
                                ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                                     / CAST(length(text) AS DOUBLE) END) < 0.2
                          THEN 1.0 ELSE 0.0 END)) / 3.0, 4) AS quality
      FROM d)
    SELECT source, count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE quality >= 0.66) AS BIGINT) AS n_keep,
           round(avg(quality), 4) AS avg_quality
    FROM q GROUP BY source
    """,
)
def text_quality_filter(spark, sf_dir):
    """The pre-training quality gate: score every doc, report keep-rate
    per source."""
    d = td(spark, sf_dir, "documents")
    q = d.select("source", X.quality_score(F.col("text")).alias("quality"))
    return q.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("quality") >= 0.66, 1)).alias("n_keep"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
    )


@query(
    "text_fingerprint",
    f"""
    WITH d AS (SELECT source, {SQL_TOKS.format(c='text')} AS toks FROM documents)
    SELECT source,
           count(DISTINCT md5(array_to_string(list_sort(list_distinct(toks)), ' ')))
             AS n_fingerprints,
           count(*) AS n_docs
    FROM d GROUP BY source
    """,
)
def text_fingerprint(spark, sf_dir):
    """Order-insensitive doc fingerprints (bag-of-words md5) per source."""
    d = td(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.countDistinct(X.fingerprint(F.col("text"))).alias("n_fingerprints"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "lateral_udtf_sentences",
    r"""
    WITH s AS (
      SELECT lang,
             unnest(list_filter(
               list_transform(regexp_split_to_array(text, '[.!?]\s+'),
                              x -> trim(x)),
               x -> x <> '')) AS sentence
      FROM documents)
    SELECT lang, count(*) AS n_sentences,
           CAST(sum(len(regexp_split_to_array(sentence, '\s+'))) AS BIGINT)
             AS total_tokens
    FROM s GROUP BY lang
    """,
)
def lateral_udtf_sentences(spark, sf_dir):
    """Python UDTF (Spark 4 table-valued function) under a LATERAL join:
    each document fans out to sentence rows in Python, then a per-lang
    aggregate.  The UDTF is the seam for real segmenter libraries
    (row->rows semantics SQL lacks); the built-in rule is regex-portable
    so the whole pipeline still oracle-checks exactly."""
    from target_parquet_spark.operators.text import SplitSentences

    spark.udtf.register("split_sentences", SplitSentences)
    docs = td(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_udtf_docs")
    rows = spark.sql(
        "SELECT d.lang, s.n_tokens FROM _udtf_docs d, "
        "LATERAL split_sentences(d.text) s"
    )
    return rows.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
    )


@query(
    "text_bpe_token_stats",
    f"""
    WITH d AS (
      SELECT source,
             len({SQL_TOKS.format(c='text')}) AS n_ws,
             len(regexp_extract_all(lower(text), '{X.BPE_PATTERN}')) AS n_bpe
      FROM documents)
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           round(avg(CASE WHEN n_ws = 0 THEN 0.0
                          ELSE CAST(n_bpe AS DOUBLE) / n_ws END), 4) AS avg_expansion
    FROM d GROUP BY source
    """,
)
def text_bpe_token_stats(spark, sf_dir):
    """Whitespace vs BPE-style token counts per source — the token-budget
    estimate a training pipeline runs before tokenizing for real."""
    d = td(spark, sf_dir, "documents")
    n_ws = X.token_count(F.col("text"))
    n_bpe = X.bpe_token_count(F.col("text"))
    return (
        d.select("source", n_ws.alias("n_ws"), n_bpe.alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
            F.round(
                F.avg(
                    F.when(F.col("n_ws") == 0, 0.0).otherwise(
                        F.col("n_bpe").cast("double") / F.col("n_ws")
                    )
                ),
                4,
            ).alias("avg_expansion"),
        )
    )


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_keep_first",
    f"""
    WITH {SQL_CORPUS},
    r AS (SELECT doc_id, md5(text) AS content_hash,
                 row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM corpus)
    SELECT doc_id, content_hash FROM r WHERE rn = 1
    """,
)
def dedup_exact_keep_first(spark, sf_dir):
    """Exact dedup keep-first over a corpus with injected duplicates: one
    shuffle on the uniformly-distributed content hash."""
    corpus = _spark_corpus(spark, sf_dir)
    kept = D.exact_dedup(corpus, "text", "doc_id", keep="first")
    return kept.select("doc_id", F.md5(F.col("text")).alias("content_hash"))


# Shingle strings -> 60-bit md5 longs: the universe the whole MinHash
# pipeline operates in (operators/dedup._hash_shingles) — the band
# exchange and candidate verification ship 8-byte elements, not n-gram
# text.
SQL_HS = "list_transform({s}, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)"

# Chunked MinHash over the HASHED shingles: 2 md5 per element -> 64 hex
# chars -> 8 x 8-hex chunks; signature = element-wise min (see
# operators/dedup._sig_expr; Spark's cast(long as string) == DuckDB's
# CAST(BIGINT AS VARCHAR) for the md5 input).
SQL_SIG = (
    "list_transform(range(0, 8), j -> list_min(list_transform({h}, "
    "x -> substr(md5(CAST(x AS VARCHAR)) || md5('x:' || CAST(x AS VARCHAR)), "
    "j*8 + 1, 8))))"
)


@query(
    "dedup_minhash_signature",
    f"""
    WITH toks AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM documents),
    sh AS (SELECT doc_id, {SQL_SHINGLES.format(t='tt')} AS s FROM toks),
    shh AS (SELECT doc_id, {SQL_HS.format(s='s')} AS hs FROM sh)
    SELECT doc_id, array_to_string({SQL_SIG.format(h='hs')}, '|') AS sig
    FROM shh WHERE len(hs) > 0
    """,
)
def dedup_minhash_signature(spark, sf_dir):
    """Per-doc MinHash signature — one fold over the shingle array, zero
    shuffle, zero Python; checked bit-for-bit against DuckDB."""
    docs = td(spark, sf_dir, "documents")
    sig = D.minhash_signature(docs, "text", "doc_id", n_hashes=8, drop_empty=True)
    return sig.select("doc_id", F.concat_ws("|", "sig").alias("sig"))


# Full MinHash-LSH candidate+verify pipeline as a reusable CTE chain:
# ends in `pairs(id_a, id_b, jaccard)` with the >= 0.5 threshold applied.
SQL_MINHASH_PAIR_CTES = f"""
    toks AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM corpus),
    sh AS (SELECT doc_id, {SQL_SHINGLES.format(t='tt')} AS s FROM toks),
    shh AS (SELECT doc_id, {SQL_HS.format(s='s')} AS hs FROM sh),
    sig AS (
      SELECT doc_id, hs, {SQL_SIG.format(h='hs')} AS g
      FROM shh WHERE len(hs) > 0),
    bands AS (
      SELECT doc_id, u.b AS band_idx,
             md5(g[2*u.b + 1] || '|' || g[2*u.b + 2]) AS band_hash
      FROM sig, unnest(range(0, 4)) AS u(b)),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    pairs AS (
      SELECT c.id_a, c.id_b,
             round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                   / CAST(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE),
                   4) AS jaccard
      FROM cand c JOIN shh sa ON sa.doc_id = c.id_a JOIN shh sb ON sb.doc_id = c.id_b
      WHERE round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                  / CAST(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE),
                  4) >= 0.5)
"""


# Transitive closure of the `pairs` CTE as a recursive CTE — shared by
# every oracle that needs dup GROUPS (dedup_connected_components,
# split_leakage_safe) so the component semantics cannot drift.
SQL_CC_CTES = """sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, r) AS (
      SELECT DISTINCT u, u AS r FROM sym
      UNION
      SELECT s.v AS u, reach.r FROM reach JOIN sym s ON s.u = reach.u),
    comp AS (SELECT u AS doc_id, min(r) AS component_id FROM reach GROUP BY u)"""


def corpus_components(spark, sf_dir):
    """(corpus, comp): the planted doubled corpus and its near-dup
    connected components (node -> component) — the Spark twin of
    ``SQL_MINHASH_PAIR_CTES`` + ``SQL_CC_CTES``, shared by the CC query
    and the leakage-safe split.  Pairs come from the written artifact
    (queries_r7.minhash_pair_artifact) so the banding stage is built
    once per corpus, not once per consumer."""
    from target_parquet_spark.queries_r7 import minhash_pair_artifact

    corpus = _spark_corpus(spark, sf_dir)
    pairs = minhash_pair_artifact(spark, sf_dir)
    comp = D.connected_components(pairs, "id_a", "id_b")
    return corpus, comp


@query(
    "dedup_minhash_lsh_pairs",
    f"""
    WITH {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES}
    SELECT id_a, id_b, jaccard FROM pairs
    """,
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """The 100-TB near-dup path: banded MinHash candidates (equi-join on
    band hash — no all-pairs), exact Jaccard verification on candidates
    only.  Finds every (doc, perturbed-doc) planted pair."""
    corpus = _spark_corpus(spark, sf_dir)
    return D.minhash_lsh_pairs(
        corpus, "text", "doc_id", n_hashes=8, bands=4, threshold=0.5
    )


@query(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES},
    {SQL_CC_CTES}
    SELECT c.doc_id, c.component_id, g.group_size
    FROM comp c
    JOIN (SELECT component_id, count(*) AS group_size
          FROM comp GROUP BY component_id) g USING (component_id)
    """,
)
def dedup_connected_components(spark, sf_dir):
    """Near-dup pairs -> transitive dup GROUPS: MinHash-LSH candidate
    pairs fed through distributed connected components (min-label
    propagation + pointer jumping; operators/dedup.connected_components).
    The group representative is the smallest doc_id; group_size lets a
    downstream keep-one policy weight by cluster mass.  Oracle computes
    the same closure via a recursive CTE over the identical pair set."""
    from pyspark.sql import Window

    _corpus, comp = corpus_components(spark, sf_dir)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("component_id")
    ).withColumn(
        "group_size", F.count(F.lit(1)).over(Window.partitionBy("component_id"))
    )


def _sql_pagerank_ctes(
    iters: int = 5,
    damping: float = 0.85,
    seed_where: str | None = None,
    out_cap: int | None = None,
) -> str:
    """Unrolled power-iteration CTE chain over the `pairs` CTE — the
    DuckDB twin of operators/graph.pagerank on the symmetrized
    similarity graph.  All literals are ::DOUBLE (a bare 1.0 is DECIMAL
    in DuckDB, whose division semantics would diverge from Spark).

    ``seed_where`` switches to PERSONALIZED pagerank (the twin of
    operators/graph.personalized_pagerank): the teleport vector is
    uniform over the nodes matching the predicate instead of uniform
    over all nodes, and the update uses (1-d)*tp — matching the Spark
    operator's expression tree exactly.  ONE builder for both forms so
    the chain (and its ::DOUBLE discipline) cannot drift between the
    dupweb, TextRank, and TrustRank consumers.

    ``out_cap`` (r8, VERDICT r7 #7) applies the production hub guard:
    each source keeps only its ``out_cap`` strongest out-edges
    (w DESC, v ASC tie-break — deterministic across engines on the
    4dp-rounded weights).  The node universe is taken from the UNCAPPED
    edge set so capping never drops nodes, only dampens hub fan-out."""
    d = repr(damping)
    e_body = """SELECT id_a AS u, id_b AS v, jaccard AS w FROM pairs
            UNION ALL
            SELECT id_b AS u, id_a AS v, jaccard AS w FROM pairs"""
    if out_cap is None:
        parts = [f"e AS ({e_body})"]
    else:
        parts = [
            f"e_raw AS ({e_body})",
            f"""e AS (SELECT u, v, w FROM (
              SELECT u, v, w,
                     row_number() OVER (PARTITION BY u
                                        ORDER BY w DESC, v) AS rn
              FROM e_raw) WHERE rn <= {out_cap})""",
        ]
    parts += [
        "nd AS (SELECT DISTINCT u AS node FROM "
        + ("e" if out_cap is None else "e_raw")
        + ")",
    ]
    if seed_where is None:
        parts += [
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd)",
            "ow AS (SELECT u, sum(w) AS outw FROM e GROUP BY u)",
            "r0 AS (SELECT node, 1.0::DOUBLE / n.n AS rank FROM nd, nn n)",
        ]
    else:
        parts += [
            f"sd AS (SELECT node FROM nd WHERE {seed_where})",
            "ns AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sd)",
            "ow AS (SELECT u, sum(w) AS outw FROM e GROUP BY u)",
            """t0 AS (SELECT nd.node,
                 CASE WHEN s.node IS NOT NULL THEN 1.0::DOUBLE / ns.n
                      ELSE 0.0::DOUBLE END AS tp
          FROM nd LEFT JOIN sd s USING (node) CROSS JOIN ns)""",
            "r0 AS (SELECT node, tp AS rank FROM t0)",
        ]
    for k in range(1, iters + 1):
        parts.append(
            f"""c{k} AS (SELECT e.v AS node, sum(r.rank / ow.outw * e.w) AS c
                FROM e JOIN ow ON ow.u = e.u
                       JOIN r{k - 1} r ON r.node = e.u
                GROUP BY e.v)"""
        )
        if seed_where is None:
            parts.append(
                f"""r{k} AS (SELECT nd.node,
                       (1.0::DOUBLE - {d}::DOUBLE) / n.n
                         + {d}::DOUBLE * coalesce(c{k}.c, 0.0::DOUBLE) AS rank
                FROM nd CROSS JOIN nn n
                LEFT JOIN c{k} ON c{k}.node = nd.node)"""
            )
        else:
            parts.append(
                f"""r{k} AS (SELECT t0.node,
                       (1.0::DOUBLE - {d}::DOUBLE) * t0.tp
                         + {d}::DOUBLE * coalesce(c{k}.c, 0.0::DOUBLE) AS rank
                FROM t0 LEFT JOIN c{k} ON c{k}.node = t0.node)"""
            )
    return ",\n    ".join(parts)


@query(
    "graph_pagerank_dupweb",
    f"""
    WITH {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES},
    {_sql_pagerank_ctes(iters=5, damping=0.85)}
    SELECT node AS doc_id, round(rank * 1000.0::DOUBLE, 4) AS rank_pm
    FROM r5
    """,
)
def graph_pagerank_dupweb(spark, sf_dir):
    """Similarity-weighted PageRank over the near-dup graph (5 power
    iterations, damping 0.85): centrality inside the duplication web —
    boilerplate hubs rank high, so a keep-one policy can prefer the
    most-connected variant.  Oracle is the identical computation as an
    unrolled CTE chain; ranks reported per-mille at 4dp.

    Scale note (sf1 probe: 3.26x for 10x data, still sublinear): the
    growth above linear comes from the EDGE GENERATION — the fixed
    (8 hashes, 4 bands) minhash banding has the same density property
    as fixed-plane LSH: band-bucket occupancy grows with the corpus, so
    candidate pairs grow superlinearly.  The remedy is the one already
    shipped for embeddings (operators/similarity.semantic_dup_pairs):
    scale rows-per-band with corpus size and hold recall with more
    bands (AND/OR re-balance).  The pagerank iterations themselves are
    one key-join + one groupBy per round — linear in edges."""
    from target_parquet_spark.operators.graph import pagerank
    from target_parquet_spark.queries_r7 import minhash_pair_artifact

    pairs = minhash_pair_artifact(spark, sf_dir)
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "jaccard"
        )
    )
    ranks = pagerank(sym, "src", "dst", weight="jaccard", iters=5, damping=0.85)
    return ranks.select(
        F.col("node").alias("doc_id"),
        F.round(F.col("rank") * 1000.0, 4).alias("rank_pm"),
    )


@query(
    "dedup_keep_canonical",
    f"""
    WITH RECURSIVE {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES},
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, r) AS (
      SELECT DISTINCT u, u AS r FROM sym
      UNION
      SELECT s.v AS u, reach.r FROM reach JOIN sym s ON s.u = reach.u),
    comp AS (SELECT u AS doc_id, min(r) AS component_id FROM reach GROUP BY u)
    SELECT c.doc_id, md5(c.text) AS content_hash
    FROM corpus c
    WHERE NOT EXISTS (
      SELECT 1 FROM comp WHERE comp.doc_id = c.doc_id
                           AND comp.doc_id <> comp.component_id)
    """,
)
def dedup_keep_canonical(spark, sf_dir):
    """The end-to-end dedup OUTPUT: the corpus minus every near-dup group
    member except the group representative (smallest doc_id).  Pairs ->
    connected components -> left-anti join of the non-representative
    members back against the corpus; singletons pass through untouched.
    This is the query a training-data pipeline actually materializes —
    the others are its diagnostic stages."""
    from target_parquet_spark.queries_r7 import minhash_pair_artifact

    corpus = _spark_corpus(spark, sf_dir)
    pairs = minhash_pair_artifact(spark, sf_dir)
    comp = D.connected_components(pairs, "id_a", "id_b")
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return corpus.join(drop, "doc_id", "left_anti").select(
        "doc_id", F.md5("text").alias("content_hash")
    )


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {SQL_CORPUS},
    toks AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM corpus),
    sh AS (SELECT doc_id, {SQL_SHINGLES.format(t='tt')} AS s FROM toks
           WHERE len({SQL_SHINGLES.format(t='tt')}) > 0),
    posting AS (SELECT doc_id, unnest({SQL_HS.format(s='s')}) AS shingle FROM sh),
    kept AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df
        FROM posting)
      WHERE df <= 100),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT c.id_a, c.id_b, c.inter, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE), 4) AS jaccard
    FROM scored
    WHERE round(CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE), 4) >= 0.6
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """All-pairs Jaccard via the shingle inverted index — the LSH-free
    baseline, with the max_df=100 hot-shingle cap (r3): ubiquitous
    shingles are dropped before the posting self-join, bounding the
    per-shingle candidate work at O(max_df²) and killing the quadratic
    worst case the r2 verdict flagged.  Scores are exact Jaccard over
    the kept (discriminative) shingle space, mirrored in the oracle."""
    corpus = _spark_corpus(spark, sf_dir)
    return D.ngram_jaccard_pairs(
        corpus, "text", "doc_id", n=3, threshold=0.6, max_df=100
    )


@query(
    "dedup_ngram_containment",
    f"""
    WITH {SQL_CORPUS},
    toks AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM corpus),
    sh AS (SELECT doc_id, {SQL_SHINGLES.format(t='tt')} AS s FROM toks
           WHERE len({SQL_SHINGLES.format(t='tt')}) > 0),
    posting AS (SELECT doc_id, unnest({SQL_HS.format(s='s')}) AS shingle FROM sh),
    kept AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               count(*) OVER (PARTITION BY shingle) AS df
        FROM posting)
      WHERE df <= 100),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY 1),
    common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    scored AS (
      SELECT c.id_a, c.id_b, c.inter, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM common c
      JOIN sizes sa ON sa.doc_id = c.id_a
      JOIN sizes sb ON sb.doc_id = c.id_b)
    SELECT id_a, id_b,
           round(CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 4)
             AS containment
    FROM scored
    WHERE round(CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 4) >= 0.8
    """,
)
def dedup_ngram_containment(spark, sf_dir):
    """Asymmetric doc-in-doc detection: containment of the smaller
    shingle set (|A∩B| / min set size).  The planted perturbed docs are
    strict-prefix truncations, so their containment in the original is
    ~1.0 even where Jaccard falls below a dedup threshold.  Same
    max_df=100 hot-shingle cap as dedup_ngram_jaccard (r3)."""
    corpus = _spark_corpus(spark, sf_dir)
    return D.ngram_containment_pairs(
        corpus, "text", "doc_id", n=3, threshold=0.8, max_df=100
    )


# SimHash reproduced bit-for-bit in SQL: token hash = big-endian u64 of the
# first 16 md5 hex chars (== numpy '>u8' over the first 8 digest bytes);
# per-bit votes over the token multiset; fingerprint bits -> UBIGINT ->
# two's-complement BIGINT (matching numpy int64 on the Spark side).
_SQL_VOTES = ",\n             ".join(
    f"list_sum(list_transform(hs, x -> 2 * CAST((x >> {b}) & 1 AS BIGINT) - 1))"
    f" AS v{b}"
    for b in range(64)
)
_SQL_UFP = " + ".join(
    f"(CASE WHEN v{b} > 0 THEN ({1 << b}::UBIGINT) ELSE (0::UBIGINT) END)"
    for b in range(64)
)
_SQL_FP = (
    f"CASE WHEN nt = 0 THEN 0 ELSE (CASE WHEN ({_SQL_UFP}) >= 9223372036854775808"
    f" THEN CAST(CAST(({_SQL_UFP}) AS HUGEINT) - 18446744073709551616 AS BIGINT)"
    f" ELSE CAST(({_SQL_UFP}) AS BIGINT) END) END"
)


def _sql_simhash(from_clause: str) -> str:
    return f"""
    d AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks FROM {from_clause}),
    h AS (SELECT doc_id, len(toks) AS nt,
                 list_transform(toks,
                   t -> ('0x' || substr(md5(t), 1, 16))::UBIGINT) AS hs
          FROM d),
    v AS (SELECT doc_id, nt, {_SQL_VOTES} FROM h),
    fp AS (SELECT doc_id, {_SQL_FP} AS simhash FROM v)
    """


@query("dedup_simhash", f"WITH {_sql_simhash('documents')} SELECT doc_id, simhash FROM fp")
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints (numpy over Arrow batches — the
    designated mapInPandas slow path).  Oracle reproduces the exact
    bit-twiddling via UBIGINT hex casts and per-bit vote sums."""
    docs = td(spark, sf_dir, "documents")
    return D.simhash(docs, "text", "doc_id")


@query(
    "dedup_simhash_pairs",
    f"""
    WITH {SQL_CORPUS},
    {_sql_simhash('corpus')},
    u AS (SELECT doc_id, simhash,
                 CASE WHEN simhash < 0
                      THEN CAST(simhash AS HUGEINT) + 18446744073709551616
                      ELSE CAST(simhash AS HUGEINT) END AS ufp
          FROM fp),
    quarters AS (
      -- literal divisors: DuckDB's ** operator returns DOUBLE, which is
      -- inexact beyond 2^53 and corrupts the high quarters
      SELECT doc_id, simhash, 0 AS q_idx,
             CAST(ufp % 65536 AS BIGINT) AS q_val FROM u
      UNION ALL SELECT doc_id, simhash, 1,
             CAST((ufp // 65536::HUGEINT) % 65536 AS BIGINT) FROM u
      UNION ALL SELECT doc_id, simhash, 2,
             CAST((ufp // 4294967296::HUGEINT) % 65536 AS BIGINT) FROM u
      UNION ALL SELECT doc_id, simhash, 3,
             CAST((ufp // 281474976710656::HUGEINT) % 65536 AS BIGINT) FROM u),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.simhash AS h_a, b.simhash AS h_b
      FROM quarters a JOIN quarters b
        ON a.q_idx = b.q_idx AND a.q_val = b.q_val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(h_a, h_b)) AS INTEGER) AS hamming
    FROM cand WHERE bit_count(xor(h_a, h_b)) <= 3
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: LSH on 16-bit quarters (any pair within
    Hamming 3 agrees on >=1 quarter) + bit_count(xor) verification.
    Oracle mirrors the quarter split on the unsigned fingerprint."""
    corpus = _spark_corpus(spark, sf_dir)
    return D.simhash_pairs(corpus, "text", "doc_id", max_hamming=3)


# ---------------------------------------------------------------------------
# similarity search over embeddings
# ---------------------------------------------------------------------------

_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


@query(
    "sim_brute_force",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round({_SQL_DOT.format(a='e.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) AS sim
    FROM embeddings e, q
    WHERE round({_SQL_DOT.format(a='e.embedding', b='q.qv')}
                / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                   * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) >= 0.15
    """,
)
def sim_brute_force(spark, sf_dir):
    """Exact cosine scan: broadcast 1-row query, linear corpus pass, no
    shuffle.  Threshold (not top-k) so the result set is deterministic."""
    emb = td(spark, sf_dir, "embeddings")
    q = F.broadcast(
        emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("_qvec"))
    )
    return (
        emb.crossJoin(q)
        .select(
            "vec_id",
            F.round(
                S.cosine(F.col("embedding"), F.col("_qvec"), 64), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.15)
    )


@query(
    "sim_label_centroids",
    """
    SELECT label, i AS dim, round(avg(x), 4) AS c
    FROM (SELECT label, t.i, embedding[t.i + 1] AS x
          FROM embeddings, unnest(range(0, len(embedding))) AS t(i))
    GROUP BY label, i
    """,
)
def sim_label_centroids(spark, sf_dir):
    """Vector aggregation: per-label mean embedding, dim-wise.  Explode
    to (label, dim, component) and aggregate — the shuffle keys on
    (label, dim) so every dimension of every class aggregates in
    parallel with map-side partial sums; no vector ever passes through
    Python.  The long output shape (one row per label x dim) is itself
    the cluster-friendly layout for the downstream IVF codebook build."""
    emb = td(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("x"), 4).alias("c"))
    )


# The same literal ±1 hyperplanes the Spark expression inlines
# (operators/similarity.plane_weights — md5-parity derived, fixed).
_PLANES = S.plane_weights(n_planes=8, dim=64)


def sql_bucket(planes: list[list[float]]) -> str:
    """DuckDB twin of ``operators/similarity.lsh_bucket`` for a literal
    plane matrix — ONE definition so every oracle that buckets (the
    sim_ann family here, the 4-plane k-NN graph in queries_r6) shares
    the exact sign-fold expression and cannot drift."""
    return "(" + " || ".join(
        "(CASE WHEN list_sum(list_transform(range(1, len({v}) + 1), "
        f"i -> CAST({{v}}[i] AS DOUBLE) * ([{', '.join(str(w) for w in plane)}])[i]"
        ")) > 0 THEN '1' ELSE '0' END)"
        for plane in planes
    ) + ")"


_SQL_BUCKET = sql_bucket(_PLANES)


@query(
    "sim_ann_bucket_histogram",
    f"""
    SELECT {_SQL_BUCKET.format(v='embedding')} AS bucket, count(*) AS n_vectors
    FROM embeddings GROUP BY 1
    """,
)
def sim_ann_bucket_histogram(spark, sf_dir):
    """Hyperplane-LSH bucket layout: at 100 TB this bucket id is the
    partition key (write partitionBy(bucket); queries prune to one)."""
    emb = td(spark, sf_dir, "embeddings")
    return emb.groupBy(
        S.lsh_bucket(F.col("embedding"), n_planes=8).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_vectors"))


@query(
    "sim_ann_lsh",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_SQL_BUCKET.format(v='embedding')} AS bucket FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.bucket,
           round({_SQL_DOT.format(a='b.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) AS sim
    FROM b, q WHERE b.bucket = q.qbucket
    """,
)
def sim_ann_lsh(spark, sf_dir):
    """ANN: exact cosine restricted to the query's LSH bucket — touches
    1/2^8 of the corpus."""
    emb = td(spark, sf_dir, "embeddings")
    bucketed = emb.withColumn("bucket", S.lsh_bucket(F.col("embedding"), n_planes=8))
    q = F.broadcast(
        bucketed.filter(F.col("vec_id") == 0).select(
            F.col("embedding").alias("_qvec"), F.col("bucket").alias("_qbucket")
        )
    )
    return bucketed.join(q, F.col("bucket") == F.col("_qbucket")).select(
        "vec_id",
        "bucket",
        F.round(
            S.cosine(F.col("embedding"), F.col("_qvec"), 64), 4
        ).alias("sim"),
    )


_SQL_IVF_SCORE = (
    f"{_SQL_DOT.format(a='{e}', b='c.cv')} / sqrt({_SQL_DOT.format(a='c.cv', b='c.cv')})"
)


@query(
    "sim_ann_ivf",
    f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
               WHERE vec_id < 16),
    s AS (SELECT e.vec_id, e.embedding, c.cid,
                 {_SQL_IVF_SCORE.format(e='e.embedding')} AS score
          FROM embeddings e CROSS JOIN c),
    r AS (SELECT vec_id, embedding, cid,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY score DESC, cid) AS rn
          FROM s),
    assign AS (SELECT vec_id, embedding, CAST(cid AS INTEGER) AS cell
               FROM r WHERE rn = 1),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    qs AS (SELECT c.cid, {_SQL_IVF_SCORE.format(e='q.qv')} AS score FROM c, q),
    probe AS (SELECT cid FROM qs ORDER BY score DESC, cid LIMIT 2)
    SELECT a.vec_id, a.cell,
           round({_SQL_DOT.format(a='a.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='a.embedding', b='a.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) AS sim
    FROM assign a, q
    WHERE a.cell IN (SELECT cid FROM probe)
      AND round({_SQL_DOT.format(a='a.embedding', b='q.qv')}
                / (sqrt({_SQL_DOT.format(a='a.embedding', b='a.embedding')})
                   * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) >= 0.1
    """,
)
def sim_ann_ivf(spark, sf_dir):
    """IVF ANN: 16-cell codebook (driver-side, the 'load trained codebook'
    seam), per-row literal-argmax cell assignment — zero shuffle, zero
    join — then exact cosine in the query's 2 probed cells.  At 100 TB the
    cell is the partition key and probing prunes the scan to nprobe/16.
    Oracle reproduces assignment + probe with identical fold arithmetic.
    The codebook and the query vector are collected from t()'s base
    relation: through td()'s round-robin repartition, picking those few
    rows would shuffle the whole table.  Only the scored scan uses td()."""
    base = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    codebook = S.ivf_codebook(base, n_centroids=16)
    qv = [
        float(x)
        for x in base.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    ]
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return S.ivf_ann(emb, qv, codebook, nprobe=2, threshold=0.1)


@query(
    "sim_embedding_dedup",
    f"""
    WITH doubled AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings),
    b AS (SELECT vec_id, embedding,
                 {_SQL_BUCKET.format(v='embedding')} AS bucket FROM doubled)
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           round({_SQL_DOT.format(a='x.embedding', b='y.embedding')}
                 / (sqrt({_SQL_DOT.format(a='x.embedding', b='x.embedding')})
                    * sqrt({_SQL_DOT.format(a='y.embedding', b='y.embedding')})), 4) AS sim
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    WHERE round({_SQL_DOT.format(a='x.embedding', b='y.embedding')}
                / (sqrt({_SQL_DOT.format(a='x.embedding', b='x.embedding')})
                   * sqrt({_SQL_DOT.format(a='y.embedding', b='y.embedding')})), 4) >= 0.98
    """,
)
def sim_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup: LSH bucket join (identical vectors land
    in the same bucket by construction) + exact cosine >= 0.98 on the
    bucket-local candidate set.  Finds every planted duplicate."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    doubled = emb.unionByName(
        emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    # Repartition on the join key: both self-join branches read ONE
    # exchange (ReusedExchange), so the 8-plane bucket folds run once per
    # vector — shuffle-backed reuse instead of pinned storage memory.  The
    # partition count is EXPLICIT: the downstream join evaluates the
    # interpreted cosine per bucket-colliding pair, and AQE's size-based
    # coalescing would otherwise squeeze this byte-tiny but CPU-heavy
    # stage onto one core.
    b = doubled.withColumn(
        "bucket", S.lsh_bucket(F.col("embedding"), n_planes=8)
    ).repartition(spark.sparkContext.defaultParallelism, "bucket")
    x, y = b.alias("x"), b.alias("y")
    return (
        x.join(
            y,
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("id_a"),
            F.col("y.vec_id").alias("id_b"),
            F.round(
                S.cosine(F.col("x.embedding"), F.col("y.embedding"), 64), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= 0.98)
    )


# ---------------------------------------------------------------------------
# multimodal
# ---------------------------------------------------------------------------


@query(
    "multimodal_manifest",
    """
    SELECT doc_id AS media_id,
           'image' AS modality,
           CAST(16 + (octet_length(encode(text)) % 240) AS INTEGER) AS width,
           CAST(16 + ((octet_length(encode(text)) * 7) % 240) AS INTEGER) AS height,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_hash
    FROM documents
    """,
)
def multimodal_manifest(spark, sf_dir):
    """Binary media column + typed metadata struct; the manifest reads
    ONLY metadata (parquet column pruning skips the payload)."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_media(docs, "text", "doc_id")
    return M.media_manifest(media)


@query(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           round(list_sum(list_transform(range(0, 16),
             i -> ('0x' || substr(md5(md5(text) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
                  / 2147483648.0 - 1.0)), 4) AS feature_sum
    FROM documents
    """,
)
def multimodal_features(spark, sf_dir):
    """Deterministic stand-in feature extraction over media (the stubbed
    codec seam is decode_media; features derive from content hash =
    md5(payload)).  Oracle reproduces the md5-derived components via
    DuckDB's hex-literal cast."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_media(docs, "text", "doc_id")
    feats = M.fake_features(media, dim=16)
    return feats.select(
        "media_id", F.round(F.aggregate("features", F.lit(0.0), lambda a, b: a + b), 4).alias("feature_sum")
    )


# ---------------------------------------------------------------------------
# ingest-operator parity (the engine's own coercion/validation in the gate)
# ---------------------------------------------------------------------------


@query(
    "ingest_coerce_props",
    """
    SELECT event_id,
           TRY_CAST(NULLIF(json_extract_string(props, '$.k'), '') AS BIGINT)  AS k_int,
           TRY_CAST(NULLIF(json_extract_string(props, '$.k'), '') AS DOUBLE)  AS k_double,
           json_extract_string(props, '$.k')                                  AS k_str
    FROM events
    """,
)
def ingest_coerce_props(spark, sf_dir):
    """Runs the engine's ACTUAL coercion expressions (coerce.py C4/C5/C7 +
    C10 empty-string guard) against raw JSON — the same path the Singer
    target uses, oracle-checked against TRY_CAST/NULLIF SQL."""
    from target_parquet_spark.coerce import coerce_columns
    from target_parquet_spark.schema import resolve_schema

    schema = {
        "properties": {
            "k_int": {"type": ["integer", "null"]},
            "k_double": {"type": ["number", "null"]},
            "k_str": {"type": ["string", "null"]},
        }
    }
    fields = resolve_schema(schema)
    e = t(spark, sf_dir, "events")
    # all three coerced fields read the same raw key 'k'
    raw = F.from_json(
        F.col("props"), "k string"
    )
    rec = F.struct(
        raw["k"].alias("k_int"), raw["k"].alias("k_double"), raw["k"].alias("k_str")
    )
    parsed = e.select("event_id", rec.alias("_rec"))
    return parsed.select("event_id", *coerce_columns(fields, source_col="_rec"))


@query(
    "ingest_validation_counts",
    """
    WITH v AS (
      SELECT event_type,
             json_extract_string(props, '$.k') AS raw,
             TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) AS num
      FROM events)
    SELECT event_type,
           CAST(sum(CASE WHEN (num IS NULL OR num >= 10)
                          AND (num IS NULL OR num <= 90)
                          AND (raw IS NULL OR raw = ''
                               OR (num IS NOT NULL AND num = floor(num)))
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           count(*) AS n_total
    FROM v GROUP BY event_type
    """,
)
def ingest_validation_counts(spark, sf_dir):
    """Runs the engine's ACTUAL compiled validation predicate
    (validation.py V1) over raw JSON records."""
    from target_parquet_spark.validation import compile_predicate

    schema = {
        "properties": {"k": {"type": ["integer", "null"], "minimum": 10, "maximum": 90}}
    }
    pred = compile_predicate(schema, source_col="_rec")
    e = t(spark, sf_dir, "events")
    parsed = e.select(
        "event_type", F.from_json(F.col("props"), "k string").alias("_rec")
    )
    return parsed.groupBy("event_type").agg(
        F.sum(F.when(pred, 1).otherwise(0)).cast("long").alias("n_valid"),
        F.count(F.lit(1)).alias("n_total"),
    )


__all__ = ["QUERIES", "ORACLES"]


@query(
    "sim_topk_per_query",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
               WHERE vec_id < 8),
    s AS (SELECT q.query_id, e.vec_id,
                 {_SQL_DOT.format(a='e.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})) AS sim_raw
          FROM embeddings e CROSS JOIN q),
    r AS (SELECT query_id, vec_id, sim_raw,
                 CAST(row_number() OVER (PARTITION BY query_id
                                         ORDER BY sim_raw DESC, vec_id)
                      AS INTEGER) AS rank
          FROM s)
    SELECT query_id, vec_id, rank, round(sim_raw, 4) AS sim
    FROM r WHERE rank <= 5
    """,
)
def sim_topk_per_query(spark, sf_dir):
    """Batch ANN workload shape: top-5 neighbors for EACH of 8 query
    vectors in one pass — broadcast the query block, score corpus x query,
    per-query window top-k.  One shuffle (on query_id, 8 keys); at scale
    swap the scan side for the IVF-pruned corpus and this is the
    production retrieval join."""
    from pyspark.sql import Window

    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = F.broadcast(
        emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("_qv")
        )
    )
    scored = emb.crossJoin(q).select(
        "query_id",
        "vec_id",
        S.cosine(F.col("embedding"), F.col("_qv"), 64).alias("sim_raw"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_raw"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", "rank", F.round("sim_raw", 4).alias("sim"))
    )


@query(
    "pipeline_training_data",
    f"""
    WITH d AS (
      SELECT doc_id, source, text, {SQL_TOKS.format(c='text')} AS toks FROM documents),
    scored AS (
      SELECT doc_id, source, text, len(toks) AS n_tok,
             ((CASE WHEN len(toks) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN len(toks) = 0 THEN 0.0
                    WHEN CAST(len(list_filter(toks, x -> list_contains([{_SW}], x))) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE) > 0.01
                     AND CAST(len(list_filter(toks, x -> list_contains([{_SW}], x))) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE) < 0.8 THEN 1.0 ELSE 0.0 END)
            + (CASE WHEN (CASE WHEN length(text) = 0 THEN 0.0
                          ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                               / CAST(length(text) AS DOUBLE) END) < 0.2
                    THEN 1.0 ELSE 0.0 END)) / 3.0 AS quality
      FROM d),
    kept AS (SELECT * FROM scored WHERE quality >= 0.66),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM kept)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM ranked WHERE rn = 1
    GROUP BY source
    """,
)
def pipeline_training_data(spark, sf_dir):
    """The composed pre-training pipeline: quality gate -> exact dedup
    (keep lowest id per content hash) -> per-source token budget.  Three
    stages, two shuffles (content-hash window, source agg); every stage is
    the oracle-checked operator used standalone elsewhere."""
    d = td(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "source",
        "text",
        X.token_count(F.col("text")).alias("n_tok"),
        X.quality_score(F.col("text")).alias("quality"),
    )
    kept = scored.filter(F.col("quality") >= 0.66)
    deduped = D.exact_dedup(kept, "text", "doc_id")
    return deduped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
    )


_SQL_HAMMING1 = "(" + " + ".join(
    f"(CASE WHEN substr(b.bucket, {i+1}, 1) <> substr(q.qbucket, {i+1}, 1) "
    "THEN 1 ELSE 0 END)"
    for i in range(8)
) + ") <= 1"


@query(
    "sim_ann_multiprobe",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_SQL_BUCKET.format(v='embedding')} AS bucket FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.bucket,
           round({_SQL_DOT.format(a='b.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) AS sim
    FROM b, q
    WHERE {_SQL_HAMMING1}
      AND round({_SQL_DOT.format(a='b.embedding', b='q.qv')}
                / (sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')})
                   * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) >= 0.15
    """,
)
def sim_ann_multiprobe(spark, sf_dir):
    """Multiprobe LSH ANN: probe every bucket within Hamming distance 1 of
    the query's bucket (9 of 256) — recovers the neighbors single-bucket
    probing loses to near-hyperplane bit flips, still pruning ~96% of the
    corpus."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = emb.filter(F.col("vec_id") == 0)
    return S.lsh_ann_multiprobe(emb, q, n_planes=8, max_hamming=1, threshold=0.15)


@query(
    "dedup_duplicate_groups",
    """
    WITH tripled AS (
      SELECT doc_id, text FROM documents
      UNION ALL SELECT doc_id + 2000000, text FROM documents
      UNION ALL SELECT doc_id + 4000000, text FROM documents WHERE doc_id % 2 = 0)
    SELECT md5(text) AS content_hash,
           count(*) AS n_dupes,
           min(doc_id) AS keeper_id
    FROM tripled GROUP BY md5(text) HAVING count(*) > 1
    """,
)
def dedup_duplicate_groups(spark, sf_dir):
    """The exact-dup report: content-hash groups with >1 member and the
    id each group keeps — one uniformly-hashed shuffle."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    tripled = docs.unionByName(
        docs.select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
    ).unionByName(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            (F.col("doc_id") + 4000000).alias("doc_id"), "text"
        )
    )
    return D.duplicate_groups(tripled, "text", "doc_id")


@query(
    "sim_brute_force_topk",
    f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           round({_SQL_DOT.format(a='e.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) AS sim
    FROM embeddings e, q
    ORDER BY sim DESC, e.vec_id LIMIT 10
    """,
)
def sim_brute_force_topk(spark, sf_dir):
    """Exact top-k via the operator: broadcast query, linear scan,
    TakeOrderedAndProject (no global sort materialization)."""
    emb = td(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return S.brute_force_topk(emb, q, k=10)


@query(
    "sim_ann_lsh_topk",
    f"""
    WITH b AS (SELECT vec_id, embedding,
                      {_SQL_BUCKET.format(v='embedding')} AS bucket FROM embeddings),
    q AS (SELECT embedding AS qv, bucket AS qbucket FROM b WHERE vec_id = 0)
    SELECT b.vec_id, b.bucket,
           round({_SQL_DOT.format(a='b.embedding', b='q.qv')}
                 / (sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')})
                    * sqrt({_SQL_DOT.format(a='q.qv', b='q.qv')})), 4) AS sim
    FROM b, q WHERE b.bucket = q.qbucket
    ORDER BY sim DESC, b.vec_id LIMIT 10
    """,
)
def sim_ann_lsh_topk(spark, sf_dir):
    """ANN top-k via the operator: exact cosine ranking restricted to the
    query's LSH bucket."""
    emb = td(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    return S.lsh_ann_topk(emb, q, k=10, n_planes=8)


@query(
    "multimodal_frame_sample",
    """
    WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS mediahex,
                      octet_length(encode(text)) AS nb FROM documents),
    s AS (SELECT media_id, mediahex, greatest(1, nb // 4) AS step FROM m),
    f AS (SELECT media_id, g.k AS frame_idx,
                 substr(mediahex, g.k * step * 2 + 1, step * 2) AS framehex
          FROM s CROSS JOIN (VALUES (0), (1), (2), (3)) g(k))
    SELECT media_id, frame_idx,
           CAST(length(framehex) // 2 AS BIGINT) AS frame_bytes,
           md5(framehex) AS frame_hash
    FROM f
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Frame-sampling pipeline: mapInPandas slices 4 evenly-spaced frames
    per media item (codec seam faked with byte windows), then a per-frame
    manifest (size + content hash).  The oracle reproduces the identical
    slicing arithmetic on the raw payload bytes."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_media(docs, "text", "doc_id")
    frames = M.sample_frames(media, n_frames=4)
    # hash over the HEX TEXT of the frame: DuckDB's md5 takes strings only
    return frames.select(
        "media_id",
        "frame_idx",
        F.octet_length("frame").cast("long").alias("frame_bytes"),
        F.md5(F.hex("frame")).alias("frame_hash"),
    )


# ---------------------------------------------------------------------------
# training-pipeline ops: contamination check, token-budget sampling
# ---------------------------------------------------------------------------


@query(
    "text_contamination",
    f"""
    WITH d AS (
      SELECT doc_id, tt, tt[1:greatest(len(tt) - 2, 0)] AS bt
      FROM (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM documents)),
    bench AS (
      SELECT DISTINCT unnest({SQL_HS.format(s=SQL_SHINGLES.format(t='bt'))})
        AS shingle
      FROM d WHERE doc_id % 50 = 0 AND doc_id < 100000),
    post AS (
      SELECT doc_id,
             unnest({SQL_HS.format(s=SQL_SHINGLES.format(t='tt'))}) AS shingle
      FROM d),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM post GROUP BY doc_id),
    hits AS (SELECT p.doc_id, count(*) AS n_hit
             FROM post p JOIN bench USING (shingle) GROUP BY p.doc_id)
    SELECT s.doc_id,
           CAST(s.n_sh AS BIGINT) AS n_sh,
           CAST(h.n_hit AS BIGINT) AS n_hit,
           round(CAST(h.n_hit AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 4) AS contamination
    FROM sizes s JOIN hits h USING (doc_id)
    WHERE round(CAST(h.n_hit AS DOUBLE) / CAST(s.n_sh AS DOUBLE), 4) >= 0.2
    """,
)
def text_contamination(spark, sf_dir):
    """Benchmark-contamination check: fraction of each corpus doc's
    distinct 3-gram shingles that appear in a held-out benchmark set
    (here: perturbed copies of every 50th doc among ids < 100000,
    standing in for an eval suite loaded from elsewhere).

    Scale shape: an eval suite is a FIXED artifact — it does not grow
    with the training corpus — so the stand-in is capped at a constant
    id range (covers the whole corpus at bench scales; a constant ~2k
    docs at probe scales).  The r8 sf100 probe caught the uncapped form
    growing the "broadcast" side linearly with the corpus (~20M
    shingles, 12.7x wall per decade); with the cap the probe is back to
    the fixed-suite shape.  The benchmark n-gram set is then tiny
    relative to the corpus, so the membership probe is a BROADCAST hash
    join against the exploded corpus postings — the 100 TB side never
    shuffles for the probe.

    NO posting-sized exchange exists at all (r8 — the previous shape
    additionally repartitioned the full corpus posting list on doc_id,
    a ~1 B-row / 16 GB exchange at sf100 that spilled past box shuffle
    memory and still measured ~11x per decade with the bench cap in
    place): per-doc shingle counts come from ``size()`` on the
    scan-stage shingle array (no explode, no shuffle), and the hit
    counts partially aggregate per doc WITHIN the scan partition that
    exploded them — the only shuffled rows are doc-cardinality
    aggregates.  Shingles are 60-bit md5 longs (the r4 MinHash lesson);
    the oracle hashes with the identical expression, so membership
    counts stay engine-exact even in the ~1e-14 collision event.
    """
    from target_parquet_spark.operators.dedup import _hash_shingles

    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    bench_text = F.concat_ws(" ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0))))
    bench_sh = (
        docs.filter((F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 100000))
        .select(
            F.explode(_hash_shingles(X.shingles(bench_text, n=3))).alias(
                "shingle"
            )
        )
        .distinct()
    )
    sh = _hash_shingles(X.shingles(F.col("text"), n=3))
    sizes = docs.select("doc_id", F.size(sh).alias("n_sh"))
    hits = (
        docs.select("doc_id", F.explode(sh).alias("shingle"))
        .join(F.broadcast(bench_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        sizes.join(hits, "doc_id")
        .select(
            "doc_id",
            F.col("n_sh").cast("long").alias("n_sh"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.round(
                F.col("n_hit").cast("double") / F.col("n_sh").cast("double"), 4
            ).alias("contamination"),
        )
        .filter(F.col("contamination") >= 0.2)
    )


@query(
    "sample_token_budget",
    f"""
    WITH d AS (
      SELECT source, doc_id, text,
             len({SQL_TOKS.format(c='text')}) AS n_tok
      FROM documents),
    r AS (
      SELECT source, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY source
                              ORDER BY md5(text), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum_tok
      FROM d)
    SELECT source, doc_id,
           CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok
    FROM r WHERE cum_tok - n_tok < 500
    """,
)
def sample_token_budget(spark, sf_dir):
    """Data-mixing sampler: take docs per source until a per-source TOKEN
    budget is spent (greedy in deterministic md5 order, so the sample is
    reproducible across engines, retries, and cluster sizes — unlike
    rand()).  A doc is taken iff the budget was not exhausted before it.

    One shuffle (hash on source for the window).  At scale source
    cardinality is large (domains), so the window partitions are small;
    a skewed giant source would call for the two-pass salted variant of
    the running total."""
    from pyspark.sql import Window

    docs = td(spark, sf_dir, "documents").select("source", "doc_id", "text")
    d = docs.select(
        "source",
        "doc_id",
        X.token_count(F.col("text")).alias("n_tok"),
        F.md5(F.col("text")).alias("_h"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.withColumn("cum_tok", F.sum("n_tok").over(w).cast("long"))
        .filter(F.col("cum_tok") - F.col("n_tok") < 500)
        .select("source", "doc_id", F.col("n_tok").cast("long").alias("n_tok"), "cum_tok")
    )


@query(
    "multimodal_resize",
    """
    WITH m AS (SELECT doc_id AS media_id, hex(encode(text)) AS mediahex,
                      octet_length(encode(text)) AS nb FROM documents),
    r AS (SELECT media_id,
                 CASE WHEN nb = 0 THEN ''
                      ELSE array_to_string(list_transform(range(0, 1024),
                           i -> substr(mediahex, ((i * nb) // 1024) * 2 + 1, 2)), '')
                 END AS pixhex
          FROM m)
    SELECT media_id,
           CAST(32 AS INTEGER) AS width,
           CAST(32 AS INTEGER) AS height,
           CAST(length(pixhex) // 2 AS BIGINT) AS n_bytes,
           md5(pixhex) AS pixels_hash
    FROM r
    """,
)
def multimodal_resize(spark, sf_dir):
    """Resize pipeline: mapInPandas nearest-neighbor-resamples each media
    payload to a fixed 32x32-byte grid (codec seam faked; the Spark
    plumbing — Arrow batches, fixed output schema, no shuffle — is real).
    The oracle reproduces the identical byte-index arithmetic over the
    payload hex."""
    docs = td(spark, sf_dir, "documents")
    media = M.attach_media(docs, "text", "doc_id")
    resized = M.resize_media(media, target_width=32, target_height=32)
    # hash over the HEX TEXT of the payload: DuckDB's md5 takes strings only
    return resized.select(
        "media_id",
        "width",
        "height",
        F.octet_length("pixels").cast("long").alias("n_bytes"),
        F.md5(F.hex("pixels")).alias("pixels_hash"),
    )


# RE2-portable PII patterns (no lookbehind/lookahead) shared verbatim by
# both engines.  The synthetic corpus has no organic PII, so the query
# plants one deterministic contact line per doc and proves the scrubber
# removes exactly that — a round-trip check, not just a row count.
PII_EMAIL = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE = "\\+?[0-9]{3}[- ][0-9]{3}[- ][0-9]{4}"


@query(
    "text_pii_scrub",
    f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact u' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +555 123 4567' AS text
      FROM documents),
    scrubbed AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(text, '{PII_EMAIL}', '[EMAIL]', 'g'),
               '{PII_PHONE}', '[PHONE]', 'g') AS clean
      FROM planted)
    SELECT count(*) AS n_docs,
           CAST(sum(CASE WHEN clean LIKE '%[EMAIL]%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_email_redactions,
           CAST(sum(CASE WHEN clean LIKE '%[PHONE]%' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_phone_redactions,
           CAST(sum(CASE WHEN regexp_matches(clean, '{PII_EMAIL}')
                          OR regexp_matches(clean, '{PII_PHONE}')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_leaks
    FROM scrubbed
    """,
)
def text_pii_scrub(spark, sf_dir):
    """PII scrubbing (training-data hygiene): RE2-portable email/phone
    redaction as pure scan-stage regexp_replace — zero shuffle, linear
    at any corpus size.  One deterministic contact line is planted per
    doc (the corpus is synthetic word-salad with no organic PII) and the
    output proves every planted item was redacted and NO pattern
    survives scrubbing (n_leaks = 0)."""
    d = td(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +555 123 4567"),
        ).alias("text"),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), PII_EMAIL, "[EMAIL]"),
        PII_PHONE,
        "[PHONE]",
    )
    s = planted.select("doc_id", clean.alias("clean"))
    leak = F.col("clean").rlike(PII_EMAIL) | F.col("clean").rlike(PII_PHONE)
    return s.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("clean").contains("[EMAIL]"), 1).otherwise(0)).alias(
            "n_email_redactions"
        ),
        F.sum(F.when(F.col("clean").contains("[PHONE]"), 1).otherwise(0)).alias(
            "n_phone_redactions"
        ),
        F.sum(F.when(leak, 1).otherwise(0)).alias("n_leaks"),
    )


@query(
    "dedup_lsh_recall",
    f"""
    WITH {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES},
    exact AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE),
                  4) >= 0.5)
    SELECT (SELECT count(*) FROM exact) AS n_exact,
           (SELECT count(*) FROM pairs) AS n_lsh,
           round(CAST((SELECT count(*) FROM pairs) AS DOUBLE)
                 / CAST((SELECT count(*) FROM exact) AS DOUBLE), 4) AS recall
    """,
)
def dedup_lsh_recall(spark, sf_dir):
    """Self-evaluation of the LSH pipeline: recall of banded-MinHash
    verified pairs against ground-truth all-pairs Jaccard at the same
    threshold (precision is 1.0 by construction — candidates are
    exact-verified).  The all-pairs side is quadratic and exists only as
    the eval harness; at 100 TB you run it on a sampled stratum to keep
    monitoring the recall the bands actually deliver."""
    corpus = _spark_corpus(spark, sf_dir)
    lsh = D.minhash_lsh_pairs(
        corpus, "text", "doc_id", n_hashes=8, bands=4, threshold=0.5
    )
    sh = corpus.select(
        "doc_id", X.shingles(F.col("text"), n=3).alias("s")
    ).filter(F.size("s") > 0)
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    jac = F.round(
        inter.cast("double")
        / (F.size("sa") + F.size("sb") - inter).cast("double"),
        4,
    )
    exact = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("j", jac)
        .filter(F.col("j") >= 0.5)
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    return n_exact.crossJoin(n_lsh).select(
        "n_exact",
        "n_lsh",
        F.round(
            F.col("n_lsh").cast("double") / F.col("n_exact").cast("double"), 4
        ).alias("recall"),
    )


@query(
    "text_hash_embedding",
    f"""
    WITH tok AS (
      SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS token
      FROM documents WHERE doc_id < 50)
    SELECT doc_id,
           (('0x' || substr(md5(token), 1, 8))::BIGINT % 64) AS bucket,
           count(*) AS tf
    FROM tok GROUP BY doc_id, bucket
    """,
)
def text_hash_embedding(spark, sf_dir):
    """Feature hashing (the hashing trick): token counts folded into 64
    md5-addressed buckets — a fixed-width sparse TF vector for every doc
    with NO vocabulary build, no driver state, no second pass.  This is
    the text->vector bridge when no learned embedding exists: the long
    (doc, bucket, tf) output pivots into the array<float> shape the
    similarity operators consume.  Explode + one (doc,bucket) agg with
    map-side combine; vocabulary-free means it streams too."""
    d = td(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    bucket = (
        F.conv(F.substring(F.md5(F.col("token")), 1, 8), 16, 10).cast("long") % 64
    )
    return (
        d.select("doc_id", F.explode(X.tokens(F.col("text"))).alias("token"))
        .select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def _sql_bpe_ctes(steps: int = 3) -> str:
    """Unrolled BPE merge induction: v0 holds each distinct word as a
    space-separated symbol string; per step, count adjacent symbol pairs
    weighted by word frequency, pick the top pair (freq desc, pair asc),
    and replace() it everywhere — non-overlapping left-to-right replace
    IS the greedy BPE merge in both engines."""
    parts = [
        """w AS (SELECT token AS word, count(*) AS cnt
             FROM (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
                   FROM documents WHERE trim(lower(text)) <> '')
             GROUP BY token)""",
        "v0 AS (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s, cnt FROM w)",
    ]
    for k in range(1, steps + 1):
        parts.append(
            f"""p{k} AS (
              SELECT pr, CAST(sum(cnt) AS BIGINT) AS f
              FROM (SELECT unnest(list_transform(range(1, len(l)),
                             i -> l[i] || ' ' || l[i + 1])) AS pr, cnt
                    FROM (SELECT string_split(trim(s), ' ') AS l, cnt FROM v{k - 1}))
              GROUP BY pr)"""
        )
        parts.append(
            f"b{k} AS (SELECT pr, f FROM p{k} ORDER BY f DESC, pr LIMIT 1)"
        )
        parts.append(
            f"""v{k} AS (SELECT replace(s, ' ' || (SELECT pr FROM b{k}) || ' ',
                            ' ' || (SELECT replace(pr, ' ', '') FROM b{k}) || ' ') AS s,
                     cnt FROM v{k - 1})"""
        )
    return ",\n    ".join(parts)


@query(
    "text_bpe_merge_induction",
    f"""
    WITH {_sql_bpe_ctes(steps=3)}
    SELECT 1 AS step, (SELECT pr FROM b1) AS pair, (SELECT f FROM b1) AS freq
    UNION ALL
    SELECT 2, (SELECT pr FROM b2), (SELECT f FROM b2)
    UNION ALL
    SELECT 3, (SELECT pr FROM b3), (SELECT f FROM b3)
    """,
)
def text_bpe_merge_induction(spark, sf_dir):
    """Distributed BPE tokenizer training (first 3 merges): count
    frequency-weighted adjacent symbol pairs over the distinct-word
    vocabulary, take the argmax, apply the merge everywhere, repeat.
    The pair count is the distributed work (explode + map-side-combined
    agg over the vocab — sublinear in corpus size); each step collects
    exactly ONE row (the winning pair), matching how real BPE trainers
    pair a distributed counter with a driver-side merge table.  Greedy
    left-to-right merge semantics come from non-overlapping string
    replace, identical in Spark and DuckDB, so the oracle unrolls the
    same three steps as CTEs."""
    d = td(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(X.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spaced = F.concat(F.lit(" "), F.regexp_replace("word", "(.)", "$1 "))
    v = words.select(spaced.alias("s"), "cnt").localCheckpoint()

    out = []
    for step in range(1, 4):
        syms = F.split(F.trim(F.col("s")), " ")
        zipped = F.arrays_zip(syms, F.slice(syms, 2, 1 << 30))
        prs = F.transform(
            F.slice(zipped, 1, F.greatest(F.size(syms) - 1, F.lit(0))),
            lambda z: F.concat_ws(" ", z["0"], z["1"]),
        )
        best = (
            v.select(F.explode(prs).alias("pr"), "cnt")
            .groupBy("pr")
            .agg(F.sum("cnt").alias("f"))
            .orderBy(F.col("f").desc(), "pr")
            .limit(1)
            .collect()[0]
        )
        out.append((step, best.pr, int(best.f)))
        merged = best.pr.replace(" ", "").replace("'", "''")
        pat = best.pr.replace("'", "''")
        v = v.select(
            F.expr(f"replace(s, ' {pat} ', ' {merged} ')").alias("s"), "cnt"
        ).localCheckpoint()

    return spark.createDataFrame(out, "step int, pair string, freq long")


@query(
    "model_per_source_regression",
    f"""
    WITH d AS (
      SELECT source,
             CAST(len({SQL_TOKS.format(c='text')}) AS DOUBLE) AS x,
             CAST(length(text) AS DOUBLE) AS y
      FROM documents)
    SELECT source,
           round(regr_slope(y, x), 4) AS slope,
           round(regr_intercept(y, x), 4) AS intercept,
           CAST(count(*) AS BIGINT) AS n
    FROM d GROUP BY source
    """,
)
def model_per_source_regression(spark, sf_dir):
    """Group-wise model fitting via applyInPandas: one OLS fit
    (chars ~ tokens) per source, each group handed to numpy as an Arrow
    batch — the canonical per-group modeling seam (swap the closed-form
    normal equations for any sklearn-style fit).  Groups are independent
    and shuffle once on the group key; a group must fit one executor,
    which per-source document sets do.  Oracle: DuckDB's regr_slope /
    regr_intercept over identical (x, y) pairs."""
    import pandas as pd

    d = td(spark, sf_dir, "documents").select(
        "source",
        X.token_count(F.col("text")).cast("double").alias("x"),
        F.length("text").cast("double").alias("y"),
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        x = pdf["x"].to_numpy()
        y = pdf["y"].to_numpy()
        n = len(pdf)
        mx, my = x.mean(), y.mean()
        sxx = ((x - mx) ** 2).sum()
        slope = float(((x - mx) * (y - my)).sum() / sxx) if sxx > 0 else 0.0
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "slope": [round(slope, 4)],
                "intercept": [round(my - slope * mx, 4)],
                "n": [n],
            }
        )

    return d.groupBy("source").applyInPandas(
        _fit, "source string, slope double, intercept double, n long"
    )


_SQL_D2 = (
    "list_sum(list_transform(range(1, 65), "
    "i -> (CAST({e}[i] AS DOUBLE) - {c}[i]) * (CAST({e}[i] AS DOUBLE) - {c}[i])))"
)


def _sql_kmeans_ctes(iters: int = 2, k: int = 4, metric: str = "l2") -> str:
    """Unrolled Lloyd iterations (K seed vectors = ids 0..k-1).
    Centroids are ROUNDED to 6dp after every mean — the quantization
    that makes the data-dependent model state bitwise identical across
    engines (a raw avg differs in the last ulp with summation order,
    and k-means feeds it back into the next round's distances).
    ``metric='cos'`` replays spherical k-means (assignment = cosine
    argmax, negated so the shared ORDER BY d, k clause still breaks
    ties to the lowest cluster id — mirroring kmeans_codebook's
    array_min over (-score, k) structs).  The final ``c{iters}`` CTE
    carries the trained centroid lists so a downstream oracle
    (sim_ivf_recall_trained) can consume the trained codebook."""
    if metric == "l2":
        d_expr = _SQL_D2.format(e="e.embedding", c="c.c")
    else:
        d_expr = (
            f"-({_SQL_DOT.format(a='e.embedding', b='c.c')}"
            f" / sqrt({_SQL_DOT.format(a='c.c', b='c.c')}))"
        )
    parts = [
        f"""c0 AS (SELECT vec_id AS k,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS c
             FROM embeddings WHERE vec_id < {k})"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""d{t} AS (SELECT e.vec_id, c.k,
                    {d_expr} AS d
                FROM embeddings e CROSS JOIN c{t - 1} c)"""
        )
        parts.append(
            f"""a{t} AS (SELECT vec_id, k FROM (
                    SELECT vec_id, k,
                           row_number() OVER (PARTITION BY vec_id ORDER BY d, k) AS rn
                    FROM d{t}) WHERE rn = 1)"""
        )
        parts.append(
            f"""m{t} AS (SELECT a.k, i.i AS dim,
                       round(avg(CAST(e.embedding[i.i + 1] AS DOUBLE)), 6) AS c
                FROM a{t} a JOIN embeddings e USING (vec_id),
                     unnest(range(0, 64)) AS i(i)
                GROUP BY a.k, i.i)"""
        )
        parts.append(
            f"c{t} AS (SELECT k, list(c ORDER BY dim) AS c FROM m{t} GROUP BY k)"
        )
    return ",\n    ".join(parts)


@query(
    "sim_kmeans_lloyd",
    f"""
    WITH {_sql_kmeans_ctes(iters=2)}
    SELECT a.k AS cluster, count(*) AS n_members, s.centroid_sum
    FROM a2 a JOIN (SELECT k, round(sum(c), 4) AS centroid_sum
                    FROM m2 GROUP BY k) s ON s.k = a.k
    GROUP BY a.k, s.centroid_sum
    """,
)
def sim_kmeans_lloyd(spark, sf_dir):
    """Distributed Lloyd k-means over the embedding table (K=4, 2
    iterations, deterministic init = vectors 0-3).  Assignment is a
    per-row argmin against a LITERAL codebook (array_min over (dist, k)
    structs — broadcast-free, scan-stage, exactly the IVF cell-assign
    shape); the update step is a dim-wise mean via posexplode + one
    (cluster, dim) aggregate.  Centroids quantize to 6dp each round so
    the data-dependent model state stays engine-exact, letting DuckDB
    replay both iterations as unrolled CTEs and hash-match."""
    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    init = {
        r.k: [float(x) for x in r.c]
        for r in emb.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("k"), F.col("embedding").alias("c"))
        .collect()
    }

    def _dist2(cvec):
        lit = F.array(*[F.lit(v) for v in cvec])
        return F.aggregate(
            F.zip_with(
                F.col("embedding"),
                lit,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    centroids = init
    assigned = None
    means = None
    for step in range(2):
        assign = F.array_min(
            F.array(
                *[
                    F.struct(_dist2(c).alias("d"), F.lit(k).alias("k"))
                    for k, c in sorted(centroids.items())
                ]
            )
        )["k"]
        assigned = emb.select("vec_id", "embedding", assign.alias("k"))
        means = (
            assigned.select("k", F.posexplode("embedding").alias("dim", "x"))
            .groupBy("k", "dim")
            .agg(F.round(F.avg(F.col("x").cast("double")), 6).alias("c"))
        )
        if step == 0:
            rows = means.collect()
            centroids = {}
            for r in rows:
                centroids.setdefault(r.k, [0.0] * 64)[r.dim] = r.c

    sums = means.groupBy("k").agg(F.round(F.sum("c"), 4).alias("centroid_sum"))
    return (
        assigned.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .join(sums, "k")
        .select(F.col("k").alias("cluster"), "n_members", "centroid_sum")
    )


@query(
    "scalar_hof_predicates",
    f"""
    WITH d AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS toks
               FROM documents WHERE doc_id < 200)
    SELECT doc_id,
           len(list_filter(toks, x -> list_contains(['the','a'], x))) > 0
             AS has_article,
           len(list_filter(toks, x -> length(x) >= 12)) = 0
             AS all_short,
           CAST(len(list_filter(toks, x -> length(x) >= 6)) AS INTEGER)
             AS n_long
    FROM d
    """,
)
def scalar_hof_predicates(spark, sf_dir):
    """Higher-order predicate functions over the token array: exists()
    (any article token), forall() (no 12+-char token), filter+size —
    per-row lambda evaluation in the scan stage, no explode, no
    shuffle.  (HOF lambdas are interpreted, not codegen'd — fine for
    predicates, but see operators/text.shingles for the cost cliff when
    the lambda allocates.)"""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = X.tokens(F.col("text"))
    art = F.array(F.lit("the"), F.lit("a"))
    return d.select(
        "doc_id",
        F.exists(toks, lambda x: F.array_contains(art, x)).alias("has_article"),
        F.forall(toks, lambda x: F.length(x) < 12).alias("all_short"),
        F.size(F.filter(toks, lambda x: F.length(x) >= 6)).alias("n_long"),
    )


# quality_score reproduced in SQL (same 3-part rubric as operators/text.py)
_SQL_QSCORE = f"""round((
    CASE WHEN len({{t}}) BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END
  + CASE WHEN len(list_filter({{t}}, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
              > 0.01 * len({{t}})
          AND len(list_filter({{t}}, x -> list_contains(['the','a','of','and','to','in','is','it'], x)))
              < 0.8 * len({{t}})
         THEN 1.0 ELSE 0.0 END
  + CASE WHEN length({{x}}) = 0 THEN 1.0
         WHEN length(regexp_replace({{x}}, '[A-Za-z0-9\\s]', '', 'g'))
              < 0.2 * length({{x}}) THEN 1.0 ELSE 0.0 END) / 3.0, 4)"""


@query(
    "pipeline_curation_full",
    f"""
    WITH RECURSIVE {SQL_CORPUS},
    {SQL_MINHASH_PAIR_CTES},
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs),
    reach(u, r) AS (
      SELECT DISTINCT u, u AS r FROM sym
      UNION
      SELECT s.v AS u, reach.r FROM reach JOIN sym s ON s.u = reach.u),
    comp AS (SELECT u AS doc_id, min(r) AS component_id FROM reach GROUP BY u),
    kept AS (
      SELECT c.doc_id, c.text, {SQL_TOKS.format(c='c.text')} AS toks
      FROM corpus c
      WHERE NOT EXISTS (SELECT 1 FROM comp
                        WHERE comp.doc_id = c.doc_id
                          AND comp.doc_id <> comp.component_id)),
    good AS (
      SELECT doc_id, len(toks) AS n_tok
      FROM kept
      WHERE {_SQL_QSCORE.format(t='toks', x='text')} >= 0.6),
    r AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
      FROM good),
    final AS (SELECT doc_id, n_tok FROM r WHERE cum - n_tok < 20000)
    SELECT count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS selection_hash
    FROM final
    """,
)
def pipeline_curation_full(spark, sf_dir):
    """The end-to-end curation capstone over the dirty (dup-injected)
    corpus: MinHash-LSH pairs -> connected-components transitive dedup
    (keep smallest id) -> quality gate (>=2 of 3 rubric points) ->
    deterministic md5-ordered 20k-token budget.  Output is a single-row
    SIGNATURE of the selected set (count, token total, md5 of the sorted
    id list) so the oracle verifies the exact selection, not just its
    size.  Global running total is one single-partition window over the
    already-tiny survivor set; at 100 TB budget per source instead
    (sample_token_budget) or use the two-pass salted running total."""
    from pyspark.sql import Window

    from target_parquet_spark.queries_r7 import minhash_pair_artifact

    corpus = _spark_corpus(spark, sf_dir)
    pairs = minhash_pair_artifact(spark, sf_dir)
    comp = D.connected_components(pairs, "id_a", "id_b")
    drop = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    kept = corpus.join(drop, "doc_id", "left_anti")
    good = kept.filter(X.quality_score(F.col("text")) >= 0.6).select(
        "doc_id", X.token_count(F.col("text")).alias("n_tok")
    )
    w = (
        Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    final = good.withColumn("cum", F.sum("n_tok").over(w)).filter(
        F.col("cum") - F.col("n_tok") < 20000
    )
    return final.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("selection_hash"),
    )
