"""Round-5 additions: batch cross-corpus near-dup screening, trained
text-quality logistic regression, and learned BPE merges.

Reference context: hotgluexyz/target-parquet implements none of these
(SURVEY.md §2.10 — absent categories); each is a standard LLM-pipeline
stage extending an existing family:

* ``dedup_cross_corpus`` is the single most common production dedup job
  shape — screen a NEW crawl against the EXISTING corpus (the batch twin
  of ``operators/dedup.streaming_near_dup``, same banding as
  ``dedup_minhash_lsh_pairs``).  The synthetic new crawl contains both
  true near-dups (perturbed copies) and genuinely novel docs (token-
  reversed — same vocabulary, disjoint shingle sets), so the match set
  is provably non-empty AND non-total.

Oracle contract as everywhere in this repo: identical tokenize/shingle/
md5 expressions in both engines, every computed column aliased
identically, floats rounded in both engines.
"""

from __future__ import annotations

import functools

from pyspark.sql import Window
from pyspark.sql import functions as F

from target_parquet_spark.lineage import cut, mat
from target_parquet_spark.operators import dedup as D
from target_parquet_spark.operators import text as X
from target_parquet_spark.queries import query
from target_parquet_spark.queries_ext import (
    SQL_HS,
    SQL_SHINGLES,
    SQL_SIG,
    SQL_TOKS,
    td,
)

# ---------------------------------------------------------------------------
# cross-corpus near-dup (VERDICT r4 #7)
# ---------------------------------------------------------------------------

# The synthetic "new crawl": even doc_ids arrive as near-dups (last two
# tokens dropped — same perturbation as SQL_CORPUS), odd doc_ids arrive
# token-REVERSED: same vocabulary and length, but 3-gram shingle sets are
# (essentially) disjoint, so they screen as novel.  Both transforms are
# deterministic and expressible identically in both engines.
SQL_NEW_CRAWL = f"""
  newc AS (
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(tt[1:greatest(len(tt) - 2, 0)], ' ') AS text
    FROM (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM documents)
    WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id,
           array_to_string(list_reverse(tt), ' ') AS text
    FROM (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM documents)
    WHERE doc_id % 2 = 1
  )
"""


def _sql_band_side(side: str, src: str) -> str:
    """The banding pipeline (tokens -> shingles -> 60-bit hashes -> chunked
    MinHash -> band hashes) for one corpus side, as named CTEs.  Mirrors
    queries_ext.SQL_MINHASH_PAIR_CTES exactly — the cross-corpus form just
    runs it twice with a side prefix instead of self-joining one copy."""
    return f"""
    {side}_toks AS (SELECT doc_id, {SQL_TOKS.format(c='text')} AS tt FROM {src}),
    {side}_sh AS (SELECT doc_id, {SQL_SHINGLES.format(t='tt')} AS s FROM {side}_toks),
    {side}_shh AS (SELECT doc_id, {SQL_HS.format(s='s')} AS hs FROM {side}_sh),
    {side}_sig AS (
      SELECT doc_id, hs, {SQL_SIG.format(h='hs')} AS g
      FROM {side}_shh WHERE len(hs) > 0),
    {side}_bands AS (
      SELECT doc_id, u.b AS band_idx,
             md5(g[2*u.b + 1] || '|' || g[2*u.b + 2]) AS band_hash
      FROM {side}_sig, unnest(range(0, 4)) AS u(b))"""


_SQL_XJACC = (
    "round(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)"
    " / CAST(len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS DOUBLE),"
    " 4)"
)


@query(
    "dedup_cross_corpus",
    f"""
    WITH {SQL_NEW_CRAWL},
    {_sql_band_side('n', 'newc')},
    {_sql_band_side('c', 'documents')},
    cand AS (
      SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS dup_of
      FROM n_bands n JOIN c_bands c
        ON n.band_idx = c.band_idx AND n.band_hash = c.band_hash)
    SELECT cand.new_id, cand.dup_of, {_SQL_XJACC} AS jaccard
    FROM cand
    JOIN n_shh sa ON sa.doc_id = cand.new_id
    JOIN c_shh sb ON sb.doc_id = cand.dup_of
    WHERE {_SQL_XJACC} >= 0.5
    """,
)
def dedup_cross_corpus(spark, sf_dir):
    """New-crawl-vs-existing-corpus near-dup screen: both sides banded
    with the identical scan-stage MinHash pipeline, equi-joined on the
    band key (never all-pairs), Jaccard-verified before the pair-dedupe
    distinct.  The planted crawl makes the expected output non-empty
    (every even doc's perturbed twin matches) and non-total (reversed
    docs share vocabulary but not shingles — they screen as novel)."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    toks = X.tokens(F.col("text"))
    # greatest(size-2, 0): F.slice raises on a negative length (and
    # DuckDB's tt[1:n-2] wraps a negative end around to the FULL list for
    # 1-token docs), so BOTH engines clamp to the same well-defined
    # empty-result semantics — the oracle uses the identical greatest().
    near = docs.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(0)))
        ).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 2 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(" ", F.reverse(toks)).alias("text"),
    )
    new_crawl = near.unionByName(novel)
    return D.cross_corpus_near_dup(
        new_crawl, docs, "text", "doc_id",
        threshold=0.5, n_hashes=8, bands=4,
    ).select("new_id", "dup_of", "jaccard")


# ---------------------------------------------------------------------------
# trained text-quality logistic regression (VERDICT r4 #5)
# ---------------------------------------------------------------------------
#
# Completes the "model state as plan-time literals" family (kmeans_codebook
# -> logreg): full-batch gradient descent where each round is ONE mergeable
# aggregate (mean gradient, 6 numbers), weights live driver-side as
# quantized literals, and the oracle replays every round as unrolled CTEs.
#
# Determinism contract (the kmeans 6dp convention): the standardization
# stats and each round's MEAN gradient are rounded to 6dp in BOTH engines
# before use — partial-aggregation order differs between engines, rounding
# absorbs the last-bit drift; all downstream per-row arithmetic then runs
# on identical doubles.

_LR_ROUNDS = 8
_LR_RATE = 2.0
_FEATS = ["f_logwords", "f_ttr", "f_mwl", "f_stop", "f_sym"]
_WCOLS = ["b"] + [f"w{i}" for i in range(len(_FEATS))]

# Planted binary label: a deterministic rule over two features (high
# stopword share AND high type-token ratio = "quality").  The label is a
# pure function of the feature row, identically computable in both
# engines, and NOT linearly encoded in any single raw feature — the model
# has something real to learn (literal-weight AUC on this label is ~0.30;
# trained AUC ~0.95, pinned in tests/test_r7.py).
_SQL_LABEL = "CASE WHEN f_stop >= 0.06 AND f_ttr >= 0.46 THEN 1.0 ELSE 0.0 END"


def _sql_logreg_prefix() -> str:
    """The shared trained-logreg oracle prefix: feature CTE ->
    standardization stats -> z-features -> _LR_ROUNDS unrolled
    (gradient, weight-update) CTE pairs -> per-doc score CTE ``s``.
    Consumers append their own final SELECT (decile histogram here,
    calibration bins in queries_r16)."""
    from target_parquet_spark.operators.text import STOPWORDS

    swl = ", ".join(f"'{w}'" for w in STOPWORDS)
    feats = f"""
    d AS (SELECT source, text, {SQL_TOKS.format(c='text')} AS toks FROM documents),
    f AS (
      SELECT source,
             ln(1.0 + len(toks)) AS f_logwords,
             CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS f_ttr,
             CAST(list_sum(list_transform(toks, x -> length(x)))
                  AS DOUBLE) / len(toks) AS f_mwl,
             CAST(len(list_filter(toks, x -> list_contains([{swl}], x)))
                  AS DOUBLE) / len(toks) AS f_stop,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                                                  'g')) AS DOUBLE)
                       / length(text) END AS f_sym
      FROM d WHERE len(toks) > 0),
    fl AS (SELECT *, {_SQL_LABEL} AS y FROM f),
    st AS (SELECT
      {", ".join(f"round(avg({c}), 6) AS mu{i}, round(stddev_pop({c}), 6) AS sd{i}" for i, c in enumerate(_FEATS))}
      FROM fl),
    z AS (SELECT source, y,
      {", ".join(f"({c} - st.mu{i}) / (CASE WHEN st.sd{i} = 0 THEN 1.0 ELSE st.sd{i} END) AS z{i}" for i, c in enumerate(_FEATS))}
      FROM fl, st),
    w0 AS (SELECT {", ".join(f"0.0 AS {w}" for w in _WCOLS)})"""

    rounds = []
    for r in range(_LR_ROUNDS):
        zdot = " + ".join([f"w{r}.b"] + [f"w{r}.w{i} * z{i}" for i in range(len(_FEATS))])
        p = f"(1.0 / (1.0 + exp(-({zdot}))))"
        grads = ", ".join(
            [f"round(avg({p} - y), 6) AS gb"]
            + [f"round(avg(({p} - y) * z{i}), 6) AS g{i}" for i in range(len(_FEATS))]
        )
        upd = ", ".join(
            [f"round(w{r}.b - {_LR_RATE} * g{r + 1}.gb, 6) AS b"]
            + [
                f"round(w{r}.w{i} - {_LR_RATE} * g{r + 1}.g{i}, 6) AS w{i}"
                for i in range(len(_FEATS))
            ]
        )
        rounds.append(f"    g{r + 1} AS (SELECT {grads} FROM z, w{r})")
        rounds.append(f"    w{r + 1} AS (SELECT {upd} FROM w{r}, g{r + 1})")

    wf = f"w{_LR_ROUNDS}"
    zdot = " + ".join([f"{wf}.b"] + [f"{wf}.w{i} * z{i}" for i in range(len(_FEATS))])
    rounds_sql = ",\n".join(rounds)
    return f"""
    WITH {feats},
{rounds_sql},
    s AS (SELECT source, y,
                 1.0 / (1.0 + exp(-({zdot}))) AS score
          FROM z, {wf})"""


def _sql_logreg_trained() -> str:
    """Prefix + the score decile histogram."""
    return f"""{_sql_logreg_prefix()}
    SELECT source,
           CAST(least(floor(score * 10), 9) AS INTEGER) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           round(avg(score), 4) AS avg_score
    FROM s GROUP BY source, decile
    """


@query("text_quality_logreg_trained", _sql_logreg_trained())
def text_quality_logreg_trained(spark, sf_dir):
    """TRAINED quality gate: the same five engineered features as
    ``text_quality_logreg``, but the weights come from distributed
    full-batch gradient descent against a planted label instead of
    hand-set literals.

    Plan shape per round: ONE mergeable aggregate (the mean gradient —
    map-side partials collapse the corpus to 6 numbers per partition);
    weights update driver-side and re-enter the next round as plan-time
    literals, exactly the ``kmeans_codebook`` collect-tiny-model-state
    seam.  Standardization stats are one extra aggregate up front.  Total
    model state ever collected: 6 floats per round.

    At 100 TB: the per-round pass re-reads the feature projection; train
    on a deterministic hash-sample (the gradient is a mean — a 1% sample
    estimates it to third-digit precision) and score the full corpus once
    with the final literal weights — the scoring pass is this query's
    final stage unchanged."""
    z, w = train_quality_logreg(spark, sf_dir)
    s = z.select(
        "source", "y", _logreg_score(w).alias("score")
    )
    return s.groupBy(
        "source",
        F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("int").alias("decile"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.round(F.avg("score"), 4).alias("avg_score"),
    )


def _logreg_score(w: list) -> "F.Column":
    """Sigmoid of the literal-weight dot product over z0..z4."""
    zdot = F.lit(w[0])
    for i in range(len(_FEATS)):
        zdot = zdot + F.lit(w[i + 1]) * F.col(f"z{i}")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-zdot))


def quality_feature_frame(spark, sf_dir):
    """(source, f_*, y) feature rows — the training/scoring input."""
    d = td(spark, sf_dir, "documents").select(
        "source", "text", X.tokens(F.col("text")).alias("toks")
    )
    n = F.size("toks").cast("double")
    f = d.filter(F.size("toks") > 0).select(
        "source",
        F.log(1.0 + F.size("toks")).alias("f_logwords"),
        (F.size(F.array_distinct("toks")).cast("double") / n).alias("f_ttr"),
        (
            F.aggregate(
                F.transform(F.col("toks"), lambda x: F.length(x)),
                F.lit(0),
                lambda acc, x: acc + x,
            ).cast("double")
            / n
        ).alias("f_mwl"),
        X.stopword_ratio(F.col("text")).alias("f_stop"),
        X.punct_ratio(F.col("text")).alias("f_sym"),
    )
    return f.withColumn(
        "y",
        F.when(
            (F.col("f_stop") >= 0.06) & (F.col("f_ttr") >= 0.46), F.lit(1.0)
        ).otherwise(F.lit(0.0)),
    )


def train_quality_logreg(spark, sf_dir):
    """Run the distributed GD loop; returns (z_frame, weights) where
    ``z_frame`` has (source, y, z0..z4) and ``weights`` is the trained
    [b, w0..w4] literal vector (6dp-quantized per round)."""
    fl = quality_feature_frame(spark, sf_dir)

    # standardization stats: one aggregate, 6dp-quantized (model state)
    stats = fl.agg(
        *[F.round(F.avg(c), 6).alias(f"mu{i}") for i, c in enumerate(_FEATS)],
        *[F.round(F.stddev_pop(c), 6).alias(f"sd{i}") for i, c in enumerate(_FEATS)],
    ).collect()[0]
    mu = [float(stats[f"mu{i}"]) for i in range(len(_FEATS))]
    sd = [float(stats[f"sd{i}"]) or 1.0 for i in range(len(_FEATS))]

    # The z frame is read 9 more times (8 gradient rounds + the caller's
    # scoring pass); without a lineage cut every read re-runs the whole
    # feature extraction (tokenize + 3 array folds per doc).  mat() computes
    # it once — 2 extraction passes total (stats + z) instead of 10.
    z = mat(
        fl.select(
            "source",
            "y",
            *[
                ((F.col(c) - F.lit(mu[i])) / F.lit(sd[i])).alias(f"z{i}")
                for i, c in enumerate(_FEATS)
            ],
        )
    )

    w = [0.0] * (len(_FEATS) + 1)  # [b, w0..w4]
    for _ in range(_LR_ROUNDS):
        p = _logreg_score(w)
        g = z.agg(
            F.round(F.avg(p - F.col("y")), 6).alias("gb"),
            *[
                F.round(F.avg((p - F.col("y")) * F.col(f"z{i}")), 6).alias(f"g{i}")
                for i in range(len(_FEATS))
            ],
        ).collect()[0]
        w = [round(w[0] - _LR_RATE * float(g["gb"]), 6)] + [
            round(w[i + 1] - _LR_RATE * float(g[f"g{i}"]), 6)
            for i in range(len(_FEATS))
        ]
    return z, w


# ---------------------------------------------------------------------------
# learned BPE merges (VERDICT r4 #6)
# ---------------------------------------------------------------------------
#
# The tokenizer-training shape every LLM pipeline runs: iterative
# most-frequent-pair counting + corpus-wide merge application.  The corpus
# state is the WORD-FREQUENCY vocabulary (classic BPE trains on the word
# dict, not raw text), each word encoded with "\x1f" separators: ONE at
# each word boundary, TWO between adjacent symbols ("·c1··c2··c3·").  That
# encoding makes one merge round a plain left-to-right non-overlapping
# string replace in both engines: the pattern sep+a+sep+sep+b+sep requires
# a full delimiter on BOTH flanks, so it can neither start nor end
# mid-symbol (a prefix-only encoding fails here: "·an·a" would match into
# "·an·an"); the replacement sep+ab+sep leaves one separator on each side,
# which combines with the neighbors' remaining separator to restore the
# double-internal invariant, so chained candidates like a,b,a,b merge in
# one pass while a,a,a merges left-to-right non-overlapping exactly as BPE
# specifies.  No lookarounds anywhere — DuckDB's replace() and Spark's
# F.replace agree byte-for-byte (pinned against an independent Python
# trainer in tests/test_r7.py).

_BPE_SEP = "\x1f"
_BPE_ROUNDS = 8


def _sql_bpe_learn() -> str:
    """Oracle: v0 (vocab + encoded) -> _BPE_ROUNDS unrolled
    (pair-count, argmax, merge, stats) CTE quads -> merge table."""
    from target_parquet_spark.operators.text import BPE_PATTERN

    parts = [f"""
    v0 AS (
      SELECT word, CAST(count(*) AS BIGINT) AS freq,
             regexp_replace(word, '(.)', chr(31) || '\\1' || chr(31), 'g') AS enc
      FROM (SELECT unnest(regexp_extract_all(lower(text), '{BPE_PATTERN}'))
              AS word FROM documents)
      WHERE strpos(word, chr(31)) = 0
      GROUP BY word)"""]
    selects = []
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
    p{r} AS (
      SELECT l, r2, CAST(sum(freq) AS BIGINT) AS cnt FROM (
        SELECT freq, syms[i] AS l, syms[i+1] AS r2
        FROM (SELECT freq, list_filter(str_split(enc, chr(31)), x -> x != '')
                AS syms FROM v{r - 1}),
             unnest(range(1, len(syms))) AS u(i))
      GROUP BY l, r2),
    m{r} AS (SELECT l, r2, cnt FROM p{r} ORDER BY cnt DESC, l, r2 LIMIT 1),
    v{r} AS (
      SELECT word, freq,
             replace(enc, chr(31) || m.l || chr(31) || chr(31) || m.r2 || chr(31),
                     chr(31) || m.l || m.r2 || chr(31)) AS enc
      FROM v{r - 1}, m{r} m)""")
        selects.append(
            f"SELECT {r} AS rank, m.l AS left_sym, m.r2 AS right_sym, "
            f"m.cnt AS pair_count, "
            f"(SELECT CAST(sum(freq * len(list_filter(str_split(enc, chr(31)), "
            f"x -> x != ''))) AS BIGINT) FROM v{r}) AS tokens_after FROM m{r} m"
        )
    ctes = ",".join(parts)
    union = "\n    UNION ALL ".join(selects)
    return f"WITH {ctes}\n    {union}"


def learn_bpe_merges(spark, sf_dir, n_rounds: int = _BPE_ROUNDS):
    """Distributed BPE merge learning.  Returns (merge_rows, vocab) where
    ``merge_rows`` is [(rank, left, right, pair_count, tokens_after)] and
    ``vocab`` is the final encoded word-frequency frame.

    Plan shape per round: ONE pair-count aggregate over the vocabulary
    (explode adjacent symbol pairs weighted by word freq -> groupBy ->
    1-row argmax collected: bounded model state, the kmeans/logreg seam),
    then the merge re-enters the plan as a literal string replace.  The
    vocabulary is word-level (freq-weighted) — at 100 TB the words table
    is the ONLY thing the loop touches after one corpus pass, and it is
    millions of rows regardless of corpus size; its lineage is cut
    once so the per-round passes do not re-run the corpus explode."""
    docs = td(spark, sf_dir, "documents")
    # lazy: the total_freq aggregate right below is the action that
    # materializes the blocks — an eager cut here was one extra job
    vocab = cut(
        docs.select(F.explode(X.bpe_tokens(F.col("text"))).alias("word"))
        .filter(~F.col("word").contains(_BPE_SEP))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "enc", F.regexp_replace("word", "(.)", _BPE_SEP + "$1" + _BPE_SEP)
        ),
        eager=False,
    )

    def _syms(enc):
        return F.filter(F.split(enc, _BPE_SEP), lambda x: x != F.lit(""))

    def _pairs(enc):
        syms = _syms(enc)
        n_s = F.size(syms)
        return F.when(
            n_s < 2, F.array().cast("array<struct<l:string,r:string>>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n_s - 1),
                lambda i: F.struct(
                    F.element_at(syms, i).alias("l"),
                    F.element_at(syms, i + 1).alias("r"),
                ),
            )
        )

    def _pair_stats(v):
        """ONE action per round (r10, guide §1.2): the deterministic
        argmax (cnt desc, l, r — via min_by over a (-cnt, l, r) struct)
        AND the total pair mass, from a single aggregate over the pair
        table.  The total feeds the PREVIOUS round's token count via the
        exact integer identity tokens = sum(freq * (n_pairs + 1)) =
        total_freq + total_pairs — the separate tokens_after scan this
        replaces cost a second driver action per round."""
        return (
            v.select("freq", F.explode(_pairs(F.col("enc"))).alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("cnt"))
            .agg(
                F.min_by(
                    F.struct("l", "r", "cnt"),
                    F.struct((-F.col("cnt")).alias("nc"), "l", "r"),
                ).alias("best"),
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias(
                    "total_pairs"
                ),
            )
            .collect()[0]
        )

    total_freq = int(
        vocab.agg(F.sum("freq").cast("long")).collect()[0][0] or 0
    )
    merges = []
    pending = None  # (rank, l, r, cnt) awaiting its tokens_after
    for rank in range(1, n_rounds + 1):
        st = _pair_stats(vocab)
        if pending is not None:
            merges.append(pending[:4] + (total_freq + int(st["total_pairs"]),))
        if st["best"] is None:  # degenerate: vocabulary fully merged
            pending = None
            break
        b = st["best"]
        vocab = vocab.withColumn(
            "enc",
            F.replace(
                F.col("enc"),
                F.lit(_BPE_SEP + b["l"] + _BPE_SEP + _BPE_SEP + b["r"] + _BPE_SEP),
                F.lit(_BPE_SEP + b["l"] + b["r"] + _BPE_SEP),
            ),
        )
        pending = (rank, b["l"], b["r"], int(b["cnt"]))
    if pending is not None:
        st = _pair_stats(vocab)
        merges.append(pending[:4] + (total_freq + int(st["total_pairs"]),))
    return merges, vocab


@query("text_bpe_learn_merges", _sql_bpe_learn())
def text_bpe_learn_merges(spark, sf_dir):
    """Learn the top-8 BPE merges over the corpus vocabulary and report
    the merge table with after-merge token totals (monotone decreasing —
    pinned in tests).  The oracle replays every round as unrolled CTEs;
    the separator-prefix encoding makes the merge a plain string replace
    with identical left-to-right semantics in both engines."""
    merges, _ = learn_bpe_merges(spark, sf_dir)
    return spark.createDataFrame(
        merges,
        "rank int, left_sym string, right_sym string, "
        "pair_count bigint, tokens_after bigint",
    )


def _sql_bpe_apply() -> str:
    """Oracle: replay the training CTEs, then tokenize the corpus with the
    final vocabulary encoding (word join) and report per-source totals."""
    from target_parquet_spark.operators.text import BPE_PATTERN

    train = _sql_bpe_learn()
    # strip the trailing merge-table SELECT: keep everything up to the
    # final "SELECT 1 AS rank" union block by rebuilding from parts
    ctes = train[: train.rindex("\n    SELECT 1 AS rank")]
    return f"""{ctes}
    , corpus_words AS (
      SELECT source, unnest(regexp_extract_all(lower(text), '{BPE_PATTERN}'))
        AS word
      FROM documents),
    tok AS (
      SELECT w.source,
             length(v.word) AS n_chars,
             len(list_filter(str_split(v.enc, chr(31)), x -> x != ''))
               AS n_bpe
      FROM corpus_words w JOIN v{_BPE_ROUNDS} v ON v.word = w.word)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(n_chars) AS BIGINT) AS tokens_chars,
           CAST(sum(n_bpe) AS BIGINT) AS tokens_bpe,
           round(CAST(sum(n_bpe) AS DOUBLE) / sum(n_chars), 4) AS compression
    FROM tok GROUP BY source
    """


@query("text_bpe_apply", _sql_bpe_apply())
def text_bpe_apply(spark, sf_dir):
    """Tokenize the corpus with the LEARNED merge table — the train->apply
    pair that completes the tokenizer-training family (mirrors
    kmeans_codebook -> ivf_ann).  Application is a word-level join against
    the trained vocabulary's final encoding: the corpus explodes to
    (source, word) and joins the vocab on the word key — at 100 TB the
    vocabulary is millions of rows regardless of corpus size, so the join
    broadcasts (or bucket-joins) while the corpus never shuffles more than
    its word stream.  Reports per-source character vs BPE token totals and
    the compression ratio the learned merges buy."""
    _, vocab = learn_bpe_merges(spark, sf_dir)
    docs = td(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(X.bpe_tokens(F.col("text"))).alias("word")
    ).filter(~F.col("word").contains(_BPE_SEP))
    enc_len = F.size(F.filter(F.split(F.col("enc"), _BPE_SEP), lambda x: x != F.lit("")))
    v = vocab.select("word", F.length("word").alias("n_chars"), enc_len.alias("n_bpe"))
    return (
        words.join(F.broadcast(v), "word")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_chars").cast("long").alias("tokens_chars"),
            F.sum("n_bpe").cast("long").alias("tokens_bpe"),
            F.round(
                F.sum("n_bpe").cast("double") / F.sum("n_chars"), 4
            ).alias("compression"),
        )
    )


# ---------------------------------------------------------------------------
# materialized k-NN edge artifact (the plan-audit follow-through)
# ---------------------------------------------------------------------------


# Above this corpus size the artifact's edge stage switches from the
# fixed 4-plane derivation (oracle parity: 16 buckets, occupancy n/16,
# pair work n^2/16 — fine at the oracle scales, ~15e9 candidate pairs
# at 500k vectors) to the adaptive-plane knn_graph (occupancy pinned at
# 128 per bucket regardless of n).  Every oracle-checked scale (sf0.01
# driver gate, sf0.1 bench) sits far below the ladder step, so the
# artifact the oracles see is bit-identical to the fixed derivation;
# the step is recorded in the fingerprint key so the two regimes can
# never silently share a directory.
_KNN_ARTIFACT_ADAPTIVE_ABOVE = 150_000


def knn_edge_artifact(spark, sf_dir):
    """The materialized k-NN edge table: written once, read by every
    downstream graph op (HITS, k-core, random walks, modularity, LPA,
    degree distribution) — edge generation amortizes across the family
    instead of re-running its bucketed self-join per query.  The stored
    directory is keyed on a CONTENT fingerprint
    (io/layout.content_fingerprint: row count + xor of per-row xxhash64
    hashes) so a regenerated embeddings table forces a rewrite instead
    of silently reusing stale edges, PLUS the derivation parameters
    (k, edge-stage regime) so changing the edge definition itself also
    moves the key — a warm warehouse must never pin an old graph
    against an updated oracle.

    Granularity ladder: below ``_KNN_ARTIFACT_ADAPTIVE_ABOVE`` vectors
    the edges are the fixed-4-plane ``_knn_edges`` (the form every
    graph oracle replays as CTEs); above it they come from the
    adaptive-plane ``operators/similarity.knn_graph`` (bucket occupancy
    held constant as the corpus grows — the fixed stage's pair volume
    is quadratic in density and cannot even be materialized at 500k
    vectors).  Same schema either way: (src, nbr_rank, nbr, sim).

    Incremental twin: ``streaming/knn_edges.StreamingKnnEdges`` (r7)
    maintains the same (src, nbr_rank, nbr, sim) table from a vector
    STREAM — candidate discovery per micro-batch, top-k at read — for
    deployments where rebuilding on every fingerprint move is too
    expensive; stream==batch equality is pinned in
    tests/test_streaming.py."""
    import os

    from target_parquet_spark.io.layout import (
        _tag,
        content_stats,
        fingerprint_from_stats,
        warehouse_dir,
    )
    from target_parquet_spark.operators import similarity as S
    from target_parquet_spark.queries_r6 import _knn_edges

    emb = td(spark, sf_dir, "embeddings")
    # one scan yields count (regime pick) AND content hash (key)
    n, h = content_stats(emb, ["vec_id", "embedding"])
    adaptive = n > _KNN_ARTIFACT_ADAPTIVE_ABOVE
    stage = "adaptive-occ128-tables=2" if adaptive else "planes=4"
    fp = fingerprint_from_stats(n, h, extra=("knn_edges", "k=3", stage))
    path = os.path.join(warehouse_dir(), f"knn_edges_{_tag(sf_dir)}_{fp}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        edges = (
            S.knn_graph(emb.select("vec_id", "embedding"), k=3)
            if adaptive
            else _knn_edges(spark, sf_dir, k=3)
        )
        edges.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def minhash_pair_artifact(spark, sf_dir):
    """The materialized near-dup pair table over the planted document
    corpus — MinHash(8)/4-band candidates, Jaccard-verified at 0.5 —
    written once and read by every iterative consumer (TrustRank,
    PageRank-dupweb, connected components and everything downstream of
    them: keep-canonical, leakage-safe split, soft-dedup weights).  The
    banded derivation is already scale-safe (band-hash buckets key on
    the signature value, occupancy tracks duplicate density, not corpus
    size — measured ~1.9x/decade), so unlike ``knn_edge_artifact`` no
    granularity ladder is needed; the win is amortization.  Keyed on
    the documents content fingerprint + derivation params + the corpus
    augmentation version (the perturbed-twin planting is part of the
    derived content)."""
    import os

    from target_parquet_spark.io.layout import (
        _tag,
        content_fingerprint,
        warehouse_dir,
    )
    from target_parquet_spark.operators import dedup as D
    from target_parquet_spark.queries_ext import _spark_corpus

    docs = td(spark, sf_dir, "documents")
    fp = content_fingerprint(
        docs,
        ["doc_id", "text"],
        extra=("minhash_pairs", "h=8", "b=4", "t=0.5", "sh=3",
               "aug=tailtrim1"),
    )
    path = os.path.join(warehouse_dir(), f"nd_pairs_{_tag(sf_dir)}_{fp}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        D.minhash_lsh_pairs(
            _spark_corpus(spark, sf_dir),
            "text",
            "doc_id",
            n_hashes=8,
            bands=4,
            threshold=0.5,
        ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _register_knn_artifact():
    """Register with graph_degree_distribution's oracle verbatim: the
    edge table moves from a re-derived subplan to a written artifact —
    the LAYOUT changes, the answer must not (same contract as
    scan_ivf_partitioned)."""
    from target_parquet_spark.queries import ORACLES
    from target_parquet_spark.queries_r6 import _symmetrize_degrees

    @query("scan_knn_edges_artifact", ORACLES["graph_degree_distribution"])
    def scan_knn_edges_artifact(spark, sf_dir):
        """Degree distribution computed FROM the materialized edge
        artifact (see ``knn_edge_artifact``).  Same oracle as
        ``graph_degree_distribution``: the layout changes, the answer
        must not."""
        edges = knn_edge_artifact(spark, sf_dir)
        _sym, deg = _symmetrize_degrees(edges)
        return deg.groupBy(F.col("d").alias("degree")).agg(
            F.count(F.lit(1)).alias("n_nodes")
        )

    return scan_knn_edges_artifact


_register_knn_artifact()


# ---------------------------------------------------------------------------
# semi-supervised label propagation over the k-NN graph
# ---------------------------------------------------------------------------


_LP_ROUNDS = 3


def _register_label_propagation():
    """Oracle reuses queries_r6's _SQL_KNN/_SQL_SYM_DEG fragments so the
    graph being propagated over cannot drift from the other graph ops."""
    from target_parquet_spark.queries_r6 import (
        _SQL_KNN,
        _SQL_SYM_DEG,
        _symmetrize_degrees,
    )

    rounds = []
    for r in range(1, _LP_ROUNDS + 1):
        rounds.append(f"""
    l{r} AS (
      SELECT b.vec_id, b.is_seed,
             CASE WHEN b.is_seed THEN b.lbl ELSE nb.nb END AS lbl
      FROM l{r - 1} b LEFT JOIN (
        SELECT s.u, round(avg(c.lbl), 6) AS nb
        FROM sym s JOIN l{r - 1} c ON c.vec_id = s.v
        WHERE c.lbl IS NOT NULL GROUP BY s.u) nb ON nb.u = b.vec_id)""")
    rounds_sql = ",".join(rounds)

    @query(
        "graph_label_propagation",
        f"""
    WITH {_SQL_KNN},
    {_SQL_SYM_DEG},
    nodes AS (SELECT DISTINCT u FROM sym),
    l0 AS (
      SELECT n.u AS vec_id,
             (e.vec_id % 5 = 0) AS is_seed,
             CASE WHEN e.vec_id % 5 = 0 THEN
               CASE WHEN e.embedding[1] >= 0 THEN 1.0 ELSE 0.0 END
             END AS lbl
      FROM nodes n JOIN embeddings e ON e.vec_id = n.u),
    {rounds_sql}
    SELECT vec_id, is_seed, round(lbl, 4) AS label
    FROM l{_LP_ROUNDS}
        """,
    )
    def graph_label_propagation(spark, sf_dir):
        """Semi-supervised label spreading — the data-curation move that
        turns a few labeled documents into corpus-wide labels: 20% of
        nodes carry a seed label (sign of the first embedding
        coordinate — content-derived, so neighborhoods are informative),
        the rest receive the 6dp-rounded mean of their labeled neighbors,
        iterated 3 rounds with seeds CLAMPED each round.

        Plan shape: the graph comes from the materialized edge artifact
        (``knn_edge_artifact`` — no pair re-derivation); each round is
        one neighbor join + one mean aggregate on the node key, so the
        whole propagation is 3 hash joins over an edge table
        that shuffles on the same key every round (AQE reuses the
        exchange).  Unreached nodes keep a NULL label — exactly the rows
        a curation pipeline routes to human labeling."""
        edges = knn_edge_artifact(spark, sf_dir)
        sym, _deg = _symmetrize_degrees(edges)
        emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        nodes = sym.select(F.col("u").alias("vec_id")).distinct()
        is_seed = F.col("vec_id") % 5 == 0
        seed_lbl = F.when(
            is_seed,
            F.when(F.col("embedding").getItem(0) >= 0, 1.0).otherwise(0.0),
        )
        cur = nodes.join(emb, "vec_id").select(
            "vec_id", is_seed.alias("is_seed"), seed_lbl.alias("lbl")
        )
        for _ in range(_LP_ROUNDS):
            nb = (
                sym.join(
                    cur.filter(F.col("lbl").isNotNull()).select(
                        F.col("vec_id").alias("v"), F.col("lbl").alias("_nl")
                    ),
                    "v",
                )
                .groupBy("u")
                .agg(F.round(F.avg("_nl"), 6).alias("nb"))
            )
            cur = (
                cur.join(nb, cur["vec_id"] == nb["u"], "left")
                .select(
                    "vec_id",
                    "is_seed",
                    F.when(F.col("is_seed"), F.col("lbl"))
                    .otherwise(F.col("nb"))
                    .alias("lbl"),
                )
            )
        return cur.select(
            "vec_id", "is_seed", F.round("lbl", 4).alias("label")
        )

    return graph_label_propagation


_register_label_propagation()


# ---------------------------------------------------------------------------
# temperature-scaled mixture sampling (the alpha-power source-mixing knob)
# ---------------------------------------------------------------------------

_MIX_ALPHA = 0.7
_MIX_BUDGET = 0.5  # target fraction of the corpus


@query(
    "sample_temperature_rate",
    f"""
    WITH cnt AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source),
    tot AS (
      SELECT round(sum(pow(n_docs, {_MIX_ALPHA})), 6) AS s6,
             CAST(sum(n_docs) AS BIGINT) AS n
      FROM cnt),
    rates AS (
      SELECT c.source, c.n_docs,
             least(1.0, round(pow(c.n_docs, {_MIX_ALPHA}) / t.s6
                              * ({_MIX_BUDGET} * t.n) / c.n_docs, 6)) AS rate
      FROM cnt c, tot t),
    sel AS (
      SELECT d.source, d.doc_id, r.rate, r.n_docs
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
             % 1000000) < CAST(floor(r.rate * 1000000) AS BIGINT))
    SELECT source,
           any_value(n_docs) AS n_docs,
           any_value(rate) AS rate,
           CAST(count(*) AS BIGINT) AS n_selected,
           md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
             AS sel_sig
    FROM sel GROUP BY source
    """,
)
def sample_temperature_rate(spark, sf_dir):
    """Temperature-scaled source mixing — the alpha-power re-weighting of
    LLM pretraining mixtures (sampling probability proportional to
    n_s^alpha, alpha=0.7): big sources are down-weighted, small sources
    up-weighted, rates capped at 1.0, total budget 50% of
    the corpus.  Selection is the deterministic md5-bucket threshold
    (integer compare against floor(rate * 1e6) — no floats at the
    per-row decision), so the picked set is bit-reproducible across
    engines, retries, and cluster sizes.  The RATE-based companion of
    queries_r4's sample_temperature_mixture (exact per-source quotas by
    md5 rank): rates are shuffle-free at selection time (pure scan-stage
    predicate), quotas pay a per-source rank window — pick rates when
    the budget is proportional, quotas when it must be exact.

    Plan shape: per-source counts (one partial-agg shuffle to ~|sources|
    rows), the normalizer as a 1-row broadcast, rates re-broadcast onto
    the scan-stage filter — the corpus itself never shuffles until the
    audit aggregate.  Float parity: the normalizer and every rate are
    6dp-rounded in BOTH engines before the threshold floor, so the one
    order-dependent sum cannot move a boundary."""
    from target_parquet_spark.queries_ops import _hash_mod

    docs = td(spark, sf_dir, "documents").select("source", "doc_id")
    cnt = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = cnt.agg(
        F.round(F.sum(F.pow("n_docs", F.lit(_MIX_ALPHA))), 6).alias("s6"),
        F.sum("n_docs").alias("n"),
    )
    rates = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            F.round(
                F.pow("n_docs", F.lit(_MIX_ALPHA))
                / F.col("s6")
                * (F.lit(_MIX_BUDGET) * F.col("n"))
                / F.col("n_docs"),
                6,
            ),
        ).alias("rate"),
    )
    sel = docs.join(F.broadcast(rates), "source").filter(
        _hash_mod(F.col("doc_id"), 1000000)
        < F.floor(F.col("rate") * 1000000).cast("long")
    )
    return sel.groupBy("source").agg(
        F.any_value(F.col("n_docs")).alias("n_docs"),
        F.any_value(F.col("rate")).alias("rate"),
        F.count(F.lit(1)).cast("long").alias("n_selected"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("sel_sig"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al., the MOSS algorithm)
# ---------------------------------------------------------------------------

_WIN_K = 3  # gram size (tokens)
_WIN_W = 4  # winnowing window (grams)
_WIN_SHARED = 2  # pair-report threshold
_WIN_MAXDF = 100  # posting cap (same role as the ngram baseline's max_df)


def _sql_winnowing() -> str:
    """Oracle: positional 60-bit gram hashes (NOT distinct — winnowing
    needs every position), minimum of each w-window, deduped per doc,
    df-capped postings, pair join on shared fingerprints."""
    from target_parquet_spark.queries_ext import SQL_CORPUS

    toks = SQL_TOKS.format(c="text")
    k1 = _WIN_K - 1
    w1 = _WIN_W - 1
    return f"""
    WITH {SQL_CORPUS},
    wtoks AS (SELECT doc_id, {toks} AS tt FROM corpus),
    grams AS (
      SELECT doc_id,
             CASE WHEN len(tt) < {_WIN_K} THEN CAST([] AS BIGINT[])
                  ELSE list_transform(range(1, len(tt) - {k1} + 1),
                       i -> ('0x' || substr(md5(tt[i] || ' ' || tt[i+1] || ' ' || tt[i+2]), 1, 15))::BIGINT)
             END AS g
      FROM wtoks),
    fps AS (
      SELECT DISTINCT doc_id, fp FROM (
        SELECT doc_id,
               unnest(CASE
                 WHEN len(g) = 0 THEN CAST([] AS BIGINT[])
                 WHEN len(g) < {_WIN_W} THEN [list_min(g)]
                 ELSE list_transform(range(1, len(g) - {w1} + 1),
                      i -> list_min(g[i:i+{w1}]))
               END) AS fp
        FROM grams)),
    df AS (SELECT fp FROM (SELECT fp, count(*) AS nd FROM fps GROUP BY fp)
           WHERE nd <= {_WIN_MAXDF})
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM (SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp)) a
    JOIN (SELECT f.doc_id, f.fp FROM fps f JOIN df USING (fp)) b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {_WIN_SHARED}
    """


def winnow_minima(toks):
    """The winnowing fingerprint expression over a token-array column:
    positional 60-bit k-gram hashes (NOT distinct — every position
    counts), minimum of each w-window, short docs contribute their single
    global minimum.  Shared by the registry query and the density test so
    the pinned sparsity property always measures the shipped expression."""
    zipped = F.arrays_zip(
        toks.alias("t0"),
        F.slice(toks, 2, 1 << 30).alias("t1"),
        F.slice(toks, 3, 1 << 30).alias("t2"),
    )
    gram_strs = F.transform(
        F.slice(
            zipped, 1, F.greatest(F.size(toks) - (_WIN_K - 1), F.lit(0))
        ),
        lambda s: F.concat_ws(" ", s["t0"], s["t1"], s["t2"]),
    )
    g = F.transform(
        gram_strs,
        lambda c: X.hash60(c),
    )
    n_g = F.size(g)
    # Sliding-window minimum as an elementwise `least` fold over _WIN_W
    # shifted copies of the hash array: min(g[i..i+w-1]) ==
    # least(g[i], g[i+1], ..., g[i+w-1]).  The naive per-position
    # slice+array_min form allocates one w-array per gram (O(n*w) with n
    # allocations); this form allocates O(w) arrays per doc total and
    # keeps every operation inside codegen (measured 15.6s -> the span
    # family's ~2.7s class at sf0.1).
    win_len = n_g - (_WIN_W - 1)
    shifted = [F.slice(g, k + 1, win_len) for k in range(_WIN_W)]
    slid = functools.reduce(
        lambda a, b: F.zip_with(a, b, lambda x, y: F.least(x, y)), shifted
    )
    return (
        F.when(n_g == 0, F.array().cast("array<bigint>"))
        .when(n_g < _WIN_W, F.array(F.array_min(g)))
        .otherwise(slid)
    )


@query("text_winnowing_pairs", _sql_winnowing())
def text_winnowing_pairs(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken — the
    MOSS algorithm): every position's k-gram hash is computed, the
    minimum of each w-hash window is selected, and the deduped minima are
    the document's fingerprint set — guaranteeing any shared substring of
    length >= w+k-1 tokens produces at least one shared fingerprint,
    while storing only ~2/(w+1) of the grams.  Pairs sharing >= 2
    fingerprints are reported with the shared count (over the planted
    doubled corpus, so the expected output is provably non-empty).

    vs the span/ngram family: dedup_span_ngram hashes EVERY gram (full
    recall, but |grams| posting rows); winnowing's window-minimum
    selection is position-robust sparsification — the postings exchange
    carries ~2/(w+1) of the rows for the same long-match guarantee.
    Plan shape: scan-stage gram hashing + window minima (pure
    higher-order functions, zero Python), one shuffle on the 8-byte
    fingerprint key feeding the df-cap aggregate, the cap join, AND the
    group-pairing — pairs are emitted map-side from per-fingerprint
    collect_list arrays (≤ max_df ids each) instead of a posting
    self-join, which at sf10 materialized the 0.5 B-row posting on both
    sides of a sort-merge join and spilled (11.1x wall for 10x data;
    VERDICT r7 #1 — see operators/dedup.posting_pairs)."""
    from target_parquet_spark.operators.dedup import posting_pairs
    from target_parquet_spark.queries_ext import _spark_corpus

    docs = _spark_corpus(spark, sf_dir)
    minima = winnow_minima(X.tokens(F.col("text")))
    # The fingerprint pipeline feeds BOTH the df-cap aggregate and the
    # join-back; without a lineage cut the whole tokenize+gram-hash+
    # window-minima pipeline executed once per reference (r10 plan
    # audit: zero ReusedExchange — the "reuses the exchange" assumption
    # never held).  Cut at the per-doc fingerprint ARRAYS (doc-sized,
    # pre-explode) so the expensive hashing runs once; the cheap explode
    # replays per reference.  Cutting the exploded posting itself was
    # measured SLOWER (4.2 s vs 3.7 s) — the posting is gram-sized and
    # storing it costs more than re-exploding the arrays.
    fparr = mat(docs.select("doc_id", F.array_distinct(minima).alias("fparr")))
    fps = fparr.select(
        "doc_id", F.explode("fparr").alias("fp")
    ).repartition(F.col("fp"))
    # df cap as a count window over the ONE posting exchange (r11, guide
    # §2.4 — the _ngram_pair_stats shape): the old groupBy+join-back
    # planned the posting explode twice and moved it through two
    # exchanges; the window counts on the same shuffle the pairing
    # groupBy reads, so the cap costs no extra exchange and the explode
    # runs once.  Same rows kept either way: count(*) per fp == the old
    # df_ok aggregate, and fparr is distinct per doc so no doc repeats
    # within an fp group.
    capped = (
        fps.withColumn(
            "_nd", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("_nd") <= _WIN_MAXDF)
        .drop("_nd")
    )
    return (
        posting_pairs(capped, key="fp")
        .withColumnRenamed("inter", "n_shared")
        .filter(F.col("n_shared") >= _WIN_SHARED)
    )


# ---------------------------------------------------------------------------
# schema-evolution read (mergeSchema over heterogeneous parquet batches)
# ---------------------------------------------------------------------------


@query(
    "scan_schema_evolution",
    """
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 2 = 1)
    SELECT COALESCE(o_orderstatus, '<absent>') AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM unioned GROUP BY status
    """,
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution at the storage layer: two parquet batches written
    with DIFFERENT schemas (an early batch without o_orderstatus, a later
    batch with it — the add-a-column drift every long-lived ingest
    accumulates) are read back as ONE table via mergeSchema, with the
    missing column null-padded.  The aggregate answer must match a pure
    relational union of the same projections — the layout (two
    heterogeneous file generations) changes, the answer must not.

    At 100 TB this is the contract that lets a pipeline add columns
    without rewriting history: readers request the superset schema and
    old files surface nulls.  (Spark reads each file with its own footer
    schema; mergeSchema pays one extra footer pass at planning time,
    nothing at scan time.)  Sum is integer-cents (established float-sum
    convention)."""
    import os
    import shutil

    from target_parquet_spark.io.layout import (
        _tag,
        content_fingerprint,
        warehouse_dir,
    )
    from target_parquet_spark.queries import t

    o = t(spark, sf_dir, "orders")
    fp = content_fingerprint(
        o,
        ["o_orderkey", "o_totalprice", "o_orderstatus"],
        extra=("schema_evo",),
    )
    path = os.path.join(warehouse_dir(), f"schema_evo_{_tag(sf_dir)}_{fp}")
    done = os.path.join(path, "_GEN2_DONE")
    if not os.path.exists(done):
        # Two-phase artifact build: stage into a tmp dir, rename into
        # place, and gate reuse on a sentinel written AFTER generation 2
        # — parquet's own _SUCCESS appears after the FIRST write, so an
        # interrupt between the generations must not leave a half-built
        # directory that passes the existence check forever.
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)
        # generation 1: narrow schema (no o_orderstatus)
        (
            o.filter(F.col("o_orderkey") % 2 == 0)
            .select("o_orderkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(tmp)
        )
        # generation 2: widened schema, appended alongside gen-1 files
        (
            o.filter(F.col("o_orderkey") % 2 == 1)
            .select("o_orderkey", "o_totalprice", "o_orderstatus")
            .write.mode("append")
            .parquet(tmp)
        )
        with open(os.path.join(tmp, "_GEN2_DONE"), "w") as fh:
            fh.write("ok")
        os.rename(tmp, path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    return merged.groupBy(
        F.coalesce(F.col("o_orderstatus"), F.lit("<absent>")).alias("status")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "total_cents"
        ),
    )
