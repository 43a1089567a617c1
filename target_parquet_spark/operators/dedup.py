"""Deduplication operators: exact, MinHash+LSH, n-gram Jaccard, SimHash.

Scale design (the point of each variant):

- **exact**: hash-groupBy on a content key — one shuffle on md5(text),
  uniformly distributed, no skew.  ``keep='first'`` is a window over the
  hash, not a driver-side loop.
- **n-gram Jaccard**: exact near-dup via shingle inverted index
  (explode -> self-join on shingle).  Quadratic in the worst case — use
  only after LSH candidate pruning or on bounded corpora.
- **MinHash+LSH**: the 100-TB path.  Signatures are computed per-row with
  higher-order array functions (NO shuffle, no UDF); banding turns the
  all-pairs problem into an equi-join on (band, band_hash) — candidates
  share a bucket, then one exact Jaccard verification on the candidate set
  only.  Hash = md5 (JVM-side, and portable so DuckDB can oracle-check
  signatures and pairs bit-for-bit; lexicographic min over hex prefixes is
  an order-isomorphic stand-in for numeric min over uniform hashes).
- **SimHash**: vectorized numpy over Arrow batches (mapInPandas) — 64-bit
  fingerprints whose Hamming distance approximates cosine similarity on
  token multisets; banding its 16-bit quarters gives the same LSH join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from target_parquet_spark.operators.text import hash60, shingles, tokens

__all__ = [
    "lsh_band_index",
    "streaming_near_dup",
    "exact_dedup",
    "duplicate_groups",
    "minhash_signature",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "simhash",
    "simhash_pairs",
    "connected_components",
]


def _width(df: DataFrame) -> int:
    """Explicit shuffle width for the candidate-pair joins.  The pair
    verification stages are CPU-bound per row (interpreted array lambdas),
    so the repartition pins the session's full parallelism: AQE's
    size-based coalescing would otherwise fold these byte-small,
    CPU-heavy shuffles onto a single core."""
    return df.sparkSession.sparkContext.defaultParallelism


def exact_dedup(df: DataFrame, text_col: str, id_col: str, keep: str = "first") -> DataFrame:
    """Exact dedup on content hash; ``keep="first"`` keeps the lowest
    ``id_col`` per group, ``keep="any"`` is the cheaper unordered drop."""
    if keep not in ("first", "any"):
        raise ValueError(
            f"keep must be 'first' or 'any', got {keep!r} — other policies "
            "would silently fall through to first-row semantics"
        )
    h = F.md5(F.col(text_col))
    if keep == "any":
        return df.dropDuplicates([text_col])
    w = Window.partitionBy(h).orderBy(F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def duplicate_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Content-hash groups with >1 member (the exact-dup report)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dupes"),
            F.min(id_col).alias("keeper_id"),
        )
        .filter(F.col("n_dupes") > 1)
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 25,
) -> DataFrame:
    """Distributed connected components over an undirected edge list —
    the transitive-closure step that turns near-dup PAIRS into dup GROUPS
    (A~B and B~C put A,B,C in one group even if A~C was never a candidate
    pair).  Returns ``(node, component)`` where ``component`` is the
    smallest node id in the component; only nodes incident to >=1 edge
    appear (isolated docs are trivially their own singleton groups).

    Algorithm: min-label propagation with pointer jumping.  Each round
    every node adopts the minimum label among itself and its neighbours
    (one shuffle-join edges->labels + one groupBy(node) min), then labels
    are shortcut one level (L(u) <- L(L(u)), a self-join) — the doubling
    makes convergence O(log diameter) rounds instead of O(diameter).
    Convergence is detected by the monotone invariant sum(label): labels
    only ever decrease, so an unchanged sum IS the fixpoint — one cheap
    scalar action per round, no changed-rows join.

    Scale notes: all joins and aggs key on the node id, so the shuffles
    share one hash partitioning; per-round state is 2 longs per
    edge-incident node.  Each round ends in a lazy lineage cut
    (``lineage.mat``; re-planning an iterative chain grows superlinearly
    otherwise), which is reliable exactly when the session has a
    checkpoint directory.  Every round's convergence sum is the action
    that materializes that round's blocks, so a round costs one job, not
    an eager-checkpoint job plus a sum job.  Dup graphs converge in
    2-4 rounds (components are small and star-shaped); ``max_iters``
    only bounds adversarial chains.

    Reference has no grouping at all (SURVEY.md §2.10); this is the
    standard MapReduce-CC construction (cf. Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14 — the label-prop variant
    with path doubling).
    """
    from target_parquet_spark.lineage import mat

    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = mat(sym.repartition(_width(edges), "u"))

    labels = mat(
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    if prev_sum is None:  # no edges at all
        return labels.select("node", F.col("label").alias("component"))

    for _ in range(max_iters):
        # nbr_min feeds BOTH sides of the pointer-jump join below — cut
        # it so the propagate join + min aggregate run once per round,
        # not twice.
        nbr_min = mat(
            sym.join(labels, sym["u"] == labels["node"])
            .select(F.col("v").alias("node"), "label")
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jump: follow the label one hop (labels are node ids)
        hop = nbr_min.select(
            F.col("node").alias("_jn"), F.col("label").alias("_jl")
        )
        labels = mat(
            nbr_min.join(hop, nbr_min["label"] == hop["_jn"], "left")
            .select("node", F.coalesce("_jl", "label").alias("label"))
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum

    return labels.select("node", F.col("label").alias("component"))


def _hash_shingles(sh):
    """Shingle strings -> 60-bit md5 longs: the universe every
    downstream stage (signature, bands, Jaccard verification) operates
    in.  ~8 B/element instead of 20+ B of n-gram text is what the band
    exchange and the candidate verification actually ship; a within-set
    60-bit collision (~1e-14 for 100-element sets) is the standard
    MinHash-over-hashed-shingles trade, and the DuckDB oracles hash with
    the identical expression so cross-engine comparison is exact
    regardless."""
    return F.transform(
        sh,
        lambda s: hash60(s),
    )


def _sig_expr(sh, n_hashes: int):
    """MinHash signature as ONE fold over the HASHED shingle array
    (long elements — see ``_hash_shingles``).

    Two md5 calls per shingle produce 64 hex chars, chopped into
    ``n_hashes`` 8-hex (32-bit) chunks; the signature is the element-wise
    minimum across shingles, computed with aggregate+zip_with+least so
    each shingle is hashed exactly once (higher-order lambdas are
    interpreted, so md5 count dominates — this is 4x fewer than the naive
    per-seed pass).  Lexicographic min over fixed-width hex == numeric min.
    """
    assert n_hashes <= 8
    hs = F.transform(
        sh,
        lambda s: F.concat(
            F.md5(s.cast("string")),
            F.md5(F.concat(F.lit("x:"), s.cast("string"))),
        ),
    )
    idx = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    init = F.array_repeat(F.lit("g"), n_hashes)  # 'g' > any hex digit
    return F.aggregate(
        hs,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(idx, lambda j: h.substr(j * 8 + 1, F.lit(8))),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    shingle_n: int = 3,
    drop_empty: bool = False,
) -> DataFrame:
    """(doc_id, sig array<string>).

    ``drop_empty=True`` filters docs with no shingles; otherwise the 'g'
    sentinel remains in their signature components.

    The empty-doc filter runs on the RAW text (``size(tokens) >= n``, the
    exact precondition for a non-empty shingle set) — a filter on the
    shingle column itself would be inlined through the projection by
    predicate pushdown and evaluate the interpreted shingle expression
    twice per row."""
    if drop_empty:
        return df.filter(F.size(tokens(F.col(text_col))) >= shingle_n).select(
            F.col(id_col).alias("doc_id"),
            _sig_expr(
                _hash_shingles(shingles(F.col(text_col), n=shingle_n)), n_hashes
            ).alias("sig"),
        )
    sh = _hash_shingles(shingles(F.col(text_col), n=shingle_n))
    return df.select(
        F.col(id_col).alias("doc_id"), _sig_expr(sh, n_hashes).alias("sig")
    )


def _jaccard(sh_a, sh_b):
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = (F.size(sh_a) + F.size(sh_b)).cast("double") - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 3,
) -> DataFrame:
    """Near-dup pairs via banded MinHash with exact Jaccard verification.

    Plan shape: per-row signature -> explode to ``bands`` rows ->
    repartition on (band_idx, band_hash) -> self equi-join on the same
    keys -> distinct candidate pairs -> verify with array_intersect
    Jaccard.  The explicit repartition IS the join's required shuffle, so
    both self-join branches read ONE exchange (ReusedExchange): the
    interpreted shingle+md5 pipeline executes exactly once per doc, with
    the reuse backed by shuffle files — no executor storage memory pinned,
    nothing to unpersist, and the same plan holds on a 1000-executor
    cluster (where a persist of the index would not fit).

    The empty-doc guard runs on raw text (``size(tokens) >= shingle_n``):
    a filter on the shingle column would be pushed through the projection
    and evaluate the expensive expression twice per row; empty docs must
    be dropped BEFORE banding or they all collide in one bucket.
    """
    # One banding pipeline for batch pairs AND the streaming index:
    # lsh_band_index owns the filter/shingle/signature/band expressions
    # (and the n_hashes % bands divisibility guard — a duplicated copy
    # here had silently missed it); this function only adds the
    # pair-join repartition on the band key.
    banded = lsh_band_index(
        df, text_col, id_col, n_hashes=n_hashes, bands=bands,
        shingle_n=shingle_n,
    ).repartition(_width(df), "band_idx", "band_hash")

    left = banded.alias("a")
    right = banded.alias("b")
    # Verify BEFORE deduplicating (the r3 phash lesson, applied here in
    # r4): Jaccard is computed and thresholded in the join's own stage,
    # so candidates that fail verification die map-side and the shingle
    # arrays NEVER cross an exchange — the pair-dedupe distinct sees
    # only (id_a, id_b, jaccard) fixed-width rows.  Band-collision
    # duplicates of a surviving pair carry an identical jaccard (same
    # shingle sets), so distinct over all three columns equals the old
    # dedupe-then-verify output exactly.  The cost moved: at most
    # ``bands`` Jaccard evaluations per surviving pair (map-side CPU)
    # instead of shuffling every collision's shingle sets (network +
    # spill) — the right trade everywhere past toy scale.
    return (
        left.join(
            right,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(_jaccard(F.col("a.sh"), F.col("b.sh")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def _ngram_pair_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_df: int | None = 100,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) with shingle-set intersection and
    per-doc set sizes, via the shingle inverted index.

    The posting list is repartitioned on the shingle — the very shuffle
    the self-join requires — so both join branches read one reused
    exchange and the interpreted shingle expression runs once per doc
    (shuffle-file-backed reuse; no persist, no storage memory).

    ``max_df`` caps the hot-shingle blowup: a shingle appearing in k
    postings contributes k² candidate rows to the self-join, so one
    boilerplate sentence ("terms of service …") shared by a million
    docs would alone produce 10^12 rows.  Postings whose shingle
    occurs more than ``max_df`` times are dropped BEFORE the join —
    both the intersection AND the per-doc sizes are computed in the
    filtered shingle space, so the score stays a true Jaccard /
    containment over the discriminative shingles (ubiquitous shingles
    carry no signal for thresholds ≥ 0.5 anyway).  The frequency is
    counted with a window over the posting exchange — same shuffle the
    join needs, so the cap costs no extra exchange.  The per-shingle
    candidate work is then O(max_df²) regardless of corpus size: the
    quadratic worst case is gone.  ``max_df=None`` restores the
    uncapped exact baseline for bounded corpora.

    The posting projection is ONLY (doc_id, explode(sh)): the generator
    evaluates the interpreted shingle expression once per doc.  Putting
    ``size(sh)`` alongside the explode would let Catalyst inline the
    shingle expression into a projection that runs per EXPLODED row —
    O(shingles) re-evaluations per doc (measured 7x on the bench) — so
    per-doc set sizes are instead counted FROM the posting exchange
    (a second read of the same shuffle files, grouped on doc_id) and
    joined onto the ~sparse verified-pair set at the end."""
    # Shingles ride the posting exchange (and serve as its join key) as
    # 60-bit md5 longs — 16 B rows instead of ~30 B n-gram text, long
    # equality instead of string comparison in the self-join.  The df
    # cap counts frequencies in the hashed space in BOTH engines, so the
    # oracle stays exact (see _hash_shingles on the collision trade).
    #
    # The per-doc hashed-shingle ARRAYS are cut (r11): the posting feeds
    # two consumers (the pair join and the per-doc sizes, the latter
    # instantiated twice by the id_a/id_b join-backs), and column
    # pruning gives each a different subtree, so without the cut the
    # interpreted tokenize+shingle+md5 pipeline re-ran once per consumer
    # (r11 plan audit: 6 corpus scans in dedup_ngram_jaccard).  Cutting
    # at the DOC-array level (one row per doc, the r10 LM-cut shape —
    # corpus-sized, see lineage.py's posture) keeps the md5 fold on the
    # per-doc codegen path; cutting the exploded gram stream instead was
    # measured a wash in r10 and violates the posture.
    from target_parquet_spark.lineage import mat

    arr = mat(
        df.select(
            F.col(id_col).alias("doc_id"),
            _hash_shingles(shingles(F.col(text_col), n=n)).alias("_sharr"),
        )
    )
    posting = arr.select(
        "doc_id", F.explode("_sharr").alias("shingle")
    ).repartition(_width(df), "shingle")
    if max_df is not None:
        posting = (
            posting.withColumn(
                "_df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("_df") <= max_df)
            .drop("_df")
        )
    # sizes joins back twice (id_a, id_b) — cut the doc-cardinality
    # count table so the posting shuffle + df-cap window run once for
    # both join-backs (model-sized: one long per doc).
    sizes = mat(
        posting.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    )
    if max_df is None:
        # Uncapped exact baseline: per-shingle groups are unbounded, so
        # the collect_list form of posting_pairs could build one
        # corpus-sized array in a single task (review r8).  The
        # sort-merge self-join streams and spills instead — the right
        # engine behavior for the explicitly-unbounded mode.
        a, b = posting.alias("a"), posting.alias("b")
        common = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        common = posting_pairs(posting, key="shingle")
    return (
        common.join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n_sh", "n_a"), "id_a")
        .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n_sh", "n_b"), "id_b")
    )


def posting_pairs(posting: DataFrame, key: str = "shingle") -> DataFrame:
    """Candidate pairs with shared-key counts from a (doc_id, ``key``)
    posting list — WITHOUT a posting self-join.

    The classic inverted-index pairing (``a JOIN b ON a.key = b.key AND
    a.doc < b.doc``) materializes the full posting list on BOTH sides of
    a sort-merge join; at the sf1→sf10 decade that was a 0.5 B-row
    two-sided shuffle + sort that exceeded the box's shuffle memory and
    spilled (measured 20.7x wall for 10x data — BASELINE.md r3 probe;
    VERDICT r7 #1).  This form instead groups the posting list once —
    ``groupBy(key).collect_list(doc_id)`` reuses the exchange the caller
    already created for the df-cap, so it adds ZERO new shuffles of
    posting-sized data — and emits each group's C(df, 2) combination
    pairs map-side from an in-memory array.  The caller MUST have
    df-capped the posting first (every group then holds ≤ max_df ids,
    so the per-group array and its pair expansion are O(max_df²)
    constants, never corpus-sized).  Downstream, the pair counts
    aggregate with map-side partial combine — the only shuffle whose
    volume scales with candidate count, which the df cap already bounds
    linearly in corpus size.

    Output is identical to the self-join by construction: sort_array
    makes id_a < id_b (a doc can't repeat within a group — per-doc key
    sets are distinct), and counting emitted pairs per (id_a, id_b)
    equals counting join matches."""
    groups = (
        posting.groupBy(key)
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # Two chained generators (no per-pair struct/flatten materialization:
    # measured faster than building each group's C(df,2) pair array with
    # transform+slice): the first explode streams one row per (group,
    # id_a); the second explodes that row's greater-than-id_a suffix.
    return (
        groups.select("ids", F.explode("ids").alias("id_a"))
        .select(
            "id_a",
            F.explode(F.filter("ids", lambda y: y > F.col("id_a"))).alias(
                "id_b"
            ),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
) -> DataFrame:
    """All-pairs Jaccard via the shingle inverted index, exact over the
    shingles kept by the ``max_df`` hot-shingle cap (see
    :func:`_ngram_pair_stats` for the cap + exchange-reuse plan notes;
    ``max_df=None`` for the uncapped baseline on bounded corpora)."""
    pairs = _ngram_pair_stats(df, text_col, id_col, n, max_df=max_df)
    jac = F.round(
        F.col("inter").cast("double")
        / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        4,
    )
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 100,
) -> DataFrame:
    """Asymmetric near-dup: containment = |A∩B| / |smaller set|.  Catches
    doc-inside-doc (quotes, concatenations, truncated copies) that
    Jaccard misses — a 10x-longer superset drags Jaccard under any sane
    threshold while containment of the smaller side stays ~1.0.  Same
    inverted-index plan (and ``max_df`` hot-shingle cap) as Jaccard;
    only the final scalar differs."""
    pairs = _ngram_pair_stats(df, text_col, id_col, n, max_df=max_df)
    cont = F.round(
        F.col("inter").cast("double")
        / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
        4,
    )
    return (
        pairs.withColumn("containment", cont)
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash fingerprints, numpy-vectorized over Arrow batches.

    Per token: md5 -> first 8 bytes as the token hash; the fingerprint's
    bit b is 1 iff the sum over tokens of (+1 if bit set else -1) is
    positive.  Pure-Python per token hashing is unavoidable (Spark lacks a
    per-element 64-bit stable hash *inside* arrays without exploding), so
    this is the designated mapInPandas slow path — still Arrow-batched.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    id_field = df.schema[id_col]

    def _batches(it):
        for pdf in it:
            out_ids, out_fp = [], []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                toks = (txt or "").lower().split()
                if not toks:
                    out_ids.append(i)
                    out_fp.append(0)
                    continue
                hashes = np.frombuffer(
                    b"".join(hashlib.md5(t.encode()).digest()[:8] for t in toks),
                    dtype=">u8",
                )
                bits_mat = ((hashes[:, None] >> np.arange(bits, dtype=np.uint64)) & 1).astype(
                    np.int64
                )
                votes = (2 * bits_mat - 1).sum(axis=0)
                fp = np.uint64(0)
                for b in np.nonzero(votes > 0)[0]:
                    fp |= np.uint64(1) << np.uint64(b)
                out_ids.append(i)
                out_fp.append(int(np.int64(fp)))  # two's-complement into long
            yield pd.DataFrame({"doc_id": out_ids, "simhash": out_fp})

    out_schema = f"doc_id {id_field.dataType.simpleString()}, simhash long"
    return df.select(id_col, text_col).mapInPandas(_batches, schema=out_schema)


def simhash_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: LSH on the four 16-bit quarters (any pair
    within Hamming distance 3 must agree on >=1 quarter), verified with
    bit_count on the XOR.  The quarter index is repartitioned on the join
    key so both self-join branches share one exchange and the Python
    simhash stage runs exactly once per doc.

    ``max_hamming`` is capped at 3 — the largest radius at which 4-band
    quarter banding is COMPLETE (pigeonhole).  A larger radius would
    silently miss pairs whose differing bits spread across all four
    quarters; completeness at radius d needs d+1 bands (same contract as
    multimodal.phash_near_dup_pairs)."""
    if max_hamming > 3:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the 4-band completeness "
            "bound (3): pairs with one differing bit per quarter would be "
            "silently missed — use more/narrower bands instead"
        )
    fp = simhash(df, text_col, id_col)
    quarters = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), k * 16).bitwiseAND(F.lit(0xFFFF))
                    for k in range(4)
                ]
            )
        ).alias("q_idx", "q_val"),
    ).repartition(_width(df), "q_idx", "q_val")
    a, b = quarters.alias("a"), quarters.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.q_idx") == F.col("b.q_idx"))
            & (F.col("a.q_val") == F.col("b.q_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def lsh_band_index(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """The banded-LSH index as a standalone frame: (doc_id, sh,
    band_idx, band_hash) — one row per (doc, band).  Works on BATCH and
    STREAMING inputs alike (every expression is deterministic and
    per-row), which is what lets a static corpus index meet a stream of
    new documents in a stream-static join (streaming_near_dup)."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands}): "
            "trailing hash rows would be silently dropped, weakening the "
            "signature"
        )
    rows_per_band = n_hashes // bands
    # The verification payload rides the band exchange once per band, so
    # its width is the index's dominant shuffle cost: shingles are hashed
    # to 60-bit longs at the scan (see _hash_shingles) and the signature,
    # band hashes, and downstream Jaccard all operate in that universe —
    # which also keeps the streaming screen's per-row band RECOMPUTE
    # (streaming_near_dup._bands_of) consistent with the stored index.
    base = df.filter(F.size(tokens(F.col(text_col))) >= shingle_n).select(
        F.col(id_col).alias("doc_id"),
        _hash_shingles(shingles(F.col(text_col), n=shingle_n)).alias("sh"),
    )
    sig = base.select("doc_id", "sh", _sig_expr(F.col("sh"), n_hashes).alias("sig"))
    return sig.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(
                        "|",
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                    )
                ),
            )
        ).alias("band_idx", "band_hash"),
    )


def streaming_near_dup(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Online near-dup screening: each arriving document is banded with
    the SAME expressions as the static corpus index and joined
    stream-static on (band_idx, band_hash); band collisions are verified
    with exact Jaccard before a (new_id, dup_of, jaccard) match emits.

    Scale notes: the stream side carries only the current micro-batch;
    the static index is a bucketed table on the band keys, so the join
    is the canonical stream-static enrichment with ZERO streaming state.
    A pair whose signatures collide on k bands emerges from the join k
    times; instead of a stateful dropDuplicates (which on a streaming
    frame would accumulate unbounded global state — ADVICE r2), each
    candidate row recomputes both band arrays from the two shingle sets
    it already carries (deterministic expressions, same as the index
    build) and survives only if its band_idx is the FIRST index where
    the arrays agree — a pure per-row filter that keeps exactly one row
    per pair.  The signature recompute is per-candidate CPU, not state.
    This is the ingest-time gate that keeps an ever-growing corpus from
    re-admitting what it already holds."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = n_hashes // bands

    def _bands_of(sh_col):
        sig = _sig_expr(sh_col, n_hashes)
        return F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.md5(
                F.concat_ws("|", F.slice(sig, b * rows_per_band + 1, rows_per_band))
            ),
        )

    new_banded = lsh_band_index(
        new_docs, text_col, id_col, n_hashes=n_hashes, bands=bands,
        shingle_n=shingle_n,
    )
    j = new_banded.alias("n").join(
        corpus_index.alias("c"),
        (F.col("n.band_idx") == F.col("c.band_idx"))
        & (F.col("n.band_hash") == F.col("c.band_hash")),
    )
    cand = j.select(
        F.col("n.doc_id").alias("new_id"),
        F.col("c.doc_id").alias("dup_of"),
        F.col("n.band_idx").alias("band_idx"),
        F.col("n.sh").alias("sh_a"),
        F.col("c.sh").alias("sh_b"),
    )
    # first index (0-based) where the two band arrays agree; the join
    # guarantees at least one, so array_position is always >= 1
    first_match = (
        F.array_position(
            F.zip_with(
                _bands_of(F.col("sh_a")),
                _bands_of(F.col("sh_b")),
                lambda x, y: x == y,
            ),
            F.lit(True),
        )
        - 1
    )
    cand = cand.filter(F.col("band_idx") == first_match)
    return cand.select(
        "new_id",
        "dup_of",
        F.round(_jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias("jaccard"),
    ).filter(F.col("jaccard") >= threshold)


def cross_corpus_near_dup(
    new_docs: DataFrame,
    base_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Batch cross-corpus near-dup join — the most common production dedup
    job shape: screen a NEW crawl against the EXISTING corpus and emit
    (new_id, dup_of, jaccard) for every near-duplicate found (the batch
    twin of ``streaming_near_dup``; same banding as ``minhash_lsh_pairs``).

    Plan shape: both sides run the identical scan-stage banding pipeline
    (shingle -> 60-bit hash -> chunked MinHash -> band hash), are
    repartitioned on (band_idx, band_hash) — those repartitions ARE the
    join's required shuffles, sized to the larger side — and equi-join on
    the band key.  No self-join, no all-pairs: candidate volume is bounded
    by band-bucket occupancy exactly as in the single-corpus form.

    Verification runs BEFORE the pair-dedupe distinct (the r4 restructure):
    Jaccard is computed and thresholded inside the join stage, so failing
    candidates die map-side and the shingle arrays never cross the
    pair-dedupe exchange; a pair that collides in k bands survives k times
    with an IDENTICAL jaccard (same shingle sets), so distinct over all
    three output columns keeps exactly one row per pair.

    At 100 TB the base side is the big one (the accumulated corpus); its
    banding cost is the price of not maintaining a materialized index —
    when this job runs on a cadence, persist ``lsh_band_index(base)`` as a
    bucketed table on (band_idx, band_hash) and this join skips both the
    recompute and its shuffle (the layout ``streaming_near_dup`` already
    assumes for the stream-static form).
    """
    width = max(_width(new_docs), _width(base_docs))
    nb = lsh_band_index(
        new_docs, text_col, id_col, n_hashes=n_hashes, bands=bands,
        shingle_n=shingle_n,
    ).repartition(width, "band_idx", "band_hash")
    cb = lsh_band_index(
        base_docs, text_col, id_col, n_hashes=n_hashes, bands=bands,
        shingle_n=shingle_n,
    ).repartition(width, "band_idx", "band_hash")
    return (
        nb.alias("n")
        .join(
            cb.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(
            F.col("n.doc_id").alias("new_id"),
            F.col("c.doc_id").alias("dup_of"),
            F.round(_jaccard(F.col("n.sh"), F.col("c.sh")), 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )
