"""Operator-level unit tests: text primitives, dedup folds, IVF ANN.

The query registry is oracle-checked end-to-end by scripts/check_oracle.py;
these tests pin the operator edge cases (empty/null/short docs, tie-breaks)
that the synthetic corpus may not hit.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from target_parquet_spark.operators import dedup as D
from target_parquet_spark.operators import similarity as S
from target_parquet_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy"),  # near dup (1 tok off)
        (3, "completely different text about spark engines here"),
        (4, "xy zz"),  # too short for 3-shingles
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_shingles_edges(spark, docs):
    got = {
        r.doc_id: (None if r.sh is None else list(r.sh))
        for r in docs.select("doc_id", X.shingles(F.col("text")).alias("sh")).collect()
    }
    assert got[0][0] == "the quick brown"
    assert len(got[0]) == 7  # 9 tokens -> 7 trigrams, all distinct
    assert got[4] == [] and got[5] == []
    assert got[6] is None  # null text propagates null (filtered upstream)


def test_exact_dedup_keeps_lowest_id(spark, docs):
    kept = D.exact_dedup(docs.filter("text is not null"), "text", "doc_id")
    ids = {r.doc_id for r in kept.select("doc_id").collect()}
    assert 0 in ids and 1 not in ids  # dup group keeps doc 0
    assert ids == {0, 2, 3, 4, 5}


def test_minhash_lsh_finds_near_dup_pair(spark, docs):
    pairs = D.minhash_lsh_pairs(
        docs.filter("text is not null"), "text", "doc_id", threshold=0.5
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got  # exact dup: jaccard 1.0
    assert (0, 2) in got and (1, 2) in got  # near dup
    assert all(r.jaccard >= 0.5 for r in pairs)


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.ngram_jaccard_pairs(
            docs.filter("text is not null"), "text", "doc_id", threshold=0.1
        ).collect()
    }
    assert pairs[(0, 1)] == 1.0
    # doc0 has 7 trigrams, doc2 has 6, sharing 6 -> 6/7
    assert pairs[(0, 2)] == round(6 / 7, 4)


def test_bpe_tokens(spark):
    df = spark.createDataFrame([("Hello, world! abc123 x.y",)], "text string")
    got = df.select(X.bpe_tokens(F.col("text")).alias("t")).collect()[0].t
    assert list(got) == ["hello", ",", "world", "!", "abc", "123", "x", ".", "y"]


def test_ivf_cell_assignment_and_probe(spark):
    # 4 centroids on coordinate axes; vectors near axis k land in cell k
    rows = [(i, [1.0 if j == i else 0.0 for j in range(4)]) for i in range(4)]
    rows += [(10, [0.9, 0.1, 0.0, 0.0]), (11, [0.0, 0.1, 0.0, 0.9])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = S.ivf_codebook(df, n_centroids=4)
    assert [c[0] for c in cb] == [0, 1, 2, 3]
    cells = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id", S.ivf_cell(F.col("embedding"), cb).alias("cell")
        ).collect()
    }
    assert cells[10] == 0 and cells[11] == 3
    # probe=1 around query [0.9,...] must return only cell-0 members
    got = S.ivf_ann(df, [0.9, 0.1, 0.0, 0.0], cb, nprobe=1, threshold=-1.0).collect()
    assert {r.vec_id for r in got} == {0, 10}
    sims = {r.vec_id: r.sim for r in got}
    assert sims[10] == 1.0  # identical direction


def test_ivf_zero_norm_centroid(spark):
    """An all-zero seed vector is a centroid with no direction: it scores
    0.0 in the executors' assignment and in the driver's probe, so both
    agree and neither divides by zero."""
    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = S.ivf_codebook(df, n_centroids=4)
    assert cb[0][2] == 0.0
    cells = {
        r.vec_id: r.cell
        for r in df.select(
            "vec_id", S.ivf_cell(F.col("embedding"), cb).alias("cell")
        ).collect()
    }
    assert cells == {0: 0, 1: 1, 2: 2, 3: 3}
    for vid, vec in rows:
        assert S.ivf_probe_cells(vec, cb, 1) == [cells[vid]]
    got = S.ivf_ann(df, [1.0, 0.0], cb, nprobe=1, threshold=-1.0).collect()
    assert [(r.vec_id, r.cell, r.sim) for r in got] == [(1, 1, 1.0)]


def test_simhash_identical_docs_same_fp(spark, docs):
    fp = {
        r.doc_id: r.simhash
        for r in D.simhash(docs.filter("text is not null"), "text", "doc_id").collect()
    }
    assert fp[0] == fp[1]
    # near-dup within hamming 3; different doc far away
    ham = bin((fp[0] ^ fp[2]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert ham <= 16
    far = bin((fp[0] ^ fp[3]) & 0xFFFFFFFFFFFFFFFF).count("1")
    assert far > ham


def test_jsonschema_udf_full_fidelity(spark):
    """The vectorized fallback validator: full draft-7 keywords with the
    reference's relaxations (float multipleOf never fails)."""
    import json

    pytest.importorskip("jsonschema")
    from target_parquet_spark.validation import jsonschema_error_udf

    schema = {
        "type": "object",
        "properties": {
            "n": {"type": "number", "multipleOf": 0.3},  # float: never fails
            "m": {"type": "integer", "multipleOf": 3},
            "s": {"type": "string", "pattern": "^a"},
        },
    }
    udf = jsonschema_error_udf(schema)
    assert udf is not None
    rows = [
        (json.dumps({"n": 0.7, "m": 9, "s": "abc"}), True),   # float multipleOf relaxed
        (json.dumps({"n": 1.0, "m": 10, "s": "abc"}), False), # 10 % 3 != 0
        (json.dumps({"n": 1.0, "m": 9, "s": "xbc"}), False),  # pattern miss
    ]
    df = spark.createDataFrame([(r,) for r, _ in rows], "raw string")
    got = [r.err for r in df.select(udf("raw").alias("err")).collect()]
    assert [e is None for e in got] == [ok for _, ok in rows]


def test_sample_frames_plumbing(spark):
    """Frame sampling: one row per (media_id, frame_idx), binary frames,
    deterministic fake decode."""
    from target_parquet_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "abcdefgh" * 4), (2, "xy")], "doc_id long, text string"
    )
    media = M.attach_media(docs, "text", "doc_id")
    frames = M.sample_frames(media, n_frames=4).collect()
    assert len(frames) == 8
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    assert [r.frame_idx for r in by_media[1]] == [0, 1, 2, 3]
    assert bytes(by_media[1][0].frame) == b"abcdefgh"  # 32 bytes / 4 frames
    assert all(len(bytes(r.frame)) >= 0 for r in by_media[2])


def test_resize_media_plumbing(spark):
    """Resize: fixed-shape output, deterministic byte resample, empty-safe."""
    from target_parquet_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "abcd"), (2, "z" * 100), (3, "")], "doc_id long, text string"
    )
    media = M.attach_media(docs, "text", "doc_id")
    out = {r["media_id"]: r for r in M.resize_media(media, 4, 4).collect()}
    assert out[1]["width"] == 4 and out[1]["height"] == 4
    # nearest-neighbor over b"abcd" to 16 bytes: index (i*4)//16
    assert bytes(out[1]["pixels"]) == b"aaaabbbbccccdddd"
    assert bytes(out[2]["pixels"]) == b"z" * 16
    assert bytes(out[3]["pixels"]) == b""


def test_connected_components_transitive_chain(spark):
    """A~B, B~C, C~D is ONE group even though A~C / A~D never paired;
    disjoint E~F stays its own group; representative = min id."""
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        r.node: r.component
        for r in D.connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_empty_and_selfloop(spark):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(empty).count() == 0
    loops = spark.createDataFrame([(7, 7), (8, 9)], "id_a long, id_b long")
    got = {r.node: r.component for r in D.connected_components(loops).collect()}
    assert got == {7: 7, 8: 8, 9: 8}


def test_connected_components_long_chain_converges(spark):
    """Path graph 0-1-2-...-12: diameter 12, but pointer jumping must
    converge well inside max_iters and label everything 0."""
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    rows = D.connected_components(edges, max_iters=8).collect()
    assert len(rows) == 13
    assert {r.component for r in rows} == {0}


def test_pagerank_matches_numpy_power_iteration(spark):
    import numpy as np

    from target_parquet_spark.operators.graph import pagerank

    edges = [(1, 2, 1.0), (2, 1, 1.0), (2, 3, 2.0), (3, 1, 1.0), (1, 3, 0.5)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r.node: r.rank
        for r in pagerank(df, "src", "dst", weight="w", iters=5).collect()
    }

    nodes = [1, 2, 3]
    idx = {n: i for i, n in enumerate(nodes)}
    outw = {1: 1.5, 2: 3.0, 3: 1.0}
    r = np.full(3, 1 / 3)
    for _ in range(5):
        c = np.zeros(3)
        for u, v, w in edges:
            c[idx[v]] += r[idx[u]] / outw[u] * w
        r = 0.15 / 3 + 0.85 * c
    for n in nodes:
        assert abs(got[n] - r[idx[n]]) < 1e-12


def test_pagerank_empty_edges(spark):
    from target_parquet_spark.operators.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert pagerank(empty).count() == 0


def test_kmeans_query_partitions_all_vectors(spark):
    """sim_kmeans_lloyd: clusters partition the table (member counts sum
    to N), centroids are finite, and at most K=4 clusters exist."""
    from target_parquet_spark.queries_ext import sim_kmeans_lloyd

    sf = "/root/testdata/sf0.001"
    out = sim_kmeans_lloyd(spark, sf).collect()
    n = spark.read.parquet(f"{sf}/embeddings.parquet").count()
    assert sum(r.n_members for r in out) == n
    assert len(out) <= 4
    assert all(abs(r.centroid_sum) < 1e6 for r in out)


def test_ngram_hot_shingle_cap_bounds_candidates(spark):
    """r3 (VERDICT #1): 150 docs sharing ONLY one boilerplate sentence
    are 150*149/2 candidate pairs uncapped; with max_df=100 the
    boilerplate shingles are dropped before the self-join so no pair
    survives, while genuinely-similar docs (distinct shingles, df far
    under the cap) still match with their exact score."""
    boiler = "all rights reserved terms of service apply here"
    rows = [(i, f"unique token{i} alpha{i} " + boiler) for i in range(150)]
    rows += [
        (1000, "spark engines process big data quickly today"),
        (1001, "spark engines process big data quickly today"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    capped = D.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.3, max_df=100
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in capped}
    assert got == {(1000, 1001): 1.0}  # boilerplate-only overlaps gone

    uncapped = D.ngram_jaccard_pairs(
        df, "text", "doc_id", threshold=0.3, max_df=None
    )
    assert uncapped.count() == 150 * 149 // 2 + 1  # the quadratic blowup


def test_lsh_band_index_rejects_indivisible_bands(spark, docs):
    with pytest.raises(ValueError, match="divisible"):
        D.lsh_band_index(docs, "text", "doc_id", n_hashes=7, bands=4)
    with pytest.raises(ValueError, match="divisible"):
        D.streaming_near_dup(
            docs, docs, "text", "doc_id", n_hashes=7, bands=4
        )


def test_semantic_dup_pairs_detects_embedding_dim(spark):
    """Non-64-dim embeddings must not collapse into one LSH bucket — the
    plane width is detected from the data (review finding: a hardcoded
    dim=64 null-poisoned the sign fold for any other width)."""
    import random

    from target_parquet_spark.operators.similarity import semantic_dup_pairs

    rng = random.Random(7)
    rows = [(i, [rng.random() for _ in range(16)]) for i in range(50)]
    rows += [(i + 1000, v) for i, v in rows[:10]]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r.id_a, r.id_b)
        for r in semantic_dup_pairs(df, threshold=0.999).collect()
    }
    assert all((i, i + 1000) in pairs for i in range(10))
    assert len(pairs) == 10  # random 16-dim vectors are not near-dups


def test_exact_dedup_rejects_unknown_keep(spark):
    import pytest as _pytest

    from target_parquet_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "a")], "id long, text string")
    with _pytest.raises(ValueError, match="keep"):
        exact_dedup(df, "text", "id", keep="last")


def test_simhash_pairs_rejects_radius_beyond_band_guarantee(spark):
    import pytest as _pytest

    from target_parquet_spark.operators.dedup import simhash_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="completeness"):
        simhash_pairs(df, "text", "doc_id", max_hamming=4)


def test_zorder_value_clamps_bit_budget(spark):
    """5 cols x 16 bits would overflow the 63-bit signed budget; the
    clamp must keep every z-value non-negative and still distinguish
    far-apart points."""
    from pyspark.sql import functions as F

    from target_parquet_spark.io.layout import zorder_value

    df = spark.createDataFrame(
        [(0.0, 0.0, 0.0, 0.0, 0.0), (9.0, 9.0, 9.0, 9.0, 9.0)],
        "a double, b double, c double, d double, e double",
    )
    cols = [F.col(c) for c in "abcde"]
    z = zorder_value(cols, [0.0] * 5, [9.0] * 5, bits=16)
    vals = [r[0] for r in df.select(z).collect()]
    assert all(v >= 0 for v in vals)
    assert vals[0] < vals[1]


def test_unrolled_dot_kernel_matches_hof_fold_exactly(spark, monkeypatch):
    """The SPARK_GRAFT_DOT_UNROLL=1 kernel must be bit-identical to the
    default higher-order fold: same left-to-right IEEE op order, same
    null poisoning (short array -> null), for both the double and the
    int kernels."""
    rows = [
        (list(float(((i * 7 + j) % 13) - 6) / 3.0 for j in range(64)),
         list(float(((i * 5 + 3 * j) % 11) - 5) / 7.0 for j in range(64)))
        for i in range(50)
    ]
    rows.append(([1.0] * 63, [1.0] * 64))  # short side: null poisoning
    df = spark.createDataFrame(
        rows, "a array<double>, b array<double>"
    )
    ints = df.select(
        F.transform("a", lambda x: F.round(x * 100).cast("int")).alias("a"),
        F.transform("b", lambda x: F.round(x * 100).cast("int")).alias("b"),
    )

    fold_d = [r[0] for r in df.select(S.dot(F.col("a"), F.col("b"))).collect()]
    fold_i = [
        r[0] for r in ints.select(S.int_dot(F.col("a"), F.col("b"))).collect()
    ]
    monkeypatch.setattr(S, "_UNROLL_FIXED_DIM", True)
    chain_d = [
        r[0] for r in df.select(S.dot(F.col("a"), F.col("b"), 64)).collect()
    ]
    chain_i = [
        r[0]
        for r in ints.select(S.int_dot(F.col("a"), F.col("b"), 64)).collect()
    ]
    assert chain_d == fold_d  # exact, including the trailing None
    assert chain_i == fold_i
    assert chain_d[-1] is None and chain_i[-1] is None


def test_lloyd_arrow_assignment_matches_expression_exactly(spark, sf_dir):
    """The Arrow Lloyd round (mapInArrow + numpy sequential-fold kernel)
    must produce BIT-IDENTICAL centroids to the literal-expression round
    on the real corpus, for both metrics and on either side of the
    K*dim path gate — same assignment argmin (same IEEE fold order,
    same -0.0 zero-norm guard, same lowest-k ties) and the same
    6dp-quantized means."""
    import os

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    import target_parquet_spark.operators.similarity as SIM

    for metric in ("cos", "l2"):
        for k in (4, 16):
            prev = os.environ.get("SPARK_GRAFT_KMEANS_EXPR")
            os.environ["SPARK_GRAFT_KMEANS_EXPR"] = "1"
            try:
                cb_expr = S.kmeans_codebook(
                    emb, n_centroids=k, n_iters=2, metric=metric
                )
            finally:
                if prev is None:
                    os.environ.pop("SPARK_GRAFT_KMEANS_EXPR", None)
                else:
                    os.environ["SPARK_GRAFT_KMEANS_EXPR"] = prev
            # the Arrow round, forced even below the K*dim size gate
            cb_arrow = _kmeans_arrow_forced(SIM, emb, k, metric)
            assert cb_arrow == cb_expr, f"metric={metric} k={k}"


def _kmeans_arrow_forced(SIM, emb, k, metric):
    """Train with the Arrow round regardless of the K*dim size gate, by
    replicating kmeans_codebook's loop over the public helpers."""
    import math

    from pyspark.sql import functions as F

    e = emb.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    init_rows = e.filter(F.col("_id") < k).orderBy("_id").collect()
    centroids = {int(r._id): [float(x) for x in r._v] for r in init_rows}
    dim = 64
    for _ in range(2):
        ordered = [cv for _k, cv in sorted(centroids.items())]
        if metric == "l2":
            norms = None
        else:
            norms = []
            for cv in ordered:
                s = 0.0
                for x in cv:
                    s += x * x
                norms.append(math.sqrt(s))
        fn = SIM._lloyd_round_partials(ordered, norms, metric, dim)
        partials = e.select("_v").mapInArrow(
            fn, "k int, dim int, s double, n long"
        )
        means = partials.groupBy("k", "dim").agg(
            F.round(F.sum("s") / F.sum("n"), 6).alias("c")
        )
        centroids = {}
        for r in means.collect():
            centroids.setdefault(int(r.k), [0.0] * dim)[r.dim] = float(r.c)
    out = []
    for kk in range(k):
        v = centroids[kk]
        s = 0.0
        for x in v:
            s += x * x
        out.append((kk, v, math.sqrt(s)))
    return out
