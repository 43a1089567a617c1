"""Invariant tests for the session-2 operator families (queries_r3.py).

The oracle gate proves engine-vs-DuckDB equality; these pin structural
guarantees equality checks can't express: SCD2 intervals tile without
overlap, Markov rows are proper distributions, chunking covers every
token, quotas never overfill, rolling quantiles are order statistics.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

import target_parquet_spark.queries_r3  # noqa: F401  (registers queries)
from target_parquet_spark.queries import ORACLES, QUERIES
from target_parquet_spark.queries_r3 import _CHUNK, _MIX, _STRIDE


@pytest.fixture(scope="module")
def run(spark, sf_dir):
    def _run(name):
        return QUERIES[name](spark, sf_dir)

    return _run


def test_scd2_intervals_tile(run):
    rows = run("cdc_scd2_history").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, hist in by_user.items():
        hist.sort(key=lambda r: r.version)
        # versions dense from 1, exactly one open (current) interval
        assert [r.version for r in hist] == list(range(1, len(hist) + 1))
        assert sum(r.is_current for r in hist) == 1
        assert hist[-1].is_current == 1 and hist[-1].valid_to is None
        for a, b in zip(hist, hist[1:]):
            assert a.valid_to == b.valid_from  # contiguous, no gap/overlap
            assert a.event_type != b.event_type  # change rows only


def test_markov_rows_are_distributions(run, spark, sf_dir):
    rows = run("events_markov_transitions").collect()
    by_from: dict = {}
    for r in rows:
        by_from.setdefault(r.from_state, []).append(r)
    for state, outs in by_from.items():
        assert math.isclose(sum(r.p for r in outs), 1.0, abs_tol=0.001)
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    # every event except each user's first contributes one transition
    assert sum(r.n for r in rows) == n_events - n_users


def test_chunking_covers_every_token(run, spark, sf_dir):
    chunks = run("text_chunk_sliding").collect()
    docs = {
        r.doc_id: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.lower("text")), r"\s+")).alias("n"),
        )
        .filter(F.trim("text") != "")
        .collect()
    }
    by_doc: dict = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    assert set(by_doc) == set(docs)
    for doc_id, cs in by_doc.items():
        n = docs[doc_id]
        cs.sort(key=lambda c: c.chunk_idx)
        assert [c.chunk_idx for c in cs] == list(range(1, len(cs) + 1))
        assert len(cs) == (n - 1) // _STRIDE + 1
        # every chunk full-size except possibly trailing ones; last chunk
        # reaches the final token
        last_start = (len(cs) - 1) * _STRIDE + 1
        assert cs[-1].n_tokens == min(_CHUNK, n - last_start + 1)
        assert all(c.n_tokens == _CHUNK for c in cs if c.chunk_idx * _STRIDE + (_CHUNK - _STRIDE) <= n)


def test_unigram_logprob_bounds(run):
    rows = run("text_unigram_logprob").collect()
    assert rows
    for r in rows:
        assert r.min_logprob <= r.avg_logprob < 0  # probs < 1 -> logs < 0


def test_mixture_quota_never_overfills_and_is_deterministic(run):
    quota = dict(_MIX)
    a = {r.lang: r for r in run("sample_mixture_quota").collect()}
    b = {r.lang: r for r in run("sample_mixture_quota").collect()}
    assert set(a) <= set(quota)
    for lang, r in a.items():
        assert 0 < r.n_selected <= quota[lang]
        assert r.sel_sig == b[lang].sel_sig  # reproducible selection


def test_key_skew_factors_sane(run):
    rows = {r.key_col: r for r in run("audit_key_skew").collect()}
    assert set(rows) == {
        "orders.o_custkey",
        "lineitem.l_partkey",
        "events.user_id",
    }
    for r in rows.values():
        assert r.n_keys > 0
        assert r.skew_factor >= 1.0  # max/avg by construction
        assert r.max_n >= r.avg_n
        assert r.top_key is not None


def test_median_mode_are_order_statistics(run, spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bounds = {
        r.flag: r
        for r in li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(F.min("l_quantity").alias("lo"), F.max("l_quantity").alias("hi"))
        .collect()
    }
    for r in run("agg_median_mode").collect():
        b = bounds[r.l_returnflag]
        assert b.lo <= r.median_qty <= b.hi
        assert b.lo <= r.mode_qty <= b.hi


def test_rolling_quantile_ordering(run):
    rows = run("window_rolling_quantile").collect()
    assert rows
    for r in rows:
        assert r.p90_last10 >= r.med_last10  # p90 dominates median


def test_merged_islands_disjoint(run):
    rows = run("events_merge_intervals").collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    for user, isl in by_user.items():
        isl.sort(key=lambda r: r.island)
        assert [r.island for r in isl] == list(range(1, len(isl) + 1))
        for r in isl:
            assert r.n_events >= 1
            assert r.span_us >= 300_000_000  # at least one 5-min interval
        for a, b in zip(isl, isl[1:]):
            assert b.island_start > a.island_end  # maximal merge: a gap


def test_null_profile_shape(run):
    rows = {(r.tbl, r.col): r for r in run("audit_null_profile").collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r.n_rows > 0
        assert 0 <= r.n_null <= r.n_rows
        assert 0 <= r.n_empty <= r.n_rows
        assert 1 <= r.n_distinct <= r.n_rows


def test_ivf_recall_bounds(run):
    rows = run("sim_ivf_recall").collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_hits <= 10
        assert r.n_hits <= r.n_cand
        assert math.isclose(r.recall_at_10, r.n_hits / 10.0, abs_tol=1e-9)
        # every probed cell has members at this corpus/centroid ratio
        # (queries are the neutral 100-109 stratum since r3 — disjoint
        # from seed-centroid ids, so recall is leakage-free)
        assert r.n_cand >= 1


def test_hll_set_ops_error_bounds(run):
    r = run("agg_hll_set_ops").collect()[0]
    # standard error 1.04/sqrt(64) = 13%; allow 3 sigma — but only above
    # the linear-counting regime (the raw HLL estimator is biased high
    # for n << m, and sf0.001 has ~15 users per set)
    for est, exact in [
        (r.est_a, r.n_exact_a),
        (r.est_b, r.n_exact_b),
        (r.est_union, r.n_exact_union),
    ]:
        assert est > 0
        if exact >= 500:
            assert abs(est - exact) / exact < 0.4
    # union never smaller than either input set's estimate (register-max
    # dominance), intersection via inclusion-exclusion stays consistent
    assert r.est_union >= max(r.est_a, r.est_b) - 1e-9
    assert abs(r.est_intersect - (r.est_a + r.est_b - r.est_union)) < 0.011


def test_snapshot_diff_partitions_users(run, spark, sf_dir):
    rows = run("cdc_snapshot_diff").collect()
    statuses = {r.status for r in rows}
    assert statuses <= {"added", "removed", "changed", "unchanged"}
    assert "removed" not in statuses  # append-only source: no tombstones
    # every user at T2 appears exactly once
    assert len({r.user_id for r in rows}) == len(rows)
    for r in rows:
        if r.status == "added":
            assert r.old_state is None and r.new_state is not None
        elif r.status == "unchanged":
            assert r.old_state == r.new_state


def test_bitmap_distinct_equals_exact(run, spark, sf_dir):
    got = {r.event_type: r for r in run("agg_bitmap_distinct").collect()}
    exact = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for et, r in got.items():
        assert r.n_distinct_users == exact[et]  # bitmaps are EXACT
        assert r.n_words <= r.n_distinct_users  # >=1 user per word


def test_time_weighted_avg_within_value_range(run, spark, sf_dir):
    bounds = {
        r.user_id: r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for r in run("events_time_weighted_avg").collect():
        b = bounds[r.user_id]
        # a weighted mean cannot escape the value range (tolerance: the
        # two dropped endpoints and 4dp rounding)
        assert b.lo - 1e-3 <= r.twa_value <= b.hi + 1e-3
        assert b.lo - 1e-3 <= r.naive_avg <= b.hi + 1e-3


def test_struct_json_roundtrip(run, spark):
    rows = run("scalar_struct_funcs").collect()
    assert rows
    import json as _json

    for r in rows:
        parsed = _json.loads(r.ord_json)
        assert parsed["status"] == r.status
        assert parsed["total_cents"] == r.total_cents
        assert list(parsed) == ["status", "total_cents", "priority"]


def test_weighted_median_differs_from_unweighted_sanely(run, spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bounds = {
        r.flag: r
        for r in li.groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
        .collect()
    }
    rows = run("agg_weighted_percentile").collect()
    assert {r.l_returnflag for r in rows} == set(bounds)
    for r in rows:
        b = bounds[r.l_returnflag]
        assert b.lo <= r.weighted_median_price <= b.hi


def test_mmr_selection_is_diverse_and_ordered(run):
    rows = sorted(run("sim_mmr_select").collect(), key=lambda r: r.sel_rank)
    assert [r.sel_rank for r in rows] == [1, 2, 3, 4]
    assert len({r.vec_id for r in rows}) == 4  # no repeats
    # rank 1 is the pure-relevance argmax: nothing later beats its rel
    assert all(rows[0].rel_score >= r.rel_score - 1e-9 for r in rows[1:])
    for r in rows:
        # mmr = 0.7*rel - 0.3*maxsim with maxsim in [-1, 1] (anti-aligned
        # neighbors make the penalty a bonus, so no one-sided bound)
        assert abs(r.mmr_score - 0.7 * r.rel_score) <= 0.3 + 1e-9


def test_bitmap_set_ops_exact_and_consistent(run, spark, sf_dir):
    r = run("agg_bitmap_set_ops").collect()[0]
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_a = e.filter(F.col("event_type") == "click").select("user_id").distinct().count()
    n_b = (
        e.filter(F.col("event_type") == "purchase").select("user_id").distinct().count()
    )
    n_u = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .select("user_id")
        .distinct()
        .count()
    )
    assert (r.n_a, r.n_b, r.n_union) == (n_a, n_b, n_u)
    assert r.n_intersect == n_a + n_b - n_u  # inclusion-exclusion, exactly


def test_bitmap_words_merge_across_splits(spark, sf_dir):
    # the mergeability claim: word tables built per-split re-OR into the
    # same exact distinct as one global pass
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    bit = F.expr("shiftleft(cast(1 as bigint), cast(user_id % 32 as int))")
    halves = [
        e.filter(F.col("event_id") % 2 == i)
        .groupBy(F.expr("user_id div 32").alias("word"))
        .agg(F.bit_or(bit).alias("bits"))
        for i in (0, 1)
    ]
    merged = (
        halves[0]
        .unionByName(halves[1])
        .groupBy("word")
        .agg(F.bit_or("bits").alias("bits"))
        .agg(F.sum(F.bit_count("bits")).alias("n"))
        .collect()[0]
        .n
    )
    assert merged == e.select("user_id").distinct().count()


def test_robust_outliers_are_actually_far(run, spark, sf_dir):
    for r in run("audit_robust_outliers").collect():
        assert r.n_outliers >= 1
        assert r.mad >= 0
        # the flagged minimum lies outside the +/-3 sigma-equivalent band
        assert abs(r.min_outlier_value - r.med) > 3 * 1.4826 * r.mad - 1e-2


def test_chunk_overlap_flags_perturbed_copies(run):
    rows = run("dedup_chunk_overlap").collect()
    assert rows
    by_id = {r.doc_id: r for r in rows}
    # perturbed copies (doc_id + 1_000_000) share all leading chunks with
    # their originals, so both sides of at least one pair must be flagged
    pairs = [i for i in by_id if i + 1_000_000 in by_id]
    assert pairs
    for r in rows:
        assert 0 < r.n_dup_chunks <= r.n_chunks
        assert 0 < r.dup_chunk_ratio <= 1.0


def test_k_anonymity_report_consistent(run, spark, sf_dir):
    r = run("audit_k_anonymity").collect()[0]
    n_groups = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.date_trunc("day", F.col("ts")).cast("date"))
        .count()
        .count()
    )
    assert r.n_groups == n_groups
    assert 0 <= r.n_violating <= r.n_groups
    assert (r.n_violating == 0) == (r.k5_satisfied == 1)
    if r.n_violating:
        assert 0 < r.n_rows_at_risk < 5 * r.n_violating
    else:
        assert r.n_rows_at_risk == 0


def test_ks_drift_bounds_and_counts(run, spark, sf_dir):
    rows = run("audit_ks_drift").collect()
    assert len(rows) == 5
    totals = {
        r.event_type: r.n
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for r in rows:
        assert 0.0 <= r.ks_stat <= 1.0  # KS is a sup of ECDF gaps
        assert r.na + r.nb == totals[r.event_type]
        assert r.na > 0 and r.nb > 0


def test_forward_asof_is_nonnegative_and_nearest(run, spark, sf_dir):
    rows = run("asof_join_forward").collect()
    assert rows
    matched = [r for r in rows if r.secs_to_purchase is not None]
    assert matched
    for r in matched:
        assert r.secs_to_purchase >= 0  # next purchase is at-or-after
    # spot-check nearest-ness for one user via the raw table
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    uid = matched[0].user_id
    clicks = sorted(
        x.ts for x in e.filter(
            (F.col("user_id") == uid) & (F.col("event_type") == "click")
        ).collect()
    )
    purchases = sorted(
        x.ts for x in e.filter(
            (F.col("user_id") == uid) & (F.col("event_type") == "purchase")
        ).collect()
    )
    got = sorted(
        r.secs_to_purchase for r in matched if r.user_id == uid
    )
    want = sorted(
        min((p - c).total_seconds() for p in purchases if p >= c)
        for c in clicks
        if any(p >= c for p in purchases)
    )
    assert [round(x, 3) for x in got] == [round(x, 3) for x in want]


def test_psi_nonneg_and_bins_bounded(run):
    rows = run("audit_psi_drift").collect()
    assert len(rows) == 5
    for r in rows:
        assert r.psi >= 0  # PSI is a symmetrized KL: nonnegative
        assert 1 <= r.n_bins <= 10


def test_lang_confusion_cells_sum_to_corpus(run, spark, sf_dir):
    rows = run("text_lang_id_confusion").collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs  # a partition of the corpus
    langs = {"en", "de", "fr", "es", "zh", "und"}
    for r in rows:
        assert r.lang_pred in langs


def test_top_paths_ordered_and_bounded(run):
    rows = run("events_top_paths").collect()
    assert 0 < len(rows) <= 15
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    for r in rows:
        assert len(r.path.split(">")) == 3


def test_hourly_profile_shares_and_peaks(run):
    rows = run("events_hourly_profile").collect()
    assert len(rows) == 5
    for r in rows:
        assert 1 <= r.n_active_hours <= 24
        assert 0 <= r.peak_hour <= 23
        # the peak's share is at least the uniform share over active hours
        assert r.peak_share >= 1.0 / r.n_active_hours - 1e-9
        assert r.peak_share <= 1.0


def test_ordered_string_agg_order_and_size(run):
    rows = run("agg_ordered_string_agg").collect()
    assert rows
    for r in rows:
        names = r.top_customers.split(",")
        assert 1 <= r.n_listed <= 3
        assert len(names) == r.n_listed


def test_lateral_topk_matches_window_form(run, spark, sf_dir):
    from pyspark.sql import Window as W

    got = sorted(
        (r.n_name, r.s_name) for r in run("sql_lateral_topk").collect()
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = W.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), "s_suppkey")
    want = sorted(
        (r.n_name, r.s_name)
        for r in s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .collect()
    )
    assert got == want


def test_attribution_conserves_value(run, spark, sf_dir):
    r = run("events_multitouch_attribution").collect()[0]
    assert r.n_credited_clicks > 0
    assert r.attributed_value > 0
    # conservation: total credit equals the value of purchases that had
    # at least one click touch in the window
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    c = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"), "user_id", F.col("ts").alias("p_ts"), "value"
    )
    reachable = (
        p.join(
            c,
            (p.user_id == c.user_id)
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
            "left_semi",
        )
        .agg(F.sum("value"))
        .collect()[0][0]
    )
    assert abs(r.attributed_value - reachable) < 0.05


def test_normalized_dedup_recovers_case_pairs(run, spark, sf_dir):
    r = run("dedup_exact_normalized").collect()[0]
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert r.n_docs == 2 * n_docs
    # normalization can only merge more: every raw collision survives it
    assert r.n_norm_dup_groups >= r.n_raw_dup_groups
    # every original/uppercased pair collides under the normalized hash
    assert r.n_norm_dup_groups > 0


def test_normalized_dedup_empty_corpus_matches_oracle(spark, sf_dir, tmp_path):
    """On an empty corpus every count is 0, as in the DuckDB oracle (a sum
    over no groups is NULL)."""
    import duckdb

    empty = str(tmp_path / "documents.parquet")
    spark.read.parquet(f"{sf_dir}/documents.parquet").limit(0).write.parquet(empty)
    got = [tuple(r) for r in QUERIES["dedup_exact_normalized"](spark, str(tmp_path)).collect()]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{empty}/*.parquet')")
    want = con.execute(ORACLES["dedup_exact_normalized"]).fetchall()
    assert got == want == [(0, 0, 0)]


def test_conversion_latency_consistent(run):
    r = run("events_conversion_latency").collect()[0]
    assert 0 < r.n_converted <= r.n_clicks
    assert math.isclose(
        r.conversion_rate, r.n_converted / r.n_clicks, abs_tol=1e-4
    )
    assert 0 <= r.p50_secs <= r.p90_secs


def test_benford_is_probability_profile(run):
    rows = run("audit_benford_digits").collect()
    assert {r.lead_digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.observed_p for r in rows) - 1.0) < 0.01
    assert abs(sum(r.benford_p for r in rows) - 1.0) < 0.01
    for r in rows:
        assert r.abs_dev >= 0


def test_histogram2d_covers_all_events(run, spark, sf_dir):
    rows = run("agg_histogram2d").collect()
    n = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert sum(r.n for r in rows) == n  # a partition of the table
    for r in rows:
        assert 0 <= r.hour <= 23 and 0 <= r.vbin <= 7


def test_pmi_symmetric_support_and_order(run):
    rows = run("text_cooccurrence_pmi").collect()
    assert rows
    for r in rows:
        assert r.tk_a < r.tk_b  # canonical pair order, no double count
        assert r.n_ab >= 10


def test_corpus_datasheet_metrics_consistent(run, spark, sf_dir):
    m = {r.metric: r.value for r in run("pipeline_corpus_datasheet").collect()}
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert m["n_docs"] == n_docs
    assert m["n_tokens"] > 0
    assert abs(m["avg_doc_tokens"] - m["n_tokens"] / m["n_docs"]) < 1e-3
    assert 0 <= m["pct_en"] <= 1
    assert m["n_exact_dup_docs"] >= 0
    assert len(m) == 8


def test_higher_moments_match_builtin_population_forms(run, spark, sf_dir):
    got = {r.event_type: r for r in run("agg_higher_moments").collect()}
    want = {
        r.event_type: r
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type")
        .agg(
            F.stddev_pop("value").alias("sd"),
            F.skewness("value").alias("sk"),  # Spark builtin = population
        )
        .collect()
    }
    for et, r in got.items():
        assert abs(r.pop_stddev - want[et].sd) < 1e-3
        assert abs(r.pop_skewness - want[et].sk) < 1e-3


def test_bitwise_funcs_algebra(run):
    for r in run("scalar_bitwise_funcs").collect():
        assert r.low_byte == r.o_orderkey & 255
        assert r.shifted == r.o_orderkey >> 4
        assert r.popcount == bin(r.o_orderkey).count("1")


def test_pq_ann_scores_sane(run, spark, sf_dir):
    rows = run("sim_pq_ann").collect()
    assert len(rows) == 10
    assert len({r.vec_id for r in rows}) == 10
    adcs = [r.adc_dist for r in rows]
    assert adcs == sorted(adcs)  # ranked by ADC ascending
    for r in rows:
        assert r.adc_dist >= 0 and r.exact_dist >= 0
    # seed vectors ARE centroids: vec 1..15 encode to themselves in every
    # subspace, so their ADC == the exact distance of their reconstruction
    from target_parquet_spark.operators.similarity import pq_adc_table, pq_codebook
    from target_parquet_spark.queries_ext import td
    from pyspark.sql import functions as FF

    emb = td(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cb = pq_codebook(emb, m=8, k=16, dim=64)
    qv = [float(x) for x in emb.filter(FF.col("vec_id") == 0).collect()[0][1]]
    t = pq_adc_table(qv, cb)
    for r in rows:
        if 1 <= r.vec_id < 16:
            want = round(sum(t[j][r.vec_id] for j in range(8)), 4)
            assert abs(r.adc_dist - want) < 1e-3


def test_ivfpq_is_subset_of_pq_universe(run):
    ivfpq = run("sim_ivfpq_ann").collect()
    assert 0 < len(ivfpq) <= 10
    adcs = [r.adc_dist for r in ivfpq]
    assert adcs == sorted(adcs)
    pq_all = {r.vec_id: r.adc_dist for r in run("sim_pq_ann").collect()}
    # any ivfpq hit that also made the unpruned PQ top-10 must carry the
    # identical ADC score (same codes, same table)
    for r in ivfpq:
        if r.vec_id in pq_all:
            assert abs(r.adc_dist - pq_all[r.vec_id]) < 1e-6


def test_bot_regularity_sorted_and_positive(run):
    rows = run("events_bot_regularity").collect()
    assert rows
    cvs = [r.gap_cv for r in rows]
    assert cvs == sorted(cvs)
    for r in rows:
        assert r.n_gaps >= 30
        assert r.mean_gap_s > 0
        assert r.gap_cv >= 0


def test_semantic_clusters_contain_planted_pairs(run):
    rows = run("sim_semantic_clusters").collect()
    assert rows
    by_node = {r.vec_id: r for r in rows}
    # every planted copy (vec_id + 1_000_000) clusters with its original
    planted = [v for v in by_node if v >= 1_000_000 and v - 1_000_000 in by_node]
    assert planted
    for v in planted:
        assert by_node[v].cluster_id == by_node[v - 1_000_000].cluster_id
    for r in rows:
        assert r.cluster_size >= 2  # only multi-member clusters emit
        assert r.cluster_id <= r.vec_id  # representative = min member


def test_active_users_monotone_windows(run):
    rows = run("events_active_users").collect()
    assert rows
    for r in rows:
        assert r.dau <= r.wau <= r.mau  # nested trailing windows
        assert 0 < r.stickiness <= 1


def test_zipf_slope_negative(run):
    r = run("text_zipf_fit").collect()[0]
    assert r.n_terms > 10
    assert r.zipf_slope < 0  # frequency decreases with rank, always
    assert r.log10_intercept > 0  # top term occurs more than once


def test_interval_overlap_positive_and_bounded(run):
    rows = run("events_interval_overlap_join").collect()
    assert rows
    for r in rows:
        assert r.n_overlaps >= r.n_sessions_hit >= 1
        # overlap of open intervals is strictly positive and cannot
        # exceed the incident window length (10 min)... unless the
        # session fully contains it — then it equals it; sessions can be
        # longer, so bound by session-side is not fixed; incident side is
        assert 0 < r.max_overlap_us <= 600_000_000


def test_cusum_changepoint_shape(run):
    rows = run("events_changepoint_cusum").collect()
    assert len(rows) == 5
    for r in rows:
        assert r.changepoint_day is not None
        assert r.max_abs_cusum >= 0


def test_threshold_episodes_consistent(run):
    rows = run("events_threshold_episodes").collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_sustained <= r.n_episodes
        assert r.longest_run >= 1
        if r.n_sustained:
            assert r.longest_run >= 3


def test_pareto_concentration_bounds(run):
    r = run("agg_pareto_concentration").collect()[0]
    assert r.n_customers > 0
    # the top decile holds at least its uniform share
    assert 0.1 - 1e-9 <= r.top_decile_share <= 1.0
    assert 1 <= r.n_for_half_revenue <= r.n_customers
    # half the revenue never needs more than ~half the customers when
    # sorted descending
    assert r.frac_for_half_revenue <= 0.5 + 1.0 / r.n_customers


def test_charset_ratios_partition_unity(run):
    rows = run("text_charset_profile").collect()
    assert len(rows) == 5
    for r in rows:
        total = r.alpha_ratio + r.digit_ratio + r.space_ratio + r.other_ratio
        assert abs(total - 1.0) < 0.01  # the four classes partition text
        # synthetic corpus is Latin-script for every lang label, so the
        # informative signal here is alpha+space dominance, not script mix
        assert r.alpha_ratio > 0.5


def test_first_touch_consistent_with_multitouch(run):
    ft = run("events_first_touch_attribution").collect()[0]
    mt = run("events_multitouch_attribution").collect()[0]
    assert ft.n_attributed_purchases > 0
    assert ft.n_first_touch_clicks <= ft.n_attributed_purchases
    # all three models conserve the same attributable value pool
    assert abs(ft.attributed_value - mt.attributed_value) < 0.05


def test_mean_inequality_chain(run):
    rows = run("agg_mean_family").collect()
    assert rows
    for r in rows:
        # AM >= GM >= HM, with equality only for constant data
        assert r.arith_mean >= r.geo_mean - 1e-6
        assert r.geo_mean >= r.harm_mean - 1e-6
