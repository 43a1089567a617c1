"""Round-3 hardening pins (VERDICT r2 'Next round' items)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from target_parquet_spark.operators import similarity as S
from target_parquet_spark.queries_ext import td

SF001 = "/root/testdata/sf0.01"


def _mean_recall(spark, qfn):
    rows = qfn(spark, SF001).collect()
    assert len(rows) == 10
    return sum(r.recall_at_10 for r in rows) / len(rows)


def test_trained_codebook_improves_recall_at_same_nprobe(spark):
    """VERDICT r2 #2: wiring the Lloyd-trained (spherical) codebook into
    IVF must measurably beat the first-16-seed codebook at nprobe=2 on
    the neutral query stratum (queries disjoint from seed ids — the
    leaky stratum rewarded the seed codebook instead)."""
    from target_parquet_spark.queries_r3 import (
        sim_ivf_recall,
        sim_ivf_recall_trained,
    )

    seed = _mean_recall(spark, sim_ivf_recall)
    trained = _mean_recall(spark, sim_ivf_recall_trained)
    assert trained > seed, f"trained {trained} <= seed {seed}"


def test_kmeans_codebook_deterministic_and_shaped(spark):
    emb = td(spark, SF001, "embeddings").select("vec_id", "embedding")
    cb1 = S.kmeans_codebook(emb, n_centroids=8, n_iters=1)
    cb2 = S.kmeans_codebook(emb, n_centroids=8, n_iters=1)
    assert cb1 == cb2  # bit-deterministic training (6dp quantization)
    assert [c[0] for c in cb1] == list(range(8))
    assert all(len(c[1]) == 64 for c in cb1)
    with pytest.raises(ValueError, match="metric"):
        S.kmeans_codebook(emb, n_centroids=4, metric="manhattan")


# ---------------------------------------------------------------------------
# VERDICT r2 #9: dateutil-grade timestamp leniency
# ---------------------------------------------------------------------------


DATEUTIL_CORPUS = [
    "2024-01-15T10:30:00Z",          # the reference's own test spelling
    "2024-01-15T10:30:00.123456",
    "2024-01-15 10:30:45",
    "2024-01-15",
    "1/15/2024 10:30:00",
    "01/15/2024",
    "15/01/2024",                     # day-first fallback
    "01-15-2024 10:30:00",
    "01-15-2024",
    "15-01-2024",                     # day-first fallback
    "2024/01/15 10:30:00",
    "2024/01/15",
    "2024.01.15",
    "20240115",
    "20240115T103000",
    "Jan 15 2024 10:30:00",
    "Jan 15, 2024",
    "Jan 15 2024",
    "January 15, 2024",
    "January 15, 2024 10:30:00",
    "15 Jan 2024",
    "15 Jan 2024 10:30:00",
    "15 January 2024",
    "15-Jan-2024",
    # r5 additions (VERDICT r4 #9): ordinals, "of", AM/PM, zone names
    "3rd of June 2021",
    "June 3rd, 2021",
    "21st of March 2022 10:30:00",
    "June 3 2021",
    "1/15/2024 10:30 PM",
    "1/15/2024 10:30:45 PM",
    "Jan 15 2024 10:30 PM",
    "Jan 15, 2024 10:30 AM",
    "Jan 15, 2024 10:30:45 PM",
    "June 3, 2021 5:07 AM",
    "June 3, 2021 5:07:09 AM",
    "15 Jan 2024 10:30 PM",
    "15 Jan 2024 10:30:45 PM",
    "2024-01-15 10:30 PM",
    "2024-01-15 10:30:45 PM",
    "2024-01-15 10:30:00 UTC",
    "2024-01-15 10:30:00 GMT",
    "2024-01-15T10:30:00 UTC",
    # r6 (VERDICT r5 missing #3): weekday prefixes, commas anywhere,
    # attached / hour-only meridiems — the remaining dateutil-isms
    # short of tzinfos-requiring zone abbreviations (out of scope in
    # dateutil too without a tzinfos map)
    "Tuesday, June 3, 2021",
    "Tue Jun 3 2021 16:30:00",
    "Thu, 15 Jan 2024",
    "June 3, 2021, 4:30 PM",
    "June 3 2021 4pm",
    "3rd of June 2021 4pm",
    "June 3rd, 2021, 4:30pm",
    "1/15/2024 10pm",
    "2024-01-15 10 PM",
    # numeric dates with dot separators; a weekday before an ISO date
    "01.15.2024 10:30:00",
    "Mon 2024-01-15",
]


def test_lenient_timestamp_matches_dateutil_corpus(spark):
    """Every spelling in the corpus must parse to exactly what the
    reference's dateutil.parser.parse would produce (ms-truncated).
    python-dateutil ships with pandas, so the oracle is the real thing."""
    from dateutil import parser as du

    from target_parquet_spark.coerce import lenient_timestamp

    corpus = DATEUTIL_CORPUS
    df = spark.createDataFrame([(s,) for s in corpus], "raw string")
    got = {
        r.raw: r.ts
        for r in df.select(
            "raw", lenient_timestamp("raw").alias("ts")
        ).collect()
    }
    import datetime as dt

    for s in corpus:
        want = du.parse(s)
        if want.tzinfo is not None:  # session is UTC; compare naive UTC
            want = want.astimezone(dt.timezone.utc).replace(tzinfo=None)
        want = want.replace(microsecond=want.microsecond // 1000 * 1000)
        assert got[s] == want, f"{s!r}: spark={got[s]!r} dateutil={want!r}"

    # malformed input nulls out instead of erroring (C11)
    bad = spark.createDataFrame([("not a date",)], "raw string")
    assert (
        bad.select(lenient_timestamp("raw").alias("ts")).collect()[0].ts
        is None
    )


TZINFOS_CORPUS = [
    "2024-01-15 10:30:00 EST",
    "2024-01-15T10:30:00 PST",
    "1/15/2024 10:30:00 CET",
    "15/01/2024 10:30:00 CEST",
    "Jan 15 2024 10:30:00 JST",
    "January 15, 2024 10:30:00 IST",   # half-hour offset
    "15 Jan 2024 10:30:00 AEDT",       # 4-letter, ST-suffix overlap
    "1/15/2024 10:30 PM NZDT",
    "Jan 15, 2024 10:30:45 PM HST",
    "2024-01-15 10:30 PM AKST",
    "Tuesday, Jan 16, 2024 10:30:00 BST",  # weekday + comma + tz
    # review r7 #1 (the zzz hijack): java.time resolves bare
    # abbreviations to DST-observing REGION zones, so summer CST
    # parsed via zzz would be America/Chicago's -05:00 instead of
    # the map's fixed -06:00 (and BST London instead of +01:00...
    # in winter, -00:00!).  The XXX formats must see the
    # substituted string FIRST — these rows pin that order.
    "2024-07-15 10:30:00 CST",
    "2024-07-15T10:30:00 PST",
    "2024-07-15 10:30:00 CET",
    "2024-01-16 10:30:00 BST",
    # ADVICE r7: fractional seconds + mapped abbreviation — the
    # abbrev gate suppresses the ISO cast for these, so without
    # .SSS variants in _TZ_TS_FORMATS they nulled out entirely.
    "2024-01-15 10:30:00.123 EST",
    "2024-07-15 10:30:00.123 CST",   # summer: must be map's -06:00
    "2024-01-15T10:30:00.456 PST",
    "2024-01-15 10:30:00.5 JST",     # 1-digit fraction
]


def test_lenient_timestamp_tzinfos_abbreviations(spark):
    """r7 (VERDICT r6 #6): trailing timezone abbreviations resolve via
    the literal TZ_ABBREV_OFFSETS map — dateutil itself needs the SAME
    map through its ``tzinfos=`` argument, so parity is checked against
    dateutil parameterized with exactly that dict (converted to
    seconds).  An unmapped abbreviation still nulls out (dateutil
    raises there without tzinfos; our contract is null-never-error)."""
    import datetime as dt

    from dateutil import parser as du

    from target_parquet_spark.coerce import (
        TZ_ABBREV_OFFSETS,
        lenient_timestamp,
    )

    def _secs(off: str) -> int:
        sign = -1 if off[0] == "-" else 1
        h, m = off[1:].split(":")
        return sign * (int(h) * 3600 + int(m) * 60)

    tzinfos = {k: _secs(v) for k, v in TZ_ABBREV_OFFSETS.items()}
    corpus = TZINFOS_CORPUS
    df = spark.createDataFrame([(s,) for s in corpus], "raw string")
    got = {
        r.raw: r.ts
        for r in df.select(
            "raw", lenient_timestamp("raw").alias("ts")
        ).collect()
    }
    for s in corpus:
        want = du.parse(s, tzinfos=tzinfos)
        want = want.astimezone(dt.timezone.utc).replace(tzinfo=None)
        want = want.replace(microsecond=want.microsecond // 1000 * 1000)
        assert got[s] == want, f"{s!r}: spark={got[s]!r} dateutil={want!r}"

    # unmapped abbreviation: dateutil (no tzinfos) raises; we null
    bad = spark.createDataFrame(
        [("2024-01-15 10:30:00 XQZT",)], "raw string"
    )
    assert (
        bad.select(lenient_timestamp("raw").alias("ts"))
        .collect()[0]
        .ts
        is None
    )


# ---------------------------------------------------------------------------
# VERDICT r2 #4: NTZ regression armor
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ntz_ltz_fixtures(spark, tmp_path_factory):
    """Two copies of sf0.001 differing ONLY in the events.ts storage type:
    TIMESTAMP_NTZ (what the driver's naive-parquet regen produces — the
    type that crashed BENCH_r01 via bare unix_micros) and TIMESTAMP (ltz).
    Under a UTC session the two must be semantically identical."""
    import os
    import shutil

    src = "/root/testdata/sf0.001"
    out = {}
    for kind, cast_to in (("ntz", "timestamp_ntz"), ("ltz", "timestamp")):
        d = str(tmp_path_factory.mktemp(f"armor_{kind}"))
        for f in os.listdir(src):
            if f.endswith(".parquet") and f != "events.parquet":
                os.symlink(os.path.join(src, f), os.path.join(d, f))
        ev = spark.read.parquet(os.path.join(src, "events.parquet"))
        ev.withColumn("ts", F.col("ts").cast(cast_to)).write.mode(
            "overwrite"
        ).parquet(os.path.join(d, "events.parquet"))
        out[kind] = d
    return out


def test_events_queries_survive_both_timestamp_storage_types(
    spark, ntz_ltz_fixtures
):
    """VERDICT r2 #4: run every events-touching registry query family on
    an explicitly-NTZ and an explicitly-LTZ events table; each must
    execute (a reintroduced bare unix_micros / double-cast on a possibly-
    NTZ column throws DATATYPE_MISMATCH) and produce identical rows under
    the UTC session."""
    import __spark_entry__ as entry

    qs = entry.queries()
    picked = sorted(n for n in qs if "events" in n)[:12]
    assert len(picked) >= 8, f"expected a family of events queries, got {picked}"
    for name in picked:
        a = sorted(map(tuple, qs[name](spark, ntz_ltz_fixtures["ntz"]).collect()))
        b = sorted(map(tuple, qs[name](spark, ntz_ltz_fixtures["ltz"]).collect()))
        assert a == b, f"{name}: NTZ vs LTZ rows diverge"
        assert len(a) >= 0  # executed without analysis errors


# ---------------------------------------------------------------------------
# VERDICT r2 #6: error bound for the one no-oracle query
# ---------------------------------------------------------------------------


def test_agg_approx_distinct_within_hll_tolerance(spark):
    """agg_approx_distinct (the registry's single rows-only entry) now
    carries a pinned invariant: per-group approx_count_distinct at
    sf0.01 is within 3x the default 5% rsd of the exact distinct count
    (generous because tiny cardinalities sit in the biased linear-
    counting regime — see memory note; at sf0.001 the bias would
    dominate, so this test runs at sf0.01)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    approx = {
        r.l_returnflag: r.approx_parts
        for r in qs["agg_approx_distinct"](spark, SF001).collect()
    }
    exact = {
        r.l_returnflag: r.distinct_parts
        for r in qs["agg_distinct_count"](spark, SF001).collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        err = abs(est - exact[k]) / max(1.0, exact[k])
        assert err <= 0.15, f"group {k}: approx {est} vs exact {exact[k]} ({err:.1%})"


# ---------------------------------------------------------------------------
# VERDICT r2 #8: reliable-checkpoint mode for iterative operators
# ---------------------------------------------------------------------------


def _cc_and_pagerank(spark):
    from target_parquet_spark.operators.dedup import connected_components
    from target_parquet_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20), (3, 4)], "id_a long, id_b long"
    )
    cc = sorted(map(tuple, connected_components(edges).collect()))
    pr_edges = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = pr_edges.union(
        pr_edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = {r.node: round(r.rank, 10) for r in pagerank(sym, iters=3).collect()}
    return cc, pr


def test_iterative_ops_identical_under_reliable_checkpoint(
    spark, enable_reliable_checkpoints
):
    """connected_components (lazy cuts) and pagerank (eager cuts) must
    produce identical results with local cuts (no checkpoint directory)
    and with reliable cuts (the session has one), and the reliable runs
    must write RDD checkpoint files into the directory."""
    import os

    cc_local, pr_local = _cc_and_pagerank(spark)
    ckpt = enable_reliable_checkpoints()
    cc_rel, pr_rel = _cc_and_pagerank(spark)
    assert cc_local == cc_rel
    assert cc_local and {c for _n, c in cc_local} == {1, 10, 20}
    assert pr_local == pr_rel
    found = any(files for _d, _s, files in os.walk(ckpt))
    assert found, "no reliable checkpoint files materialized"


# ---------------------------------------------------------------------------
# VERDICT r2 #5: multimodal fake paths vectorized + real-codec hook
# ---------------------------------------------------------------------------


def _pil_available():
    try:
        import PIL  # noqa: F401

        return True
    except ImportError:
        return False


def test_resize_fake_is_bytewise_identical_to_spec(spark):
    """The numpy-vectorized resample must equal the documented per-byte
    spec out[i] = data[i*len//n] exactly."""
    from target_parquet_spark.operators import multimodal as M

    docs = spark.createDataFrame(
        [(1, "hello multimodal world"), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    media = M.attach_media(docs, "text", "doc_id")
    out = {r.media_id: bytes(r.pixels) for r in M.resize_media(media, 4, 4).collect()}
    raw = {r.media_id: bytes(r.media) for r in media.collect()}
    n = 16
    for mid, data in raw.items():
        want = bytes(data[(i * len(data)) // n] for i in range(n)) if data else b""
        assert out[mid] == want, f"media {mid}"


def test_resize_codec_true_raises_cleanly_without_pil(spark):
    from target_parquet_spark.operators import multimodal as M

    if _pil_available():
        pytest.skip("pillow installed; the raise-path doesn't apply")
    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    with pytest.raises(NotImplementedError, match="pillow"):
        M.resize_media(M.attach_media(docs, "text", "doc_id"), codec=True)


@pytest.mark.skipif(not _pil_available(), reason="pillow not installed")
def test_decode_media_real_codec(spark):
    """When pillow exists, decode_media decodes real PNGs end-to-end."""
    import io

    from PIL import Image

    from target_parquet_spark.operators import multimodal as M

    buf = io.BytesIO()
    Image.new("RGB", (8, 6), (255, 0, 0)).save(buf, format="PNG")
    png = buf.getvalue()
    media = spark.createDataFrame(
        [(1, bytearray(png))], "media_id long, media binary"
    )
    out = M.decode_media(media, target_width=4, target_height=4).collect()
    assert len(out) == 1
    assert len(bytes(out[0].pixels)) == 4 * 4 * 3


def test_decode_media_stub_raises_at_seam(spark):
    from target_parquet_spark.operators import multimodal as M

    if _pil_available():
        pytest.skip("pillow installed; stub seam inactive")
    docs = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    media = M.attach_media(docs, "text", "doc_id")
    with pytest.raises(Exception, match="(?i)codecs unavailable|NotImplemented"):
        M.decode_media(media).collect()


def test_codebook_preconditions_raise_value_error(spark):
    """Seed-count preconditions are real errors, not asserts (which
    vanish under python -O): sparse/offset ids must fail loudly in both
    kmeans_codebook and pq_codebook."""
    emb = (
        td(spark, SF001, "embeddings")
        .select((F.col("vec_id") + 1000).alias("vec_id"), "embedding")
    )
    with pytest.raises(ValueError, match="seed vectors"):
        S.kmeans_codebook(emb, n_centroids=4)
    with pytest.raises(ValueError, match="seed vectors"):
        S.pq_codebook(emb, k=4)


def test_semantic_dup_pairs_empty_corpus_raises_value_error(spark):
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="no non-null"):
        S.semantic_dup_pairs(empty)
