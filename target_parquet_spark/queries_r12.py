"""Round-7 operator additions.

PII breadth past the r6 email/phone/IPv4 scan (VERDICT r6 #5): the two
detector classes real release gates add before shipping training data —

- ``text_pii_idcard_scan``: payment-card candidates (16-digit runs)
  verified with the Luhn checksum (exact integer arithmetic, identical
  in both engines), plus national-ID (SSN-shaped) candidates verified
  with the SSA structural rules (area not 000/666/9xx, group not 00,
  serial not 0000).  Candidate counts AND verified counts are reported
  — a release gate wants both the worklist and the confirmed subset —
  and the fully-redacted text is pinned by md5, extending the r6
  redaction contract to the new patterns.

Same conventions as queries_r11: deterministic planting with IDENTICAL
string expressions in both engines (the non-vacuity rule), a shared
regex dialect (character classes, bounded repeats, word boundaries —
no lookaround, no backrefs), and Python ``re`` + a hand-written Luhn as
the third engine in tests.  No reference counterpart (the reference's
§2.10 is empty — brief-extension surface).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from target_parquet_spark.lineage import cut
from target_parquet_spark.queries import query, t as td

# --- patterns (shared dialect: Java regex == RE2 == Python re) -------------
_PII_CARD = r"\b\d{16}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"

# planting moduli — co-prime with the r6 scan's 7/11/13 so the two PII
# queries exercise different doc subsets
_CARD_MOD = 17  # derived card (Luhn validity varies with doc_id)
_CARD_OK_MOD = 23  # classic Luhn-valid test number (non-vacuous valid side)
_SSN_MOD = 19


def pii_idcard_augment(docs):
    """Deterministic planting frame (module-level so query and tests
    share one definition — the r6 review lesson): every 17th doc gets a
    derived 16-digit card (4111 + 12 id-derived digits; Luhn validity
    falls where the arithmetic puts it), every 23rd the classic
    Luhn-valid 4111111111111111, every 19th an SSN-shaped id whose
    area/group/serial derive from doc_id — area 666, group 00 and
    serial 0000 all occur, so the structural-validity filter is
    non-vacuous in both directions."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % _CARD_MOD == 0,
                F.concat(
                    F.lit(" card 4111"),
                    F.lpad((d * 7919 % 1000000000000).cast("string"), 12, "0"),
                    F.lit(" on file"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % _CARD_OK_MOD == 0,
                F.lit(" pay 4111111111111111 ok"),
            ).otherwise(F.lit("")),
            F.when(
                d % _SSN_MOD == 0,
                F.concat(
                    F.lit(" ssn "),
                    F.lpad((100 + d % 800).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad((d % 100).cast("string"), 2, "0"),
                    F.lit("-"),
                    F.lpad((d % 10000).cast("string"), 4, "0"),
                    F.lit(" filed"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


_SQL_IDCARD_AUG = f"""
    aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % {_CARD_MOD} = 0
                     THEN ' card 4111'
                          || lpad(CAST(doc_id * 7919 % 1000000000000
                                       AS VARCHAR), 12, '0')
                          || ' on file'
                     ELSE '' END
             || CASE WHEN doc_id % {_CARD_OK_MOD} = 0
                     THEN ' pay 4111111111111111 ok'
                     ELSE '' END
             || CASE WHEN doc_id % {_SSN_MOD} = 0
                     THEN ' ssn ' || lpad(CAST(100 + doc_id % 800 AS VARCHAR), 3, '0')
                          || '-' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                          || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                          || ' filed'
                     ELSE '' END AS text
      FROM documents)"""


def _luhn_ok(c):
    """Luhn checksum over a 16-digit string column/lambda var: double
    every second digit from the right (odd 1-based positions here,
    since the check digit sits at 16), subtract 9 when the double
    exceeds 9, total divisible by 10.  Pure integer arithmetic — the
    Spark lambda and the unrolled SQL see identical numbers."""
    total = None
    for i in range(1, 17):
        dig = F.substring(c, i, 1).cast("int")
        if i % 2 == 1:
            term = dig * 2 - F.when(dig >= 5, F.lit(9)).otherwise(F.lit(0))
        else:
            term = dig
        total = term if total is None else total + term
    return total % 10 == 0


def _sql_luhn(var: str) -> str:
    terms = []
    for i in range(1, 17):
        dig = f"CAST(substr({var}, {i}, 1) AS INT)"
        if i % 2 == 1:
            terms.append(
                f"({dig} * 2 - CASE WHEN {dig} >= 5 THEN 9 ELSE 0 END)"
            )
        else:
            terms.append(dig)
    return "(" + " + ".join(terms) + ") % 10 = 0"


def _ssn_ok(s):
    """SSA structural rules on an xxx-xx-xxxx string: area not 000,
    not 666, below 900; group not 00; serial not 0000."""
    area = F.substring(s, 1, 3).cast("int")
    grp = F.substring(s, 5, 2).cast("int")
    ser = F.substring(s, 8, 4).cast("int")
    return (
        (area != 0) & (area != 666) & (area < 900) & (grp != 0) & (ser != 0)
    )


_SQL_SSN_OK = (
    "CAST(substr({v}, 1, 3) AS INT) <> 0"
    " AND CAST(substr({v}, 1, 3) AS INT) <> 666"
    " AND CAST(substr({v}, 1, 3) AS INT) < 900"
    " AND CAST(substr({v}, 5, 2) AS INT) <> 0"
    " AND CAST(substr({v}, 8, 4) AS INT) <> 0"
)


def pii_idcard_redact(col):
    """Card then SSN (order is part of the contract; the SSN pattern
    has dashes so the card pattern cannot consume it first)."""
    return F.regexp_replace(
        F.regexp_replace(col, _PII_CARD, "[CARD]"), _PII_SSN, "[SSN]"
    )


@query(
    "text_pii_idcard_scan",
    f"""
    WITH {_SQL_IDCARD_AUG},
    hits AS (
      SELECT doc_id,
             regexp_extract_all(text, '{_PII_CARD}') AS cards,
             regexp_extract_all(text, '{_PII_SSN}') AS ssns,
             md5(regexp_replace(
                   regexp_replace(text, '{_PII_CARD}', '[CARD]', 'g'),
                   '{_PII_SSN}', '[SSN]', 'g')) AS redacted_md5
      FROM aug)
    SELECT doc_id,
           CAST(len(cards) AS BIGINT) AS n_card,
           CAST(len(list_filter(cards, c -> {_sql_luhn('c')}))
                AS BIGINT) AS n_card_valid,
           CAST(len(ssns) AS BIGINT) AS n_ssn,
           CAST(len(list_filter(ssns, s -> {_SQL_SSN_OK.format(v='s')}))
                AS BIGINT) AS n_ssn_valid,
           redacted_md5
    FROM hits WHERE len(cards) + len(ssns) > 0
    """,
)
def text_pii_idcard_scan(spark, sf_dir):
    """Payment-card + national-ID scan with checksum/structural
    verification — the r7 PII-breadth gate (VERDICT r6 #5).  Candidate
    16-digit runs are verified with the Luhn checksum; SSN-shaped
    candidates with the SSA area/group/serial rules; both the
    candidate worklist counts and the verified counts emit, and the
    md5 of the fully-redacted text pins that redaction replaced every
    occurrence identically in both engines.

    Determinism: the planted corpus is built from identical string
    expressions in both engines; Luhn and the SSA rules are pure
    integer arithmetic over the same substrings — no float anywhere.

    Plan shape for 100 TB: one corpus scan; extraction, the two
    verification lambdas (codegen higher-order functions over the
    match arrays — no Python), and the redaction hash all ride the
    same projection, and the output is filtered to the hit worklist
    before anything shuffles."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    aug = pii_idcard_augment(docs)
    hits = aug.select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit(_PII_CARD), 0).alias(
            "cards"
        ),
        F.regexp_extract_all(F.col("text"), F.lit(_PII_SSN), 0).alias(
            "ssns"
        ),
        F.md5(pii_idcard_redact(F.col("text"))).alias("redacted_md5"),
    )
    return hits.filter(F.size("cards") + F.size("ssns") > 0).select(
        "doc_id",
        F.size("cards").cast("long").alias("n_card"),
        F.size(F.filter("cards", _luhn_ok)).cast("long").alias(
            "n_card_valid"
        ),
        F.size("ssns").cast("long").alias("n_ssn"),
        F.size(F.filter("ssns", _ssn_ok)).cast("long").alias("n_ssn_valid"),
        "redacted_md5",
    )


# ---------------------------------------------------------------------------
# t-closeness audit (completes the k-anonymity / l-diversity privacy triad)
# ---------------------------------------------------------------------------

_TCLOSE_BANDS = 10
_TCLOSE_T_MICRO = 450_000  # t > 0.05  <=>  sum_micro > 0.05 * 9 * 1e6
# 0.05 rather than the textbook 0.2: the synthetic corpus is well-mixed
# (max_t ~ 0.09 at sf0.01), and a violation counter that can never fire
# is vacuous — the threshold is release-gate config, the EMD is the op.


@query(
    "audit_t_closeness",
    f"""
    WITH e AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             least({_TCLOSE_BANDS - 1},
                   greatest(0, CAST(floor(value) AS INT))) AS band
      FROM events),
    gb AS (SELECT event_type, day, band, count(*) AS cnt
           FROM e GROUP BY event_type, day, band),
    gt AS (SELECT event_type, day, sum(cnt) AS n
           FROM gb GROUP BY event_type, day),
    qb AS (SELECT band, count(*) AS qcnt FROM e GROUP BY band),
    qt AS (SELECT sum(qcnt) AS qn FROM qb),
    scaffold AS (
      SELECT g.event_type, g.day, b.band
      FROM (SELECT DISTINCT event_type, day FROM e) g
      CROSS JOIN (SELECT unnest(generate_series(0, {_TCLOSE_BANDS - 1}))
                  AS band) b),
    pq AS (
      SELECT s.event_type, s.day, s.band,
             coalesce(gb.cnt, 0) * 1.0 / gt.n AS p,
             coalesce(qb.qcnt, 0) * 1.0 / qt.qn AS q
      FROM scaffold s
      LEFT JOIN gb ON gb.event_type = s.event_type AND gb.day = s.day
                  AND gb.band = s.band
      JOIN gt ON gt.event_type = s.event_type AND gt.day = s.day
      LEFT JOIN qb ON qb.band = s.band
      CROSS JOIN qt),
    c AS (
      SELECT event_type, day,
             CAST(round(abs(sum(p - q) OVER (
               PARTITION BY event_type, day ORDER BY band)) * 1000000)
               AS BIGINT) AS cum_micro
      FROM pq),
    emd AS (
      SELECT event_type, day,
             CAST(sum(cum_micro) AS BIGINT) AS t_micro
      FROM c GROUP BY event_type, day)
    SELECT CAST(count(*) AS BIGINT) AS n_groups,
           round(max(t_micro) / {(_TCLOSE_BANDS - 1) * 1e6}, 4) AS max_t,
           CAST(count(*) FILTER (WHERE t_micro > {_TCLOSE_T_MICRO})
                AS BIGINT) AS n_violating,
           CAST(CASE WHEN max(t_micro) <= {_TCLOSE_T_MICRO} THEN 1 ELSE 0 END
                AS INTEGER) AS t_satisfied
    FROM emd
    """,
)
def audit_t_closeness(spark, sf_dir):
    """t-closeness audit (Li et al. 2007) over the same quasi-identifier
    as audit_k_anonymity / audit_l_diversity (event_type, day), with
    the banded event value as the ordered sensitive attribute:
    l-diversity bounds distinct COUNT, but a group whose value
    distribution diverges sharply from the corpus-wide one still leaks
    (the classic low-salary-cluster example) — each group's
    distribution must sit within Earth-Mover's Distance t of the
    global.  For an ordered domain EMD is the mean absolute cumulative
    difference; the triad (k, l, t) is the standard pre-release
    battery.

    Determinism: per-band cumulative sums run in band order (a fixed
    10-step sequential window — identical order both engines); each
    group's |cumulative| terms are micro-quantized to integers BEFORE
    the per-group sum, so Spark's unordered aggregation cannot drift
    against the oracle's (house convention), and the t > 0.05 violation
    compare runs on the integers.

    Plan shape for 100 TB: one (QI, band) count shuffle — cardinality-
    bounded, never row-bounded — a broadcast-sized global band
    histogram, a QI x 10-band scaffold, and a 10-row window per group."""
    ev = td(spark, sf_dir, "events")
    bands = _TCLOSE_BANDS
    e = ev.select(
        "event_type",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        F.least(
            F.lit(bands - 1),
            F.greatest(F.lit(0), F.floor("value").cast("int")),
        ).alias("band"),
    )
    gb = e.groupBy("event_type", "day", "band").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    gt = gb.groupBy("event_type", "day").agg(F.sum("cnt").alias("n"))
    qb = e.groupBy("band").agg(F.count(F.lit(1)).alias("qcnt"))
    qt = qb.agg(F.sum("qcnt").alias("qn"))
    scaffold = (
        gt.select("event_type", "day")
        .select(
            "event_type",
            "day",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        )
    )
    pq = (
        scaffold.join(gb, ["event_type", "day", "band"], "left")
        .join(gt, ["event_type", "day"])
        .join(F.broadcast(qb), "band", "left")
        .crossJoin(F.broadcast(qt))
        .select(
            "event_type",
            "day",
            "band",
            (F.coalesce("cnt", F.lit(0)) * 1.0 / F.col("n")).alias("p"),
            (F.coalesce("qcnt", F.lit(0)) * 1.0 / F.col("qn")).alias("q"),
        )
    )
    w = (
        Window.partitionBy("event_type", "day")
        .orderBy("band")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = pq.select(
        "event_type",
        "day",
        F.round(F.abs(F.sum(F.col("p") - F.col("q")).over(w)) * 1000000.0)
        .cast("long")
        .alias("cum_micro"),
    )
    emd = c.groupBy("event_type", "day").agg(
        F.sum("cum_micro").cast("long").alias("t_micro")
    )
    return emd.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.round(F.max("t_micro") / ((bands - 1) * 1e6), 4).alias("max_t"),
        F.count(F.when(F.col("t_micro") > _TCLOSE_T_MICRO, F.lit(1)))
        .cast("long")
        .alias("n_violating"),
        F.when(F.max("t_micro") <= _TCLOSE_T_MICRO, F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("t_satisfied"),
    )


# ---------------------------------------------------------------------------
# k-truss decomposition (edge-support peel) over the symmetrized k-NN graph
# ---------------------------------------------------------------------------

_KTRUSS_K = 4  # keep edges in >= k-2 = 2 triangles
_KTRUSS_ROUNDS = 3


def _sql_ktruss_ctes(k: int, rounds: int, src: str = "sym") -> str:
    """Unrolled peel rounds: per round, each surviving canonical edge
    (u < v) counts its common neighbors over the surviving SYMMETRIC
    edge set (its triangle support), and edges below k-2 drop.  Fixed
    round count keeps the chain oracle-replayable (the kcore
    convention); the final flag reports round-``rounds`` survivors.
    ``src`` names the symmetric base relation (the capped twin peels
    over a degree-capped copy — r8)."""
    parts = [
        f"e0 AS (SELECT u, v FROM {src} WHERE u < v)",
        f"s0 AS (SELECT u, v FROM {src})",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""sup{r} AS (
          SELECT e.u, e.v, CAST(count(*) AS BIGINT) AS sup
          FROM e{r - 1} e
          JOIN s{r - 1} a ON a.u = e.u
          JOIN s{r - 1} b ON b.u = e.v AND b.v = a.v
          GROUP BY e.u, e.v)"""
        )
        parts.append(
            f"e{r} AS (SELECT u, v FROM sup{r} WHERE sup >= {k - 2})"
        )
        parts.append(
            f"s{r} AS (SELECT u, v FROM e{r}"
            f" UNION ALL SELECT v AS u, u AS v FROM e{r})"
        )
    return ",\n    ".join(parts)


def ktruss_peel(sym, k: int = _KTRUSS_K, rounds: int = _KTRUSS_ROUNDS):
    """The k-truss peel over a symmetric (u, v) edge frame — shared by
    graph_ktruss and its degree-capped twin (r8) so the loop cannot
    drift between them.  Returns the canonical-edge report frame
    (u, v, support_initial, in_truss)."""
    sym = cut(sym, eager=True)
    e = sym.filter(F.col("u") < F.col("v"))
    s = sym
    sup1 = None
    e0 = e
    for _ in range(rounds):
        a = s.select(F.col("u").alias("_au"), F.col("v").alias("_w"))
        b = s.select(F.col("u").alias("_bu"), F.col("v").alias("_bw"))
        sup = (
            e.join(a, a["_au"] == e["u"])
            .join(b, (b["_bu"] == e["v"]) & (b["_bw"] == F.col("_w")))
            .groupBy("u", "v")
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        )
        if sup1 is None:
            sup1 = cut(sup, eager=True)
            sup = sup1
        e = cut(
            sup.filter(F.col("sup") >= k - 2).select("u", "v"),
            eager=True,
        )
        s = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    return (
        e0.join(sup1.withColumnRenamed("sup", "_s1"), ["u", "v"], "left")
        .join(e.withColumn("_t", F.lit(1)), ["u", "v"], "left")
        .select(
            "u",
            "v",
            F.coalesce("_s1", F.lit(0)).cast("long").alias(
                "support_initial"
            ),
            F.col("_t").isNotNull().alias("in_truss"),
        )
    )


def _register_ktruss():
    from target_parquet_spark.queries_r6 import _SQL_KNN, _SQL_SYM

    sym_frag = _SQL_SYM

    @query(
        "graph_ktruss",
        f"""
        WITH {_SQL_KNN},
        {sym_frag},
        {_sql_ktruss_ctes(_KTRUSS_K, _KTRUSS_ROUNDS)}
        SELECT e.u, e.v,
               coalesce(s.sup, 0) AS support_initial,
               t.u IS NOT NULL AS in_truss
        FROM e0 e
        LEFT JOIN sup1 s ON s.u = e.u AND s.v = e.v
        LEFT JOIN e{_KTRUSS_ROUNDS} t ON t.u = e.u AND t.v = e.v
        """,
    )
    def graph_ktruss(spark, sf_dir):
        """k-truss decomposition (k=4, 3 peel rounds) of the
        symmetrized k-NN graph: repeatedly drop edges supported by
        fewer than k-2 triangles — the edge-level density filter next
        to k-core's node-level one (an edge survives only inside a
        tightly-knit neighborhood, so the truss isolates the cohesive
        near-dup/semantic cores more aggressively than degree alone).
        Fixed round count, not run-to-fixpoint, so the oracle replays
        the peel as unrolled CTEs; the fixpoint-within-rounds property
        is pinned by test.

        Plan shape for 100 TB: the quadratic step is the triangle
        posting join keyed on the edge endpoint (per-key work
        deg x deg); each round re-joins only SURVIVING edges (the set
        shrinks monotonically), the survivor set is edge-shaped (two
        8-byte ids), and edges come from the written k-NN artifact —
        one parquet scan, no re-derivation."""
        from target_parquet_spark.queries_r6 import _symmetrize_degrees
        from target_parquet_spark.queries_r7 import knn_edge_artifact

        edges = knn_edge_artifact(spark, sf_dir)
        sym, _ = _symmetrize_degrees(edges)
        return ktruss_peel(sym, _KTRUSS_K, _KTRUSS_ROUNDS)

    return graph_ktruss


_register_ktruss()


# ---------------------------------------------------------------------------
# HTML boilerplate stripping (web-corpus ingest: tag/script/nav removal +
# entity decode, cleaned text pinned by md5)
# ---------------------------------------------------------------------------

# shared dialect (Java regex == RE2 == Python re): inline (?is) flags,
# non-greedy block bodies, no lookaround.  ONE pattern PER tag name —
# an open/close ALTERNATION can close a different tag than it opened
# (e.g. "<header>..<nav>x</nav>..rest</header>" would match from
# <header> to </nav> and leak "rest" into the body text; ADVICE r7) —
# per-tag passes force open and close to match.  Nesting of the SAME
# tag inside itself is still out of scope (non-greedy stops at the
# inner close), which HTML5 forbids for all seven of these elements.
_HTML_BLOCK_TAGS = ["script", "style", "nav", "footer", "header", "aside", "title"]
_HTML_BLOCK_PATTERNS = [rf"(?is)<{tag}[^>]*>.*?</{tag}>" for tag in _HTML_BLOCK_TAGS]
_HTML_TAG = r"(?s)<[^>]+>"

# decode order is part of the contract: &amp; LAST, so "&amp;lt;" decodes
# to the literal "&lt;" (one level), never to "<"
_HTML_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
]


def html_augment(docs):
    """Deterministic page wrapper around every doc (module-level: query
    and tests share it).  Chrome zones (title/style/script/nav/footer)
    carry doc-id-derived content that MUST NOT survive the strip; the
    body carries the original text plus an entity-bearing paragraph."""
    d = F.col("doc_id")
    return docs.select(
        "doc_id",
        F.concat(
            F.lit("<html><head><title>Doc "),
            d.cast("string"),
            F.lit("</title><style>p{margin:0}</style><script>var x="),
            d.cast("string"),
            F.lit(";</script></head><body><nav>home | about</nav><p>"),
            F.col("text"),
            F.lit('</p><p>Tom &amp; Jerry &lt;3 &quot;quotes&quot;'),
            F.lit(" &#39;s&nbsp;here</p><footer>&copy; 2024 corp "),
            d.cast("string"),
            F.lit("</footer></body></html>"),
        ).alias("html"),
    )


def html_strip(col):
    """The strip pipeline: script/style blocks, chrome zones, remaining
    tags -> space, entity decode, whitespace collapse."""
    out = col
    for pat in _HTML_BLOCK_PATTERNS:
        out = F.regexp_replace(out, pat, " ")
    out = F.regexp_replace(out, _HTML_TAG, " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def _sql_html_strip(col: str) -> str:
    out = col
    for pat in _HTML_BLOCK_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', ' ', 'g')"
    out = f"regexp_replace({out}, '{_HTML_TAG}', ' ', 'g')"
    for ent, rep in _HTML_ENTITIES:
        sq = rep.replace("'", "''")
        out = f"replace({out}, '{ent}', '{sq}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


_SQL_HTML_AUG = """
    aug AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || doc_id
             || '</title><style>p{{margin:0}}</style><script>var x='
             || doc_id
             || ';</script></head><body><nav>home | about</nav><p>'
             || text
             || '</p><p>Tom &amp; Jerry &lt;3 &quot;quotes&quot;'
             || ' &#39;s&nbsp;here</p><footer>&copy; 2024 corp ' || doc_id
             || '</footer></body></html>' AS html
      FROM documents)""".replace("{{", "{").replace("}}", "}")


@query(
    "text_html_boilerplate_strip",
    f"""
    WITH {_SQL_HTML_AUG}
    SELECT doc_id,
           CAST(len(html) AS BIGINT) AS n_chars_raw,
           CAST(len({_sql_html_strip('html')}) AS BIGINT) AS n_chars_clean,
           md5({_sql_html_strip('html')}) AS clean_md5
    FROM aug
    """,
)
def text_html_boilerplate_strip(spark, sf_dir):
    """HTML boilerplate removal — the first stage of every web-corpus
    ingest (C4/CCNet-style): script/style blocks and chrome zones
    (nav/footer/header/aside) are excised wholesale, remaining tags
    become whitespace, the common HTML entities decode (&amp; last, so
    double-encoded entities decode exactly one level), and whitespace
    collapses.  The cleaned text is pinned by md5 — the hash proves the
    two engines produced IDENTICAL cleaned bytes, not just equal
    lengths — over a deterministically-wrapped corpus whose chrome
    carries doc-id-derived content that must not survive.

    Pattern dialect: inline (?is) flags and non-greedy block bodies are
    the full extent of the syntax — shared by Java regex, RE2, and
    Python re (the third engine in tests).

    Plan shape for 100 TB: one corpus scan, the whole pipeline in one
    codegen projection, zero shuffles, zero UDFs."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "text")
    aug = html_augment(docs)
    return aug.select(
        "doc_id",
        F.length("html").cast("long").alias("n_chars_raw"),
        F.length(html_strip(F.col("html"))).cast("long").alias(
            "n_chars_clean"
        ),
        F.md5(html_strip(F.col("html"))).alias("clean_md5"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup (the C4/CC pipeline's first
# dedup stage: many crawled variants, one canonical page)
# ---------------------------------------------------------------------------

_URL_PAGES = 97  # distinct canonical pages; 4 variants each by doc_id % 4
_URL_TRACKING = r"[?&](utm_[a-z]+|gclid|fbclid)=[^&#]*"


def url_augment(docs):
    """Deterministic crawl-URL planting: doc_id % 97 picks the page,
    doc_id % 4 the surface variant — scheme, host case, www, default
    port, trailing slash, fragment, and tracking params all vary while
    the canonical page is identical, so URL dedup MUST collapse them."""
    d = F.col("doc_id")
    page = (d % _URL_PAGES).cast("string")
    variant = d % 4
    return docs.select(
        "doc_id",
        F.when(
            variant == 0,
            F.concat(
                F.lit("https://www.Example.com/articles/p"), page, F.lit("/")
            ),
        )
        .when(
            variant == 1,
            F.concat(
                F.lit("http://example.com:80/articles/p"),
                page,
                F.lit("?utm_source=x"),
            ),
        )
        .when(
            variant == 2,
            F.concat(
                F.lit("https://EXAMPLE.COM:443/articles/p"),
                page,
                F.lit("#section2"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://example.com/articles/p"),
                page,
                F.lit("?utm_campaign=y&utm_medium=z"),
            )
        )
        .alias("url"),
    )


_SQL_URL_AUG = f"""
    aug AS (
      SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN 'https://www.Example.com/articles/p'
                           || (doc_id % {_URL_PAGES}) || '/'
               WHEN 1 THEN 'http://example.com:80/articles/p'
                           || (doc_id % {_URL_PAGES}) || '?utm_source=x'
               WHEN 2 THEN 'https://EXAMPLE.COM:443/articles/p'
                           || (doc_id % {_URL_PAGES}) || '#section2'
               ELSE 'https://example.com/articles/p'
                    || (doc_id % {_URL_PAGES})
                    || '?utm_campaign=y&utm_medium=z'
             END AS url
      FROM documents)"""


def url_canonicalize(col):
    """scheme off; host lowercased, www. and default ports stripped
    (path case PRESERVED — only the authority is case-insensitive);
    fragment off; trailing PATH slashes off (split from the query
    first, so '/p5/?x=1' collapses with '/p5?x=1' and a query VALUE
    ending in '/' survives untouched — review r7 finding #3); tracking
    params off (first surviving param promoted back to '?'); trailing
    '?'/'&' off."""
    u = F.regexp_replace(col, r"^https?://", "")
    host = F.regexp_extract(u, r"^[^/?#]+", 0)
    rest = F.regexp_replace(
        F.substring(u, F.length(host) + 1, F.length(u)), r"#.*", ""
    )
    chost = F.regexp_replace(
        F.regexp_replace(F.lower(host), r"^www\.", ""), r":(80|443)$", ""
    )
    path = F.regexp_replace(
        F.regexp_extract(rest, r"^[^?]*", 0), r"/+$", ""
    )
    q = F.substring(
        rest, F.length(F.regexp_extract(rest, r"^[^?]*", 0)) + 1,
        F.length(rest),
    )
    q = F.regexp_replace(q, _URL_TRACKING, "")
    q = F.regexp_replace(q, r"^&", "?")
    q = F.regexp_replace(q, r"[?&]+$", "")
    return F.concat(chost, path, q)


def _sql_url_canonicalize(col: str) -> str:
    u = f"regexp_replace({col}, '^https?://', '')"
    host = f"regexp_extract({u}, '^[^/?#]+')"
    rest = f"regexp_replace(substr({u}, len({host}) + 1), '#.*', '')"
    chost = (
        f"regexp_replace(regexp_replace(lower({host}), '^www\\.', ''),"
        f" ':(80|443)$', '')"
    )
    path = f"regexp_replace(regexp_extract({rest}, '^[^?]*'), '/+$', '')"
    q = f"substr({rest}, len(regexp_extract({rest}, '^[^?]*')) + 1)"
    q = f"regexp_replace({q}, '{_URL_TRACKING}', '', 'g')"
    q = f"regexp_replace({q}, '^&', '?')"
    q = f"regexp_replace({q}, '[?&]+$', '')"
    return f"({chost} || {path} || {q})"


@query(
    "dedup_url_canonical",
    f"""
    WITH {_SQL_URL_AUG},
    canon AS (
      SELECT doc_id, url, {_sql_url_canonicalize('url')} AS canonical_url
      FROM aug)
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url) AS BIGINT) AS n_surface_forms,
           CAST(min(doc_id) AS BIGINT) AS keep_doc
    FROM canon
    GROUP BY canonical_url
    HAVING count(*) >= 2
    """,
)
def dedup_url_canonical(spark, sf_dir):
    """URL-level dedup after canonicalization — the cheapest and first
    dedup stage of a web-crawl pipeline (C4 dropped ~30% of its pages
    here before any content hashing): scheme, host case, www, default
    ports, fragments, tracking parameters and trailing slashes are
    surface noise; pages whose CANONICAL url collides are crawl
    duplicates, and the keep-one policy keeps the smallest doc_id.
    Reports each collided canonical url with its doc count and the
    number of distinct surface forms collapsed into it.

    Plan shape for 100 TB: canonicalization is a codegen regex chain in
    the scan projection; the only shuffle keys on the canonical url
    (the 16-byte-hash convention applies at scale); no UDFs, no joins."""
    docs = td(spark, sf_dir, "documents").select("doc_id")
    canon = url_augment(docs).select(
        "doc_id", "url", url_canonicalize(F.col("url")).alias(
            "canonical_url"
        )
    )
    return (
        canon.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url").cast("long").alias("n_surface_forms"),
            F.min("doc_id").cast("long").alias("keep_doc"),
        )
        .filter(F.col("n_docs") >= 2)
    )


# ---------------------------------------------------------------------------
# late-interaction (ColBERT MaxSim) reranking with deterministic
# 16-bit token signatures
# ---------------------------------------------------------------------------

_MAXSIM_QDOC = 0  # probe document supplying the query tokens
_MAXSIM_QTOKS = 8
_MAXSIM_TOPK = 20
_MAXSIM_BITS = 16


def _register_maxsim():
    from target_parquet_spark.operators.text import SQL_HASH60
    from target_parquet_spark.queries_ext import SQL_TOKS

    sig_sql = f"({SQL_HASH60.format(c='tok')} % {1 << _MAXSIM_BITS})"

    @query(
        "sim_colbert_maxsim",
        f"""
        WITH toks AS (
          SELECT doc_id, unnest({SQL_TOKS.format(c='text')}) AS tok
          FROM documents),
        sigs AS (
          SELECT DISTINCT doc_id, {sig_sql} AS sig FROM toks),
        q AS (
          SELECT tok, {sig_sql} AS qsig
          FROM (SELECT DISTINCT tok FROM toks
                WHERE doc_id = {_MAXSIM_QDOC})
          ORDER BY tok LIMIT {_MAXSIM_QTOKS}),
        per_qtok AS (
          SELECT s.doc_id, q.tok,
                 max({_MAXSIM_BITS} - bit_count(xor(s.sig, q.qsig)))
                   AS best
          FROM sigs s CROSS JOIN q
          WHERE s.doc_id <> {_MAXSIM_QDOC}
          GROUP BY s.doc_id, q.tok)
        SELECT doc_id, CAST(sum(best) AS BIGINT) AS maxsim
        FROM per_qtok
        GROUP BY doc_id
        ORDER BY maxsim DESC, doc_id
        LIMIT {_MAXSIM_TOPK}
        """,
    )
    def sim_colbert_maxsim(spark, sf_dir):
        """Late-interaction reranking (ColBERT's MaxSim, Khattab &
        Zaharia 2020): score(q, d) = sum over query tokens of the MAX
        per-token similarity against any doc token — finer-grained than
        one pooled vector per doc (a doc matching all 8 query terms in
        scattered places outranks one matching a single term strongly),
        the standard second-stage reranker behind a BM25/dense first
        stage.  Token "embeddings" here are deterministic 16-bit
        signatures (the repo's 60-bit md5 hash folded to 16 bits);
        similarity = matching bit count — EXACT integers end to end, so
        the ranking has no float boundary and the oracle replays it
        verbatim.

        Plan shape for 100 TB: the doc side reduces to DISTINCT
        (doc_id, sig) rows (vocabulary-bounded per doc); the query side
        is <= 8 rows broadcast; per-qtok maxes partial-aggregate
        map-side and the final sum is doc-cardinality.  No UDFs, one
        broadcast join, two map-combinable aggregates, one top-k."""
        from target_parquet_spark.operators import text as X

        docs = td(spark, sf_dir, "documents").select("doc_id", "text")
        toks = docs.select(
            "doc_id", F.explode(X.tokens(F.col("text"))).alias("tok")
        )
        sig = F.pmod(X.hash60(F.col("tok")), F.lit(1 << _MAXSIM_BITS))
        sigs = (
            toks.select("doc_id", sig.alias("sig"))
            .distinct()
            .filter(F.col("doc_id") != _MAXSIM_QDOC)
        )
        q = (
            toks.filter(F.col("doc_id") == _MAXSIM_QDOC)
            .select("tok")
            .distinct()
            .orderBy("tok")
            .limit(_MAXSIM_QTOKS)
            .select("tok", sig.alias("qsig"))
        )
        per_qtok = (
            sigs.crossJoin(F.broadcast(q))
            .select(
                "doc_id",
                "tok",
                (
                    F.lit(_MAXSIM_BITS)
                    - F.bit_count(
                        F.col("sig").bitwiseXOR(F.col("qsig"))
                    )
                ).alias("m"),
            )
            .groupBy("doc_id", "tok")
            .agg(F.max("m").alias("best"))
        )
        return (
            per_qtok.groupBy("doc_id")
            .agg(F.sum("best").cast("long").alias("maxsim"))
            .orderBy(F.desc("maxsim"), "doc_id")
            .limit(_MAXSIM_TOPK)
        )

    return sim_colbert_maxsim


_register_maxsim()


# ---------------------------------------------------------------------------
# Holt linear-trend forecast over the daily revenue series
# (recursive CTE — identical SQL text on spark.sql and DuckDB)
# ---------------------------------------------------------------------------

_HOLT_ALPHA = 0.3
_HOLT_BETA = 0.1
_HOLT_HORIZON = 7

# The daily-series CTE (data-sized) and the recursion (metadata-sized)
# are SPLIT on the Spark side: Spark's recursive execution re-evaluates
# every CTE the recursive step references ONCE PER STEP, so an inline
# idx would re-scan the events table ~30 times (measured 11.7s at
# sf0.1); the Spark query materializes the daily series first
# (localCheckpoint) and recurses over the 8-byte-per-day view.  The
# oracle keeps the inline form — DuckDB materializes CTEs.
_SQL_HOLT_DAILY_AGG = """
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(sum(value) * 100) AS BIGINT) AS rev_c
      FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)"""

_SQL_HOLT_DAILY = f"""
    SELECT day, rev_c,
           CAST(row_number() OVER (ORDER BY day) AS INT) AS i
    FROM ({_SQL_HOLT_DAILY_AGG})
"""

_SQL_HOLT_REC = f"""
    WITH RECURSIVE holt AS (
      SELECT i, day, CAST(rev_c AS DOUBLE) AS level,
             CAST(0.0 AS DOUBLE) AS trend
      FROM holt_idx WHERE i = 1
      UNION ALL
      SELECT i.i, i.day,
             CAST({_HOLT_ALPHA} * i.rev_c
               + {1 - _HOLT_ALPHA} * (h.level + h.trend) AS DOUBLE),
             CAST({_HOLT_BETA} * (({_HOLT_ALPHA} * i.rev_c
                 + {1 - _HOLT_ALPHA} * (h.level + h.trend)) - h.level)
               + {1 - _HOLT_BETA} * h.trend AS DOUBLE)
      FROM holt h JOIN holt_idx i ON i.i = h.i + 1),
    last_state AS (
      SELECT h.day, h.level, h.trend FROM holt h
      WHERE h.i = (SELECT max(i) FROM holt_idx)),
    horizons AS (
      SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
      UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
      UNION ALL SELECT 7)
    SELECT k AS horizon,
           l.day + k AS forecast_day,
           round((l.level + k * l.trend) / 100.0, 2) AS forecast_rev
    FROM horizons CROSS JOIN last_state l
    ORDER BY k
"""


# The oracle splices the two fragments into one statement (RECURSIVE
# must sit on the outer WITH in DuckDB) with holt_idx inlined.
_SQL_HOLT_ORACLE = (
    "WITH RECURSIVE holt_idx AS ("
    + _SQL_HOLT_DAILY
    + "), "
    + _SQL_HOLT_REC.split("WITH RECURSIVE ", 1)[1]
)


@query("events_holt_forecast", _SQL_HOLT_ORACLE)
def events_holt_forecast(spark, sf_dir):
    """Holt double-exponential (level + trend) smoothing over the daily
    revenue series, forecasting the next 7 days — the classic capacity
    / budget-planning companion to the seasonal-anomaly and changepoint
    monitors.  The recurrence is inherently sequential, so it runs as a
    recursive CTE (the sql_recursive_reachability convention) advancing
    one DAY at a time over the pre-aggregated daily series —
    metadata-sized (~weeks) regardless of corpus size, which is the
    100 TB rule for recursion here; the one data-sized stage is the
    map-combinable daily integer-cents aggregate underneath it, which
    Spark MATERIALIZES before recursing (Spark re-evaluates the
    recursive step's inputs once per step — inlined, the corpus would
    rescan ~30x; measured 11.7s -> ~1s at sf0.1).

    Determinism: the daily series is exact integer cents (house
    convention); the level/trend updates are a single-row float
    recursion evaluated in identical order by both engines."""
    td(spark, sf_dir, "events").createOrReplaceTempView("events")
    return holt_forecast_over(spark, spark.sql(_SQL_HOLT_DAILY_AGG))


def holt_forecast_over(spark, daily):
    """The Holt recursion + 7-day forecast over a (day, rev_c) daily
    frame — shared by the batch query above and the streaming read path
    (streaming/forecast.py, r8) so the recursion cannot drift between
    them.

    Optimization r10 (guide §1.2 "the distributed algorithm", §5): the
    recurrence previously ran as a Spark recursive CTE advancing one day
    per level — ~90 sequential micro-jobs over a 1-row frontier, pure
    scheduler overhead (measured 2.44 s at sf0.1, vs ~1 s for the daily
    aggregate underneath).  The daily series is MODEL-STATE-sized (one
    row per day regardless of corpus size — the same bounded-collect
    contract as the k-means centroids), so the fold now runs driver-side
    over the collected series with the identical IEEE expression order
    (`a*y + (1-a)*(level+trend)`, then `b*(nl-level) + (1-b)*trend` —
    the exact Python recomputation tests/test_r12.py pins), and the
    7 forecast rows are still produced BY SPARK from the literal
    (level, trend, last_day) state so `round()` / date arithmetic keep
    engine semantics.  Bit-identical to the recursive form: same
    constants (str(double) round-trips), same fold order, same final
    expressions.  `_SQL_HOLT_REC` remains the oracle's replay text."""
    rows = daily.orderBy("day").collect()
    if not rows:
        return spark.sql(
            f"SELECT k AS horizon, CAST(NULL AS DATE) AS forecast_day,"
            f" CAST(NULL AS DOUBLE) AS forecast_rev"
            f" FROM (SELECT explode(sequence(1, {_HOLT_HORIZON})) AS k)"
            f" WHERE 1 = 0"
        )
    level = float(rows[0]["rev_c"])
    trend = 0.0
    for r in rows[1:]:
        nl = _HOLT_ALPHA * r["rev_c"] + (1 - _HOLT_ALPHA) * (level + trend)
        trend = _HOLT_BETA * (nl - level) + (1 - _HOLT_BETA) * trend
        level = nl
    last_day = rows[-1]["day"]
    # NB: bare `1.23` literals parse as DECIMAL in Spark SQL — the string
    # cast keeps the state DOUBLE (repr round-trips the exact bits).
    return spark.sql(
        f"SELECT k AS horizon,"
        f" DATE '{last_day.isoformat()}' + k AS forecast_day,"
        f" round((CAST('{level!r}' AS DOUBLE)"
        f"        + k * CAST('{trend!r}' AS DOUBLE)) / 100.0, 2)"
        f"   AS forecast_rev"
        f" FROM (SELECT explode(sequence(1, {_HOLT_HORIZON})) AS k)"
        f" ORDER BY k"
    )


# ---------------------------------------------------------------------------
# weighted sampling WITHOUT replacement (Efraimidis-Spirakis exponential race)
# ---------------------------------------------------------------------------

_WWR_K = 100

# the sampling family's hash-as-randomness convention: md5(doc_id) ->
# uniform; +0.5 keeps u strictly inside (0, 1) so pow(u, 1/w) never
# collapses to 0/1 exactly
_SQL_WWR_U = (
    "((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 0.5)"
    " / 4294967296.0)"
)


@query(
    "sample_weighted_without_replacement",
    f"""
    WITH w AS (
      SELECT doc_id, CAST(n_chars AS DOUBLE) AS wt
      FROM documents WHERE n_chars > 0),
    k AS (
      SELECT doc_id, wt, round(pow({_SQL_WWR_U}, 1.0 / wt), 9) AS ky
      FROM w)
    SELECT doc_id, CAST(wt AS BIGINT) AS weight,
           round(ky, 6) AS sample_key,
           CAST(row_number() OVER (ORDER BY ky DESC, doc_id) AS BIGINT)
             AS rk
    FROM k ORDER BY ky DESC, doc_id LIMIT {_WWR_K}
    """,
)
def sample_weighted_without_replacement(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis & Spirakis
    2006): each doc draws key u^(1/w) from a per-doc uniform and the
    top-k keys ARE a weighted sample without replacement — the exact
    one-pass distributed algorithm behind 'sample 100k docs
    proportionally to length/quality, no duplicates' (with-replacement
    samplers like sample_temperature_mixture cannot guarantee
    distinctness).  Weight = n_chars here.

    Determinism: the uniform is the md5-of-id convention the sampling
    family already uses (both engines compute the identical double);
    pow is LIBM, guaranteed only to 1 ulp across engines, so the
    RANKING key is quantized at 9dp (the repo's round-pow-before-use
    convention) — keys landing in the same 1e-9 cell tie and break on
    doc_id identically; a cross-engine flip would need a value within
    ~1 ulp of a 9dp boundary AND adjacency to the k-th rank.  The
    reported key is further rounded to 6dp.

    Plan shape for 100 TB: one scan computes the key (no shuffle), and
    top-k is TakeOrderedAndProject — per-partition heaps of k, one
    k-row merge at the driver; no global sort, no join."""
    docs = td(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = docs.filter(F.col("n_chars") > 0).select(
        "doc_id", F.col("n_chars").cast("double").alias("wt")
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    k = w.select(
        "doc_id", "wt", F.round(F.pow(u, 1.0 / F.col("wt")), 9).alias("ky")
    )
    ranked = k.orderBy(F.desc("ky"), "doc_id").limit(_WWR_K)
    return ranked.select(
        "doc_id",
        F.col("wt").cast("long").alias("weight"),
        F.round("ky", 6).alias("sample_key"),
        F.row_number()
        .over(Window.orderBy(F.desc("ky"), "doc_id"))
        .cast("long")
        .alias("rk"),
    )


# ---------------------------------------------------------------------------
# seasonal decomposition of the daily revenue series (trend / weekly
# seasonal / residual — the classical additive decomposition)
# ---------------------------------------------------------------------------


@query(
    "events_seasonal_decompose",
    """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(round(sum(value) * 100) AS BIGINT) AS rev_c
      FROM events GROUP BY CAST(date_trunc('day', ts) AS DATE)),
    tr AS (
      SELECT day, rev_c,
             CASE WHEN count(*) OVER w7 = 7
                  THEN CAST(round(avg(rev_c) OVER w7 * 10000) AS BIGINT)
             END AS trend_myr
      FROM d
      WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    det AS (
      SELECT day, rev_c, trend_myr,
             CAST(datediff('day', DATE '2024-01-01', day) % 7 + 7 AS INT)
               % 7 AS dow,
             rev_c * 10000 - trend_myr AS det_myr
      FROM tr),
    seas AS (
      SELECT dow,
             CAST(round(avg(det_myr)) AS BIGINT) AS seasonal_myr
      FROM det WHERE det_myr IS NOT NULL GROUP BY dow)
    SELECT d.day, round(d.rev_c / 100.0, 2) AS revenue,
           round(d.trend_myr / 1000000.0, 4) AS trend,
           round(s.seasonal_myr / 1000000.0, 4) AS seasonal,
           round((d.rev_c * 10000 - d.trend_myr - s.seasonal_myr)
                 / 1000000.0, 4) AS residual
    FROM det d LEFT JOIN seas s ON s.dow = d.dow
    WHERE d.trend_myr IS NOT NULL
    """,
)
def events_seasonal_decompose(spark, sf_dir):
    """Classical additive seasonal decomposition of daily revenue:
    trend = centered 7-day moving average (full windows only),
    seasonal = per-weekday mean of the detrended series, residual =
    what's left — the explainability companion to the anomaly/
    changepoint monitors (an alert on the RESIDUAL doesn't re-fire
    every Saturday).

    Determinism: daily revenue is integer cents; the 7-day average of
    7 BIGINTs and the per-weekday means are quantized to integer
    micro-revenue (x1e4 cents) BEFORE differencing, so every
    subtraction is integer arithmetic and only the final /1e6 display
    division is float.  Weekday = days-since-fixed-epoch mod 7 —
    engine-independent (dayofweek() conventions differ).

    Plan shape for 100 TB: one map-combinable daily aggregate; the
    windows and joins run over the day-cardinality series."""
    ev = td(spark, sf_dir, "events")
    d = ev.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.round(F.sum("value") * 100).cast("long").alias("rev_c"))
    return seasonal_decompose_over(d)


def seasonal_decompose_over(d):
    """The decomposition over a (day, rev_c) daily frame — shared by
    the batch query above and the streaming read path
    (streaming/forecast.py, r8)."""
    w7 = (
        Window.orderBy("day").rowsBetween(-3, 3)
    )
    tr = d.select(
        "day",
        "rev_c",
        F.when(
            F.count(F.lit(1)).over(w7) == 7,
            F.round(F.avg("rev_c").over(w7) * 10000).cast("long"),
        ).alias("trend_myr"),
    )
    det = tr.select(
        "day",
        "rev_c",
        "trend_myr",
        F.pmod(
            F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")), F.lit(7)
        ).cast("int").alias("dow"),
        (F.col("rev_c") * 10000 - F.col("trend_myr")).alias("det_myr"),
    )
    seas = (
        det.filter(F.col("det_myr").isNotNull())
        .groupBy("dow")
        .agg(F.round(F.avg("det_myr")).cast("long").alias("seasonal_myr"))
    )
    return (
        det.join(F.broadcast(seas), "dow", "left")
        .filter(F.col("trend_myr").isNotNull())
        .select(
            "day",
            F.round(F.col("rev_c") / 100.0, 2).alias("revenue"),
            F.round(F.col("trend_myr") / 1000000.0, 4).alias("trend"),
            F.round(F.col("seasonal_myr") / 1000000.0, 4).alias("seasonal"),
            F.round(
                (
                    F.col("rev_c") * 10000
                    - F.col("trend_myr")
                    - F.col("seasonal_myr")
                )
                / 1000000.0,
                4,
            ).alias("residual"),
        )
    )


# ---------------------------------------------------------------------------
# sampled-source betweenness centrality (Brandes) over the symmetrized
# k-NN graph — exact integer-nano dependency accumulation
# ---------------------------------------------------------------------------

_BC_SEED_MOD = 41
_BC_DEPTH = 3
_BC_TOPK = 50
_BC_NANO = 1_000_000_000


def _sql_betweenness_ctes(depth: int) -> str:
    """Unrolled Brandes over a symmetric ``sym(u, v)`` CTE: forward BFS
    levels l0..l{depth} carry exact BIGINT shortest-path counts per
    (seed, node); the backward pass accumulates dependencies in integer
    NANOS — each successor contribution rounds ONCE
    (sig_v * (1e9 + delta_w) / sig_w), after which every sum is a
    BIGINT and therefore aggregation-order-independent in both
    engines."""
    parts = [
        f"seeds AS (SELECT DISTINCT u AS node FROM sym"
        f" WHERE u % {_BC_SEED_MOD} = 0)",
        "l0 AS (SELECT node AS seed, node, CAST(1 AS BIGINT) AS sig"
        " FROM seeds)",
        "v0 AS (SELECT seed, node FROM l0)",
    ]
    for k in range(1, depth + 1):
        parts.append(
            f"""l{k} AS (
          SELECT f.seed, s.v AS node, CAST(sum(f.sig) AS BIGINT) AS sig
          FROM l{k - 1} f JOIN sym s ON s.u = f.node
          LEFT JOIN v{k - 1} vis ON vis.seed = f.seed AND vis.node = s.v
          WHERE vis.node IS NULL
          GROUP BY f.seed, s.v)"""
        )
        parts.append(
            f"v{k} AS (SELECT seed, node FROM v{k - 1}"
            f" UNION ALL SELECT seed, node FROM l{k})"
        )
    # backward: delta at the deepest level is 0
    parts.append(
        f"d{depth} AS (SELECT seed, node, CAST(0 AS BIGINT) AS dn"
        f" FROM l{depth})"
    )
    for k in range(depth - 1, -1, -1):
        parts.append(
            f"""d{k} AS (
          SELECT a.seed, a.node,
                 CAST(coalesce(sum(CAST(round(
                   1.0 * a.sig * ({_BC_NANO} + w.dn) / w.sig)
                   AS BIGINT)), 0) AS BIGINT) AS dn
          FROM l{k} a
          LEFT JOIN (
            SELECT bl.seed, bl.sig, bd.dn, s.u AS pred
            FROM l{k + 1} bl
            JOIN d{k + 1} bd ON bd.seed = bl.seed AND bd.node = bl.node
            JOIN sym s ON s.v = bl.node) w
            ON w.seed = a.seed AND w.pred = a.node
          GROUP BY a.seed, a.node)"""
        )
    return ",\n    ".join(parts)



def _register_betweenness():
    from target_parquet_spark.queries_r6 import _SQL_KNN, _SQL_SYM

    sym_frag = _SQL_SYM
    # d{depth} is identically zero (it exists only as backward-pass
    # input) — excluded from the union so the zero-betweenness tail of
    # the top-k draws from the SAME node universe in all three engines
    # (review r7 second pass).
    union_d = " UNION ALL ".join(
        f"SELECT node, dn FROM d{k}" for k in range(1, _BC_DEPTH)
    )

    @query(
        "graph_betweenness_sampled",
        f"""
        WITH {_SQL_KNN},
        {sym_frag},
        {_sql_betweenness_ctes(_BC_DEPTH)},
        bet AS (
          SELECT node, CAST(sum(dn) AS BIGINT) AS bn
          FROM ({union_d}) GROUP BY node)
        SELECT node AS vec_id,
               round(bn / {_BC_NANO}.0, 4) AS betweenness
        FROM bet
        ORDER BY bn DESC, node LIMIT {_BC_TOPK}
        """,
    )
    def graph_betweenness_sampled(spark, sf_dir):
        """Sampled-source betweenness centrality (Brandes 2001, the
        standard sampling approximation) over the symmetrized k-NN
        graph, depth-capped at {depth}: forward BFS from every
        {mod}-th node carries EXACT BIGINT shortest-path counts; the
        backward pass accumulates each node's dependency in integer
        NANOS — every successor contribution rounds exactly once
        (sig_v * (1e9 + delta_w) / sig_w), after which all sums are
        BIGINT and aggregation order cannot drift between engines.
        Betweenness ranks the bridge nodes whose removal disconnects
        semantic regions — the complement of the density filters
        (k-core keeps cohesion, betweenness finds the connectors),
        and completes the centrality suite next to PageRank / HITS /
        TrustRank / k-core / k-truss.

        Plan shape for 100 TB: sampled sources (|S| = nodes/{mod}) and
        a fixed depth cap bound state at |S| x reachable rows of three
        8-byte ints; each level is one edge join + one grouped integer
        sum keyed on (seed, node); the backward pass mirrors it.  The
        oracle replays the levels as unrolled CTEs."""
        from target_parquet_spark.queries_r6 import _symmetrize_degrees
        from target_parquet_spark.queries_r7 import knn_edge_artifact

        edges = knn_edge_artifact(spark, sf_dir)
        sym, _ = _symmetrize_degrees(edges)
        sym = cut(sym.repartition("u"), eager=True)

        seeds = (
            sym.select(F.col("u").alias("node"))
            .distinct()
            .filter(F.col("node") % _BC_SEED_MOD == 0)
        )
        l0 = seeds.select(
            F.col("node").alias("seed"),
            "node",
            F.lit(1).cast("long").alias("sig"),
        )
        levels = [cut(l0, eager=True)]
        visited = levels[0].select("seed", "node")
        for _k in range(1, _BC_DEPTH + 1):
            f = levels[-1]
            nxt = (
                f.join(sym, sym["u"] == f["node"])
                .join(
                    visited.withColumnRenamed("node", "v"),
                    ["seed", "v"],
                    "left_anti",
                )
                .groupBy("seed", F.col("v").alias("node"))
                .agg(F.sum("sig").cast("long").alias("sig"))
            )
            nxt = cut(nxt, eager=True)
            levels.append(nxt)
            visited = visited.unionByName(nxt.select("seed", "node"))
        deltas = [None] * (_BC_DEPTH + 1)
        deltas[_BC_DEPTH] = levels[_BC_DEPTH].select(
            "seed", "node", F.lit(0).cast("long").alias("dn")
        )
        for k in range(_BC_DEPTH - 1, -1, -1):
            bl = levels[k + 1].join(
                deltas[k + 1], ["seed", "node"]
            )  # (seed, node, sig, dn) of the deeper level
            w = bl.join(sym, sym["v"] == bl["node"]).select(
                "seed",
                F.col("u").alias("pred"),
                "sig",
                "dn",
            )
            a = levels[k].select(
                "seed",
                "node",
                F.col("sig").alias("_asig"),
            )
            contrib = a.join(
                w,
                (w["seed"] == a["seed"]) & (w["pred"] == a["node"]),
                "left",
            ).select(
                a["seed"].alias("seed"),
                a["node"].alias("node"),
                F.round(
                    1.0
                    * F.col("_asig")
                    * (F.lit(_BC_NANO) + F.col("dn"))
                    / F.col("sig")
                )
                .cast("long")
                .alias("cn"),
            )
            deltas[k] = cut(
                contrib.groupBy("seed", "node").agg(
                    F.coalesce(F.sum("cn"), F.lit(0))
                    .cast("long")
                    .alias("dn")
                ),
                eager=True,
            )
        alld = deltas[1]
        for k in range(2, _BC_DEPTH):
            alld = alld.unionByName(deltas[k])
        bet = alld.groupBy("node").agg(F.sum("dn").cast("long").alias("bn"))
        return (
            bet.orderBy(F.desc("bn"), "node")
            .limit(_BC_TOPK)
            .select(
                F.col("node").alias("vec_id"),
                F.round(F.col("bn") / float(_BC_NANO), 4).alias(
                    "betweenness"
                ),
            )
        )

    graph_betweenness_sampled.__doc__ = (
        graph_betweenness_sampled.__doc__
        .replace("{depth}", str(_BC_DEPTH))
        .replace("{mod}", str(_BC_SEED_MOD))
    )
    return graph_betweenness_sampled


_register_betweenness()


# ---------------------------------------------------------------------------
# small-file compaction (bin-pack rewrite) — the table-maintenance op
# every long-lived 100 TB table needs
# ---------------------------------------------------------------------------

_COMPACT_SMALL_FILES = 48  # the deliberately-fragmented "before" layout
_COMPACT_TARGET_BYTES = 4 * 1024 * 1024  # bin-pack target per output file


def compaction_artifacts(spark, sf_dir):
    """(small_path, compacted_path): a deliberately fragmented copy of
    documents (48 files) and its sort-clustered compaction rewrite
    (EXACTLY ceil(bytes/4MiB) files, >=1, range-clustered by doc_id),
    both content-fingerprint-keyed in the warehouse and built through
    the shared crash-atomic ``two_phase_artifact`` helper.  Returns
    paths so tests can count files; the query reads the compacted side.

    Why repartitionByRange and not coalesce: coalesce caps at the SCAN
    partition count — it can only merge, never split, and the scan's
    packing (maxSplitBytes = f(cores, openCost)) varies per box, so the
    'ceil(bytes/target)' file-count contract would silently degrade the
    moment data outgrows the fragment count or cores shrink (review r7
    third pass).  The one range exchange buys a DETERMINISTIC file
    count plus doc_id clustering — the OPTIMIZE-with-sort shape real
    table formats run."""
    import math
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
        docs,
        ["doc_id", "n_chars", "text"],
        extra=(
            "compaction",
            f"small={_COMPACT_SMALL_FILES}",
            f"target={_COMPACT_TARGET_BYTES}",
            "cluster=doc_id",
        ),
    )
    small = os.path.join(warehouse_dir(), f"cmp_small_{_tag(sf_dir)}_{fp}")
    packed = os.path.join(warehouse_dir(), f"cmp_packed_{_tag(sf_dir)}_{fp}")
    two_phase_artifact(
        small,
        "_CMP_DONE",
        lambda tmp: docs.repartition(_COMPACT_SMALL_FILES)
        .write.mode("overwrite")
        .parquet(tmp),
    )

    def _build_packed(tmp):
        data_bytes = sum(
            os.path.getsize(os.path.join(small, f))
            for f in os.listdir(small)
            if f.endswith(".parquet")
        )
        n_out = max(1, math.ceil(data_bytes / _COMPACT_TARGET_BYTES))
        (
            spark.read.parquet(small)
            .repartitionByRange(n_out, "doc_id")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    two_phase_artifact(packed, "_CMP_DONE", _build_packed)
    return small, packed


def _register_compaction():
    from target_parquet_spark.queries_r10 import (
        _SQL_DOCS_CHECKSUM,
        _docs_checksum,
    )

    @query("scan_compaction_binpack", _SQL_DOCS_CHECKSUM)
    def scan_compaction_binpack(spark, sf_dir):
        """Small-file compaction: a fragmented 48-file copy of the
        corpus is bin-packed into ceil(bytes / 4 MiB) files with a
        range-clustered repartitionByRange rewrite, and the compacted layout is
        checksummed against the ORIGINAL table (the oracle computes the
        identical per-language content CRC over the source parquet) —
        the layout changed twice, the answer must not.  Small-file
        proliferation is the dominant operational failure of long-lived
        tables (every scan pays per-file open + footer costs; at 100 TB
        a 10x file-count reduction is a 10x scan-setup reduction), and
        compaction is the maintenance op that fixes it.

        Plan shape: the rewrite pays ONE range exchange
        (repartitionByRange on doc_id) in return for a deterministic
        output file count and clustered scans — the OPTIMIZE-with-sort
        shape; a shuffle-free coalesce caps at the scan partition
        count, which varies with cores and data size (see
        compaction_artifacts).  File counts before/after are pinned by
        test."""
        _, packed = compaction_artifacts(spark, sf_dir)
        return _docs_checksum(spark.read.parquet(packed))

    return scan_compaction_binpack


_register_compaction()
