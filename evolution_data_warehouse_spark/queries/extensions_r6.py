"""Round-6 extension queries: web-corpus curation (URL canonicalize,
HTML strip, PII/Luhn, shingle containment), analytics windows
(cumulative uniques, EWMA), exact equi-depth histograms, Benford
first-digit auditing, and the incremental-join/view-maintenance and
semi-join-reduction patterns.

Like every registry module: each query carries a DuckDB oracle built
from the SAME deterministic arithmetic (decimal casts, single-division
doubles, fixed-point quantization, fully tie-broken windows), so the
driver's hash comparison is exact at any partitioning.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    DEFAULT_MAX_SHINGLE_DF as _MAX_SHINGLE_DF,
)
from evolution_data_warehouse_spark.queries.common import (
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)

# ---------------------------------------------------------------------------
# URL canonicalization (web-corpus dedup prerequisite)
# ---------------------------------------------------------------------------

# The testdata has no URL column; synthesize a deliberately messy URL
# per doc (upper-case scheme/host, www, default port, utm_* params,
# fragment) and canonicalize it. The operator is the regex pipeline —
# identical patterns on both sides.
_URL_RAW_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/Docs/' || doc_id"
    " || '?utm_source=feed&id=' || doc_id"
    " || '&utm_campaign=c' || (doc_id % 7)"
    " || '&ref=kept#sec' || (doc_id % 5)"
)

_URL_ORACLE = f"""
WITH raw AS (SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents),
parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
           regexp_replace(
               regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^www\\.', ''),
               ':443$', '') AS host,
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_replace(
               regexp_replace(
                   regexp_extract(url, '\\?([^#]*)', 1),
                   '&?utm_[^&]*', '', 'g'),
               '^&', '') AS q
    FROM raw
)
SELECT doc_id, url AS url_raw,
       scheme || '://' || host || path
           || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url_canon,
       host,
       CASE WHEN q = '' THEN 0
            ELSE len(str_split(q, '&')) END AS n_params_kept
FROM parts
"""


@register(
    "fn_url_canonicalize",
    _URL_ORACLE,
    doc="URL canonicalization for web-corpus dedup: lowercase "
    "scheme+host, strip www. and the default :443 port, drop utm_* "
    "tracking params (keeping the rest), drop the fragment. Pure "
    "column regexps — whole-stage-codegen, no UDF; at 100 TB this is "
    "the cheap normalize pass that makes URL-keyed exact dedup and "
    "per-host aggregation meaningful.",
)
def fn_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=c"), (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref=kept#sec"), (F.col("doc_id") % 5).cast("string"),
    )
    d = docs.select("doc_id", url.alias("url"))
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.", ""),
        r":443$", "")
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    q = F.regexp_replace(
        F.regexp_replace(
            F.regexp_extract("url", r"\?([^#]*)", 1), r"&?utm_[^&]*", ""),
        r"^&", "")
    return d.select(
        "doc_id",
        F.col("url").alias("url_raw"),
        F.concat(
            scheme, F.lit("://"), host, path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ).alias("url_canon"),
        host.alias("host"),
        F.when(q == "", F.lit(0))
        .otherwise(F.size(F.split(q, "&")))
        .cast("long")
        .alias("n_params_kept"),
    )


# ---------------------------------------------------------------------------
# HTML strip (corpus cleaning)
# ---------------------------------------------------------------------------

_HTML_ORACLE = """
WITH raw AS (
    SELECT doc_id,
           '<div class="post"><p>' || text || '</p><br/>&amp; <b>more</b></div>'
               AS html
    FROM documents
)
SELECT doc_id,
       trim(regexp_replace(
           replace(replace(replace(replace(replace(
               regexp_replace(html, '<[^>]*>', ' ', 'g'),
               '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
               '&quot;', '"'), '&#39;', ''''),
           ' +', ' ', 'g')) AS clean_text,
       len(regexp_extract_all(html, '<[^>]*>')) AS n_tags
FROM raw
"""


@register(
    "text_html_strip",
    _HTML_ORACLE,
    doc="HTML stripping for crawled corpora: tags → spaces, the five "
    "standard entities decoded, whitespace collapsed+trimmed, tag "
    "count as a page-complexity signal. regexp_replace/replace column "
    "expressions only — the pattern a 100 TB crawl cleanup needs to "
    "run at scan speed, no UDF.",
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div class="post"><p>'), F.col("text"),
        F.lit("</p><br/>&amp; <b>more</b></div>"),
    )
    d = docs.select("doc_id", html.alias("html"))
    stripped = F.regexp_replace("html", "<[^>]*>", " ")
    for ent, ch in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")]:
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    clean = F.trim(F.regexp_replace(stripped, " +", " "))
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        F.regexp_count("html", F.lit("<[^>]*>")).cast("long").alias("n_tags"),
    )


# ---------------------------------------------------------------------------
# PII: credit-card candidates with Luhn validation
# ---------------------------------------------------------------------------


def _luhn_terms(digit_at) -> list:
    """Luhn checksum over a fixed 16-digit string as 16 closed-form
    terms (no arrays, no loops — portable to any SQL engine).
    ``digit_at(k)`` yields the k-th digit (1-based, left to right);
    odd positions are doubled (16 digits → the check digit, position
    16, is kept)."""
    terms = []
    for k in range(1, 17):
        d = digit_at(k)
        if k % 2 == 1:  # doubled digit: 2d, minus 9 when 2d > 9
            terms.append((d * 2) - (d > 4) * 9)
        else:
            terms.append(d)
    return terms


def _luhn_sql(col: str) -> str:
    def digit_at(k):
        return f"CAST(substr({col}, {k}, 1) AS INT)"

    parts = []
    for k in range(1, 17):
        d = digit_at(k)
        if k % 2 == 1:
            parts.append(
                f"({d} * 2 - CASE WHEN {d} > 4 THEN 9 ELSE 0 END)"
            )
        else:
            parts.append(d)
    return "(" + " + ".join(parts) + ") % 10 = 0"


_LUHN_ORACLE = f"""
WITH cand AS (
    SELECT doc_id,
           lpad(CAST((doc_id * 37 + 11) % 10000000000000000 AS VARCHAR),
                16, '0') AS card_candidate
    FROM documents
)
SELECT doc_id, card_candidate,
       {_luhn_sql('card_candidate')} AS luhn_valid,
       'XXXX-XXXX-XXXX-' || substr(card_candidate, 13, 4) AS masked
FROM cand
"""


@register(
    "pii_luhn_cards",
    _LUHN_ORACLE,
    doc="PII hardening: 16-digit card-number candidates validated with "
    "the Luhn checksum (the filter that separates real card leaks from "
    "random digit runs) and masked to last-4. The checksum is 16 "
    "closed-form substr terms — pure column arithmetic, codegen'd, "
    "no per-row Python; at corpus scale this runs at scan speed. "
    "Candidates synthesized from doc_id (testdata has no real PII).",
)
def pii_luhn_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    cand = F.lpad(
        ((F.col("doc_id") * 37 + 11) % F.lit(10**16)).cast("string"),
        16, "0",
    )
    d = docs.select("doc_id", cand.alias("card_candidate"))

    def digit_at(k):
        return F.substring("card_candidate", k, 1).cast("int")

    luhn_sum = None
    for k in range(1, 17):
        dig = digit_at(k)
        term = (
            dig * 2 - F.when(dig > 4, F.lit(9)).otherwise(F.lit(0))
            if k % 2 == 1
            else dig
        )
        luhn_sum = term if luhn_sum is None else luhn_sum + term
    return d.select(
        "doc_id",
        "card_candidate",
        (luhn_sum % 10 == 0).alias("luhn_valid"),
        F.concat(
            F.lit("XXXX-XXXX-XXXX-"), F.substring("card_candidate", 13, 4)
        ).alias("masked"),
    )


# ---------------------------------------------------------------------------
# Shingle containment (asymmetric near-dup: quotes / subsumption)
# ---------------------------------------------------------------------------

_CONTAIN_MIN = 0.5

_CONTAIN_ORACLE = f"""
WITH sh0 AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, str_split(lower(text), ' ') AS toks FROM documents)
    )
),
shu AS (SELECT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle_h
       FROM sh0),
sh AS (SELECT doc_id, shingle_h FROM shu
       QUALIFY COUNT(*) OVER (PARTITION BY shingle_h) <= {_MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, n_common,
       CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) AS contain_a,
       CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE) AS contain_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_sh AS DOUBLE) >= {_CONTAIN_MIN}
   OR CAST(n_common AS DOUBLE) / CAST(sb.n_sh AS DOUBLE) >= {_CONTAIN_MIN}
"""


@register(
    "text_shingle_containment",
    _CONTAIN_ORACLE,
    doc="Containment (asymmetric Jaccard): |A∩B| / |A| per candidate "
    "pair — catches quotation/subsumption near-dups that symmetric "
    "Jaccard misses (a short doc fully quoted inside a long one has "
    "low Jaccard but containment 1.0). Same hashed-shingle equi-join "
    "backbone as dedup_ngram_jaccard (never corpus×corpus; pairs only "
    "through shared shingles) with the same DEFAULT_MAX_SHINGLE_DF "
    "hot-shingle guard before the self-join; counts divided once per "
    "side (single-division doubles, engine-exact).",
)
def text_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.dedup import (
        cap_shingle_df,
        content_hash64,
    )
    from evolution_data_warehouse_spark.queries.llm_ops import _doc_shingles

    sh = (
        cap_shingle_df(
            _doc_shingles(spark, sf_dir).select(
                "doc_id", content_hash64(F.col("shingle")).alias("shingle_h")
            )
        )
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle_h") == F.col("b.shingle_h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    ca = F.col("n_common").cast("double") / F.col("sa.n_sh").cast("double")
    cb = F.col("n_common").cast("double") / F.col("sb.n_sh").cast("double")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter((ca >= _CONTAIN_MIN) | (cb >= _CONTAIN_MIN))
        .select(
            "doc_a", "doc_b", "n_common",
            ca.alias("contain_a"), cb.alias("contain_b"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative unique users (new vs returning)
# ---------------------------------------------------------------------------

_CUMUNIQ_ORACLE = """
WITH days AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
firsts AS (SELECT user_id, MIN(day) AS first_day FROM days GROUP BY user_id),
new_per_day AS (
    SELECT first_day AS day, COUNT(*) AS n_new
    FROM firsts GROUP BY first_day
),
active AS (
    SELECT day, COUNT(DISTINCT user_id) AS n_active FROM days GROUP BY day
)
SELECT a.day, COALESCE(n.n_new, 0) AS n_new, a.n_active,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (
           ORDER BY a.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_users
FROM active a LEFT JOIN new_per_day n ON n.day = a.day
"""


@register(
    "win_cumulative_unique",
    _CUMUNIQ_ORACLE,
    doc="Daily new vs returning users + cumulative unique count — the "
    "growth-accounting query every event warehouse serves. Cumulative "
    "DISTINCT is computed as first-seen-day counts + a running sum "
    "(two user-cardinality aggregates + a date-cardinality window), "
    "never a per-day re-scan of history — the O(days × events) trap "
    "this shape invites at 100 TB. Integer counts only.",
)
def win_cumulative_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    days = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    firsts = days.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("n_new")
    )
    active = days.groupBy("day").agg(
        F.countDistinct("user_id").alias("n_active")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        active.join(new_per_day, "day", "left")
        .withColumn("n_new", F.coalesce(F.col("n_new"), F.lit(0)))
        .select(
            "day", "n_new", "n_active",
            F.sum("n_new").over(w).cast("long").alias("cum_users"),
        )
    )


# ---------------------------------------------------------------------------
# Finite-horizon EWMA (exact rational weights)
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH lagged AS (
    SELECT user_id, event_id, ts, value,
           lag(value, 1) OVER w AS v1,
           lag(value, 2) OVER w AS v2,
           lag(value, 3) OVER w AS v3,
           row_number() OVER w AS rn
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id,
       CAST(CAST(CAST(value AS DECIMAL(28,6)) * 8
                 + CAST(v1 AS DECIMAL(28,6)) * 4
                 + CAST(v2 AS DECIMAL(28,6)) * 2
                 + CAST(v3 AS DECIMAL(28,6)) AS DOUBLE) / 15.0
            AS DOUBLE) AS ewma4
FROM lagged WHERE rn >= 4
"""


@register(
    "ts_ewma_window",
    _EWMA_ORACLE,
    doc="Finite-horizon EWMA (half-life 1 step, 4-tap): weights "
    "8/15, 4/15, 2/15, 1/15 — powers of two over a common denominator, "
    "so the weighted numerator is EXACT in decimal and the single "
    "final double division is engine-identical. The infinite-memory "
    "recursive EWMA is deliberately truncated: a windowed 4-tap runs "
    "as one lag() pass (per-user state = 4 rows) where the recursive "
    "form needs sequential per-key iteration; rows with under 4 "
    "periods of history are excluded rather than renormalized.",
)
def ts_ewma_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    dec = lambda c: c.cast("decimal(28,6)")  # noqa: E731
    ev = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value",
        F.lag("value", 1).over(w).alias("v1"),
        F.lag("value", 2).over(w).alias("v2"),
        F.lag("value", 3).over(w).alias("v3"),
        F.row_number().over(w).alias("rn"),
    )
    num = (
        dec(F.col("value")) * 8
        + dec(F.col("v1")) * 4
        + dec(F.col("v2")) * 2
        + dec(F.col("v3"))
    )
    return ev.filter(F.col("rn") >= 4).select(
        "user_id", "event_id",
        (num.cast("double") / F.lit(15.0)).cast("double").alias("ewma4"),
    )


# ---------------------------------------------------------------------------
# Exact equi-depth histogram
# ---------------------------------------------------------------------------

_EQUIDEPTH_ORACLE = """
WITH ranked AS (
    SELECT o_totalprice,
           ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
    FROM orders
)
SELECT bucket, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM ranked GROUP BY bucket
"""


@register(
    "agg_equidepth_histogram",
    _EQUIDEPTH_ORACLE,
    doc="Exact equi-depth histogram: ntile(8) fully tie-broken by "
    "(price, orderkey) so bucket membership is deterministic, then "
    "per-bucket count/min/max (no arithmetic — raw stored doubles). "
    "Complements agg_histogram (equi-width). HONEST scale note: exact "
    "ntile is a global sort through one window partition — the "
    "sketch-based agg_approx_percentile is the 100 TB path; this is "
    "the small-dimension/exact-audit form, and the output is only "
    "8 rows.",
)
def agg_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ranked = t(spark, sf_dir, "orders").select(
        "o_totalprice",
        F.ntile(8).over(W.orderBy("o_totalprice", "o_orderkey")).alias("bucket"),
    )
    return ranked.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit
# ---------------------------------------------------------------------------

_BENFORD_EXPECTED = {d: math.log10(1 + 1 / d) for d in range(1, 10)}

_BENFORD_CASE_SQL = "CASE first_digit " + " ".join(
    f"WHEN {d} THEN {_BENFORD_EXPECTED[d]!r}" for d in range(1, 10)
) + " END"

_BENFORD_ORACLE = f"""
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                            AS VARCHAR), 1, 1) AS INT) AS first_digit
    FROM orders
),
counts AS (
    SELECT first_digit, COUNT(*) AS n FROM digits GROUP BY first_digit
),
tot AS (SELECT SUM(n) AS total FROM counts)
SELECT first_digit, n,
       {fpq_sql('CAST(n AS DOUBLE) / CAST(total AS DOUBLE)')} AS share,
       CAST({_BENFORD_CASE_SQL} AS DOUBLE) AS expected,
       {fpq_sql(f'abs(CAST(n AS DOUBLE) / CAST(total AS DOUBLE) - ({_BENFORD_CASE_SQL}))')}
           AS abs_dev
FROM counts, tot
"""


@register(
    "agg_benford_firstdigit",
    _BENFORD_ORACLE,
    doc="Benford first-digit audit: the data-quality screen for "
    "fabricated or truncated monetary columns. First digit extracted "
    "from exact integer cents (never float log10 — its ulp behavior "
    "at powers of ten differs across engines), shares fixed-point "
    "quantized, expected Benford mass embedded as identical literals "
    "on both sides. One hash aggregate + a 1-row total broadcast; "
    "9-row output at any scale.",
)
def agg_benford_firstdigit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    digits = t(spark, sf_dir, "orders").select(
        F.substring(cents.cast("string"), 1, 1).cast("int").alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(F.count("*").alias("n"))
    tot = counts.agg(F.sum("n").alias("total"))
    expected = F.lit(None).cast("double")
    for d in range(1, 10):
        expected = (
            F.when(F.col("first_digit") == d, F.lit(_BENFORD_EXPECTED[d]))
            .otherwise(expected)
        )
    share = F.col("n").cast("double") / F.col("total").cast("double")
    return counts.crossJoin(tot).select(
        "first_digit", "n",
        fpq(share).alias("share"),
        expected.cast("double").alias("expected"),
        fpq(F.abs(share - expected)).alias("abs_dev"),
    )


# ---------------------------------------------------------------------------
# Incremental join-view maintenance
# ---------------------------------------------------------------------------

_DELTA_ORACLE = f"""
SELECT c.c_nationkey,
       COUNT(*) AS n_orders,
       {dsum_sql('o.o_totalprice')} AS total_value
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey
"""


@register(
    "join_delta_maintenance",
    _DELTA_ORACLE,
    doc="Incremental maintenance of a join view: with orders = A ∪ dA "
    "and customer = B ∪ dB (deterministic modulo splits standing in "
    "for 'rows since the last refresh'), the Spark side computes "
    "(A∪dA)⋈(B∪dB) as A⋈B ∪ A⋈dB ∪ dA⋈B ∪ dA⋈dB and re-aggregates — "
    "the delta algebra that updates a 100 TB materialized join by "
    "touching delta-sized joins (3 of the 4 terms) instead of "
    "re-scanning history; only the bounded post-join aggregate is "
    "recomputed. The oracle is the full recompute: equality IS the "
    "correctness claim, and decimal-cast sums make the re-aggregation "
    "merge exact.",
)
def join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    a = orders.filter(F.col("o_orderkey") % 3 != 0)
    da = orders.filter(F.col("o_orderkey") % 3 == 0)
    b = cust.filter(F.col("c_custkey") % 2 == 0)
    db = cust.filter(F.col("c_custkey") % 2 != 0)
    cols = ["c_nationkey", "o_totalprice"]
    join = lambda o, c: o.join(  # noqa: E731
        c, o.o_custkey == c.c_custkey
    ).select(*cols)
    unioned = (
        join(a, b)
        .unionByName(join(a, db))
        .unionByName(join(da, b))
        .unionByName(join(da, db))
    )
    return unioned.groupBy("c_nationkey").agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Semi-join reduction (bloom/runtime-filter pattern, explicit form)
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = f"""
SELECT p.p_brand,
       COUNT(*) AS n_items,
       {dsum_sql('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size < 10
GROUP BY p.p_brand
"""


@register(
    "join_bloom_prefilter",
    _BLOOM_ORACLE,
    doc="Semi-join reduction: the fact scan is pre-filtered by a "
    "broadcast LEFT SEMI join on the filtered dimension's keys before "
    "the wide join — the explicit, engine-portable form of a bloom/"
    "runtime filter. At 100 TB the reduction runs at scan speed and "
    "drops non-qualifying fact rows before they carry full-width "
    "payloads into the join shuffle (here both joins broadcast, but "
    "on a fact too wide to broadcast-join the semi prefilter is what "
    "keeps the shuffle delta-sized). Result equals the plain "
    "filtered join — the oracle checks exactly that.",
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    part_f = t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    keys = part_f.select("p_partkey")
    reduced = li.join(
        keys, li.l_partkey == keys.p_partkey, "left_semi"
    )
    joined = reduced.join(
        part_f, reduced.l_partkey == part_f.p_partkey
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_items"),
        dsum(
            F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
        ).alias("revenue"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff (backfill validation / replication audit)
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
WITH old AS (
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o_orderstatus
    FROM orders
),
new AS (
    SELECT o_orderkey,
           cents + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
           o_orderstatus
    FROM old WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT o_orderkey + 2000000000, cents, o_orderstatus
    FROM old WHERE o_orderkey % 101 = 0
)
SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
       CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            ELSE 'changed' END AS change_type
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
   OR o.cents <> n.cents OR o.o_orderstatus <> n.o_orderstatus
"""


@register(
    "snapshot_table_diff",
    _SNAPDIFF_ORACLE,
    doc="Snapshot diff (warehouse/etl.py snapshot_diff): one FULL "
    "OUTER JOIN on the key emitting added/removed/changed rows — the "
    "backfill-validation / replication-audit primitive. Payloads "
    "travel as an md5 over null-tagged columns, so the shuffle carries "
    "keys + one hash, never full rows; unchanged rows (the 100 TB "
    "majority) are dropped in-plan. v2 synthesized deterministically "
    "(drop %97 keys, bump %5 prices, add %101 clones under new keys); "
    "doubles enter the hash as exact integer cents — float-to-string "
    "formatting never touches the comparison.",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.warehouse.etl import snapshot_diff

    old = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        "o_orderstatus",
    )
    kept = old.filter(F.col("o_orderkey") % 97 != 0).withColumn(
        "cents",
        F.col("cents")
        + F.when(F.col("o_orderkey") % 5 == 0, F.lit(100)).otherwise(F.lit(0)),
    )
    added = old.filter(F.col("o_orderkey") % 101 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.lit(2_000_000_000)
    )
    new = kept.unionByName(added)
    return snapshot_diff(
        old, new, ["o_orderkey"], ["cents", "o_orderstatus"]
    )


# ---------------------------------------------------------------------------
# MAD outlier detection (robust per-group anomaly screen)
# ---------------------------------------------------------------------------

_MAD_K = 4.4478  # 3 × 1.4826 (MAD→σ for normal data)

_MAD_ORACLE = f"""
WITH med AS (
    SELECT event_type,
           {fpq_sql('quantile_cont(value, 0.5)')} AS median_value
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.median_value,
           abs(e.value - m.median_value) AS d
    FROM events e JOIN med m ON e.event_type = m.event_type
),
mad AS (
    SELECT event_type, median_value,
           {fpq_sql('quantile_cont(d, 0.5)')} AS mad_value
    FROM dev GROUP BY event_type, median_value
)
SELECT d.event_type, m.median_value, m.mad_value,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN d.d > {_MAD_K} * m.mad_value THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM dev d JOIN mad m ON d.event_type = m.event_type
GROUP BY d.event_type, m.median_value, m.mad_value
"""


@register(
    "agg_mad_outliers",
    _MAD_ORACLE,
    doc="Robust outlier screen: median + MAD per group, flagging "
    "|x − med| > 3·1.4826·MAD — the quality gate that survives the "
    "heavy tails that wreck mean/stddev z-scores. Two grouped exact "
    "percentiles (both fixed-point quantized BEFORE re-entering "
    "arithmetic, so the ulp-sensitive interpolation can't cascade) + "
    "one counting pass; group-cardinality shuffles only. At 100 TB "
    "swap percentile for approx_percentile — same shape.",
)
def agg_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        fpq(F.percentile("value", F.lit(0.5))).alias("median_value")
    )
    dev = ev.join(med, "event_type").withColumn(
        "d", F.abs(F.col("value") - F.col("median_value"))
    )
    mad = dev.groupBy("event_type", "median_value").agg(
        fpq(F.percentile("d", F.lit(0.5))).alias("mad_value")
    )
    return (
        dev.join(mad.drop("median_value"), "event_type")
        .groupBy("event_type", "median_value", "mad_value")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("d") > _MAD_K * F.col("mad_value"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type", "median_value", "mad_value", "n", "n_outliers"
        )
    )


# ---------------------------------------------------------------------------
# Deterministic weighted sampling (integer priorities)
# ---------------------------------------------------------------------------

_WSAMPLE_ORACLE = """
WITH pri AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
                AS BIGINT)
           // CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS priority
    FROM orders
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY o_orderpriority ORDER BY priority, o_orderkey
    ) AS rk
    FROM pri
)
SELECT o_orderpriority, o_orderkey, o_totalprice, rk
FROM ranked WHERE rk <= 5
"""


@register(
    "sample_weighted_det",
    _WSAMPLE_ORACLE,
    doc="Deterministic weighted sampling, 5 per group: "
    "Efraimidis–Spirakis-style priorities with an INTEGER surrogate — "
    "priority = hash64(key) ÷ weight (integer division), smallest "
    "first — so heavier rows win proportionally more often, reruns and "
    "engines agree bit-for-bit (no float pow/ln at quantization "
    "boundaries), and the rank filter compiles to WindowGroupLimit "
    "(partial top-5 map-side before the group shuffle). The zero-"
    "float cousin of sample_stratified_hash for weighted quotas.",
)
def sample_weighted_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators.dedup import content_hash64

    # `div`, not `/`: float division of a 60-bit hash loses low bits to
    # the double mantissa while DuckDB's `//` stays exact — integer
    # division on both sides is what makes the sample bit-reproducible.
    pri = t(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        content_hash64(F.col("o_orderkey").cast("string")).alias("h"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("w"),
    ).select(
        "o_orderpriority", "o_orderkey", "o_totalprice",
        F.expr("h div w").alias("priority"),
    )
    w = W.partitionBy("o_orderpriority").orderBy("priority", "o_orderkey")
    return (
        pri.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("priority")
    )


# ---------------------------------------------------------------------------
# Trending top-k per window (streaming-rankable aggregate)
# ---------------------------------------------------------------------------

_TRENDING_ORACLE = """
WITH counts AS (
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY window_start ORDER BY n_events DESC, event_type
    ) AS rank
    FROM counts
)
SELECT window_start, event_type, n_events, rank
FROM ranked WHERE rank <= 3
"""


@register(
    "stream_trending_topk",
    _TRENDING_ORACLE,
    doc="Trending top-3 event types per hourly window — the batch twin "
    "of the streaming pattern 'watermarked windowed counts into a "
    "sink, rank at read': the stream maintains only additive counts "
    "(mergeable, watermark-bounded state), and the rank runs over the "
    "window-cardinality sink, never the raw events. Tie-broken "
    "(n desc, type asc); streaming form checked against this twin in "
    "test_streaming.py. Integer counts, WindowGroupLimit rank.",
)
def stream_trending_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    counts = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
    )
    w = W.partitionBy("window_start").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
    )


# ---------------------------------------------------------------------------
# Per-group linear-regression slope (trend detection)
# ---------------------------------------------------------------------------

# Rebase event time to seconds since 2024-01-01 so the decimal moment
# sums (Σx, Σy, Σxy, Σx²) stay far inside DECIMAL(38): x ≲ 3·10⁷, so
# Σx² ≲ 10²⁰ at any realistic row count. The four sums are EXACT
# (decimal, order-independent); the slope combines their double casts
# with the identical IEEE expression on both sides.
_EPOCH_2024_US = 1_704_067_200_000_000

_LINREG_ORACLE = f"""
WITH pts AS (
    SELECT event_type,
           (epoch_us(ts) - {_EPOCH_2024_US}) // 1000000 AS x,
           value AS y
    FROM events
),
sums AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,6)))
                AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0)))
                AS DOUBLE) AS sxx
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       {fpq_sql('(CAST(n AS DOUBLE) * sxy - sx * sy)'
                ' / (CAST(n AS DOUBLE) * sxx - sx * sx)', 9)}
           AS slope_per_sec
FROM sums
"""


@register(
    "agg_linreg_slope",
    _LINREG_ORACLE,
    doc="Per-group least-squares trend slope (value vs event time) "
    "from the four classic moment sums — ONE hash aggregate, partial+ "
    "final, no sort, no window: the O(rows) trend detector that "
    "replaces per-group curve fitting at 100 TB. Sums are decimal-"
    "exact (order-independent); the closing arithmetic is the same "
    "IEEE double expression on both sides, fixed-point quantized at "
    "9 digits (slopes per second are tiny).",
)
def agg_linreg_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = t(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"(unix_micros(ts) - {_EPOCH_2024_US}) div 1000000").alias("x"),
        F.col("value").alias("y"),
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,6)")
    sums = pts.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(dx).cast("double").alias("sx"),
        F.sum(dy).cast("double").alias("sy"),
        F.sum(dx * dy).cast("double").alias("sxy"),
        F.sum(dx * dx).cast("double").alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        "event_type", "n", fpq(slope, 9).alias("slope_per_sec")
    )


# ---------------------------------------------------------------------------
# Gini coefficient (inequality audit, exact integer form)
# ---------------------------------------------------------------------------

_GINI_ORACLE = """
WITH ranked AS (
    SELECT o_orderpriority,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
           ) AS i
    FROM orders
),
sums AS (
    SELECT o_orderpriority,
           COUNT(*) AS n,
           SUM(cents) AS s,
           SUM(i * cents) AS si
    FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       CAST(2 * si - (n + 1) * s AS DOUBLE) / CAST(n * s AS DOUBLE) AS gini
FROM sums
"""


@register(
    "agg_gini",
    _GINI_ORACLE,
    doc="Gini coefficient per group — the inequality/concentration "
    "audit (is 1% of customers 90% of revenue?). Computed from the "
    "rank formula G = (2Σi·xᵢ − (n+1)Σxᵢ) / (nΣxᵢ) over exact integer "
    "cents with a fully tie-broken rank, so everything is integer "
    "until one final double division. One window pass + one "
    "aggregate; 5-row output.",
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    ranked = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        F.row_number().over(w).alias("i"),
    )
    sums = ranked.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("si"),
    )
    gini = (2 * F.col("si") - (F.col("n") + 1) * F.col("s")).cast("double") / (
        F.col("n") * F.col("s")
    ).cast("double")
    return sums.select("o_orderpriority", "n", gini.alias("gini"))


# ---------------------------------------------------------------------------
# RFM customer segmentation
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           MAX(CAST(ts AS DATE)) AS last_day,
           COUNT(*) AS frequency,
           CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS monetary
    FROM events GROUP BY user_id
),
anchor AS (SELECT MAX(last_day) AS max_day FROM per_user),
scored AS (
    SELECT user_id,
           date_diff('day', last_day, max_day) AS recency_days,
           frequency, monetary,
           ntile(4) OVER (ORDER BY date_diff('day', last_day, max_day), user_id)
               AS r_q,
           ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f_q,
           ntile(4) OVER (ORDER BY monetary DESC, user_id) AS m_q
    FROM per_user, anchor
)
SELECT user_id, recency_days, frequency, monetary,
       r_q * 100 + f_q * 10 + m_q AS rfm_segment
FROM scored
"""


@register(
    "agg_rfm_segments",
    _RFM_ORACLE,
    doc="RFM segmentation (recency/frequency/monetary quartiles → "
    "3-digit segment code), the classic customer-value rollup: one "
    "user-grain aggregate, a 1-row anchor-date broadcast, three fully "
    "tie-broken ntile windows over the USER-cardinality table (never "
    "the raw events). Monetary uses the decimal-exact sum; quartile "
    "membership is deterministic via (metric, user_id) tie-breaks.",
)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.queries.common import dsum as _dsum

    per_user = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count("*").alias("frequency"),
        _dsum("value").alias("monetary"),
    )
    anchor = per_user.agg(F.max("last_day").alias("max_day"))
    scored = per_user.crossJoin(anchor).withColumn(
        "recency_days", F.datediff("max_day", "last_day")
    )
    r_q = F.ntile(4).over(W.orderBy("recency_days", "user_id"))
    f_q = F.ntile(4).over(W.orderBy(F.desc("frequency"), F.asc("user_id")))
    m_q = F.ntile(4).over(W.orderBy(F.desc("monetary"), F.asc("user_id")))
    return scored.select(
        "user_id", "recency_days", "frequency", "monetary",
        (r_q * 100 + f_q * 10 + m_q).alias("rfm_segment"),
    )


# ---------------------------------------------------------------------------
# IPv4 / CIDR parsing (log analytics)
# ---------------------------------------------------------------------------

_IP_ORACLE = """
WITH ips AS (
    SELECT event_id,
           '10.' || ((user_id * 7) % 256) || '.' || ((user_id * 13) % 256)
               || '.' || (event_id % 256) AS ip_str
    FROM events
),
parsed AS (
    SELECT event_id, ip_str,
           CAST(str_split(ip_str, '.')[1] AS BIGINT) * 16777216
           + CAST(str_split(ip_str, '.')[2] AS BIGINT) * 65536
           + CAST(str_split(ip_str, '.')[3] AS BIGINT) * 256
           + CAST(str_split(ip_str, '.')[4] AS BIGINT) AS ip_int
    FROM ips
)
SELECT event_id, ip_str, ip_int,
       (ip_int // 65536) = (10 * 256 + 42) AS in_10_42_16
FROM parsed
"""


@register(
    "fn_ip_cidr",
    _IP_ORACLE,
    doc="IPv4 parse + CIDR containment: dotted-quad → uint32 via "
    "octet arithmetic, subnet membership as integer division against "
    "the /16 prefix (engine-portable — no bit-shift dialect "
    "differences). The log-analytics primitive for joining traffic to "
    "allocation tables; pure column arithmetic at scan speed. IPs "
    "synthesized from ids (testdata ships no PII).",
)
def fn_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    ip = F.concat_ws(
        ".",
        F.lit("10"),
        ((F.col("user_id") * 7) % 256).cast("string"),
        ((F.col("user_id") * 13) % 256).cast("string"),
        (F.col("event_id") % 256).cast("string"),
    )
    d = ev.select("event_id", ip.alias("ip_str"))
    oct_ = lambda i: F.split("ip_str", r"\.").getItem(i).cast("bigint")  # noqa: E731
    ip_int = (
        oct_(0) * 16777216 + oct_(1) * 65536 + oct_(2) * 256 + oct_(3)
    )
    return d.select("event_id", "ip_str", ip_int.alias("ip_int")).select(
        "event_id", "ip_str", "ip_int",
        (F.expr("ip_int div 65536") == (10 * 256 + 42)).alias("in_10_42_16"),
    )


# ---------------------------------------------------------------------------
# Base64 / hex transport codecs
# ---------------------------------------------------------------------------

_B64_ORACLE = """
SELECT doc_id,
       to_base64(encode(text)) AS b64,
       decode(from_base64(to_base64(encode(text)))) = text AS roundtrip_ok,
       lower(hex(encode(substr(text, 1, 8)))) AS head_hex
FROM documents
"""


@register(
    "fn_base64_codec",
    _B64_ORACLE,
    doc="Binary transport codecs: utf-8 → base64 (and back, asserted "
    "in-row) + hex of the text head — the wire format for shipping "
    "binary payloads through JSON/CSV edges. Engine trap made "
    "explicit: Spark's base64 is MIME-flavored (CRLF line break every "
    "76 chars) while DuckDB/RFC4648 emit one line — normalized by "
    "stripping CRLF, which the oracle hash proves. Built-in column "
    "expressions, scan-speed at any scale.",
)
def fn_base64_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    raw = F.encode(F.col("text"), "utf-8")
    return docs.select(
        "doc_id",
        F.replace(F.base64(raw), F.lit("\r\n"), F.lit("")).alias("b64"),
        (F.decode(F.unbase64(F.base64(raw)), "utf-8") == F.col("text")).alias(
            "roundtrip_ok"
        ),
        F.lower(F.hex(F.encode(F.substring("text", 1, 8), "utf-8"))).alias(
            "head_hex"
        ),
    )


# ---------------------------------------------------------------------------
# Calendar part extraction (engine-portable semantics)
# ---------------------------------------------------------------------------

_DATEPARTS_ORACLE = """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS y,
       CAST(quarter(o_orderdate) AS INT) AS q,
       CAST(month(o_orderdate) AS INT) AS m,
       CAST(isodow(o_orderdate) AS INT) AS iso_dow,
       CAST(dayofyear(o_orderdate) AS INT) AS doy,
       CAST(year(o_orderdate) AS INT) * 100
           + CAST(month(o_orderdate) AS INT) AS yyyymm
FROM orders
"""


@register(
    "fn_date_parts",
    _DATEPARTS_ORACLE,
    doc="Calendar part extraction with PORTABLE semantics: year/"
    "quarter/month/day-of-year agree everywhere, but day-of-week is an "
    "engine trap (Spark dayofweek: Sunday=1; DuckDB dow: Sunday=0) — "
    "normalized to ISO (Monday=1…Sunday=7) by arithmetic on the Spark "
    "side vs native isodow in the oracle, so the hash proves the "
    "mapping. Plus the yyyymm partition key every time-partitioned "
    "fact table uses.",
)
def fn_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("o_orderdate")
    # Spark dayofweek: Sun=1..Sat=7 → ISO Mon=1..Sun=7
    iso_dow = (F.dayofweek(d) + 5) % 7 + 1
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        iso_dow.cast("int").alias("iso_dow"),
        F.dayofyear(d).alias("doy"),
        (F.year(d) * 100 + F.month(d)).cast("int").alias("yyyymm"),
    )


# ---------------------------------------------------------------------------
# Sentence-level corpus statistics
# ---------------------------------------------------------------------------

_SENTENCE_ORACLE = """
WITH base AS (
    SELECT doc_id,
           len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                           s -> trim(s) <> '')) AS n_sentences,
           len(list_filter(str_split(text, ' '), w -> w <> ''))
               AS n_words
    FROM documents
)
SELECT doc_id, n_sentences, n_words,
       CASE WHEN n_sentences = 0 THEN NULL
            ELSE CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)
       END AS words_per_sentence
FROM base
"""


@register(
    "text_sentence_stats",
    _SENTENCE_ORACLE,
    doc="Sentence segmentation statistics (terminator split, empty "
    "fragments dropped): sentence count, word count, words-per-"
    "sentence — the readability/quality feature set next to "
    "text_quality. Integer counts + one division; array expressions "
    "only, scan-speed.",
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda s: F.trim(s) != "",
    )
    words = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(sentences).cast("bigint").alias("n_sentences"),
        F.size(words).cast("bigint").alias("n_words"),
    )
    return base.select(
        "doc_id", "n_sentences", "n_words",
        F.when(
            F.col("n_sentences") == 0, F.lit(None).cast("double")
        )
        .otherwise(
            F.col("n_words").cast("double") / F.col("n_sentences").cast("double")
        )
        .alias("words_per_sentence"),
    )


# ---------------------------------------------------------------------------
# URL-keyed exact dedup (canonicalize → keep-first composition)
# ---------------------------------------------------------------------------

_URL_DEDUP_ORACLE = f"""
WITH raw AS (SELECT doc_id, {_URL_RAW_SQL} AS url FROM documents),
canon AS (
    SELECT doc_id,
           regexp_replace(
               regexp_replace(
                   lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)),
                   '^www\\.', ''),
               ':443$', '')
           || regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
               AS host_path,
           doc_id % 11 AS dup_group
    FROM raw
),
keyed AS (
    -- collapse to a deliberately colliding key (host + dup_group) so
    -- the keep-first actually has duplicates to resolve
    SELECT doc_id,
           regexp_extract(host_path, '^([^/]+)', 1) || '#' || dup_group
               AS url_key
    FROM canon
)
SELECT url_key,
       MIN(doc_id) AS canonical_doc,
       COUNT(*) AS n_dups
FROM keyed GROUP BY url_key
"""


@register(
    "dedup_url_canonical",
    _URL_DEDUP_ORACLE,
    doc="URL-keyed exact dedup: canonical host (the "
    "fn_url_canonicalize pipeline) bucketed into colliding keys, then "
    "keep-lowest-doc-id per key with the duplicate count — the "
    "crawl-frontier dedup that runs BEFORE content hashing (same URL "
    "→ skip the fetch/decode entirely at 100 TB). One hash aggregate "
    "on the key; map-side combine collapses duplicates before the "
    "shuffle.",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW."), F.col("source"), F.lit(".Example.COM:443/Docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?utm_source=feed&id="), F.col("doc_id").cast("string"),
        F.lit("&utm_campaign=c"), (F.col("doc_id") % 7).cast("string"),
        F.lit("&ref=kept#sec"), (F.col("doc_id") % 5).cast("string"),
    )
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract(url, r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.", ""),
        r":443$", "")
    path = F.regexp_extract(url, r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    host_path = F.concat(host, path)
    url_key = F.concat(
        F.regexp_extract(host_path, r"^([^/]+)", 1),
        F.lit("#"),
        (F.col("doc_id") % 11).cast("string"),
    )
    return (
        docs.select("doc_id", url_key.alias("url_key"))
        .groupBy("url_key")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count("*").alias("n_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Rolling z-score (windowed anomaly signal)
# ---------------------------------------------------------------------------

_ROLLZ_ORACLE = f"""
WITH framed AS (
    SELECT user_id, event_id, value,
           COUNT(*) OVER w AS n,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS s,
           CAST(SUM(CAST(value AS DECIMAL(28,6))
                    * CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS ss
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
)
SELECT user_id, event_id,
       {fpq_sql('(value - s / n) / sqrt(ss / n - (s / n) * (s / n) + 1e-9)')}
           AS rolling_z
FROM framed WHERE n = 8
"""


@register(
    "win_zscore_rolling",
    _ROLLZ_ORACLE,
    doc="Rolling z-score over a trailing 8-row frame per user — the "
    "windowed anomaly signal (how unusual is this value vs the user's "
    "recent behavior). Frame sums are decimal-exact (order- and "
    "partitioning-independent); mean/variance/sqrt combine them with "
    "the identical IEEE expression on both sides (epsilon-guarded "
    "denominator), fixed-point quantized. Rows without a full frame "
    "are excluded. One window pass, user-cardinality shuffle.",
)
def win_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, W.currentRow)
    )
    dec = F.col("value").cast("decimal(28,6)")
    framed = t(spark, sf_dir, "events").select(
        "user_id", "event_id", "value",
        F.count("*").over(w).alias("n"),
        F.sum(dec).over(w).cast("double").alias("s"),
        F.sum(dec * dec).over(w).cast("double").alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("value") - mean) / F.sqrt(
        F.col("ss") / F.col("n") - mean * mean + F.lit(1e-9)
    )
    return framed.filter(F.col("n") == 8).select(
        "user_id", "event_id", fpq(z).alias("rolling_z")
    )


# ---------------------------------------------------------------------------
# Market-basket co-occurrence (support / lift)
# ---------------------------------------------------------------------------

_BASKET_MIN_PAIRS = 3

_BASKET_ORACLE = f"""
WITH baskets AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
item_counts AS (
    SELECT l_partkey, COUNT(*) AS n_item FROM baskets GROUP BY l_partkey
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_pair
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_BASKET_MIN_PAIRS}
)
SELECT part_a, part_b, n_pair,
       CAST(n_pair AS DOUBLE) / CAST(n.n AS DOUBLE) AS support,
       CAST(n_pair AS DOUBLE) * CAST(n.n AS DOUBLE)
           / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)) AS lift
FROM pairs
JOIN item_counts ia ON ia.l_partkey = part_a
JOIN item_counts ib ON ib.l_partkey = part_b
CROSS JOIN n_orders n
"""


@register(
    "agg_market_basket",
    _BASKET_ORACLE,
    doc="Market-basket association pairs with support and lift: pairs "
    "come from a per-order collect_set + array pair expression, so the "
    "fan-out is bounded by basket size squared (never corpus²) — the "
    "same guard shape as the LSH bucket join — and the "
    "min-pair HAVING prunes the long tail before the stats joins. "
    "Integer counts with single-division doubles; the corpus size "
    "rides in as a 1-row broadcast.",
)
def agg_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One collect_set per order replaces the distinct + sort-merge
    # self-join (same rewrite as extensions_r7._edges, r14): baskets
    # are <= 7 lines in TPC-H so the array pair expression fans out
    # <= C(7,2) rows per order, and n_orders / item_counts / pairs all
    # read the SAME grouped subtree (ReusedExchange) instead of
    # re-shuffling the distinct three ways.
    arr = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
    )
    n_orders = arr.agg(F.count("*").alias("n"))
    item_counts = (
        arr.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_item"))
    )
    pairs = (
        arr.filter(F.size("parts") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(parts, (x, i) -> "
                    "transform(slice(parts, i + 2, size(parts) - i - 1), "
                    "y -> struct(x AS part_a, y AS part_b))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.part_a").alias("part_a"), F.col("p.part_b").alias("part_b"))
        .agg(F.count("*").alias("n_pair"))
        .filter(F.col("n_pair") >= _BASKET_MIN_PAIRS)
    )
    ia = item_counts.alias("ia")
    ib = item_counts.alias("ib")
    out = (
        pairs.join(ia, F.col("part_a") == F.col("ia.l_partkey"))
        .join(ib, F.col("part_b") == F.col("ib.l_partkey"))
        .crossJoin(n_orders)
    )
    return out.select(
        "part_a", "part_b", "n_pair",
        (F.col("n_pair").cast("double") / F.col("n").cast("double")).alias(
            "support"
        ),
        (
            F.col("n_pair").cast("double") * F.col("n").cast("double")
            / (
                F.col("ia.n_item").cast("double")
                * F.col("ib.n_item").cast("double")
            )
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# N-way feed merge (union-agg instead of chained FULL OUTER)
# ---------------------------------------------------------------------------

_NWAY_ORACLE = """
WITH v AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_views
    FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
c AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_clicks
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
p AS (
    SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_purchases
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT COALESCE(v.user_id, c.user_id, p.user_id) AS user_id,
       COALESCE(v.day, c.day, p.day) AS day,
       COALESCE(n_views, 0) AS n_views,
       COALESCE(n_clicks, 0) AS n_clicks,
       COALESCE(n_purchases, 0) AS n_purchases
FROM v
FULL OUTER JOIN c ON v.user_id = c.user_id AND v.day = c.day
FULL OUTER JOIN p ON COALESCE(v.user_id, c.user_id) = p.user_id
                 AND COALESCE(v.day, c.day) = p.day
"""


@register(
    "join_n_way_merge",
    _NWAY_ORACLE,
    doc="N-way keyed feed merge: Spark computes it as ONE "
    "union-then-aggregate (each feed contributes its column, groupBy "
    "coalesces) — one shuffle total, where the naive chained FULL "
    "OUTER JOINs (the oracle's formulation, kept deliberately) cost "
    "N−1 shuffles and N−1 join states. The hash equality IS the "
    "rewrite's correctness proof; at 100 TB with a dozen feeds the "
    "union-agg is the difference between one pass and a join ladder.",
)
def join_n_way_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type"
    )
    tagged = ev.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id", "day",
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("v"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("p"),
    )
    return tagged.groupBy("user_id", "day").agg(
        F.sum("v").cast("long").alias("n_views"),
        F.sum("c").cast("long").alias("n_clicks"),
        F.sum("p").cast("long").alias("n_purchases"),
    )


# ---------------------------------------------------------------------------
# Intra-document paragraph dedup (boilerplate removal)
# ---------------------------------------------------------------------------

_PARA_ORACLE = """
WITH base AS (
    -- deterministic 'paragraphs': 8-word chunks of the text
    SELECT doc_id, str_split(text, ' ') AS toks FROM documents
),
idxed AS (
    SELECT doc_id, toks,
           unnest(range(0, CAST(ceil(len(toks) / 8.0) AS INT))) AS idx
    FROM base
),
paras AS (
    SELECT doc_id, idx,
           array_to_string(toks[(8 * idx + 1):(8 * idx + 8)], ' ') AS para
    FROM idxed
),
firsts AS (
    SELECT doc_id, para, MIN(idx) AS first_idx
    FROM paras GROUP BY doc_id, para
)
SELECT doc_id,
       array_to_string(list(para ORDER BY first_idx), ' ') AS dedup_text,
       COUNT(*) AS n_unique_paras
FROM firsts GROUP BY doc_id
"""


@register(
    "text_dedup_paragraphs",
    _PARA_ORACLE,
    doc="Intra-document paragraph dedup (boilerplate removal inside a "
    "page): chunk → keep first occurrence of each repeated chunk → "
    "reassemble in original order. posexplode + min-index groupBy + "
    "ordered re-concat; per-doc state is bounded by document length, "
    "the shuffle key is doc_id — embarrassingly parallel across a "
    "100 TB crawl. Chunks are fixed 8-word windows so both engines "
    "segment identically.",
)
def text_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(8.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
    )
    paras = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(chunks).alias("idx", "para"))
    )
    firsts = paras.groupBy("doc_id", "para").agg(
        F.min("idx").alias("first_idx")
    )
    return (
        firsts.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("first_idx", "para"))
                    ),
                    lambda s: s.getField("para"),
                ),
                " ",
            ).alias("dedup_text"),
            F.count("*").alias("n_unique_paras"),
        )
    )


# ---------------------------------------------------------------------------
# Shannon entropy per group (behavioral diversity signal)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS k
    FROM events GROUP BY user_id, event_type
),
tot AS (SELECT user_id, SUM(k) AS n FROM counts GROUP BY user_id),
terms AS (
    SELECT c.user_id,
           -- fixed-point-quantize EACH term before summing, so the
           -- float log's ulps can't make the sum order-dependent
           CAST(floor(-(CAST(k AS DOUBLE) / n) * log2(CAST(k AS DOUBLE) / n)
                      * 1e12 + 0.5) AS BIGINT) AS term_fp
    FROM counts c JOIN tot USING (user_id)
)
SELECT user_id,
       CAST(SUM(term_fp) AS DOUBLE) / 1e12 AS entropy_bits
FROM terms GROUP BY user_id
"""


@register(
    "agg_entropy",
    _ENTROPY_ORACLE,
    doc="Shannon entropy of each user's event-type mix — the "
    "behavioral-diversity signal (bots are low-entropy, explorers "
    "high). Each −p·log₂p term is fixed-point quantized BEFORE the "
    "sum, making the aggregation integer-exact and order-independent "
    "(float terms summed in shuffle order would be partitioning-"
    "dependent). Two group-cardinality aggregates, no window.",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = t(spark, sf_dir, "events").groupBy("user_id", "event_type").agg(
        F.count("*").alias("k")
    )
    tot = counts.groupBy("user_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n").cast("double")
    term_fp = F.floor(-p * F.log2(p) * F.lit(1e12) + F.lit(0.5)).cast("bigint")
    terms = counts.join(tot, "user_id").select(
        "user_id", term_fp.alias("term_fp")
    )
    return terms.groupBy("user_id").agg(
        (F.sum("term_fp").cast("double") / F.lit(1e12)).alias("entropy_bits")
    )


# ---------------------------------------------------------------------------
# Error-tolerant CSV ingestion (PERMISSIVE + corrupt-record column)
# ---------------------------------------------------------------------------

_PERMISSIVE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 0 THEN NULL ELSE n_chars END AS n_chars_parsed,
       lang,
       doc_id % 13 = 0 AS is_corrupt
FROM documents
"""


@register(
    "src_csv_permissive",
    _PERMISSIVE_ORACLE,
    doc="Error-tolerant CSV ingestion: a landing file with malformed "
    "numeric cells (synthesized on one row in 13) read in PERMISSIVE "
    "mode with columnNameOfCorruptRecord — bad cells null out and the "
    "raw line is preserved for the quarantine path instead of killing "
    "the load (FAILFAST's behavior, fatal at 100 TB) or silently "
    "vanishing (DROPMALFORMED's). The oracle reconstructs the "
    "expected null/corrupt pattern from the synthesis rule. Pairs "
    "with quality.py route_quarantine downstream.",
)
def src_csv_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from evolution_data_warehouse_spark.queries.relational import _scratch

    path = _scratch("src_csv_permissive", sf_dir)
    docs = t(spark, sf_dir, "documents")
    lines = docs.select(
        F.concat_ws(
            ",",
            F.col("doc_id").cast("string"),
            F.when(F.col("doc_id") % 13 == 0, F.lit("NOT_A_NUMBER"))
            .otherwise(F.col("n_chars").cast("string")),
            F.col("lang"),
        ).alias("value")
    )
    lines.write.mode("overwrite").text(path)
    raw = (
        spark.read.schema(
            "doc_id long, n_chars_parsed long, lang string, _bad string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .csv(path)
    )
    return raw.select(
        "doc_id", "n_chars_parsed", "lang",
        F.col("_bad").isNotNull().alias("is_corrupt"),
    )


# ---------------------------------------------------------------------------
# Temperature-flattened corpus mixing (α = 0.5)
# ---------------------------------------------------------------------------


def _tmix_oracle() -> str:
    from evolution_data_warehouse_spark.operators.datapipe import MIX_BUCKETS
    from evolution_data_warehouse_spark.queries.datapipe import _bucket_sql

    return f"""
WITH counts AS (
    SELECT lang, COUNT(*) AS n_g FROM documents GROUP BY lang
),
mn AS (SELECT MIN(n_g) AS n_min FROM counts),
thresh AS (
    SELECT lang,
           CAST(floor({MIX_BUCKETS} * sqrt(CAST(n_min AS DOUBLE)
                                           / CAST(n_g AS DOUBLE)))
                AS BIGINT) AS keep_under
    FROM counts, mn
)
SELECT d.doc_id, d.lang,
       {_bucket_sql('d.doc_id', MIX_BUCKETS)} AS mix_bucket,
       t.keep_under
FROM documents d JOIN thresh t ON d.lang = t.lang
WHERE {_bucket_sql('d.doc_id', MIX_BUCKETS)} < t.keep_under
"""


@register(
    "corpus_mix_temperature",
    _tmix_oracle(),
    doc="Temperature-flattened corpus mixing (α = 0.5): keep rates "
    "derived from the data itself — rate_g = √(n_min/n_g), so the "
    "smallest language keeps everything and kept sizes flatten to "
    "∝ √n_g, the standard multilingual rebalance. Two tiny "
    "aggregates (language cardinality + 1-row min) broadcast back; "
    "the keep decision stays the zero-shuffle md5-bucket projection "
    "of corpus_mix_sample. Thresholds are floor(MIX_BUCKETS·√ratio) "
    "computed with the IDENTICAL IEEE expression on both sides.",
)
def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.datapipe import (
        MIX_BUCKETS,
        hash_bucket,
    )

    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count("*").alias("n_g"))
    mn = counts.agg(F.min("n_g").alias("n_min"))
    thresh = counts.crossJoin(mn).select(
        "lang",
        F.floor(
            MIX_BUCKETS
            * F.sqrt(F.col("n_min").cast("double") / F.col("n_g").cast("double"))
        )
        .cast("bigint")
        .alias("keep_under"),
    )
    bucket = hash_bucket(F.col("doc_id"), MIX_BUCKETS)
    return (
        docs.join(F.broadcast(thresh), "lang")
        .withColumn("mix_bucket", bucket)
        .filter(F.col("mix_bucket") < F.col("keep_under"))
        .select("doc_id", "lang", "mix_bucket", "keep_under")
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel report
# ---------------------------------------------------------------------------


def _funnel_oracle() -> str:
    from evolution_data_warehouse_spark.operators import textops

    langs = sorted(textops.STOPWORDS)
    score_cols = ", ".join(
        "CAST(len(list_filter(str_split(lower(text), ' '), "
        f"x -> list_contains([{', '.join(repr(w) for w in textops.STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs)
    return f"""
WITH staged AS (
    SELECT doc_id, source, lang, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn,
           CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(str_split(lower(text), ' '),
                    x -> list_contains({_EN_STOPS_SQL_R6}, x))) AS BIGINT)
               AS stop_hits,
           {score_cols}
    FROM documents
),
flags AS (
    SELECT source,
           rn = 1 AS exact_survivor,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AS quality_pass,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AS lang_match,
           n_tokens
    FROM staged
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
           AS n_exact_unique,
       CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_quality_pass,
       CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT)
           AS n_final,
       CAST(SUM(CASE WHEN lang_match THEN n_tokens ELSE 0 END) AS BIGINT)
           AS n_tokens_final
FROM flags GROUP BY source
"""


_EN_STOPS_SQL_R6 = "['the','and','of','to','a']"


@register(
    "curation_funnel_report",
    _funnel_oracle(),
    doc="End-to-end curation funnel, the per-source report every "
    "corpus pipeline publishes: docs in → exact-dedup survivors "
    "(keep-lowest-id per content hash) → quality gate (length + "
    "stopword density, INTEGER cross-multiplied thresholds so no "
    "float boundary exists) → language-consistency gate (stopword "
    "argmax == label) → surviving token mass. One content-hash window "
    "+ one source-grain aggregate; every stage is a column flag on "
    "the same scan, so the funnel costs one pass however many gates "
    "it grows.",
)
def curation_funnel_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from evolution_data_warehouse_spark.operators import textops

    docs = t(spark, sf_dir, "documents")
    w = W.partitionBy(F.md5("text")).orderBy("doc_id")
    scores = textops.lang_scores(F.col("text"))
    staged = docs.select(
        "source", "lang",
        F.row_number().over(w).alias("rn"),
        F.size(textops.tokens_ws(F.col("text"))).cast("bigint").alias(
            "n_tokens"
        ),
        textops.stopword_hits(F.col("text"), textops.STOPWORDS["en"])
        .cast("bigint")
        .alias("stop_hits"),
        textops.predict_lang(scores).alias("pred_lang"),
    )
    exact = F.col("rn") == 1
    quality = (
        exact & (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
    )
    final = quality & (F.col("pred_lang") == F.col("lang"))
    return staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact_unique"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
        F.sum(final.cast("int")).cast("bigint").alias("n_final"),
        F.sum(F.when(final, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_final"),
    )


# ---------------------------------------------------------------------------
# Fuzzy-name entity resolution (blocked Levenshtein)
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH recs AS (
    SELECT c_custkey * 2 AS rec_id, c_name AS name FROM customer
    UNION ALL
    SELECT c_custkey * 2 + 1 AS rec_id,
           CASE c_custkey % 3
               WHEN 0 THEN substr(c_name, 1, length(c_name) - 1) || 'X'
               WHEN 1 THEN substr(c_name, 1, length(c_name) - 1)
               ELSE c_name || '2'
           END AS name
    FROM customer
),
blocked AS (
    SELECT rec_id, name, substr(name, 1, 17) AS block_key FROM recs
)
SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
       a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_dist
FROM blocked a JOIN blocked b
  ON a.block_key = b.block_key AND a.rec_id < b.rec_id
WHERE levenshtein(a.name, b.name) <= 1
"""


@register(
    "dedup_fuzzy_names",
    _FUZZY_ORACLE,
    doc="Fuzzy-name entity resolution (the MDM/customer-dedup "
    "primitive): a dirty registry of clean + typo'd records, blocked "
    "on a name prefix so the Levenshtein comparison runs only within "
    "blocks — candidate pairs scale with block size², never registry² "
    "(the same bounded-bucket discipline as LSH banding). Edit "
    "distance is built-in (JVM levenshtein on both engines, exact "
    "integers).",
)
def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    clean = cust.select(
        (F.col("c_custkey") * 2).alias("rec_id"), F.col("c_name").alias("name")
    )
    variant_name = (
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.expr("substr(c_name, 1, length(c_name) - 1)"), F.lit("X")
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.expr("substr(c_name, 1, length(c_name) - 1)"),
        )
        .otherwise(F.concat(F.col("c_name"), F.lit("2")))
    )
    dirty = cust.select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        variant_name.alias("name"),
    )
    recs = clean.unionByName(dirty).withColumn(
        "block_key", F.substring("name", 1, 17)
    )
    a, b = recs.alias("a"), recs.alias("b")
    lev = F.levenshtein(F.col("a.name"), F.col("b.name"))
    return (
        a.join(
            b,
            (F.col("a.block_key") == F.col("b.block_key"))
            & (F.col("a.rec_id") < F.col("b.rec_id")),
        )
        .filter(lev <= 1)
        .select(
            F.col("a.rec_id").alias("rec_a"),
            F.col("b.rec_id").alias("rec_b"),
            F.col("a.name").alias("name_a"),
            F.col("b.name").alias("name_b"),
            lev.cast("int").alias("edit_dist"),
        )
    )


# ---------------------------------------------------------------------------
# Time-series gap detection (SLA / outage audit)
# ---------------------------------------------------------------------------

_GAP_MINUTES = 360  # 6 hours

_GAP_ORACLE = f"""
WITH seq AS (
    SELECT user_id, ts, event_id,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_ts
    FROM events
)
SELECT user_id,
       ts AS gap_start,
       next_ts AS gap_end,
       (epoch_us(next_ts) - epoch_us(ts)) // 60000000 AS gap_minutes
FROM seq
WHERE next_ts IS NOT NULL
  AND epoch_us(next_ts) - epoch_us(ts) > CAST({_GAP_MINUTES} AS BIGINT) * 60000000
"""


@register(
    "ts_gap_detection",
    _GAP_ORACLE,
    doc="Silence/outage detection: per-user gaps longer than 6 hours "
    "between consecutive events, as (start, end, minutes) intervals — "
    "the monitoring primitive for feeds that should never go quiet. "
    "One lead() pass over the user partitioning; gap length in exact "
    "integer epoch-µs arithmetic (floor minutes).",
)
def ts_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.lead("ts").over(w).alias("next_ts"),
    )
    span_us = F.unix_micros("next_ts") - F.unix_micros("ts")
    return (
        seq.filter(
            F.col("next_ts").isNotNull()
            & (span_us > _GAP_MINUTES * 60_000_000)
        )
        .select(
            "user_id",
            F.col("ts").alias("gap_start"),
            F.col("next_ts").alias("gap_end"),
            F.expr(
                "(unix_micros(next_ts) - unix_micros(ts)) div 60000000"
            ).alias("gap_minutes"),
        )
    )


# ---------------------------------------------------------------------------
# Column-level drift between snapshots
# ---------------------------------------------------------------------------

_COLDRIFT_ORACLE = """
WITH old AS (
    SELECT o_orderkey,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
           o_orderstatus, o_orderpriority
    FROM orders
),
new AS (
    SELECT o_orderkey,
           cents + CASE WHEN o_orderkey % 5 = 0 THEN 100 ELSE 0 END AS cents,
           CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
           o_orderpriority
    FROM old
),
joined AS (
    SELECT o.cents AS c_old, n.cents AS c_new,
           o.o_orderstatus AS s_old, n.o_orderstatus AS s_new,
           o.o_orderpriority AS p_old, n.o_orderpriority AS p_new
    FROM old o JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT col_name, n_changed, n_rows FROM (
    SELECT 'cents' AS col_name,
           CAST(SUM(CASE WHEN c_old <> c_new THEN 1 ELSE 0 END) AS BIGINT)
               AS n_changed,
           COUNT(*) AS n_rows
    FROM joined
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(SUM(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*)
    FROM joined
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(SUM(CASE WHEN p_old <> p_new THEN 1 ELSE 0 END) AS BIGINT),
           COUNT(*)
    FROM joined
)
"""


@register(
    "snapshot_column_drift",
    _COLDRIFT_ORACLE,
    doc="Column-level drift between snapshots — the WHICH-column "
    "companion to snapshot_table_diff's row-level WHAT: per column, "
    "how many common-key rows changed. One join + one aggregate with "
    "a conditional sum per column (all columns audited in a single "
    "pass — the per-column-join formulation would cost C shuffles); "
    "doubles compared as exact integer cents.",
)
def snapshot_column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    old = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        "o_orderstatus", "o_orderpriority",
    )
    new = old.select(
        "o_orderkey",
        (
            F.col("cents")
            + F.when(F.col("o_orderkey") % 5 == 0, 100).otherwise(0)
        ).alias("cents"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_orderpriority",
    )
    o, n = old.alias("o"), new.alias("n")
    joined = o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"))
    pairs = [
        ("cents", "o.cents", "n.cents"),
        ("o_orderstatus", "o.o_orderstatus", "n.o_orderstatus"),
        ("o_orderpriority", "o.o_orderpriority", "n.o_orderpriority"),
    ]
    agg = joined.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.when(F.col(a) != F.col(b), 1).otherwise(0))
            .cast("bigint")
            .alias(f"chg_{name}")
            for name, a, b in pairs
        ],
    )
    stack_expr = ", ".join(f"'{name}', chg_{name}" for name, _, _ in pairs)
    return agg.selectExpr(
        f"stack({len(pairs)}, {stack_expr}) AS (col_name, n_changed)",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# Engagement stickiness (DAU / WAU)
# ---------------------------------------------------------------------------

_STICKY_ORACLE = f"""
WITH day_users AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (SELECT day, COUNT(*) AS dau FROM day_users GROUP BY day),
spread AS (
    SELECT day + CAST(unnest(range(0, 7)) AS INT) AS wday, user_id FROM day_users
),
wau AS (
    SELECT wday AS day, COUNT(DISTINCT user_id) AS wau
    FROM spread GROUP BY wday
)
SELECT d.day, d.dau, w.wau,
       {fpq_sql('CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)')}
           AS stickiness
FROM dau d JOIN wau w ON d.day = w.day
"""


@register(
    "event_stickiness",
    _STICKY_ORACLE,
    doc="DAU/WAU stickiness per day: the engagement ratio computed by "
    "SPREADING each (user, day) over the 7 trailing windows it "
    "belongs to — a 7× row expansion of the user-day grain, then two "
    "hash aggregates — instead of a per-day distinct re-scan of the "
    "week (O(days·events), the trap). Days trailing past the data's "
    "edge drop out via the inner join. Counts exact, ratio "
    "fixed-point quantized.",
)
def event_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    day_users = (
        t(spark, sf_dir, "events")
        .select(F.to_date("ts").alias("day"), "user_id")
        .distinct()
    )
    dau = day_users.groupBy("day").agg(F.count("*").alias("dau"))
    spread = day_users.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day", "user_id",
    ).select(F.date_add("day", F.col("i")).alias("day"), "user_id")
    wau = spread.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    return dau.join(wau, "day").select(
        "day", "dau", "wau",
        fpq(F.col("dau").cast("double") / F.col("wau").cast("double")).alias(
            "stickiness"
        ),
    )


# ---------------------------------------------------------------------------
# Concurrency sweep-line (max concurrent sessions)
# ---------------------------------------------------------------------------

_SWEEP_ORACLE = """
WITH intervals AS (
    -- CAST(ts AS TIMESTAMP): pin to µs precision so the sweep ordering is
    -- identical whether the driver's DuckDB reads parquet TIMESTAMP(NANOS)
    -- as TIMESTAMP_NS (>=1.1) or truncates like Spark does.
    SELECT event_id, CAST(ts AS TIMESTAMP) AS start_ts,
           -- floor, not CAST: CAST rounds half-even while Spark floors
           CAST(ts AS TIMESTAMP) + CAST(floor(greatest(value, 1.0) * 60) AS BIGINT)
               * INTERVAL 1 SECOND AS end_ts
    FROM events WHERE event_type = 'view'
),
pts AS (
    SELECT start_ts AS at_ts, 1 AS delta, event_id FROM intervals
    UNION ALL
    SELECT end_ts, -1, event_id FROM intervals
),
swept AS (
    SELECT at_ts, delta,
           SUM(delta) OVER (
               ORDER BY at_ts, delta, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS concurrent
    FROM pts
)
SELECT CAST(date_trunc('hour', at_ts) AS TIMESTAMP) AS hour,
       CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
FROM swept GROUP BY 1
"""


@register(
    "ts_concurrency_sweep",
    _SWEEP_ORACLE,
    doc="Peak concurrency via sweep-line: every interval contributes "
    "+1 at start and −1 at end, a running sum over the merged event "
    "points gives instantaneous concurrency, max per hour gives the "
    "capacity-planning curve. O(n log n) in ONE window pass — the "
    "naive per-timestamp interval-containment join is O(n²) and the "
    "classic scale killer. Ends tie-break BEFORE starts at the same "
    "instant (delta asc) so touching intervals don't double-count; "
    "interval length derived deterministically from the value column.",
)
def ts_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    iv = (
        t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select(
            "event_id",
            F.col("ts").alias("start_ts"),
            (
                F.col("ts")
                + F.make_dt_interval(
                    secs=F.floor(F.greatest("value", F.lit(1.0)) * 60).cast(
                        "bigint"
                    )
                )
            ).alias("end_ts"),
        )
    )
    pts = iv.select(
        F.col("start_ts").alias("at_ts"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(
            F.col("end_ts").alias("at_ts"), F.lit(-1).alias("delta"), "event_id"
        )
    )
    w = W.orderBy("at_ts", "delta", "event_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    swept = pts.select(
        "at_ts", F.sum("delta").over(w).alias("concurrent")
    )
    return swept.groupBy(
        F.date_trunc("hour", "at_ts").alias("hour")
    ).agg(F.max("concurrent").cast("long").alias("peak_concurrent"))


# ---------------------------------------------------------------------------
# Drill-across (multi-fact report through conformed dimensions)
# ---------------------------------------------------------------------------

_DRILL_ORACLE = f"""
WITH li_rev AS (
    SELECT s_nationkey AS nationkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)', 4)} AS supply_revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey
),
ord_rev AS (
    SELECT c_nationkey AS nationkey,
           {dsum_sql('o_totalprice')} AS order_revenue
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
)
SELECT n_name,
       COALESCE(supply_revenue, 0.0) AS supply_revenue,
       COALESCE(order_revenue, 0.0) AS order_revenue
FROM nation
LEFT JOIN li_rev ON n_nationkey = li_rev.nationkey
LEFT JOIN ord_rev ON n_nationkey = ord_rev.nationkey
"""


@register(
    "join_drill_across",
    _DRILL_ORACLE,
    doc="Drill-across: two FACTS (lineitem supply revenue, orders "
    "revenue) reported side by side at the conformed nation grain — "
    "each fact aggregates to the grain FIRST, then the dimension-"
    "cardinality results join (the Kimball rule; a direct fact×fact "
    "join would explode multiplicatively and is never needed). Two "
    "independent partial+final aggregates + two broadcast-sized "
    "joins; decimal-exact sums.",
)
def join_drill_across(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    sup = t(spark, sf_dir, "supplier")
    li_rev = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("supply_revenue")
        )
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    ord_rev = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(dsum("o_totalprice").alias("order_revenue"))
    )
    nation = t(spark, sf_dir, "nation")
    return (
        nation.join(
            F.broadcast(li_rev), nation.n_nationkey == li_rev.nationkey, "left"
        )
        .join(
            F.broadcast(ord_rev),
            nation.n_nationkey == ord_rev.nationkey,
            "left",
        )
        .select(
            "n_name",
            F.coalesce("supply_revenue", F.lit(0.0)).alias("supply_revenue"),
            F.coalesce("order_revenue", F.lit(0.0)).alias("order_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic UUID derivation (v5-shaped surrogate identifiers)
# ---------------------------------------------------------------------------

_UUID_ORACLE = """
WITH h AS (
    SELECT doc_id, md5('evdw:doc:' || doc_id) AS hx FROM documents
)
SELECT doc_id,
       substr(hx, 1, 8) || '-' || substr(hx, 9, 4) || '-'
       || '5' || substr(hx, 14, 3) || '-'
       || '8' || substr(hx, 18, 3) || '-' || substr(hx, 21, 12) AS doc_uuid
FROM h
"""


@register(
    "fn_uuid_from_hash",
    _UUID_ORACLE,
    doc="Deterministic name-based UUIDs (v5-shaped: version nibble 5, "
    "RFC variant nibble 8) from a namespaced md5 — the surrogate "
    "identifier pattern for cross-system record linkage where "
    "uuid()'s randomness would break idempotent re-runs (the same "
    "reason the split/sample operators use md5 buckets, never rand).",
)
def fn_uuid_from_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    hx = F.md5(F.concat(F.lit("evdw:doc:"), F.col("doc_id").cast("string")))
    d = t(spark, sf_dir, "documents").select("doc_id", hx.alias("hx"))
    return d.select(
        "doc_id",
        F.concat(
            F.substring("hx", 1, 8), F.lit("-"),
            F.substring("hx", 9, 4), F.lit("-"),
            F.lit("5"), F.substring("hx", 14, 3), F.lit("-"),
            F.lit("8"), F.substring("hx", 18, 3), F.lit("-"),
            F.substring("hx", 21, 12),
        ).alias("doc_uuid"),
    )


# ---------------------------------------------------------------------------
# Monthly churn (active in M, absent in M+1)
# ---------------------------------------------------------------------------

_CHURN_ORACLE = """
WITH mu AS (
    SELECT DISTINCT date_trunc('month', ts) AS month, user_id FROM events
),
months AS (SELECT DISTINCT month FROM mu),
churned AS (
    SELECT a.month, COUNT(*) AS n_churned
    FROM mu a
    WHERE NOT EXISTS (
        SELECT 1 FROM mu b
        WHERE b.user_id = a.user_id
          AND b.month = a.month + INTERVAL 1 MONTH
    )
    AND EXISTS (SELECT 1 FROM months m
                WHERE m.month = a.month + INTERVAL 1 MONTH)
    GROUP BY a.month
),
active AS (SELECT month, COUNT(*) AS n_active FROM mu GROUP BY month)
SELECT CAST(a.month AS TIMESTAMP) AS month, a.n_active,
       COALESCE(c.n_churned, 0) AS n_churned
FROM active a
LEFT JOIN churned c ON a.month = c.month
WHERE EXISTS (SELECT 1 FROM months m
              WHERE m.month = a.month + INTERVAL 1 MONTH)
"""


@register(
    "event_churn_monthly",
    _CHURN_ORACLE,
    doc="Monthly churn: users active in month M with no activity in "
    "M+1, reported beside the month's active count (the retention "
    "complement of cohort_retention). Computed at the month-user "
    "grain — one distinct, one self-anti-join on (user, next month) — "
    "never a raw-event comparison; the final data month is excluded "
    "(churn there is undefined, not zero).",
)
def event_churn_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    mu = (
        t(spark, sf_dir, "events")
        .select(F.date_trunc("month", "ts").alias("month"), "user_id")
        .distinct()
    )
    months = mu.select("month").distinct()
    nxt = mu.select(
        F.add_months(F.col("month"), -1).alias("month"),
        F.col("user_id").alias("u2"),
    )
    churned = (
        mu.join(
            nxt,
            (mu.month == nxt.month) & (mu.user_id == nxt.u2),
            "left_anti",
        )
        .groupBy("month")
        .agg(F.count("*").alias("n_churned"))
    )
    active = mu.groupBy("month").agg(F.count("*").alias("n_active"))
    has_next = months.alias("m1").join(
        months.select(F.add_months("month", -1).alias("month")).alias("m2"),
        "month",
        "left_semi",
    )
    return (
        active.join(has_next, "month", "left_semi")
        .join(churned, "month", "left")
        .select(
            "month", "n_active",
            F.coalesce("n_churned", F.lit(0)).cast("long").alias("n_churned"),
        )
    )


# ---------------------------------------------------------------------------
# Transition latency (inter-event time per transition type)
# ---------------------------------------------------------------------------

_TRANS_LAT_ORACLE = f"""
WITH seq AS (
    SELECT user_id, event_type AS prev_type, ts,
           lead(event_type) OVER w AS next_type,
           lead(ts) OVER w AS next_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
lat AS (
    SELECT prev_type, next_type,
           (epoch_us(next_ts) - epoch_us(ts)) / 1000000.0 AS secs
    FROM seq WHERE next_type IS NOT NULL
)
SELECT prev_type, next_type, COUNT(*) AS n,
       {fpq_sql('quantile_cont(secs, 0.5)')} AS median_secs,
       {fpq_sql('quantile_cont(secs, 0.9)')} AS p90_secs
FROM lat GROUP BY prev_type, next_type
"""


@register(
    "event_transition_latency",
    _TRANS_LAT_ORACLE,
    doc="Inter-event latency per transition type (how long from view "
    "to click?): the timing companion to event_transition_matrix. One "
    "lead() pass over the user partitioning, then exact interpolated "
    "percentiles per transition pair, fixed-point quantized; seconds "
    "derive from integer epoch-µs divided once.",
)
def event_transition_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = t(spark, sf_dir, "events").select(
        F.col("event_type").alias("prev_type"),
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    secs = (
        (F.unix_micros("next_ts") - F.unix_micros("ts")) / F.lit(1000000.0)
    )
    lat = seq.filter(F.col("next_type").isNotNull()).select(
        "prev_type", "next_type", secs.alias("secs")
    )
    return lat.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n"),
        fpq(F.percentile("secs", F.lit(0.5))).alias("median_secs"),
        fpq(F.percentile("secs", F.lit(0.9))).alias("p90_secs"),
    )


# ---------------------------------------------------------------------------
# Per-document keyword extraction (tf-idf top-k)
# ---------------------------------------------------------------------------

_KEYWORDS_ORACLE = """
WITH toks AS (
    SELECT doc_id, unnest(list_distinct(str_split(lower(text), ' '))) AS term
    FROM documents
),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
df AS (SELECT term, COUNT(*) AS n_df FROM toks GROUP BY term),
tf AS (
    SELECT doc_id, term, COUNT(*) AS n_tf FROM (
        SELECT doc_id, unnest(str_split(lower(text), ' ')) AS term
        FROM documents
    ) GROUP BY doc_id, term
),
scored AS (
    SELECT tf.doc_id, tf.term,
           -- integer-exact score surrogate: tf × floor(1e6 · n/df)
           n_tf * CAST(floor(1000000.0 * n.n / d.n_df) AS BIGINT) AS score
    FROM tf JOIN df d ON tf.term = d.term CROSS JOIN n_docs n
),
ranked AS (
    SELECT doc_id, term, score, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term
    ) AS rk
    FROM scored
)
SELECT doc_id, term, score, rk FROM ranked WHERE rk <= 3
"""


@register(
    "text_keywords_topk",
    _KEYWORDS_ORACLE,
    doc="Per-document keyword extraction: top-3 terms by a tf·idf "
    "surrogate kept INTEGER end-to-end (tf × floor(1e6·N/df)) so "
    "ranking has no float boundary; ties break on the term. The idf "
    "join is vocabulary-sized, the rank filter compiles to "
    "WindowGroupLimit (partial top-3 map-side) — the RAG metadata "
    "tagger that runs beside chunking.",
)
def text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("n_tf"))
    df_ = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("n_df")
    )
    n_docs = docs.agg(F.count("*").alias("n"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(n_docs)
        .select(
            "doc_id", "term",
            (
                F.col("n_tf")
                * F.floor(
                    F.lit(1000000.0) * F.col("n") / F.col("n_df")
                ).cast("bigint")
            ).alias("score"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Pareto concentration curve (top-decile revenue share)
# ---------------------------------------------------------------------------

_PARETO_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, cents,
           ntile(10) OVER (ORDER BY cents DESC, o_custkey) AS decile
    FROM per_cust
),
tot AS (SELECT SUM(cents) AS total FROM per_cust)
SELECT decile,
       COUNT(*) AS n_customers,
       CAST(SUM(cents) AS DOUBLE) / CAST(t.total AS DOUBLE) AS revenue_share,
       CAST(SUM(SUM(cents)) OVER (
           ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / CAST(t.total AS DOUBLE) AS cum_share
FROM ranked, tot t
GROUP BY decile, t.total
"""


@register(
    "agg_pareto_deciles",
    _PARETO_ORACLE,
    doc="Pareto concentration curve: customers ranked into revenue "
    "deciles (tie-broken ntile), per-decile and cumulative revenue "
    "share — the 80/20 audit. Revenue is exact integer cents end to "
    "end; the only doubles are two single divisions by the 1-row "
    "total. Customer-cardinality sort, 10-row output.",
)
def agg_pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    per_cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("cents"))
    )
    ranked = per_cust.select(
        "o_custkey", "cents",
        F.ntile(10).over(W.orderBy(F.desc("cents"), F.asc("o_custkey"))).alias(
            "decile"
        ),
    )
    tot = per_cust.agg(F.sum("cents").alias("total"))
    by_decile = ranked.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("dec_cents"),
    )
    wc = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return (
        by_decile.crossJoin(tot)
        .select(
            "decile", "n_customers",
            (F.col("dec_cents").cast("double") / F.col("total").cast("double"))
            .alias("revenue_share"),
            (
                F.sum("dec_cents").over(wc).cast("double")
                / F.col("total").cast("double")
            ).alias("cum_share"),
        )
    )
