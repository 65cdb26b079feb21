"""Round-7 query batch: corpus statistics, graph analytics over
co-purchase structure, time-series diagnostics, and data-ops reports.

Same contract as every other registry module: each query is a Spark
callable plus a DuckDB oracle, aliased identically on both sides, with
the repo determinism rules (dsum/davg decimal sums, per-term fixed-
point quantization before any float aggregation, single-division
doubles, tie-broken top-N, no native round()).

These extend the engine's analytics surface beyond the reference's
inventory (SURVEY.md §2 is complete as of r6); they are the shapes a
large-scale curation/BI deployment asks for next: vocabulary richness
(hapax), distribution drift between corpus splits, PII scanning,
calendar-correct YoY, behavioral path mining, graph structure
(triangles/degrees), autocorrelation, skew observability, weekday
bitmaps, and categorical association (Cramér's V).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.queries.common import (
    davg_sql,
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)

# ---------------------------------------------------------------------------
# Vocabulary richness: hapax legomena ratio per language
# ---------------------------------------------------------------------------

_HAPAX_ORACLE = """
WITH toks AS (
    SELECT lang, unnest(str_split(lower(text), ' ')) AS tok FROM documents
),
tc AS (
    SELECT lang, tok, COUNT(*) AS k
    FROM toks WHERE tok <> '' GROUP BY lang, tok
)
SELECT lang,
       COUNT(*) AS vocab,
       CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
FROM tc GROUP BY lang
"""


@register(
    "text_hapax_ratio",
    _HAPAX_ORACLE,
    doc="Hapax legomena ratio per language — the vocabulary-richness "
    "signal (template/boilerplate corpora have low hapax share, "
    "organic text high). Two hash aggregates over the token relation, "
    "map-side combinable; integer counts with ONE final division — "
    "nothing order-dependent. At 100 TB the (lang, tok) aggregate "
    "shuffles vocabulary-cardinality rows, not corpus-cardinality.",
)
def text_hapax_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("lang", "tok").agg(F.count("*").alias("k"))
    hapax = F.sum(F.when(F.col("k") == 1, 1).otherwise(0))
    return tc.groupBy("lang").agg(
        F.count("*").alias("vocab"),
        hapax.alias("hapax"),
        (hapax.cast("double") / F.count("*").cast("double")).alias(
            "hapax_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# Token-distribution drift between two corpus halves (exact L1)
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH toks AS (
    SELECT doc_id % 2 AS half, unnest(str_split(lower(text), ' ')) AS tok
    FROM documents
),
tc AS (
    SELECT tok,
           SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS c0,
           SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS c1
    FROM toks WHERE tok <> '' GROUP BY tok
),
tot AS (SELECT CAST(SUM(c0) AS BIGINT) AS t0,
               CAST(SUM(c1) AS BIGINT) AS t1 FROM tc)
SELECT t0, t1,
       COUNT(*) AS vocab,
       CAST(SUM(abs(c0 * t1 - c1 * t0)) AS DOUBLE)
       / CAST(t0 * t1 AS DOUBLE) AS l1_distance
FROM tc, tot
GROUP BY t0, t1
"""


@register(
    "corpus_token_drift",
    _DRIFT_ORACLE,
    doc="Exact L1 (total-variation x2) distance between the token "
    "distributions of two corpus halves (doc_id parity) — the "
    "distribution-drift check run between crawl snapshots before "
    "mixing them into a training set. Computed in exact integer "
    "arithmetic: sum |c0*T1 - c1*T0| as BIGINT with ONE final "
    "division by T0*T1, so no float accumulation anywhere. The "
    "1-row totals broadcast; the token aggregate is vocabulary-"
    "sized. (counts ~1e7 x totals ~1e9 stays under 2^63 at 100 TB "
    "per-shard; shard-then-merge for a global number.)",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        (F.col("doc_id") % 2).alias("half"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
    )
    tot = tc.agg(
        F.sum("c0").alias("t0"), F.sum("c1").alias("t1")
    )
    return (
        tc.crossJoin(tot)
        .groupBy("t0", "t1")
        .agg(
            F.count("*").alias("vocab"),
            (
                F.sum(
                    F.abs(F.col("c0") * F.col("t1") - F.col("c1") * F.col("t0"))
                ).cast("double")
                / (F.col("t0") * F.col("t1")).cast("double")
            ).alias("l1_distance"),
        )
        .select("t0", "t1", "vocab", "l1_distance")
    )


# ---------------------------------------------------------------------------
# PII scan report (email / IPv4 / long digit runs) per source
# ---------------------------------------------------------------------------

_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
_DIGITRUN_RE = "[0-9]{10,}"

# Deterministic PII fixture: the synthetic corpus has no organic PII,
# so salt a known subset of docs with synthesized markers — the scan
# then has non-trivial positives to count and both engines build the
# identical input.
_PII_TEXT_SQL = """
    lower(text) || CASE
        WHEN doc_id % 11 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                  || '@example.com now'
        WHEN doc_id % 13 = 0 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                                  || '.7 up'
        WHEN doc_id % 17 = 0 THEN ' card 4111111111111111 on file'
        ELSE ''
    END
"""

_PII_ORACLE = f"""
WITH d AS (
    SELECT source, {_PII_TEXT_SQL} AS body FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN regexp_matches(body, '{_EMAIL_RE}') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_email,
       CAST(SUM(CASE WHEN regexp_matches(body, '{_IPV4_RE}') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_ipv4,
       CAST(SUM(CASE WHEN regexp_matches(body, '{_DIGITRUN_RE}') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_digitrun
FROM d GROUP BY source
"""


@register(
    "pii_scan_report",
    _PII_ORACLE,
    doc="PII surface scan per source: documents containing email-, "
    "IPv4-, and long-digit-run-shaped spans (the triage report run "
    "before a corpus ships; complements pii_luhn_cards' checksum "
    "validation). rlike predicates compile into the scan stage — one "
    "pass, no UDFs; counts are integers. Patterns chosen to behave "
    "identically under Java regex (Spark) and RE2 (DuckDB): character "
    "classes and bounded repetition only, no backrefs/lookaround.",
)
def pii_scan_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    body = F.concat(
        F.lower("text"),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.lit(" host 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".7 up"),
            ),
        )
        .when(F.col("doc_id") % 17 == 0, F.lit(" card 4111111111111111 on file"))
        .otherwise(F.lit("")),
    )
    d = t(spark, sf_dir, "documents").select("source", body.alias("body"))

    def cnt(pat: str, name: str) -> Column:
        return F.sum(
            F.when(F.col("body").rlike(pat), 1).otherwise(0)
        ).alias(name)

    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        cnt(_EMAIL_RE, "n_email"),
        cnt(_IPV4_RE, "n_ipv4"),
        cnt(_DIGITRUN_RE, "n_digitrun"),
    )


# ---------------------------------------------------------------------------
# Calendar-correct year-over-year growth
# ---------------------------------------------------------------------------

_YOY_ORACLE = f"""
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders GROUP BY date_trunc('month', o_orderdate)
)
SELECT cur.month, cur.revenue,
       prev.revenue AS revenue_prior_year,
       (cur.revenue - prev.revenue) / prev.revenue AS yoy_growth
FROM m cur LEFT JOIN m prev
  ON prev.month = cur.month - INTERVAL 12 MONTH
"""


@register(
    "win_yoy_growth",
    _YOY_ORACLE,
    doc="Calendar-correct year-over-year revenue growth: monthly "
    "decimal-exact revenue self-joined on month-minus-12-months — NOT "
    "lag(12), which silently compares against the wrong month when a "
    "month is missing. The monthly aggregate is tiny (months x 1 row), "
    "so the self-join broadcasts; growth is one subtraction and one "
    "division of identical decimal-summed operands.",
)
def win_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(dsum("o_totalprice").alias("revenue"))
    )
    cur, prev = m.alias("cur"), m.alias("prev")
    return (
        cur.join(
            prev,
            F.col("prev.month") == F.add_months(F.col("cur.month"), -12),
            "left",
        )
        .select(
            F.col("cur.month").alias("month"),
            F.col("cur.revenue").alias("revenue"),
            F.col("prev.revenue").alias("revenue_prior_year"),
            (
                (F.col("cur.revenue") - F.col("prev.revenue"))
                / F.col("prev.revenue")
            ).alias("yoy_growth"),
        )
    )


# ---------------------------------------------------------------------------
# Behavioral path mining: top first-3-event paths per user-day
# ---------------------------------------------------------------------------

_PATHS_ORACLE = """
WITH ranked AS (
    SELECT user_id, CAST(ts AS DATE) AS day, event_type,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(ts AS DATE)
               ORDER BY ts, event_id
           ) AS rn
    FROM events
),
paths AS (
    SELECT user_id, day,
           MAX(CASE WHEN rn = 1 THEN event_type END) || '>' ||
           MAX(CASE WHEN rn = 2 THEN event_type END) || '>' ||
           MAX(CASE WHEN rn = 3 THEN event_type END) AS path
    FROM ranked WHERE rn <= 3
    GROUP BY user_id, day
    HAVING COUNT(*) >= 3
)
SELECT path, COUNT(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


@register(
    "seq_top_paths",
    _PATHS_ORACLE,
    doc="Top-20 opening event paths (first 3 events per user-day, "
    "tie-broken by event_id) — the sequence-mining primitive behind "
    "onboarding/funnel design. The per-group ordering is a window "
    "ranked within (user, day) partitions; the path string is built "
    "with positional conditional MAXes (exact, no ordered collect), "
    "and the final top-N is fully tie-broken (count desc, path) so "
    "LIMIT is deterministic. Compiles to WindowGroupLimit-friendly "
    "shapes; the heavy shuffle is user-day cardinality, not events.",
)
def seq_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    ranked = ev.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 3
    )

    def step(i: int) -> Column:
        return F.max(F.when(F.col("rn") == i, F.col("event_type")))

    paths = (
        ranked.groupBy("user_id", "day")
        .agg(
            step(1).alias("s1"),
            step(2).alias("s2"),
            step(3).alias("s3"),
            F.count("*").alias("n"),
        )
        .filter(F.col("n") >= 3)
        .select(
            F.concat_ws(">", "s1", "s2", "s3").alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Graph analytics over the co-purchase structure
# ---------------------------------------------------------------------------

_MIN_EDGE_SUPPORT = 2

# Shared edge CTE: parts co-occurring in >= MIN_EDGE_SUPPORT orders,
# oriented a < b. The within-order pair fan-out is bounded by basket
# size (TPC-H <= 7 lines/order); the support threshold prunes the edge
# set before any further self-join.
_EDGES_SQL = f"""
items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
)
"""

_TRIANGLE_ORACLE = f"""
WITH {_EDGES_SQL}
SELECT COUNT(*) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e2.pa = e1.pb
JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairs come from one collect_set per order + an array pair
    # expression, NOT a self-join: baskets are tiny (TPC-H <= 7
    # lines/order) so the per-order pair fan-out is <= C(7,2)=21, and
    # this shape needs 2 shuffles (groupBy orderkey, groupBy pair)
    # instead of the 3-4 of distinct + sort-merge self-join + pair agg.
    # A/B at sf1 (r14): 8.6 s -> 4.3 s for the edge build alone,
    # identical output (exceptAll both ways = 0).  At 100 TB the wins
    # compound: no 6M x 6M join, and the only wide ops key on
    # high-cardinality orderkey / pair — no skew.
    baskets = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                "y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _MIN_EDGE_SUPPORT)
    )


@register(
    "graph_copurchase_triangles",
    _TRIANGLE_ORACLE,
    doc="Triangle count in the co-purchase graph (parts co-ordered in "
    ">= 2 orders) — the clustering-structure signal for recommender / "
    "community work. Degree-ordered enumeration (the standard "
    "compact-forward algorithm): every edge is re-oriented from its "
    "lower-(degree, id) endpoint to its higher one, then triangles "
    "are wedges d1(u,v) ⋈ d2(v,w) closed by d3(u,w). The total order "
    "counts each triangle exactly once — identical to id-ordered "
    "enumeration (the oracle's formulation) — while capping the "
    "wedge fan-out by out-degree ≤ O(sqrt(m)) instead of max raw "
    "degree (2.7x measured at sf1). Basket size bounds the "
    "within-order pair fan-out and the support threshold prunes the "
    "edge set before any triangle join.",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir).select("pa", "pb")
    nodes = e.select(F.col("pa").alias("node")).unionAll(
        e.select(F.col("pb").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("d"))
    ed = e.join(
        deg.withColumnRenamed("node", "pa").withColumnRenamed("d", "da"), "pa"
    ).join(
        deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db"), "pb"
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    d = (
        ed.select(
            F.when(lt, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(lt, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    d1, d2, d3 = d.alias("d1"), d.alias("d2"), d.alias("d3")
    tri = (
        d1.join(d2, F.col("d2.u") == F.col("d1.v"))
        .join(
            d3,
            (F.col("d3.u") == F.col("d1.u"))
            & (F.col("d3.v") == F.col("d2.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = d.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(n_edges)


_DEGREE_ORACLE = f"""
WITH {_EDGES_SQL},
deg AS (
    SELECT node, COUNT(*) AS degree FROM (
        SELECT pa AS node FROM edges
        UNION ALL
        SELECT pb AS node FROM edges
    ) GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree
"""


@register(
    "graph_degree_distribution",
    _DEGREE_ORACLE,
    doc="Degree distribution of the co-purchase graph — the power-law "
    "health check (and the input to the degree-ordered triangle "
    "orientation above). Each undirected edge contributes one to both "
    "endpoints via UNION ALL, then two integer aggregates; output is "
    "degree-cardinality, tiny at any scale.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    nodes = e.select(F.col("pa").alias("node")).unionAll(
        e.select(F.col("pb").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


# ---------------------------------------------------------------------------
# Lag-7 autocorrelation of the daily event count series
# ---------------------------------------------------------------------------

_AUTOCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, COUNT(*) AS x
    FROM events GROUP BY CAST(ts AS DATE)
),
pairs AS (
    SELECT cur.x AS x, prev.x AS y
    FROM daily cur JOIN daily prev ON prev.day = cur.day - 7
),
s AS (
    SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
    FROM pairs
)
SELECT n,
       CAST(floor(
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS autocorr_lag7
FROM s
"""


@register(
    "ts_autocorr_daily",
    _AUTOCORR_ORACLE,
    doc="Lag-7 Pearson autocorrelation of the daily event-count series "
    "— the weekly-seasonality detector that decides whether a forecast "
    "needs a 7-day term. All moment sums are exact BIGINTs over "
    "integer counts (calendar join day = day-7, not a positional "
    "lag); the correlation is assembled from those exact operands in "
    "one closed-form expression (IEEE sqrt is correctly rounded, so "
    "both engines produce the same double), then fixed-point "
    "quantized. Day-cardinality data — trivially small forever.",
)
def ts_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("x"))
    )
    cur, prev = daily.alias("cur"), daily.alias("prev")
    pairs = cur.join(
        prev,
        F.col("prev.day") == F.date_sub(F.col("cur.day"), 7),
    ).select(F.col("cur.x").alias("x"), F.col("prev.x").alias("y"))
    s = pairs.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return s.select("n", fpq(num / den, 9).alias("autocorr_lag7"))


# ---------------------------------------------------------------------------
# Key-skew observability report
# ---------------------------------------------------------------------------

_SKEW_ORACLE = f"""
WITH ok AS (SELECT o_custkey AS k FROM orders),
lk AS (SELECT l_partkey AS k FROM lineitem),
ek AS (SELECT user_id AS k FROM events),
r AS (
    SELECT 'orders.o_custkey' AS keyspace, k FROM ok
    UNION ALL SELECT 'lineitem.l_partkey', k FROM lk
    UNION ALL SELECT 'events.user_id', k FROM ek
),
c AS (SELECT keyspace, k, COUNT(*) AS cnt FROM r GROUP BY keyspace, k)
SELECT keyspace,
       COUNT(*) AS n_keys,
       MAX(cnt) AS max_cnt,
       {davg_sql('cnt', 0)} AS avg_cnt,
       {fpq_sql('quantile_cont(cnt, 0.5)')} AS p50_cnt,
       CAST(MAX(cnt) AS DOUBLE) / ({davg_sql('cnt', 0)}) AS skew_ratio
FROM c GROUP BY keyspace
"""


@register(
    "agg_skew_report",
    _SKEW_ORACLE,
    doc="Key-skew observability across three join/agg keyspaces "
    "(orders.o_custkey, lineitem.l_partkey, events.user_id): key "
    "count, max/avg/median per-key row counts, and the max/avg skew "
    "ratio that decides whether a key needs salting or AQE skew "
    "handling (the repo's own guidance in operators/skew). Per-key "
    "counts are integers; avg is a decimal-exact davg, median an "
    "fpq-quantized exact percentile. This is the profiling query you "
    "run BEFORE shipping a 100 TB join, on a sample or full pass.",
)
def agg_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.queries.common import davg

    parts = [
        t(spark, sf_dir, "orders").select(
            F.lit("orders.o_custkey").alias("keyspace"),
            F.col("o_custkey").alias("k"),
        ),
        t(spark, sf_dir, "lineitem").select(
            F.lit("lineitem.l_partkey").alias("keyspace"),
            F.col("l_partkey").alias("k"),
        ),
        t(spark, sf_dir, "events").select(
            F.lit("events.user_id").alias("keyspace"),
            F.col("user_id").alias("k"),
        ),
    ]
    r = parts[0].unionByName(parts[1]).unionByName(parts[2])
    c = r.groupBy("keyspace", "k").agg(F.count("*").alias("cnt"))
    return c.groupBy("keyspace").agg(
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
        davg("cnt", 0).alias("avg_cnt"),
        fpq(F.percentile("cnt", F.lit(0.5))).alias("p50_cnt"),
        (F.max("cnt").cast("double") / davg("cnt", 0)).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# Weekday-presence bitmaps per user
# ---------------------------------------------------------------------------

_BITMAP_ORACLE = """
WITH d AS (
    SELECT DISTINCT user_id,
           isodow(CAST(ts AS DATE)) - 1 AS dw
    FROM events
)
SELECT user_id,
       bit_or(CAST(1 AS BIGINT) << dw) AS weekday_bitmap,
       bit_count(bit_or(CAST(1 AS BIGINT) << dw)) AS n_weekdays
FROM d GROUP BY user_id
"""


@register(
    "agg_bitmap_presence",
    _BITMAP_ORACLE,
    doc="Weekday-presence bitmap per user: bit i set iff the user was "
    "active on ISO weekday i (Mon=bit 0) — the compact-presence "
    "encoding that replaces 7 boolean columns and supports set "
    "algebra downstream (weekday-vs-weekend via mask AND). bit_or is "
    "a decomposable aggregate (map-side combinable); Spark dayofweek "
    "(Sun=1) is normalized to ISO (Mon=1) with (dow+5)%7+1 to match "
    "DuckDB's isodow.",
)
def agg_bitmap_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        t(spark, sf_dir, "events")
        .select(
            "user_id",
            (((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1) - 1).alias("dw"),
        )
        .distinct()
    )
    # shiftleft's numBits parameter is Python-int-only in the DSL; the
    # SQL form accepts a column.
    bm = F.bit_or(F.expr("shiftleft(CAST(1 AS BIGINT), dw)"))
    return d.groupBy("user_id").agg(
        bm.alias("weekday_bitmap"),
        F.bit_count(bm).alias("n_weekdays"),
    )


# ---------------------------------------------------------------------------
# Cramér's V: categorical association between status and priority
# ---------------------------------------------------------------------------

_CRAMER_ORACLE = """
WITH cell AS (
    SELECT o_orderstatus AS s, o_orderpriority AS p, COUNT(*) AS obs
    FROM orders GROUP BY o_orderstatus, o_orderpriority
),
rows_ AS (SELECT s, SUM(obs) AS rtot FROM cell GROUP BY s),
cols_ AS (SELECT p, SUM(obs) AS ctot FROM cell GROUP BY p),
n_ AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM cell),
terms AS (
    SELECT CAST(floor(
        pow(CAST(obs AS DOUBLE)
            - CAST(rtot AS DOUBLE) * ctot / n, 2)
        / (CAST(rtot AS DOUBLE) * ctot / n)
        * 1e9 + 0.5) AS BIGINT) AS term_fp, n
    FROM cell JOIN rows_ USING (s) JOIN cols_ USING (p) CROSS JOIN n_
),
chi AS (
    SELECT CAST(SUM(term_fp) AS DOUBLE) / 1e9 AS chi2, MAX(n) AS n,
           (SELECT COUNT(*) FROM rows_) AS r,
           (SELECT COUNT(*) FROM cols_) AS c
    FROM terms GROUP BY n
)
SELECT chi2, n, r, c,
       CAST(floor(
           sqrt(chi2 / (n * least(r - 1, c - 1))) * 1e9 + 0.5
       ) / 1e9 AS DOUBLE) AS cramers_v
FROM chi
"""


@register(
    "agg_cramers_v",
    _CRAMER_ORACLE,
    doc="Cramér's V association between order status and priority — "
    "the categorical-correlation screen a feature-selection pass runs "
    "over every dimension pair. Contingency cells, row/col marginals "
    "and N are exact integer aggregates; each chi-square term is "
    "fixed-point quantized BEFORE the sum (the agg_entropy rule) so "
    "the float sum is order-independent, and V is one closed-form "
    "expression over those exact operands. Cell-cardinality data "
    "(|status| x |priority|) — constant-sized at any corpus scale.",
)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    cell = (
        t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderstatus").alias("s"),
            F.col("o_orderpriority").alias("p"),
        )
        .agg(F.count("*").alias("obs"))
    )
    rows_ = cell.groupBy("s").agg(F.sum("obs").alias("rtot"))
    cols_ = cell.groupBy("p").agg(F.sum("obs").alias("ctot"))
    n_ = cell.agg(F.sum("obs").alias("n"))
    exp = F.col("rtot").cast("double") * F.col("ctot") / F.col("n")
    term = F.floor(
        F.pow(F.col("obs").cast("double") - exp, F.lit(2)) / exp * 1e9
        + F.lit(0.5)
    ).cast("bigint")
    joined = (
        cell.join(rows_, "s")
        .join(cols_, "p")
        .crossJoin(n_)
    )
    nr = rows_.agg(F.count("*").alias("r"))
    nc = cols_.agg(F.count("*").alias("c"))
    chi = (
        joined.select(term.alias("term_fp"), "n")
        .groupBy("n")
        .agg((F.sum("term_fp").cast("double") / 1e9).alias("chi2"))
        .crossJoin(nr)
        .crossJoin(nc)
    )
    v = F.sqrt(
        F.col("chi2") / (F.col("n") * F.least(F.col("r") - 1, F.col("c") - 1))
    )
    return chi.select(
        "chi2",
        "n",
        "r",
        "c",
        (F.floor(v * 1e9 + F.lit(0.5)) / 1e9).cast("double").alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# Character-class profile per language
# ---------------------------------------------------------------------------

_CHARCLASS_ORACLE = """
WITH d AS (
    SELECT lang, lower(text) AS s FROM documents
),
c AS (
    SELECT lang,
           CAST(SUM(length(s)) AS BIGINT) AS total,
           SUM(length(s) - length(regexp_replace(s, '[a-z]', '', 'g')))
               AS alpha,
           SUM(length(s) - length(regexp_replace(s, '[0-9]', '', 'g')))
               AS digit,
           SUM(length(s) - length(regexp_replace(s, ' ', '', 'g'))) AS space,
           COUNT(*) AS n_docs
    FROM d GROUP BY lang
)
SELECT lang, n_docs, total,
       CAST(alpha AS DOUBLE) / total AS alpha_ratio,
       CAST(digit AS DOUBLE) / total AS digit_ratio,
       CAST(space AS DOUBLE) / total AS space_ratio,
       CAST(total - alpha - digit - space AS DOUBLE) / total AS other_ratio
FROM c
"""


@register(
    "text_charclass_profile",
    _CHARCLASS_ORACLE,
    doc="Character-class composition per language (alpha/digit/space/"
    "other ratios) — the cheap corpus-health profile that catches "
    "mojibake, markup residue and number-dump documents before "
    "tokenization. Counted via length-minus-stripped-length (pure "
    "column expressions, codegen'd, no UDF); integer sums with single "
    "final divisions.",
)
def text_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = F.lower("text")

    def stripped(pat: str) -> Column:
        return F.length(s) - F.length(F.regexp_replace(s, pat, ""))

    c = (
        t(spark, sf_dir, "documents")
        .select(
            "lang",
            F.length(s).alias("len"),
            stripped("[a-z]").alias("al"),
            stripped("[0-9]").alias("di"),
            stripped(" ").alias("sp"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("len").alias("total"),
            F.sum("al").alias("alpha"),
            F.sum("di").alias("digit"),
            F.sum("sp").alias("space"),
        )
    )
    tot = F.col("total").cast("double")
    return c.select(
        "lang",
        "n_docs",
        "total",
        (F.col("alpha") / tot).alias("alpha_ratio"),
        (F.col("digit") / tot).alias("digit_ratio"),
        (F.col("space") / tot).alias("space_ratio"),
        (
            (F.col("total") - F.col("alpha") - F.col("digit") - F.col("space"))
            / tot
        ).alias("other_ratio"),
    )


# ---------------------------------------------------------------------------
# Embedding label-centroid separation
# ---------------------------------------------------------------------------

_CENTROID_SEP_ORACLE = """
WITH cent AS (
    SELECT label, CAST(i AS INT) AS dim,
           (CAST(SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e12)
                          AS BIGINT)) AS DOUBLE) / 1e12)
           / CAST(COUNT(*) AS DOUBLE) AS c
    FROM embeddings, range(1, 65) t(i)
    GROUP BY label, i
),
diffs AS (
    SELECT a.label AS label_a, b.label AS label_b,
           CAST(floor(pow(a.c - b.c, 2) * 1e12 + 0.5) AS BIGINT) AS d2_fp
    FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
)
SELECT label_a, label_b,
       CAST(floor(sqrt(CAST(SUM(d2_fp) AS DOUBLE) / 1e12) * 1e9 + 0.5) / 1e9
            AS DOUBLE) AS dist
FROM diffs GROUP BY label_a, label_b
"""


@register(
    "emb_centroid_separation",
    _CENTROID_SEP_ORACLE,
    doc="Pairwise Euclidean distance between label centroids in "
    "embedding space — the class-separability check before training a "
    "classifier on the labels (labels whose centroids nearly coincide "
    "are candidates for merging). Centroids use the repo's elementwise-"
    "mean rule (floor(v*1e12) BIGINT sums / count); per-dim squared "
    "diffs are fixed-point quantized before the sum so the 64-term "
    "reduction is order-independent. label-cardinality² output — tiny; "
    "the only corpus-sized stage is the centroid aggregate, which is "
    "map-side combinable.",
)
def emb_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.similarity import as_double

    e = t(spark, sf_dir, "embeddings").select(
        "label",
        F.posexplode(as_double(F.col("embedding"))).alias("pos", "v"),
    )
    cent = e.groupBy(
        "label", (F.col("pos") + 1).cast("int").alias("dim")
    ).agg(
        (
            (F.sum(F.floor(F.col("v") * 1e12).cast("long")).cast("double") / 1e12)
            / F.count("*").cast("double")
        ).alias("c")
    )
    a, b = cent.alias("a"), cent.alias("b")
    diffs = a.join(
        b,
        (F.col("a.dim") == F.col("b.dim"))
        & (F.col("a.label") < F.col("b.label")),
    ).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.floor(
            F.pow(F.col("a.c") - F.col("b.c"), F.lit(2)) * 1e12 + F.lit(0.5)
        )
        .cast("bigint")
        .alias("d2_fp"),
    )
    dist = F.sqrt(F.sum("d2_fp").cast("double") / 1e12)
    return diffs.groupBy("label_a", "label_b").agg(
        (F.floor(dist * 1e9 + F.lit(0.5)) / 1e9)
        .cast("double")
        .alias("dist")
    )


# ---------------------------------------------------------------------------
# Real baseline JPEG decode (pure-numpy codec, no libjpeg/PIL)
# ---------------------------------------------------------------------------

_MM_JPEG_ORACLE = """
SELECT doc_id,
       'jpeg' AS format,
       CAST(4 + doc_id % 13 AS INT) AS width,
       CAST(3 + doc_id % 7 AS INT) AS height,
       CASE WHEN doc_id % 2 = 0 THEN '444' ELSE '420' END AS sampling,
       TRUE AS within_tol
FROM documents
"""


@register(
    "mm_decode_jpeg",
    _MM_JPEG_ORACLE,
    doc="REAL baseline JPEG decode, pure numpy (operators/jpeg.py): "
    "Huffman entropy decode, dequantize, inverse zigzag, 8x8 IDCT, "
    "4:2:0 chroma upsampling, YCbCr->RGB — no libjpeg/PIL. Payloads "
    "are synthesized per doc by the module's own spec-compliant "
    "encoder (even doc_ids 4:4:4, odd 4:2:0 — both sampling paths "
    "exercised) over closed-form gradient pixels; the decoder must "
    "parse the actual entropy-coded bytes back. JPEG is lossy, so the "
    "oracle checks the lossless structural fields exactly (dims, "
    "sampling) plus a per-channel reconstruction bound: mean absolute "
    "channel error <= 3 (4:4:4, DCT rounding only) / <= 8 (4:2:0, "
    "adds chroma subsampling) — any Huffman/DC-prediction/IDCT bug "
    "blows the bound and breaks the hash. Two narrow mapInPandas "
    "stages, Arrow-batched, no shuffle.",
)
def mm_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def synth_and_decode(batches):
        from evolution_data_warehouse_spark.operators.jpeg import (
            decode_jpeg,
            encode_jpeg,
        )

        for pdf in batches:
            rows = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                w, h = 4 + d % 13, 3 + d % 7
                px = np.zeros((h, w, 3), dtype=np.uint8)
                px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
                px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
                px[:, :, 2] = d % 256
                sub = d % 2 == 1
                data = encode_jpeg(px, subsample=sub)
                if data[:2] != b"\xff\xd8":
                    raise ValueError("encoder emitted non-JPEG magic")
                ww, hh, out = decode_jpeg(data)
                mae = float(
                    np.abs(
                        out.astype(np.int64) - px.astype(np.int64)
                    ).mean()
                )
                rows.append(
                    {
                        "doc_id": d,
                        "format": "jpeg",
                        "width": np.int32(ww),
                        "height": np.int32(hh),
                        "sampling": "420" if sub else "444",
                        "within_tol": bool(mae <= (8.0 if sub else 3.0)),
                    }
                )
            yield pd.DataFrame(rows)

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return ids.mapInPandas(
        synth_and_decode,
        "doc_id long, format string, width int, height int, "
        "sampling string, within_tol boolean",
    )


# ---------------------------------------------------------------------------
# Zipf slope of the token rank-frequency curve
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 200

_ZIPF_ORACLE = f"""
WITH tc AS (
    SELECT tok, COUNT(*) AS freq FROM (
        SELECT unnest(str_split(lower(text), ' ')) AS tok FROM documents
    ) WHERE tok <> '' GROUP BY tok
),
ranked AS (
    SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS rank
    FROM tc
),
top AS (SELECT * FROM ranked WHERE rank <= {_ZIPF_TOPK}),
terms AS (
    SELECT CAST(floor(ln(CAST(rank AS DOUBLE)) * 1e12 + 0.5) AS BIGINT) AS x_fp,
           CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e12 + 0.5) AS BIGINT) AS y_fp,
           CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
                      * 1e12 + 0.5) AS BIGINT) AS xy_fp,
           CAST(floor(ln(CAST(rank AS DOUBLE)) * ln(CAST(rank AS DOUBLE))
                      * 1e12 + 0.5) AS BIGINT) AS xx_fp
    FROM top
),
s AS (
    SELECT COUNT(*) AS n,
           CAST(SUM(x_fp) AS DOUBLE) / 1e12 AS sx,
           CAST(SUM(y_fp) AS DOUBLE) / 1e12 AS sy,
           CAST(SUM(xy_fp) AS DOUBLE) / 1e12 AS sxy,
           CAST(SUM(xx_fp) AS DOUBLE) / 1e12 AS sxx
    FROM terms
)
SELECT n,
       CAST(floor(
           (n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e9 + 0.5
       ) / 1e9 AS DOUBLE) AS zipf_slope
FROM s
"""


@register(
    "text_zipf_slope",
    _ZIPF_ORACLE,
    doc=f"OLS slope of ln(freq) on ln(rank) over the top-{_ZIPF_TOPK} "
    "tokens — the Zipf-law fit (natural text sits near -1; synthetic/"
    "templated corpora deviate), a standard corpus-authenticity "
    "screen. Rank is fully tie-broken (freq desc, token); every "
    "log-space term is fixed-point quantized BEFORE summation (the "
    "agg_entropy rule) so the regression moments are order-"
    f"independent; the final slope is one closed-form division. The "
    "token count is the only corpus-sized aggregate; the regression "
    f"runs on {_ZIPF_TOPK} rows.",
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    tc = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    # top-K FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort), THEN rank the bounded 200-row result — a
    # global row_number window over the full vocabulary would pull every
    # token into one partition, the single-reducer trap at corpus scale.
    topk = tc.orderBy(F.col("freq").desc(), "tok").limit(_ZIPF_TOPK)
    w = Window.orderBy(F.col("freq").desc(), "tok")
    top = topk.withColumn("rank", F.row_number().over(w))
    lx = F.log(F.col("rank").cast("double"))
    ly = F.log(F.col("freq").cast("double"))

    def fp12(c: Column) -> Column:
        return F.floor(c * 1e12 + F.lit(0.5)).cast("bigint")

    terms = top.select(
        fp12(lx).alias("x_fp"),
        fp12(ly).alias("y_fp"),
        fp12(lx * ly).alias("xy_fp"),
        fp12(lx * lx).alias("xx_fp"),
    )
    s = terms.agg(
        F.count("*").alias("n"),
        (F.sum("x_fp").cast("double") / 1e12).alias("sx"),
        (F.sum("y_fp").cast("double") / 1e12).alias("sy"),
        (F.sum("xy_fp").cast("double") / 1e12).alias("sxy"),
        (F.sum("xx_fp").cast("double") / 1e12).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "n",
        (F.floor(slope * 1e9 + F.lit(0.5)) / 1e9)
        .cast("double")
        .alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Session duration percentiles (30-min gap sessionization)
# ---------------------------------------------------------------------------

_SESSDUR_ORACLE = f"""
WITH e AS (
    SELECT user_id, event_id, epoch_us(ts) AS us,
           CASE WHEN epoch_us(ts)
                     - LAG(epoch_us(ts)) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                       ) > 1800000000
                  OR LAG(epoch_us(ts)) OVER (
                         PARTITION BY user_id ORDER BY ts, event_id
                     ) IS NULL
                THEN 1 ELSE 0 END AS marker
    FROM events
),
s AS (
    SELECT user_id, us,
           SUM(marker) OVER (
               PARTITION BY user_id ORDER BY us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS session_id
    FROM e
),
dur AS (
    SELECT user_id, session_id, MAX(us) - MIN(us) AS dur_us
    FROM s GROUP BY user_id, session_id
)
SELECT COUNT(*) AS n_sessions,
       {fpq_sql('quantile_cont(dur_us, 0.5) / 1e6')} AS p50_s,
       {fpq_sql('quantile_cont(dur_us, 0.9) / 1e6')} AS p90_s,
       {fpq_sql('quantile_cont(dur_us, 0.99) / 1e6')} AS p99_s
FROM dur
"""


@register(
    "session_duration_pct",
    _SESSDUR_ORACLE,
    doc="Session-duration percentiles over 30-min-gap sessionization "
    "(the engagement-depth KPI next to win_session_gap's session ids): "
    "exact integer-µs durations per (user, session), then interpolated "
    "p50/p90/p99 fixed-point quantized. The windows partition by "
    "user_id, so state never exceeds one user's events per task; the "
    "final percentile runs on session-cardinality data. At 100 TB "
    "swap percentile() for approx_percentile, same shape.",
)
def session_duration_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    marker = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("us", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    s = (
        t(spark, sf_dir, "events")
        .select("user_id", "event_id", "ts")
        .withColumn("us", us)
        .withColumn("marker", marker)
        .withColumn("session_id", F.sum("marker").over(run))
    )
    dur = s.groupBy("user_id", "session_id").agg(
        (F.max("us") - F.min("us")).alias("dur_us")
    )
    return dur.agg(
        F.count("*").alias("n_sessions"),
        fpq(F.percentile("dur_us", F.lit(0.5)) / 1e6).alias("p50_s"),
        fpq(F.percentile("dur_us", F.lit(0.9)) / 1e6).alias("p90_s"),
        fpq(F.percentile("dur_us", F.lit(0.99)) / 1e6).alias("p99_s"),
    )


# ---------------------------------------------------------------------------
# Theil index of customer revenue inequality
# ---------------------------------------------------------------------------

_THEIL_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT SUM(cents) AS tcents, COUNT(*) AS n FROM cust),
terms AS (
    SELECT CAST(floor(
               (CAST(cents AS DOUBLE) * n / tcents)
               * ln(CAST(cents AS DOUBLE) * n / tcents)
               * 1e12 + 0.5) AS BIGINT) AS term_fp,
           n
    FROM cust CROSS JOIN tot WHERE cents > 0
)
SELECT n AS n_customers,
       CAST(SUM(term_fp) AS DOUBLE) / 1e12 / n AS theil_index
FROM terms GROUP BY n
"""


@register(
    "agg_theil_index",
    _THEIL_ORACLE,
    doc="Theil inequality index of customer revenue — the decomposable "
    "inequality measure next to agg_gini (Theil splits into within/"
    "between-group terms, which Gini cannot). Revenue is exact integer "
    "cents; each (x/mu)*ln(x/mu) term is fixed-point quantized BEFORE "
    "the sum (agg_entropy rule) so the aggregation is order-"
    "independent; two final divisions on identical operands. The "
    "1-row totals broadcast into the per-customer term scan.",
)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    tot = cust.agg(
        F.sum("cents").alias("tcents"), F.count("*").alias("n")
    )
    ratio = F.col("cents").cast("double") * F.col("n") / F.col("tcents")
    term = F.floor(ratio * F.log(ratio) * 1e12 + F.lit(0.5)).cast("bigint")
    return (
        cust.crossJoin(tot)
        .filter(F.col("cents") > 0)
        .select(term.alias("term_fp"), "n")
        .groupBy("n")
        .agg(
            (F.sum("term_fp").cast("double") / 1e12 / F.col("n")).alias(
                "theil_index"
            )
        )
        .select(F.col("n").alias("n_customers"), "theil_index")
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile
# ---------------------------------------------------------------------------

_WEEKDAY_ORACLE = """
WITH d AS (
    SELECT isodow(CAST(ts AS DATE)) AS dw FROM events
),
c AS (SELECT dw, COUNT(*) AS n_events FROM d GROUP BY dw),
tot AS (SELECT SUM(n_events) AS total FROM c)
SELECT dw, n_events,
       CAST(7 * n_events AS DOUBLE) / total AS seasonality_idx
FROM c CROSS JOIN tot
"""


@register(
    "ts_weekday_seasonality",
    _WEEKDAY_ORACLE,
    doc="Weekday seasonality index: events per ISO weekday relative to "
    "a flat week (1.0 = no seasonality) — the companion readout to "
    "ts_autocorr_daily's lag-7 correlation. Integer counts, one final "
    "division; Spark's Sunday=1 dayofweek normalized to ISO Monday=1 "
    "with (dow+5)%7+1. 7-row output forever.",
)
def ts_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "events")
        .select(((F.dayofweek(F.to_date("ts")) + 5) % 7 + 1).alias("dw"))
        .groupBy("dw")
        .agg(F.count("*").alias("n_events"))
    )
    tot = c.agg(F.sum("n_events").alias("total"))
    return c.crossJoin(tot).select(
        "dw",
        "n_events",
        ((F.lit(7) * F.col("n_events")).cast("double") / F.col("total")).alias(
            "seasonality_idx"
        ),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue series
# ---------------------------------------------------------------------------

_DRAWDOWN_ORACLE = f"""
WITH daily AS (
    SELECT o_orderdate AS day, {dsum_sql('o_totalprice')} AS rev
    FROM orders GROUP BY o_orderdate
),
dd AS (
    SELECT day, rev,
           MAX(rev) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - rev AS drawdown
    FROM daily
)
SELECT day, rev, drawdown
FROM dd ORDER BY drawdown DESC, day LIMIT 1
"""


@register(
    "win_drawdown_max",
    _DRAWDOWN_ORACLE,
    doc="Maximum drawdown of the daily revenue series (largest drop "
    "from a running peak) — the classic risk statistic, here as a "
    "running-max window minus current value with a fully tie-broken "
    "top-1 (drawdown desc, day asc). Daily revenues are decimal-exact "
    "doubles, and drawdown involves only comparisons and one "
    "subtraction of identical operands — nothing accumulates in float "
    "order. Day-cardinality window; a single global sort of day-"
    "cardinality rows at any corpus scale.",
)
def win_drawdown_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(dsum("o_totalprice").alias("rev"))
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    dd = daily.withColumn("drawdown", F.max("rev").over(w) - F.col("rev"))
    return dd.orderBy(F.col("drawdown").desc(), "day").limit(1)


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman revenue concentration
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
WITH cust AS (
    SELECT o_custkey,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_custkey
),
s AS (
    SELECT COUNT(*) AS n_customers,
           SUM(cents) AS tcents,
           SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS sq
    FROM cust
)
SELECT n_customers,
       CAST(sq AS DOUBLE)
       / (CAST(tcents AS DOUBLE) * CAST(tcents AS DOUBLE)) AS hhi,
       CAST(1 AS DOUBLE) / n_customers AS hhi_floor
FROM s
"""


@register(
    "agg_hhi_concentration",
    _HHI_ORACLE,
    doc="Herfindahl-Hirschman index of revenue concentration across "
    "customers (1/n = perfectly even, 1.0 = monopoly) — the "
    "concentration KPI beside agg_gini/agg_theil_index. Sum of squared "
    "integer-cent revenues over the squared total: the linear sum is "
    "an exact BIGINT, the square-sum an exact DECIMAL(38,0) (cents² "
    "reaches ~1e17 per whale customer — int64 overflows already at "
    "modest scale, so decimal is the 100-TB-safe accumulator), one "
    "final double division. Customer-cardinality aggregate, map-side "
    "combinable.",
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    s = cust.agg(
        F.count("*").alias("n_customers"),
        F.sum("cents").alias("tcents"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "sq"
        ),
    )
    return s.select(
        "n_customers",
        (
            F.col("sq").cast("double")
            / (F.col("tcents").cast("double") * F.col("tcents").cast("double"))
        ).alias("hhi"),
        (F.lit(1).cast("double") / F.col("n_customers")).alias("hhi_floor"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity of the token distribution per language
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH toks AS (
    SELECT lang, unnest(str_split(lower(text), ' ')) AS tok FROM documents
),
tc AS (
    SELECT lang, tok, COUNT(*) AS k
    FROM toks WHERE tok <> '' GROUP BY lang, tok
),
s AS (
    SELECT lang, CAST(SUM(k) AS BIGINT) AS n,
           CAST(SUM(k * (k - 1)) AS BIGINT) AS num
    FROM tc GROUP BY lang
)
SELECT lang, n AS n_tokens,
       CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1)) AS simpson_index,
       1.0 - CAST(num AS DOUBLE) / (CAST(n AS DOUBLE) * (n - 1))
           AS simpson_diversity
FROM s
"""


@register(
    "text_simpson_diversity",
    _SIMPSON_ORACLE,
    doc="Simpson index per language: probability two random tokens "
    "coincide, computed as the EXACT rational sum(k(k-1)) / (N(N-1)) — "
    "all integer arithmetic until one final division, so nothing "
    "float-accumulates (the companion to agg_entropy's log-based "
    "diversity, without needing logs at all). Two map-side-combinable "
    "aggregates; k(k-1) peaks at ~1e14 for a 10M-count token, inside "
    "int64 per language shard.",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    tc = (
        t(spark, sf_dir, "documents")
        .select(
            "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("k"))
    )
    s = tc.groupBy("lang").agg(
        F.sum("k").alias("n"),
        F.sum(F.col("k") * (F.col("k") - 1)).alias("num"),
    )
    idx = F.col("num").cast("double") / (
        F.col("n").cast("double") * (F.col("n") - 1)
    )
    return s.select(
        "lang",
        F.col("n").alias("n_tokens"),
        idx.alias("simpson_index"),
        (F.lit(1.0) - idx).alias("simpson_diversity"),
    )


# ---------------------------------------------------------------------------
# PMI between event types co-occurring in user-day baskets
# ---------------------------------------------------------------------------

_PMI_ORACLE = """
WITH basket AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type
    FROM events
),
nb AS (SELECT COUNT(DISTINCT (user_id, day)) AS n_baskets FROM basket),
single AS (
    SELECT event_type, COUNT(*) AS k FROM basket GROUP BY event_type
),
pair AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS kab
    FROM basket a JOIN basket b
      ON a.user_id = b.user_id AND a.day = b.day
     AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, kab,
       CAST(floor(
           ln(CAST(kab AS DOUBLE) * n_baskets / (CAST(sa.k AS DOUBLE) * sb.k))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS pmi
FROM pair
JOIN single sa ON sa.event_type = type_a
JOIN single sb ON sb.event_type = type_b
CROSS JOIN nb
"""


@register(
    "event_cooccurrence_pmi",
    _PMI_ORACLE,
    doc="Pointwise mutual information between event types sharing a "
    "user-day basket — which behaviors genuinely attract vs merely "
    "both being common (the lift-style complement to "
    "event_transition_matrix's ordered transitions). Baskets are "
    "distinct'd first, the pair join runs within (user, day) keys "
    "(fan-out bounded by the event-type alphabet, never events²), "
    "marginals and basket count are exact integers, and the single "
    "PMI log per |types|² output row is fixed-point quantized. The "
    "1-row basket count broadcasts.",
)
def event_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    basket = (
        t(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"), "event_type")
        .distinct()
    )
    nb = basket.select("user_id", "day").distinct().agg(
        F.count("*").alias("n_baskets")
    )
    single = basket.groupBy("event_type").agg(F.count("*").alias("k"))
    a, b = basket.alias("a"), basket.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("kab"))
    )
    sa, sb = single.alias("sa"), single.alias("sb")
    pmi = F.log(
        F.col("kab").cast("double")
        * F.col("n_baskets")
        / (F.col("sa.k").cast("double") * F.col("sb.k"))
    )
    return (
        pair.join(sa, F.col("type_a") == F.col("sa.event_type"))
        .join(sb, F.col("type_b") == F.col("sb.event_type"))
        .crossJoin(nb)
        .select(
            "type_a",
            "type_b",
            "kab",
            (F.floor(pmi * 1e9 + F.lit(0.5)) / 1e9)
            .cast("double")
            .alias("pmi"),
        )
    )


# ---------------------------------------------------------------------------
# Monthly revenue anomaly screen (z-scores from exact moments)
# ---------------------------------------------------------------------------

_REV_ANOM_ORACLE = """
WITH m AS (
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS cents
    FROM orders GROUP BY date_trunc('month', o_orderdate)
),
s AS (
    SELECT COUNT(*) AS n, SUM(cents) AS s1,
           SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS s2
    FROM m
)
SELECT month, cents,
       CAST(floor(
           (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
           / sqrt(CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
           * 1e9 + 0.5) / 1e9 AS DOUBLE) AS zscore
FROM m CROSS JOIN s
WHERE abs((CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
          / sqrt(CAST(s2 AS DOUBLE) / n
                 - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) > 1.5
"""


@register(
    "ts_revenue_anomaly_months",
    _REV_ANOM_ORACLE,
    doc="Monthly revenue anomaly screen: months whose exact-cents "
    "revenue sits more than 1.5 population-sigma from the mean. "
    "Moments are exact (BIGINT linear sum, DECIMAL(38,0) square sum — "
    "cents² overflows int64 at warehouse scale), the z-score is one "
    "closed-form expression over identical operands on both engines, "
    "fixed-point quantized; the 1-row moment aggregate broadcasts "
    "into the month-cardinality scan. The pattern generalizes to any "
    "per-key anomaly screen where approximate sigma is not "
    "acceptable evidence.",
)
def ts_revenue_anomaly_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        t(spark, sf_dir, "orders")
        .groupBy(F.trunc("o_orderdate", "month").alias("month"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    s = m.agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias(
            "s2"
        ),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    z = (F.col("cents").cast("double") - mean) / F.sqrt(var)
    return (
        m.crossJoin(s)
        .filter(F.abs(z) > 1.5)
        .select(
            "month",
            "cents",
            (F.floor(z * 1e9 + F.lit(0.5)) / 1e9)
            .cast("double")
            .alias("zscore"),
        )
    )


# ---------------------------------------------------------------------------
# Heavy hitters: Misra-Gries candidates + exact re-count
# ---------------------------------------------------------------------------

_HH_K = 25

_HH_ORACLE = f"""
WITH toks AS (
    SELECT unnest(str_split(lower(text), ' ')) AS item FROM documents
)
SELECT item, COUNT(*) AS cnt
FROM toks WHERE item <> ''
GROUP BY item
ORDER BY cnt DESC, item
LIMIT {_HH_K}
"""


@register(
    "agg_heavy_hitters_mg",
    _HH_ORACLE,
    doc=f"Exact top-{_HH_K} tokens via the two-pass heavy-hitter "
    "pattern (operators/sketches.py): per-partition Misra-Gries "
    "summaries (O(capacity) state per partition regardless of "
    "partition size — the bounded-memory property a 100 TB key space "
    "needs), merged candidates, then an exact re-count of candidates "
    "only. The result is EXACT — the oracle is the plain exact top-k "
    "— and an in-plan assert_true certificate (cnt x capacity > n) "
    "proves no true heavy hitter could have been evicted; the "
    "operator throws rather than silently approximating. Arrow-"
    "batched mapInPandas, candidate-cardinality everything after the "
    "first linear scan.",
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.sketches import (
        heavy_hitters_exact,
    )

    toks = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("item"))
        .filter(F.col("item") != "")
    )
    return heavy_hitters_exact(toks, "item", k=_HH_K)


# ---------------------------------------------------------------------------
# Per-image channel histogram over REAL decoded pixels
# ---------------------------------------------------------------------------

_MM_HIST_ORACLE = """
SELECT doc_id,
       CAST((3 + doc_id % 7) *
            least(4 + doc_id % 13, 4) AS BIGINT) AS r_b0,
       CAST((3 + doc_id % 7) *
            greatest(least(4 + doc_id % 13, 8) - 4, 0) AS BIGINT) AS r_b1,
       CAST((3 + doc_id % 7) *
            greatest(least(4 + doc_id % 13, 12) - 8, 0) AS BIGINT) AS r_b2,
       CAST((3 + doc_id % 7) *
            greatest(least(4 + doc_id % 13, 16) - 12, 0) AS BIGINT) AS r_b3
FROM documents
"""


@register(
    "mm_channel_histogram",
    _MM_HIST_ORACLE,
    doc="Per-image red-channel histogram (4 buckets of 4 intensity "
    "levels) computed from REAL decoded pixels — the image-statistics "
    "primitive behind exposure/consistency screens on an image corpus. "
    "Payloads are the mm_decode_real gradient fixtures (r = x "
    "coordinate), decoded by the actual BMP/PPM/PNG parsers, then "
    "bucket-counted in numpy inside the same Arrow batch; the oracle "
    "knows each histogram analytically from doc_id (bucket b holds "
    "height x |[4b,4b+4) ∩ [0,width)| pixels), so a decode or "
    "bucketing bug breaks the hash. Embarrassingly parallel, zero "
    "shuffle.",
)
def mm_channel_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    def hist_batch(batches):
        from evolution_data_warehouse_spark.operators.multimodal import (
            decode_image_auto as _decode_auto,
        )
        from evolution_data_warehouse_spark.operators.multimodal import (
            decode_bmp,
            decode_png,
            decode_ppm,
        )

        def decode_px(data: bytes) -> np.ndarray:
            if data[:2] == b"BM":
                return decode_bmp(data)[2]
            if data[:2] == b"P6":
                return decode_ppm(data)[2]
            return decode_png(data)[2]

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = decode_px(bytes(payload))
                r = px[:, :, 0].astype(np.int64)
                counts = [
                    int(((r >= 4 * b) & (r < 4 * (b + 1))).sum())
                    for b in range(4)
                ]
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "r_b0": counts[0],
                        "r_b1": counts[1],
                        "r_b2": counts[2],
                        "r_b3": counts[3],
                    }
                )
            yield pd.DataFrame(rows)

    from evolution_data_warehouse_spark.operators.multimodal import (
        synth_image_payload_batch,
    )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    payloads = ids.mapInPandas(
        synth_image_payload_batch(), "doc_id long, payload binary"
    )
    return payloads.mapInPandas(
        hist_batch,
        "doc_id long, r_b0 long, r_b1 long, r_b2 long, r_b3 long",
    )


# ---------------------------------------------------------------------------
# Manifest time travel (versioned snapshot store round trip)
# ---------------------------------------------------------------------------

_TT_ORACLE = """
SELECT 0 AS version, o_orderstatus, COUNT(*) AS n_orders
FROM orders GROUP BY o_orderstatus
UNION ALL
SELECT 1 AS version, o_orderstatus, COUNT(*) AS n_orders
FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus
"""


@register(
    "warehouse_time_travel",
    _TT_ORACLE,
    doc="Time travel on the manifest-pointer snapshot store "
    "(warehouse/manifest.py): publish two versions of an orders "
    "aggregate (v0 full, v1 evens-only), flip the _current marker "
    "atomically each time, then read BOTH the historical v0 (via "
    "read_version) and the live v1 (via read_current) back. The "
    "oracle recomputes both snapshots from the base table, so any "
    "marker/versioning/publish bug — wrong version served, torn "
    "flip, history clobbered — breaks the hash. The store root is "
    "rebuilt from scratch per run, so version numbering is "
    "deterministic.",
)
def warehouse_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from evolution_data_warehouse_spark.queries.relational import _scratch
    from evolution_data_warehouse_spark.warehouse.manifest import (
        list_versions,
        publish_versioned,
        read_current,
        read_version,
    )

    root = _scratch("time_travel", sf_dir)
    if os.path.exists(root):
        shutil.rmtree(root)
    base = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    v0 = publish_versioned(spark, {"orders": base}, root)
    v1 = publish_versioned(
        spark, {"orders": base.filter(F.col("o_orderkey") % 2 == 0)}, root
    )
    assert (v0, v1) == (0, 1) and list_versions(spark, root) == [0, 1]
    hist = (
        read_version(spark, root, "orders", 0)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .select(F.lit(0).alias("version"), "o_orderstatus", "n_orders")
    )
    live = (
        read_current(spark, root, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_orders"))
        .select(F.lit(1).alias("version"), "o_orderstatus", "n_orders")
    )
    return hist.unionByName(live)


# ---------------------------------------------------------------------------
# Error-rate spike detection vs a trailing window baseline
# ---------------------------------------------------------------------------

_SPIKE_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors
    FROM events GROUP BY CAST(ts AS DATE)
),
w AS (
    SELECT day, n_events, n_errors,
           CAST(SUM(n_errors) OVER (
               ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
           ) AS BIGINT) AS base_errors,
           CAST(SUM(n_events) OVER (
               ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
           ) AS BIGINT) AS base_events
    FROM daily
)
SELECT day, n_events, n_errors, base_errors, base_events
FROM w
WHERE base_events IS NOT NULL AND base_events > 0
  AND n_errors >= 5
  AND CAST(n_errors AS BIGINT) * base_events
      > 2 * CAST(base_errors AS BIGINT) * n_events
"""


@register(
    "event_error_spike",
    _SPIKE_ORACLE,
    doc="Error-burst detection: days whose error RATE more than doubles "
    "the trailing 7-day baseline (with a minimum-count floor so quiet "
    "days can't alert on noise) — the ops monitor every event "
    "warehouse feeds. The spike predicate is cross-multiplied "
    "(n_err·base_ev > 2·base_err·n_ev) so the comparison is exact "
    "integer arithmetic with NO division anywhere; the trailing "
    "window carries two integer sums over day-cardinality data.",
)
def event_error_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "error", 1).otherwise(0)
            ).alias("n_errors"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-7, -1)
    wd = daily.withColumn("base_errors", F.sum("n_errors").over(w)).withColumn(
        "base_events", F.sum("n_events").over(w)
    )
    return wd.filter(
        F.col("base_events").isNotNull()
        & (F.col("base_events") > 0)
        & (F.col("n_errors") >= 5)
        & (
            F.col("n_errors").cast("bigint") * F.col("base_events")
            > 2 * F.col("base_errors").cast("bigint") * F.col("n_events")
        )
    ).select("day", "n_events", "n_errors", "base_errors", "base_events")


# ---------------------------------------------------------------------------
# Surrogate-key gap detection (sequence integrity audit)
# ---------------------------------------------------------------------------

_KEYGAP_ORACLE = """
WITH keys AS (
    SELECT o_orderkey AS k FROM orders WHERE o_orderkey % 97 <> 0
),
r AS (
    SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp FROM keys
),
islands AS (
    SELECT MIN(k) AS island_start, MAX(k) AS island_end, COUNT(*) AS n_keys
    FROM r GROUP BY grp
)
SELECT island_end + 1 AS gap_start,
       lead_start - 1 AS gap_end,
       lead_start - island_end - 1 AS n_missing
FROM (
    SELECT island_start, island_end, n_keys,
           LEAD(island_start) OVER (ORDER BY island_start) AS lead_start
    FROM islands
)
WHERE lead_start IS NOT NULL
ORDER BY gap_start
LIMIT 25
"""


@register(
    "quality_key_gaps",
    _KEYGAP_ORACLE,
    doc="Surrogate-key gap audit: contiguous-run islands via the "
    "classic k - row_number() grouping, then each island's successor "
    "start bounds the missing range — the sequence-integrity check "
    "that catches dropped loads and broken id generators. Run on a "
    "deterministic fixture (keys % 97 removed) so gaps exist to find; "
    "first 25 gaps, ordered. The ranking window is a single global "
    "sort of key-cardinality data — at 100 TB run it per id-range "
    "partition and stitch the boundaries (the plan shape per "
    "partition is identical).",
)
def quality_key_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    keys = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 != 0)
        .select(F.col("o_orderkey").alias("k"))
    )
    w = Window.orderBy("k")
    r = keys.withColumn("grp", F.col("k") - F.row_number().over(w))
    islands = r.groupBy("grp").agg(
        F.min("k").alias("island_start"),
        F.max("k").alias("island_end"),
        F.count("*").alias("n_keys"),
    )
    w2 = Window.orderBy("island_start")
    gaps = islands.withColumn(
        "lead_start", F.lead("island_start").over(w2)
    ).filter(F.col("lead_start").isNotNull())
    return (
        gaps.select(
            (F.col("island_end") + 1).alias("gap_start"),
            (F.col("lead_start") - 1).alias("gap_end"),
            (F.col("lead_start") - F.col("island_end") - 1).alias("n_missing"),
        )
        .orderBy("gap_start")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# Type-token ratio by document-length bucket
# ---------------------------------------------------------------------------

_TTR_ORACLE = """
WITH toks AS (
    SELECT n_chars // 100 AS len_bucket,
           unnest(str_split(lower(text), ' ')) AS tok
    FROM documents
),
s AS (
    SELECT len_bucket,
           COUNT(*) AS n_tokens,
           COUNT(DISTINCT tok) AS n_types
    FROM toks WHERE tok <> '' GROUP BY len_bucket
)
SELECT len_bucket, n_tokens, n_types,
       CAST(n_types AS DOUBLE) / n_tokens AS ttr
FROM s
"""


@register(
    "text_ttr_curve",
    _TTR_ORACLE,
    doc="Type-token ratio by document-length bucket — the lexical-"
    "diversity-vs-length curve (TTR falls with length in natural "
    "text; flat curves flag templated corpora). Exact distinct type "
    "counts per bucket (bucket-cardinality aggregate), integer "
    "counts, one final division. Complements hapax (rarity) and "
    "Simpson (concentration) with the length-controlled view.",
)
def text_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = t(spark, sf_dir, "documents").select(
        F.expr("n_chars div 100").alias("len_bucket"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    s = toks.groupBy("len_bucket").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("tok").alias("n_types"),
    )
    return s.select(
        "len_bucket",
        "n_tokens",
        "n_types",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
    )


# ---------------------------------------------------------------------------
# Financial reconciliation: order header vs line-item detail
# ---------------------------------------------------------------------------

_RECON_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                          * 100 + 0.5) AS BIGINT)) AS BIGINT) AS detail_cents
    FROM lineitem GROUP BY l_orderkey
),
j AS (
    SELECT o.o_orderkey,
           CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
           li.detail_cents
    FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT o_orderkey, header_cents, detail_cents,
       CAST(abs(header_cents - detail_cents) AS BIGINT) AS diff_cents
FROM j
ORDER BY diff_cents DESC, o_orderkey
LIMIT 20
"""


@register(
    "quality_financial_reconcile",
    _RECON_ORACLE,
    doc="Header-vs-detail financial reconciliation: each order's "
    "o_totalprice against the decimal-exact sum of its line items "
    "(extended x (1-disc) x (1+tax)), reported as the top-20 largest "
    "absolute discrepancies in exact integer cents (per-row "
    "fixed-point BEFORE the sum, so the aggregation is order-"
    "independent) — the audit query every finance warehouse runs "
    "after a load. One shuffle on the join key, tie-broken top-N via "
    "TakeOrderedAndProject.",
)
def quality_financial_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                F.floor(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                    * 100
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("detail_cents")
        )
    )
    j = t(spark, sf_dir, "orders").join(
        li, F.col("l_orderkey") == F.col("o_orderkey")
    )
    return (
        j.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("header_cents"),
            "detail_cents",
        )
        .withColumn(
            "diff_cents", F.abs(F.col("header_cents") - F.col("detail_cents"))
        )
        .orderBy(F.col("diff_cents").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# CUSUM drift: maximum cumulative excursion of daily revenue
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS day,
           SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
    FROM orders GROUP BY o_orderdate
),
tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS total, COUNT(*) AS d FROM daily),
c AS (
    SELECT day,
           CAST(SUM(CAST(cents AS BIGINT) * d - total) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cusum
    FROM daily CROSS JOIN tot
)
SELECT day, cusum
FROM c ORDER BY abs(cusum) DESC, day LIMIT 1
"""


@register(
    "ts_cusum_drift",
    _CUSUM_ORACLE,
    doc="CUSUM drift detection: the day of maximum cumulative "
    "deviation from the period-mean revenue — the classic "
    "change-point locator (the excursion peak marks where the level "
    "shifted). Computed scale-free in EXACT integers by "
    "cross-multiplying the mean away (sum of cents·D - total per "
    "day), so the running sum is a BIGINT with no float anywhere; "
    "tie-broken top-1. Day-cardinality window, 1-row totals "
    "broadcast.",
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("day"))
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents")
        )
    )
    tot = daily.agg(
        F.sum("cents").alias("total"), F.count("*").alias("d")
    )
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = daily.crossJoin(tot).withColumn(
        "cusum",
        F.sum(F.col("cents") * F.col("d") - F.col("total")).over(w),
    )
    return (
        c.select("day", "cusum")
        .orderBy(F.abs(F.col("cusum")).desc(), "day")
        .limit(1)
    )
