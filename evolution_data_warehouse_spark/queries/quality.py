"""Data-quality queries (``quality_*``): expectations, blocklists,
anonymity and calibration checks over the warehouse and corpus tables.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
)
from evolution_data_warehouse_spark.operators.textops import lower_tokens_sql
from evolution_data_warehouse_spark.queries.common import fpq, fpq_sql, register, t


_EXPECT_ORACLE = """
WITH agg AS (
    SELECT COUNT(*) AS n_rows,
           SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS p_price,
           SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
                     AND o_orderdate < TIMESTAMP '2002-01-01 00:00:00'
                    THEN 1 ELSE 0 END) AS p_date,
           SUM(CASE WHEN o_orderpriority IN
                    ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                    THEN 1 ELSE 0 END) AS p_prio,
           SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS p_cust
    FROM orders
)
SELECT rule, CAST(n_pass AS BIGINT) AS n_pass,
       CAST(n_rows - n_pass AS BIGINT) AS n_fail,
       CAST(n_rows AS BIGINT) AS n_rows
FROM (
    SELECT 'positive_price' AS rule, p_price AS n_pass, n_rows FROM agg
    UNION ALL SELECT 'date_in_range', p_date, n_rows FROM agg
    UNION ALL SELECT 'known_priority', p_prio, n_rows FROM agg
    UNION ALL SELECT 'custkey_not_null', p_cust, n_rows FROM agg
)
"""


@register(
    "quality_expectations",
    _EXPECT_ORACLE,
    doc="Declarative data-quality expectations (operators/quality.py "
    "expectations_report): four rules over orders evaluated as "
    "conditional sums in ONE aggregate — one scan however many rules "
    "run, vs one rescan per rule in the validator-per-check shape. "
    "NULL predicates count as failures.",
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.quality import (
        expectations_report,
    )

    orders = t(spark, sf_dir, "orders")
    rules = {
        "positive_price": F.col("o_totalprice") > 0,
        "date_in_range": (
            F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
        )
        & (F.col("o_orderdate") < F.lit("2002-01-01").cast("timestamp")),
        "known_priority": F.col("o_orderpriority").isin(
            "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
        ),
        "custkey_not_null": F.col("o_custkey").isNotNull(),
    }
    return expectations_report(orders, rules)


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
    w = W.orderBy("k")
    r = keys.withColumn("grp", F.col("k") - F.row_number().over(w))
    islands = r.groupBy("grp").agg(
        F.min("k").alias("island_start"),
        F.max("k").alias("island_end"),
        F.count("*").alias("n_keys"),
    )
    w2 = W.orderBy("island_start")
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
# k-anonymity audit (privacy risk on quasi-identifiers)
# ---------------------------------------------------------------------------

_K_ANON_K = 5


_K_ANON_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket
    FROM customer
),
g AS (
    SELECT c_nationkey, c_mktsegment, bal_bucket, COUNT(*) AS k
    FROM q GROUP BY c_nationkey, c_mktsegment, bal_bucket
)
SELECT c_nationkey, c_mktsegment, bal_bucket, CAST(k AS BIGINT) AS k
FROM g WHERE k < {_K_ANON_K}
"""


@register(
    "quality_k_anonymity",
    _K_ANON_ORACLE,
    doc="k-anonymity audit over the quasi-identifier tuple (nation, "
    "market segment, account-balance bucket): every equivalence class "
    "smaller than k=5 is a re-identification risk the privacy review "
    "must see before the table ships. One hash aggregate at "
    "quasi-identifier cardinality, map-side combinable; the filter "
    "keeps only the risky classes, so output is small even when the "
    "input is not. The audit the PII scan suite (pii_scan_report, "
    "text_redact) does not cover: PII you created by grouping, not "
    "PII in the values.",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    )
    g = q.groupBy("c_nationkey", "c_mktsegment", "bal_bucket").agg(
        F.count("*").alias("k")
    )
    return g.filter(F.col("k") < _K_ANON_K)


# ---------------------------------------------------------------------------
# blocklist phrase screening (safety-filter stage)
# ---------------------------------------------------------------------------

_BLOCKLIST: list[tuple[str, int]] = [
    ("vector", 1),
    ("stream", 1),
    ("slow filter", 2),
    ("big table", 2),
    ("fast merge batch", 3),
]


_BL_LENGTHS = sorted({len(p.split(" ")) for p, _ in _BLOCKLIST})


_BL_VALUES = ", ".join(
    "('" + p.replace("'", "''") + "', " + str(s) + ")" for p, s in _BLOCKLIST
)


_BLOCKLIST_ORACLE = f"""
WITH toks AS (SELECT doc_id, {lower_tokens_sql('text')} AS tk FROM documents),
bl(phrase, severity) AS (VALUES {_BL_VALUES}),
g AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           array_to_string(tk[i:i+k-1], ' ') AS phrase
    FROM toks, (SELECT unnest({_BL_LENGTHS}) AS k) ks,
         LATERAL unnest(range(1, len(tk) - k + 2)) t(i)
    WHERE len(tk) >= k
),
m AS (SELECT g.doc_id, g.pos, g.phrase, severity FROM g JOIN bl USING (phrase))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(COUNT(DISTINCT phrase) AS BIGINT) AS n_phrases,
       CAST(MAX(severity) AS INT) AS max_severity,
       CAST(MIN(pos) AS BIGINT) AS first_pos,
       CASE WHEN MAX(severity) >= 3 THEN 'drop'
            WHEN MAX(severity) = 2 THEN 'flag'
            ELSE 'note' END AS verdict
FROM m GROUP BY doc_id
"""


@register(
    "quality_blocklist_phrases",
    _BLOCKLIST_ORACLE,
    doc="Blocklist phrase screening (operators/quality.py::"
    "blocklist_matches) — the safety-filter stage every production "
    "training-corpus pipeline runs: a severity-weighted phrase "
    "dictionary of MIXED token lengths matched in one corpus pass, "
    "with token positions, aggregated into a per-document "
    "drop/flag/note verdict. Aho-Corasick output via a scale-shaped "
    "plan: per phrase-length k, the corpus explodes into k-token "
    "windows broadcast-joined against that length's (model-sized) "
    "dictionary — linear in corpus tokens x distinct lengths, the "
    "corpus itself is never shuffled, and the scan is pruned to the "
    "text column. The reference has no content-screening operator "
    "(its nettoyage is row-level DISTINCT + type casts).",
)
def quality_blocklist_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    from evolution_data_warehouse_spark.operators.quality import (
        blocklist_matches,
    )

    m = blocklist_matches(t(spark, sf_dir, "documents"), _BLOCKLIST)
    sev = F.max("severity")
    return m.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.countDistinct("phrase").cast("long").alias("n_phrases"),
        sev.cast("int").alias("max_severity"),
        F.min("pos").cast("long").alias("first_pos"),
        F.when(sev >= 3, "drop")
        .when(sev == 2, "flag")
        .otherwise("note")
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Column profiler — the ANALYZE-style table report
# ---------------------------------------------------------------------------

# (column, string-rendering expression) pairs: min/max render through
# type-stable casts (BIGINT / DATE / VARCHAR / DECIMAL(18,2)) so the
# two engines print identical strings — raw DOUBLE->string formatting
# differs between JVM and DuckDB and is deliberately avoided.
_PROFILE_COLS = (
    ("o_orderkey", "CAST({v} AS BIGINT)"),
    ("o_custkey", "CAST({v} AS BIGINT)"),
    ("o_orderstatus", "{v}"),
    ("o_totalprice", "CAST({v} AS DECIMAL(18,2))"),
    ("o_orderdate", "CAST({v} AS DATE)"),
)


def _profile_oracle() -> str:
    legs = []
    for name, cast in _PROFILE_COLS:
        v = cast.format(v=name)
        legs.append(f"""
SELECT '{name}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) - COUNT({name}) AS BIGINT) AS n_null,
       CAST(COUNT(DISTINCT {name}) AS BIGINT) AS n_distinct,
       CAST(MIN({v}) AS VARCHAR) AS min_value,
       CAST(MAX({v}) AS VARCHAR) AS max_value
FROM orders""")
    return " UNION ALL ".join(legs)


@register(
    "quality_profile_table",
    _profile_oracle(),
    doc="Column profiler — the ANALYZE/data-profiling report every "
    "warehouse hands its operators (null counts, distinct "
    "cardinality, min/max per column), complementing "
    "proc_refresh_stats' optimizer-stats leg with a user-facing "
    "one: five orders columns profile in ONE scan (per-column "
    "conditional aggregates, unpivoted to a row per column "
    "JVM-side), exact distincts, and min/max rendered through "
    "type-stable casts so both engines print identical strings. At "
    "100 TB this is the same single-pass multi-aggregate shape as "
    "quality_expectations (count-distinct partials merge map-side); "
    "swap exact distinct for approx_count_distinct when estimates "
    "suffice.",
)
def quality_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    aggs = []
    for name, cast in _PROFILE_COLS:
        v = cast.format(v=name)
        aggs += [
            F.count("*").cast("bigint").alias(f"{name}__n"),
            (F.count("*") - F.count(name))
            .cast("bigint")
            .alias(f"{name}__nn"),
            F.countDistinct(name).cast("bigint").alias(f"{name}__nd"),
            F.min(F.expr(v)).cast("string").alias(f"{name}__min"),
            F.max(F.expr(v)).cast("string").alias(f"{name}__max"),
        ]
    one = orders.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(name).alias("column_name"),
            F.col(f"{name}__n").alias("n_rows"),
            F.col(f"{name}__nn").alias("n_null"),
            F.col(f"{name}__nd").alias("n_distinct"),
            F.col(f"{name}__min").alias("min_value"),
            F.col(f"{name}__max").alias("max_value"),
        )
        for name, _ in _PROFILE_COLS
    ]
    return one.select(
        F.explode(F.array(*per_col)).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# l-diversity audit — the companion privacy check to quality_k_anonymity
# ---------------------------------------------------------------------------

_L_DIVERSITY_L = 3


_L_DIV_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           c_mktsegment
    FROM customer
),
g AS (
    SELECT c_nationkey, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct
    FROM q GROUP BY c_nationkey, bal_bucket
)
SELECT c_nationkey, bal_bucket, k, l_distinct
FROM g WHERE l_distinct < {_L_DIVERSITY_L}
"""


@register(
    "quality_l_diversity",
    _L_DIV_ORACLE,
    doc="l-diversity audit (Machanavajjhala et al. 2007) — the "
    "companion check quality_k_anonymity needs: a class can be "
    "k-anonymous yet still leak if every member shares the SAME "
    "sensitive value, so each quasi-identifier class (nation, "
    "balance bucket) must contain >= l = 3 distinct sensitive values "
    "(market segment). One hash aggregate at quasi-identifier "
    "cardinality with a distinct-count; the filter keeps only the "
    "leaking classes, so output stays small at any input scale.",
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )
    g = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("k"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l_distinct"),
    )
    return g.filter(F.col("l_distinct") < _L_DIVERSITY_L)


# ---------------------------------------------------------------------------
# quality_fk_orphans — referential-integrity audit across the star schema
# ---------------------------------------------------------------------------

_FK_RELATIONS = (
    # (relation label, child table, child key, parent table, parent key)
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey",
     "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey",
     "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey",
     "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey",
     "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey",
     "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey",
     "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey",
     "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    legs = []
    for label, child, ck, parent, pk in _FK_RELATIONS:
        legs.append(f"""
SELECT '{label}' AS relation,
       CAST(COUNT(*) AS BIGINT) AS n_child,
       CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_orphans
FROM {child} c
LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON p.{pk} = c.{ck}""")
    return "\nUNION ALL\n".join(legs)


@register(
    "quality_fk_orphans",
    _fk_oracle(),
    doc="Referential-integrity audit across the whole star schema: for "
    "each of the 7 FK relations (lineitem->orders/part/supplier, "
    "orders->customer, customer/supplier->nation, nation->region), "
    "the child row count and the count of orphans (child keys with no "
    "parent; NULL child keys join to nothing on both engines, so they "
    "count as orphans). The completeness leg of the quality_* suite "
    "that key-gap and expectation checks don't cover. Plan: each leg "
    "is ONE left join + ONE aggregate — the orphan count is the "
    "null-parent sum of the same join, never a second anti-join pass; "
    "parent keys are deduped defensively (they are PKs, but a dirty "
    "parent must surface as orphan counts, not row inflation). Dims "
    "broadcast; the one big-parent leg (lineitem->orders) is a "
    "two-column shuffle join — linear at 100 TB. All 7 legs are "
    "independent and union into a 7-row audit.",
)
def quality_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    out: DataFrame | None = None
    for label, child, ck, parent, pk in _FK_RELATIONS:
        c = t(spark, sf_dir, child).select(ck)
        p = t(spark, sf_dir, parent).select(pk).distinct()
        joined = c.join(p, c[ck] == p[pk], "left")
        leg = joined.agg(
            F.count("*").cast("bigint").alias("n_child"),
            F.sum(F.when(p[pk].isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_orphans"),
        ).select(F.lit(label).alias("relation"), "n_child", "n_orphans")
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# quality_pk_uniqueness — primary-key uniqueness audit
# ---------------------------------------------------------------------------

_PK_DECLS = (
    ("region", ("r_regionkey",)),
    ("nation", ("n_nationkey",)),
    ("customer", ("c_custkey",)),
    ("supplier", ("s_suppkey",)),
    ("part", ("p_partkey",)),
    ("orders", ("o_orderkey",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("events", ("event_id",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
)


def _pk_oracle() -> str:
    legs = []
    for table, keys in _PK_DECLS:
        key_expr = ", ".join(keys)
        # NULL-key rows are excluded from the distinct count on BOTH
        # engines (Spark's COUNT(DISTINCT a, b) skips any-NULL rows;
        # the WHERE mirrors that) — a NULL key is a different defect
        # class, reported by filter_dropna_keys/quality_expectations.
        not_null = " AND ".join(f"{k} IS NOT NULL" for k in keys)
        legs.append(f"""
SELECT '{table}' AS tbl, '{",".join(keys)}' AS pk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST((SELECT COUNT(*) FROM (
           SELECT DISTINCT {key_expr} FROM {table} WHERE {not_null}
       )) AS BIGINT) AS n_distinct
FROM {table}""")
    return "\nUNION ALL\n".join(legs)


@register(
    "quality_pk_uniqueness",
    _pk_oracle(),
    doc="Primary-key uniqueness audit across every table in the "
    "warehouse: declared key vs row count vs exact distinct count — "
    "the constraint-validation twin of quality_fk_orphans (files "
    "enforce nothing; the audit is how a lakehouse notices). "
    "Deliberately includes lineitem's composite (l_orderkey, "
    "l_linenumber), which this fixture genuinely violates — the "
    "audit REPORTS it (n_distinct < n_rows) rather than assuming "
    "cleanliness, exactly the finding that forced "
    "stats_spearman_corr onto a unique key during development. "
    "Each leg is one scan + one exact-distinct aggregate (map-side "
    "partial on the key); legs are independent and union into a "
    "10-row report.",
)
def quality_pk_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    out: DataFrame | None = None
    for table, keys in _PK_DECLS:
        df = t(spark, sf_dir, table)
        leg = df.agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.countDistinct(*[F.col(k) for k in keys])
            .cast("bigint")
            .alias("n_distinct"),
        ).select(
            F.lit(table).alias("tbl"),
            F.lit(",".join(keys)).alias("pk"),
            "n_rows",
            "n_distinct",
        )
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# quality_psi_drift — population stability index between time halves
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10


_PSI_VMAX = 100.0  # events.value is uniform-ish [0,100); pinned bucket
# width keeps bucket ids exact integers on both engines


def _psi_oracle() -> str:
    return f"""
WITH span AS (
    SELECT MIN(ts) AS t0, MAX(ts) AS t1 FROM events
),
b AS (
    SELECT event_type,
           CASE WHEN epoch_us(ts) * 2 <= epoch_us(t0) + epoch_us(t1)
                THEN 0 ELSE 1 END AS half,
           LEAST(CAST(FLOOR(CAST(value AS DOUBLE)
                 * {_PSI_BUCKETS} / {_PSI_VMAX}) AS INT),
                 {_PSI_BUCKETS - 1}) AS bucket
    FROM events CROSS JOIN span
),
c AS (
    SELECT event_type, bucket,
           CAST(COUNT(*) FILTER (WHERE half = 0) AS BIGINT) AS n_ref,
           CAST(COUNT(*) FILTER (WHERE half = 1) AS BIGINT) AS n_cur
    FROM b GROUP BY event_type, bucket
),
g AS (
    SELECT event_type,
           CAST(SUM(n_ref) AS BIGINT) AS t_ref,
           CAST(SUM(n_cur) AS BIGINT) AS t_cur,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM c GROUP BY event_type
)
SELECT c.event_type, c.bucket, c.n_ref, c.n_cur,
       {fpq_sql(
           '(CAST(2 * c.n_cur + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_cur + g.k AS DOUBLE)'
           ' - CAST(2 * c.n_ref + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_ref + g.k AS DOUBLE))'
           ' * ln((CAST(2 * c.n_cur + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_cur + g.k AS DOUBLE))'
           ' / (CAST(2 * c.n_ref + 1 AS DOUBLE)'
           ' / CAST(2 * g.t_ref + g.k AS DOUBLE)))', 6)} AS psi_contrib
FROM c JOIN g ON g.event_type = c.event_type
"""


@register(
    "quality_psi_drift",
    _psi_oracle(),
    doc="Population stability index between the first and second time "
    "halves of the event stream, per event type: value distributions "
    "bucket into 10 pinned-width bins (integer floor arithmetic — no "
    "data-dependent quantile edges, so bucketing is bit-exact), and "
    "each bucket contributes (p_cur - p_ref) * ln(p_cur/p_ref) with "
    "Laplace half-count smoothing kept as integer doubled counts (the "
    "fe_woe_encoding rational discipline) — total PSI per type = "
    "SUM(psi_contrib); > 0.2 is the classic retrain/investigate "
    "threshold. The ML-ops drift monitor that catches a feature "
    "distribution shifting between snapshots. Scale: one scan, one "
    "hash aggregate to (type x 10) cells + dimension-sized margins "
    "(the stats_chi2_independence shape); the time split rides in as "
    "a 1-row broadcast.",
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "ts", "value")
    span = ev.agg(
        F.min("ts").alias("t0"), F.max("ts").alias("t1")
    )
    half = F.when(
        F.unix_micros(F.col("ts")) * 2
        <= F.unix_micros(F.col("t0")) + F.unix_micros(F.col("t1")),
        0,
    ).otherwise(1)
    bucket = F.least(
        F.floor(
            F.col("value").cast("double") * _PSI_BUCKETS / _PSI_VMAX
        ).cast("int"),
        F.lit(_PSI_BUCKETS - 1),
    )
    c = (
        ev.crossJoin(span)
        .select("event_type", half.alias("half"), bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
        )
    )
    g = c.groupBy("event_type").agg(
        F.sum("n_ref").cast("bigint").alias("t_ref"),
        F.sum("n_cur").cast("bigint").alias("t_cur"),
        F.count("*").cast("bigint").alias("k"),
    )
    p_cur = (2 * F.col("n_cur") + 1).cast("double") / (
        2 * F.col("t_cur") + F.col("k")
    ).cast("double")
    p_ref = (2 * F.col("n_ref") + 1).cast("double") / (
        2 * F.col("t_ref") + F.col("k")
    ).cast("double")
    return c.join(F.broadcast(g), "event_type").select(
        "event_type",
        "bucket",
        "n_ref",
        "n_cur",
        fpq((p_cur - p_ref) * F.log(p_cur / p_ref), 6).alias(
            "psi_contrib"
        ),
    )


# ---------------------------------------------------------------------------
# quality_t_closeness — the third leg of the k/l/t privacy triad
# ---------------------------------------------------------------------------

_TCL_FP = 1_000_000


_TCL_T_FP = 350_000  # pinned t = 0.35 (total-variation distance)


_TCL_ORACLE = f"""
WITH q AS (
    SELECT c_nationkey,
           CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
           c_mktsegment
    FROM customer
),
gv AS (
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS gcnt FROM q GROUP BY 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM q),
cls AS (
    SELECT c_nationkey, bal_bucket, CAST(COUNT(*) AS BIGINT) AS k
    FROM q GROUP BY 1, 2
),
cv AS (
    SELECT c_nationkey, bal_bucket, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM q GROUP BY 1, 2, 3
),
grid AS (
    SELECT cls.c_nationkey, cls.bal_bucket, cls.k, gv.c_mktsegment,
           gv.gcnt, COALESCE(cv.cnt, 0) AS cnt
    FROM cls CROSS JOIN gv
    LEFT JOIN cv ON cv.c_nationkey = cls.c_nationkey
               AND cv.bal_bucket = cls.bal_bucket
               AND cv.c_mktsegment = gv.c_mktsegment
)
SELECT c_nationkey, bal_bucket, k,
       CAST(SUM(abs(cnt * n.n - gcnt * k)) * {_TCL_FP}
            // (2 * k * n.n) AS BIGINT) AS tvd_fp,
       (CAST(SUM(abs(cnt * n.n - gcnt * k)) * {_TCL_FP}
            // (2 * k * n.n) AS BIGINT) > {_TCL_T_FP}) AS leaking
FROM grid, n
GROUP BY c_nationkey, bal_bucket, k, n.n
"""


@register(
    "quality_t_closeness",
    _TCL_ORACLE,
    doc="t-closeness audit (Li et al. 2007) — completes the privacy "
    "triad with quality_k_anonymity / quality_l_diversity on the SAME "
    "quasi-identifier classes (nation x balance bucket) and sensitive "
    "attribute (market segment): a class can be k-anonymous AND "
    "l-diverse yet still leak when its sensitive-value DISTRIBUTION "
    "diverges from the corpus (e.g. 90/10 where the population is "
    "50/50). Per class, the total-variation distance between the "
    "class and global segment distributions, cross-multiplied to pure "
    "integers (sum |cnt*n - gcnt*k| * 1e6 // (2*k*n) — no float ever "
    "compares) with the pinned t = 0.35 verdict column. The class x "
    "value grid comes from CROSS JOIN against the (sensitive-"
    "cardinality, ~5-row) global value table so absent values count "
    "their full global mass — the term a naive inner join silently "
    "drops. One hash aggregate per grain; output is class-cardinality.",
)
def quality_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0)
        .cast("long")
        .alias("bal_bucket"),
        "c_mktsegment",
    )

    # n rides WITH the segment table (unpartitioned window over the
    # ~5-row aggregate) so the grid needs ONE bounded broadcast, not a
    # second scalar one
    gv = (
        q.groupBy("c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("gcnt"))
        .withColumn(
            "n", F.sum("gcnt").over(W.partitionBy()).cast("bigint")
        )
    )
    cls = q.groupBy("c_nationkey", "bal_bucket").agg(
        F.count("*").cast("bigint").alias("k")
    )
    cv = q.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    grid = (
        cls.crossJoin(F.broadcast(gv))
        .join(cv, ["c_nationkey", "bal_bucket", "c_mktsegment"], "left")
        .select(
            "c_nationkey",
            "bal_bucket",
            "k",
            "n",
            "gcnt",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    tvd = F.expr(
        f"sum(abs(cnt * n - gcnt * k)) * {_TCL_FP} DIV (2 * k * n)"
    ).cast("bigint")
    return (
        grid.groupBy("c_nationkey", "bal_bucket", "k", "n")
        .agg(tvd.alias("tvd_fp"))
        .select(
            "c_nationkey",
            "bal_bucket",
            "k",
            "tvd_fp",
            (F.col("tvd_fp") > _TCL_T_FP).alias("leaking"),
        )
    )


# ---------------------------------------------------------------------------
# quality_dp_count_release — deterministic differential-privacy release
# ---------------------------------------------------------------------------

_DP_EPS_NUM, _DP_EPS_DEN = 1, 2  # epsilon = 0.5 -> Laplace scale b = 2


_DP_U_DEN = 1 << 52  # dyadic uniform: (h % 2^52) / 2^52 is exact


def _dp_release_oracle() -> str:
    h = content_hash64_sql("'dp:' || CAST(c_nationkey AS VARCHAR)")
    b = f"({_DP_EPS_DEN}.0 / {_DP_EPS_NUM}.0)"
    u = f"(CAST({h} % {_DP_U_DEN} AS DOUBLE) / {_DP_U_DEN}.0)"
    v = f"({u} - 0.5)"
    noise = (
        f"(-{b} * (CASE WHEN {v} >= 0 THEN 1.0 ELSE -1.0 END)"
        f" * ln(greatest(1.0 - 2.0 * abs({v}), 1e-12)))"
    )
    return f"""
WITH c AS (
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_true
    FROM customer GROUP BY 1
)
SELECT c_nationkey, n_true,
       {fpq_sql(noise, 6)} AS noise,
       {fpq_sql(f'CAST(n_true AS DOUBLE) + {noise}', 6)} AS n_noisy
FROM c
"""


@register(
    "quality_dp_count_release",
    _dp_release_oracle(),
    doc="Differentially-private count release (epsilon = 0.5 Laplace "
    "mechanism, sensitivity-1 counting query) — the RELEASE side of "
    "the privacy family (k/l/t audit what a table leaks; this is how "
    "an engine publishes aggregate counts with a formal guarantee). "
    "The Laplace draw is DETERMINISTIC with zero RNG state: the "
    "uniform is the dyadic (md5 % 2^52)/2^52 of the group key (exact "
    "in double — numerator < 2^52, denominator a power of two) pushed "
    "through the inverse CDF -b*sign(v)*ln(1-2|v|), the repo's "
    "hash-not-rng rule applied to noise (NOTE: a production DP "
    "deployment must key the hash with a SECRET salt and fresh "
    "release id — a public deterministic draw is auditable, which is "
    "what an ORACLE needs and a privacy release must avoid; the "
    "mechanism and calibration are what this entry verifies). ln is "
    "the fn_math_suite-licensed transcendental, epsilon-guarded at "
    "the u->0 pole, fpq-quantized. One hash aggregate + pure "
    "projection.",
)
def quality_dp_count_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_true"))
    )
    h = content_hash64(
        F.concat(F.lit("dp:"), F.col("c_nationkey").cast("string"))
    )
    u = (h % F.lit(_DP_U_DEN)).cast("double") / F.lit(float(_DP_U_DEN))
    v = u - F.lit(0.5)
    b = F.lit(float(_DP_EPS_DEN) / float(_DP_EPS_NUM))
    noise = (
        -b
        * F.when(v >= 0, F.lit(1.0)).otherwise(F.lit(-1.0))
        * F.log(
            F.greatest(
                F.lit(1.0) - F.lit(2.0) * F.abs(v), F.lit(1e-12)
            )
        )
    )
    return c.select(
        "c_nationkey",
        "n_true",
        fpq(noise, 6).alias("noise"),
        fpq(F.col("n_true").cast("double") + noise, 6).alias("n_noisy"),
    )
