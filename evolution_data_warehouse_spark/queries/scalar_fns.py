"""Scalar and user-defined function operators (SURVEY.md §2.8) as
registry queries: ``fn_*``, ``geo_*``, ``udf_*``, ``udtf_*`` and
``pandas_*``.

The ``fn_*`` queries are JVM-side `pyspark.sql.functions` compositions —
no Python UDFs — so every expression stays inside whole-stage codegen;
the ``udf``/``udtf``/``pandas`` entries exercise the Python extension
points on purpose.
"""

from __future__ import annotations

import math
import os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.functions import udtf

from evolution_data_warehouse_spark.operators.rls import secured
from evolution_data_warehouse_spark.operators.textops import (
    lower_tokens,
    lower_tokens_sql,
)
from evolution_data_warehouse_spark.queries.common import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    scratch,
    t,
)
from evolution_data_warehouse_spark.sources.staging import load_table, TableSpec


@register(
    "fn_zfill",
    "SELECT n_nationkey, lpad(CAST(n_nationkey AS VARCHAR), 2, '0') AS nation_code "
    "FROM nation",
    doc="Zero-pad codes to width 2 ('2'→'02'). Ref: notebook cell 4; "
    "load_facts.py:134-136,303,355.",
)
def fn_zfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.lpad(F.col("n_nationkey").cast("string"), 2, "0").alias("nation_code"),
    )


_GEO_PATTERN = r"(\d+)-([A-Z]+)-(.+)"


_REGEX_ORACLE = f"""
WITH g AS (
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS VARCHAR) || '-DEP-' ||
           lpad(CAST(o_custkey % 100 AS VARCHAR), 2, '0') AS geo_id
    FROM orders
)
SELECT o_orderkey, geo_id,
       regexp_extract(geo_id, '{_GEO_PATTERN}', 1) AS geo_reference_year,
       regexp_extract(geo_id, '{_GEO_PATTERN}', 2) AS geo_level_code,
       regexp_extract(geo_id, '{_GEO_PATTERN}', 3) AS geo_code
FROM g
"""


@register(
    "fn_regex_extract",
    _REGEX_ORACLE,
    doc="Parse geo_id '2024-DEP-02' → (year, level, code) via regex groups. "
    "Ref: notebook cell 4 (enrich_geo_columns).",
)
def fn_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat(
            F.year("o_orderdate").cast("string"),
            F.lit("-DEP-"),
            F.lpad((F.col("o_custkey") % 100).cast("string"), 2, "0"),
        ).alias("geo_id"),
    )
    return g.select(
        "o_orderkey",
        "geo_id",
        F.regexp_extract("geo_id", _GEO_PATTERN, 1).alias("geo_reference_year"),
        F.regexp_extract("geo_id", _GEO_PATTERN, 2).alias("geo_level_code"),
        F.regexp_extract("geo_id", _GEO_PATTERN, 3).alias("geo_code"),
    )


@register(
    "fn_cast_numeric",
    "SELECT l_orderkey, l_linenumber, "
    "TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE) AS qty_recast, "
    "TRY_CAST(l_returnflag AS DOUBLE) AS flag_cast FROM lineitem",
    doc="Tolerant numeric coercion (pandas errors='coerce' ↔ try_cast: "
    "non-numeric → NULL, never an error even under ANSI mode). Ref: "
    "notebook cell 4; load_facts.py:125-127,302.",
)
def fn_cast_numeric(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("string").try_cast("double").alias("qty_recast"),
        F.col("l_returnflag").try_cast("double").alias("flag_cast"),
    )


@register(
    "fn_case_when",
    "SELECT o_orderkey, CASE WHEN o_totalprice > 50000.0 THEN 'HIGH' "
    "WHEN o_totalprice > 10000.0 THEN 'MED' ELSE 'LOW' END AS price_band "
    "FROM orders",
    doc="CASE WHEN guards / status labels. Ref: 005:29-34; 010:548-551.",
)
def fn_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 50000.0, "HIGH")
        .when(F.col("o_totalprice") > 10000.0, "MED")
        .otherwise("LOW")
        .alias("price_band"),
    )


_COALESCE_ORACLE = f"""
SELECT o_orderkey, COALESCE(big_qty, 0.0) AS big_qty_filled
FROM orders LEFT JOIN (
    SELECT l_orderkey, {dsum_sql('l_quantity')} AS big_qty
    FROM lineitem WHERE l_quantity > 45 GROUP BY l_orderkey
) li ON o_orderkey = l_orderkey
"""


@register(
    "fn_coalesce",
    _COALESCE_ORACLE,
    doc="ISNULL(x, y) defaults after an outer join. Ref: 010:168-170,239; "
    "011:319,328.",
)
def fn_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = t(spark, sf_dir, "orders")
    big = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("big_qty"))
    )
    return orders.join(big, orders.o_orderkey == big.l_orderkey, "left").select(
        "o_orderkey", F.coalesce("big_qty", F.lit(0.0)).alias("big_qty_filled")
    )


_NULLIF_ORACLE = f"""
SELECT l_returnflag,
       {dsum_sql('l_extendedprice * l_discount', 4)}
       / NULLIF({dsum_sql('l_quantity')}, 0.0) AS discount_per_unit
FROM lineitem GROUP BY l_returnflag
"""


@register(
    "fn_nullif",
    _NULLIF_ORACLE,
    doc="NULLIF(SUM(x), 0) divide-by-zero guard — ANSI-mode safe. Ref: "
    "005_create_datamarts.sql:248.",
)
def fn_nullif(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            (
                dsum(F.col("l_extendedprice") * F.col("l_discount"), 4)
                / F.nullif(dsum("l_quantity"), F.lit(0.0))
            ).alias("discount_per_unit")
        )
    )


@register(
    "fn_current_ts",
    "SELECT r_regionkey, r_name, TRUE AS has_load_ts, TRUE AS ts_is_recent "
    "FROM region",
    doc="GETDATE() load timestamps. Ref: 002:23-24; 010:222-225. The raw "
    "value is wall-clock, so the checked projection keeps "
    "current_timestamp() in the plan but asserts deterministic facts about "
    "it (non-null, after the epoch of this repo's creation) that any "
    "correct clock satisfies.",
)
def fn_current_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    now = F.current_timestamp()
    return t(spark, sf_dir, "region").select(
        "r_regionkey",
        "r_name",
        now.isNotNull().alias("has_load_ts"),
        (now > F.lit("2024-01-01").cast("timestamp")).alias("ts_is_recent"),
    )


_DATEDIFF_ORACLE = """
SELECT user_id,
       CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS INT)
           AS active_days,
       CAST(floor((epoch(date_trunc('second', MAX(ts)))
                   - epoch(date_trunc('second', MIN(ts)))) / 3600) AS BIGINT)
           AS active_hours
FROM events GROUP BY user_id
"""


@register(
    "fn_datediff",
    _DATEDIFF_ORACLE,
    doc="DATEDIFF(HOUR/DAY, a, b) — error age / session duration. Ref: "
    "008:203; 011:365. Hours computed on second-truncated epochs so both "
    "engines agree on sub-second inputs.",
)
def fn_datediff(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts")
    )
    return g.select(
        "user_id",
        F.datediff(F.col("last_ts").cast("date"), F.col("first_ts").cast("date"))
        .cast("int")
        .alias("active_days"),
        F.floor(
            (
                F.unix_timestamp(F.date_trunc("second", F.col("last_ts")))
                - F.unix_timestamp(F.date_trunc("second", F.col("first_ts")))
            )
            / F.lit(3600)
        ).alias("active_hours"),
    )


@register(
    "fn_dateadd",
    "SELECT o_orderkey, CAST(o_orderdate AS DATE) + 7 AS due_date, "
    "CAST(o_orderdate AS DATE) - 7 AS reminder_date FROM orders",
    doc="DATEADD(DAY, ±7, d) recency windows. Ref: "
    "docs/E6_MAINTENANCE_METHODOLOGY.md:210; 010:449,456.",
)
def fn_dateadd(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = F.col("o_orderdate").cast("date")
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.date_add(d, 7).alias("due_date"),
        F.date_sub(d, 7).alias("reminder_date"),
    )


@register(
    "fn_date_format",
    "SELECT strftime(ts, '%Y-%m') AS month, COUNT(*) AS n_events "
    "FROM events GROUP BY strftime(ts, '%Y-%m')",
    doc="FORMAT(date, 'yyyy-MM') month bucketing. Ref: "
    "docs/E6_MAINTENANCE_METHODOLOGY.md:270; 008:173.",
)
def fn_date_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(F.date_format("ts", "yyyy-MM").alias("month"))
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "fn_concat",
    "SELECT o_orderkey, concat_ws('-', o_orderpriority, o_orderstatus) AS label "
    "FROM orders",
    doc="String concatenation for labels (prenom + ' ' + nom). Ref: "
    "011:305,355; 010:255-257.",
)
def fn_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.concat_ws("-", "o_orderpriority", "o_orderstatus").alias("label"),
    )


@register(
    "fn_round_arith",
    "SELECT o_orderkey, floor(o_totalprice / 1024.0 * 100.0 + 0.5) / 100.0 "
    "AS price_kb, o_totalprice * 100.0 AS price_cents FROM orders",
    doc="ROUND / division / scaling arithmetic. Ref: 007:193-194; 009:50. "
    "Half-up rounding is spelled floor(x*100+0.5)/100 — pure IEEE ops — "
    "because engine-native round() disagrees across engines at double "
    "representation boundaries (Spark rounds the shortest decimal repr, "
    "DuckDB the binary value).",
)
def fn_round_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.floor(F.col("o_totalprice") / 1024.0 * 100.0 + 0.5) / 100.0).alias(
            "price_kb"
        ),
        (F.col("o_totalprice") * 100.0).alias("price_cents"),
    )


@register(
    "fn_ascii_fold",
    "SELECT n_nationkey, strip_accents('Crédit Régional ' || n_name) AS folded "
    "FROM nation",
    doc="Accent stripping for login generation (unicodedata.NFKD). Ref: "
    "load_security.py:108-116. JVM-side translate — no UDF needed for a "
    "known accent map.",
)
def fn_ascii_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    accents = "àâäéèêëîïôöùûüçÀÂÄÉÈÊËÎÏÔÖÙÛÜÇ"
    plain = "aaaeeeeiioouuucAAAEEEEIIOOUUUC"
    return t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.translate(
            F.concat(F.lit("Crédit Régional "), F.col("n_name")), accents, plain
        ).alias("folded"),
    )


@register(
    "fn_array_join",
    "SELECT doc_id, array_to_string(list_slice(str_split(text, ' '), 1, 5), ',') "
    "AS first_tokens FROM documents",
    doc="Array → delimited string (postal codes → CSV). Ref: notebook cell 8 "
    "(','.join(codes_postaux)).",
)
def fn_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(",", F.slice(F.split("text", " "), 1, 5)).alias("first_tokens"),
    )


@register(
    "fn_explode",
    "SELECT token, COUNT(*) AS n FROM ("
    "SELECT unnest(str_split(text, ' ')) AS token FROM documents) "
    "GROUP BY token",
    doc="Array → rows (bridge table from codes_postaux). Ref: notebook "
    "cell 9 (.explode).",
)
def fn_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )


@register(
    "fn_json_serialize",
    "SELECT n_nationkey, to_json(struct_pack(id := n_nationkey, name := n_name)) "
    "AS payload FROM nation",
    doc="dict → JSON string before persistence (GeoJSON contours). Ref: "
    "export_to_sql.py:167-171; notebook cell 8.",
)
def fn_json_serialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "nation").select(
        "n_nationkey",
        F.to_json(
            F.struct(
                F.col("n_nationkey").alias("id"), F.col("n_name").alias("name")
            )
        ).alias("payload"),
    )


@register(
    "fn_struct_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_value "
    "FROM events",
    doc="Pull nested fields out of JSON/struct payloads (centre.coordinates). "
    "Ref: fetch_communes.py:162-177.",
)
def fn_struct_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k_value"),
    )


@register(
    "fn_derived_measure",
    "SELECT l_orderkey, l_linenumber, "
    "l_extendedprice * (1 - l_discount) AS net_price, "
    "l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge "
    "FROM lineitem",
    doc="Computed persisted measures (solde_naturel = naissances - deces). "
    "Ref: 003_create_facts.sql:61; load_facts.py:615-617. Per-row IEEE "
    "double arithmetic — bit-identical across engines.",
)
def fn_derived_measure(spark: SparkSession, sf_dir: str) -> DataFrame:
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        net.alias("net_price"),
        (net * (1 + F.col("l_tax"))).alias("charge"),
    )


_TRY_CAST_ORACLE = """
SELECT doc_id,
       TRY_CAST(CASE WHEN regexp_matches(split_part(text, ' ', 1), '^-?[0-9]+$')
                     THEN split_part(text, ' ', 1) END AS INT)
           AS first_token_as_int,
       TRY_CAST(CASE WHEN doc_id % 3 = 0 THEN CAST(n_chars AS VARCHAR)
                     ELSE lang END AS INT) AS mixed_as_int,
       TRY_CAST(CAST(n_chars AS VARCHAR) AS BIGINT) AS n_chars_roundtrip
FROM documents
"""


@register(
    "fn_try_cast",
    _TRY_CAST_ORACLE,
    doc="Safe casting (try_cast): malformed input yields NULL instead "
    "of failing the job — the ingestion-hardening behavior that "
    "matters under ANSI mode, where a single bad cell would otherwise "
    "kill a 100 TB load. Three shapes: never-numeric text (all NULL), "
    "a genuinely mixed column (integer strings succeed, language codes "
    "null out — integer strings deliberately, since Spark truncates "
    "and DuckDB rounds decimal strings cast to INT), and a round trip "
    "that always succeeds. The first-token cast is gated by an "
    "integer-only regexp on BOTH sides so a decimal-looking token in a "
    "future testdata refresh cannot trip the truncate-vs-round "
    "divergence — the gate, not the data, carries the parity.",
)
def fn_try_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    raw_tok = F.split(F.col("text"), " ").getItem(0)
    first_tok = F.when(raw_tok.rlike(r"^-?[0-9]+$"), raw_tok)
    mixed = F.when(
        F.col("doc_id") % 3 == 0, F.col("n_chars").cast("string")
    ).otherwise(F.col("lang"))
    return docs.select(
        "doc_id",
        first_tok.try_cast("int").alias("first_token_as_int"),
        mixed.try_cast("int").alias("mixed_as_int"),
        F.col("n_chars")
        .cast("string")
        .try_cast("bigint")
        .alias("n_chars_roundtrip"),
    )


_EXPLODE_OUTER_ORACLE = f"""
WITH toks AS (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN []
                ELSE {lower_tokens_sql('text')}[1:3] END AS head_toks
    FROM documents
)
SELECT doc_id, t.tok
FROM toks LEFT JOIN LATERAL (
    SELECT unnest(head_toks) AS tok
) AS t ON TRUE
"""


@register(
    "fn_explode_outer",
    _EXPLODE_OUTER_ORACLE,
    doc="explode_outer: rows with EMPTY arrays survive as a NULL row "
    "instead of disappearing — the difference between 'tokenize and "
    "keep every document' and silently losing empty ones (plain "
    "explode's trap in a corpus pipeline). Empty arrays synthesized "
    "deterministically on one doc in five.",
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.when(
        F.col("doc_id") % 5 == 0, F.array().cast("array<string>")
    ).otherwise(F.slice(lower_tokens("text"), 1, 3))
    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", toks.alias("head_toks"))
        .select("doc_id", F.explode_outer("head_toks").alias("tok"))
    )


@register(
    "udtf_rls_predicate",
    "SELECT c_custkey, c_name, c_nationkey FROM customer "
    "WHERE c_nationkey IN (1, 2)",
    doc="Row-level security predicate as a view factory — the scoped-user "
    "branch. Ref: 011_security_rls.sql:165-214. The unregistered-user and "
    "NULL-grant branches are covered behaviorally in tests/test_rls.py.",
)
def udtf_rls_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    zones = spark.createDataFrame(
        [("analyst_a", 1), ("analyst_a", 2), ("manager", None)],
        schema="login string, scope int",
    )
    dim = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    return secured(dim, zones, "analyst_a", "c_nationkey")


_ZSCORE_ORACLE = """
WITH g AS (
    SELECT source, COUNT(*) AS n,
           SUM(n_chars) AS s, SUM(n_chars * n_chars) AS ss
    FROM documents GROUP BY source
)
SELECT doc_id, d.source,
       CASE WHEN n > 1 AND (n * ss - s * s) > 0 THEN
            (CAST(n_chars AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            / sqrt(CAST(n * ss - s * s AS DOUBLE)
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       END AS z
FROM documents d JOIN g USING (source)
"""


@register(
    "pandas_zscore",
    _ZSCORE_ORACLE,
    doc="Grouped applyInPandas operator (per-source z-score of document "
    "length). Statistics come from exact integer sums so the Arrow "
    "round-trip is bit-deterministic — the pattern for any custom "
    "per-group pandas op that must stay reproducible.",
)
def pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        s = int(pdf["n_chars"].sum())
        ss = int((pdf["n_chars"].astype("int64") ** 2).sum())
        num = n * ss - s * s
        if n > 1 and num > 0:
            mean = float(s) / float(n)
            std = math.sqrt(float(num) / (float(n) * float(n)))
            z = (pdf["n_chars"].astype("float64") - mean) / std
        else:
            z = pd.Series([None] * n, dtype="float64")
        return pd.DataFrame(
            {"doc_id": pdf["doc_id"], "source": pdf["source"], "z": z}
        )

    return (
        t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .groupBy("source")
        .applyInPandas(per_group, "doc_id long, source string, z double")
    )


_XFORM_ORACLE = """
SELECT r_regionkey, r_name, concat('R-', r_name) AS region_label,
       'region.csv' AS source_file, 'region_spec' AS dataset
FROM region
"""


@register(
    "udf_extra_transform",
    _XFORM_ORACLE,
    doc="Pluggable per-table DataFrame→DataFrame transform hook in the "
    "staging pipeline (a plan hook, not a row UDF). Ref: notebook cell 4 "
    "(TableSpec.extra_transform).",
)
def udf_extra_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("udf_extra_transform", sf_dir)
    t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    csv_file = next(
        os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".csv")
    )
    # Stable lineage name regardless of Spark's part-file naming.
    stable = os.path.join(path, "region.csv")
    if csv_file != stable:
        os.replace(csv_file, stable)
    spec = TableSpec(
        name="region_spec",
        source_path=stable,
        dtype_overrides={"r_regionkey": "int"},
        extra_transform=lambda df: df.withColumn(
            "region_label", F.concat(F.lit("R-"), F.col("r_name"))
        ),
    )
    return load_table(spark, spec)


_UNPIVOT_ORACLE = """
SELECT c_custkey, measure_name, measure_value FROM (
    SELECT c_custkey,
           CAST(c_acctbal AS DOUBLE) AS acctbal,
           CAST(c_nationkey AS DOUBLE) AS nationkey
    FROM customer
) UNPIVOT (measure_value FOR measure_name IN (acctbal, nationkey))
"""


@register(
    "fn_unpivot",
    _UNPIVOT_ORACLE,
    doc="Wide→long unpivot (the inverse of agg_pivot; stack()/unpivot).",
)
def fn_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").cast("double").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    )
    return wide.unpivot(
        "c_custkey", ["acctbal", "nationkey"], "measure_name", "measure_value"
    )


@register(
    "fn_map_ops",
    "SELECT event_id, "
    "CAST(json_extract_string(props, '$.k') AS INT) AS k_value, "
    "CAST(len(json_keys(props)) AS INT) AS n_keys FROM events",
    doc="Map/JSON payload operators: parse to a typed map, element "
    "access, key cardinality (the props column as map<string,int>).",
)
def fn_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = F.from_json("props", "map<string,int>")
    return t(spark, sf_dir, "events").select(
        "event_id",
        F.element_at(m, "k").alias("k_value"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@register(
    "fn_string_suite",
    "SELECT o_orderkey, trim(o_orderpriority) AS pri_trim, "
    "upper(o_orderstatus) AS status_up, lower(o_orderpriority) AS pri_low, "
    "substr(o_orderpriority, 1, 1) AS pri_code, "
    "CAST(length(o_orderpriority) AS INT) AS pri_len, "
    "replace(o_orderpriority, '-', '_') AS pri_norm, "
    "CAST(strpos(o_orderpriority, '-') AS INT) AS dash_pos "
    "FROM orders",
    doc="String-function suite: trim/upper/lower/substr/length/replace/"
    "position — the remaining §2.8 scalar surface in one pass.",
)
def fn_string_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.trim("o_orderpriority").alias("pri_trim"),
        F.upper("o_orderstatus").alias("status_up"),
        F.lower("o_orderpriority").alias("pri_low"),
        F.substring("o_orderpriority", 1, 1).alias("pri_code"),
        F.length("o_orderpriority").alias("pri_len"),
        F.replace(
            F.col("o_orderpriority"), F.lit("-"), F.lit("_")
        ).alias("pri_norm"),
        F.instr(F.col("o_orderpriority"), "-").alias("dash_pos"),
    )


@register(
    "fn_date_trunc",
    """
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month_start,
           event_type,
           COUNT(*) AS n
    FROM events
    GROUP BY CAST(date_trunc('month', ts) AS DATE), event_type
    """,
    doc="Calendar-bucket rollup: date_trunc to month + hash aggregate "
    "— the time-series downsampling shape (hour/day/month all share "
    "this plan: truncation is computed in the scan, the aggregate "
    "combines map-side).",
)
def fn_date_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "events")
        .groupBy(
            F.to_date(F.date_trunc("month", F.col("ts"))).alias("month_start"),
            "event_type",
        )
        .agg(F.count("*").alias("n"))
    )


@register(
    "fn_array_ops",
    f"""
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_toks,
           array_to_string(toks[1:3], '-') AS first3,
           CAST(COALESCE(list_position(toks, 'the'), 0) AS INT) AS pos_the,
           list_sort(toks)[1] AS min_tok
    FROM (SELECT doc_id, {lower_tokens_sql('text')} AS toks FROM documents)
    """,
    doc="Array-function suite over tokenized text: size, slice, "
    "position lookup, sorted head — the §2.8-adjacent collection "
    "surface, all JVM-side column expressions.",
)
def fn_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = lower_tokens("text")
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
        F.array_position(toks, "the").cast("int").alias("pos_the"),
        F.element_at(F.array_sort(toks), 1).alias("min_tok"),
    )


# Five hub coordinates, shared verbatim by engine and oracle.
_GEO_HUBS = [
    ("paris", 48.85, 2.35),
    ("lyon", 45.76, 4.84),
    ("lille", 50.63, 3.07),
    ("bordeaux", 44.84, -0.58),
    ("marseille", 43.30, 5.37),
]


def _geo_oracle() -> str:
    hub_rows = " UNION ALL ".join(
        f"SELECT '{n}' AS hub, CAST({la} AS DOUBLE) AS hlat, "
        f"CAST({lo} AS DOUBLE) AS hlon"
        for n, la, lo in _GEO_HUBS
    )
    hav = (
        "2.0 * 6371.0 * asin(sqrt("
        "sin(radians(hlat - lat) / 2) * sin(radians(hlat - lat) / 2) "
        "+ cos(radians(lat)) * cos(radians(hlat)) "
        "* sin(radians(hlon - lon) / 2) * sin(radians(hlon - lon) / 2)))"
    )
    return f"""
WITH sites AS (
    SELECT s_suppkey,
           41.0 + (s_suppkey * 37 % 1000) / 100.0 AS lat,
           -5.0 + (s_suppkey * 91 % 1300) / 100.0 AS lon
    FROM supplier
),
hubs AS ({hub_rows}),
dists AS (
    SELECT s_suppkey, hub, {hav} AS km FROM sites CROSS JOIN hubs
),
nearest AS (
    SELECT s_suppkey, hub, km FROM (
        SELECT s_suppkey, hub, km,
               ROW_NUMBER() OVER (
                   PARTITION BY s_suppkey ORDER BY km, hub
               ) AS rn
        FROM dists
    ) WHERE rn = 1
)
SELECT hub, COUNT(*) AS n_suppliers,
       {fpq_sql(davg_sql('km', 6), 4)} AS avg_km
FROM nearest GROUP BY hub
"""


@register(
    "geo_nearest_hub",
    _geo_oracle(),
    doc="Geo nearest-neighbor assignment: each supplier site (synthetic "
    "deterministic lat/lon from its key — the testdata has no "
    "coordinates; the projection formula is shared with the oracle) "
    "joins the 5-row hub table (broadcast), haversine in pure column "
    "expressions, per-site argmin fully tie-broken by hub name. The "
    "nearest-hub margins are ≥0.3 km at every tested scale — 12 "
    "orders above cross-libm trig ulp noise — and the reported mean "
    "distance is decimal-summed and fixed-point-quantized, so the "
    "assignment and the report are both engine-stable.",
)
def geo_nearest_hub(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (41.0 + (F.col("s_suppkey") * 37 % 1000) / 100.0).alias("lat"),
        (-5.0 + (F.col("s_suppkey") * 91 % 1300) / 100.0).alias("lon"),
    )
    hubs = spark.createDataFrame(_GEO_HUBS, "hub string, hlat double, hlon double")
    dlat = F.radians(F.col("hlat") - F.col("lat")) / 2
    dlon = F.radians(F.col("hlon") - F.col("lon")) / 2
    a = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(F.col("lat")))
        * F.cos(F.radians(F.col("hlat")))
        * F.sin(dlon)
        * F.sin(dlon)
    )
    km = 2.0 * 6371.0 * F.asin(F.sqrt(a))
    dists = supp.crossJoin(F.broadcast(hubs)).select(
        "s_suppkey", "hub", km.alias("km")
    )
    w = W.partitionBy("s_suppkey").orderBy(F.asc("km"), F.asc("hub"))
    nearest = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return nearest.groupBy("hub").agg(
        F.count("*").alias("n_suppliers"),
        fpq(davg("km", 6), 4).alias("avg_km"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization (web-corpus dedup prerequisite)
# ---------------------------------------------------------------------------

# The testdata has no URL column; synthesize a deliberately messy URL
# per doc (upper-case scheme/host, www, default port, utm_* params,
# fragment) and canonicalize it. The operator is the regex pipeline —
# identical patterns on both sides.
URL_RAW_SQL = (
    "'HTTPS://WWW.' || source || '.Example.COM:443/Docs/' || doc_id"
    " || '?utm_source=feed&id=' || doc_id"
    " || '&utm_campaign=c' || (doc_id % 7)"
    " || '&ref=kept#sec' || (doc_id % 5)"
)


_URL_ORACLE = f"""
WITH raw AS (SELECT doc_id, {URL_RAW_SQL} AS url FROM documents),
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
# fn_levenshtein — edit-distance matching against a pinned canon list
# ---------------------------------------------------------------------------

# Pinned catalog-canon names the fuzzy matcher resolves against. The
# list is a LITERAL (never derived from data) so the match target set —
# and the CASE tie-break order below — is identical on both engines and
# at every scale.
_LEV_CANON = (
    "small widget",
    "large bolt",
    "green gear",
    "shiny gadget",
    "cold pump",
    "round flange",
)


def _lev_oracle() -> str:
    d_exprs = ",\n           ".join(
        f"levenshtein(lower(p_name), '{c}') AS d{i}"
        for i, c in enumerate(_LEV_CANON)
    )
    least = "least(" + ", ".join(f"d{i}" for i in range(len(_LEV_CANON))) + ")"
    case = " ".join(
        f"WHEN d{i} = best_d THEN '{c}'"
        for i, c in enumerate(_LEV_CANON)
    )
    return f"""
WITH dists AS (
    SELECT p_partkey,
           {d_exprs}
    FROM part
),
best AS (
    SELECT p_partkey, {least} AS best_d FROM dists
),
pick AS (
    SELECT d.p_partkey, b.best_d,
           CASE {case} END AS canon
    FROM dists d JOIN best b ON b.p_partkey = d.p_partkey
)
SELECT canon, best_d, CAST(COUNT(*) AS BIGINT) AS n_parts
FROM pick GROUP BY canon, best_d
"""


@register(
    "fn_levenshtein",
    _lev_oracle(),
    doc="Edit-distance fuzzy matching of part names against a pinned "
    "6-entry catalog-canon list (the record-linkage primitive next to "
    "dedup_fuzzy_names): per part, levenshtein() to each canon, best "
    "match = min distance with ties broken by the canon list's pinned "
    "order (a CASE chain — never a data-dependent argmin), then a "
    "(canon, distance) histogram. The canon side is a literal inside "
    "the expression — NO join, NO broadcast: the whole match is one "
    "shuffle-free scan plus a tiny hash aggregate, linear at 100 TB. "
    "levenshtein() is exact integer DP on both engines.",
)
def fn_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = t(spark, sf_dir, "part").select("p_partkey", "p_name")
    name = F.lower(F.col("p_name"))
    dists = [
        F.levenshtein(name, F.lit(c)).alias(f"d{i}")
        for i, c in enumerate(_LEV_CANON)
    ]
    df = p.select("p_partkey", *dists)
    best = F.least(*[F.col(f"d{i}") for i in range(len(_LEV_CANON))])
    df = df.withColumn("best_d", best)
    # CASE chain in pinned canon order — first match wins, mirroring
    # the oracle's WHEN order exactly.
    canon: Column | None = None
    for i, c in enumerate(_LEV_CANON):
        cond = F.col(f"d{i}") == F.col("best_d")
        canon = (
            F.when(cond, F.lit(c))
            if canon is None
            else canon.when(cond, F.lit(c))
        )
    return (
        df.select(canon.alias("canon"), "best_d")
        .groupBy("canon", "best_d")
        .agg(F.count("*").cast("bigint").alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# fn_bitwise_ops — bitwise scalar + aggregate suite
# ---------------------------------------------------------------------------

# 28-bit mask keeps every shifted value far below int64 overflow, which
# DuckDB raises on (Spark would silently wrap — masking first makes the
# question moot on both engines).
_BIT_MASK = (1 << 28) - 1


_BITWISE_ORACLE = f"""
WITH b AS (
    SELECT o_orderpriority,
           ((o_orderkey & {_BIT_MASK}) << 3) AS shifted,
           (o_orderkey >> 2) AS rshift,
           xor(o_orderkey, 1442695040888963407) AS mixed,
           CAST(bit_count(o_orderkey) AS BIGINT) AS pops,
           (o_orderkey & 255) AS low8
    FROM orders
)
SELECT o_orderpriority,
       CAST(bit_xor(shifted) AS BIGINT) AS xor_fold,
       CAST(bit_or(low8) AS BIGINT) AS or_low8,
       CAST(bit_and(mixed | 4095) AS BIGINT) AS and_mixed,
       CAST(SUM(pops) AS BIGINT) AS sum_popcount,
       CAST(SUM(rshift) AS BIGINT) AS sum_rshift
FROM b GROUP BY o_orderpriority
"""


@register(
    "fn_bitwise_ops",
    _BITWISE_ORACLE,
    doc="Bitwise scalar + aggregate suite (&, |, xor, shifts, "
    "bit_count scalars; bit_xor/bit_or/bit_and aggregates) — the "
    "bitmap/flag-word toolbox behind agg_bitmap_presence and every "
    "hash-mixing operator in the repo, exercised end-to-end as its "
    "own entry. All values are masked to 28 bits BEFORE shifting so "
    "no engine can overflow int64 (DuckDB raises, Spark wraps — the "
    "mask makes both moot). Pure integer arithmetic, one map-side "
    "combinable hash aggregate: bit-identical and linear at any "
    "scale.",
)
def fn_bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    k = F.col("o_orderkey")
    b = o.select(
        "o_orderpriority",
        F.shiftleft(k.bitwiseAND(F.lit(_BIT_MASK)), 3).alias("shifted"),
        F.shiftright(k, 2).alias("rshift"),
        k.bitwiseXOR(F.lit(1442695040888963407)).alias("mixed"),
        F.bit_count(k).cast("bigint").alias("pops"),
        k.bitwiseAND(F.lit(255)).alias("low8"),
    )
    return b.groupBy("o_orderpriority").agg(
        F.expr("bit_xor(shifted)").cast("bigint").alias("xor_fold"),
        F.expr("bit_or(low8)").cast("bigint").alias("or_low8"),
        F.expr("bit_and(mixed | 4095)").cast("bigint").alias("and_mixed"),
        F.sum("pops").cast("bigint").alias("sum_popcount"),
        F.sum("rshift").cast("bigint").alias("sum_rshift"),
    )


# ---------------------------------------------------------------------------
# udtf_sentence_stats — genuine Python UDTF (Spark 4 functions.udtf API)
# ---------------------------------------------------------------------------

_SENT_UDTF_ORACLE = """
WITH s AS (
    SELECT doc_id, str_split(COALESCE(text, ''), '. ') AS sents
    FROM documents
)
SELECT doc_id,
       CAST(i - 1 AS INT) AS sent_idx,
       CAST(len(str_split(sents[i], ' ')) AS INT) AS n_tokens,
       CAST(strlen(sents[i]) AS INT) AS n_chars
FROM s, unnest(generate_series(1, len(sents))) t(i)
"""


@register(
    "udtf_sentence_stats",
    _SENT_UDTF_ORACLE,
    doc="Genuine Python UDTF via Spark 4's functions.udtf API (the "
    "table-function extension point, complementing udtf_rls_"
    "predicate's DataFrame-composed form): each document LATERAL-"
    "expands into per-sentence rows with token and byte counts. "
    "Declared with useArrow=True so the plan node is "
    "ArrowEvalPythonUDTF (Arrow-batched — the row-at-a-time "
    "BatchEvalPython serde path stays banned, and "
    "tests/test_plan_invariants.py would catch a silent fallback "
    "because 'BatchEvalPythonUDTF' contains the banned substring). "
    "Byte counts use len(utf-8 bytes) to mirror DuckDB's strlen "
    "exactly — char counts would silently diverge on multibyte "
    "text. Splitting is a pure per-row expansion: zero shuffle, "
    "linear at any scale.",
)
def udtf_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    @udtf(
        returnType="sent_idx int, n_tokens int, n_chars int",
        useArrow=True,
    )
    class SentStats:
        def eval(self, text: str):  # noqa: ANN001 - UDTF contract
            for i, s in enumerate((text or "").split(". ")):
                yield i, len(s.split(" ")), len(s.encode("utf-8"))

    spark.udtf.register("sent_stats", SentStats)
    t(spark, sf_dir, "documents").createOrReplaceTempView(
        "udtf_sentence_docs"
    )
    return spark.sql(
        "SELECT doc_id, s.sent_idx, s.n_tokens, s.n_chars "
        "FROM udtf_sentence_docs, LATERAL sent_stats(text) s"
    )


# ---------------------------------------------------------------------------
# fn_variant_extract — Spark 4 VARIANT semi-structured type
# ---------------------------------------------------------------------------

_VARIANT_ORACLE = """
WITH j AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM j GROUP BY event_type
"""


@register(
    "fn_variant_extract",
    _VARIANT_ORACLE,
    doc="Semi-structured access through Spark 4's VARIANT type: "
    "props parses ONCE into the binary variant encoding "
    "(parse_json), then typed path extraction via variant_get — the "
    "shred-on-read path that replaces per-access JSON string "
    "re-parsing (at 100 TB, parsing each JSON blob once and reading "
    "binary-encoded paths after is the difference between one scan "
    "and one scan per accessed field; VARIANT is also the Parquet "
    "shredding story going forward). The oracle reads the same "
    "values through DuckDB's JSON extraction, so the entry proves "
    "the variant round-trip is value-exact. One hash aggregate per "
    "event type; integer aggregates only.",
)
def fn_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select("event_type", "props")
    v = ev.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.min("k").cast("bigint").alias("min_k"),
        F.max("k").cast("bigint").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# fn_math_suite — cross-engine math-function determinism canary
# ---------------------------------------------------------------------------

_MATH_ORACLE = f"""
WITH x AS (
    SELECT o_orderkey,
           1.0 + CAST(o_orderkey % 97 AS DOUBLE) / 97.0 AS u
    FROM orders
),
m AS (
    SELECT o_orderkey % 5 AS grp,
           {fpq_sql('sqrt(u)', 9)} AS f_sqrt,
           {fpq_sql('ln(u)', 9)} AS f_ln,
           {fpq_sql('exp(u)', 9)} AS f_exp,
           {fpq_sql('log2(u)', 9)} AS f_log2,
           {fpq_sql('pow(u, 3.0)', 9)} AS f_pow,
           {fpq_sql('atan(u)', 9)} AS f_atan
    FROM x
)
SELECT CAST(grp AS BIGINT) AS grp,
       CAST(COUNT(*) AS BIGINT) AS n,
       {dsum_sql('f_sqrt', 9)} AS sum_sqrt,
       {dsum_sql('f_ln', 9)} AS sum_ln,
       {dsum_sql('f_exp', 9)} AS sum_exp,
       {dsum_sql('f_log2', 9)} AS sum_log2,
       {dsum_sql('f_pow', 9)} AS sum_pow,
       {dsum_sql('f_atan', 9)} AS sum_atan
FROM m GROUP BY grp
"""


@register(
    "fn_math_suite",
    _MATH_ORACLE,
    doc="Cross-engine math-function determinism canary: sqrt/ln/exp/"
    "log2/pow/atan over a derived u in [1, 2), each value fixed-point "
    "quantized at 1e-9 PER ROW and only then decimal-summed per "
    "group — the per-term-quantize-then-sum rule (agg_entropy's) "
    "applied to the whole transcendental toolbox. This entry exists "
    "to fail loudly the day an engine upgrade changes a math "
    "library's rounding beyond 1e-9, BEFORE some downstream score "
    "silently drifts: every other query that touches ln/log2/sqrt "
    "leans on the property this one pins. Shuffle-free scan + one "
    "5-group aggregate.",
)
def fn_math_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        F.lit(1.0)
        + (F.col("o_orderkey") % 97).cast("double") / F.lit(97.0)
    )
    m = t(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 5).alias("grp"),
        fpq(F.sqrt(u), 9).alias("f_sqrt"),
        fpq(F.log(u), 9).alias("f_ln"),
        fpq(F.exp(u), 9).alias("f_exp"),
        fpq(F.log2(u), 9).alias("f_log2"),
        fpq(F.pow(u, F.lit(3.0)), 9).alias("f_pow"),
        fpq(F.atan(u), 9).alias("f_atan"),
    )
    return m.groupBy(F.col("grp").cast("bigint").alias("grp")).agg(
        F.count("*").cast("bigint").alias("n"),
        dsum("f_sqrt", 9).alias("sum_sqrt"),
        dsum("f_ln", 9).alias("sum_ln"),
        dsum("f_exp", 9).alias("sum_exp"),
        dsum("f_log2", 9).alias("sum_log2"),
        dsum("f_pow", 9).alias("sum_pow"),
        dsum("f_atan", 9).alias("sum_atan"),
    )


# ---------------------------------------------------------------------------
# fn_try_arithmetic — ANSI-safe arithmetic (try_divide / try_multiply)
# ---------------------------------------------------------------------------

_TRY_MUL = 9_223_372_036_854_775  # x1001 overflows int64


_TRY_ARITH_ORACLE = f"""
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_discount = 0.0 THEN NULL
            ELSE l_extendedprice / l_discount END AS safe_ratio,
       CASE WHEN l_partkey > 9223372036854775807 // {_TRY_MUL} THEN NULL
            ELSE l_partkey * {_TRY_MUL} END AS safe_product
FROM lineitem
"""


@register(
    "fn_try_arithmetic",
    _TRY_ARITH_ORACLE,
    doc="ANSI-safe arithmetic under the driver's default ANSI mode: "
    "try_divide returns NULL on the zero-discount rows (plain `/` "
    "raises DIVIDE_BY_ZERO under ANSI — at 100 TB one bad row kills "
    "the stage 4 hours in) and try_multiply returns NULL where "
    "l_partkey * 9.2e15 would overflow int64 (plain `*` raises "
    "ARITHMETIC_OVERFLOW) — the per-row error-containment siblings "
    "of fn_try_cast, turning data-dependent runtime aborts into "
    "null-routable rows. The oracle states the same semantics as "
    "explicit CASE guards (DuckDB errors rather than nulling, so the "
    "guard IS the cross-engine definition of try_*). Pure "
    "projection, codegen end to end.",
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.try_divide(F.col("l_extendedprice"), F.col("l_discount")).alias(
            "safe_ratio"
        ),
        F.try_multiply(
            F.col("l_partkey"), F.lit(_TRY_MUL).cast("bigint")
        ).alias("safe_product"),
    )
