"""Acquisition-edge operators as registry queries: sources (``src_*``),
sinks (``snk_*``), column profiling (``profile_*``) and the web-crawl
ingestion stages (``web_*``: charset detection, boilerplate removal,
robots.txt and URL filters, frontier builds)."""

from __future__ import annotations

import io
import json
import os
import shutil
import tarfile
import tempfile
from hashlib import md5

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from evolution_data_warehouse_spark.operators.arrow_map import (
    local_table,
    map_groups,
    map_rows,
)
from evolution_data_warehouse_spark.operators.datapipe import hash_bucket
from evolution_data_warehouse_spark.operators.dedup import (
    content_hash64,
    content_hash64_sql,
    minhash_lsh_pairs,
    N_MINHASH,
)
from evolution_data_warehouse_spark.operators.gopher import (
    gopher_flags,
    gopher_flags_sql,
    gopher_metrics,
    gopher_metrics_sql,
)
from evolution_data_warehouse_spark.operators.robots import robots_pattern_regex
from evolution_data_warehouse_spark.operators.textops import (
    lang_scores,
    lower_tokens,
    lower_tokens_sql,
    predict_lang,
    stopword_hits,
    STOPWORDS,
    tokens_ws,
    word_shingles,
)
from evolution_data_warehouse_spark.queries.common import (
    dsum,
    dsum_sql,
    register,
    scratch,
    t,
)
from evolution_data_warehouse_spark.queries.datapipe import bucket_sql
from evolution_data_warehouse_spark.queries.dedup import guarded_bands_sql, MH_SQL
from evolution_data_warehouse_spark.sources.charset import decode_payload
from evolution_data_warehouse_spark.sources.external import (
    jdbc_available,
    list_blobs,
    read_jdbc,
    rest_to_dataframe,
    write_jdbc,
)
from evolution_data_warehouse_spark.sources.pydatasource import (
    read_manifest,
    register_jsonl_sink,
    register_synth_source,
    SYNTH_MOD,
    SYNTH_MULT,
)
from evolution_data_warehouse_spark.sources.sitemap import (
    build_sitemap,
    build_sitemap_index,
    parse_sitemap,
)
from evolution_data_warehouse_spark.sources.warc import (
    build_warc,
    parse_warc,
    payload_digest,
)


# ---------------------------------------------------------------------------
# §2.1 sources / sinks
# ---------------------------------------------------------------------------


@register(
    "src_csv",
    "SELECT r_regionkey, r_name FROM region",
    doc="CSV scan with header + declared schema. Ref: notebook cell 4 "
    "`load_table` / analytics/data_loader.py:48-50.",
)
def src_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("src_csv", sf_dir)
    t(spark, sf_dir, "region").coalesce(1).write.mode("overwrite").option(
        "header", True
    ).csv(path)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return spark.read.option("header", True).schema(schema).csv(path)


@register(
    "src_json_nested",
    "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    doc="Nested JSON scan + struct flatten. Ref: notebook cell 8, "
    "analytics/data_loader.py:53-55 (pd.json_normalize on communes).",
)
def src_json_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("src_json_nested", sf_dir)
    nested = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey"),
        F.struct(
            F.col("n_name").alias("nom"), F.col("n_regionkey").alias("region")
        ).alias("attrs"),
    )
    nested.coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField(
                "attrs",
                T.StructType(
                    [
                        T.StructField("nom", T.StringType()),
                        T.StructField("region", T.IntegerType()),
                    ]
                ),
            ),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.select(
        "n_nationkey",
        F.col("attrs.nom").alias("n_name"),
        F.col("attrs.region").alias("n_regionkey"),
    )


_SNK_PARQUET_ORACLE = f"""
SELECT l_returnflag,
       {dsum_sql('l_quantity')} AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "snk_parquet",
    _SNK_PARQUET_ORACLE,
    doc="Parquet sink + re-scan round trip. Ref: notebook cell 11; "
    "analytics/sql_to_adls_bis.py:119-132 (df.to_parquet per table).",
)
def snk_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("snk_parquet", sf_dir)
    agg = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count("*").alias("n_rows"))
    )
    agg.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


_SNK_JSON_ORACLE = """
SELECT o_orderstatus, COUNT(*) AS n_orders
FROM orders
GROUP BY o_orderstatus
"""


@register(
    "snk_json",
    _SNK_JSON_ORACLE,
    doc="JSON sink + re-scan. Ref: ingestion/API/fetch_communes.py:207-218 "
    "(upload_json_to_datalake).",
)
def snk_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("snk_json", sf_dir)
    agg = t(spark, sf_dir, "orders").groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders")
    )
    agg.coalesce(1).write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("n_orders", T.LongType()),
        ]
    )
    return spark.read.schema(schema).json(path)


_SNK_CLUSTERED_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
WHERE o_custkey < 50
"""


@register(
    "snk_clustered_prune",
    _SNK_CLUSTERED_ORACLE,
    doc="Range-clustered parquet sink + selective re-read: the table is "
    "written with each file owning a disjoint o_custkey range "
    "(warehouse/etl.py write_clustered), so the key-range filter on the "
    "re-read prunes whole files from footer stats before any IO — the "
    "layout half of predicate pushdown. Footer disjointness itself is "
    "asserted in tests/test_warehouse.py.",
)
def snk_clustered_prune(spark, sf_dir: str):
    from evolution_data_warehouse_spark.warehouse.etl import write_clustered

    orders = t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    target = scratch("snk_clustered", sf_dir)
    path = write_clustered(
        orders, os.path.dirname(target), os.path.basename(target),
        ["o_custkey"],
    )
    return spark.read.parquet(path).filter(F.col("o_custkey") < 50)


_SNK_CSV_ORACLE = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer GROUP BY c_mktsegment
"""


@register(
    "snk_csv",
    _SNK_CSV_ORACLE,
    doc="CSV sink + re-scan round trip (header, explicit schema on the "
    "read back — CSV carries no types, so the reader must declare "
    "them; completes the sink matrix beside parquet/JSON/JDBC/Excel). "
    "Ref: the reference's per-table CSV exports in its staging flow.",
)
def snk_csv(spark, sf_dir: str):
    path = scratch("snk_csv", sf_dir)
    agg = (
        t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )
    agg.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema("c_mktsegment string, n_customers long").option(
        "header", True
    ).csv(path)


_SCHEMA_EVO_ORACLE = """
WITH v1 AS (
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
),
v2 AS (
    SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
    WHERE o_orderkey % 2 = 1
)
SELECT COALESCE(priority_known, 'unknown') AS priority_known,
       COUNT(*) AS n_orders
FROM (
    SELECT CAST(NULL AS VARCHAR) AS priority_known FROM v1
    UNION ALL
    SELECT o_orderpriority FROM v2
)
GROUP BY COALESCE(priority_known, 'unknown')
"""


@register(
    "src_schema_evolution",
    _SCHEMA_EVO_ORACLE,
    doc="Schema evolution on read: a v1 batch (2 columns) and a v2 "
    "batch (adds o_orderpriority) land in one directory; the "
    "mergeSchema read unifies them, v1 rows surfacing NULL for the "
    "added column — the additive-evolution contract an append-only "
    "lake must honor (readers never break when writers add columns). "
    "The rollup buckets NULLs as 'unknown' to keep the check "
    "deterministic.",
)
def src_schema_evolution(spark, sf_dir: str):
    path = scratch("schema_evo", sf_dir)
    orders = t(spark, sf_dir, "orders")
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    # clear any previous layout first (recursiveFileLookup would pick
    # up stale root-level files beside the subdirs)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    p_root = jvm.org.apache.hadoop.fs.Path(path)
    p_root.getFileSystem(hconf).delete(p_root, True)
    # distinct subdirs: no overwrite-then-append window where the
    # directory transiently holds only half the data
    v1.write.mode("overwrite").parquet(f"{path}/v1")
    v2.write.mode("overwrite").parquet(f"{path}/v2")
    merged = (
        spark.read.option("mergeSchema", True)
        .option("recursiveFileLookup", True)
        .parquet(path)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("unknown")).alias(
                "priority_known"
            )
        )
        .agg(F.count("*").alias("n_orders"))
    )


_TESTDATA_FILES = (
    "customer documents embeddings events lineitem nation orders part "
    "region supplier"
).split()


@register(
    "src_blob_list",
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{n}.parquet')" for n in _TESTDATA_FILES)
    + ") AS t(object_name)",
    doc="List objects under a prefix via the Hadoop FS API (catalog op). "
    "Ref: analytics/data_loader.py:44-45 (list_blobs). Same call works "
    "for s3a:// / abfss:// at scale.",
)
def src_blob_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = list_blobs(spark, sf_dir, suffix=".parquet")
    return local_table(spark, [(n,) for n in names], schema="object_name string")


def _stub_fetcher(url: str) -> str:
    """Deterministic stand-in for the paged government API (the real
    fetcher is requests-based; network egress is out of scope here)."""
    dept = url.rsplit("=", 1)[-1]
    return json.dumps(
        {
            "communes": [
                {
                    "code": f"{dept}00{i}",
                    "nom": f"Commune-{dept}-{i}",
                    "codeDepartement": dept,
                }
                for i in range(1, 4)
            ]
        }
    )


_REST_ORACLE = "SELECT * FROM (VALUES " + ", ".join(
    f"('{d}00{i}', 'Commune-{d}-{i}', '{d}')"
    for d in ("59", "62")
    for i in range(1, 4)
) + ") AS t(code, nom, codeDepartement)"


@register(
    "src_rest_api",
    _REST_ORACLE,
    doc="Paged REST fetch per department → DataFrame. Ref: ingestion/API/"
    "fetch_communes.py:116-154. Acquisition is driver-side by nature; "
    "the fetcher is injected (stubbed here — no network egress).",
)
def src_rest_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    return rest_to_dataframe(
        spark,
        _stub_fetcher,
        "https://geo.example/communes?dept={}",
        ["59", "62"],
        schema="code string, nom string, codeDepartement string",
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


_PROFILE_ORACLE = " UNION ALL ".join(
    f"""
SELECT '{c}' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
       CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(MIN({c}) AS DOUBLE) AS min_value,
       CAST(MAX({c}) AS DOUBLE) AS max_value,
       CAST(SUM(CAST({c} AS DECIMAL(28,4))) AS DOUBLE)
           / CAST(COUNT({c}) AS DOUBLE) AS mean_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


@register(
    "profile_columns",
    _PROFILE_ORACLE,
    doc="Column profiling: per-column row/non-null/distinct counts + "
    "min/max/mean in ONE scan (all aggregates in a single hash "
    "aggregate, stacked to long form) — the data-profiling step of "
    "quality monitoring, vs the oracle's per-column scans. Mean is "
    "decimal-exact (order-independent).",
)
def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
            (
                F.sum(F.col(c).cast("decimal(28,4)")).cast("double")
                / F.count(c).cast("double")
            ).alias(f"{c}__mean"),
        ]
    wide = li.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nn").alias("n_nonnull"),
                F.col(f"{c}__nd").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
                F.col(f"{c}__mean").alias("mean_value"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("s")).select("s.*")


_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


_JDBC_ORACLE = """
SELECT n_nationkey, n_name, n_regionkey FROM nation
"""


@register(
    "snk_jdbc_roundtrip",
    _JDBC_ORACLE,
    doc="JDBC sink + source round trip over embedded Derby (the driver "
    "jar Spark ships for its Hive metastore — no network, no install). "
    "Exercises the same write_jdbc/read_jdbc path the reference uses "
    "for Azure SQL (export_to_sql.py:160-203 chunked to_sql; "
    "load_facts.py:105 read_sql): pandas if_exists modes → save modes, "
    "chunked inserts → connector batchsize, distributed writers.",
)
def snk_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    if not jdbc_available(spark, _DERBY_DRIVER):
        raise RuntimeError(
            f"embedded Derby ({_DERBY_DRIVER}) missing from the Spark "
            "classpath"
        )
    home = scratch("jdbc_derby", sf_dir)
    # Keep Derby's engine log out of the process CWD.
    spark._jvm.java.lang.System.setProperty(  # noqa: SLF001
        "derby.system.home", home
    )
    url = f"jdbc:derby:{os.path.join(home, 'db')};create=true"
    src = t(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(
        src, url, "nation_t", _DERBY_DRIVER,
        if_exists="replace", driver=_DERBY_DRIVER,
    )
    back = read_jdbc(spark, url, "nation_t", _DERBY_DRIVER, driver=_DERBY_DRIVER)
    # Derby round-trips INTEGER/CLOB; project back to the source dtypes
    # so the schema check compares like for like.
    src_types = dict(src.dtypes)
    return back.select(
        *[F.col(c).cast(src_types[c]).alias(c) for c in src.columns]
    )


_ORC_ORACLE = """
SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
"""


@register(
    "src_orc",
    _ORC_ORACLE,
    doc="ORC scan round trip — format breadth beyond the reference's "
    "CSV/JSON/parquet/xlsx (SURVEY §2.1); same columnar pushdown "
    "properties as parquet.",
)
def src_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("src_orc", sf_dir)
    t(spark, sf_dir, "supplier").write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
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

    path = scratch("src_csv_permissive", sf_dir)
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
# WARC web-archive ingestion (Common Crawl layout) — source-format evidence
# ---------------------------------------------------------------------------

_WARC_ORACLE = """
SELECT doc_id,
       CAST(2 AS INT) AS n_records,
       'response' AS rec_type,
       'http://corpus.local/doc/' || CAST(doc_id AS VARCHAR) AS uri,
       CAST(octet_length(encode(COALESCE(text, ''))) AS BIGINT)
           AS content_len,
       TRUE AS payload_match
FROM documents
"""


@register(
    "src_warc_records",
    _WARC_ORACLE,
    doc="WARC (ISO 28500) web-archive ingestion — the source format of "
    "web-scale LLM corpora (sources/warc.py): per document a 2-record "
    "WARC (warcinfo + response) is written in the Common Crawl layout "
    "(each record its OWN gzip member, concatenated) and parsed back — "
    "version line, CRLF headers, Content-Length framing, trailing "
    "CRLFCRLF, multistream gzip inflate. The member-per-record layout "
    "is the scale property: any worker can start at a member boundary, "
    "so a 100 TB crawl ingests parallel at record granularity with no "
    "shuffle (one mapInArrow pass, like every codec here). "
    "payload_match demands the response payload round-trip "
    "byte-exactly; content_len is cross-checked against the oracle's "
    "octet_length(encode(text)) — UTF-8 octets on both sides, "
    "NULL-safe via COALESCE.",
)
def src_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mux_and_parse(doc_id, text):
        payload = ("" if text is None else str(text)).encode("utf-8")
        uri = f"http://corpus.local/doc/{doc_id}"
        data = build_warc(
            [
                ("warcinfo", "", b"software: engine\r\n"),
                ("response", uri, payload),
            ],
            per_record_gzip=True,
        )
        recs = parse_warc(data)
        resp = recs[-1]
        yield (
            doc_id,
            len(recs),
            resp["type"],
            resp["uri"],
            resp["content_length"],
            resp["payload"] == payload,
        )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        docs,
        mux_and_parse,
        "doc_id long, n_records int, rec_type string, uri string, "
        "content_len long, payload_match boolean",
    )


# ---------------------------------------------------------------------------
# End-to-end web-corpus curation: WARC → strip → gates → dedup → report
# ---------------------------------------------------------------------------

_HTML_PREFIX = '<div class="post"><p>'


_HTML_SUFFIX = "</p><br/>&amp; <b>more</b></div>"


def _warc_html(doc_id, text, lang, source):
    """map_rows fn: wrap each document in deterministic HTML, mux it
    into a Common Crawl-layout WARC (warcinfo + response, each record
    its own gzip member), parse the archive back, and emit the text the
    PARSER recovered — downstream gates consume what came out of the
    WARC path, not the original column, so the whole ingestion stack is
    on the hook for every row."""
    body = "" if text is None else str(text)
    payload = f"{_HTML_PREFIX}{body}{_HTML_SUFFIX}".encode("utf-8")
    data = build_warc(
        [
            ("warcinfo", "", b"software: engine\r\n"),
            ("response", f"http://corpus.local/doc/{doc_id}", payload),
        ],
        per_record_gzip=True,
    )
    recs = parse_warc(data)
    resp = recs[-1]
    ok = (
        len(recs) == 2
        and resp["type"] == "response"
        and resp["payload"] == payload
    )
    yield doc_id, lang, source, resp["payload"].decode("utf-8"), ok


#: the funnel's Gopher word-count floor — the corpus-tuned bound the
#: module documents (the synthetic documents run 10-99 words; the
#: published 50 floor is a web-scale default), aligned with the
#: funnel's existing n_tokens >= 20 quality gate.
_FUNNEL_GOPHER_MIN_WORDS = 20


def _web_funnel_oracle() -> str:
    langs = sorted(STOPWORDS)
    score_cols = ", ".join(
        f"CAST(len(list_filter({lower_tokens_sql('ctext')}, "
        f"x -> list_contains([{', '.join(repr(w) for w in STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    en = ", ".join(repr(w) for w in STOPWORDS["en"])
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(
        f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    gm = gopher_metrics_sql("ctext", prefix="g_")
    gm_cols = ", ".join(f"{sql} AS {name}" for name, sql in gm.items())
    gpass = gopher_flags_sql(
        min_words=_FUNNEL_GOPHER_MIN_WORDS, prefix="g_"
    )["g_gopher_pass"]
    return f"""
WITH raw AS (
    SELECT doc_id, lang, source,
           '{_HTML_PREFIX}' || COALESCE(text, '') || '{_HTML_SUFFIX}' AS html
    FROM documents
),
clean AS (
    SELECT doc_id, lang, source,
           trim(regexp_replace(
               replace(replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', ' ', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&#39;', ''''),
               ' +', ' ', 'g')) AS ctext
    FROM raw
),
staged AS (
    SELECT doc_id, lang, source, ctext,
           row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id)
               AS rn,
           CAST(len(str_split(ctext, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter({lower_tokens_sql('ctext')},
                    x -> list_contains([{en}], x))) AS BIGINT) AS stop_hits,
           {score_cols},
           {gm_cols}
    FROM clean
),
flags AS (
    SELECT doc_id, source, ctext, n_tokens,
           rn = 1 AS exact_survivor,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AS quality_pass,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AS lang_match,
           rn = 1 AND n_tokens >= 20 AND stop_hits * 20 >= n_tokens
               AND (CASE {chain} END) = lang AND {gpass} AS gopher_pass
    FROM staged
),
gated AS (
    SELECT doc_id, source, ctext, n_tokens FROM flags WHERE gopher_pass
),
sh AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, {lower_tokens_sql('ctext')} AS toks
              FROM gated)
    )
),
h AS (SELECT doc_id, {MH_SQL["hm"]} AS hm FROM sh),
mh AS (SELECT doc_id, {MH_SQL["mh_cols"]} FROM h GROUP BY doc_id),
bands_raw AS ({MH_SQL["bands"]}),
bands AS (
    {guarded_bands_sql("bands_raw")}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
),
removed AS (
    SELECT DISTINCT doc_b AS doc_id
    FROM cand
    JOIN mh sa ON doc_a = sa.doc_id
    JOIN mh sb ON doc_b = sb.doc_id
    WHERE CAST(({MH_SQL["eq"]}) AS DOUBLE) / CAST({N_MINHASH} AS DOUBLE) >= 0.5
),
kept AS (
    SELECT g.source, g.n_tokens FROM gated g
    LEFT JOIN removed r ON g.doc_id = r.doc_id
    WHERE r.doc_id IS NULL
),
agg_flags AS (
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) AS n_warc_ok,
           CAST(SUM(CASE WHEN exact_survivor THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_unique,
           CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_quality_pass,
           CAST(SUM(CASE WHEN lang_match THEN 1 ELSE 0 END) AS BIGINT)
               AS n_lang_match,
           CAST(SUM(CASE WHEN gopher_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_gopher_pass
    FROM flags GROUP BY source
),
agg_kept AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_near_unique,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens_final
    FROM kept GROUP BY source
)
SELECT a.source, a.n_docs, a.n_warc_ok, a.n_exact_unique,
       a.n_quality_pass, a.n_lang_match, a.n_gopher_pass,
       COALESCE(k.n_near_unique, 0) AS n_near_unique,
       COALESCE(k.n_tokens_final, 0) AS n_tokens_final
FROM agg_flags a LEFT JOIN agg_kept k ON a.source = k.source
"""


@register(
    "web_corpus_curation",
    _web_funnel_oracle(),
    doc="The actual Common Crawl workflow as ONE query: every document "
    "is wrapped in HTML, muxed into a per-record-gzip WARC "
    "(sources/warc.py, the ISO 28500 Common Crawl layout) and parsed "
    "back — downstream consumes the PARSER's output — then "
    "html-stripped (tag/entity column expressions, text_html_strip's "
    "chain), exact-deduped (content-hash window), quality-gated "
    "(integer cross-multiplied length + stopword density), "
    "language-verified (stopword argmax == label), Gopher-rule-gated "
    "(the complete published suite from operators/gopher.py — "
    "text_quality_gopher's rules as a drop-in funnel stage, word "
    "floor tuned to this corpus), MinHash-LSH "
    "near-deduped (operators/dedup.py's banded pair join with its "
    "default-ON hot-bucket guard, est_jaccard >= 0.5 removes the "
    "higher id), and rolled into the per-source curation funnel "
    "report. One WARC pass feeds every gate (the parsed frame is "
    "locally checkpointed — reclaimable blocks, not a session-pinned "
    "cache — and reused by the flag aggregate and the near-dup path); at "
    "100 TB the same plan reads member-boundary-split WARC files at "
    "record granularity with no shuffle before the funnel aggregate.",
)
def web_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    parsed = map_rows(
        docs,
        _warc_html,
        "doc_id long, lang string, source string, html string, "
        "warc_ok boolean",
    )
    stripped = F.regexp_replace("html", "<[^>]*>", " ")
    for ent, ch in [("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
                    ("&quot;", '"'), ("&#39;", "'")]:
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    ctext = F.trim(F.regexp_replace(stripped, " +", " "))
    w = W.partitionBy(F.md5("ctext")).orderBy("doc_id")
    scores = lang_scores(F.col("ctext"))
    staged = (
        parsed.withColumn("ctext", ctext)
        .select(
            "doc_id", "lang", "source", "ctext", "warc_ok",
            F.row_number().over(w).alias("rn"),
            F.size(tokens_ws(F.col("ctext")))
            .cast("bigint")
            .alias("n_tokens"),
            stopword_hits(F.col("ctext"), STOPWORDS["en"])
            .cast("bigint")
            .alias("stop_hits"),
            predict_lang(scores).alias("pred_lang"),
        )
        # ONE WARC pass feeds the flag aggregate + the dedup path.
        # localCheckpoint, not cache: blocks are reclaimed when the
        # result is dropped instead of pinning the parsed corpus in the
        # CacheManager for the rest of the session (the lifecycle
        # dedup.py prescribes for composition into longer pipelines).
        .localCheckpoint(eager=False)
    )
    exact = F.col("rn") == 1
    quality = (
        exact
        & (F.col("n_tokens") >= 20)
        & (F.col("stop_hits") * 20 >= F.col("n_tokens"))
    )
    lang_match = quality & (F.col("pred_lang") == F.col("lang"))
    gm = gopher_metrics(F.col("ctext"))
    gopher_ok = gopher_flags(gm, min_words=_FUNNEL_GOPHER_MIN_WORDS)[
        "gopher_pass"
    ]
    gopher_gate = lang_match & gopher_ok
    gated = staged.filter(gopher_gate).select(
        "doc_id", "source", "ctext", "n_tokens"
    )
    sh3 = word_shingles(lower_tokens("ctext"))
    shingled = gated.select(
        "doc_id", F.explode(F.array_distinct(sh3)).alias("shingle")
    )
    removed = (
        minhash_lsh_pairs(shingled, sig_storage="checkpoint")
        .filter(F.col("est_jaccard") >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = gated.join(removed, "doc_id", "left_anti")
    agg_flags = staged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("warc_ok").cast("int")).cast("bigint").alias("n_warc_ok"),
        F.sum(exact.cast("int")).cast("bigint").alias("n_exact_unique"),
        F.sum(quality.cast("int")).cast("bigint").alias("n_quality_pass"),
        F.sum(lang_match.cast("int")).cast("bigint").alias("n_lang_match"),
        F.sum(gopher_gate.cast("int")).cast("bigint").alias("n_gopher_pass"),
    )
    agg_kept = kept.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_near_unique"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens_final"),
    )
    return agg_flags.join(agg_kept, "source", "left").select(
        "source", "n_docs", "n_warc_ok", "n_exact_unique",
        "n_quality_pass", "n_lang_match", "n_gopher_pass",
        F.coalesce(F.col("n_near_unique"), F.lit(0))
        .cast("bigint")
        .alias("n_near_unique"),
        F.coalesce(F.col("n_tokens_final"), F.lit(0))
        .cast("bigint")
        .alias("n_tokens_final"),
    )


# ---------------------------------------------------------------------------
# Charset detection + decode — bytes → str for crawled payloads
# ---------------------------------------------------------------------------

_CHARSET_ORACLE = """
SELECT doc_id,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8'
            WHEN 2 THEN 'utf-16-le' ELSE 'windows-1252' END AS charset,
       CASE CAST(doc_id % 4 AS INT)
            WHEN 0 THEN 'utf8-valid' WHEN 1 THEN 'bom'
            WHEN 2 THEN 'bom' ELSE 'meta' END AS method,
       CAST(CASE WHEN doc_id % 4 = 3
                 THEN 51 + length(CAST(doc_id AS VARCHAR))
                 ELSE length(COALESCE(text, '')) END AS BIGINT) AS n_chars,
       TRUE AS text_match
FROM documents
"""


@register(
    "web_charset_detect",
    _CHARSET_ORACLE,
    doc="Charset detection + decode (sources/charset.py) — the "
    "bytes-to-str step between WARC ingestion and every text "
    "operator, as the practical WHATWG sniff ladder: BOM (UTF-8 and "
    "UTF-16-LE payloads built per doc), meta-declared charset "
    "(windows-1252 pages carrying a real 0xE9 byte that strict UTF-8 "
    "would reject), and strict-UTF-8 validation for bare payloads. "
    "text_match demands the decoded string equal the original "
    "exactly; charset/method/char counts are closed-form in doc_id. "
    "decode_payload never raises — the fallback leg accepts every "
    "byte string, so this stage needs no quarantine at all. One "
    "narrow mapInArrow pass, zero shuffle.",
)
def web_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_decode(d, text):
        s = "" if text is None else str(text)
        leg = d % 4
        if leg == 0:
            payload, expect = s.encode("utf-8"), s
        elif leg == 1:
            payload = b"\xef\xbb\xbf" + s.encode("utf-8")
            expect = s
        elif leg == 2:
            payload = b"\xff\xfe" + s.encode("utf-16-le")
            expect = s
        else:
            # meta-declared legacy page with a genuine non-UTF-8
            # byte (0xE9 = e-acute in cp1252) so the UTF-8
            # validator could never claim it
            expect = (
                f'<meta charset="windows-1252"><p>café '
                f"page {d} body</p>"
            )
            payload = expect.encode("windows-1252")
        charset, method, decoded = decode_payload(payload)
        yield d, charset, method, len(decoded), decoded == expect

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        docs,
        synth_and_decode,
        "doc_id long, charset string, method string, n_chars long, "
        "text_match boolean",
    )


# ---------------------------------------------------------------------------
# Sitemap URL discovery — the crawl frontier source
# ---------------------------------------------------------------------------

_SITEMAP_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 10 = 0 THEN 'index' ELSE 'urlset' END AS kind,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2
                 ELSE 1 + doc_id % 7 END AS BIGINT) AS n_entries,
       CASE WHEN doc_id % 10 = 0
            THEN 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.corpus.local/sitemap/' || CAST(doc_id AS VARCHAR)
                 || '/0.xml'
            ELSE 'http://h' || CAST(doc_id % 5 AS VARCHAR)
                 || '.corpus.local/page/' || CAST(doc_id AS VARCHAR)
                 || '/0' END AS first_loc,
       CAST(CASE WHEN doc_id % 10 = 0 THEN 2
                 ELSE (2 + doc_id % 7) // 2 END AS BIGINT)
           AS n_with_lastmod,
       TRUE AS roundtrip_ok
FROM documents
"""


@register(
    "src_sitemap_urls",
    _SITEMAP_ORACLE,
    doc="Sitemap (sitemaps.org) URL discovery (sources/sitemap.py) — "
    "the third crawl-ingestion member beside WARC (archive format) "
    "and robots.txt (compliance): per doc a real sitemap XML is built "
    "and parsed back — every 10th doc a <sitemapindex> (the sharding "
    "mechanism the protocol mandates above 50k URLs), the rest "
    "<urlset> documents with per-URL lastmod on alternating entries. "
    "roundtrip_ok demands every parsed loc/lastmod equal what was "
    "built; entry counts, first loc, and lastmod coverage are "
    "closed-form in doc_id. The protocol's 50,000-entry cap is the "
    "parser's bomb guard, and malformed XML is ValueError-only — the "
    "same per-row quarantine contract as WARC. One narrow mapInArrow "
    "pass; sitemaps are independent rows, so discovery parallelizes "
    "at host granularity with no shuffle.",
)
def src_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    def mux_and_parse(d):
        host = f"http://h{d % 5}.corpus.local"
        if d % 10 == 0:
            built = [
                {
                    "loc": f"{host}/sitemap/{d}/{i}.xml",
                    "lastmod": f"2026-0{1 + i}-01",
                }
                for i in range(2)
            ]
            data = build_sitemap_index(built)
        else:
            n = 1 + d % 7
            built = [
                {
                    "loc": f"{host}/page/{d}/{i}",
                    "lastmod": (
                        f"2026-0{1 + i % 9}-15"
                        if i % 2 == 0
                        else None
                    ),
                    "priority": "0.5" if i == 0 else None,
                }
                for i in range(n)
            ]
            data = build_sitemap(built)
        parsed = parse_sitemap(data)
        entries = parsed["entries"]
        ok = len(entries) == len(built) and all(
            e["loc"] == b["loc"]
            and e.get("lastmod") == b.get("lastmod")
            for e, b in zip(entries, built)
        )
        yield (
            d,
            parsed["kind"],
            len(entries),
            entries[0]["loc"],
            sum(1 for e in entries if e["lastmod"]),
            ok,
        )

    ids = t(spark, sf_dir, "documents").select("doc_id")
    return map_rows(
        ids,
        mux_and_parse,
        "doc_id long, kind string, n_entries long, first_loc string, "
        "n_with_lastmod long, roundtrip_ok boolean",
    )


# ---------------------------------------------------------------------------
# Main-content extraction — text-density boilerplate removal
# ---------------------------------------------------------------------------

_BLOCK_RX = "</?(?:p|li|ul|nav|footer|header|h1|div)[^>]*>"


_LINK_RX = "<a[^>]*>([^<]*)</a>"


_MAIN_MIN_CHARS = 25  # blocks shorter than this are chrome/junk
# keep iff 3*link_chars < text_chars (link density < 1/3) — integer
# cross-multiplied, no float boundary


_MAIN_PAGE_SQL = """
SELECT doc_id,
       '<nav><li><a href="/">Home</a></li><li><a href="/a">About</a>'
       || '</li></nav><h1>Title ' || CAST(doc_id AS VARCHAR)
       || '</h1><p>' || text || '</p><p>ad</p><footer>'
       || '<a href="/t">Terms</a> <a href="/p">Privacy</a></footer>'
           AS html
FROM documents
"""


def _main_content_oracle() -> str:
    return f"""
WITH pages AS ({_MAIN_PAGE_SQL}),
segs AS (
    SELECT doc_id,
           CAST(unnest(range(1, len(parts) + 1)) AS INT) AS pos,
           unnest(parts) AS seg
    FROM (SELECT doc_id, str_split_regex(html, '{_BLOCK_RX}') AS parts
          FROM pages)
),
scored AS (
    SELECT doc_id, pos,
           trim(regexp_replace(regexp_replace(seg, '<[^>]*>', ' ', 'g'),
                ' +', ' ', 'g')) AS txt,
           -- COALESCE: DuckDB array_to_string([]) is NULL where Spark
           -- array_join([]) is '' — an un-coalesced NULL silently
           -- fails the keep predicate for every linkless block
           COALESCE(length(array_to_string(
               regexp_extract_all(seg, '{_LINK_RX}', 1), '')), 0)
               AS link_chars
    FROM segs
),
kept AS (
    SELECT doc_id, pos, txt
    FROM scored
    WHERE length(txt) >= {_MAIN_MIN_CHARS}
      AND 3 * link_chars < length(txt)
)
SELECT s.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_blocks,
       CAST(SUM(CASE WHEN k.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(COALESCE(SUM(CASE WHEN k.pos IS NOT NULL
                         THEN length(k.txt) ELSE 0 END), 0) AS BIGINT)
           AS main_chars,
       md5(COALESCE(string_agg(k.txt, ' ' ORDER BY k.pos), ''))
           AS main_text_md5
FROM scored s
LEFT JOIN kept k ON s.doc_id = k.doc_id AND s.pos = k.pos
GROUP BY s.doc_id
"""


@register(
    "web_main_content",
    _main_content_oracle(),
    doc="Main-content extraction (text-density boilerplate removal — "
    "the Readability/Boilerpipe family, Kohlschütter et al. 2010 "
    "public heuristic): pages split into block-level segments; each "
    "block keeps or drops on two INTEGER rules — minimum text length "
    "and link density (3*link_chars < text_chars, cross-multiplied so "
    "no float boundary exists) — and the kept blocks reassemble in "
    "document order. Navigation, footers, and short junk blocks are "
    "exactly the high-link-density/short segments the rules drop; the "
    "synthetic pages wrap each document's real text in that chrome, "
    "and the oracle recomputes the identical regex chain (split / "
    "strip / extract-all verified byte-equal across both engines). "
    "Pure column expressions at scan speed — the curation stage "
    "between html_strip and the quality gates at 100 TB; main text "
    "verified via md5 so the hash check covers every byte of every "
    "kept block without shipping megabytes through the compare.",
)
def web_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit('<nav><li><a href="/">Home</a></li><li><a href="/a">'),
            F.lit("About</a></li></nav><h1>Title "),
            F.col("doc_id").cast("string"),
            F.lit("</h1><p>"),
            F.col("text"),
            F.lit('</p><p>ad</p><footer><a href="/t">Terms</a> '),
            F.lit('<a href="/p">Privacy</a></footer>'),
        ).alias("html"),
    )
    segs = pages.select(
        "doc_id",
        F.posexplode(F.split("html", _BLOCK_RX)).alias("pos0", "seg"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "seg")
    stripped = F.regexp_replace("seg", "<[^>]*>", " ")
    txt = F.trim(F.regexp_replace(stripped, " +", " "))
    link_chars = F.length(
        F.array_join(
            F.regexp_extract_all(F.col("seg"), F.lit(_LINK_RX), 1), ""
        )
    )
    scored = segs.select(
        "doc_id", "pos", txt.alias("txt"), link_chars.alias("link_chars")
    )
    keep = (F.length("txt") >= _MAIN_MIN_CHARS) & (
        3 * F.col("link_chars") < F.length("txt")
    )
    flagged = scored.withColumn("_keep", keep)
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_blocks"),
        F.sum(F.col("_keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum(F.when(F.col("_keep"), F.length("txt")).otherwise(0))
        .cast("bigint")
        .alias("main_chars"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_keep"),
                                F.struct("pos", F.col("txt").alias("t")),
                            )
                        )
                    ),
                    lambda x: x["t"],
                ),
            )
        ).alias("main_text_md5"),
    )


# ---------------------------------------------------------------------------
# robots.txt URL filtering — the crawl-compliance gate
# ---------------------------------------------------------------------------

# Pre-parsed per-host rule groups (what operators/robots.py::
# parse_robots_txt emits for the crawler's agent — parsing itself is
# unit-tested against RFC 9309 semantics in test_operators_misc).
# The fixture exercises longest-match override (h0), '*' wildcard with
# '$' anchor (h1), allow-carve-out under a disallow-all (h2), the
# tie→Allow rule (h3), and the empty group → allow-all default (h4).
_ROBOTS_RULES: dict[str, list[tuple[bool, str]]] = {
    "h0": [(False, "/private/"), (True, "/private/stats$")],
    "h1": [(False, "/tmp/*/index.htm$")],
    "h2": [(False, "/"), (True, "/public/")],
    "h3": [(False, "/public/page"), (True, "/public/page")],
    "h4": [],
}


def _robots_rule_rows() -> list[tuple[str, int, int, str]]:
    return [
        (host, 1 if allow else 0, len(pattern),
         robots_pattern_regex(pattern))
        for host, rules in sorted(_ROBOTS_RULES.items())
        for allow, pattern in rules
    ]


_ROBOTS_URL_SQL = """
SELECT doc_id, 'h' || CAST(doc_id % 5 AS VARCHAR) AS host,
       CASE doc_id % 4
            WHEN 0 THEN '/private/doc' || CAST(doc_id AS VARCHAR)
            WHEN 1 THEN '/public/page' || CAST(doc_id AS VARCHAR)
                 || '.html'
            WHEN 2 THEN '/tmp/x' || CAST(doc_id AS VARCHAR)
                 || '/index.htm'
            ELSE '/private/stats' END AS path
FROM documents
"""


def _robots_oracle() -> str:
    vals = ", ".join(
        f"('{h}', {a}, {p}, '{rx}')" for h, a, p, rx in _robots_rule_rows()
    )
    return f"""
WITH urls AS ({_ROBOTS_URL_SQL}),
rules(host, allow_i, plen, rx) AS (VALUES {vals}),
m AS (
    SELECT u.doc_id, MAX(2 * r.plen + r.allow_i) AS best,
           COUNT(*) AS n_matching
    FROM urls u
    JOIN rules r ON u.host = r.host AND regexp_matches(u.path, r.rx)
    GROUP BY u.doc_id
)
SELECT u.doc_id, u.host, u.path,
       COALESCE(m.best % 2 = 1, TRUE) AS allowed,
       CAST(COALESCE(m.n_matching, 0) AS BIGINT) AS n_matching
FROM urls u LEFT JOIN m ON u.doc_id = m.doc_id
"""


@register(
    "web_robots_filter",
    _robots_oracle(),
    doc="robots.txt URL filtering (RFC 9309; operators/robots.py) — "
    "the crawl-compliance gate between WARC ingestion and curation: "
    "corpus URLs join the (dimension-sized, broadcast) parsed rule "
    "table on host; each rule's path pattern evaluates as ONE shared "
    "regex translation on both engines ('*' wildcard, '$' anchor, "
    "longest-match override, tie goes to Allow, no match means "
    "allowed); the RFC's winner selection compiles to a single hash "
    "aggregate — max(2*pattern_len + allow) odd — so the whole gate "
    "is scan, broadcast join, aggregate: the only shape that holds "
    "against 100 TB of URLs. Group selection inside robots.txt "
    "(longest user-agent token, '*' fallback) is parse_robots_txt, "
    "unit-tested against RFC examples.",
)
def web_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = t(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "'h' || CAST(doc_id % 5 AS STRING) AS host",
        "CASE CAST(doc_id % 4 AS INT) "
        "WHEN 0 THEN '/private/doc' || CAST(doc_id AS STRING) "
        "WHEN 1 THEN '/public/page' || CAST(doc_id AS STRING) || '.html' "
        "WHEN 2 THEN '/tmp/x' || CAST(doc_id AS STRING) || '/index.htm' "
        "ELSE '/private/stats' END AS path",
    )
    rules = local_table(
        spark, _robots_rule_rows(), "host string, allow_i int, plen int, rx string"
    )
    m = (
        urls.join(rules, "host")
        .filter(F.expr("path RLIKE rx"))
        .groupBy("doc_id")
        .agg(
            F.max(2 * F.col("plen") + F.col("allow_i")).alias("best"),
            F.count("*").alias("n_matching"),
        )
    )
    return urls.join(m, "doc_id", "left").select(
        "doc_id", "host", "path",
        F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.col("n_matching"), F.lit(0))
        .cast("bigint")
        .alias("n_matching"),
    )


# ---------------------------------------------------------------------------
# WARC revisit records — the multi-snapshot crawl workflow
# ---------------------------------------------------------------------------

_REVISIT_PROFILE = (
    "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest"
)


_REVISIT_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'response' ELSE 'revisit' END
           AS rec2_type,
       CAST(CASE WHEN doc_id % 3 = 0
                 THEN octet_length(encode(COALESCE(text, ''))) + 3
                 ELSE 0 END AS BIGINT) AS n_bytes_2,
       TRUE AS digest_ok,
       TRUE AS refers_ok
FROM documents
"""


@register(
    "src_warc_revisit",
    _REVISIT_ORACLE,
    doc="WARC revisit-record handling (sources/warc.py) — the "
    "multi-snapshot Common Crawl shape: a recrawled URL whose payload "
    "is unchanged is stored as a 'revisit' record (ISO 28500 / the "
    "netpreserve identical-payload-digest profile) carrying only the "
    "sha1-base32 WARC-Payload-Digest of the payload it did NOT "
    "re-store, plus WARC-Refers-To-Target-URI. Per doc, crawl 1's "
    "response and crawl 2's record (unchanged docs → revisit; every "
    "third doc changes → a fresh response) mux into one per-record-"
    "gzip WARC and parse back. digest_ok demands the engine-computed "
    "digest of the ORIGINAL payload equal the revisit record's header "
    "(the exact cross-crawl match a dedup stage joins on) — for "
    "changed docs, that the new digest header verifies AND differs "
    "from crawl 1's; refers_ok checks the back-reference URI. "
    "rec2_type and the stored byte count are closed-form in doc_id. "
    "One narrow mapInArrow stage, zero shuffle.",
)
def src_warc_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    def synth_and_parse(d, text):
        body = ("" if text is None else str(text)).encode("utf-8")
        uri = f"http://corpus.local/doc/{d}"
        dig1 = payload_digest(body)
        recs = [
            (
                "response",
                uri,
                body,
                {"WARC-Payload-Digest": dig1},
            )
        ]
        if d % 3 == 0:
            body2 = body + b" v2"
            recs.append(
                (
                    "response",
                    uri,
                    body2,
                    {"WARC-Payload-Digest": payload_digest(body2)},
                )
            )
        else:
            recs.append(
                (
                    "revisit",
                    uri,
                    b"",
                    {
                        "WARC-Payload-Digest": dig1,
                        "WARC-Profile": _REVISIT_PROFILE,
                        "WARC-Refers-To-Target-URI": uri,
                    },
                )
            )
        parsed = parse_warc(build_warc(recs, per_record_gzip=True))
        r1, r2 = parsed[0], parsed[1]
        h2 = r2["headers"]
        if r2["type"] == "revisit":
            digest_ok = (
                h2.get("warc-payload-digest")
                == payload_digest(r1["payload"])
                and r2["payload"] == b""
                and h2.get("warc-profile") == _REVISIT_PROFILE
            )
            refers_ok = h2.get("warc-refers-to-target-uri") == uri
        else:
            digest_ok = (
                h2.get("warc-payload-digest")
                == payload_digest(r2["payload"])
                and h2.get("warc-payload-digest") != dig1
            )
            refers_ok = r2["uri"] == uri
        yield d, r2["type"], len(r2["payload"]), digest_ok, refers_ok

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    return map_rows(
        docs,
        synth_and_parse,
        "doc_id long, rec2_type string, n_bytes_2 long, "
        "digest_ok boolean, refers_ok boolean",
    )


# ---------------------------------------------------------------------------
# Crawl-frontier build — sitemap discovery ∘ canonicalize ∘ robots
# ---------------------------------------------------------------------------

# Frontier fixture: urlset docs (d % 10 != 0; index shards are the
# recursion src_sitemap_urls already verifies) publish 1 + d % 7 URLs
# for share-group g = d % 20 — docs in the same group publish the SAME
# logical pages (the cross-site syndication that makes frontier dedup
# real), dressed in canonicalization fodder (uppercase scheme/host,
# leading www., explicit :80, tracking query). Note g determines the
# host (d % 20 = g ⇒ d % 5 = g % 5), so colliding URLs collide fully.
_FRONTIER_PATHS = (
    "/private/doc{g}_{i}",
    "/public/page{g}_{i}.html",
    "/tmp/x{g}_{i}/index.htm",
    "/private/stats",
)


def _crawl_frontier_oracle() -> str:

    vals = ", ".join(
        f"('{h}', {a}, {p}, '{rx}')" for h, a, p, rx in _robots_rule_rows()
    )
    return f"""
WITH docs AS (
    SELECT doc_id, doc_id % 20 AS g, 1 + doc_id % 7 AS n
    FROM documents WHERE doc_id % 10 <> 0
),
pairs AS (
    SELECT doc_id, g, unnest(range(0, n)) AS i FROM docs
),
urls AS (
    SELECT doc_id,
           'h' || CAST(g % 5 AS VARCHAR) AS host_key,
           CASE CAST((g + i) % 4 AS INT)
                WHEN 0 THEN '/private/doc' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR)
                WHEN 1 THEN '/public/page' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR) || '.html'
                WHEN 2 THEN '/tmp/x' || CAST(g AS VARCHAR)
                     || '_' || CAST(i AS VARCHAR) || '/index.htm'
                ELSE '/private/stats' END AS path
    FROM pairs
),
frontier AS (
    SELECT 'http://h' || CAST(g % 5 AS VARCHAR) || '.corpus.local'
               || path AS url,
           host_key, path,
           MIN(doc_id) AS discovered_by,
           CAST(COUNT(*) AS BIGINT) AS n_sources
    FROM urls JOIN docs USING (doc_id)
    GROUP BY 1, 2, 3
),
rules(host, allow_i, plen, rx) AS (VALUES {vals}),
m AS (
    SELECT f.url, MAX(2 * r.plen + r.allow_i) AS best,
           COUNT(*) AS n_matching
    FROM frontier f
    JOIN rules r ON f.host_key = r.host AND regexp_matches(f.path, r.rx)
    GROUP BY f.url
)
SELECT f.url, f.host_key, f.path, f.discovered_by, f.n_sources,
       COALESCE(m.best % 2 = 1, TRUE) AS allowed,
       CAST(COALESCE(m.n_matching, 0) AS BIGINT) AS n_matching
FROM frontier f LEFT JOIN m ON f.url = m.url
"""


@register(
    "web_frontier_build",
    _crawl_frontier_oracle(),
    doc="Crawl-frontier build — the composition the r9 stages verified "
    "separately, run as ONE plan the way web_corpus_curation composes "
    "the post-fetch stages: sitemap discovery (sources/sitemap.py — "
    "real urlset XML built AND parsed back per publisher, one "
    "mapInArrow scan), URL canonicalization (the fn_url_canonicalize "
    "regex pipeline of dedup_url_canonical: lowercase host, strip "
    "www./default port/query) collapsing syndicated duplicates to one "
    "frontier row (keep-lowest discoverer + source count — same URL "
    "never fetched twice at 100 TB), then robots.txt compliance "
    "(operators/robots.py: the dimension-sized rule table broadcast, "
    "RFC 9309 winner as one integer hash aggregate, no match = "
    "allowed). Plan shape: one sitemap scan → hash-agg dedup → "
    "broadcast rules join + aggregate — every stage scan-shaped, no "
    "all-pairs, no unbounded shuffle.",
)
def web_frontier_build(spark: SparkSession, sf_dir: str) -> DataFrame:

    def discover(d):
        if d % 10 == 0:
            return  # index shards: src_sitemap_urls' scope
        g = d % 20
        built = [
            {
                "loc": (
                    f"HTTP://WWW.H{d % 5}.Corpus.Local:80"
                    + _FRONTIER_PATHS[(g + i) % 4].format(g=g, i=i)
                    + "?utm_source=sitemap"
                )
            }
            for i in range(1 + d % 7)
        ]
        for e in parse_sitemap(build_sitemap(built))["entries"]:
            yield d, e["loc"]

    ids = t(spark, sf_dir, "documents").select("doc_id")
    discovered = map_rows(ids, discover, "doc_id long, loc string")
    host = F.regexp_replace(
        F.regexp_replace(
            F.lower(F.regexp_extract("loc", r"^[A-Za-z]+://([^/?#]+)", 1)),
            r"^www\.",
            "",
        ),
        r":80$",
        "",
    )
    path = F.regexp_extract("loc", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    frontier = (
        discovered.select(
            "doc_id",
            F.concat(F.lit("http://"), host, path).alias("url"),
            F.regexp_extract(host, r"^([^.]+)", 1).alias("host_key"),
            path.alias("path"),
        )
        .groupBy("url", "host_key", "path")
        .agg(
            F.min("doc_id").alias("discovered_by"),
            F.count("*").cast("bigint").alias("n_sources"),
        )
    )
    rules = local_table(
        spark, _robots_rule_rows(), "host string, allow_i int, plen int, rx string"
    )
    m = (
        frontier.join(rules, frontier.host_key == rules.host)
        .filter(F.expr("path RLIKE rx"))
        .groupBy("url")
        .agg(
            F.max(2 * F.col("plen") + F.col("allow_i")).alias("best"),
            F.count("*").alias("n_matching"),
        )
    )
    return frontier.join(m, "url", "left").select(
        "url", "host_key", "path", "discovered_by", "n_sources",
        F.coalesce(F.col("best") % 2 == 1, F.lit(True)).alias("allowed"),
        F.coalesce(F.col("n_matching"), F.lit(0))
        .cast("bigint")
        .alias("n_matching"),
    )


# ---------------------------------------------------------------------------
# URL quality filters — the pre-fetch gate on the crawl frontier
# ---------------------------------------------------------------------------

_URLQ_BLOCK_DOMAINS = ("spam-mill.example", "link-farm.example")


_URLQ_BLOCK_WORDS = ("casino", "viagra")


# The string cast is a {STR} template slot formatted per engine
# (VARCHAR for DuckDB, STRING for Spark) — never a post-hoc
# str.replace over shared SQL, which would silently rewrite any future
# literal containing the type name (r10 ADVICE).
_URLQ_URL_SQL_T = """
CASE CAST(doc_id % 6 AS INT)
     WHEN 0 THEN 'http://spam-mill.example/page/'
          || CAST(doc_id AS {STR})
     WHEN 1 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/' || repeat('x', 300)
     WHEN 2 THEN 'http://99887766554433221100.corpus.local/doc/'
          || CAST(doc_id AS {STR})
     WHEN 3 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local' || repeat('/d', 12) || '/'
          || CAST(doc_id AS {STR})
     WHEN 4 THEN 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/best-casino-bonus/'
          || CAST(doc_id AS {STR})
     ELSE 'http://h' || CAST(doc_id % 5 AS {STR})
          || '.corpus.local/article/' || CAST(doc_id AS {STR})
          || '?ref=home&utm_campaign=c' || CAST(doc_id % 7 AS {STR})
     END
"""


_URLQ_URL_SQL = _URLQ_URL_SQL_T.format(STR="VARCHAR")


def _urlq_oracle() -> str:
    blocked_host = " OR ".join(
        f"host = '{d}' OR host LIKE '%.{d}'" for d in _URLQ_BLOCK_DOMAINS
    )
    blocked_word = " OR ".join(
        f"contains(lower(url), '{w}')" for w in _URLQ_BLOCK_WORDS
    )
    return f"""
WITH u AS (SELECT doc_id, {_URLQ_URL_SQL} AS url FROM documents),
parts AS (
    SELECT doc_id, url,
           lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS host,
           regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path
    FROM u
),
m AS (
    SELECT doc_id, url, host,
           CAST(length(url) AS BIGINT) AS url_len,
           CAST(length(host) - length(regexp_replace(host, '[0-9]', '',
                'g')) AS BIGINT) AS host_digits,
           CAST(length(host) AS BIGINT) AS host_len,
           CAST(length(path) - length(replace(path, '/', '')) AS BIGINT)
               AS path_depth,
           CASE WHEN contains(url, '?')
                THEN CAST(1 + length(url) - length(replace(url, '&', ''))
                          AS BIGINT)
                ELSE 0 END AS n_params,
           ({blocked_host}) AS blocked_domain,
           ({blocked_word}) AS blocked_word
    FROM parts
)
SELECT doc_id, url_len, host_digits, path_depth, n_params,
       blocked_domain, blocked_word,
       url_len <= 256 AS r_length,
       2 * host_digits <= host_len AS r_host_digits,
       path_depth <= 10 AS r_path_depth,
       n_params <= 8 AS r_params,
       (url_len <= 256 AND 2 * host_digits <= host_len
        AND path_depth <= 10 AND n_params <= 8
        AND NOT blocked_domain AND NOT blocked_word) AS url_keep
FROM m
"""


@register(
    "web_url_quality",
    _urlq_oracle(),
    doc="URL quality filters (the RefinedWeb/FineWeb pre-fetch gate — "
    "judging a page by its address is free; fetching it is not): URL "
    "length <= 256, digit fraction of the host <= 50% (integer "
    "cross-multiplied), path depth <= 10, query params <= 8, plus "
    "pinned blocklists for domains (exact or subdomain suffix) and "
    "URL substrings. The fixture schedule is closed-form in doc_id — "
    "every 6th URL a blocklisted domain, 6th+1 a 300-char tail, "
    "6th+2 a digit-mill host, 6th+3 a 12-deep path, 6th+4 a spam "
    "keyword; the rest clean article URLs. Pure column expressions "
    "over one scan — composes in FRONT of web_frontier_build's "
    "robots gate, so at 100 TB the cheap string rules prune before "
    "any rule-table join.",
)
def web_url_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    url = F.expr(_URLQ_URL_SQL_T.format(STR="STRING"))
    docs = t(spark, sf_dir, "documents").select("doc_id", url.alias("url"))
    host = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    m = docs.select(
        "doc_id",
        "url",
        host.alias("host"),
        F.length("url").cast("bigint").alias("url_len"),
        (
            F.length(host)
            - F.length(F.regexp_replace(host, "[0-9]", ""))
        )
        .cast("bigint")
        .alias("host_digits"),
        F.length(host).cast("bigint").alias("host_len"),
        (F.length(path) - F.length(F.replace(path, F.lit("/"), F.lit(""))))
        .cast("bigint")
        .alias("path_depth"),
        F.when(
            F.contains("url", F.lit("?")),
            1
            + F.length("url")
            - F.length(F.replace(F.col("url"), F.lit("&"), F.lit(""))),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("n_params"),
    )
    blocked_domain = None
    for dname in _URLQ_BLOCK_DOMAINS:
        c = (F.col("host") == dname) | F.col("host").like(f"%.{dname}")
        blocked_domain = c if blocked_domain is None else blocked_domain | c
    blocked_word = None
    for wname in _URLQ_BLOCK_WORDS:
        c = F.contains(F.lower(F.col("url")), F.lit(wname))
        blocked_word = c if blocked_word is None else blocked_word | c
    r_len = F.col("url_len") <= 256
    r_dig = 2 * F.col("host_digits") <= F.col("host_len")
    r_depth = F.col("path_depth") <= 10
    r_par = F.col("n_params") <= 8
    return m.select(
        "doc_id", "url_len", "host_digits", "path_depth", "n_params",
        blocked_domain.alias("blocked_domain"),
        blocked_word.alias("blocked_word"),
        r_len.alias("r_length"),
        r_dig.alias("r_host_digits"),
        r_depth.alias("r_path_depth"),
        r_par.alias("r_params"),
        (
            r_len & r_dig & r_depth & r_par
            & ~blocked_domain & ~blocked_word
        ).alias("url_keep"),
    )


# ---------------------------------------------------------------------------
# Sharded JSONL sink — the training-data handoff format
# ---------------------------------------------------------------------------

_JSONL_SHARDS = 8


def _jsonl_shards_oracle() -> str:

    return f"""
SELECT {bucket_sql('doc_id', _JSONL_SHARDS)} AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
FROM documents GROUP BY 1
"""


@register(
    "snk_jsonl_shards",
    _jsonl_shards_oracle(),
    doc="Sharded JSONL export — the handoff format LLM training "
    "toolchains actually consume (one JSON object per line, "
    "hash-sharded files a data loader streams independently): "
    "documents serialize with to_json, write partitioned by the "
    "md5-derived shard (split_train_hash's bucket primitive, so "
    "assignment is reproducible anywhere), and the query re-reads "
    "the written TEXT files back, re-parses each line with "
    "from_json, and aggregates per shard — counts, id checksum, and "
    "language cardinality only prove out if serialization, sharded "
    "layout, and re-parse are all lossless. Shard directories are "
    "independent at 100 TB (each file a self-contained JSONL "
    "stream); the write is one hash-partitioned pass.",
)
def snk_jsonl_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = scratch("snk_jsonl_shards", sf_dir)
    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    payload = F.to_json(F.struct("doc_id", "lang", "source", "text"))
    (
        docs.select(
            hash_bucket(F.col("doc_id"), _JSONL_SHARDS).alias("shard"),
            payload.alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    lines = spark.read.text(path)
    parsed = lines.select(
        F.from_json("value", schema).alias("r"),
        F.input_file_name().alias("_f"),
    ).select(
        "r.doc_id",
        "r.lang",
        F.regexp_extract("_f", r"shard=(\d+)", 1)
        .cast("bigint")
        .alias("shard"),
    )
    return parsed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )


# ---------------------------------------------------------------------------
# Deterministic epoch-shuffle training sink — completes snk_jsonl_shards
# + pack_curriculum with the trainer-side shuffled epoch order
# ---------------------------------------------------------------------------

# Epoch seed is pinned; a trainer would pass epoch number here. The
# permutation rank of a doc is the 60-bit md5 key of 'epoch{seed}:id'
# (content_hash64 — the repo's cross-engine hash primitive), so ANY
# worker reproduces the full epoch order from ids alone, with no RNG
# state and no coordination.
_EPOCH_SEED = 11


_EPOCH_SHARDS = 8


# Shard = rank-key range: rk div 2^57 for 8 shards over the 60-bit key
# space. md5 uniformity balances the shards by construction — no
# sampled range boundaries (repartitionByRange samples, which is not
# reproducible), no global sort, no driver state. Reading shard 0..7,
# each ordered by (rk, doc_id), IS the epoch permutation.
_EPOCH_RANGE_DIV = 1 << 57


def _shuffled_shards_oracle() -> str:
    rk = content_hash64_sql(
        f"'epoch{_EPOCH_SEED}:' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
WITH r AS (
    SELECT doc_id, {rk} AS rk FROM documents
),
s AS (
    SELECT doc_id, rk, rk // {_EPOCH_RANGE_DIV} AS shard FROM r
),
p AS (
    SELECT shard, doc_id, rk,
           ROW_NUMBER() OVER (
               PARTITION BY shard ORDER BY rk, doc_id) AS epoch_pos
    FROM s
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(MIN(rk) AS BIGINT) AS min_rk,
       CAST(MAX(rk) AS BIGINT) AS max_rk,
       CAST(SUM(epoch_pos * doc_id) AS BIGINT) AS pos_checksum,
       CAST(0 AS BIGINT) AS n_misplaced,
       CAST(0 AS BIGINT) AS n_bad_rk
FROM p GROUP BY 1
"""


@register(
    "snk_shuffled_shards",
    _shuffled_shards_oracle(),
    doc="Deterministic epoch-shuffle training sink — the trainer-side "
    "op that completes snk_jsonl_shards + pack_curriculum: each "
    "document's permutation rank is the 60-bit md5 key of "
    "'epoch{seed}:doc_id', its shard is the KEY RANGE rk div 2^57 "
    "(md5 uniformity balances shards by construction — deliberately "
    "NOT repartitionByRange, whose sampled boundaries are not "
    "reproducible), and shard files are written pre-sorted by "
    "(rk, doc_id), so reading shards 0..7 in order IS the shuffled "
    "epoch and any worker reproduces it from ids alone. The query "
    "re-reads the written JSONL, recomputes rank and shard from the "
    "payload, asserts the directory layout matches (n_misplaced must "
    "be 0) and the stored ranks agree (n_bad_rk must be 0), and "
    "emits per-shard count/id-checksum/key-range plus a "
    "POSITIONAL checksum sum(epoch_pos*doc_id) that only matches the "
    "oracle if the permutation is exactly right. Scale: one hash "
    "shuffle + per-shard sort; shard count would be O(cluster "
    "cores) at 100 TB (pinned 8 here), shards stream independently "
    "into loaders.",
)
def snk_shuffled_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rank_key(doc_id_col):
        return content_hash64(
            F.concat(
                F.lit(f"epoch{_EPOCH_SEED}:"), doc_id_col.cast("string")
            )
        )

    path = scratch("snk_shuffled_shards", sf_dir)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    keyed = docs.select(
        "doc_id",
        "lang",
        rank_key(F.col("doc_id")).alias("rk"),
    ).withColumn("shard", F.expr(f"rk DIV {_EPOCH_RANGE_DIV}"))
    (
        keyed.repartition(_EPOCH_SHARDS, "shard")
        .sortWithinPartitions("shard", "rk", "doc_id")
        .select(
            "shard",
            F.to_json(F.struct("doc_id", "lang", "rk")).alias("value"),
        )
        .write.mode("overwrite")
        .partitionBy("shard")
        .text(path)
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("rk", T.LongType()),
        ]
    )
    parsed = (
        spark.read.text(path)
        .select(
            F.from_json("value", schema).alias("r"),
            F.regexp_extract(F.input_file_name(), r"shard=(\d+)", 1)
            .cast("bigint")
            .alias("file_shard"),
        )
        .select("r.doc_id", "r.rk", "file_shard")
    )
    # Everything below recomputes from the payload: rank from the id,
    # shard from the rank. The file layout (coalesced to -1 so a path
    # that fails the shard= extraction COUNTS as misplaced instead of
    # null-ing out of the sum) and the rank STORED in the JSONL both
    # have to agree with the recomputation (review finding: the
    # stored rk was previously parsed but never compared).
    checked = parsed.select(
        "doc_id",
        F.coalesce("file_shard", F.lit(-1)).alias("file_shard"),
        F.col("rk").alias("stored_rk"),
        rank_key(F.col("doc_id")).alias("rk"),
    ).withColumn("shard", F.expr(f"rk DIV {_EPOCH_RANGE_DIV}"))
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy("rk", "doc_id")
    )
    placed = checked.withColumn("epoch_pos", pos)
    bad_rk = F.coalesce(
        (F.col("stored_rk") != F.col("rk")).cast("int"), F.lit(1)
    )
    return placed.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.min("rk").cast("bigint").alias("min_rk"),
        F.max("rk").cast("bigint").alias("max_rk"),
        F.sum(F.col("epoch_pos") * F.col("doc_id"))
        .cast("bigint")
        .alias("pos_checksum"),
        F.sum((F.col("file_shard") != F.col("shard")).cast("int"))
        .cast("bigint")
        .alias("n_misplaced"),
        F.sum(bad_rk).cast("bigint").alias("n_bad_rk"),
    )


# ---------------------------------------------------------------------------
# Schema-evolution source read — mergeSchema over heterogeneous snapshots
# ---------------------------------------------------------------------------

_MERGESCHEMA_ORACLE = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_with_source,
       CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_source,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(SUM(doc_id) AS BIGINT) AS id_checksum
FROM documents
"""


@register(
    "src_parquet_mergeschema",
    _MERGESCHEMA_ORACLE,
    doc="Schema-evolution read — the lake-format reality at 100 TB: "
    "old partitions were written before a column existed. Two "
    "snapshots of the corpus are written side by side (v1: even "
    "doc_ids WITHOUT the source column — the pre-evolution schema; "
    "v2: odd doc_ids with it), then read back as ONE relation via "
    "spark.read.option('mergeSchema', true) — the widened schema "
    "back-fills NULL for v1's missing column. The aggregate (row "
    "count, non-null vs null source split exactly on the snapshot "
    "boundary, language cardinality, id checksum) only matches the "
    "oracle's closed-form expectation if the union, the back-fill, "
    "and the column alignment are all correct. Note mergeSchema "
    "reads every footer — production pins the merged schema in the "
    "catalog instead; this query proves the mechanics the catalog "
    "automates.",
)
def src_parquet_mergeschema(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch("src_parquet_mergeschema", sf_dir)
    docs = t(spark, sf_dir, "documents")
    (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", "lang")
        .write.mode("overwrite")
        .parquet(f"{path}/v1")
    )
    (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", "lang", "source")
        .write.mode("overwrite")
        .parquet(f"{path}/v2")
    )
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(path)
    )
    return merged.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum(F.col("source").isNotNull().cast("int"))
        .cast("bigint")
        .alias("n_with_source"),
        F.sum(F.col("source").isNull().cast("int"))
        .cast("bigint")
        .alias("n_null_source"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# snk_webdataset_shards — WebDataset-style tar shard training sink
# ---------------------------------------------------------------------------

_WDS_SHARDS = 8


# Per-sample body hashes are summed mod this prime so the checksum can
# never overflow int64 at any corpus size (60-bit raw hashes would at
# ~8k rows/shard).
_WDS_MOD = 1_000_000_007


def _wds_oracle() -> str:
    rk = content_hash64_sql("'wds:' || CAST(doc_id AS VARCHAR)")
    body_h = content_hash64_sql("body")
    return f"""
WITH k AS (
    SELECT doc_id, COALESCE(text, '') AS body,
           {rk} AS rk
    FROM documents
),
p AS (
    SELECT doc_id, body, rk, rk % {_WDS_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY rk % {_WDS_SHARDS} ORDER BY rk, doc_id
           ) AS BIGINT) AS pos
    FROM k
)
SELECT shard,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(SUM(strlen(body)) AS BIGINT) AS bytes_text,
       CAST(SUM(pos * doc_id) AS BIGINT) AS pos_checksum,
       CAST(SUM({body_h} % {_WDS_MOD}) AS BIGINT) AS body_checksum,
       CAST(0 AS BIGINT) AS n_bad_rk
FROM p GROUP BY shard
"""


@register(
    "snk_webdataset_shards",
    _wds_oracle(),
    doc="WebDataset-style tar shard training sink — the multimodal "
    "loader format (Beaumont et al.'s img2dataset / LAION tooling "
    "convention: one tar per shard, one sample = same-basename member "
    "files, loaders stream tars sequentially with zero coordination). "
    "Each document's shard is its salted md5 hash mod 8; within a "
    "shard, samples are laid out in (rank, doc_id) order and written "
    "as {doc_id}.txt (the body) + {doc_id}.json (metadata incl. the "
    "rank key) with pinned mtime/uid so the tar bytes are fully "
    "deterministic. The writer is one Arrow group per shard "
    "(atomic tmp+rename, so task retries are idempotent); the reader "
    "re-opens every tar in a second Arrow stage, walks members IN TAR "
    "ORDER, recomputes the rank from the payload, and checks the "
    "stored rank (n_bad_rk must be 0). The emitted per-shard count / "
    "id / byte / POSITIONAL checksums only match the oracle if shard "
    "assignment, sample order, and bodies are all exactly right. "
    "Scale: shard count would be O(cluster cores) at 100 TB (pinned "
    "8 here); each shard writes and verifies independently — no "
    "global sort, no driver data path.",
)
def snk_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = scratch("snk_webdataset_shards", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", F.coalesce("text", F.lit("")).alias("body")
    )
    keyed = docs.select(
        "doc_id",
        "body",
        content_hash64(
            F.concat(F.lit("wds:"), F.col("doc_id").cast("string"))
        ).alias("rk"),
    ).withColumn("shard", F.col("rk") % _WDS_SHARDS)

    def _write_shard(table: pa.Table) -> dict:
        shard = table["shard"][0].as_py()
        table = table.sort_by([("rk", "ascending"), ("doc_id", "ascending")])
        path = os.path.join(base, f"shard-{shard:05d}.tar")
        fd, tmp = tempfile.mkstemp(dir=base, suffix=".tmp")
        with os.fdopen(fd, "wb") as fh:
            with tarfile.open(fileobj=fh, mode="w") as tar:
                cols = (table[c].to_pylist() for c in ("doc_id", "body", "rk"))
                for doc_id, body, rk in zip(*cols):
                    key = f"{doc_id:012d}"
                    txt = body.encode("utf-8")
                    meta = json.dumps(
                        {"doc_id": doc_id, "rk": rk}, sort_keys=True
                    ).encode("utf-8")
                    for suffix, payload in ((".txt", txt), (".json", meta)):
                        info = tarfile.TarInfo(name=key + suffix)
                        info.size = len(payload)
                        info.mtime = 0  # pinned: byte-deterministic tars
                        tar.addfile(info, io.BytesIO(payload))
        os.replace(tmp, path)  # atomic publish — retries are idempotent
        return {"shard": [shard], "path": [path], "n": [table.num_rows]}

    manifest = map_groups(
        keyed.repartition(_WDS_SHARDS, "shard").groupBy("shard"),
        _write_shard,
        "shard bigint, path string, n bigint",
    )

    def _read_shards(shard, path, _n):
        with tarfile.open(path, "r") as tar:
            pos = 0
            pending: dict[str, bytes] = {}
            for member in tar:
                key, suffix = os.path.splitext(member.name)
                payload = tar.extractfile(member).read()
                pending[suffix] = payload
                if len(pending) < 2:
                    continue
                # one full sample (.txt + .json) collected
                pos += 1
                body = pending[".txt"]
                meta = json.loads(pending[".json"])
                pending = {}
                doc_id = int(key)
                expect_rk = int(
                    md5(f"wds:{doc_id}".encode()).hexdigest()[:15],
                    16,
                )
                bad = (
                    int(meta["doc_id"]) != doc_id
                    or int(meta["rk"]) != expect_rk
                )
                yield (
                    shard,
                    pos,
                    doc_id,
                    len(body),
                    int(md5(body).hexdigest()[:15], 16) % _WDS_MOD,
                    1 if bad else 0,
                )

    samples = map_rows(
        manifest.repartition(_WDS_SHARDS),
        _read_shards,
        "shard bigint, pos bigint, doc_id bigint, octet_len bigint, "
        "body_h bigint, bad_rk bigint",
    )
    return samples.groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_samples"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
        F.sum("octet_len").cast("bigint").alias("bytes_text"),
        F.sum(F.col("pos") * F.col("doc_id"))
        .cast("bigint")
        .alias("pos_checksum"),
        F.sum("body_h").cast("bigint").alias("body_checksum"),
        F.sum("bad_rk").cast("bigint").alias("n_bad_rk"),
    )


# ---------------------------------------------------------------------------
# src_xml_roundtrip — native XML datasource (Spark 4 built-in)
# ---------------------------------------------------------------------------

_XML_ORACLE = """
SELECT n.n_regionkey, r.r_name,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(n.n_nationkey) AS BIGINT) AS sum_nationkey
FROM nation n JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY n.n_regionkey, r.r_name
"""


@register(
    "src_xml_roundtrip",
    _XML_ORACLE,
    doc="XML source/sink round-trip via Spark 4's NATIVE xml datasource "
    "(spark-xml was merged into core in 4.0 — no external package): "
    "the nation-region join is written as <rows><row>...</row></rows> "
    "documents, read back with an EXPLICIT schema (never inference — "
    "schema drift must fail loudly, and an inference pass is a second "
    "full scan at 100 TB), and aggregated per region. The aggregate "
    "only matches the oracle if the XML writer/parser preserved every "
    "row and type. Dimension-sized here by design: XML is a feed "
    "format for reference data, not a fact-table format.",
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch("src_xml_roundtrip", sf_dir)
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    joined = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_regionkey", "r_name"
    )
    (
        joined.coalesce(1)
        .write.mode("overwrite")
        .format("xml")
        .option("rootTag", "rows")
        .option("rowTag", "row")
        .save(path)
    )
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema(schema)
        .load(path)
    )
    return back.groupBy("n_regionkey", "r_name").agg(
        F.count("*").cast("bigint").alias("n_nations"),
        F.sum("n_nationkey").cast("bigint").alias("sum_nationkey"),
    )


# ---------------------------------------------------------------------------
# src_python_datasource — custom Python DataSource (Spark 4 API)
# ---------------------------------------------------------------------------

_SYNTH_N = 100_000


_SYNTH_PARTS = 8


def _pyds_oracle() -> str:
    return f"""
WITH rows AS (
    SELECT g AS row_id,
           CAST(g % {_SYNTH_PARTS} AS INT) AS part_id,
           (g * {SYNTH_MULT}) % {SYNTH_MOD} AS val
    FROM generate_series(0, {_SYNTH_N - 1}) t(g)
)
SELECT part_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(MIN(row_id) AS BIGINT) AS min_row,
       CAST(MAX(row_id) AS BIGINT) AS max_row,
       CAST(SUM((row_id * val) % {SYNTH_MOD}) AS BIGINT) AS mix_checksum
FROM rows GROUP BY part_id
"""


@register(
    "src_python_datasource",
    _pyds_oracle(),
    doc="Custom Python DataSource via Spark 4's official "
    "pyspark.sql.datasource extension API (sources/pydatasource.py) — "
    "the sanctioned way to teach Spark a source only Python can read "
    "(bespoke feeds, internal formats), superseding driver-side "
    "collect-then-parallelize loaders. The source PLANS one "
    "InputPartition per round-robin slice and each task generates "
    "only its own rows, so the scan parallelizes like a file source "
    "(no driver data path); the per-partition min/max/count/checksum "
    "aggregate only matches the oracle's generate_series replay if "
    "every partition produced exactly its slice — a partition-"
    "planning bug (dup/missing/shifted slice) breaks min_row/"
    "max_row/mix_checksum. Row values are int64 Knuth-hash "
    "arithmetic kept below 2^63 (both engines exact).",
)
def src_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_synth_source(spark)
    df = (
        spark.read.format("synthrange")
        .option("n", _SYNTH_N)
        .option("parts", _SYNTH_PARTS)
        .load()
    )
    return df.groupBy("part_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("val").cast("bigint").alias("sum_val"),
        F.min("row_id").cast("bigint").alias("min_row"),
        F.max("row_id").cast("bigint").alias("max_row"),
        F.sum((F.col("row_id") * F.col("val")) % SYNTH_MOD)
        .cast("bigint")
        .alias("mix_checksum"),
    )


# ---------------------------------------------------------------------------
# snk_python_datasource — custom Python DataSource WRITER (2-phase commit)
# ---------------------------------------------------------------------------

_PYSNK_ORACLE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
FROM documents GROUP BY lang
"""


@register(
    "snk_python_datasource",
    _PYSNK_ORACLE,
    doc="Custom Python DataSource WRITER via Spark 4's "
    "pyspark.sql.datasource API (sources/pydatasource.py JsonlSink) — "
    "the sink-side twin of src_python_datasource, demonstrating the "
    "API's TWO-PHASE COMMIT protocol: every task publishes a "
    "uniquely-named file via tmp + atomic rename and returns a "
    "commit message; only the driver-side commit() writes the "
    "manifest that makes work visible. The query re-reads ONLY the "
    "manifest-listed files (uncommitted or retried-task orphans are "
    "invisible by construction — the exactly-once story object "
    "stores need) and aggregates per language; the totals only "
    "match the oracle if no task output was lost or double-counted. "
    "Scale: tasks write independently, commit is O(tasks) metadata "
    "— the same shape as a Hadoop commit protocol.",
)
def snk_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:


    register_jsonl_sink(spark)
    base = scratch("snk_python_datasource", sf_dir)
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    docs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    (
        docs.repartition(8, "doc_id")
        .write.format("jsonlsink")
        .option("path", base)
        .mode("append")
        .save()
    )
    manifest = read_manifest(base)
    files = [os.path.join(base, f) for f in manifest["files"]]
    schema = "doc_id long, lang string"
    if not files:  # empty input relation → manifest lists zero files
        back = local_table(spark, [], schema)
    else:
        back = spark.read.schema(schema).json(files)
    return back.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_id").cast("bigint").alias("sum_doc_id"),
    )


# ---------------------------------------------------------------------------
# snk_partitioned_prune — hive-partitioned sink + partition-pruned re-read
# ---------------------------------------------------------------------------

_PART_PRUNE_VALUE = "1-URGENT"


_PART_PRUNE_ORACLE = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
FROM orders WHERE o_orderpriority = '{_PART_PRUNE_VALUE}'
"""


@register(
    "snk_partitioned_prune",
    _PART_PRUNE_ORACLE,
    doc="Hive-partitioned parquet sink + partition-pruned re-read: the "
    "table is written partitionBy(o_orderpriority) (one directory per "
    "value) and re-read with an equality filter on the partition "
    "column, so the scan lists and reads ONLY the matching directory — "
    "pruning happens at FILE LISTING time, before any footer or page "
    "IO (the directory-layout half of the story next to "
    "snk_clustered_prune's footer-stats half; at 100 TB, partition "
    "pruning is what turns a full-table scan into a 1/N-of-the-table "
    "scan for time/tenant/priority-scoped queries). The plan carries "
    "the filter as PartitionFilters on the scan (locked in "
    "tests/test_plan_invariants.py). Round-trip values are "
    "oracle-checked against the unpartitioned source.",
)
def snk_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:

    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    target = scratch("snk_partitioned", sf_dir)
    orders.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
        target
    )
    return (
        spark.read.parquet(target)
        .filter(F.col("o_orderpriority") == _PART_PRUNE_VALUE)
        .select(
            "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
        )
    )


# ---------------------------------------------------------------------------
# src_jsonl_quarantine — permissive JSONL ingest with corrupt routing
# ---------------------------------------------------------------------------

_JSONL_BAD_MOD = 11  # every 11th doc id emits a syntactically broken line


_JSONL_ORACLE = f"""
SELECT CASE WHEN doc_id % {_JSONL_BAD_MOD} = 0 THEN NULL
       ELSE doc_id END AS doc_id,
       CASE WHEN doc_id % {_JSONL_BAD_MOD} = 0 THEN NULL
       ELSE n_chars END AS n_chars,
       (doc_id % {_JSONL_BAD_MOD} = 0) AS is_corrupt
FROM documents
"""


@register(
    "src_jsonl_quarantine",
    _JSONL_ORACLE,
    doc="Error-tolerant JSONL ingestion: a landing file where one line "
    "in 11 is SYNTACTICALLY broken JSON (truncated object — the "
    "structural failure class src_csv_permissive's bad-cell case "
    "doesn't cover: here the whole record is unparseable, not one "
    "field) read in PERMISSIVE mode with columnNameOfCorruptRecord — "
    "broken lines surface as all-null rows with the raw text "
    "preserved in the corrupt column for the quarantine path, instead "
    "of killing the load (FAILFAST) or silently vanishing "
    "(DROPMALFORMED). At 100 TB of crawled JSONL, a per-record "
    "quarantine is the only ingestion contract that survives reality. "
    "The oracle reconstructs the expected parse/corrupt pattern from "
    "the synthesis rule (nulls for broken lines, parsed values "
    "elsewhere).",
)
def src_jsonl_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:

    path = scratch("src_jsonl_quarantine", sf_dir)
    docs = t(spark, sf_dir, "documents")
    good = F.concat(
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    broken = F.concat(  # no closing brace: structurally invalid JSON
        F.lit('{"doc_id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "n_chars": '),
    )
    docs.select(
        F.when(F.col("doc_id") % _JSONL_BAD_MOD == 0, broken)
        .otherwise(good)
        .alias("value")
    ).write.mode("overwrite").text(path)
    raw = (
        spark.read.schema("doc_id long, n_chars long, _bad string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_bad")
        .json(path)
    )
    return raw.select(
        "doc_id", "n_chars", F.col("_bad").isNotNull().alias("is_corrupt")
    )
