"""Text queries (``text_*``, ``tok_*``, ``pii_*``): document scoring and
filtering, n-gram and BM25 statistics, tokenizer and BPE signals, and
PII scans over ``documents``.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

from collections import Counter
from itertools import repeat

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table, map_rows
from evolution_data_warehouse_spark.operators.bpe import (
    bpe_encode_ids,
    bpe_segment_expr,
    bpe_segment_sql,
    bpe_vocab,
)
from evolution_data_warehouse_spark.operators.dedup import (
    cap_shingle_df,
    content_hash64,
    DEFAULT_MAX_SHINGLE_DF,
)
from evolution_data_warehouse_spark.operators.gopher import (
    DUP_NGRAM_MAX_PCT,
    gopher_flags,
    gopher_flags_sql,
    gopher_metrics,
    gopher_metrics_sql,
    repetition_ngram_stats,
    TOP_NGRAM_MAX_PCT,
)
from evolution_data_warehouse_spark.operators.textops import (
    fingerprint,
    lang_scores,
    lower_tokens,
    lower_tokens_sql,
    predict_lang,
    stopword_hits,
    STOPWORDS,
    token_counts,
    TOKEN_RE,
    tokens_ws,
    word_shingles,
)
from evolution_data_warehouse_spark.queries.common import (
    cpu_repartition,
    dsum,
    dsum_sql,
    fpq,
    fpq_sql,
    register,
    t,
)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


@register(
    "text_tokens",
    "SELECT doc_id, "
    "CAST(len(str_split(text, ' ')) AS INT) AS n_tokens_ws, "
    f"CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS INT) AS n_tokens_re "
    "FROM documents",
    doc="Token counting: whitespace + BPE-ish regex tokenizer.",
)
def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_ws, n_re = token_counts(F.col("text"))
    return t(spark, sf_dir, "documents").select(
        "doc_id", n_ws.alias("n_tokens_ws"), n_re.alias("n_tokens_re")
    )


_EN_STOPS_SQL = "['the','and','of','to','a']"


_QUALITY_ORACLE = f"""
WITH q AS (
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_obs,
           CAST(len(str_split(text, ' ')) AS INT) AS n_tokens,
           CAST(len(list_filter({lower_tokens_sql('text')},
                    x -> list_contains({_EN_STOPS_SQL}, x))) AS INT) AS stop_hits
    FROM documents
)
SELECT doc_id, n_chars_obs, n_tokens,
       CAST(stop_hits AS DOUBLE) / NULLIF(CAST(n_tokens AS DOUBLE), 0.0)
           AS stopword_ratio,
       CAST(n_chars_obs - (n_tokens - 1) AS DOUBLE)
           / NULLIF(CAST(n_tokens AS DOUBLE), 0.0) AS avg_token_len
FROM q
"""


@register(
    "text_quality",
    _QUALITY_ORACLE,
    doc="Quality scoring: length / stopword-ratio / token-shape features — "
    "pure column expressions, streams at scan speed.",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.length("text").alias("n_chars_obs"),
        F.size(tokens_ws(F.col("text"))).alias("n_tokens"),
        stopword_hits(F.col("text"), STOPWORDS["en"]).alias(
            "stop_hits"
        ),
    )
    nt = F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0))
    return df.select(
        "doc_id",
        "n_chars_obs",
        "n_tokens",
        (F.col("stop_hits").cast("double") / nt).alias("stopword_ratio"),
        ((F.col("n_chars_obs") - (F.col("n_tokens") - 1)).cast("double") / nt).alias(
            "avg_token_len"
        ),
    )


def _langid_oracle() -> str:
    langs = sorted(STOPWORDS)
    score_cols = ", ".join(
        f"CAST(len(list_filter({lower_tokens_sql('text')}, "
        f"x -> list_contains([{', '.join(repr(w) for w in STOPWORDS[lang])}], x))) AS INT)"
        f" AS s_{lang}"
        for lang in langs
    )
    best = f"greatest({', '.join('s_' + lang for lang in langs)})"
    chain = " ".join(
        f"WHEN s_{lang} >= {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH s AS (SELECT doc_id, lang AS labeled_lang, {score_cols} FROM documents)
SELECT doc_id, labeled_lang, CASE {chain} END AS predicted_lang FROM s
"""


@register(
    "text_langid",
    _langid_oracle(),
    doc="Language ID via stopword-hit heuristic, deterministic argmax "
    "(first-wins in lang order).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    scores = lang_scores(F.col("text"))
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predict_lang(scores).alias("predicted_lang"),
    )


@register(
    "text_fingerprint",
    "SELECT doc_id, md5(array_to_string(list_sort(list_distinct("
    f"{lower_tokens_sql('text')})), ' ')) AS fingerprint FROM documents",
    doc="Document fingerprint: md5 over the sorted distinct token set "
    "(bag-of-words canonicalization key).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id", fingerprint(F.col("text")).alias("fingerprint")
    )


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → distinct 3-gram word shingles (exploded).

    The shingle build (split + transform + array_distinct + explode) is
    the CPU-heavy stage of every dedup pipeline; a corpus that arrives
    in fewer input splits than the cluster has cores would serialize
    it. Spread the raw docs to full width first — the raw-text shuffle
    is tiny next to the exploded output, and the guard never *reduces*
    an already-wide scan (the 100 TB case, where the scan brings
    thousands of splits on its own).
    """
    docs = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    shingles = word_shingles(lower_tokens("text"))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )


# ---------------------------------------------------------------------------
# text redaction + vector centroid / k-means assignment step
# ---------------------------------------------------------------------------


@register(
    "text_redact",
    "SELECT doc_id, regexp_replace(regexp_replace(text, '[0-9]+', '<NUM>', 'g'), "
    "'(key|customer)', '<ENT>', 'g') AS redacted FROM documents",
    doc="PII-style redaction: numeric spans and entity tokens replaced "
    "inline — a streaming-safe scrub pass (pure regexp, scan speed).",
)
def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "[0-9]+", "<NUM>"),
            "(key|customer)",
            "<ENT>",
        ).alias("redacted"),
    )


_TFIDF_TOP_K = 5


# Linear inverse document frequency (tf * N / df) instead of log-idf:
# ln() is only ~1-ulp reproducible across libm implementations, which
# breaks bit-exact oracle matching; the linear variant is exact integer
# arithmetic and preserves the ranking behavior needed here.
_TFIDF_ORACLE = f"""
WITH tk AS (
    SELECT doc_id, unnest({lower_tokens_sql('text')}) AS token FROM documents
),
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY token),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT doc_id, token,
           CAST(tf AS DOUBLE) * CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)
               AS score
    FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id, token, score, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rank
    FROM scored
) WHERE rank <= {_TFIDF_TOP_K}
"""


@register(
    "text_tfidf",
    _TFIDF_ORACLE,
    doc="Top-k characteristic terms per document by tf·(N/df) weighting "
    "(linear idf — see oracle note), fully tie-broken ranking.",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # Same single-split guard as doc_shingles: the tokenize+explode is
    # the heavy stage; never let one input split serialize it.
    wide = cpu_repartition(docs, "doc_id")
    tk = wide.select(
        "doc_id", F.explode(lower_tokens("text")).alias("token")
    )
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tk.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size folded into the plan as a broadcast 1-row aggregate
    # (mirrors the oracle's CROSS JOIN n): the whole query is one job,
    # instead of a separate driver-side count() scan of documents.
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(df_, "token").crossJoin(n).select(
        "doc_id",
        "token",
        (
            F.col("tf").cast("double")
            * F.col("n_docs").cast("double")
            / F.col("df").cast("double")
        ).alias("score"),
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_TOP_K)
        .select("doc_id", "token", "score", "rank")
    )


# ---------------------------------------------------------------------------
# repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = f"""
WITH tk AS (
    SELECT doc_id, unnest({lower_tokens_sql('text')}) AS token FROM documents
),
cnt AS (
    SELECT doc_id, token, COUNT(*) AS c FROM tk GROUP BY doc_id, token
),
agg AS (
    SELECT doc_id,
           CAST(SUM(c) AS INT) AS n_tokens,
           CAST(COUNT(*) AS INT) AS n_distinct,
           CAST(MAX(c) AS INT) AS top_token_n
    FROM cnt GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_distinct, top_token_n,
       1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS dup_word_ratio,
       CAST(top_token_n AS DOUBLE) / CAST(n_tokens AS DOUBLE)
           AS top_token_ratio
FROM agg
"""


@register(
    "text_repetition",
    _REPETITION_ORACLE,
    doc="Repetition signals for corpus quality filtering (the "
    "Gopher-rule shape: excessive duplicate words / one dominant "
    "token mark low-quality docs): duplicate-word fraction and "
    "top-token frequency share per document. One explode + two hash "
    "aggregates, partials combined map-side — linear at corpus scale. "
    "Ratios are single IEEE divisions of exact integer counts, so "
    "they are bit-identical across engines.",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    tok = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(lower_tokens("text")).alias("token"),
    )
    cnt = tok.groupBy("doc_id", "token").agg(F.count("*").alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("int").alias("n_tokens"),
        F.count("*").cast("int").alias("n_distinct"),
        F.max("c").cast("int").alias("top_token_n"),
    )
    nt = F.col("n_tokens").cast("double")
    return agg.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        "top_token_n",
        (F.lit(1.0) - F.col("n_distinct").cast("double") / nt).alias(
            "dup_word_ratio"
        ),
        (F.col("top_token_n").cast("double") / nt).alias("top_token_ratio"),
    )


# ---------------------------------------------------------------------------
# corpus n-gram statistics + embedding hygiene
# ---------------------------------------------------------------------------

_BIGRAM_ORACLE = f"""
WITH bg AS (
    SELECT unnest(list_transform(
               range(1, greatest(len(tk), 1)),
               i -> tk[i] || ' ' || tk[i+1]
           )) AS bigram
    FROM (SELECT {lower_tokens_sql('text')} AS tk FROM documents)
),
counted AS (
    SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram
)
SELECT prefix, bigram, cnt, CAST(rnk AS INT) AS rnk FROM (
    SELECT str_split(bigram, ' ')[1] AS prefix, bigram, cnt,
           ROW_NUMBER() OVER (
               PARTITION BY str_split(bigram, ' ')[1]
               ORDER BY cnt DESC, bigram ASC
           ) AS rnk
    FROM counted WHERE cnt >= 5
) WHERE rnk <= 3
"""


@register(
    "text_bigram_topk",
    _BIGRAM_ORACLE,
    doc="Corpus bigram language-model statistics: top-3 continuations "
    "per prefix token by corpus count (min support 5) — the n-gram-LM "
    "table a data pipeline derives for quality scoring and generation "
    "heuristics. One explode + hash aggregate; the per-prefix rank is "
    "bounded per partition (WindowGroupLimit shape), tie-broken by the "
    "bigram text.",
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = lower_tokens("text")
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counted = (
        t(spark, sf_dir, "documents")
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= 5)
    )
    prefix = F.split(F.col("bigram"), " ").getItem(0)
    w = W.partitionBy("prefix").orderBy(F.desc("cnt"), F.asc("bigram"))
    return (
        counted.withColumn("prefix", prefix)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("prefix", "bigram", "cnt", F.col("rnk").cast("int").alias("rnk"))
    )


# Per-doc average bigram log-probability under the corpus' own bigram
# model — the statistical quality filter (low score = improbable word
# salad). Determinism: p = cnt/prefix_cnt is an int÷int double
# (engine-identical); ln() could differ in the last ulp between libm
# implementations, so each log is rounded to 12 decimals via a DECIMAL
# cast before the (then exact) sum, and the final average is
# fixed-point-quantized — a 1-ulp ln() disagreement moves the result
# by ≤1e-12, absorbed by fpq's half-bucket margin.
_LM_SCORE_ORACLE = f"""
WITH bg AS (
    SELECT doc_id, unnest(list_transform(
               range(1, greatest(len(toks), 1)),
               i -> toks[i] || ' ' || toks[i+1]
           )) AS bigram
    FROM (SELECT doc_id, {lower_tokens_sql('text')} AS toks FROM documents)
),
counts AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram),
prefixes AS (
    SELECT str_split(bigram, ' ')[1] AS prefix, SUM(cnt) AS pcnt
    FROM counts GROUP BY prefix
),
probs AS (
    SELECT bigram,
           ln(CAST(cnt AS DOUBLE) / CAST(pcnt AS DOUBLE)) AS logp
    FROM counts JOIN prefixes ON str_split(bigram, ' ')[1] = prefix
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {{fpq}} AS avg_logp
FROM bg JOIN probs USING (bigram)
GROUP BY doc_id
""".format(
    fpq=fpq_sql(
        "CAST(SUM(CAST(logp AS DECIMAL(28,12))) AS DOUBLE)"
        " / CAST(COUNT(*) AS DOUBLE)"
    )
)


def _bigram_counts(doc_id, text):
    if text is None:  # NULL text = no bigrams
        return ()
    toks = text.split(" ")
    c = Counter(map(" ".join, zip(toks, toks[1:])))
    return zip(repeat(doc_id), c.keys(), c.values())


def doc_bigram_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, bigram, k) from (doc_id, text) in ONE narrow map_rows
    pass: a doc's bigram counts never cross rows, so Counter per doc
    replaces BOTH the interpreted higher-order bigram transform
    (guide §4.2 — the r15 profile put 53.4 s of executorRunTime in
    that scan stage at sf1) AND the (doc_id, bigram) exchange + final
    aggregate behind it (§2.4 — the counts arrive complete; r14's
    "spread collapses map-side aggregation" objection dissolves with
    the aggregation). Strings are exact (JVM lower, single-space
    split, " ".join == concat_ws), counts are integers: the relation
    is bit-identical to the old explode + groupBy (exceptAll-proven
    at sf1, oracle green). Idle sf1 full-query A/B 8.48 -> 7.09 s —
    a 16% win; the remaining cost is the downstream model joins."""
    return map_rows(docs, _bigram_counts, "doc_id bigint, bigram string, k bigint")


@register(
    "text_lm_score",
    _LM_SCORE_ORACLE,
    doc="Bigram-LM quality scoring: every document scored by its "
    "average bigram log-probability under the corpus' own counts — "
    "the statistical filter that ranks word salad below fluent text "
    "without any external model. Plan: the (doc, bigram, k) relation "
    "comes out of ONE Arrow-batched Counter pass (bigram counts never "
    "cross docs, so no exchange is needed to build it — r15; "
    "previously an interpreted-HOF transform + explode + two-phase "
    "aggregate), two hash aggregates for the model, one aggregate per "
    "doc — the corpus is never joined to itself. The "
    "weighted decimal sum logp·k is exact (decimal(28,12) × "
    "decimal(9,0) fits decimal(38,12)), so the result is bit-"
    "identical to the oracle's per-instance sum.",
)
def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    bgc = doc_bigram_counts(
        t(spark, sf_dir, "documents").select(
            "doc_id", F.lower(F.col("text")).alias("text")
        )
    ).localCheckpoint(eager=True)
    counts = bgc.groupBy("bigram").agg(F.sum("k").alias("cnt"))
    prefixes = counts.groupBy(
        F.split(F.col("bigram"), " ").getItem(0).alias("prefix")
    ).agg(F.sum("cnt").alias("pcnt"))
    probs = counts.join(
        prefixes,
        F.split(counts.bigram, " ").getItem(0) == prefixes.prefix,
    ).select(
        "bigram",
        F.log(
            F.col("cnt").cast("double") / F.col("pcnt").cast("double")
        ).alias("logp"),
    )
    avg_logp = (
        F.sum(
            F.col("logp").cast("decimal(28,12)")
            * F.col("k").cast("decimal(9,0)")
        ).cast("double")
        / F.sum("k").cast("double")
    )
    return (
        bgc.join(probs, "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("k").alias("n_bigrams"),
            fpq(avg_logp).alias("avg_logp"),
        )
    )


# Chunking geometry: 16-token windows advancing by 12 (4-token overlap)
_CHUNK_SIZE = 16


_CHUNK_STRIDE = 12


_CHUNK_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, {lower_tokens_sql('text')} AS tk FROM documents
),
chunks AS (
    SELECT doc_id,
           CAST(s AS INT) AS chunk_id,
           array_to_string(tk[s * {_CHUNK_STRIDE} + 1 :
                              s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}], ' ')
               AS chunk_text,
           CAST(len(tk[s * {_CHUNK_STRIDE} + 1 :
                       s * {_CHUNK_STRIDE} + {_CHUNK_SIZE}]) AS INT)
               AS n_tokens
    FROM toks,
         LATERAL unnest(range(0, CAST(ceil(
             greatest(len(tk) - {_CHUNK_SIZE}, 0) / {_CHUNK_STRIDE}.0
         ) AS BIGINT) + 1)) AS u(s)
)
SELECT doc_id, chunk_id, chunk_text, n_tokens FROM chunks
"""


@register(
    "text_chunk_overlap",
    _CHUNK_ORACLE,
    doc=f"Document chunking with overlap (RAG/window prep): "
    f"{_CHUNK_SIZE}-token windows advancing by {_CHUNK_STRIDE}, so "
    f"consecutive chunks share {_CHUNK_SIZE - _CHUNK_STRIDE} tokens "
    "and no token is lost at a boundary. The chunk index generates "
    "executor-side (sequence + explode over a per-doc count) — one "
    "narrow pass, output rows ≈ corpus tokens ÷ stride; every chunk "
    "carries (doc_id, chunk_id) so provenance survives shuffling.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = lower_tokens("text")
    n = F.size(tk)
    n_chunks = (
        F.ceil(
            F.greatest(n - F.lit(_CHUNK_SIZE), F.lit(0))
            / F.lit(float(_CHUNK_STRIDE))
        ).cast("bigint")
        + 1
    )
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        tk.alias("tk"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "s"
        ),
    )
    chunk = F.slice(
        F.col("tk"), (F.col("s") * _CHUNK_STRIDE + 1).cast("int"), _CHUNK_SIZE
    )
    return docs.select(
        "doc_id",
        F.col("s").cast("int").alias("chunk_id"),
        F.array_join(chunk, " ").alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
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


# shu → sh (df-capped shingle hashes) → sizes → inter: every doc pair's
# shared-shingle count over the sh0 shingle relation, the exact-overlap
# CTEs of the n-gram Jaccard and containment oracles
SHINGLE_OVERLAP_SQL = f"""shu AS (SELECT doc_id,
              CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS shingle_h
       FROM sh0),
sh AS (SELECT doc_id, shingle_h FROM shu
       QUALIFY COUNT(*) OVER (PARTITION BY shingle_h) <= {DEFAULT_MAX_SHINGLE_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)"""


_CONTAIN_ORACLE = f"""
WITH sh0 AS (
    SELECT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, greatest(len(toks) - 1, 1)),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
               ))) AS shingle
        FROM (SELECT doc_id, {lower_tokens_sql('text')} AS toks FROM documents)
    )
),
{SHINGLE_OVERLAP_SQL}
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
    sh = (
        cap_shingle_df(
            doc_shingles(spark, sf_dir).select(
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
# Per-document keyword extraction (tf-idf top-k)
# ---------------------------------------------------------------------------

_KEYWORDS_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct({lower_tokens_sql('text')})) AS term
    FROM documents
),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
df AS (SELECT term, COUNT(*) AS n_df FROM toks GROUP BY term),
tf AS (
    SELECT doc_id, term, COUNT(*) AS n_tf FROM (
        SELECT doc_id, unnest({lower_tokens_sql('text')}) AS term
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
    docs = t(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(lower_tokens("text")).alias("term")
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
# Vocabulary richness: hapax legomena ratio per language
# ---------------------------------------------------------------------------

_HAPAX_ORACLE = f"""
WITH toks AS (
    SELECT lang, unnest({lower_tokens_sql('text')}) AS tok FROM documents
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
        "lang", F.explode(lower_tokens("text")).alias("tok")
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
# Zipf slope of the token rank-frequency curve
# ---------------------------------------------------------------------------

_ZIPF_TOPK = 200


_ZIPF_ORACLE = f"""
WITH tc AS (
    SELECT tok, COUNT(*) AS freq FROM (
        SELECT unnest({lower_tokens_sql('text')}) AS tok FROM documents
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
        .select(F.explode(lower_tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
    )
    # top-K FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no global sort), THEN rank the bounded 200-row result — a
    # global row_number window over the full vocabulary would pull every
    # token into one partition, the single-reducer trap at corpus scale.
    topk = tc.orderBy(F.col("freq").desc(), "tok").limit(_ZIPF_TOPK)
    w = W.orderBy(F.col("freq").desc(), "tok")
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
# Simpson diversity of the token distribution per language
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = f"""
WITH toks AS (
    SELECT lang, unnest({lower_tokens_sql('text')}) AS tok FROM documents
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
            "lang", F.explode(lower_tokens("text")).alias("tok")
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
# Type-token ratio by document-length bucket
# ---------------------------------------------------------------------------

_TTR_ORACLE = f"""
WITH toks AS (
    SELECT n_chars // 100 AS len_bucket,
           unnest({lower_tokens_sql('text')}) AS tok
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
        F.explode(lower_tokens("text")).alias("tok"),
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
# BPE subword segmentation with a pinned learned merge table
# ---------------------------------------------------------------------------
#
# The APPLY side of tokenizer training: operators/bpe.py learns merges
# as an iterative Spark job (argmax recursion — engine+tests with a
# pure-Python reference oracle, like PageRank); this query applies a
# PINNED merge list learned from this corpus (bpe_train, n_merges=12)
# and reports the top subwords. Segmentation is expressed as ordered
# delimiter-string replaces — scan-replace has identical non-
# overlapping left-to-right semantics in Spark and DuckDB, so the
# oracle is exact. Replaces run at VOCABULARY cardinality (words are
# aggregated first, counts multiplied back), the 100 TB shape: corpus
# size enters one hash aggregate, nothing else.

_BPE_MERGES = [
    ("e", "r"), ("e", "▁"), ("n", "▁"), ("er", "▁"),
    ("o", "w"), ("ow", "▁"), ("o", "r"), ("s", "t"),
    ("h", "▁"), ("a", "t"), ("l", "u"), ("i", "n"),
]


_BPE_TOPK = 30


def _bpe_seg_sql() -> str:
    s = bpe_segment_sql("w", _BPE_MERGES)
    return f"""
WITH words AS (
    SELECT w, COUNT(*) AS n FROM (
        SELECT unnest(str_split_regex(lower(text), '\\s+')) AS w
        FROM documents
    ) WHERE w <> '' GROUP BY w
),
seg AS (SELECT {s} AS s, n FROM words),
subs AS (
    SELECT unnest(str_split(s, ' ')) AS subword, n FROM seg
)
SELECT subword, CAST(SUM(n) AS BIGINT) AS cnt
FROM subs WHERE subword <> ''
GROUP BY subword
ORDER BY cnt DESC, subword
LIMIT {_BPE_TOPK}
"""


@register(
    "tok_bpe_segment",
    _bpe_seg_sql(),
    doc="BPE subword segmentation of the corpus under a pinned "
    "12-merge table learned by operators/bpe.py (the iterative "
    "trainer itself is engine+tests against a pure-Python reference "
    "— its argmax recursion is not one SQL query). Words aggregate "
    "to vocabulary cardinality FIRST; the ordered merge replaces and "
    "subword explode run over distinct words with counts multiplied "
    "back, so the corpus is touched exactly once. Top subwords "
    "tie-broken (cnt DESC, subword) for a stable hash.",
)
def tok_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(lower_tokens("text", r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )

    s = bpe_segment_expr(F.col("w"), _BPE_MERGES)
    subs = (
        words.select(s.alias("s"), "n")
        .select(F.explode(F.split(F.col("s"), " ")).alias("subword"), "n")
        .filter(F.col("subword") != "")
    )
    return (
        subs.groupBy("subword")
        .agg(F.sum("n").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "subword")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# BPE tokenize-to-ids — the trainer's runtime counterpart
# ---------------------------------------------------------------------------


def _bpe_vocab_case_sql() -> str:
    """subword ``sub`` → its id in the pinned vocabulary (-1 if absent),
    the SQL twin of bpe_encode_ids' lookup."""
    return (
        "CASE sub "
        + " ".join(
            f"WHEN '{tok}' THEN {i}"
            for tok, i in sorted(bpe_vocab(_BPE_MERGES).items())
        )
        + " ELSE -1 END"
    )


def _bpe_encode_oracle() -> str:
    s = bpe_segment_sql("w", _BPE_MERGES)
    vocab_case = _bpe_vocab_case_sql()
    return f"""
WITH toks AS (
    SELECT doc_id, str_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
wraw AS (
    SELECT doc_id,
           CAST(unnest(range(1, len(tk) + 1)) AS INT) AS wp,
           unnest(tk) AS w
    FROM toks
),
words AS (SELECT doc_id, wp, w FROM wraw WHERE w <> ''),
seg AS (
    SELECT doc_id, wp, str_split({s}, ' ') AS subs FROM words
),
subrows AS (
    SELECT doc_id, wp,
           CAST(unnest(range(1, len(subs) + 1)) AS INT) AS sp,
           unnest(subs) AS sub
    FROM seg
),
ids AS (SELECT doc_id, wp, sp, {vocab_case} AS id FROM subrows)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_subwords,
       CAST(SUM(CASE WHEN id = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
       CAST(SUM(CAST(wp AS BIGINT) * sp * (id + 131)) AS BIGINT)
           AS id_checksum
FROM ids
GROUP BY doc_id
"""


@register(
    "tok_bpe_encode",
    _bpe_encode_oracle(),
    doc="BPE tokenize-to-ids (operators/bpe.py::bpe_encode_ids) — the "
    "frozen-vocab runtime counterpart of the distributed trainer: the "
    "corpus encodes to vocabulary ids under the pinned 12-merge table "
    "and its deterministic id table (bpe_vocab; unknown subwords are "
    "-1). The merge replaces run once per DISTINCT word and equi-join "
    "back to the token stream (Zipf: the word table is tiny next to "
    "the stream); the id map is a literal broadcast looked up JVM-side "
    "inside `transform` — no join, no Python. Verified at doc grain "
    "by an exact positional checksum over every (word_pos, sub_pos, "
    "token_id) instance, so a single mis- id'd or mis-ordered subword "
    "anywhere in the corpus breaks the hash.",
)
def tok_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = bpe_encode_ids(
        t(spark, sf_dir, "documents"), _BPE_MERGES, bpe_vocab(_BPE_MERGES)
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_subwords"),
        F.sum((F.col("token_id") == -1).cast("int"))
        .cast("bigint")
        .alias("n_unk"),
        F.sum(
            (F.col("word_pos") + 1).cast("bigint")
            * (F.col("sub_pos") + 1)
            * (F.col("token_id") + 131)
        )
        .cast("bigint")
        .alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Gopher text-quality rule suite — the full published gate, one scan
# ---------------------------------------------------------------------------


def _gopher_oracle() -> str:
    m = gopher_metrics_sql("COALESCE(text, '')")
    f = gopher_flags_sql()
    mcols = ", ".join(f"{sql} AS {name}" for name, sql in m.items())
    fcols = ", ".join(f"{sql} AS {name}" for name, sql in f.items())
    return f"""
WITH m AS (SELECT doc_id, {mcols} FROM documents)
SELECT doc_id, n_words, total_chars, n_alpha_words, n_symbols,
       n_lines, n_bullet_lines, n_ellipsis_lines, stop_hits,
       {fcols}
FROM m
"""


@register(
    "text_quality_gopher",
    _gopher_oracle(),
    doc="The complete published Gopher quality-rule suite (Rae et al. "
    "2021 §A1.1; operators/gopher.py) as ONE scan: word-count bounds, "
    "mean word length 3-10, symbol-to-word ratio, bullet-line and "
    "ellipsis-line ratios, alphabetic-word fraction, and stop-word "
    "presence (occurrence-counted, the public RedPajama/Dolma "
    "reading), each emitted as a boolean beside its integer evidence "
    "counts plus the conjunction verdict — the per-rule observability "
    "a curation operator needs to tune thresholds. Every ratio is an "
    "integer cross-multiplication, never a float division, so "
    "verdicts are bit-identical across engines and partitionings. "
    "Pure column expressions over one documents scan — whole-stage "
    "codegen, zero shuffle, zero Python — the same single-scan shape "
    "as quality_expectations (plan-locked); gates a 100 TB corpus at "
    "scan speed and drops into web_corpus_curation as a funnel stage.",
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    m = gopher_metrics(text)
    f = gopher_flags(m)
    return t(spark, sf_dir, "documents").select(
        "doc_id",
        *[c.alias(name) for name, c in m.items()],
        *[c.alias(name) for name, c in f.items()],
    )


# ---------------------------------------------------------------------------
# Gopher repetition rules — n-gram character-coverage suite
# ---------------------------------------------------------------------------


def _rep_oracle() -> str:
    ns = sorted(TOP_NGRAM_MAX_PCT) + sorted(DUP_NGRAM_MAX_PCT)
    top_cols = ", ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN top_cov END), 0)"
        f" AS BIGINT) AS top_cov_{n}"
        for n in sorted(TOP_NGRAM_MAX_PCT)
    )
    dup_cols = ", ".join(
        f"CAST(COALESCE(MAX(CASE WHEN n = {n} THEN dup_chars END), 0)"
        f" AS BIGINT) AS dup_chars_{n}"
        for n in sorted(DUP_NGRAM_MAX_PCT)
    )
    top_flags = ", ".join(
        f"(100 * top_cov_{n} <= {pct} * total_chars) AS r_top_{n}"
        for n, pct in sorted(TOP_NGRAM_MAX_PCT.items())
    )
    dup_flags = ", ".join(
        f"(100 * dup_chars_{n} <= {pct} * total_chars) AS r_dup_{n}"
        for n, pct in sorted(DUP_NGRAM_MAX_PCT.items())
    )
    all_flags = " AND ".join(
        [f"(100 * top_cov_{n} <= {p} * total_chars)"
         for n, p in sorted(TOP_NGRAM_MAX_PCT.items())]
        + [f"(100 * dup_chars_{n} <= {p} * total_chars)"
           for n, p in sorted(DUP_NGRAM_MAX_PCT.items())]
    )
    return f"""
WITH d AS (
    SELECT doc_id, {lower_tokens_sql("COALESCE(text, '')")} AS tk
    FROM documents
),
tot AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(tk, w -> length(w))) AS BIGINT)
               AS total_chars
    FROM d
),
grams AS (
    SELECT doc_id, n,
           unnest(list_transform(
               range(0, greatest(len(tk) - n + 1, 0)),
               i -> list_aggregate(tk[i+1:i+n], 'string_agg', ' ')
           )) AS gram
    FROM d, (SELECT unnest([{", ".join(str(n) for n in ns)}]) AS n) ns
),
counted AS (
    SELECT doc_id, n, gram, COUNT(*) AS c,
           length(gram) - (n - 1) AS charlen
    FROM grams GROUP BY doc_id, n, gram
),
per_n AS (
    SELECT doc_id, n,
           MAX(c * charlen) AS top_cov,
           SUM(CASE WHEN c >= 2 THEN c * charlen ELSE 0 END) AS dup_chars
    FROM counted GROUP BY doc_id, n
),
wide AS (
    SELECT doc_id, {top_cols}, {dup_cols}
    FROM per_n GROUP BY doc_id
)
SELECT t.doc_id, t.total_chars,
       {", ".join(f"top_cov_{n}" for n in sorted(TOP_NGRAM_MAX_PCT))},
       {", ".join(f"dup_chars_{n}" for n in sorted(DUP_NGRAM_MAX_PCT))},
       {top_flags}, {dup_flags},
       ({all_flags}) AS repetition_pass
FROM tot t JOIN wide w ON t.doc_id = w.doc_id
"""


@register(
    "text_repetition_gopher",
    _rep_oracle(),
    doc="The complete Gopher repetition-rule suite (Rae et al. 2021 "
    "Table A1 — the n-gram half that text_repetition's duplicate-word "
    "signals don't cover): per document, the character coverage of "
    "the highest-coverage n-gram for n = 2..4 (count x word-chars, "
    "a pure MAX — no tie-break needed) and the characters inside "
    "duplicated n-grams for n = 5..10 (occurrences x word-chars of "
    "every gram seen twice), each tested against the paper's integer-"
    "percent threshold by cross-multiplication (100*cov <= pct*total "
    "— no float ever decides). Shape: ZERO-shuffle — the grouping key "
    "(doc, n, gram) never crosses documents, so all 9 per-n gram "
    "counts are taken inside ONE narrow Arrow-batched mapInArrow "
    "pass (collections.Counter over exact token tuples — integer "
    "math only, bit-identical to the oracle; operators/gopher.py::"
    "repetition_ngram_stats). History: explode + two hash "
    "aggregates shuffled ~22M rows (75.8 s sf1, r11); the r11-r14 "
    "JVM sort+RLE F.aggregate form removed the shuffle but Spark "
    "evaluates higher-order functions interpreted per element, which "
    "made it the heaviest sf1 leg (r14 verdict item 6; 384 s "
    "executorRunTime); the r15 Counter form is the guide-§4.2 move "
    "(r15 idle sf1 A/B: 15.57 s -> 1.54 s same-session min-of-3, "
    "output-identical via exceptAll both ways at sf0.01 AND sf1). "
    "Per-doc cost is O(grams) and embarrassingly parallel — linear "
    "in corpus tokens at 100 TB.",
)
def text_repetition_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    top_ns = tuple(sorted(TOP_NGRAM_MAX_PCT))
    dup_ns = tuple(sorted(DUP_NGRAM_MAX_PCT))
    # Lower-casing stays JVM-side so tokenization semantics are
    # byte-identical to the oracle's lower() on any input (the Python
    # pass only splits on single spaces and counts). Docs with fewer
    # than 2 tokens are dropped inside the batch fn — absent from the
    # oracle's inner join, same as before. The per-doc counting is
    # CPU-bound, so the slim projection repartitions to core width.
    wide = repetition_ngram_stats(
        cpu_repartition(
            t(spark, sf_dir, "documents").select(
                "doc_id",
                F.lower(F.coalesce(F.col("text"), F.lit(""))).alias("text"),
            )
        ),
        top_ns,
        dup_ns,
    )
    flags = [
        (100 * F.col(f"top_cov_{n}") <= pct * F.col("total_chars")).alias(
            f"r_top_{n}"
        )
        for n, pct in sorted(TOP_NGRAM_MAX_PCT.items())
    ] + [
        (
            100 * F.col(f"dup_chars_{n}") <= pct * F.col("total_chars")
        ).alias(f"r_dup_{n}")
        for n, pct in sorted(DUP_NGRAM_MAX_PCT.items())
    ]
    verdict = None
    for c in flags:
        verdict = c if verdict is None else verdict & c
    return wide.select(
        "doc_id",
        "total_chars",
        *[f"top_cov_{n}" for n in sorted(TOP_NGRAM_MAX_PCT)],
        *[f"dup_chars_{n}" for n in sorted(DUP_NGRAM_MAX_PCT)],
        *flags,
        verdict.alias("repetition_pass"),
    )


# ---------------------------------------------------------------------------
# C4 quality rules — the line-level published filter stack
# ---------------------------------------------------------------------------

# Fixture page, identical construction on both engines: the document's
# tokens chunk into 8-word lines, every third line missing its
# terminal period (C4's punctuation rule has something to drop), plus
# per-doc injected lines exercising each rule: a lorem-ipsum filler
# sentence (every 7th doc), a code line with braces (every 5th doc
# ≡ 3), a boilerplate "enable javascript" line (every 6th doc ≡ 2),
# and a short (< 5 words) closer on every doc.
_C4_LOREM = "lorem ipsum dolor sit amet consectetur."


_C4_BRACE = "function() { return 1; }"


_C4_JS = "please enable javascript to view this page."


_C4_SHORT = "ok bye."


def _c4_lines_sql() -> str:
    return """
    list_concat(
        list_concat(
            list_concat(
                list_transform(
                    range(0, CAST(ceil(len(tk) / 8.0) AS BIGINT)),
                    i -> list_aggregate(tk[i*8+1:i*8+8], 'string_agg', ' ')
                         || CASE WHEN i % 3 = 2 THEN '' ELSE '.' END
                ),
                CASE WHEN doc_id % 7 = 0 THEN ['{lorem}']
                     ELSE [] END),
            CASE WHEN doc_id % 5 = 3 THEN ['{brace}'] ELSE [] END),
        list_concat(
            CASE WHEN doc_id % 6 = 2 THEN ['{js}'] ELSE [] END,
            ['{short}']))
    """.format(
        lorem=_C4_LOREM, brace=_C4_BRACE, js=_C4_JS, short=_C4_SHORT
    )


_C4_ORACLE = f"""
WITH d AS (
    SELECT doc_id, str_split(COALESCE(text, ''), ' ') AS tk
    FROM documents
),
pages AS (
    SELECT doc_id, {_c4_lines_sql()} AS lines FROM d
),
scored AS (
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(list_filter(lines, l ->
               list_contains(['.', '!', '?', '"'], l[-1])
               AND len(str_split(l, ' ')) >= 5
               AND NOT contains(lower(l), 'javascript')
           )) AS BIGINT) AS n_kept_lines,
           len(list_filter(lines, l ->
               contains(lower(l), 'lorem ipsum'))) > 0 AS has_lorem,
           len(list_filter(lines, l -> contains(l, '{{'))) > 0
               AS has_brace
    FROM pages
)
SELECT doc_id, n_lines, n_kept_lines, has_lorem, has_brace,
       (n_kept_lines >= 3 AND NOT has_lorem AND NOT has_brace)
           AS c4_keep
FROM scored
"""


@register(
    "text_quality_c4",
    _C4_ORACLE,
    doc="The C4 cleaning rules (Raffel et al. 2020 §2.2, the published "
    "filter stack behind the C4 corpus) as ONE scan: line-level — "
    "keep only lines ending in terminal punctuation, with at least 5 "
    "words, and free of the 'javascript' boilerplate marker; page-"
    "level — drop pages with fewer than 3 surviving sentences, any "
    "'lorem ipsum' filler, or a curly brace (code). The fixture page "
    "(identical construction both engines) chunks each document into "
    "8-word lines and injects one violating line per rule on a "
    "closed-form doc_id schedule, so every rule provably fires. Pure "
    "array/column expressions over one documents scan — whole-stage "
    "codegen, zero shuffle, zero Python — complements "
    "text_quality_gopher as the second published gate of the curation "
    "stack.",
)
def text_quality_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    toks = F.split(text, " ")
    sz = F.size(toks)
    nl = F.ceil(sz / F.lit(8.0)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nl - 1),
        lambda i: F.concat(
            F.concat_ws(" ", F.slice(toks, i * 8 + 1, 8)),
            F.when(i % 3 == 2, F.lit("")).otherwise(F.lit(".")),
        ),
    )

    def inject(cond, line):
        return F.when(cond, F.array(F.lit(line))).otherwise(
            F.array().cast("array<string>")
        )

    d = F.col("doc_id")
    lines = F.concat(
        chunks,
        inject(d % 7 == 0, _C4_LOREM),
        inject(d % 5 == 3, _C4_BRACE),
        inject(d % 6 == 2, _C4_JS),
        F.array(F.lit(_C4_SHORT)),
    )
    keep = lambda ln: (  # noqa: E731
        # literal last-char test, NOT a '$'-anchored regex: Java's '$'
        # matches before a trailing newline where RE2's does not, so
        # the regex form would diverge between engine and oracle on
        # any line ending '.\n'
        F.substring(ln, -1, 1).isin(".", "!", "?", '"')
        & (F.size(F.split(ln, " ")) >= 5)
        & ~F.contains(F.lower(ln), F.lit("javascript"))
    )
    pages = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(lines).cast("bigint").alias("n_lines"),
        F.size(F.filter(lines, keep)).cast("bigint").alias("n_kept_lines"),
        F.exists(
            lines, lambda ln: F.contains(F.lower(ln), F.lit("lorem ipsum"))
        ).alias("has_lorem"),
        F.exists(
            lines, lambda ln: F.contains(ln, F.lit("{"))
        ).alias("has_brace"),
    )
    return pages.select(
        "doc_id", "n_lines", "n_kept_lines", "has_lorem", "has_brace",
        (
            (F.col("n_kept_lines") >= 3)
            & ~F.col("has_lorem")
            & ~F.col("has_brace")
        ).alias("c4_keep"),
    )


# ---------------------------------------------------------------------------
# Tokenizer compression ratio — the chars-per-token curation signal
# ---------------------------------------------------------------------------

# keep iff 2 <= chars/subword <= 20, as integer cross-multiplications.
# Natural text under a fitted BPE sits well inside; ~1 means the
# tokenizer can't compress (garbage/unknown script), huge means
# degenerate repetition.
_TOKRATIO_MIN, _TOKRATIO_MAX = 2, 20


def _tok_ratio_oracle() -> str:
    s = bpe_segment_sql("w", _BPE_MERGES)
    vocab_case = _bpe_vocab_case_sql()
    return f"""
WITH toks AS (
    SELECT doc_id, str_split_regex(lower(COALESCE(text, '')), '\\s+') AS tk
    FROM documents
),
words AS (
    SELECT doc_id, unnest(tk) AS w FROM toks
),
nz AS (SELECT doc_id, w FROM words WHERE w <> ''),
seg AS (SELECT doc_id, w, str_split({s}, ' ') AS subs FROM nz),
subrows AS (SELECT doc_id, unnest(subs) AS sub FROM seg),
agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_subwords,
           CAST(SUM(length(sub)) AS BIGINT) AS n_chars,
           CAST(SUM(CASE WHEN ({vocab_case}) = -1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unk
    FROM subrows GROUP BY doc_id
)
SELECT doc_id, n_chars, n_subwords, n_unk,
       ({_TOKRATIO_MIN} * n_subwords <= n_chars
        AND n_chars <= {_TOKRATIO_MAX} * n_subwords) AS r_compression,
       (10 * n_unk <= n_subwords) AS r_unk,
       ({_TOKRATIO_MIN} * n_subwords <= n_chars
        AND n_chars <= {_TOKRATIO_MAX} * n_subwords
        AND 10 * n_unk <= n_subwords) AS tok_keep
FROM agg
"""


@register(
    "tok_compression_ratio",
    _tok_ratio_oracle(),
    doc="Tokenizer compression-ratio gate — the chars-per-token signal "
    "curation pipelines read off the real tokenizer (text that the "
    "fitted BPE cannot compress is garbage or out-of-distribution; "
    "text that compresses absurdly well is degenerate repetition): "
    "the corpus encodes under the pinned 12-merge vocabulary "
    "(operators/bpe.py — merges run once per DISTINCT word, the "
    "tok_bpe_encode shape), and per doc the subword count, subword "
    "char mass, and unknown-id count gate by integer cross-"
    "multiplication (2 <= chars/subword <= 20, unk <= 10%). "
    "Same linear explode + hash-agg cost as tokenization itself — "
    "the gate is free when run beside tok_bpe_encode at 100 TB.",
)
def tok_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = bpe_encode_ids(
        t(spark, sf_dir, "documents"), _BPE_MERGES, bpe_vocab(_BPE_MERGES)
    )
    agg = enc.groupBy("doc_id").agg(
        F.sum(F.length("subword")).cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("n_subwords"),
        F.sum((F.col("token_id") == -1).cast("int"))
        .cast("bigint")
        .alias("n_unk"),
    )
    r_comp = (_TOKRATIO_MIN * F.col("n_subwords") <= F.col("n_chars")) & (
        F.col("n_chars") <= _TOKRATIO_MAX * F.col("n_subwords")
    )
    r_unk = 10 * F.col("n_unk") <= F.col("n_subwords")
    return agg.select(
        "doc_id", "n_chars", "n_subwords", "n_unk",
        r_comp.alias("r_compression"),
        r_unk.alias("r_unk"),
        (r_comp & r_unk).alias("tok_keep"),
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval — the standard IR scorer beside text_tfidf
# ---------------------------------------------------------------------------

# Pinned query sets (query_id -> terms), drawn from the documents
# fixture vocabulary. k1 = 1.2 and b = 0.75 are the textbook BM25
# constants; they enter the math only as the exact integer factors
# 22 (= 10·(k1+1)), 3 (= 10·k1·(1-b)) and 9 (= 10·k1·b) after
# multiplying numerator and denominator through by 10·T (T = total
# corpus tokens), so no float constant ever appears.
BM25_QUERIES = (
    (1, ("hash", "join")),
    (2, ("window", "sort", "merge")),
    (3, ("spark", "vector", "scan")),
)
#: BM25_QUERIES as (query_id, token) rows
BM25_QUERY_TERMS = [(qid, term) for qid, terms in BM25_QUERIES for term in terms]


BM25_TOP_K = 10


# Per-term scores quantize to floor(score * 1e6) via exact integer
# floor-division BEFORE the per-query sum, so the summed score and the
# ranking are pure int64 arithmetic on both engines.
BM25_FP = 1_000_000


def bm25_scored_cte() -> str:
    """The shared WITH chain ending in scored(query_id, doc_id,
    score_q) — one source of truth so text_bm25_topk's and
    sim_rrf_fusion's oracles cannot silently diverge."""
    vals = ", ".join(f"({qid}, '{term}')" for qid, term in BM25_QUERY_TERMS)
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest({lower_tokens_sql("COALESCE(text, '')")}) AS token
    FROM documents
),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tk GROUP BY 1),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM dl
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
dft AS (
    SELECT token, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM tk GROUP BY 1
),
q(query_id, token) AS (VALUES {vals}),
terms AS (
    SELECT q.query_id, tf.doc_id,
           CAST((CAST(2 * g.n_docs - 2 * dft.df + 1 AS HUGEINT)
                      * 22 * tf.tf * g.total_tokens * {BM25_FP})
                // (CAST(2 * dft.df + 1 AS HUGEINT)
                    * (10 * g.total_tokens * tf.tf
                       + 3 * g.total_tokens
                       + 9 * dl.dl * g.n_docs)) AS BIGINT) AS term_q
    FROM tf
    JOIN dft USING (token)
    JOIN q ON q.token = tf.token
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN g
),
scored AS (
    SELECT query_id, doc_id, CAST(SUM(term_q) AS BIGINT) AS score_q
    FROM terms GROUP BY 1, 2
)"""


def _bm25_oracle() -> str:
    return f"""{bm25_scored_cte()},
ranked AS (
    SELECT query_id, doc_id, score_q,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_q DESC, doc_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, doc_id, score_q, rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer BM25 scores (query_id, doc_id, score_q) for the
    pinned query sets — the engine twin of _bm25_scored_cte(), shared
    by text_bm25_topk and sim_rrf_fusion."""
    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        F.explode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token"),
    )
    # dl and df derive from the tf aggregate, never from the exploded
    # relation: tf has one row per (doc, token), so COUNT(*) per token
    # IS the document frequency and SUM(tf) per doc IS the length —
    # shuffling the compact tf rows instead of the corpus-token
    # explode three times (review finding; text_inverted_index uses
    # the same derivation).
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    g = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    dft = tf.groupBy("token").agg(F.count("*").alias("df"))
    q = local_table(spark, BM25_QUERY_TERMS, "query_id int, token string")
    # Widen BEFORE multiplying: the numerator product grows ~scale²
    # (N·22·tf·T·1e6 ≈ 3e34 at the 100 TB shape) and the denominator's
    # (2df+1) factor pushes it past int64 too, so the FIRST factor of
    # each chain casts to DECIMAL(38,0) (HUGEINT on the DuckDB side)
    # and the whole product stays exact — a silent int64 wrap on the
    # Spark side while DuckDB errors loudly would be a cross-engine
    # divergence. The inner saturation term (10·T·tf + 3·T + 9·dl·N)
    # is linear in corpus tokens (tf and dl are per-doc-bounded) and
    # stays int64 with ~70x margin at 100 TB.
    terms = (
        tf.join(F.broadcast(dft.join(F.broadcast(q), "token")), "token")
        .join(dl, "doc_id")
        .crossJoin(g)
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CAST(CAST(2 * n_docs - 2 * df + 1 AS DECIMAL(38,0)) "
                f"* 22 * tf * total_tokens * {BM25_FP} DIV "
                f"(CAST(2 * df + 1 AS DECIMAL(38,0)) "
                f"* (10 * total_tokens * tf "
                f"+ 3 * total_tokens + 9 * dl * n_docs)) AS BIGINT)"
            ).alias("term_q"),
        )
    )
    return terms.groupBy("query_id", "doc_id").agg(
        F.sum("term_q").cast("bigint").alias("score_q")
    )


@register(
    "text_bm25_topk",
    _bm25_oracle(),
    doc="BM25 ranked retrieval (Robertson-Spärck Jones probabilistic "
    "weighting, the standard IR scorer beside text_tfidf): top-10 "
    "documents per pinned query term set, scored with k1=1.2, "
    "b=0.75. Determinism: following text_tfidf's log-free precedent "
    "the idf is the rational (N - df + 0.5)/(df + 0.5) (doubled to "
    "(2N-2df+1)/(2df+1)); multiplying the tf saturation term through "
    "by 10·T makes every numerator and denominator an exact int64, "
    "and each per-term score quantizes to floor(x·1e6) by integer "
    "floor-division (decimal DIV / HUGEINT //) BEFORE the per-query "
    "sum — ranking compares pure integers, fully tie-broken by "
    "doc_id. Scale shape: tf/df/dl are the same hash aggregates as "
    "text_tfidf (map-side combinable); corpus totals fold in as a "
    "1-row broadcast (allowlisted scalar BNL); the 8-row query table "
    "broadcasts; the top-k filter is rank-over-window, pushed to "
    "per-partition heaps (WindowGroupLimit).",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = bm25_scores(spark, sf_dir)
    w = W.partitionBy("query_id").orderBy(
        F.desc("score_q"), F.asc("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score_q", "rank")
    )


# ---------------------------------------------------------------------------
# Inverted-index segment build — the IR infrastructure behind BM25
# ---------------------------------------------------------------------------

# Posting lists cap at the lowest-doc_id 64 entries per token: at
# 100 TB a hot term's full posting list is GBs and must never pass
# through one aggregation buffer — the cap runs as a rank-over-window
# BEFORE collect_list, so per-partition heaps bound it
# (WindowGroupLimit), while df/cf still aggregate over the FULL
# relation. Real index builders write segment files per shard; the
# capped segment sample plus exact df/cf is the oracle-checkable core.
_INV_POSTINGS_CAP = 64


def _inverted_index_oracle() -> str:
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest({lower_tokens_sql("COALESCE(text, '')")}) AS token
    FROM documents
),
tf AS (
    SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
stats AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS cf
    FROM tf GROUP BY 1
),
capped AS (
    SELECT token, doc_id, tf,
           ROW_NUMBER() OVER (
               PARTITION BY token ORDER BY doc_id) AS rn
    FROM tf
    QUALIFY rn <= {_INV_POSTINGS_CAP}
),
segs AS (
    SELECT token,
           string_agg(CAST(doc_id AS VARCHAR) || ':'
                      || CAST(tf AS VARCHAR), ','
                      ORDER BY doc_id) AS postings
    FROM capped GROUP BY 1
)
SELECT s.token, s.df, s.cf,
       CAST(least(s.df, {_INV_POSTINGS_CAP}) AS BIGINT)
           AS n_postings,
       g.postings
FROM stats s JOIN segs g ON s.token = g.token
"""


@register(
    "text_inverted_index",
    _inverted_index_oracle(),
    doc="Inverted-index segment build — the IR structure BM25 serves "
    "from: per token, exact document frequency and collection "
    "frequency over the whole corpus plus a posting-list segment "
    "('doc:tf' pairs sorted by doc_id) CAPPED at the lowest-id 64 "
    "entries. The cap is rank-over-window BEFORE the list "
    "aggregation (per-partition heaps via WindowGroupLimit), so a "
    "hot term's full posting list never passes through one "
    "aggregation buffer at 100 TB; df/cf still aggregate the full "
    "relation (map-side combinable). Postings serialize to a string "
    "on both engines (array_sort of (doc_id, tf) structs on the "
    "Spark side makes the collect_list order irrelevant).",
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = cpu_repartition(t(spark, sf_dir, "documents"), "doc_id")
    tk = wide.select(
        "doc_id",
        F.explode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token"),
    )
    tf = tk.groupBy("token", "doc_id").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    stats = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    rn = F.row_number().over(
        W.partitionBy("token").orderBy(F.asc("doc_id"))
    )
    capped = tf.withColumn("rn", rn).filter(
        F.col("rn") <= _INV_POSTINGS_CAP
    )
    segs = capped.groupBy("token").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "tf"))
                ),
                lambda p: F.concat_ws(
                    ":",
                    p["doc_id"].cast("string"),
                    p["tf"].cast("string"),
                ),
            ),
            ",",
        ).alias("postings")
    )
    return stats.join(segs, "token").select(
        "token",
        "df",
        "cf",
        F.least(F.col("df"), F.lit(_INV_POSTINGS_CAP))
        .cast("bigint")
        .alias("n_postings"),
        "postings",
    )


# ---------------------------------------------------------------------------
# Tokenizer OOV-rate gate — vocabulary-coverage curation signal
# ---------------------------------------------------------------------------

# Pinned closed vocabulary (a frozen tokenizer's word list); the gate
# keeps documents whose out-of-vocabulary token share is <= 25%
# (integer cross-multiplication). The fixture vocabulary has 31
# distinct tokens, so leaving 7 out makes both outcomes populated.
_OOV_VOCAB = (
    "a", "agg", "batch", "column", "customer", "data", "fast",
    "filter", "hash", "join", "key", "line", "merge", "order",
    "part", "row", "scan", "slow", "small", "sort", "spark",
    "table", "the", "value",
)


_OOV_MAX_PCT = 25


def _oov_oracle() -> str:
    vocab = ", ".join(f"'{w}'" for w in _OOV_VOCAB)
    return f"""
WITH d AS (
    SELECT doc_id,
           {lower_tokens_sql("COALESCE(text, '')")} AS tk
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(tk, w ->
               NOT list_contains([{vocab}], w))) AS BIGINT) AS n_oov
    FROM d
)
SELECT doc_id, n_tokens, n_oov,
       (100 * n_oov <= {_OOV_MAX_PCT} * n_tokens) AS oov_keep
FROM m
"""


@register(
    "tok_oov_rate",
    _oov_oracle(),
    doc="Tokenizer vocabulary-coverage gate — the OOV-rate curation "
    "signal run before committing a corpus to a frozen tokenizer "
    "(high OOV share means wrong language, wrong domain, or "
    "garbage): per document, token count and out-of-vocabulary "
    "count against a pinned closed vocabulary (broadcast as an "
    "array literal — at 100 TB a real word list is KBs and ships "
    "with the plan), gated at 25% by integer cross-multiplication. "
    "One shuffle-free projection; complements tok_compression_ratio "
    "(which needs the BPE merges) with the cheap pre-check.",
)
def tok_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    vocab = F.array(*[F.lit(w) for w in _OOV_VOCAB])
    toks = lower_tokens(F.coalesce(F.col("text"), F.lit("")))
    m = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(
            F.filter(toks, lambda w: ~F.array_contains(vocab, w))
        )
        .cast("bigint")
        .alias("n_oov"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        (100 * F.col("n_oov") <= _OOV_MAX_PCT * F.col("n_tokens")).alias(
            "oov_keep"
        ),
    )


# ---------------------------------------------------------------------------
# Model-based quality classifier — the fasttext-style linear gate
# ---------------------------------------------------------------------------

# Pinned linear-model weights over the closed vocabulary (a frozen
# fasttext/logistic quality classifier's weight vector, as the GPT-3 /
# CCNet pipelines ship it): filler words negative, content terms
# positive, out-of-vocabulary 0. Keep iff the mean token weight is
# >= 0.5, tested as 2*score >= n_tokens — integers only.
_QCLS_WEIGHTS = (
    ("a", -8), ("the", -8),
    ("row", -1), ("line", -1), ("value", -1), ("key", -1),
    ("part", -1), ("small", -1), ("slow", -1), ("fast", -1),
    ("join", 3), ("hash", 3), ("scan", 3), ("merge", 3), ("sort", 3),
    ("filter", 3), ("agg", 3), ("batch", 3), ("spark", 3),
    ("table", 3), ("window", 3), ("vector", 3), ("column", 3),
    ("order", 3), ("data", 3), ("customer", 3),
)


def _qcls_case_sql(var: str) -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in _QCLS_WEIGHTS
    )
    return f"CASE {var} {whens} ELSE 0 END"


_QCLS_ORACLE = f"""
WITH d AS (
    SELECT doc_id,
           {lower_tokens_sql("COALESCE(text, '')")} AS tk
    FROM documents
),
m AS (
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(list_sum(list_transform(tk, w -> {_qcls_case_sql('w')}))
                AS BIGINT) AS score_q
    FROM d
)
SELECT doc_id, n_tokens, score_q,
       (2 * score_q >= n_tokens) AS classifier_keep
FROM m
"""


@register(
    "text_quality_classifier",
    _QCLS_ORACLE,
    doc="Model-based quality gate — the linear-classifier filter of "
    "the GPT-3/CCNet pipelines (a frozen fasttext/logistic model "
    "scores each document; high-scoring docs are kept or "
    "importance-sampled): score = sum over tokens of the pinned "
    "integer weight vector (bag-of-words dot product, the exact "
    "inference a linear text classifier runs), gated at mean weight "
    ">= 0.5 via the integer cross-multiplication 2*score >= "
    "n_tokens. The weight table ships with the plan (a real model's "
    "vocab weights are MBs — still broadcast-sized); scoring is one "
    "shuffle-free projection over the corpus, the cheapest possible "
    "100 TB pass. Complements the rule-based gates (gopher/C4) with "
    "the learned-model stage every production funnel ends with.",
)
def text_quality_classifier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    pairs = [x for kv in _QCLS_WEIGHTS for x in kv]
    wmap = F.create_map(*[F.lit(x) for x in pairs])
    toks = lower_tokens(F.coalesce(F.col("text"), F.lit("")))
    score = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, w: acc
        + F.coalesce(wmap[w], F.lit(0)).cast("long"),
    )
    m = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        score.alias("score_q"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "score_q",
        (2 * F.col("score_q") >= F.col("n_tokens")).alias(
            "classifier_keep"
        ),
    )


# ---------------------------------------------------------------------------
# text_ngram_novelty — first-occurrence novelty profile per source
# ---------------------------------------------------------------------------

_NOVELTY_FP = 1_000_000


_NOVELTY_ORACLE = f"""
WITH bg AS (
    SELECT DISTINCT doc_id, source,
           unnest(list_distinct(list_transform(
               range(1, greatest(len(tk), 1)),
               i -> tk[i] || ' ' || tk[i+1]
           ))) AS bigram
    FROM (
        SELECT doc_id, source,
               {lower_tokens_sql("COALESCE(text, '')")} AS tk
        FROM documents
    )
),
first_seen AS (
    SELECT bigram, MIN(doc_id) AS first_doc FROM bg GROUP BY bigram
),
per_doc AS (
    SELECT b.doc_id, b.source,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN f.first_doc = b.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM bg b JOIN first_seen f ON f.bigram = b.bigram
    GROUP BY b.doc_id, b.source
),
src AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
    GROUP BY source
)
SELECT s.source, s.n_docs,
       CAST(COALESCE(SUM(p.n_bigrams), 0) AS BIGINT) AS total_bigrams,
       CAST(COALESCE(SUM(p.n_novel), 0) AS BIGINT) AS total_novel,
       CAST(CASE WHEN COALESCE(SUM(p.n_bigrams), 0) = 0 THEN 0
            ELSE (SUM(p.n_novel) * {_NOVELTY_FP}) // SUM(p.n_bigrams)
            END AS BIGINT) AS novelty_fp
FROM src s LEFT JOIN per_doc p ON p.source = s.source
GROUP BY s.source, s.n_docs
"""


@register(
    "text_ngram_novelty",
    _NOVELTY_ORACLE,
    doc="First-occurrence n-gram novelty profile per source — the "
    "corpus-freshness signal behind dedup-aware mixing decisions (a "
    "source whose bigrams were all seen in earlier documents adds "
    "little; the inverse of text_repetition's within-doc view and "
    "dedup_lines_corpus's exact-line view). Each document's DISTINCT "
    "bigram set is attributed to its first-appearing document "
    "(min doc_id per bigram — ingestion order as tie-break), then "
    "per-source totals and a 1e6 fixed-point novelty share computed "
    "with integer floor division. Plan: one explode into a (doc, "
    "bigram) relation — already distinct by construction "
    "(array_distinct per doc + unique doc_id), no re-dedup shuffle — "
    "then first-seen attribution as a WINDOW MIN over the bigram "
    "key instead of an aggregate + join-back (one exchange, not two; "
    "the cap_shingle_df guard argument; A/B at sf1: 11.5 s vs "
    "13.3 s), one per-doc hash aggregate, one small per-source "
    "rollup. Sources with zero bigrams survive via the left join "
    "from the per-source frame.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = lower_tokens(F.coalesce(F.col("text"), F.lit("")))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    docs = t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id", "source", F.explode(bigrams).alias("bigram")
    )
    w = W.partitionBy("bigram")
    flagged = bg.withColumn("first_doc", F.min("doc_id").over(w))
    per_doc = (
        flagged.groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    src = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    rolled = (
        src.join(per_doc, "source", "left")
        .groupBy("source", "n_docs")
        .agg(
            F.coalesce(F.sum("n_bigrams"), F.lit(0))
            .cast("bigint")
            .alias("total_bigrams"),
            F.coalesce(F.sum("n_novel"), F.lit(0))
            .cast("bigint")
            .alias("total_novel"),
        )
    )
    novelty = F.when(F.col("total_bigrams") == 0, F.lit(0)).otherwise(
        F.expr(f"(total_novel * {_NOVELTY_FP}) DIV total_bigrams")
    )
    return rolled.select(
        "source", "n_docs", "total_bigrams", "total_novel",
        novelty.cast("bigint").alias("novelty_fp"),
    )


# ---------------------------------------------------------------------------
# pii_pseudonymize_join — deterministic pseudonymization, joinability kept
# ---------------------------------------------------------------------------

_PSEUDO_SALT = "pseudo-v1:"


def _pseudo_sql(expr: str) -> str:
    return f"md5('{_PSEUDO_SALT}' || CAST({expr} AS VARCHAR))"


_PSEUDO_ORACLE = f"""
WITH c AS (
    SELECT {_pseudo_sql('c_custkey')} AS cust_token, c_nationkey
    FROM customer
),
o AS (
    SELECT {_pseudo_sql('o_custkey')} AS cust_token, o_totalprice
    FROM orders
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o.cust_token) AS BIGINT) AS n_customers,
       {dsum_sql('o.o_totalprice', 2)} AS revenue
FROM o
JOIN c ON c.cust_token = o.cust_token
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY n.n_name
"""


@register(
    "pii_pseudonymize_join",
    _PSEUDO_ORACLE,
    doc="Deterministic pseudonymization that PRESERVES joinability — "
    "the privacy-layer primitive beside pii_scan_report's detection "
    "and text_redact's masking: customer keys are replaced on BOTH "
    "fact and dimension sides by a salted md5 token (the salt is "
    "versioned so a token vault rotation is a recompute, and raw "
    "keys never appear downstream), then the revenue-by-nation "
    "rollup runs ENTIRELY in token space. The aggregate equals the "
    "raw-key join's answer by construction (the token map is "
    "injective), which is exactly what the oracle verifies — a "
    "collision or a salt mismatch between the two sides would break "
    "counts. Plan: same star join shape as the raw query (hash join "
    "on the token, broadcast nation); pseudonymization is a "
    "scan-level projection, zero extra passes.",
)
def pii_pseudonymize_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    def token(col: str):
        return F.md5(
            F.concat(F.lit(_PSEUDO_SALT), F.col(col).cast("string"))
        )

    c = t(spark, sf_dir, "customer").select(
        token("c_custkey").alias("cust_token"), "c_nationkey"
    )
    o = t(spark, sf_dir, "orders").select(
        token("o_custkey").alias("cust_token"), "o_totalprice"
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        o.join(c, "cust_token")
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.countDistinct("cust_token")
            .cast("bigint")
            .alias("n_customers"),
            dsum("o_totalprice", 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# text_code_detect — code-vs-prose routing gate
# ---------------------------------------------------------------------------

# Fixed-point thresholds (per mille): a doc routes to 'code' when its
# symbol density or its braces/semicolon density crosses the fence, or
# when a keyword hits. All ratios are integer cross-multiplications.
_CODE_SYM_PM = 60  # >6% of chars in {}();=<>[] => code-like


_CODE_KW = ("def ", "return ", "import ", "function ", "var ", "class ")


def _code_oracle() -> str:
    kw = " OR ".join(
        f"contains(lower(body), '{k}')" for k in _CODE_KW
    )
    return f"""
WITH d AS (
    SELECT doc_id, source, COALESCE(text, '') AS body FROM documents
),
m AS (
    SELECT doc_id, source,
           strlen(body) AS n_bytes,
           strlen(body) - strlen(
               regexp_replace(body, '[{{}}();=<>\\[\\]]', '', 'g')
           ) AS n_sym,
           CASE WHEN {kw} THEN 1 ELSE 0 END AS has_kw
    FROM d
),
flagged AS (
    SELECT doc_id, source,
           CASE WHEN n_bytes > 0
                 AND (n_sym * 1000 >= {_CODE_SYM_PM} * n_bytes
                      OR has_kw = 1)
           THEN 1 ELSE 0 END AS is_code
    FROM m
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_code) AS BIGINT) AS n_code,
       CAST(SUM(CASE WHEN is_code = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_prose
FROM flagged GROUP BY source
"""


@register(
    "text_code_detect",
    _code_oracle(),
    doc="Code-vs-prose routing gate per source — the pretraining "
    "router that decides which quality stack a document enters "
    "(Gopher/C4 rules make no sense on source code; code corpora get "
    "their own dedup and quality path). Signals: symbol-character "
    "density via a regexp strip-and-measure (byte counts, integer "
    "cross-multiplied against a per-mille fence — no float ratio) "
    "OR a pinned keyword hit; thresholds are literals so the gate is "
    "identical at any scale. One shuffle-free scan + a per-source "
    "rollup.",
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    body = F.coalesce(F.col("text"), F.lit(""))
    n_bytes = F.octet_length(body)
    n_sym = n_bytes - F.octet_length(
        F.regexp_replace(body, r"[{}();=<>\[\]]", "")
    )
    has_kw = None
    lower = F.lower(body)
    for k in _CODE_KW:
        cond = F.contains(lower, F.lit(k))
        has_kw = cond if has_kw is None else (has_kw | cond)
    is_code = F.when(
        (n_bytes > 0)
        & (
            (n_sym * 1000 >= F.lit(_CODE_SYM_PM) * n_bytes)
            | has_kw
        ),
        1,
    ).otherwise(0)
    return (
        t(spark, sf_dir, "documents")
        .select("source", is_code.alias("is_code"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("is_code").cast("bigint").alias("n_code"),
            F.sum(F.lit(1) - F.col("is_code"))
            .cast("bigint")
            .alias("n_prose"),
        )
    )


# ---------------------------------------------------------------------------
# text_quality_ccnet — per-language head/middle/tail quality buckets
# ---------------------------------------------------------------------------

_CCNET_EFP = 10**6


def _ccnet_oracle() -> str:
    return f"""
WITH s AS (
    SELECT doc_id, lang,
           CAST(({_CCNET_EFP} * len(COALESCE(text, '')))
                // GREATEST(len(str_split(lower(COALESCE(text, '')),
                                          ' ')), 1) AS BIGINT)
               AS score_q
    FROM documents
),
r AS (
    SELECT doc_id, lang, score_q,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY score_q, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS nl
    FROM s
)
SELECT doc_id, lang, score_q,
       CASE (3 * (rn - 1)) // nl WHEN 0 THEN 'head'
            WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM r
"""


@register(
    "text_quality_ccnet",
    _ccnet_oracle(),
    doc="CCNet-style per-language quality bucketing (Wenzek et al. "
    "2020: rank documents within each language by LM perplexity, "
    "split head/middle/tail, keep the head): the BUCKETING MECHANISM "
    "is the operator — per-language rank (fully tie-broken by "
    "doc_id) divided into thirds by integer floor arithmetic, so "
    "bucket boundaries are bit-deterministic; the quality score here "
    "is the deterministic mean-token-length fixed-point proxy "
    "(deployments swap in their KenLM perplexity column — the same "
    "stand-in contract as corpus_doremi_weights' excess loss). "
    "Scale: one window pass per language partition; no global sort — "
    "at 100 TB each language ranks independently, exactly how CCNet "
    "shards its buckets.",
)
def text_quality_ccnet(spark: SparkSession, sf_dir: str) -> DataFrame:
    text = F.coalesce(F.col("text"), F.lit(""))
    score = F.expr(
        f"CAST({_CCNET_EFP} * length(coalesce(text, '')) DIV "
        f"greatest(size(split(lower(coalesce(text, '')), ' ')), 1)"
        f" AS BIGINT)"
    )
    s = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", score.alias("score_q")
    )
    w = W.partitionBy("lang").orderBy("score_q", "doc_id")
    r = s.select(
        "doc_id",
        "lang",
        "score_q",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(W.partitionBy("lang")).alias("nl"),
    )
    bucket = (
        F.when(F.expr("(3 * (rn - 1)) DIV nl") == 0, "head")
        .when(F.expr("(3 * (rn - 1)) DIV nl") == 1, "middle")
        .otherwise("tail")
    )
    return r.select("doc_id", "lang", "score_q", bucket.alias("bucket"))


# ---------------------------------------------------------------------------
# text_template_ratio — per-source boilerplate-token contamination
# ---------------------------------------------------------------------------

_TPL_DF_PM = 800  # a token is "template" within its source when it
# appears in > 80% of the source's documents (per-mille, integer)


def _template_oracle() -> str:
    return f"""
WITH d AS (
    SELECT doc_id, source,
           unnest(list_distinct(str_split(lower(COALESCE(text, '')),
                                          ' '))) AS token
    FROM documents
),
sdocs AS (
    SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM d GROUP BY source
),
df AS (
    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS df
    FROM d GROUP BY source, token
),
tpl AS (
    SELECT df.source, df.token
    FROM df JOIN sdocs s ON s.source = df.source
    WHERE df.df * 1000 > {_TPL_DF_PM} * s.n_docs
),
per_doc AS (
    SELECT d.doc_id, d.source,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           CAST(COUNT(*) FILTER (WHERE t.token IS NOT NULL) AS BIGINT)
               AS n_template
    FROM d LEFT JOIN tpl t
      ON t.source = d.source AND t.token = d.token
    GROUP BY d.doc_id, d.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_template) AS BIGINT) AS template_hits,
       CAST(SUM(n_distinct) AS BIGINT) AS distinct_tokens,
       CAST(MAX((n_template * {10**6}) // GREATEST(n_distinct, 1))
            AS BIGINT) AS worst_doc_ratio_fp
FROM per_doc GROUP BY source
"""


@register(
    "text_template_ratio",
    _template_oracle(),
    doc="Per-source boilerplate-token contamination: a token is "
    "TEMPLATE within its source when it appears in > 80% of that "
    "source's documents (integer per-mille threshold — headers, nav "
    "chrome, license lines), and each source reports how much of its "
    "documents' distinct-token mass is template plus the worst "
    "single-document template ratio (fixed-point) — the signal that "
    "decides whether a source needs main-content extraction "
    "(web_main_content) before tokenization, upstream of the "
    "cross-document span cutters (dedup_substring_cross, "
    "dedup_lines_corpus). All integer counts and floor divisions. "
    "Scale: distinct-token explode -> two hash aggregates keyed by "
    "(source, token) + a broadcast-sized template set per source — "
    "linear, no pair joins.",
)
def text_template_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                lower_tokens(F.coalesce(F.col("text"), F.lit("")))
            )
        ).alias("token"),
    )
    sdocs = d.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    df = d.groupBy("source", "token").agg(
        F.count("*").cast("bigint").alias("df")
    )
    # tpl derives from d, so tpl's "source" is the SAME attribute id
    # as d's — rename it before the join or drop() resolves the wrong
    # one (the self-join lineage trap; caught by the oracle diff)
    tpl = (
        df.join(sdocs, "source")
        .filter(F.col("df") * 1000 > _TPL_DF_PM * F.col("n_docs"))
        .select(
            F.col("source").alias("tpl_source"),
            F.col("token").alias("tpl_token"),
        )
    )
    per_doc = (
        d.join(
            tpl,
            (d.source == tpl.tpl_source) & (d.token == tpl.tpl_token),
            "left",
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_distinct"),
            F.sum(
                F.when(F.col("tpl_token").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_template"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_template").cast("bigint").alias("template_hits"),
        F.sum("n_distinct").cast("bigint").alias("distinct_tokens"),
        F.max(
            F.expr(
                f"(n_template * {10**6}) DIV greatest(n_distinct, 1)"
            )
        )
        .cast("bigint")
        .alias("worst_doc_ratio_fp"),
    )


# ---------------------------------------------------------------------------
# text_query_likelihood — Dirichlet-smoothed query-likelihood retrieval
# ---------------------------------------------------------------------------
# Same pinned query workload as BM25 so the two classical IR scorers
# rank the identical requests (and stay fusable the way sim_rrf_fusion
# fuses BM25 with ANN).
_QL_MU = 100  # Dirichlet prior mass (Zhai & Lafferty 2001), pinned


_QL_FP = 1_000_000


def _ql_oracle() -> str:
    vals = ", ".join(f"({qid}, '{term}')" for qid, term in BM25_QUERY_TERMS)
    # identical float expression shape engine-side: ctf/T first, then
    # the smoothed ratio, then log2, then per-term floor fixed-point
    score = (
        f"floor(log2((CAST(COALESCE(tf.tf, 0) AS DOUBLE) + {_QL_MU} * "
        f"(CAST(ctf.ctf AS DOUBLE) / CAST(g.total_tokens AS DOUBLE))) / "
        f"(CAST(dl.dl AS DOUBLE) + {_QL_MU})) * {_QL_FP})"
    )
    return f"""
WITH tk AS (
    SELECT doc_id,
           unnest({lower_tokens_sql("COALESCE(text, '')")}) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
g AS (SELECT CAST(SUM(dl) AS BIGINT) AS total_tokens FROM dl),
ctf AS (
    SELECT token, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY 1
),
q(query_id, token) AS (VALUES {vals}),
qv AS (SELECT q.query_id, q.token, ctf.ctf
       FROM q JOIN ctf ON ctf.token = q.token),
terms AS (
    SELECT qv.query_id, dl.doc_id,
           CAST({score.replace('ctf.ctf', 'qv.ctf')} AS BIGINT) AS term_fp
    FROM dl
    CROSS JOIN qv
    LEFT JOIN tf ON tf.doc_id = dl.doc_id AND tf.token = qv.token
    CROSS JOIN g
),
scored AS (
    SELECT query_id, doc_id, CAST(SUM(term_fp) AS BIGINT) AS score_fp
    FROM terms GROUP BY 1, 2
),
ranked AS (
    SELECT query_id, doc_id, score_fp,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY score_fp DESC, doc_id) AS INT) AS rank
    FROM scored
)
SELECT query_id, doc_id, score_fp, rank
FROM ranked WHERE rank <= {BM25_TOP_K}
"""


@register(
    "text_query_likelihood",
    _ql_oracle(),
    doc="Dirichlet-smoothed query-likelihood retrieval (Zhai & "
    "Lafferty 2001) — the language-modeling IR scorer beside "
    "text_bm25_topk, on the SAME pinned query workload: score(q,d) = "
    "sum_t log2((tf + mu*(ctf/T)) / (dl + mu)), mu=100. Smoothing "
    "means EVERY document scores every in-vocabulary query term "
    "(absent terms fall back to the collection model), so the scoring "
    "relation is docs x |q| — built by EXPLODING the literal query-term "
    "array over the per-doc length table (no join), equi-joining the "
    "isin-pruned <=|q|-row collection-frequency table (broadcast hash "
    "join, which also drops OOV terms) and LEFT-joining tf — strictly "
    "linear in corpus size, never docs x vocab. "
    "Determinism: per-term log2 scores floor-quantize to 1e6 "
    "fixed-point BEFORE the per-query integer sum (the "
    "event_entropy_rate precedent for cross-engine libm parity), "
    "ranking fully tie-broken by doc_id; out-of-vocabulary query "
    "terms drop identically on both engines (standard QL practice — "
    "their smoothed score would be the same constant for every doc). "
    "tf/dl/ctf are the text_tfidf hash-aggregate shapes; corpus "
    "total rides in as a 1-row broadcast; top-k is "
    "rank-over-window under WindowGroupLimit.",
)
def text_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    wide = t(spark, sf_dir, "documents")
    tk = wide.select(
        "doc_id",
        F.explode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token"),
    )
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    g = dl.agg(F.sum("dl").cast("bigint").alias("total_tokens"))
    # collection stats only for the (literal) query terms: an isin
    # prune keeps the broadcast side <= |q| rows however large the
    # vocabulary gets, and the inner join drops OOV terms on both
    # engines identically
    q_tokens = sorted(
        {term for _, term in BM25_QUERY_TERMS}
    )
    ctf = (
        tf.filter(F.col("token").isin(q_tokens))
        .groupBy("token")
        .agg(F.sum("tf").cast("bigint").alias("ctf"))
    )
    # the docs x |q| scoring relation comes from EXPLODING the literal
    # query-term array per doc-length row (no cross join — the only
    # remaining non-equi broadcast is the 1-row corpus total)
    q_lit = F.array(
        *[
            F.struct(
                F.lit(qid).alias("query_id"), F.lit(term).alias("token")
            )
            for qid, term in BM25_QUERY_TERMS
        ]
    )
    ex = dl.select(
        "doc_id", "dl", F.explode(q_lit).alias("qt")
    ).select(
        "doc_id",
        "dl",
        F.col("qt.query_id").alias("query_id"),
        F.col("qt.token").alias("token"),
    )
    terms = (
        ex.join(F.broadcast(ctf), "token")
        .join(tf, ["doc_id", "token"], "left")
        .crossJoin(g)
        .select(
            "query_id",
            "doc_id",
            F.floor(
                F.log2(
                    (
                        F.coalesce(F.col("tf"), F.lit(0)).cast("double")
                        + F.lit(_QL_MU)
                        * (
                            F.col("ctf").cast("double")
                            / F.col("total_tokens").cast("double")
                        )
                    )
                    / (F.col("dl").cast("double") + F.lit(_QL_MU))
                )
                * F.lit(_QL_FP)
            )
            .cast("bigint")
            .alias("term_fp"),
        )
    )
    scored = terms.groupBy("query_id", "doc_id").agg(
        F.sum("term_fp").cast("bigint").alias("score_fp")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score_fp"), F.asc("doc_id"))
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("int")
        )
        .filter(F.col("rank") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score_fp", "rank")
    )


# ---------------------------------------------------------------------------
# tok_fertility_by_lang — tokenizer fertility per language
# ---------------------------------------------------------------------------

_FERT_FP = 1_000_000


def _fertility_oracle() -> str:
    s = bpe_segment_sql("w", _BPE_MERGES)
    return f"""
WITH toks AS (
    SELECT doc_id, lang, str_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
wraw AS (
    SELECT doc_id, lang, unnest(tk) AS w FROM toks
),
words AS (SELECT doc_id, lang, w FROM wraw WHERE w <> ''),
seg AS (
    SELECT lang, CAST(len(str_split({s}, ' ')) AS BIGINT) AS n_subs
    FROM words
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_subs) AS BIGINT) AS n_subwords,
       CAST(SUM(n_subs) * {_FERT_FP} // COUNT(*) AS BIGINT)
           AS fertility_fp
FROM seg GROUP BY lang
"""


@register(
    "tok_fertility_by_lang",
    _fertility_oracle(),
    doc="Tokenizer fertility per language — subwords emitted per "
    "whitespace word under the pinned 12-merge BPE (the standard "
    "multilingual-tokenizer equity metric: a vocabulary trained on "
    "one language over-fragments the others, inflating their "
    "training cost per word; fertility per language is the number "
    "that exposes it, cf. the XLM-R/BLOOM tokenizer analyses). "
    "Segmentation reuses operators/bpe.py's single-source merge "
    "spec on BOTH engines (bpe_apply_merges / bpe_segment_sql — the "
    "tok_bpe_encode machinery, here aggregated by the corpus' "
    "labeled lang instead of doc); fertility is integer ppm. Scale: "
    "the merge loop runs once per DISTINCT word (Zipf-bounded) and "
    "equi-joins back; the rollup is one hash aggregate at language "
    "cardinality.",
)
def tok_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    enc = bpe_encode_ids(
        t(spark, sf_dir, "documents"), _BPE_MERGES, bpe_vocab(_BPE_MERGES)
    )
    per_doc = enc.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_subwords"),
        F.countDistinct("word_pos").cast("bigint").alias("n_words"),
    )
    langs = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        per_doc.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_subwords").cast("bigint").alias("n_subwords"),
        )
        .select(
            "lang",
            "n_words",
            "n_subwords",
            F.expr(f"n_subwords * {_FERT_FP} DIV n_words")
            .cast("bigint")
            .alias("fertility_fp"),
        )
    )


# ---------------------------------------------------------------------------
# text_burstiness_dispersion — per-term dispersion over documents
# ---------------------------------------------------------------------------

_BURST_MIN_DF = 20  # report terms appearing in >= 20 docs


_BURST_FP = 1_000_000


_BURST_ORACLE = f"""
WITH tk AS (
    SELECT doc_id,
           unnest({lower_tokens_sql("COALESCE(text, '')")}) AS token
    FROM documents
),
tf AS (
    SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tk GROUP BY 1, 2
),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf),
stats AS (
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS ctf,
           CAST(SUM(tf * tf) AS BIGINT) AS ctf2
    FROM tf GROUP BY token
)
SELECT token, df, ctf,
       CAST((ctf2 * n.n_docs - ctf * ctf) * {_BURST_FP}
            // (ctf * n.n_docs) AS BIGINT) AS dispersion_fp
FROM stats, nd n
WHERE df >= {_BURST_MIN_DF}
"""


@register(
    "text_burstiness_dispersion",
    _BURST_ORACLE,
    doc="Term burstiness via the index of dispersion (variance-to-mean "
    "ratio of per-document term frequency, absent docs counted as 0 "
    "— Church & Gale's burstiness): ~1e6 (the Poisson line, in ppm) "
    "means a term scatters uniformly (function words); far above "
    "means it BURSTS in few documents (topical/content words, "
    "boilerplate) — the corpus-linguistics signal that separates "
    "topic vocabulary from glue and flags template contamination "
    "beside text_template_ratio. Exact integer identity: with N docs "
    "and per-doc counts summing to ctf / squares to ctf2 (zeros "
    "contribute nothing), variance/mean = (ctf2*N - ctf^2)/(ctf*N) "
    "— cross-multiplied, floor-quantized to ppm, no float ever "
    "forms. Reported for terms with df >= 20 so the output is "
    "vocabulary-bounded; the stats are ONE hash aggregate over the "
    "(doc, token) tf relation, the text_tfidf shape.",
)
def text_burstiness_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    tk = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token"),
    )
    tf = tk.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    nd = tf.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    stats = tf.groupBy("token").agg(
        F.count("*").cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("ctf"),
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("ctf2"),
    )
    return (
        stats.filter(F.col("df") >= _BURST_MIN_DF)
        .crossJoin(nd)
        .select(
            "token",
            "df",
            "ctf",
            F.expr(
                f"(ctf2 * n_docs - ctf * ctf) * {_BURST_FP}"
                f" DIV (ctf * n_docs)"
            )
            .cast("bigint")
            .alias("dispersion_fp"),
        )
    )


# ---------------------------------------------------------------------------
# text_keyphrase_rake — RAKE keyphrase extraction
# ---------------------------------------------------------------------------
# Boundary set: union of all language stopword lists (the repo's
# pinned 25-word multilingual set) — RAKE splits candidate phrases at
# stopwords; phrases of 1..4 tokens are scored.
_RAKE_STOPS = tuple(
    sorted({w for ws in STOPWORDS.values() for w in ws})
)


_RAKE_MAX_LEN = 4


_RAKE_TOP_K = 20


_RAKE_FP = 1_000_000


def _rake_oracle() -> str:
    stops = ", ".join(f"'{w}'" for w in _RAKE_STOPS)
    return f"""
WITH tk AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos, tok[i] AS token
    FROM (SELECT doc_id, {lower_tokens_sql("COALESCE(text, '')")} AS tok
          FROM documents),
         LATERAL unnest(range(1, len(tok) + 1)) t(i)
),
marked AS (
    SELECT doc_id, pos, token,
           (token IN ({stops}) OR token = '') AS is_stop
    FROM tk
),
content AS (
    SELECT doc_id, pos, token,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
    FROM marked WHERE NOT is_stop
),
phr AS (
    SELECT doc_id, island,
           string_agg(token, ' ' ORDER BY pos) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS plen
    FROM content GROUP BY doc_id, island
),
phrases AS (
    SELECT doc_id, phrase, plen FROM phr
    WHERE plen BETWEEN 1 AND {_RAKE_MAX_LEN}
),
members AS (
    SELECT phrase, plen, unnest(str_split(phrase, ' ')) AS w
    FROM phrases
),
wstats AS (
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS freq,
           CAST(SUM(plen) AS BIGINT) AS deg
    FROM members GROUP BY w
),
pscore AS (
    SELECT m.phrase,
           CAST(SUM(ws.deg * {_RAKE_FP} // ws.freq) AS BIGINT) AS score_fp
    FROM (SELECT DISTINCT phrase, w FROM members) m
    JOIN wstats ws ON ws.w = m.w
    GROUP BY m.phrase
),
pcount AS (
    SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM phrases GROUP BY phrase
),
ranked AS (
    SELECT p.phrase, c.n_occurrences, p.score_fp,
           CAST(ROW_NUMBER() OVER (
               ORDER BY p.score_fp DESC, p.phrase) AS INT) AS rank
    FROM pscore p JOIN pcount c ON c.phrase = p.phrase
)
SELECT phrase, n_occurrences, score_fp, rank
FROM ranked WHERE rank <= {_RAKE_TOP_K}
"""


@register(
    "text_keyphrase_rake",
    _rake_oracle(),
    doc="RAKE keyphrase extraction (Rose et al. 2010): candidate "
    "phrases are maximal stopword-free token runs (1-4 tokens; "
    "boundary set = the pinned 25-word multilingual stopword union), "
    "each scored by the classic sum over member words of "
    "degree/frequency — degree counting the total length of every "
    "phrase a word appears in, the co-occurrence signal that ranks "
    "multi-word terms above their parts (text_keywords_topk ranks "
    "single tokens; this surfaces PHRASES). Deterministic: phrase "
    "runs come from the gaps-and-islands window (position - "
    "row_number), per-word deg/freq are integers, each word's "
    "deg*1e6//freq floor-quantizes BEFORE the per-phrase sum, and "
    "the corpus top-20 is fully tie-broken by phrase text. Scale: "
    "one explode + two hash aggregates (phrase build, word stats) + "
    "a distinct member join — all token-linear; the final top-k is a "
    "TakeOrderedAndProject over the distinct-phrase table.",
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = (
        t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(
                lower_tokens(F.coalesce(F.col("text"), F.lit("")))
            ).alias("p0", "token"),
        )
        .select("doc_id", (F.col("p0") + 1).alias("pos"), "token")
    )
    is_stop = F.col("token").isin(list(_RAKE_STOPS)) | (
        F.col("token") == ""
    )
    content = tk.filter(~is_stop).withColumn(
        "island",
        F.col("pos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("pos")),
    )
    phr = content.groupBy("doc_id", "island").agg(
        F.concat_ws(
            " ", F.array_sort(F.collect_list(F.struct("pos", "token")))
            .getField("token")
        ).alias("phrase"),
        F.count("*").cast("bigint").alias("plen"),
    )
    phrases = phr.filter(
        (F.col("plen") >= 1) & (F.col("plen") <= _RAKE_MAX_LEN)
    ).select("phrase", "plen")
    members = phrases.select(
        "phrase", "plen", F.explode(F.split(F.col("phrase"), " ")).alias("w")
    )
    wstats = members.groupBy("w").agg(
        F.count("*").cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    pscore = (
        members.select("phrase", "w")
        .distinct()
        .join(wstats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(F.expr(f"deg * {_RAKE_FP} DIV freq"))
            .cast("bigint")
            .alias("score_fp")
        )
    )
    pcount = phrases.groupBy("phrase").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    ranked = (
        pscore.join(pcount, "phrase")
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("score_fp"), F.asc("phrase")))
            .cast("int"),
        )
        .filter(F.col("rank") <= _RAKE_TOP_K)
    )
    return ranked.select("phrase", "n_occurrences", "score_fp", "rank")


# ---------------------------------------------------------------------------
# tok_vocab_coverage_curve — cumulative corpus coverage by vocab rank
# ---------------------------------------------------------------------------

_VCC_RANKS = (10, 100, 1000)


_VCC_FP = 1_000_000


_VCC_ORACLE = f"""
WITH tk AS (
    SELECT unnest({lower_tokens_sql("COALESCE(text, '')")}) AS token
    FROM documents
),
wstats AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS ctf FROM tk GROUP BY token
),
tot AS (SELECT CAST(SUM(ctf) AS BIGINT) AS total FROM wstats),
ranked AS (
    SELECT token, ctf,
           ROW_NUMBER() OVER (ORDER BY ctf DESC, token) AS rnk,
           SUM(ctf) OVER (ORDER BY ctf DESC, token
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
    FROM wstats
)
SELECT CAST(rnk AS BIGINT) AS vocab_size,
       CAST(cum AS BIGINT) AS tokens_covered,
       t.total AS total_tokens,
       CAST(cum * {_VCC_FP} // t.total AS BIGINT) AS coverage_ppm
FROM ranked, tot t
WHERE rnk IN ({", ".join(str(r) for r in _VCC_RANKS)})
"""


@register(
    "tok_vocab_coverage_curve",
    _VCC_ORACLE,
    doc="Vocabulary coverage curve: what fraction of all corpus token "
    "OCCURRENCES do the top-10 / top-100 / top-1000 word types cover "
    "(frequency-ranked, fully tie-broken by token text)? The "
    "Zipf-area number that sizes a vocabulary before training a "
    "tokenizer — coverage at the candidate vocab size bounds the OOV "
    "mass a word-level model eats, and the curve's flatness is what "
    "justifies subword units at all (text_zipf_slope fits the "
    "exponent; this integrates the curve at decision points; "
    "tok_oov_rate then measures a CHOSEN vocab). One hash aggregate "
    "to type cardinality, a rank + running-sum window over the "
    "vocabulary-bounded type table, integer ppm; ranks missing from "
    "a small corpus are absent identically on both engines.",
)
def tok_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    tk = t(spark, sf_dir, "documents").select(
        F.explode(
            lower_tokens(F.coalesce(F.col("text"), F.lit("")))
        ).alias("token")
    )
    wstats = tk.groupBy("token").agg(
        F.count("*").cast("bigint").alias("ctf")
    )
    tot = wstats.agg(F.sum("ctf").cast("bigint").alias("total"))
    order = W.orderBy(F.desc("ctf"), F.asc("token"))
    ranked = wstats.select(
        "token",
        "ctf",
        F.row_number().over(order).cast("bigint").alias("vocab_size"),
        F.sum("ctf")
        .over(order.rowsBetween(W.unboundedPreceding, 0))
        .cast("bigint")
        .alias("tokens_covered"),
    )
    return (
        ranked.filter(F.col("vocab_size").isin(list(_VCC_RANKS)))
        .crossJoin(tot)
        .select(
            "vocab_size",
            "tokens_covered",
            F.col("total").alias("total_tokens"),
            F.expr(f"tokens_covered * {_VCC_FP} DIV total")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# tok_bpe_merge_curve — token count as a function of merge budget
# ---------------------------------------------------------------------------

_BMC_STEPS = (0, 4, 8, 12)  # merge-table prefixes of the pinned 12


_BMC_FP = 1_000_000


def _bpe_merge_curve_oracle() -> str:
    legs = []
    for k in _BMC_STEPS:
        seg = bpe_segment_sql("w", _BPE_MERGES[:k])
        legs.append(f"""
SELECT {k} AS n_merges,
       CAST(SUM(len(str_split({seg}, ' '))) AS BIGINT) AS n_subwords,
       CAST(COUNT(*) AS BIGINT) AS n_words
FROM words""")
    union = " UNION ALL ".join(legs)
    return f"""
WITH toks AS (
    SELECT doc_id, str_split_regex(lower(text), '\\s+') AS tk
    FROM documents
),
wraw AS (SELECT doc_id, unnest(tk) AS w FROM toks),
words AS (SELECT doc_id, w FROM wraw WHERE w <> ''),
curve AS ({union})
SELECT n_merges, n_words, n_subwords,
       CAST(n_subwords * {_BMC_FP} // n_words AS BIGINT) AS fertility_fp
FROM curve
"""


@register(
    "tok_bpe_merge_curve",
    _bpe_merge_curve_oracle(),
    doc="BPE merge-budget curve: corpus subword count (and fertility, "
    "subwords per word, integer ppm) under merge-table PREFIXES of "
    "0/4/8/12 of the pinned 12 learned merges — the diminishing-"
    "returns curve that decides how many merges (i.e. how large a "
    "vocabulary) are worth training: each step's subword REDUCTION is "
    "the compression that merge batch buys (0 merges = pure "
    "character tokenization, the ceiling). Because BPE merges are "
    "learned greedily in order, prefixes ARE the intermediate "
    "tokenizers — no retraining per point. Segmentation reuses the "
    "single-source bpe_segment spec per prefix on both engines; "
    "counts are exact integers. Scale: the merge scan-replaces run "
    "per DISTINCT word engine-side (Zipf-bounded) under "
    "tok_bpe_encode's machinery; one aggregate per curve point.",
)
def tok_bpe_merge_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        t(spark, sf_dir, "documents")
        .select(
            F.explode(
                lower_tokens("text", r"\s+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .localCheckpoint(eager=True)
    )
    out = None
    for k in _BMC_STEPS:
        leg = words.select(
            F.size(
                F.split(bpe_segment_expr(F.col("w"), _BPE_MERGES[:k]), " ")
            ).alias("n_subs")
        ).agg(
            F.lit(k).alias("n_merges"),
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_subs").cast("bigint").alias("n_subwords"),
        )
        out = leg if out is None else out.unionAll(leg)
    return out.select(
        "n_merges",
        "n_words",
        "n_subwords",
        F.expr(f"n_subwords * {_BMC_FP} DIV n_words")
        .cast("bigint")
        .alias("fertility_fp"),
    )


# ---------------------------------------------------------------------------
# text_quality_calibration — precision/recall per decile fence
# ---------------------------------------------------------------------------

_CAL_EFP = 10**6  # the text_quality_ccnet score fixed point


_CAL_DECILES = 10


def _calibration_oracle() -> str:
    return f"""
WITH s AS (
    SELECT CAST(({_CAL_EFP} * len(COALESCE(text, '')))
                // GREATEST(len(str_split(lower(COALESCE(text, '')),
                                          ' ')), 1) AS BIGINT) AS score_q,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
    FROM documents
),
per_score AS (
    SELECT score_q, CAST(COUNT(*) AS BIGINT) AS n_s,
           CAST(SUM(pos) AS BIGINT) AS pos_s
    FROM s GROUP BY score_q
),
cum AS (
    SELECT score_q, n_s, pos_s,
           SUM(n_s) OVER (ORDER BY score_q
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
           SUM(n_s) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS keep_n,
           SUM(pos_s) OVER (ORDER BY score_q DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS keep_pos
    FROM per_score
),
tot AS (
    SELECT CAST(SUM(n_s) AS BIGINT) AS n,
           CAST(SUM(pos_s) AS BIGINT) AS p
    FROM per_score
),
fences AS (
    SELECT d.d AS decile,
           MIN(c.score_q) AS fence_score
    FROM (SELECT unnest(range(1, {_CAL_DECILES} + 1)) AS d) d
    CROSS JOIN tot
    JOIN cum c ON c.cum_n >= (tot.n * (d.d - 1)) // {_CAL_DECILES} + 1
    GROUP BY d.d
)
SELECT CAST(f.decile AS BIGINT) AS decile,
       CAST(f.fence_score AS BIGINT) AS fence_score,
       CAST(c.keep_n AS BIGINT) AS n_keep,
       CAST(c.keep_pos AS BIGINT) AS tp,
       CAST(c.keep_pos AS DOUBLE) / CAST(c.keep_n AS DOUBLE) AS precision_keep,
       CAST(c.keep_pos AS DOUBLE) / CAST(tot.p AS DOUBLE) AS recall_keep,
       CAST(2 * c.keep_pos AS DOUBLE)
           / CAST(c.keep_n + tot.p AS DOUBLE) AS f1_keep
FROM fences f
JOIN cum c ON c.score_q = f.fence_score
CROSS JOIN tot
ORDER BY decile
"""


@register(
    "text_quality_calibration",
    _calibration_oracle(),
    doc="Quality-classifier calibration curve — the measure-the-knob "
    "companion to text_quality_ccnet (same dedup_threshold_sweep "
    "discipline: never deploy a filter fence without its curve). The "
    "ccnet proxy score is bucketed into deciles; for each decile "
    "fence the policy 'keep score >= fence' is scored against a "
    "known-label fixture (lang = 'en' as the stand-in ground truth — "
    "deployments swap in their human-labeled column, the same "
    "stand-in contract as ccnet's perplexity proxy), emitting "
    "precision / recall / F1 per fence as single-division doubles "
    "over exact integer tallies. Plan: the corpus is touched by ONE "
    "groupBy on the score value; deciles, fences and the whole curve "
    "derive from the per-distinct-score aggregate (cardinality « "
    "docs) — no per-doc global window, unlike a naive NTILE. At "
    "100 TB the only wide op over raw data is that single hash "
    "aggregate.",
)
def text_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    score = F.expr(
        f"CAST({_CAL_EFP} * length(coalesce(text, '')) DIV "
        f"greatest(size(split(lower(coalesce(text, '')), ' ')), 1)"
        f" AS BIGINT)"
    )
    s = t(spark, sf_dir, "documents").select(
        score.alias("score_q"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    per_score = s.groupBy("score_q").agg(
        F.count("*").cast("bigint").alias("n_s"),
        F.sum("pos").cast("bigint").alias("pos_s"),
    )

    asc = W.orderBy("score_q").rowsBetween(W.unboundedPreceding, W.currentRow)
    desc = W.orderBy(F.col("score_q").desc()).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = per_score.select(
        "score_q",
        "n_s",
        "pos_s",
        F.sum("n_s").over(asc).alias("cum_n"),
        F.sum("n_s").over(desc).alias("keep_n"),
        F.sum("pos_s").over(desc).alias("keep_pos"),
    )
    tot = per_score.agg(
        F.sum("n_s").cast("bigint").alias("n"),
        F.sum("pos_s").cast("bigint").alias("p"),
    )
    deciles = spark.range(1, _CAL_DECILES + 1).select(
        F.col("id").cast("bigint").alias("decile")
    )
    fences = (
        deciles.crossJoin(tot)
        .join(
            cum.select("score_q", "cum_n"),
            F.col("cum_n")
            >= F.expr(f"(n * (decile - 1)) DIV {_CAL_DECILES} + 1"),
        )
        .groupBy("decile")
        .agg(F.min("score_q").alias("fence_score"))
    )
    return (
        fences.join(cum, F.col("fence_score") == cum["score_q"])
        .crossJoin(tot)
        .select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("fence_score").cast("bigint").alias("fence_score"),
            F.col("keep_n").cast("bigint").alias("n_keep"),
            F.col("keep_pos").cast("bigint").alias("tp"),
            (F.col("keep_pos").cast("double") / F.col("keep_n").cast("double"))
            .alias("precision_keep"),
            (F.col("keep_pos").cast("double") / F.col("p").cast("double"))
            .alias("recall_keep"),
            (
                (2 * F.col("keep_pos")).cast("double")
                / (F.col("keep_n") + F.col("p")).cast("double")
            ).alias("f1_keep"),
        )
        .orderBy("decile")
    )
