"""Gopher text-quality rules (Rae et al. 2021, "Scaling Language
Models: Methods, Analysis & Insights from Training Gopher", §A1.1 —
public paper) as one single-scan column-expression suite.

The complete published rule set, each emitted as a per-document
boolean plus the integer evidence counts behind it:

* word count within [min_words, max_words];
* mean word length within [3, 10] characters;
* symbol-to-word ratio (``#`` and ellipsis) at most 0.1;
* at most 90% of lines starting with a bullet point;
* at most 30% of lines ending with an ellipsis;
* at least 80% of words containing an alphabetic character;
* at least 2 stop-word hits from the paper's 8-word list (hits are
  counted as OCCURRENCES, the reading of the public RedPajama-Data /
  Dolma implementations of these rules — on any corpus "the ... the"
  is evidence of running English text).

Every ratio rule is an integer cross-multiplication (``10*symbols <=
words``), never a float division, so the verdicts are bit-identical
between Spark and the DuckDB oracle and independent of partitioning.
The whole suite is pure ``pyspark.sql.functions`` over one scan —
whole-stage codegen, zero shuffle, zero Python — so it gates a 100 TB
corpus at scan speed (the same single-scan shape as
quality_expectations).

Spark/SQL twin builders live side by side (the _mh_sql_fragments
discipline) so the engine and the oracle cannot silently diverge.

Reference parity: the reference (haelbrek/Evolution-DATA-WAREHOUSE)
has no text-quality surface; this extends the engine's LLM-pipeline
coverage (SURVEY §7 growth direction).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.textops import lower_tokens

#: the paper's stop-word list, verbatim (§A1.1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

#: published defaults; word bounds are corpus-tunable parameters in
#: every public implementation (the funnel composition tightens them).
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_STOP_HITS = 2

#: the paper's repetition thresholds (§A1.1 Table A1), as integer
#: percents so every verdict is a cross-multiplication: max fraction
#: of characters covered by the highest-coverage n-gram (n = 2..4)…
TOP_NGRAM_MAX_PCT = {2: 20, 3: 18, 4: 16}
#: …and max fraction of characters in n-grams occurring more than
#: once (n = 5..10).
DUP_NGRAM_MAX_PCT = {5: 15, 6: 14, 7: 13, 8: 12, 9: 11, 10: 10}

_BULLET_RE = r"^\s*[•*-]"

# Ellipsis-terminated lines are tested LITERALLY (endswith), never with
# a '$'-anchored regex: Java's '$' (Spark rlike) matches before a
# trailing \r or Unicode line terminator while DuckDB's RE2 '$' matches
# only at end-of-string, so '...\r' (CRLF text split on \n) would flip
# the verdict between engine and oracle (r10 ADVICE; same trap
# text_quality_c4 avoids with its literal last-char test).
_ELLIPSIS_SUFFIXES = ("...", "…")


def _count_occurrences(text: Column, needle: str) -> Column:
    """Occurrences of a literal substring, by length difference —
    exact, non-overlapping, identical semantics in both engines."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def gopher_metrics(text: Column) -> dict[str, Column]:
    """The integer evidence counts behind every rule, from ONE pass
    over the text column (names are the contract the flag builder and
    the SQL twin share)."""
    toks = F.split(text, " ")
    ltoks = lower_tokens(text)
    lines = F.split(text, "\n")
    stop_lit = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    return {
        "n_words": F.size(toks).cast("long"),
        "total_chars": F.aggregate(
            F.transform(toks, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        "n_alpha_words": F.size(
            F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
        ).cast("long"),
        "n_symbols": (
            _count_occurrences(text, "#")
            + _count_occurrences(text, "...")
            + _count_occurrences(text, "…")
        ).cast("long"),
        "n_lines": F.size(lines).cast("long"),
        "n_bullet_lines": F.size(
            F.filter(lines, lambda ln: ln.rlike(_BULLET_RE))
        ).cast("long"),
        "n_ellipsis_lines": F.size(
            F.filter(
                lines,
                lambda ln: ln.endswith(_ELLIPSIS_SUFFIXES[0])
                | ln.endswith(_ELLIPSIS_SUFFIXES[1]),
            )
        ).cast("long"),
        "stop_hits": F.size(
            F.filter(ltoks, lambda w: F.array_contains(stop_lit, w))
        ).cast("long"),
    }


def gopher_flags(
    m: dict[str, Column],
    min_words: int = MIN_WORDS,
    max_words: int = MAX_WORDS,
) -> dict[str, Column]:
    """Per-rule booleans over :func:`gopher_metrics` output. Integer
    cross-multiplied ratios — no float ever enters a verdict."""
    flags = {
        "r_word_count": (m["n_words"] >= min_words)
        & (m["n_words"] <= max_words),
        "r_mean_word_len": (3 * m["n_words"] <= m["total_chars"])
        & (m["total_chars"] <= 10 * m["n_words"]),
        "r_symbol_ratio": 10 * m["n_symbols"] <= m["n_words"],
        "r_bullet_lines": 10 * m["n_bullet_lines"] <= 9 * m["n_lines"],
        "r_ellipsis_lines": 10 * m["n_ellipsis_lines"] <= 3 * m["n_lines"],
        "r_alpha_words": 5 * m["n_alpha_words"] >= 4 * m["n_words"],
        "r_stop_words": m["stop_hits"] >= MIN_STOP_HITS,
    }
    verdict = None
    for c in flags.values():
        verdict = c if verdict is None else verdict & c
    flags["gopher_pass"] = verdict
    return flags


def gopher_metrics_sql(expr: str, prefix: str = "") -> dict[str, str]:
    """DuckDB twins of :func:`gopher_metrics` over a text expression
    (same names, same integer semantics). ``prefix`` namespaces the
    metric names when they would collide with host-query columns
    (pass the same prefix to :func:`gopher_flags_sql`)."""
    stop_lit = ", ".join(repr(w) for w in GOPHER_STOPWORDS)
    out = {
        "n_words": f"CAST(len(str_split({expr}, ' ')) AS BIGINT)",
        "total_chars": (
            f"CAST(list_sum(list_transform(str_split({expr}, ' '), "
            "w -> length(w))) AS BIGINT)"
        ),
        "n_alpha_words": (
            f"CAST(len(list_filter(str_split({expr}, ' '), "
            "w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)"
        ),
        "n_symbols": (
            f"CAST((length({expr}) - length(replace({expr}, '#', '')))"
            f" + (length({expr}) - length(replace({expr}, '...', ''))) // 3"
            f" + (length({expr}) - length(replace({expr}, '…', '')))"
            " AS BIGINT)"
        ),
        "n_lines": f"CAST(len(str_split({expr}, chr(10))) AS BIGINT)",
        "n_bullet_lines": (
            f"CAST(len(list_filter(str_split({expr}, chr(10)), "
            f"ln -> regexp_matches(ln, '{_BULLET_RE}'))) AS BIGINT)"
        ),
        "n_ellipsis_lines": (
            f"CAST(len(list_filter(str_split({expr}, chr(10)), "
            "ln -> (ends_with(ln, '...') OR ends_with(ln, '…')))) AS BIGINT)"
        ),
        "stop_hits": (
            f"CAST(len(list_filter(str_split(lower({expr}), ' '), "
            f"w -> list_contains([{stop_lit}], w))) AS BIGINT)"
        ),
    }
    return {prefix + name: sql for name, sql in out.items()}


def gopher_flags_sql(
    min_words: int = MIN_WORDS,
    max_words: int = MAX_WORDS,
    prefix: str = "",
) -> dict[str, str]:
    """DuckDB twins of :func:`gopher_flags`, referencing the metric
    column NAMES (compute :func:`gopher_metrics_sql` with the same
    ``prefix`` in a prior CTE)."""
    p = prefix
    flags = {
        "r_word_count": (
            f"({p}n_words >= {min_words} AND {p}n_words <= {max_words})"
        ),
        "r_mean_word_len": (
            f"(3 * {p}n_words <= {p}total_chars"
            f" AND {p}total_chars <= 10 * {p}n_words)"
        ),
        "r_symbol_ratio": f"(10 * {p}n_symbols <= {p}n_words)",
        "r_bullet_lines": f"(10 * {p}n_bullet_lines <= 9 * {p}n_lines)",
        "r_ellipsis_lines": (
            f"(10 * {p}n_ellipsis_lines <= 3 * {p}n_lines)"
        ),
        "r_alpha_words": f"(5 * {p}n_alpha_words >= 4 * {p}n_words)",
        "r_stop_words": f"({p}stop_hits >= {MIN_STOP_HITS})",
    }
    flags["gopher_pass"] = "(" + " AND ".join(flags.values()) + ")"
    return {p + name: sql for name, sql in flags.items()}


def repetition_ngram_stats_batch(
    top_ns: tuple[int, ...], dup_ns: tuple[int, ...]
):
    """mapInPandas fn for the repetition-rule n-gram statistics:
    ``(doc_id, text)`` (text already lower-cased; single-space
    tokenization) → one row per doc with >= 2 tokens carrying
    ``total_chars``, ``top_cov_{n}`` for each n in ``top_ns`` (MAX over
    grams of count x gram-char-length) and ``dup_chars_{n}`` for each n
    in ``dup_ns`` (SUM over grams seen >= 2 of count x char-length).

    Pure integer math over exact token tuples — no hashing, no floats —
    so the output is bit-identical to the previous JVM formulation
    (sorted-gram-array + run-length F.aggregate) and to the DuckDB
    oracle, independent of partitioning. The rewrite exists because
    Spark evaluates higher-order functions (transform / array_sort /
    aggregate) INTERPRETED per array element with a struct allocation
    per step — 9 sort+RLE passes per doc made this the heaviest sf1
    bench leg (r14 verdict item 6). Counting n-gram tuples with
    ``collections.Counter`` runs the same per-doc loop in C: tuple
    hashes reuse each token's cached str hash, and char lengths are
    summed once per DISTINCT gram. Embarrassingly parallel, zero
    shuffle, one narrow Arrow batch across the boundary per task —
    the guide-§4.2 shape.
    """
    import pandas as pd

    cols = (
        ["doc_id", "total_chars"]
        + [f"top_cov_{n}" for n in top_ns]
        + [f"dup_chars_{n}" for n in dup_ns]
    )

    def fn(batches):
        from collections import Counter

        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                toks = text.split(" ")
                if len(toks) < 2:
                    continue
                total = sum(map(len, toks))
                row = [int(doc_id), total]
                for n in top_ns:
                    c = Counter(zip(*(toks[k:] for k in range(n))))
                    row.append(
                        max(
                            (
                                cnt * sum(map(len, g))
                                for g, cnt in c.items()
                            ),
                            default=0,
                        )
                    )
                for n in dup_ns:
                    c = Counter(zip(*(toks[k:] for k in range(n))))
                    row.append(
                        sum(
                            cnt * sum(map(len, g))
                            for g, cnt in c.items()
                            if cnt >= 2
                        )
                    )
                rows.append(row)
            if rows:
                yield pd.DataFrame(rows, columns=cols)
            else:
                yield pd.DataFrame(
                    {c: pd.Series(dtype="int64") for c in cols}
                )

    return fn
