"""Text-analysis operators for large-scale training-data pipelines.

All pure `pyspark.sql.functions` compositions (JVM-side, codegen'd,
no Python in the hot path) so they stream through a 100 TB corpus at
scan speed. Beyond the reference's surface (north-star extension).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small: language ID here is a cheap streaming
# heuristic, not a model.
STOPWORDS = {
    "de": ["der", "die", "und", "das", "ein"],
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "los", "y", "las", "una"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["的", "是", "不", "了", "在"],
}

TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens_ws(text: Column) -> Column:
    """Whitespace tokenization."""
    return F.split(text, " ")


def lower_tokens(text: Column | str, sep: str = " ") -> Column:
    """Lower-cased tokens, ``split(lower(text), sep)`` (``sep`` is a
    regex): the tokenization the text, dedup and curation queries
    share."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.lower(c), sep)


def word_shingles(toks: Column) -> Column:
    """Every 3-word shingle of a token array, joined with a single space
    (empty below 3 tokens): the shingle recipe every near-dup query
    shares — batch dedup, decontamination, the crawl funnel and the
    streaming index cannot shingle differently."""
    n = F.size(toks)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def lower_tokens_sql(expr: str) -> str:
    """DuckDB mirror of :func:`lower_tokens` with the default separator."""
    return f"str_split(lower({expr}), ' ')"


def stopword_hits(text: Column, words: list[str]) -> Column:
    """Count of whitespace tokens that are in ``words``."""
    lst = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(tokens_ws(F.lower(text)), lambda x: F.array_contains(lst, x))
    )


def lang_scores(text: Column) -> dict[str, Column]:
    return {lang: stopword_hits(text, words) for lang, words in STOPWORDS.items()}


def predict_lang(scores: dict[str, Column]) -> Column:
    """Argmax with deterministic first-wins tie-break in lang-name order."""
    langs = sorted(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit(langs[0])
    # Build CASE WHEN s_lang >= best THEN lang chained in sorted order.
    out = None
    for lang in langs:
        cond = scores[lang] >= best
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return out.otherwise(expr)


def token_counts(text: Column) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish regex token count)."""
    n_ws = F.size(tokens_ws(text))
    n_re = F.size(F.regexp_extract_all(text, F.lit(TOKEN_RE), F.lit(0)))
    return n_ws, n_re


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted distinct
    token set. Two documents with the same bag of words collide — the
    classic near-dup canonicalization key."""
    toks = F.array_sort(F.array_distinct(tokens_ws(F.lower(text))))
    return F.md5(F.concat_ws(" ", toks))


def k_gram_windows(tokens: Column, k: int) -> Column:
    """All k-token sliding windows of a tokens array, joined with a
    single space — array of length ``size(tokens) - k + 1``. The single
    source for every window-gram construction (span dedup, blocklist
    matching): window i (1-based) covers tokens [i, i+k-1], so
    ``posexplode`` over this array yields 0-based positions that become
    the engine-wide 1-based token-position convention via ``pos + 1``.
    Callers must filter ``size(tokens) >= k`` first (Spark's
    ``sequence`` runs DESCENDING for a negative span instead of
    yielding an empty array)."""
    return F.transform(
        F.sequence(F.lit(1), F.size(tokens) - k + 1),
        lambda i: F.array_join(F.slice(tokens, i, k), " "),
    )
