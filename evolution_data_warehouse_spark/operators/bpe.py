"""Byte-pair-encoding tokenizer training as an iterative Spark job.

The missing tokenizer-domain piece of the LLM-pipeline suite: the
engine already counts tokens, packs sequences, and scores text, but
training the subword vocabulary itself is the step a real pretraining
pipeline runs FIRST over the full corpus — and it is an iterative
distributed algorithm (like connected_components/pagerank here), not a
single query.

Algorithm (Sennrich et al. 2016, the standard greedy BPE):

1. Aggregate the corpus to a WORD-FREQUENCY table — the scale move.
   Pair statistics over (word, n) weigh each distinct word once; the
   working set is vocabulary-sized (~millions of rows) no matter how
   many tokens the corpus holds, so a 100 TB corpus costs one initial
   token-count aggregate and nothing more per iteration.
2. Each round: count adjacent symbol pairs weighted by word frequency
   (explode via `transform` over the symbol array — JVM higher-order
   functions, no Python UDF), take the single most frequent pair with
   a deterministic tie-break (count DESC, then lexicographic), and
   merge it everywhere with a left fold (`aggregate`) over each
   symbol array — greedy left-to-right, the reference semantics for
   overlapping runs like `a a a`.
3. Only the 1-row argmax ever reaches the driver; per-round lineage is
   cut with localCheckpoint every few merges (same discipline as
   connected_components in operators/dedup.py).

The merge sequence is fully deterministic, so tests pin it against a
pure-Python reference implementation on the same word counts
(test_operators_misc). The trainer itself is engine+tests — the
k-round argmax recursion is not expressible as one ANSI-SQL oracle,
the same status as PageRank — and the registry's driver-level
evidence for the tokenizer family is `tok_bpe_segment`
(queries/text.py), which applies a pinned merge table
learned by this trainer under an exact DuckDB oracle.

Reference-parity note: haelbrek/Evolution-DATA-WAREHOUSE has no
tokenizer training; this extends the corpus-prep suite the way its
pipeline would grow toward pretraining data work.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.textops import lower_tokens

#: end-of-word sentinel (the classic `</w>`): keeps merges from
#: crossing word boundaries and lets the learned vocab distinguish
#: word-final subwords.
EOW = "▁"


def _merge_fold(a: str, b: str) -> Column:
    """Left fold replacing each adjacent (a, b) in `syms` with a||b —
    greedy left-to-right, so `a a a` with merge (a,a) becomes
    [aa, a], matching the reference implementation. The merge pair
    rides in as literal COLUMNS (no SQL-string splicing), so symbols
    containing quotes or backslashes cannot break the expression."""

    def step(acc: Column, x: Column) -> Column:
        hit = (
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b))
        )
        return F.when(
            hit,
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(a + b)),
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        F.col("syms"), F.array().cast("array<string>"), step
    )


def bpe_prepare_words(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus → (syms: array<string>, n: bigint) word-frequency table:
    lowercase whitespace words, split to characters, end-of-word
    sentinel appended. One shuffle at word cardinality."""
    words = (
        docs.select(
            F.explode(lower_tokens(text_col, r"\s+")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    return words.select(
        F.concat(
            F.split(F.col("w"), ""), F.array(F.lit(EOW))
        ).alias("syms"),
        "n",
    )


def bpe_pair_counts(words: DataFrame) -> DataFrame:
    """Adjacent-pair frequencies over the word table: (a, b, cnt)."""
    pairs = words.select(
        F.explode(
            F.expr(
                "transform(slice(syms, 1, size(syms) - 1), "
                "(s, i) -> struct(s AS a, syms[i + 1] AS b))"
            )
        ).alias("p"),
        "n",
    )
    return pairs.groupBy("p.a", "p.b").agg(F.sum("n").alias("cnt"))


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    checkpoint_every: int = 4,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` BPE merges → [(rank, left, right, cnt)].
    Stops early when no pair occurs twice."""
    words = bpe_prepare_words(docs, text_col).localCheckpoint(eager=True)
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            bpe_pair_counts(words)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0].cnt < 2:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((rank, a, b, cnt))
        words = words.select(_merge_fold(a, b).alias("syms"), "n")
        if (rank + 1) % checkpoint_every == 0:
            words = words.localCheckpoint(eager=True)
    return merges


def bpe_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """The deterministic id table a trained tokenizer ships: the
    end-of-word sentinel, the base alphabet (a-z, 0-9), then each
    merged symbol in merge-rank order. Symbols outside the table
    encode as -1 (the <unk> id)."""
    toks = [EOW] + list("abcdefghijklmnopqrstuvwxyz0123456789") + [
        a + b for a, b in merges
    ]
    return {tok: i for i, tok in enumerate(toks)}


def bpe_segment_expr(word: Column, merges: list[tuple[str, str]]) -> Column:
    """word → space-joined subword string under the ordered merge
    table: space-sentinel the characters, apply each merge as a
    scan-replace (left-to-right, non-overlapping — semantics identical
    in Spark and DuckDB, see tok_bpe_segment), trim. Pure column
    expressions, scan speed."""
    s = F.concat(
        F.lit(" "), F.regexp_replace(word, "(.)", "$1 "), F.lit(EOW + " ")
    )
    for a, b in merges:
        s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    return F.trim(s)


def bpe_segment_sql(word_expr: str, merges: list[tuple[str, str]]) -> str:
    """The DuckDB mirror of :func:`bpe_segment_expr` — ONE source of
    truth for the segmentation SQL (the _mh_sql_fragments discipline:
    a change to the sentinel, char-spacing regex, or replace formatting
    cannot silently diverge an engine/oracle pair). Used by both the
    tok_bpe_segment and tok_bpe_encode oracles."""
    s = f"' ' || regexp_replace({word_expr}, '(.)', '\\1 ', 'g') || '{EOW} '"
    for a, b in merges:
        s = f"replace({s}, ' {a} {b} ', ' {a}{b} ')"
    return f"trim({s})"


def bpe_encode_ids(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the corpus to vocabulary IDS — the trainer's runtime
    counterpart (what every pretraining data job runs over the full
    100 TB once the vocab is frozen). Returns one row per subword
    instance: (id, word_pos, sub_pos, subword, token_id), positions
    0-based over the doc's whitespace words and the word's subwords;
    unknown subwords get token_id -1.

    Scale shape: the merge replaces (the CPU) run once per DISTINCT
    word — the corpus words equi-join back to the segmented word table
    (Zipf makes that table vastly smaller than the token stream; at
    corpus scale it is a shuffle join on the word, not a broadcast).
    The vocab itself IS broadcast — a model-sized literal map riding
    the task closure, looked up JVM-side inside `transform`; no join,
    no Python. One explode + one join + one explode, nothing else."""
    words = docs.select(
        F.col(id_col),
        F.posexplode(lower_tokens(text_col, r"\s+")).alias(
            "word_pos", "w"
        ),
    ).filter(F.col("w") != "")
    vmap = F.create_map(
        *[
            F.lit(x)
            for tok, i in sorted(vocab.items())
            for x in (tok, i)
        ]
    )
    subs = F.split(bpe_segment_expr(F.col("w"), merges), " ")
    seg = words.select("w").distinct().select(
        "w",
        subs.alias("subs"),
        F.transform(
            subs, lambda x: F.coalesce(vmap[x], F.lit(-1))
        ).alias("ids"),
    )
    return (
        words.join(seg, "w")
        .select(
            id_col,
            "word_pos",
            F.posexplode(F.arrays_zip("subs", "ids")).alias("sub_pos", "z"),
        )
        .select(
            id_col,
            "word_pos",
            "sub_pos",
            F.col("z.subs").alias("subword"),
            F.col("z.ids").cast("int").alias("token_id"),
        )
    )
