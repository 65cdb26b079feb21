"""Data-quality validators as first-class engine operators.

The reference's integrity tests (analytics/tests/test_dwh.py:199-236:
orphan FKs via LEFT JOIN ... IS NULL, non-negative measures) become
anti-join/filter operators returning the violating rows — composable,
lazily planned, and cheap at scale (anti-join broadcasts the dim side).
"""

from __future__ import annotations

import re

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.arrow_map import local_table
from evolution_data_warehouse_spark.operators.textops import k_gram_windows, lower_tokens


def orphan_keys(
    fact: DataFrame, dim: DataFrame, fact_key: str, dim_key: str | None = None
) -> DataFrame:
    """Fact rows whose key has no match in the dimension."""
    dim_key = dim_key or fact_key
    keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    return fact.join(F.broadcast(keys), fact_key, "left_anti")


def negative_values(df: DataFrame, col: str) -> DataFrame:
    """Rows violating a non-negativity invariant."""
    return df.filter(F.col(col) < 0)


def duplicate_keys(df: DataFrame, *cols: str) -> DataFrame:
    """Key tuples appearing more than once (unique-constraint check,
    the UK_dim_* analog of 002_create_dimensions.sql:26,70,108)."""
    return (
        df.groupBy(*cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
    )


@dataclass(frozen=True)
class ValidationResult:
    name: str
    violations: int
    ok: bool


def run_validations(checks: dict[str, DataFrame]) -> list[ValidationResult]:
    """Evaluate named violation DataFrames → pass/fail report."""
    out = []
    for name, df in checks.items():
        n = df.count()
        out.append(ValidationResult(name=name, violations=n, ok=n == 0))
    return out


def expectations_report(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Declarative expectations in ONE scan: each rule is a boolean
    Column; the report is one row per rule with pass/fail counts — all
    computed as conditional sums inside a single aggregate, so a
    100 TB table is read once however many rules run (per-rule
    validator queries would each rescan it). A NULL predicate counts
    as a failure — unknown is not a pass; on an empty table every
    count is 0, never NULL.

    Rule names become column aliases and stack() literals, so they are
    restricted to identifier form — rejecting the rest up front beats
    a cryptic parse error (or a quote-injection) downstream.

    The long-form output comes from stack() over the aggregate's one
    row — driver-free and constant-sized.
    """
    if not rules:
        raise ValueError("expectations_report needs at least one rule")
    for name in rules:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(
                f"rule name {name!r} must be a bare identifier "
                "([A-Za-z_][A-Za-z0-9_]*)"
            )
    aggs = [F.count(F.lit(1)).alias("__n_rows")]
    for name, pred in rules.items():
        aggs.append(
            F.coalesce(
                F.sum(
                    F.when(F.coalesce(pred, F.lit(False)), 1).otherwise(0)
                ),
                F.lit(0),
            ).alias(f"__pass_{name}")
        )
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', __pass_{name}" for name in rules
    )
    n = len(rules)
    return one.selectExpr(
        "__n_rows", f"stack({n}, {stack_args}) AS (rule, n_pass)"
    ).selectExpr(
        "rule",
        "CAST(n_pass AS BIGINT) AS n_pass",
        "CAST(__n_rows - n_pass AS BIGINT) AS n_fail",
        "CAST(__n_rows AS BIGINT) AS n_rows",
    )


def route_quarantine(
    df: DataFrame,
    rules: dict[str, Column],
    out_dir: str,
) -> dict[str, int]:
    """Dead-letter routing: rows failing any expectation land in a
    quarantine partition WITH their failure reasons; clean rows land
    beside them — ONE scan, ONE write (the output is partitioned by
    the validity flag, so the split costs a partition column, not a
    second pass). Returns {'clean': n, 'quarantined': n} counted via
    in-plan observe() — no post-write count job.

    The 100 TB ingestion discipline: never drop bad rows silently
    (they are evidence) and never fail the whole load for one of them
    (a single bad cell must not kill the batch — same philosophy as
    fn_try_cast).
    """
    from pyspark.sql import Observation

    # A NULL rule evaluation must quarantine, not pass: for `col > 0`
    # on NULL, `~cond` is NULL and a bare when() never fires — NULLs in
    # validated columns would silently bypass the gate (the opposite of
    # dead-letter intent). coalesce(cond, False) makes NULL a failure
    # recorded under the rule's name.
    fails = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in sorted(rules.items())
    ]
    reasons = F.array_compact(F.array(*fails))
    routed = df.withColumn("_reasons", reasons).withColumn(
        "_route",
        F.when(F.size("_reasons") == 0, F.lit("clean")).otherwise(
            F.lit("quarantined")
        ),
    ).withColumn("_reason", F.concat_ws(",", "_reasons")).drop("_reasons")
    obs = Observation()
    (
        routed.observe(
            obs,
            F.sum(F.when(F.col("_route") == "clean", 1).otherwise(0)).alias(
                "clean"
            ),
            F.sum(
                F.when(F.col("_route") == "quarantined", 1).otherwise(0)
            ).alias("quarantined"),
        )
        .write.mode("overwrite")
        .partitionBy("_route")
        .parquet(out_dir)
    )
    got = obs.get
    return {"clean": int(got["clean"]), "quarantined": int(got["quarantined"])}


def blocklist_matches(
    docs: DataFrame,
    phrases: list[tuple[str, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Multi-length blocklist phrase screening — the safety-filter
    stage of a training-corpus pipeline (profanity / policy / brand
    blocklists), producing what an Aho-Corasick scan would: every
    (document, token position, phrase, severity) hit, for phrases of
    ANY token length in one pass over the corpus.

    Plan shape instead of an automaton: group the dictionary by token
    length; for each length k present, explode the corpus into its
    k-token windows and equi-join against that length's phrases. The
    dictionary is model-sized, so every join is a broadcast; the
    explode fan-out is sum_k (n_tokens) ~ (#distinct lengths) x corpus
    tokens — linear, embarrassingly parallel, no shuffle of the corpus
    at all (the downstream per-doc aggregate is the only exchange).
    A trie-based matcher beats this only below memory scale; at 100 TB
    the broadcast-join form wins because it never materializes
    per-task automaton state and Catalyst prunes the scan to the text
    column alone.

    Severities are caller-defined small ints (convention: 3 = drop the
    document, 2 = flag for review, 1 = note); the aggregation into a
    verdict lives in the query layer so policies stay declarative.

    Positions are 1-based token indices. Matching is lowercase
    whitespace-token exact; BOTH sides are lowered here (a curated
    blocklist naturally arrives mixed-case — lowering only the corpus
    would make such phrases silently match nothing).
    """
    spark = docs.sparkSession
    toks = lower_tokens(text_col)
    base = docs.select(id_col, toks.alias("_tk"))
    by_len: dict[int, list[tuple[str, int]]] = {}
    for phrase, severity in phrases:
        p = phrase.lower()
        by_len.setdefault(len(p.split(" ")), []).append((p, severity))
    if not by_len:  # dynamic blocklists may legitimately be empty
        # Build the empty frame FROM the input so the id column keeps
        # the caller's actual type (string/int/...), matching the
        # non-empty path which propagates it through the join.
        return base.select(id_col).limit(0).select(
            id_col,
            # non-null literal: the non-empty path's pos (posexplode+1)
            # is non-nullable, and the schemas must match exactly
            F.lit(0).cast("long").alias("pos"),
            F.lit(None).cast("string").alias("phrase"),
            F.lit(None).cast("int").alias("severity"),
        )
    parts = []
    for k, plist in sorted(by_len.items()):
        dic = local_table(spark, sorted(plist), "phrase string, severity int")
        grams = (
            base.filter(F.size("_tk") >= k)
            .select(
                id_col,
                F.posexplode(k_gram_windows(F.col("_tk"), k)).alias(
                    "_p0", "phrase"
                ),
            )
            .select(
                id_col,
                (F.col("_p0") + 1).cast("long").alias("pos"),
                "phrase",
            )
        )
        parts.append(grams.join(dic, "phrase"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(id_col, "pos", "phrase", "severity")
