"""Shared plumbing for the query registry."""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

# --- events.ts precision pinning (oracle side) -----------------------------
#
# events.parquet stores ts as TIMESTAMP(NANOS). Spark always µs-truncates
# (see t() below); DuckDB 1.0 also reads µs, but DuckDB ≥1.1 surfaces the
# column as TIMESTAMP_NS. Any oracle that orders by ts, lags/leads over it,
# or emits ts-derived values would then see sub-µs tiebreaks Spark cannot
# see. Rather than trust each query author to remember a CAST, every
# registered oracle is rewritten to read events through a µs-pinned inline
# view — a no-op on µs-reading DuckDB, and exactly the Spark semantics on a
# ns-reading one.

_EVENTS_US_SQL = "(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events)"

# words that can follow "FROM events" without being an alias
_SQL_KEYWORDS = frozenset(
    "group order where join left right inner outer cross full on union "
    "window limit having qualify using natural select except intersect "
    "and or not "
    # remaining DuckDB clause starters that can follow a table ref —
    # without these, `FROM events ASOF JOIN x` would capture ASOF as a
    # table alias and silently change oracle semantics
    "asof semi anti positional pivot unpivot tablesample fetch offset".split()
)

_EVENTS_REF_RE = re.compile(
    r"\b(FROM|JOIN)\s+events\b(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
    re.IGNORECASE,
)


def pin_events_us(sql: str) -> str:
    """Rewrite every ``FROM/JOIN events [alias]`` table reference in an
    oracle to the µs-pinned inline view, preserving any alias (the view
    is aliased ``events`` when the query used the bare table name, so
    qualified ``events.col`` references keep resolving)."""

    def _sub(m: re.Match) -> str:
        kw, alias = m.group(1), m.group(2)
        if alias and alias.lower() not in _SQL_KEYWORDS:
            return f"{kw} {_EVENTS_US_SQL} {alias}"
        tail = f" {alias}" if alias else ""
        return f"{kw} {_EVENTS_US_SQL} events{tail}"

    return _EVENTS_REF_RE.sub(_sub, sql)


@dataclass(frozen=True)
class Query:
    """One registry entry: a Spark query plus its DuckDB oracle."""

    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible; driver does rows-only
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    """Decorator: add a (spark, sf_dir) -> DataFrame callable to REGISTRY."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            # a silent overwrite hides one of two implementations from
            # the driver forever (r12 nearly shipped a duplicate
            # quality_k_anonymity this way) — collide loudly instead
            raise ValueError(
                f"duplicate registry name {name!r}: already registered "
                f"by {REGISTRY[name].fn.__module__}"
            )
        pinned = pin_events_us(oracle) if oracle is not None else None
        REGISTRY[name] = Query(name=name, fn=fn, oracle=pinned, doc=doc)
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Parquet scan → Catalyst gets pushdown
    and column pruning for free.

    events.ts is TIMESTAMP(NANOS) parquet. Engine versions differ in how
    they surface it — older readers need `nanosAsLong` (int64 nanos we
    floor-truncate to µs; integer `div`, not `/`, avoids double-precision
    loss at epoch-nanos magnitudes), Spark 4.1.x reads it directly as
    TIMESTAMP_NTZ (µs-truncated, the legacy conf is inert). Either way
    the contract downstream is the same: `ts` is a TIMESTAMP_LTZ whose
    epoch-µs equal DuckDB's µs timestamps on the oracle side, so epoch
    casts (`cast(ts as long)`, `unix_micros`) and streaming watermarks
    all work. The NTZ→LTZ cast interprets the wall-clock in the session
    TZ, which we pin to UTC so the mapping is the identity everywhere.
    """
    # Session-scoped safety knobs (idempotent; also applied when the caller
    # owns the session, e.g. the driver's verify harness):
    # ICU title-case map construction (CollationAwareUTF8String <clinit>)
    # can stall interpreted string expressions for ~90s in sandboxed envs.
    spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def cpu_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Repartition to core count for per-row-CPU-heavy narrow stages
    (codec decode, fingerprinting, token explode): the parquet scan
    splits by BYTES (`maxPartitionBytes`), so a narrow id/payload
    projection often yields far fewer partitions than cores and the
    expensive stage idles most of the machine (profiled r11: 10
    splits on 32 cores = 3.2× wall-clock on mm_video_frames). The
    shuffle moves only the slim projected columns — negligible next
    to the CPU it parallelizes — and is SKIPPED when the input is
    already at least core-wide (an exchange on an already-wide scan
    is pure waste). Placement is round-robin, or hash on ``cols``
    when given (for callers whose downstream shuffle key benefits);
    result hashing is row-order-independent so either placement is
    safe under the determinism rules."""
    width = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= width:
        return df
    if cols:
        return df.repartition(width, *cols)
    return df.repartition(width)


# Source-byte bound under which gated_broadcast keeps its hint.
BROADCAST_GATE_BYTES = 256 << 20


def gated_broadcast(df: DataFrame, sf_dir: str, *tables: str) -> DataFrame:
    """Broadcast hint gated on the hinted branch's SOURCE bytes.

    A hard ``F.broadcast`` on a branch derived from scaling tables
    (e.g. ``orders ⋈ customer`` in the TPC-H star shapes) bypasses the
    size threshold entirely: right at the bench SFs, an OOM at 100 TB
    (r14 verdict item 3). But simply dropping the hint lets the
    planner's post-filter size ESTIMATE pick the build side, and at
    small SFs it picks the filtered FACT side — the exact inverted
    orientation the r14 star fix removed. This gate keeps the hint
    exactly while it is provably safe: apply it only when the branch's
    source parquet files total under ``BROADCAST_GATE_BYTES``
    (256 MB — the guide §3.1 "a few hundred MB is usually
    fine" bound; sf1 orders+customer ≈ 24 MB, a 100 TB run is orders of
    magnitude over). Past the gate the hint vanishes and AQE picks the
    strategy from measured sizes. File metadata only — no data is read
    and nothing about the query's result changes.
    """
    import os

    total = 0
    for name in tables:
        path = f"{sf_dir}/{name}.parquet"
        if os.path.isdir(path):
            total += sum(
                os.path.getsize(os.path.join(r, f))
                for r, _, fs in os.walk(path)
                for f in fs
            )
        elif os.path.exists(path):
            total += os.path.getsize(path)
        else:  # unknown source (e.g. a remote URI): be scale-safe
            return df
    return F.broadcast(df) if total < BROADCAST_GATE_BYTES else df


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Order-independent double sum.

    Casting each row to DECIMAL before summing makes the aggregate
    exact (decimal addition is associative), so Spark's parallel
    partial/final aggregation and DuckDB's single-threaded sum produce
    bit-identical results. Cast back to DOUBLE for a stable schema.

    Cost (measured at sf0.1, local[32], steady state): the per-row
    decimal cast adds ~10% to the TPC-H Q1-shaped agg_groupby_sum
    (0.36s vs 0.28s plain-double, 8 aggregates) and ~10% to the star
    join join_inner_equi (whose countDistinct adds another ~15% — the
    extra shuffle for exact distinct is likewise a correctness choice).
    That is the whole headroom vs the plain plan: it is all
    determinism tax, deliberately paid so results are reproducible
    across partitionings, engines, and cluster sizes — at 100 TB a
    non-associative double sum would differ run-to-run.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(28,{scale})")).cast("double")


def dsum_sql(expr: str, scale: int = 2) -> str:
    """DuckDB-side mirror of :func:`dsum`."""
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,{scale}))) AS DOUBLE)"


def davg(col: Column | str, scale: int = 4) -> Column:
    """Order-independent average: exact decimal sum / count, in double."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.sum(c.cast(f"decimal(28,{scale})")).cast("double")
        / F.count(c).cast("double")
    )


def davg_sql(expr: str, scale: int = 4) -> str:
    return (
        f"CAST(SUM(CAST(({expr}) AS DECIMAL(28,{scale}))) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE)"
    )


def fpq(col: Column | str, digits: int = 6) -> Column:
    """Fixed-point quantize an interpolated double for oracle comparison.

    ``floor(x·10^digits + 0.5) / 10^digits`` — nearest-integer in fixed
    point, spelled with floor so both engines share one rounding rule
    (no native round(): its tie-break differs across engines). The +0.5
    matters: interpolated percentiles over 2-decimal money land exactly
    ON fine-grained quantization boundaries, where a raw floor would
    AMPLIFY a 1-ulp engine difference instead of absorbing it; nearest-
    integer puts every true value at the centre of its bucket. digits=6
    keeps the product ~1e11 ≪ 2^53, so the multiply is ulp-clean.
    """
    c = F.col(col) if isinstance(col, str) else col
    m = F.lit(float(10**digits))
    return (F.floor(c * m + F.lit(0.5)) / m).cast("double")


def fpq_sql(expr: str, digits: int = 6) -> str:
    """DuckDB-side mirror of :func:`fpq`."""
    m = float(10**digits)
    return f"CAST(CAST(floor(({expr}) * {m} + 0.5) AS BIGINT) / {m} AS DOUBLE)"
