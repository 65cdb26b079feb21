"""Query registry: op-id → (Spark callable, DuckDB oracle SQL).

Every operator from SURVEY.md §2 that is implemented gets a named entry
here; ``__spark_entry__.py`` exposes the registry to the driver, which
hash-checks each Spark result against its oracle at sf0.01.

Determinism rules applied across the registry (see queries/common.py):

* double aggregates go through per-row DECIMAL casts so the sum is
  exact and independent of partitioning / execution order, then back
  to DOUBLE — bit-identical between Spark and DuckDB;
* any LIMIT/top-N is fully tie-broken by a unique key;
* pivots pin their value lists; collected lists are sorted.
"""

from __future__ import annotations

import importlib

from evolution_data_warehouse_spark.queries.common import REGISTRY, Query

# Family module → the query-name prefixes it owns. Every query lives in
# the module of its prefix (tests/test_query_layout.py enforces this;
# QUERIES.md lists the registry by family). Importing the modules
# populates REGISTRY via @register.
FAMILIES: dict[str, tuple[str, ...]] = {
    "relational": ("agg", "filter", "join", "limit", "proj", "set", "sort", "win"),
    "scalar_fns": ("fn", "geo", "udf", "udtf", "pandas"),
    "tpch_style": ("tpch",),
    "event_analytics": ("event", "cdc", "cohort", "funnel", "session", "seq", "ts"),
    "streaming_ops": ("stream", "ivm"),
    "sources_ext": ("src", "snk", "profile", "web"),
    "datapipe": (
        "corpus", "curation", "pack", "sample", "split", "chunk", "fe",
        "decontaminate", "source",
    ),
    "scd": ("proc", "view", "dim", "snapshot", "warehouse"),
    "text": ("text", "tok", "pii"),
    "dedup": ("dedup", "er"),
    "similarity": ("sim", "emb"),
    "multimodal": ("mm",),
    "graph": ("graph",),
    "stats": ("stats", "drift", "surv"),
    "quality": ("quality",),
}

for _family in FAMILIES:
    importlib.import_module(f"{__name__}.{_family}")

__all__ = ["FAMILIES", "REGISTRY", "Query"]
