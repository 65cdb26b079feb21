"""Row-level security as a view factory (query rewriting).

OSS Spark has no SECURITY POLICY objects, so the reference's RLS
(Terraform/sql/011_security_rls.sql:165-214, inline TVF
``security.fn_rls_geographie`` + FILTER PREDICATE) becomes a function
that rewrites any DataFrame touching the protected dimension into a
filtered one. Exact three-branch semantics of 011:171-189:

1. the user has no row in the zones table at all → sees ALL rows
   (the "unregistered user" branch);
2. the user has a zone row with a NULL scope value → sees ALL rows
   (regional/admin grant);
3. otherwise → only rows whose scope column matches one of the
   user's zone values.

Implemented fully declaratively (no driver-side collect): the user's
zone set is an aggregate broadcast into the plan, so Catalyst keeps
the whole thing in one stage over the protected table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def secured(
    df: DataFrame,
    zones: DataFrame,
    user: str,
    scope_col: str,
    zone_user_col: str = "login",
    zone_scope_col: str = "scope",
) -> DataFrame:
    """Return ``df`` filtered to what ``user`` may see.

    ``zones`` is the utilisateurs_zones analog: (login, scope) rows,
    scope NULL meaning see-everything.
    """
    user_zones = zones.filter(F.col(zone_user_col) == user)
    flags = user_zones.agg(
        F.count("*").alias("_rls_n"),
        F.sum(
            F.when(F.col(zone_scope_col).isNull(), 1).otherwise(0)
        ).alias("_rls_n_null"),
    )
    scoped = user_zones.filter(F.col(zone_scope_col).isNotNull()).select(
        F.col(zone_scope_col).alias("_rls_scope")
    ).distinct()

    out = (
        df.crossJoin(flags)
        .join(
            F.broadcast(scoped),
            F.col(scope_col) == F.col("_rls_scope"),
            "left",
        )
        .filter(
            (F.col("_rls_n") == 0)  # unregistered → all
            | (F.coalesce(F.col("_rls_n_null"), F.lit(0)) > 0)  # NULL grant → all
            | F.col("_rls_scope").isNotNull()  # matching zone
        )
    )
    return out.drop("_rls_n", "_rls_n_null", "_rls_scope")
