"""Graph queries (``graph_*``) over the part co-purchase graph built
from ``lineitem``: triangles, degrees, components, PageRank, link
prediction and clustering coefficients.

Each query is a Spark callable plus a DuckDB oracle aliased identically
on both sides; the determinism rules are the registry's (see
queries/common.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from evolution_data_warehouse_spark.operators.dedup import connected_components
from evolution_data_warehouse_spark.queries.common import (
    fpq,
    fpq_sql,
    gated_broadcast,
    register,
    t,
)


# ---------------------------------------------------------------------------
# Graph analytics over the co-purchase structure
# ---------------------------------------------------------------------------

_MIN_EDGE_SUPPORT = 2


# Shared edge CTE: parts co-occurring in >= MIN_EDGE_SUPPORT orders,
# oriented a < b. The within-order pair fan-out is bounded by basket
# size (TPC-H <= 7 lines/order); the support threshold prunes the edge
# set before any further self-join.
_EDGES_SQL = f"""
items AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
edges AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS support
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
)
"""


_TRIANGLE_ORACLE = f"""
WITH {_EDGES_SQL}
SELECT COUNT(*) AS n_triangles,
       (SELECT COUNT(*) FROM edges) AS n_edges
FROM edges e1
JOIN edges e2 ON e2.pa = e1.pb
JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Pairs come from one collect_set per order + an array pair
    # expression, NOT a self-join: baskets are tiny (TPC-H <= 7
    # lines/order) so the per-order pair fan-out is <= C(7,2)=21, and
    # this shape needs 2 shuffles (groupBy orderkey, groupBy pair)
    # instead of the 3-4 of distinct + sort-merge self-join + pair agg.
    # A/B at sf1 (r14): 8.6 s -> 4.3 s for the edge build alone,
    # identical output (exceptAll both ways = 0).  At 100 TB the wins
    # compound: no 6M x 6M join, and the only wide ops key on
    # high-cardinality orderkey / pair — no skew.
    baskets = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") >= 2)
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(parts, (x, i) -> "
                "transform(slice(parts, i + 2, size(parts) - i - 1), "
                "y -> struct(x AS pa, y AS pb))))"
            )
        ).alias("p")
    ).select("p.pa", "p.pb")
    return (
        pairs.groupBy("pa", "pb")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= _MIN_EDGE_SUPPORT)
    )


@register(
    "graph_copurchase_triangles",
    _TRIANGLE_ORACLE,
    doc="Triangle count in the co-purchase graph (parts co-ordered in "
    ">= 2 orders) — the clustering-structure signal for recommender / "
    "community work. Degree-ordered enumeration (the standard "
    "compact-forward algorithm): every edge is re-oriented from its "
    "lower-(degree, id) endpoint to its higher one, then triangles "
    "are wedges d1(u,v) ⋈ d2(v,w) closed by d3(u,w). The total order "
    "counts each triangle exactly once — identical to id-ordered "
    "enumeration (the oracle's formulation) — while capping the "
    "wedge fan-out by out-degree ≤ O(sqrt(m)) instead of max raw "
    "degree (2.7x measured at sf1). Basket size bounds the "
    "within-order pair fan-out and the support threshold prunes the "
    "edge set before any triangle join.",
)
def graph_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir).select("pa", "pb")
    nodes = e.select(F.col("pa").alias("node")).unionAll(
        e.select(F.col("pb").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("d"))
    ed = e.join(
        deg.withColumnRenamed("node", "pa").withColumnRenamed("d", "da"), "pa"
    ).join(
        deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db"), "pb"
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("pa") < F.col("pb"))
    )
    d = (
        ed.select(
            F.when(lt, F.col("pa")).otherwise(F.col("pb")).alias("u"),
            F.when(lt, F.col("pb")).otherwise(F.col("pa")).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    d1, d2, d3 = d.alias("d1"), d.alias("d2"), d.alias("d3")
    tri = (
        d1.join(d2, F.col("d2.u") == F.col("d1.v"))
        .join(
            d3,
            (F.col("d3.u") == F.col("d1.u"))
            & (F.col("d3.v") == F.col("d2.v")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    n_edges = d.agg(F.count("*").alias("n_edges"))
    return tri.crossJoin(n_edges)


_DEGREE_ORACLE = f"""
WITH {_EDGES_SQL},
deg AS (
    SELECT node, COUNT(*) AS degree FROM (
        SELECT pa AS node FROM edges
        UNION ALL
        SELECT pb AS node FROM edges
    ) GROUP BY node
)
SELECT degree, COUNT(*) AS n_nodes
FROM deg GROUP BY degree
"""


@register(
    "graph_degree_distribution",
    _DEGREE_ORACLE,
    doc="Degree distribution of the co-purchase graph — the power-law "
    "health check (and the input to the degree-ordered triangle "
    "orientation above). Each undirected edge contributes one to both "
    "endpoints via UNION ALL, then two integer aggregates; output is "
    "degree-cardinality, tiny at any scale.",
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _edges(spark, sf_dir)
    nodes = e.select(F.col("pa").alias("node")).unionAll(
        e.select(F.col("pb").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count("*").alias("degree"))
    return deg.groupBy("degree").agg(F.count("*").alias("n_nodes"))


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph — the iterative-algorithm pattern
# ---------------------------------------------------------------------------

# Fixed-point PageRank: total mass FP, damping 0.85 as the integer
# pair (85, 100), every division an integer floor (Spark DIV /
# DuckDB //), so all three unrolled iterations are bit-identical on
# both engines — the log-free/float-free discipline applied to an
# ITERATIVE algorithm (floor per edge leaks a little mass, which is
# fine: both engines leak identically, and ranking only compares
# exact integers).
_PR_FP = 10**12


_PR_ITERS = 3


_PR_TOP = 20


def _pagerank_oracle() -> str:

    iters = []
    prev = "pr0"
    for i in range(1, _PR_ITERS + 1):
        iters.append(f"""
pr{i} AS (
    SELECT s.v AS node,
           MAX(p.base) + (85 * SUM(p.pr // d.od)) // 100 AS pr,
           MAX(p.base) AS base
    FROM {prev} p
    JOIN sym s ON s.u = p.node
    JOIN outdeg d ON d.u = s.u
    GROUP BY s.v
)""")
        prev = f"pr{i}"
    return f"""
WITH {_EDGES_SQL},
sym AS (
    SELECT pa AS u, pb AS v FROM edges
    UNION ALL
    SELECT pb AS u, pa AS v FROM edges
),
outdeg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS od FROM sym GROUP BY 1),
n AS (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_nodes FROM sym),
pr0 AS (
    SELECT u AS node,
           {_PR_FP} // n_nodes AS pr,
           (15 * ({_PR_FP} // n_nodes)) // 100 AS base
    FROM (SELECT DISTINCT u FROM sym), n
),{",".join(iters)}
SELECT node, CAST(pr AS BIGINT) AS pagerank_q,
       CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INT) AS rank
FROM {prev}
QUALIFY rank <= {_PR_TOP}
"""


@register(
    "graph_pagerank",
    _pagerank_oracle(),
    doc="PageRank over the co-purchase graph (same support-pruned "
    "edge set as graph_copurchase_triangles, symmetrized) — the "
    "canonical ITERATIVE algorithm on Spark: three unrolled "
    "power-iteration steps, each one join of the rank vector against "
    "the degree-annotated edge list plus a hash aggregate. "
    "Determinism: mass is the integer 1e12, damping is the pair "
    "(85, 100), and every division floors (Spark DIV / DuckDB //), "
    "so both engines compute bit-identical ranks (the float-free "
    "discipline applied to iteration; the per-edge floor leaks mass "
    "identically on both sides). Scale shape: the edge list is "
    "localCheckpoint-pinned once and re-joined per iteration (the "
    "iterative-algorithm rule everywhere in this repo); rank state "
    "is one row per node; top-20 via window rank. At 100 TB the "
    "per-iteration cost is one shuffle of the edge list on u.",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:

    e = _edges(spark, sf_dir).select("pa", "pb")
    sym = (
        e.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(e.select(F.col("pb").alias("u"), F.col("pa").alias("v")))
    )
    outdeg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("od"))
    # The edge list is re-joined every iteration — pin it once, with
    # its out-degrees attached, so the support-pruning subtree never
    # recomputes (the graph_copurchase_triangles discipline).
    symdeg = sym.join(outdeg, "u").localCheckpoint(eager=True)
    # Nodes derive from the PINNED symdeg, not the raw sym lineage —
    # otherwise the support-pruned edge aggregate (the dominant
    # subtree) recomputes for this branch (review finding). Every
    # node appears as u in the symmetric edge list, so the set is
    # identical.
    nodes = symdeg.select(F.col("u").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pr = nodes.crossJoin(nn).select(
        "node",
        F.expr(f"{_PR_FP} DIV n_nodes").alias("pr"),
        F.expr(f"(15 * ({_PR_FP} DIV n_nodes)) DIV 100").alias("base"),
    )
    for _ in range(_PR_ITERS):
        # Alias both sides: pr's lineage includes symdeg after the
        # first iteration, so unqualified column refs turn ambiguous.
        contribs = pr.alias("p").join(
            symdeg.alias("s"), F.col("p.node") == F.col("s.u")
        ).select(
            F.col("s.v").alias("v"),
            F.expr("p.pr DIV s.od").alias("c"),
            F.col("p.base").alias("base"),
        )
        pr = contribs.groupBy("v").agg(
            (F.max("base") + F.expr("(85 * SUM(c)) DIV 100")).alias("pr"),
            F.max("base").alias("base"),
        ).withColumnRenamed("v", "node")
    # Top-20 via orderBy+limit FIRST (TakeOrdered per-partition heaps)
    # so the rank window only ever sees 20 rows — never a global
    # single-partition window over the node set.
    top = (
        pr.select("node", F.col("pr").cast("bigint").alias("pagerank_q"))
        .orderBy(F.desc("pagerank_q"), F.asc("node"))
        .limit(_PR_TOP)
    )
    w = W.orderBy(F.desc("pagerank_q"), F.asc("node"))
    return top.withColumn("rank", F.row_number().over(w))


# ---------------------------------------------------------------------------
# graph_jaccard_neighbors — neighbor-set similarity (link prediction)
# ---------------------------------------------------------------------------

# Hub guard: nodes whose degree exceeds this cap are removed from the
# graph before the wedge join (their edges too) — the same default-on
# hot-key discipline as DEFAULT_MAX_SHINGLE_DF. The wedge fan-out is
# sum(deg(n)^2) over wedge centers, so one hub node would dominate the
# whole pair generation; the co-purchase support prune bounds degrees
# on THIS fixture, but the cap makes the worst case linear by
# construction at any scale.
_MAX_NBR_DEG = 1000


_JACCARD_FP = 1_000_000


_JACCARD_TOP = 20


def _jaccard_oracle() -> str:

    return f"""
WITH {_EDGES_SQL},
adj0 AS (
    SELECT pa AS node, pb AS nbr FROM edges
    UNION ALL
    SELECT pb AS node, pa AS nbr FROM edges
),
deg0 AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj0 GROUP BY node
),
keep AS (SELECT node FROM deg0 WHERE d <= {_MAX_NBR_DEG}),
adj AS (
    SELECT a.node, a.nbr FROM adj0 a
    JOIN keep k1 ON k1.node = a.node
    JOIN keep k2 ON k2.node = a.nbr
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
),
wedge AS (
    SELECT a.nbr AS u, b.nbr AS w, CAST(COUNT(*) AS BIGINT) AS common
    FROM adj a JOIN adj b ON b.node = a.node AND a.nbr < b.nbr
    GROUP BY a.nbr, b.nbr
    HAVING COUNT(*) >= 2
)
SELECT u, w, common, du.d AS deg_u, dw.d AS deg_w,
       (common * {_JACCARD_FP}) // (du.d + dw.d - common) AS jaccard_fp
FROM wedge
JOIN deg du ON du.node = u
JOIN deg dw ON dw.node = w
ORDER BY jaccard_fp DESC, u, w
LIMIT {_JACCARD_TOP}
"""


@register(
    "graph_jaccard_neighbors",
    _jaccard_oracle(),
    doc="Neighbor-set Jaccard similarity over the co-purchase graph — "
    "the classic link-prediction / node-similarity score (parts whose "
    "co-purchase neighborhoods overlap are substitutes or kit-mates). "
    "Candidate pairs come from a wedge join through shared neighbors "
    "(only pairs with >= 2 common neighbors survive — never all "
    f"pairs), hub nodes above the default-on degree cap "
    f"({_MAX_NBR_DEG}) are dropped with their edges before the wedge "
    "join (the same hot-key guard discipline as the shingle df-cap), "
    "and jaccard = common / (du + dw - common) is an exact int64 "
    "floor division at 1e6 fixed point — no float ever ranks. Top-20 "
    "fully tie-broken by (score, u, w). Scale: wedge fan-out is "
    "sum(deg^2) over the CAPPED degrees; the pruned edge list is "
    "localCheckpoint-pinned so the support aggregate runs once, and "
    "the degree table broadcasts.",
)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:

    e = (
        _edges(spark, sf_dir)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    adj0 = e.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionAll(e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    deg0 = adj0.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    keep = deg0.filter(F.col("d") <= _MAX_NBR_DEG).select("node")
    # per-node tables grow with scale factor: hinted only under the gate
    adj = (
        adj0.join(gated_broadcast(keep, sf_dir, "lineitem"), "node")
        .join(
            gated_broadcast(
                keep.withColumnRenamed("node", "nbr"), sf_dir, "lineitem"
            ),
            "nbr",
        )
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    a, b = adj.alias("a"), adj.alias("b")
    wedge = (
        a.join(
            b,
            (F.col("b.node") == F.col("a.node"))
            & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .groupBy(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("w"))
        .agg(F.count("*").cast("bigint").alias("common"))
        .filter(F.col("common") >= 2)
    )
    du = gated_broadcast(
        deg.select(F.col("node").alias("u"), F.col("d").alias("deg_u")),
        sf_dir,
        "lineitem",
    )
    dw = gated_broadcast(
        deg.select(F.col("node").alias("w"), F.col("d").alias("deg_w")),
        sf_dir,
        "lineitem",
    )
    scored = (
        wedge.join(du, "u")
        .join(dw, "w")
        .withColumn(
            "jaccard_fp",
            F.expr(
                f"(common * {_JACCARD_FP}) DIV (deg_u + deg_w - common)"
            ),
        )
    )
    return (
        scored.select("u", "w", "common", "deg_u", "deg_w", "jaccard_fp")
        .orderBy(F.col("jaccard_fp").desc(), "u", "w")
        .limit(_JACCARD_TOP)
    )


# ---------------------------------------------------------------------------
# graph_bfs_distance — bounded-hop BFS from a deterministic source
# ---------------------------------------------------------------------------

_BFS_MAX_HOPS = 4


def _bfs_oracle() -> str:

    return f"""
WITH RECURSIVE {_EDGES_SQL},
adj AS (
    SELECT pa AS node, pb AS nbr FROM edges
    UNION ALL
    SELECT pb AS node, pa AS nbr FROM edges
),
reach(node, dist) AS (
    SELECT (SELECT MIN(pa) FROM edges), 0
    UNION
    SELECT a.nbr, r.dist + 1
    FROM reach r JOIN adj a ON a.node = r.node
    WHERE r.dist < {_BFS_MAX_HOPS}
),
best AS (
    SELECT node, CAST(MIN(dist) AS INT) AS dist FROM reach GROUP BY node
)
SELECT dist,
       CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(node) AS BIGINT) AS sum_node_id
FROM best GROUP BY dist
"""


@register(
    "graph_bfs_distance",
    _bfs_oracle(),
    doc="Bounded-hop BFS: shortest hop distance from a deterministic "
    "source (the minimum node id — pinned BY RULE, not by data "
    "sample, so it is reproducible at any scale) over the "
    "co-purchase graph, reported as a per-distance histogram with an "
    "id-sum checksum — the reachability/radius probe beside "
    "pagerank's centrality and the triangle count's clustering. "
    "Spark side is frontier BFS: 4 rounds of frontier-join-adjacency "
    "with an anti-join against the visited set, each round over the "
    "localCheckpoint-pinned edge list (the iterative-algorithm "
    "pattern shared with graph_pagerank — no lineage growth, no "
    "recomputed edge build). The oracle is a recursive CTE with "
    "UNION (set) semantics so path explosion dedups to (node, dist) "
    "pairs per level. At 100 TB each round is one shuffle join on "
    "the frontier — O(diameter) rounds, never materialized paths.",
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:

    e = _edges(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=True)
    adj = e.select(F.col("pa").alias("node"), F.col("pb").alias("nbr")).unionAll(
        e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr"))
    ).localCheckpoint(eager=True)
    src = e.agg(F.min("pa").alias("node")).select(
        "node", F.lit(0).alias("dist")
    )
    visited = src.localCheckpoint(eager=True)
    frontier = visited
    for hop in range(1, _BFS_MAX_HOPS + 1):
        nxt = (
            frontier.join(adj, "node")
            .select(F.col("nbr").alias("node"), F.lit(hop).alias("dist"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        visited = visited.unionAll(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return visited.groupBy(F.col("dist").cast("int").alias("dist")).agg(
        F.count("*").cast("bigint").alias("n_nodes"),
        F.sum("node").cast("bigint").alias("sum_node_id"),
    )


# ---------------------------------------------------------------------------
# graph_hits — hub/authority scores on the event-transition digraph
# ---------------------------------------------------------------------------

_HITS_T = 8


_HITS_FP = 10**12


def _hits_oracle() -> str:
    steps = []
    prev = "s0"
    for i in range(1, _HITS_T + 1):
        steps.append(
            f"""a{i} AS MATERIALIZED (
    SELECT e.dst AS state,
           CAST(SUM((CAST(s.h AS HUGEINT) * e.n)) AS HUGEINT) AS a_raw
    FROM {prev} s JOIN e ON e.src = s.state
    GROUP BY e.dst
),
an{i} AS (SELECT CAST(SUM(a_raw) AS HUGEINT) AS t FROM a{i}),
s{i}a AS MATERIALIZED (
    SELECT s.state, s.h,
           CAST(COALESCE((CAST(a.a_raw AS HUGEINT) * {_HITS_FP})
                // an.t, 0) AS BIGINT) AS a
    FROM {prev} s
    LEFT JOIN a{i} a ON a.state = s.state
    CROSS JOIN an{i} an
),
h{i} AS MATERIALIZED (
    SELECT e.src AS state,
           CAST(SUM((CAST(s.a AS HUGEINT) * e.n)) AS HUGEINT) AS h_raw
    FROM s{i}a s JOIN e ON e.dst = s.state
    GROUP BY e.src
),
hn{i} AS (SELECT CAST(SUM(h_raw) AS HUGEINT) AS t FROM h{i}),
s{i} AS MATERIALIZED (
    SELECT s.state, s.a,
           CAST(COALESCE((CAST(h.h_raw AS HUGEINT) * {_HITS_FP})
                // hn.t, 0) AS BIGINT) AS h
    FROM s{i}a s
    LEFT JOIN h{i} h ON h.state = s.state
    CROSS JOIN hn{i} hn
)"""
        )
        prev = f"s{i}"
    chain = ",\n".join(steps)
    return f"""
WITH tr AS MATERIALIZED (
    SELECT event_type AS src,
           lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS dst
    FROM events
),
e AS MATERIALIZED (
    SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
    FROM tr WHERE dst IS NOT NULL GROUP BY src, dst
),
nodes AS (SELECT DISTINCT src AS state FROM e
          UNION SELECT DISTINCT dst FROM e),
k0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nk FROM nodes),
s0 AS (
    SELECT state,
           CAST({_HITS_FP} // nk AS BIGINT) AS a,
           CAST({_HITS_FP} // nk AS BIGINT) AS h
    FROM nodes, k0
),
{chain}
SELECT state AS event_type, a AS authority_fp, h AS hub_fp
FROM {prev}
"""


@register(
    "graph_hits",
    _hits_oracle(),
    doc="HITS hub/authority scores (Kleinberg 1999) on the weighted "
    "event-transition digraph (the directed graph "
    "event_markov_stationary walks): 8 pinned mutual-reinforcement "
    "rounds — authority a = normalize(E^T h), hub h = normalize(E a), "
    "both L1-normalized each half-step in exact integer fixed-point "
    "(HUGEINT widening, floor division identical on both engines). "
    "The digraph diagnostic the stationary distribution can't give: "
    "a type can be a strong HUB (leads everywhere) without being an "
    "AUTHORITY (landed on). Same scale discipline as pagerank/markov: "
    "K-row dimension-sized state, single-partition iteration frames "
    "eagerly localCheckpointed, edge list pinned once.",
)
def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    e = (
        ev.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").cast("bigint").alias("n"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("state"))
        .unionByName(e.select(F.col("dst").alias("state")))
        .distinct()
    )
    k0 = nodes.agg(F.count("*").cast("bigint").alias("nk"))
    s = (
        nodes.crossJoin(k0)
        .select(
            "state",
            F.expr(f"CAST({_HITS_FP} DIV nk AS BIGINT)").alias("a"),
            F.expr(f"CAST({_HITS_FP} DIV nk AS BIGINT)").alias("h"),
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )

    def normalize_step(
        state_df: DataFrame, edge_key: str, score_col: str,
        out_col: str, keep_col: str,
    ) -> DataFrame:
        # raw = E-weighted sum of the partner score, then L1-normalize
        other = "dst" if edge_key == "src" else "src"
        raw = (
            state_df.join(e, state_df.state == F.col(edge_key))
            .groupBy(F.col(other).alias("state"))
            .agg(
                F.sum(
                    F.expr(f"CAST({score_col} AS DECIMAL(38,0)) * n")
                )
                .cast("decimal(38,0)")
                .alias("raw")
            )
        )
        tot = raw.agg(
            F.sum("raw").cast("decimal(38,0)").alias("t")
        )
        return (
            state_df.select("state", keep_col)
            .join(raw, "state", "left")
            .crossJoin(tot)
            .select(
                "state",
                F.col(keep_col),
                F.coalesce(
                    F.expr(
                        f"CAST(CAST(raw AS DECIMAL(38,0)) * {_HITS_FP}"
                        " DIV t AS BIGINT)"
                    ),
                    F.lit(0).cast("bigint"),
                ).alias(out_col),
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )

    for _ in range(_HITS_T):
        # a <- normalize(E^T h): sums arrive AT dst from src hubs
        s = normalize_step(s, "src", "h", "a", "h")
        # h <- normalize(E a): sums arrive AT src from dst authorities
        s = normalize_step(s, "dst", "a", "h", "a")
    return s.select(
        F.col("state").alias("event_type"),
        F.col("a").alias("authority_fp"),
        F.col("h").alias("hub_fp"),
    )


# ---------------------------------------------------------------------------
# graph_kcore — bounded k-core peel on the co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3


_KCORE_T = 5  # pinned peel rounds (bounded-iteration discipline)


def _kcore_oracle() -> str:

    steps = []
    prev = "n0"
    for i in range(1, _KCORE_T + 1):
        steps.append(
            f"""n{i} AS MATERIALIZED (
    SELECT u AS node FROM (
        SELECT e.u, CAST(COUNT(*) AS BIGINT) AS deg
        FROM sym e
        JOIN {prev} a ON a.node = e.u
        JOIN {prev} b ON b.node = e.v
        GROUP BY e.u
    ) WHERE deg >= {_KCORE_K}
)"""
        )
        prev = f"n{i}"
    chain = ",\n".join(steps)
    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed
    UNION ALL SELECT pb, pa FROM ed
),
n0 AS (SELECT DISTINCT u AS node FROM sym),
{chain}
SELECT e.u AS part, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM sym e
JOIN {prev} a ON a.node = e.u
JOIN {prev} b ON b.node = e.v
GROUP BY e.u
"""


@register(
    "graph_kcore",
    _kcore_oracle(),
    doc="k-core peel (k=3, 5 pinned rounds) on the support-pruned "
    "co-purchase graph — each round drops every part whose degree "
    "WITHIN the surviving subgraph is below k, the standard dense-"
    "community extraction (Seidman 1983) that pagerank/triangles "
    "can't give: membership in a mutually-dense core, not just "
    "centrality. Pinned rounds, not run-to-fixpoint (the repo's "
    "bounded-iteration rule: graph_pagerank, connected_components' "
    "max_iterations); on this fixture the peel converges in < 5 "
    "rounds, and at scale unconverged rounds only over-approximate "
    "the core — monotonically shrinking, never wrong-way. Integer "
    "degrees only, so the surviving node set is bit-exact. Scale: "
    "each round is one join of the pinned symmetric edge list "
    "against the (shrinking) survivor set + a hash aggregate — the "
    "pagerank per-iteration shape; survivor frames eagerly "
    "localCheckpointed (constant lineage).",
)
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:

    e = _edges(spark, sf_dir).select("pa", "pb")
    sym = (
        e.select(F.col("pa").alias("u"), F.col("pb").alias("v"))
        .unionAll(
            e.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
        )
        .localCheckpoint(eager=True)
    )
    nodes = sym.select(F.col("u").alias("node")).distinct()
    for _ in range(_KCORE_T):
        a = nodes.select(F.col("node").alias("na"))
        b = nodes.select(F.col("node").alias("nb"))
        nodes = (
            sym.join(a, sym.u == F.col("na"))
            .join(b, sym.v == F.col("nb"))
            .groupBy("u")
            .agg(F.count("*").cast("bigint").alias("deg"))
            .filter(F.col("deg") >= _KCORE_K)
            .select(F.col("u").alias("node"))
            .localCheckpoint(eager=True)
        )
    a = nodes.select(F.col("node").alias("na"))
    b = nodes.select(F.col("node").alias("nb"))
    return (
        sym.join(a, sym.u == F.col("na"))
        .join(b, sym.v == F.col("nb"))
        .groupBy(F.col("u").alias("part"))
        .agg(F.count("*").cast("bigint").alias("core_degree"))
    )


# ---------------------------------------------------------------------------
# graph_modularity — clustering quality of the co-purchase communities
# ---------------------------------------------------------------------------

_MOD_FP = 1_000_000_000


def _modularity_oracle() -> str:

    return f"""
WITH RECURSIVE
items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS MATERIALIZED (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
),
m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ed),
reach(node, label) AS (
    SELECT DISTINCT u, u FROM sym
    UNION
    SELECT e.u, r.label FROM reach r JOIN sym e ON e.v = r.node
),
comm AS MATERIALIZED (
    SELECT node, MIN(label) AS community FROM reach GROUP BY node
),
deg AS (
    SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
),
dsum AS (
    SELECT c.community, CAST(SUM(d.deg) AS BIGINT) AS d_c,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM comm c JOIN deg d ON d.node = c.node
    GROUP BY c.community
),
intra AS (
    SELECT ca.community, CAST(COUNT(*) AS BIGINT) AS e_c
    FROM ed
    JOIN comm ca ON ca.node = ed.pa
    JOIN comm cb ON cb.node = ed.pb AND cb.community = ca.community
    GROUP BY ca.community
)
SELECT ds.community, ds.n_nodes, ds.d_c,
       CAST(COALESCE(i.e_c, 0) AS BIGINT) AS e_c,
       CAST((4 * m.m * COALESCE(i.e_c, 0) - ds.d_c * ds.d_c)
            * {_MOD_FP} // (4 * m.m * m.m) AS BIGINT) AS contribution_fp
FROM dsum ds LEFT JOIN intra i ON i.community = ds.community, m
"""


@register(
    "graph_modularity",
    _modularity_oracle(),
    doc="Newman modularity of the co-purchase graph's connected "
    "components — the clustering-QUALITY metric the graph family was "
    "missing (pagerank/HITS rank nodes, k-core extracts density, CC "
    "labels clusters; modularity scores whether the labeling beats "
    "chance). Per community: node count, degree mass d_c, intra-"
    "community edges e_c, and the exact-integer contribution "
    "(4*m*e_c - d_c^2) * 1e9 // (4*m^2) whose sum is Q (cross-"
    "multiplied so no float ratio ever forms; magnitudes stay inside "
    "int64 up to ~1e4 edges and the doc notes DECIMAL widening as "
    "the 100 TB escape). Communities come from the repo's bounded "
    "min-label CC (operators/dedup.py::connected_components, the "
    "billion-edge one-join-one-agg-per-iteration discipline); the "
    "oracle runs the same fixpoint as a recursive CTE. Edges reuse "
    "the support-pruned construction shared with triangles/k-core.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ed = (
        _edges(spark, sf_dir)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    sym = ed.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        ed.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    nodes = sym.select(F.col("u").alias("doc_id")).distinct()
    comm = connected_components(
        nodes, ed, src_col="pa", dst_col="pb"
    ).select(
        F.col("doc_id").alias("node"), F.col("cluster_id").alias("community")
    )
    m = ed.agg(F.count("*").cast("bigint").alias("m"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("deg")
    )
    dsum_c = (
        comm.join(deg, "node")
        .groupBy("community")
        .agg(
            F.sum("deg").cast("bigint").alias("d_c"),
            F.count("*").cast("bigint").alias("n_nodes"),
        )
    )
    ca = comm.select(
        F.col("node").alias("pa"), F.col("community").alias("comm_a")
    )
    cb = comm.select(
        F.col("node").alias("pb"), F.col("community").alias("comm_b")
    )
    intra = (
        ed.join(ca, "pa")
        .join(cb, "pb")
        .filter(F.col("comm_a") == F.col("comm_b"))
        .groupBy(F.col("comm_a").alias("community"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    return (
        dsum_c.join(intra, "community", "left")
        .crossJoin(m)
        .select(
            "community",
            "n_nodes",
            "d_c",
            F.coalesce(F.col("e_c"), F.lit(0))
            .cast("bigint")
            .alias("e_c"),
            F.expr(
                f"(4 * m * coalesce(e_c, 0) - d_c * d_c) * {_MOD_FP}"
                f" DIV (4 * m * m)"
            )
            .cast("bigint")
            .alias("contribution_fp"),
        )
    )


# ---------------------------------------------------------------------------
# graph_assortativity — degree-degree correlation of the co-purchase graph
# ---------------------------------------------------------------------------


def _assortativity_oracle() -> str:

    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS MATERIALIZED (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u),
pairs AS (
    SELECT du.d AS dx, dv.d AS dy
    FROM sym e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
),
mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m2,
           CAST(SUM(dx) AS BIGINT) AS sx,
           CAST(SUM(dx * dx) AS BIGINT) AS sxx,
           CAST(SUM(dx * dy) AS BIGINT) AS sxy
    FROM pairs
)
SELECT m2, sx, sxx, sxy,
       {fpq_sql(
           '(CAST(m2 AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sx)'
           ' / greatest(CAST(m2 AS DOUBLE) * sxx'
           ' - CAST(sx AS DOUBLE) * sx, 1e-9)', 6
       )} AS assortativity
FROM mom
"""


@register(
    "graph_assortativity",
    _assortativity_oracle(),
    doc="Degree assortativity (Newman 2002) of the support-pruned "
    "co-purchase graph: the Pearson correlation of endpoint degrees "
    "over the symmetric edge list — positive means hubs link to hubs "
    "(social-network-like), negative means hub-and-spoke "
    "(catalog-like), the one-number structural fingerprint that "
    "decides whether degree-based sampling/salting strategies will "
    "see correlated hot endpoints. On the symmetric list the two "
    "endpoint marginals are identical, so r = (M*Sxy - Sx^2) / "
    "(M*Sxx - Sx^2) with ALL four moments exact int64 (degrees are "
    "integers; Sxy <= M*dmax^2 stays in range), one epsilon-guarded "
    "float division at the end, fpq-quantized. Shapes: the shared "
    "edge construction + two degree joins + one zero-key aggregate.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:

    ed = _edges(spark, sf_dir).select("pa", "pb")
    sym = ed.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        ed.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dy"))
    pairs = sym.join(du, "u").join(dv, "v")
    mom = pairs.agg(
        F.count("*").cast("bigint").alias("m2"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    num = (
        F.col("m2").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sx")
    )
    den = F.greatest(
        F.col("m2").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx"),
        F.lit(1e-9),
    )
    return mom.select(
        "m2", "sx", "sxx", "sxy", fpq(num / den, 6).alias("assortativity")
    )


# ---------------------------------------------------------------------------
# graph_clustering_coeff — local clustering coefficient per node
# ---------------------------------------------------------------------------

_GCC_FP = 1_000_000


def _clustering_coeff_oracle() -> str:

    return f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
ed AS MATERIALIZED (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_MIN_EDGE_SUPPORT}
),
sym AS MATERIALIZED (
    SELECT pa AS u, pb AS v FROM ed UNION ALL SELECT pb, pa FROM ed
),
deg AS (SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY u),
wedges AS (
    -- ordered neighbor pairs (v < w) around each center u
    SELECT a.u, a.v AS x, b.v AS y
    FROM sym a JOIN sym b ON b.u = a.u AND a.v < b.v
),
tri AS (
    SELECT w.u, CAST(COUNT(*) AS BIGINT) AS n_closed
    FROM wedges w JOIN ed e ON e.pa = w.x AND e.pb = w.y
    GROUP BY w.u
)
SELECT d.node AS part, d.d AS degree,
       CAST(COALESCE(t.n_closed, 0) AS BIGINT) AS n_closed_wedges,
       CAST(COALESCE(t.n_closed, 0) * {_GCC_FP} * 2
            // (d.d * (d.d - 1)) AS BIGINT) AS clustering_fp
FROM deg d LEFT JOIN tri t ON t.u = d.node
WHERE d.d >= 2
"""


@register(
    "graph_clustering_coeff",
    _clustering_coeff_oracle(),
    doc="Local clustering coefficient (Watts-Strogatz): per node with "
    "degree >= 2, the fraction of its neighbor PAIRS that are "
    "themselves connected — 2*closed_wedges*1e6 // (d*(d-1)) in exact "
    "integer ppm. The node-level density profile beside "
    "graph_copurchase_triangles' global count and graph_kcore's core "
    "membership (high coefficient + low degree = tight clique member; "
    "high degree + low coefficient = hub bridging communities — the "
    "distinction degree alone can't make). Wedges come from the "
    "symmetric adjacency self-joined on the CENTER node with an "
    "ordered (v < w) pair constraint, closed against the canonical "
    "edge list (pa < pb matches the ordering, so each closed wedge "
    "counts exactly once); wedge fan-out is sum d(d-1)/2 on the "
    "support-pruned graph — the same bounded shape the triangle and "
    "jaccard-neighbor queries carry sf1 legs for. All-integer output.",
)
def graph_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:

    ed = (
        _edges(spark, sf_dir)
        .select("pa", "pb")
        .localCheckpoint(eager=True)
    )
    sym = ed.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        ed.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    a = sym.select("u", F.col("v").alias("x"))
    b = sym.select(F.col("u").alias("u2"), F.col("v").alias("y"))
    wedges = a.join(
        b, (F.col("u") == F.col("u2")) & (F.col("x") < F.col("y"))
    ).select("u", "x", "y")
    tri = (
        wedges.join(
            ed,
            (F.col("pa") == F.col("x")) & (F.col("pb") == F.col("y")),
        )
        .groupBy("u")
        .agg(F.count("*").cast("bigint").alias("n_closed"))
    )
    return (
        deg.filter(F.col("d") >= 2)
        .join(tri, deg.node == tri.u, "left")
        .select(
            F.col("node").alias("part"),
            F.col("d").alias("degree"),
            F.coalesce(F.col("n_closed"), F.lit(0))
            .cast("bigint")
            .alias("n_closed_wedges"),
            F.expr(
                f"coalesce(n_closed, 0) * {_GCC_FP} * 2 DIV (d * (d - 1))"
            )
            .cast("bigint")
            .alias("clustering_fp"),
        )
    )


# ---------------------------------------------------------------------------
# graph_adamic_adar — common-neighbor link prediction, AA weighting
# ---------------------------------------------------------------------------

_AA_FP = 10**6


_AA_TOP = 20


_AA_MAX_DEG = 1000  # the graph_jaccard_neighbors hub-guard value


def _adamic_adar_oracle() -> str:

    return f"""
WITH {_EDGES_SQL},
adj0 AS (
    SELECT pa AS node, pb AS nbr FROM edges
    UNION ALL
    SELECT pb AS node, pa AS nbr FROM edges
),
deg0 AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj0 GROUP BY node
),
keep AS (SELECT node FROM deg0 WHERE d <= {_AA_MAX_DEG}),
adj AS (
    SELECT a.node, a.nbr FROM adj0 a
    JOIN keep k1 ON k1.node = a.node
    JOIN keep k2 ON k2.node = a.nbr
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node
),
wz AS (
    -- d >= 2: only nodes with two distinct neighbors can center a
    -- wedge, so the filter drops nothing that joins and keeps ln(d)
    -- away from ln(1) = 0
    SELECT node, CAST(FLOOR({_AA_FP} / ln(d)) AS BIGINT) AS w_q
    FROM deg WHERE d >= 2
),
pairs AS (
    SELECT a.nbr AS u, b.nbr AS w,
           CAST(COUNT(*) AS BIGINT) AS common,
           CAST(SUM(wz.w_q) AS BIGINT) AS aa_q
    FROM adj a
    JOIN adj b ON b.node = a.node AND a.nbr < b.nbr
    JOIN wz ON wz.node = a.node
    GROUP BY a.nbr, b.nbr
    HAVING COUNT(*) >= 2
)
SELECT u, w, common, aa_q
FROM pairs
ORDER BY aa_q DESC, u, w
LIMIT {_AA_TOP}
"""


@register(
    "graph_adamic_adar",
    _adamic_adar_oracle(),
    doc="Adamic-Adar link prediction over the co-purchase graph — the "
    "frequency-weighted refinement of graph_jaccard_neighbors "
    "(Adamic & Adar 2003): each shared neighbor z contributes "
    "1/ln(deg(z)), so rare co-purchase hubs count more than common "
    "ones. Same guarded wedge machinery: hub nodes above the "
    f"{_AA_MAX_DEG}-degree cap drop with their edges, pairs need >= 2 "
    "common neighbors, and the per-z weight quantizes to "
    "floor(1e6/ln(d)) BEFORE the integer sum — the weight table "
    "filters to d >= 2 (only such nodes can center a wedge), so "
    "ln never sees 1. Ranking compares pure int64 sums, top-20 "
    "tie-broken by "
    "(u, w). Scale: wedge fan-out is sum(deg^2) over CAPPED degrees; "
    "the per-node weight table joins the wedge ON THE WEDGE CENTER "
    "(broadcastable after the cap), never per-pair.",
)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:

    e = _edges(spark, sf_dir).select("pa", "pb").localCheckpoint(eager=True)
    adj0 = e.select(
        F.col("pa").alias("node"), F.col("pb").alias("nbr")
    ).unionAll(e.select(F.col("pb").alias("node"), F.col("pa").alias("nbr")))
    deg0 = adj0.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    keep = deg0.filter(F.col("d") <= _AA_MAX_DEG).select("node")
    # per-node tables grow with scale factor: hinted only under the gate
    adj = (
        adj0.join(gated_broadcast(keep, sf_dir, "lineitem"), "node")
        .join(
            gated_broadcast(
                keep.withColumnRenamed("node", "nbr"), sf_dir, "lineitem"
            ),
            "nbr",
        )
        .select("node", "nbr")
        .localCheckpoint(eager=True)
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("bigint").alias("d"))
    wz = gated_broadcast(
        deg.filter(F.col("d") >= 2).select(
            F.col("node").alias("wnode"),
            F.expr(f"CAST(FLOOR({_AA_FP} / ln(d)) AS BIGINT)").alias("w_q"),
        ),
        sf_dir,
        "lineitem",
    )
    a, b = adj.alias("a"), adj.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.node") == F.col("a.node"))
            & (F.col("a.nbr") < F.col("b.nbr")),
        )
        .join(wz, F.col("a.node") == F.col("wnode"))
        .groupBy(F.col("a.nbr").alias("u"), F.col("b.nbr").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("common"),
            F.sum("w_q").cast("bigint").alias("aa_q"),
        )
        .filter(F.col("common") >= 2)
    )
    return (
        pairs.select("u", "w", "common", "aa_q")
        .orderBy(F.col("aa_q").desc(), "u", "w")
        .limit(_AA_TOP)
    )
