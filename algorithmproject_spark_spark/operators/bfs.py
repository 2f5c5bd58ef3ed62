"""Bounded-depth BFS levels over a DataFrame edge list.

The graph family (components, k-core, label propagation, triangles,
PageRank) lacks the most basic traversal: single-source shortest-path
levels. Four fixed frontier-expansion rounds — each one equi-join
(frontier ⋈ edges) + distinct + anti-join against the visited set —
give min-hop levels 0..4 from a deterministic source (the minimum
vertex id, a broadcast 1-row scalar). ``localCheckpoint`` truncates
the growing lineage per round, the corpus_pagerank discipline.

Every round is linear in frontier-adjacent edges; no N² anything. The
oracle is a WITH RECURSIVE walk capped at the same depth, reduced by
min(level) per vertex — the engine-agnostic BFS definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from algorithmproject_spark_spark.cacheutil import tracked_local_checkpoint

MAX_LEVEL = 4


def bfs_levels(edges: DataFrame, max_level: int = MAX_LEVEL) -> DataFrame:
    """(v, level) min-hop levels from min-vertex source over
    undirected ``edges(a, b)`` (each pair once, either orientation)."""
    # pin the edge relation ONCE — every frontier round joins it, and
    # an un-pinned lineage would recompute the (potentially expensive)
    # upstream edge derivation per round (kcore.py:57 discipline)
    sym = (
        edges.select("a", "b")
        .unionAll(edges.selectExpr("b AS a", "a AS b"))
        .transform(tracked_local_checkpoint)
    )
    src = sym.agg(F.expr("min(a) AS v"))
    visited = src.withColumn("level", F.lit(0)).transform(tracked_local_checkpoint)
    frontier = visited.select("v")
    for lvl in range(1, max_level + 1):
        nxt = (
            frontier.join(sym, frontier["v"] == sym["a"])
            .selectExpr("b AS v")
            .distinct()
            .join(visited.select("v"), "v", "left_anti")
            .transform(tracked_local_checkpoint)
        )
        # visited stays a plain union of the already-checkpointed
        # frontiers: every leaf below it is pinned, so the plan is a
        # flat ≤max_level-way union, and checkpointing the union would
        # only store the same rows twice (guide §1.2: fewer passes).
        visited = visited.unionAll(nxt.withColumn("level", F.lit(lvl)))
        frontier = nxt
    return visited


def sql_bfs_levels(edges_cte: str, max_level: int = MAX_LEVEL) -> str:
    """Recursive-CTE twin over a CTE named ``edges_cte`` (a, b).
    Produces ``bfs_out(v, level)``."""
    # MATERIALIZED is load-bearing: the recursive term re-evaluates
    # every non-materialized CTE it references ON EACH ITERATION —
    # with an expensive edge derivation that is a 5× recompute
    return f"""bfs_sym AS MATERIALIZED (
        SELECT a, b FROM {edges_cte}
        UNION ALL SELECT b, a FROM {edges_cte}
    ),
    bfs_src AS (SELECT min(a) AS s FROM bfs_sym),
    bfs_walk(v, lvl) AS (
        SELECT s, 0 FROM bfs_src
        UNION
        SELECT bfs_sym.b, bfs_walk.lvl + 1
        FROM bfs_walk JOIN bfs_sym ON bfs_walk.v = bfs_sym.a
        WHERE bfs_walk.lvl < {max_level}
    ),
    bfs_out AS (
        SELECT v, CAST(min(lvl) AS BIGINT) AS level
        FROM bfs_walk GROUP BY v
    )"""


def _register() -> None:
    from dataclasses import replace

    from algorithmproject_spark_spark.registry import REGISTRY, register

    @register(
        "dedup_bfs_levels",
        oracle=None,  # installed below (needs the dup-pairs CTE)
        doc=(
            "BFS hop-level census from the minimum vertex of the "
            "verified near-dup graph (4 frontier rounds): how far "
            "does transitive duplication reach from the anchor doc"
        ),
        plan=("scalar_cross",),  # min-vertex source is a 1-row scalar
    )
    def dedup_bfs_levels(spark, sf_dir):
        from algorithmproject_spark_spark.queries.dedup import (
            jaccard_pairs_above,
        )

        edges = jaccard_pairs_above(spark, sf_dir).selectExpr(
            "doc_a AS a", "doc_b AS b"
        )
        lv = bfs_levels(edges)
        return (
            lv.groupBy("level")
            .agg(
                F.expr("count(1) AS n_nodes"),
                F.expr("min(v) AS min_node"),
            )
            .selectExpr("CAST(level AS BIGINT) AS level", "n_nodes", "min_node")
        )

    from algorithmproject_spark_spark.queries.dedup import sql_dup_pairs_cte

    oracle = f"""
    WITH RECURSIVE {sql_dup_pairs_cte()},
    bfs_edges AS (SELECT doc_a AS a, doc_b AS b FROM dup_pairs),
    {sql_bfs_levels('bfs_edges')}
    SELECT level, CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(v) AS BIGINT) AS min_node
    FROM bfs_out GROUP BY level
    """
    REGISTRY["dedup_bfs_levels"] = replace(
        REGISTRY["dedup_bfs_levels"], oracle=oracle
    )


_register()
