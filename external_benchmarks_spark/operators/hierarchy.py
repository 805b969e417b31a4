"""Hierarchy rollup — subtree aggregation over a parent-child edge
table (BOM explosion / org-chart / account-tree totals), the classic
warehouse operation SQL expresses with a RECURSIVE CTE. Spark has no
recursive CTE; the naive translation iterates one join per LEVEL
(depth d -> d shuffles). This operator builds the (node, ancestor)
transitive closure by POINTER JUMPING instead: each round joins the
closure with itself

    P_0     = direct parent edges
    P_{k+1} = P_k  UNION  (P_k JOIN P_k ON a.anc = b.node)

so round k covers all ancestor distances 1..2^k — a 100-level
hierarchy closes in 7 rounds, not 100. Rounds run until a fixpoint
(count stable; one bounded driver action per round) or ``max_rounds``.

The closure is O(n * depth) rows — inherent to subtree rollup, since
every node contributes to each of its ancestors — and each round's
join shuffles on a key column only. The rollup then joins values once
and aggregates by ancestor.

Contract: the edge table must contain one row per NON-ROOT node (as
any real hierarchy table does); roots are rows with parent IS NULL or
parent == node, which are dropped from the closure (a root still
aggregates everything below it via other nodes' ancestor pairs).
Cycles violate the contract and would fixpoint at max_rounds with the
cycle's pairs present but no infinite loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hierarchy_closure(
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_rounds: int = 7,
    rounds: int | None = None,
) -> DataFrame:
    """All (node, anc) pairs where anc is a PROPER ancestor of node.

    Two modes: with ``rounds`` (= ceil(log2(max depth)), when the
    caller can bound the depth) the chain is planned in one go — each
    level is persisted so the self-join reads it once — and one eager
    checkpoint materializes it. Without it, fixpoint mode runs one
    bounded count per round and stops when the pair set stabilizes (the
    safe default for unknown depth; ~2 extra Spark jobs per round of
    driver-action latency). Either way the result is a checkpoint and
    every level persist is released before returning, so no
    CacheManager entry outlives the call."""
    p = (
        edges.select(
            F.col(node_col).alias("node"), F.col(parent_col).alias("anc")
        )
        .filter(F.col("anc").isNotNull() & (F.col("anc") != F.col("node")))
        .distinct()
        .persist()
    )
    if rounds is not None:
        levels = [p]
        for r in range(rounds):
            a, b = p.alias("a"), p.alias("b")
            jumped = a.join(
                b, F.col("a.anc") == F.col("b.node")
            ).select(F.col("a.node").alias("node"), F.col("b.anc").alias("anc"))
            p = p.unionByName(jumped).distinct().persist()
            levels.append(p)
        # Materialize ONCE and cut lineage: relying on the persist chain
        # alone left downstream consumers (the rollup's union/join/agg)
        # to a CacheManager lookup that misses the FINAL level inside
        # larger plans — each consumer action then re-ran the last
        # distinct's exchange (~2 s of the hierarchy_rollup leg,
        # stage-split evidence in SCALE.md r11). The eager checkpoint
        # pays the closure materialization once; every later action
        # scans the materialized blocks, so the levels can go.
        out = p.localCheckpoint(eager=True)
        for lvl in levels:
            lvl.unpersist()
        return out
    n = p.count()
    for _ in range(max_rounds):
        a, b = p.alias("a"), p.alias("b")
        jumped = a.join(
            b, F.col("a.anc") == F.col("b.node")
        ).select(F.col("a.node").alias("node"), F.col("b.anc").alias("anc"))
        nxt = p.unionByName(jumped).distinct().persist()
        n2 = nxt.count()
        if n2 == n:
            nxt.unpersist()
            break
        p.unpersist()
        p, n = nxt, n2
    out = p.localCheckpoint(eager=True)
    p.unpersist()
    return out


def hierarchy_rollup(
    edges: DataFrame,
    values: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    value_col: str = "val",
    max_rounds: int = 7,
    rounds: int | None = None,
) -> DataFrame:
    """(node, subtree_count, subtree_sum): for every node id appearing
    as itself or as an ancestor, the count and sum of ``values`` rows in
    its subtree INCLUDING itself. ``values`` has (node_col, value_col);
    nodes without a values row (synthetic group ids, pure roots) still
    appear, aggregating their descendants."""
    closure = hierarchy_closure(edges, node_col, parent_col, max_rounds, rounds)
    selfpairs = values.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("anc")
    )
    allpairs = closure.unionByName(selfpairs)
    v = values.select(
        F.col(node_col).alias("node"), F.col(value_col).alias("_v")
    )
    return (
        allpairs.join(v, "node")
        .groupBy(F.col("anc").alias(node_col))
        .agg(
            F.count(F.lit(1)).alias("subtree_count"),
            F.sum("_v").alias("subtree_sum"),
        )
    )
