"""Iterative operators: recursive lookup and connected components.

Reference: RecursiveLookup (modules/nosql/app/tuktu/nosql/processors/sql/
RecursiveLookup.scala) iterates parent->child SQL lookups. On Spark the
iteration is a driver-side loop of DataFrame joins. Each round is
materialized with ``tables.checkpoint`` (a ``localCheckpoint``) to cut
lineage, else the plan doubles per round and Catalyst analysis blows up
long before the data does. A round is unpersisted as soon as the next
one is materialized; only the rounds the returned DataFrame reads stay,
until the next ``run_flow`` or query build (``tables.release``).

``connected_components`` is the natural completion of pair-producing dedup
(minhash/simhash/embedding near-dup all emit edges; turning edges into
canonical-doc groups IS the dedup decision at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import tables
from .registry import operator, reject_removed_keys

# Large-star/small-star rounds before ``connected_components`` gives up.
# Rounds grow with log(n) (Kiveris et al.), not with a component's
# diameter: chains of 31, 200 and 2000 nodes converge in 6, 8 and 10.
MAX_ROUNDS = 25


def bfs_expand(
    seed: DataFrame,
    edges: DataFrame,
    key: str,
    parent_col: str,
    child_col: str,
    max_iterations: int = 10,
) -> DataFrame:
    """Breadth-first descendant traversal: rows of ``seed`` (with ``key``)
    expand through parent->child edges, emitting (key, node, depth) down
    to depth ``max_iterations``. Each round is one equi-join shuffle on
    the frontier — frontier size, not graph size, bounds the per-round
    cost."""
    frontier = seed.select(F.col(key).alias("root"), F.col(key).alias("node"))
    acc = frontier.withColumn("depth", F.lit(0))
    for depth in range(1, max_iterations + 1):
        nxt = tables.checkpoint(
            frontier.join(edges, frontier.node == edges[parent_col])
            .select("root", F.col(child_col).alias("node"))
            .distinct()
            .join(acc.select("root", "node"), ["root", "node"], "left_anti")
        )
        if nxt.isEmpty():
            tables.unpersist(nxt)
            break
        grown = tables.checkpoint(
            acc.unionByName(nxt.withColumn("depth", F.lit(depth)))
        )
        tables.unpersist(acc)
        tables.unpersist(frontier)
        acc, frontier = grown, nxt
    tables.unpersist(frontier)
    return acc.select(F.col("root").alias(key), "node", "depth")


@operator("recursive_lookup")
def recursive_lookup(config: dict):
    """RecursiveLookup: iterated self-lookup. Takes (seed, edges) inputs in
    a flow; config: {"key", "parent", "child", "max_iterations"}."""
    key = config["key"]
    parent_col = config["parent"]
    child_col = config["child"]
    max_iter = int(config.get("max_iterations", 10))

    def transform(seed: DataFrame, edges: DataFrame) -> DataFrame:
        return bfs_expand(seed, edges, key, parent_col, child_col, max_iter)

    return transform


def _canonical_edges(df: DataFrame) -> DataFrame:
    return df.select(
        F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
    ).filter(F.col("hi") != F.col("lo")).distinct()


def connected_components(
    edges: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """(id, component) where component = min node id reachable via edges,
    for every node named by an edge (self-loops included).

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond"): O(log n) rounds
    whatever the components' diameter, so long transitive near-dup chains
    cost no more rounds than shallow clusters. Each round is two
    checkpointed edge sets and one convergence action. The (src, dst)
    input is persisted once and both the edge set and the node list read
    that copy, so the caller's lineage runs once. The result is itself a
    checkpoint: actions on it, and plans that read it twice, read the
    materialized table, and the rounds and the input copy are unpersisted
    before it is returned. Raises RuntimeError if the edge set has not
    converged after ``MAX_ROUNDS`` rounds.
    """
    pairs = tables.persist(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    )
    e = tables.checkpoint(_canonical_edges(pairs))
    for _ in range(MAX_ROUNDS):
        # large-star: every neighbor v > u links to min(N(u) + {u})
        sym = e.select(F.col("hi").alias("a"), F.col("lo").alias("b")).unionByName(
            e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("m"))
        large = (
            sym.join(mins, "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("u"), F.col("m").alias("v"))
        )
        e1 = tables.checkpoint(_canonical_edges(large))
        # small-star: group parent pointers by hi; all los + hi link to min
        mins2 = e1.groupBy("hi").agg(F.min("lo").alias("m"))
        with_m = e1.join(mins2, "hi")
        small = with_m.select(F.col("lo").alias("u"), F.col("m").alias("v")).unionByName(
            with_m.select(F.col("hi").alias("u"), F.col("m").alias("v"))
        )
        e2 = tables.checkpoint(_canonical_edges(small))
        tables.unpersist(e1)
        # converged when a full large+small round leaves the edge set fixed.
        # ONE action: both sets are distinct, so an edge present in only one
        # of them shows up as a (hi, lo) group with a single tag — isEmpty
        # short-circuits on the first such group.
        converged = (
            e.withColumn("__t", F.lit(1))
            .unionByName(e2.withColumn("__t", F.lit(2)))
            .groupBy("hi", "lo")
            .agg(F.count_distinct("__t").alias("__nt"))
            .filter(F.col("__nt") < 2)
            .isEmpty()
        )
        tables.unpersist(e)
        e = e2
        if converged:
            break
    else:
        raise RuntimeError(
            f"connected_components: edge set not converged after {MAX_ROUNDS} rounds"
        )
    # star edges: (hi=node, lo=root); roots map to themselves
    nodes = pairs.select(F.col("u").alias("id")).unionByName(
        pairs.select(F.col("v").alias("id"))
    ).distinct()
    comp = e.select(F.col("hi").alias("id"), F.col("lo").alias("component"))
    out = tables.checkpoint(
        nodes.join(comp, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )
    tables.unpersist(e)
    tables.unpersist(pairs)
    return out


@operator("connected_components")
def connected_components_op(config: dict):
    """Edges (src,dst) -> (id, component=min reachable id) by
    large-star/small-star contraction. config: {"src", "dst"}."""
    reject_removed_keys("connected_components", config, "algorithm", "max_iterations")
    src = config.get("src", "id_a")
    dst = config.get("dst", "id_b")
    return lambda df: connected_components(df, src, dst)


@operator("concurrent", "repartition")
def concurrent(config: dict):
    """ConcurrentProcessor (meta/ConcurrentProcessor.scala:39-277): hash-
    partition by anchor fields and run the downstream chain per partition.
    Spark-native: ``repartition(n, *anchors)`` — downstream narrow ops stay
    co-partitioned, exactly the reference's intent."""
    anchors = config.get("anchor_fields", [])
    n = config.get("partitions")

    def transform(df: DataFrame) -> DataFrame:
        cols = [F.col(c) for c in anchors]
        if n and cols:
            return df.repartition(int(n), *cols)
        if cols:
            return df.repartition(*cols)
        if n:
            return df.repartition(int(n))
        return df

    return transform
