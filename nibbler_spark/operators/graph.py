"""Distributed graph operators.

Connected components via LARGE-STAR / SMALL-STAR alternation (Kiveris
et al., "Connected Components in MapReduce and Beyond", SoCC 2014): the
O(log n)-round contraction that replaces diameter-bound min-label
propagation at scale. Every round is two keyed aggregations + joins over
the edge multiset — no driver-side state beyond the fixpoint signature.

Edge contract: a DataFrame with long columns (hi, lo), canonically
oriented hi > lo, self-loops removed. `connected_components` returns
(node, component) for every node appearing in the edge set; callers
union in their isolated vertices (see ext_cc_two_phase).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nibbler_spark.queries import pin


def canonical_edges(e: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Normalize an arbitrary (src, dst) edge list to canonical (hi, lo)."""
    return (
        e.select(
            F.greatest(src, dst).alias("hi"), F.least(src, dst).alias("lo")
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


def large_star(e: DataFrame) -> DataFrame:
    """Rewire every neighbor LARGER than u to m = min(N(u) ∪ {u})."""
    sym = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).union(
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("u", "mn").alias("m")
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(
            F.greatest("v", "m").alias("hi"), F.least("v", "m").alias("lo")
        )
        .where(F.col("hi") != F.col("lo"))
        .distinct()
    )


def small_star(e: DataFrame) -> DataFrame:
    """Rewire the smaller neighbors of each hi (and hi itself) to
    m = min of them; with canonical (hi, lo), min(N(hi) ∪ {hi}) =
    min(lo)."""
    m = e.groupBy("hi").agg(F.min("lo").alias("m"))
    rewired = (
        e.join(m, "hi")
        .where(F.col("lo") != F.col("m"))
        .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
    )
    root_edges = m.select("hi", F.col("m").alias("lo"))
    return rewired.union(root_edges).distinct()


def _signature(e: DataFrame) -> tuple:
    """One-pass fixpoint screen: (count, decimal-exact hash sum).
    Collisions cannot cause a false stop — the caller confirms with an
    exact set comparison when signatures match."""
    row = e.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64("hi", "lo").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def connected_components(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """(node, component) for every node in the canonical edge set, where
    component = the minimum node id reachable from it. Converges in
    O(log n) large-star/small-star rounds; each round is pinned (a
    localCheckpoint) to cut lineage (the iterative-algorithm discipline)."""
    e = pin(edges)
    sig = _signature(e)
    for _ in range(max_rounds):
        nxt = pin(small_star(large_star(e)))
        nsig = _signature(nxt)
        # equal counts + one-direction exceptAll empty ⇒ multisets equal
        same = sig == nsig and nxt.exceptAll(e).isEmpty()
        e, sig = nxt, nsig
        if same:
            break
    # Fixpoint is a union of stars: every non-root points at its root.
    members = e.groupBy(F.col("hi").alias("node")).agg(
        F.min("lo").alias("component")
    )
    roots = (
        e.select(F.col("lo").alias("node"))
        .distinct()
        .join(members.select(F.col("node").alias("m_node")),
              F.col("node") == F.col("m_node"), "left_anti")
        .select("node", F.col("node").alias("component"))
    )
    return members.unionByName(roots)
