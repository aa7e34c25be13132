"""BIGINT node encoding and the shared edge table for the bipartite
customer–supplier graphs.

``cust_supp_edges`` is the graph family's single edge source: every
entry over this graph (pagerank / cc / bfs / kcore / label
propagation / hits / modularity / ppr / matching / betweenness /
rich club) starts from it, and ``undirected`` symmetrizes it. It is
pinned ONCE, with an eager ``localCheckpoint``, so the fact join
(orders ⋈ lineitem + distinct) runs exactly once per entry however
many consumers read the pairs; callers pin only what they derive
(e.g. a repartitioned symmetrized table for their round loops).

The iterative graph queries shuffle their vertex keys every round.
Hashing and sorting BIGINT keys is measurably cheaper than
'c123'-style varchar keys — PERF.md #62(a) measured the win on
mr_betweenness — so vertices ride through every join and groupBy as
ints: customers encode to 2*custkey, suppliers to 2*suppkey+1
(disjoint, reversible).

Strings still appear in exactly two places, both required for
bit-identical oracle parity:

- final display projections (``node_str``), because the oracles
  report 'c…'/'s…' node names;
- order-sensitive STRING semantics the oracle states in string space
  (min-label in cc/label-propagation, the 'c…>s…' edge keys in
  matching, seed/rank tie-breaks in ppr). There the string is a
  derived PAYLOAD column — the shuffle key stays BIGINT.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

if TYPE_CHECKING:
    from redmap_spark.catalog import Catalog


def enc_cust(col: Column) -> Column:
    """Customer key -> even BIGINT node id."""
    return (col.cast("bigint") * 2).alias("src")


def enc_supp(col: Column) -> Column:
    """Supplier key -> odd BIGINT node id."""
    return (col.cast("bigint") * 2 + 1).alias("dst")


def node_str(col: Column) -> Column:
    """Decode a BIGINT node id back to the oracle's 'c…'/'s…' name."""
    return F.when(
        col % 2 == 0,
        F.concat(F.lit("c"), (col / 2).cast("bigint").cast("string")),
    ).otherwise(
        F.concat(F.lit("s"), ((col - 1) / 2).cast("bigint").cast("string"))
    )


def cust_supp_edges(cat: Catalog) -> DataFrame:
    """Distinct directed customer→supplier pairs of orders ⋈ lineitem
    as (src = 2·custkey, dst = 2·suppkey+1), eagerly checkpointed."""
    orders = cat.orders
    return (
        orders.join(
            cat.lineitem.select("l_orderkey", "l_suppkey"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_suppkey")
        .distinct()
        .select(enc_cust(F.col("o_custkey")), enc_supp(F.col("l_suppkey")))
        .localCheckpoint(eager=True)
    )


def undirected(e: DataFrame) -> DataFrame:
    """Both orientations of every (src, dst) edge (UNION ALL)."""
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
