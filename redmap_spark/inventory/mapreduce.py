"""SURVEY §2.B — MapReduce primitive parity.

The reference framework's user surface is a chain of per-record
transforms plus associative reduces, executed across workers. Here
each primitive is declared as a DataFrame expression so the whole
chain fuses into one Catalyst plan (WholeStageCodegen, map-side
partial aggregation) — no Python in the record loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._nodekeys import cust_supp_edges, node_str, undirected
from redmap_spark.inventory.registry import dec, query

# -- mr_map: per-record transform --------------------------------------

MRMAP_SQL = """
SELECT event_id, UPPER(event_type) AS etype,
       CAST(CAST(value AS DECIMAL(18,2)) * 2 AS DOUBLE) AS value_x2
FROM events
"""


@query("mr_map", oracle=MRMAP_SQL)
def mr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    return e.select(
        "event_id",
        F.upper("event_type").alias("etype"),
        (dec("value") * 2).cast("double").alias("value_x2"),
    )


# -- mr_filter: predicate (pushed to the scan) -------------------------

MRFILTER_SQL = """
SELECT event_id, user_id, value FROM events
WHERE event_type = 'click' AND value > 50.0
"""


@query("mr_filter", oracle=MRFILTER_SQL)
def mr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    return e.filter((F.col("event_type") == "click") & (F.col("value") > 50.0)).select(
        "event_id", "user_id", "value"
    )


# -- mr_flatmap: record → N records ------------------------------------

MRFLATMAP_SQL = """
SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
FROM documents WHERE lang = 'en'
"""


@query("mr_flatmap", oracle=MRFLATMAP_SQL)
def mr_flatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return d.filter(F.col("lang") == "en").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )


# -- mr_reduce: global associative fold --------------------------------

MRREDUCE_SQL = """
SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(*) AS n
FROM events
"""


@query("mr_reduce", oracle=MRREDUCE_SQL)
def mr_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    return e.agg(
        F.sum(dec("value")).cast("double").alias("total_value"),
        F.count(F.lit(1)).alias("n"),
    )


# -- mr_reduce_by_key: classic wordcount -------------------------------

WORDCOUNT_SQL = """
SELECT token, COUNT(*) AS n FROM (
  SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
) GROUP BY token
"""


@query("mr_reduce_by_key", oracle=WORDCOUNT_SQL)
def mr_reduce_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# -- mr_chain: map→filter→flatMap→reduceByKey→top-k fused --------------

MRCHAIN_SQL = """
SELECT token, COUNT(*) AS n FROM (
  SELECT UNNEST(string_split(LOWER(text), ' ')) AS token
  FROM documents WHERE lang = 'en'
) WHERE LENGTH(token) > 4
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
"""


@query("mr_chain", oracle=MRCHAIN_SQL)
def mr_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    return (
        d.filter(F.col("lang") == "en")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.length("token") > 4)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


# -- mr_secondary_sort: the shuffle-sort contract ----------------------
#
# MapReduce's secondary sort: partition by key, records arrive at
# each reducer sorted by (key, secondary). Spark's form is
# repartition(key) + sortWithinPartitions — a per-partition sort with
# NO global ordering Exchange (the range-partitioning pass a full
# orderBy needs). The oracle checks content parity (the driver's
# compare sorts rows anyway); tests/test_plans.py asserts the plan
# property: exactly one hash Exchange, no rangepartitioning.

MRSS_SQL = """
SELECT user_id, event_id, ts, value FROM events
"""


@query("mr_secondary_sort", oracle=MRSS_SQL)
def mr_secondary_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    return (
        e.repartition(F.col("user_id"))
        .sortWithinPartitions("user_id", "ts")
        .select("user_id", "event_id", "ts", "value")
    )


# -- mr_cogroup: group two datasets by key, pair the groups ------------
#
# The remaining classic MapReduce primitive: cogroup(A, B) by key →
# per key, both groups side by side (the building block joins and
# set ops were hand-rolled from in MapReduce land). Declarative form:
# aggregate each side to its per-key group summary FIRST (map-side
# partial combine), then one full-outer equi-join of the two
# collapsed sides — null-complete so keys present in only one input
# still appear, exactly like an empty cogroup bag.

MRCOGROUP_SQL = """
WITH li AS (
  SELECT l_orderkey AS k, COUNT(*) AS n_items,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
  FROM lineitem GROUP BY 1
), o AS (
  SELECT o_orderkey AS k, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
  FROM orders GROUP BY 1
)
SELECT COALESCE(li.k, o.k) AS k,
       COALESCE(n_items, 0) AS n_items, COALESCE(sum_qty, 0) AS sum_qty,
       COALESCE(n_orders, 0) AS n_orders, total_price
FROM li FULL OUTER JOIN o ON li.k = o.k
"""


@query("mr_cogroup", oracle=MRCOGROUP_SQL)
def mr_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    li = c.lineitem.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_items"),
        # sum through DECIMAL(18,2) then cast to double on BOTH sides (same
        # as the money aggregates) so fractional quantities can't diverge
        # between Spark (cast truncates) and DuckDB (cast rounds half-up).
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )
    o = c.orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )
    return li.join(o, "k", "full_outer").select(
        "k",
        F.coalesce("n_items", F.lit(0)).alias("n_items"),
        F.coalesce("sum_qty", F.lit(0)).alias("sum_qty"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        "total_price",
    )


# -- mr_pagerank -------------------------------------------------------
#
# The canonical iterative MapReduce algorithm (the demo every
# MapReduce framework ships after wordcount): PageRank with damping
# 0.85 over the customer–supplier transaction graph (distinct
# (o_custkey, l_suppkey) pairs via orders⋈lineitem, symmetrized so
# the graph has no dangling nodes; node ids are prefixed 'c'/'s' to
# disjoin the two key spaces). FIXED 3 iterations so the computation
# is a finite relational expression both engines can evaluate
# identically — the oracle is the same three join+aggregate rounds as
# chained CTEs, no recursion. Scale shape per round: one shuffle
# (groupBy dst of the contribution stream); degrees and N are
# broadcast; rank vectors are |nodes| rows, never materialized wider.
# Per-round sums are DOUBLE (order drift ~1e-16) with final round(9):
# the same determinism budget as sim_centroids' AVG, green in the
# 7-vs-32-partition suite.

MR_PAGERANK_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0
), deg AS (
  SELECT src, COUNT(*) AS d FROM edges GROUP BY 1
), nodes AS (
  SELECT DISTINCT src AS node FROM edges
), nn AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes
), r0 AS (
  SELECT node, 1.0 / n AS r FROM nodes CROSS JOIN nn
), r1 AS (
  SELECT nodes.node,
         0.15 / MIN(nn.n) + 0.85 * COALESCE(SUM(r0.r / deg.d), 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges ON edges.dst = nodes.node
  LEFT JOIN r0 ON r0.node = edges.src
  LEFT JOIN deg ON deg.src = edges.src
  GROUP BY nodes.node
), r2 AS (
  SELECT nodes.node,
         0.15 / MIN(nn.n) + 0.85 * COALESCE(SUM(r1.r / deg.d), 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges ON edges.dst = nodes.node
  LEFT JOIN r1 ON r1.node = edges.src
  LEFT JOIN deg ON deg.src = edges.src
  GROUP BY nodes.node
), r3 AS (
  SELECT nodes.node,
         0.15 / MIN(nn.n) + 0.85 * COALESCE(SUM(r2.r / deg.d), 0.0) AS r
  FROM nodes CROSS JOIN nn
  LEFT JOIN edges ON edges.dst = nodes.node
  LEFT JOIN r2 ON r2.node = edges.src
  LEFT JOIN deg ON deg.src = edges.src
  GROUP BY nodes.node
)
SELECT node, round(r, 9) AS rank FROM r3
"""


@query("mr_pagerank", oracle=MR_PAGERANK_SQL)
def mr_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vertices ride every round as BIGINT (cust=2k, supp=2k+1, see
    # _nodekeys): the per-round contribution shuffle and degree joins
    # hash ints, not varchars; 'c…'/'s…' names appear only in the
    # final display projection. Rank values are encoding-invariant.
    edges = undirected(cust_supp_edges(Catalog(spark, sf_dir)))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).cache()
    # the node set IS deg's key column (the graph is symmetrized, so
    # every node has out-edges) — deriving it from deg reuses that
    # aggregation instead of paying a second distinct over the edges
    nodes = deg.select(F.col("src").alias("node"))
    # one materialized weighted-edge table for all rounds (at cluster
    # scale: a written table, partitioned by src) — recomputing the
    # edges⋈degree join per round tripled the heavy work. Pinned
    # hash-partitioned on DST: each round's broadcast-join preserves
    # this partitioning, so the groupBy(dst) aggregation reuses it and
    # no round pays an exchange over the edge stream.
    w_edges = edges.join(deg, "src").repartition("dst").cache()
    n = nodes.count()  # bounded: |customers| + |suppliers|; also
    # materializes the degree cache before the multi-consumer rounds
    ranks = nodes.select("node", (F.lit(1.0) / F.lit(float(n))).alias("r"))
    # contribution stream: r(u)/deg(u) shipped along each edge u->v,
    # one groupBy(dst) shuffle per round — the MapReduce shape. The
    # rank vector is |nodes| rows (tiny next to edges): BROADCAST it
    # each round so the edge table is never reshuffled.
    for _ in range(3):
        # The symmetrized graph has no in-edge-less nodes (every node's
        # out-edge has a reverse), so the contribution aggregation's
        # key set IS the node set and the oracle's `nodes LEFT JOIN …
        # COALESCE(SUM, 0)` is an identity here: fold the damping
        # affine map into the aggregation's result projection instead
        # of a second join (r12 — one broadcast build + one join fewer
        # per round; the double arithmetic 0.15/n + 0.85*SUM(r/d) is
        # op-for-op the old expression).
        ranks = (
            w_edges.join(F.broadcast(ranks.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("m"))
            .select(
                "node",
                (F.lit(0.15 / float(n)) + F.lit(0.85) * F.col("m")).alias("r"),
            )
        )
        # materialize each round (eager localCheckpoint, |nodes| rows):
        # without it, round k's broadcast re-executes rounds 1..k-1 —
        # quadratic total work in the iteration count. Same pattern as
        # the Lloyd loop in operators/similarity.py.
        ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        node_str(F.col("node")).alias("node"), F.round("r", 9).alias("rank")
    )


# -- mr_join: reduce-side equi-join as the MapReduce primitive ---------
#
# The MapReduce framework user's join: tag records by source, shuffle
# both inputs on the key, pair per key at the reducer. Declaratively
# that is just an equi-join — Catalyst picks reduce-side (sort-merge /
# shuffled-hash) when both sides are large and map-side (broadcast)
# when one fits, which is exactly the hand-tuning a MapReduce user
# does manually. Customer enriched with nation name: the dim side
# broadcasts (plan-asserted class, see test_plans.py q5).

MRJOIN_SQL = """
SELECT c_custkey, c_name, n_name AS nation,
       CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS DOUBLE) AS acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
"""


@query("mr_join", oracle=MRJOIN_SQL)
def mr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = Catalog(spark, sf_dir)
    customer, nation = c.customer, c.nation
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .select(
            "c_custkey", "c_name", F.col("n_name").alias("nation"),
            dec("c_acctbal").cast("double").alias("acctbal"),
        )
    )


# -- mr_total_sort: TeraSort-shape global total-order sort -------------
#
# The MapReduce classic (TotalOrderPartitioner): produce a GLOBAL rank
# over a total key order without ever sorting on one reducer. Spark
# expression: repartitionByRange (sampled range boundaries = the
# partitioner), sortWithinPartitions (per-reducer sort), then the
# global rank = row_number within partition + the cumulative count of
# all earlier partitions. The offset pass collects ONE row per
# partition (bounded planning metadata, same class as the touched-
# partition lists), broadcast back — the data itself is never moved
# again and no single-partition window exists anywhere in the plan
# (asserted in test_plans.py). Key is (price DESC, orderkey,
# linenumber): total, unique, engine-identical.

MRSORT_SQL = """
SELECT CAST(ROW_NUMBER() OVER (
         ORDER BY CAST(l_extendedprice AS DECIMAL(18,2)) DESC,
                  l_orderkey, l_linenumber) AS BIGINT) AS rank,
       l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM lineitem
WHERE l_extendedprice > 90000
"""


@query("mr_total_sort", oracle=MRSORT_SQL)
def mr_total_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        Catalog(spark, sf_dir)
        .lineitem.filter(F.col("l_extendedprice") > 90000)
        .select(
            "l_orderkey", "l_linenumber", dec("l_extendedprice").alias("price")
        )
    )
    keys = [F.col("price").desc(), F.col("l_orderkey"), F.col("l_linenumber")]
    parts = li.repartitionByRange(8, *keys).withColumn(
        "pid", F.spark_partition_id()
    )
    # cache: the offset pass and the final pass must see identical
    # range boundaries (they would anyway — deterministic sampling on
    # identical input — but caching also saves the second shuffle).
    # Bounded: only the filtered 3-column projection is pinned, and
    # LRU eviction reclaims it; no unpersist hook exists because the
    # returned plan reads it.
    parts = parts.cache()
    counts = {
        r["pid"]: r["n"]
        for r in parts.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }  # bounded: one row per partition
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )  # pid -> rows before this partition, as a literal map
    wp = Window.partitionBy("pid").orderBy(*keys)
    return parts.select(
        (F.row_number().over(wp) + off[F.col("pid")]).cast("bigint").alias("rank"),
        "l_orderkey",
        "l_linenumber",
        F.col("price").cast("double").alias("price"),
    )


# -- mr_connected_components: bounded-round min-label propagation ------
#
# Connected components over the customer–supplier transaction graph
# (same bipartite edge set as mr_pagerank): every node starts labeled
# with itself; each round every node takes the MIN of its own and its
# neighbors' labels — the MapReduce CC algorithm (one groupBy(dst)
# shuffle per round). Rounds are FIXED at 3 so the oracle can state
# the identical computation as chained CTEs (full convergence is the
# keep-list operator's union-find job, operators/dedup.py; this entry
# verifies the distributed propagation primitive itself). Per round:
# label vector is |nodes| rows — broadcast to the edge table, never
# reshuffling edges; localCheckpoint prevents quadratic re-execution
# (same lesson as mr_pagerank / PERF.md §22).

MRCC_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), l0 AS (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
), l1 AS (
  SELECT l0.node, LEAST(l0.lbl, MIN(ln.lbl)) AS lbl
  FROM l0 JOIN edges e ON e.dst = l0.node JOIN l0 ln ON ln.node = e.src
  GROUP BY l0.node, l0.lbl
), l2 AS (
  SELECT l1.node, LEAST(l1.lbl, MIN(ln.lbl)) AS lbl
  FROM l1 JOIN edges e ON e.dst = l1.node JOIN l1 ln ON ln.node = e.src
  GROUP BY l1.node, l1.lbl
), l3 AS (
  SELECT l2.node, LEAST(l2.lbl, MIN(ln.lbl)) AS lbl
  FROM l2 JOIN edges e ON e.dst = l2.node JOIN l2 ln ON ln.node = e.src
  GROUP BY l2.node, l2.lbl
)
SELECT node, lbl AS component FROM l3
"""


@query("mr_connected_components", oracle=MRCC_SQL)
def mr_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Vertex join/groupBy keys are BIGINT (cust=2k, supp=2k+1, see
    # _nodekeys); the LABEL stays the oracle's 'c…'/'s…' string,
    # because min-label semantics are stated in string space and the
    # propagated label is the output — the string rides as payload,
    # never as a shuffle key.
    edges = (
        undirected(cust_supp_edges(Catalog(spark, sf_dir)))
        # pinned hash-partitioned on DST: the per-round broadcast-join
        # preserves it, so every groupBy(dst) runs exchange-free
        .repartition("dst")
        .cache()
    )
    # Round 1 needs no label join: labels start as the node ids, so
    # l1(v) = min(v, min neighbor id) falls out of ONE groupBy over
    # the edge table — which also yields the node set for free (the
    # graph is symmetrized: every node has in-edges). Saves the
    # per-round broadcast AND the separate node-set distinct.
    labels = (
        edges.groupBy(F.col("dst").alias("node"))
        .agg(F.min(node_str(F.col("src"))).alias("nb_lbl"))
        .select(
            "node",
            F.least(node_str(F.col("node")), F.col("nb_lbl")).alias("lbl"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(2):
        nb = (
            edges.join(
                F.broadcast(labels.withColumnRenamed("node", "src")), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("lbl").alias("nb_lbl"))
        )
        labels = labels.join(F.broadcast(nb), "node").select(
            "node", F.least("lbl", "nb_lbl").alias("lbl")
        )
        labels = labels.localCheckpoint(eager=True)
    return labels.select(
        node_str(F.col("node")).alias("node"), F.col("lbl").alias("component")
    )


# -- mr_bfs ------------------------------------------------------------
#
# Bounded breadth-first search — the canonical iterative MapReduce
# algorithm: frontier distances propagate 3 rounds over the
# symmetrized customer–supplier graph from a deterministic seed set
# (suppliers with suppkey % 10 == 0), yielding min hop distance ≤ 3
# for every reached node. Same scale contract as mr_connected_
# components / mr_pagerank: the distance vector is |reached nodes|
# rows and BROADCASTS to the edge table each round (edges never
# reshuffle), localCheckpoint per round prevents quadratic
# re-execution, and rounds are FIXED at 3 so the oracle can state the
# identical computation as chained CTEs.

MRBFS_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), d0 AS (
  SELECT DISTINCT src AS node, 0 AS dist FROM edges
  WHERE src LIKE 's%' AND CAST(substr(src, 2) AS BIGINT) % 10 = 0
), d1 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d0
    UNION ALL
    SELECT e.dst AS node, d0.dist + 1 AS dist
    FROM d0 JOIN edges e ON e.src = d0.node
  ) u GROUP BY 1
), d2 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d1
    UNION ALL
    SELECT e.dst AS node, d1.dist + 1 AS dist
    FROM d1 JOIN edges e ON e.src = d1.node
  ) u GROUP BY 1
), d3 AS (
  SELECT node, MIN(dist) AS dist FROM (
    SELECT node, dist FROM d2
    UNION ALL
    SELECT e.dst AS node, d2.dist + 1 AS dist
    FROM d2 JOIN edges e ON e.src = d2.node
  ) u GROUP BY 1
)
SELECT node, CAST(dist AS BIGINT) AS dist FROM d3
"""


@query("mr_bfs", oracle=MRBFS_SQL)
def mr_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BIGINT vertices (cust=2k, supp=2k+1, see _nodekeys): the
    # per-round frontier broadcast-join and min-dist groupBy hash
    # ints; distances are encoding-invariant, names decode at the end.
    edges = (
        undirected(cust_supp_edges(Catalog(spark, sf_dir)))
        # pinned hash-partitioned on DST: the per-round broadcast-join
        # preserves it, so the expansion's min-dist groupBy(dst) runs
        # exchange-free; only the tiny |frontier|-row merge shuffles
        .repartition("dst")
        .cache()
    )
    d = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .filter(
            (F.col("node") % 2 == 1)
            & (((F.col("node") - 1) / 2).cast("bigint") % 10 == 0)
        )
        .select("node", F.lit(0).alias("dist"))
        .localCheckpoint(eager=True)
    )
    for _ in range(3):
        # min-aggregate the expansion BEFORE unioning with the carried
        # distances: the heavy groupBy reuses the edges partitioning
        # (no exchange); the union-merge then shuffles only 2x|nodes|
        # narrow rows. min(min) == min, so results are identical.
        prop = (
            edges.join(
                F.broadcast(d.withColumnRenamed("node", "src")), "src"
            )
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        d = (
            d.unionByName(prop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=True)
        )
    edges.unpersist()
    return d.select(
        node_str(F.col("node")).alias("node"),
        F.col("dist").cast("bigint").alias("dist"),
    )
