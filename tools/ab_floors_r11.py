"""Round-11 interleaved A/B for the two ≥4 s warm floors the r10
verdict flagged: mr_betweenness (5.0 s) and q_als_rank1 (4.4 s).

Method = PERF.md #87: variants run interleaved in ONE session
(A,B,A,B,...), min-of-N per variant, so session drift/GC cancels.
Variant hypotheses:

- als_B: move the ratings repartition("cust") BEFORE the
  groupBy(cust, brand) — HashPartitioning(cust) satisfies the
  ClusteredDistribution of the (cust, brand) aggregate, so the
  grouping runs exchange-free and the build drops from two shuffles
  (groupBy + repartition) to one.
- betw_B: replace the |paths|-row window shuffle in the dependency
  accumulation with a map-side-combined groupBy(s, dst) (6M -> ~150k
  rows pre-shuffle) broadcast back onto the recomputed (mapside)
  expansion rows — trades one full |paths| shuffle-sort for a second
  mapside pass over the checkpointed pair table.

Usage: python tools/ab_floors_r11.py [--sf /root/testdata/sf0.1]
       [--rounds 3] [--which als,betw]
Emits one JSON line per experiment with per-variant minima, plus a
value-hash check that A and B agree row-for-row.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from redmap_spark.catalog import Catalog  # noqa: E402
from redmap_spark.inventory import QUERIES  # noqa: E402
from redmap_spark.inventory._nodekeys import cust_supp_edges  # noqa: E402
from redmap_spark.session import get_spark  # noqa: E402


def als_B(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_als_rank1 with the single-shuffle ratings build."""
    c = Catalog(spark, sf_dir)
    ratings = (
        c.lineitem.join(
            c.orders.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(c.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("p_brand").alias("brand"),
            F.col("l_quantity").cast("decimal(18,2)").alias("q"),
        )
        .repartition("cust")  # one shuffle; groupBy below reuses it
        .groupBy("cust", "brand")
        .agg(F.sum("q").cast("decimal(18,2)").alias("r"))
        .localCheckpoint()
    )
    rd = F.col("r").cast("double")

    def num(factor):
        return (
            F.sum(F.round(rd * factor, 6).cast("decimal(28,6)"))
            .cast("double")
            .alias("num")
        )

    def den(factor):
        return (
            F.sum(F.round(factor * factor, 9).cast("decimal(28,9)"))
            .cast("double")
            .alias("den")
        )

    u1 = ratings.groupBy("cust").agg(
        F.round(F.sum("r").cast("double") / F.count(F.lit(1)), 9).alias("u")
    )
    v1 = (
        ratings.join(u1, "cust")
        .groupBy("brand")
        .agg(num(F.col("u")), den(F.col("u")))
        .filter(F.col("den") > 0)
        .select("brand", F.round(F.col("num") / F.col("den"), 9).alias("v"))
        .localCheckpoint()
    )
    u2 = (
        ratings.join(F.broadcast(v1), "brand")
        .groupBy("cust")
        .agg(num(F.col("v")), den(F.col("v")))
        .filter(F.col("den") > 0)
        .select("cust", F.round(F.col("num") / F.col("den"), 9).alias("u"))
        .localCheckpoint()
    )
    v2 = (
        ratings.join(u2, "cust")
        .groupBy("brand")
        .agg(num(F.col("u")), den(F.col("u")))
        .filter(F.col("den") > 0)
        .select("brand", F.round(F.col("num") / F.col("den"), 9).alias("v"))
        .localCheckpoint()
    )
    resid = rd - F.col("u") * F.col("v")
    err = (
        ratings.join(u2, "cust")
        .join(F.broadcast(v2), "brand")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sqrt(
                F.sum(F.round(resid * resid, 6).cast("decimal(28,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("rmse"),
        )
    )
    return (
        v2.join(F.broadcast(err))
        .select(
            "brand",
            F.round("v", 6).alias("v_factor"),
            F.row_number()
            .over(Window.orderBy(F.desc("v"), "brand"))
            .cast("bigint")
            .alias("rank"),
            "n_cells",
            F.round("rmse", 6).alias("rmse"),
        )
        .orderBy("rank")
    )


def betw_B(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mr_betweenness with groupBy+broadcast sigma_w instead of the
    |paths|-row window shuffle in the dependency accumulation."""
    pair = cust_supp_edges(Catalog(spark, sf_dir)).select(
        F.col("src").alias("cn"), F.col("dst").alias("sn")
    )

    def edges_from(side: str) -> DataFrame:
        src, dst = ("sn", "cn") if side == "supp" else ("cn", "sn")
        return pair.select(F.col(src).alias("src"), F.col(dst).alias("dst"))

    l0 = (
        pair.filter(
            (F.expr("(sn - 1) DIV 2") % 50 == 0)
            & (F.expr("(sn - 1) DIV 2") <= 500)
        )
        .select(F.col("sn").alias("s"), F.col("sn").alias("node"))
        .distinct()
        .withColumn("sigma", F.lit(1).cast("bigint"))
    )

    def expand(level: DataFrame, side: str) -> DataFrame:
        lv = F.broadcast(level.alias("lv"))
        e = edges_from(side).alias("e")
        return (
            lv.join(e, F.col("lv.node") == F.col("e.src"))
            .groupBy(F.col("lv.s").alias("s"), F.col("e.dst").alias("node"))
            .agg(F.sum(F.col("lv.sigma")).cast("bigint").alias("sigma"))
        )

    l1 = expand(l0, "supp").localCheckpoint()
    l2 = (
        l0.select(F.col("s").alias("s0"))
        .distinct()
        .join(expand(l1, "cust"), F.col("s0") == F.col("s"))
        .filter(F.col("node") != F.col("s0"))
        .select("s", "node", "sigma")
        .localCheckpoint()  # B: TWO passes over the expansion reuse it
    )

    def frontier_rows(level: DataFrame, side: str) -> DataFrame:
        lv = F.broadcast(level.alias("lv"))
        return lv.join(
            edges_from(side).alias("e"), F.col("lv.node") == F.col("e.src")
        ).select(
            F.col("lv.s").alias("s"),
            F.col("lv.node").alias("node"),
            F.col("lv.sigma").alias("sigma"),
            F.col("e.dst").alias("dst"),
        )

    def accumulate_grouped(
        level: DataFrame, side: str, not_in: DataFrame,
        deltas: DataFrame | None,
    ) -> DataFrame:
        def rows():
            return frontier_rows(level, side).join(
                F.broadcast(
                    not_in.select(
                        F.col("s").alias("s_"), F.col("node").alias("node_")
                    )
                ),
                (F.col("s") == F.col("s_")) & (F.col("dst") == F.col("node_")),
                "left_anti",
            )

        # sigma_w per (s, dst): map-side combine collapses the |paths|
        # expansion before the (small) shuffle
        sw = rows().groupBy("s", "dst").agg(
            F.sum("sigma").cast("bigint").alias("sw")
        )
        if deltas is not None:
            sw = sw.join(
                F.broadcast(
                    deltas.select(
                        F.col("s").alias("sd"),
                        F.col("node").alias("noded"),
                        F.col("delta").alias("wdelta"),
                    )
                ),
                (F.col("s") == F.col("sd")) & (F.col("dst") == F.col("noded")),
                "left",
            ).select("s", "dst", "sw", "wdelta")
        else:
            sw = sw.withColumn("wdelta", F.lit(None).cast("decimal(28,9)"))
        r2 = rows().join(
            F.broadcast(sw.select(
                F.col("s").alias("s2"), F.col("dst").alias("dst2"),
                "sw", "wdelta",
            )),
            (F.col("s") == F.col("s2")) & (F.col("dst") == F.col("dst2")),
        )
        term = F.round(
            F.col("sigma") / F.col("sw").cast("double")
            * (1 + F.coalesce(F.col("wdelta"), F.lit(0)).cast("double")),
            9,
        ).cast("decimal(20,9)")
        return (
            r2.select("s", "node", term.alias("term"))
            .groupBy("s", "node")
            .agg(F.sum("term").cast("decimal(28,9)").alias("delta"))
        )

    d2 = accumulate_grouped(l2, "supp", l1, None).localCheckpoint()
    d1 = accumulate_grouped(l1, "cust", l0.select("s", "node"), d2)
    alldelta = d1.select("s", "node", "delta").union(
        d2.select("s", "node", "delta")
    )
    bc = alldelta.groupBy("node").agg(
        F.sum("delta").cast("decimal(38,9)").alias("bc"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    named = bc.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), (F.col("node") / 2).cast("bigint")),
        )
        .otherwise(
            F.concat(F.lit("s"), ((F.col("node") - 1) / 2).cast("bigint"))
        )
        .alias("node"),
        "bc",
        "n_sources",
    )
    ranked = named.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.col("bc").desc(), "node"))
        .alias("rk"),
    )
    return (
        ranked.filter(F.col("rk") <= 15)
        .select(
            F.col("rk").cast("bigint").alias("rk"),
            "node",
            F.round(F.col("bc").cast("double"), 6).alias("betweenness"),
            F.col("n_sources").cast("bigint").alias("n_sources"),
        )
        .orderBy("rk")
    )


def _value_hash(df: DataFrame) -> str:
    rows = df.collect()
    cols = sorted(df.columns)
    payload = "\n".join(
        "|".join(str(r[c]) for c in cols)
        for r in sorted(rows, key=lambda r: tuple(str(r[c]) for c in cols))
    )
    return hashlib.md5(payload.encode()).hexdigest()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--which", default="als,betw")
    args = ap.parse_args()

    spark = get_spark("ab-floors-r11")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    experiments = {
        "als": ("q_als_rank1", als_B),
        "betw": ("mr_betweenness", betw_B),
    }
    for key in args.which.split(","):
        name, bfn = experiments[key]
        afn = QUERIES[name]
        ha = _value_hash(afn(spark, args.sf))
        hb = _value_hash(bfn(spark, args.sf))
        ta, tb = [], []
        for _ in range(args.rounds):
            ta.append(_timed(lambda: afn(spark, args.sf)))
            tb.append(_timed(lambda: bfn(spark, args.sf)))
        print(json.dumps({
            "experiment": name,
            "hash_equal": ha == hb,
            "A_min": round(min(ta), 3), "B_min": round(min(tb), 3),
            "A_all": [round(t, 2) for t in ta],
            "B_all": [round(t, 2) for t in tb],
        }, sort_keys=True))


if __name__ == "__main__":
    main()
