"""Physical-plan assertions (SURVEY §5.3): the properties that make
these operators survive a 100×–1000× scale-up."""

from __future__ import annotations

from redmap_spark.inventory import QUERIES
from redmap_spark.plans import explain as E
from tests.conftest import SF_DIR


def test_q6_filters_pushed_to_scan(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    pushed = E.pushed_filters(df)
    # quantity/discount/shipdate predicates must reach the parquet reader
    assert "l_quantity" in pushed and "l_discount" in pushed, pushed


def test_q6_column_pruning(spark):
    df = QUERIES["q6_forecast_revenue"](spark, SF_DIR)
    schema = E.read_schema(df)
    # 4 needed columns only — never the full 11-column lineitem row
    assert "l_extendedprice" in schema
    assert "l_orderkey" not in schema and "l_returnflag" not in schema, schema


def test_q5_dims_broadcast_facts_shuffle(spark):
    df = QUERIES["q5_local_volume"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    # customer/supplier/nation/region ride broadcast joins
    assert plan.count("BroadcastHashJoin") >= 3, plan.count("BroadcastHashJoin")

    # Scale property: when tables outgrow the auto-broadcast threshold
    # (simulated by disabling it), the explicitly-hinted dims STILL
    # broadcast while lineitem⋈orders degrades to a shuffle join — the
    # plan we need at 100 TB.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        big = E.plan_string(QUERIES["q5_local_volume"](spark, SF_DIR), "formatted")
        assert big.count("BroadcastHashJoin") >= 3
        assert "SortMergeJoin" in big or "ShuffledHashJoin" in big, big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_wordcount_has_partial_aggregation(spark):
    df = QUERIES["mr_reduce_by_key"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    # partial_count before the shuffle = the MapReduce combiner
    assert "partial_count" in plan, plan


def test_hot_paths_have_no_python_eval(spark):
    # every relational / MR / text / dedup / similarity query must be
    # pure JVM; exempt: the mm_* multimodal queries (mapInPandas by
    # design: opaque binary decode) and txt_pack (applyInPandas by
    # design: greedy first-fit packing is inherently sequential per
    # bucket — Arrow-batched, never row-at-a-time Python)
    for name, fn in QUERIES.items():
        if name.startswith("mm_") or name in (
            "txt_pack", "txt_bpe_apply", "txt_compress_ratio",
            "txt_bpe_fertility", "q_dtw_similarity",
        ):
            # q_dtw_similarity: mapInPandas by design — the banded
            # DTW dynamic program has no relational form; arrays are
            # time-window-bounded (operators/dtw.py)
            # txt_compress_ratio: mapInPandas by design — zlib
            # compressibility has no JVM builtin; Arrow-batched,
            # byte work stays executor-side before the rollup
            # txt_bpe_apply: mapInPandas by design — greedy merge
            # application is an inherently sequential per-word loop,
            # Arrow-batched with a per-batch word memo
            continue
        assert not E.has_python_eval(fn(spark, SF_DIR)), f"{name} runs Python per-row"


def test_q1_whole_stage_codegen(spark):
    df = QUERIES["q1_pricing_summary"](spark, SF_DIR)
    assert "WholeStageCodegen" in E.plan_string(df, "codegen")


def test_asof_join_is_single_shuffle_no_explosion(spark):
    df = QUERIES["q_asof_join"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    # union+carry-forward pattern: a window over user_id, NO join node
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan.count("Exchange")


def test_approx_users_within_error_bound(spark):
    """HLL at rsd=2% must land within 3x the nominal bound of exact."""
    from pyspark.sql import functions as F

    from redmap_spark.catalog import Catalog

    c = Catalog(spark, SF_DIR)
    approx = {
        r.event_type: r.approx_users
        for r in QUERIES["q_approx_users"](spark, SF_DIR).collect()
    }
    exact = {
        r.event_type: r.exact
        for r in c.events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for et, ex in exact.items():
        assert abs(approx[et] - ex) <= 0.06 * ex, (et, approx[et], ex)


def test_heavy_hitters_guarantee(spark):
    """freqItems must return a superset of true heavy hitters; the
    query's refinement step must make it exact."""
    from pyspark.sql import functions as F

    from redmap_spark.catalog import Catalog

    c = Catalog(spark, SF_DIR)
    support = 0.002
    total = c.events.count()
    exact = {
        r.user_id
        for r in c.events.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > support * total)
        .collect()
    }
    got = {r.user_id for r in QUERIES["q_heavy_hitters"](spark, SF_DIR).collect()}
    assert got == exact


def test_heavy_hitters_refinement_single_scan(spark):
    """The refinement plan reads events exactly once, joins the
    candidate set via broadcast (no codegen isin literal), and derives
    the support total from the aggregate itself — no second
    events.count() pass."""
    df = QUERIES["q_heavy_hitters"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert plan.count("events.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert " IN (" not in plan, "candidates leaked into an isin literal"


def test_approx_percentile_close_to_exact(spark):
    """approx_percentile (the mergeable 100 TB path noted in
    q_percentiles) must land within 2% of the exact quantile."""
    from pyspark.sql import functions as F

    from redmap_spark.catalog import Catalog

    c = Catalog(spark, SF_DIR)
    row = c.events.agg(
        F.percentile("value", F.lit(0.5)).alias("exact"),
        F.percentile_approx("value", F.lit(0.5), F.lit(10000)).alias("approx"),
    ).collect()[0]
    assert abs(row.approx - row.exact) <= 0.02 * abs(row.exact), row


def test_hll_rollup_error_bound(spark):
    """Week-level HLL estimates (merged from day sketches) stay within
    5% of exact distinct counts, and the all-time merge does too."""
    from pyspark.sql import functions as F

    from redmap_spark.catalog import Catalog
    from redmap_spark.inventory.sketches import q_hll_rollup
    from tests.conftest import SF_DIR

    est = {r.week: r.est_users for r in q_hll_rollup(spark, SF_DIR).collect()}
    e = Catalog(spark, SF_DIR).events
    exact = {
        r.week: r.n
        for r in e.groupBy(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week")
        ).agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(exact)
    for wk, n in exact.items():
        assert abs(est[wk] - n) / n <= 0.05, (wk, est[wk], n)


def test_secondary_sort_no_global_sort(spark):
    """mr_secondary_sort ships the shuffle-sort contract with ONE hash
    Exchange and a partition-local sort — never the extra sampling +
    rangepartitioning Exchange of a global orderBy."""
    df = QUERIES["mr_secondary_sort"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert plan.count("+- Exchange") == 1, plan
    assert "hashpartitioning" in plan and "rangepartitioning" not in plan, plan
    assert "Sort" in plan  # the within-partition sort is present

    # semantic check: rows within each partition are (user_id, ts)-sorted
    import itertools

    def check(it):
        rows = list(it)
        keys = [(r.user_id, r.ts) for r in rows]
        assert keys == sorted(keys)
        return iter(rows)

    parts = df.rdd.mapPartitions(lambda it: check(it)).count()
    assert parts > 0


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Scale property: on a non-broadcastable selective join, Spark
    injects a runtime bloom filter — the fact side is pre-filtered by
    might_contain(bloom(o_orderkey)) BEFORE its shuffle, cutting
    shuffle volume by the join selectivity. At 100 TB the default
    thresholds (10 GB application side) trigger this naturally; here
    they're lowered to assert the engine setting + plan shape we rely
    on (session.py keeps the feature enabled)."""
    from pyspark.sql import functions as F

    from redmap_spark.catalog import Catalog

    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        c = Catalog(spark, SF_DIR)
        o = c.orders.filter(F.col("o_orderpriority") == "1-URGENT")
        j = (
            c.lineitem.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan
        # the filter must sit on the lineitem (application) side
        fact_lines = [
            line for line in plan.splitlines()
            if "might_contain" in line and "l_orderkey" in line
        ]
        assert fact_lines, plan[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_scd2_single_exchange_shared_sort(spark):
    """Both windows (lag change-detect, lead interval-close) partition
    by user_id: ONE shuffle, and the scan prunes to 4 columns."""
    df = QUERIES["q_scd2_intervals"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    # formatted mode prints each node twice (tree + detail): 1 node = 2 hits
    assert plan.count("Exchange") == 2, plan.count("Exchange")
    schema = E.read_schema(df)
    assert "props" not in schema and "value" not in schema, schema


def test_event_transitions_grid_window(spark):
    """The probability window must run AFTER the (cur,nxt) collapse —
    fact-proportional work is one shuffle + one partial-agg shuffle;
    the window sort touches only the |types|² grid."""
    df = QUERIES["q_event_transitions"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "partial_count" in plan, plan  # map-side combine before shuffle
    # exchanges (x2 textual per node): lead-window by user_id,
    # groupBy(cur,nxt), window by cur — nothing else
    assert plan.count("Exchange") <= 6, plan.count("Exchange")


def test_bm25_term_filter_before_shuffle(spark):
    """The explode must be filtered to the query terms pre-shuffle and
    df/corpus-stats joins must broadcast — no fact-sized shuffle."""
    df = QUERIES["txt_bm25"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2, plan
    # generate(explode) feeds the term-IN Filter directly (pre-shuffle):
    # in formatted-plan numbering the parent of node (n) is (n+1), so every
    # Generate's immediate consumer must be a Filter with the IN-list —
    # the explode output is pruned to query terms before any Exchange.
    import re

    gens = [int(m.group(1)) for m in re.finditer(r"\((\d+)\) Generate", plan)]
    assert gens, plan
    for g in gens:
        m = re.search(rf"\({g + 1}\) (\w+)", plan)
        assert m and m.group(1) == "Filter", (g, m and m.group(1))
    assert re.search(r"Condition : term#\d+ IN \(", plan), plan


def test_fuzzy_match_is_blocked_equi_join(spark):
    """Linkage must plan as an equi-join on the blocking key — never a
    cartesian/nested-loop over all name pairs."""
    df = QUERIES["q_fuzzy_match"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "CartesianProduct" not in plan, "all-pairs comparison!"
    assert "Join" in plan


def test_quantile_bins_partial_agg(spark):
    """Bin counts must partial-aggregate map-side (the mergeable-
    sketch property: per-partition partials, additive merge)."""
    df = QUERIES["q_quantile_bins"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "partial_count" in plan, plan


def test_change_feed_single_join(spark):
    df = QUERIES["q_change_feed"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
    assert "CartesianProduct" not in plan


def test_attribution_partial_agg_no_window(spark):
    """min_by/max_by must plan as a partial-aggregated groupBy (one
    shuffle of pre-combined |users| rows) — no window sort at all."""
    df = QUERIES["q_attribution"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "Window" not in plan, "attribution fell back to a window sort"
    assert "partial_min_by" in plan or "partial_" in plan, plan
    assert plan.count("Exchange") == 2, plan.count("Exchange")  # 1 node x2 text


def test_cogroup_both_sides_precombined(spark):
    """Each cogroup side collapses to per-key summaries BEFORE the
    full-outer join — the join moves group rows, not raw records."""
    df = QUERIES["mr_cogroup"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "FullOuter" in plan
    assert plan.count("HashAggregate") >= 4  # partial+final per side (x2 text)


def test_tfidf_window_over_collapsed_tf(spark):
    """The top-k window runs over the collapsed tf table; the raw
    token explode feeds only aggregates, never the window sort."""
    df = QUERIES["txt_tfidf_keywords"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "Generate" in plan and "Window" in plan
    assert "CartesianProduct" not in plan


def test_jaccard_shingle_df_cap_plan(spark):
    """With max_shingle_df set (the production default at scale — see
    SURVEY §6), the plan must contain the document-frequency cap as a
    size filter on the per-shingle posting list (r11 in-row form: the
    cap bounds every posting list, so candidates explode from the
    collected list's upper triangle instead of a posting-list
    self-join) — boilerplate mega-shingles never reach candidate
    generation."""
    from redmap_spark.catalog import Catalog
    from redmap_spark.operators import dedup as D

    docs = Catalog(spark, SF_DIR).documents
    df = D.ngram_jaccard_pairs(docs, max_shingle_df=50)
    plan = E.plan_string(df, "formatted")
    assert "<= 50" in plan, "df-cap filter missing from plan"
    # the in-row capped path generates pairs with Generate (explode of
    # the bounded upper triangle), with STRICTLY FEWER joins than the
    # uncapped posting-list self-join plan
    uncapped = E.plan_string(D.ngram_jaccard_pairs(docs), "formatted")
    assert "Generate" in plan
    assert plan.count("Join") < uncapped.count("Join"), (
        plan.count("Join"), uncapped.count("Join"))
    # and the capped plan still produces the same pairs on this corpus
    # (50 >> any shingle's doc-frequency here, so semantics unchanged)
    got = {(r.id1, r.id2) for r in df.collect()}
    want = {(r.id1, r.id2) for r in D.ngram_jaccard_pairs(docs).collect()}
    assert got == want


def test_round5_entry_plan_shapes(spark):
    """Scale-shape assertions for the round-5 additions: pure-map
    entries stay shuffle-free, candidate joins are equi (never
    cartesian), top-k is mergeable TakeOrdered, sketch/stat sides
    broadcast, and the only Python is Arrow-batched grouping."""
    # pure column pipelines: zero exchanges of any kind
    for name in ("txt_quality_model", "txt_tokens_bpe"):
        plan = E.plan_string(QUERIES[name](spark, SF_DIR), "formatted")
        assert "Exchange" not in plan, name
        assert "BatchEvalPython" not in plan, name

    # weighted sampling: per-partition top-k merged on the driver —
    # no global sort exchange, no window
    plan = E.plan_string(QUERIES["q_weighted_sample"](spark, SF_DIR), "formatted")
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan and "Window" not in plan, plan

    # span dedup: equi-join on the block hash, partial-agg class
    # roll-up, never cartesian
    plan = E.plan_string(QUERIES["dedup_spans"](spark, SF_DIR), "formatted")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan, plan

    # embedding outliers: centroids/moments broadcast back, never
    # cartesian. (The moments branch re-plans the cosine subtree, so
    # a raw exchange count double-counts; the per-branch shape is
    # cent-agg + dot-agg + stats-agg = 3 hash shuffles max.)
    plan = E.plan_string(QUERIES["sim_outliers"](spark, SF_DIR), "formatted")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 2, plan
    hash_exchanges = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert hash_exchanges <= 12, hash_exchanges

    # incremental dedup: cross-side candidate join on the shingle
    # hash — an equi-join, never cartesian
    plan = E.plan_string(QUERIES["dedup_incremental"](spark, SF_DIR), "formatted")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan, plan

    # pagerank: rounds ran eagerly behind localCheckpoints (lineage
    # truncation is the point — round k must not re-execute rounds
    # 1..k-1), so the returned plan is a materialized-vector scan
    # with no sort/shuffle left
    plan = E.plan_string(QUERIES["mr_pagerank"](spark, SF_DIR), "formatted")
    assert "Scan ExistingRDD" in plan, plan
    assert "rangepartitioning" not in plan and "Exchange" not in plan, plan

    # sequence packing: Arrow-batched grouped map, never row Python
    plan = E.plan_string(QUERIES["txt_pack"](spark, SF_DIR), "formatted")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_salted_join_spreads_shuffle_key(spark):
    """The salted entry's shuffle must hash on (user_id, _salt) —
    the widened key that splits a hot user across 8 partitions —
    and the small side must carry the 8x replication explode. At toy
    scale AQE broadcasts the dim (no shuffle to salt), so the scale
    regime is simulated by disabling auto-broadcast, exactly like
    test_q5_dims_broadcast_facts_shuffle."""
    import re

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = E.plan_string(QUERIES["q_salted_join"](spark, SF_DIR), "formatted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "_salt" in plan, plan
    assert "explode" in plan, plan  # small-side replication
    assert re.search(r"hashpartitioning\([^)]*_salt", plan), plan


def test_round5b_entry_plan_shapes(spark):
    """Scale shapes for the later round-5 additions."""
    import re

    # TeraSort: the data moves through ONE rangepartitioning exchange;
    # the global rank comes from a pid-partitioned window (+ broadcast
    # offsets), never a single-partition sort of the data.
    plan = E.plan_string(QUERIES["mr_total_sort"](spark, SF_DIR), "formatted")
    assert "rangepartitioning" in plan, plan
    assert re.search(r"hashpartitioning\([^)]*pid", plan), plan
    assert "SinglePartition" not in plan, plan

    # CC rounds ran eagerly behind localCheckpoints (same contract as
    # mr_pagerank): returned plan is a materialized-vector scan.
    plan = E.plan_string(
        QUERIES["mr_connected_components"](spark, SF_DIR), "formatted"
    )
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan

    # mode-per-group: dim join broadcasts; windows run over the
    # aggregated segment×priority grid (partial agg before shuffle).
    plan = E.plan_string(QUERIES["q_mode_per_group"](spark, SF_DIR), "formatted")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan

    # sweep-line: the ±1 generate collapses per (nation, day) BEFORE
    # the running-sum window, and the window partitions by nation —
    # no single-partition anything.
    plan = E.plan_string(QUERIES["q_interval_sweep"](spark, SF_DIR), "formatted")
    assert "Generate" in plan, plan
    assert "partial_sum" in plan, plan
    assert "SinglePartition" not in plan, plan

    # event paths: ONE window sort serves both leads; top-10 is
    # TakeOrdered (mergeable), never a global sort exchange
    plan = E.plan_string(QUERIES["q_event_paths"](spark, SF_DIR), "formatted")
    # formatted mode prints each node twice (tree + detail): one
    # Window operator == one "(N) Window" detail header
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "TakeOrderedAndProject" in plan, plan

    # streaks: user-partitioned window only — no single-partition stage
    plan = E.plan_string(QUERIES["q_streaks"](spark, SF_DIR), "formatted")
    assert "SinglePartition" not in plan, plan

    # market basket: the pair self-join is an equi-join on the order
    # key (co-partitioned), never cartesian; supports broadcast back
    plan = E.plan_string(QUERIES["q_market_basket"](spark, SF_DIR), "formatted")
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan

    # funnel latency: no join, no window — one conditional partial
    # aggregation then the tiny day-grid rollup
    plan = E.plan_string(QUERIES["q_funnel_latency"](spark, SF_DIR), "formatted")
    assert "partial_min" in plan, plan
    assert "Join" not in plan and "Window" not in plan, plan

    # cohort LTV: revenue collapses to the cohort×offset grid before
    # the cumulative window (partial_sum below a non-single-partition
    # window); cohort sizes broadcast back
    plan = E.plan_string(QUERIES["q_cohort_ltv"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan

    # survivorship rides the same blocked equi-join as the linkage:
    # never cartesian, attrs pre-aggregated (partial agg present)
    plan = E.plan_string(QUERIES["q_entity_survivorship"](spark, SF_DIR), "formatted")
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan

    # A/B test: one scan, conditional partial aggregation, no join
    plan = E.plan_string(QUERIES["q_ab_test"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "Join" not in plan, plan

    # stratified sampling is a pushed-down filter: no exchange at all
    plan = E.plan_string(QUERIES["q_stratified_sample"](spark, SF_DIR), "formatted")
    assert "Exchange" not in plan, plan

    # winsorize: percentile bounds ride a broadcast join back onto the
    # table; the clip+mean pass partial-aggregates
    plan = E.plan_string(QUERIES["q_winsorize"](spark, SF_DIR), "formatted")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan

    # CMS build: partial aggregation onto the fixed 2048-cell grid
    # (map-side combine does the work; sketch size constant in data),
    # probes ride a broadcast join of the tiny sketch.
    plan = E.plan_string(QUERIES["q_cms_sketch"](spark, SF_DIR), "formatted")
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan

    # normalization is a pure column pipeline: one scan, no exchange,
    # no Python anywhere
    plan = E.plan_string(QUERIES["txt_normalize"](spark, SF_DIR), "formatted")
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "Python" not in plan, plan

    # word entropy: the per-doc window runs on the collapsed doc×term
    # grid (partial_count below it), never the raw token stream
    plan = E.plan_string(QUERIES["txt_word_entropy"](spark, SF_DIR), "formatted")
    assert "partial_count" in plan, plan
    assert "SinglePartition" not in plan, plan

    # skyline / decile: the (documented) global window runs over a
    # pre-aggregated grid — partial aggregation must appear below it.
    for name in ("q_skyline", "q_decile_lift"):
        plan = E.plan_string(QUERIES[name](spark, SF_DIR), "formatted")
        assert "partial_count" in plan or "partial_sum" in plan, name
        assert "CartesianProduct" not in plan or "BroadcastNestedLoopJoin" in plan, name


def test_round5c_entry_plan_shapes(spark):
    """Scale shapes for the fourth-session round-5 additions
    (timeseries + mlstats)."""
    # timeseries family: every window runs over the event_type-keyed
    # daily grid (partial aggregation below the window), never the raw
    # event stream, and nothing collapses to a single partition.
    for name in ("q_ewma", "q_lag_features", "q_bollinger_flags",
                 "q_changepoint"):
        plan = E.plan_string(QUERIES[name](spark, SF_DIR), "formatted")
        assert "partial_sum" in plan, name
        assert "SinglePartition" not in plan, name
        assert "Python" not in plan, name

    # regression / correlation: moment sums partial-aggregate on the
    # fact scan; regression's part dim rides a broadcast join.
    plan = E.plan_string(QUERIES["q_regression"](spark, SF_DIR), "formatted")
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_sum" in plan, plan
    plan = E.plan_string(QUERIES["q_corr_matrix"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "Exchange" in plan and "SinglePartition" not in plan, plan

    # cumulative distinct: per-customer first-day groupBy partial-
    # aggregates; the (documented) global running-sum window runs over
    # the collapsed day grid only.
    plan = E.plan_string(
        QUERIES["q_cumulative_distinct"](spark, SF_DIR), "formatted"
    )
    assert "partial_min" in plan or "partial_count" in plan, plan

    # Benford: one partial-aggregated digit groupBy, 1-row broadcast
    # total, no cartesian anywhere.
    plan = E.plan_string(QUERIES["q_benford"](spark, SF_DIR), "formatted")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangles_and_portable_simhash_plan_shapes(spark):
    """mr_triangles: the degree lookups broadcast (part-dim-bounded
    node set) and nothing in the plan is a cartesian product; the
    returned 1-row summary rides broadcast joins of 1-row aggs.
    dedup_simhash_portable: the 32 bit-sums ride ONE aggregation over
    the token stream (partial_sum map-side) — no per-bit row
    explosion, no Python."""
    # mr_triangles runs eagerly (cached edge table, bounded 1-row
    # summary collected, caches released) — same contract as
    # mr_connected_components: the returned plan is the materialized
    # summary, with no lingering exchange.
    plan = E.plan_string(QUERIES["mr_triangles"](spark, SF_DIR), "formatted")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan

    import re

    plan = E.plan_string(
        QUERIES["dedup_simhash_portable"](spark, SF_DIR), "formatted"
    )
    assert "partial_sum" in plan, plan
    # exactly one Generate node: the token explode — never a per-bit one
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "Python" not in plan, plan


def test_portable_minhash_and_zipf_plan_shapes(spark):
    """dedup_minhash_portable: ONE shingle explode feeding ONE
    aggregation with k min-sums (map-side partial) — no per-hash row
    explosion, no Python. txt_zipf: the token stream partial-counts
    to the vocab grid below the (documented grid-sized) rank window.
    q_purchase_intervals: the lag window partitions by customer —
    never a single global sort of the fact table."""
    import re

    plan = E.plan_string(
        QUERIES["dedup_minhash_portable"](spark, SF_DIR), "formatted"
    )
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "partial_min" in plan, plan
    assert "Python" not in plan, plan

    plan = E.plan_string(QUERIES["txt_zipf"](spark, SF_DIR), "formatted")
    assert "partial_count" in plan, plan

    plan = E.plan_string(
        QUERIES["q_purchase_intervals"](spark, SF_DIR), "formatted"
    )
    assert "SinglePartition" not in plan, plan
    assert re.search(r"hashpartitioning\([^)]*o_custkey", plan), plan


def test_growth_forecast_seasonality_plan_shapes(spark):
    """Growth accounting: the per-user lag window shuffles on
    user_id, never a single global partition of the activity stream
    (the final |days|-grid lag is documented grid-sized). Forecast /
    seasonality: moment sums partial-aggregate onto the series grid;
    seasonality's per-series totals ride a broadcast join."""
    import re

    plan = E.plan_string(
        QUERIES["q_growth_accounting"](spark, SF_DIR), "formatted"
    )
    assert re.search(r"hashpartitioning\([^)]*user_id", plan), plan

    plan = E.plan_string(QUERIES["q_forecast_linear"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "SinglePartition" not in plan, plan

    plan = E.plan_string(QUERIES["q_seasonality"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_bfs_runs_eagerly_like_cc(spark):
    """mr_bfs ships the same iterative contract as
    mr_connected_components: rounds execute eagerly behind
    localCheckpoints, so the returned plan is a materialized
    distance-vector scan with no lingering exchange."""
    plan = E.plan_string(QUERIES["mr_bfs"](spark, SF_DIR), "formatted")
    assert "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan


def test_gini_and_acf_plan_shapes(spark):
    """Gini: facts partial-aggregate to the customer grid before the
    (documented grid-sized) rank window. ACF: both lag windows run
    over the event_type-partitioned daily grid, never a single
    partition of the fact stream."""
    plan = E.plan_string(QUERIES["q_gini"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan

    plan = E.plan_string(QUERIES["q_autocorrelation"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "SinglePartition" not in plan, plan


def test_round5f_entry_plan_shapes(spark):
    """Scale shapes for the fifth-session round-5 additions."""
    import re

    # MIPS: same broadcast-scan contract as the cosine baseline —
    # the query vector broadcasts, the corpus never shuffles beyond
    # the final mergeable TakeOrdered.
    plan = E.plan_string(QUERIES["sim_mips_topk"](spark, SF_DIR), "formatted")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Python" not in plan, plan

    # MAD outliers: both percentile aggregations partial-aggregate
    # below their grid, and both med/mad lookups ride broadcast joins
    # back onto the grid — never a fact-sized shuffle per statistic.
    plan = E.plan_string(QUERIES["q_mad_outliers"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SinglePartition" not in plan or "percentile" in plan, plan

    # FD audit: every check partial-aggregates its determinant groupBy
    # map-side; the report is a constant-size union, no cartesian.
    plan = E.plan_string(QUERIES["q_fd_audit"](spark, SF_DIR), "formatted")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan

    # blocklist gate: pure column expressions over one scan — zero
    # exchanges, zero Python (the array-lambda Project is the only
    # non-codegen node), and only text/doc_id leave the reader.
    plan = E.plan_string(QUERIES["txt_blocklist"](spark, SF_DIR), "formatted")
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "Scan parquet" in plan, plan

    # collocations: the vocab grid is CACHED so the unigram explode
    # runs once however many consumers Catalyst sees (the executed
    # plan reads the InMemoryRelation on both join sides — how many
    # Generate nodes the FORMATTED print shows varies with whether a
    # prior query already populated the cache, so the assertion is on
    # the cache node, not a print count); counts partial-aggregate
    # before their shuffles, the unigram lookups broadcast, and the
    # top-20 is a mergeable TakeOrdered. The corpus totals come off
    # the doc scan as array lengths — no third explode.
    df = QUERIES["txt_collocations"](spark, SF_DIR)
    plan = E.plan_string(df, "formatted")
    assert "InMemoryTableScan" in plan, plan  # vocab grid cached
    assert "partial_count" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_kcore_runs_eagerly_like_cc(spark):
    """mr_kcore ships the graph family's iterative contract: peel
    rounds execute eagerly behind localCheckpoints and the returned
    3-row summary is bounded driver-side metadata — a LocalTableScan
    with no lingering exchange."""
    plan = E.plan_string(QUERIES["mr_kcore"](spark, SF_DIR), "formatted")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan
    assert "Exchange" not in plan, plan


def test_survival_km_plan_shape(spark):
    """KM curve: the per-customer collapse partial-aggregates on the
    natural o_custkey shuffle key; the global cumulative windows run
    over the collapsed |distinct t| grid only (documented
    grid-sized), and the horizon/total lookups ride broadcast joins."""
    import re

    plan = E.plan_string(QUERIES["q_survival_km"](spark, SF_DIR), "formatted")
    assert re.search(r"hashpartitioning\([^)]*o_custkey", plan), plan
    assert "partial_count" in plan or "partial_sum" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_rolling_actives_and_hhi_plan_shapes(spark):
    """Rolling actives: ONE generate expands the distinct (user,day)
    grid ≤7× (never the raw stream), the observed-days filter rides a
    broadcast join, and the distinct count partial-aggregates. HHI:
    the fact stream partial-aggregates to the per-customer grid and
    the nation dim broadcasts — no window, no cartesian."""
    import re

    plan = E.plan_string(QUERIES["q_rolling_actives"](spark, SF_DIR), "formatted")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan

    plan = E.plan_string(QUERIES["q_hhi"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan and "CartesianProduct" not in plan, plan


def test_js_divergence_plan_shape(spark):
    """JS divergence: the source-term grid is CACHED so the token
    explode runs once for its four consumers (terms/ct/ns/nt — the
    cache node is the execute-once guarantee, same contract as
    txt_collocations); the corpus distribution and totals ride
    broadcast joins onto that grid — the |sources|x|vocab| dense grid
    is never materialized."""
    plan = E.plan_string(QUERIES["txt_js_divergence"](spark, SF_DIR), "formatted")
    assert "InMemoryTableScan" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "partial_count" in plan or "partial_sum" in plan, plan


def test_kmv_and_corpus_report_plan_shapes(spark):
    """KMV: the stream collapses to the distinct (type,user) grid
    before the (documented) per-type rank window — never a window
    over raw events. Corpus report: three constant-size aggregates
    broadcast-joined into one row, no cartesian beyond the 1-row
    broadcast nested loops."""
    import re

    plan = E.plan_string(QUERIES["q_kmv_distinct"](spark, SF_DIR), "formatted")
    # distinct collapse = map-side HashAggregate pair shuffling the
    # (type,user) grid, then the window partitions by event_type
    assert re.search(r"hashpartitioning\([^)]*user_id", plan), plan
    assert plan.count("HashAggregate") >= 2, plan
    assert re.search(r"hashpartitioning\(event_type", plan), plan

    plan = E.plan_string(QUERIES["txt_corpus_report"](spark, SF_DIR), "formatted")
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan  # mode top-1 is mergeable


def test_dau_mau_plan_shape(spark):
    """DAU/MAU: one bounded generate expands the distinct (user,day)
    grid; the observed-days filter broadcasts; both counts
    partial-aggregate — never a rolling window over raw events."""
    import re

    plan = E.plan_string(QUERIES["q_dau_mau"](spark, SF_DIR), "formatted")
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert "partial_count" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_price_index_plan_shape(spark):
    """Laspeyres index (r11 shape): ONE fact scan partial-aggregates
    straight to the (part,month) grid; the 1-row base-month marker
    broadcasts (BNLJ against 1 row is the legit form); the per-part
    base row is pinned by a window over the bounded grid — no second
    fact scan, no cartesian."""
    import re

    plan = E.plan_string(QUERIES["q_price_index"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan  # fact + marker
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_runs_test_plan_shape(spark):
    """Runs test: the median broadcast and the lag window both run
    over the collapsed daily grid (partial aggregation below), never
    the raw stream; no cartesian."""
    plan = E.plan_string(QUERIES["q_runs_test"](spark, SF_DIR), "formatted")
    assert "partial_sum" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_round6_sketch_entries_plan_shapes(spark):
    """Round-6 scale postures: q_bloom_join probes via a BROADCAST of
    the ≤m-row bit table (never a shuffle of the customer fan-out);
    sim_dim_tradeoff broadcasts the 1/25 query sample against one
    corpus scan; q_quantile_sketch never shuffles the raw stream more
    than once per window family."""
    bloom = E.executed_plan(QUERIES["q_bloom_join"](spark, SF_DIR))
    assert bloom.count("BroadcastHashJoin") >= 1, bloom
    # the cand-side probe join specifically is the broadcast one:
    # no sort-merge join on `pos`
    assert "SortMergeJoin [pos" not in bloom

    dims = E.executed_plan(QUERIES["sim_dim_tradeoff"](spark, SF_DIR))
    assert dims.count("BroadcastNestedLoopJoin") + dims.count(
        "BroadcastHashJoin"
    ) >= 1, dims

    qsk = QUERIES["q_quantile_sketch"](spark, SF_DIR)
    assert not E.has_python_eval(qsk)


def test_round6_graph_entries_plan_shapes(spark):
    """mr_adamic_adar reuses the checkpointed pair table (no parquet
    rescan) and stays JVM-side; mr_degree_dist joins its 1-row fit
    and total by broadcast."""
    aa = QUERIES["mr_adamic_adar"](spark, SF_DIR)
    plan = E.executed_plan(aa)
    assert "Scan parquet" not in plan  # localCheckpoint truncated lineage
    assert not E.has_python_eval(aa)

    dd = E.executed_plan(QUERIES["mr_degree_dist"](spark, SF_DIR))
    assert dd.count("BroadcastNestedLoopJoin") >= 1, dd


def test_round6_no_python_in_sql_expressible_entries(spark):
    """Every oracle-backed round-6 entry must stay in JVM codegen —
    zero BatchEvalPython/ArrowEvalPython anywhere."""
    for name in (
        "dedup_jaccard_capped", "q_quantile_sketch", "q_bloom_join",
        "q_kmv_setops", "q_ks_test", "q_chi2_independence", "q_psi_drift",
        "q_cusum_control", "txt_readability", "q_decile_transitions",
        "mr_adamic_adar", "mr_degree_dist", "txt_heaps_law", "txt_novelty",
        "txt_langid_eval", "dedup_savings", "q_skew_report",
        "q_wasserstein_drift", "sim_dim_tradeoff", "dedup_cross_source",
        "q_trend_test", "q_theilsen", "q_unpivot", "txt_burstiness",
        "q_ess",
    ):
        assert not E.has_python_eval(QUERIES[name](spark, SF_DIR)), name


def test_spread_heals_narrow_scans_and_noops_wide(spark):
    """spread() repartitions a narrow (few-file parquet scan) input up
    to the session's default parallelism — including through a
    broadcast dim join, the q_huber_regression shape — judges width
    from inputFiles() metadata (never df.rdd, which would eagerly
    materialize AQE stages), leaves post-shuffle and non-file frames
    untouched, and never changes row contents."""
    from pyspark.sql import functions as F

    from redmap_spark.plans.partitioning import spread

    target = spark.sparkContext.defaultParallelism
    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    narrow = nation.select("n_nationkey", "n_regionkey")
    healed = spread(narrow)
    assert healed.rdd.getNumPartitions() == target
    assert sorted(r.n_nationkey for r in healed.collect()) == sorted(
        r.n_nationkey for r in narrow.collect()
    )

    # a broadcast dim join over scans keeps scan width — spread()
    # must still heal it (the shape that regressed in round 8 when
    # Join blocked the heal). Conditional on the runner: with
    # nation+region = 2 input files the heal only fires when
    # 2*2 <= defaultParallelism, so assert the contract, not a fixed
    # outcome (ADVICE r8: a 2-3 core runner must not fail here).
    region = spark.read.parquet(f"{SF_DIR}/region.parquet")
    joined = narrow.join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    healed_join = spread(joined)
    if len(joined.inputFiles()) * 2 <= target:
        assert healed_join.rdd.getNumPartitions() == target
    else:
        assert healed_join is joined

    # post-shuffle width was chosen by the exchange: identity
    agg = narrow.groupBy("n_regionkey").count()
    assert spread(agg) is agg

    # non-file sources (range / checkpoint) can't be judged cheaply:
    # identity
    nonfile = spark.range(0, 1000)
    assert spread(nonfile) is nonfile


def test_spread_noops_on_wide_and_splittable_inputs(spark, tmp_path):
    """The at-scale no-op contract (ADVICE r8): spread() must return
    file-backed frames IDENTICAL (no Exchange added) when the scan is
    already wide — whether width comes from MANY FILES or from ONE
    LARGE SPLITTABLE file (parquet splits by row group, so file count
    alone under-estimates scan parallelism)."""
    from redmap_spark.plans.partitioning import spread

    target = spark.sparkContext.defaultParallelism

    # many-file scan: file count alone exceeds target/2 -> identity
    many = str(tmp_path / "many.parquet")
    spark.range(0, 10_000).repartition(target + 1).write.parquet(many)
    wide = spark.read.parquet(many)
    assert len(wide.inputFiles()) * 2 > target
    assert spread(wide) is wide

    # single-file scan whose BYTES imply >= target/2 splits: identity.
    # Shrink the split size so a small test file models a large
    # splittable fact file at cluster scale.
    one = str(tmp_path / "one.parquet")
    spark.range(0, 200_000).selectExpr(
        "id", "cast(id as string) as s", "id * 2 as v"
    ).coalesce(1).write.parquet(one)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    try:
        big = spark.read.parquet(one)
        assert len(big.inputFiles()) == 1
        assert spread(big) is big
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_skips_heal_when_leaf_stat_fails(spark, tmp_path, monkeypatch):
    """ADVICE r10: an OSError while stat-ing a local leaf file must
    SKIP the heal (conservative identity), not zero the byte evidence
    — a transient stat failure on one large splittable file must not
    let spread() add the data-sized repartition the byte gate exists
    to prevent."""
    import os as _os

    from redmap_spark.plans import partitioning
    from redmap_spark.plans.partitioning import spread

    p = str(tmp_path / "narrow.parquet")
    spark.range(0, 100).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    assert len(narrow.inputFiles()) == 1
    # sanity: with working stat, this narrow scan WOULD be healed
    assert spread(narrow) is not narrow

    real_getsize = _os.path.getsize

    def flaky_getsize(path):
        raise OSError("transient stat failure")

    monkeypatch.setattr(_os.path, "getsize", flaky_getsize)
    try:
        assert spread(narrow) is narrow
    finally:
        monkeypatch.setattr(_os.path, "getsize", real_getsize)


def test_leaf_bytes_sums_directory_parts(spark, tmp_path):
    """A multi-file parquet dataset is a directory whose inode size
    says nothing about its data: the byte evidence behind spread()'s
    heal gate and mr_hits' hub-broadcast gate is the sum of the part
    files df.inputFiles() lists."""
    from redmap_spark.plans.partitioning import leaf_bytes

    out = tmp_path / "two_parts.parquet"
    spark.range(0, 1000, numPartitions=2).write.parquet(str(out))
    parts = sorted(out.glob("part-*.parquet"))
    assert len(parts) == 2, parts
    assert leaf_bytes(spark.read.parquet(str(out)).inputFiles()) == sum(
        p.stat().st_size for p in parts
    )
