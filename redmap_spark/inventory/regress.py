"""SURVEY §2.A — regression estimators, lexical statistics and graph
centrality: ridge paths, robust (Huber) and expectile regression,
variance decomposition (LMG), segmented fits, index numbers,
recommender coverage, kNN evaluation, corpus statistics
(Good-Turing, Yule's K, LMIR, self-BLEU, coherence) and
betweenness/rich-club centrality. Split out of the former stats7
grab-bag (round 7), code unchanged. Determinism contract as
registry.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redmap_spark.catalog import Catalog
from redmap_spark.inventory._nodekeys import cust_supp_edges
from redmap_spark.inventory.registry import dec, query, spread


# -- q_ridge_path ------------------------------------------------------
#
# Ridge regularization path for the two-feature revenue model
# (extendedprice ~ quantity + retailprice): closed-form 2x2 solve
# (X'X + lambda*n*I)^{-1} X'y on centered exact-decimal moments for
# lambda in {0, 0.01, 0.1, 1, 10} — the shrinkage trace that shows
# which coefficient survives regularization (q_vif tells you the
# collinearity; this shows the consequence). One fact scan builds the
# six moments; the path is 5 rows of identical double algebra off a
# broadcast 1-row aggregate, unpivoted via explode.

RIDGE_SQL = """
WITH f AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x1,
         CAST(p_retailprice AS DECIMAL(18,2)) AS x2,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
         CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,4))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,4))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(x1 * y AS DECIMAL(28,4))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(x2 * y AS DECIMAL(28,4))) AS DOUBLE) AS s2y,
         CAST(SUM(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy
  FROM f
), cen AS (
  SELECT n, sy / n AS ybar,
         s11 - sx1 * sx1 / n AS c11,
         s12 - sx1 * sx2 / n AS c12,
         s22 - sx2 * sx2 / n AS c22,
         s1y - sx1 * sy / n AS c1y,
         s2y - sx2 * sy / n AS c2y,
         syy - sy * sy / n AS cyy,
         sx1 / n AS x1bar, sx2 / n AS x2bar
  FROM m
), lambdas AS (
  SELECT UNNEST([0.0, 0.01, 0.1, 1.0, 10.0]) AS lam
), solved AS (
  SELECT lam, n, ybar, x1bar, x2bar, cyy, c1y, c2y,
         (c1y * (c22 + lam * n) - c2y * c12)
           / ((c11 + lam * n) * (c22 + lam * n) - c12 * c12) AS b1,
         (c2y * (c11 + lam * n) - c1y * c12)
           / ((c11 + lam * n) * (c22 + lam * n) - c12 * c12) AS b2
  FROM cen CROSS JOIN lambdas
)
SELECT lam AS lambda,
       round(b1, 6) AS beta_quantity,
       round(b2, 6) AS beta_retailprice,
       round(ybar - b1 * x1bar - b2 * x2bar, 4) AS intercept,
       round((b1 * c1y + b2 * c2y) / cyy, 6) AS r2_train
FROM solved
ORDER BY lambda
"""


@query("q_ridge_path", oracle=RIDGE_SQL)
def q_ridge_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    f = cat.lineitem.join(
        F.broadcast(cat.part.select("p_partkey", "p_retailprice")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        dec("l_quantity").alias("x1"),
        dec("p_retailprice").alias("x2"),
        dec("l_extendedprice").alias("y"),
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    p28 = lambda e: F.sum(e.cast("decimal(28,4)")).cast("double")  # noqa: E731
    m = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).cast("double").alias("sx1"),
        F.sum(x2).cast("double").alias("sx2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        p28(x1 * x2).alias("s12"),
        p28(x2 * x2).alias("s22"),
        p28(x1 * y).alias("s1y"),
        p28(x2 * y).alias("s2y"),
        p28(y * y).alias("syy"),
    )
    n = F.col("n")
    cen = m.select(
        n,
        (F.col("sy") / n).alias("ybar"),
        (F.col("s11") - F.col("sx1") * F.col("sx1") / n).alias("c11"),
        (F.col("s12") - F.col("sx1") * F.col("sx2") / n).alias("c12"),
        (F.col("s22") - F.col("sx2") * F.col("sx2") / n).alias("c22"),
        (F.col("s1y") - F.col("sx1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("sx2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
        (F.col("sx1") / n).alias("x1bar"),
        (F.col("sx2") / n).alias("x2bar"),
    )
    lambdas = cen.sparkSession.createDataFrame(
        [(0.0,), (0.01,), (0.1,), (1.0,), (10.0,)], ["lam"]
    )
    j = cen.join(F.broadcast(lambdas))
    lam = F.col("lam")
    c11, c12, c22 = F.col("c11"), F.col("c12"), F.col("c22")
    c1y, c2y = F.col("c1y"), F.col("c2y")
    det = (c11 + lam * n) * (c22 + lam * n) - c12 * c12
    b1 = (c1y * (c22 + lam * n) - c2y * c12) / det
    b2 = (c2y * (c11 + lam * n) - c1y * c12) / det
    return j.select(
        lam.alias("lambda"),
        F.round(b1, 6).alias("beta_quantity"),
        F.round(b2, 6).alias("beta_retailprice"),
        F.round(
            F.col("ybar") - b1 * F.col("x1bar") - b2 * F.col("x2bar"), 4
        ).alias("intercept"),
        F.round((b1 * c1y + b2 * c2y) / F.col("cyy"), 6).alias("r2_train"),
    ).orderBy("lambda")


# -- q_lmg_importance --------------------------------------------------
#
# LMG / Shapley relative importance for the two-predictor revenue
# model (quantity, retailprice): each predictor's contribution
# averaged over both entry orders — LMG(x1) = (R2(x1) + (R2(both) -
# R2(x2))) / 2 — the decomposition that answers "which feature
# matters more" when q_vif says the two overlap. All four R2 values
# come from ONE set of exact decimal moments (the q_ridge_path
# block); output sums to R2(both) by construction.

LMG_SQL = """
WITH f AS (
  SELECT CAST(l_quantity AS DECIMAL(18,2)) AS x1,
         CAST(p_retailprice AS DECIMAL(18,2)) AS x2,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), m AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x1) AS DOUBLE) AS sx1, CAST(SUM(x2) AS DOUBLE) AS sx2,
         CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x1 * x1) AS DOUBLE) AS s11,
         CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,4))) AS DOUBLE) AS s12,
         CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,4))) AS DOUBLE) AS s22,
         CAST(SUM(CAST(x1 * y AS DECIMAL(28,4))) AS DOUBLE) AS s1y,
         CAST(SUM(CAST(x2 * y AS DECIMAL(28,4))) AS DOUBLE) AS s2y,
         CAST(SUM(CAST(y * y AS DECIMAL(28,4))) AS DOUBLE) AS syy
  FROM f
), cen AS (
  SELECT n,
         s11 - sx1 * sx1 / n AS c11, s12 - sx1 * sx2 / n AS c12,
         s22 - sx2 * sx2 / n AS c22, s1y - sx1 * sy / n AS c1y,
         s2y - sx2 * sy / n AS c2y, syy - sy * sy / n AS cyy
  FROM m
), r2 AS (
  SELECT (c1y * c1y) / (c11 * cyy) AS r1,
         (c2y * c2y) / (c22 * cyy) AS r2_,
         ((c1y * (c22) - c2y * c12) * c1y
          + (c2y * (c11) - c1y * c12) * c2y)
           / ((c11 * c22 - c12 * c12) * cyy) AS rboth
  FROM cen
)
SELECT round(r1, 6) AS r2_quantity_alone,
       round(r2_, 6) AS r2_retailprice_alone,
       round(rboth, 6) AS r2_both,
       round((r1 + (rboth - r2_)) / 2, 6) AS lmg_quantity,
       round((r2_ + (rboth - r1)) / 2, 6) AS lmg_retailprice
FROM r2
"""


@query("q_lmg_importance", oracle=LMG_SQL)
def q_lmg_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    f = cat.lineitem.join(
        F.broadcast(cat.part.select("p_partkey", "p_retailprice")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        dec("l_quantity").alias("x1"),
        dec("p_retailprice").alias("x2"),
        dec("l_extendedprice").alias("y"),
    )
    x1, x2, y = F.col("x1"), F.col("x2"), F.col("y")
    p28 = lambda e: F.sum(e.cast("decimal(28,4)")).cast("double")  # noqa: E731
    m = f.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x1).cast("double").alias("sx1"),
        F.sum(x2).cast("double").alias("sx2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x1 * x1).cast("double").alias("s11"),
        p28(x1 * x2).alias("s12"),
        p28(x2 * x2).alias("s22"),
        p28(x1 * y).alias("s1y"),
        p28(x2 * y).alias("s2y"),
        p28(y * y).alias("syy"),
    )
    n = F.col("n")
    cen = m.select(
        (F.col("s11") - F.col("sx1") * F.col("sx1") / n).alias("c11"),
        (F.col("s12") - F.col("sx1") * F.col("sx2") / n).alias("c12"),
        (F.col("s22") - F.col("sx2") * F.col("sx2") / n).alias("c22"),
        (F.col("s1y") - F.col("sx1") * F.col("sy") / n).alias("c1y"),
        (F.col("s2y") - F.col("sx2") * F.col("sy") / n).alias("c2y"),
        (F.col("syy") - F.col("sy") * F.col("sy") / n).alias("cyy"),
    )
    c11, c12, c22 = F.col("c11"), F.col("c12"), F.col("c22")
    c1y, c2y, cyy = F.col("c1y"), F.col("c2y"), F.col("cyy")
    r1 = (c1y * c1y) / (c11 * cyy)
    r2_ = (c2y * c2y) / (c22 * cyy)
    rboth = (
        (c1y * c22 - c2y * c12) * c1y + (c2y * c11 - c1y * c12) * c2y
    ) / ((c11 * c22 - c12 * c12) * cyy)
    return cen.select(
        F.round(r1, 6).alias("r2_quantity_alone"),
        F.round(r2_, 6).alias("r2_retailprice_alone"),
        F.round(rboth, 6).alias("r2_both"),
        F.round((r1 + (rboth - r2_)) / 2, 6).alias("lmg_quantity"),
        F.round((r2_ + (rboth - r1)) / 2, 6).alias("lmg_retailprice"),
    )


# -- q_huber_m ---------------------------------------------------------
#
# One-step Huber M-estimator of location per event type (k = 1.345,
# MAD scale): start at the median, clip residuals at +-k*1.4826*MAD,
# and average the clipped sample — the 95%-efficient robust center
# that q_winsorize's fixed-percentile trim approximates without a
# breakdown guarantee. Median/MAD via the house interpolated-quantile
# + round pattern (identical on both engines); each clipped value is
# 8-rounded decimal so the mean's numerator folds exactly. Reports
# the clipped-tail count as the contamination diagnostic. Scale: one
# scan -> per-type quantiles -> one conditional aggregate.

HUBER_SQL = """
WITH v AS (
  SELECT event_type, CAST(value AS DOUBLE) AS x
  FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, round(quantile_cont(x, 0.5), 6) AS med
  FROM v GROUP BY 1
), d AS (
  SELECT v.event_type, v.x, med.med, abs(v.x - med.med) AS dev
  FROM v JOIN med ON v.event_type = med.event_type
), s AS (
  SELECT event_type, round(1.4826 * quantile_cont(dev, 0.5), 6) AS scale
  FROM d GROUP BY 1
), clip AS (
  SELECT d.event_type, d.med, s.scale,
         CAST(round(d.med + LEAST(GREATEST(d.x - d.med,
                                           -1.345 * s.scale),
                                  1.345 * s.scale), 8)
              AS DECIMAL(18,8)) AS cx,
         CASE WHEN abs(d.x - d.med) > 1.345 * s.scale THEN 1 ELSE 0 END
           AS clipped
  FROM d JOIN s ON d.event_type = s.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(med) AS median,
       MAX(scale) AS scale,
       round(CAST(SUM(cx) AS DOUBLE) / COUNT(*), 6) AS huber_mu,
       CAST(SUM(clipped) AS BIGINT) AS n_clipped
FROM clip
GROUP BY event_type
ORDER BY event_type
"""


@query("q_huber_m", oracle=HUBER_SQL)
def q_huber_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    v = e.filter(F.col("value").isNotNull()).select(
        "event_type", F.col("value").cast("double").alias("x")
    )
    med = v.groupBy("event_type").agg(
        F.round(F.percentile("x", F.lit(0.5)), 6).alias("med")
    )
    d = v.join(F.broadcast(med), "event_type").select(
        "event_type", "x", "med",
        F.abs(F.col("x") - F.col("med")).alias("dev"),
    )
    s = d.groupBy("event_type").agg(
        F.round(1.4826 * F.percentile("dev", F.lit(0.5)), 6).alias("scale")
    )
    k = 1.345
    clip = d.join(F.broadcast(s), "event_type").select(
        "event_type", "med", "scale",
        F.round(
            F.col("med")
            + F.least(
                F.greatest(
                    F.col("x") - F.col("med"), -k * F.col("scale")
                ),
                k * F.col("scale"),
            ),
            8,
        )
        .cast("decimal(18,8)")
        .alias("cx"),
        F.when(
            F.abs(F.col("x") - F.col("med")) > k * F.col("scale"), 1
        )
        .otherwise(0)
        .alias("clipped"),
    )
    return (
        clip.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.max("med").alias("median"),
            F.max("scale").alias("scale"),
            F.round(
                F.sum("cx").cast("double") / F.count(F.lit(1)), 6
            ).alias("huber_mu"),
            F.sum("clipped").cast("bigint").alias("n_clipped"),
        )
        .orderBy("event_type")
    )


# -- q_huber_regression ------------------------------------------------
#
# One-step Huber IRLS regression of extendedprice on quantity per
# brand: the OLS fit supplies residuals, the MAD of residuals sets
# the robustness scale, Huber weights w = min(1, 1.345*s/|r|)
# downweight outlying lines, and ONE reweighted least-squares pass
# yields the robust slope — q_huber_m's location idea lifted to the
# regression q_regression fits non-robustly, with the OLS-vs-robust
# slope gap as the outlier-influence diagnostic. Weighted moments
# fold 4-rounded terms exactly; the MAD uses the house interpolated
# quantile.

HUBERREG_SQL = """
WITH f AS (
  SELECT p_brand, CAST(l_quantity AS DECIMAL(18,2)) AS x,
         CAST(l_extendedprice AS DECIMAL(18,2)) AS y
  FROM lineitem JOIN part ON l_partkey = p_partkey
), m AS (
  SELECT p_brand, COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(x * y AS DECIMAL(28,4))) AS DOUBLE) AS sxy
  FROM f GROUP BY 1
), ols AS (
  SELECT p_brand,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS a
  FROM m
), res AS (
  SELECT f.p_brand, f.x, f.y,
         CAST(f.y AS DOUBLE) - o.a - o.b * CAST(f.x AS DOUBLE) AS r,
         o.b AS b_ols
  FROM f JOIN ols o ON o.p_brand = f.p_brand
), scale AS (
  SELECT p_brand,
         round(1.4826 * quantile_cont(abs(r), 0.5), 6) AS s
  FROM res GROUP BY 1
), wts AS (
  SELECT r.p_brand, r.x, r.y, r.b_ols,
         round(LEAST(1.0, 1.345 * sc.s / GREATEST(abs(r.r), 1e-12)), 9)
           AS w
  FROM res r JOIN scale sc ON sc.p_brand = r.p_brand
), wm AS (
  SELECT p_brand, MAX(b_ols) AS b_ols,
         CAST(SUM(CAST(round(w, 9) AS DECIMAL(14,9))) AS DOUBLE) AS sw,
         CAST(SUM(CAST(round(w * CAST(x AS DOUBLE), 4)
                       AS DECIMAL(28,4))) AS DOUBLE) AS swx,
         CAST(SUM(CAST(round(w * CAST(y AS DOUBLE), 4)
                       AS DECIMAL(28,4))) AS DOUBLE) AS swy,
         CAST(SUM(CAST(round(w * CAST(x AS DOUBLE) * CAST(x AS DOUBLE),
                             4) AS DECIMAL(32,4))) AS DOUBLE) AS swxx,
         CAST(SUM(CAST(round(w * CAST(x AS DOUBLE) * CAST(y AS DOUBLE),
                             4) AS DECIMAL(38,4))) AS DOUBLE) AS swxy
  FROM wts GROUP BY 1
)
SELECT p_brand,
       round(b_ols, 6) AS slope_ols,
       round((sw * swxy - swx * swy) / (sw * swxx - swx * swx), 6)
         AS slope_huber,
       round((sw * swxy - swx * swy) / (sw * swxx - swx * swx)
             - b_ols, 6) AS robust_shift
FROM wm
ORDER BY p_brand
"""


@query("q_huber_regression", oracle=HUBERREG_SQL)
def q_huber_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    f = cat.lineitem.join(
        F.broadcast(cat.part.select("p_partkey", "p_brand")),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "p_brand", dec("l_quantity").alias("x"),
        dec("l_extendedprice").alias("y"),
    )
    f = spread(f).localCheckpoint()
    x, y = F.col("x"), F.col("y")
    m = f.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum((x * y).cast("decimal(28,4)")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    b = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ols = m.select(
        "p_brand", b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / n).alias("a"),
    )
    # No checkpoint on the residual view (r11): f is already
    # checkpointed and r is two flops from (x, y, a, b), so the
    # median pass and the weight pass each recompute it in-stream —
    # cheaper than a second data-sized materialization (guide §5:
    # cache only when recomputing costs more than the memory traffic).
    res = f.join(F.broadcast(ols), "p_brand").select(
        "p_brand", "x", "y",
        (
            y.cast("double") - F.col("a") - F.col("b") * x.cast("double")
        ).alias("r"),
        F.col("b").alias("b_ols"),
    )
    scale = res.groupBy("p_brand").agg(
        F.round(1.4826 * F.percentile(F.abs("r"), F.lit(0.5)), 6)
        .alias("s")
    )
    w = F.round(
        F.least(
            F.lit(1.0),
            1.345 * F.col("s") / F.greatest(F.abs("r"), F.lit(1e-12)),
        ),
        9,
    )
    wts = res.join(F.broadcast(scale), "p_brand").select(
        "p_brand", "x", "y", "b_ols", w.alias("w")
    )
    xd, yd, wv = x.cast("double"), y.cast("double"), F.col("w")
    r4 = lambda e, p: F.sum(  # noqa: E731
        F.round(e, 4).cast(f"decimal({p},4)")
    ).cast("double")
    wm = wts.groupBy("p_brand").agg(
        F.max("b_ols").alias("b_ols"),
        F.sum(F.round(wv, 9).cast("decimal(14,9)")).cast("double")
        .alias("sw"),
        r4(wv * xd, 28).alias("swx"),
        r4(wv * yd, 28).alias("swy"),
        r4(wv * xd * xd, 32).alias("swxx"),
        r4(wv * xd * yd, 38).alias("swxy"),
    )
    sw, swx, swy = F.col("sw"), F.col("swx"), F.col("swy")
    swxx, swxy = F.col("swxx"), F.col("swxy")
    bh = (sw * swxy - swx * swy) / (sw * swxx - swx * swx)
    return wm.select(
        "p_brand",
        F.round("b_ols", 6).alias("slope_ols"),
        F.round(bh, 6).alias("slope_huber"),
        F.round(bh - F.col("b_ols"), 6).alias("robust_shift"),
    ).orderBy("p_brand")


# -- q_expectile -------------------------------------------------------
#
# 0.9-expectile of event value per event type via three UNROLLED
# asymmetric-least-squares reweighting steps from the mean: at each
# step points above the current estimate weigh tau = 0.9 and points
# below weigh 0.1, and the next estimate is the weighted mean — the
# fixed-point iteration that converges geometrically and is exactly
# reproducible because each step is two conditional exact-decimal
# sums (no sorting, no interpolation). Expectiles are the
# coherent-risk alternative to quantiles (EVaR); the gap to the
# q_percentiles p90 measures tail heaviness. Step estimates are
# 6-rounded so both engines branch identically at every iteration.

EXPECTILE_SQL = """
WITH v AS (
  SELECT event_type,
         CAST(round(value, 6) AS DECIMAL(18,6)) AS x
  FROM events WHERE value IS NOT NULL
), m0 AS (
  SELECT event_type,
         round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 6) AS e0
  FROM v GROUP BY 1
), s1 AS (
  SELECT v.event_type,
         round(CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > e0
                        THEN CAST(0.9 * x AS DECIMAL(20,6))
                        ELSE CAST(0.1 * x AS DECIMAL(20,6)) END)
                    AS DOUBLE)
               / CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > e0
                          THEN 0.9 ELSE 0.1 END) AS DOUBLE), 6) AS e1
  FROM v JOIN m0 ON m0.event_type = v.event_type
  GROUP BY v.event_type
), s2 AS (
  SELECT v.event_type,
         round(CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > e1
                        THEN CAST(0.9 * x AS DECIMAL(20,6))
                        ELSE CAST(0.1 * x AS DECIMAL(20,6)) END)
                    AS DOUBLE)
               / CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > e1
                          THEN 0.9 ELSE 0.1 END) AS DOUBLE), 6) AS e2
  FROM v JOIN s1 ON s1.event_type = v.event_type
  GROUP BY v.event_type
), s3 AS (
  SELECT v.event_type,
         round(CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > e2
                        THEN CAST(0.9 * x AS DECIMAL(20,6))
                        ELSE CAST(0.1 * x AS DECIMAL(20,6)) END)
                    AS DOUBLE)
               / CAST(SUM(CASE WHEN CAST(x AS DOUBLE) > e2
                          THEN 0.9 ELSE 0.1 END) AS DOUBLE), 6) AS e3
  FROM v JOIN s2 ON s2.event_type = v.event_type
  GROUP BY v.event_type
)
SELECT m0.event_type,
       m0.e0 AS mean_value,
       s3.e3 AS expectile_90,
       round(s3.e3 - s2.e2, 6) AS last_step_delta
FROM m0 JOIN s2 ON s2.event_type = m0.event_type
JOIN s3 ON s3.event_type = m0.event_type
ORDER BY m0.event_type
"""


@query("q_expectile", oracle=EXPECTILE_SQL)
def q_expectile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = Catalog(spark, sf_dir).events
    v = e.filter(F.col("value").isNotNull()).select(
        "event_type",
        F.round("value", 6).cast("decimal(18,6)").alias("x"),
    ).localCheckpoint()
    xd = F.col("x").cast("double")

    def step(prev: DataFrame, col: str, out: str) -> DataFrame:
        j = v.join(F.broadcast(prev), "event_type")
        above = xd > F.col(col)
        num = F.sum(
            F.when(above, (0.9 * F.col("x")).cast("decimal(20,6)"))
            .otherwise((0.1 * F.col("x")).cast("decimal(20,6)"))
        ).cast("double")
        den = F.sum(F.when(above, 0.9).otherwise(0.1)).cast("double")
        return j.groupBy("event_type").agg(
            F.round(num / den, 6).alias(out)
        )

    m0 = v.groupBy("event_type").agg(
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 6)
        .alias("e0")
    )
    s1 = step(m0, "e0", "e1")
    s2 = step(s1, "e1", "e2")
    s3 = step(s2, "e2", "e3")
    return (
        m0.join(s2, "event_type")
        .join(s3, "event_type")
        .select(
            "event_type",
            F.col("e0").alias("mean_value"),
            F.col("e3").alias("expectile_90"),
            F.round(F.col("e3") - F.col("e2"), 6)
            .alias("last_step_delta"),
        )
        .orderBy("event_type")
    )


# -- q_engel_curve -----------------------------------------------------
#
# Working-Leser Engel curve: each customer's budget SHARE on the
# "basics" brand family (Brand#1x) regressed on ln(total spend) —
# slope < 0 marks basics as a necessity (its share falls as budgets
# grow), > 0 a luxury; the Engel coefficient framing of spending
# composition beside q_elasticity's price response. Shares and log
# totals are 9-rounded decimals from exact per-customer folds; the
# OLS is the shared moment chain.

ENGEL_SQL = """
WITH cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS total,
         CAST(SUM(CASE WHEN p_brand LIKE 'Brand#1%'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2))
                       ELSE CAST(0 AS DECIMAL(18,2)) END)
              AS DECIMAL(28,2)) AS basics
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  JOIN part ON p_partkey = l_partkey
  GROUP BY 1
), xy AS (
  SELECT CAST(round(ln(CAST(total AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(CAST(basics AS DOUBLE) / CAST(total AS DOUBLE), 9)
              AS DECIMAL(12,9)) AS y
  FROM cust WHERE total > 0
), mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS sxy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_customers,
       round(sy / n, 6) AS mean_basics_share,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
         AS engel_slope,
       CAST(CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0
            THEN 1 ELSE 0 END AS BIGINT) AS necessity
FROM mom
"""


@query("q_engel_curve", oracle=ENGEL_SQL)
def q_engel_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    zero = F.lit(0).cast("decimal(18,2)")
    cust = (
        cat.lineitem.join(
            cat.orders.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            F.broadcast(cat.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("o_custkey")
        .agg(
            F.sum(dec("l_extendedprice")).cast("decimal(28,2)")
            .alias("total"),
            F.sum(
                F.when(
                    F.col("p_brand").startswith("Brand#1"),
                    dec("l_extendedprice"),
                ).otherwise(zero)
            )
            .cast("decimal(28,2)")
            .alias("basics"),
        )
    )
    xy = cust.filter(F.col("total") > 0).select(
        F.round(F.log(F.col("total").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(
            F.col("basics").cast("double") / F.col("total").cast("double"),
            9,
        )
        .cast("decimal(12,9)")
        .alias("y"),
    )
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    r9 = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(28,9)")
    ).cast("double")
    mom = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        r9(xd * xd).alias("sxx"),
        r9(xd * yd).alias("sxy"),
    )
    n = F.col("n")
    b = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        n.cast("bigint").alias("n_customers"),
        F.round(F.col("sy") / n, 6).alias("mean_basics_share"),
        F.round(b, 6).alias("engel_slope"),
        F.when(b < 0, 1).otherwise(0).cast("bigint").alias("necessity"),
    )


# -- q_gibrat_law ------------------------------------------------------
#
# Gibrat's law test on brand monthly revenue: regress log growth
# ln(rev_{t+1}/rev_t) on log size ln(rev_t) across all brand-months;
# slope = 0 means growth is independent of size (Gibrat holds, and
# the size distribution drifts lognormal), slope < 0 means mean
# reversion (small brands catch up) — the firm-dynamics law behind
# q_lognormal_fit's distributional finding. Log pairs are 9-rounded
# decimals; the OLS is the house exact-moment chain with the t-stat
# for the slope against zero.

GIBRAT_SQL = """
WITH m AS (
  SELECT p_brand, strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS mon,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2
), pairs AS (
  SELECT CAST(round(ln(CAST(rev AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(CAST(LEAD(rev) OVER w AS DOUBLE)
                       / CAST(rev AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
  FROM m WINDOW w AS (PARTITION BY p_brand ORDER BY mon)
), clean AS (SELECT x, y FROM pairs WHERE y IS NOT NULL),
mom AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(x AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(CAST(x AS DOUBLE) * CAST(y AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(CAST(y AS DOUBLE) * CAST(y AS DOUBLE), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS syy
  FROM clean
), f AS (
  SELECT n,
         (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
         ((n * syy - sy * sy)
          - ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / (n * sxx - sx * sx)) / (n * (n - 2)) AS mse_over_n,
         (n * sxx - sx * sx) / n AS ssx
  FROM mom
)
SELECT CAST(n AS BIGINT) AS n_brand_months,
       round(b, 6) AS gibrat_slope,
       round(b / sqrt(mse_over_n * n / ssx / n), 6) AS t_stat,
       CAST(CASE WHEN abs(b / sqrt(mse_over_n * n / ssx / n)) < 1.96
            THEN 1 ELSE 0 END AS BIGINT) AS gibrat_holds
FROM f
"""


@query("q_gibrat_law", oracle=GIBRAT_SQL)
def q_gibrat_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    m = (
        cat.lineitem.join(
            F.broadcast(cat.part.select("p_partkey", "p_brand")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy(
            "p_brand",
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM")
            .alias("mon"),
        )
        .agg(F.sum(dec("l_extendedprice")).cast("decimal(28,2)").alias("rev"))
    )
    w = Window.partitionBy("p_brand").orderBy("mon")
    pairs = m.select(
        F.round(F.log(F.col("rev").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("x"),
        F.round(
            F.log(
                F.lead("rev").over(w).cast("double")
                / F.col("rev").cast("double")
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("y"),
    )
    clean = pairs.filter(F.col("y").isNotNull())
    xd, yd = F.col("x").cast("double"), F.col("y").cast("double")
    r9 = lambda e: F.sum(  # noqa: E731
        F.round(e, 9).cast("decimal(28,9)")
    ).cast("double")
    mom = clean.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        r9(xd * xd).alias("sxx"),
        r9(xd * yd).alias("sxy"),
        r9(yd * yd).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    b = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    mse_over_n = (
        (n * syy - sy * sy)
        - ((n * sxy - sx * sy) * (n * sxy - sx * sy)) / (n * sxx - sx * sx)
    ) / (n * (n - 2))
    ssx = (n * sxx - sx * sx) / n
    t = b / F.sqrt(mse_over_n * n / ssx / n)
    return mom.select(
        n.cast("bigint").alias("n_brand_months"),
        F.round(b, 6).alias("gibrat_slope"),
        F.round(t, 6).alias("t_stat"),
        F.when(F.abs(t) < 1.96, 1).otherwise(0).cast("bigint")
        .alias("gibrat_holds"),
    )


# -- q_fisher_ideal ----------------------------------------------------
#
# Index-number completion beside q_price_index's Laspeyres: per month
# (vs the first month as base, matched brands only) the Paasche index
# (current-quantity weights), the Fisher IDEAL index (geometric mean
# of the two — the superlative index national accounts use), and the
# Tornqvist index exp(sum of avg-revenue-share-weighted log price
# relatives). Laspeyres overstates inflation under substitution,
# Paasche understates; Fisher/Tornqvist bound the truth between.
# Brand-month unit values are exact-decimal rev/qty doubles; the four
# index aggregations fold 9-rounded terms exactly.

FISHER_IDX_SQL = """
WITH bm AS (
  SELECT p_brand, strftime(CAST(l_shipdate AS DATE), '%Y-%m') AS mon,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
              AS DECIMAL(28,2)) AS rev,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
              AS DECIMAL(24,2)) AS qty
  FROM lineitem JOIN part ON p_partkey = l_partkey
  GROUP BY 1, 2
), base AS (
  SELECT p_brand,
         CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE) AS p0,
         CAST(qty AS DOUBLE) AS q0,
         CAST(rev AS DOUBLE) AS r0
  FROM bm WHERE mon = (SELECT MIN(mon) FROM bm) AND qty > 0
), cur AS (
  SELECT mon, p_brand,
         CAST(rev AS DOUBLE) / CAST(qty AS DOUBLE) AS p1,
         CAST(qty AS DOUBLE) AS q1,
         CAST(rev AS DOUBLE) AS r1
  FROM bm WHERE qty > 0
), j AS (
  SELECT c.mon, c.p_brand, b.p0, b.q0, b.r0, c.p1, c.q1, c.r1
  FROM cur c JOIN base b ON b.p_brand = c.p_brand
), shares AS (
  SELECT mon, p_brand, p0, q0, p1, q1,
         r0 / SUM(r0) OVER (PARTITION BY mon) AS s0,
         r1 / SUM(r1) OVER (PARTITION BY mon) AS s1,
         ln(p1 / p0) AS lpr
  FROM j
), agg2 AS (
  SELECT mon, COUNT(*) AS n_brands,
         CAST(SUM(CAST(round(p1 * q0, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS p1q0,
         CAST(SUM(CAST(round(p0 * q0, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS p0q0,
         CAST(SUM(CAST(round(p1 * q1, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS p1q1,
         CAST(SUM(CAST(round(p0 * q1, 4) AS DECIMAL(28,4))) AS DOUBLE)
           AS p0q1,
         CAST(SUM(CAST(round(0.5 * (s0 + s1) * lpr, 9)
                       AS DECIMAL(20,9))) AS DOUBLE) AS tq
  FROM shares GROUP BY mon
)
SELECT mon, CAST(n_brands AS BIGINT) AS n_brands,
       round(p1q0 / p0q0, 6) AS laspeyres,
       round(p1q1 / p0q1, 6) AS paasche,
       round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 6) AS fisher_ideal,
       round(exp(tq), 6) AS tornqvist
FROM agg2
ORDER BY mon
"""


@query("q_fisher_ideal", oracle=FISHER_IDX_SQL)
def q_fisher_ideal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    bm = (
        cat.lineitem.join(
            F.broadcast(cat.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(
            "p_brand",
            F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM")
            .alias("mon"),
        )
        .agg(
            F.sum(dec("l_extendedprice")).cast("decimal(28,2)").alias("rev"),
            F.sum(dec("l_quantity")).cast("decimal(24,2)").alias("qty"),
        )
        .localCheckpoint()
    )
    m0 = bm.agg(F.min("mon").alias("mon0"))
    base = (
        bm.join(F.broadcast(m0), bm["mon"] == F.col("mon0"))
        .filter(F.col("qty") > 0)
        .select(
            "p_brand",
            (F.col("rev").cast("double") / F.col("qty").cast("double"))
            .alias("p0"),
            F.col("qty").cast("double").alias("q0"),
            F.col("rev").cast("double").alias("r0"),
        )
    )
    cur = bm.filter(F.col("qty") > 0).select(
        "mon", "p_brand",
        (F.col("rev").cast("double") / F.col("qty").cast("double"))
        .alias("p1"),
        F.col("qty").cast("double").alias("q1"),
        F.col("rev").cast("double").alias("r1"),
    )
    j = cur.join(F.broadcast(base), "p_brand")
    wm = Window.partitionBy("mon")
    shares = j.select(
        "mon", "p0", "q0", "p1", "q1",
        (F.col("r0") / F.sum("r0").over(wm)).alias("s0"),
        (F.col("r1") / F.sum("r1").over(wm)).alias("s1"),
        F.log(F.col("p1") / F.col("p0")).alias("lpr"),
    )
    r4 = lambda e: F.sum(  # noqa: E731
        F.round(e, 4).cast("decimal(28,4)")
    ).cast("double")
    agg2 = shares.groupBy("mon").agg(
        F.count(F.lit(1)).alias("n_brands"),
        r4(F.col("p1") * F.col("q0")).alias("p1q0"),
        r4(F.col("p0") * F.col("q0")).alias("p0q0"),
        r4(F.col("p1") * F.col("q1")).alias("p1q1"),
        r4(F.col("p0") * F.col("q1")).alias("p0q1"),
        F.sum(
            F.round(
                0.5 * (F.col("s0") + F.col("s1")) * F.col("lpr"), 9
            ).cast("decimal(20,9)")
        )
        .cast("double")
        .alias("tq"),
    )
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    return agg2.select(
        "mon",
        F.col("n_brands").cast("bigint").alias("n_brands"),
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher_ideal"),
        F.round(F.exp("tq"), 6).alias("tornqvist"),
    ).orderBy("mon")


# -- q_segmented_regression --------------------------------------------
#
# Broken-stick (segmented) regression of daily revenue on time with
# an UNKNOWN knot: every 64th day is a candidate breakpoint, and ONE
# prefix-sum pass (cumulative n, sum x, sum y, sum xy, sum x2, sum y2
# by day index) prices each candidate's two-segment SSE in O(1) from
# prefix differences — the Muggeo-style knot search without
# re-scanning, where q_chow_test assumes the break is KNOWN. The
# winning knot minimizes 6-rounded total SSE (ties to the earliest
# knot); output reports the knot date, both slopes, and the
# SSE improvement over the single-line fit.

SEGREG_SQL = """
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
              AS DECIMAL(24,2)) AS rev,
         ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE)) AS i
  FROM orders GROUP BY 1
), pre AS (
  SELECT day, i,
         CAST(SUM(i) OVER w AS DOUBLE) AS sx,
         CAST(SUM(rev) OVER w AS DOUBLE) AS sy,
         CAST(SUM(CAST(i AS BIGINT) * i) OVER w AS DOUBLE) AS sxx,
         CAST(SUM(CAST(round(i * CAST(rev AS DOUBLE), 2)
                       AS DECIMAL(38,2))) OVER w AS DOUBLE) AS sxy,
         CAST(SUM(CAST(round(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE),
                             2) AS DECIMAL(38,2))) OVER w AS DOUBLE)
           AS syy,
         COUNT(*) OVER () AS n
  FROM daily
  WINDOW w AS (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW)
), tot AS (
  SELECT n, sx AS tx, sy AS ty, sxx AS txx, sxy AS txy, syy AS tyy,
         day AS last_day
  FROM pre WHERE i = n
), cand AS (
  SELECT p.day AS knot_day, p.i AS k,
         p.sx, p.sy, p.sxx, p.sxy, p.syy,
         t.n, t.tx, t.ty, t.txx, t.txy, t.tyy
  FROM pre p CROSS JOIN tot t
  WHERE p.i % 64 = 0 AND p.i >= 64 AND p.i <= t.n - 64
), sse AS (
  SELECT knot_day, k, n,
         round(
           (syy - sy * sy / k
            - pow(sxy - sx * sy / k, 2) / (sxx - sx * sx / k))
           + ((tyy - syy) - (ty - sy) * (ty - sy) / (n - k)
              - pow((txy - sxy) - (tx - sx) * (ty - sy) / (n - k), 2)
                / ((txx - sxx) - (tx - sx) * (tx - sx) / (n - k))), 6)
           AS sse2,
         (sxy - sx * sy / k) / (sxx - sx * sx / k) AS b_left,
         ((txy - sxy) - (tx - sx) * (ty - sy) / (n - k))
           / ((txx - sxx) - (tx - sx) * (tx - sx) / (n - k)) AS b_right,
         tyy - ty * ty / n - pow(txy - tx * ty / n, 2)
           / (txx - tx * tx / n) AS sse1
  FROM cand
), best AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY sse2, knot_day) AS rk
  FROM sse
)
SELECT strftime(knot_day, '%Y-%m-%d') AS knot_day,
       CAST(k AS BIGINT) AS knot_index,
       round(b_left, 4) AS slope_before,
       round(b_right, 4) AS slope_after,
       round(1 - sse2 / sse1, 6) AS sse_improvement
FROM best WHERE rk = 1
"""


@query("q_segmented_regression", oracle=SEGREG_SQL)
def q_segmented_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    daily = (
        cat.orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(dec("o_totalprice")).cast("decimal(24,2)").alias("rev"))
        .select(
            "day", "rev",
            F.row_number().over(Window.orderBy("day")).alias("i"),
        )
    )
    w = Window.orderBy("i").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy().orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    i = F.col("i")
    revd = F.col("rev").cast("double")
    pre = daily.select(
        "day", "i",
        F.sum(i).over(w).cast("double").alias("sx"),
        F.sum("rev").over(w).cast("double").alias("sy"),
        F.sum(i.cast("bigint") * i).over(w).cast("double").alias("sxx"),
        # Decimal-headroom audit (r9): terms are (38,2) so the running
        # sum gets NO type widening — safe because the magnitudes are
        # grid-bounded, not data-scale-bounded: i <= |days| ~ 2466
        # (TPC-H date range, SF-independent) and revd is ONE day's
        # revenue (~1e11 at SF1000), so i*revd <= ~2.5e14 and the
        # cumsum <= ~6e17; revd^2 <= ~1e22, cumsum <= ~2.5e25 — both
        # << the 1e36 capacity of (38,2).
        F.sum(F.round(i * revd, 2).cast("decimal(38,2)"))
        .over(w)
        .cast("double")
        .alias("sxy"),
        F.sum(F.round(revd * revd, 2).cast("decimal(38,2)"))
        .over(w)
        .cast("double")
        .alias("syy"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).localCheckpoint()
    tot = pre.filter(i == F.col("n")).select(
        F.col("sx").alias("tx"), F.col("sy").alias("ty"),
        F.col("sxx").alias("txx"), F.col("sxy").alias("txy"),
        F.col("syy").alias("tyy"), F.col("n").alias("nn"),
    )
    cand = (
        pre.join(F.broadcast(tot))
        .filter(
            (i % 64 == 0) & (i >= 64) & (i <= F.col("nn") - 64)
        )
        .select(
            F.col("day").alias("knot_day"), i.alias("k"),
            "sx", "sy", "sxx", "sxy", "syy",
            F.col("nn").alias("n"), "tx", "ty", "txx", "txy", "tyy",
        )
    )
    k, n = F.col("k"), F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxx, sxy, syy = F.col("sxx"), F.col("sxy"), F.col("syy")
    tx, ty = F.col("tx"), F.col("ty")
    txx, txy, tyy = F.col("txx"), F.col("txy"), F.col("tyy")
    sse_l = syy - sy * sy / k - F.pow(sxy - sx * sy / k, 2) / (
        sxx - sx * sx / k
    )
    rx2 = (txx - sxx) - (tx - sx) * (tx - sx) / (n - k)
    rxy = (txy - sxy) - (tx - sx) * (ty - sy) / (n - k)
    sse_r = (tyy - syy) - (ty - sy) * (ty - sy) / (n - k) - F.pow(
        rxy, 2
    ) / rx2
    b_left = (sxy - sx * sy / k) / (sxx - sx * sx / k)
    b_right = rxy / rx2
    sse1 = tyy - ty * ty / n - F.pow(txy - tx * ty / n, 2) / (
        txx - tx * tx / n
    )
    sse = cand.select(
        "knot_day", "k", "n",
        F.round(sse_l + sse_r, 6).alias("sse2"),
        b_left.alias("b_left"),
        b_right.alias("b_right"),
        sse1.alias("sse1"),
    )
    best = sse.select(
        "*",
        F.row_number()
        .over(Window.orderBy("sse2", "knot_day"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    return best.select(
        F.date_format("knot_day", "yyyy-MM-dd").alias("knot_day"),
        F.col("k").cast("bigint").alias("knot_index"),
        F.round("b_left", 4).alias("slope_before"),
        F.round("b_right", 4).alias("slope_after"),
        F.round(1 - F.col("sse2") / F.col("sse1"), 6)
        .alias("sse_improvement"),
    )


# -- q_recsys_coverage -------------------------------------------------
#
# Beyond-accuracy evaluation of the q_item_cf recommender: catalog
# coverage (share of brands that ever appear in a top-3 list),
# recommendation-concentration Gini over appearance counts (0 = every
# item recommended equally, 1 = one blockbuster), and popularity bias
# (mean popularity percentile of recommended slots — near 1.0 means
# the model just recommends bestsellers). The Castells/Vargas metric
# trio that accuracy-only evals (q_ndcg_eval) miss. Same basket ->
# cosine top-3 construction as q_item_cf; every metric is exact
# integer rank algebra with one double finale per metric.

RECSYS_COV_SQL = """
WITH basket AS (
  SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS b
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), cnt AS (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM basket GROUP BY 1
), pairs AS (
  SELECT a.b AS b1, bb.b AS b2, CAST(COUNT(*) AS BIGINT) AS c12
  FROM basket a JOIN basket bb ON bb.ok = a.ok AND a.b < bb.b
  GROUP BY 1, 2
), sym AS (
  SELECT b1 AS b, b2 AS nb, c12 FROM pairs
  UNION ALL SELECT b2, b1, c12 FROM pairs
), ranked AS (
  SELECT s.b, s.nb,
         ROW_NUMBER() OVER (PARTITION BY s.b
           ORDER BY s.c12 / sqrt(CAST(c1.c AS DOUBLE) * c2.c) DESC, s.nb)
           AS rk
  FROM sym s JOIN cnt c1 ON c1.b = s.b JOIN cnt c2 ON c2.b = s.nb
), recs AS (SELECT b, nb FROM ranked WHERE rk <= 3),
appear AS (
  SELECT nb, CAST(COUNT(*) AS BIGINT) AS a FROM recs GROUP BY 1
), gini AS (
  SELECT CAST(SUM((2 * ROW_NUMBER() OVER (ORDER BY a, nb)
                   - COUNT(*) OVER () - 1) * a) AS DOUBLE)
           / (COUNT(*) OVER () * 1.0) AS gnum_over_n,
         CAST(SUM(a) OVER () AS BIGINT) AS atot,
         ROW_NUMBER() OVER (ORDER BY a, nb) AS rn
  FROM appear QUALIFY rn = 1
), pop AS (
  SELECT b, CAST(ROW_NUMBER() OVER (ORDER BY c, b) AS DOUBLE)
              / COUNT(*) OVER () AS pct
  FROM cnt
), bias AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS slots,
         CAST(SUM(CAST(round(p.pct, 9) AS DECIMAL(12,9))) AS DOUBLE)
           AS spct
  FROM recs r JOIN pop p ON p.b = r.nb
), agg AS (
  SELECT (SELECT COUNT(*) FROM cnt) AS n_items,
         (SELECT COUNT(*) FROM appear) AS n_recommended,
         (SELECT CAST(SUM((2 * rn - n - 1) * a) AS DOUBLE)
          FROM (SELECT a, ROW_NUMBER() OVER (ORDER BY a, nb) AS rn,
                       COUNT(*) OVER () AS n
                FROM appear)) AS gnum,
         (SELECT CAST(SUM(a) AS BIGINT) FROM appear) AS atot,
         (SELECT COUNT(*) FROM appear) AS k
)
SELECT CAST(n_items AS BIGINT) AS n_items,
       CAST(n_recommended AS BIGINT) AS n_recommended,
       round(n_recommended / CAST(n_items AS DOUBLE), 6) AS coverage,
       round(gnum / (CAST(k AS DOUBLE) * atot), 6) AS rec_gini,
       (SELECT round(spct / slots, 6) FROM bias) AS popularity_bias
FROM agg
"""
# drop the unused exploratory `gini` CTE (QUALIFY kept it inert)
RECSYS_COV_SQL = RECSYS_COV_SQL.replace(
    """), gini AS (
  SELECT CAST(SUM((2 * ROW_NUMBER() OVER (ORDER BY a, nb)
                   - COUNT(*) OVER () - 1) * a) AS DOUBLE)
           / (COUNT(*) OVER () * 1.0) AS gnum_over_n,
         CAST(SUM(a) OVER () AS BIGINT) AS atot,
         ROW_NUMBER() OVER (ORDER BY a, nb) AS rn
  FROM appear QUALIFY rn = 1
""",
    "",
)


@query("q_recsys_coverage", oracle=RECSYS_COV_SQL)
def q_recsys_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = Catalog(spark, sf_dir)
    # In-row pair generation (r11, the q_bradley_terry duel pattern —
    # same basket as q_item_cf): collect_set(b) per order replaces
    # BOTH the distinct AND the data-sized basket self-join; the
    # i < j upper triangle of the SORTED bounded set (|brands| = 25)
    # generates each (b1 < b2) co-occurrence exactly once per order,
    # identical to the a.b < bb.b join over distinct rows.
    g = (
        cat.lineitem.select("l_orderkey", "l_partkey")
        .join(
            F.broadcast(cat.part.select("p_partkey", "p_brand")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
    )
    g = g.cache()  # consumed by cnt AND the pair explode
    cnt = (
        g.select(F.explode("bs").alias("b"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint()
    )
    pair_expr = """
    flatten(
      transform(bs, (x, i) ->
        transform(slice(bs, i + 2, size(bs)), y ->
          named_struct('b1', x, 'b2', y))))
    """
    pairs = (
        g.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.b1").alias("b1"), F.col("p.b2").alias("b2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c12"))
    )
    sym = pairs.select(
        F.col("b1").alias("b"), F.col("b2").alias("nb"), "c12"
    ).union(
        pairs.select(
            F.col("b2").alias("b"), F.col("b1").alias("nb"), "c12"
        )
    )
    c1 = cnt.select(F.col("b").alias("cb"), F.col("c").alias("cc1"))
    c2 = cnt.select(F.col("b").alias("nb2"), F.col("c").alias("cc2"))
    scored = (
        sym.join(F.broadcast(c1), F.col("b") == F.col("cb"))
        .join(F.broadcast(c2), F.col("nb") == F.col("nb2"))
        .select(
            "b", "nb",
            (
                F.col("c12")
                / F.sqrt(F.col("cc1").cast("double") * F.col("cc2"))
            ).alias("cosine"),
        )
    )
    ranked = scored.select(
        "b", "nb",
        F.row_number()
        .over(
            Window.partitionBy("b").orderBy(F.col("cosine").desc(), "nb")
        )
        .alias("rk"),
    )
    # recs is <= |brands| x 3 rows but feeds TWO consumers (appear and
    # the popularity-bias join): checkpoint it so the basket -> pairs
    # -> ranking lineage executes once, not per consumer (r11).
    recs = (
        ranked.filter(F.col("rk") <= 3).select("b", "nb").localCheckpoint()
    )
    # appear is a <=|brands|-row groupBy over the checkpointed recs:
    # cheap to recompute for its two consumers, so no third
    # checkpoint barrier here (r11 A/B in OPTIMIZATION_r11.md)
    appear = recs.groupBy("nb").agg(
        F.count(F.lit(1)).cast("bigint").alias("a")
    )
    wall = Window.partitionBy().orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gtab = appear.select(
        (
            (
                2 * F.row_number().over(Window.orderBy("a", "nb"))
                - F.count(F.lit(1)).over(wall)
                - 1
            )
            * F.col("a")
        ).alias("gterm"),
        "a",
    ).agg(
        F.sum("gterm").cast("double").alias("gnum"),
        F.sum("a").cast("bigint").alias("atot"),
        F.count(F.lit(1)).alias("k"),
    )
    pop = cnt.select(
        "b",
        (
            F.row_number().over(Window.orderBy("c", "b")).cast("double")
            / F.count(F.lit(1)).over(wall)
        ).alias("pct"),
    )
    bias = (
        recs.join(F.broadcast(pop), recs["nb"] == pop["b"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("slots"),
            F.sum(F.round("pct", 9).cast("decimal(12,9)"))
            .cast("double")
            .alias("spct"),
        )
    )
    n_items = cnt.agg(F.count(F.lit(1)).alias("n_items"))
    n_rec = appear.agg(F.count(F.lit(1)).alias("n_recommended"))
    return (
        n_items.join(F.broadcast(n_rec))
        .join(F.broadcast(gtab))
        .join(F.broadcast(bias))
        .select(
            F.col("n_items").cast("bigint").alias("n_items"),
            F.col("n_recommended").cast("bigint").alias("n_recommended"),
            F.round(
                F.col("n_recommended") / F.col("n_items").cast("double"), 6
            ).alias("coverage"),
            F.round(
                F.col("gnum")
                / (F.col("k").cast("double") * F.col("atot")),
                6,
            ).alias("rec_gini"),
            F.round(F.col("spct") / F.col("slots"), 6)
            .alias("popularity_bias"),
        )
    )


# -- sim_knn_classifier ------------------------------------------------
#
# Leave-one-out 5-NN cosine label classification on the embeddings
# table, evaluated on the deterministic vec_id % 10 = 0 probe subset
# (50 queries x 500 corpus — the bounded eval shape; the production
# retrieval path is the persisted partition-pruned IVF index, this
# entry measures LABEL QUALITY of the space itself). Cosines are
# 4-rounded before ranking (ties break on vec_id), majority vote
# breaks ties on the smaller label, and per-label accuracy comes out
# as exact counts — the "are these embeddings any good" acceptance
# check beside sim_silhouette's geometric view.

KNN_CLS_SQL = """
WITH w AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v,
         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x)))
           AS nrm
  FROM embeddings
), q AS (SELECT * FROM w WHERE vec_id % 10 = 0),
scored AS (
  SELECT q.vec_id AS qid, q.label AS true_label,
         b.vec_id AS nid, b.label AS nlabel,
         round(list_sum(list_transform(range(1, 65),
                                       i -> b.v[i] * q.v[i]))
               / (b.nrm * q.nrm), 4) AS score
  FROM q JOIN w b ON b.vec_id <> q.vec_id
), topk AS (
  SELECT qid, true_label, nlabel,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY score DESC, nid) AS rk
  FROM scored
), votes AS (
  SELECT qid, true_label, nlabel, COUNT(*) AS c
  FROM topk WHERE rk <= 5 GROUP BY 1, 2, 3
), pred AS (
  SELECT qid, true_label, nlabel AS pred_label,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, nlabel)
           AS vr
  FROM votes
)
SELECT CAST(true_label AS BIGINT) AS label,
       CAST(COUNT(*) AS BIGINT) AS n_eval,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       round(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS accuracy
FROM pred WHERE vr = 1
GROUP BY true_label
ORDER BY label
"""


@query("sim_knn_classifier", oracle=KNN_CLS_SQL)
def sim_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Catalog(spark, sf_dir).embeddings
    v = F.col("embedding").cast("array<double>")
    nrm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # single-file scan: the 400k x 64-dim HOF scoring fan-out below
    # runs on the checkpoint's partitioning — heal it first
    w = spread(
        emb.select("vec_id", "label", v.alias("v"), nrm.alias("nrm"))
    ).localCheckpoint()
    q = w.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        w.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "true_label",
            F.col("vec_id").alias("nid"),
            F.col("label").alias("nlabel"),
            F.round(dot / (F.col("nrm") * F.col("qn")), 4).alias("score"),
        )
    )
    topk = scored.select(
        "qid", "true_label", "nlabel",
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
        )
        .alias("rk"),
    )
    votes = (
        topk.filter(F.col("rk") <= 5)
        .groupBy("qid", "true_label", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pred = votes.select(
        "qid", "true_label",
        F.col("nlabel").alias("pred_label"),
        F.row_number()
        .over(
            Window.partitionBy("qid").orderBy(F.col("c").desc(), "nlabel")
        )
        .alias("vr"),
    ).filter(F.col("vr") == 1)
    hit = F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    return (
        pred.groupBy(F.col("true_label").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_eval"),
            F.sum(hit).cast("bigint").alias("n_correct"),
            F.round(F.sum(hit) / F.count(F.lit(1)).cast("double"), 6)
            .alias("accuracy"),
        )
        .orderBy("label")
    )


# -- mr_betweenness ----------------------------------------------------
#
# Sampled-source Brandes betweenness centrality on the customer ⋈
# supplier bipartite graph (the same edge set as mr_bfs): from each
# sampled source (suppliers with key % 50 = 0) a 3-level BFS computes
# shortest-path counts sigma level by level (bipartite alternation
# means the only de-dup needed is the source itself at level 2 and
# level-1 customers at level 3), then the dependency accumulation
# delta(v) = sum_w sigma(v)/sigma(w) * (1 + delta(w)) runs backward
# over the SAME level tables; bc(v) = sum over sources of delta(v).
# Every delta term is 9-rounded decimal before the exact per-node
# fold, so the accumulation is order-independent and cross-engine
# identical. Depth-3 truncation is the documented estimator (it is
# exact for all pairs within 3 hops of a source) — the same fixed-
# round contract as mr_bfs. Scale: each round is one join of the
# frontier against the edge table; pair state is |sources| x |reached|.

MRBETW_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), l0 AS (
  SELECT DISTINCT src AS s, src AS node, CAST(1 AS BIGINT) AS sigma
  FROM edges
  WHERE src LIKE 's%' AND CAST(substr(src, 2) AS BIGINT) % 50 = 0
    AND CAST(substr(src, 2) AS BIGINT) <= 500
), l1 AS (
  SELECT l0.s, e.dst AS node, CAST(SUM(l0.sigma) AS BIGINT) AS sigma
  FROM l0 JOIN edges e ON e.src = l0.node
  GROUP BY 1, 2
), l2 AS (
  SELECT l1.s, e.dst AS node, CAST(SUM(l1.sigma) AS BIGINT) AS sigma
  FROM l1 JOIN edges e ON e.src = l1.node
  WHERE e.dst <> l1.s
  GROUP BY 1, 2
), l3 AS (
  SELECT l2.s, e.dst AS node, CAST(SUM(l2.sigma) AS BIGINT) AS sigma
  FROM l2 JOIN edges e ON e.src = l2.node
  LEFT JOIN l1 seen ON seen.s = l2.s AND seen.node = e.dst
  WHERE seen.node IS NULL
  GROUP BY 1, 2
), d2 AS (
  SELECT l2.s, l2.node,
         CAST(SUM(CAST(round(l2.sigma / CAST(w.sigma AS DOUBLE), 9)
                       AS DECIMAL(20,9))) AS DECIMAL(28,9)) AS delta
  FROM l2 JOIN edges e ON e.src = l2.node
  JOIN l3 w ON w.s = l2.s AND w.node = e.dst
  GROUP BY 1, 2
), d1 AS (
  SELECT l1.s, l1.node,
         CAST(SUM(CAST(round(l1.sigma / CAST(w.sigma AS DOUBLE)
                             * (1 + CAST(COALESCE(d2.delta, 0) AS DOUBLE)),
                             9) AS DECIMAL(20,9))) AS DECIMAL(28,9)) AS delta
  FROM l1 JOIN edges e ON e.src = l1.node
  JOIN l2 w ON w.s = l1.s AND w.node = e.dst
  LEFT JOIN d2 ON d2.s = w.s AND d2.node = w.node
  GROUP BY 1, 2
), alldelta AS (
  SELECT s, node, delta FROM d1
  UNION ALL SELECT s, node, delta FROM d2
), bc AS (
  SELECT node, CAST(SUM(delta) AS DECIMAL(38,9)) AS bc,
         COUNT(*) AS n_sources
  FROM alldelta GROUP BY 1
), ranked AS (
  SELECT node, bc, n_sources,
         ROW_NUMBER() OVER (ORDER BY bc DESC, node) AS rk
  FROM bc
)
SELECT CAST(rk AS BIGINT) AS rk, node,
       round(CAST(bc AS DOUBLE), 6) AS betweenness,
       CAST(n_sources AS BIGINT) AS n_sources
FROM ranked WHERE rk <= 15
ORDER BY rk
"""


@query("mr_betweenness", oracle=MRBETW_SQL)
def mr_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Nodes ride through the BFS as BIGINT (cust=2k, supp=2k+1): int
    # hash-joins beat varchar. The graph is bipartite and the traversal
    # ALTERNATES sides, so each BFS/accumulation step needs exactly ONE
    # edge direction — read the |E| checkpointed directed pairs and
    # pick the orientation per step, instead of materializing (and
    # re-scanning, 4x) a doubled src/dst table.
    pair = cust_supp_edges(Catalog(spark, sf_dir)).select(
        F.col("src").alias("cn"), F.col("dst").alias("sn")
    )

    def edges_from(side: str) -> DataFrame:
        src, dst = ("sn", "cn") if side == "supp" else ("cn", "sn")
        return pair.select(
            F.col(src).alias("src"), F.col(dst).alias("dst")
        )

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
        # Frontier broadcasts to the (unshuffled) directed pair table
        # — the mr_bfs scale shape: edges never re-sort, only the
        # expansion output shuffles for its groupBy.
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
    )  # single consumer (d2's frontier) — no checkpoint needed
    # Dependency accumulation as ONE windowed pass over the
    # (source, v, out-edge) expansion instead of collapse-σ + re-join:
    # after dropping backtrack edges, sum(σ_v) over the (s, dst)
    # window IS the successor's σ_w (the same value l3/l2 would
    # carry), so each expansion row turns directly into its 9-rounded
    # Brandes term — one shuffle-sort of the |paths| rows replaces a
    # groupBy shuffle PLUS a second full scan joining the collapsed
    # level back (measured ~4x faster on the depth-2→3 step, which
    # carries ~|E|·|sources|/|V| rows). delta_w joins in by broadcast
    # (|level| rows, tiny) where a deeper level exists.

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

    def accumulate_windowed(
        level: DataFrame, side: str, not_in: DataFrame,
        deltas: DataFrame | None,
    ) -> DataFrame:
        rows = frontier_rows(level, side).join(
            F.broadcast(
                not_in.select(
                    F.col("s").alias("s_"), F.col("node").alias("node_")
                )
            ),
            (F.col("s") == F.col("s_")) & (F.col("dst") == F.col("node_")),
            "left_anti",
        )
        if deltas is not None:
            rows = rows.join(
                F.broadcast(
                    deltas.select(
                        F.col("s").alias("sd"),
                        F.col("node").alias("noded"),
                        F.col("delta").alias("wdelta"),
                    )
                ),
                (F.col("s") == F.col("sd")) & (F.col("dst") == F.col("noded")),
                "left",
            )
        else:
            rows = rows.withColumn(
                "wdelta", F.lit(None).cast("decimal(28,9)")
            )
        sw = F.sum("sigma").over(Window.partitionBy("s", "dst"))
        term = F.round(
            F.col("sigma") / sw.cast("double")
            * (1 + F.coalesce(F.col("wdelta"), F.lit(0)).cast("double")),
            9,
        ).cast("decimal(20,9)")
        return (
            rows.select("s", "node", term.alias("term"))
            .groupBy("s", "node")
            .agg(F.sum("term").cast("decimal(28,9)").alias("delta"))
        )

    # depth-3 accumulation: successors are the depth-3 customers
    # (everything reached from l2 that is not a depth-1 customer);
    # their sigma materializes inside the window, never as a table
    d2 = accumulate_windowed(l2, "supp", l1, None).localCheckpoint()
    # depth-2 accumulation: successors are the l2 suppliers (drop the
    # backtrack to the source itself), deltas from d2 by broadcast
    d1 = accumulate_windowed(l1, "cust", l0.select("s", "node"), d2)
    alldelta = d1.select("s", "node", "delta").union(
        d2.select("s", "node", "delta")
    )
    bc = alldelta.groupBy("node").agg(
        F.sum("delta").cast("decimal(38,9)").alias("bc"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    # decode BEFORE ranking: the oracle's tie-break is on the string
    # node name ("c..." / "s..."), not the internal int encoding
    named = bc.select(
        F.when(
            F.col("node") % 2 == 0,
            F.concat(F.lit("c"), (F.col("node") / 2).cast("bigint")),
        )
        .otherwise(
            F.concat(
                F.lit("s"), ((F.col("node") - 1) / 2).cast("bigint")
            )
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


# -- mr_rich_club ------------------------------------------------------
#
# Rich-club coefficient on the customer ⋈ supplier graph: for each
# degree threshold k in {2, 4, 8, 16, 32}, phi(k) = observed edges
# among nodes of degree > k divided by the bipartite maximum
# n_c(k) * n_s(k) — do the best-connected customers concentrate on
# the best-connected suppliers? (Colizza et al., adapted to the
# bipartite maximum.) Degrees come from one groupBy of the edge
# table; each threshold is a broadcast-semi-join filter, and the
# density ratio is exact-integer / exact-integer. Completes the
# macro-structure family beside mr_assortativity / mr_modularity.

RICHCLUB_SQL = """
WITH e0 AS (
  SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                  's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), deg AS (
  SELECT node, CAST(SUM(c) AS BIGINT) AS d FROM (
    SELECT src AS node, COUNT(*) AS c FROM e0 GROUP BY 1
    UNION ALL
    SELECT dst, COUNT(*) FROM e0 GROUP BY 1
  ) GROUP BY 1
), ks AS (SELECT UNNEST([2, 4, 8, 16, 32]) AS k),
rich AS (
  SELECT ks.k, deg.node, substr(deg.node, 1, 1) AS side
  FROM ks JOIN deg ON deg.d > ks.k
), side_counts AS (
  SELECT k,
         CAST(SUM(CASE WHEN side = 'c' THEN 1 ELSE 0 END) AS BIGINT)
           AS nc,
         CAST(SUM(CASE WHEN side = 's' THEN 1 ELSE 0 END) AS BIGINT)
           AS ns
  FROM rich GROUP BY 1
), rich_edges AS (
  SELECT r1.k, CAST(COUNT(*) AS BIGINT) AS ec
  FROM e0
  JOIN rich r1 ON r1.node = e0.src
  JOIN rich r2 ON r2.node = e0.dst AND r2.k = r1.k
  GROUP BY 1
)
SELECT s.k AS degree_threshold, s.nc AS n_rich_customers,
       s.ns AS n_rich_suppliers,
       COALESCE(re.ec, 0) AS rich_edges,
       round(CASE WHEN s.nc * s.ns > 0
                  THEN COALESCE(re.ec, 0)
                       / (CAST(s.nc AS DOUBLE) * s.ns) END, 6)
         AS phi
FROM side_counts s LEFT JOIN rich_edges re ON re.k = s.k
ORDER BY degree_threshold
"""


@query("mr_rich_club", oracle=RICHCLUB_SQL)
def mr_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BIGINT vertices (cust=2k, supp=2k+1, _nodekeys): output is
    # per-threshold counts, side derives from key parity.
    e0 = cust_supp_edges(Catalog(spark, sf_dir))
    deg = (
        e0.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("c"))
        .union(
            e0.groupBy(F.col("dst").alias("node")).agg(
                F.count(F.lit(1)).alias("c")
            )
        )
        .groupBy("node")
        .agg(F.sum("c").cast("bigint").alias("d"))
    )
    ks = e0.sparkSession.createDataFrame(
        [(2,), (4,), (8,), (16,), (32,)], ["k"]
    )
    rich = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .select(
            "k", "node",
            F.when(F.col("node") % 2 == 0, "c").otherwise("s").alias("side"),
        )
        .localCheckpoint()
    )
    side_counts = rich.groupBy("k").agg(
        F.sum(F.when(F.col("side") == "c", 1).otherwise(0))
        .cast("bigint")
        .alias("nc"),
        F.sum(F.when(F.col("side") == "s", 1).otherwise(0))
        .cast("bigint")
        .alias("ns"),
    )
    r1 = rich.select(F.col("k").alias("k1"), F.col("node").alias("n1"))
    r2 = rich.select(F.col("k").alias("k2"), F.col("node").alias("n2"))
    rich_edges = (
        e0.join(F.broadcast(r1), F.col("n1") == F.col("src"))
        .join(
            F.broadcast(r2),
            (F.col("n2") == F.col("dst")) & (F.col("k2") == F.col("k1")),
        )
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("ec"))
    )
    nc, ns = F.col("nc"), F.col("ns")
    ec = F.coalesce("ec", F.lit(0))
    return (
        side_counts.join(rich_edges, "k", "left")
        .select(
            F.col("k").alias("degree_threshold"),
            nc.alias("n_rich_customers"),
            ns.alias("n_rich_suppliers"),
            ec.cast("bigint").alias("rich_edges"),
            F.round(
                F.when(
                    nc * ns > 0, ec / (nc.cast("double") * ns)
                ),
                6,
            ).alias("phi"),
        )
        .orderBy("degree_threshold")
    )


# -- txt_lmir_dirichlet ------------------------------------------------
#
# Dirichlet-smoothed language-model retrieval (LMIR.DIR, mu = 2000)
# over the same 4-term query as txt_bm25: score(q, d) = sum_t
# ln((tf + mu * p(t|C)) / (dl + mu)) — including the ZERO-tf terms a
# sparse hits table misses, via a docs x query-terms grid left-joined
# against term hits (|q| = 4 rows broadcast, so the grid costs one
# map-side expansion). Collection LM p(t|C) from exact token counts.
# The probabilistic-IR counterpart to txt_bm25's heuristic scoring;
# ranks can and do differ on short docs, which is the point.

_LMIR_TERMS = ("spark", "join", "fast", "data")
_LMIR_SQL_TERMS = "('" + "', '".join(_LMIR_TERMS) + "')"

LMIR_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term
  FROM documents
), docs AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
), coll AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS total_tokens FROM toks
), cf AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS cf
  FROM toks WHERE term IN {_LMIR_SQL_TERMS} GROUP BY 1
), qterms AS (
  SELECT UNNEST(['spark', 'join', 'fast', 'data']) AS term
), hits AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks WHERE term IN {_LMIR_SQL_TERMS} GROUP BY 1, 2
), grid AS (
  SELECT d.doc_id, d.dl, q.term,
         COALESCE(h.tf, 0) AS tf, c.cf, coll.total_tokens
  FROM docs d CROSS JOIN qterms q
  JOIN cf c ON c.term = q.term
  CROSS JOIN coll
  LEFT JOIN hits h ON h.doc_id = d.doc_id AND h.term = q.term
)
SELECT doc_id,
       round(CAST(SUM(CAST(round(
         ln((tf + 2000.0 * cf / total_tokens) / (dl + 2000.0)), 9)
         AS DECIMAL(18,9))) AS DOUBLE), 6) AS score
FROM grid
GROUP BY doc_id
ORDER BY score DESC, doc_id
LIMIT 20
"""


@query("txt_lmir_dirichlet", oracle=LMIR_SQL)
def txt_lmir_dirichlet(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).localCheckpoint()
    docs = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    coll = toks.agg(F.count(F.lit(1)).cast("bigint").alias("total_tokens"))
    inq = toks.filter(F.col("term").isin(*_LMIR_TERMS))
    cf = inq.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("cf"))
    qterms = d.sparkSession.createDataFrame(
        [(t,) for t in _LMIR_TERMS], ["term"]
    )
    hits = inq.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    grid = (
        docs.crossJoin(F.broadcast(qterms))
        .join(F.broadcast(cf), "term")
        .join(F.broadcast(coll))
        .join(hits, ["doc_id", "term"], "left")
        .select(
            "doc_id", "dl", "term",
            F.coalesce("tf", F.lit(0)).alias("tf"),
            "cf", "total_tokens",
        )
    )
    term_score = F.round(
        F.log(
            (F.col("tf") + 2000.0 * F.col("cf") / F.col("total_tokens"))
            / (F.col("dl") + 2000.0)
        ),
        9,
    ).cast("decimal(18,9)")
    return (
        grid.groupBy("doc_id")
        .agg(F.round(F.sum(term_score).cast("double"), 6).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


# -- txt_self_bleu -----------------------------------------------------
#
# Self-BLEU-2 corpus diversity (Zhu et al.): each document is scored
# against a deterministic partner (consecutive docs in md5(doc_id)
# order — the house no-rand pairing), with modified bigram precision
# sum min(tf_cand, tf_ref) / len_cand and the brevity penalty
# exp(1 - ref/cand) when the candidate is shorter; HIGH mean
# self-BLEU = the corpus repeats itself (mode collapse in generated
# data), complementing dedup's binary verdicts with a graded
# diversity number. Clipped counts are exact integers off one bigram
# groupBy + pair join; per-pair scores are 6-rounded decimals folded
# exactly.

SELF_BLEU_SQL = """
WITH ordered AS (
  SELECT doc_id, text,
         ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rn
  FROM documents
), pairs AS (
  SELECT a.doc_id AS cand, b.doc_id AS ref
  FROM ordered a JOIN ordered b ON b.rn = a.rn + 1
  WHERE a.rn % 2 = 1
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bg AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bigram
  FROM toks, UNNEST(generate_series(1, len(ws) - 1)) AS t(i)
), cnt AS (
  SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS c
  FROM bg GROUP BY 1, 2
), dlen AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS nb FROM cnt GROUP BY 1
), clipped AS (
  SELECT p.cand, p.ref,
         CAST(SUM(LEAST(cc.c, cr.c)) AS BIGINT) AS clip
  FROM pairs p
  JOIN cnt cc ON cc.doc_id = p.cand
  JOIN cnt cr ON cr.doc_id = p.ref AND cr.bigram = cc.bigram
  GROUP BY 1, 2
), scored AS (
  SELECT p.cand,
         COALESCE(cl.clip, 0) / CAST(dc.nb AS DOUBLE) AS prec,
         CASE WHEN dc.nb < dr.nb
              THEN exp(1 - dr.nb / CAST(dc.nb AS DOUBLE)) ELSE 1.0 END
           AS bp
  FROM pairs p
  JOIN dlen dc ON dc.doc_id = p.cand
  JOIN dlen dr ON dr.doc_id = p.ref
  LEFT JOIN clipped cl ON cl.cand = p.cand AND cl.ref = p.ref
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(CAST(round(bp * prec, 6) AS DECIMAL(10,6)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_self_bleu2,
       round(CAST(SUM(CAST(round(prec, 6) AS DECIMAL(10,6))) AS DOUBLE)
             / COUNT(*), 6) AS mean_bigram_precision
FROM scored
"""


@query("txt_self_bleu", oracle=SELF_BLEU_SQL)
def txt_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    ordered = d.select(
        "doc_id",
        F.row_number()
        .over(
            Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        )
        .alias("rn"),
    ).localCheckpoint()
    a = ordered.alias("a")
    b = ordered.alias("b")
    pairs = (
        a.join(b, F.col("b.rn") == F.col("a.rn") + 1)
        .filter(F.col("a.rn") % 2 == 1)
        .select(
            F.col("a.doc_id").alias("cand"), F.col("b.doc_id").alias("ref")
        )
        .localCheckpoint()
    )
    ws = F.split("text", " ")
    toks = d.select("doc_id", ws.alias("ws"))
    bg = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(ws[i - 1], ' ', ws[i]))"
            )
        ).alias("bigram"),
    )
    cnt = bg.groupBy("doc_id", "bigram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint()
    dlen = cnt.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("nb")
    )
    cc = cnt.select(
        F.col("doc_id").alias("cdoc"), "bigram", F.col("c").alias("c1")
    )
    cr = cnt.select(
        F.col("doc_id").alias("rdoc"),
        F.col("bigram").alias("rbigram"),
        F.col("c").alias("c2"),
    )
    clipped = (
        pairs.join(cc, F.col("cdoc") == F.col("cand"))
        .join(
            cr,
            (F.col("rdoc") == F.col("ref"))
            & (F.col("rbigram") == F.col("bigram")),
        )
        .groupBy("cand", "ref")
        .agg(
            F.sum(F.least(F.col("c1"), F.col("c2")))
            .cast("bigint")
            .alias("clip")
        )
    )
    dc = dlen.select(F.col("doc_id").alias("cd"), F.col("nb").alias("ncb"))
    dr = dlen.select(F.col("doc_id").alias("rd"), F.col("nb").alias("nrb"))
    scored = (
        pairs.join(F.broadcast(dc), F.col("cd") == F.col("cand"))
        .join(F.broadcast(dr), F.col("rd") == F.col("ref"))
        .join(clipped, ["cand", "ref"], "left")
        .select(
            (
                F.coalesce("clip", F.lit(0)) / F.col("ncb").cast("double")
            ).alias("prec"),
            F.when(
                F.col("ncb") < F.col("nrb"),
                F.exp(1 - F.col("nrb") / F.col("ncb").cast("double")),
            )
            .otherwise(1.0)
            .alias("bp"),
        )
    )
    n = F.count(F.lit(1))
    return scored.agg(
        n.cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(
                F.round(F.col("bp") * F.col("prec"), 6).cast("decimal(10,6)")
            ).cast("double")
            / n,
            6,
        ).alias("mean_self_bleu2"),
        F.round(
            F.sum(F.round("prec", 6).cast("decimal(10,6)")).cast("double")
            / n,
            6,
        ).alias("mean_bigram_precision"),
    )


# -- txt_umass_coherence -----------------------------------------------
#
# UMass topic coherence over the corpus's top-12 content words
# (stopword-filtered document frequencies): C(wi, wj) =
# ln((D(wi, wj) + 1) / D(wj)) summed over ordered frequent-word pairs
# — the standard intrinsic score for whether a word cluster "hangs
# together" (Mimno et al.), here applied to the global top words as a
# corpus-cohesion diagnostic beside txt_collocations' PMI pairs.
# Document frequencies and co-occurrence counts are exact integers
# from one distinct-(doc, word) table; pair terms are 9-rounded
# decimals folded exactly. The pair set is top-k × top-k — bounded.

UMASS_STOP = (
    "a", "the", "and", "of", "to", "in", "is", "on", "for", "with",
)
_UMASS_STOP_SQL = "('" + "', '".join(UMASS_STOP) + "')"

UMASS_SQL = f"""
WITH dw AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
  FROM documents
), filt AS (
  SELECT doc_id, w FROM dw
  WHERE w NOT IN {_UMASS_STOP_SQL} AND len(w) >= 3
), df AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS d FROM filt GROUP BY 1
), topw AS (
  SELECT w, d, ROW_NUMBER() OVER (ORDER BY d DESC, w) AS rk
  FROM df QUALIFY rk <= 12
), pairs AS (
  SELECT a.w AS wi, b.w AS wj, a.d AS di, b.d AS dj
  FROM topw a JOIN topw b ON a.rk > b.rk
), co AS (
  SELECT p.wi, p.wj, p.dj,
         CAST(COUNT(*) AS BIGINT) AS dij
  FROM pairs p
  JOIN filt f1 ON f1.w = p.wi
  JOIN filt f2 ON f2.w = p.wj AND f2.doc_id = f1.doc_id
  GROUP BY 1, 2, 3
), terms AS (
  SELECT p.wi, p.wj,
         CAST(round(ln((COALESCE(co.dij, 0) + 1.0) / p.dj), 9)
              AS DECIMAL(16,9)) AS t
  FROM pairs p
  LEFT JOIN co ON co.wi = p.wi AND co.wj = p.wj
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(CAST(SUM(t) AS DOUBLE), 6) AS umass_coherence,
       round(CAST(SUM(t) AS DOUBLE) / COUNT(*), 6) AS mean_pair_score
FROM terms
"""
UMASS_SQL = UMASS_SQL.replace(
    """  FROM df QUALIFY rk <= 12
)""",
    """  FROM df
), topw2 AS (
  SELECT * FROM topw WHERE rk <= 12
)""",
).replace("FROM topw a JOIN topw b", "FROM topw2 a JOIN topw2 b")


@query("txt_umass_coherence", oracle=UMASS_SQL)
def txt_umass_coherence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    dw = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    filt = dw.filter(
        ~F.col("w").isin(*UMASS_STOP) & (F.length("w") >= 3)
    ).localCheckpoint()
    df = filt.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    topw = df.select(
        "w", "d",
        F.row_number()
        .over(Window.orderBy(F.col("d").desc(), "w"))
        .alias("rk"),
    ).filter(F.col("rk") <= 12).localCheckpoint()
    a, b = topw.alias("a"), topw.alias("b")
    pairs = a.join(b, F.col("a.rk") > F.col("b.rk")).select(
        F.col("a.w").alias("wi"),
        F.col("b.w").alias("wj"),
        F.col("b.d").alias("dj"),
    )
    f1 = filt.select(F.col("doc_id").alias("d1"), F.col("w").alias("w1"))
    f2 = filt.select(F.col("doc_id").alias("d2"), F.col("w").alias("w2"))
    co = (
        pairs.join(F.broadcast(f1).hint("broadcast"), F.col("w1") == F.col("wi"))
        .join(
            f2,
            (F.col("w2") == F.col("wj")) & (F.col("d2") == F.col("d1")),
        )
        .groupBy("wi", "wj")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dij"))
    )
    terms = pairs.join(co, ["wi", "wj"], "left").select(
        F.round(
            F.log(
                (F.coalesce("dij", F.lit(0)) + 1.0) / F.col("dj")
            ),
            9,
        )
        .cast("decimal(16,9)")
        .alias("t")
    )
    n = F.count(F.lit(1))
    return terms.agg(
        n.cast("bigint").alias("n_pairs"),
        F.round(F.sum("t").cast("double"), 6).alias("umass_coherence"),
        F.round(F.sum("t").cast("double") / n, 6).alias("mean_pair_score"),
    )


# -- txt_gries_dp ------------------------------------------------------
#
# Gries' Deviation of Proportions (DP) corpus dispersion for the
# top-10 content words: DP(w) = 0.5 * sum_parts |share of w's tokens
# in part - part's share of all tokens| over the source partition —
# 0 = the word spreads exactly like the corpus, 1 = confined to one
# source; the dispersion axis that raw frequency (txt_zipf) and
# cohesion (txt_umass_coherence) both miss, and the standard
# corpus-linguistics replacement for juilland's D. Exact token
# counts; 12-rounded |.| terms folded exactly.

GRIES_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents
), filt AS (
  SELECT source, w FROM toks WHERE len(w) >= 3
), parts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS pt,
         CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS tt
  FROM filt GROUP BY 1
), wf AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM filt GROUP BY 1
), topw AS (
  SELECT w, f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS rk FROM wf
), topw10 AS (SELECT * FROM topw WHERE rk <= 10),
wp AS (
  SELECT f.w, f.source, CAST(COUNT(*) AS BIGINT) AS c
  FROM filt f JOIN topw10 t ON t.w = f.w
  GROUP BY 1, 2
), grid AS (
  SELECT t.w, t.f, p.source, p.pt, p.tt, COALESCE(wp.c, 0) AS c
  FROM topw10 t CROSS JOIN parts p
  LEFT JOIN wp ON wp.w = t.w AND wp.source = p.source
)
SELECT w AS word, CAST(f AS BIGINT) AS freq,
       round(0.5 * CAST(SUM(CAST(round(
           abs(c / CAST(f AS DOUBLE) - pt / CAST(tt AS DOUBLE)), 12)
         AS DECIMAL(16,12))) AS DOUBLE), 6) AS gries_dp
FROM grid
GROUP BY w, f
ORDER BY word
"""


@query("txt_gries_dp", oracle=GRIES_SQL)
def txt_gries_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    filt = d.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    ).filter(F.length("w") >= 3).localCheckpoint()
    wall = Window.partitionBy().orderBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    parts = (
        filt.groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("pt"))
        .select("source", "pt", F.sum("pt").over(wall).cast("bigint").alias("tt"))
    )
    wf = filt.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    topw = wf.select(
        "w", "f",
        F.row_number().over(Window.orderBy(F.col("f").desc(), "w"))
        .alias("rk"),
    ).filter(F.col("rk") <= 10).localCheckpoint()
    wp = (
        filt.join(F.broadcast(topw.select("w")), "w")
        .groupBy("w", "source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    grid = (
        topw.crossJoin(F.broadcast(parts))
        .join(wp, ["w", "source"], "left")
        .select(
            "w", "f", "source", "pt", "tt",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    term = F.round(
        F.abs(
            F.col("c") / F.col("f").cast("double")
            - F.col("pt") / F.col("tt").cast("double")
        ),
        12,
    ).cast("decimal(16,12)")
    return (
        grid.select("w", "f", term.alias("t"))
        .groupBy("w")
        .agg(
            F.max("f").cast("bigint").alias("freq"),
            F.round(0.5 * F.sum("t").cast("double"), 6).alias("gries_dp"),
        )
        .select(F.col("w").alias("word"), "freq", "gries_dp")
        .orderBy("word")
    )


# -- txt_good_turing ---------------------------------------------------
#
# Good-Turing unseen-mass estimation per source: the frequency-of-
# frequencies table N_r gives P0 = N_1 / N (the probability the NEXT
# token is a never-seen word — the missing-mass estimate behind
# every smoothed LM, including the Kneser-Ney entry) plus the
# Turing-discounted count r* = (r+1) N_{r+1} / N_r for r = 1..3 —
# vocabulary-growth forecasting from exact integer count-of-count
# tables, the probabilistic layer above txt_chao1_richness's
# abundance estimate. Everything is exact integers until the final
# ratios.

GT_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents
), wf AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS r
  FROM toks GROUP BY 1, 2
), nr AS (
  SELECT source, r, CAST(COUNT(*) AS BIGINT) AS n_r
  FROM wf GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
         CAST(SUM(n_r) AS BIGINT) AS v
  FROM nr GROUP BY 1
), wide AS (
  SELECT t.source, t.n_tokens, t.v,
         MAX(CASE WHEN r = 1 THEN n_r END) AS n1,
         MAX(CASE WHEN r = 2 THEN n_r END) AS n2,
         MAX(CASE WHEN r = 3 THEN n_r END) AS n3,
         MAX(CASE WHEN r = 4 THEN n_r END) AS n4
  FROM nr JOIN tot t ON t.source = nr.source
  GROUP BY 1, 2, 3
)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(v AS BIGINT) AS vocab,
       round(n1 / CAST(n_tokens AS DOUBLE), 6) AS p_unseen,
       round(2.0 * n2 / n1, 6) AS r_star_1,
       round(3.0 * n3 / n2, 6) AS r_star_2,
       round(4.0 * n4 / n3, 6) AS r_star_3
FROM wide
ORDER BY source
"""


@query("txt_good_turing", oracle=GT_SQL)
def txt_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    toks = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    wf = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    nr = wf.groupBy("source", "r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    ).localCheckpoint()
    tot = nr.groupBy("source").agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n_tokens"),
        F.sum("n_r").cast("bigint").alias("v"),
    )
    pick = lambda rv: F.max(  # noqa: E731
        F.when(F.col("r") == rv, F.col("n_r"))
    )
    wide = (
        nr.join(tot, "source")
        .groupBy("source", "n_tokens", "v")
        .agg(
            pick(1).alias("n1"), pick(2).alias("n2"),
            pick(3).alias("n3"), pick(4).alias("n4"),
        )
    )
    return wide.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("v").cast("bigint").alias("vocab"),
        F.round(
            F.col("n1") / F.col("n_tokens").cast("double"), 6
        ).alias("p_unseen"),
        F.round(2.0 * F.col("n2") / F.col("n1"), 6).alias("r_star_1"),
        F.round(3.0 * F.col("n3") / F.col("n2"), 6).alias("r_star_2"),
        F.round(4.0 * F.col("n4") / F.col("n3"), 6).alias("r_star_3"),
    ).orderBy("source")


# -- txt_yule_k --------------------------------------------------------
#
# Yule's K vocabulary-richness characteristic per source: K =
# 1e4 * (sum r^2 N_r - N) / N^2 over the count-of-counts table —
# length-invariant repetitiveness (high K = a few words dominate),
# the classical stylometry constant beside txt_burrows_delta's
# distance and txt_good_turing's unseen mass, computed from the SAME
# exact frequency-of-frequencies integers. Also reports Simpson's D
# for words (K/1e4 asymptotically) as the cross-check column.

YULE_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents
), wf AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS r
  FROM toks GROUP BY 1, 2
), nr AS (
  SELECT source, r, CAST(COUNT(*) AS BIGINT) AS n_r
  FROM wf GROUP BY 1, 2
), agg AS (
  SELECT source,
         CAST(SUM(r * n_r) AS BIGINT) AS n,
         CAST(SUM(r * r * n_r) AS BIGINT) AS s2
  FROM nr GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_tokens,
       round(10000.0 * (s2 - n) / (CAST(n AS DOUBLE) * n), 6) AS yule_k,
       round((s2 - n) / (CAST(n AS DOUBLE) * (n - 1)), 9) AS simpson_d
FROM agg
ORDER BY source
"""


@query("txt_yule_k", oracle=YULE_SQL)
def txt_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    toks = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    wf = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("r")
    )
    nr = wf.groupBy("source", "r").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    agg = nr.groupBy("source").agg(
        F.sum(F.col("r") * F.col("n_r")).cast("bigint").alias("n"),
        F.sum(F.col("r") * F.col("r") * F.col("n_r")).cast("bigint")
        .alias("s2"),
    )
    n, s2 = F.col("n"), F.col("s2")
    return agg.select(
        "source",
        n.cast("bigint").alias("n_tokens"),
        F.round(10000.0 * (s2 - n) / (n.cast("double") * n), 6)
        .alias("yule_k"),
        F.round((s2 - n) / (n.cast("double") * (n - 1)), 9)
        .alias("simpson_d"),
    ).orderBy("source")


# -- txt_char_entropy --------------------------------------------------
#
# Character-level entropy profile per source: unigram entropy H1,
# bigram entropy H2, the conditional entropy H(c2|c1) = H2 - H1 (the
# compressibility proxy — gzip-ratio without gzip), and redundancy
# 1 - H1/log2|alphabet| — encoding/quality fingerprints that word-
# level measures (txt_word_entropy) cannot see because they tokenize
# first. All probabilities are exact character/bigram count ratios;
# p log2 p terms are 9-rounded decimal folds.

CHAR_ENT_SQL = """
WITH uni0 AS (
  SELECT source, substr(text, i, 1) AS c1
  FROM documents, UNNEST(generate_series(1, len(text))) AS t(i)
), bi0 AS (
  SELECT source, substr(text, i, 2) AS bg
  FROM documents, UNNEST(generate_series(1, len(text) - 1)) AS t(i)
), uni AS (
  SELECT source, c1, CAST(COUNT(*) AS BIGINT) AS c FROM uni0 GROUP BY 1, 2
), utot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS alpha
  FROM uni GROUP BY 1
), h1 AS (
  SELECT u.source,
         CAST(SUM(CAST(round(-(c / CAST(n AS DOUBLE))
                             * log2(c / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(16,9))) AS DOUBLE) AS h1,
         MAX(alpha) AS alpha
  FROM uni u JOIN utot ON utot.source = u.source
  GROUP BY 1
), bi AS (
  SELECT source, bg, CAST(COUNT(*) AS BIGINT) AS c FROM bi0 GROUP BY 1, 2
), btot AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM bi GROUP BY 1
), h2 AS (
  SELECT b.source,
         CAST(SUM(CAST(round(-(c / CAST(n AS DOUBLE))
                             * log2(c / CAST(n AS DOUBLE)), 9)
                       AS DECIMAL(16,9))) AS DOUBLE) AS h2
  FROM bi b JOIN btot ON btot.source = b.source
  GROUP BY 1
)
SELECT h1.source,
       round(h1.h1, 6) AS h1_bits,
       round(h2.h2 - h1.h1, 6) AS cond_entropy_bits,
       round(1 - h1.h1 / log2(CAST(h1.alpha AS DOUBLE)), 6)
         AS redundancy
FROM h1 JOIN h2 ON h2.source = h1.source
ORDER BY h1.source
"""


@query("txt_char_entropy", oracle=CHAR_ENT_SQL)
def txt_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~7M exploded chars + bigrams from a 1-partition single-file
    # scan: heal before BOTH explode passes
    d = spread(Catalog(spark, sf_dir).documents)
    uni0 = d.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text)),"
                " i -> substring(text, i, 1))"
            )
        ).alias("c1"),
    )
    bi0 = d.select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 1),"
                " i -> substring(text, i, 2))"
            )
        ).alias("bg"),
    )
    uni = uni0.groupBy("source", "c1").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    utot = uni.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("alpha"),
    )
    ent_term = lambda n: F.round(  # noqa: E731
        -(F.col("c") / n.cast("double"))
        * F.log2(F.col("c") / n.cast("double")),
        9,
    ).cast("decimal(16,9)")
    h1 = (
        uni.join(utot, "source")
        .groupBy("source")
        .agg(
            F.sum(ent_term(F.col("n"))).cast("double").alias("h1"),
            F.max("alpha").alias("alpha"),
        )
    )
    bi = bi0.groupBy("source", "bg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    btot = bi.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    h2 = (
        bi.join(btot, "source")
        .groupBy("source")
        .agg(F.sum(ent_term(F.col("n"))).cast("double").alias("h2"))
    )
    return (
        h1.join(h2, "source")
        .select(
            "source",
            F.round("h1", 6).alias("h1_bits"),
            F.round(F.col("h2") - F.col("h1"), 6)
            .alias("cond_entropy_bits"),
            F.round(
                1 - F.col("h1") / F.log2(F.col("alpha").cast("double")), 6
            ).alias("redundancy"),
        )
        .orderBy("source")
    )


# -- txt_fishers_alpha -------------------------------------------------
#
# Fisher's alpha per source — THE classical diversity index, the
# log-series parameter solving S = alpha * ln(1 + N/alpha) for
# tokens N and vocabulary S, found by three UNROLLED fixed-point
# steps alpha <- S / ln(1 + N/alpha) from the alpha = S seed
# (6-rounded per step, both engines branch identically) — sample-
# size-robust where raw type-token ratios (txt_segment_ttr) shrink
# with length, and the abundance-model sibling of txt_chao1_richness
# and txt_good_turing. Counts exact; three double steps.

FISHER_ALPHA_SQL = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS w
  FROM documents
), agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT w) AS BIGINT) AS s
  FROM toks GROUP BY 1
), a0 AS (
  SELECT source, n, s, round(s / ln(1 + n / CAST(s AS DOUBLE)), 6) AS a
  FROM agg
), a1 AS (
  SELECT source, n, s, round(s / ln(1 + n / a), 6) AS a FROM a0
), a2 AS (
  SELECT source, n, s, round(s / ln(1 + n / a), 6) AS a FROM a1
)
SELECT source, CAST(n AS BIGINT) AS n_tokens, CAST(s AS BIGINT) AS vocab,
       a AS fishers_alpha,
       round(s / ln(1 + n / a) - a, 6) AS convergence_gap
FROM a2
ORDER BY source
"""


@query("txt_fishers_alpha", oracle=FISHER_ALPHA_SQL)
def txt_fishers_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents
    toks = d.select("source", F.explode(F.split("text", " ")).alias("w"))
    agg = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.countDistinct("w").cast("bigint").alias("s"),
    )
    n, s = F.col("n"), F.col("s")
    step = lambda prev: F.round(  # noqa: E731
        s / F.log(1 + n / prev), 6
    )
    a0 = agg.select(
        "source", "n", "s", step(s.cast("double")).alias("a")
    )
    a1 = a0.select("source", "n", "s", step(F.col("a")).alias("a"))
    a2 = a1.select("source", "n", "s", step(F.col("a")).alias("a"))
    return a2.select(
        "source",
        n.cast("bigint").alias("n_tokens"),
        s.cast("bigint").alias("vocab"),
        F.col("a").alias("fishers_alpha"),
        F.round(s / F.log(1 + n / F.col("a")) - F.col("a"), 6)
        .alias("convergence_gap"),
    ).orderBy("source")
