"""Rank statistics and model-selection shapes q219-q223.

Completes the statistics suite (q144 Welch, q171 KM, q172 z-test,
q173 Theil-Sen, q190 chi-square, q191 KS, q192 Wilson, q198 OLS,
q199 weighted median) with the RANK-based family — Spearman, Kendall,
Mann-Whitney — plus categorical-association strength (Cramér's V /
mutual information) and a Gini-optimal decision stump.

Determinism contract shared by the rank statistics: average ranks are
carried as the INTEGER ``2·rank + ties − 1`` (twice the midrank), and
every moment that feeds a final ratio is an exact BIGINT sum of
centered integers, so engine summation order cannot move a ROUND
boundary. Bounds: the largest such moment is Σd² ≤ n³ (n = rows per
group), which fits BIGINT up to n ≈ 2M rows per group; beyond that a
single pre-scaling of ranks (divide the centered rank by a constant)
keeps the same 6-dp output — noted per query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from harmony_spark.io import shared_build, table_parallel
from harmony_spark.registry import register

__all__ = ["q219", "q220", "q221", "q222", "q223", "q228", "q229", "q230", "q232", "q233", "q238", "q239", "q240", "q241", "q247", "q248", "q249", "q259", "q260", "q268", "q269", "q270", "q275", "q276", "q280", "q288", "q295", "q298", "q299", "q300", "q301", "q302", "q303", "q304", "q305", "q306", "q307", "q308", "q317", "q319", "q326", "q327", "q329", "q330", "q331", "q333", "q336", "q342", "q343", "q344", "q345", "q349", "q350", "q354", "q359", "q360", "q361", "q362", "q364", "q365", "q366", "q367", "q370", "q371", "q378"]


def _q219_pts(spark: SparkSession, sf: str) -> DataFrame:
    return table_parallel(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )


@shared_build("q219_xdf")
def _q219_xdf(spark: SparkSession, sf: str) -> DataFrame:
    """q219's bounded-domain x census (grp, x, rx2): deterministic over
    the immutable input, so warm sessions (the bench, repeated
    dashboards) reuse it instead of re-scanning the fact table."""
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        _q219_pts(spark, sf)
        .groupBy("grp", "x")
        .agg(F.count("*").alias("c"))
        .withColumn(
            "rx2",
            (
                2 * (F.coalesce(F.sum("c").over(w_cum), F.lit(0)) + 1)
                + F.col("c")
                - 1
            ).cast("long"),
        )
        .select("grp", "x", "rx2")
    )


@register(
    "q219_spearman_rho",
    oracle="""
        WITH pts AS (
          SELECT l_returnflag AS grp,
                 CAST(l_quantity AS BIGINT) AS x,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        ranked AS (
          SELECT grp, x, y,
                 2 * RANK() OVER (PARTITION BY grp ORDER BY x)
                   + COUNT(*) OVER (PARTITION BY grp, x) - 1 AS rx2,
                 2 * RANK() OVER (PARTITION BY grp ORDER BY y)
                   + COUNT(*) OVER (PARTITION BY grp, y) - 1 AS ry2,
                 COUNT(*) OVER (PARTITION BY grp) AS n
          FROM pts
        ),
        centered AS (
          SELECT grp, n, rx2 - (n + 1) AS dx, ry2 - (n + 1) AS dy
          FROM ranked
        )
        SELECT grp, CAST(MAX(n) AS BIGINT) AS n,
               ROUND(SUM(dx * dy)
                     / SQRT(1.0 * SUM(dx * dx) * SUM(dy * dy)), 6) AS rho
        FROM centered GROUP BY grp ORDER BY grp
    """,
    doc="Spearman rank correlation rho per group (quantity vs "
    "extended price within each returnflag), tie-aware: midranks "
    "via the integer 2·rank+ties−1 trick, expanded algebraically so "
    "all three moments (Σdxdy, Σdx², Σdy²) are exact DECIMAL(38,0) "
    "sums of integers (HUGEINT parity with the oracle; BIGINT wraps "
    "past ~1M rows/group) — Pearson-on-midranks IS the definition "
    "of Spearman under ties, and the integer moments make the 6-dp "
    "rho engine-stable with no double-summation-order surface. Plan "
    "shape: a bounded-domain census window for x, a sharded rank "
    "pass for y, then ONE hash aggregate — no driver actions beyond "
    "the rank-stats phase. Read against q125/q198, the PEARSON "
    "formulations on raw values.",
)
def q219(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.operators.dist_rank import with_global_rank

    pts = _q219_pts(spark, sf)
    # Quantity's value domain is BOUNDED (integer units 1..50), so its
    # per-group doubled-midrank table is a tiny (grp, x) aggregate; the
    # cumulative tie-count window over that CENSUS (<= |grps|x|domain|
    # rows, each partition <= |domain|) turns min-rank into a column
    # without any driver action — the census stays inside the main job
    # and reaches the fact join through a broadcast exchange.
    # Price-cents is entity-scale and takes the sharded min-rank pass
    # (never a per-group single partition: l_returnflag has 3 values,
    # so a grp-partitioned window is 3 tasks sorting 1/3 of the table
    # each at 100 TB) with the tie count framed into the same shard
    # window.  The centered moments then EXPAND algebraically —
    # sum(dx*dy) = sxy - (n+1)(sx + sy) + n(n+1)^2 with
    # dx = rx2 - (n+1) — so everything reduces to ONE hash aggregate of
    # exact uncentered moments.  All moment terms are summed as
    # DECIMAL(38,0) (exact integers to 10^38, matching the oracle's
    # HUGEINT): sum(rx2*ry2) <= 4n^3 wraps BIGINT past ~1M rows/group
    # in non-ANSI Spark, silently; decimal keeps rho exact to ~10^12
    # rows/group.
    xdf = _q219_xdf(spark, sf)
    r2, _ = with_global_rank(
        pts,
        "y",
        (),
        kind="rank",
        partition_by=("grp",),
        out="rky",
        tie_count_col="ty",
    )
    s2 = r2.withColumn("ry2", 2 * F.col("rky") + F.col("ty") - 1).join(
        F.broadcast(xdf), ["grp", "x"]
    )
    dec = "decimal(38,0)"
    rx2d = F.col("rx2").cast(dec)
    ry2d = F.col("ry2").cast(dec)
    g = s2.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum(rx2d * ry2d).alias("sxy"),
        F.sum(rx2d).alias("sx"),
        F.sum(ry2d).alias("sy"),
        F.sum(rx2d * rx2d).alias("sxx"),
        F.sum(ry2d * ry2d).alias("syy"),
    )
    n1 = (F.col("n") + 1).cast(dec)
    nd = F.col("n").cast(dec)
    num = F.col("sxy") - n1 * (F.col("sx") + F.col("sy")) + nd * n1 * n1
    dxx = F.col("sxx") - 2 * n1 * F.col("sx") + nd * n1 * n1
    dyy = F.col("syy") - 2 * n1 * F.col("sy") + nd * n1 * n1
    # the denominator product can exceed decimal(38,0) (~n^6); mirror the
    # oracle's 1.0*dxx*dyy double math exactly
    denom = F.sqrt(dxx.cast("double") * dyy.cast("double"))
    return (
        g.select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.round(num.cast("double") / denom, 6).alias("rho"),
        )
        .orderBy("grp")
    )


@register(
    "q220_kendall_tau",
    oracle="""
        WITH census AS (
          SELECT n.n_name AS nation,
                 CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents,
                 CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
          FROM orders o
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n   ON n.n_nationkey = c.c_nationkey
          GROUP BY n.n_name
        ),
        pairs AS (
          SELECT CASE WHEN (a.rev_cents - b.rev_cents)
                           * (a.n_cust - b.n_cust) > 0 THEN 1 ELSE 0
                 END AS conc,
                 CASE WHEN (a.rev_cents - b.rev_cents)
                           * (a.n_cust - b.n_cust) < 0 THEN 1 ELSE 0
                 END AS disc,
                 CASE WHEN a.rev_cents = b.rev_cents THEN 1 ELSE 0
                 END AS tie_x,
                 CASE WHEN a.n_cust = b.n_cust THEN 1 ELSE 0 END AS tie_y
          FROM census a JOIN census b ON a.nation < b.nation
        )
        SELECT CAST((SELECT COUNT(*) FROM census) AS BIGINT) AS n,
               CAST(SUM(conc) AS BIGINT) AS concordant,
               CAST(SUM(disc) AS BIGINT) AS discordant,
               ROUND((SUM(conc) - SUM(disc))
                     / SQRT(1.0 * (COUNT(*) - SUM(tie_x))
                            * (COUNT(*) - SUM(tie_y))), 6) AS tau_b
        FROM pairs
    """,
    doc="Kendall tau-b between a nation's total order revenue and its "
    "customer count — concordant/discordant/tied pair counts over "
    "the all-pairs self-join of the 25-row nation census, with the "
    "tie-corrected tau-b denominator. The quadratic pair join is "
    "BOUNDED BY CONSTRUCTION: it runs on the aggregated census "
    "(|nations|² pairs, never |orders|²), the pattern every "
    "pairwise statistic should follow at 100 TB — aggregate first, "
    "then go quadratic on the census. All pair counts are exact "
    "integers; tau_b's single SQRT is computed from them. Read "
    "against q219 (Spearman, rank-based) and q173 (Theil-Sen, the "
    "median-slope cousin of the same concordance idea).",
)
def q220(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = table_parallel(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = table_parallel(spark, sf, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    census = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("nation")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
            F.countDistinct("c_custkey").cast("long").alias("n_cust"),
        )
    )
    a = census.select(
        F.col("nation").alias("na"),
        F.col("rev_cents").alias("xa"),
        F.col("n_cust").alias("ya"),
    )
    b = census.select(
        F.col("nation").alias("nb"),
        F.col("rev_cents").alias("xb"),
        F.col("n_cust").alias("yb"),
    )
    # |nations|² pairs on a broadcast census — bounded, not a fact join.
    pairs = a.join(F.broadcast(b), F.col("na") < F.col("nb")).select(
        F.when(
            (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb")) > 0, 1
        )
        .otherwise(0)
        .alias("conc"),
        F.when(
            (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb")) < 0, 1
        )
        .otherwise(0)
        .alias("disc"),
        F.when(F.col("xa") == F.col("xb"), 1).otherwise(0).alias("tie_x"),
        F.when(F.col("ya") == F.col("yb"), 1).otherwise(0).alias("tie_y"),
    )
    n_census = census.agg(F.count("*").cast("long").alias("n"))
    return n_census.crossJoin(
        pairs.agg(
            F.sum("conc").cast("long").alias("concordant"),
            F.sum("disc").cast("long").alias("discordant"),
            F.round(
                (F.sum("conc") - F.sum("disc"))
                / F.sqrt(
                    1.0
                    * (F.count("*") - F.sum("tie_x"))
                    * (F.count("*") - F.sum("tie_y"))
                ),
                6,
            ).alias("tau_b"),
        )
    ).select("n", "concordant", "discordant", "tau_b")


@register(
    "q221_mann_whitney",
    oracle="""
        WITH pts AS (
          SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
                 END AS g,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ),
        ranked AS (
          SELECT g, v,
                 2 * RANK() OVER (ORDER BY v)
                   + COUNT(*) OVER (PARTITION BY v) - 1 AS r2
          FROM pts
        ),
        agg AS (
          SELECT CAST(SUM(g) AS BIGINT) AS n1,
                 CAST(SUM(1 - g) AS BIGINT) AS n2,
                 CAST(SUM(CASE WHEN g = 1 THEN r2 ELSE 0 END) AS BIGINT)
                   AS r1_x2
          FROM ranked
        ),
        ties AS (
          SELECT CAST(SUM(t * t * t - t) AS BIGINT) AS tie_term
          FROM (SELECT COUNT(*) AS t FROM pts GROUP BY v) x
        )
        SELECT n1, n2,
               r1_x2 - n1 * (n1 + 1) AS u1_x2,
               ROUND((0.5 * (r1_x2 - n1 * (n1 + 1)) - 0.5 * n1 * n2)
                     / SQRT(n1 * n2 / 12.0
                            * ((n1 + n2 + 1)
                               - 1.0 * tie_term
                                 / ((n1 + n2) * (n1 + n2 - 1.0)))), 6) AS z
        FROM agg, ties
    """,
    doc="Mann-Whitney U (Wilcoxon rank-sum) with normal approximation "
    "and tie correction: URGENT vs LOW order values — the "
    "nonparametric two-sample location test that q144's Welch t "
    "cannot replace when the distributions are skewed. Midranks "
    "carried as the integer 2·rank+ties−1, so the rank sum, U "
    "(emitted as the integer 2·U — U itself can be half-integral "
    "under ties), and the tie-correction term Σ(t³−t) are all "
    "exact BIGINTs; z's one SQRT is computed from them. Plan "
    "shape: the global rank is the two-phase sharded rank "
    "(dist_rank.with_global_rank — quantile shards + offset join, "
    "never a single-task window), one tie census, one row out.",
)
def q221(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = (
        table_parallel(spark, sf, "orders")
        .where(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select(
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .alias("g"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
    )
    from harmony_spark.operators.dist_rank import with_global_rank

    gr, _ = with_global_rank(pts, "v", (), kind="rank", out="gr")
    ranked = gr.select(
        "g",
        "v",
        (
            2 * F.col("gr") + F.count("*").over(Window.partitionBy("v")) - 1
        ).alias("r2"),
    )
    agg = ranked.agg(
        F.sum("g").cast("long").alias("n1"),
        F.sum(1 - F.col("g")).cast("long").alias("n2"),
        F.sum(F.when(F.col("g") == 1, F.col("r2")).otherwise(0))
        .cast("long")
        .alias("r1_x2"),
    )
    ties = (
        pts.groupBy("v")
        .agg(F.count("*").alias("t"))
        .agg(
            F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
            .cast("long")
            .alias("tie_term")
        )
    )
    j = agg.crossJoin(ties)
    u1_x2 = F.col("r1_x2") - F.col("n1") * (F.col("n1") + 1)
    n_tot = F.col("n1") + F.col("n2")
    sigma = F.sqrt(
        F.col("n1")
        * F.col("n2")
        / 12.0
        * (
            (n_tot + 1)
            - 1.0 * F.col("tie_term") / (n_tot * (n_tot - 1.0))
        )
    )
    return j.select(
        "n1",
        "n2",
        u1_x2.alias("u1_x2"),
        F.round(
            (0.5 * u1_x2 - 0.5 * F.col("n1") * F.col("n2")) / sigma, 6
        ).alias("z"),
    )


@register(
    "q222_categorical_association",
    oracle="""
        WITH cells AS (
          SELECT c.c_mktsegment AS seg, r.r_name AS region,
                 CAST(COUNT(*) AS BIGINT) AS nij
          FROM customer c
          JOIN nation n ON n.n_nationkey = c.c_nationkey
          JOIN region r ON r.r_regionkey = n.n_regionkey
          GROUP BY seg, region
        ),
        tot AS (
          SELECT SUM(nij) AS n,
                 COUNT(DISTINCT seg) AS nr,
                 COUNT(DISTINCT region) AS nc
          FROM cells
        ),
        marg AS (
          SELECT c.seg, c.region, c.nij,
                 SUM(c.nij) OVER (PARTITION BY c.seg) AS ni,
                 SUM(c.nij) OVER (PARTITION BY c.region) AS nj
          FROM cells c
        )
        SELECT CAST(t.n AS BIGINT) AS n,
               ROUND(SUM((m.nij - 1.0 * m.ni * m.nj / t.n)
                         * (m.nij - 1.0 * m.ni * m.nj / t.n)
                         / (1.0 * m.ni * m.nj / t.n)), 6) AS chi2,
               ROUND(SQRT(SUM((m.nij - 1.0 * m.ni * m.nj / t.n)
                              * (m.nij - 1.0 * m.ni * m.nj / t.n)
                              / (1.0 * m.ni * m.nj / t.n))
                          / (t.n * (LEAST(t.nr, t.nc) - 1))), 6)
                 AS cramers_v,
               ROUND(SUM((1.0 * m.nij / t.n)
                         * LN(1.0 * m.nij * t.n / (m.ni * m.nj))), 6)
                 AS mutual_info
        FROM marg m, tot t
        GROUP BY t.n, t.nr, t.nc
    """,
    doc="Categorical association strength between market segment and "
    "region: chi-square statistic, Cramér's V (the [0,1]-normalized "
    "effect size q190's raw chi2 lacks), and mutual information in "
    "nats — all from ONE contingency aggregate with window-sum "
    "marginals, the single-pass contingency pattern. Cells with "
    "nij=0 contribute nothing to MI by convention and cannot occur "
    "in the chi2 sum here (only observed cells are materialized; "
    "expected counts use full marginals, so sparse zero cells are "
    "a documented approximation of the textbook chi2 — exact when "
    "the table is dense, as segment×region is). Integer counts in, "
    "three 6-dp doubles out over ≤|seg|·|region| cells.",
)
def q222(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    c = table_parallel(spark, sf, "customer").select(
        "c_custkey", "c_nationkey", F.col("c_mktsegment").alias("seg")
    )
    n = table_parallel(spark, sf, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    r = table_parallel(spark, sf, "region").select(
        "r_regionkey", F.col("r_name").alias("region")
    )
    cells = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("seg", "region")
        .agg(F.count("*").cast("long").alias("nij"))
    )
    marg = cells.select(
        "seg",
        "region",
        "nij",
        F.sum("nij").over(Window.partitionBy("seg")).alias("ni"),
        F.sum("nij").over(Window.partitionBy("region")).alias("nj"),
        F.sum("nij").over(Window.partitionBy()).alias("n"),
        F.size(
            F.collect_set("seg").over(Window.partitionBy())
        ).alias("nr"),
        F.size(
            F.collect_set("region").over(Window.partitionBy())
        ).alias("nc"),
    )
    e = 1.0 * F.col("ni") * F.col("nj") / F.col("n")
    chi2 = F.sum((F.col("nij") - e) * (F.col("nij") - e) / e)
    mi = F.sum(
        (1.0 * F.col("nij") / F.col("n"))
        * F.log(1.0 * F.col("nij") * F.col("n") / (F.col("ni") * F.col("nj")))
    )
    return marg.groupBy("n", "nr", "nc").agg(
        chi2.alias("_chi2"),
        mi.alias("_mi"),
    ).select(
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_chi2"), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("_chi2")
                / (F.col("n") * (F.least("nr", "nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
        F.round(F.col("_mi"), 6).alias("mutual_info"),
    )


@register(
    "q223_decision_stump",
    oracle="""
        WITH pts AS (
          SELECT CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS bucket,
                 CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS y
          FROM orders
        ),
        hist AS (
          SELECT bucket, COUNT(*) AS nb, SUM(y) AS pb
          FROM pts GROUP BY bucket
        ),
        cum AS (
          SELECT bucket,
                 SUM(nb) OVER (ORDER BY bucket) AS nl,
                 SUM(pb) OVER (ORDER BY bucket) AS pl,
                 SUM(nb) OVER () AS n,
                 SUM(pb) OVER () AS p
          FROM hist
        ),
        scored AS (
          SELECT bucket AS threshold,
                 CAST(nl AS BIGINT) AS n_left,
                 ROUND(1.0
                       - (1.0 * pl * pl + 1.0 * (nl - pl) * (nl - pl))
                         / (1.0 * nl * n)
                       - (1.0 * (p - pl) * (p - pl)
                          + 1.0 * ((n - nl) - (p - pl))
                            * ((n - nl) - (p - pl)))
                         / (1.0 * (n - nl) * n), 6) AS gini
          FROM cum WHERE nl < n
        )
        SELECT threshold, n_left, gini
        FROM scored
        ORDER BY gini, threshold
        LIMIT 1
    """,
    doc="Gini-optimal decision stump: the single best split threshold "
    "on bucketed order value predicting high order priority — "
    "weighted Gini impurity of (left, right) evaluated at EVERY "
    "bucket boundary via one cumulative window over the bucket "
    "histogram, then argmin on the ROUNDED score with the "
    "threshold as tiebreak (the rounded-key-argmax determinism "
    "rule). The feature is pre-bucketed ($1000 bins) exactly so "
    "the candidate-threshold table is a BOUNDED census and the "
    "global-ordered cumulative window runs over hundreds of rows, "
    "not |orders| — the move that keeps exhaustive split search "
    "viable at 100 TB (finer thresholds = finer buckets, still "
    "bounded). Counts are exact integers; the weighted Gini "
    "1 − Σside (pos²+neg²)/(n_side·N) is two divisions per row.",
)
def q223(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "orders").select(
        F.floor(F.col("o_totalprice") / 1000).cast("long").alias("bucket"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("y"),
    )
    hist = pts.groupBy("bucket").agg(
        F.count("*").alias("nb"), F.sum("y").alias("pb")
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = hist.select(
        "bucket",
        F.sum("nb").over(w).alias("nl"),
        F.sum("pb").over(w).alias("pl"),
        F.sum("nb").over(wall).alias("n"),
        F.sum("pb").over(wall).alias("p"),
    )
    nl, pl = F.col("nl"), F.col("pl")
    n, p = F.col("n"), F.col("p")
    nr, pr = n - nl, p - pl
    gini = F.round(
        1.0
        - (1.0 * pl * pl + 1.0 * (nl - pl) * (nl - pl)) / (1.0 * nl * n)
        - (1.0 * pr * pr + 1.0 * (nr - pr) * (nr - pr)) / (1.0 * nr * n),
        6,
    )
    return (
        cum.where(nl < n)
        .select(
            F.col("bucket").alias("threshold"),
            nl.cast("long").alias("n_left"),
            gini.alias("gini"),
        )
        .orderBy("gini", "threshold")
        .limit(1)
    )


@register(
    "q228_isotonic_calibration",
    oracle="""
        WITH scored AS (
          SELECT CAST(label = 1 AS INT) AS pos,
                 1.0 / (1.0 + exp(-(list_sum(list_transform(list_zip(embedding,
                        range(1, len(embedding) + 1)),
                        p -> CAST(p[1] AS DOUBLE)
                             * (CASE WHEN p[2] % 2 = 1 THEN 1 ELSE -1 END)))
                        ) * 2.0)) AS prob
          FROM embeddings
        ),
        b AS (
          SELECT LEAST(9, CAST(FLOOR(prob * 10) AS INT)) AS bin,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(pos) AS BIGINT) AS npos
          FROM scored GROUP BY bin
        ),
        pre AS (
          SELECT bin, n, npos,
                 SUM(n) OVER (ORDER BY bin) AS cn,
                 SUM(npos) OVER (ORDER BY bin) AS cp
          FROM b
        ),
        iv AS (
          SELECT lo.bin AS j, hi.bin AS k,
                 1.0 * (hi.cp - (lo.cp - lo.npos))
                     / (hi.cn - (lo.cn - lo.n)) AS avg
          FROM pre lo JOIN pre hi ON lo.bin <= hi.bin
        ),
        inner_min AS (
          SELECT i.bin AS i, iv.j, MIN(iv.avg) AS m
          FROM b i JOIN iv ON iv.j <= i.bin AND iv.k >= i.bin
          GROUP BY i.bin, iv.j
        ),
        iso AS (SELECT i, MAX(m) AS iso_rate FROM inner_min GROUP BY i)
        SELECT b.bin, b.n,
               ROUND(1.0 * b.npos / b.n, 6) AS acc,
               ROUND(iso.iso_rate, 6) AS iso_acc
        FROM b JOIN iso ON iso.i = b.bin
        ORDER BY b.bin
    """,
    doc="Isotonic calibration (PAVA) of the q148/q149 sigmoid scorer: "
    "the empirical positive rate per confidence bin, replaced by "
    "the best MONOTONE fit via the minimax characterization of "
    "isotonic regression — iso(i) = max over j<=i of min over k>=i "
    "of the pooled rate on bins j..k, which equals the "
    "pool-adjacent-violators solution exactly, needs no iteration, "
    "and is pure SQL on the bin census (prefix sums give every "
    "interval's pooled rate as a ratio of INTEGER counts, so both "
    "engines compute identical doubles). This is the step that "
    "turns q149's calibration DIAGNOSIS (non-monotone acc vs conf) "
    "into the calibration MAP a serving pipeline applies. Plan "
    "shape: one aggregate to B=10 bins; the O(B^2) interval table "
    "and O(B^3)-tuple minimax run on the 10-row census (the q220 "
    "aggregate-first rule) — B stays fixed as the corpus grows.",
)
def q228(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    e = table_parallel(spark, sf, "embeddings")
    score = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            F.sequence(F.lit(1), F.size("embedding")),
            lambda v, i: v.cast("double")
            * F.when(i % 2 == 1, 1.0).otherwise(-1.0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    prob = 1.0 / (1.0 + F.exp(-score * 2.0))
    b = (
        e.select(
            F.least(F.lit(9), F.floor(prob * 10).cast("int")).alias("bin"),
            (F.col("label") == 1).cast("int").alias("pos"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("npos"),
        )
    )
    wc = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = b.select(
        "bin",
        "n",
        "npos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("npos").over(wc).alias("cp"),
    )
    lo = pre.select(
        F.col("bin").alias("j"),
        (F.col("cp") - F.col("npos")).alias("cp0"),
        (F.col("cn") - F.col("n")).alias("cn0"),
    )
    hi = pre.select(
        F.col("bin").alias("k"), F.col("cp").alias("cpk"), F.col("cn").alias("cnk")
    )
    iv = lo.join(hi, F.col("j") <= F.col("k")).select(
        "j",
        "k",
        (
            1.0 * (F.col("cpk") - F.col("cp0")) / (F.col("cnk") - F.col("cn0"))
        ).alias("avg"),
    )
    inner_min = (
        b.select(F.col("bin").alias("i"))
        .join(iv, (F.col("j") <= F.col("i")) & (F.col("k") >= F.col("i")))
        .groupBy("i", "j")
        .agg(F.min("avg").alias("m"))
    )
    iso = inner_min.groupBy("i").agg(F.max("m").alias("iso_rate"))
    return (
        b.join(iso, b["bin"] == iso["i"])
        .select(
            "bin",
            "n",
            F.round(1.0 * F.col("npos") / F.col("n"), 6).alias("acc"),
            F.round("iso_rate", 6).alias("iso_acc"),
        )
        .orderBy("bin")
    )


_HUBER_C = 50_000  # cents: $500 clipping scale
_HUBER_ITERS = 5


def _huber_oracle() -> str:
    """Unrolled IRLS iterations (it0..itN CTEs), the q225 pattern."""
    steps = []
    for k in range(_HUBER_ITERS):
        steps.append(
            f"""it{k + 1} AS (
          SELECT p.grp,
                 SUM(p.v * CASE WHEN ABS(p.v - i.mu) <= {_HUBER_C} THEN 1.0
                                ELSE {_HUBER_C} / ABS(p.v - i.mu) END)
                 / SUM(CASE WHEN ABS(p.v - i.mu) <= {_HUBER_C} THEN 1.0
                            ELSE {_HUBER_C} / ABS(p.v - i.mu) END) AS mu
          FROM pts p JOIN it{k} i ON i.grp = p.grp
          GROUP BY p.grp
        )"""
        )
    chain = ",\n        ".join(steps)
    return f"""
        WITH pts AS (
          SELECT o_orderpriority AS grp,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
        ),
        it0 AS (SELECT grp, AVG(1.0 * v) AS mu FROM pts GROUP BY grp),
        {chain}
        SELECT p.grp,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(AVG(1.0 * p.v) / 100, 2) AS mean_usd,
               ROUND(MAX(i.mu) / 100, 2) AS huber_usd
        FROM pts p JOIN it{_HUBER_ITERS} i ON i.grp = p.grp
        GROUP BY p.grp ORDER BY p.grp
    """


@register(
    "q229_huber_location",
    oracle=_huber_oracle(),
    doc=f"Huber M-estimator of location per order priority "
    f"({_HUBER_ITERS} IRLS iterations, clipping scale c = "
    f"${_HUBER_C // 100}): the robust mean that downweights "
    "outlier order values linearly beyond c instead of either "
    "keeping them (mean, q63) or discarding rank information "
    "(median, q156/q199) — reported beside the plain mean so the "
    "gap measures tail influence. Each iteration is one pass: the "
    "5-row (group, mu) census broadcasts onto the fact, weights "
    "are a scalar CASE, and one grouped aggregate re-solves mu "
    "(IRLS on a weighted-mean model). The oracle unrolls the "
    "identical iterations as it0..itN CTEs (the q225 recipe). "
    "Inputs are exact integer cents; the 2-dp dollar outputs "
    "tolerate the order-dependent 1e-16 of double weight sums.",
)
def q229(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = (
        table_parallel(spark, sf, "orders")
        .select(
            F.col("o_orderpriority").alias("grp"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        )
        .localCheckpoint(eager=False)
    )
    mu = pts.groupBy("grp").agg(F.avg(1.0 * F.col("v")).alias("mu"))
    for _ in range(_HUBER_ITERS):
        dev = F.abs(F.col("v") - F.col("mu"))
        w = F.when(dev <= _HUBER_C, 1.0).otherwise(_HUBER_C / dev)
        mu = (
            pts.join(F.broadcast(mu), "grp")
            .groupBy("grp")
            .agg((F.sum(F.col("v") * w) / F.sum(w)).alias("mu"))
        )
    return (
        pts.join(F.broadcast(mu), "grp")
        .groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg(1.0 * F.col("v")) / 100, 2).alias("mean_usd"),
            F.round(F.max("mu") / 100, 2).alias("huber_usd"),
        )
        .orderBy("grp")
    )


@register(
    "q230_markov_perplexity",
    oracle="""
        WITH seq AS (
          SELECT user_id, event_type AS src,
                 LEAD(event_type) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id) AS dst
          FROM events
        ),
        t AS (SELECT src, dst, COUNT(*) AS n FROM seq
              WHERE dst IS NOT NULL GROUP BY src, dst),
        m AS (SELECT src, dst, n, SUM(n) OVER (PARTITION BY src) AS nsrc
              FROM t)
        SELECT CAST(SUM(n) AS BIGINT) AS n_transitions,
               ROUND(-SUM(n * LN(1.0 * n / nsrc)) / SUM(n), 6)
                 AS cross_entropy,
               ROUND(EXP(-SUM(n * LN(1.0 * n / nsrc)) / SUM(n)), 6)
                 AS perplexity
        FROM m
    """,
    doc="Sequence perplexity under the q152 first-order Markov model: "
    "the per-transition cross-entropy (nats) and perplexity of the "
    "event stream under its own MLE transition matrix — the "
    "one-number summary of how predictable user behavior is, and "
    "exactly the quantity language-model training tracks (here "
    "over the K-symbol event alphabet; the in-sample MLE "
    "perplexity, a lower bound for any held-out split). Computed "
    "ENTIRELY from the K^2 transition census: -sum(c_ij ln(c_ij / "
    "c_i)) / sum(c_ij), integer counts in, two 6-dp doubles out — "
    "the fact-sized work is the one user-keyed LEAD window q152 "
    "already pays; everything after runs on ~25 rows.",
)
def q230(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        table_parallel(spark, sf, "events")
        .select("user_id", F.col("event_type").alias("src"), "ts", "event_id")
        .withColumn("dst", F.lead("src").over(w))
        .where(F.col("dst").isNotNull())
    )
    t = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    m = t.select(
        "n", F.sum("n").over(Window.partitionBy("src")).alias("nsrc")
    )
    nll = -F.sum(F.col("n") * F.log(1.0 * F.col("n") / F.col("nsrc")))
    return m.agg(
        F.sum("n").cast("long").alias("n_transitions"),
        F.round(nll / F.sum("n"), 6).alias("cross_entropy"),
        F.round(F.exp(nll / F.sum("n")), 6).alias("perplexity"),
    )

@register(
    "q232_token_budget_waterfill",
    oracle="""
        WITH src AS (
          SELECT source, CAST(SUM(n_chars) AS BIGINT) AS chars
          FROM documents GROUP BY source
        ),
        tot AS (
          SELECT SUM(chars) AS total,
                 CAST(FLOOR(SUM(chars) * 0.5) AS BIGINT) AS budget,
                 COUNT(*) AS ns
          FROM src
        ),
        ordered AS (
          SELECT source, chars,
                 ROW_NUMBER() OVER (ORDER BY chars, source) AS k,
                 SUM(chars) OVER (ORDER BY chars, source
                                  ROWS UNBOUNDED PRECEDING) AS prefix
          FROM src
        ),
        lvl AS (
          -- the water level is the FIRST feasible per-suffix level in
          -- ascending order; once feasible the levels only decrease,
          -- so first-feasible == MAX over the feasible set
          SELECT MAX(1.0 * (t.budget - (o.prefix - o.chars))
                     / (t.ns - o.k + 1)) AS t
          FROM ordered o, tot t
          WHERE 1.0 * (t.budget - (o.prefix - o.chars)) / (t.ns - o.k + 1)
                <= o.chars
        )
        SELECT s.source, s.chars,
               ROUND(LEAST(1.0 * s.chars, lvl.t), 4) AS alloc
        FROM src s, lvl ORDER BY s.source
    """,
    doc="Water-filling token-budget allocation across sources: given "
    "a global budget (here 50% of total corpus chars), every "
    "source keeps min(its size, t) where the water level t is "
    "chosen so allocations exactly exhaust the budget — the "
    "closed-form cap that takes everything from small sources and "
    "clips the big ones equally, the fairness-maximal answer to "
    "'which documents do we keep per source under a token cap'. "
    "Read against q108 (domain mix weights) and q169 (temperature "
    "mix): those choose PROPORTIONS, this enforces an absolute "
    "budget. Closed form, no iteration: sort the source census "
    "ascending, prefix-sum, and t is the maximum of the feasible "
    "per-suffix levels (B - prefix_below)/(#remaining) — the "
    "standard KKT characterization (first-feasible == MAX over the "
    "feasible set, since levels only decrease once feasible), "
    "computed identically in both engines from exact integer sums. Plan shape: one hash "
    "aggregate to the ~20-row source census; the sort/scan runs "
    "on the census only.",
)
def q232(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    src = (
        table_parallel(spark, sf, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("chars"))
    )
    tot = src.agg(
        F.floor(F.sum("chars") * 0.5).cast("long").alias("budget"),
        F.count("*").alias("ns"),
    )
    wk = Window.orderBy("chars", "source")
    ordered = src.select(
        "source",
        "chars",
        F.row_number().over(wk).alias("k"),
        F.sum("chars")
        .over(wk.rowsBetween(Window.unboundedPreceding, 0))
        .alias("prefix"),
    )
    level_expr = (
        1.0
        * (F.col("budget") - (F.col("prefix") - F.col("chars")))
        / (F.col("ns") - F.col("k") + 1)
    )
    lvl = (
        ordered.crossJoin(F.broadcast(tot))
        .where(level_expr <= F.col("chars"))
        .agg(F.max(level_expr).alias("t"))
    )
    return (
        src.crossJoin(F.broadcast(lvl))
        .select(
            "source",
            "chars",
            F.round(F.least(1.0 * F.col("chars"), F.col("t")), 4).alias(
                "alloc"
            ),
        )
        .orderBy("source")
    )


@register(
    "q233_mahalanobis_anomaly",
    oracle="""
        WITH pts AS (
          SELECT CAST(label AS BIGINT) AS label, vec_id,
                 CAST(embedding[1] AS DOUBLE) AS x,
                 CAST(embedding[2] AS DOUBLE) AS y
          FROM embeddings
        ),
        m AS (
          SELECT label, AVG(x) AS mx, AVG(y) AS my,
                 AVG(x * x) - AVG(x) * AVG(x) AS sxx,
                 AVG(x * y) - AVG(x) * AVG(y) AS sxy,
                 AVG(y * y) - AVG(y) * AVG(y) AS syy
          FROM pts GROUP BY label
        ),
        d AS (
          SELECT p.label, p.vec_id,
                 ((p.x - m.mx) * (p.x - m.mx) * m.syy
                  - 2 * (p.x - m.mx) * (p.y - m.my) * m.sxy
                  + (p.y - m.my) * (p.y - m.my) * m.sxx)
                 / (m.sxx * m.syy - m.sxy * m.sxy) AS d2
          FROM pts p JOIN m ON m.label = p.label
        )
        SELECT label, vec_id, ROUND(d2, 6) AS d2, CAST(rn AS BIGINT) AS rn
        FROM (
          SELECT label, vec_id, d2,
                 ROW_NUMBER() OVER (PARTITION BY label
                     ORDER BY ROUND(d2, 6) DESC, vec_id) AS rn
          FROM d) t
        WHERE rn <= 5 ORDER BY label, rn
    """,
    doc="Multivariate (Mahalanobis) anomaly detection: top-5 most "
    "anomalous vectors per label group by squared Mahalanobis "
    "distance in the first two embedding dimensions — the "
    "correlation-aware outlier score that q146's per-column MAD "
    "rule cannot express (a point can be unremarkable on each "
    "axis yet far from the correlation ellipse). The 2x2 "
    "covariance inverse is closed-form (adjugate over "
    "determinant), so the whole operator is two hash aggregates: "
    "per-group moments (a ~|labels|-row census broadcast back), "
    "then the quadratic-form score and a per-group ranking window "
    "on the ROUNDED 6-dp score with vec_id tiebreak (the "
    "deterministic-ranking rule). Float inputs are cast to double "
    "BEFORE any product on both engines; at d>2 dimensions this "
    "becomes the Gram + solve path the harmony core already "
    "implements (core/kernels.py).",
)
def q233(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "embeddings").select(
        F.col("label").cast("long").alias("label"),
        "vec_id",
        F.element_at("embedding", 1).cast("double").alias("x"),
        F.element_at("embedding", 2).cast("double").alias("y"),
    )
    m = pts.groupBy("label").agg(
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        (F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x")).alias(
            "sxx"
        ),
        (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y")).alias(
            "sxy"
        ),
        (F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y")).alias(
            "syy"
        ),
    )
    dx = F.col("x") - F.col("mx")
    dy = F.col("y") - F.col("my")
    d2 = (
        dx * dx * F.col("syy") - 2 * dx * dy * F.col("sxy") + dy * dy * F.col("sxx")
    ) / (F.col("sxx") * F.col("syy") - F.col("sxy") * F.col("sxy"))
    w = Window.partitionBy("label").orderBy(
        F.round(d2, 6).desc(), F.col("vec_id")
    )
    scored = pts.join(F.broadcast(m), "label").select(
        "label",
        "vec_id",
        F.round(d2, 6).alias("d2"),
        F.row_number().over(w).cast("long").alias("rn"),
    )
    return scored.where(F.col("rn") <= 5).orderBy("label", "rn")

_RBO_P = 0.9
_RBO_DEPTH = 50


@register(
    "q238_rank_biased_overlap",
    oracle=f"""
        WITH toks AS (
          SELECT CASE WHEN CAST(SUBSTR(source, 4) AS INT) < 10
                      THEN 'A' ELSE 'B' END AS half,
                 UNNEST(string_split_regex(lower(text), '\\s+')) AS tok
          FROM documents
        ),
        counts AS (
          SELECT half, tok, COUNT(*) AS n FROM toks
          WHERE tok <> '' GROUP BY half, tok
        ),
        ranked AS (
          SELECT half, tok,
                 ROW_NUMBER() OVER (PARTITION BY half
                                    ORDER BY n DESC, tok) AS r
          FROM counts
        ),
        topa AS (SELECT tok, r AS ra FROM ranked
                 WHERE half = 'A' AND r <= {_RBO_DEPTH}),
        topb AS (SELECT tok, r AS rb FROM ranked
                 WHERE half = 'B' AND r <= {_RBO_DEPTH}),
        common AS (
          SELECT GREATEST(a.ra, b.rb) AS m
          FROM topa a JOIN topb b ON b.tok = a.tok
        ),
        spine AS (SELECT UNNEST(generate_series(1, {_RBO_DEPTH})) AS d),
        agree AS (
          SELECT s.d, COUNT(c.m) AS xd
          FROM spine s LEFT JOIN common c ON c.m <= s.d
          GROUP BY s.d
        )
        SELECT CAST((SELECT COUNT(*) FROM common) AS BIGINT) AS n_common,
               ROUND((1 - {_RBO_P}) * SUM(POWER({_RBO_P}, d - 1) * xd / d), 6)
                 AS rbo
        FROM agree
    """,
    doc=f"Rank-biased overlap (RBO, p={_RBO_P}, truncated at depth "
    f"{_RBO_DEPTH}) between the top-term frequency rankings of two "
    "corpus halves (sources src0-src9 vs the rest) — the "
    "top-weighted list-similarity metric for 'did the vocabulary "
    "ranking drift between snapshots/sources', where q191's KS "
    "and q201's PSI compare DISTRIBUTIONS but nothing compared "
    "RANKED LISTS (set-based Jaccard ignores order; Spearman "
    "needs identical support). Computed via the overlap-depth "
    "trick: a common token enters the agreement at depth "
    "max(rank_A, rank_B), so per-depth overlap is a census count, "
    "no per-depth set intersection. Rankings break count ties on "
    "the token (the rounded-key rule, exact here since counts are "
    "integers); the depth spine is a fixed 50-row list. Plan "
    "shape: one exploded token aggregate per half, per-half "
    "ranking windows over the count census, then 50-row-scale "
    "joins.",
)
def q238(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    toks = (
        table_parallel(spark, sf, "documents")
        .select(
            F.when(
                F.substring("source", 4, 10).cast("int") < 10, "A"
            )
            .otherwise("B")
            .alias("half"),
            F.explode(
                F.split(F.lower(F.col("text")), r"\s+")
            ).alias("tok"),
        )
        .where(F.col("tok") != "")
    )
    counts = toks.groupBy("half", "tok").agg(F.count("*").alias("n"))
    ranked = counts.select(
        "half",
        "tok",
        F.row_number()
        .over(Window.partitionBy("half").orderBy(F.desc("n"), "tok"))
        .alias("r"),
    ).where(F.col("r") <= _RBO_DEPTH)
    topa = ranked.where(F.col("half") == "A").select(
        "tok", F.col("r").alias("ra")
    )
    topb = ranked.where(F.col("half") == "B").select(
        F.col("tok").alias("tokb"), F.col("r").alias("rb")
    )
    common = topa.join(topb, F.col("tok") == F.col("tokb")).select(
        F.greatest("ra", "rb").alias("m")
    )
    spine = spark.range(1, _RBO_DEPTH + 1).select(F.col("id").alias("d"))
    agree = (
        F.broadcast(spine)
        .join(common, F.col("m") <= F.col("d"), "left")
        .groupBy("d")
        .agg(F.count("m").alias("xd"))
    )
    n_common = common.agg(F.count("*").cast("long").alias("n_common"))
    rbo = agree.agg(
        F.round(
            (1 - _RBO_P)
            * F.sum(
                F.pow(F.lit(_RBO_P), F.col("d") - 1) * F.col("xd") / F.col("d")
            ),
            6,
        ).alias("rbo")
    )
    return n_common.crossJoin(rbo)


# ---------------------------------------------------------------- q239


@register(
    "q239_fd_histogram",
    oracle="""
        WITH pts AS (
          SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
          FROM orders
        ),
        st AS (
          SELECT COUNT(*) AS n, MIN(v) AS vmin,
                 PERCENTILE_CONT(0.75) WITHIN GROUP (ORDER BY v)
                 - PERCENTILE_CONT(0.25) WITHIN GROUP (ORDER BY v) AS iqr
          FROM pts
        ),
        w AS (SELECT n, vmin, 2.0 * iqr / CBRT(n) AS width FROM st)
        SELECT CAST(FLOOR((p.v - w.vmin) / w.width) AS BIGINT) AS bin,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(MIN(p.v) AS BIGINT) AS lo_cents,
               CAST(MAX(p.v) AS BIGINT) AS hi_cents
        FROM pts p CROSS JOIN w
        GROUP BY bin ORDER BY bin
    """,
    doc="Auto-binned histogram by the Freedman-Diaconis rule: bin "
    "width 2*IQR/n^(1/3) from the EXACT interpolated quartiles "
    "(PERCENTILE_CONT semantics = Spark's exact `percentile`), "
    "applied to order values as integer cents — the "
    "statistically-sized histogram (robust to outliers via IQR, "
    "narrowing as n^(1/3)) that a profiler computes when no one "
    "hand-picks q223's fixed $1000 buckets. Determinism: the "
    "quartiles interpolate between INTEGER order statistics, so "
    "both engines derive the identical double width; bin = "
    "floor((v - min)/width) is then the same arithmetic on both "
    "sides, and per-bin min/max bounds are exact integers. Plan "
    "shape: one pass for the stats row (exact percentile is a "
    "sort-based aggregate; at true scale swap approx_percentile "
    "with a documented tolerance), broadcast, second pass bins — "
    "the two-pass shape every data profiler at 100 TB uses.",
)
def q239(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    st = pts.agg(
        F.count("*").alias("n"),
        F.min("v").alias("vmin"),
        (
            F.expr("percentile(v, 0.75)") - F.expr("percentile(v, 0.25)")
        ).alias("iqr"),
    )
    w = st.select(
        "vmin", (2.0 * F.col("iqr") / F.cbrt("n")).alias("width")
    )
    return (
        pts.crossJoin(F.broadcast(w))
        .groupBy(
            F.floor((F.col("v") - F.col("vmin")) / F.col("width"))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("v").cast("long").alias("lo_cents"),
            F.max("v").cast("long").alias("hi_cents"),
        )
        .orderBy("bin")
    )

@register(
    "q240_conformal_interval",
    oracle="""
        WITH pts AS (
          SELECT l_returnflag AS grp,
                 CAST(l_quantity AS BIGINT) AS x,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        mom AS (
          SELECT grp, COUNT(*) AS n,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy
          FROM pts GROUP BY grp
        ),
        fit AS (
          SELECT grp, n,
                 (1.0 * n * sxy - 1.0 * sx * sy)
                 / (1.0 * n * sxx - 1.0 * sx * sx) AS slope,
                 (1.0 * sy - (1.0 * n * sxy - 1.0 * sx * sy)
                             / (1.0 * n * sxx - 1.0 * sx * sx) * sx)
                 / n AS icept
          FROM mom
        ),
        resid AS (
          SELECT p.grp, f.n, f.slope, f.icept,
                 ABS(p.y - f.icept - f.slope * p.x) AS ar
          FROM pts p JOIN fit f ON f.grp = p.grp
        ),
        qr AS (
          SELECT grp, MAX(n) AS n, MAX(slope) AS slope, MAX(icept) AS icept,
                 PERCENTILE_CONT(0.9) WITHIN GROUP (ORDER BY ar) AS q90
          FROM resid GROUP BY grp
        )
        SELECT r.grp, CAST(q.n AS BIGINT) AS n,
               ROUND(q.slope, 6) AS slope,
               ROUND(q.icept / 100, 4) AS intercept_usd,
               ROUND(q.q90 / 100, 4) AS q90_resid_usd,
               ROUND(AVG(CASE WHEN r.ar <= q.q90 THEN 1.0 ELSE 0.0 END), 6)
                 AS coverage
        FROM resid r JOIN qr q ON q.grp = r.grp
        GROUP BY r.grp, q.n, q.slope, q.icept, q.q90
        ORDER BY r.grp
    """,
    doc="Split-conformal prediction interval per group: fit the "
    "closed-form OLS line (price ~ quantity, q198's moment "
    "formulation), take the 90th percentile of absolute residuals "
    "as the conformal radius, and report the achieved in-sample "
    "coverage — the distribution-free uncertainty band modern "
    "pipelines attach to point predictions (in production the "
    "radius comes from a held-out calibration split; the same "
    "plan, one extra filter — q241 is that split discipline "
    "applied to the fit itself). Determinism: all five OLS "
    "moments are exact BIGINT sums converted once to double "
    "(identical IEEE conversions on both engines); the quantile "
    "interpolates between order statistics of identically-"
    "computed doubles. Plan shape: one grouped moment aggregate, "
    "the 3-row fit broadcast back, one residual pass with a "
    "per-group exact percentile (approx_percentile at true scale, "
    "documented), one coverage aggregate.",
)
def q240(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    mom = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (
        1.0 * F.col("n") * F.col("sxy") - 1.0 * F.col("sx") * F.col("sy")
    ) / (1.0 * F.col("n") * F.col("sxx") - 1.0 * F.col("sx") * F.col("sx"))
    fit = mom.select(
        "grp",
        "n",
        slope.alias("slope"),
        ((1.0 * F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "icept"
        ),
    )
    # resid feeds both the q90 census and the conformal coverage scan:
    # one lazy checkpoint instead of recomputing the fit join + |r|
    # projection over the fact table twice.
    resid = (
        pts.join(F.broadcast(fit), "grp")
        .select(
            "grp",
            "n",
            "slope",
            "icept",
            F.abs(
                F.col("y") - F.col("icept") - F.col("slope") * F.col("x")
            ).alias("ar"),
        )
        .localCheckpoint(eager=False)
    )
    qr = resid.groupBy("grp").agg(
        F.max("n").alias("n"),
        F.max("slope").alias("slope"),
        F.max("icept").alias("icept"),
        F.expr("percentile(ar, 0.9)").alias("q90"),
    )
    return (
        resid.select("grp", "ar")
        .join(F.broadcast(qr), "grp")
        .groupBy("grp", "n", "slope", "icept", "q90")
        .agg(
            F.round(
                F.avg(F.when(F.col("ar") <= F.col("q90"), 1.0).otherwise(0.0)),
                6,
            ).alias("coverage")
        )
        .select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.round("slope", 6).alias("slope"),
            F.round(F.col("icept") / 100, 4).alias("intercept_usd"),
            F.round(F.col("q90") / 100, 4).alias("q90_resid_usd"),
            "coverage",
        )
        .orderBy("grp")
    )


@register(
    "q241_kfold_ols_cv",
    oracle="""
        WITH pts AS (
          SELECT l_orderkey % 5 AS fold,
                 CAST(l_quantity AS BIGINT) AS x,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        fm AS (
          SELECT fold, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * x) AS sxx, SUM(x * y) AS sxy
          FROM pts GROUP BY fold
        ),
        tot AS (
          SELECT SUM(n) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
                 SUM(sxx) AS sxx, SUM(sxy) AS sxy
          FROM fm
        ),
        trained AS (
          SELECT f.fold,
                 (1.0 * (t.n - f.n) * (t.sxy - f.sxy)
                  - 1.0 * (t.sx - f.sx) * (t.sy - f.sy))
                 / (1.0 * (t.n - f.n) * (t.sxx - f.sxx)
                    - 1.0 * (t.sx - f.sx) * (t.sx - f.sx)) AS slope,
                 t.n - f.n AS n_train, f.n AS n_test,
                 t.sx - f.sx AS sx_t, t.sy - f.sy AS sy_t
          FROM fm f CROSS JOIN tot t
        ),
        models AS (
          SELECT fold, slope, n_train, n_test,
                 (1.0 * sy_t - slope * sx_t) / n_train AS icept
          FROM trained
        )
        SELECT CAST(p.fold AS BIGINT) AS fold,
               CAST(MAX(m.n_train) AS BIGINT) AS n_train,
               CAST(MAX(m.n_test) AS BIGINT) AS n_test,
               ROUND(MAX(m.slope), 6) AS slope,
               ROUND(SQRT(AVG((p.y - m.icept - m.slope * p.x)
                              * (p.y - m.icept - m.slope * p.x))) / 100, 4)
                 AS rmse_usd
        FROM pts p JOIN models m ON m.fold = p.fold
        GROUP BY p.fold ORDER BY fold
    """,
    doc="K-fold cross-validated OLS without data duplication: fold id "
    "is a deterministic key hash (orderkey mod 5); each fold's "
    "TRAINING moments are the global moments MINUS that fold's "
    "moments (sufficient-statistic subtraction — the trick that "
    "turns k-fold from k data passes into ONE moment aggregate "
    "plus census arithmetic, the only honest way to cross-validate "
    "at 100 TB), and the held-out RMSE evaluates each fold's model "
    "on exactly the rows the model never saw. Determinism: all "
    "moments exact BIGINTs; the one double reduction (per-fold "
    "squared-residual mean) feeds a 4-dp rounded dollar RMSE. "
    "Plan shape: one grouped moment aggregate to 5 rows, census "
    "arithmetic, the 5-row model table broadcast onto one "
    "evaluation pass.",
)
def q241(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "lineitem").select(
        (F.col("l_orderkey") % 5).alias("fold"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    fm = pts.groupBy("fold").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    tot = fm.agg(
        F.sum("n").alias("tn"),
        F.sum("sx").alias("tsx"),
        F.sum("sy").alias("tsy"),
        F.sum("sxx").alias("tsxx"),
        F.sum("sxy").alias("tsxy"),
    )
    nt = F.col("tn") - F.col("n")
    sxt = F.col("tsx") - F.col("sx")
    syt = F.col("tsy") - F.col("sy")
    sxxt = F.col("tsxx") - F.col("sxx")
    sxyt = F.col("tsxy") - F.col("sxy")
    slope = (1.0 * nt * sxyt - 1.0 * sxt * syt) / (
        1.0 * nt * sxxt - 1.0 * sxt * sxt
    )
    models = (
        fm.crossJoin(F.broadcast(tot))
        .select(
            "fold",
            slope.alias("slope"),
            nt.alias("n_train"),
            F.col("n").alias("n_test"),
            ((1.0 * syt - slope * sxt) / nt).alias("icept"),
        )
    )
    return (
        pts.join(F.broadcast(models), "fold")
        .groupBy("fold")
        .agg(
            F.max("n_train").cast("long").alias("n_train"),
            F.max("n_test").cast("long").alias("n_test"),
            F.round(F.max("slope"), 6).alias("slope"),
            F.round(
                F.sqrt(
                    F.avg(
                        (F.col("y") - F.col("icept") - F.col("slope") * F.col("x"))
                        * (F.col("y") - F.col("icept") - F.col("slope") * F.col("x"))
                    )
                )
                / 100,
                4,
            ).alias("rmse_usd"),
        )
        .select(
            F.col("fold").cast("long").alias("fold"),
            "n_train",
            "n_test",
            "slope",
            "rmse_usd",
        )
        .orderBy("fold")
    )

@register(
    "q247_woe_iv",
    oracle="""
        WITH u AS (
          SELECT user_id, SUM(value) AS score,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= 14
                      THEN 1 ELSE 0 END AS good
          FROM events GROUP BY user_id
        ),
        d AS (
          SELECT good,
                 NTILE(10) OVER (ORDER BY score DESC, user_id) AS bin
          FROM u
        ),
        g AS (
          SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(good) AS BIGINT) AS n_good,
                 CAST(COUNT(*) - SUM(good) AS BIGINT) AS n_bad
          FROM d GROUP BY bin
        ),
        t AS (SELECT SUM(n_good) AS tg, SUM(n_bad) AS tb,
                     COUNT(*) AS nb FROM g),
        w AS (
          SELECT g.bin, g.n, g.n_good, g.n_bad,
                 (g.n_good + 0.5) / (t.tg + 0.5 * t.nb) AS pg,
                 (g.n_bad + 0.5) / (t.tb + 0.5 * t.nb) AS pb
          FROM g CROSS JOIN t
        )
        SELECT bin, n, n_good, n_bad,
               ROUND(LN(pg / pb), 6) AS woe,
               ROUND(SUM((pg - pb) * LN(pg / pb)) OVER (), 6) AS iv
        FROM w ORDER BY bin
    """,
    doc="Weight-of-evidence / information-value table: users binned "
    "into deterministic score deciles (q210's NTILE + id-tiebreak "
    "convention), each bin scored WoE = ln(%good / %bad) with "
    "Laplace +0.5 smoothing on every cell (so empty cells yield a "
    "finite WoE instead of ±inf — the smoothing constant is part "
    "of the contract), and the feature's total IV = sum((%g - %b) "
    "* WoE) — the credit-scoring feature-strength convention "
    "(IV < 0.02 useless, > 0.5 suspicious) that complements "
    "q210's lift (business yield per decile) with a "
    "feature-selection number. Integer counts in; the smoothed "
    "proportions are identical rationals on both engines. Plan "
    "shape: one user aggregate, decile assignment via the exact "
    "two-phase sharded ntile (dist_rank.with_global_ntile — no "
    "single-task window), a 10-row census with window totals.",
)
def q247(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum("value").alias("score"),
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 14,
                1,
            )
            .otherwise(0)
            .alias("good"),
        )
    )
    from harmony_spark.operators.dist_rank import with_global_ntile

    d = with_global_ntile(
        u.withColumn("negscore", -F.col("score")),
        "negscore",
        ("user_id",),
        n=10,
        out="bin",
    ).select("good", "bin")
    g = d.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("good").cast("long").alias("n_good"),
        (F.count("*") - F.sum("good")).cast("long").alias("n_bad"),
    )
    wall = Window.partitionBy()
    tg = F.sum("n_good").over(wall)
    tb = F.sum("n_bad").over(wall)
    nb = F.count("*").over(wall)
    w = g.select(
        "bin",
        "n",
        "n_good",
        "n_bad",
        ((F.col("n_good") + 0.5) / (tg + 0.5 * nb)).alias("pg"),
        ((F.col("n_bad") + 0.5) / (tb + 0.5 * nb)).alias("pb"),
    )
    woe = F.log(F.col("pg") / F.col("pb"))
    return w.select(
        "bin",
        "n",
        "n_good",
        "n_bad",
        F.round(woe, 6).alias("woe"),
        F.round(
            F.sum((F.col("pg") - F.col("pb")) * woe).over(wall), 6
        ).alias("iv"),
    ).orderBy("bin")


@register(
    "q248_shuffle_skew_profile",
    oracle="""
        WITH kc AS (
          SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY user_id
        ),
        t AS (SELECT SUM(c) AS rows_total, COUNT(*) AS n_keys FROM kc)
        SELECT CAST(t.n_keys AS BIGINT) AS n_keys,
               CAST(t.rows_total AS BIGINT) AS rows_total,
               CAST(MEDIAN(kc.c) AS DOUBLE) AS p50,
               CAST(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY kc.c)
                    AS DOUBLE) AS p99,
               CAST(MAX(kc.c) AS BIGINT) AS max_key_rows,
               ROUND(MAX(kc.c) * 1.0 / t.rows_total, 6) AS top1_share,
               ROUND(SUM((kc.c * 1.0 / t.rows_total)
                         * (kc.c * 1.0 / t.rows_total)), 6) AS hhi,
               ROUND(MAX(kc.c) * t.n_keys * 1.0 / t.rows_total, 6)
                 AS skew_factor
        FROM kc CROSS JOIN t
        GROUP BY t.n_keys, t.rows_total
    """,
    doc="Shuffle-key skew profile for events.user_id — the "
    "pre-flight diagnostic run BEFORE keying a 100 TB shuffle on a "
    "column: key count, median/p99/max per-key row counts, the "
    "hottest key's share, the Herfindahl concentration index, and "
    "skew_factor = max/mean (the straggler multiplier: one reducer "
    "gets skew_factor times the average partition, so a "
    "skew_factor of 50 means AQE skew splitting or q76-style "
    "salting is mandatory). This operationalizes the skew "
    "handling the dedup family already implements "
    "(extensions/dedup.py:744 adaptive banding) as a reusable "
    "measurement. Exact integer counts; the two interpolated "
    "percentiles follow the PERCENTILE_CONT = Spark `percentile` "
    "equivalence (q239). Plan: one key census, one census "
    "aggregate.",
)
def q248(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    kc = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count("*").cast("long").alias("c"))
    )
    tot = kc.agg(
        F.sum("c").alias("rows_total"), F.count("*").alias("n_keys")
    )
    t = kc.crossJoin(F.broadcast(tot))
    share = F.col("c") * 1.0 / F.col("rows_total")
    return (
        t.groupBy("n_keys", "rows_total")
        .agg(
            F.expr("percentile(c, 0.5)").alias("p50"),
            F.expr("percentile(c, 0.99)").alias("p99"),
            F.max("c").cast("long").alias("max_key_rows"),
            F.round(F.max("c") * 1.0 / F.max("rows_total"), 6).alias(
                "top1_share"
            ),
            F.round(F.sum(share * share), 6).alias("hhi"),
            F.round(
                F.max("c") * F.max("n_keys") * 1.0 / F.max("rows_total"), 6
            ).alias("skew_factor"),
        )
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("rows_total").cast("long").alias("rows_total"),
            "p50",
            "p99",
            "max_key_rows",
            "top1_share",
            "hhi",
            "skew_factor",
        )
    )


@register(
    "q249_user_burst_rate",
    oracle="""
        WITH e AS (
          SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS sec FROM events
        ),
        burst AS (
          SELECT user_id,
                 COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                     RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
                   AS in_hour
          FROM e
        ),
        per_user AS (
          SELECT user_id, CAST(MAX(in_hour) AS BIGINT) AS max_burst,
                 CAST(COUNT(*) AS BIGINT) AS n_events
          FROM burst GROUP BY user_id
        )
        SELECT user_id, max_burst, n_events
        FROM (
          SELECT user_id, max_burst, n_events,
                 ROW_NUMBER() OVER (ORDER BY max_burst DESC, user_id) AS rn
          FROM per_user) t
        WHERE rn <= 20
        ORDER BY max_burst DESC, user_id
    """,
    doc="Per-user burst-rate detection: the maximum number of events "
    "any user fired inside ANY rolling 60-minute window (a "
    "TIME-range frame over epoch seconds, sliding per event — not "
    "q27's fixed tumbling buckets, which split a burst straddling "
    "a boundary, and not q61's value-range frame), top-20 users by "
    "(burst, id) — the rate-limiter / abuse-detection readout, and "
    "the batch replica of what a streaming sliding-window count "
    "(streaming/ops.sliding_counts) maintains online. Plan shape: "
    "one user-keyed window sort (the data shuffles onto its "
    "entity key once), a per-user max, then a bounded TakeOrdered "
    "top-20 (per-partition heads merged on the driver — never a "
    "global rank window). Integer second arithmetic end to end.",
)
def q249(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    e = table_parallel(spark, sf, "events").select(
        "user_id", F.unix_timestamp("ts").alias("sec")
    )
    wr = (
        Window.partitionBy("user_id")
        .orderBy("sec")
        .rangeBetween(-3599, Window.currentRow)
    )
    burst = e.select("user_id", F.count("*").over(wr).alias("in_hour"))
    per_user = burst.groupBy("user_id").agg(
        F.max("in_hour").cast("long").alias("max_burst"),
        F.count("*").cast("long").alias("n_events"),
    )
    return (
        per_user.orderBy(F.desc("max_burst"), "user_id")
        .limit(20)
        .select("user_id", "max_burst", "n_events")
        .orderBy(F.desc("max_burst"), "user_id")
    )


@register(
    "q259_cvar_tail_risk",
    oracle="""
        WITH daily AS (
          SELECT CAST(ts AS DATE) AS day,
                 SUM(CASE WHEN event_type = 'purchase'
                          THEN CAST(ROUND(value * 100) AS BIGINT)
                          ELSE -CAST(ROUND(value * 100) AS BIGINT) END) AS net
          FROM events WHERE event_type IN ('purchase', 'error')
          GROUP BY day
        ),
        ranked AS (
          SELECT day, net,
                 ROW_NUMBER() OVER (ORDER BY net, day) AS rn,
                 COUNT(*) OVER () AS n
          FROM daily
        ),
        k AS (
          SELECT CAST((MAX(n) + 19) // 20 AS BIGINT) AS k, MAX(n) AS n
          FROM ranked
        )
        SELECT CAST(k.n AS BIGINT) AS n_days,
               CAST(k.k AS BIGINT) AS k_tail,
               (SELECT CAST(net AS BIGINT) FROM ranked, k WHERE rn = k.k)
                 AS var95_cents,
               (SELECT ROUND(AVG(net), 6) FROM ranked, k WHERE rn <= k.k)
                 AS cvar95_cents,
               (SELECT CAST(day AS VARCHAR) FROM ranked WHERE rn = 1)
                 AS worst_day
        FROM k
    """,
    doc="Value-at-Risk and Conditional VaR (expected shortfall) at "
    "the 95% level over the daily net series (purchase cents minus "
    "error cents): VaR = the exact ceil(n/20)-th order statistic of "
    "daily nets, CVaR = the mean of the tail at or below it, plus "
    "the worst day — the tail-risk pair that complements q255's "
    "path-dependent drawdown (CVaR sees how BAD bad days are; "
    "drawdown sees how they cluster). Exact order statistics, not a "
    "quantile sketch: the ordered work runs on the day census where "
    "a single-partition window is free at any corpus size; the only "
    "O(N) pass is the day-keyed integer aggregate. Determinism: "
    "integer cents end-to-end, ROW_NUMBER tie-broken on (net, day), "
    "k from pure integer arithmetic; the one division is the final "
    "tail mean.",
)
def q259(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table

    cents = F.round(F.col("value") * 100).cast("long")
    daily = (
        table(spark, sf, "events")
        .where(F.col("event_type").isin("purchase", "error"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(-cents)
            ).alias("net")
        )
    )
    ranked = daily.select(
        "day",
        "net",
        F.row_number().over(Window.orderBy("net", "day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    ).withColumn("k", F.expr("(n + 19) DIV 20"))
    tail = ranked.where(F.col("rn") <= F.col("k"))
    return tail.agg(
        F.max("n").cast("long").alias("n_days"),
        F.max("k").cast("long").alias("k_tail"),
        F.max(F.when(F.col("rn") == F.col("k"), F.col("net")))
        .cast("long")
        .alias("var95_cents"),
        F.round(F.avg("net"), 6).alias("cvar95_cents"),
        F.date_format(F.min_by("day", "rn"), "yyyy-MM-dd").alias("worst_day"),
    )


_BOOT_B = 100


@register(
    "q260_bootstrap_ci",
    oracle=f"""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM orders GROUP BY day
        ),
        idx AS (
          SELECT cents, ROW_NUMBER() OVER (ORDER BY day) AS rn,
                 COUNT(*) OVER () AS n
          FROM daily
        ),
        spine AS (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b),
        draws AS (
          SELECT s.b,
                 (CAST(('0x' || substr(md5(CAST(s.b * 1000000 + i.rn
                                                AS VARCHAR)), 1, 8))
                       AS BIGINT) % i.n) + 1 AS j
          FROM spine s CROSS JOIN idx i
        ),
        boots AS (
          SELECT d.b, CAST(SUM(x.cents) AS BIGINT) AS tot
          FROM draws d JOIN idx x ON x.rn = d.j
          GROUP BY d.b
        ),
        br AS (
          SELECT tot, ROW_NUMBER() OVER (ORDER BY tot, b) AS r FROM boots
        )
        SELECT (SELECT CAST(SUM(cents) AS BIGINT) FROM daily)
                 AS obs_total_cents,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
               (SELECT CAST(tot AS BIGINT) FROM br WHERE r = 3)
                 AS boot_lo_cents,
               (SELECT CAST(tot AS BIGINT) FROM br WHERE r = {_BOOT_B - 2})
                 AS boot_hi_cents
    """,
    doc=f"Deterministic nonparametric bootstrap: {_BOOT_B} resamples "
    "of the daily-revenue census (sample n days with replacement, "
    "indices drawn from seedless md5 uniforms keyed on "
    "(replicate, position) so BOTH engines draw the IDENTICAL "
    "resamples), and the 95% percentile confidence interval of "
    "total revenue as the 3rd/98th order statistics of the "
    "replicate totals. The distribution-free uncertainty machinery "
    "the parametric suite (q144 Welch, q240 conformal) cannot "
    "provide when nothing is Gaussian. Scale shape: the bootstrap "
    "runs on the DAY CENSUS, not the fact table — the O(N) pass is "
    "the one day-keyed aggregate, after which the B x n_days draw "
    "matrix is census-sized and the resample join is an equi-join "
    "against the broadcast-small index. Replicate totals are exact "
    "BIGINT cents ranked with replicate-id tiebreaks — no float "
    "enters any ordering.",
)
def q260(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    # idx feeds both the draw spine and the resample lookup join — one
    # lazy checkpoint keeps the orders day-census + index windows from
    # running twice.
    idx = daily.select(
        "cents",
        F.row_number().over(Window.orderBy("day")).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    ).localCheckpoint(eager=False)
    spine = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    draws = idx.crossJoin(F.broadcast(spine)).select(
        "b",
        (
            F.conv(
                F.substring(
                    F.md5((F.col("b") * 1000000 + F.col("rn")).cast("string")),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % F.col("n")
            + 1
        ).alias("j"),
    )
    boots = (
        draws.join(idx.select(F.col("rn").alias("j"), "cents"), "j")
        .groupBy("b")
        .agg(F.sum("cents").alias("tot"))
    )
    br = boots.select(
        "tot", F.row_number().over(Window.orderBy("tot", "b")).alias("r")
    )
    obs = daily.agg(
        F.sum("cents").cast("long").alias("obs_total_cents"),
        F.count("*").cast("long").alias("n_days"),
    )
    lo = br.where(F.col("r") == 3).select(
        F.col("tot").cast("long").alias("boot_lo_cents")
    )
    hi = br.where(F.col("r") == _BOOT_B - 2).select(
        F.col("tot").cast("long").alias("boot_hi_cents")
    )
    return obs.crossJoin(lo).crossJoin(hi)


@register(
    "q268_gini_concentration",
    oracle="""
        WITH rev AS (
          SELECT c.c_custkey AS ck, c.c_mktsegment AS seg,
                 CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100)
                                        AS BIGINT)), 0) AS BIGINT) AS cents
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey, c.c_mktsegment
        ),
        ranked AS (
          SELECT seg, cents,
                 ROW_NUMBER() OVER (PARTITION BY seg
                                    ORDER BY cents, ck) AS i,
                 COUNT(*) OVER (PARTITION BY seg) AS n
          FROM rev
        )
        SELECT seg,
               CAST(MAX(n) AS BIGINT) AS n_customers,
               CAST(SUM(cents) AS BIGINT) AS total_cents,
               ROUND((2.0 * SUM(i * cents) - (MAX(n) + 1.0) * SUM(cents))
                     / (MAX(n) * 1.0 * SUM(cents)), 6) AS gini
        FROM ranked GROUP BY seg ORDER BY seg
    """,
    doc="Gini coefficient of customer revenue per market segment "
    "(zero-revenue customers included via the left join): the exact "
    "rank formulation G = (2*SUM(i*x) - (n+1)*SUM(x)) / (n*SUM(x)) "
    "over integer cents — the single-scalar inequality measure that "
    "summarizes what q187's Pareto rows itemize, comparable across "
    "segments and snapshots (a rising Gini = revenue concentrating "
    "into fewer accounts = churn risk). Determinism: SUM(i*x) is an "
    "exact BIGINT moment of ranks tie-broken on (cents, custkey); "
    "the one division happens at the end. Scale note: ranking "
    "partitions by segment — at extreme per-segment cardinality the "
    "two-pass bucket-histogram rank (the q148 AUC / q156 median "
    "machinery) replaces the per-segment window; the moments "
    "themselves are unchanged.",
)
def q268(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    c = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_mktsegment").alias("seg")
    )
    o = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents0"
            )
        )
    )
    rev = c.join(o, "ck", "left").select(
        "ck", "seg", F.coalesce("cents0", F.lit(0)).alias("cents")
    )
    ranked = rev.select(
        "seg",
        "cents",
        F.row_number()
        .over(Window.partitionBy("seg").orderBy("cents", "ck"))
        .alias("i"),
        F.count("*").over(Window.partitionBy("seg")).alias("n"),
    )
    return (
        ranked.groupBy("seg")
        .agg(
            F.max("n").cast("long").alias("n_customers"),
            F.sum("cents").cast("long").alias("total_cents"),
            F.round(
                (
                    2.0 * F.sum(F.col("i") * F.col("cents"))
                    - (F.max("n") + 1.0) * F.sum("cents")
                )
                / (F.max("n") * 1.0 * F.sum("cents")),
                6,
            ).alias("gini"),
        )
        .orderBy("seg")
    )


@register(
    "q269_diff_in_diff",
    oracle="""
        WITH cells AS (
          SELECT CASE WHEN (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                                 1, 8)) AS BIGINT) % 2) = 0
                      THEN 1 ELSE 0 END AS treated,
                 CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15'
                      THEN 1 ELSE 0 END AS post,
                 CAST(ROUND(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'
        ),
        mom AS (
          SELECT treated, post,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS s1,
                 CAST(SUM(cents * cents) AS BIGINT) AS s2
          FROM cells GROUP BY treated, post
        ),
        g AS (
          SELECT treated, post, n,
                 s1 * 1.0 / n AS m,
                 (n * s2 - s1 * s1) * 1.0 / (n * 1.0 * n * (n - 1)) AS var_m
          FROM mom
        )
        SELECT
          (SELECT CAST(n AS BIGINT) FROM g WHERE treated = 0 AND post = 0)
            AS n_c_pre,
          (SELECT CAST(n AS BIGINT) FROM g WHERE treated = 0 AND post = 1)
            AS n_c_post,
          (SELECT CAST(n AS BIGINT) FROM g WHERE treated = 1 AND post = 0)
            AS n_t_pre,
          (SELECT CAST(n AS BIGINT) FROM g WHERE treated = 1 AND post = 1)
            AS n_t_post,
          ROUND(((SELECT m FROM g WHERE treated = 1 AND post = 1)
                 - (SELECT m FROM g WHERE treated = 1 AND post = 0))
                - ((SELECT m FROM g WHERE treated = 0 AND post = 1)
                   - (SELECT m FROM g WHERE treated = 0 AND post = 0)), 6)
            AS did_cents,
          ROUND(SQRT((SELECT SUM(var_m) FROM g)), 6) AS se_cents,
          ROUND((((SELECT m FROM g WHERE treated = 1 AND post = 1)
                  - (SELECT m FROM g WHERE treated = 1 AND post = 0))
                 - ((SELECT m FROM g WHERE treated = 0 AND post = 1)
                    - (SELECT m FROM g WHERE treated = 0 AND post = 0)))
                / SQRT((SELECT SUM(var_m) FROM g)), 4) AS t_stat
    """,
    doc="Difference-in-differences estimator: purchase spend in cents "
    "across the 2x2 of (md5-hash-assigned treatment arm) x "
    "(pre/post Jan 15), effect = (T_post - T_pre) - (C_post - "
    "C_pre), with the standard error from the four cell-mean "
    "variances and the resulting t statistic — the workhorse causal "
    "design for staggered feature launches, which a plain post-"
    "period A/B comparison (q172) gets wrong whenever the arms "
    "differ at baseline: DiD nets out the pre-existing gap AND the "
    "common time trend. Scale shape: ONE map-side-combinable moment "
    "aggregate to 4 cells (n, sum, sum-of-squares as exact BIGINTs); "
    "everything after is arithmetic on the 4-row census. "
    "Determinism: integer moments, IEEE-exact sqrt/divide, rounding "
    "only at output.",
)
def q269(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table

    arm = (
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
    )
    cells = (
        table(spark, sf, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.when(arm == 0, 1).otherwise(0).alias("treated"),
            F.when(F.to_date("ts") > F.lit("2024-01-15"), 1)
            .otherwise(0)
            .alias("post"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    g = (
        cells.groupBy("treated", "post")
        .agg(
            F.count("*").alias("n"),
            F.sum("cents").alias("s1"),
            F.sum(F.col("cents") * F.col("cents")).alias("s2"),
        )
        .select(
            "treated",
            "post",
            "n",
            (F.col("s1") * 1.0 / F.col("n")).alias("m"),
            (
                (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"))
                * 1.0
                / (F.col("n") * 1.0 * F.col("n") * (F.col("n") - 1))
            ).alias("var_m"),
        )
    )

    def pick(t: int, p: int, c: str):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(c))
        )

    agg = g.agg(
        pick(0, 0, "n").cast("long").alias("n_c_pre"),
        pick(0, 1, "n").cast("long").alias("n_c_post"),
        pick(1, 0, "n").cast("long").alias("n_t_pre"),
        pick(1, 1, "n").cast("long").alias("n_t_post"),
        (
            (pick(1, 1, "m") - pick(1, 0, "m"))
            - (pick(0, 1, "m") - pick(0, 0, "m"))
        ).alias("did_raw"),
        F.sqrt(F.sum("var_m")).alias("se_raw"),
    )
    return agg.select(
        "n_c_pre",
        "n_c_post",
        "n_t_pre",
        "n_t_post",
        F.round("did_raw", 6).alias("did_cents"),
        F.round("se_raw", 6).alias("se_cents"),
        F.round(F.col("did_raw") / F.col("se_raw"), 4).alias("t_stat"),
    )


@register(
    "q270_trimmed_winsorized_mean",
    oracle="""
        WITH v AS (
          SELECT o_orderpriority AS prio,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                 o_orderkey AS ok
          FROM orders
        ),
        r AS (
          SELECT prio, cents,
                 ROW_NUMBER() OVER (PARTITION BY prio
                                    ORDER BY cents, ok) AS rn,
                 COUNT(*) OVER (PARTITION BY prio) AS n
          FROM v
        ),
        k AS (SELECT prio, MAX(n) AS n, MAX(n) // 10 AS k FROM r GROUP BY prio),
        bounds AS (
          SELECT r.prio,
                 MAX(CASE WHEN r.rn = k.k + 1 THEN r.cents END) AS lo,
                 MAX(CASE WHEN r.rn = k.n - k.k THEN r.cents END) AS hi
          FROM r JOIN k ON k.prio = r.prio
          GROUP BY r.prio
        )
        SELECT r.prio,
               CAST(MAX(k.n) AS BIGINT) AS n,
               CAST(MAX(k.k) AS BIGINT) AS k_trim,
               ROUND(SUM(CASE WHEN r.rn > k.k AND r.rn <= k.n - k.k
                              THEN r.cents ELSE 0 END) * 1.0
                     / (MAX(k.n) - 2 * MAX(k.k)), 6) AS trimmed_mean,
               ROUND((SUM(CASE WHEN r.rn > k.k AND r.rn <= k.n - k.k
                               THEN r.cents ELSE 0 END)
                      + MAX(k.k) * MAX(b.lo) + MAX(k.k) * MAX(b.hi)) * 1.0
                     / MAX(k.n), 6) AS winsorized_mean
        FROM r
        JOIN k ON k.prio = r.prio
        JOIN bounds b ON b.prio = r.prio
        GROUP BY r.prio
        ORDER BY r.prio
    """,
    doc="10% trimmed and winsorized means of order value per "
    "priority: exact rank-based tail handling (k = n//10 cut from "
    "each side; winsorizing clamps the tails to the exact boundary "
    "order statistics instead of deleting them) — the robust "
    "location pair between the plain mean (one whale moves it) and "
    "the median (throws away 98% of the information); the q146 MAD "
    "family's answer for LOCATION rather than spread. Determinism: "
    "ranks tie-broken on (cents, orderkey), all-integer sums, "
    "boundary values picked by exact rank equality, two final "
    "divisions. Scale note: per-group ranking windows; at extreme "
    "per-group cardinality the boundary statistics come from the "
    "two-pass bucket-histogram selection (q156) and the trimmed sum "
    "from one range-filtered aggregate over it.",
)
def q270(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    v = table_parallel(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderkey").alias("ok"),
    )
    r = v.select(
        "prio",
        "cents",
        F.row_number()
        .over(Window.partitionBy("prio").orderBy("cents", "ok"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("prio")).alias("n"),
    ).withColumn("k", F.expr("n DIV 10"))
    kept = F.when(
        (F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k")),
        F.col("cents"),
    ).otherwise(0)
    return (
        r.groupBy("prio")
        .agg(
            F.max("n").cast("long").alias("n"),
            F.max("k").cast("long").alias("k_trim"),
            F.round(
                F.sum(kept) * 1.0 / (F.max("n") - 2 * F.max("k")), 6
            ).alias("trimmed_mean"),
            F.round(
                (
                    F.sum(kept)
                    + F.max("k")
                    * F.max(
                        F.when(F.col("rn") == F.col("k") + 1, F.col("cents"))
                    )
                    + F.max("k")
                    * F.max(
                        F.when(
                            F.col("rn") == F.col("n") - F.col("k"),
                            F.col("cents"),
                        )
                    )
                )
                * 1.0
                / F.max("n"),
                6,
            ).alias("winsorized_mean"),
        )
        .orderBy("prio")
    )


_HILL_K = 100


@register(
    "q275_hill_tail_index",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
      FROM orders
    ),
    r AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey) AS rn
      FROM v
    ),
    thresh AS (SELECT cents AS xk FROM r WHERE rn = {_HILL_K} + 1),
    tail AS (
      SELECT ln(r.cents * 1.0 / t.xk) AS lr
      FROM r CROSS JOIN thresh t WHERE r.rn <= {_HILL_K}
    )
    SELECT CAST({_HILL_K} AS BIGINT) AS k_tail,
           (SELECT CAST(xk AS BIGINT) FROM thresh) AS threshold_cents,
           ROUND(AVG(lr), 6) AS mean_log_excess,
           ROUND(1.0 / AVG(lr), 4) AS hill_alpha
    FROM tail
""",
    doc=f"Hill estimator of the Pareto tail index over the top "
    "{k} order values: alpha = 1 / mean(ln(x_i / x_k+1)) on the "
    "k largest observations — the standard heavy-tail diagnostic "
    "that turns 'revenue looks whale-driven' (q268 Gini, q187 "
    "Pareto shares) into the actual tail exponent (alpha < 2 means "
    "infinite variance: sample means never stabilize and mean-based "
    "KPIs are noise). Scale shape: the only ordered work is the "
    "global top-(k+1) — a TakeOrdered-style bounded selection, "
    "never a full sort at scale — then k log-ratios against the "
    "1-row broadcast threshold. Determinism: the k-set and "
    "threshold come from exact integer-cents ranking with orderkey "
    "tiebreaks; ln enters only after the set is fixed.".format(k=_HILL_K),
)
def q275(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    v = table_parallel(spark, sf, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    # bounded TakeOrdered top-(K+1); the threshold row is the LAST of the
    # K+1 under (cents DESC, orderkey ASC), i.e. the minimum of the tiny
    # set under the reversed order — no global window anywhere.
    top = (
        v.orderBy(F.desc("cents"), "o_orderkey")
        .limit(_HILL_K + 1)
        .localCheckpoint(eager=False)
    )
    thresh = (
        top.orderBy("cents", F.desc("o_orderkey"))
        .limit(1)
        .select(F.col("cents").alias("xk"), F.col("o_orderkey").alias("tk"))
    )
    tail = (
        top.crossJoin(F.broadcast(thresh))
        .where(F.col("o_orderkey") != F.col("tk"))
        .select(F.log(F.col("cents") * 1.0 / F.col("xk")).alias("lr"))
    )
    out = tail.agg(
        F.round(F.avg("lr"), 6).alias("mean_log_excess"),
        F.round(1.0 / F.avg("lr"), 4).alias("hill_alpha"),
    )
    return (
        out.crossJoin(
            F.broadcast(thresh.select(F.col("xk").cast("long").alias("threshold_cents")))
        )
        .select(
            F.lit(_HILL_K).cast("long").alias("k_tail"),
            "threshold_cents",
            "mean_log_excess",
            "hill_alpha",
        )
    )


@register(
    "q276_naive_bayes_scoring",
    oracle="""
    WITH cust AS (
      SELECT c.c_custkey AS ck, c.c_mktsegment AS seg,
             c.c_nationkey AS nk,
             CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                  AS BIGINT) AS cents
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment, c.c_nationkey
    ),
    med AS (
      SELECT cents AS m FROM (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, ck) AS rn,
               COUNT(*) OVER () AS n
        FROM cust
      ) t WHERE rn = (n + 1) // 2
    ),
    lab AS (
      SELECT ck, seg, nk,
             CASE WHEN cents > (SELECT m FROM med) THEN 1 ELSE 0 END AS y
      FROM cust
    ),
    pri AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS ny FROM lab GROUP BY y
    ),
    tot AS (SELECT CAST(SUM(ny) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS c
            FROM pri),
    fseg AS (
      SELECT y, seg, CAST(COUNT(*) AS BIGINT) AS c FROM lab GROUP BY y, seg
    ),
    nseg AS (SELECT CAST(COUNT(DISTINCT seg) AS BIGINT) AS v FROM lab),
    fnk AS (
      SELECT y, nk, CAST(COUNT(*) AS BIGINT) AS c FROM lab GROUP BY y, nk
    ),
    nnk AS (SELECT CAST(COUNT(DISTINCT nk) AS BIGINT) AS v FROM lab),
    scored AS (
      SELECT l.y,
             (ln(p1.ny1 * 1.0 / t.n)
              + ln((COALESCE(fs1.c1, 0) + 1.0) / (p1.ny1 + ns.v))
              + ln((COALESCE(fn1.c1n, 0) + 1.0) / (p1.ny1 + nn.v)))
             -
             (ln(p0.ny0 * 1.0 / t.n)
              + ln((COALESCE(fs0.c0, 0) + 1.0) / (p0.ny0 + ns.v))
              + ln((COALESCE(fn0.c0n, 0) + 1.0) / (p0.ny0 + nn.v))) AS llr
      FROM lab l
      LEFT JOIN (SELECT seg, c AS c1 FROM fseg WHERE y = 1) fs1
        ON fs1.seg = l.seg
      LEFT JOIN (SELECT seg, c AS c0 FROM fseg WHERE y = 0) fs0
        ON fs0.seg = l.seg
      LEFT JOIN (SELECT nk, c AS c1n FROM fnk WHERE y = 1) fn1
        ON fn1.nk = l.nk
      LEFT JOIN (SELECT nk, c AS c0n FROM fnk WHERE y = 0) fn0
        ON fn0.nk = l.nk
      CROSS JOIN (SELECT ny AS ny1 FROM pri WHERE y = 1) p1
      CROSS JOIN (SELECT ny AS ny0 FROM pri WHERE y = 0) p0
      CROSS JOIN tot t
      CROSS JOIN nseg ns
      CROSS JOIN nnk nn
    )
    SELECT CAST(SUM(CASE WHEN llr > 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS tp,
           CAST(SUM(CASE WHEN llr > 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS fp,
           CAST(SUM(CASE WHEN llr <= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS fn,
           CAST(SUM(CASE WHEN llr <= 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS tn,
           ROUND(SUM(CASE WHEN (llr > 0) = (y = 1) THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS accuracy
    FROM scored
""",
    doc="Categorical naive Bayes, trained and scored in-database: "
    "label = customer lifetime revenue above the exact median, "
    "features = (market segment, nation), add-1 smoothed "
    "class-conditional tables, score = log-likelihood ratio; output "
    "is the training-set confusion matrix + accuracy. The "
    "generative-classifier member of the model suite (q223 stump, "
    "q198 OLS, q228 isotonic): every 'model' is a pair of "
    "census-sized probability tables, which is why NB is the "
    "classifier that scales to any corpus — fit is two "
    "map-side-combinable counts, scoring is two broadcast lookups "
    "per row, no iteration. Determinism: the label threshold is an "
    "exact order statistic, selected by the two-phase sharded "
    "row_number (dist_rank.with_global_rank), not a single-task "
    "window; the LLR sign is compared identically from identical "
    "double arithmetic.",
)
def q276(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    c = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nk"),
    )
    o = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents0"))
    )
    # cust feeds both the median rank pass and the labeled table; lab
    # fans out to SIX consumers (priors, totals, two cardinalities, two
    # frequency censuses, scoring) — checkpoint each so the customer/
    # orders join and the sharded median pass run once, not per branch.
    cust = (
        c.join(o, "ck", "left")
        .select(
            "ck", "seg", "nk", F.coalesce("cents0", F.lit(0)).alias("cents")
        )
        .localCheckpoint(eager=False)
    )
    from harmony_spark.operators.dist_rank import with_global_rank

    # cust is checkpointed (fan-out) — explicit stats_token, see q197
    ranked, n_cust = with_global_rank(
        cust.select("cents", "ck"),
        "cents",
        ("ck",),
        out="rn",
        stats_token=("q276", sf),
    )
    med = ranked.where(F.col("rn") == (n_cust + 1) // 2).select(
        F.col("cents").alias("m")
    )
    lab = (
        cust.crossJoin(F.broadcast(med))
        .select(
            "ck",
            "seg",
            "nk",
            F.when(F.col("cents") > F.col("m"), 1).otherwise(0).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    # ONE bounded census job replaces the prior/cardinality/frequency
    # fan-out (6 aggregates) AND the 9-broadcast scoring join: every
    # model statistic and the score itself are functions of the
    # (y, seg, nk) cell, and |segments| x |nations| x 2 is ~250 cells
    # at any data scale — so train + score + confusion matrix is one
    # distributed aggregate and driver arithmetic on its census.
    import math

    cells = (
        lab.groupBy("y", "seg", "nk").agg(F.count("*").alias("c")).collect()
    )
    ny = {0: 0, 1: 0}
    cs: dict[tuple, int] = {}
    cn: dict[tuple, int] = {}
    for r in cells:
        ny[r["y"]] += r["c"]
        cs[(r["y"], r["seg"])] = cs.get((r["y"], r["seg"]), 0) + r["c"]
        cn[(r["y"], r["nk"])] = cn.get((r["y"], r["nk"]), 0) + r["c"]
    n = ny[0] + ny[1]
    vseg = len({s for _, s in cs})
    vnk = len({k for _, k in cn})

    def leg(y, seg, nk):
        return (
            math.log(ny[y] * 1.0 / n)
            + math.log((cs.get((y, seg), 0) + 1.0) / (ny[y] + vseg))
            + math.log((cn.get((y, nk), 0) + 1.0) / (ny[y] + vnk))
        )

    tp = fp = fn = tn = 0
    for r in cells:
        pos = leg(1, r["seg"], r["nk"]) - leg(0, r["seg"], r["nk"]) > 0
        if pos and r["y"] == 1:
            tp += r["c"]
        elif pos:
            fp += r["c"]
        elif r["y"] == 1:
            fn += r["c"]
        else:
            tn += r["c"]
    return spark.createDataFrame(
        [(tp, fp, fn, tn, round((tp + tn) * 1.0 / n, 6))],
        "tp long, fp long, fn long, tn long, accuracy double",
    )


@register(
    "q280_matching_att",
    oracle="""
    WITH cust AS (
      SELECT c.c_custkey AS ck,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS bal,
             CASE WHEN (CAST(('0x' || substr(md5(CAST(c.c_custkey AS VARCHAR)),
                                             1, 8)) AS BIGINT) % 2) = 0
                  THEN 1 ELSE 0 END AS treated,
             CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                  AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_acctbal
    ),
    spine AS (
      SELECT ck, bal, treated, y,
             LAST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS)
               OVER w AS pbal,
             LAST_VALUE(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
               OVER w AS py,
             FIRST_VALUE(CASE WHEN treated = 0 THEN bal END IGNORE NULLS)
               OVER w2 AS nbal,
             FIRST_VALUE(CASE WHEN treated = 0 THEN y END IGNORE NULLS)
               OVER w2 AS ny
      FROM cust
      WINDOW w AS (ORDER BY bal, ck
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             w2 AS (ORDER BY bal, ck
                    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    ),
    matched AS (
      SELECT ck, bal, y,
             CASE WHEN pbal IS NULL THEN ny
                  WHEN nbal IS NULL THEN py
                  WHEN bal - pbal <= nbal - bal THEN py
                  ELSE ny END AS y_ctrl
      FROM spine WHERE treated = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_treated,
           ROUND(AVG(y - y_ctrl), 6) AS att_cents,
           (SELECT ROUND(AVG(CASE WHEN treated = 1 THEN y END)
                         - AVG(CASE WHEN treated = 0 THEN y END), 6)
            FROM cust) AS naive_diff_cents
    FROM matched
""",
    doc="Average treatment effect on the treated (ATT) by 1-nearest-"
    "neighbor covariate matching: every md5-assigned treated "
    "customer is matched to the control with the closest account "
    "balance, and ATT = mean(y_treated - y_matched_control) on "
    "lifetime revenue, reported next to the unadjusted naive "
    "difference it corrects. Completes the causal trio — q172 "
    "randomized A/B, q269 DiD, and matching for when neither "
    "randomization nor a pre-period exists. The scale insight: 1-NN "
    "matching on a scalar covariate needs NO pair join at all — "
    "sort the pooled spine once by (balance, id) and every treated "
    "row's nearest control is either the last-control-before or "
    "first-control-after — two ignore-nulls carry windows executed "
    "shard-parallel (range-sharded on balance, per-shard windows + "
    "a 65-row broadcast cross-shard carry), so matching is a "
    "distributed O(n log n) where the naive statement is an O(n^2) "
    "cross join with an argmin. Determinism: integer-cents "
    "covariate and outcome, deterministic spine order, ties prefer "
    "the preceding control on both engines.",
)
def q280(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    c = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"),
    )
    arm = (
        F.conv(F.substring(F.md5(F.col("ck").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    o = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y0"))
    )
    cust = (
        c.join(o, "ck", "left")
        .select(
            "ck",
            "bal",
            F.when(arm == 0, 1).otherwise(0).alias("treated"),
            F.coalesce("y0", F.lit(0)).alias("y"),
        )
    )
    # Two-phase sharded carry (dist_rank pattern): the spine is range-
    # sharded on bal (ties share a shard), each shard runs the two
    # carry windows PARTITIONED by shard, and the cross-shard carry-in
    # (last/first control of the neighbouring shards) is a <=2*64-row
    # driver-side prefix/suffix scan broadcast back — the global-order
    # semantics of the single-task window without the single task.
    from harmony_spark.operators.dist_rank import with_range_shard

    cust = cust.localCheckpoint(eager=False)
    sh = with_range_shard(cust, "bal")
    ctrl_stats = (
        sh.where(F.col("treated") == 0)
        .groupBy("__shard")
        .agg(
            F.max_by(F.struct("bal", "y"), F.struct("bal", "ck")).alias("lc"),
            F.min_by(F.struct("bal", "y"), F.struct("bal", "ck")).alias("fc"),
        )
        .collect()
    )
    last_c = {r["__shard"]: r["lc"] for r in ctrl_stats}
    first_c = {r["__shard"]: r["fc"] for r in ctrl_stats}
    max_shard = 64
    carry_rows, prev = [], None
    nxt, nxt_map = None, {}
    for s in range(max_shard, -1, -1):
        nxt_map[s] = nxt
        if s in first_c:
            nxt = first_c[s]
    for s in range(0, max_shard + 1):
        nx = nxt_map[s]
        carry_rows.append(
            (
                s,
                prev["bal"] if prev else None,
                prev["y"] if prev else None,
                nx["bal"] if nx else None,
                nx["y"] if nx else None,
            )
        )
        if s in last_c:
            prev = last_c[s]
    carry = spark.createDataFrame(
        carry_rows, "__shard int, pbal0 long, py0 long, nbal0 long, ny0 long"
    )
    wp = (
        Window.partitionBy("__shard")
        .orderBy("bal", "ck")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("__shard")
        .orderBy("bal", "ck")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    cb = F.when(F.col("treated") == 0, F.col("bal"))
    cy = F.when(F.col("treated") == 0, F.col("y"))
    spine = sh.join(F.broadcast(carry), "__shard").select(
        "ck",
        "bal",
        "treated",
        "y",
        F.coalesce(
            F.last(cb, ignorenulls=True).over(wp), F.col("pbal0")
        ).alias("pbal"),
        F.coalesce(
            F.last(cy, ignorenulls=True).over(wp), F.col("py0")
        ).alias("py"),
        F.coalesce(
            F.first(cb, ignorenulls=True).over(wn), F.col("nbal0")
        ).alias("nbal"),
        F.coalesce(
            F.first(cy, ignorenulls=True).over(wn), F.col("ny0")
        ).alias("ny"),
    )
    matched = spine.where(F.col("treated") == 1).select(
        "y",
        F.when(F.col("pbal").isNull(), F.col("ny"))
        .when(F.col("nbal").isNull(), F.col("py"))
        .when(
            F.col("bal") - F.col("pbal") <= F.col("nbal") - F.col("bal"),
            F.col("py"),
        )
        .otherwise(F.col("ny"))
        .alias("y_ctrl"),
    )
    att = matched.agg(
        F.count("*").cast("long").alias("n_treated"),
        F.round(F.avg(F.col("y") - F.col("y_ctrl")), 6).alias("att_cents"),
    )
    naive = cust.agg(
        F.round(
            F.avg(F.when(F.col("treated") == 1, F.col("y")))
            - F.avg(F.when(F.col("treated") == 0, F.col("y"))),
            6,
        ).alias("naive_diff_cents")
    )
    return att.crossJoin(F.broadcast(naive))


@register(
    "q288_sprt_sequential_test",
    oracle="""
    WITH ev AS (
      SELECT CAST(ts AS DATE) AS day,
             CASE WHEN (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                             1, 8)) AS BIGINT) % 2) = 0
                  THEN 1 ELSE 0 END AS arm,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    p0t AS (
      SELECT SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) * 1.0
             / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS p0
      FROM ev
    ),
    daily AS (
      SELECT day,
             SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x,
             SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n
      FROM ev GROUP BY day
    ),
    llr AS (
      SELECT day,
             x * ln(LEAST(p0.p0 * 1.25, 0.999) / p0.p0)
             + (n - x) * ln((1 - LEAST(p0.p0 * 1.25, 0.999)) / (1 - p0.p0))
               AS l
      FROM daily CROSS JOIN p0t p0
    ),
    cum AS (
      SELECT day,
             SUM(l) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             ROW_NUMBER() OVER (ORDER BY day) AS rn
      FROM llr
    ),
    crossed AS (
      SELECT day, c, rn,
             CASE WHEN c >= ln(0.95 / 0.05) THEN 'accept_h1'
                  WHEN c <= ln(0.05 / 0.95) THEN 'accept_h0'
                  ELSE NULL END AS verdict
      FROM cum
    ),
    first_cross AS (
      SELECT day, verdict FROM crossed
      WHERE verdict IS NOT NULL
      ORDER BY rn LIMIT 1
    )
    SELECT COALESCE((SELECT verdict FROM first_cross), 'continue')
             AS decision,
           COALESCE((SELECT CAST(day AS VARCHAR) FROM first_cross), 'none')
             AS decision_day,
           (SELECT ROUND(MAX(c), 4) FROM cum WHERE rn = (SELECT MAX(rn)
                                                         FROM cum))
             AS final_llr,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cum) AS n_days
""",
    doc="Wald's sequential probability ratio test (SPRT) on the "
    "hash-split A/B purchase-rate experiment: per-day binomial "
    "log-likelihood ratios of H1 (treatment converts at 1.25x the "
    "control rate) vs H0 (equal rates) accumulate in arrival order, "
    "and the test DECIDES at the first crossing of the Wald "
    "boundaries ln(19)/-ln(19) (alpha = beta = 0.05) — the "
    "always-valid sequential answer to peeking, where the "
    "fixed-horizon z-test (q172) inflates false positives if "
    "checked daily. Completes the testing family: fixed-horizon "
    "(q172), robust/two-sample (q144/q221), and now sequential. "
    "Scale shape: one (day, arm) count aggregate; the LLR "
    "accumulation and boundary scan are windows over the day "
    "census. Determinism: exact integer counts into ln (identical "
    "doubles both engines), first crossing by exact row order.",
)
def q288(spark: SparkSession, sf: str) -> DataFrame:
    import math

    from harmony_spark.io import table

    arm = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    ev = (
        table(spark, sf, "events")
        .where(F.col("event_type").isin("purchase", "view"))
        .select(
            F.to_date("ts").alias("day"),
            F.when(arm == 0, 1).otherwise(0).alias("arm"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
                "conv"
            ),
        )
    )
    p0t = ev.agg(
        (
            F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
            * 1.0
            / F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        ).alias("p0")
    )
    daily = ev.groupBy("day").agg(
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n"),
    )
    p1 = F.least(F.col("p0") * 1.25, F.lit(0.999))
    llr = daily.crossJoin(F.broadcast(p0t)).select(
        "day",
        (
            F.col("x") * F.log(p1 / F.col("p0"))
            + (F.col("n") - F.col("x")) * F.log((1 - p1) / (1 - F.col("p0")))
        ).alias("l"),
    )
    wcum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = llr.select(
        "day",
        F.sum("l").over(wcum).alias("c"),
        F.row_number().over(Window.orderBy("day")).alias("rn"),
    )
    hi = math.log(0.95 / 0.05)
    lo = math.log(0.05 / 0.95)
    crossed = cum.withColumn(
        "verdict",
        F.when(F.col("c") >= hi, "accept_h1").when(
            F.col("c") <= lo, "accept_h0"
        ),
    )
    fc = (
        crossed.where(F.col("verdict").isNotNull())
        .orderBy("rn")
        .limit(1)
        .select(
            F.col("verdict").alias("decision"),
            F.date_format("day", "yyyy-MM-dd").alias("decision_day"),
        )
    )
    last = crossed.orderBy(F.desc("rn")).limit(1).select(
        F.round("c", 4).alias("final_llr")
    )
    nd = cum.agg(F.count("*").cast("long").alias("n_days"))
    base = spark.createDataFrame(
        [("continue", "none")], "decision string, decision_day string"
    )
    dec = fc.unionByName(base).limit(1)
    return dec.crossJoin(last).crossJoin(nd)


_AA_SPLITS = 20


@register(
    "q295_aa_calibration",
    oracle=f"""
        WITH u AS (
          SELECT user_id,
                 CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END) >= 14
                      THEN 1 ELSE 0 END AS conv
          FROM events GROUP BY user_id
        ),
        s AS (SELECT UNNEST(generate_series(1, {_AA_SPLITS})) AS salt),
        arms AS (
          SELECT s.salt, u.conv,
                 CAST(('0x' || substr(md5(CAST(u.user_id AS VARCHAR) || '#'
                      || CAST(s.salt AS VARCHAR)), 1, 8)) AS BIGINT) % 2
                   AS arm
          FROM u CROSS JOIN s
        ),
        g AS (
          SELECT salt,
                 SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x0,
                 SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                 SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x1,
                 SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
          FROM arms GROUP BY salt
        ),
        z AS (
          SELECT salt,
                 (CAST(x1 AS DOUBLE) / n1 - CAST(x0 AS DOUBLE) / n0)
                 / sqrt((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)) AS z
          FROM g
        )
        SELECT CAST({_AA_SPLITS} AS BIGINT) AS n_splits,
               CAST(SUM(CASE WHEN ABS(z) > 1.96 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_false_pos,
               ROUND(MAX(ABS(z)), 6) AS max_abs_z,
               ROUND(AVG(ABS(z)), 6) AS mean_abs_z
        FROM z
    """,
    doc=f"A/A-test calibration: {_AA_SPLITS} independent md5-salted "
    "50/50 splits of the SAME user population, each scored with the "
    "pooled two-proportion z-test (q172's statistic), reporting how "
    "many null splits cross |z|>1.96 — the experimentation-platform "
    "health check that validates the assignment hash and the test's "
    "nominal false-positive rate BEFORE anyone trusts a real A/B "
    "readout (a biased bucketing hash or dependent units show up "
    "here as excess false positives). Determinism: assignment is "
    "the same md5-prefix arithmetic on both engines, counts are "
    "exact integers, one sqrt per split. Plan shape: one user "
    f"aggregate, a x{_AA_SPLITS} salt explode (constant fan-out, "
    f"map-side), one (salt, arm) census, a {_AA_SPLITS}-row z table.",
)
def q295(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 14,
                1,
            )
            .otherwise(0)
            .alias("conv")
        )
    )
    salts = F.explode(
        F.array(*[F.lit(i) for i in range(1, _AA_SPLITS + 1)])
    ).alias("salt")
    arm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit("#"),
                        F.col("salt").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    arms = u.select("user_id", "conv", salts).select(
        "salt", "conv", arm.alias("arm")
    )
    g = arms.groupBy("salt").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias("x0"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias("x1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
    )
    p = (F.col("x0") + F.col("x1")).cast("double") / (
        F.col("n0") + F.col("n1")
    )
    z = (
        F.col("x1").cast("double") / F.col("n1")
        - F.col("x0").cast("double") / F.col("n0")
    ) / F.sqrt(p * (1 - p) * (1.0 / F.col("n0") + 1.0 / F.col("n1")))
    return g.select(z.alias("z")).agg(
        F.lit(_AA_SPLITS).cast("long").alias("n_splits"),
        F.sum(F.when(F.abs("z") > 1.96, 1).otherwise(0))
        .cast("long")
        .alias("n_false_pos"),
        F.round(F.max(F.abs("z")), 6).alias("max_abs_z"),
        F.round(F.avg(F.abs("z")), 6).alias("mean_abs_z"),
    )


# --------------------------------------------------------------------
# Session-7 experimentation family: variance reduction (CUPED),
# stratified pooling (CMH), empirical-Bayes shrinkage, ratio-metric
# standard errors (delta method + jackknife), distribution drift
# (binned Wasserstein-1), ranking/calibration metrics (average
# precision, Brier decomposition), the SRM launch gate, quantile
# treatment effects, and market concentration (HHI).

_ARM_SQL = """CASE WHEN (CAST(('0x' || substr(md5(CAST({key} AS VARCHAR)),
                    1, 8)) AS BIGINT) + 1.0) / 4294967297.0 < 0.5
          THEN {a} ELSE {b} END"""


def _arm_col(key: str):
    """Seedless md5-hash uniform in (0,1) — the q170/q172 bucketing
    convention, reproducible across engines and re-runs."""
    u = (
        F.conv(
            F.substring(F.md5(F.col(key).cast("string")), 1, 8), 16, 10
        ).cast("double")
        + 1.0
    ) / 4294967297.0
    return u


@register(
    "q298_cuped_adjustment",
    oracle=f"""
        WITH per_user AS (
          SELECT user_id,
                 {_ARM_SQL.format(key="user_id", a="'A'", b="'B'")} AS arm,
                 SUM(CASE WHEN event_type = 'purchase'
                           AND ts < TIMESTAMP '2024-01-16 00:00:00'
                          THEN value ELSE 0 END) AS pre,
                 SUM(CASE WHEN event_type = 'purchase'
                           AND ts >= TIMESTAMP '2024-01-16 00:00:00'
                          THEN value ELSE 0 END) AS post
          FROM events GROUP BY user_id
        ),
        prior AS (
          SELECT COVAR_SAMP(pre, post) / VAR_SAMP(pre) AS theta,
                 AVG(pre) AS mu_pre
          FROM per_user
        ),
        adj AS (
          SELECT arm, post, post - theta * (pre - mu_pre) AS y
          FROM per_user, prior
        )
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               ROUND(AVG(post), 6) AS mean_post,
               ROUND(AVG(y), 6) AS mean_cuped,
               ROUND(1.0 - VAR_SAMP(y) / VAR_SAMP(post), 6) AS var_reduction
        FROM adj GROUP BY arm ORDER BY arm
    """,
    doc="CUPED variance reduction for the purchase-revenue A/B metric: "
    "theta = cov(pre, post)/var(pre) fitted on the pooled pre-period "
    "(first half of the observation month) covariate, adjusted "
    "metric y = post - theta*(pre - mean(pre)), reported per md5-"
    "hash arm with the achieved variance-reduction ratio — the "
    "standard trick that lets an experiment reach significance with "
    "a fraction of the traffic, and the natural follow-on to q172's "
    "unadjusted z-test. Plan shape: one user-keyed aggregate, a "
    "1-row theta/mean census broadcast back over the user vector, "
    "then a per-arm aggregate — two shuffles total, nothing global. "
    "Determinism: value has 2 decimals so the per-user sums are "
    "exact on the cent grid; theta/variances are single-expression "
    "doubles rounded at 6dp.",
)
def q298(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = _arm_col("user_id")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    per_user = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(is_p & (F.col("ts") < cut), F.col("value")).otherwise(
                    0.0
                )
            ).alias("pre"),
            F.sum(
                F.when(is_p & (F.col("ts") >= cut), F.col("value")).otherwise(
                    0.0
                )
            ).alias("post"),
        )
        .withColumn("arm", F.when(u < 0.5, "A").otherwise("B"))
    )
    prior = per_user.agg(
        (F.covar_samp("pre", "post") / F.var_samp("pre")).alias("theta"),
        F.avg("pre").alias("mu_pre"),
    )
    adj = per_user.crossJoin(F.broadcast(prior)).select(
        "arm",
        "post",
        (
            F.col("post") - F.col("theta") * (F.col("pre") - F.col("mu_pre"))
        ).alias("y"),
    )
    return (
        adj.groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.round(F.avg("post"), 6).alias("mean_post"),
            F.round(F.avg("y"), 6).alias("mean_cuped"),
            F.round(1.0 - F.var_samp("y") / F.var_samp("post"), 6).alias(
                "var_reduction"
            ),
        )
        .orderBy("arm")
    )


@register(
    "q299_cmh_pooled_or",
    oracle=f"""
        WITH tab AS (
          SELECT o_orderpriority AS stratum,
                 {_ARM_SQL.format(key="o_custkey", a="1", b="0")} AS treated,
                 CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS hit
          FROM orders
        ),
        cells AS (
          SELECT stratum,
                 SUM(CASE WHEN treated = 1 AND hit = 1 THEN 1 ELSE 0 END) AS a,
                 SUM(CASE WHEN treated = 1 AND hit = 0 THEN 1 ELSE 0 END) AS b,
                 SUM(CASE WHEN treated = 0 AND hit = 1 THEN 1 ELSE 0 END) AS c,
                 SUM(CASE WHEN treated = 0 AND hit = 0 THEN 1 ELSE 0 END) AS d
          FROM tab GROUP BY stratum
        ),
        pooled AS (
          SELECT SUM(CAST(a AS DOUBLE) * d / (a + b + c + d))
                 / SUM(CAST(b AS DOUBLE) * c / (a + b + c + d)) AS cmh_or
          FROM cells
        )
        SELECT stratum,
               CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
               CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
               ROUND((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c), 6)
                 AS stratum_or,
               ROUND((SELECT cmh_or FROM pooled), 6) AS cmh_or
        FROM cells ORDER BY stratum
    """,
    doc="Cochran-Mantel-Haenszel pooled odds ratio across order-"
    "priority strata: per-stratum 2x2 tables (md5-hash treatment x "
    "high-value outcome) with the CMH estimator sum(a*d/n)/"
    "sum(b*c/n) — the stratified-experiment pool that cancels "
    "confounding a naive marginal odds ratio absorbs (Simpson's "
    "paradox guard), complementing q269's diff-in-diff. Plan shape: "
    "one stratum-keyed aggregate (5 bounded strata), a 1-row pooled "
    "census broadcast back — all counts exact integers, the two "
    "double ratios rounded at 6dp.",
)
def q299(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = _arm_col("o_custkey")
    tab = table_parallel(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("stratum"),
        F.when(u < 0.5, 1).otherwise(0).alias("treated"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("hit"),
    )
    cells = tab.groupBy("stratum").agg(
        F.sum(
            F.when((F.col("treated") == 1) & (F.col("hit") == 1), 1).otherwise(0)
        ).alias("a"),
        F.sum(
            F.when((F.col("treated") == 1) & (F.col("hit") == 0), 1).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when((F.col("treated") == 0) & (F.col("hit") == 1), 1).otherwise(0)
        ).alias("c"),
        F.sum(
            F.when((F.col("treated") == 0) & (F.col("hit") == 0), 1).otherwise(0)
        ).alias("d"),
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    pooled = cells.agg(
        (
            F.sum(F.col("a").cast("double") * F.col("d") / n)
            / F.sum(F.col("b").cast("double") * F.col("c") / n)
        ).alias("cmh_or")
    )
    return (
        cells.crossJoin(F.broadcast(pooled))
        .select(
            "stratum",
            F.col("a").cast("long").alias("a"),
            F.col("b").cast("long").alias("b"),
            F.col("c").cast("long").alias("c"),
            F.col("d").cast("long").alias("d"),
            F.round(
                (F.col("a").cast("double") * F.col("d"))
                / (F.col("b").cast("double") * F.col("c")),
                6,
            ).alias("stratum_or"),
            F.round(F.col("cmh_or"), 6).alias("cmh_or"),
        )
        .orderBy("stratum")
    )


@register(
    "q300_eb_rate_shrinkage",
    oracle="""
        WITH per_supp AS (
          SELECT l_suppkey,
                 COUNT(*) AS n,
                 SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS x
          FROM lineitem GROUP BY l_suppkey
        ),
        prior AS (
          SELECT AVG(CAST(x AS DOUBLE) / n) AS m,
                 VAR_SAMP(CAST(x AS DOUBLE) / n) AS v
          FROM per_supp
        ),
        ab AS (
          SELECT m * (m * (1 - m) / v - 1) AS alpha,
                 (1 - m) * (m * (1 - m) / v - 1) AS beta
          FROM prior
        ),
        scored AS (
          SELECT l_suppkey, n, x,
                 CAST(x AS DOUBLE) / n AS raw_rate,
                 (x + alpha) / (n + alpha + beta) AS shrunk
          FROM per_supp, ab
        )
        SELECT CAST(l_suppkey AS BIGINT) AS l_suppkey,
               CAST(n AS BIGINT) AS n,
               CAST(x AS BIGINT) AS x,
               ROUND(raw_rate, 6) AS raw_rate,
               ROUND(shrunk, 6) AS shrunk_rate,
               ROUND(ABS(shrunk - raw_rate), 6) AS shrinkage
        FROM scored
        ORDER BY ROUND(ABS(shrunk - raw_rate), 6) DESC, l_suppkey
        LIMIT 15
    """,
    doc="Empirical-Bayes beta-binomial shrinkage of per-supplier "
    "return rates: a method-of-moments Beta(alpha, beta) prior "
    "fitted on the corpus of raw rates (kappa = m(1-m)/v - 1), each "
    "supplier's rate shrunk to (x+alpha)/(n+alpha+beta) — the "
    "standard fix for small-n leaderboards where a 1-for-2 supplier "
    "outranks a 40-for-100 one; top-15 movers by |shrunk - raw|. "
    "Plan shape: one supplier-keyed aggregate, a 1-row prior census "
    "broadcast back, TakeOrdered(15) on the rounded key with "
    "suppkey tiebreak (never a global sort). Determinism: integer "
    "counts; ordering on the 6dp-ROUNDED shrinkage, the "
    "rank-on-rounded-keys oracle-portability rule.",
)
def q300(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    per_supp = (
        table_parallel(spark, sf, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
            ).alias("x"),
        )
    )
    rate = F.col("x").cast("double") / F.col("n")
    prior = per_supp.agg(F.avg(rate).alias("m"), F.var_samp(rate).alias("v"))
    kappa = F.col("m") * (1 - F.col("m")) / F.col("v") - 1
    ab = prior.select(
        (F.col("m") * kappa).alias("alpha"),
        ((1 - F.col("m")) * kappa).alias("beta"),
    )
    shrunk = (F.col("x") + F.col("alpha")) / (
        F.col("n") + F.col("alpha") + F.col("beta")
    )
    scored = per_supp.crossJoin(F.broadcast(ab)).select(
        F.col("l_suppkey").cast("long").alias("l_suppkey"),
        F.col("n").cast("long").alias("n"),
        F.col("x").cast("long").alias("x"),
        F.round(rate, 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round(F.abs(shrunk - rate), 6).alias("shrinkage"),
    )
    return scored.orderBy(F.desc("shrinkage"), "l_suppkey").limit(15)


@register(
    "q301_delta_method_ratio",
    oracle=f"""
        WITH per_user AS (
          SELECT user_id,
                 {_ARM_SQL.format(key="user_id", a="'A'", b="'B'")} AS arm,
                 SUM(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END) AS x,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
          FROM events GROUP BY user_id
        )
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(y) AS BIGINT) AS n_purchases,
               ROUND(SUM(x) / SUM(y), 6) AS ratio,
               ROUND(SQRT((VAR_SAMP(x)
                           + POW(SUM(x) / SUM(y), 2) * VAR_SAMP(y)
                           - 2 * (SUM(x) / SUM(y)) * COVAR_SAMP(x, y))
                          / COUNT(*)) / (SUM(y) / COUNT(*)), 6) AS delta_se
        FROM per_user GROUP BY arm ORDER BY arm
    """,
    doc="Delta-method standard error for the ratio metric revenue-"
    "per-purchase, per md5-hash arm: ratio metrics violate the "
    "iid-per-unit assumption a naive t-test needs (both numerator "
    "and denominator are random per user), so the correct SE is the "
    "first-order Taylor expansion se = sqrt((var_x + r^2 var_y - "
    "2 r cov_xy)/n) / mean_y over user-level (x, y) pairs — the "
    "estimator every experimentation platform implements for "
    "revenue-per-session metrics. Cross-validated by q302's "
    "jackknife on the same statistic. Plan shape: one user-keyed "
    "aggregate then one per-arm moment aggregate — two shuffles, "
    "all moments single-pass.",
)
def q301(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = _arm_col("user_id")
    is_p = F.col("event_type") == "purchase"
    per_user = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(is_p, F.col("value")).otherwise(0.0)).alias("x"),
            F.sum(F.when(is_p, 1).otherwise(0)).alias("y"),
        )
        .withColumn("arm", F.when(u < 0.5, "A").otherwise("B"))
    )
    r = F.sum("x") / F.sum("y")
    return (
        per_user.groupBy("arm")
        .agg(
            F.count("*").cast("long").alias("n_users"),
            F.sum("y").cast("long").alias("n_purchases"),
            F.round(r, 6).alias("ratio"),
            F.round(
                F.sqrt(
                    (
                        F.var_samp("x")
                        + F.pow(r, 2) * F.var_samp("y")
                        - 2 * r * F.covar_samp("x", "y")
                    )
                    / F.count("*")
                )
                / (F.sum("y") / F.count("*")),
                6,
            ).alias("delta_se"),
        )
        .orderBy("arm")
    )


@register(
    "q302_jackknife_ratio_se",
    oracle=f"""
        WITH per_user AS (
          SELECT user_id,
                 {_ARM_SQL.format(key="user_id", a="'A'", b="'B'")} AS arm,
                 SUM(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END) AS x,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
          FROM events GROUP BY user_id
        ),
        tot AS (
          SELECT arm, SUM(x) AS sx, SUM(y) AS sy, COUNT(*) AS n
          FROM per_user GROUP BY arm
        ),
        loo AS (
          SELECT p.arm, t.n, t.sx / t.sy AS ratio,
                 (t.sx - p.x) / (t.sy - p.y) AS theta_i
          FROM per_user p JOIN tot t ON t.arm = p.arm
        ),
        mean_t AS (SELECT arm, AVG(theta_i) AS tbar FROM loo GROUP BY arm)
        SELECT l.arm AS arm,
               CAST(MAX(l.n) AS BIGINT) AS n_users,
               ROUND(MAX(l.ratio), 6) AS ratio,
               ROUND(SQRT((MAX(l.n) - 1.0) / MAX(l.n)
                          * SUM(POW(l.theta_i - m.tbar, 2))), 6)
                 AS jackknife_se
        FROM loo l JOIN mean_t m ON m.arm = l.arm
        GROUP BY l.arm ORDER BY arm
    """,
    doc="Leave-one-out jackknife standard error for the same revenue-"
    "per-purchase ratio as q301 — the closed-form delete-one "
    "estimator theta_i = (Sx - x_i)/(Sy - y_i) needs only the arm "
    "totals broadcast back over the user vector (no n-fold "
    "recompute), then se^2 = (n-1)/n * sum((theta_i - mean)^2). The "
    "resampling cross-check of q301's analytic delta method: the "
    "two SEs agree to first order, and an experimentation platform "
    "ships both (jackknife as the assumption-free fallback). Plan "
    "shape: user-keyed aggregate -> 2-row totals broadcast -> "
    "per-user LOO expression -> 2-row mean broadcast -> per-arm "
    "moment aggregate; three shuffles, all user-partitioned.",
)
def q302(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = _arm_col("user_id")
    is_p = F.col("event_type") == "purchase"
    per_user = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(is_p, F.col("value")).otherwise(0.0)).alias("x"),
            F.sum(F.when(is_p, 1).otherwise(0)).alias("y"),
        )
        .withColumn("arm", F.when(u < 0.5, "A").otherwise("B"))
    )
    tot = per_user.groupBy("arm").agg(
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.count("*").alias("n"),
    )
    loo = per_user.join(F.broadcast(tot), "arm").select(
        "arm",
        "n",
        (F.col("sx") / F.col("sy")).alias("ratio"),
        ((F.col("sx") - F.col("x")) / (F.col("sy") - F.col("y"))).alias(
            "theta_i"
        ),
    )
    mean_t = loo.groupBy("arm").agg(F.avg("theta_i").alias("tbar"))
    return (
        loo.join(F.broadcast(mean_t), "arm")
        .groupBy("arm")
        .agg(
            F.max("n").cast("long").alias("n_users"),
            F.round(F.max("ratio"), 6).alias("ratio"),
            F.round(
                F.sqrt(
                    (F.max("n") - 1.0)
                    / F.max("n")
                    * F.sum(F.pow(F.col("theta_i") - F.col("tbar"), 2))
                ),
                6,
            ).alias("jackknife_se"),
        )
        .orderBy("arm")
    )


_W1_BIN = 25000


@register(
    "q303_wasserstein_drift",
    oracle=f"""
        WITH tagged AS (
          SELECT CAST(FLOOR(o_totalprice / {_W1_BIN}) AS BIGINT) AS bin,
                 CASE WHEN o_orderdate < DATE '1998-01-01' THEN 1 ELSE 0 END
                   AS pre
          FROM orders
        ),
        bins AS (
          SELECT bin, SUM(pre) AS n1, SUM(1 - pre) AS n2
          FROM tagged GROUP BY bin
        ),
        tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM bins),
        cdf AS (
          SELECT bin,
                 SUM(n1) OVER (ORDER BY bin) * 1.0 / t1 AS f1,
                 SUM(n2) OVER (ORDER BY bin) * 1.0 / t2 AS f2
          FROM bins, tot
        )
        SELECT CAST((SELECT t1 FROM tot) AS BIGINT) AS n_pre,
               CAST((SELECT t2 FROM tot) AS BIGINT) AS n_post,
               ROUND(SUM(ABS(f1 - f2)) * {_W1_BIN}, 6) AS w1_distance
        FROM cdf
    """,
    doc="Binned 1-D Wasserstein-1 (earth-mover) distance between the "
    "pre-1998 and post-1998 order-value distributions: W1 = "
    "sum(|CDF1 - CDF2|) * bin_width over a fixed 25k-unit price "
    "grid — the drift metric that, unlike q201's PSI or q111's KL, "
    "is a true METRIC in value space (reports HOW FAR mass moved, "
    "in currency units, not just that it moved), so it is the right "
    "alarm threshold for 'did the spend distribution shift "
    "materially'. Plan shape: one bin-keyed census collapses the "
    "fact table to <=40 price-grid rows; the CDF window runs on "
    "that census (allowlisted bounded global window); exact integer "
    "bin counts, one rounded double out.",
)
def q303(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    tagged = table_parallel(spark, sf, "orders").select(
        F.floor(F.col("o_totalprice") / _W1_BIN).cast("long").alias("bin"),
        F.when(F.col("o_orderdate") < F.lit("1998-01-01").cast("date"), 1)
        .otherwise(0)
        .alias("pre"),
    )
    bins = tagged.groupBy("bin").agg(
        F.sum("pre").alias("n1"), F.sum(1 - F.col("pre")).alias("n2")
    )
    tot = bins.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cdf = bins.crossJoin(F.broadcast(tot)).select(
        "t1",
        "t2",
        (F.sum("n1").over(w) * 1.0 / F.col("t1")).alias("f1"),
        (F.sum("n2").over(w) * 1.0 / F.col("t2")).alias("f2"),
    )
    return cdf.agg(
        F.max("t1").cast("long").alias("n_pre"),
        F.max("t2").cast("long").alias("n_post"),
        F.round(F.sum(F.abs(F.col("f1") - F.col("f2"))) * _W1_BIN, 6).alias(
            "w1_distance"
        ),
    )


@register(
    "q304_average_precision",
    oracle="""
        WITH lab AS (
          SELECT c.c_custkey, c.c_acctbal,
                 CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS label
          FROM customer c
          LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
            ON o.o_custkey = c.c_custkey
        ),
        ranked AS (
          SELECT label,
                 ROW_NUMBER() OVER (ORDER BY c_acctbal DESC, c_custkey) AS rk,
                 SUM(label) OVER (ORDER BY c_acctbal DESC, c_custkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_pos
          FROM lab
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_ranked,
               CAST(SUM(label) AS BIGINT) AS n_relevant,
               ROUND(SUM(CASE WHEN label = 1
                              THEN CAST(cum_pos AS DOUBLE) / rk
                              ELSE 0 END) / SUM(label), 6)
                 AS average_precision
        FROM ranked
    """,
    doc="Average precision (the area under the precision-recall "
    "curve) for account balance as a has-orders classifier: AP = "
    "mean over relevant items of precision@rank = sum(cum_pos/rk)/R "
    "over the global (score DESC, custkey) order — the class-"
    "imbalance-robust companion to q148's ROC-AUC (ROC-AUC stays "
    "optimistic when positives are rare; PR-AUC does not). Plan "
    "shape: the global rank AND the running positive count come "
    "from ONE dist_rank sharded pass (with_global_order_stats: "
    "range-shard on the score, per-shard partitioned windows, "
    "broadcast prefix offsets) — never a single-task window — then "
    "one scalar aggregate. Cites dist_rank q148/q156 as the "
    "pattern owner.",
)
def q304(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_order_stats

    cust = table_parallel(spark, sf, "customer").select(
        "c_custkey", "c_acctbal"
    )
    ok = (
        table_parallel(spark, sf, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("label", F.lit(1))
    )
    lab = cust.join(ok, "c_custkey", "left").select(
        "c_custkey",
        (-F.col("c_acctbal")).alias("neg_bal"),
        F.coalesce("label", F.lit(0)).alias("label"),
    )
    ranked, _totals = with_global_order_stats(
        lab,
        "neg_bal",
        ("c_custkey",),
        rank_col="rk",
        sum_cols={"label": "cum_pos"},
    )
    return ranked.agg(
        F.count("*").cast("long").alias("n_ranked"),
        F.sum("label").cast("long").alias("n_relevant"),
        F.round(
            F.sum(
                F.when(
                    F.col("label") == 1,
                    F.col("cum_pos").cast("double") / F.col("rk"),
                ).otherwise(0.0)
            )
            / F.sum("label"),
            6,
        ).alias("average_precision"),
    )


@register(
    "q305_brier_decomposition",
    oracle="""
        WITH lab AS (
          SELECT c.c_custkey, c.c_acctbal,
                 CASE WHEN o.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS y
          FROM customer c
          LEFT JOIN (SELECT DISTINCT o_custkey FROM orders) o
            ON o.o_custkey = c.c_custkey
        ),
        mm AS (SELECT MIN(c_acctbal) AS lo, MAX(c_acctbal) AS hi FROM lab),
        fc AS (
          SELECT y, (c_acctbal - lo) / (hi - lo) AS p,
                 LEAST(CAST(FLOOR((c_acctbal - lo) / (hi - lo) * 10)
                            AS BIGINT), 9) AS bin
          FROM lab, mm
        ),
        per_bin AS (
          SELECT bin, COUNT(*) AS n_k, AVG(p) AS p_k,
                 AVG(CAST(y AS DOUBLE)) AS y_k
          FROM fc GROUP BY bin
        ),
        base AS (
          SELECT COUNT(*) AS n, AVG(CAST(y AS DOUBLE)) AS ybar,
                 AVG(POW(p - y, 2)) AS brier
          FROM fc
        )
        SELECT CAST(n AS BIGINT) AS n,
               ROUND(brier, 6) AS brier,
               ROUND((SELECT SUM(n_k * POW(p_k - y_k, 2)) FROM per_bin) / n,
                     6) AS reliability,
               ROUND((SELECT SUM(n_k * POW(y_k - ybar, 2)) FROM per_bin) / n,
                     6) AS resolution,
               ROUND(ybar * (1 - ybar), 6) AS uncertainty
        FROM base
    """,
    doc="Murphy decomposition of the Brier score for the min-max-"
    "normalized balance forecast of has-orders: brier = mean((p-y)^2) "
    "alongside its three binned components — reliability (calibration "
    "error, the part q149's ECE reports), resolution (how much the "
    "forecast separates outcomes), uncertainty (base-rate variance "
    "ybar(1-ybar), the irreducible floor) — the decomposition that "
    "tells you whether a bad score means MISCALIBRATION (fix with "
    "q228's isotonic fit) or NO SIGNAL (fix the model). Plan shape: "
    "1-row min/max census broadcast, one 10-bin census, one scalar "
    "aggregate — two passes over the scored vector, nothing global.",
)
def q305(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    cust = table_parallel(spark, sf, "customer").select(
        "c_custkey", "c_acctbal"
    )
    ok = (
        table_parallel(spark, sf, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("y", F.lit(1))
    )
    lab = cust.join(ok, "c_custkey", "left").select(
        "c_acctbal", F.coalesce("y", F.lit(0)).alias("y")
    )
    mm = lab.agg(
        F.min("c_acctbal").alias("lo"), F.max("c_acctbal").alias("hi")
    )
    p = (F.col("c_acctbal") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    fc = lab.crossJoin(F.broadcast(mm)).select(
        "y",
        p.alias("p"),
        F.least(F.floor(p * 10).cast("long"), F.lit(9)).alias("bin"),
    )
    per_bin = fc.groupBy("bin").agg(
        F.count("*").alias("n_k"),
        F.avg("p").alias("p_k"),
        F.avg(F.col("y").cast("double")).alias("y_k"),
    )
    base = fc.agg(
        F.count("*").alias("n"),
        F.avg(F.col("y").cast("double")).alias("ybar"),
        F.avg(F.pow(F.col("p") - F.col("y"), 2)).alias("brier"),
    )
    comp = per_bin.crossJoin(F.broadcast(base)).agg(
        (
            F.sum(F.col("n_k") * F.pow(F.col("p_k") - F.col("y_k"), 2))
            / F.max("n")
        ).alias("rel"),
        (
            F.sum(F.col("n_k") * F.pow(F.col("y_k") - F.col("ybar"), 2))
            / F.max("n")
        ).alias("res"),
    )
    return base.crossJoin(F.broadcast(comp)).select(
        F.col("n").cast("long").alias("n"),
        F.round("brier", 6).alias("brier"),
        F.round("rel", 6).alias("reliability"),
        F.round("res", 6).alias("resolution"),
        F.round(F.col("ybar") * (1 - F.col("ybar")), 6).alias("uncertainty"),
    )


@register(
    "q306_srm_check",
    oracle=f"""
        WITH assign AS (
          SELECT user_id,
                 {_ARM_SQL.format(key="user_id", a="1", b="0")} AS in_a
          FROM (SELECT DISTINCT user_id FROM events)
        ),
        s AS (
          SELECT SUM(in_a) AS n_a, COUNT(*) - SUM(in_a) AS n_b FROM assign
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               ROUND(POW(n_a - n_b, 2) * 1.0 / (n_a + n_b), 6) AS chi2,
               CAST(CASE WHEN POW(n_a - n_b, 2) * 1.0 / (n_a + n_b) > 3.841
                         THEN 1 ELSE 0 END AS BIGINT) AS srm_flag
        FROM s
    """,
    doc="Sample-ratio-mismatch gate for the 50/50 md5-hash split: "
    "chi-square with 1 df reduces to (n_a - n_b)^2/(n_a + n_b) "
    "under equal expected counts, flagged at the 3.841 critical "
    "value (p < 0.05) — the FIRST validity check an experimentation "
    "platform runs before reading any metric, because assignment "
    "skew silently invalidates q172/q298/q301 downstream. Plan "
    "shape: distinct users -> one scalar census; exact integer "
    "counts, one rounded double.",
)
def q306(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = _arm_col("user_id")
    assign = (
        table_parallel(spark, sf, "events")
        .select("user_id")
        .distinct()
        .select(F.when(u < 0.5, 1).otherwise(0).alias("in_a"))
    )
    s = assign.agg(
        F.sum("in_a").alias("n_a"),
        (F.count("*") - F.sum("in_a")).alias("n_b"),
    )
    chi2 = F.pow(F.col("n_a") - F.col("n_b"), 2) * 1.0 / (
        F.col("n_a") + F.col("n_b")
    )
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2 > 3.841, 1).otherwise(0).cast("long").alias("srm_flag"),
    )


@register(
    "q307_quantile_treatment_effect",
    oracle=f"""
        WITH per_user AS (
          SELECT user_id,
                 {_ARM_SQL.format(key="user_id", a="'A'", b="'B'")} AS arm,
                 SUM(CASE WHEN event_type = 'purchase' THEN value
                          ELSE 0 END) AS y
          FROM events GROUP BY user_id
        ),
        ranked AS (
          SELECT arm, y,
                 ROW_NUMBER() OVER (PARTITION BY arm
                                    ORDER BY y, user_id) AS rn,
                 COUNT(*) OVER (PARTITION BY arm) AS n
          FROM per_user
        ),
        q AS (
          SELECT d.k, r.arm, r.y
          FROM ranked r
          JOIN (SELECT UNNEST([1,2,3,4,5,6,7,8,9]) AS k) d
            ON r.rn = CAST(CEIL(d.k * r.n / 10.0) AS BIGINT)
        )
        SELECT k,
               ROUND(MAX(CASE WHEN arm = 'A' THEN y END), 6) AS q_a,
               ROUND(MAX(CASE WHEN arm = 'B' THEN y END), 6) AS q_b,
               ROUND(MAX(CASE WHEN arm = 'B' THEN y END)
                     - MAX(CASE WHEN arm = 'A' THEN y END), 6) AS qte
        FROM q GROUP BY k ORDER BY k
    """,
    doc="Quantile treatment effects: the per-decile difference of the "
    "two arms' exact order statistics of per-user purchase revenue "
    "(type-1 quantile at rank ceil(k*n/10)) — the distributional "
    "view a mean-difference test (q172/q298) cannot give: a "
    "treatment can leave the mean flat while moving the tails, and "
    "QTE is how you see it. Plan shape: the per-arm exact ranks "
    "come from dist_rank's sharded pass with partition_by=('arm',) "
    "(bounded group count, never a single-task window); the 9-row "
    "decile grid joins via a broadcast nested loop against the "
    "rank equation (tiny side, allowlisted).",
)
def q307(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_rank

    u = _arm_col("user_id")
    is_p = F.col("event_type") == "purchase"
    per_user = (
        table_parallel(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.sum(F.when(is_p, F.col("value")).otherwise(0.0)).alias("y"))
        .withColumn("arm", F.when(u < 0.5, "A").otherwise("B"))
    )
    ranked, _ = with_global_rank(
        per_user,
        "y",
        ("user_id",),
        partition_by=("arm",),
        out="rn",
        count_col="n",
    )
    grid = ranked.sparkSession.range(1, 10).select(
        F.col("id").cast("int").alias("k")
    )
    q = ranked.join(
        F.broadcast(grid),
        F.col("rn") == F.ceil(F.col("k") * F.col("n") / 10.0).cast("long"),
    )
    return (
        q.groupBy("k")
        .agg(
            F.round(F.max(F.when(F.col("arm") == "A", F.col("y"))), 6).alias(
                "q_a"
            ),
            F.round(F.max(F.when(F.col("arm") == "B", F.col("y"))), 6).alias(
                "q_b"
            ),
            F.round(
                F.max(F.when(F.col("arm") == "B", F.col("y")))
                - F.max(F.when(F.col("arm") == "A", F.col("y"))),
                6,
            ).alias("qte"),
        )
        .orderBy("k")
    )


@register(
    "q308_hhi_concentration",
    oracle="""
        WITH rev AS (
          SELECT n.n_name AS nation, l.l_suppkey,
                 SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                                * 10000) AS BIGINT)) AS rev_e4
          FROM lineitem l
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN nation n ON n.n_nationkey = s.s_nationkey
          GROUP BY nation, l.l_suppkey
        ),
        tot AS (SELECT nation, SUM(rev_e4) AS t FROM rev GROUP BY nation)
        SELECT r.nation AS nation,
               CAST(COUNT(*) AS BIGINT) AS n_suppliers,
               ROUND(SUM(POW(r.rev_e4 * 1.0 / t.t, 2)), 6) AS hhi
        FROM rev r JOIN tot t ON t.nation = r.nation
        GROUP BY r.nation ORDER BY r.nation
    """,
    doc="Herfindahl-Hirschman market-concentration index per supplier "
    "nation: HHI = sum of squared revenue shares within each "
    "nation's supplier market — the antitrust-standard scalar "
    "(1/n_eff) that complements q268's Gini (inequality of the "
    "whole distribution) and q187's Pareto cut (top-k share) with "
    "the measure regulators actually threshold (0.15/0.25 bands). "
    "Plan shape: lineitem collapses through two broadcast dims to a "
    "(nation, supplier) revenue census; shares divide by the "
    "25-row nation total joined back broadcast. Exact integer 1e-4 "
    "revenue units; one rounded double per nation.",
)
def q308(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    li = table_parallel(spark, sf, "lineitem").select(
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000)
        .cast("long")
        .alias("rev_e4"),
    )
    s = table_parallel(spark, sf, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    n = table_parallel(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("nation"),
    )
    rev = (
        li.join(F.broadcast(s), "l_suppkey")
        .join(F.broadcast(n), "s_nationkey")
        .groupBy("nation", "l_suppkey")
        .agg(F.sum("rev_e4").alias("rev_e4"))
    )
    tot = rev.groupBy("nation").agg(F.sum("rev_e4").alias("t"))
    return (
        rev.join(F.broadcast(tot), "nation")
        .groupBy("nation")
        .agg(
            F.count("*").cast("long").alias("n_suppliers"),
            F.round(
                F.sum(F.pow(F.col("rev_e4") * 1.0 / F.col("t"), 2)), 6
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


@register(
    "q317_chapman_estimate",
    oracle="""
        WITH s1 AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= DATE '1995-01-01'
            AND o_orderdate < DATE '1996-01-01'
        ),
        s2 AS (
          SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderdate >= DATE '1996-01-01'
            AND o_orderdate < DATE '1997-01-01'
        ),
        truth AS (
          SELECT COUNT(DISTINCT o_custkey) AS n_true FROM orders
          WHERE o_orderdate >= DATE '1995-01-01'
            AND o_orderdate < DATE '1997-01-01'
        ),
        c AS (
          SELECT (SELECT COUNT(*) FROM s1) AS n1,
                 (SELECT COUNT(*) FROM s2) AS n2,
                 (SELECT COUNT(*) FROM s1 JOIN s2 USING (o_custkey)) AS m
        )
        SELECT CAST(n1 AS BIGINT) AS n1,
               CAST(n2 AS BIGINT) AS n2,
               CAST(m AS BIGINT) AS n_recaptured,
               ROUND((n1 + 1.0) * (n2 + 1.0) / (m + 1.0) - 1, 6)
                 AS chapman_estimate,
               CAST((SELECT n_true FROM truth) AS BIGINT) AS n_true
        FROM c
    """,
    doc="Chapman capture-recapture estimate of the active-customer "
    "population: the 1995 and 1996 order years act as two 'capture' "
    "samples; N-hat = (n1+1)(n2+1)/(m+1) - 1 from the recapture "
    "overlap m, reported next to the directly-counted truth — the "
    "ecology estimator data teams use to size what they CANNOT "
    "enumerate (how many customers exist beyond the ones either "
    "period saw, coverage of a crawl, dark traffic), and the "
    "honesty check is exactly this query's truth column. Plan "
    "shape: two pruned distinct censuses, one key-partitioned "
    "semi-join for the overlap, three 1-row counts cross-joined "
    "(tiny, allowlisted); integer-exact except the estimator.",
)
def q317(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders").select("o_custkey", "o_orderdate")

    def span(lo: str, hi: str) -> DataFrame:
        return (
            o.where(
                (F.col("o_orderdate") >= F.lit(lo).cast("date"))
                & (F.col("o_orderdate") < F.lit(hi).cast("date"))
            )
            .select("o_custkey")
            .distinct()
        )

    s1 = span("1995-01-01", "1996-01-01")
    s2 = span("1996-01-01", "1997-01-01")
    truth = span("1995-01-01", "1997-01-01").agg(F.count("*").alias("n_true"))
    c = (
        s1.agg(F.count("*").alias("n1"))
        .crossJoin(s2.agg(F.count("*").alias("n2")))
        .crossJoin(s1.join(s2, "o_custkey").agg(F.count("*").alias("m")))
        .crossJoin(truth)
    )
    return c.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("m").cast("long").alias("n_recaptured"),
        F.round(
            (F.col("n1") + 1.0) * (F.col("n2") + 1.0) / (F.col("m") + 1.0)
            - 1,
            6,
        ).alias("chapman_estimate"),
        F.col("n_true").cast("long").alias("n_true"),
    )


_BH_ALPHA = 0.1


def _pval_sql(zcol: str) -> str:
    """Two-sided normal p-value via the Abramowitz-Stegun 7.1.26 erf
    approximation — the identical elementary-arithmetic expression the
    Spark side evaluates, so both engines agree to the last ulp of
    exp() and the 6dp round is stable."""
    x = f"(ABS({zcol}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"(0.254829592 * {t} - 0.284496736 * POW({t}, 2)"
        f" + 1.421413741 * POW({t}, 3) - 1.453152027 * POW({t}, 4)"
        f" + 1.061405429 * POW({t}, 5))"
    )
    return f"({poly} * exp(-{x} * {x}))"


@register(
    "q319_bh_fdr",
    oracle=f"""
        WITH lab AS (
          SELECT c.c_nationkey AS nk,
                 {_ARM_SQL.format(key="c.c_custkey", a="1", b="0")}
                   AS treated,
                 CASE WHEN o.n_orders >= 12 THEN 1 ELSE 0 END AS hit
          FROM customer c
          JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                FROM orders GROUP BY o_custkey) o
            ON o.o_custkey = c.c_custkey
        ),
        cells AS (
          SELECT nk,
                 SUM(treated) AS na,
                 SUM(treated * hit) AS xa,
                 SUM(1 - treated) AS nb,
                 SUM((1 - treated) * hit) AS xb
          FROM lab GROUP BY nk
          HAVING SUM(treated) > 0 AND SUM(1 - treated) > 0
             AND SUM(treated * hit) + SUM((1 - treated) * hit) > 0
             AND SUM(treated * hit) + SUM((1 - treated) * hit)
                 < SUM(treated) + SUM(1 - treated)
        ),
        zs AS (
          SELECT nk,
                 (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                 / SQRT((CAST(xa + xb AS DOUBLE) / (na + nb))
                        * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb)) AS z
          FROM cells
        ),
        ps AS (SELECT nk, z, {{p}} AS p FROM zs),
        ranked AS (
          SELECT nk, z, p,
                 ROW_NUMBER() OVER (ORDER BY p, nk) AS rk,
                 COUNT(*) OVER () AS m
          FROM ps
        ),
        cut AS (
          SELECT COALESCE(MAX(CASE WHEN p <= rk * {_BH_ALPHA} / m
                                   THEN rk END), 0) AS k_star
          FROM ranked
        )
        SELECT CAST(nk AS BIGINT) AS nationkey,
               ROUND(z, 6) AS z,
               ROUND(p, 6) AS p_value,
               CAST(rk AS BIGINT) AS p_rank,
               ROUND(rk * {_BH_ALPHA} / m, 6) AS bh_threshold,
               CAST(CASE WHEN rk <= (SELECT k_star FROM cut)
                         THEN 1 ELSE 0 END AS BIGINT) AS rejected
        FROM ranked ORDER BY p_rank
    """.replace("{p}", _pval_sql("z")),
    doc="Benjamini-Hochberg step-up FDR control over the family of 25 "
    "per-nation two-proportion z-tests (md5-hash treatment vs the "
    ">= 12-order engagement outcome): p-values from the shared A&S "
    "erf approximation, ranked ascending; k* = the largest rank with "
    "p_(k) <= k/m * alpha (alpha = 0.1) and every rank <= k* is "
    "rejected — the multiple-testing discipline that keeps a "
    "25-segment drill-down from reporting ~1-2 false winners by "
    "chance, the gap q172's single z-test leaves open. Plan shape: "
    "customer-keyed aggregate -> 25-row nation census; the rank "
    "window runs on that bounded census (allowlisted) and the 1-row "
    "k* census broadcasts back (allowlisted tiny cross join).",
)
def q319(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    arm = _arm_col("c_custkey")
    cust = table_parallel(spark, sf, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nk")
    )
    oc = (
        table_parallel(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    lab = cust.join(oc, cust["c_custkey"] == oc["o_custkey"]).select(
        "nk",
        F.when(arm < 0.5, 1).otherwise(0).alias("treated"),
        F.when(F.col("n_orders") >= 12, 1).otherwise(0).alias("hit"),
    )
    cells = (
        lab.groupBy("nk")
        .agg(
            F.sum("treated").alias("na"),
            F.sum(F.col("treated") * F.col("hit")).alias("xa"),
            F.sum(1 - F.col("treated")).alias("nb"),
            F.sum((1 - F.col("treated")) * F.col("hit")).alias("xb"),
        )
        .where(
            (F.col("na") > 0)
            & (F.col("nb") > 0)
            & (F.col("xa") + F.col("xb") > 0)
            & (F.col("xa") + F.col("xb") < F.col("na") + F.col("nb"))
        )
    )
    pp = (F.col("xa") + F.col("xb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    z = (
        F.col("xa").cast("double") / F.col("na")
        - F.col("xb").cast("double") / F.col("nb")
    ) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    zs = cells.select("nk", z.alias("z"))
    x = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        0.254829592 * t
        - 0.284496736 * F.pow(t, 2)
        + 1.421413741 * F.pow(t, 3)
        - 1.453152027 * F.pow(t, 4)
        + 1.061405429 * F.pow(t, 5)
    )
    ps = zs.select("nk", "z", (poly * F.exp(-x * x)).alias("p"))
    w = Window.orderBy("p", "nk")
    m = Window.partitionBy()
    ranked = ps.select(
        "nk",
        "z",
        "p",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(m).alias("m"),
    )
    cut = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p") <= F.col("rk") * _BH_ALPHA / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k_star")
    )
    return (
        ranked.crossJoin(F.broadcast(cut))
        .select(
            F.col("nk").cast("long").alias("nationkey"),
            F.round("z", 6).alias("z"),
            F.round("p", 6).alias("p_value"),
            F.col("rk").cast("long").alias("p_rank"),
            F.round(F.col("rk") * _BH_ALPHA / F.col("m"), 6).alias(
                "bh_threshold"
            ),
            F.when(F.col("rk") <= F.col("k_star"), 1)
            .otherwise(0)
            .cast("long")
            .alias("rejected"),
        )
        .orderBy("p_rank")
    )


_TE_M = 10.0


@register(
    "q326_loo_target_encoding",
    oracle=f"""
        WITH lab AS (
          SELECT c.c_nationkey AS nk,
                 CASE WHEN o.n_orders >= 12 THEN 1 ELSE 0 END AS hit
          FROM customer c
          JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                FROM orders GROUP BY o_custkey) o
            ON o.o_custkey = c.c_custkey
        ),
        prior AS (SELECT AVG(CAST(hit AS DOUBLE)) AS p FROM lab),
        g AS (
          SELECT nk, COUNT(*) AS n, SUM(hit) AS s FROM lab GROUP BY nk
        )
        SELECT CAST(nk AS BIGINT) AS nationkey,
               CAST(n AS BIGINT) AS n,
               CAST(s AS BIGINT) AS n_hits,
               ROUND((s - 1 + {_TE_M} * (SELECT p FROM prior))
                     / (n - 1 + {_TE_M}), 6) AS encoded_when_hit,
               ROUND((s + {_TE_M} * (SELECT p FROM prior))
                     / (n - 1 + {_TE_M}), 6) AS encoded_when_miss,
               ROUND(((CAST(s AS DOUBLE)
                       * ((s - 1 + {_TE_M} * (SELECT p FROM prior))
                          / (n - 1 + {_TE_M})))
                      + ((n - s) * ((s + {_TE_M} * (SELECT p FROM prior))
                                    / (n - 1 + {_TE_M})))) / n, 6)
                 AS mean_encoded
        FROM g ORDER BY nationkey
    """,
    doc="Leave-one-out target encoding of the nation feature against "
    "the >= 12-order engagement outcome, with additive (m = "
    f"{_TE_M:g}) smoothing toward the global prior: each row's "
    "encoded value excludes ITS OWN label — (s - y_i + m*prior)/"
    "(n - 1 + m) — the closed form that makes the encoding "
    "leakage-free without an n-fold refit, which is exactly the "
    "target-leak q117's split guard exists to catch when done "
    "naively. Since LOO over a binary target takes only two values "
    "per group, the per-nation census reports both plus the "
    "group-weighted mean. Plan shape: customer-keyed label join, "
    "one 25-row nation census, 1-row prior broadcast (allowlisted); "
    "closed-form arithmetic only.",
)
def q326(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    cust = table_parallel(spark, sf, "customer").select(
        "c_custkey", F.col("c_nationkey").alias("nk")
    )
    oc = (
        table_parallel(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    lab = cust.join(oc, cust["c_custkey"] == oc["o_custkey"]).select(
        "nk", F.when(F.col("n_orders") >= 12, 1).otherwise(0).alias("hit")
    )
    prior = lab.agg(F.avg(F.col("hit").cast("double")).alias("p"))
    g = lab.groupBy("nk").agg(F.count("*").alias("n"), F.sum("hit").alias("s"))
    gp = g.crossJoin(F.broadcast(prior))
    enc_hit = (F.col("s") - 1 + _TE_M * F.col("p")) / (F.col("n") - 1 + _TE_M)
    enc_miss = (F.col("s") + _TE_M * F.col("p")) / (F.col("n") - 1 + _TE_M)
    return gp.select(
        F.col("nk").cast("long").alias("nationkey"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("n_hits"),
        F.round(enc_hit, 6).alias("encoded_when_hit"),
        F.round(enc_miss, 6).alias("encoded_when_miss"),
        F.round(
            (
                F.col("s").cast("double") * enc_hit
                + (F.col("n") - F.col("s")) * enc_miss
            )
            / F.col("n"),
            6,
        ).alias("mean_encoded"),
    ).orderBy("nationkey")


_GS_C = 2.04  # O'Brien-Fleming shape constant for K=5 looks


@register(
    "q327_group_sequential",
    oracle=f"""
        WITH base AS (
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS y,
                 {_ARM_SQL.format(key="o_custkey", a="1", b="0")} AS treated,
                 CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS hit
          FROM orders
          WHERE o_orderdate >= DATE '1995-01-01'
            AND o_orderdate < DATE '2000-01-01'
        ),
        looks AS (
          SELECT k FROM (SELECT UNNEST([1, 2, 3, 4, 5]) AS k)
        ),
        cum AS (
          SELECT l.k,
                 SUM(b.treated) AS na,
                 SUM(b.treated * b.hit) AS xa,
                 SUM(1 - b.treated) AS nb,
                 SUM((1 - b.treated) * b.hit) AS xb
          FROM looks l JOIN base b ON b.y < 1995 + l.k
          GROUP BY l.k
        ),
        zs AS (
          SELECT k, na, nb,
                 (CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
                 / SQRT((CAST(xa + xb AS DOUBLE) / (na + nb))
                        * (1 - CAST(xa + xb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb)) AS z
          FROM cum
        )
        SELECT k AS look,
               CAST(na + nb AS BIGINT) AS n_cum,
               ROUND(z, 6) AS z,
               ROUND({_GS_C} * SQRT(5.0 / k), 6) AS obf_boundary,
               CAST(CASE WHEN ABS(z) > {_GS_C} * SQRT(5.0 / k)
                         THEN 1 ELSE 0 END AS BIGINT) AS crossed
        FROM zs ORDER BY look
    """,
    doc="Group-sequential monitoring with O'Brien-Fleming-shaped "
    "boundaries: the same two-proportion z-statistic evaluated at "
    "five cumulative yearly looks, each compared to the "
    "spend-shaped critical value C*sqrt(K/k) (C = 2.04 for K = 5, "
    "two-sided alpha ~ 0.05) — strict early, near-nominal at the "
    "final look — the batch-world interim-analysis discipline next "
    "to q288's fully-sequential SPRT: peeking at a fixed-alpha test "
    "five times inflates false positives ~3x, and OBF boundaries "
    "are how real experiment platforms let you look anyway. Plan "
    "shape: one pruned scan, a 5-row look spine broadcast against "
    "the year column (cumulative inequality join on a bounded "
    "spine), one look-keyed aggregate; deterministic arithmetic "
    "throughout.",
)
def q327(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    u = _arm_col("o_custkey")
    base = (
        table_parallel(spark, sf, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("2000-01-01").cast("date"))
        )
        .select(
            F.year("o_orderdate").cast("long").alias("y"),
            F.when(u < 0.5, 1).otherwise(0).alias("treated"),
            F.when(F.col("o_totalprice") > 150000, 1)
            .otherwise(0)
            .alias("hit"),
        )
    )
    looks = base.sparkSession.range(1, 6).select(
        F.col("id").cast("long").alias("k")
    )
    cum = (
        F.broadcast(looks)
        .join(base, base["y"] < 1995 + F.col("k"))
        .groupBy("k")
        .agg(
            F.sum("treated").alias("na"),
            F.sum(F.col("treated") * F.col("hit")).alias("xa"),
            F.sum(1 - F.col("treated")).alias("nb"),
            F.sum((1 - F.col("treated")) * F.col("hit")).alias("xb"),
        )
    )
    pp = (F.col("xa") + F.col("xb")).cast("double") / (
        F.col("na") + F.col("nb")
    )
    z = (
        F.col("xa").cast("double") / F.col("na")
        - F.col("xb").cast("double") / F.col("nb")
    ) / F.sqrt(pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb")))
    bound = _GS_C * F.sqrt(5.0 / F.col("k"))
    return (
        cum.select(
            F.col("k").alias("look"),
            (F.col("na") + F.col("nb")).cast("long").alias("n_cum"),
            F.round(z, 6).alias("z"),
            F.round(bound, 6).alias("obf_boundary"),
            F.when(F.abs(z) > bound, 1).otherwise(0).cast("long").alias(
                "crossed"
            ),
        )
        .orderBy("look")
    )


@register(
    "q329_kruskal_wallis",
    oracle="""
        WITH x AS (
          SELECT o_orderpriority AS grp, o_totalprice AS v, o_orderkey
          FROM orders
        ),
        rr AS (
          SELECT grp, v,
                 ROW_NUMBER() OVER (ORDER BY v, o_orderkey) AS rn
          FROM x
        ),
        mid AS (SELECT v, AVG(rn * 1.0) AS midrank FROM rr GROUP BY v),
        ranked AS (
          SELECT rr.grp, mid.midrank FROM rr JOIN mid ON mid.v = rr.v
        ),
        n_tot AS (SELECT COUNT(*) AS n FROM x),
        per_g AS (
          SELECT grp, COUNT(*) AS ng, AVG(midrank) AS rbar
          FROM ranked GROUP BY grp
        ),
        ties AS (
          SELECT COALESCE(SUM(POW(t, 3) - t), 0) AS tsum
          FROM (SELECT COUNT(*) AS t FROM x GROUP BY v
                HAVING COUNT(*) > 1)
        ),
        h AS (
          SELECT (12.0 / ((SELECT n FROM n_tot)
                          * ((SELECT n FROM n_tot) + 1.0))
                  * SUM(ng * POW(rbar
                                 - ((SELECT n FROM n_tot) + 1.0) / 2, 2)))
                 / (1 - (SELECT tsum FROM ties)
                        / (POW((SELECT n FROM n_tot), 3)
                           - (SELECT n FROM n_tot))) AS stat
          FROM per_g
        )
        SELECT p.grp AS grp,
               CAST(p.ng AS BIGINT) AS n,
               ROUND(p.rbar, 6) AS mean_rank,
               ROUND((SELECT stat FROM h), 6) AS kw_h,
               CAST((SELECT COUNT(*) - 1 FROM per_g) AS BIGINT) AS df
        FROM per_g p ORDER BY grp
    """,
    doc="Kruskal-Wallis H test across the five order-priority groups "
    "on order value: the k-sample generalization of q221's "
    "Mann-Whitney — pooled MIDRANKS (tied values share the average "
    "of their row numbers), H = 12/(N(N+1)) * sum n_g (Rbar_g - "
    "(N+1)/2)^2 with the ties correction 1 - sum(t^3 - t)/(N^3 - N) "
    "— the omnibus distribution-free alternative to q330's ANOVA "
    "when order values are heavy-tailed (they are: ANOVA's F "
    "assumes equal-variance normal residuals the revenue tail "
    "violates). Plan shape: ONE ranked pass — dist_rank's "
    "range-sharded min-rank (never a single-task window) plus a "
    "value-keyed tie-count window give each row its midrank "
    "(2*rank + t - 1)/2 AND the tie correction in place "
    "(sum_v(t^3 - t) = sum_rows(t^2 - 1)), so the midrank join and "
    "the second tie census over the data disappear; the 5-row "
    "group census collects and H is exact-integer-moment driver "
    "math.",
)
def q329(spark: SparkSession, sf: str) -> DataFrame:
    per_g, n = _kw_census(spark, sf)
    # bounded census (5 priority groups): H is driver math on exact
    # integer moments (smr2 = 2*sum of midranks, st2 = sum(t^3 - t))
    rows = sorted(
        (r["grp"], r["ng"], r["smr2"], r["st2"]) for r in per_g.collect()
    )
    tsum = float(sum(r[3] for r in rows))
    ssq = sum(
        ng * (smr2 / (2.0 * ng) - (n + 1.0) / 2) ** 2
        for _, ng, smr2, _ in rows
    )
    stat = (12.0 / (n * (n + 1.0)) * ssq) / (1 - tsum / (float(n) ** 3 - n))
    out = [
        (g, ng, round(smr2 / (2.0 * ng), 6), round(stat, 6), len(rows) - 1)
        for g, ng, smr2, _ in rows
    ]
    return spark.createDataFrame(
        out, "grp string, n long, mean_rank double, kw_h double, df long"
    )


def _kw_census(spark: SparkSession, sf: str):
    """(per-group census DataFrame, pooled N) for Kruskal-Wallis —
    the single distributed pass behind q329, exposed so the plan test
    can pin it to exactly one rank pass (two Window nodes: the sharded
    rank and the value-keyed tie count)."""
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_rank

    x = table_parallel(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
    )
    rr, n = with_global_rank(
        x, "v", (), kind="rank", out="rk", tie_count_col="tv"
    )
    per_g = (
        rr.select(
            "grp",
            (2 * F.col("rk") + F.col("tv") - 1).alias("mr2"),
            (F.col("tv") * F.col("tv") - 1).alias("t2"),
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("ng"),
            F.sum("mr2").alias("smr2"),
            F.sum("t2").alias("st2"),
        )
    )
    return per_g, n


@register(
    "q330_oneway_anova",
    oracle="""
        WITH x AS (
          SELECT o_orderpriority AS grp, o_totalprice AS v FROM orders
        ),
        g AS (
          SELECT grp, COUNT(*) AS ng, AVG(v) AS m, VAR_SAMP(v) AS s2
          FROM x GROUP BY grp
        ),
        tot AS (SELECT COUNT(*) AS n, AVG(v) AS gm FROM x),
        comp AS (
          SELECT SUM(ng * POW(m - (SELECT gm FROM tot), 2)) AS ssb,
                 SUM((ng - 1) * s2) AS ssw,
                 COUNT(*) AS k
          FROM g
        )
        SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
               CAST(k AS BIGINT) AS k_groups,
               ROUND((ssb / (k - 1))
                     / (ssw / ((SELECT n FROM tot) - k)), 6) AS f_stat,
               ROUND(ssb / (ssb + ssw), 6) AS eta_squared,
               ROUND(SQRT(ssb / ssw), 6) AS cohens_f
        FROM comp
    """,
    doc="One-way ANOVA of order value across the five priority groups, "
    "with effect sizes: F = MSB/MSW from per-group streaming moments "
    "(count/mean/variance — one hash aggregate, no second pass), "
    "eta-squared (share of variance explained) and Cohen's f — the "
    "omnibus k-group mean test that q144's two-sample Welch t-test "
    "does not cover, and the effect sizes that keep a huge-N "
    "trivially-significant F honest (at N = 15k everything is "
    "'significant'; eta^2 says whether it MATTERS). Pairs with "
    "q329: ANOVA tests means under normality, Kruskal-Wallis tests "
    "stochastic dominance assumption-free. Plan shape: one group "
    "census + one 1-row total (allowlisted tiny cross joins); "
    "entirely map-side-combinable moments.",
)
def q330(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    x = table_parallel(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
    )
    g = x.groupBy("grp").agg(
        F.count("*").alias("ng"),
        F.avg("v").alias("m"),
        F.var_samp("v").alias("s2"),
    )
    tot = x.agg(F.count("*").alias("n"), F.avg("v").alias("gm"))
    comp = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("ng") * F.pow(F.col("m") - F.col("gm"), 2)).alias("ssb"),
        F.sum((F.col("ng") - 1) * F.col("s2")).alias("ssw"),
        F.count("*").alias("k"),
        F.max("n").alias("n"),
    )
    return comp.select(
        F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k_groups"),
        F.round(
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
        F.round(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias(
            "eta_squared"
        ),
        F.round(F.sqrt(F.col("ssb") / F.col("ssw")), 6).alias("cohens_f"),
    )


@register(
    "q331_brown_forsythe",
    oracle="""
        WITH x AS (
          SELECT o_orderpriority AS grp, o_totalprice AS v, o_orderkey
          FROM orders
        ),
        rk AS (
          SELECT grp, v,
                 ROW_NUMBER() OVER (PARTITION BY grp
                                    ORDER BY v, o_orderkey) AS rn,
                 COUNT(*) OVER (PARTITION BY grp) AS ng
          FROM x
        ),
        med AS (
          SELECT grp, AVG(v) AS med
          FROM rk
          WHERE rn IN ((ng + 1) // 2, (ng + 2) // 2)
          GROUP BY grp
        ),
        z AS (
          SELECT x.grp, ABS(x.v - med.med) AS z
          FROM x JOIN med ON med.grp = x.grp
        ),
        g AS (
          SELECT grp, COUNT(*) AS ng, AVG(z) AS m, VAR_SAMP(z) AS s2
          FROM z GROUP BY grp
        ),
        tot AS (SELECT COUNT(*) AS n, AVG(z) AS gm FROM z),
        comp AS (
          SELECT SUM(ng * POW(m - (SELECT gm FROM tot), 2)) AS ssb,
                 SUM((ng - 1) * s2) AS ssw,
                 COUNT(*) AS k
          FROM g
        )
        SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
               CAST(k AS BIGINT) AS k_groups,
               ROUND((ssb / (k - 1))
                     / (ssw / ((SELECT n FROM tot) - k)), 6) AS bf_stat
        FROM comp
    """,
    doc="Brown-Forsythe variance-homogeneity test across the priority "
    "groups: ANOVA on |x - group MEDIAN| — the robust Levene variant "
    "whose median centering survives the heavy revenue tail that "
    "breaks mean-centered Levene — the PRECONDITION check for "
    "q330's equal-variance MSW pooling (if BF rejects, trust q329 "
    "or Welch instead). Exact per-group medians come from "
    "dist_rank's sharded rank with partition_by=('grp',) (bounded "
    "group count, never one task per group's full sort): the "
    "middle-rank rows are picked by the type-2 rule (avg of the two "
    "central order statistics). Plan shape: sharded per-group rank, "
    "5-row median census broadcast back, one moment census, two "
    "1-row reductions (allowlisted).",
)
def q331(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_rank

    x = table_parallel(spark, sf, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        F.col("o_totalprice").alias("v"),
        "o_orderkey",
    )
    rk, _ = with_global_rank(
        x,
        "v",
        ("o_orderkey",),
        partition_by=("grp",),
        out="rn",
        count_col="ng",
    )
    med_rows = (
        rk.where(
            (F.col("rn") == F.floor((F.col("ng") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("ng") + 2) / 2))
        )
        .groupBy("grp")
        .agg(F.avg("v").alias("med"))
        .collect()
    )
    # bounded group set (5 priorities): medians inline as a CASE chain,
    # so the |x - med| pass and the group census are ONE job with no
    # broadcast-join subplan; the final F statistic is driver math on
    # the 5-row census (mathematically identical to the crossJoin
    # reduction this replaces, ~1e-12 relative float drift vs the
    # oracle's row-level grand mean — far inside the 6-dp gate).
    med_expr = F.lit(None).cast("double")
    for r in med_rows:
        med_expr = F.when(F.col("grp") == r["grp"], r["med"]).otherwise(
            med_expr
        )
    g = (
        x.select("grp", F.abs(F.col("v") - med_expr).alias("z"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("ng"),
            F.avg("z").alias("m"),
            F.var_samp("z").alias("s2"),
        )
        .collect()
    )
    n = sum(r["ng"] for r in g)
    k = len(g)
    gm = sum(r["ng"] * r["m"] for r in g) / n
    ssb = sum(r["ng"] * (r["m"] - gm) ** 2 for r in g)
    ssw = sum((r["ng"] - 1) * r["s2"] for r in g)
    stat = (ssb / (k - 1)) / (ssw / (n - k))
    return spark.createDataFrame(
        [(n, k, round(stat, 6))], "n long, k_groups long, bf_stat double"
    )


@register(
    "q333_cochran_armitage",
    oracle="""
        WITH x AS (
          SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS score,
                 CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END AS hit
          FROM orders
        ),
        g AS (
          SELECT score, COUNT(*) AS n, SUM(hit) AS r FROM x GROUP BY score
        ),
        tot AS (
          SELECT SUM(n) AS nn, SUM(r) AS rr,
                 SUM(n * score) AS sn1, SUM(n * score * score) AS sn2
          FROM g
        ),
        stat AS (
          SELECT (SELECT SUM(r * score) FROM g)
                 - (SELECT rr FROM tot) * 1.0 * (SELECT sn1 FROM tot)
                   / (SELECT nn FROM tot) AS t_num,
                 (SELECT rr FROM tot) * 1.0 / (SELECT nn FROM tot)
                   * (1 - (SELECT rr FROM tot) * 1.0
                          / (SELECT nn FROM tot))
                   * ((SELECT sn2 FROM tot)
                      - POW((SELECT sn1 FROM tot), 2) * 1.0
                        / (SELECT nn FROM tot)) AS t_var
        )
        SELECT CAST((SELECT nn FROM tot) AS BIGINT) AS n,
               CAST((SELECT rr FROM tot) AS BIGINT) AS n_hits,
               ROUND(t_num, 6) AS trend_numerator,
               ROUND(t_num / SQRT(t_var), 6) AS ca_z
        FROM stat
    """,
    doc="Cochran-Armitage trend test: is the high-value-order "
    "proportion MONOTONE in the ordered priority score (1-URGENT .. "
    "5-LOW)? z = [sum r_i s_i - R*sum(n_i s_i)/N] / sqrt(p(1-p) * "
    "(sum n_i s_i^2 - (sum n_i s_i)^2/N)) — the one-degree-of-"
    "freedom dose-response test that q190's omnibus chi-square "
    "dilutes across k-1 df (a clean monotone gradient can be "
    "'insignificant' in the omnibus test while CA flags it, and "
    "vice versa for non-monotone structure). Plan shape: one "
    "5-row score census, a single moment reduce — everything "
    "map-side-combinable, one row out.",
)
def q333(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    x = table_parallel(spark, sf, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("score"),
        F.when(F.col("o_totalprice") > 150000, 1).otherwise(0).alias("hit"),
    )
    g = x.groupBy("score").agg(
        F.count("*").alias("n"), F.sum("hit").alias("r")
    )
    stat = g.agg(
        F.sum("n").alias("nn"),
        F.sum("r").alias("rr"),
        F.sum(F.col("n") * F.col("score")).alias("sn1"),
        F.sum(F.col("n") * F.col("score") * F.col("score")).alias("sn2"),
        F.sum(F.col("r") * F.col("score")).alias("rs"),
    )
    p = F.col("rr") * 1.0 / F.col("nn")
    t_num = F.col("rs") - F.col("rr") * 1.0 * F.col("sn1") / F.col("nn")
    t_var = p * (1 - p) * (
        F.col("sn2") - F.pow(F.col("sn1"), 2) * 1.0 / F.col("nn")
    )
    return stat.select(
        F.col("nn").cast("long").alias("n"),
        F.col("rr").cast("long").alias("n_hits"),
        F.round(t_num, 6).alias("trend_numerator"),
        F.round(t_num / F.sqrt(t_var), 6).alias("ca_z"),
    )


@register(
    "q336_group_kfold_audit",
    oracle="""
        WITH naive AS (
          SELECT o_custkey, COUNT(DISTINCT o_orderkey % 5) AS nf
          FROM orders GROUP BY o_custkey
        ),
        grouped AS (
          SELECT o_custkey,
                 COUNT(DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey
                        AS VARCHAR)), 1, 8)) AS BIGINT) % 5) AS nf
          FROM orders GROUP BY o_custkey
        )
        SELECT 'group_kfold' AS method,
               CAST((SELECT COUNT(*) FROM grouped) AS BIGINT)
                 AS n_customers,
               CAST((SELECT SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END)
                     FROM grouped) AS BIGINT) AS n_leaky,
               ROUND((SELECT SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) * 1.0
                      / COUNT(*) FROM grouped), 6) AS leaky_share
        UNION ALL
        SELECT 'row_hash' AS method,
               CAST((SELECT COUNT(*) FROM naive) AS BIGINT),
               CAST((SELECT SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END)
                     FROM naive) AS BIGINT),
               ROUND((SELECT SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) * 1.0
                      / COUNT(*) FROM naive), 6)
        ORDER BY method
    """,
    doc="Group k-fold leakage audit: under row-level fold assignment "
    "(orderkey % 5) nearly every multi-order customer STRADDLES "
    "folds — their test orders share a customer with training "
    "orders, the cross-validation leak that inflates q241's CV "
    "score whenever rows within an entity correlate — while "
    "md5(custkey)-keyed GROUP folds pin every customer to exactly "
    "one fold by construction (0 leaky). The audit quantifies the "
    "difference as the straddling-customer share, the number to "
    "check before trusting any per-row CV split; complements "
    "q117's time-based leakage-free split with the entity-based "
    "one. Plan shape: two customer-keyed distinct-fold censuses, "
    "two 1-row reductions unioned.",
)
def q336(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders").select(
        "o_custkey", "o_orderkey"
    )
    naive = o.groupBy("o_custkey").agg(
        F.countDistinct(F.col("o_orderkey") % 5).alias("nf")
    )
    gf = (
        F.conv(
            F.substring(F.md5(F.col("o_custkey").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 5
    )
    grouped = o.groupBy("o_custkey").agg(F.countDistinct(gf).alias("nf"))

    def census(df: DataFrame, tag: str) -> DataFrame:
        return df.agg(
            F.lit(tag).alias("method"),
            F.count("*").cast("long").alias("n_customers"),
            F.sum(F.when(F.col("nf") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_leaky"),
            F.round(
                F.sum(F.when(F.col("nf") > 1, 1).otherwise(0)) * 1.0
                / F.count("*"),
                6,
            ).alias("leaky_share"),
        )

    return (
        census(grouped, "group_kfold")
        .unionByName(census(naive, "row_hash"))
        .orderBy("method")
    )


@register(
    "q342_price_elasticity",
    oracle="""
        WITH pq AS (
          SELECT p.p_type AS ptype,
                 LN(l.l_extendedprice / l.l_quantity) AS log_p,
                 LN(l.l_quantity) AS log_q
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
        )
        SELECT ptype,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(REGR_SLOPE(log_q, log_p), 6) AS elasticity,
               ROUND(REGR_R2(log_q, log_p), 6) AS r2
        FROM pq GROUP BY ptype ORDER BY ptype
    """,
    doc="Log-log price elasticity of demand per part type: the OLS "
    "slope of ln(quantity) on ln(unit price) — the constant-"
    "elasticity estimate whose coefficient reads directly as "
    "%-quantity change per %-price change, the pricing-analytics "
    "primitive q198's raw-scale trend cannot give (raw slopes "
    "conflate level with response). REGR_SLOPE/REGR_R2 are five "
    "streaming moments, so the whole fit is one map-side-combinable "
    "aggregate per part type; R2 is reported because a near-zero "
    "fit means the 'elasticity' is noise (the honest-reporting rule "
    "q330 applies to its effect sizes). Plan shape: one broadcast "
    "dim join, one grouped moment aggregate; per-row LN is "
    "identical arithmetic on both engines.",
)
def q342(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    li = table_parallel(spark, sf, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    p = table_parallel(spark, sf, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_type").alias("ptype"),
    )
    pq = li.join(F.broadcast(p), "l_partkey").select(
        "ptype",
        F.log(F.col("l_extendedprice") / F.col("l_quantity")).alias("log_p"),
        F.log(F.col("l_quantity")).alias("log_q"),
    )
    return (
        pq.groupBy("ptype")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.regr_slope("log_q", "log_p"), 6).alias("elasticity"),
            F.round(F.regr_r2("log_q", "log_p"), 6).alias("r2"),
        )
        .orderBy("ptype")
    )


@register(
    "q343_abc_classes",
    oracle="""
        WITH rev AS (
          SELECT l_partkey,
                 SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 10000)
                          AS BIGINT)) AS rev_e4
          FROM lineitem GROUP BY l_partkey
        ),
        tot AS (SELECT SUM(rev_e4) AS t, COUNT(*) AS np FROM rev),
        ranked AS (
          SELECT l_partkey, rev_e4,
                 SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM rev
        ),
        classed AS (
          SELECT CASE WHEN cum * 1.0 / (SELECT t FROM tot) <= 0.8 THEN 'A'
                      WHEN cum * 1.0 / (SELECT t FROM tot) <= 0.95 THEN 'B'
                      ELSE 'C' END AS abc_class,
                 rev_e4
          FROM ranked
        )
        SELECT abc_class,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(rev_e4) AS BIGINT) AS rev_e4,
               ROUND(SUM(rev_e4) * 1.0 / (SELECT t FROM tot), 6)
                 AS rev_share,
               ROUND(COUNT(*) * 1.0 / (SELECT np FROM tot), 6)
                 AS part_share
        FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
    doc="ABC inventory classification: parts ranked by exact revenue, "
    "class A = the head covering 80% of cumulative revenue, B = the "
    "next 15%, C = the tail — the warehouse-operations cut (count A "
    "items daily, C items yearly) that q187's Pareto whale curve "
    "describes but does not MATERIALIZE as an assignment. The "
    "cumulative revenue over the part ranking is entity-scale, so "
    "it runs through dist_rank's sharded order-stats pass (running "
    "integer sums with broadcast shard offsets — exact e4 units, "
    "never a single-task window); the class census is 3 rows. The "
    "oracle replays the same cumulative with a plain window.",
)
def q343(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_order_stats

    rev = (
        table_parallel(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * 10000
                ).cast("long")
            ).alias("rev_e4")
        )
        .withColumn("neg_rev", -F.col("rev_e4"))
    )
    ranked, totals = with_global_order_stats(
        rev, "neg_rev", ("l_partkey",), sum_cols={"rev_e4": "cum"}
    )
    t = totals["rev_e4"]
    n_parts = totals["rows"]
    classed = ranked.select(
        F.when(F.col("cum") * 1.0 / t <= 0.8, "A")
        .when(F.col("cum") * 1.0 / t <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
        "rev_e4",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("rev_e4").cast("long").alias("rev_e4"),
            F.round(F.sum("rev_e4") * 1.0 / t, 6).alias("rev_share"),
            F.round(F.count("*") * 1.0 / n_parts, 6).alias("part_share"),
        )
        .orderBy("abc_class")
    )


def _phi_approx_sql(zcol: str) -> str:
    """Standard normal CDF via the A&S 7.1.26 erf approximation — the
    identical elementary-arithmetic expression the Spark side builds,
    the q319 p-value convention."""
    x = f"(ABS({zcol}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + 0.3275911 * {x}))"
    poly = (
        f"(0.254829592 * {t} - 0.284496736 * POW({t}, 2)"
        f" + 1.421413741 * POW({t}, 3) - 1.453152027 * POW({t}, 4)"
        f" + 1.061405429 * POW({t}, 5))"
    )
    erf = f"(1.0 - {poly} * exp(-{x} * {x}))"
    return (
        f"(CASE WHEN {zcol} >= 0 THEN 0.5 * (1.0 + {erf})"
        f" ELSE 0.5 * (1.0 - {erf}) END)"
    )


_LN_Z = "((lx - (SELECT mu FROM fit)) / (SELECT sigma FROM fit))"


@register(
    "q344_lognormal_ks",
    oracle=f"""
        WITH x AS (
          SELECT LN(o_totalprice) AS lx, o_orderkey FROM orders
          WHERE o_totalprice > 0
        ),
        fit AS (
          SELECT AVG(lx) AS mu, STDDEV_SAMP(lx) AS sigma, COUNT(*) AS n
          FROM x
        ),
        ranked AS (
          SELECT lx, ROW_NUMBER() OVER (ORDER BY lx, o_orderkey) AS rn
          FROM x
        ),
        dev AS (
          SELECT GREATEST(
                   ABS(rn * 1.0 / (SELECT n FROM fit)
                       - {_phi_approx_sql(_LN_Z)}),
                   ABS((rn - 1.0) / (SELECT n FROM fit)
                       - {_phi_approx_sql(_LN_Z)})
                 ) AS d
          FROM ranked
        )
        SELECT CAST((SELECT n FROM fit) AS BIGINT) AS n,
               ROUND((SELECT mu FROM fit), 6) AS mu,
               ROUND((SELECT sigma FROM fit), 6) AS sigma,
               ROUND(MAX(d), 6) AS ks_stat
        FROM dev
    """,
    doc="Lognormal distribution fit of order values with the "
    "Kolmogorov-Smirnov goodness-of-fit statistic: MLE parameters "
    "(mu, sigma) = moments of ln(x) in one streaming aggregate, "
    "then D = sup over BOTH one-sided ECDF gaps (rn/n and (rn-1)/n "
    "envelopes) against Phi((ln x - mu)/sigma) — the "
    "distribution-FITTING companion to q191's two-SAMPLE KS: it "
    "answers 'is spend actually lognormal', the assumption every "
    "parametric revenue model and q344-style simulation quietly "
    "makes. The global ECDF rank is dist_rank's sharded pass, the "
    "normal CDF is the shared A&S erf approximation. Plan shape: "
    "one moment census broadcast, one sharded rank, per-row "
    "arithmetic, one max-reduce.",
)
def q344(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_rank

    x = (
        table_parallel(spark, sf, "orders")
        .where(F.col("o_totalprice") > 0)
        .select(F.log("o_totalprice").alias("lx"), "o_orderkey")
    )
    fit = x.agg(
        F.avg("lx").alias("mu"),
        F.stddev_samp("lx").alias("sigma"),
        F.count("*").alias("n"),
    )
    ranked, _n = with_global_rank(x, "lx", ("o_orderkey",), out="rn")
    z = (F.col("lx") - F.col("mu")) / F.col("sigma")
    xx = F.abs(z) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * xx)
    poly = (
        0.254829592 * t
        - 0.284496736 * F.pow(t, 2)
        + 1.421413741 * F.pow(t, 3)
        - 1.453152027 * F.pow(t, 4)
        + 1.061405429 * F.pow(t, 5)
    )
    erf = 1.0 - poly * F.exp(-xx * xx)
    phi = F.when(z >= 0, 0.5 * (1.0 + erf)).otherwise(0.5 * (1.0 - erf))
    dev = ranked.crossJoin(F.broadcast(fit)).select(
        F.greatest(
            F.abs(F.col("rn") * 1.0 / F.col("n") - phi),
            F.abs((F.col("rn") - 1.0) / F.col("n") - phi),
        ).alias("d"),
        "mu",
        "sigma",
        "n",
    )
    return dev.agg(
        F.max("n").cast("long").alias("n"),
        F.round(F.max("mu"), 6).alias("mu"),
        F.round(F.max("sigma"), 6).alias("sigma"),
        F.round(F.max("d"), 6).alias("ks_stat"),
    )


@register(
    "q345_metric_correlations",
    oracle="""
        WITH daily AS (
          SELECT CAST(o_orderdate AS DATE) AS day,
                 COUNT(*) * 1.0 AS n_orders,
                 SUM(o_totalprice) AS revenue,
                 AVG(o_totalprice) AS aov,
                 COUNT(DISTINCT o_custkey) * 1.0 AS n_customers
          FROM orders GROUP BY day
        ),
        pairs AS (
          SELECT 'aov' AS m1, 'n_customers' AS m2,
                 CORR(aov, n_customers) AS r FROM daily
          UNION ALL
          SELECT 'aov', 'n_orders', CORR(aov, n_orders) FROM daily
          UNION ALL
          SELECT 'aov', 'revenue', CORR(aov, revenue) FROM daily
          UNION ALL
          SELECT 'n_customers', 'n_orders', CORR(n_customers, n_orders)
          FROM daily
          UNION ALL
          SELECT 'n_customers', 'revenue', CORR(n_customers, revenue)
          FROM daily
          UNION ALL
          SELECT 'n_orders', 'revenue', CORR(n_orders, revenue)
          FROM daily
        )
        SELECT m1, m2, ROUND(r, 6) AS pearson_r
        FROM pairs ORDER BY m1, m2
    """,
    doc="Pairwise Pearson correlation matrix of the four daily "
    "business metrics (orders, revenue, AOV, active customers) over "
    "the calendar-day census — the metric-health screen that "
    "catches redundant KPIs (orders vs customers here correlate "
    "~0.999: one is the other renamed) and surprising decouplings "
    "(AOV vs volume near zero: price and traffic move "
    "independently), which decides what q147's lead-lag analysis "
    "is even worth running on. All six CORR pairs compute in ONE "
    "pass over the day census (Spark plans the multi-agg as one "
    "aggregate; the per-pair moments are streaming); the output "
    "unpivots via stack(). Plan shape: one day-keyed census (the "
    "distinct count is the only shuffle-heavy term), one 1-row "
    "multi-moment reduce, a 6-row unpivot.",
)
def q345(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    daily = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            (F.count("*") * 1.0).alias("n_orders"),
            F.sum("o_totalprice").alias("revenue"),
            F.avg("o_totalprice").alias("aov"),
            (F.countDistinct("o_custkey") * 1.0).alias("n_customers"),
        )
    )
    metrics = sorted(["n_orders", "revenue", "aov", "n_customers"])
    aggs = []
    names = []
    for i, m1 in enumerate(metrics):
        for m2 in metrics[i + 1 :]:
            aggs.append(F.corr(m1, m2).alias(f"{m1}__{m2}"))
            names.append((m1, m2))
    row = daily.agg(*aggs)
    stack = ", ".join(f"'{a}', '{b}', `{a}__{b}`" for a, b in names)
    out = row.selectExpr(f"stack({len(names)}, {stack}) as (m1, m2, r)")
    return out.select(
        "m1", "m2", F.round("r", 6).alias("pearson_r")
    ).orderBy("m1", "m2")


@register(
    "q349_mcnemar_paired",
    oracle="""
        WITH flags AS (
          SELECT c.c_custkey AS ck,
                 MAX(CASE WHEN EXTRACT(year FROM o.o_orderdate) = 1996
                          THEN 1 ELSE 0 END) AS a,
                 MAX(CASE WHEN EXTRACT(year FROM o.o_orderdate) = 1997
                          THEN 1 ELSE 0 END) AS b
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey
        ),
        cells AS (
          SELECT SUM(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END) AS n00,
                 SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS n01,
                 SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS n10,
                 SUM(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS n11
          FROM flags
        )
        SELECT CAST(n00 AS BIGINT) AS n00, CAST(n01 AS BIGINT) AS n01,
               CAST(n10 AS BIGINT) AS n10, CAST(n11 AS BIGINT) AS n11,
               ROUND(POW(ABS(n01 - n10) - 1, 2) / (n01 + n10), 6) AS chi2,
               ROUND((SELECT (0.254829592 * t - 0.284496736 * POW(t, 2)
                        + 1.421413741 * POW(t, 3) - 1.453152027 * POW(t, 4)
                        + 1.061405429 * POW(t, 5)) * exp(-x * x)
                      FROM (SELECT sqrt(POW(ABS(n01 - n10) - 1, 2)
                                        / (n01 + n10)) / sqrt(2.0) AS x,
                                   1.0 / (1.0 + 0.3275911
                                     * (sqrt(POW(ABS(n01 - n10) - 1, 2)
                                             / (n01 + n10))
                                        / sqrt(2.0))) AS t)),
                     6) AS p_value
        FROM cells
    """,
    doc="McNemar's paired test with continuity correction on the "
    "year-over-year activity panel: each customer is a PAIRED binary "
    "observation (active in 1996, active in 1997), the test reads "
    "only the discordant cells — chi2 = (|n01-n10|-1)^2/(n01+n10), "
    "p from chi2(1df) = erfc(sqrt(chi2)/sqrt(2)) via the shared "
    "A&S 7.1.26 erf polynomial evaluated identically on both "
    "engines. The paired complement to q172's two-sample z-test "
    "(independent arms) and q333's trend test: same customers, two "
    "time points. One grouped pass + a 1-row census.",
)
def q349(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    c = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck")
    )
    o = table_parallel(spark, sf, "orders").select(
        F.col("o_custkey").alias("ck"), F.year("o_orderdate").alias("yr")
    )
    flags = (
        c.join(o, "ck", "left")
        .groupBy("ck")
        .agg(
            F.max(F.when(F.col("yr") == 1996, 1).otherwise(0)).alias("a"),
            F.max(F.when(F.col("yr") == 1997, 1).otherwise(0)).alias("b"),
        )
    )
    cells = flags.agg(
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 0), 1).otherwise(0)).alias("n00"),
        F.sum(F.when((F.col("a") == 0) & (F.col("b") == 1), 1).otherwise(0)).alias("n01"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((F.col("a") == 1) & (F.col("b") == 1), 1).otherwise(0)).alias("n11"),
    )
    chi2 = F.pow(F.abs(F.col("n01") - F.col("n10")) - 1, 2) / (
        F.col("n01") + F.col("n10")
    )
    x = F.sqrt(chi2) / F.sqrt(F.lit(2.0))
    t = 1.0 / (1.0 + 0.3275911 * x)
    poly = (
        0.254829592 * t
        - 0.284496736 * F.pow(t, 2)
        + 1.421413741 * F.pow(t, 3)
        - 1.453152027 * F.pow(t, 4)
        + 1.061405429 * F.pow(t, 5)
    )
    return cells.select(
        F.col("n00").cast("long").alias("n00"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n11").cast("long").alias("n11"),
        F.round(chi2, 6).alias("chi2"),
        F.round(poly * F.exp(-x * x), 6).alias("p_value"),
    )


_KAPPA_THRESH = 250000.0


@register(
    "q350_cohens_kappa",
    oracle=f"""
        WITH rated AS (
          SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END AS ra,
                 CASE WHEN o_totalprice > {_KAPPA_THRESH} THEN 1 ELSE 0 END AS rb
          FROM orders
        ),
        cells AS (
          SELECT COUNT(*) AS n,
                 SUM(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS n11,
                 SUM(CASE WHEN ra = 1 AND rb = 0 THEN 1 ELSE 0 END) AS n10,
                 SUM(CASE WHEN ra = 0 AND rb = 1 THEN 1 ELSE 0 END) AS n01,
                 SUM(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS n00
          FROM rated
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(n11 AS BIGINT) AS n11, CAST(n10 AS BIGINT) AS n10,
               CAST(n01 AS BIGINT) AS n01, CAST(n00 AS BIGINT) AS n00,
               ROUND((n11 + n00) * 1.0 / n, 6) AS po,
               ROUND(((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                     + ((n01 + n00) * 1.0 / n) * ((n10 + n00) * 1.0 / n),
                     6) AS pe,
               ROUND(((n11 + n00) * 1.0 / n
                      - (((n11 + n10) * 1.0 / n) * ((n11 + n01) * 1.0 / n)
                         + ((n01 + n00) * 1.0 / n)
                           * ((n10 + n00) * 1.0 / n)))
                     / (1.0 - (((n11 + n10) * 1.0 / n)
                               * ((n11 + n01) * 1.0 / n)
                               + ((n01 + n00) * 1.0 / n)
                                 * ((n10 + n00) * 1.0 / n))), 6) AS kappa
        FROM cells
    """,
    doc="Cohen's kappa between two deterministic raters of order "
    "importance (priority-based vs price-threshold): chance-corrected "
    "agreement (po - pe)/(1 - pe) from one 2x2 census — the inter-"
    "rater reliability metric that separates real labeling agreement "
    "from base-rate coincidence (raw agreement po is inflated when "
    "both raters say 'unimportant' most of the time). The labeling-"
    "QA primitive for LLM data pipelines (two heuristic quality "
    "raters, one kappa per rater pair). One narrow scan + a 1-row "
    "census.",
)
def q350(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders")
    rated = o.select(
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("ra"),
        F.when(F.col("o_totalprice") > _KAPPA_THRESH, 1).otherwise(0).alias("rb"),
    )
    cells = rated.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0)).alias("n11"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 0), 1).otherwise(0)).alias("n10"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 1), 1).otherwise(0)).alias("n01"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0)).alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = ((F.col("n11") + F.col("n10")) / n) * ((F.col("n11") + F.col("n01")) / n) + (
        (F.col("n01") + F.col("n00")) / n
    ) * ((F.col("n10") + F.col("n00")) / n)
    return cells.select(
        F.col("n").cast("long").alias("n"),
        F.col("n11").cast("long").alias("n11"),
        F.col("n10").cast("long").alias("n10"),
        F.col("n01").cast("long").alias("n01"),
        F.col("n00").cast("long").alias("n00"),
        F.round(po, 6).alias("po"),
        F.round(pe, 6).alias("pe"),
        F.round((po - pe) / (1.0 - pe), 6).alias("kappa"),
    )


@register(
    "q354_uplift_qini",
    oracle="""
        WITH scored AS (
          SELECT c.c_custkey AS ck, c.c_acctbal AS score,
                 CASE WHEN (CAST(('0x' || substr(md5(CAST(c.c_custkey
                                                          AS VARCHAR)),
                                                 1, 8)) AS BIGINT) % 2) = 0
                      THEN 1 ELSE 0 END AS treated,
                 MAX(CASE WHEN o.o_orderpriority = '1-URGENT'
                          THEN 1 ELSE 0 END) AS resp
          FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
          GROUP BY c.c_custkey, c.c_acctbal
        ),
        tiled AS (
          SELECT treated, resp,
                 NTILE(10) OVER (ORDER BY score DESC, ck) AS decile
          FROM scored
        ),
        g AS (
          SELECT decile,
                 SUM(treated) AS nt,
                 SUM(1 - treated) AS nc,
                 SUM(treated * resp) AS rt,
                 SUM((1 - treated) * resp) AS rc
          FROM tiled GROUP BY decile
        )
        SELECT CAST(decile AS INT) AS decile,
               CAST(nt AS BIGINT) AS n_treated,
               CAST(nc AS BIGINT) AS n_control,
               ROUND(rt * 1.0 / nt - rc * 1.0 / nc, 6) AS uplift,
               ROUND(SUM(rt) OVER w
                     - (SUM(rc) OVER w) * (SUM(nt) OVER w * 1.0
                                           / (SUM(nc) OVER w)), 6) AS qini
        FROM g
        WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        ORDER BY decile
    """,
    doc="Uplift modeling readout: customers ranked by a targeting "
    "score (account balance) into exact global deciles (dist_rank "
    "sharded ntile), each decile reporting treated-minus-control "
    "response-rate UPLIFT under the md5-parity assignment, plus the "
    "cumulative QINI curve value (treated positives minus exposure-"
    "scaled control positives) — the standard campaign-targeting "
    "diagnostic that q210's single-arm lift curve cannot express "
    "(it has no counterfactual leg). The 10-row census window is "
    "bounded by construction.",
)
def q354(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_ntile

    c = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_acctbal").alias("score")
    )
    arm = (
        F.conv(F.substring(F.md5(F.col("ck").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 2
    )
    o = table_parallel(spark, sf, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("u"),
    )
    scored = (
        c.join(o, "ck", "left")
        .groupBy("ck", "score")
        .agg(F.coalesce(F.max("u"), F.lit(0)).alias("resp"))
        .select(
            "ck",
            "score",
            "resp",
            F.when(arm == 0, 1).otherwise(0).alias("treated"),
        )
    )
    tiled = with_global_ntile(
        scored.withColumn("nscore", -F.col("score")),
        "nscore",
        ("ck",),
        n=10,
        out="decile",
    )
    g = tiled.groupBy("decile").agg(
        F.sum("treated").alias("nt"),
        F.sum(1 - F.col("treated")).alias("nc"),
        F.sum(F.col("treated") * F.col("resp")).alias("rt"),
        F.sum((1 - F.col("treated")) * F.col("resp")).alias("rc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.select(
            F.col("decile").cast("int").alias("decile"),
            F.col("nt").cast("long").alias("n_treated"),
            F.col("nc").cast("long").alias("n_control"),
            F.round(
                F.col("rt") / F.col("nt") - F.col("rc") / F.col("nc"), 6
            ).alias("uplift"),
            F.round(
                F.sum("rt").over(w)
                - F.sum("rc").over(w)
                * (F.sum("nt").over(w) * 1.0 / F.sum("nc").over(w)),
                6,
            ).alias("qini"),
        )
        .orderBy("decile")
    )


@register(
    "q359_levene_variance_test",
    oracle=r"""
        WITH pts AS (
          SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
          FROM lineitem
        ),
        med AS (
          SELECT grp, MIN(x) AS med FROM (
            SELECT grp, x,
                   SUM(COUNT(*)) OVER (PARTITION BY grp ORDER BY x) AS cum,
                   SUM(COUNT(*)) OVER (PARTITION BY grp) AS n
            FROM pts GROUP BY grp, x)
          WHERE cum >= (n + 1) / 2 GROUP BY grp
        ),
        z AS (
          SELECT p.grp, CAST(ABS(p.x - m.med) AS DOUBLE) AS z
          FROM pts p JOIN med m ON p.grp = m.grp
        ),
        g AS (
          SELECT grp, COUNT(*) AS n, SUM(z) AS s, SUM(z * z) AS ss
          FROM z GROUP BY grp
        ),
        tot AS (
          SELECT SUM(n) AS N, SUM(s) AS S, COUNT(*) AS k,
                 SUM(s * s / n) AS sb_raw, SUM(ss) AS SS
          FROM g
        )
        SELECT CAST(k AS BIGINT) AS k_groups,
               CAST(N AS BIGINT) AS n_total,
               ROUND(((sb_raw - S * S / N) / (k - 1))
                     / ((SS - sb_raw) / (N - k)), 6) AS w_stat
        FROM tot
    """,
    doc="Brown-Forsythe variance-equality test (Levene with median "
    "centers, the robust pre-check before trusting q330's ANOVA or "
    "q144's pooled t): W = one-way ANOVA F computed on the absolute "
    "deviations z = |x - group median|. The per-group median is EXACT "
    "via the bounded-domain census (quantity in 1..50): cumulative "
    "counts over the tiny (group, value) aggregate pick the lo-median "
    "with integer logic both engines agree on — no percentile_approx, "
    "no single-task sort; the deviations then reduce to ONE moment "
    "aggregate (n, Σz, Σz²) per group and a 5-row census for W. At "
    "100 TB: two hash aggregates and a broadcast of the 3-row median "
    "table. Read against q330 (ANOVA on values) and q329 "
    "(Kruskal-Wallis on ranks).",
)
def q359(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("grp")
    cen = (
        pts.groupBy("grp", "x")
        .agg(F.count("*").alias("c"))
        .withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("n", F.sum("c").over(w_tot))
    )
    med = (
        cen.where(F.col("cum") >= (F.col("n") + 1) / 2)
        .groupBy("grp")
        .agg(F.min("x").alias("med"))
    )
    z = pts.join(F.broadcast(med), "grp").select(
        "grp", F.abs(F.col("x") - F.col("med")).cast("double").alias("z")
    )
    g = z.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("z").alias("s"),
        F.sum(F.col("z") * F.col("z")).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("s").alias("st"),
        F.count("*").alias("k"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sb_raw"),
        F.sum("ss").alias("sst"),
    )
    return tot.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_total"),
        F.round(
            (
                (F.col("sb_raw") - F.col("st") * F.col("st") / F.col("nt"))
                / (F.col("k") - 1)
            )
            / ((F.col("sst") - F.col("sb_raw")) / (F.col("nt") - F.col("k"))),
            6,
        ).alias("w_stat"),
    )


_FRIEDMAN_K = 5  # o_orderpriority domain (TPC-H fixed: 1-URGENT..5-LOW)


@register(
    "q360_friedman_test",
    oracle=rf"""
        WITH cells AS (
          SELECT strftime(o_orderdate, '%Y-%m') AS blk,
                 o_orderpriority AS trt,
                 AVG(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS v
          FROM orders GROUP BY 1, 2
        ),
        full_b AS (SELECT blk FROM cells GROUP BY blk
                   HAVING COUNT(*) = {_FRIEDMAN_K}),
        c AS (SELECT cells.* FROM cells JOIN full_b USING (blk)),
        r AS (
          SELECT blk, trt,
                 2 * RANK() OVER (PARTITION BY blk ORDER BY v)
                   + COUNT(*) OVER (PARTITION BY blk, v) - 1 AS r2
          FROM c
        ),
        agg AS (SELECT trt, SUM(r2) AS s2 FROM r GROUP BY trt),
        nb AS (SELECT COUNT(*) AS n FROM full_b)
        SELECT CAST(n AS BIGINT) AS n_blocks,
               CAST({_FRIEDMAN_K} AS BIGINT) AS k_treatments,
               ROUND(12.0 / (n * {_FRIEDMAN_K} * {_FRIEDMAN_K + 1})
                     * SUM(s2 * s2 / 4.0)
                     - 3.0 * n * {_FRIEDMAN_K + 1}, 6) AS chi2_f
        FROM agg CROSS JOIN nb GROUP BY n
    """,
    doc="Friedman test (the nonparametric repeated-measures ANOVA): "
    "blocks = order months, treatments = the 5 order priorities, cell "
    "value = mean order value; treatments are rank-scored WITHIN each "
    "block (doubled-midrank integer trick, same determinism contract "
    "as q219/q329) and chi2_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) comes "
    "off the k-row rank-sum census. Only complete blocks (all k "
    "treatments present) enter, per the test's definition. Plan: one "
    "hash aggregate to the (month, priority) census — the windows run "
    "on the CENSUS (≤ 12·years·k rows), never on the fact table, so "
    "at 100 TB this is one shuffle plus census-local ranking. "
    "Completes the k-sample family: q330 parametric, q329 unblocked "
    "ranks, q360 blocked ranks.",
)
def q360(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    k = _FRIEDMAN_K
    cells = (
        table_parallel(spark, sf, "orders")
        .groupBy(
            F.date_format("o_orderdate", "yyyy-MM").alias("blk"),
            F.col("o_orderpriority").alias("trt"),
        )
        .agg(F.avg(F.round(F.col("o_totalprice") * 100)).alias("v"))
    )
    full = (
        cells.groupBy("blk").agg(F.count("*").alias("kk")).where(F.col("kk") == k)
    )
    c = cells.join(F.broadcast(full.select("blk")), "blk")
    w = Window.partitionBy("blk").orderBy("v")
    wt = Window.partitionBy("blk", "v")
    r2 = c.withColumn("r2", 2 * F.rank().over(w) + F.count("*").over(wt) - 1)
    agg = r2.groupBy("trt").agg(F.sum("r2").alias("s2"))
    nblk = full.agg(F.count("*").alias("n"))
    return (
        agg.crossJoin(F.broadcast(nblk))
        .groupBy("n")
        .agg(F.sum(F.col("s2") * F.col("s2") / 4.0).alias("sum_r2"))
        .select(
            F.col("n").cast("long").alias("n_blocks"),
            F.lit(k).cast("long").alias("k_treatments"),
            F.round(
                12.0 / (F.col("n") * k * (k + 1)) * F.col("sum_r2")
                - 3.0 * F.col("n") * (k + 1),
                6,
            ).alias("chi2_f"),
        )
    )


_FLEISS_N = 4  # ratings per item (orders with exactly 4 lineitems)


@register(
    "q361_fleiss_kappa",
    oracle=rf"""
        WITH li AS (SELECT l_orderkey AS ok, l_returnflag AS cat
                    FROM lineitem),
        sized AS (SELECT ok FROM li GROUP BY ok
                  HAVING COUNT(*) = {_FLEISS_N}),
        rated AS (SELECT li.* FROM li JOIN sized USING (ok)),
        nij AS (SELECT ok, cat, COUNT(*) AS c FROM rated GROUP BY ok, cat),
        pi AS (SELECT ok, (SUM(c * c) - {_FLEISS_N})
                          / ({_FLEISS_N}.0 * {_FLEISS_N - 1}) AS p_i
               FROM nij GROUP BY ok),
        pj AS (SELECT cat, SUM(c) AS cj FROM nij GROUP BY cat),
        tot AS (SELECT SUM(cj) AS T, SUM(cj * cj) AS sq FROM pj),
        pb AS (SELECT AVG(p_i) AS pbar, COUNT(*) AS n_items FROM pi)
        SELECT CAST(n_items AS BIGINT) AS n_items,
               ROUND((pbar - sq / (1.0 * T * T))
                     / (1.0 - sq / (1.0 * T * T)), 6) AS fleiss_kappa
        FROM pb CROSS JOIN tot
    """,
    doc=f"Fleiss' kappa (chance-corrected MULTI-rater agreement — the "
    f"n-rater generalization of q350's two-rater Cohen's kappa, the "
    "standard consistency gate on crowd/LLM labeling fleets): items = "
    f"orders with exactly {_FLEISS_N} lineitems, the lineitems act as "
    f"{_FLEISS_N} raters assigning the returnflag category. "
    "P_i = (Σ_j n_ij² − n)/(n(n−1)) per item, P̄e = Σ_j p_j², kappa = "
    "(P̄ − P̄e)/(1 − P̄e). Plan: one (item, category) hash aggregate, "
    "then two tiny censuses (per-item P_i reduces in the same pass; "
    "category marginals are |categories| rows) — at 100 TB a single "
    "shuffle on the item key. All moments exact integers until the "
    "final two divisions.",
)
def q361(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    n = _FLEISS_N
    li = table_parallel(spark, sf, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_returnflag").alias("cat")
    )
    sized = li.groupBy("ok").agg(F.count("*").alias("m")).where(F.col("m") == n)
    rated = li.join(sized.select("ok"), "ok")
    # nij feeds both the per-item agreement census and the category
    # margins — one lazy checkpoint instead of rebuilding the
    # size-filter join + (item, cat) aggregate twice.
    nij = (
        rated.groupBy("ok", "cat")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    pi = nij.groupBy("ok").agg(
        ((F.sum(F.col("c") * F.col("c")) - n) / (n * (n - 1))).alias("p_i")
    )
    pj = nij.groupBy("cat").agg(F.sum("c").alias("cj"))
    tot = pj.agg(
        F.sum("cj").alias("t_"), F.sum(F.col("cj") * F.col("cj")).alias("sq")
    )
    pbar = pi.agg(F.avg("p_i").alias("pbar"), F.count("*").alias("n_items"))
    pe = F.col("sq") / (F.col("t_") * F.col("t_"))
    return pbar.crossJoin(F.broadcast(tot)).select(
        F.col("n_items").cast("long").alias("n_items"),
        F.round((F.col("pbar") - pe) / (1.0 - pe), 6).alias("fleiss_kappa"),
    )


@register(
    "q362_theil_inequality",
    oracle=r"""
        WITH rev AS (
          SELECT o_custkey AS ck,
                 CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS x
          FROM orders GROUP BY o_custkey
        ),
        j AS (SELECT r.ck, c.c_nationkey AS nk, r.x
              FROM rev r JOIN customer c ON c.c_custkey = r.ck),
        tot AS (SELECT SUM(x) AS xt, COUNT(*) AS nt FROM j),
        t1 AS (
          SELECT ROUND(AVG((x / (xt / (1.0 * nt)))
                       * LN(x / (xt / (1.0 * nt)))), 6) AS theil_t
          FROM j CROSS JOIN tot
        ),
        grp AS (SELECT nk, SUM(x) AS xg, COUNT(*) AS ng FROM j GROUP BY nk),
        t2 AS (
          SELECT ROUND(SUM((xg / (1.0 * xt))
                       * LN((xg / (1.0 * ng)) / (xt / (1.0 * nt)))), 6)
                   AS theil_between
          FROM grp CROSS JOIN tot
        )
        SELECT theil_t, theil_between FROM t1 CROSS JOIN t2
    """,
    doc="Theil T inequality index of customer revenue, with its "
    "between-nations component (Theil's defining advantage over "
    "q160's Gini: T decomposes ADDITIVELY into within + between, so "
    "theil_between/theil_t reads directly as 'how much of the "
    "concentration is geography'). T = mean((x/μ)·ln(x/μ)); between = "
    "Σ_g share_g·ln(mean_g/μ) over the 25-nation census. Plan: one "
    "customer-revenue aggregate, a broadcast of the 1-row total, one "
    "pass for the entropy mean, one 25-row census — two shuffles at "
    "100 TB, nothing quadratic.",
)
def q362(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    rev = (
        table_parallel(spark, sf, "orders")
        .groupBy(F.col("o_custkey").alias("ck"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x")
        )
    )
    cust = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk")
    )
    # j feeds three branches (grand total, within-term, between-term):
    # one lazy checkpoint keeps the orders aggregate + customer join
    # from being scanned three times in the final plan.
    j = rev.join(cust, "ck").localCheckpoint(eager=False)
    tot = j.agg(F.sum("x").alias("xt"), F.count("*").alias("nt"))
    wth = j.crossJoin(F.broadcast(tot)).select(
        (F.col("x") / (F.col("xt") / F.col("nt"))).alias("ratio")
    )
    t_total = wth.agg(
        F.round(F.avg(F.col("ratio") * F.log("ratio")), 6).alias("theil_t")
    )
    grp = j.groupBy("nk").agg(F.sum("x").alias("xg"), F.count("*").alias("ng"))
    btw = (
        grp.crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("xg") / F.col("xt"))
                * F.log(
                    (F.col("xg") / F.col("ng")) / (F.col("xt") / F.col("nt"))
                )
            ).alias("t")
        )
        .agg(F.round(F.sum("t"), 6).alias("theil_between"))
    )
    return t_total.crossJoin(btw)


@register(
    "q364_trimmed_winsorized_mean",
    oracle=r"""
        WITH pts AS (
          SELECT l_returnflag AS grp,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
          FROM lineitem
        ),
        rk AS (
          SELECT grp, y,
                 ROW_NUMBER() OVER (PARTITION BY grp ORDER BY y) AS rn,
                 COUNT(*) OVER (PARTITION BY grp) AS n
          FROM pts
        ),
        kept AS (
          SELECT grp, y, rn, n,
                 CAST(FLOOR(n / 10) AS BIGINT) + 1 AS lo,
                 n - CAST(FLOOR(n / 10) AS BIGINT) AS hi
          FROM rk
        ),
        t AS (
          SELECT grp, COUNT(*) AS n_kept, AVG(y) AS tm,
                 MIN(y) AS wlo, MAX(y) AS whi
          FROM kept WHERE rn >= lo AND rn <= hi GROUP BY grp
        ),
        wz AS (
          SELECT k.grp,
                 CASE WHEN k.y < t.wlo THEN t.wlo
                      WHEN k.y > t.whi THEN t.whi ELSE k.y END AS yw
          FROM kept k JOIN t USING (grp)
        ),
        wm AS (SELECT grp, AVG(yw) AS wmean, COUNT(*) AS n FROM wz GROUP BY grp)
        SELECT t.grp AS grp, CAST(wm.n AS BIGINT) AS n,
               CAST(t.n_kept AS BIGINT) AS n_kept,
               ROUND(t.tm, 6) AS trimmed_mean_cents,
               ROUND(wm.wmean, 6) AS winsorized_mean_cents
        FROM t JOIN wm USING (grp) ORDER BY grp
    """,
    doc="10% trimmed and winsorized means of extended price per "
    "returnflag — the outlier-robust location pair every metrics "
    "pipeline wants next to the raw mean (trim DROPS each tail, "
    "winsorize CLAMPS it; reporting both shows how much tail mass "
    "moved). Rank-exact cut at floor(n/10) per tail via the sharded "
    "per-group row_number (dist_rank — l_returnflag has 3 values, so "
    "a plain grp-partitioned window would be 3 tasks each sorting a "
    "third of the table at 100 TB); the winsorized mean then costs "
    "NOTHING extra — the 2·cut clamped tail rows contribute exactly "
    "cut·min + cut·max of the kept range, so both means come off the "
    "ONE trimmed aggregate, no second pass, no re-rank. "
    "Read against q229's Huber location (iterative M-estimate).",
)
def q364(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_rank

    pts = table_parallel(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    ranked, _ = with_global_rank(
        pts,
        "y",
        (),
        kind="row_number",
        partition_by=("grp",),
        out="rn",
        count_col="n",
    )
    cut = F.floor(F.col("n") / 10)
    kept = ranked.withColumn("lo", cut + 1).withColumn("hi", F.col("n") - cut)
    trimmed = kept.where(
        (F.col("rn") >= F.col("lo")) & (F.col("rn") <= F.col("hi"))
    )
    # the winsorized mean needs NO second pass: the 2*cut clamped tail
    # rows contribute exactly cut*wlo + cut*whi to the sum, so it is
    # algebra over the same trimmed aggregate (exact integers — the
    # value matches the oracle's AVG over the clamped column bit for
    # bit because both are the identical integer sum / n)
    t = trimmed.groupBy("grp").agg(
        F.count("*").alias("n_kept"),
        F.sum("y").alias("tsum"),
        F.min("y").alias("wlo"),
        F.max("y").alias("whi"),
        F.max("n").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
    )
    wsum = (
        F.col("tsum")
        + (F.col("lo") - 1) * F.col("wlo")
        + (F.col("n") - F.col("hi")) * F.col("whi")
    )
    return (
        t.select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.round(F.col("tsum") / F.col("n_kept"), 6).alias(
                "trimmed_mean_cents"
            ),
            F.round(wsum / F.col("n"), 6).alias("winsorized_mean_cents"),
        )
        .orderBy("grp")
    )


_SBOOT_B = 32  # subsample-bootstrap replicas
_SBOOT_THRESH = "a1cac083"  # ~0.632 of the 32-bit hex space


@register(
    "q365_hash_bootstrap_ci",
    oracle=rf"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        reps AS (
          SELECT b.b, o.cents
          FROM o CROSS JOIN (SELECT unnest(range(0, {_SBOOT_B})) AS b) b
          WHERE substr(md5(CAST(o.k AS VARCHAR) || ':'
                           || CAST(b.b AS VARCHAR)), 1, 8)
                < '{_SBOOT_THRESH}'
        ),
        means AS (SELECT b, AVG(cents) AS m FROM reps GROUP BY b),
        ranked AS (SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS r FROM means),
        ci AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_replicas,
                 ROUND(AVG(m), 6) AS boot_mean,
                 ROUND(MIN(CASE WHEN r = {max(1, int(0.025 * _SBOOT_B))}
                                THEN m END), 6) AS ci_lo,
                 ROUND(MIN(CASE WHEN r = {min(_SBOOT_B, int(0.975 * _SBOOT_B) + 1)}
                                THEN m END), 6) AS ci_hi
          FROM ranked
        ),
        base AS (SELECT ROUND(AVG(cents), 6) AS full_mean FROM o)
        SELECT ci.*, base.full_mean FROM ci CROSS JOIN base
    """,
    doc=f"Deterministic hash-bootstrap confidence interval for the mean "
    f"order value: {_SBOOT_B} Bernoulli(0.632) subsample replicas where "
    "replica b includes a row iff the first 8 hex chars of "
    "md5(orderkey:b) fall under a fixed threshold — RNG-free "
    "resampling that is bit-identical on any engine and any "
    "parallelism (the property that makes bootstrap auditable in a "
    "distributed pipeline; md5 is the same engine-portability trick "
    "as the MinHash family). CI = empirical 2.5/97.5 order statistics "
    f"of the {_SBOOT_B}-replica mean census. This is the ENTITY-SCALE "
    "bootstrap (the m-out-of-n/Poisson-family subsample recipe): q260 "
    "resamples a bounded day census with replacement via index draws, "
    "which requires the census to be joinable by position — impossible "
    "on a 100 TB fact table; here inclusion is decided ROW-LOCALLY "
    "from the row's own hash, so resampling never shuffles the data "
    f"at all. Plan: ONE scan with a {_SBOOT_B}-way explode "
    f"(row-local), one hash aggregate to {_SBOOT_B} rows, "
    "census-local ranking.",
)
def q365(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    reps = o.select(
        "k",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_SBOOT_B - 1))).alias("b"),
    ).where(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.col("k").cast("string"), F.col("b").cast("string")
                )
            ),
            1,
            8,
        )
        < _SBOOT_THRESH
    )
    means = reps.groupBy("b").agg(F.avg("cents").alias("m"))
    ranked = means.withColumn("r", F.row_number().over(Window.orderBy("m")))
    lo_r = max(1, int(0.025 * _SBOOT_B))
    hi_r = min(_SBOOT_B, int(0.975 * _SBOOT_B) + 1)
    base = o.agg(F.round(F.avg("cents"), 6).alias("full_mean"))
    ci = ranked.agg(
        F.count("*").cast("long").alias("n_replicas"),
        F.round(F.avg("m"), 6).alias("boot_mean"),
        F.round(F.min(F.when(F.col("r") == lo_r, F.col("m"))), 6).alias("ci_lo"),
        F.round(F.min(F.when(F.col("r") == hi_r, F.col("m"))), 6).alias("ci_hi"),
    )
    return ci.crossJoin(F.broadcast(base))


@register(
    "q366_cochran_armitage_trend",
    oracle=r"""
        WITH li AS (
          SELECT l_orderkey AS ok,
                 MAX(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS resp
          FROM lineitem GROUP BY l_orderkey
        ),
        o AS (
          SELECT o_orderkey AS ok,
                 CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS dose
          FROM orders
        ),
        g AS (
          SELECT dose, COUNT(*) AS n, SUM(resp) AS r
          FROM o JOIN li USING (ok) GROUP BY dose
        ),
        tot AS (
          SELECT SUM(n) AS N, SUM(r) AS R,
                 SUM(dose * r) AS sdr, SUM(dose * n) AS sdn,
                 SUM(dose * dose * n) AS sddn
          FROM g
        )
        SELECT CAST(N AS BIGINT) AS n_orders,
               CAST(R AS BIGINT) AS n_responders,
               ROUND((sdr - R * sdn / (1.0 * N))
                     * (sdr - R * sdn / (1.0 * N))
                     / ((R / (1.0 * N)) * (1 - R / (1.0 * N))
                        * (sddn - sdn * sdn / (1.0 * N))), 6) AS ca_z2
        FROM tot
    """,
    doc="Cochran-Armitage trend test: does the probability an order "
    "contains a returned item rise MONOTONICALLY with its priority "
    "score (ordinal dose 1..5 from o_orderpriority)? Z² = T²/Var(T) "
    "with T = Σd·r − R·Σd·n/N — the ordered-alternative complement to "
    "q190's unordered chi-square (which cannot see direction). All "
    "five moments are exact integer sums off the 5-row (dose, n, r) "
    "census; the per-order response is one MAX aggregate on lineitem. "
    "Plan at 100 TB: one shuffle keyed on orderkey, one on the "
    "bounded dose census.",
)
def q366(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    li = (
        table_parallel(spark, sf, "lineitem")
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.max((F.col("l_returnflag") == "R").cast("int")).alias("resp"))
    )
    o = table_parallel(spark, sf, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.substring("o_orderpriority", 1, 1).cast("long").alias("dose"),
    )
    g = o.join(li, "ok").groupBy("dose").agg(
        F.count("*").alias("n"), F.sum("resp").alias("r")
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.sum("r").alias("rt"),
        F.sum(F.col("dose") * F.col("r")).alias("sdr"),
        F.sum(F.col("dose") * F.col("n")).alias("sdn"),
        F.sum(F.col("dose") * F.col("dose") * F.col("n")).alias("sddn"),
    )
    p = F.col("rt") / F.col("nt")
    t_ = F.col("sdr") - F.col("rt") * F.col("sdn") / F.col("nt")
    v = (
        p
        * (1 - p)
        * (F.col("sddn") - F.col("sdn") * F.col("sdn") / F.col("nt"))
    )
    return tot.select(
        F.col("nt").cast("long").alias("n_orders"),
        F.col("rt").cast("long").alias("n_responders"),
        F.round(t_ * t_ / v, 6).alias("ca_z2"),
    )


@register(
    "q367_split_conformal",
    oracle=r"""
        WITH o AS (
          SELECT o_orderkey AS k, o_orderpriority AS pri,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
                 o_orderkey % 3 AS fold
          FROM orders
        ),
        model AS (SELECT pri, AVG(cents) AS mu FROM o WHERE fold = 0
                  GROUP BY pri),
        calib AS (
          SELECT ABS(o.cents - m.mu) AS r FROM o JOIN model m USING (pri)
          WHERE fold = 1
        ),
        nq AS (
          SELECT COUNT(*) AS n_cal,
                 LEAST(((COUNT(*) + 1) * 9 + 9) // 10, COUNT(*)) AS kq
          FROM calib
        ),
        hw AS (
          SELECT r AS hw FROM (
            SELECT r, ROW_NUMBER() OVER (ORDER BY r) AS rn FROM calib)
          JOIN nq ON rn = kq
        ),
        test AS (
          SELECT o.cents, m.mu FROM o JOIN model m USING (pri)
          WHERE fold = 2
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
               (SELECT CAST(n_cal AS BIGINT) FROM nq) AS n_calib,
               ROUND((SELECT MIN(hw) FROM hw), 6) AS halfwidth_cents,
               ROUND(AVG(CASE WHEN ABS(cents - mu) <= (SELECT hw FROM hw)
                              THEN 1 ELSE 0 END), 6) AS coverage
        FROM test
    """,
    doc="Split-conformal prediction interval with a genuine held-out "
    "calibration fold (distribution-free, finite-sample-valid 90% "
    "coverage): train fold fits a per-priority mean model, calibration "
    "fold takes the ceil((n+1)·0.9)-th order statistic of |residual| "
    "as the half-width, test fold measures OUT-OF-SAMPLE coverage — "
    "the production discipline q240's in-sample variant documents but "
    "does not execute (q240 calibrates and scores on the same rows, "
    "which overstates coverage; here the three folds are disjoint "
    "hashes of the order key). The quantile "
    "rank is EXACT integer math on both engines (((n+1)·9+9)//10 — a "
    "float 0.9·(n+1) can cross the ceil boundary); the order statistic "
    "comes from the sharded global rank, never a single-task sort. "
    "Plan at 100 TB: the model is a |priorities|-row broadcast, "
    "calibration is one rank pass, coverage is one aggregate. The "
    "folds hash on the immutable order key, so the split is "
    "deterministic and leakage-free (same discipline as q117).",
)
def q367(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel
    from harmony_spark.operators.dist_rank import with_global_rank

    o = table_parallel(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.col("o_orderkey") % 3).alias("fold"),
    )
    model = (
        o.where(F.col("fold") == 0).groupBy("pri").agg(F.avg("cents").alias("mu"))
    )
    calib = o.where(F.col("fold") == 1).join(F.broadcast(model), "pri").select(
        F.abs(F.col("cents") - F.col("mu")).alias("r")
    )
    ranked, n_cal = with_global_rank(calib, "r", (), kind="row_number", out="rn")
    k_q = min(((n_cal + 1) * 9 + 9) // 10, n_cal)
    q_row = ranked.where(F.col("rn") == k_q).select(F.col("r").alias("hw"))
    test = o.where(F.col("fold") == 2).join(F.broadcast(model), "pri")
    return test.crossJoin(F.broadcast(q_row)).agg(
        F.count("*").cast("long").alias("n_test"),
        F.lit(n_cal).cast("long").alias("n_calib"),
        F.round(F.min("hw"), 6).alias("halfwidth_cents"),
        F.round(
            F.avg(
                (F.abs(F.col("cents") - F.col("mu")) <= F.col("hw")).cast("int")
            ),
            6,
        ).alias("coverage"),
    )


_PERM_B = 64  # randomization replicas


@register(
    "q370_randomization_test",
    oracle=rf"""
        WITH o AS (
          SELECT o_orderkey AS k,
                 CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
                   AS a,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        tot AS (
          SELECT COUNT(*) AS n, SUM(a) AS na, SUM(cents) AS s,
                 SUM(a * cents) AS sa
          FROM o
        ),
        reps AS (
          SELECT b.b, o.cents,
                 CASE WHEN ('0x' || substr(md5(CAST(o.k AS VARCHAR) || ':'
                            || CAST(b.b AS VARCHAR)), 1, 8))::UBIGINT
                           / 4294967296.0 < (SELECT na * 1.0 / n FROM tot)
                      THEN 1 ELSE 0 END AS ab
          FROM o CROSS JOIN (SELECT unnest(range(0, {_PERM_B})) AS b) b
        ),
        bstats AS (
          SELECT b, SUM(ab * cents) AS sa_b, SUM(ab) AS na_b,
                 SUM(cents) AS s_b, COUNT(*) AS n_b
          FROM reps GROUP BY b
        ),
        tb AS (
          SELECT sa_b * 1.0 / na_b - (s_b - sa_b) * 1.0 / (n_b - na_b) AS t_b
          FROM bstats WHERE na_b > 0 AND na_b < n_b
        ),
        obs AS (
          SELECT sa * 1.0 / na - (s - sa) * 1.0 / (n - na) AS t_obs,
                 CAST(na AS BIGINT) AS n_a, CAST(n - na AS BIGINT) AS n_rest
          FROM tot
        )
        SELECT MIN(n_a) AS n_a, MIN(n_rest) AS n_rest,
               ROUND(MIN(t_obs), 6) AS t_obs,
               CAST(COUNT(*) AS BIGINT) AS n_replicas,
               ROUND((1 + SUM(CASE WHEN ABS(t_b) >= ABS(t_obs)
                                   THEN 1 ELSE 0 END))
                     / (COUNT(*) + 1.0), 6) AS p_value
        FROM tb CROSS JOIN obs
    """,
    doc=f"Randomization (permutation-family) test for the URGENT-vs-rest "
    f"mean order value difference: {_PERM_B} label reassignments drawn "
    "from md5(key:replica) uniforms at the observed label frequency "
    "(the Bernoulli-randomization variant — label COUNTS vary "
    "hypergeometrically around the observed, which is the correct "
    "null for a randomized assignment; both engines parse the same 8 "
    "hex chars numerically, so the replicas are bit-identical with no "
    "RNG). Two-sided p = (1 + #{{|T_b| >= |T_obs|}})/(B+1), the "
    "add-one Monte-Carlo estimator. The inference-without-formulas "
    "complement to q172's parametric z-test. Plan: the label moments "
    f"are one aggregate; replicas are a row-local x{_PERM_B} explode "
    "into one hash aggregate — resampling never shuffles data (same "
    "entity-scale discipline as q365's subsample bootstrap).",
)
def q370(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("a"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    tot = o.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("na"),
        F.sum("cents").alias("s"),
        F.sum(F.col("a") * F.col("cents")).alias("sa"),
    )
    reps = (
        o.select(
            "k",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_PERM_B - 1))).alias("b"),
        )
        .withColumn(
            "u",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("k").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            / 4294967296.0,
        )
        .crossJoin(F.broadcast(tot.select("n", "na")))
        .withColumn("ab", (F.col("u") < F.col("na") / F.col("n")).cast("int"))
    )
    bstats = reps.groupBy("b").agg(
        F.sum(F.col("ab") * F.col("cents")).alias("sa_b"),
        F.sum("ab").alias("na_b"),
        F.sum("cents").alias("s_b"),
        F.count("*").alias("n_b"),
    )
    tb = bstats.where(
        (F.col("na_b") > 0) & (F.col("na_b") < F.col("n_b"))
    ).select(
        (
            F.col("sa_b") / F.col("na_b")
            - (F.col("s_b") - F.col("sa_b")) / (F.col("n_b") - F.col("na_b"))
        ).alias("t_b")
    )
    obs = tot.select(
        (
            F.col("sa") / F.col("na")
            - (F.col("s") - F.col("sa")) / (F.col("n") - F.col("na"))
        ).alias("t_obs"),
        F.col("na").cast("long").alias("n_a"),
        (F.col("n") - F.col("na")).cast("long").alias("n_rest"),
    )
    return tb.crossJoin(F.broadcast(obs)).agg(
        F.min("n_a").alias("n_a"),
        F.min("n_rest").alias("n_rest"),
        F.round(F.min("t_obs"), 6).alias("t_obs"),
        F.count("*").cast("long").alias("n_replicas"),
        F.round(
            (1 + F.sum((F.abs("t_b") >= F.abs("t_obs")).cast("int")))
            / (F.count("*") + 1),
            6,
        ).alias("p_value"),
    )


@register(
    "q371_jackknife_influence",
    oracle=r"""
        WITH o AS (
          SELECT o_custkey AS ck,
                 CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
          FROM orders
        ),
        g AS (
          SELECT c.c_nationkey AS nk, SUM(o.cents) AS sg, COUNT(*) AS ng
          FROM o JOIN customer c ON c.c_custkey = o.ck
          GROUP BY c.c_nationkey
        ),
        tot AS (SELECT SUM(sg) AS st, SUM(ng) AS nt, COUNT(*) AS gg FROM g),
        loo AS (
          SELECT nk, gg, st * 1.0 / nt AS theta,
                 (st - sg) * 1.0 / (nt - ng) AS theta_i
          FROM g CROSS JOIN tot
        ),
        tb AS (SELECT AVG(theta_i) AS tbar FROM loo),
        agg AS (
          SELECT gg, theta,
                 SUM((theta_i - tbar) * (theta_i - tbar)) AS css,
                 MAX(ABS(theta_i - theta)) AS max_influence
          FROM loo CROSS JOIN tb GROUP BY gg, theta
        )
        SELECT CAST(gg AS BIGINT) AS n_groups,
               ROUND(theta, 6) AS mean_cents,
               ROUND(SQRT((gg - 1.0) / gg * css), 6) AS jackknife_se,
               ROUND(max_influence, 6) AS max_influence_cents
        FROM agg
    """,
    doc="Delete-one-group jackknife for the global mean order value "
    "over the 25 nations: each leave-one-nation-out estimate is pure "
    "ALGEBRA on the group census (theta_i = (S - s_g)/(N - n_g) — no "
    "re-aggregation per replicate, the property that makes grouped "
    "jackknife free at any scale), giving the jackknife SE and the "
    "worst single-group influence — the 'is one segment carrying this "
    "metric' robustness check. The SE sums CENTERED squares "
    "(theta_i - tbar)² — the uncentered Σtheta_i² - g·tbar² form "
    "cancels catastrophically at these magnitudes and flips the 6-dp "
    "rounding between engines. Plan: one group-by, a 25-row census, "
    "arithmetic.",
)
def q371(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    o = table_parallel(spark, sf, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = table_parallel(spark, sf, "customer").select(
        F.col("c_custkey").alias("ck"), F.col("c_nationkey").alias("nk")
    )
    g = o.join(c, "ck").groupBy("nk").agg(
        F.sum("cents").alias("sg"), F.count("*").alias("ng")
    )
    tot = g.agg(
        F.sum("sg").alias("st"),
        F.sum("ng").alias("nt"),
        F.count("*").alias("gg"),
    )
    loo = g.crossJoin(F.broadcast(tot)).select(
        "nk",
        "gg",
        (F.col("st") / F.col("nt")).alias("theta"),
        ((F.col("st") - F.col("sg")) / (F.col("nt") - F.col("ng"))).alias(
            "theta_i"
        ),
    )
    tb = loo.agg(F.avg("theta_i").alias("tbar"))
    agg = (
        loo.crossJoin(F.broadcast(tb))
        .groupBy("gg", "theta")
        .agg(
            F.sum(
                (F.col("theta_i") - F.col("tbar"))
                * (F.col("theta_i") - F.col("tbar"))
            ).alias("css"),
            F.max(F.abs(F.col("theta_i") - F.col("theta"))).alias(
                "max_influence"
            ),
        )
    )
    return agg.select(
        F.col("gg").cast("long").alias("n_groups"),
        F.round("theta", 6).alias("mean_cents"),
        F.round(
            F.sqrt((F.col("gg") - 1) / F.col("gg") * F.col("css")), 6
        ).alias("jackknife_se"),
        F.round("max_influence", 6).alias("max_influence_cents"),
    )


@register(
    "q378_tukey_hsd",
    oracle=r"""
        WITH pts AS (
          SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS x
          FROM lineitem
        ),
        g AS (
          SELECT grp, COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS ss
          FROM pts GROUP BY grp
        ),
        tot AS (
          SELECT SUM(n) AS nt, COUNT(*) AS k,
                 SUM(ss - s * s / (1.0 * n)) AS ssw
          FROM g
        ),
        pairs AS (
          SELECT a.grp AS g1, b.grp AS g2,
                 a.s * 1.0 / a.n AS m1, b.s * 1.0 / b.n AS m2,
                 a.n AS n1, b.n AS n2
          FROM g a JOIN g b ON a.grp < b.grp
        )
        SELECT g1, g2,
               ROUND(m2 - m1, 6) AS mean_diff,
               ROUND(ABS(m2 - m1)
                     / SQRT((ssw / (nt - k)) / 2.0
                            * (1.0 / n1 + 1.0 / n2)), 6) AS q_stat
        FROM pairs CROSS JOIN tot ORDER BY g1, g2
    """,
    doc="Tukey-Kramer HSD pairwise comparisons after q330's one-way "
    "ANOVA: for every group pair, the studentized-range statistic "
    "q = |mean_i − mean_j| / sqrt(MSE/2·(1/n_i + 1/n_j)) (the Kramer "
    "form handles unequal n), against the within-group MSE pooled "
    "across ALL groups — the post-hoc step that says WHICH groups "
    "differ once the omnibus F rejects, at familywise error control "
    "the per-pair t-tests q144 runs do not give. All inputs are exact "
    "integer moments off the k-row group census; the pairwise join is "
    "census x census (k², never rows²). At 100 TB: one hash "
    "aggregate, then arithmetic on k rows.",
)
def q378(spark: SparkSession, sf: str) -> DataFrame:
    from harmony_spark.io import table_parallel

    pts = table_parallel(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("grp"),
        F.col("l_quantity").cast("long").alias("x"),
    )
    g = pts.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    # s*s in BIGINT wraps once a group's quantity sum exceeds ~3e9
    # (roughly sf100 lineitem); the oracle computes the product in
    # HUGEINT.  decimal(38,0) keeps the product exact, then the /n
    # division promotes to double exactly as the oracle's 1.0*n does.
    ssq = (F.col("s").cast("decimal(38,0)") * F.col("s")).cast("double")
    tot = g.agg(
        F.sum("n").alias("nt"),
        F.count("*").alias("k"),
        F.sum(F.col("ss") - ssq / F.col("n")).alias("ssw"),
    )
    mse = F.col("ssw") / (F.col("nt") - F.col("k"))
    a = g.select(
        F.col("grp").alias("g1"),
        (F.col("s") / F.col("n")).alias("m1"),
        F.col("n").alias("n1"),
    )
    b = g.select(
        F.col("grp").alias("g2"),
        (F.col("s") / F.col("n")).alias("m2"),
        F.col("n").alias("n2"),
    )
    pairs = a.join(b, F.col("g1") < F.col("g2")).crossJoin(F.broadcast(tot))
    se = F.sqrt(mse / 2.0 * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
    return pairs.select(
        "g1",
        "g2",
        F.round(F.col("m2") - F.col("m1"), 6).alias("mean_diff"),
        F.round(F.abs(F.col("m2") - F.col("m1")) / se, 6).alias("q_stat"),
    ).orderBy("g1", "g2")
