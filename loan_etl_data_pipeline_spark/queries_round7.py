"""Round-7 analytics additions: effect sizes, agreement, spatial
autocorrelation, link prediction, drift distances, and sampling
diagnostics — each with a value-exact DuckDB oracle.

Portability stance (SCALE.md §8 / the q_autocorr discipline): every
statistic is assembled from EXACT integer moments (floor-cents, counts,
decimal(38,0) products via the _dec19 ladder) and the final real-valued
emission is a fixed IEEE sequence over 2^32-limb-split doubles, so the
driver's bitwise value hash is decidable.  Transcendentals are limited
to sqrt (correctly rounded by IEEE 754, bit-identical across engines);
where an irrational per-row weight is unavoidable (resource-allocation
1/deg) it is quantized through integer division so sums stay exact.

Reference anchor: the reference pipeline's analytics surface is the
insights JSON of pyspark_etl.py:47-58 (count/avg/group-count); this
module is part of the EXT battery SURVEY.md §2 Part B mandates on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loan_etl_data_pipeline_spark.catalog import oracle, query
from loan_etl_data_pipeline_spark.sources.tables import load_table


# shared limb-split SQL fragment (textual copy of queries._limb — one
# fixed IEEE sequence both engines run; see q_autocorr for rationale)
def _limb_sql(c: str) -> str:
    return (
        f"CAST({c} % 4294967296 AS DOUBLE)"
        f" + CAST({c} // 4294967296 AS DOUBLE) * 4294967296.0"
    )


def _dec19(c):
    from loan_etl_data_pipeline_spark.queries import _dec19 as d

    return d(c)


def _limb(c: str):
    from loan_etl_data_pipeline_spark.queries import _limb as l

    return l(c)


# ---------------------------------------------------------------------------
# Time-series / finance
# ---------------------------------------------------------------------------


@query
def q_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ daily volume-weighted average price: Σ(extendedprice) /
    Σ(quantity) per ship day in exact integers (floor-cents revenue,
    integral quantities), one correctly-rounded int64÷int64 division at
    the end — the canonical finance rollup every OHLC/backtest feed
    starts from.  One map-side-combinable day-keyed aggregate;
    calendar-bounded output.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(F.to_date("l_shipdate").alias("day"))
        .agg(
            F.sum(F.expr("cast(floor(l_extendedprice * 100) as bigint)"))
            .cast("bigint")
            .alias("price_cents"),
            F.sum(F.expr("cast(floor(l_quantity) as bigint)"))
            .cast("bigint")
            .alias("qty"),
        )
        .select(
            "day",
            "price_cents",
            "qty",
            (F.col("price_cents").cast("double") / F.col("qty").cast("double"))
            .alias("vwap_cents"),
        )
    )


oracle("q_vwap", """
    SELECT CAST(l_shipdate AS DATE) AS day,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents,
           CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS DOUBLE)
             AS vwap_cents
    FROM lineitem GROUP BY day
""")


@query
def q_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ turning-point test for serial randomness: count strict
    local maxima/minima of the daily-revenue series against the i.i.d.
    expectation 2(n−2)/3 (Kendall's classic randomness screen — a
    cheap pre-gate before the heavier Mann-Kendall/runs machinery).
    Counts are exact integers over lag/lead windows; the expectation is
    one exact division.  Calendar-bounded frame: the window runs over
    ≤ a few thousand days regardless of SF.
    """
    from loan_etl_data_pipeline_spark.queries import _daily_cents
    from pyspark.sql import Window

    w = Window.orderBy("day")
    d = (
        _daily_cents(spark, sf_dir)
        .withColumn("prev", F.lag("cents").over(w))
        .withColumn("nxt", F.lead("cents").over(w))
        .filter(F.col("prev").isNotNull() & F.col("nxt").isNotNull())
    )
    return d.agg(
        (F.count(F.lit(1)) + 2).cast("bigint").alias("n_days"),
        F.sum(
            ((F.col("cents") > F.col("prev")) & (F.col("cents") > F.col("nxt")))
            .cast("bigint")
        ).cast("bigint").alias("n_peaks"),
        F.sum(
            ((F.col("cents") < F.col("prev")) & (F.col("cents") < F.col("nxt")))
            .cast("bigint")
        ).cast("bigint").alias("n_troughs"),
    ).select(
        "n_days",
        "n_peaks",
        "n_troughs",
        (F.col("n_peaks") + F.col("n_troughs")).cast("bigint").alias("n_turning"),
        (
            F.lit(2.0) * (F.col("n_days") - 2).cast("double") / F.lit(3.0)
        ).alias("expected_turning"),
    )


oracle("q_turning_points", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY day
    ), lagged AS (
        SELECT cents,
               lag(cents) OVER (ORDER BY day) AS prev,
               lead(cents) OVER (ORDER BY day) AS nxt
        FROM daily
    ), mid AS (
        SELECT * FROM lagged WHERE prev IS NOT NULL AND nxt IS NOT NULL
    ), agg AS (
        SELECT CAST(count(*) + 2 AS BIGINT) AS n_days,
               CAST(sum(CASE WHEN cents > prev AND cents > nxt
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_peaks,
               CAST(sum(CASE WHEN cents < prev AND cents < nxt
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_troughs
        FROM mid
    )
    SELECT n_days, n_peaks, n_troughs,
           CAST(n_peaks + n_troughs AS BIGINT) AS n_turning,
           2.0 * CAST(n_days - 2 AS DOUBLE) / 3.0 AS expected_turning
    FROM agg
""")


@query
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Page–Hinkley change detection over daily revenue: the
    cumulative deviation-from-running-mean path m_t = Σ_{i≤t}
    (x_i − μ_i), its range max−min (the PH alarm statistic), and the
    day the path peaks.  Each deviation is quantized EXACTLY as
    (i·x_i − S_i) div i — integer products and truncating division,
    which Spark's ``div`` and DuckDB's ``//`` agree on — so the path is
    an exact int64 cumsum (quotients are ratio-bounded by x_max, and
    the cumsum by n_days·x_max ≈ 2.4e17 at 100 TB: inside int64, per
    the SCALE.md §8 ratio-bound exemption).  Calendar-bounded windows.
    """
    from loan_etl_data_pipeline_spark.queries import _daily_cents
    from pyspark.sql import Window

    w = Window.orderBy("day")
    wall = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    d = (
        _daily_cents(spark, sf_dir)
        .withColumn("i", F.row_number().over(w).cast("bigint"))
        .withColumn("s", F.sum("cents").over(wall))
        .withColumn("dev_q", F.expr("(i * cents - s) div i"))
        .withColumn("m", F.sum("dev_q").over(wall))
    )
    mx = d.agg(F.max("m").alias("m_max"), F.min("m").alias("m_min"),
               F.count(F.lit(1)).cast("bigint").alias("n_days"))
    peak = (
        d.join(F.broadcast(mx.select("m_max")), F.col("m") == F.col("m_max"))
        .agg(F.min("day").alias("peak_day"))
    )
    return mx.crossJoin(F.broadcast(peak)).select(
        "n_days",
        (F.col("m_max") - F.col("m_min")).cast("bigint").alias("ph_range"),
        "peak_day",
    )


oracle("q_page_hinkley", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY day
    ), path AS (
        SELECT day, cents,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
               sum(cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
        FROM daily
    ), dev AS (
        SELECT day, (i * cents - s) // i AS dev_q FROM path
    ), m AS (
        SELECT day, sum(dev_q) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        FROM dev
    ), agg AS (
        SELECT max(m) AS m_max, min(m) AS m_min,
               CAST(count(*) AS BIGINT) AS n_days
        FROM m
    )
    SELECT agg.n_days, CAST(agg.m_max - agg.m_min AS BIGINT) AS ph_range,
           (SELECT min(day) FROM m, agg a2 WHERE m.m = a2.m_max) AS peak_day
    FROM agg
""")


# ---------------------------------------------------------------------------
# Effect sizes / nonparametrics
# ---------------------------------------------------------------------------


@query
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Cliff's delta ordinal effect size between returned ('R')
    and accepted ('A') line items on exact price cents: δ = (#(x>y) −
    #(x<y)) / (m·n), the robust complement of q_cohens_d.  NOT the
    all-pairs join: both groups collapse to value histograms and the
    greater/less counts assemble from one ordered cumulative sweep over
    distinct values (the dominance-count identity), so the plan is two
    aggregates + one window over ≤ distinct-price rows — the sweep frame
    is DISTINCT-VALUE-bounded (cents collide heavily), not row-bounded;
    if a 100× value domain ever outgrew one window partition, the
    standard rewrite is the two-pass partial-sum cumsum (per-range
    subtotals broadcast back), same answer.  The gt/lt
    masses can pass int64 at 100 TB (bounded by m·n), so they
    accumulate through the _dec19 decimal(38,0) ladder and emit via the
    2^32 limb split.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("v"),
    )
    hist = (
        li.filter(F.col("l_returnflag").isin("R", "A"))
        .groupBy("v")
        .agg(
            F.sum((F.col("l_returnflag") == "R").cast("bigint")).alias("na"),
            F.sum((F.col("l_returnflag") == "A").cast("bigint")).alias("nb"),
        )
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    swept = (
        hist.withColumn("cumb_lt", F.coalesce(F.sum("nb").over(w), F.lit(0)))
        .withColumn("tb", F.sum("nb").over(Window.partitionBy()))
        .withColumn("cumb_gt", F.col("tb") - F.col("cumb_lt") - F.col("nb"))
    )
    agg = swept.agg(
        F.sum("na").cast("bigint").alias("n_r"),
        F.sum("nb").cast("bigint").alias("n_a"),
        F.sum(_dec19("na") * _dec19("cumb_lt")).cast("decimal(38,0)").alias("gt"),
        F.sum(_dec19("na") * _dec19("cumb_gt")).cast("decimal(38,0)").alias("lt"),
    )
    return agg.select(
        "n_r",
        "n_a",
        _limb("gt").alias("d_gt"),
        _limb("lt").alias("d_lt"),
        (
            (_limb("gt") - _limb("lt"))
            / (F.col("n_r").cast("double") * F.col("n_a").cast("double"))
        ).alias("cliffs_delta"),
    )


oracle("q_cliffs_delta", f"""
    WITH li AS (
        SELECT l_returnflag AS f,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), hist AS (
        SELECT v,
               sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS na,
               sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS nb
        FROM li GROUP BY v
    ), swept AS (
        SELECT v, na, nb,
               COALESCE(sum(nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cumb_lt,
               sum(nb) OVER () AS tb
        FROM hist
    ), agg AS (
        SELECT CAST(sum(na) AS BIGINT) AS n_r,
               CAST(sum(nb) AS BIGINT) AS n_a,
               sum(CAST(na AS HUGEINT) * cumb_lt) AS gt,
               sum(CAST(na AS HUGEINT) * (tb - cumb_lt - nb)) AS lt
        FROM swept
    )
    SELECT n_r, n_a,
           {_limb_sql('gt')} AS d_gt,
           {_limb_sql('lt')} AS d_lt,
           (({_limb_sql('gt')}) - ({_limb_sql('lt')}))
             / (CAST(n_r AS DOUBLE) * CAST(n_a AS DOUBLE)) AS cliffs_delta
    FROM agg
""")


@query
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Cohen's d effect size between returned ('R') and accepted
    ('A') line-item prices: the parametric twin of q_cliffs_delta.
    All five moments per group are exact (counts, floor-cent sums,
    squared sums through the _dec19 decimal ladder); d = (m̄₁−m̄₂)/s_p
    is then one fixed IEEE sequence over limb-split doubles — the
    q_price_trend portability stance.  One map-side-combinable
    aggregate over the fact scan.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("v"),
    ).filter(F.col("l_returnflag").isin("R", "A"))
    m = li.agg(
        F.sum((F.col("l_returnflag") == "R").cast("bigint")).alias("n1"),
        F.sum((F.col("l_returnflag") == "A").cast("bigint")).alias("n2"),
        F.sum(F.when(F.col("l_returnflag") == "R", F.col("v")).otherwise(F.lit(0)))
        .cast("bigint").alias("s1"),
        F.sum(F.when(F.col("l_returnflag") == "A", F.col("v")).otherwise(F.lit(0)))
        .cast("bigint").alias("s2"),
        F.sum(F.when(F.col("l_returnflag") == "R",
                     _dec19("v") * _dec19("v")).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("ss1"),
        F.sum(F.when(F.col("l_returnflag") == "A",
                     _dec19("v") * _dec19("v")).otherwise(F.lit(0).cast("decimal(38,0)")))
        .cast("decimal(38,0)").alias("ss2"),
    )
    dn1 = F.col("n1").cast("double")
    dn2 = F.col("n2").cast("double")
    ds1 = F.col("s1").cast("double")
    ds2 = F.col("s2").cast("double")
    dss1 = _limb("ss1")
    dss2 = _limb("ss2")
    pooled = (
        (dn1 * dss1 - ds1 * ds1) / dn1 + (dn2 * dss2 - ds2 * ds2) / dn2
    ) / (dn1 + dn2 - F.lit(2.0))
    return m.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        ((ds1 / dn1 - ds2 / dn2) / F.sqrt(pooled)).alias("cohens_d"),
    )


oracle("q_cohens_d", f"""
    WITH li AS (
        SELECT l_returnflag AS f,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ), m AS (
        SELECT CAST(sum(CASE WHEN f = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN f = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN f = 'R' THEN v ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN f = 'A' THEN v ELSE 0 END) AS BIGINT) AS s2,
               sum(CASE WHEN f = 'R' THEN CAST(v AS HUGEINT) * v
                        ELSE CAST(0 AS HUGEINT) END) AS ss1,
               sum(CASE WHEN f = 'A' THEN CAST(v AS HUGEINT) * v
                        ELSE CAST(0 AS HUGEINT) END) AS ss2
        FROM li
    )
    SELECT n1, n2,
           ((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
             - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE))
            / sqrt(((CAST(n1 AS DOUBLE) * ({_limb_sql('ss1')})
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
                      / CAST(n1 AS DOUBLE)
                    + (CAST(n2 AS DOUBLE) * ({_limb_sql('ss2')})
                       - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
                      / CAST(n2 AS DOUBLE))
                   / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 2.0)))
             AS cohens_d
    FROM m
""")


def _priority_price_quintiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(r1, r2) per order: priority class 1..5 and the price quintile.

    The quintile is the DISTRIBUTED ntile construction — global_rank
    (range-partition + broadcast offsets, functions/ranking.py) +
    ntile_from_rank's exact ceil-first-buckets arithmetic — which
    assigns the identical tile as ``ntile(5) OVER (ORDER BY cents,
    orderkey)`` without the Exchange SinglePartition a bare global
    window compiles to (the q_rfm_segments discipline; orders are
    SF-proportional, so a single-partition sort is a non-starter).
    """
    from loan_etl_data_pipeline_spark.functions.ranking import (
        global_rank,
        ntile_from_rank,
    )

    o = load_table(spark, sf_dir, "orders").select(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("r1"),
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("__c"),
        F.col("o_orderkey").alias("__k"),
    )
    ranked = global_rank(
        o, [F.asc("__c"), F.asc("__k")], rank_col="__rk", total_col="__n"
    )
    return ranked.select(
        "r1",
        ntile_from_rank(F.col("__rk"), F.col("__n"), 5).alias("r2"),
    )


@query
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ quadratic-weighted Cohen's kappa between two ordinal
    "raters" of an order: its priority class (1..5) and its price
    quintile (exact cents, orderkey tie-break — the distributed
    global_rank + ntile_from_rank cut of _priority_price_quintiles,
    tile-identical to SQL NTILE's ceil-first-buckets rule but with no
    single-partition Exchange).  With disagreement weights
    w_ij = (i−j)², κ_w = 1 − N·Σw·O_ij / Σw·R_iC_j
    is an exact rational: observed and marginal products run through
    the _dec19 decimal ladder (R_i·C_j ≤ N² passes int64 at 100 TB)
    and the one division happens on limb-split doubles.  The ordinal
    upgrade of q_cohen_kappa.
    """
    o = _priority_price_quintiles(spark, sf_dir)
    cells = o.groupBy("r1", "r2").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    rows_m = cells.groupBy("r1").agg(F.sum("o").alias("ri"))
    cols_m = cells.groupBy("r2").agg(F.sum("o").alias("cj"))
    n = cells.agg(F.sum("o").cast("bigint").alias("n"))
    obs = cells.agg(
        F.sum(
            _dec19((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
            * _dec19("o")
        )
        .cast("decimal(38,0)")
        .alias("wo")
    )
    exp = (
        # explicit broadcast: both sides are ≤5-row aggregates, but the
        # cached rank upstream (opt r8) leaves the planner without a
        # size estimate and it would fall back to CartesianProductExec
        rows_m.crossJoin(F.broadcast(cols_m))
        .agg(
            F.sum(
                _dec19((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2")))
                * (_dec19("ri") * _dec19("cj")).cast("decimal(38,0)")
            )
            .cast("decimal(38,0)")
            .alias("we")
        )
    )
    return (
        n.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(exp))
        .select(
            "n",
            (
                F.lit(1.0)
                - F.col("n").cast("double") * _limb("wo") / _limb("we")
            ).alias("weighted_kappa"),
        )
    )


oracle("q_weighted_kappa", f"""
    WITH o AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS r1,
               CAST(ntile(5) OVER (ORDER BY
                   CAST(floor(o_totalprice * 100) AS BIGINT), o_orderkey)
                 AS BIGINT) AS r2
        FROM orders
    ), cells AS (
        SELECT r1, r2, CAST(count(*) AS BIGINT) AS o FROM o GROUP BY r1, r2
    ), n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
    obs AS (
        SELECT sum(CAST((r1 - r2) * (r1 - r2) AS HUGEINT) * o) AS wo
        FROM cells
    ), rm AS (SELECT r1, sum(o) AS ri FROM cells GROUP BY r1),
    cm AS (SELECT r2, sum(o) AS cj FROM cells GROUP BY r2),
    expct AS (
        SELECT sum(CAST((rm.r1 - cm.r2) * (rm.r1 - cm.r2) AS HUGEINT)
                   * CAST(ri AS HUGEINT) * cj) AS we
        FROM rm CROSS JOIN cm
    )
    SELECT n.n,
           1.0 - CAST(n.n AS DOUBLE) * ({_limb_sql('wo')})
                 / ({_limb_sql('we')}) AS weighted_kappa
    FROM n, obs, expct
""")


@query
def q_gk_gamma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Goodman–Kruskal gamma between order priority (1..5) and
    line-item quantity — ordinal association from concordant vs
    discordant pairs, γ = (C−D)/(C+D).  The GROUP-LATTICE form: both
    variables are low-cardinality, so C and D assemble from the ≤250
    contingency cells joined against their strict upper-right /
    lower-right quadrant partners — O(cells²), never the O(rows²) pair
    join.  Cell products pass int64 at 100 TB, so they accumulate
    through the _dec19 ladder and emit via limbs.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr("cast(floor(l_quantity) as bigint)").alias("y")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("x"),
    )
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("o").alias("o1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("o").alias("o2")
    )
    pairs = a.join(F.broadcast(b), F.col("x2") > F.col("x1"))
    agg = pairs.agg(
        F.sum(
            F.when(F.col("y2") > F.col("y1"), _dec19("o1") * _dec19("o2"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("c"),
        F.sum(
            F.when(F.col("y2") < F.col("y1"), _dec19("o1") * _dec19("o2"))
            .otherwise(F.lit(0).cast("decimal(38,0)"))
        ).cast("decimal(38,0)").alias("d"),
    )
    return agg.select(
        _limb("c").alias("concordant"),
        _limb("d").alias("discordant"),
        ((_limb("c") - _limb("d")) / (_limb("c") + _limb("d"))).alias("gamma"),
    )


oracle("q_gk_gamma", f"""
    WITH cells AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
               CAST(floor(l_quantity) AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS o
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY x, y
    ), agg AS (
        SELECT sum(CASE WHEN b.y > a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS c,
               sum(CASE WHEN b.y < a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS d
        FROM cells a JOIN cells b ON b.x > a.x
    )
    SELECT {_limb_sql('c')} AS concordant,
           {_limb_sql('d')} AS discordant,
           (({_limb_sql('c')}) - ({_limb_sql('d')}))
             / (({_limb_sql('c')}) + ({_limb_sql('d')})) AS gamma
    FROM agg
""")


@query
def q_tvd_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+ total-variation drift between the weekday and weekend
    event-type mixes: TVD = ½ Σ_i |p_i − q_i| — the exact companion to
    q_psi/q_source_drift for THE question "did the traffic mix shift?".
    Exactness device: |p−q| over common denominator N·M makes the
    numerator Σ|M·wd_i − N·we_i| an exact integer (through the _dec19
    ladder; products pass int64 at 100 TB), and ISO day-of-week is
    pinned cross-engine (Spark weekday()+1 == DuckDB isodow).  One
    conditional aggregate per type + one 1-row reduce.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "event_type",
            (F.expr("weekday(ts)") >= F.lit(5)).alias("is_we"),
        )
    )
    per = ev.groupBy("event_type").agg(
        F.sum((~F.col("is_we")).cast("bigint")).alias("wd"),
        F.sum(F.col("is_we").cast("bigint")).alias("we"),
    )
    tot = per.agg(
        F.sum("wd").cast("bigint").alias("n_wd"),
        F.sum("we").cast("bigint").alias("n_we"),
    )
    agg = per.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.abs(_dec19("n_we") * _dec19("wd") - _dec19("n_wd") * _dec19("we"))
        ).cast("decimal(38,0)").alias("num"),
        F.max("n_wd").alias("n_weekday"),
        F.max("n_we").alias("n_weekend"),
    )
    return agg.select(
        F.col("n_weekday").cast("bigint").alias("n_weekday"),
        F.col("n_weekend").cast("bigint").alias("n_weekend"),
        (
            _limb("num")
            / (
                F.lit(2.0)
                * F.col("n_weekday").cast("double")
                * F.col("n_weekend").cast("double")
            )
        ).alias("tvd"),
    )


oracle("q_tvd_weekend", f"""
    WITH ev AS (
        SELECT event_type,
               CASE WHEN date_part('isodow', ts) >= 6 THEN 1 ELSE 0 END AS is_we
        FROM events WHERE event_type IS NOT NULL
    ), per AS (
        SELECT event_type,
               CAST(sum(1 - is_we) AS BIGINT) AS wd,
               CAST(sum(is_we) AS BIGINT) AS we
        FROM ev GROUP BY event_type
    ), tot AS (
        SELECT CAST(sum(wd) AS BIGINT) AS n_wd,
               CAST(sum(we) AS BIGINT) AS n_we
        FROM per
    ), agg AS (
        SELECT sum(abs(CAST(n_we AS HUGEINT) * wd
                       - CAST(n_wd AS HUGEINT) * we)) AS num,
               max(n_wd) AS n_weekday, max(n_we) AS n_weekend
        FROM per, tot
    )
    SELECT CAST(n_weekday AS BIGINT) AS n_weekday,
           CAST(n_weekend AS BIGINT) AS n_weekend,
           ({_limb_sql('num')})
             / (2.0 * CAST(n_weekday AS DOUBLE) * CAST(n_weekend AS DOUBLE))
             AS tvd
    FROM agg
""")


@query
def q_bhattacharyya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+ Bhattacharyya coefficient between the URGENT and LOW price
    histograms ($5000 buckets over exact cents): BC = Σ √(p_i q_i), the
    overlap measure behind Hellinger/Mahalanobis-style drift gates.
    Portability: per-bin √((n_i·m_i)/(N·M)) is a fixed IEEE sequence
    (int64→double conversions are correctly rounded, sqrt is exactly
    rounded) but SUMMING doubles is order-sensitive — so each bin
    quantizes to floor(1e9·√·) FIRST and the sum runs over exact
    integers, per the SCALE.md quantize-then-sum rule.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("cast(floor(o_totalprice * 100) as bigint) div 500000").alias("b"),
    )
    per = (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .groupBy("b")
        .agg(
            F.sum((F.col("o_orderpriority") == "1-URGENT").cast("bigint")).alias("ni"),
            F.sum((F.col("o_orderpriority") == "5-LOW").cast("bigint")).alias("mi"),
        )
    )
    tot = per.agg(
        F.sum("ni").cast("bigint").alias("n"),
        F.sum("mi").cast("bigint").alias("m"),
    )
    agg = per.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.sum(
            F.floor(
                F.lit(1.0e9)
                * F.sqrt(
                    (F.col("ni").cast("double") * F.col("mi").cast("double"))
                    / (F.col("n").cast("double") * F.col("m").cast("double"))
                )
            ).cast("bigint")
        ).cast("bigint").alias("bc_q"),
    )
    return agg.select(
        "n_bins", "bc_q", (F.col("bc_q").cast("double") / F.lit(1.0e9)).alias("bc")
    )


oracle("q_bhattacharyya", """
    WITH o AS (
        SELECT o_orderpriority AS p,
               CAST(floor(o_totalprice * 100) AS BIGINT) // 500000 AS b
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ), per AS (
        SELECT b,
               CAST(sum(CASE WHEN p = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS ni,
               CAST(sum(CASE WHEN p = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS mi
        FROM o GROUP BY b
    ), tot AS (
        SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(sum(mi) AS BIGINT) AS m
        FROM per
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_bins,
               CAST(sum(CAST(floor(1.0e9 * sqrt(
                   (CAST(ni AS DOUBLE) * CAST(mi AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(m AS DOUBLE))
               )) AS BIGINT)) AS BIGINT) AS bc_q
        FROM per, tot
    )
    SELECT n_bins, bc_q, CAST(bc_q AS DOUBLE) / 1.0e9 AS bc FROM agg
""")


@query
def q_poisson_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+ dispersion index (variance-to-mean ratio) of daily event
    counts per event type — the Poisson-ness screen that decides
    whether a rate alert can assume var≈mean or must model burstiness
    (the aggregate twin of q_burstiness).  Daily counts are exact; the
    index D = (n·Σx² − (Σx)²) / ((n−1)·Σx) keeps its numerator in the
    _dec19 decimal ladder (Σx² passes int64 at 100 TB) and divides on
    limb-split doubles.  Calendar-bounded group sizes.  Dispersion is
    undefined for a single observed day (n−1 = 0 would raise
    DIVIDE_BY_ZERO under this engine's ANSI sessions while the oracle
    NULLs), so both engines HAVING-filter n_days ≥ 2 — the q_sign_test
    degenerate-group pattern.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull())
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(_dec19("x") * _dec19("x")).cast("decimal(38,0)").alias("sxx"),
    ).filter(F.col("n_days") >= 2)
    nd = F.col("n_days").cast("double")
    dsx = F.col("sx").cast("double")
    return m.select(
        "event_type",
        "n_days",
        (
            (nd * _limb("sxx") - dsx * dsx) / ((nd - F.lit(1.0)) * dsx)
        ).alias("dispersion"),
    ).orderBy("event_type")


oracle("q_poisson_dispersion", f"""
    WITH ev AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS x
        FROM events WHERE event_type IS NOT NULL
        GROUP BY event_type, day
    ), m AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(x) AS BIGINT) AS sx,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM ev GROUP BY event_type
        HAVING count(*) >= 2
    )
    SELECT event_type, n_days,
           (CAST(n_days AS DOUBLE) * ({_limb_sql('sxx')})
            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           / ((CAST(n_days AS DOUBLE) - 1.0) * CAST(sx AS DOUBLE))
             AS dispersion
    FROM m ORDER BY event_type
""")


@query
def q_kish_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.9+ Kish effective sample size of price-weighted order samples
    per priority class: ESS = (Σw)²/Σw² — the design-effect diagnostic
    every weighted estimator (q_ht_estimate, q_pps_systematic) should
    report next to its point estimate, since a skewed weight column can
    silently collapse a million-row sample to a few hundred effective
    rows.  Weights are exact floor-cents; (Σw)² and Σw² run through the
    _dec19 decimal ladder and the one division happens on limb-split
    doubles.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.expr("cast(floor(o_totalprice * 100) as bigint)").alias("w"),
    )
    m = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(_dec19("w") * _dec19("w")).cast("decimal(38,0)").alias("sww"),
    )
    return m.select(
        "o_orderpriority",
        "n",
        (
            (F.col("sw").cast("double") * F.col("sw").cast("double"))
            / _limb("sww")
        ).alias("ess"),
    ).orderBy("o_orderpriority")


oracle("q_kish_ess", f"""
    WITH m AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS sw,
               sum(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS HUGEINT)
                   * CAST(floor(o_totalprice * 100) AS BIGINT)) AS sww
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n,
           (CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)) / ({_limb_sql('sww')})
             AS ess
    FROM m ORDER BY o_orderpriority
""")


@query
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8+ l-diversity audit — the governance gate k-anonymity misses:
    an equivalence class can hold plenty of rows yet expose everyone if
    the SENSITIVE attribute barely varies inside it.  Quasi-identifier
    = (nation, market segment); sensitive = account balance in exact
    $1000 bands (floor-cents div 100000, so the banding is integral and
    engine-identical).  Emits every class with its size, distinct-
    sensitive count l, and the l<3 exposure flag — the companion row
    set q_kanon_audit suppresses from.  Two map-side-combinable
    aggregates; class count is dimension-bounded.
    """
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nk"),
        "c_mktsegment",
        F.expr("cast(floor(c_acctbal * 100) as bigint) div 100000").alias("band"),
    )
    return (
        c.groupBy("nk", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("band").cast("bigint").alias("l"),
        )
        .select("nk", "c_mktsegment", "n", "l", (F.col("l") < 3).alias("weak"))
    )


oracle("q_l_diversity", """
    SELECT CAST(c_nationkey AS BIGINT) AS nk, c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT
               CAST(floor(c_acctbal * 100) AS BIGINT) // 100000) AS BIGINT)
             AS l,
           CAST(count(DISTINCT
               CAST(floor(c_acctbal * 100) AS BIGINT) // 100000) AS BIGINT) < 3
             AS weak
    FROM customer GROUP BY nk, c_mktsegment
""")


# ---------------------------------------------------------------------------
# Spatial autocorrelation (the q_grid_density coordinate scheme)
# ---------------------------------------------------------------------------

# Shared 16×16 lattice of customer-point counts: coordinates are the
# deterministic md5 48-bit uniforms of q_dbscan/q_grid_density, cells
# are the top 4 bits per axis (div 2^44), and EVERY lattice cell is
# materialized (zero-filled) so the adjacency structure is a constant
# of the grid, not of the data.
_CELL_GRID = 16
_CELL_STEP = 2**44  # 2^48 coordinate space / 16 cells


def _lattice_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from loan_etl_data_pipeline_spark.functions.splits import md5_coord48

    cust = load_table(spark, sf_dir, "customer")
    occ = (
        cust.select(
            md5_coord48("c_custkey", "gx").alias("gx"),
            md5_coord48("c_custkey", "gy").alias("gy"),
        )
        .select(
            F.expr(f"gx div {_CELL_STEP}").alias("cx"),
            F.expr(f"gy div {_CELL_STEP}").alias("cy"),
        )
        .groupBy("cx", "cy")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    axis = spark.range(_CELL_GRID).select(F.col("id").alias("v"))
    lattice = axis.select(F.col("v").alias("cx")).crossJoin(
        axis.select(F.col("v").alias("cy"))
    )
    return lattice.join(occ, ["cx", "cy"], "left").select(
        "cx", "cy", F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("c")
    )


_LATTICE_SQL = """
    occ AS (
        SELECT ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'gx'), 1, 12))::BIGINT
                 // 17592186044416 AS cx,
               ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || 'gy'), 1, 12))::BIGINT
                 // 17592186044416 AS cy,
               CAST(count(*) AS BIGINT) AS c
        FROM customer GROUP BY cx, cy
    ), lattice AS (
        SELECT a.i AS cx, b.i AS cy FROM range(16) a(i) CROSS JOIN range(16) b(i)
    ), cells AS (
        SELECT lattice.cx, lattice.cy,
               COALESCE(occ.c, 0) AS c
        FROM lattice LEFT JOIN occ
          ON occ.cx = lattice.cx AND occ.cy = lattice.cy
    )
"""


@query
def q_moran_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+ Moran's I spatial autocorrelation of customer-point density
    over the 16×16 rook-adjacency lattice: are dense cells next to
    dense cells (clustering the grid join should exploit) or is
    occupancy spatially random?  The inferential companion to
    q_grid_density's marginal histogram.  Exactness: with z'_i =
    n·c_i − S (the n-scaled centered count, integral by construction;
    the n² factors cancel in the ratio), both Σ w_ij z'_i z'_j and
    Σ z'² are exact integers through the _dec19 ladder, and
    I = (n/W)·num/den is a fixed IEEE sequence over limb doubles.
    Scale: the lattice is 256 rows regardless of SF — the only
    SF-proportional stage is the customer scan feeding cell counts.
    """
    cells = _lattice_counts(spark, sf_dir)
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    z = cells.crossJoin(F.broadcast(tot)).select(
        "cx", "cy", (F.col("n") * F.col("c") - F.col("s")).alias("z")
    )
    a = z.select(F.col("cx").alias("ax"), F.col("cy").alias("ay"), F.col("z").alias("za"))
    b = z.select(F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("z").alias("zb"))
    adj = a.join(
        F.broadcast(b),
        (F.abs(F.col("ax") - F.col("bx")) + F.abs(F.col("ay") - F.col("by")))
        == F.lit(1),
    )
    num = adj.agg(
        F.sum(_dec19("za") * _dec19("zb")).cast("decimal(38,0)").alias("num"),
        F.count(F.lit(1)).cast("bigint").alias("w_pairs"),
    )
    den = z.agg(F.sum(_dec19("z") * _dec19("z")).cast("decimal(38,0)").alias("den"))
    n = z.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    return (
        n.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            "n_cells",
            "w_pairs",
            (
                (F.col("n_cells").cast("double") / F.col("w_pairs").cast("double"))
                * _limb("num")
                / _limb("den")
            ).alias("moran_i"),
        )
    )


oracle("q_moran_i", f"""
    WITH {_LATTICE_SQL},
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM cells
    ), z AS (
        SELECT cx, cy, n * c - s AS z FROM cells, tot
    ), adj AS (
        SELECT a.z AS za, b.z AS zb
        FROM z a JOIN z b
          ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
    ), num AS (
        SELECT sum(CAST(za AS HUGEINT) * zb) AS num,
               CAST(count(*) AS BIGINT) AS w_pairs
        FROM adj
    ), den AS (
        SELECT sum(CAST(z AS HUGEINT) * z) AS den FROM z
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM z)
    SELECT n_cells, w_pairs,
           (CAST(n_cells AS DOUBLE) / CAST(w_pairs AS DOUBLE))
             * ({_limb_sql('num')}) / ({_limb_sql('den')}) AS moran_i
    FROM nn, num, den
""")


@query
def q_geary_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2+ Geary's C — the local-contrast twin of q_moran_i over the
    same 16×16 rook lattice: C = ((n−1)/(2W))·Σw(z_i−z_j)²/Σz², sensitive
    to adjacent-cell DIFFERENCES where Moran's I measures covariance
    (C<1 ⇔ clustering, C>1 ⇔ dispersion).  Same n-scaled integral
    centering, same _dec19 ladder, same limb emission; the constant
    lattice makes both shuffles broadcast-sized.
    """
    cells = _lattice_counts(spark, sf_dir)
    tot = cells.agg(
        F.sum("c").cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    z = cells.crossJoin(F.broadcast(tot)).select(
        "cx", "cy", (F.col("n") * F.col("c") - F.col("s")).alias("z")
    )
    a = z.select(F.col("cx").alias("ax"), F.col("cy").alias("ay"), F.col("z").alias("za"))
    b = z.select(F.col("cx").alias("bx"), F.col("cy").alias("by"), F.col("z").alias("zb"))
    adj = a.join(
        F.broadcast(b),
        (F.abs(F.col("ax") - F.col("bx")) + F.abs(F.col("ay") - F.col("by")))
        == F.lit(1),
    )
    num = adj.agg(
        F.sum(
            (_dec19("za") - _dec19("zb")) * (_dec19("za") - _dec19("zb"))
        ).cast("decimal(38,0)").alias("num"),
        F.count(F.lit(1)).cast("bigint").alias("w_pairs"),
    )
    den = z.agg(F.sum(_dec19("z") * _dec19("z")).cast("decimal(38,0)").alias("den"))
    n = z.agg(F.count(F.lit(1)).cast("bigint").alias("n_cells"))
    return (
        n.crossJoin(F.broadcast(num))
        .crossJoin(F.broadcast(den))
        .select(
            "n_cells",
            "w_pairs",
            (
                (
                    (F.col("n_cells") - F.lit(1)).cast("double")
                    / (F.lit(2.0) * F.col("w_pairs").cast("double"))
                )
                * _limb("num")
                / _limb("den")
            ).alias("geary_c"),
        )
    )


oracle("q_geary_c", f"""
    WITH {_LATTICE_SQL},
    tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        FROM cells
    ), z AS (
        SELECT cx, cy, n * c - s AS z FROM cells, tot
    ), adj AS (
        SELECT a.z AS za, b.z AS zb
        FROM z a JOIN z b
          ON abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
    ), num AS (
        SELECT sum((CAST(za AS HUGEINT) - zb) * (CAST(za AS HUGEINT) - zb))
                 AS num,
               CAST(count(*) AS BIGINT) AS w_pairs
        FROM adj
    ), den AS (
        SELECT sum(CAST(z AS HUGEINT) * z) AS den FROM z
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n_cells FROM z)
    SELECT n_cells, w_pairs,
           (CAST(n_cells - 1 AS DOUBLE) / (2.0 * CAST(w_pairs AS DOUBLE)))
             * ({_limb_sql('num')}) / ({_limb_sql('den')}) AS geary_c
    FROM nn, num, den
""")


# ---------------------------------------------------------------------------
# Graph: rich club + link prediction
# ---------------------------------------------------------------------------


@query
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ rich-club profile of the co-purchase graph: for each degree
    floor k, the density φ(k) = 2·E_k / (N_k(N_k−1)) among nodes of
    degree > k — do the hubs form their own clique (φ→1) or merely fan
    out (φ→0)?  The structural summary that decides whether hub-removal
    (q_attack_robustness) fragments the graph.  Exact integer counts
    per k; the k ladder is a constant 5-row broadcast, edges join their
    endpoint degrees once.
    """
    from loan_etl_data_pipeline_spark.operators.graph import degrees
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = degrees(edges, "pa", "pb").select(
        "node", F.col("degree").cast("bigint").alias("d")
    )
    ks = spark.range(0, 5).select(
        F.element_at(F.array(F.lit(2), F.lit(3), F.lit(4), F.lit(6), F.lit(8)),
                     (F.col("id") + 1).cast("int")).cast("bigint").alias("k")
    )
    nodes_k = (
        deg.crossJoin(F.broadcast(ks))
        .filter(F.col("d") > F.col("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    )
    e = (
        edges.join(deg.withColumnRenamed("node", "pa").withColumnRenamed("d", "da"), "pa")
        .join(deg.withColumnRenamed("node", "pb").withColumnRenamed("d", "db"), "pb")
    )
    edges_k = (
        e.crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    return (
        ks.join(nodes_k, "k", "left")
        .join(edges_k, "k", "left")
        .select(
            "k",
            F.coalesce("n_nodes", F.lit(0)).cast("bigint").alias("n_nodes"),
            F.coalesce("n_edges", F.lit(0)).cast("bigint").alias("n_edges"),
            F.when(
                F.coalesce("n_nodes", F.lit(0)) >= 2,
                F.lit(2.0)
                * F.coalesce("n_edges", F.lit(0)).cast("double")
                / (
                    F.coalesce("n_nodes", F.lit(0)).cast("double")
                    * (F.coalesce("n_nodes", F.lit(0)) - 1).cast("double")
                ),
            ).alias("phi"),
        )
        .orderBy("k")
    )


oracle("q_rich_club", """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
        ) GROUP BY node
    ), ks AS (SELECT CAST(k AS BIGINT) AS k FROM (VALUES (2),(3),(4),(6),(8)) t(k)),
    nodes_k AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_nodes
        FROM deg CROSS JOIN ks WHERE d > k GROUP BY k
    ), edges_k AS (
        SELECT k, CAST(count(*) AS BIGINT) AS n_edges
        FROM pairs
        JOIN deg da ON da.node = pairs.pa
        JOIN deg db ON db.node = pairs.pb
        CROSS JOIN ks
        WHERE da.d > k AND db.d > k
        GROUP BY k
    )
    SELECT ks.k,
           COALESCE(nodes_k.n_nodes, 0) AS n_nodes,
           COALESCE(edges_k.n_edges, 0) AS n_edges,
           CASE WHEN COALESCE(nodes_k.n_nodes, 0) >= 2
                THEN 2.0 * CAST(COALESCE(edges_k.n_edges, 0) AS DOUBLE)
                     / (CAST(nodes_k.n_nodes AS DOUBLE)
                        * CAST(nodes_k.n_nodes - 1 AS DOUBLE))
           END AS phi
    FROM ks LEFT JOIN nodes_k ON nodes_k.k = ks.k
            LEFT JOIN edges_k ON edges_k.k = ks.k
    ORDER BY ks.k
""")


@query
def q_ra_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ link prediction over the co-purchase graph: for every
    NON-adjacent node pair sharing ≥1 neighbor, the common-neighbor
    count and the resource-allocation index Σ_z 1/deg(z) — the two
    classic "which edge appears next" scores.  RA's irrational per-hub
    weight is quantized as 10^12 div deg(z) (truncating division both
    engines share) so pair scores stay exact integers; top 50 by
    (ra_q, cn, pa, pb) — a total order, so the cut is deterministic.
    Shape: wedge fan-out through each shared neighbor (Σd² bounded by
    the support-2 graph's hub cap), one anti-join against existing
    edges, one TakeOrdered.
    """
    from loan_etl_data_pipeline_spark.operators.graph import degrees
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = degrees(edges, "pa", "pb").select(
        "node", F.col("degree").cast("bigint").alias("d")
    )
    both = edges.select(F.col("pa").alias("z"), F.col("pb").alias("nb")).unionAll(
        edges.select(F.col("pb").alias("z"), F.col("pa").alias("nb"))
    )
    w = both.join(deg.withColumnRenamed("node", "z"), "z")
    a = w.select("z", F.col("nb").alias("u"), "d")
    b = w.select("z", F.col("nb").alias("v"))
    cand = (
        a.join(b, "z")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(F.expr("1000000000000 div d")).cast("bigint").alias("ra_q"),
        )
    )
    non_edges = cand.join(
        edges.select(F.col("pa").alias("u"), F.col("pb").alias("v")),
        ["u", "v"],
        "left_anti",
    )
    return (
        non_edges.select(
            F.col("u").alias("pa"), F.col("v").alias("pb"), "cn", "ra_q"
        )
        .orderBy(F.desc("ra_q"), F.desc("cn"), "pa", "pb")
        .limit(50)
    )


oracle("q_ra_link_prediction", """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
        ) GROUP BY node
    ), dirs AS (
        SELECT pa AS z, pb AS nb FROM pairs
        UNION ALL SELECT pb AS z, pa AS nb FROM pairs
    ), w AS (
        SELECT dirs.z, dirs.nb, deg.d FROM dirs JOIN deg ON deg.node = dirs.z
    ), cand AS (
        SELECT a.nb AS u, b.nb AS v,
               CAST(count(*) AS BIGINT) AS cn,
               CAST(sum(1000000000000 // a.d) AS BIGINT) AS ra_q
        FROM w a JOIN w b ON a.z = b.z AND a.nb < b.nb
        GROUP BY u, v
    ), non_edges AS (
        SELECT cand.* FROM cand
        LEFT JOIN pairs ON pairs.pa = cand.u AND pairs.pb = cand.v
        WHERE pairs.pa IS NULL
    )
    SELECT u AS pa, v AS pb, cn, ra_q
    FROM non_edges
    ORDER BY ra_q DESC, cn DESC, pa, pb
    LIMIT 50
""")


@query
def q_dunn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.6+ Dunn validity index of the nation "clustering" of customer
    balances (1-D, exact cents): min inter-cluster separation over max
    intra-cluster diameter.  The 1-D trick that avoids the all-pairs
    join: after ONE global sort, the minimum cross-cluster distance is
    always realized by an ADJACENT pair (walking from any minimal
    cross pair, some adjacent step crosses clusters with a no-larger
    gap), so adjacency in the sorted order replaces O(n²) distances.
    Diameters are per-group max−min.  All integers until the final
    division.  Customers are SF-proportional, so adjacency comes from
    the distributed global_rank (functions/ranking.py) over DISTINCT
    (v, nk) pairs — a unique key, so the rank is a total order, and
    dedup preserves every cross-cluster adjacent transition (identical
    rows are interchangeable neighbors) — joined on rank = rank+1;
    never a bare global lag window's Exchange SinglePartition.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_rank

    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").cast("bigint").alias("nk"),
        F.expr("cast(floor(c_acctbal * 100) as bigint)").alias("v"),
    )
    diam = (
        c.groupBy("nk")
        .agg((F.max("v") - F.min("v")).alias("diam"))
        .agg(F.max("diam").cast("bigint").alias("max_diam"))
    )
    ranked = global_rank(
        c.distinct(), [F.asc("v"), F.asc("nk")], rank_col="__rk"
    )
    a = ranked.select(
        F.col("__rk").alias("ra"), F.col("v").alias("va"), F.col("nk").alias("ka")
    )
    b = ranked.select(
        (F.col("__rk") - 1).alias("ra"),
        F.col("v").alias("vb"),
        F.col("nk").alias("kb"),
    )
    gaps = (
        a.join(b, "ra")
        .filter(F.col("ka") != F.col("kb"))
        .agg(F.min(F.col("vb") - F.col("va")).cast("bigint").alias("min_inter"))
    )
    return diam.crossJoin(F.broadcast(gaps)).select(
        "min_inter",
        "max_diam",
        (F.col("min_inter").cast("double") / F.col("max_diam").cast("double"))
        .alias("dunn"),
    )


oracle("q_dunn_index", """
    WITH c AS (
        SELECT CAST(c_nationkey AS BIGINT) AS nk,
               CAST(floor(c_acctbal * 100) AS BIGINT) AS v
        FROM customer
    ), diam AS (
        SELECT CAST(max(mx - mn) AS BIGINT) AS max_diam FROM (
            SELECT nk, max(v) AS mx, min(v) AS mn FROM c GROUP BY nk
        )
    ), lagged AS (
        SELECT v, nk,
               lag(v) OVER (ORDER BY v, nk) AS pv,
               lag(nk) OVER (ORDER BY v, nk) AS pk
        FROM c
    ), gaps AS (
        SELECT CAST(min(v - pv) AS BIGINT) AS min_inter
        FROM lagged WHERE pk IS NOT NULL AND pk <> nk
    )
    SELECT min_inter, max_diam,
           CAST(min_inter AS DOUBLE) / CAST(max_diam AS DOUBLE) AS dunn
    FROM diam, gaps
""")


# ---------------------------------------------------------------------------
# Round-7 batch 2: bounded Katz, seasonal MK, Bowker symmetry, Lorenz
# deciles, Ljung-Box portmanteau, XYZ demand classes
# ---------------------------------------------------------------------------


@query
def q_katz_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ hop-bounded Katz centrality on the co-purchase graph:
    64·Σ_{k≤3} β^k·walks_k(v) with β = 1/4 — i.e. the exact integer
    16·w₁ + 4·w₂ + w₃ (the 4³ common denominator), where w_k counts
    length-k walks from v.  The "influence reaches past your
    neighbors" score PageRank approximates with a random surfer; the
    hop bound keeps it closed-form (the full Katz series is the
    iterative operators' job).  Two adjacency⋈aggregate hops compute
    w₂, w₃ from degrees — never materializing walks.  w₃ ≤ deg·max(w₂)
    stays inside int64 on any support-2 graph (the prune caps degrees
    ~√m); top-20 under a total order.
    """
    from loan_etl_data_pipeline_spark.operators.graph import degrees
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    deg = degrees(edges, "pa", "pb").select(
        "node", F.col("degree").cast("bigint").alias("w1")
    )
    adj = edges.select(F.col("pa").alias("u"), F.col("pb").alias("v")).unionAll(
        edges.select(F.col("pb").alias("u"), F.col("pa").alias("v"))
    )
    w2 = (
        adj.join(deg.withColumnRenamed("node", "v"), "v")
        .groupBy("u")
        .agg(F.sum("w1").cast("bigint").alias("w2"))
        .withColumnRenamed("u", "node")
    )
    w3 = (
        adj.join(w2.withColumnRenamed("node", "v"), "v")
        .groupBy("u")
        .agg(F.sum("w2").cast("bigint").alias("w3"))
        .withColumnRenamed("u", "node")
    )
    return (
        deg.join(w2, "node", "left")
        .join(w3, "node", "left")
        .select(
            "node",
            "w1",
            F.coalesce("w2", F.lit(0)).cast("bigint").alias("w2"),
            F.coalesce("w3", F.lit(0)).cast("bigint").alias("w3"),
        )
        .withColumn(
            "katz_q",
            (16 * F.col("w1") + 4 * F.col("w2") + F.col("w3")).cast("bigint"),
        )
        .orderBy(F.desc("katz_q"), "node")
        .limit(20)
    )


oracle("q_katz_bounded", """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS w1 FROM (
            SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
        ) GROUP BY node
    ), adj AS (
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL SELECT pb AS u, pa AS v FROM pairs
    ), w2 AS (
        SELECT adj.u AS node, CAST(sum(deg.w1) AS BIGINT) AS w2
        FROM adj JOIN deg ON deg.node = adj.v GROUP BY adj.u
    ), w3 AS (
        SELECT adj.u AS node, CAST(sum(w2.w2) AS BIGINT) AS w3
        FROM adj JOIN w2 ON w2.node = adj.v GROUP BY adj.u
    )
    SELECT deg.node AS node, deg.w1,
           COALESCE(w2.w2, 0) AS w2, COALESCE(w3.w3, 0) AS w3,
           CAST(16 * deg.w1 + 4 * COALESCE(w2.w2, 0)
                + COALESCE(w3.w3, 0) AS BIGINT) AS katz_q
    FROM deg LEFT JOIN w2 ON w2.node = deg.node
             LEFT JOIN w3 ON w3.node = deg.node
    ORDER BY katz_q DESC, deg.node
    LIMIT 20
""")


@query
def q_mk_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ seasonal Mann–Kendall: the trend statistic S computed
    WITHIN each ISO weekday and summed — the deseasonalized upgrade of
    q_mann_kendall for series with a weekly cycle (a strong Friday
    effect otherwise masquerades as trend).  Per-weekday day counts are
    calendar-bounded (~350 each), so the i<j sign pairs stay ~7×
    smaller than the plain MK join.  Exact integer S per season.
    """
    from loan_etl_data_pipeline_spark.queries import _daily_cents

    d = _daily_cents(spark, sf_dir).select(
        "day", "cents", (F.expr("weekday(day)") + F.lit(1)).alias("dow")
    )
    a = d.select("dow", F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = d.select(
        F.col("dow").alias("dowb"),
        F.col("day").alias("db"),
        F.col("cents").alias("cb"),
    )
    pairs = a.join(
        b, (F.col("dow") == F.col("dowb")) & (F.col("da") < F.col("db"))
    )
    return (
        pairs.groupBy("dow")
        .agg(
            F.sum(
                F.signum((F.col("cb") - F.col("ca")).cast("double")).cast("bigint")
            ).cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
        .orderBy("dow")
    )


oracle("q_mk_seasonal", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY day
    ), d AS (
        SELECT day, cents, CAST(date_part('isodow', day) AS BIGINT) AS dow
        FROM daily
    )
    SELECT a.dow,
           CAST(sum(CASE WHEN b.cents > a.cents THEN 1
                         WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS BIGINT)
             AS s,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM d a JOIN d b ON a.dow = b.dow AND a.day < b.day
    GROUP BY a.dow ORDER BY a.dow
""")


@query
def q_bowker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Bowker symmetry test cells over the priority × price-
    quintile square table (the McNemar generalization): for each i<j,
    the (n_ij − n_ji)² / (n_ij + n_ji) contribution asks whether
    misclassification flows one way.  Emitted PER CELL-PAIR (10 rows)
    with exact integer numerators through the _dec19 ladder — summing
    the double contributions would be order-sensitive, so the consumer
    (or a fixed-order fold) owns the final χ²; each row is exact.
    The quintile is _priority_price_quintiles' distributed
    global_rank + ntile_from_rank cut (tile-identical to SQL NTILE,
    no single-partition Exchange).
    """
    o = _priority_price_quintiles(spark, sf_dir)
    cells = o.groupBy("r1", "r2").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    up = cells.filter(F.col("r1") < F.col("r2")).select(
        F.col("r1").alias("i"), F.col("r2").alias("j"), F.col("n").alias("nij")
    )
    lo = cells.filter(F.col("r1") > F.col("r2")).select(
        F.col("r2").alias("i"), F.col("r1").alias("j"), F.col("n").alias("nji")
    )
    p = up.join(lo, ["i", "j"], "full").select(
        "i",
        "j",
        F.coalesce("nij", F.lit(0)).cast("bigint").alias("nij"),
        F.coalesce("nji", F.lit(0)).cast("bigint").alias("nji"),
    )
    d = (_dec19("nij") - _dec19("nji"))
    p = p.withColumn("d2", (d * d).cast("decimal(38,0)")).withColumn(
        "s", (F.col("nij") + F.col("nji")).cast("bigint")
    )
    return p.select(
        "i",
        "j",
        "nij",
        "nji",
        "s",
        F.when(F.col("s") > 0, _limb("d2") / F.col("s").cast("double")).alias(
            "contrib"
        ),
    ).orderBy("i", "j")


oracle("q_bowker", f"""
    WITH o AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS r1,
               CAST(ntile(5) OVER (ORDER BY
                   CAST(floor(o_totalprice * 100) AS BIGINT), o_orderkey)
                 AS BIGINT) AS r2
        FROM orders
    ), cells AS (
        SELECT r1, r2, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY r1, r2
    ), up AS (
        SELECT r1 AS i, r2 AS j, n AS nij FROM cells WHERE r1 < r2
    ), lo AS (
        SELECT r2 AS i, r1 AS j, n AS nji FROM cells WHERE r1 > r2
    ), p AS (
        SELECT COALESCE(up.i, lo.i) AS i, COALESCE(up.j, lo.j) AS j,
               CAST(COALESCE(nij, 0) AS BIGINT) AS nij,
               CAST(COALESCE(nji, 0) AS BIGINT) AS nji
        FROM up FULL JOIN lo ON up.i = lo.i AND up.j = lo.j
    ), w AS (
        SELECT i, j, nij, nji,
               CAST(nij + nji AS BIGINT) AS s,
               (CAST(nij AS HUGEINT) - nji) * (CAST(nij AS HUGEINT) - nji)
                 AS d2
        FROM p
    )
    SELECT i, j, nij, nji, s,
           CASE WHEN s > 0
                THEN ({_limb_sql('d2')}) / CAST(s AS DOUBLE)
           END AS contrib
    FROM w ORDER BY i, j
""")


@query
def q_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.5+ Lorenz curve of customer revenue concentration in exact
    deciles: decile cut over per-customer totals (custkey tie-break),
    per-decile mass, and the cumulative share — the curve behind
    q_gini_customers' scalar, the table an ABC policy actually reads.
    All cents exact; the only doubles are the 10 share divisions.
    Customers are SF-proportional, so the decile is the distributed
    global_rank + ntile_from_rank cut (tile-identical to NTILE(10),
    no single-partition Exchange); the cumulative/total windows then
    run over the constant 10-row decile aggregate.
    """
    from pyspark.sql import Window

    from loan_etl_data_pipeline_spark.functions.ranking import (
        global_rank,
        ntile_from_rank,
    )

    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("cast(floor(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("cents")
        )
    )
    ranked = global_rank(
        per_cust,
        [F.asc("cents"), F.asc("o_custkey")],
        rank_col="__rk",
        total_col="__n",
    )
    dec = ranked.select(
        "cents",
        ntile_from_rank(F.col("__rk"), F.col("__n"), 10).alias("decile"),
    )
    per_dec = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum("cents").cast("bigint").alias("cents"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    tot = Window.partitionBy()
    return per_dec.select(
        "decile",
        "n_cust",
        "cents",
        (
            F.sum("cents").over(w).cast("double")
            / F.sum("cents").over(tot).cast("double")
        ).alias("cum_share"),
    ).orderBy("decile")


oracle("q_lorenz_deciles", """
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY o_custkey
    ), dec AS (
        SELECT cents,
               CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT)
                 AS decile
        FROM per_cust
    ), per_dec AS (
        SELECT decile, CAST(count(*) AS BIGINT) AS n_cust,
               CAST(sum(cents) AS BIGINT) AS cents
        FROM dec GROUP BY decile
    )
    SELECT decile, n_cust, cents,
           CAST(sum(cents) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(sum(cents) OVER () AS DOUBLE) AS cum_share
    FROM per_dec ORDER BY decile
""")


@query
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Ljung–Box-style portmanteau over the calendar-paired ACF:
    Q = n(n+2)·Σ_{k=1..7} r_k²/m_k with the q_autocorr lags (m_k =
    calendar pairs at lag k — the missing-day-robust analogue of n−k).
    The white-noise omnibus the per-lag ACF table doesn't give you.
    Portability: each r_k is already a fixed IEEE sequence over exact
    moments; the 7-term sum is written as ONE explicit left-to-right
    addition in both engines (never an aggregate over rows, whose
    order would be unspecified).
    """
    from loan_etl_data_pipeline_spark.queries import _daily_cents, q_autocorr

    ac = q_autocorr(spark, sf_dir).select(
        "lag",
        (
            F.col("r") * F.col("r") / F.col("n_pairs").cast("double")
        ).alias("t"),
    )
    terms = ac.agg(
        *[
            F.min(F.when(F.col("lag") == k, F.col("t"))).alias(f"t{k}")
            for k in range(1, 8)
        ]
    )
    n = _daily_cents(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    nd = F.col("n_days").cast("double")
    ssum = (
        (
            (
                (
                    ((F.col("t1") + F.col("t2")) + F.col("t3")) + F.col("t4")
                )
                + F.col("t5")
            )
            + F.col("t6")
        )
        + F.col("t7")
    )
    return n.crossJoin(F.broadcast(terms)).select(
        "n_days",
        F.lit(7).cast("bigint").alias("n_lags"),
        (nd * (nd + F.lit(2.0)) * ssum).alias("q_lb"),
    )


@query
def q_xyz_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.5+ XYZ demand-variability classification — the companion axis
    to q_abc_parts' value ranking: per part, monthly demand quantities
    classify X (cv² ≤ 1/25: steady), Y (cv² ≤ 1/4: seasonal-ish) or Z
    (erratic).  The cv² thresholds are evaluated as EXACT integer
    cross-multiplications through the _dec19 ladder (25·n·(nΣq²−S²)
    vs (n−1)·S² — never a float cv), so the class boundaries are
    engine-identical.  One part×month aggregate, one part aggregate,
    a 3-row result.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_format("l_shipdate", "yyyy-MM").alias("mon"),
        F.expr("cast(floor(l_quantity) as bigint)").alias("q"),
    )
    pm = li.groupBy("l_partkey", "mon").agg(
        F.sum("q").cast("bigint").alias("q")
    )
    m = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(_dec19("q") * _dec19("q")).cast("decimal(38,0)").alias("ss"),
    ).filter((F.col("n") >= 2) & (F.col("s") > 0))
    var_core = (_dec19("n") * F.col("ss") - _dec19("s") * _dec19("s")).cast(
        "decimal(38,0)"
    )
    lhs = (_dec19("n") * var_core).cast("decimal(38,0)")
    rhs = ((_dec19("n") - F.lit(1).cast("decimal(19,0)")) * _dec19("s") * _dec19("s")).cast(
        "decimal(38,0)"
    )
    classed = m.select(
        F.when(lhs * 25 <= rhs, F.lit("X"))
        .when(lhs * 4 <= rhs, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz_class")
    )
    return (
        classed.groupBy("xyz_class")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("xyz_class")
    )


oracle("q_xyz_parts", """
    WITH pm AS (
        SELECT l_partkey, strftime(l_shipdate, '%Y-%m') AS mon,
               CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY l_partkey, mon
    ), m AS (
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(q) AS BIGINT) AS s,
               sum(CAST(q AS HUGEINT) * q) AS ss
        FROM pm GROUP BY l_partkey
        HAVING count(*) >= 2 AND sum(q) > 0
    ), classed AS (
        SELECT CASE
            WHEN 25 * (n * (n * ss - CAST(s AS HUGEINT) * s))
                 <= (n - 1) * CAST(s AS HUGEINT) * s THEN 'X'
            WHEN 4 * (n * (n * ss - CAST(s AS HUGEINT) * s))
                 <= (n - 1) * CAST(s AS HUGEINT) * s THEN 'Y'
            ELSE 'Z' END AS xyz_class
        FROM m
    )
    SELECT xyz_class, CAST(count(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY xyz_class ORDER BY xyz_class
""")


def _ljung_oracle() -> str:
    from loan_etl_data_pipeline_spark.queries import _DAILY_CENTS_SQL

    # textually mirrors the q_autocorr oracle's moment/limb pipeline so
    # the r_k underneath Q are THE certified ACF values
    return f"""
    WITH {_DAILY_CENTS_SQL},
    lags AS (SELECT CAST(i AS INTEGER) AS lag FROM range(1, 8) t(i)),
    paired AS (
        SELECT l.lag, a.cents AS ca, b.cents AS cb
        FROM daily a CROSS JOIN lags l
        JOIN daily b ON b.day = a.day + to_days(l.lag)
    ),
    m AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
               sum(CAST(ca AS HUGEINT)) AS sx,
               sum(CAST(cb AS HUGEINT)) AS sy,
               sum(CAST(ca AS HUGEINT) * cb) AS sxy,
               sum(CAST(ca AS HUGEINT) * ca) AS sxx,
               sum(CAST(cb AS HUGEINT) * cb) AS syy
        FROM paired GROUP BY lag
    ),
    md AS (
        SELECT lag, n_pairs,
               {_limb_sql('sx')} AS dsx, {_limb_sql('sy')} AS dsy,
               {_limb_sql('sxy')} AS dsxy, {_limb_sql('sxx')} AS dsxx,
               {_limb_sql('syy')} AS dsyy
        FROM m
    ),
    ac AS (
        SELECT lag, n_pairs,
               (CAST(n_pairs AS DOUBLE) * dsxy - dsx * dsy)
               / (sqrt(CAST(n_pairs AS DOUBLE) * dsxx - dsx * dsx)
                  * sqrt(CAST(n_pairs AS DOUBLE) * dsyy - dsy * dsy)) AS r
        FROM md
    ),
    t AS (
        SELECT
          min(CASE WHEN lag = 1 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t1,
          min(CASE WHEN lag = 2 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t2,
          min(CASE WHEN lag = 3 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t3,
          min(CASE WHEN lag = 4 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t4,
          min(CASE WHEN lag = 5 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t5,
          min(CASE WHEN lag = 6 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t6,
          min(CASE WHEN lag = 7 THEN r * r / CAST(n_pairs AS DOUBLE) END) AS t7
        FROM ac
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
    SELECT n_days, CAST(7 AS BIGINT) AS n_lags,
           CAST(n_days AS DOUBLE) * (CAST(n_days AS DOUBLE) + 2.0)
             * ((((((t1 + t2) + t3) + t4) + t5) + t6) + t7) AS q_lb
    FROM nn, t
"""


oracle("q_ljung_box", _ljung_oracle())


@query
def q_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Spearman footrule distance between the part revenue
    rankings of the two calendar eras (ship years ≤1997 vs ≥1998):
    Σ|rank₁ − rank₂| over parts in BOTH top-100 lists — the rank-churn
    number a "did the catalog's bestsellers change?" dashboard wants,
    and the L1 companion of q_spearman's ρ.  Ranks are deterministic
    row_numbers (cents desc, partkey tie-break); the distance and its
    n²/2 normalizer are exact integers, one final division.
    Scale: two map-side-combinable part aggregates, each pre-cut to
    its top-100 by a distributed TakeOrderedAndProject (orderBy +
    limit) BEFORE any rank window — the row_number then runs over a
    constant ≤100-row frame, never over part cardinality.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("c"),
        (F.year("l_shipdate") <= F.lit(1997)).alias("era1"),
    )

    def top(era_flag):
        # TakeOrdered top-100 first (distributed per-partition top-k +
        # driver merge); the subsequent rank window sees ≤100 rows, so
        # its single partition is a constant, not an SF-scaling funnel
        cut = (
            li.filter(F.col("era1") == era_flag)
            .groupBy("l_partkey")
            .agg(F.sum("c").cast("bigint").alias("cents"))
            .orderBy(F.desc("cents"), "l_partkey")
            .limit(100)
        )
        w = Window.orderBy(F.desc("cents"), "l_partkey")
        return cut.select(
            "l_partkey", F.row_number().over(w).cast("bigint").alias("r")
        )

    a = top(True).withColumnRenamed("r", "r1")
    b = top(False).withColumnRenamed("r", "r2")
    j = a.join(b, "l_partkey")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.sum(F.abs(F.col("r1") - F.col("r2"))).cast("bigint").alias("footrule"),
    ).select(
        "n_common",
        "footrule",
        (
            F.lit(2.0)
            * F.col("footrule").cast("double")
            / (F.col("n_common").cast("double") * F.col("n_common").cast("double"))
        ).alias("norm_footrule"),
    )


oracle("q_footrule", """
    WITH li AS (
        SELECT l_partkey,
               CAST(floor(l_extendedprice * 100) AS BIGINT) AS c,
               CASE WHEN date_part('year', l_shipdate) <= 1997
                    THEN 1 ELSE 0 END AS era1
        FROM lineitem
    ), t1 AS (
        SELECT l_partkey,
               CAST(row_number() OVER (ORDER BY sum(c) DESC, l_partkey)
                 AS BIGINT) AS r1
        FROM li WHERE era1 = 1 GROUP BY l_partkey
        QUALIFY r1 <= 100
    ), t2 AS (
        SELECT l_partkey,
               CAST(row_number() OVER (ORDER BY sum(c) DESC, l_partkey)
                 AS BIGINT) AS r2
        FROM li WHERE era1 = 0 GROUP BY l_partkey
        QUALIFY r2 <= 100
    ), j AS (
        SELECT r1, r2 FROM t1 JOIN t2 USING (l_partkey)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_common,
           CAST(sum(abs(r1 - r2)) AS BIGINT) AS footrule,
           2.0 * CAST(sum(abs(r1 - r2)) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE))
             AS norm_footrule
    FROM j
""")


@query
def q_holiday_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ holiday revenue lift: average daily revenue on the fixed
    (month, day) holiday set {Jan 1, Jul 4, Dec 25} vs all other days,
    as one exact ratio-of-ratios — the seasonality sanity check every
    promo analysis starts from.  All cents/day counts exact; the lift
    is a fixed IEEE sequence over four int64→double conversions.
    """
    from loan_etl_data_pipeline_spark.queries import _daily_cents

    d = _daily_cents(spark, sf_dir).withColumn(
        "is_hol",
        ((F.month("day") == 1) & (F.dayofmonth("day") == 1))
        | ((F.month("day") == 7) & (F.dayofmonth("day") == 4))
        | ((F.month("day") == 12) & (F.dayofmonth("day") == 25)),
    )
    agg = d.agg(
        F.sum(F.col("is_hol").cast("bigint")).cast("bigint").alias("hol_days"),
        F.sum(F.when(F.col("is_hol"), F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("hol_cents"),
        F.sum((~F.col("is_hol")).cast("bigint")).cast("bigint").alias("other_days"),
        F.sum(F.when(~F.col("is_hol"), F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("other_cents"),
    )
    return agg.select(
        "hol_days",
        "hol_cents",
        "other_days",
        "other_cents",
        (
            (F.col("hol_cents").cast("double") / F.col("hol_days").cast("double"))
            / (
                F.col("other_cents").cast("double")
                / F.col("other_days").cast("double")
            )
        ).alias("lift"),
    )


oracle("q_holiday_lift", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY day
    ), flagged AS (
        SELECT cents,
               CASE WHEN (date_part('month', day) = 1 AND date_part('day', day) = 1)
                      OR (date_part('month', day) = 7 AND date_part('day', day) = 4)
                      OR (date_part('month', day) = 12 AND date_part('day', day) = 25)
                    THEN 1 ELSE 0 END AS is_hol
        FROM daily
    ), agg AS (
        SELECT CAST(sum(is_hol) AS BIGINT) AS hol_days,
               CAST(sum(CASE WHEN is_hol = 1 THEN cents ELSE 0 END) AS BIGINT)
                 AS hol_cents,
               CAST(sum(1 - is_hol) AS BIGINT) AS other_days,
               CAST(sum(CASE WHEN is_hol = 0 THEN cents ELSE 0 END) AS BIGINT)
                 AS other_cents
        FROM flagged
    )
    SELECT hol_days, hol_cents, other_days, other_cents,
           (CAST(hol_cents AS DOUBLE) / CAST(hol_days AS DOUBLE))
             / (CAST(other_cents AS DOUBLE) / CAST(other_days AS DOUBLE))
             AS lift
    FROM agg
""")


@query
def q_cold_start_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.5+ monthly cold-start share: what fraction of each month's
    orders come from customers placing their FIRST-ever order that
    month — the acquisition-vs-retention split q_cohort_retention
    reads by cohort, collapsed to the one number a growth dashboard
    tracks.  First month per customer is one min-aggregate (broadcast
    back); counts exact, one division per month.
    """
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.date_format("o_orderdate", "yyyy-MM").alias("mon")
    )
    first = o.groupBy("o_custkey").agg(F.min("mon").alias("first_mon"))
    j = o.join(first, "o_custkey")
    return (
        j.groupBy("mon")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum((F.col("mon") == F.col("first_mon")).cast("bigint"))
            .cast("bigint")
            .alias("n_new"),
        )
        .select(
            "mon",
            "n_orders",
            "n_new",
            (F.col("n_new").cast("double") / F.col("n_orders").cast("double"))
            .alias("new_rate"),
        )
        .orderBy("mon")
    )


oracle("q_cold_start_rate", """
    WITH o AS (
        SELECT o_custkey, strftime(o_orderdate, '%Y-%m') AS mon FROM orders
    ), first AS (
        SELECT o_custkey, min(mon) AS first_mon FROM o GROUP BY o_custkey
    )
    SELECT o.mon,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN o.mon = first.first_mon THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
           CAST(sum(CASE WHEN o.mon = first.first_mon THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE) AS new_rate
    FROM o JOIN first USING (o_custkey)
    GROUP BY o.mon ORDER BY o.mon
""")


@query
def q_ship_delay_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.3+ fulfillment-delay histogram: days between order and ship
    dates, banded into weeks (delay div 7 — truncating division both
    engines share; delays are non-negative in the data and the band of
    a hypothetical negative would still agree) — the SLA distribution
    behind q_fulfillment_sla's threshold view.  One fact⋈dim join on
    orderkey, one band aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.expr("datediff(l_shipdate, o_orderdate) div 7").cast("bigint")
            .alias("week_band")
        )
        .groupBy("week_band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
        .orderBy("week_band")
    )


oracle("q_ship_delay_bands", """
    SELECT CAST(date_diff('day', o_orderdate, l_shipdate) // 7 AS BIGINT)
             AS week_band,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY week_band ORDER BY week_band
""")


@query
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ paired sign test: per ISO week, is the weekend's AVERAGE
    daily revenue above the weekdays' (the simplest paired location
    test — the distribution-free sibling of q_wilcoxon_signed when
    only the sign is trusted)?  The per-week comparison is an exact
    integer cross-multiplication (we_cents·wd_days vs wd_cents·we_days
    — never a float average), weeks missing either side drop out, and
    the emission is the n⁺/n⁻/ties triple plus the larger tail count
    the binomial table consumes.
    """
    from loan_etl_data_pipeline_spark.queries import _daily_cents

    d = _daily_cents(spark, sf_dir).select(
        "cents",
        F.expr("extract(YEAROFWEEK FROM day) * 100 + extract(WEEK FROM day)")
        .cast("bigint")
        .alias("wk"),
        (F.expr("weekday(day)") >= F.lit(5)).alias("is_we"),
    )
    per = d.groupBy("wk").agg(
        F.sum(F.when(~F.col("is_we"), F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("wd_c"),
        F.sum((~F.col("is_we")).cast("bigint")).cast("bigint").alias("wd_d"),
        F.sum(F.when(F.col("is_we"), F.col("cents")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("we_c"),
        F.sum(F.col("is_we").cast("bigint")).cast("bigint").alias("we_d"),
    ).filter((F.col("wd_d") > 0) & (F.col("we_d") > 0))
    lhs = _dec19("we_c") * _dec19("wd_d")
    rhs = _dec19("wd_c") * _dec19("we_d")
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
        F.sum((lhs > rhs).cast("bigint")).cast("bigint").alias("n_plus"),
        F.sum((lhs < rhs).cast("bigint")).cast("bigint").alias("n_minus"),
        F.sum((lhs == rhs).cast("bigint")).cast("bigint").alias("n_ties"),
    ).select(
        "n_weeks",
        "n_plus",
        "n_minus",
        "n_ties",
        F.greatest("n_plus", "n_minus").cast("bigint").alias("k_tail"),
    )


oracle("q_sign_test", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY day
    ), d AS (
        SELECT cents,
               CAST(date_part('isoyear', day) * 100 + date_part('week', day)
                 AS BIGINT) AS wk,
               CASE WHEN date_part('isodow', day) >= 6 THEN 1 ELSE 0 END
                 AS is_we
        FROM daily
    ), per AS (
        SELECT wk,
               CAST(sum(CASE WHEN is_we = 0 THEN cents ELSE 0 END) AS BIGINT)
                 AS wd_c,
               CAST(sum(1 - is_we) AS BIGINT) AS wd_d,
               CAST(sum(CASE WHEN is_we = 1 THEN cents ELSE 0 END) AS BIGINT)
                 AS we_c,
               CAST(sum(is_we) AS BIGINT) AS we_d
        FROM d GROUP BY wk
        HAVING sum(1 - is_we) > 0 AND sum(is_we) > 0
    ), signs AS (
        SELECT CAST(we_c AS HUGEINT) * wd_d AS lhs,
               CAST(wd_c AS HUGEINT) * we_d AS rhs
        FROM per
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_weeks,
               CAST(sum(CASE WHEN lhs > rhs THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_plus,
               CAST(sum(CASE WHEN lhs < rhs THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_minus,
               CAST(sum(CASE WHEN lhs = rhs THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_ties
        FROM signs
    )
    SELECT n_weeks, n_plus, n_minus, n_ties,
           CAST(greatest(n_plus, n_minus) AS BIGINT) AS k_tail
    FROM agg
""")


@query
def q_yule_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Yule's Q association on the raw URGENT × returned 2×2
    table: Q = (ad−bc)/(ad+bc) — the [-1,1]-normalized odds ratio,
    complementing q_odds_ratio's Haldane-smoothed CI view with the
    classic unsmoothed coefficient.  Cell products pass int64 at
    100 TB (a·d ≤ N²), so ad and bc ride the _dec19 ladder and the
    one division happens on limb doubles.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_returnflag") == "R").alias("ret")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_orderpriority") == "1-URGENT").alias("urg")
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    cells = j.agg(
        F.sum((F.col("urg") & F.col("ret")).cast("bigint")).cast("bigint").alias("a"),
        F.sum((F.col("urg") & ~F.col("ret")).cast("bigint")).cast("bigint").alias("b"),
        F.sum((~F.col("urg") & F.col("ret")).cast("bigint")).cast("bigint").alias("c"),
        F.sum((~F.col("urg") & ~F.col("ret")).cast("bigint")).cast("bigint").alias("d"),
    )
    w = cells.withColumn(
        "ad", (_dec19("a") * _dec19("d")).cast("decimal(38,0)")
    ).withColumn("bc", (_dec19("b") * _dec19("c")).cast("decimal(38,0)"))
    return w.select(
        "a",
        "b",
        "c",
        "d",
        ((_limb("ad") - _limb("bc")) / (_limb("ad") + _limb("bc"))).alias(
            "yule_q"
        ),
    )


oracle("q_yule_q", f"""
    WITH j AS (
        SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS urg,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), cells AS (
        SELECT CAST(sum(urg * ret) AS BIGINT) AS a,
               CAST(sum(urg * (1 - ret)) AS BIGINT) AS b,
               CAST(sum((1 - urg) * ret) AS BIGINT) AS c,
               CAST(sum((1 - urg) * (1 - ret)) AS BIGINT) AS d
        FROM j
    ), w AS (
        SELECT a, b, c, d,
               CAST(a AS HUGEINT) * d AS ad,
               CAST(b AS HUGEINT) * c AS bc
        FROM cells
    )
    SELECT a, b, c, d,
           (({_limb_sql('ad')}) - ({_limb_sql('bc')}))
             / (({_limb_sql('ad')}) + ({_limb_sql('bc')})) AS yule_q
    FROM w
""")
