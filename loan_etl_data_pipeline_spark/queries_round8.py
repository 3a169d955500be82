"""Round-8 additions: sketch-state replays and the widened analytics
battery — each with a value-exact DuckDB oracle.

Portability stance unchanged from queries_round7.py (SCALE.md §8 / the
q_autocorr discipline): exact integer moments through the _dec19
decimal ladder, 2^32-limb-split double emissions, transcendentals
limited to sqrt, md5-conv for any hash-driven draw.

Reference anchor: the reference pipeline's analytics surface is the
insights JSON of pyspark_etl.py:47-58 (count/avg/group-count); this
module is part of the EXT battery SURVEY.md §2 Part B mandates on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loan_etl_data_pipeline_spark.catalog import oracle, query
from loan_etl_data_pipeline_spark.sources.tables import load_table


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


# the q_katz_bounded co-purchase graph, shared by the graph oracles here
_COPURCHASE_SQL = """
    li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    adj AS (
        SELECT pa AS u, pb AS v FROM pairs
        UNION ALL SELECT pb AS u, pa AS v FROM pairs
    )
"""


@query
def q_hyperball_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ HyperBall register-state replay (VERDICT r7 ask #5): the
    EXACT integer register table behind q_hyperball_nf's HLL estimate
    — operators/graph.py hyperball_registers, the same md5 register
    init + register-wise-max edge propagation the sketch runs — folded
    per hop into (register count, Σ 2^(49−val) harmonic units).  The
    registers are deterministic integers (engine-portable md5-conv
    draws), so unlike the float HLL estimate this aggregate replays
    exactly in ANSI SQL: after d rounds node v's register at pos is
    the max init val over ball(v, d) members hashing to pos, and the
    oracle materializes the ≤3-hop balls directly.  A green driver row
    hash-certifies the sketch's whole distributed state pipeline; the
    estimate layer on top stays certified against the exact sibling
    q_neighborhood in tests (rows-only by nature).

    Scale: engine side is the sketch's own bounded-state rounds (two
    keyed shuffles per hop, m=64 registers per node forever); harmonic
    units ≤ n_nodes·64·2^48 < 2^95 at any SF, so the _dec19 ladder +
    limb emission hold.  The ball materialization exists ONLY in the
    certification oracle.
    """
    from loan_etl_data_pipeline_spark.operators.graph import (
        hyperball_registers,
    )
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    regs = hyperball_registers(
        _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False),
        "pa",
        "pb",
        max_hops=3,
        log2m=6,
    )
    return (
        regs.groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_regs"),
            F.sum(_dec19(F.expr("shiftleft(cast(1 as bigint), 49 - val)")))
            .cast("decimal(38,0)")
            .alias("u"),
        )
        .select(
            F.col("hop").cast("bigint").alias("hops"),
            "n_regs",
            _limb("u").alias("harmonic_units"),
        )
        .orderBy("hops")
    )


oracle("q_hyperball_replay", f"""
    WITH {_COPURCHASE_SQL},
    nodes AS (SELECT DISTINCT u AS id FROM adj),
    b0 AS (SELECT id AS node, id AS member FROM nodes),
    b1 AS (SELECT node, member FROM b0
           UNION SELECT a.v, b.member FROM b0 b JOIN adj a ON a.u = b.node),
    b2 AS (SELECT node, member FROM b1
           UNION SELECT a.v, b.member FROM b1 b JOIN adj a ON a.u = b.node),
    b3 AS (SELECT node, member FROM b2
           UNION SELECT a.v, b.member FROM b2 b JOIN adj a ON a.u = b.node),
    balls AS (
        SELECT 0 AS hop, node, member FROM b0
        UNION ALL SELECT 1, node, member FROM b1
        UNION ALL SELECT 2, node, member FROM b2
        UNION ALL SELECT 3, node, member FROM b3
    ), hashed AS (
        SELECT hop, node,
               ('0x' || substr(md5(CAST(member AS VARCHAR) || '|hb_bucket'),
                               1, 12))::BIGINT % 64 AS pos,
               ('0x' || substr(md5(CAST(member AS VARCHAR) || '|hb_rank'),
                               1, 12))::BIGINT AS h
        FROM balls
    ), regs AS (
        SELECT hop, node, pos,
               max(CASE WHEN h = 0 THEN 49
                        ELSE 49 - length(bin(h)) END) AS val
        FROM hashed GROUP BY hop, node, pos
    ), agg AS (
        SELECT hop, CAST(count(*) AS BIGINT) AS n_regs,
               sum(CAST(CAST(1 AS BIGINT) << (49 - val) AS HUGEINT)) AS u
        FROM regs GROUP BY hop
    )
    SELECT CAST(hop AS BIGINT) AS hops, n_regs,
           {_limb_sql('u')} AS harmonic_units
    FROM agg ORDER BY hops
""")


# ---------------------------------------------------------------------------
# Agreement / association batteries over the certified lattices: the
# priority × price-quintile square table (_priority_price_quintiles,
# distributed global_rank cut) and the priority × quantity contingency
# (the q_gk_gamma lattice).  Every statistic is an exact rational —
# integer cross-multiplications through the _dec19 ladder, one final
# division on limb doubles.
# ---------------------------------------------------------------------------


# the oracle-side twin of _priority_price_quintiles: SQL NTILE is
# tile-identical to the engine's global_rank + ntile_from_rank cut
_QUINTILE_SQL = """
    o AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS r1,
               CAST(ntile(5) OVER (ORDER BY
                   CAST(floor(o_totalprice * 100) AS BIGINT), o_orderkey)
                 AS BIGINT) AS r2
        FROM orders
    ),
    cells AS (
        SELECT r1, r2, CAST(count(*) AS BIGINT) AS n FROM o GROUP BY r1, r2
    )
"""


def _square_margins(spark: SparkSession, sf_dir: str):
    """(cells, marg) for the 5×5 priority × price-quintile table:
    cells (r1, r2, n) and per-class m_q = row_q + col_q margins —
    the shared input of the chance-corrected agreement family."""
    from loan_etl_data_pipeline_spark.queries_round7 import (
        _priority_price_quintiles,
    )

    o = _priority_price_quintiles(spark, sf_dir)
    cells = o.groupBy("r1", "r2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    rows = cells.groupBy(F.col("r1").alias("q")).agg(F.sum("n").alias("r"))
    cols = cells.groupBy(F.col("r2").alias("q")).agg(F.sum("n").alias("c"))
    marg = rows.join(cols, "q", "full").select(
        "q",
        (
            F.coalesce("r", F.lit(0)) + F.coalesce("c", F.lit(0))
        ).cast("bigint").alias("m"),
    )
    return cells, marg


@query
def q_scott_pi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Scott's π between order priority and price quintile — the
    chance-corrected agreement with a SHARED marginal model (π_q =
    (row_q + col_q)/2N), the robustness companion to q_cohen_kappa
    (whose p_e uses per-rater margins and so rewards marginal
    imbalance).  Exact rational on the 4N² common denominator:
    π = (4N·D − Σm_q²) / (4N² − Σm_q²) with D the diagonal count —
    integers through the _dec19 ladder (Σm_q² ≤ 4N² passes int64 at
    100 TB), one limb division.  Scale: the quintile is the
    distributed global_rank cut; everything past the fact scan runs
    on the 5×5 lattice.
    """
    cells, marg = _square_margins(spark, sf_dir)
    agg = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.when(F.col("r1") == F.col("r2"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    s2 = marg.agg(
        F.sum(_dec19("m") * _dec19("m")).cast("decimal(38,0)").alias("s2")
    )
    return agg.crossJoin(F.broadcast(s2)).select(
        F.col("nn").alias("n"),
        "d",
        (
            (
                F.lit(4.0) * F.col("nn").cast("double")
                * F.col("d").cast("double")
                - _limb("s2")
            )
            / (
                F.lit(4.0)
                * F.col("nn").cast("double")
                * F.col("nn").cast("double")
                - _limb("s2")
            )
        ).alias("scott_pi"),
    )


oracle("q_scott_pi", f"""
    WITH {_QUINTILE_SQL},
    agg AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(CASE WHEN r1 = r2 THEN n ELSE 0 END) AS BIGINT) AS d
        FROM cells
    ), rows_m AS (
        SELECT r1 AS q, sum(n) AS r FROM cells GROUP BY r1
    ), cols_m AS (
        SELECT r2 AS q, sum(n) AS c FROM cells GROUP BY r2
    ), marg AS (
        SELECT COALESCE(rows_m.q, cols_m.q) AS q,
               CAST(COALESCE(r, 0) + COALESCE(c, 0) AS BIGINT) AS m
        FROM rows_m FULL JOIN cols_m ON rows_m.q = cols_m.q
    ), s2 AS (
        SELECT sum(CAST(m AS HUGEINT) * m) AS s2 FROM marg
    )
    SELECT agg.n, agg.d,
           (4.0 * CAST(agg.n AS DOUBLE) * CAST(agg.d AS DOUBLE)
            - ({_limb_sql('s2.s2')}))
           / (4.0 * CAST(agg.n AS DOUBLE) * CAST(agg.n AS DOUBLE)
              - ({_limb_sql('s2.s2')})) AS scott_pi
    FROM agg, s2
""")


@query
def q_gwet_ac1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Gwet's AC1 between order priority and price quintile — the
    paradox-resistant agreement coefficient (κ and π collapse when one
    class dominates; AC1's chance model e(γ) = Σ π_q(1−π_q)/(K−1)
    does not).  Exact rational on the 16N² common denominator with
    K = 5 classes: AC1 = (16N·D − Σ m_q(2N−m_q)) / (16N² − Σ
    m_q(2N−m_q)), m_q the summed margins — ladder integers, one limb
    division.  Same 5×5-lattice scale shape as q_scott_pi.
    """
    cells, marg = _square_margins(spark, sf_dir)
    agg = cells.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum(F.when(F.col("r1") == F.col("r2"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("d"),
    )
    pe = (
        marg.crossJoin(F.broadcast(agg.select("nn")))
        .agg(
            F.sum(
                _dec19("m")
                * (
                    F.lit(2).cast("decimal(19,0)") * _dec19("nn") - _dec19("m")
                ).cast("decimal(19,0)")
            )
            .cast("decimal(38,0)")
            .alias("pe")
        )
    )
    return agg.crossJoin(F.broadcast(pe)).select(
        F.col("nn").alias("n"),
        "d",
        (
            (
                F.lit(16.0) * F.col("nn").cast("double")
                * F.col("d").cast("double")
                - _limb("pe")
            )
            / (
                F.lit(16.0)
                * F.col("nn").cast("double")
                * F.col("nn").cast("double")
                - _limb("pe")
            )
        ).alias("gwet_ac1"),
    )


oracle("q_gwet_ac1", f"""
    WITH {_QUINTILE_SQL},
    agg AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(CASE WHEN r1 = r2 THEN n ELSE 0 END) AS BIGINT) AS d
        FROM cells
    ), rows_m AS (
        SELECT r1 AS q, sum(n) AS r FROM cells GROUP BY r1
    ), cols_m AS (
        SELECT r2 AS q, sum(n) AS c FROM cells GROUP BY r2
    ), marg AS (
        SELECT COALESCE(rows_m.q, cols_m.q) AS q,
               CAST(COALESCE(r, 0) + COALESCE(c, 0) AS BIGINT) AS m
        FROM rows_m FULL JOIN cols_m ON rows_m.q = cols_m.q
    ), pe AS (
        SELECT sum(CAST(m AS HUGEINT) * (2 * CAST(agg.n AS HUGEINT) - m))
                 AS pe
        FROM marg, agg
    )
    SELECT agg.n, agg.d,
           (16.0 * CAST(agg.n AS DOUBLE) * CAST(agg.d AS DOUBLE)
            - ({_limb_sql('pe.pe')}))
           / (16.0 * CAST(agg.n AS DOUBLE) * CAST(agg.n AS DOUBLE)
              - ({_limb_sql('pe.pe')})) AS gwet_ac1
    FROM agg, pe
""")


@query
def q_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Goodman–Kruskal λ (price quintile → priority): the
    proportional-reduction-in-error of guessing an order's priority
    once its price quintile is known — λ = (Σ_x max_y n_xy − max_y
    n_·y) / (N − max_y n_·y), the modal-prediction association measure
    (zero when price tells you nothing the marginal mode didn't).
    Exact integers end to end; guarded for the degenerate one-class
    marginal (λ undefined → NULL in both engines).
    """
    cells, _ = _square_margins(spark, sf_dir)
    per_x = cells.groupBy("r2").agg(F.max("n").alias("mx"))
    best_in_x = per_x.agg(F.sum("mx").cast("bigint").alias("sum_mx"))
    col_marg = (
        cells.groupBy("r1")
        .agg(F.sum("n").alias("cm"))
        .agg(F.max("cm").cast("bigint").alias("max_marg"))
    )
    nn = cells.agg(F.sum("n").cast("bigint").alias("n"))
    return (
        nn.crossJoin(F.broadcast(best_in_x))
        .crossJoin(F.broadcast(col_marg))
        .select(
            "n",
            "sum_mx",
            "max_marg",
            F.when(
                F.col("n") > F.col("max_marg"),
                (F.col("sum_mx") - F.col("max_marg")).cast("double")
                / (F.col("n") - F.col("max_marg")).cast("double"),
            ).alias("gk_lambda"),
        )
    )


oracle("q_gk_lambda", f"""
    WITH {_QUINTILE_SQL},
    per_x AS (
        SELECT r2, max(n) AS mx FROM cells GROUP BY r2
    ), best AS (
        SELECT CAST(sum(mx) AS BIGINT) AS sum_mx FROM per_x
    ), cm AS (
        SELECT CAST(max(s) AS BIGINT) AS max_marg FROM (
            SELECT r1, sum(n) AS s FROM cells GROUP BY r1
        )
    ), nn AS (SELECT CAST(sum(n) AS BIGINT) AS n FROM cells)
    SELECT nn.n, best.sum_mx, cm.max_marg,
           CASE WHEN nn.n > cm.max_marg
                THEN CAST(best.sum_mx - cm.max_marg AS DOUBLE)
                     / CAST(nn.n - cm.max_marg AS DOUBLE)
           END AS gk_lambda
    FROM nn, best, cm
""")


# the q_gk_gamma contingency (priority × integer quantity), shared by
# the ordinal-association family below
_QTY_CELLS_SQL = """
    qcells AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS x,
               CAST(floor(l_quantity) AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS o
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY x, y
    )
"""


def _qty_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The priority × floor(quantity) contingency cells (x, y, o) —
    the q_gk_gamma lattice, ≤250 cells at any SF; the join⋈aggregate
    is the only fact-sized stage."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.expr("cast(floor(l_quantity) as bigint)").alias("y")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("x"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )


def _concordance(cells: DataFrame):
    """(2C, 2D) doubled concordant/discordant pair counts from the
    contingency lattice — each unordered pair counted twice via the
    full x1≠x2 quadrant join, O(cells²) on ≤250 cells, never O(rows²).
    Doubling keeps every tie-aware statistic integer."""
    a = cells.select(
        F.col("x").alias("x1"), F.col("y").alias("y1"), F.col("o").alias("o1")
    )
    b = cells.select(
        F.col("x").alias("x2"), F.col("y").alias("y2"), F.col("o").alias("o2")
    )
    pairs = a.join(F.broadcast(b), F.col("x2") != F.col("x1"))
    return pairs.agg(
        F.sum(
            F.when(
                (F.col("x2") > F.col("x1")) == (F.col("y2") > F.col("y1")),
                _dec19("o1") * _dec19("o2"),
            )
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            * F.when(F.col("y2") != F.col("y1"), 1).otherwise(0)
        ).cast("decimal(38,0)").alias("c2"),
        F.sum(
            F.when(
                (F.col("x2") > F.col("x1")) != (F.col("y2") > F.col("y1")),
                _dec19("o1") * _dec19("o2"),
            )
            .otherwise(F.lit(0).cast("decimal(38,0)"))
            * F.when(F.col("y2") != F.col("y1"), 1).otherwise(0)
        ).cast("decimal(38,0)").alias("d2"),
    )


@query
def q_somers_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Somers' D_Y|X of line-item quantity (Y) on order priority
    (X): the tie-aware asymmetric upgrade of q_gk_gamma — γ throws
    every tied pair away, Somers' D keeps pairs tied on Y in the
    denominator, which is what you want when Y is a coarse integer
    scale with heavy ties.  D_Y|X = (C − D) / (C + D + T_Y), T_Y the
    pairs tied on Y but differing on X.  All pair counts assemble from
    the ≤250-cell lattice in DOUBLED integers (each unordered pair
    twice — keeps T_Y = Σ_y c_y(c_y−1) − Σ_cells o(o−1) integral) via
    the _dec19 ladder; one limb division.
    """
    cells = _qty_cells(spark, sf_dir)
    cd = _concordance(cells)
    ty = (
        cells.groupBy("y")
        .agg(F.sum("o").cast("bigint").alias("cy"))
        .agg(
            F.sum(_dec19("cy") * (_dec19("cy") - F.lit(1).cast("decimal(19,0)")).cast("decimal(19,0)"))
            .cast("decimal(38,0)")
            .alias("typairs")
        )
    )
    tboth = cells.agg(
        F.sum(_dec19("o") * (_dec19("o") - F.lit(1).cast("decimal(19,0)")).cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("tb")
    )
    out = (
        cd.crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(tboth))
        .select(
            _limb("c2").alias("c2"),
            _limb("d2").alias("d2"),
            (_limb("typairs") - _limb("tb")).alias("ty2"),
            (
                (_limb("c2") - _limb("d2"))
                / (_limb("c2") + _limb("d2") + (_limb("typairs") - _limb("tb")))
            ).alias("somers_d"),
        )
    )
    return out


oracle("q_somers_d", f"""
    WITH {_QTY_CELLS_SQL},
    cd AS (
        SELECT sum(CASE WHEN (b.x > a.x) = (b.y > a.y) AND b.y <> a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS c2,
               sum(CASE WHEN (b.x > a.x) <> (b.y > a.y) AND b.y <> a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS d2
        FROM qcells a JOIN qcells b ON b.x <> a.x
    ), ty AS (
        SELECT sum(CAST(cy AS HUGEINT) * (cy - 1)) AS typairs FROM (
            SELECT y, CAST(sum(o) AS BIGINT) AS cy FROM qcells GROUP BY y
        )
    ), tb AS (
        SELECT sum(CAST(o AS HUGEINT) * (o - 1)) AS tb FROM qcells
    )
    SELECT ({_limb_sql('cd.c2')}) AS c2,
           ({_limb_sql('cd.d2')}) AS d2,
           ({_limb_sql('ty.typairs')}) - ({_limb_sql('tb.tb')}) AS ty2,
           (({_limb_sql('cd.c2')}) - ({_limb_sql('cd.d2')}))
           / (({_limb_sql('cd.c2')}) + ({_limb_sql('cd.d2')})
              + ({_limb_sql('ty.typairs')}) - ({_limb_sql('tb.tb')}))
             AS somers_d
    FROM cd, ty, tb
""")


@query
def q_stuart_tau_c(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Stuart's τ_c between order priority and line-item quantity:
    the rectangular-table rank correlation — γ ignores ties and τ_b
    under-corrects when the table is r×c with r ≠ c; τ_c = 2m(C−D) /
    (N²(m−1)) with m = min(r, c) normalizes by the table's attainable
    maximum.  With doubled pair counts 2C/2D the statistic is
    m·(2C−2D)/(N²(m−1)) — exact ladder integers, one limb division;
    m comes from two distinct-counts over the ≤250-cell lattice.
    """
    cells = _qty_cells(spark, sf_dir).localCheckpoint(eager=False)
    cd = _concordance(cells)
    m = cells.agg(
        F.least(
            F.countDistinct("x"), F.countDistinct("y")
        ).cast("bigint").alias("m"),
        F.sum("o").cast("bigint").alias("nn"),
    )
    return cd.crossJoin(F.broadcast(m)).select(
        F.col("m"),
        F.col("nn").alias("n"),
        F.when(
            F.col("m") > 1,
            F.col("m").cast("double")
            * (_limb("c2") - _limb("d2"))
            / (
                F.col("nn").cast("double")
                * F.col("nn").cast("double")
                * (F.col("m") - F.lit(1)).cast("double")
            ),
        ).alias("tau_c"),
    )


oracle("q_stuart_tau_c", f"""
    WITH {_QTY_CELLS_SQL},
    cd AS (
        SELECT sum(CASE WHEN (b.x > a.x) = (b.y > a.y) AND b.y <> a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS c2,
               sum(CASE WHEN (b.x > a.x) <> (b.y > a.y) AND b.y <> a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS d2
        FROM qcells a JOIN qcells b ON b.x <> a.x
    ), m AS (
        SELECT CAST(least(count(DISTINCT x), count(DISTINCT y)) AS BIGINT)
                 AS m,
               CAST(sum(o) AS BIGINT) AS n
        FROM qcells
    )
    SELECT m.m, m.n,
           CASE WHEN m.m > 1 THEN
             CAST(m.m AS DOUBLE)
             * (({_limb_sql('cd.c2')}) - ({_limb_sql('cd.d2')}))
             / (CAST(m.n AS DOUBLE) * CAST(m.n AS DOUBLE)
                * CAST(m.m - 1 AS DOUBLE))
           END AS tau_c
    FROM cd, m
""")


# ---------------------------------------------------------------------------
# Distribution-free trend tests over the calendar-bounded daily series
# ---------------------------------------------------------------------------


@query
def q_cox_stuart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Cox–Stuart trend test on daily revenue: pair day i with
    day i + (n − n div 2) (the middle day drops out when n is odd) and
    count sign(later − earlier) — the distribution-free "is the second
    half above the first" screen that q_mann_kendall refines with all
    pairs.  Day ranks ride one window over the calendar-bounded daily
    aggregate (≤~2.5k rows at ANY SF — a constant frame, the
    q_sax_motifs regime, not an SF-scaling funnel); the half-offset
    join is an integer equijoin; signs are exact cent comparisons.
    """
    from pyspark.sql import Window

    from loan_etl_data_pipeline_spark.queries import _daily_cents

    d = _daily_cents(spark, sf_dir).localCheckpoint(eager=False)
    r = d.select(
        "cents",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("i"),
    )
    n = r.agg(F.max("i").cast("bigint").alias("n"))
    a = r.crossJoin(F.broadcast(n)).filter(
        F.col("i") <= F.expr("n div 2")
    ).select(
        "i", F.col("cents").alias("ca"), (F.col("i") + F.col("n") - F.expr("n div 2")).alias("j")
    )
    b = r.select(F.col("i").alias("j"), F.col("cents").alias("cb"))
    pairs = a.join(b, "j")
    return pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum((F.col("cb") > F.col("ca")).cast("bigint"))
        .cast("bigint")
        .alias("n_plus"),
        F.sum((F.col("cb") < F.col("ca")).cast("bigint"))
        .cast("bigint")
        .alias("n_minus"),
        F.sum((F.col("cb") == F.col("ca")).cast("bigint"))
        .cast("bigint")
        .alias("n_ties"),
    )


oracle("q_cox_stuart", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY day
    ), r AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i
        FROM daily
    ), n AS (SELECT CAST(max(i) AS BIGINT) AS n FROM r),
    a AS (
        SELECT r.i, r.cents AS ca, r.i + n.n - n.n // 2 AS j
        FROM r, n WHERE r.i <= n.n // 2
    ), pairs AS (
        SELECT a.ca, b.cents AS cb FROM a JOIN r b ON b.i = a.j
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN cb > ca THEN 1 ELSE 0 END) AS BIGINT) AS n_plus,
           CAST(sum(CASE WHEN cb < ca THEN 1 ELSE 0 END) AS BIGINT) AS n_minus,
           CAST(sum(CASE WHEN cb = ca THEN 1 ELSE 0 END) AS BIGINT) AS n_ties
    FROM pairs
""")


@query
def q_records_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ records test on daily revenue: the count of upper records
    (days strictly above every earlier day) and lower records — under
    a stationary exchangeable series the expected count is the
    harmonic number H_n ≈ ln n, so an excess of late upper records is
    a trend signal with NO distributional assumptions at all (the
    Foster–Stuart ingredient).  Running extrema ride one cumulative
    window over the calendar-bounded daily aggregate (constant frame);
    record flags are exact cent comparisons; day 1 counts as both by
    convention.
    """
    from pyspark.sql import Window

    from loan_etl_data_pipeline_spark.queries import _daily_cents

    d = _daily_cents(spark, sf_dir)
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flags = d.select(
        "cents",
        F.max("cents").over(w).alias("prev_max"),
        F.min("cents").over(w).alias("prev_min"),
    )
    return flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(
            (
                F.col("prev_max").isNull()
                | (F.col("cents") > F.col("prev_max"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_upper"),
        F.sum(
            (
                F.col("prev_min").isNull()
                | (F.col("cents") < F.col("prev_min"))
            ).cast("bigint")
        )
        .cast("bigint")
        .alias("n_lower"),
    )


oracle("q_records_test", """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders GROUP BY day
    ), flags AS (
        SELECT cents,
               max(cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_max,
               min(cents) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS prev_min
        FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN prev_max IS NULL OR cents > prev_max
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_upper,
           CAST(sum(CASE WHEN prev_min IS NULL OR cents < prev_min
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_lower
    FROM flags
""")


# ---------------------------------------------------------------------------
# Graph structure diagnostics on the co-purchase graph
# ---------------------------------------------------------------------------


@query
def q_avg_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ average local clustering coefficient of the co-purchase
    graph (Watts–Strogatz): mean over deg≥2 nodes of 2·tri(v) /
    (deg(v)·(deg(v)−1)) — the global transitivity ratio weights hubs,
    the average coefficient measures how clique-like a TYPICAL part's
    neighborhood is.  Per-node triangle counts come from the
    degree-oriented triangles operator (operators/graph.py — Σ
    outdeg² work, last-reducer-safe) exploded to endpoints; each LCC
    is quantized to an exact int64 ⌊2·tri·10⁹/(d(d−1))⌋ (a ratio ≤
    10⁹, wrap-exempt) so the MEAN is an exact integer sum — never an
    order-sensitive float accumulation.
    """
    from loan_etl_data_pipeline_spark.operators.graph import (
        degrees,
        triangles,
    )
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    tri = triangles(edges, "pa", "pb")
    per_node = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    deg = degrees(edges, "pa", "pb").select(
        "node", F.col("degree").cast("bigint").alias("d")
    )
    lcc = (
        deg.filter(F.col("d") >= 2)
        .join(per_node, "node", "left")
        .select(
            F.expr(
                "(2000000000 * coalesce(t, 0L)) div (d * (d - 1))"
            ).alias("lccq")
        )
    )
    return lcc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(_dec19("lccq")).cast("decimal(38,0)").alias("s"),
    ).select(
        "n_nodes",
        (
            _limb("s") / F.lit(1.0e9) / F.col("n_nodes").cast("double")
        ).alias("avg_clustering"),
    )


oracle("q_avg_clustering", f"""
    WITH {_COPURCHASE_SQL},
    tri AS (
        SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
        FROM pairs e1
        JOIN pairs e2 ON e2.pa = e1.pb
        JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    ), per_node AS (
        SELECT node, CAST(count(*) AS BIGINT) AS t FROM (
            SELECT x AS node FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri
        ) GROUP BY node
    ), deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u
    ), lcc AS (
        SELECT (2000000000 * COALESCE(t, 0)) // (d * (d - 1)) AS lccq
        FROM deg LEFT JOIN per_node USING (node)
        WHERE d >= 2
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes,
               sum(CAST(lccq AS HUGEINT)) AS s
        FROM lcc
    )
    SELECT n_nodes,
           ({_limb_sql('s')}) / 1.0e9 / CAST(n_nodes AS DOUBLE)
             AS avg_clustering
    FROM agg
""")


# ---------------------------------------------------------------------------
# Retail cross-classification and robust distribution shape
# ---------------------------------------------------------------------------


@query
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.5+ ABC×XYZ cross-classification — the 3×3 inventory policy
    matrix joining q_abc_parts' value axis (cumulative revenue share:
    A ≤80%, B ≤95%, C tail — pure integer crossings on the
    global_cumsum) with q_xyz_parts' variability axis (exact-integer
    cv² thresholds over monthly demand).  AX parts get tight
    auto-replenishment, CZ parts manual review — the matrix IS the
    policy table.  Parts lacking an XYZ class (single observed month
    or zero demand) are dropped by the inner join, exactly like
    q_xyz_parts' own HAVING.  One fact scan per axis; the join runs on
    part-level aggregates.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("cast(floor(l_extendedprice * 100) as bigint)").alias("c"),
        F.date_format("l_shipdate", "yyyy-MM").alias("mon"),
        F.expr("cast(floor(l_quantity) as bigint)").alias("q"),
    ).localCheckpoint(eager=False)
    per_part = li.groupBy("l_partkey").agg(F.sum("c").alias("cents"))
    cum = global_cumsum(
        per_part, [F.desc("cents"), F.asc("l_partkey")], "cents", cum_col="cw"
    )
    tot = per_part.agg(F.sum("cents").alias("tot"))
    abc = cum.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        F.when(5 * F.col("cw") <= 4 * F.col("tot"), F.lit("A"))
        .when(20 * F.col("cw") <= 19 * F.col("tot"), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc"),
    )
    pm = li.groupBy("l_partkey", "mon").agg(F.sum("q").cast("bigint").alias("q"))
    m = pm.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("s"),
        F.sum(_dec19("q") * _dec19("q")).cast("decimal(38,0)").alias("ss"),
    ).filter((F.col("n") >= 2) & (F.col("s") > 0))
    var_core = (_dec19("n") * F.col("ss") - _dec19("s") * _dec19("s")).cast(
        "decimal(38,0)"
    )
    lhs = (_dec19("n") * var_core).cast("decimal(38,0)")
    rhs = (
        (_dec19("n") - F.lit(1).cast("decimal(19,0)"))
        * _dec19("s")
        * _dec19("s")
    ).cast("decimal(38,0)")
    xyz = m.select(
        "l_partkey",
        F.when(lhs * 25 <= rhs, F.lit("X"))
        .when(lhs * 4 <= rhs, F.lit("Y"))
        .otherwise(F.lit("Z"))
        .alias("xyz"),
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc", "xyz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        .orderBy("abc", "xyz")
    )


oracle("q_abc_xyz_matrix", """
    WITH per_part AS (
        SELECT l_partkey,
               sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS cents
        FROM lineitem GROUP BY l_partkey
    ), c AS (
        SELECT l_partkey, cents,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey ASC
                                ROWS UNBOUNDED PRECEDING) AS cw,
               (SELECT sum(cents) FROM per_part) AS tot
        FROM per_part
    ), abc AS (
        SELECT l_partkey,
               CASE WHEN 5 * cw <= 4 * tot THEN 'A'
                    WHEN 20 * cw <= 19 * tot THEN 'B'
                    ELSE 'C' END AS abc
        FROM c
    ), pm AS (
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
    ), xyz AS (
        SELECT l_partkey,
               CASE WHEN 25 * (n * (n * ss - CAST(s AS HUGEINT) * s))
                         <= (n - 1) * CAST(s AS HUGEINT) * s THEN 'X'
                    WHEN 4 * (n * (n * ss - CAST(s AS HUGEINT) * s))
                         <= (n - 1) * CAST(s AS HUGEINT) * s THEN 'Y'
                    ELSE 'Z' END AS xyz
        FROM m
    )
    SELECT abc.abc, xyz.xyz, CAST(count(*) AS BIGINT) AS n_parts
    FROM abc JOIN xyz USING (l_partkey)
    GROUP BY abc.abc, xyz.xyz
    ORDER BY abc, xyz
""")


@query
def q_bowley_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Bowley (quartile) skewness of line-item quantity per
    return flag: (Q1 + Q3 − 2·Q2)/(Q3 − Q1) on type-1 (ceil-position)
    order statistics — the outlier-proof skew measure a moment-based
    skewness can't give you on heavy tails.  Quantities are small
    integers, so each quartile is an exact low-cardinality order
    statistic from the per-flag ≤50-value histogram (smallest v with
    4·cum ≥ k·N); the statistic itself is an exact integer ratio,
    one final division.  Degenerate flat groups (Q3 = Q1) emit NULL
    in both engines.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.expr("cast(floor(l_quantity) as bigint)").alias("v")
    )
    hist = li.groupBy("l_returnflag", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = hist.select(
        "l_returnflag",
        "v",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(tot).alias("nn"),
    )
    qs = cum.groupBy("l_returnflag").agg(
        F.min(F.when(4 * F.col("cum") >= F.col("nn"), F.col("v")))
        .cast("bigint")
        .alias("q1"),
        F.min(F.when(4 * F.col("cum") >= 2 * F.col("nn"), F.col("v")))
        .cast("bigint")
        .alias("q2"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("nn"), F.col("v")))
        .cast("bigint")
        .alias("q3"),
    )
    return qs.select(
        "l_returnflag",
        "q1",
        "q2",
        "q3",
        F.when(
            F.col("q3") > F.col("q1"),
            (F.col("q1") + F.col("q3") - 2 * F.col("q2")).cast("double")
            / (F.col("q3") - F.col("q1")).cast("double"),
        ).alias("bowley_skew"),
    ).orderBy("l_returnflag")


oracle("q_bowley_skew", """
    WITH li AS (
        SELECT l_returnflag AS f, CAST(floor(l_quantity) AS BIGINT) AS v
        FROM lineitem
    ), hist AS (
        SELECT f, v, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY f, v
    ), cum AS (
        SELECT f, v,
               sum(c) OVER (PARTITION BY f ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
               sum(c) OVER (PARTITION BY f) AS nn
        FROM hist
    ), qs AS (
        SELECT f,
               CAST(min(CASE WHEN 4 * cum >= nn THEN v END) AS BIGINT) AS q1,
               CAST(min(CASE WHEN 4 * cum >= 2 * nn THEN v END) AS BIGINT)
                 AS q2,
               CAST(min(CASE WHEN 4 * cum >= 3 * nn THEN v END) AS BIGINT)
                 AS q3
        FROM cum GROUP BY f
    )
    SELECT f AS l_returnflag, q1, q2, q3,
           CASE WHEN q3 > q1
                THEN CAST(q1 + q3 - 2 * q2 AS DOUBLE)
                     / CAST(q3 - q1 AS DOUBLE)
           END AS bowley_skew
    FROM qs ORDER BY l_returnflag
""")


@query
def q_source_dup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+ cross-source near-duplicate leakage matrix: for each source
    pair, how many head fingerprints (md5 of the first 40 chars — the
    cheap boilerplate/mirror detector) appear in BOTH — the
    contamination screen a corpus mixer runs before weighting sources
    (a shared prefix across sources usually means a mirrored feed or a
    template, either of which silently double-counts).  Scale shape:
    DISTINCT (fingerprint, source) postings (one doc-keyed aggregate),
    then a fingerprint-keyed self-join whose per-key fan-out is
    bounded by the SOURCE count, never by corpus size.
    """
    d = load_table(spark, sf_dir, "documents").select(
        F.md5(F.substring("text", 1, 40)).alias("fp"), "source"
    ).distinct()
    a = d.select("fp", F.col("source").alias("src_a"))
    b = d.select("fp", F.col("source").alias("src_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .orderBy("src_a", "src_b")
    )


oracle("q_source_dup_overlap", """
    WITH d AS (
        SELECT DISTINCT md5(substr(text, 1, 40)) AS fp, source
        FROM documents
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
    GROUP BY src_a, src_b
    ORDER BY src_a, src_b
""")


@query
def q_kendall_tau_b(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Kendall's τ_b between order priority and line-item
    quantity — the tie-corrected rank correlation completing the
    lattice family: γ (q_gk_gamma) drops ties, Somers' D
    (q_somers_d) corrects one margin, τ_b corrects both:
    (C−D)/√((C+D+T_X)(C+D+T_Y)).  Doubled pair counts keep every term
    integral (2T_X = Σ_x r_x(r_x−1) − Σ o(o−1), likewise T_Y) through
    the _dec19 ladder; the emission is limb doubles + one IEEE sqrt.
    Same ≤250-cell lattice shape — never an O(rows²) pair join.
    """
    cells = _qty_cells(spark, sf_dir).localCheckpoint(eager=False)
    cd = _concordance(cells)
    tb = cells.agg(
        F.sum(
            _dec19("o")
            * (_dec19("o") - F.lit(1).cast("decimal(19,0)")).cast(
                "decimal(19,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("tboth")
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("o").cast("bigint").alias("rx"))
        .agg(
            F.sum(
                _dec19("rx")
                * (_dec19("rx") - F.lit(1).cast("decimal(19,0)")).cast(
                    "decimal(19,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("txp")
        )
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("o").cast("bigint").alias("cy"))
        .agg(
            F.sum(
                _dec19("cy")
                * (_dec19("cy") - F.lit(1).cast("decimal(19,0)")).cast(
                    "decimal(19,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias("typ")
        )
    )
    txd = _limb("txp") - _limb("tboth")
    tyd = _limb("typ") - _limb("tboth")
    base = _limb("c2") + _limb("d2")
    return (
        cd.crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .select(
            _limb("c2").alias("c2"),
            _limb("d2").alias("d2"),
            txd.alias("tx2"),
            tyd.alias("ty2"),
            (
                (_limb("c2") - _limb("d2"))
                / F.sqrt((base + txd) * (base + tyd))
            ).alias("tau_b"),
        )
    )


oracle("q_kendall_tau_b", f"""
    WITH {_QTY_CELLS_SQL},
    cd AS (
        SELECT sum(CASE WHEN (b.x > a.x) = (b.y > a.y) AND b.y <> a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS c2,
               sum(CASE WHEN (b.x > a.x) <> (b.y > a.y) AND b.y <> a.y
                        THEN CAST(a.o AS HUGEINT) * b.o
                        ELSE CAST(0 AS HUGEINT) END) AS d2
        FROM qcells a JOIN qcells b ON b.x <> a.x
    ), tb AS (
        SELECT sum(CAST(o AS HUGEINT) * (o - 1)) AS tboth FROM qcells
    ), tx AS (
        SELECT sum(CAST(rx AS HUGEINT) * (rx - 1)) AS txp FROM (
            SELECT x, CAST(sum(o) AS BIGINT) AS rx FROM qcells GROUP BY x
        )
    ), ty AS (
        SELECT sum(CAST(cy AS HUGEINT) * (cy - 1)) AS typ FROM (
            SELECT y, CAST(sum(o) AS BIGINT) AS cy FROM qcells GROUP BY y
        )
    )
    SELECT ({_limb_sql('cd.c2')}) AS c2,
           ({_limb_sql('cd.d2')}) AS d2,
           ({_limb_sql('tx.txp')}) - ({_limb_sql('tb.tboth')}) AS tx2,
           ({_limb_sql('ty.typ')}) - ({_limb_sql('tb.tboth')}) AS ty2,
           (({_limb_sql('cd.c2')}) - ({_limb_sql('cd.d2')}))
           / sqrt((({_limb_sql('cd.c2')}) + ({_limb_sql('cd.d2')})
                   + ({_limb_sql('tx.txp')}) - ({_limb_sql('tb.tboth')}))
                  * (({_limb_sql('cd.c2')}) + ({_limb_sql('cd.d2')})
                     + ({_limb_sql('ty.typ')}) - ({_limb_sql('tb.tboth')})))
             AS tau_b
    FROM cd, tb, tx, ty
""")


@query
def q_pearson_mode_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Pearson's first (mode) skewness of line-item quantity per
    return flag: (mean − mode)/σ, algebraically lifted to the all-
    integer form (S − n·mode)/√(n·ΣX² − S²) so the only reals are one
    limb conversion and one IEEE sqrt.  The mode comes from the ≤50-
    value histogram (max count, min-value tie-break — the engine's
    deterministic-mode contract); moments ride the _dec19 ladder.
    The moment-free q_bowley_skew sibling for mode-anchored skew.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.expr("cast(floor(l_quantity) as bigint)").alias("v")
    )
    hist = li.groupBy("l_returnflag", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    mode = (
        hist.groupBy("l_returnflag")
        .agg(
            F.max(F.struct(F.col("c"), (-F.col("v")).alias("nv"))).alias("m")
        )
        .select(
            "l_returnflag",
            (-F.col("m.nv")).cast("bigint").alias("mode"),
        )
    )
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
        F.sum(_dec19("v") * _dec19("v")).cast("decimal(38,0)").alias("ss"),
    )
    j = mom.join(mode, "l_returnflag")
    nd = F.col("n").cast("double")
    sd = F.col("s").cast("double")
    return j.select(
        "l_returnflag",
        "mode",
        (
            (sd - nd * F.col("mode").cast("double"))
            / F.sqrt(nd * _limb("ss") - sd * sd)
        ).alias("mode_skew"),
    ).orderBy("l_returnflag")


oracle("q_pearson_mode_skew", f"""
    WITH li AS (
        SELECT l_returnflag AS f, CAST(floor(l_quantity) AS BIGINT) AS v
        FROM lineitem
    ), hist AS (
        SELECT f, v, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY f, v
    ), mode AS (
        SELECT f, CAST(min(v) AS BIGINT) AS mode FROM hist h
        WHERE c = (SELECT max(c) FROM hist h2 WHERE h2.f = h.f)
        GROUP BY f
    ), mom AS (
        SELECT f, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               sum(CAST(v AS HUGEINT) * v) AS ss
        FROM li GROUP BY f
    )
    SELECT mom.f AS l_returnflag, mode.mode,
           (CAST(s AS DOUBLE) - CAST(n AS DOUBLE) * CAST(mode AS DOUBLE))
           / sqrt(CAST(n AS DOUBLE) * ({_limb_sql('ss')})
                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) AS mode_skew
    FROM mom JOIN mode ON mode.f = mom.f
    ORDER BY l_returnflag
""")


@query
def q_event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6+ user-level association lift between event types:
    lift(A,B) = P(user does A and B) / (P(A)·P(B)) = n_AB·N /
    (n_A·n_B) — the market-basket association matrix at the USER
    grain (q_cooccur is the same shape at the document/token grain;
    q_event_transitions is temporal adjacency, this is co-presence).
    Exact rational: user-type presence collapses to DISTINCT pairs
    (the one fact-sized aggregate), the type-pair join fans out ≤
    |types|² rows per user, and the emission divides two ladder
    integers.  Null types and null users drop (no presence).
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", F.col("event_type").alias("t"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    nn = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("nn")
    )
    per_t = ev.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("nt"))
    a = ev.select("user_id", F.col("t").alias("ta"))
    b = ev.select("user_id", F.col("t").alias("tb"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
    )
    j = (
        pairs.join(
            F.broadcast(per_t.select(F.col("t").alias("ta"), F.col("nt").alias("na"))),
            "ta",
        )
        .join(
            F.broadcast(per_t.select(F.col("t").alias("tb"), F.col("nt").alias("nb"))),
            "tb",
        )
        .crossJoin(F.broadcast(nn))
    )
    num = (_dec19("nab") * _dec19("nn")).cast("decimal(38,0)")
    den = (_dec19("na") * _dec19("nb")).cast("decimal(38,0)")
    return j.select(
        "ta",
        "tb",
        "nab",
        (
            num.cast("double") / den.cast("double")
        ).alias("lift"),
    ).orderBy("ta", "tb")


oracle("q_event_type_lift", """
    WITH ev AS (
        SELECT DISTINCT user_id, event_type AS t FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    ), nn AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nn FROM ev
    ), per_t AS (
        SELECT t, CAST(count(*) AS BIGINT) AS nt FROM ev GROUP BY t
    ), pairs AS (
        SELECT a.t AS ta, b.t AS tb, CAST(count(*) AS BIGINT) AS nab
        FROM ev a JOIN ev b ON a.user_id = b.user_id AND a.t < b.t
        GROUP BY ta, tb
    )
    SELECT ta, tb, nab,
           CAST(CAST(nab AS HUGEINT) * nn.nn AS DOUBLE)
           / CAST(CAST(na.nt AS HUGEINT) * nb.nt AS DOUBLE) AS lift
    FROM pairs, nn
    JOIN per_t na ON na.t = pairs.ta
    JOIN per_t nb ON nb.t = pairs.tb
    ORDER BY ta, tb
""")


@query
def q_edge_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9+ structural edge similarity on the co-purchase graph: per
    edge, the neighbor-set Jaccard |N(u)∩N(v)| / |N(u)∪N(v)| — near 0
    flags a LOCAL BRIDGE (an edge whose endpoints share no context:
    remove it and its endpoints fall ≥3 hops apart), near 1 an
    intra-clique edge; the edge-level refinement of q_avg_clustering.
    Common neighbors come from the wedge join (Σdeg² work on the
    support-2-pruned graph, never O(V²)); the coefficient is
    quantized ⌊10⁹·cn/(d_u+d_v−cn)⌋ (ratio ≤ 10⁹, wrap-exempt) so the
    top-20 cut is an exact integer TakeOrdered under a total order.
    """
    from loan_etl_data_pipeline_spark.operators.graph import degrees
    from loan_etl_data_pipeline_spark.queries import _copurchase_edges

    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=False)
    adj = edges.select(F.col("pa").alias("u"), F.col("pb").alias("x")).unionAll(
        edges.select(F.col("pb").alias("u"), F.col("pa").alias("x"))
    )
    cn = (
        adj.select(F.col("u").alias("a"), "x")
        .join(adj.select(F.col("u").alias("b"), "x"), "x")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    deg = degrees(edges, "pa", "pb").select(
        "node", F.col("degree").cast("bigint").alias("d")
    )
    e = (
        edges.select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .join(cn, ["a", "b"], "left")
        .select("a", "b", F.coalesce("cn", F.lit(0)).cast("bigint").alias("cn"))
        .join(deg.select(F.col("node").alias("a"), F.col("d").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("d").alias("db")), "b")
    )
    return (
        e.select(
            "a",
            "b",
            "cn",
            F.expr("(1000000000 * cn) div (da + db - cn)").alias("jacc_q"),
        )
        .orderBy(F.desc("jacc_q"), "a", "b")
        .limit(20)
    )


oracle("q_edge_jaccard", f"""
    WITH {_COPURCHASE_SQL},
    cn AS (
        SELECT a.u AS a, b.u AS b, CAST(count(*) AS BIGINT) AS cn
        FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u
        GROUP BY 1, 2
    ), deg AS (
        SELECT u AS node, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY u
    )
    SELECT p.pa AS a, p.pb AS b,
           CAST(COALESCE(cn.cn, 0) AS BIGINT) AS cn,
           CAST((1000000000 * COALESCE(cn.cn, 0))
                // (da.d + db.d - COALESCE(cn.cn, 0)) AS BIGINT) AS jacc_q
    FROM pairs p
    LEFT JOIN cn ON cn.a = p.pa AND cn.b = p.pb
    JOIN deg da ON da.node = p.pa
    JOIN deg db ON db.node = p.pb
    ORDER BY jacc_q DESC, a, b
    LIMIT 20
""")


@query
def q_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4+ character-class profile per source: total/uppercase/digit/
    whitespace character counts and their ratios — the cheapest
    corpus-quality fingerprint (a source whose digit ratio triples is
    a table dump, a near-zero space ratio is minified markup; both
    belong in the q_quality family's gating screen before any
    tokenizer spends real money).  Counts are exact integers via the
    subtract-after-strip idiom (len − len(strip(class)), RE2-portable
    character classes only); ratios are one division each.  One
    map-side-combinable source aggregate.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.length("text").cast("bigint").alias("len"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[A-Z]", ""))
        ).cast("bigint").alias("upper"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[0-9]", ""))
        ).cast("bigint").alias("digit"),
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
        ).cast("bigint").alias("space"),
    )
    agg = d.groupBy("source").agg(
        F.sum("len").cast("bigint").alias("n_chars"),
        F.sum("upper").cast("bigint").alias("n_upper"),
        F.sum("digit").cast("bigint").alias("n_digit"),
        F.sum("space").cast("bigint").alias("n_space"),
    )
    return agg.select(
        "source",
        "n_chars",
        "n_upper",
        "n_digit",
        "n_space",
        (F.col("n_upper").cast("double") / F.col("n_chars").cast("double"))
        .alias("upper_ratio"),
        (F.col("n_digit").cast("double") / F.col("n_chars").cast("double"))
        .alias("digit_ratio"),
        (F.col("n_space").cast("double") / F.col("n_chars").cast("double"))
        .alias("space_ratio"),
    ).orderBy("source")


oracle("q_charclass_profile", """
    WITH d AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS len,
               CAST(length(text) - length(regexp_replace(text, '[A-Z]', '',
                    'g')) AS BIGINT) AS up,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '',
                    'g')) AS BIGINT) AS dig,
               CAST(length(text) - length(replace(text, ' ', ''))
                    AS BIGINT) AS sp
        FROM documents
    ), agg AS (
        SELECT source,
               CAST(sum(len) AS BIGINT) AS n_chars,
               CAST(sum(up) AS BIGINT) AS n_upper,
               CAST(sum(dig) AS BIGINT) AS n_digit,
               CAST(sum(sp) AS BIGINT) AS n_space
        FROM d GROUP BY source
    )
    SELECT source, n_chars, n_upper, n_digit, n_space,
           CAST(n_upper AS DOUBLE) / CAST(n_chars AS DOUBLE) AS upper_ratio,
           CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE) AS digit_ratio,
           CAST(n_space AS DOUBLE) / CAST(n_chars AS DOUBLE) AS space_ratio
    FROM agg ORDER BY source
""")


@query
def q_gini_mean_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ Gini mean difference of line-item quantity per return
    flag: GMD = E|X−Y| over distinct pairs — the dispersion measure
    that, unlike variance, is first-order in the data (robust to a
    single fat-tail row) and, unlike IQR, uses every pair.  Emitted
    with the derived Gini coefficient GMD/(2·mean) = Σc_uc_v|u−v| /
    (2·S·(n−1)) — the relative-inequality twin of q_gini_customers'
    Lorenz construction, here at the VALUE grain.  All pair mass comes
    from the ≤50-value histogram self-join (O(values²), never
    O(rows²)); products ride the _dec19 ladder; two limb divisions.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.expr("cast(floor(l_quantity) as bigint)").alias("v")
    )
    hist = li.groupBy("l_returnflag", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=False)
    a = hist.select(
        "l_returnflag", F.col("v").alias("u"), F.col("c").alias("cu")
    )
    b = hist.select(
        F.col("l_returnflag").alias("f2"),
        F.col("v").alias("w"),
        F.col("c").alias("cw"),
    )
    num = (
        a.join(F.broadcast(b), F.col("l_returnflag") == F.col("f2"))
        .filter(F.col("u") != F.col("w"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                _dec19("cu")
                * _dec19("cw")
                * _dec19(F.abs(F.col("u") - F.col("w")))
            )
            .cast("decimal(38,0)")
            .alias("num")
        )
    )
    mom = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("v").cast("bigint").alias("s"),
    )
    j = mom.join(num, "l_returnflag")
    nd = F.col("n").cast("double")
    return j.select(
        "l_returnflag",
        "n",
        (
            _limb("num") / (nd * (nd - F.lit(1.0)))
        ).alias("gmd"),
        (
            _limb("num")
            / (
                F.lit(2.0)
                * F.col("s").cast("double")
                * (nd - F.lit(1.0))
            )
        ).alias("gini"),
    ).orderBy("l_returnflag")


oracle("q_gini_mean_diff", f"""
    WITH li AS (
        SELECT l_returnflag AS f, CAST(floor(l_quantity) AS BIGINT) AS v
        FROM lineitem
    ), hist AS (
        SELECT f, v, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY f, v
    ), num AS (
        SELECT a.f,
               sum(CAST(a.c AS HUGEINT) * b.c * abs(a.v - b.v)) AS num
        FROM hist a JOIN hist b ON a.f = b.f AND a.v <> b.v
        GROUP BY a.f
    ), mom AS (
        SELECT f, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s
        FROM li GROUP BY f
    )
    SELECT mom.f AS l_returnflag, mom.n,
           ({_limb_sql('num.num')})
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS gmd,
           ({_limb_sql('num.num')})
             / (2.0 * CAST(s AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS gini
    FROM mom JOIN num ON num.f = mom.f
    ORDER BY l_returnflag
""")


@query
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1+ ORC interchange round-trip: orders with o_orderkey%5==0
    written as ORC via Spark's NATIVE columnar writer and read back,
    then aggregated per status — the Hive-ecosystem counterpart of
    q_avro_roundtrip (spec-implemented object files) and the parquet
    snapshot family: a lake that hands this engine ORC extracts needs
    the path certified bit-for-bit, which the oracle does by computing
    the same aggregate straight from parquet.  Predicate pushdown and
    column pruning work in ORC scans exactly as in parquet (same
    DataSource V1 scan machinery).
    """
    import tempfile

    from loan_etl_data_pipeline_spark.functions.deterministic import dsum

    sub = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    d = tempfile.mkdtemp(prefix="orc_rt_")
    sub.write.mode("overwrite").orc(d)
    back = spark.read.orc(d)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        dsum("o_totalprice", "revenue"),
    )


oracle("q_orc_roundtrip", """
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(FLOOR((o_totalprice) * 100) AS BIGINT)) AS DOUBLE)
             / 100 AS revenue
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
""")


@query
def q_point_biserial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1+/A.4+ point-biserial correlation between near-duplicate
    membership and document length: does the dedup pipeline
    preferentially flag long (or short) documents?  A strong |r_pb|
    means dedup REWEIGHTS the length distribution — the bias audit a
    curation pipeline owes its consumers before dropping flagged docs.
    Indicator = shares a head-40 fingerprint with another doc (the
    q_source_dup_overlap detector); r_pb collapses to the all-integer
    form (s₁·n₀ − s₀·n₁)/√(n₁·n₀·(n·Σx² − S²)) — one IEEE sqrt, one
    division, everything else exact moments through the _dec19 ladder.
    Degenerate one-class splits emit NULL in both engines.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5(F.substring("text", 1, 40)).alias("fp"),
        F.col("n_chars").cast("bigint").alias("x"),
    )
    grp = d.groupBy("fp").agg(F.count(F.lit(1)).alias("fpn"))
    flagged = d.join(F.broadcast(grp), "fp").select(
        "x", (F.col("fpn") > 1).alias("dup")
    )
    m = flagged.agg(
        F.sum(F.col("dup").cast("bigint")).cast("bigint").alias("n1"),
        F.sum((~F.col("dup")).cast("bigint")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("dup"), F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s1"),
        F.sum(F.when(~F.col("dup"), F.col("x")).otherwise(0))
        .cast("bigint")
        .alias("s0"),
        F.sum(_dec19("x") * _dec19("x")).cast("decimal(38,0)").alias("ss"),
    )
    n = (F.col("n1") + F.col("n0")).cast("double")
    num = (
        F.col("s1").cast("double") * F.col("n0").cast("double")
        - F.col("s0").cast("double") * F.col("n1").cast("double")
    )
    ssum = (F.col("s1") + F.col("s0")).cast("double")
    den = F.sqrt(
        F.col("n1").cast("double")
        * F.col("n0").cast("double")
        * (n * _limb("ss") - ssum * ssum)
    )
    return m.select(
        "n1",
        "n0",
        F.when((F.col("n1") > 0) & (F.col("n0") > 0), num / den).alias(
            "r_pb"
        ),
    )


oracle("q_point_biserial", f"""
    WITH d AS (
        SELECT md5(substr(text, 1, 40)) AS fp,
               CAST(n_chars AS BIGINT) AS x
        FROM documents
    ), grp AS (
        SELECT fp, count(*) AS fpn FROM d GROUP BY fp
    ), flagged AS (
        SELECT d.x, grp.fpn > 1 AS dup FROM d JOIN grp USING (fp)
    ), m AS (
        SELECT CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN dup THEN 0 ELSE 1 END) AS BIGINT) AS n0,
               CAST(sum(CASE WHEN dup THEN x ELSE 0 END) AS BIGINT) AS s1,
               CAST(sum(CASE WHEN dup THEN 0 ELSE x END) AS BIGINT) AS s0,
               sum(CAST(x AS HUGEINT) * x) AS ss
        FROM flagged
    )
    SELECT n1, n0,
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             (CAST(s1 AS DOUBLE) * CAST(n0 AS DOUBLE)
              - CAST(s0 AS DOUBLE) * CAST(n1 AS DOUBLE))
             / sqrt(CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                    * ((CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                       * ({_limb_sql('ss')})
                       - (CAST(s1 AS DOUBLE) + CAST(s0 AS DOUBLE))
                         * (CAST(s1 AS DOUBLE) + CAST(s0 AS DOUBLE))))
           END AS r_pb
    FROM m
""")


@query
def q_phi_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.4+ φ coefficient of the URGENT × returned 2×2 table —
    Pearson's r specialized to two binaries, the BOUNDED companion of
    q_yule_q (Q saturates at ±1 whenever one cell empties; φ stays
    calibrated against the margins) and the exact-count twin of
    q_odds_ratio's smoothed log form.  φ = (ad − bc)/√(r₁r₂c₁c₂):
    numerator an exact ladder integer emitted via limbs; the
    denominator multiplies four exact-int limb doubles in one FIXED
    left-associated IEEE sequence before the sqrt, identical in both
    engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", (F.col("l_returnflag") == "R").alias("ret")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").startswith("1").alias("urgent"),
    )
    cells = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("urgent", "ret")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    m = cells.agg(
        F.sum(F.when(F.col("urgent") & F.col("ret"), F.col("n")).otherwise(0))
        .cast("bigint").alias("a"),
        F.sum(F.when(F.col("urgent") & ~F.col("ret"), F.col("n")).otherwise(0))
        .cast("bigint").alias("b"),
        F.sum(F.when(~F.col("urgent") & F.col("ret"), F.col("n")).otherwise(0))
        .cast("bigint").alias("c"),
        F.sum(F.when(~F.col("urgent") & ~F.col("ret"), F.col("n")).otherwise(0))
        .cast("bigint").alias("d"),
    )
    ad_bc = (_dec19("a") * _dec19("d") - _dec19("b") * _dec19("c")).cast(
        "decimal(38,0)"
    )
    m = m.withColumn("num", ad_bc)
    r1 = (F.col("a") + F.col("b")).cast("double")
    r2 = (F.col("c") + F.col("d")).cast("double")
    c1 = (F.col("a") + F.col("c")).cast("double")
    c2 = (F.col("b") + F.col("d")).cast("double")
    return m.select(
        "a",
        "b",
        "c",
        "d",
        (_limb("num") / F.sqrt(((r1 * r2) * c1) * c2)).alias("phi"),
    )


oracle("q_phi_coefficient", f"""
    WITH j AS (
        SELECT CASE WHEN o_orderpriority LIKE '1%' THEN 1 ELSE 0 END AS u,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), m AS (
        SELECT CAST(sum(CASE WHEN u = 1 AND r = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS a,
               CAST(sum(CASE WHEN u = 1 AND r = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS b,
               CAST(sum(CASE WHEN u = 0 AND r = 1 THEN 1 ELSE 0 END)
                 AS BIGINT) AS c,
               CAST(sum(CASE WHEN u = 0 AND r = 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS d
        FROM j
    ), w AS (
        SELECT a, b, c, d,
               CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c AS num
        FROM m
    )
    SELECT a, b, c, d,
           ({_limb_sql('num')})
           / sqrt((((CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE))
                    * CAST(a + c AS DOUBLE)) * CAST(b + d AS DOUBLE)))
             AS phi
    FROM w
""")


@query
def q_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A.9+ raking / iterative proportional fitting of the priority ×
    order-status table to UNIFORM target margins — the survey-
    calibration weighting a dataset mixer runs when the corpus's
    source × quality mix must match a target design (importance
    reweighting with margin constraints; Deming–Stephan 1940).  Two
    full IPF rounds (row-scale then column-scale, each w ←
    ⌊w·N_w / (k·margin)⌋) over the ≤15-cell table in EXACT arbitrary-
    precision integers: the cells are a bounded model (the Shapley
    precedent), so the fold runs driver-side on Python bigints and the
    oracle replays the identical floor-divisions in HUGEINT CTEs —
    bit-equal at any SF because neither side ever rounds.  Emitted:
    cell weights in micro-units after round 2 plus the achieved row
    share, showing convergence toward 1/5.
    Scale: the ONE fact-sized stage is the cell-count aggregate.
    """
    from loan_etl_data_pipeline_spark.functions.localframe import values_frame

    cells = {
        (int(r["p"]), str(r["s"])): int(r["n"])
        for r in load_table(spark, sf_dir, "orders")
        .groupBy(
            F.substring("o_orderpriority", 1, 1).cast("int").alias("p"),
            F.col("o_orderstatus").alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    w = {k: n * 1_000_000 for k, n in cells.items()}
    nw = sum(w.values())
    ps = sorted({k[0] for k in w})
    ss = sorted({k[1] for k in w})
    for _ in range(2):
        for p in ps:  # row step: target share 1/len(ps) each
            rp = sum(w[(p, s)] for s in ss if (p, s) in w)
            if rp:
                for s in ss:
                    if (p, s) in w:
                        w[(p, s)] = (w[(p, s)] * nw) // (len(ps) * rp)
        for s in ss:  # column step
            cs = sum(w[(p, s)] for p in ps if (p, s) in w)
            if cs:
                for p in ps:
                    if (p, s) in w:
                        w[(p, s)] = (w[(p, s)] * nw) // (len(ss) * cs)
    rows = []
    for p in ps:
        rp = sum(w[(p, s)] for s in ss if (p, s) in w)
        for s in ss:
            if (p, s) in w:
                rows.append((p, s, w[(p, s)], rp / nw))
    return values_frame(
        spark, rows, "p int, s string, w bigint, row_share double"
    ).orderBy("p", "s")


def _raking_oracle() -> str:
    """Unrolled IPF CTEs: one row-scale + one column-scale CTE per
    round, HUGEINT floor divisions — textually the same fold the
    driver-side Python bigints run."""
    steps = []
    prev = "w0"
    i = 0
    for _ in range(2):
        steps.append(f""",
    r{i} AS (
        SELECT p, s,
               CAST(w * nw.nw // (k.np * sum(w) OVER (PARTITION BY p))
                    AS HUGEINT) AS w
        FROM {prev}, nw, k
    )""")
        prev = f"r{i}"
        i += 1
        steps.append(f""",
    r{i} AS (
        SELECT p, s,
               CAST(w * nw.nw // (k.ns * sum(w) OVER (PARTITION BY s))
                    AS HUGEINT) AS w
        FROM {prev}, nw, k
    )""")
        prev = f"r{i}"
        i += 1
    return f"""
    WITH cells AS (
        SELECT CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS p,
               o_orderstatus AS s, CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY p, s
    ), w0 AS (
        SELECT p, s, CAST(n AS HUGEINT) * 1000000 AS w FROM cells
    ), nw AS (
        SELECT sum(w) AS nw FROM w0
    ), k AS (
        SELECT CAST(count(DISTINCT p) AS HUGEINT) AS np,
               CAST(count(DISTINCT s) AS HUGEINT) AS ns
        FROM cells
    ){''.join(steps)}
    SELECT p, s, CAST(w AS BIGINT) AS w,
           CAST(sum(w) OVER (PARTITION BY p) AS DOUBLE)
             / ({_limb_sql('nw.nw')}) AS row_share
    FROM {prev}, nw
    ORDER BY p, s
"""


oracle("q_raking", _raking_oracle())
