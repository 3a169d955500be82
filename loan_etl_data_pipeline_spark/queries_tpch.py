"""TPC-H-family analytic queries: the join/subquery shapes the round-2
catalog did not yet exercise.

The reference's own workload (loan-etl-data-pipeline's
``airflow/dags/etl/pyspark_etl.py``) never goes beyond single-table
aggregates, so these rows are EXT analytics surface (SURVEY.md §2 Part B
A.3+/A.4+): each query is the canonical Spark plan for one classic
warehouse pattern, with the decorrelation / join-strategy decision
documented inline and the DuckDB oracle mirroring the exact-cents
arithmetic from ``functions/deterministic.py``.

Patterns covered (TPC-H analog in parens, adapted to the testdata
schema, which has no partsupp/commitdate):

- EXISTS semi-join        (Q4)  → ``left_semi``, filter under the join
- NOT EXISTS + scalar avg (Q22) → ``left_anti`` + broadcast scalar
- having-sum join-back    (Q18) → agg→filter→re-join on the same key
- disjunctive pushdown    (Q19) → OR-of-ANDs residual on a broadcast join
- per-group top-1         (Q2)  → min(struct(...)) single-shuffle argmin
- group-avg decorrelation (Q17) → per-key stats broadcast back, integer
                                   cross-multiplied compare (no division)
- bilateral volume        (Q7)  → two dimension broadcasts, one fact shuffle
- conditional-share ratio (Q8)  → two exact bigint sums, one double division
- scalar-max join-back    (Q15) → 1-row broadcast instead of a global window
- returned-item top-k     (Q10) → aggregate-then-enrich (dims join the
                                   ~|custkey| aggregate, never the fact table)
- two-class CASE counts   (Q12) → big-big shuffle join, map-side partial agg
- outer-join histogram    (Q13) → join-side predicate, partition reuse
                                   between the join and the first groupBy
- threshold semi-join     (Q20) → integer cross-multiplied share compare,
                                   qualifying keys broadcast into left_semi
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.catalog import oracle, query
from loan_etl_data_pipeline_spark.functions.deterministic import dsum as _dsum
from loan_etl_data_pipeline_spark.sources.tables import load_table


def _ts(day: str):
    return F.lit(day).cast("timestamp_ntz")


@query
def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returned items (TPC-H-Q10-style).

    Aggregate-then-enrich: lineitem(filtered R) ⋈ orders(filtered year)
    shuffles once on orderkey, collapses to one row per custkey, and only
    THEN joins the customer/nation dimensions — at 100 TB the dims join a
    ~|custkey| aggregate, not 600 B fact rows. Nation broadcasts; the
    customer join is keyed on the aggregate's own partitioning. Top-20 is
    TakeOrdered with a custkey tie-break.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1996-01-01"))
            & (F.col("o_orderdate") < _ts("1997-01-01"))
        )
        .select("o_orderkey", "o_custkey")
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey"
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(_dsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )
    return (
        per_cust.join(c, per_cust.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query
def q_priority_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a semi-join (TPC-H-Q4-style): orders per priority that
    had at least one returned line.

    ``left_semi`` is the plan EXISTS should become: lineitem is filtered
    to R-flag rows *before* the shuffle, each order emits at most once
    (no post-join distinct), and the ~5-group count reuses nothing wide.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= _ts("1997-01-01"))
            & (F.col("o_orderdate") < _ts("1997-10-01"))
        )
        .select("o_orderkey", "o_orderpriority")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query
def q_big_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Having-sum join-back (TPC-H-Q18-style): orders whose total quantity
    exceeds 300, with their customer.

    The per-orderkey agg and the join back to orders share the orderkey
    hash partitioning, so AQE plans one Exchange for both (and at sf the
    >300 survivors are tiny, so the join-back flips to broadcast at
    runtime — exactly the skew-proof shape you want at 100 TB, where the
    agg output is ~0.1% of orders). Quantities are integral; the sum is
    exact int64.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.floor(F.col("l_quantity")).cast("bigint")).alias("sum_qty")
        )
        .filter(F.col("sum_qty") > 300)
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


@query
def q_disjunctive_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive bracket predicates (TPC-H-Q19-style): revenue from
    three OR'd (brand × size × quantity) brackets.

    part broadcasts; the brackets are a residual join condition so each
    lineitem row is tested once JVM-side inside the broadcast-hash probe.
    The shared ``l_quantity <= 30`` envelope is ALSO stated standalone so
    Catalyst pushes it into the lineitem parquet scan — OR-of-ANDs alone
    defeats per-bracket pushdown; factoring the common envelope out is
    the standard trick to keep the scan selective at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    brackets = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & qty.between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & qty.between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & qty.between(20, 30))
    )
    return (
        li.filter(qty.between(1, 30))
        .join(F.broadcast(p), (F.col("l_partkey") == F.col("p_partkey")) & brackets)
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum("l_extendedprice * (1 - l_discount)", "revenue"),
        )
    )


@query
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-1 as a single-shuffle argmin (TPC-H-Q2-style,
    adapted: no partsupp table — "suppliers of a part" = suppliers seen
    on its lineitems): for every part, the cheapest-acctbal supplier.

    The naive plan is distinct-pairs → window row_number (two shuffles).
    ``min(struct(acctbal, suppkey))`` over the raw fact rows gets the
    identical answer in ONE shuffle with map-side partial min — duplicate
    (part, supp) rows can't change a min, so the distinct is free, and
    the struct ordering encodes the tie-break. Supplier (100 rows) and
    part broadcast around the ~|partkey| aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    best = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.min(F.struct("s_acctbal", "s_suppkey")).alias("best"))
        .select("l_partkey", F.col("best.s_suppkey").alias("s_suppkey"))
    )
    return (
        best.join(F.broadcast(s), "s_suppkey")
        .join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "s_name", "s_acctbal")
    )


@query
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS + scalar subquery (TPC-H-Q22-style): per nation, the
    count and balance of above-average-balance customers who never
    ordered.

    The scalar average is a 1-row aggregate broadcast-crossed into the
    scan (never a window over everything); the NOT EXISTS is a
    ``left_anti`` against orders' custkeys. At 100 TB the anti join
    shuffles on custkey like any join — no per-row subquery execution.
    The threshold compares exact floored cents to the exact
    cents-sum/count double, so both engines cut at the same customers.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    cents = F.floor(F.col("c_acctbal") * 100).cast("bigint")
    avg_row = c.agg(
        (
            F.sum(cents).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avg_cents")
    )
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(F.broadcast(avg_row))
        .filter(cents.cast("double") > F.col("avg_cents"))
        .join(o, F.col("c_custkey") == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            _dsum("c_acctbal", "total_acctbal"),
        )
    )


@query
def q_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral trade volume (TPC-H-Q7-style): yearly revenue shipped
    between NATION_1 and NATION_2, both directions.

    Both nation filters reach the dimension scans BEFORE any fact work:
    the filtered supplier side broadcasts into lineitem (cutting the fact
    to ~2/25ths pre-shuffle), orders⋈customer-of-2-nations shrinks the
    other side, and the one orderkey shuffle joins the survivors. The
    direction pair filter is a residual on nation names, evaluated on
    broadcast-joined columns.
    """
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pick = F.col("n_name").isin("NATION_1", "NATION_2")
    s = (
        load_table(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_nationkey")
        .join(F.broadcast(n.filter(pick)), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(n.filter(pick)), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount"
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.date_format("l_shipdate", "yyyy").alias("l_year"),
        )
        .agg(_dsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


@query
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-share ratio (TPC-H-Q8-style): NATION_5 suppliers' share
    of yearly revenue from ASIA-region customers.

    The share is two exact int64 cents-sums (conditional and total) per
    year group and ONE double division at the end — never a ratio of
    doubles summed in engine-specific order. Customer is pre-filtered to
    the region via two broadcast hops (region→nation→customer), so the
    fact shuffle only carries ASIA-bound orders.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    asia_nations = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select("n_nationkey")
    c = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    cents = F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast(
        "bigint"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.date_format("o_orderdate", "yyyy").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_5", cents).otherwise(F.lit(0)))
            .alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "o_year",
            (
                F.col("nation_cents").cast("double")
                / F.col("total_cents").cast("double")
            ).alias("mkt_share"),
            (F.col("total_cents").cast("double") / 100).alias("total_revenue"),
        )
    )


@query
def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-max join-back (TPC-H-Q15-style): the supplier(s) with the
    highest revenue in 1996-Q1.

    The max is a 1-row aggregate broadcast back into the per-supplier
    frame — NOT a global window (``Window.orderBy`` with no partition is
    a single-task sort at scale). Equality is on exact cents, so "the
    max" is well-defined across engines; genuine ties all surface, per
    the SQL semantics.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1996-04-01"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(
            F.floor((F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100).cast(
                "bigint"
            )
        ).alias("cents")
    )
    mx = per_supp.agg(F.max("cents").alias("max_cents"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.join(F.broadcast(mx), F.col("cents") == F.col("max_cents"))
        .join(F.broadcast(s), per_supp.l_suppkey == s.s_suppkey)
        .select(
            "s_suppkey", "s_name", (F.col("cents").cast("double") / 100).alias("total_revenue")
        )
    )


@query
def q_avg_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-average decorrelation with an integer compare
    (TPC-H-Q17-style): yearly-average revenue from Brand#5 lineitems
    ordered below 20% of their part's average quantity.

    The correlated ``l_quantity < 0.2 * avg(per part)`` becomes per-part
    (n, Σqty) stats joined back — and the compare is cross-multiplied to
    ``5·qty·n < Σqty`` in exact int64, eliminating the division whose
    rounding would otherwise flip boundary rows between engines. Brand
    filtering happens FIRST via a broadcast part-list, so the stats pass
    scans ~1/25th of lineitem; the stats frame (~|brand parts| rows)
    broadcasts back.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#5")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    branded = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    qi = F.floor(F.col("l_quantity")).cast("bigint")
    stats = branded.groupBy(F.col("l_partkey").alias("sp_partkey")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qi).alias("sum_qty"),
    )
    return (
        branded.join(F.broadcast(stats), branded.l_partkey == F.col("sp_partkey"))
        .filter(F.lit(5) * qi * F.col("n") < F.col("sum_qty"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (
                F.sum(F.floor(F.col("l_extendedprice") * 100).cast("bigint")).cast(
                    "double"
                )
                / 100
                / 7.0
            ).alias("avg_yearly"),
        )
    )


@query
def q_ship_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-class conditional counts after a fact-fact join
    (TPC-H-Q12-style; the testdata has no ``l_shipmode``, so the group
    key is ``l_linestatus`` and the two classes are urgent-vs-other
    order priority).

    Plan shape: lineitem⋈orders is a genuine big-big join — neither
    side broadcasts at 100 TB — so it shuffles once on the order key,
    with the 1996 shipdate filter pushed to the lineitem scan and both
    scans pruned to 3 columns. The CASE counts are partial-aggregated
    map-side; the final exchange carries ≤|linestatus| rows.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .select("l_orderkey", "l_linestatus")
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(urgent, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query
def q_cust_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer distribution by order count, zero-order customers
    included (TPC-H-Q13-style): LEFT OUTER customer⋈orders with a
    predicate on the join's right side, then a two-level aggregate.

    The priority filter must live on ``orders`` BEFORE the outer join
    (a WHERE after it would silently drop the zero-order customers that
    are the point of the query). Both the join and the first groupBy
    key on ``custkey``, so Catalyst reuses the join's hash partitioning
    for the count — one Exchange for the big stage, and the second
    groupBy (``c_count`` → histogram) exchanges ≤|distinct counts| rows.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query
def q_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped more than half of a red part's total 1996
    volume (TPC-H-Q20-style threshold semi-join; adapted — the testdata
    has no partsupp, so "excess availability" becomes "dominant shipper
    of at least one part").

    Scale shape: the ``p_name LIKE 'red%'`` part-list broadcasts into
    the lineitem scan (filter first — ~1/|colors| of the fact rows
    survive), the (supp, part) aggregate shuffles once on its compound
    key, and the per-part totals are re-derived FROM that aggregate
    (≤|parts|·|supps| rows, no second fact scan) and broadcast back.
    The share compare is cross-multiplied in exact int64
    (``2·supp_qty > total``) so no engine-dependent division rounds a
    boundary supplier in or out. Qualifying suppkeys (≤|supplier|)
    broadcast into a semi-join against the dimension.
    """
    p = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
        )
        .select("l_suppkey", "l_partkey", "l_quantity")
    )
    red = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_suppkey", "l_partkey", F.floor("l_quantity").cast("bigint").alias("qi")
    )
    per_sp = red.groupBy("l_suppkey", "l_partkey").agg(F.sum("qi").alias("supp_qty"))
    totals = per_sp.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("supp_qty").alias("total_qty")
    )
    dominant = (
        per_sp.join(F.broadcast(totals), per_sp.l_partkey == F.col("t_partkey"))
        .filter(F.lit(2) * F.col("supp_qty") > F.col("total_qty"))
        .select("l_suppkey")
        .distinct()
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return s.join(
        F.broadcast(dominant), s.s_suppkey == dominant.l_suppkey, "left_semi"
    ).orderBy("s_suppkey")


oracle("q_ship_mode_counts", """
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
    """)

oracle("q_cust_order_distribution", """
        WITH per_cust AS (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT OUTER JOIN orders
              ON c_custkey = o_custkey
             AND o_orderpriority <> '4-NOT SPECIFIED'
            GROUP BY c_custkey
        )
        SELECT c_count, count(*) AS custdist
        FROM per_cust
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """)

oracle("q_excess_shippers", """
        WITH red AS (
            SELECT l_suppkey, l_partkey,
                   CAST(FLOOR(l_quantity) AS BIGINT) AS qi
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_name LIKE 'red%'
              AND l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
        ), per_sp AS (
            SELECT l_suppkey, l_partkey, CAST(SUM(qi) AS BIGINT) AS supp_qty
            FROM red GROUP BY l_suppkey, l_partkey
        ), totals AS (
            SELECT l_partkey AS t_partkey, CAST(SUM(supp_qty) AS BIGINT)
                     AS total_qty
            FROM per_sp GROUP BY l_partkey
        )
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM per_sp JOIN totals ON l_partkey = t_partkey
            WHERE 2 * supp_qty > total_qty
        )
        ORDER BY s_suppkey
    """)

oracle("q_returned_revenue", """
        WITH per_cust AS (
            SELECT o_custkey,
                   SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                            AS BIGINT)) AS cents
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, n_name,
               CAST(CAST(cents AS BIGINT) AS DOUBLE) / 100 AS revenue,
               c_acctbal
        FROM per_cust
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY cents DESC, c_custkey ASC
        LIMIT 20
    """)

oracle("q_priority_semijoin", """
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-10-01'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """)

oracle("q_big_orders", """
        WITH big AS (
            SELECT l_orderkey,
                   CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT)
                     AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) > 300
        )
        SELECT c_custkey, c_name, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_totalprice, sum_qty
        FROM big
        JOIN orders ON big.l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
    """)

oracle("q_disjunctive_parts", """
        SELECT count(*) AS n_items,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                             AS BIGINT)) AS DOUBLE) / 100 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity BETWEEN 1 AND 30
          AND ((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
                  AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
                  AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
                  AND l_quantity BETWEEN 20 AND 30))
    """)

oracle("q_min_cost_supplier", """
        WITH ranked AS (
            SELECT l_partkey, s_suppkey, s_name, s_acctbal,
                   row_number() OVER (PARTITION BY l_partkey
                                      ORDER BY s_acctbal ASC, s_suppkey ASC)
                     AS rn
            FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
            JOIN supplier ON l_suppkey = s_suppkey
        )
        SELECT p_partkey, p_name, s_name, s_acctbal
        FROM ranked JOIN part ON l_partkey = p_partkey
        WHERE rn = 1
    """)

oracle("q_idle_customers", """
        WITH avg_row AS (
            SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
                     / CAST(count(*) AS DOUBLE) AS avg_cents
            FROM customer
        )
        SELECT c_nationkey, count(*) AS n_custs,
               CAST(SUM(CAST(FLOOR((c_acctbal) * 100) AS BIGINT)) AS DOUBLE) / 100
                 AS total_acctbal
        FROM customer, avg_row
        WHERE CAST(CAST(FLOOR(c_acctbal * 100) AS BIGINT) AS DOUBLE) > avg_cents
          AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
    """)

oracle("q_nation_volume", """
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               strftime(l_shipdate, '%Y') AS l_year,
               CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                             AS BIGINT)) AS DOUBLE) / 100 AS revenue
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        WHERE sn.n_name IN ('NATION_1', 'NATION_2')
          AND cn.n_name IN ('NATION_1', 'NATION_2')
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3
    """)

oracle("q_market_share", """
        WITH asia_cust AS (
            SELECT c_custkey FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        ), f AS (
            SELECT strftime(o_orderdate, '%Y') AS o_year,
                   n_name AS supp_nation,
                   CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                        AS BIGINT) AS cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN asia_cust ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
        )
        SELECT o_year,
               CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_5'
                                  THEN cents ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) AS mkt_share,
               CAST(CAST(SUM(cents) AS BIGINT) AS DOUBLE) / 100 AS total_revenue
        FROM f GROUP BY o_year
    """)

oracle("q_top_supplier", """
        WITH per_supp AS (
            SELECT l_suppkey,
                   CAST(SUM(CAST(FLOOR((l_extendedprice * (1 - l_discount)) * 100)
                                 AS BIGINT)) AS BIGINT) AS cents
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        ), mx AS (SELECT max(cents) AS max_cents FROM per_supp)
        SELECT s_suppkey, s_name, CAST(cents AS DOUBLE) / 100 AS total_revenue
        FROM per_supp, mx
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE cents = max_cents
    """)

oracle("q_avg_yearly", """
        WITH branded AS (
            SELECT l_partkey, CAST(FLOOR(l_quantity) AS BIGINT) AS qi,
                   l_extendedprice
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand = 'Brand#5'
        ), stats AS (
            SELECT l_partkey AS sp_partkey, count(*) AS n,
                   CAST(SUM(qi) AS BIGINT) AS sum_qty
            FROM branded GROUP BY l_partkey
        )
        SELECT count(*) AS n_items,
               CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
                 / 100 / 7.0 AS avg_yearly
        FROM branded JOIN stats ON l_partkey = sp_partkey
        WHERE 5 * qi * n < sum_qty
    """)

