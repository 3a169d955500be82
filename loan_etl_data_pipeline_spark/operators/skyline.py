"""Pareto frontier (skyline) over two minimized criteria.

The skyline query — rows not dominated by any other row — has no Spark
built-in; the naive formulation is a quadratic NOT EXISTS self-join.
For the 2-D minimizing case there is a sort-based linear form: order by
x ascending and keep a row iff its y is strictly below every y seen at
a smaller x (the running minimum). The frontier is exactly the strictly
decreasing staircase of the running min.

Distribution follows the ``global_rank`` playbook (functions/ranking.py)
rather than a single-partition window: range-partition on x, compute
each partition's local running min with an ordinary window, and stitch
partitions together with a driver-side prefix of per-partition minima
(``nparts`` scalars — trivially collectable at any scale). No Exchange
SinglePartition anywhere, so the plan survives a 100× scale-up; the
only shuffles are the per-x min aggregation and the range partitioning.

Reference scope note: the reference engine (pyspark_etl.py) has no
skyline support; this is EXT-mandate analytics surface (multi-criteria
candidate selection, e.g. cheapest-and-smallest parts, shortest-and-
highest-quality documents).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.session import pin


def pareto_frontier_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """All rows of ``df`` on the minimizing Pareto frontier of
    ``(x_col, y_col)``: rows for which no other row is <= on both
    criteria and strictly < on at least one. Duplicate (x, y) points
    do not dominate each other — every copy of a frontier point is
    returned (matching the NOT EXISTS dominance definition).

    Exact comparisons only (no arithmetic on the values), so the
    result is engine-portable for any orderable column types.
    """
    agg = df.groupBy(x_col).agg(F.min(y_col).alias("__miny"))
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    # pinned: the driver-side prefix below is computed from THIS range
    # partitioning, so the frontier pass must read the same
    # materialization (a recomputed range exchange re-samples its
    # boundaries); the caller's intermediates() scope releases it
    ranged = pin(
        agg.repartitionByRange(nparts, F.asc(x_col))
        .sortWithinPartitions(F.asc(x_col))
        .withColumn("__pid", F.spark_partition_id()),
        StorageLevel.MEMORY_AND_DISK,
    )
    # nparts scalars: the minimum __miny of every partition, used to
    # seed each partition's running min with everything to its left.
    pid_mins = {
        r["__pid"]: r["m"]
        for r in ranged.groupBy("__pid").agg(F.min("__miny").alias("m")).collect()
    }
    prefix: dict[int, object] = {}
    best = None
    for pid in sorted(pid_mins):
        prefix[pid] = best  # min over all partitions strictly before pid
        m = pid_mins[pid]
        if m is not None:  # all-null-y partitions contribute nothing
            best = m if best is None else min(best, m)
    if not prefix:
        return df.limit(0)
    y_type = agg.schema["__miny"].dataType
    whens = [
        F.when(F.col("__pid") == pid, F.lit(v))
        for pid, v in sorted(prefix.items())
        if v is not None
    ]
    prefix_expr = (
        F.coalesce(*whens, F.lit(None).cast(y_type))
        if whens
        else F.lit(None).cast(y_type)
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.asc(x_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # least() skips nulls: null only when BOTH the in-partition running
    # min and the cross-partition prefix are empty (global first row).
    frontier_x = (
        ranged.withColumn(
            "__prev", F.least(F.min("__miny").over(w), prefix_expr)
        )
        .filter(F.col("__prev").isNull() | (F.col("__miny") < F.col("__prev")))
        .select(x_col, "__miny")
    )
    fx = frontier_x.select(
        F.col(x_col).alias("__fx"), F.col("__miny").alias("__fy")
    )
    return df.join(
        F.broadcast(fx),
        (F.col(x_col) == F.col("__fx")) & (F.col(y_col) == F.col("__fy")),
    ).drop("__fx", "__fy")
