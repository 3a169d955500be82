"""Structured plan-health report (plans/audit.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.plans.audit import plan_health


def test_broadcast_star_join_counts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    df = (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    h = plan_health(df)
    assert h["broadcast_joins"] == 1
    assert h["sort_merge_joins"] == 0
    assert h["cartesian_products"] == 0
    assert h["exchanges"] == 1  # the final agg only
    assert h["scans"] == 2
    assert h["pushed_filter_scans"] >= 1  # the priority filter reached parquet


def test_cartesian_and_python_stage_detected(spark):
    a = spark.range(3)
    b = spark.range(3)
    h = plan_health(a.crossJoin(b))
    assert h["cartesian_products"] + h["nested_loop_joins"] >= 1

    def ident(it):
        yield from it

    h2 = plan_health(spark.range(3).mapInPandas(ident, schema="id long"))
    assert h2["python_stages"] == 1


def test_cached_relation_counted_once_not_inlined(spark, sf_dir):
    from loan_etl_data_pipeline_spark.session import intermediates, pin

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    with intermediates():
        agg = pin(o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n")))
        # two consumers of the cache: its build-plan exchange must NOT
        # leak into the live counts (the raw-string pitfall this
        # utility exists to remove)
        df = agg.crossJoin(F.broadcast(agg.agg(F.sum("n").alias("t"))))
        h = plan_health(df)
        assert h["cached_relations"] == 2
        assert h["exchanges"] <= 1  # only the scalar-agg side, if any


def test_engine_query_shapes(spark, sf_dir):
    """The report reproduces pinned shapes of registered queries."""
    from loan_etl_data_pipeline_spark.queries import all_queries

    qs = all_queries()
    h = plan_health(qs["q_amortization"](spark, sf_dir))
    assert h["python_stages"] == 0 and h["exchanges"] == 1 and h["scans"] == 1
    h2 = plan_health(qs["q_dtw_shape"](spark, sf_dir))
    assert h2["python_stages"] == 1 and h2["cached_relations"] == 2


def test_spatial_nn_pairs_built_once(spark, sf_dir):
    """The symmetrizing union reads ONE cached pair join (unpersisted,
    the exploded join + distance filter would execute per branch)."""
    from loan_etl_data_pipeline_spark.queries import all_queries
    from loan_etl_data_pipeline_spark.session import intermediates

    with intermediates():
        h = plan_health(all_queries()["q_spatial_nn"](spark, sf_dir))
        assert h["cached_relations"] == 2  # both union branches hit the cache
        assert h["cartesian_products"] == 0


def test_aqe_final_plan_reflected_after_execution(spark):
    """ADVICE r4: once a query has run, plan_health must walk AQE's
    FINAL plan — a runtime SMJ→BHJ conversion is visible post-collect,
    while the pre-execution audit still reports the static SMJ guess."""
    conf = spark.conf
    old_static = conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_adapt = conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None
    )
    try:
        # static planner: never broadcast; AQE runtime: broadcast small
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        a = spark.range(0, 10000).withColumnRenamed("id", "k")
        b = (
            spark.range(0, 10000)
            .filter("id % 997 = 0")  # tiny at runtime, unknown statically
            .withColumnRenamed("id", "k")
        )
        j = a.join(b, "k").agg(F.count(F.lit(1)).alias("n"))
        before = plan_health(j)
        assert before["sort_merge_joins"] >= 1
        assert before["broadcast_joins"] == 0
        j.collect()
        after = plan_health(j)
        assert after["broadcast_joins"] >= 1, after
        assert after["sort_merge_joins"] == 0, after
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_static)
        if old_adapt is None:
            conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_adapt
            )
