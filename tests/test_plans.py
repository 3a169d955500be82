"""Physical-plan shape regression tests — the 100 TB design assertions.

Correctness tests prove the answers right at small SF; these prove the
PLANS stay right at any SF: filters and projections reach the parquet
scan (the difference between reading 4 columns of a date range and the
whole table), small dimensions broadcast (zero shuffle of the fact
side), big⋈big joins take a shuffle join, and aggregations are
partial+final (map-side combine). A refactor that silently breaks one
of these still passes every value test — this file is what catches it.
"""

from __future__ import annotations

import os

import pytest

from loan_etl_data_pipeline_spark.queries import (
    q_filter_project,
    q_order_revenue,
    q_orders_by_priority,
    q_promo_revenue,
    q_region_rollup,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_pushdown(spark, sf_dir):
    plan = _formatted(q_filter_project(spark, sf_dir))
    assert "PushedFilters:" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must read only the 4 referenced columns
    read_schema = next(l for l in plan.splitlines() if "ReadSchema:" in l)
    for col in ("l_shipdate", "l_discount", "l_returnflag", "l_extendedprice"):
        assert col in read_schema
    assert "l_comment" not in read_schema and "l_quantity" not in read_schema


def test_small_dims_broadcast(spark, sf_dir):
    plan = _plan(q_region_rollup(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_fact_dim_broadcast(spark, sf_dir):
    plan = _plan(q_promo_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_big_big_join_shuffles(spark, sf_dir):
    """At test SF the optimizer rightly broadcasts the tiny orders side;
    what must hold at 100 TB is the degradation path: with no broadcast
    candidate (threshold off, as when both sides are huge) the equi-join
    becomes a shuffle join on the key — never a nested loop."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan(q_order_revenue(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan)
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_agg_is_partial_final(spark, sf_dir):
    plan = _plan(q_orders_by_priority(spark, sf_dir))
    # two HashAggregates (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


class TestSqlEntryPoint:
    def test_register_tables_views_match_load_table(self, spark, sf_dir):
        from loan_etl_data_pipeline_spark.sources.tables import (
            TABLES,
            load_table,
            register_tables,
        )

        register_tables(spark, sf_dir)
        for t in ("lineitem", "events"):
            via_sql = spark.sql(f"SELECT * FROM {t}")
            assert via_sql.schema == load_table(spark, sf_dir, t).schema
        assert spark.sql("SELECT count(*) AS n FROM region").collect()[0]["n"] > 0
        assert set(TABLES) <= {
            r["viewName"] for r in spark.sql("SHOW VIEWS").collect()
        }

    def test_tune_session_idempotent_and_respects_explicit_confs(self, spark):
        from loan_etl_data_pipeline_spark.sources.tables import tune_session

        before = spark.conf.get("spark.sql.shuffle.partitions")
        tune_session(spark)
        tune_session(spark)
        # conftest sets shuffle_partitions=8 explicitly — an explicit
        # non-default must never be overridden
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def _inferred_table(spark, sf_dir, name):
    """What ``load_table`` returned when it let Spark infer the schema:
    ``spark.read.parquet`` plus the same ``events.ts`` dispatch."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name != "events":
        return df
    if dict(df.dtypes)["ts"] == "bigint":
        return df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))


def _multipart(spark, path, parts=3):
    """A Spark-written flat directory of ``parts`` part files whose
    columns cover nested, decimal, temporal and non-nullable types."""
    spark.range(0, 60, 1, parts).selectExpr(
        "id",
        "cast(id * 7 as int) AS n",
        "cast(id / 3 as decimal(12, 2)) AS amount",
        "concat('k', cast(id as string)) AS key",
        "timestamp_micros(id * 1000003) AS ts",
        "cast(timestamp_micros(id) as timestamp_ntz) AS ts_ntz",
        "date_add(date'2024-01-01', cast(id as int)) AS d",
        "array(id, id + 1) AS xs",
        "named_struct('a', id, 'b', cast(id as string)) AS st",
        "map('m', cast(id as double)) AS mp",
        "cast(cast(id as string) as binary) AS raw",
    ).write.mode("overwrite").parquet(path)


class TestFooterSchema:
    """``load_table`` reads each table's schema from one parquet footer
    on the driver; it must equal what Spark's inference job returns."""

    def test_every_table_matches_inference(self, spark, sf_dir):
        from loan_etl_data_pipeline_spark.sources.tables import TABLES, load_table

        # the test sf_dir plus its sibling sf0.01 / sf0.1 dirs, when present
        root = os.path.dirname(sf_dir.rstrip("/"))
        siblings = (os.path.join(root, sf) for sf in ("sf0.01", "sf0.1"))
        dirs = [sf_dir] + [
            d for d in siblings if os.path.isdir(d) and d != sf_dir.rstrip("/")
        ]
        for d in dirs:
            for t in TABLES:
                got = load_table(spark, d, t).schema
                assert got == _inferred_table(spark, d, t).schema, (d, t)

    def test_spark_written_multipart_directory(self, spark, tmp_path):
        from loan_etl_data_pipeline_spark.sources.tables import load_table

        path = str(tmp_path / "mixed.parquet")
        _multipart(spark, path)
        parts = [n for n in os.listdir(path) if n.endswith(".parquet")]
        assert len(parts) == 3
        df = load_table(spark, str(tmp_path), "mixed")
        assert df.schema == spark.read.parquet(path).schema
        assert df.count() == 60

    def test_versioned_snapshot(self, spark, tmp_path):
        from loan_etl_data_pipeline_spark.sources.versioned import (
            read_version,
            write_version,
        )

        src = str(tmp_path / "src.parquet")
        _multipart(spark, src)
        table_dir = str(tmp_path / "tbl")
        assert write_version(spark.read.parquet(src), table_dir) == 1
        snap = read_version(spark, table_dir)
        assert snap.schema == spark.read.parquet(f"{table_dir}/v00000001").schema
        assert snap.count() == 60

    def test_opening_tables_runs_no_job(self, spark, sf_dir):
        from loan_etl_data_pipeline_spark.sources.tables import (
            TABLES,
            load_table,
            register_tables,
        )

        sc = spark.sparkContext
        group = "test-open-tables-no-job"
        sc.setJobGroup(group, group)
        try:
            for t in TABLES:
                load_table(spark, sf_dir, t)
            register_tables(spark, sf_dir)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    def test_nested_directory_raises(self, spark, tmp_path):
        from loan_etl_data_pipeline_spark.sources.tables import load_table

        path = tmp_path / "nested.parquet"
        _multipart(spark, str(path / "part=1"), parts=1)
        with pytest.raises(ValueError, match="nested.parquet"):
            load_table(spark, str(tmp_path), "nested")
