"""Fleet-wide plan invariants: the house discipline, machine-checked.

The engine's standing claims — no row-at-a-time Python UDFs anywhere,
no cartesian products, every Python stage Arrow-batched — are enforced
on the physical plan of EVERY registered query through the structured
auditor (plans/audit.py).  The oracle-backed queries are audited by the
parity check itself (``_oracle_parity_common.run_parity``) on the
DataFrame it already builds; this file audits the rows-only queries
(no oracle, so no parity run), proves the two sets cover the registry,
and keeps the positive controls that prove the auditor is not vacuous.
"""

from __future__ import annotations

import pytest

from loan_etl_data_pipeline_spark.plans.audit import plan_health
from loan_etl_data_pipeline_spark.queries import all_oracles, all_queries
from loan_etl_data_pipeline_spark.session import intermediates

QUERIES = all_queries()
ROWS_ONLY = [n for n in QUERIES if n not in all_oracles()]


def test_shards_partition_every_query():
    """Oracle-backed names (audited in run_parity) and rows-only names
    (audited below) must together be EXACTLY the registry — no plan
    escapes the auditor."""
    oracles = set(all_oracles())
    assert oracles | set(ROWS_ONLY) == set(QUERIES)
    assert not oracles & set(ROWS_ONLY)
    assert len(ROWS_ONLY) == 14


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_plan_invariants(name, spark, sf_dir):
    with intermediates():
        h = plan_health(QUERIES[name](spark, sf_dir))
    assert not h["cartesian_products"], h
    assert not h["row_udf_stages"], "BatchEvalPythonExec (row-at-a-time UDF)"


def test_invariant_detectors_are_not_vacuous(spark):
    """Positive controls: the auditor must FLAG a deliberately bad plan
    — a hand-rolled tree walk that silently misses the AQE root passed
    everything (the failure this test exists to prevent recurring)."""
    import pyspark.sql.functions as F
    from pyspark.sql.functions import udf

    bad_udf = spark.range(5).select(
        udf(lambda x: x + 1, "long")(F.col("id")).alias("y")
    )
    assert plan_health(bad_udf)["row_udf_stages"] >= 1

    cart = spark.range(3).join(spark.range(3).withColumnRenamed("id", "j"))
    h = plan_health(cart)
    assert h["cartesian_products"] + h["nested_loop_joins"] >= 1
