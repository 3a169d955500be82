"""Distributed global rank / ntile (functions/ranking.py): equivalence
with the single-partition window forms, and the plan guarantee that no
consumer compiles to Exchange SinglePartition."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from loan_etl_data_pipeline_spark.functions.ranking import (
    global_rank,
    ntile_from_rank,
)
from loan_etl_data_pipeline_spark.session import intermediates


@pytest.fixture(scope="module")
def scored(spark):
    # duplicate scores on purpose: the id tie-break must settle them
    rows = [(i, (i * 13) % 7) for i in range(97)]
    return spark.createDataFrame(rows, "id long, score long")


def test_rank_matches_single_partition_window(spark, scored):
    want = {
        r["id"]: r["rk"]
        for r in scored.withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("score"), F.asc("id"))),
        ).collect()
    }
    ranked = global_rank(
        scored, [F.desc("score"), F.asc("id")], rank_col="rk", total_col="nt"
    )
    rows = ranked.collect()
    got = {r["id"]: r["rk"] for r in rows}
    assert got == want
    assert {r["nt"] for r in rows} == {97}  # total rides a constant column


def test_rank_partitioning_invariant(spark, scored):
    a = global_rank(scored, [F.asc("score"), F.asc("id")], rank_col="rk")
    b = global_rank(
        scored.repartition(13), [F.asc("score"), F.asc("id")], rank_col="rk"
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_ntile_matches_builtin(spark, scored):
    for t in (1, 4, 7, 96, 97, 200):
        want = {
            r["id"]: r["nt"]
            for r in scored.withColumn(
                "nt",
                F.ntile(t).over(Window.orderBy(F.asc("score"), F.asc("id"))),
            ).collect()
        }
        ranked = global_rank(
            scored,
            [F.asc("score"), F.asc("id")],
            rank_col="rk",
            total_col="n_total",
        )
        # column-n path (the opt-r8 default for consumers)
        got = {
            r["id"]: r["nt"]
            for r in ranked.withColumn(
                "nt", ntile_from_rank(F.col("rk"), F.col("n_total"), t)
            ).collect()
        }
        assert got == want, f"t={t} (column n)"
        # int-n path must agree with the column path
        got_int = {
            r["id"]: r["nt"]
            for r in ranked.withColumn(
                "nt", ntile_from_rank(F.col("rk"), 97, t)
            ).collect()
        }
        assert got_int == want, f"t={t} (int n)"


def test_ntile_validation_and_empty(spark):
    with pytest.raises(ValueError, match="positive"):
        ntile_from_rank(F.col("x"), 10, 0)
    empty = spark.createDataFrame([], "id long, score long")
    ranked = global_rank(empty, [F.asc("score"), F.asc("id")])
    assert ranked.count() == 0
    assert ranked.columns == ["id", "score", "rank"]


def test_no_single_partition_exchange_in_consumers(spark, sf_dir):
    """The scale guarantee itself: ranking consumers must not compile to
    Exchange SinglePartition anywhere in their physical plans."""
    from loan_etl_data_pipeline_spark.queries import (
        q_mean_token_rank,
        q_rfm_segments,
    )

    for q in (q_mean_token_rank, q_rfm_segments):
        plan = q(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, f"{q.__name__}:\n{plan[:2000]}"


def test_equidepth_bucketing_is_balanced(spark):
    """q_equidepth_hist's bucket arithmetic: ((rank-1)*B) div n gives
    bucket sizes within 1 of each other and contiguous value ranges."""
    import pyspark.sql.functions as F
    from loan_etl_data_pipeline_spark.functions.ranking import global_rank
    from loan_etl_data_pipeline_spark.session import intermediates

    df = spark.range(103).select(
        (F.col("id") * 37 % 103).alias("v"), F.col("id").alias("k")
    )
    with intermediates():
        ranked = global_rank(df, [F.asc("v"), F.asc("k")], total_col="nt")
        out = (
            ranked.withColumn(
                "bucket", F.expr("cast(((rank - 1) * 8) div nt as bigint)")
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("v").alias("lo"),
                F.max("v").alias("hi"),
            )
        )
        rows = sorted(out.collect(), key=lambda r: r["bucket"])
    assert [r["bucket"] for r in rows] == list(range(8))
    sizes = [r["cnt"] for r in rows]
    assert sum(sizes) == 103 and max(sizes) - min(sizes) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] <= b["lo"]  # contiguous, non-overlapping ranges


# ---- quantile_normalize ------------------------------------------------


def test_quantile_normalize_equalizes_distributions(spark):
    from loan_etl_data_pipeline_spark.functions.ranking import (
        quantile_normalize,
    )

    # source a: values 1..10; source b: values 101..110 (shifted scale).
    # After normalization both sources draw from the POOLED order
    # statistics and equal within-group quantiles map to equal values.
    rows = [(i, "a", i) for i in range(1, 11)] + [
        (100 + i, "b", 100 + i) for i in range(1, 11)
    ]
    df = spark.createDataFrame(rows, ["id", "src", "v"])
    out = {
        (r["src"], r["v"]): r["norm"]
        for r in quantile_normalize(df, "v", "src", "id").collect()
    }
    # same within-group rank → identical normalized value across groups
    for i in range(1, 11):
        assert out[("a", i)] == out[("b", 100 + i)], i
    # normalized values come from the pooled value multiset
    pooled = {v for _, v in [(r[0], r[2]) for r in rows]}
    assert set(out.values()) <= set(pooled)


def test_quantile_normalize_identity_on_single_source(spark):
    from loan_etl_data_pipeline_spark.functions.ranking import (
        quantile_normalize,
    )

    # one group: within-group rank == pooled rank and the midpoint
    # index is the rank itself → norm == v for odd N... assert exactly:
    # j = ceil((2r-1)N / 2N) = r  ⇒ identity for ANY N
    rows = [(i, "a", 5 * i + 3) for i in range(1, 14)]
    df = spark.createDataFrame(rows, ["id", "src", "v"])
    out = quantile_normalize(df, "v", "src", "id").collect()
    assert all(r["norm"] == r["v"] for r in out)


def test_quantile_normalize_partitioning_invariant(spark):
    from loan_etl_data_pipeline_spark.functions.ranking import (
        quantile_normalize,
    )

    rows = [(i, f"s{i % 3}", (i * 37) % 101) for i in range(300)]
    df = spark.createDataFrame(rows, ["id", "src", "v"])
    a = sorted(map(tuple, quantile_normalize(df, "v", "src", "id").collect()))
    b = sorted(
        map(
            tuple,
            quantile_normalize(
                df.repartition(13), "v", "src", "id"
            ).collect(),
        )
    )
    assert a == b


def test_global_rank_plan_shape(spark, scored):
    """Opt r8 guarantees, pinned at the plan level:

    1. no driver action at build time (global_rank is fully lazy —
       the pre-r8 form collected per-partition counts at build);
    2. NO window anywhere (the pre-r8 row_number-over-partition-id
       window forced a second full-data hash Exchange), and no
       Exchange SinglePartition;
    3. both branches (offsets and rows) read the ONE persisted
       range-shuffled frame — InMemoryTableScan appears at least
       twice; a fresh range exchange per branch would re-sample
       boundaries and desynchronize offsets from positions.
    """
    tracker = spark.sparkContext.statusTracker()
    with intermediates():
        jobs_before = len(tracker.getJobIdsForGroup(None) or [])
        ranked = global_rank(
            scored, [F.asc("score"), F.asc("id")], rank_col="rk"
        )
        jobs_after = len(tracker.getJobIdsForGroup(None) or [])
        assert jobs_after == jobs_before, "global_rank must not run jobs at build"
        ranked.collect()
        plan = ranked._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final, f"window form crept back:\n{final[:3000]}"
    assert "SinglePartition" not in final, final[:3000]
    # the only range exchange lives INSIDE the persisted frame's cache
    # build plan — the rows branch must scan the cache, not re-shuffle
    # (the broadcast/offsets branch is not printed inline by AQE, so
    # its cache read is covered behaviorally by
    # test_global_rank_consistent_under_pruned_multi_consumption)
    assert "InMemoryTableScan" in final, final[:3000]
    range_lines = [
        ln for ln in final.splitlines() if "Exchange rangepartitioning" in ln
    ]
    assert len(range_lines) <= 1, (
        f"rows branch re-shuffled instead of reading the cache:"
        f"\n{final[:3000]}"
    )


def test_global_rank_consistent_under_pruned_multi_consumption(spark):
    """Regression (opt r8): a rank output consumed through DIFFERENT
    projections must yield one consistent ranking. Column pruning
    narrows each consumer's copy of the plan differently; without the
    shared persisted shuffle, exchange reuse fails on the diverged
    canonical plans and each consumer's offsets come from an
    independently re-sampled range exchange — observed as
    intermittently corrupted ranks (q_ansari_bradley, q_bowker)."""
    df = spark.range(0, 5000).selectExpr(
        "id",
        "cast((id * 7919) % 1000 as long) AS v",
        "cast(id % 7 as long) AS payload",
    )
    with intermediates():
        ranked = global_rank(df, [F.asc("v"), F.asc("id")], rank_col="rk")
        # consumer A: needs payload; consumer B: rank only (prunes payload)
        a = ranked.groupBy("payload").agg(F.sum("rk").alias("s"))
        b = ranked.agg(F.sum("rk").alias("t"))
        joined = a.agg(F.sum("s").alias("sa")).crossJoin(b).collect()[0]
    n = 5000
    assert joined["sa"] == joined["t"] == n * (n + 1) // 2


def test_global_cumsum_null_raises_at_action(spark):
    """The NULL guard moved from a driver-side pre-scan (an extra job)
    to a row-level assert (opt r8): same loud failure, now at action
    time."""
    from loan_etl_data_pipeline_spark.functions.ranking import global_cumsum

    df = spark.createDataFrame([(1, None), (2, 5)], "k bigint, a bigint")
    out = global_cumsum(df, [F.asc("k")], "a")
    with pytest.raises(Exception, match="NULL"):
        out.collect()


def test_exclusive_offsets_two_level_matches_quadratic(spark):
    """Opt r9: above _QUADRATIC_OFFSETS_MAX_PARTS the offsets fan-out
    switches to the two-level block decomposition (O(nparts^1.5)
    intermediate rows instead of nparts²). Both forms must produce
    identical exclusive prefixes and totals — checked against a plain
    Python prefix sum, on a sparse pid set (not every partition has
    rows) and a partial last block."""
    import random

    from loan_etl_data_pipeline_spark.functions.ranking import (
        _QUADRATIC_OFFSETS_MAX_PARTS,
        _exclusive_offsets,
    )

    rng = random.Random(7)
    for nparts in (97, _QUADRATIC_OFFSETS_MAX_PARTS + 1, 300, 1000):
        pids = sorted(rng.sample(range(nparts), min(nparts, 61)))
        rows = [(p, rng.randrange(0, 1000), rng.randrange(0, 50)) for p in pids]
        counts = spark.createDataFrame(
            rows, "__pid int, __c1 long, __c2 long"
        )
        got = {
            r["__pid"]: (r["off1"], r["n1"], r["off2"])
            for r in _exclusive_offsets(
                counts,
                nparts,
                [("__c1", "off1", "n1"), ("__c2", "off2", None)],
            ).collect()
        }
        tot1 = sum(v1 for _, v1, _ in rows)
        for p, _, _ in rows:
            want1 = sum(v1 for q, v1, _ in rows if q < p)
            want2 = sum(v2 for q, _, v2 in rows if q < p)
            assert got[p] == (want1, tot1, want2), (nparts, p)


def test_exclusive_offsets_two_level_plan_clean(spark):
    """The two-level path must keep the module's plan guarantees: no
    Window, no Exchange SinglePartition anywhere."""
    from loan_etl_data_pipeline_spark.functions.ranking import (
        _exclusive_offsets,
    )

    counts = spark.createDataFrame(
        [(i * 3, i + 1) for i in range(200)], "__pid int, __c long"
    )
    out = _exclusive_offsets(counts, 600, [("__c", "off", "n")])
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final, final[:2000]
    assert "SinglePartition" not in final, final[:2000]
