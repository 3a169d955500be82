"""Resumable iterative loops (plans/iterative.py)."""

import os
import tempfile

import pyspark.sql.functions as F
import pytest

from loan_etl_data_pipeline_spark.plans.iterative import resumable_loop


def _edges(spark):
    # path 1-2-3-4-5-6 plus a chord 1-6
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (1, 6)]
    df = spark.createDataFrame(pairs, "u bigint, v bigint")
    return df.union(df.select(F.col("v").alias("u"), F.col("u").alias("v")))


def _bfs_parts(spark):
    e = _edges(spark).localCheckpoint()

    def init():
        return (
            spark.createDataFrame([(1,)], "id bigint")
            .withColumn("hops", F.lit(0).cast("bigint"))
        )

    def step(state, k):
        frontier = state.filter(F.col("hops") == k - 1).select("id")
        nxt = (
            frontier.join(e, frontier["id"] == e["u"])
            .select(F.col("v").alias("id"))
            .distinct()
            .join(state.select("id"), "id", "left_anti")
            .withColumn("hops", F.lit(k).cast("bigint"))
        )
        return state.union(nxt)

    return init, step


def test_straight_run_matches_operator(spark):
    from loan_etl_data_pipeline_spark.operators.graph import bfs_hops

    init, step = _bfs_parts(spark)
    d = tempfile.mkdtemp()
    got = sorted(
        map(tuple, resumable_loop(spark, d, init=init, step=step, rounds=3).collect())
    )
    seeds = spark.createDataFrame([(1,)], "id bigint")
    want = sorted(
        map(
            tuple,
            bfs_hops(_edges(spark), "u", "v", seeds=seeds, max_hops=3).collect(),
        )
    )
    assert got == want
    # one marker per round incl. round 0
    assert sorted(
        n for n in os.listdir(d) if n.startswith("_COMMITTED_")
    ) == ["_COMMITTED_0000", "_COMMITTED_0001", "_COMMITTED_0002", "_COMMITTED_0003"]


def test_crash_and_resume_is_bit_identical(spark):
    init, step = _bfs_parts(spark)
    d_straight, d_crash = tempfile.mkdtemp(), tempfile.mkdtemp()
    want = sorted(
        map(
            tuple,
            resumable_loop(
                spark, d_straight, init=init, step=step, rounds=3
            ).collect(),
        )
    )
    # "crash" after round 1, then resume to 3
    resumable_loop(spark, d_crash, init=init, step=step, rounds=1).collect()

    calls = []

    def counting_step(state, k):
        calls.append(k)
        return step(state, k)

    got = sorted(
        map(
            tuple,
            resumable_loop(
                spark, d_crash, init=init, step=counting_step, rounds=3
            ).collect(),
        )
    )
    assert got == want
    assert calls == [2, 3]  # rounds 0-1 restored, never re-run


def test_uncommitted_round_is_ignored(spark):
    init, step = _bfs_parts(spark)
    d = tempfile.mkdtemp()
    resumable_loop(spark, d, init=init, step=step, rounds=1).collect()
    # fake a crashed round-2 write: parquet dir present, no marker
    os.makedirs(os.path.join(d, "round=0002"))
    calls = []

    def counting_step(state, k):
        calls.append(k)
        return step(state, k)

    resumable_loop(spark, d, init=init, step=counting_step, rounds=3).collect()
    assert calls == [2, 3]  # resumed from round 1, not the torn round 2


def test_empty_round_state_commits_and_resumes(spark):
    """A round whose state has no rows still commits a directory the
    footer-schema open can read (Spark writes one empty part file
    carrying the schema), and a resume starts from it."""
    _, step = _bfs_parts(spark)

    def init():
        return spark.range(0).select("id", F.lit(0).cast("bigint").alias("hops"))

    d = tempfile.mkdtemp()
    resumable_loop(spark, d, init=init, step=step, rounds=1).collect()
    calls = []

    def counting_step(state, k):
        calls.append(k)
        return step(state, k)

    out = resumable_loop(spark, d, init=init, step=counting_step, rounds=3)
    assert out.collect() == []
    assert out.schema.simpleString() == "struct<id:bigint,hops:bigint>"
    assert calls == [2, 3]


def test_validates_args(spark):
    init, step = _bfs_parts(spark)
    with pytest.raises(ValueError):
        resumable_loop(spark, tempfile.mkdtemp(), init=init, step=step, rounds=0)
