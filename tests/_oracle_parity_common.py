"""Shared harness for the sharded oracle-parity gate.

Local replica of the driver's correctness gate: for every query that
declares an oracle, run the PySpark implementation and the DuckDB SQL
side-by-side on the sf0.001 tables and compare row count, column names,
and the order-insensitive multiset of values — EXACTLY (floats
bit-for-bit, which is what the driver's value-hash needs).

VERDICT r5 ask #2: the single ``test_oracle_parity.py`` (797 tests,
756 s) was the whole suite's critical path under ``tests/partest.py``
(which schedules per FILE).  The per-query parity checks are therefore
hash-sharded across ``test_oracle_parity_{0..3}.py`` — each shard is an
ordinary pytest file partest can run concurrently — while this module
holds the one copy of the comparison logic.  ``zlib.crc32`` (stable
across processes, unlike built-in ``hash``) decides membership, and
``test_oracle_parity.py::test_shards_partition_every_oracle`` asserts
the shards are an exact partition, so no query can silently drop out.
"""

from __future__ import annotations

import datetime
import math
import zlib

import duckdb
import pytest

from loan_etl_data_pipeline_spark.queries import all_oracles, all_queries
from loan_etl_data_pipeline_spark.sources.tables import TABLES

ORACLES = all_oracles()
QUERIES = all_queries()
N_SHARDS = 4


def shard_names(shard: int) -> list[str]:
    """The sorted oracle names whose crc32 lands in this shard."""
    return [
        n
        for n in sorted(ORACLES)
        if zlib.crc32(n.encode()) % N_SHARDS == shard
    ]


def _norm(v):
    if isinstance(v, float):
        # repr is exact for doubles; normalize -0.0 and NaN
        if math.isnan(v):
            return "NaN"
        return repr(v + 0.0)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def _rows_to_multiset(colnames, rows):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def make_duck_fixture():
    """A module-scoped DuckDB connection with the SF views registered —
    each shard file instantiates its own so partest subprocesses never
    share a connection."""

    @pytest.fixture(scope="module")
    def duck(sf_dir):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        yield con
        con.close()

    return duck


def run_parity(name: str, spark, sf_dir: str, duck) -> None:
    """Build the query inside one ``intermediates()`` scope, audit its
    plan (no cartesian product, no row-at-a-time Python UDF stage),
    collect it, and — after the scope closes — require the session's
    CacheManager to be empty again: every intermediate the query pinned
    must belong to the scope."""
    from loan_etl_data_pipeline_spark.plans.audit import plan_health
    from loan_etl_data_pipeline_spark.queries import DRIVER_SF_DIR
    from loan_etl_data_pipeline_spark.session import intermediates

    spark.catalog.clearCache()
    with intermediates():
        sdf = QUERIES[name](spark, sf_dir)
        h = plan_health(sdf)
        assert not h["cartesian_products"], (
            f"{name}: cartesian_products={h['cartesian_products']}"
        )
        assert not h["row_udf_stages"], (
            f"{name}: BatchEvalPythonExec (row-at-a-time UDF)"
        )
        if name == "q_file_health" and sf_dir.rstrip("/") != DRIVER_SF_DIR:
            # its oracle reads physical files by path at the driver's
            # pinned dir (filenames aren't reachable through the views);
            # parity holds only when this replica runs at that SF — the
            # driver gate itself always does
            pytest.skip("q_file_health oracle pins the driver's SF paths")
        spark_cols = sdf.columns
        spark_rows = sdf.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name}: a cached intermediate outlived its intermediates() scope"
    )

    res = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    s_ms = _rows_to_multiset(spark_cols, [tuple(r) for r in spark_rows])
    d_ms = _rows_to_multiset(duck_cols, duck_rows)
    if s_ms != d_ms:
        diffs = [(a, b) for a, b in zip(s_ms, d_ms) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
