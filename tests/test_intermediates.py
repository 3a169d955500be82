"""The ``session.intermediates()`` scope and ``session.pin``: the one
lifecycle for cached intermediates. Checked against Spark's own
CacheManager (``DataFrame.storageLevel`` looks the plan up there)."""

from __future__ import annotations

import pytest
from pyspark import StorageLevel

from loan_etl_data_pipeline_spark.session import intermediates, pin


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def test_pin_keeps_the_requested_storage_level(spark):
    with intermediates():
        default = pin(spark.range(101))
        disk = pin(spark.range(102), StorageLevel.MEMORY_AND_DISK)
        # DataFrame.persist()'s own default
        assert default.storageLevel == StorageLevel.MEMORY_AND_DISK_DESER
        assert disk.storageLevel == StorageLevel.MEMORY_AND_DISK


def test_nested_scopes_release_only_their_own_handles(spark):
    with intermediates():
        outer = pin(spark.range(111))
        with intermediates():
            inner = pin(spark.range(112))
            assert _cached(outer) and _cached(inner)
        assert not _cached(inner)
        assert _cached(outer)
        later = pin(spark.range(113))  # back in the outer scope
    assert not _cached(outer)
    assert not _cached(later)


def test_exception_inside_scope_still_releases(spark):
    with pytest.raises(RuntimeError, match="boom"):
        with intermediates():
            df = pin(spark.range(121))
            df.count()
            raise RuntimeError("boom")
    assert not _cached(df)
    # the failed scope is popped: a later pin is not recorded in it
    with intermediates():
        ok = pin(spark.range(122))
    assert not _cached(ok)


def test_unscoped_pin_is_left_for_clear_cache(spark):
    df = pin(spark.range(131))
    with intermediates():
        pass  # a scope opened later does not adopt it
    assert _cached(df)
    spark.catalog.clearCache()
    assert not _cached(df)
