"""End-to-end ETL plan — parity with the reference's ``run_etl``.

Pipeline (reference: airflow/dags/etl/pyspark_etl.py:48-64):
CSV(.gz) in → mode-based null fill → timestamp split → Parquet out →
insights dict (→ optional JSON report file).

Differences, all scale-motivated (SURVEY.md §4.3):
- optional explicit schema kills the inference double-scan;
- all column modes in one job, not one per column;
- the cleaned frame is cached once and consumed by both the Parquet
  write and the insights aggregation — the reference re-executes the
  whole uncached lineage for every action (4+N scans of the CSV);
- Parquet can be written straight to ``s3a://`` (no boto3 re-upload).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark import StorageLevel

from loan_etl_data_pipeline_spark.operators.cleaning import (
    TS_FORMATS,
    fill_nulls_with_mode,
    split_timestamp,
)
from loan_etl_data_pipeline_spark.operators.profile import (
    generate_insights,
    write_insights_json,
)
from loan_etl_data_pipeline_spark.sources.csv import read_csv
from loan_etl_data_pipeline_spark.session import intermediates, pin


def clean(df: DataFrame, ts_col: str = "timestamp") -> DataFrame:
    """The transformation core: mode-fill all columns, then split ``ts_col``."""
    return split_timestamp(fill_nulls_with_mode(df), ts_col)


def run_etl(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    ts_col: str = "timestamp",
    *,
    schema=None,
    insights_path: str | None = None,
    write_mode: str = "overwrite",
    sniff_dialect: bool = False,
) -> dict:
    """Run the full reference-parity pipeline; returns the insights dict.

    ``input_path`` may be a file, glob, or list (the reference processed
    only the first discovered file — reference:
    airflow/dags/spark_etl_dag.py:60 — we take everything).
    ``sniff_dialect=True`` detects sep/quote/header from the head of the
    first input file (sources/csv.sniff_csv_dialect — metadata-scale
    driver work) instead of assuming the reference's comma+header, so a
    semicolon locale export parses into real columns.
    """
    dialect: dict = {}
    if sniff_dialect:
        import glob as _glob
        import os as _os

        from loan_etl_data_pipeline_spark.sources.csv import sniff_csv_dialect

        # input_path may be a file, glob, directory, or list of those —
        # the sniffer needs one REAL file, so resolve the first one
        first = input_path[0] if isinstance(input_path, list) else input_path
        def _sniffable(p: str) -> bool:
            # skip empty files: a Spark-written dir sorts its 0-byte
            # _SUCCESS marker first, which would sniff as the default
            # comma dialect — the exact miss this flag exists to prevent
            return _os.path.isfile(p) and _os.path.getsize(p) > 0

        if _os.path.isdir(first):
            candidates = sorted(
                p for p in _glob.glob(_os.path.join(first, "*")) if _sniffable(p)
            )
        elif _os.path.isfile(first):
            candidates = [first] if _sniffable(first) else []
        else:
            candidates = sorted(p for p in _glob.glob(first) if _sniffable(p))
        if not candidates:
            raise ValueError(
                f"sniff_dialect=True but no readable file resolves from "
                f"{first!r}"
            )
        d = sniff_csv_dialect(candidates[0])
        dialect = {"sep": d["sep"], "quote": d["quote"], "header": d["header"]}
    raw = read_csv(spark, input_path, schema=schema, **dialect)
    cleaned = clean(raw, ts_col)

    # One materialization, two consumers (write + insights). MEMORY_AND_DISK
    # so a 100 TB run degrades to disk instead of OOM; on a real cluster
    # you'd often skip the cache and let the parquet write feed insights
    # by re-reading the written output — both paths avoid re-scanning CSV.
    with intermediates():
        pin(cleaned, StorageLevel.MEMORY_AND_DISK)
        cleaned.write.mode(write_mode).parquet(output_path)
        insights = generate_insights(cleaned)

    if insights_path:
        write_insights_json(insights, insights_path)
    return insights


def run_etl_incremental(
    spark: SparkSession,
    input_path: str | list[str],
    output_path: str,
    ts_col: str = "timestamp",
    *,
    partition_col: str = "date",
    schema=None,
    insights_path: str | None = None,
) -> dict:
    """Partition-aware incremental run of the same pipeline.

    Output parquet is partitioned by the derived ``date`` column and
    written with *dynamic* partition overwrite: re-running with a new
    batch replaces only the date partitions present in that batch and
    leaves every other partition's files untouched — the daily-append
    contract a real pipeline needs. (The reference instead rmtree's the
    entire output dir before every run — reference:
    airflow/dags/spark_etl_dag.py:63-69 — so one bad batch deletes all
    history.) Rows with unparseable timestamps land in the null
    partition (``__HIVE_DEFAULT_PARTITION__``), preserved like any
    other. At 100 TB, date partitioning is also what makes downstream
    time-filtered scans prune to the touched days.
    """
    raw = read_csv(spark, input_path, schema=schema)
    cleaned = clean(raw, ts_col)

    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, None)
    spark.conf.set(mode_key, "dynamic")
    try:
        with intermediates():
            pin(cleaned, StorageLevel.MEMORY_AND_DISK)
            cleaned.write.mode("overwrite").partitionBy(
                partition_col
            ).parquet(output_path)
            insights = generate_insights(cleaned)
    finally:
        if prev is None:
            spark.conf.unset(mode_key)
        else:
            spark.conf.set(mode_key, prev)

    if insights_path:
        write_insights_json(insights, insights_path)
    return insights


__all__ = ["run_etl", "run_etl_incremental", "clean", "TS_FORMATS"]
