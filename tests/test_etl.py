"""End-to-end golden test for the reference-parity ETL plan (SURVEY §5(3)).

Covers the components a user of the reference actually runs
(reference: airflow/dags/etl/pyspark_etl.py:48-64): discovery →
CSV(.gz) read with schema inference → mode-based null fill → timestamp
split → parquet sink → insights dict → JSON report — plus the
conditional insights paths for absent loan_amount/loan_type
(reference: airflow/dags/etl/pyspark_etl.py:40,43) and the CLI entry
(reference: airflow/dags/etl/pyspark_etl.py:66-71).
"""

from __future__ import annotations

import gzip
import json
import os

import pytest

from loan_etl_data_pipeline_spark.plans.etl import run_etl
from loan_etl_data_pipeline_spark.sources.csv import discover_input_files, read_csv

_CSV1 = """loan_id,timestamp,loan_amount,loan_type
1,2024-01-15 10:30:00,100.0,auto
2,01/16/2024 11:00:00,,personal
3,17-01-2024 12:15:30,100.0,personal
4,not-a-date,200.0,
"""

_CSV2 = """loan_id,timestamp,loan_amount,loan_type
5,2024-01-18 09:00:00,100.0,personal
6,,300.0,auto
"""


@pytest.fixture(scope="module")
def landing_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("landing")
    (d / "loans.csv").write_text(_CSV1)
    with gzip.open(d / "loans2.csv.gz", "wt") as f:
        f.write(_CSV2)
    # distractors the discovery must ignore (reference filter semantics,
    # reference: airflow/dags/spark_etl_dag.py:46-48)
    (d / ".hidden.csv").write_text("x\n1\n")
    (d / "loans.metadata.json").write_text("{}")
    (d / "notes.txt").write_text("nope")
    return str(d)


def test_discover_input_files(landing_dir):
    found = discover_input_files(landing_dir)
    assert [os.path.basename(p) for p in found] == ["loans.csv", "loans2.csv.gz"]
    assert discover_input_files("/nonexistent/dir") == []


@pytest.fixture(scope="module")
def etl_result(spark, landing_dir, tmp_path_factory):
    out = tmp_path_factory.mktemp("out")
    parquet_dir = str(out / "cleaned")
    insights_path = str(out / "insights.json")
    insights = run_etl(
        spark,
        discover_input_files(landing_dir),
        parquet_dir,
        "timestamp",
        insights_path=insights_path,
    )
    return insights, parquet_dir, insights_path


def test_insights_golden(etl_result):
    insights, _, _ = etl_result
    assert insights["total_loans"] == 6
    # loan_amount mode is 100.0 (3 of 6) -> row 2's null filled with it:
    # avg = (100+100+100+200+100+300)/6
    assert insights["avg_loan_amount"] == pytest.approx(150.0)
    # loan_type mode 'personal' (3 vs 2 vs 1 null) -> row 4 filled
    by_type = {d["loan_type"]: d["count"] for d in insights["by_loan_type"]}
    assert by_type == {"personal": 4, "auto": 2}


def test_insights_json_report(etl_result):
    insights, _, path = etl_result
    with open(path) as f:
        assert json.load(f) == json.loads(json.dumps(insights, default=str))


def test_parquet_golden(spark, etl_result):
    _, parquet_dir, _ = etl_result
    rows = {r["loan_id"]: r for r in spark.read.parquet(parquet_dir).collect()}
    assert len(rows) == 6  # both files, including the .csv.gz, were read
    # format priority round-trip (reference: airflow/dags/etl/pyspark_etl.py:25-31)
    assert (rows[1]["date"], rows[1]["time"]) == ("2024-01-15", "10:30:00")
    assert (rows[2]["date"], rows[2]["time"]) == ("2024-01-16", "11:00:00")
    assert (rows[3]["date"], rows[3]["time"]) == ("2024-01-17", "12:15:30")
    assert (rows[5]["date"], rows[5]["time"]) == ("2024-01-18", "09:00:00")
    # garbage / null timestamps -> null date/time, row preserved
    assert (rows[4]["date"], rows[4]["time"]) == (None, None)
    # mode fills
    assert rows[2]["loan_amount"] == 100.0
    assert rows[4]["loan_type"] == "personal"
    # original timestamp column survives (mode null -> fill no-op there)
    assert rows[1]["timestamp"] == "2024-01-15 10:30:00"


def test_insights_conditional_on_columns(spark, tmp_path):
    """Columns absent -> keys absent (the golden insights.json in the
    reference repo came from exactly this shape,
    reference: etl/insights/insights.json:1-3)."""
    p = tmp_path / "minimal.csv"
    p.write_text("loan_id,timestamp\n1,2024-01-15 10:30:00\n2,bad\n3,\n")
    insights = run_etl(spark, str(p), str(tmp_path / "out"), "timestamp")
    assert insights == {"total_loans": 3}


def test_read_csv_explicit_schema_skips_inference(spark, landing_dir):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    schema = StructType(
        [
            StructField("loan_id", LongType()),
            StructField("timestamp", StringType()),
            StructField("loan_amount", DoubleType()),
            StructField("loan_type", StringType()),
        ]
    )
    df = read_csv(spark, os.path.join(landing_dir, "loans.csv"), schema=schema)
    assert df.schema == schema
    assert df.count() == 4


def test_write_csv_gzip_round_trip(spark, tmp_path):
    from loan_etl_data_pipeline_spark.sources.csv import write_csv

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    out = str(tmp_path / "gz_out")
    write_csv(df, out, compression="gzip", single_file=True)
    parts = [f for f in os.listdir(out) if f.endswith(".csv.gz")]
    assert len(parts) == 1  # task-side codec, single coalesced part
    back = read_csv(spark, os.path.join(out, parts[0]))
    assert sorted(map(tuple, back.collect())) == [(1, "a"), (2, "b")]


def test_cli_main(spark, landing_dir, tmp_path, capsys):
    from loan_etl_data_pipeline_spark.__main__ import main

    out = str(tmp_path / "cli_out")
    report = str(tmp_path / "cli_insights.json")
    rc = main([landing_dir, out, "timestamp", "--insights-json", report])
    assert rc == 0
    assert json.loads(capsys.readouterr().out)["total_loans"] == 6
    with open(report) as f:
        assert json.load(f)["total_loans"] == 6
    assert spark.read.parquet(out).count() == 6
    # the CLI must not have torn down the caller's session
    assert spark.sparkContext._jsc is not None


def test_cli_empty_dir(tmp_path, capsys):
    from loan_etl_data_pipeline_spark.__main__ import main

    empty = tmp_path / "empty"
    empty.mkdir()
    rc = main([str(empty), str(tmp_path / "never")])
    assert rc == 1
    assert json.loads(capsys.readouterr().out) == {"status": "no_files"}


def test_incremental_overwrites_only_touched_partitions(spark, tmp_path):
    """run_etl_incremental: a new batch replaces its own date partitions
    and leaves other dates' files byte-identical (the reference rmtree's
    everything, spark_etl_dag.py:63-69)."""
    from loan_etl_data_pipeline_spark.plans.etl import run_etl_incremental

    out = str(tmp_path / "warehouse")
    batch1 = tmp_path / "b1.csv"
    batch1.write_text(
        "loan_id,timestamp,loan_amount\n"
        "1,2024-01-15 10:00:00,100.0\n"
        "2,2024-01-16 11:00:00,200.0\n"
    )
    run_etl_incremental(spark, str(batch1), out)

    d1 = os.path.join(out, "date=2024-01-15")
    snap = {
        f: os.path.getmtime(os.path.join(d1, f))
        for f in os.listdir(d1)
        if f.endswith(".parquet")
    }
    assert snap, "day-1 partition should exist"

    # second batch touches only 2024-01-16 (restated) — day 1 must survive
    batch2 = tmp_path / "b2.csv"
    batch2.write_text(
        "loan_id,timestamp,loan_amount\n3,2024-01-16 12:00:00,999.0\n"
    )
    run_etl_incremental(spark, str(batch2), out)

    after = {
        f: os.path.getmtime(os.path.join(d1, f))
        for f in os.listdir(d1)
        if f.endswith(".parquet")
    }
    assert after == snap, "untouched partition files must remain identical"
    rows = {
        r["loan_id"]: r for r in spark.read.parquet(out).collect()
    }
    assert sorted(rows) == [1, 3]  # loan 2 replaced by batch 2's day-16 data
    assert rows[3]["loan_amount"] == 999.0
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC").upper()
        == "STATIC"
    )


def test_read_csv_corrupt_record_quarantine(spark, tmp_path):
    """Malformed lines land in the corrupt column; good rows parse clean."""
    from pyspark.sql.types import LongType, StructField, StructType

    p = tmp_path / "mixed.csv"
    p.write_text("a,b\n1,2\nnot_a_number,5\n3,4\n")
    schema = StructType(
        [StructField("a", LongType()), StructField("b", LongType())]
    )
    from loan_etl_data_pipeline_spark.session import intermediates, pin

    with intermediates():
        df = pin(read_csv(spark, str(p), schema=schema, corrupt_col="_bad"))
        good = df.filter("_bad IS NULL").select("a", "b")
        bad = df.filter("_bad IS NOT NULL")
        assert sorted(map(tuple, good.collect())) == [(1, 2), (3, 4)]
        assert [r["_bad"] for r in bad.collect()] == ["not_a_number,5"]

    with pytest.raises(ValueError, match="corrupt_col requires"):
        read_csv(spark, str(p), corrupt_col="_bad")


def test_jsonl_round_trip_and_quarantine(spark, tmp_path):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from loan_etl_data_pipeline_spark.session import intermediates, pin
    from loan_etl_data_pipeline_spark.sources.jsonl import read_jsonl, write_jsonl

    df = spark.createDataFrame([(1, "alpha"), (2, "beta")], "id long, text string")
    out = str(tmp_path / "jl")
    write_jsonl(df, out, compression="gzip", single_file=True)
    parts = [f for f in os.listdir(out) if f.endswith(".json.gz")]
    assert len(parts) == 1
    back = read_jsonl(spark, out)
    assert sorted(map(tuple, back.select("id", "text").collect())) == [
        (1, "alpha"),
        (2, "beta"),
    ]

    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"id": 1, "text": "ok"}\n{not json at all\n')
    schema = StructType([StructField("id", LongType()), StructField("text", StringType())])
    # pin first: Spark disallows queries touching ONLY the corrupt
    # column on raw JSON/CSV (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    spark.catalog.clearCache()
    with intermediates():
        got = pin(read_jsonl(spark, str(bad), schema=schema, corrupt_col="_bad"))
        assert got.filter("_bad IS NULL").count() == 1
        assert [r["_bad"] for r in got.filter("_bad IS NOT NULL").collect()] == [
            "{not json at all"
        ]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    with pytest.raises(ValueError, match="corrupt_col requires"):
        read_jsonl(spark, str(bad), corrupt_col="_bad")


def test_read_parquet_evolving(spark, tmp_path):
    """Additive schema drift: old files read new columns as null, and a
    pinned contract schema conforms order/types/missing columns."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from loan_etl_data_pipeline_spark.sources.evolution import read_parquet_evolving

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k int, v string").write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], "k int, v string, score double"
    ).write.mode("append").parquet(path)

    df = read_parquet_evolving(spark, path)
    rows = {r["k"]: r for r in df.collect()}
    assert set(df.columns) == {"k", "v", "score"}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5

    contract = StructType(
        [
            StructField("k", LongType()),       # widened int → long
            StructField("score", DoubleType()),
            StructField("note", StringType()),  # not written by anyone yet
        ]
    )
    out = read_parquet_evolving(spark, path, conform_to=contract)
    assert out.columns == ["k", "score", "note"]
    assert [f.dataType for f in out.schema.fields] == [
        LongType(), DoubleType(), StringType()
    ]
    got = {r["k"]: r for r in out.collect()}
    assert got[1]["note"] is None and got[2]["score"] == 9.5
