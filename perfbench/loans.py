"""Seeded loan landing-directory generator (FIXTURES.md §1).

Writes the raw loan CSVs the ETL workload ingests and returns, next to
the paths, the results a correct pipeline must produce from them, so
the output check needs no second engine. Generation runs before any
timing starts.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv

LOAN_TYPES = ("personal", "auto", "home", "education", "business")
# skewed so the mode is unique: mode-fill sends every null loan_type there
LOAN_TYPE_P = (0.40, 0.22, 0.18, 0.12, 0.08)
TERMS = (12, 24, 36, 60)
# the three accepted formats (operators/cleaning.py TS_FORMATS)
TS_FORMATS = ("%Y-%m-%d %H:%M:%S", "%m/%d/%Y %H:%M:%S", "%d-%m-%Y %H:%M:%S")
GARBAGE_FRAC = 0.05
NULL_TS_FRAC = 0.05


def _frame(rng: np.random.Generator, first_id: int, n: int, t0: datetime.datetime, span_s: int):
    """One batch of raw rows plus the calendar date of each parseable row
    (null where the timestamp is garbage or missing)."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    stamps = pd.Timestamp(t0) + pd.to_timedelta(rng.integers(0, span_s, n), unit="s")
    fmt = rng.integers(0, len(TS_FORMATS), n)
    ts = pd.Series(index=range(n), dtype=object)
    for k, f in enumerate(TS_FORMATS):
        ts[fmt == k] = stamps[fmt == k].strftime(f)
    u = rng.random(n)
    garbage = u < GARBAGE_FRAC
    unparsed = u < GARBAGE_FRAC + NULL_TS_FRAC
    # distinct junk per row, so nulls stay the timestamp column's mode
    # and mode-fill leaves them null (SURVEY §4.1(1a))
    ts[garbage] = [f"bad-{j:x}" for j in rng.integers(0, 1 << 40, int(garbage.sum()))]
    ts[unparsed & ~garbage] = None
    dates = pd.Series(stamps.normalize()).mask(unparsed)

    amount = np.round(rng.lognormal(9.5, 0.8, n), 2)
    loan_type = np.array(LOAN_TYPES, dtype=object)[rng.choice(len(LOAN_TYPES), n, p=LOAN_TYPE_P)]
    term = np.array(TERMS)[rng.integers(0, len(TERMS), n)]
    score = rng.integers(300, 851, n)
    df = pd.DataFrame(
        {
            "loan_id": ids,
            "timestamp": ts,
            "loan_amount": pd.Series(amount).mask(rng.random(n) < 0.10),
            "loan_type": pd.Series(loan_type).mask(rng.random(n) < 0.10),
            "term_months": pd.array(term, dtype="Int64"),
            "credit_score": pd.array(score, dtype="Int64"),
        }
    )
    df.loc[rng.random(n) < 0.15, "term_months"] = pd.NA
    df.loc[rng.random(n) < 0.10, "credit_score"] = pd.NA
    return df, dates


def expected_insights(df: pd.DataFrame) -> dict:
    """``total_loans`` and ``by_loan_type`` after mode-fill.

    The fill replaces null loan types with the most frequent value,
    counting null as a value (operators/cleaning.column_modes); ties go
    to null first, then to the smallest string, and a null mode leaves
    the column as is.
    """
    nulls = int(df["loan_type"].isna().sum())
    typed = {k: int(v) for k, v in df["loan_type"].value_counts().items()}
    top = max(typed.values())
    if nulls and top > nulls:
        mode = min(k for k, v in typed.items() if v == top)
        typed[mode] += nulls
    elif nulls:
        typed[None] = nulls
    return {"total_loans": len(df), "by_loan_type": typed}


def _write(df: pd.DataFrame, path: str) -> int:
    table = pa.Table.from_pandas(df, preserve_index=False)
    with pa.CompressedOutputStream(path, "gzip") if path.endswith(".gz") else pa.OSFile(path, "wb") as out:
        pacsv.write_csv(table, out, pacsv.WriteOptions(quoting_style="none"))
    return os.path.getsize(path)


def make_landing(root: str, seed: int, rows: int, batch_rows: int) -> dict:
    """Four landing files (two gzipped) holding ``rows`` loans over two
    years, and one incremental batch of ``batch_rows`` loans confined to
    February 2025 (28 date partitions)."""
    rng = np.random.default_rng(seed)
    landing = os.path.join(root, "landing")
    batch_dir = os.path.join(root, "batch")
    os.makedirs(landing, exist_ok=True)
    os.makedirs(batch_dir, exist_ok=True)

    main, dates = _frame(rng, 1, rows, datetime.datetime(2023, 1, 1), 2 * 365 * 86400)
    cuts = np.cumsum([0, rows * 3 // 10, rows // 4, rows // 4])
    bounds = list(zip(cuts, list(cuts[1:]) + [rows]))
    names = ("loans_a.csv", "loans_b.csv.gz", "loans_c.csv", "loans_d.csv.gz")
    bytes_in = sum(_write(main.iloc[a:b], os.path.join(landing, n)) for n, (a, b) in zip(names, bounds))

    batch, batch_dates = _frame(rng, rows + 1, batch_rows, datetime.datetime(2025, 2, 1), 28 * 86400)
    batch_bytes = _write(batch, os.path.join(batch_dir, "loans_2025_02.csv"))

    return {
        "landing": landing,
        "batch": batch_dir,
        "bytes_in": bytes_in,
        "batch_bytes_in": batch_bytes,
        "expected": {
            **expected_insights(main),
            "null_dates": int(dates.isna().sum()),
        },
        "batch_expected": {
            **expected_insights(batch),
            "null_dates": int(batch_dates.isna().sum()),
            "date_partitions": int(batch_dates.nunique()),
        },
    }
