"""Output checks, run outside the timed window.

A query op must equal its DuckDB oracle (``oracle_sql()``) as an
order-insensitive multiset, floats bit-for-bit; ops without an oracle
must match a pinned row count and digest (``pins.json``). ETL ops must
return the generator's insights and leave the expected Parquet output.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os

HERE = os.path.dirname(os.path.abspath(__file__))


def _norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, datetime.datetime):
        return v.isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    return repr(v)


def canonical(cols: list[str], rows) -> tuple[tuple[str, ...], list[tuple[str, ...]]]:
    """Columns sorted by name and rows as a sorted multiset of reprs."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        tuple(cols[i] for i in order),
        sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    )


def digest(canon) -> str:
    return hashlib.sha256(json.dumps(canon).encode()).hexdigest()[:16]


class Expectations:
    """Expected results of every query op of a run, computed once."""

    def __init__(self, sf_dir: str, sf_name: str, names, oracles: dict, tables) -> None:
        with open(os.path.join(HERE, "pins.json")) as f:
            pins = json.load(f).get(sf_name, {})
        self.expected: dict[str, tuple] = {}
        con = None
        for name in names:
            if name in oracles:
                if con is None:
                    import duckdb

                    con = duckdb.connect()
                    for t in tables:
                        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
                res = con.execute(oracles[name])
                self.expected[name] = ("oracle", canonical([d[0] for d in res.description], res.fetchall()))
            elif name in pins:
                self.expected[name] = ("pin", (pins[name]["rows"], pins[name]["digest"]))
            else:
                raise KeyError(f"{name}: no oracle and no pinned digest for {sf_name}")
        if con is not None:
            con.close()

    def check(self, name: str, cols: list[str], rows) -> str | None:
        """None when the result is right, else what is wrong."""
        kind, want = self.expected[name]
        got = canonical(cols, [tuple(r) for r in rows])
        if kind == "pin":
            have = (len(got[1]), digest(got))
            return None if have == tuple(want) else f"pinned (rows, digest) {tuple(want)}, got {have}"
        if got[0] != want[0]:
            return f"columns {want[0]}, got {got[0]}"
        if len(got[1]) != len(want[1]):
            return f"{len(want[1])} rows, got {len(got[1])}"
        if got[1] != want[1]:
            first = next(i for i, (a, b) in enumerate(zip(got[1], want[1])) if a != b)
            return f"value mismatch at sorted row {first}: {got[1][first]} != {want[1][first]}"
        return None


def check_etl(spark, insights: dict, expected: dict, out_path: str) -> str | None:
    """Insights equal the generator's, and the written Parquet holds
    every row with the garbage/missing timestamps as null dates."""
    by_type = {r["loan_type"]: r["count"] for r in insights.get("by_loan_type", [])}
    if insights.get("total_loans") != expected["total_loans"]:
        return f"total_loans {expected['total_loans']}, got {insights.get('total_loans')}"
    if by_type != expected["by_loan_type"]:
        return f"by_loan_type {expected['by_loan_type']}, got {by_type}"
    row = spark.read.parquet(out_path).selectExpr(
        "count(*) AS n", "count_if(date IS NULL) AS null_dates"
    ).collect()[0]
    if (row["n"], row["null_dates"]) != (expected["total_loans"], expected["null_dates"]):
        return (
            f"parquet (rows, null dates) {(expected['total_loans'], expected['null_dates'])}, "
            f"got {(row['n'], row['null_dates'])}"
        )
    if "date_partitions" in expected:
        parts = [d for d in os.listdir(out_path) if d.startswith("date=") and "__HIVE_DEFAULT" not in d]
        if len(parts) != expected["date_partitions"]:
            return f"{expected['date_partitions']} date partitions, got {len(parts)}"
    return None
