"""The workloads: which ops each pass runs, and the ingest inputs.

Every op goes through the package's public API: registry queries via
``queries.all_queries()``, the ETL via ``plans.etl``. The op lists are
what fits the run budget (README.md has the measured sizes and what was
left out).
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

from perfbench.loans import make_landing

MAINTAINERS = ("q_scd2_maintained",)

QUERY_OPS = {
    "ingest": MAINTAINERS,
    "graph_curation": ("q_kcore", "q_minhash_neardup", "q_semantic_dedup"),
}
WORKLOADS = tuple(QUERY_OPS)

# ingest sizes: loans across the four landing files, and the one-month batch
LANDING_ROWS = 40_000
BATCH_ROWS = 8_000


@dataclass
class Op:
    name: str
    kind: str  # "query" or "etl"
    run: Callable | None = None  # etl ops: () -> insights dict
    expected: dict = field(default_factory=dict)
    out_path: str = ""
    rows_in: int = 0
    bytes_in: int = 0


def etl_ops(spark, etl_module, work: str, seed: int) -> list[Op]:
    """Generate the landing directory and return the two ETL ops."""
    data = os.path.join(work, "loans")
    shutil.rmtree(data, ignore_errors=True)
    land = make_landing(data, seed, LANDING_ROWS, BATCH_ROWS)
    full_out = os.path.join(work, "out", "loans")
    daily_out = os.path.join(work, "out", "loans_daily")
    return [
        Op(
            "run_etl",
            "etl",
            run=lambda: etl_module.run_etl(spark, land["landing"], full_out),
            expected=land["expected"],
            out_path=full_out,
            rows_in=LANDING_ROWS,
            bytes_in=land["bytes_in"],
        ),
        Op(
            "run_etl_incremental",
            "etl",
            run=lambda: etl_module.run_etl_incremental(spark, land["batch"], daily_out),
            expected=land["batch_expected"],
            out_path=daily_out,
            rows_in=BATCH_ROWS,
            bytes_in=land["batch_bytes_in"],
        ),
    ]
