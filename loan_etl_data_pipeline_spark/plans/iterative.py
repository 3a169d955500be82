"""Resumable iterative computation — driver-fault tolerance for loops.

Iterative graph/ML jobs at 100 TB run for hours across many rounds;
losing the DRIVER (spot reclaim, OOM, deploy) normally means starting
over, because the loop state lives only in session memory and
``localCheckpoint`` dies with the executors that hold it. The fix is
the same discipline every long-running batch system converges on:
persist the loop state durably after each round with an ATOMIC commit
marker, and on start resume from the newest committed round instead of
round zero.

Layout under ``state_dir``::

    round=0003/...parquet     the state after round 3
    _COMMITTED_0003           zero-byte marker, written AFTER the
                              parquet write completes

A crash between the parquet write and the marker leaves an uncommitted
directory that the next run ignores and overwrites — the same
write-then-commit protocol as sources/versioned.py's manifest, scoped
down to one loop. Rounds are deterministic by house contract (every
iterative operator here is hash-driven, not RNG-driven), so a resumed
run is bit-identical to an uninterrupted one — which is what lets a
resumable query share the straight-loop SQL oracle.

Cost model: one durable write per round, and no schema-inference job
per reopen (a committed round is a flat Spark-written directory, opened
through its parquet footer). For state that is small relative to the
cluster (frontiers, label maps, rank vectors — the usual case: state is
O(|V|), the data is O(|E|)) this is noise next to the round's shuffles.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from loan_etl_data_pipeline_spark.sources.tables import _read_parquet


def _committed_rounds(state_dir: str) -> list[int]:
    if not os.path.isdir(state_dir):
        return []
    out = []
    for name in os.listdir(state_dir):
        m = re.fullmatch(r"_COMMITTED_(\d{4})", name)
        if m and os.path.isdir(os.path.join(state_dir, f"round={m.group(1)}")):
            out.append(int(m.group(1)))
    return sorted(out)


def resumable_loop(
    spark: SparkSession,
    state_dir: str,
    *,
    init: Callable[[], DataFrame],
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
) -> DataFrame:
    """Run ``state = step(state, k)`` for k = 1..rounds, committing the
    state to ``state_dir`` after every round; resume from the newest
    committed round if one exists. ``init()`` builds the
    round-0 state (only called when nothing is committed yet). Returns
    the final state as a DataFrame scanning the last committed parquet
    (so the caller's lineage starts at a durable scan, not the whole
    loop history).

    The loop body must be deterministic for resume to be exact — true
    for every iterative operator in this engine (md5-driven, fixed
    tie-breaks). ``step`` receives the 1-based round number.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    os.makedirs(state_dir, exist_ok=True)

    done = [k for k in _committed_rounds(state_dir) if k <= rounds]
    if not done:
        state = _commit(init(), state_dir, 0)
        start = 0
    else:
        # a committed round 0 also resumes from parquet — never re-run
        # init() (on a real corpus the seed scan is the expensive part)
        start = done[-1]
        state = _read_parquet(spark, os.path.join(state_dir, f"round={start:04d}"))
    for k in range(start + 1, rounds + 1):
        state = _commit(step(state, k), state_dir, k)
    return state


def _commit(state: DataFrame, state_dir: str, k: int) -> DataFrame:
    """Write round ``k``'s state, then the marker; return a scan of the
    written parquet so downstream lineage is cut at the durable copy."""
    path = os.path.join(state_dir, f"round={k:04d}")
    state.write.mode("overwrite").parquet(path)
    marker = os.path.join(state_dir, f"_COMMITTED_{k:04d}")
    with open(marker, "w"):
        pass
    return _read_parquet(state.sparkSession, path)
