"""Sequence packing: bin documents into fixed token budgets.

Training batches want sequences near the context length; feeding
documents one-per-sequence wastes the budget on padding. Packing is
the classic fix: group documents so each pack's token total stays
under the budget. Exact bin packing is NP-hard and inherently serial —
the distributed form packs *within partitions* (best-fit-decreasing
per partition — same 11/9·OPT+1 guarantee class as FFD, O(n log n)),
which parallelizes perfectly and loses only a sliver of density at the
partition seams.
Repartition by a coherence key first (language, source, length bucket)
if packs should be homogeneous.

Pack ids are (partition, local counter) pairs encoded as one bigint,
so they are globally unique without any coordination. Pack
*composition* depends on the partitioning (any distributed packing
does); the invariants that don't — every doc in exactly one pack, no
pack over budget, oversized docs isolated — are what the tests pin.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StructField, StructType

from loan_etl_data_pipeline_spark.operators.text import token_counts

PACK_SCHEMA = StructType(
    [
        StructField("pack_id", LongType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
    ]
)


def pack_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    budget: int = 512,
) -> DataFrame:
    """Assign every document to a pack with sum(n_tokens) <= budget.

    Token counts are computed JVM-side (operators/text.py token_counts,
    BPE-ish segments); only (id, n_tokens) enters the Python kernel.
    Documents longer than the budget become singleton packs (callers
    chunk or truncate those downstream). Output:
    (pack_id, doc_id, n_tokens).
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    counts = token_counts(df, id_col, text_col).select(
        F.col(id_col).alias("doc_id"), F.col("n_bpe_tokens").alias("n_tokens")
    )

    def _pack(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import bisect

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        batches = list(it)  # (id, tokens) only — two ints per doc
        if not batches:
            return
        rows = pd.concat(batches).sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        # best-fit-decreasing via bisect on sorted (capacity, bin) pairs:
        # O(n log n) comparisons instead of first-fit's O(n * bins) scan
        open_bins: list[tuple[int, int]] = []  # sorted (remaining_cap, bin_no)
        n_bins = 0
        assign: list[int] = []
        for t in rows["n_tokens"]:
            t = int(t)
            i = bisect.bisect_left(open_bins, (t, -1))
            if i < len(open_bins):  # tightest bin that still fits
                cap, b = open_bins.pop(i)
                bisect.insort(open_bins, (cap - t, b))
                assign.append(b)
            else:  # nothing fits (or oversized doc) -> open a new pack
                bisect.insort(open_bins, (max(budget - t, 0), n_bins))
                assign.append(n_bins)
                n_bins += 1
        yield pd.DataFrame(
            {
                "pack_id": [(pid << 32) | a for a in assign],
                "doc_id": rows["doc_id"].to_numpy(),
                "n_tokens": rows["n_tokens"].to_numpy(),
            }
        )

    return counts.mapInPandas(_pack, schema=PACK_SCHEMA)


def pack_next_fit(
    df: DataFrame,
    *,
    capacity: int,
    length_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic concatenation-offset packing: documents are laid
    end to end in ``id_col`` order and ``pack_id`` = which
    ``capacity``-sized training sequence each document STARTS in
    (start_offset div capacity).

    This is the OTHER packing discipline next to
    :func:`pack_documents`' best-fit bins: real LM pipelines mostly
    concatenate the corpus and slice fixed-length sequences, letting
    documents straddle boundaries — and because the layout is a pure
    function of the global order, it is partitioning-reproducible and
    fully value-oracle-able, unlike any distributed bin packing. The
    global prefix sum uses functions/ranking.global_cumsum (range-
    partitioned, never a single-task window); its cached intermediate
    is released by the caller's ``session.intermediates()`` scope.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_cumsum

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")
    cum = global_cumsum(
        df, [F.col(id_col).asc()], length_col, cum_col="__cum"
    )
    return (
        cum.withColumn(
            "start_offset", (F.col("__cum") - F.col(length_col)).cast("bigint")
        )
        .withColumn("pack_id", F.expr(f"start_offset div {capacity}L"))
        .drop("__cum")
    )
