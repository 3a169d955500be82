"""Distributed global ranking without the single-partition window.

``row_number() OVER (ORDER BY ...)`` with no PARTITION BY compiles to
Exchange SinglePartition — every row through one task, a verified
non-starter at scale. This module is the classic distributed
construction, factored out of curriculum_tiles (functions/splits.py) so
every consumer of a global total order shares it:

1. range-partition on the order columns (the same shuffle any global
   ranking pays, but parallel) + local sort;
2. per-partition row counts, turned into additive offsets by an
   explode-and-reaggregate over the (numPartitions-row) count table —
   NEVER a data-sized single-partition window;
3. global rank = partition offset + 1-based position within the
   sorted partition.

Optimization r8 — the construction is fully IN-PLAN (no driver
action):

- The per-partition position comes from ``monotonically_increasing_id``
  evaluated above the local sort (partition index in the upper bits,
  0-based row position within the partition in the lower 33), NOT from
  a ``row_number() OVER (PARTITION BY spark_partition_id())`` window:
  Spark cannot prove the range exchange clusters by partition id, so
  the window form inserts a SECOND full-data hash Exchange — measured
  in every pre-r8 consumer plan. The id form needs no distribution, so
  one global rank costs exactly ONE data-sized shuffle.
- The offsets are joined back via a broadcast of the tiny count table
  instead of a driver ``collect`` + literal map.
- The shuffled frame stays persisted (lazily — the caller's first
  action fills the cache): offsets and positions MUST come from one
  materialization of the range exchange, and exchange reuse cannot be
  trusted to provide it — column pruning narrows the counts branch's
  exchange child to the order columns, the canonical plans diverge,
  reuse silently fails, and an independently re-executed range
  exchange re-samples different boundaries (observed: intermittently
  corrupted ranks in payload-carrying consumers). A cached partition
  lost to eviction recomputes from the already-written shuffle files,
  so boundaries never re-sample.
- Per call this deletes (vs pre-r8): one driver round-trip job and one
  full-data Exchange; the cache fill is now lazy instead of
  collect-forced.

The result is independent of the (sampled, run-varying) range
boundaries PROVIDED the order columns form a TOTAL order — equal sort
keys could land on either side of a boundary and would be ranked
arbitrarily. Callers must include a unique tie-break column; that is
the same determinism contract every top-k/mode query in this engine
carries. (The total order also makes the local sort — and therefore
the per-partition id assignment — deterministic under task retry.)

Callers that need the total row count (ntile arithmetic) pass
``total_col`` and get it as a constant column instead of the removed
driver-side ``_global_rank_n`` (which required an eager collect).
``ntile_from_rank`` accepts that column (or a plain int) for ``n``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.session import pin

_MID_BITS = 33  # monotonically_increasing_id: row position bits
_MID_MASK = (1 << _MID_BITS) - 1

# Above this partition count the offsets fan-out switches from the
# direct nparts² explode to the two-level block form (opt r9): the
# quadratic explode is 65k rows at 256 parts (trivial, and one fewer
# tiny shuffle in every local/bench plan), but at a 10k-100k-core
# cluster it would be 10⁸-10¹⁰ intermediate rows for a
# numPartitions-row prefix sum. The block form caps it at
# ~2·nparts^1.5 rows with full parallelism and no ORDER BY window.
_QUADRATIC_OFFSETS_MAX_PARTS = 256


def _exclusive_offsets(
    counts: DataFrame,
    nparts: int,
    names: list[tuple[str, str, str | None]],
) -> DataFrame:
    """Exclusive prefix offsets (and optional totals) of per-partition
    sums: for each (sum_col, off_name, tot_name) the output carries
    ``off_name`` = sum of ``sum_col`` over strictly-smaller partition
    ids and (when tot_name is set) ``tot_name`` = the grand total.

    Shape: a single pass over ONE ``counts`` subtree (a self-join form
    would plan the counts branch twice, re-reading the data-sized
    exchange below it twice), never an ORDER BY window (whose Exchange
    SinglePartition would break the repo-wide plan guarantee).

    - ``nparts`` ≤ 256: each count row is exploded to every target
      partition id and re-aggregated — nparts² tiny rows with map-side
      partial aggregation, one shuffle.
    - larger ``nparts`` (opt r9): two-level √n block decomposition —
      src < tgt  ⇔  block(src) < block(tgt), or same block and
      src < tgt — so each count row explodes only to the ids of its
      OWN block (within-block exclusive sums) and the per-block totals
      explode over the ~√n blocks (block-level exclusive sums); the
      two parts add via a broadcast join on the block id. Fan-out is
      O(nparts·√nparts), not O(nparts²), which is what "bounded at any
      data scale" actually requires at a 100k-core cluster.

    Output rows: ≤ 256 partitions yields one row for every id in
    ``[0, nparts)`` (when ``counts`` is non-empty); above 256 it yields
    rows only for ids in blocks that hold at least one ``counts`` row.
    Either way every id that has a ``counts`` row gets its offset, which
    is all the consumers' inner joins on ``__pid`` read.
    """
    # the exploded target id gets its own name; referencing the child's
    # ``__pid`` under an identically-named generator output worked only
    # through analyzer resolution order (ADVICE r8)
    src = counts.select(
        F.col("__pid").alias("__pid_src"),
        *[F.col(c) for c, _, _ in names],
    )

    def _fanout(frame, src_col, tgt_from, tgt_to, tgt_col):
        return frame.select(
            F.explode(F.sequence(tgt_from, tgt_to)).alias(tgt_col),
            F.col(src_col),
            *[F.col(c) for c, _, _ in names],
        )

    def _aggs(src_col, tgt_col, off_prefix, with_totals):
        out = []
        for c, off_name, tot_name in names:
            out.append(
                F.sum(
                    F.when(
                        F.col(src_col) < F.col(tgt_col), F.col(c)
                    ).otherwise(F.lit(0).cast("bigint"))
                ).alias(off_prefix + off_name)
            )
            if with_totals and tot_name is not None:
                out.append(F.sum(c).alias(tot_name))
        return out

    if nparts <= _QUADRATIC_OFFSETS_MAX_PARTS:
        exploded = _fanout(
            src, "__pid_src", F.lit(0), F.lit(nparts - 1), "__pid"
        )
        return exploded.groupBy("__pid").agg(
            *_aggs("__pid_src", "__pid", "", True)
        )

    blk = max(int(nparts**0.5), 1)
    nblocks = (nparts + blk - 1) // blk
    # within-block part: explode each count row to the ids of its own
    # block only (≤ blk targets per row), clamped to nparts-1
    within = _fanout(
        src,
        "__pid_src",
        F.expr(f"(__pid_src div {blk}) * {blk}"),
        F.least(
            F.expr(f"(__pid_src div {blk}) * {blk} + {blk - 1}"),
            F.lit(nparts - 1),
        ),
        "__pid",
    ).groupBy("__pid").agg(*_aggs("__pid_src", "__pid", "__w_", False))
    # block-level part: per-block sums fan out over the ~√n blocks;
    # totals (sum over all source blocks, identical per target) ride
    # this aggregation
    bsums = src.groupBy(
        F.expr(f"__pid_src div {blk}").alias("__blk_src")
    ).agg(*[F.sum(c).alias(c) for c, _, _ in names])
    boffs = _fanout(
        bsums, "__blk_src", F.lit(0), F.lit(nblocks - 1), "__blk"
    ).groupBy("__blk").agg(*_aggs("__blk_src", "__blk", "__b_", True))
    joined = within.join(
        F.broadcast(boffs),
        F.expr(f"__pid div {blk}") == F.col("__blk"),
    )
    cols = [F.col("__pid")]
    for c, off_name, tot_name in names:
        cols.append(
            (F.col(f"__w_{off_name}") + F.col(f"__b_{off_name}")).alias(
                off_name
            )
        )
        if tot_name is not None:
            cols.append(F.col(tot_name))
    return joined.select(*cols)


def _offsets_frame(
    shuffled: DataFrame, nparts: int, with_total: bool
) -> DataFrame:
    """(__pid, __off[, __n]) for a shuffled frame: per-partition row
    counts turned into exclusive offsets (plus the grand total when
    requested), one row per partition."""
    counts = (
        shuffled.select(F.spark_partition_id().alias("__pid"))
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    return _exclusive_offsets(
        counts, nparts, [("__cnt", "__off", "__n" if with_total else None)]
    )


def global_rank(
    df: DataFrame,
    order_by: list[Column],
    *,
    rank_col: str = "rank",
    total_col: str | None = None,
) -> DataFrame:
    """All input columns plus ``rank_col`` = 1-based dense global rank
    under ``order_by`` (sort-order Columns, e.g. ``F.desc("cnt")``;
    must be a total order — include a unique tie-break).

    With ``total_col`` set, the output additionally carries the total
    ranked row count as a constant bigint column (for ntile
    arithmetic). Lazy: no driver action — see the module docstring for
    the plan shape. The range-shuffled frame is persisted
    (MEMORY_AND_DISK, lazily — the caller's first action fills it):
    the counts branch and the rows branch MUST read one materialization
    of the range exchange, and plain exchange reuse cannot guarantee
    that — column pruning narrows the counts branch's exchange child to
    the order columns, the canonical plans diverge, reuse silently
    fails, and the re-executed exchange re-SAMPLES different range
    boundaries, desynchronizing offsets from positions (observed as
    intermittently corrupted ranks in multi-column consumers). The
    cache pins both branches to one shuffle; a cached partition lost
    to eviction recomputes from the already-written shuffle files, so
    the boundaries can never re-sample. Pinned in the caller's
    ``session.intermediates()`` scope (clearCache frees it when none is
    open); close that scope only after the result is materialized.
    """
    from pyspark import StorageLevel

    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    shuffled = pin(
        df.repartitionByRange(nparts, *order_by), StorageLevel.MEMORY_AND_DISK
    )
    ranged = shuffled.sortWithinPartitions(*order_by).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    offsets = _offsets_frame(shuffled, nparts, total_col is not None)
    out = ranged.withColumn(
        "__pid", F.shiftright("__mid", _MID_BITS)
    ).join(F.broadcast(offsets), "__pid")
    rank_expr = (
        F.col("__off") + F.col("__mid").bitwiseAND(F.lit(_MID_MASK)) + 1
    ).cast("bigint")
    out = out.withColumn(rank_col, rank_expr)
    keep = list(df.columns) + [rank_col]
    if total_col is not None:
        out = out.withColumn(total_col, F.col("__n").cast("bigint"))
        keep.append(total_col)
    out = out.select(*keep)
    return out


def _checked_int(df: DataFrame, c: str, what: str) -> Column:
    """The column, with a ROW-LEVEL loud-failure guard against NULLs
    (window SUM skips NULLs, which would silently corrupt an exact
    prefix). Replaces the old driver-side pre-scan: same loud failure,
    no extra job."""
    msg = F.concat(
        F.lit(f"{what}: value column {c!r} has NULLs: coalesce or filter "
              "them before the cumsum")
    )
    return F.when(
        F.assert_true(F.col(c).isNotNull(), msg).isNull(), F.col(c)
    )


def global_cumsum(
    df: DataFrame,
    order_by: list[Column],
    value_col: str,
    *,
    cum_col: str = "cum",
) -> DataFrame:
    """All input columns plus ``cum_col`` = inclusive global prefix sum
    of ``value_col`` under ``order_by`` — the SUM generalization of
    :func:`global_rank`, same construction: range-partition on the
    order, per-partition local window cumsum, per-partition TOTALS
    cumsum'd into additive offsets and broadcast-joined back (no
    driver collect — opt r8). A naive
    ``Window.orderBy(...)`` with no partition key would funnel every
    row through ONE task; this stays fully parallel. ``value_col``
    must be integral (exact prefix sums — float prefixes re-associate)
    and NULL-free (checked row-level, raising exactly like the old
    driver-side scan but without the extra job).
    """
    vtype = dict(df.dtypes).get(value_col)
    if vtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"value column {value_col!r} must be integral, got {vtype!r}"
        )
    return global_cumsum_multi(
        df, order_by, [value_col], suffix="\x00", _names={value_col: cum_col}
    )


def global_cumsum_multi(
    df: DataFrame,
    order_by: list[Column],
    value_cols: list[str],
    *,
    suffix: str = "_cum",
    _names: dict[str, str] | None = None,
) -> DataFrame:
    """Inclusive global prefix sums of SEVERAL integral columns under
    one ``order_by`` — each ``c`` in ``value_cols`` gains ``c+suffix``.

    The k-column generalization of :func:`global_cumsum` paying ONE
    range shuffle instead of k. Same contracts: columns must be
    integral and NULL-free (row-level loud check), ``order_by`` must
    be a total order. No driver action (opt r8): the per-partition
    totals ride a broadcast join keyed on the partition id. The
    shuffled frame is persisted for the same boundary-consistency
    reason as :func:`global_rank` (column pruning defeats exchange
    reuse between the totals and rows branches). The local prefix
    window partitions on the materialized partition id — that window
    needs a partition-id clustering Spark cannot infer from the range
    exchange, so cumsum (unlike global_rank) keeps its second
    Exchange; the rows move wholesale per partition.
    """
    from pyspark import StorageLevel

    if not value_cols:
        raise ValueError("value_cols must be non-empty")
    dtypes = dict(df.dtypes)
    for c in value_cols:
        if dtypes.get(c) not in ("tinyint", "smallint", "int", "bigint"):
            raise ValueError(
                f"value column {c!r} must be integral, got {dtypes.get(c)!r}"
            )
    names = _names or {c: c + suffix for c in value_cols}
    nparts = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    shuffled = pin(
        df.repartitionByRange(nparts, *order_by), StorageLevel.MEMORY_AND_DISK
    )
    ranged = shuffled.withColumn("__pid", F.spark_partition_id())
    totals = (
        shuffled.select(
            F.spark_partition_id().alias("__pid"),
            *[
                _checked_int(df, c, "global_cumsum").alias(f"__v_{c}")
                for c in value_cols
            ],
        )
        .groupBy("__pid")
        .agg(
            *[
                F.sum(f"__v_{c}").cast("bigint").alias(f"__s_{c}")
                for c in value_cols
            ]
        )
    )
    offsets = _exclusive_offsets(
        totals, nparts, [(f"__s_{c}", f"__off_{c}", None) for c in value_cols]
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = ranged.join(F.broadcast(offsets), "__pid")
    for c in value_cols:
        out = out.withColumn(
            names[c],
            (
                F.col(f"__off_{c}")
                + F.sum(_checked_int(df, c, "global_cumsum")).over(w)
            ).cast("bigint"),
        )
    out = out.select(*(list(df.columns) + [names[c] for c in value_cols]))
    return out


def _idiv_pos(a: Column, b: Column) -> Column:
    """Exact integer division of NON-NEGATIVE int64 columns via
    (a - a mod b) / b: the numerator is an exact multiple of b, so the
    double division is exact for quotients < 2^53."""
    return ((a - F.pmod(a, b)) / b).cast("bigint")


def ntile_from_rank(
    rank: Column, n: int | Column, n_tiles: int
) -> Column:
    """Exact ``ntile(n_tiles)`` assignment from a 1-based global rank
    over ``n`` rows — pure arithmetic, no window: the first ``n %
    n_tiles`` tiles get ``n // n_tiles + 1`` rows, the rest ``n //
    n_tiles`` (ANSI ntile semantics, verified against both engines).

    ``n`` may be a driver int or a Column (the ``total_col`` output of
    :func:`global_rank` — opt r8 removed the driver-side count); both
    paths produce identical assignments (pinned in tests/test_ranking).
    """
    if n_tiles <= 0:
        raise ValueError(f"n_tiles must be positive, got {n_tiles}")
    if isinstance(n, int):
        base, rem = n // n_tiles, n % n_tiles
        if base == 0:  # fewer rows than tiles: tile == rank
            return rank.cast("bigint")
        cut = rem * (base + 1)
        return (
            F.when(rank <= F.lit(cut), F.ceil(rank / F.lit(base + 1)))
            .otherwise(F.lit(rem) + F.ceil((rank - F.lit(cut)) / F.lit(base)))
            .cast("bigint")
        )
    t = F.lit(n_tiles).cast("bigint")
    nn = n.cast("bigint")
    base = _idiv_pos(nn, t)
    rem = F.pmod(nn, t)
    cut = rem * (base + 1)
    # ceil(r/(b+1)) = (r+b) div (b+1); ceil((r-cut)/b) = (r-cut+b-1) div b.
    # base==0 guard first — the otherwise-branches divide by base.
    return (
        F.when(base == F.lit(0).cast("bigint"), rank.cast("bigint"))
        .otherwise(
            F.when(rank <= cut, _idiv_pos(rank.cast("bigint") + base, base + 1))
            .otherwise(
                rem
                + _idiv_pos(rank.cast("bigint") - cut + base - 1, base)
            )
        )
        .cast("bigint")
    )


def quantile_normalize(
    df: DataFrame,
    value_col: str,
    by: str,
    id_col: str,
    *,
    out_col: str = "norm",
) -> DataFrame:
    """Cross-source quantile normalization (the Bolstad batch-effect
    correction, generalized to unequal group sizes): every row's value
    is replaced by the POOLED distribution's value at the same
    within-group quantile, so all groups end up with identical value
    distributions — the standard fix when one source's quality/length
    scale is shifted relative to the corpus and per-source percentiles
    (q_quality_percentiles) aren't enough because downstream wants
    VALUES, not ranks.

    Exact integer rule: a row at within-group rank r of n maps to the
    pooled order statistic at index

        j = ceil((2r−1)·N / (2n))   (midpoint quantile, clamped ≥ 1)

    — pure int64 arithmetic, so the mapping (and therefore the whole
    operator) is value-oracle-able. Ties break by ``id_col`` in both
    rankings, making every step a strict total order.

    Scale shape: TWO distributed global_rank passes (range shuffles —
    never a per-group window that funnels a giant group through one
    task; within-group ranks come from the (by, value, id) global rank
    minus broadcast per-group offsets, the q_quality_percentiles
    decomposition) + ONE equality join on the pooled index. The pooled
    total N rides global_rank's ``total_col`` (no driver count).

    Returns (id_col, by, value_col, out_col).
    """
    src_ranked = global_rank(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(by).alias("__by"),
            F.col(value_col).alias("__v"),
        ),
        [F.asc("__by"), F.asc("__v"), F.asc("__id")],
        rank_col="__gr",
        # the pooled total N equals the source total (same rows ranked
        # twice), so it rides THIS side's total_col and the pooled join
        # below stays a plain equi-join on the precomputed index
        total_col="__nt",
    )
    grp = src_ranked.groupBy("__by").agg(
        F.min("__gr").alias("__off"), F.count(F.lit(1)).alias("__n")
    )
    pooled = global_rank(
        df.select(F.col(value_col).alias("__pv"), F.col(id_col).alias("__pid2")),
        [F.asc("__pv"), F.asc("__pid2")],
        rank_col="__j",
    )
    rows = (
        src_ranked.join(F.broadcast(grp), "__by")
        .withColumn("__r", F.col("__gr") - F.col("__off") + 1)
        .withColumn(
            "__j",
            F.greatest(
                F.expr("((2 * __r - 1) * __nt + 2 * __n - 1) div (2 * __n)"),
                F.lit(1).cast("bigint"),
            ),
        )
    )
    rows = rows.join(pooled.select("__j", "__pv"), "__j")
    out = rows.select(
        F.col("__id").alias(id_col),
        F.col("__by").alias(by),
        F.col("__v").alias(value_col),
        F.col("__pv").alias(out_col),
    )
    return out
