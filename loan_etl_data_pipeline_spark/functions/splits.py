"""Deterministic dataset splits: hash-bucketing, not randomSplit.

``DataFrame.randomSplit`` draws per-row randoms seeded per *partition*:
re-run the pipeline with different parallelism, file order, or after a
repartition and rows silently migrate between train and test —
train/test leakage that no downstream check will catch. The portable
contract is a pure function of the row's key: bucket =
md5(key || salt), split by threshold. Same key → same split, forever,
on any engine (md5 hex is identical in Spark and DuckDB, so the
assignment is oracle-checkable), across any partitioning, and adding
new data never reshuffles old assignments.

The threshold compares the first 4 hex chars as a *string* against a
precomputed hex literal — no hex→int conversion needed anywhere, which
keeps the expression portable. Granularity is 1/65536 ≈ 0.0015%.
Changing ``salt`` re-rolls every assignment (use one salt per
experiment); keying on a stable business id (not a synthetic row
number) is what makes the split survive reprocessing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F


def split_bucket_hex(key_col, salt: str = "") -> Column:
    """First 4 hex chars of md5(key || salt) — the split coordinate."""
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 4)


def md5_coord48(key_col, salt: str = "") -> Column:
    """First 48 md5 bits of (key || salt) as a bigint in [0, 2^48).

    The shared fine-grained uniform coordinate (weighted_sample's
    priority source, negative_samples' ring position). One definition
    on purpose: the DuckDB oracles inline the same
    ``('0x' || substr(md5(..), 1, 12))::BIGINT`` formula, and the two
    sides must stay bit-identical.
    """
    col = F.col(key_col) if isinstance(key_col, str) else key_col
    return F.conv(
        F.substring(F.md5(F.concat(col.cast("string"), F.lit(salt))), 1, 12), 16, 10
    ).cast("bigint")


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    fractions: dict[str, float],
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic per-stratum sampling — ``sampleBy`` without the
    partitioning/seed drift.

    Keeps a row iff its md5 bucket falls under its stratum's fraction
    (strata absent from ``fractions`` are dropped, matching
    ``sampleBy``). Same key+salt → same decision on any engine or
    partitioning, so downsampling a corpus (e.g. capping an
    over-represented language) is reproducible and auditable. Same
    1/65536 granularity as :func:`hash_split`.
    """
    bucket = split_bucket_hex(key_col, salt)
    cond = None
    for stratum, frac in fractions.items():
        if frac <= 0.0:
            continue  # stratum fully dropped
        branch = F.col(strata_col) == stratum
        if frac < 1.0:  # frac >= 1 keeps the whole stratum exactly
            thr = format(min(max(round(frac * 65536), 1), 65535), "04x")
            branch = branch & (bucket < F.lit(thr))
        cond = branch if cond is None else (cond | branch)
    if cond is None:
        raise ValueError("fractions must keep at least one stratum")
    return df.filter(cond)


def hash_split(
    df: DataFrame,
    key_col: str,
    *,
    train_frac: float = 0.8,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Append ``split_col`` ∈ {'train', 'test'} keyed on ``key_col``."""
    if not 0.0 < train_frac < 1.0:
        raise ValueError(f"train_frac must be in (0, 1), got {train_frac}")
    # clamp to [1, 65535]: round() at the extremes would yield '0000'
    # (nothing trains) or the 5-char '10000' (string compare breaks)
    threshold = format(min(max(round(train_frac * 65536), 1), 65535), "04x")
    return df.withColumn(
        split_col,
        F.when(split_bucket_hex(key_col, salt) < F.lit(threshold), "train").otherwise(
            "test"
        ),
    )


def kfold_assign(
    df: DataFrame,
    key_col: str,
    k: int,
    *,
    salt: str = "",
    fold_col: str = "fold",
) -> DataFrame:
    """Append ``fold_col`` ∈ [0, k): deterministic GROUP k-fold
    cross-validation assignment, ``fold = md5_coord48(key‖salt) % k``.

    Every row sharing ``key_col`` lands in the SAME fold — pass the
    entity key (customer, document source, patient) for leakage-safe
    grouped CV (a row-level key degrades to plain row k-fold), the same
    entity-integrity contract as the leakage-safe component split but
    for the k-partition rotation. Pure function of the key: stable
    across engines/partitionings/reruns (the md5 contract of
    :func:`hash_split`), so fold i's TRAIN set is exactly the union of
    the other folds with no bookkeeping table. One narrow projection —
    no shuffle, no state.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        fold_col, (md5_coord48(key_col, salt) % k).cast("int")
    )


def sample_per_key(
    df: DataFrame,
    group_col: str,
    id_col: str,
    k: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic cap of at most ``k`` rows per group.

    The per-key reservoir every balanced training set needs (cap
    events per user, documents per domain, examples per class) —
    without ``orderBy(rand())``'s partitioning drift. Each row's rank
    within its group is its position in md5(id || salt) order: a pure
    function of the row, so the SAME k rows survive on any engine,
    any partitioning, forever — and re-salting draws an independent
    sample. ``id_col`` must be unique within a group (it is the
    reservoir coordinate; ties broken by the id itself).

    Plan shape: one shuffle on ``group_col`` + per-group sort — the
    same cost as any windowed top-k. For pathologically hot keys
    (one group ≫ executor memory) pre-thin with a cheap bucket filter
    first: ``split_bucket_hex(id) < thr`` with thr sized to ~10k·k
    candidates, then apply this exact cap.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    coord = F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(coord.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def expand_mixture(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    weights: dict[str, float],
    *,
    salt: str = "",
    copy_col: str = "copy_idx",
) -> DataFrame:
    """Epoch-expand a corpus mixture: repeat each stratum ``weight`` times.

    The pre-training mixing primitive (domain/source reweighting): a
    stratum with weight 2.5 contributes two full copies of every row
    plus a deterministic 50% sample as the third — so the EXACT set of
    rows a mixture feeds the trainer is reproducible on any engine or
    partitioning, auditable, and stable as new data lands (same
    md5-bucket contract as :func:`hash_split`; the fractional draw
    re-keys on salt+stratum so strata draw independently). Strata
    absent from ``weights`` are dropped, matching
    :func:`stratified_sample`.

    Plan shape: one CASE over the weight table + one
    ``explode(sequence(...))`` — a pure per-row flatMap in the scan
    stage, zero shuffle; the trainer-side global shuffle stays where it
    belongs (a sort by md5, e.g. write_sorted on md5(key, epoch salt)).
    ``copy_col`` (0-based) disambiguates the copies downstream.
    """
    import math

    n_full_expr = None
    thr_expr = None  # fractional-copy hex threshold, '' = no fractional copy
    for stratum, w in weights.items():
        if w < 0.0:
            raise ValueError(f"negative mixture weight for {stratum!r}: {w}")
        n_full, frac = int(math.floor(w)), w - math.floor(w)
        # threshold as a Python-side lowercase hex literal (the
        # stratified_sample convention — md5 hex is lowercase, so the
        # comparison must never see an engine-generated uppercase digit)
        thr = (
            format(min(max(round(frac * 65536), 1), 65535), "04x") if frac > 0 else ""
        )
        branch = F.col(strata_col) == stratum
        n_full_expr = (
            F.when(branch, n_full)
            if n_full_expr is None
            else n_full_expr.when(branch, n_full)
        )
        thr_expr = (
            F.when(branch, thr) if thr_expr is None else thr_expr.when(branch, thr)
        )
    if n_full_expr is None:
        raise ValueError("weights must not be empty")
    n_full_c = n_full_expr.otherwise(F.lit(0))  # unknown stratum → no copies
    thr_c = thr_expr.otherwise(F.lit(""))

    key = F.col(key_col).cast("string")
    out = (
        df.withColumn("__nf", n_full_c)
        .withColumn("__thr", thr_c)
        # emit candidates 0..n_full (the last is the fractional copy);
        # a weight-0/unknown stratum emits only the candidate 0, which
        # the filter below drops ('' threshold keeps nothing)
        .withColumn(copy_col, F.explode(F.sequence(F.lit(0), F.col("__nf"))))
    )
    # copy < n_full → unconditional; copy == n_full → fractional draw,
    # bucketed on (key, stratum, salt) so strata sample independently
    bucket = F.substring(F.md5(F.concat(key, F.col(strata_col), F.lit(salt))), 1, 4)
    keep = (F.col(copy_col) < F.col("__nf")) | (bucket < F.col("__thr"))
    return out.filter(keep).drop("__nf", "__thr")


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    k: int,
    *,
    salt: str = "",
) -> DataFrame:
    """Deterministic weighted sample of ``k`` rows, probability ∝ weight.

    Efraimidis–Spirakis priority sampling — THE one-pass distributed
    weighted-sampling algorithm: each row gets priority
    ``ln(u) / w`` with ``u`` a pure md5-derived uniform in (0,1), and
    the global top-k priorities are the sample. Like everything in this
    module the draw is a pure function of (key, salt): reproducible on
    any engine and partitioning, and re-salting draws an independent
    sample.

    ``u = (h + 0.5) / 2^48`` with ``h`` the first 48 md5 bits: h+0.5
    and the power-of-two division are IEEE-exact, so u is bit-identical
    everywhere. The ``ln`` is evaluated JVM-side and can differ from
    libm in the last ulp (~6% of values, measured) — which cannot
    change the SELECTED SET unless the k-boundary priority gap is below
    one ulp; measured gaps on the testdata are ~0.3% relative, 13
    orders of magnitude of margin. The priority column is therefore
    dropped from the output (sets compare exactly; raw priorities
    would not).

    Rows with null or non-positive weight are never sampled (they have
    no defined priority — E-S requires w > 0).

    CONTRACT: ``key_col`` must uniquely identify rows. Duplicate keys
    get bit-identical priorities, so the (priority, key) tie-break
    cannot order them and a k-boundary duplicate would be chosen by
    partitioning — run exact dedup first if keys may repeat (same
    contract as word_ngrams / sample_per_key).

    Plan: pure projection + TakeOrderedAndProject — per-partition
    local top-k then a driver merge of k-row heaps; no shuffle, O(k)
    driver memory, 100 TB-safe as-is.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    w = F.col(weight_col).cast("double")
    h = md5_coord48(key_col, salt)
    u = (h + F.lit(0.5)) / F.lit(281474976710656.0)  # / 2^48, exact
    priority = F.log(u) / w
    return (
        df.filter(w > 0)
        .withColumn("__es_priority", priority)
        .orderBy(F.desc("__es_priority"), F.asc(key_col))
        .limit(k)
        .drop("__es_priority")
    )


def epoch_shuffle(
    df: DataFrame,
    id_col: str,
    *,
    n_shards: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic global training-epoch shuffle: every row gets a
    1-based global ``pos`` under the pseudo-random order
    (md5_coord48(id || salt), id), and round-robin ``shard`` =
    (pos-1) mod n_shards — shards are exactly balanced (±1 row) no
    matter how skewed the key space is.

    This is the "shuffle the corpus before sharding it into training
    files" step: a real epoch shuffle must be reproducible (restarts,
    multi-host readers) and must NOT be ``orderBy(rand())`` — per-
    partition RNG seeding makes that irreproducible under repartition,
    and a naive global sort + row_number window would funnel all rows
    through ONE task. Uses functions/ranking.global_rank: a range-
    partitioned sort plus a per-partition offset map, so the heavy
    stage stays fully parallel. Re-roll an epoch by changing ``salt``
    ("epoch0", "epoch1", ...); assignments are a pure function of the
    id, so the same corpus shuffles identically on any cluster.
    global_rank pins its ranged intermediate: materialize the result
    before the caller's ``session.intermediates()`` scope closes.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import global_rank

    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    keyed = df.withColumn("__shufkey", md5_coord48(id_col, salt))
    ranked = global_rank(
        keyed,
        [F.col("__shufkey").asc(), F.col(id_col).asc()],
        rank_col="pos",
    )
    return ranked.withColumn(
        "shard", ((F.col("pos") - 1) % n_shards).cast("bigint")
    ).drop("__shufkey")


def token_budget_select(
    df: DataFrame,
    weight_col: str,
    budget: int,
    *,
    by: str,
    order_by: list | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Greedy per-group selection under a token budget: walk each
    ``by`` group in ``order_by`` order (default: ``weight_col`` DESC,
    id ASC — biggest-first; pass a quality score's sort for
    quality-first) and keep rows while the running Σ weight stays
    ≤ budget. Adds ``cum_weight`` (the running total INCLUDING the
    row). A row is kept iff its inclusive running total fits — an
    oversized head row is simply dropped and everything after it too
    (the cumsum is already past budget). That prefix rule is what
    keeps the operator a single window expression; a "skip the big
    one but keep scanning" greedy knapsack needs per-row state and is
    not SQL-replayable.

    This is the "fill each source's token quota for the next training
    mix" step. One window over (by, order) — a single hash-partitioned
    sort per group, no self-joins, exact integer cumsum. The weight
    column must already be integral: a silent cast here would floor
    fractional weights toward zero BEFORE summing (200 rows of weight
    0.9 would cumsum to 0 and all be "under budget"), so non-integer
    weights are rejected — pre-quantize (e.g. ``floor(w * 1000)`` with
    a scaled budget) and keep the cumsum exact.
    """
    from pyspark.sql import Window

    wtype = dict(df.dtypes).get(weight_col)
    if wtype not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"weight column {weight_col!r} must be integral, got {wtype!r}: "
            "quantize first (e.g. floor(w*1000) against a scaled budget)"
        )
    order = order_by or [F.col(weight_col).desc(), F.col(id_col).asc()]
    w = (
        Window.partitionBy(by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("cum_weight", F.sum(F.col(weight_col).cast("bigint")).over(w))
        .filter(F.col("cum_weight") <= budget)
    )


def temperature_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    *,
    budget: int,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled (α=0.5) source rebalancing: sample each
    stratum down so the mix follows w_s ∝ √c_s — the multilingual
    pre-training staple (big sources damped, small sources up-weighted
    relative to natural proportions) — targeting ``budget`` total rows.

    Everything stays EXACT integers so the kept set is engine- and
    partitioning-reproducible end to end:

        s_s      = floor(sqrt(c_s · 10⁶))     (sqrt of an exactly
                                               representable int is
                                               correctly rounded IEEE —
                                               identical on any engine)
        target_s = (budget · s_s) div Σs      (Σs is an exact INT sum —
                                               never a float Σ, whose
                                               association order differs
                                               per engine/partitioning)
        thr_s    = (target_s · 65536) div c_s  → 4-hex threshold

    and a row survives iff its md5 split coordinate is under its
    stratum's threshold (the hash_split/stratified_sample contract —
    so the draw is stable as data grows and independent across salts).
    Threshold sampling hits target_s in expectation with 1/65536
    granularity; an exact-quota variant would need a per-stratum
    global_rank — this is the scale-correct form. One small aggregate
    (|strata| rows) broadcast back onto the scan; zero wide shuffles.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    # NULL strata are dropped EXPLICITLY before counting: they can't
    # receive a share (the equality join below never matches NULL), and
    # counting them would silently deflate every real stratum's target
    df = df.filter(F.col(strata_col).isNotNull())
    cnt = df.groupBy(F.col(strata_col).alias("__st")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    sq = cnt.withColumn(
        "__s",
        F.floor(F.sqrt((F.col("__c") * F.lit(1_000_000)).cast("double"))).cast(
            "bigint"
        ),
    )
    # __stot, not __S: Spark resolution is case-insensitive, so __S
    # would collide with sq's __s across the self-derived cross join
    tot = sq.agg(F.sum("__s").cast("bigint").alias("__stot"))
    thr = (
        sq.crossJoin(F.broadcast(tot))
        .withColumn("__target", F.expr(f"({budget}L * __s) div __stot"))
        .withColumn(
            "__thr",
            # keep-all sentinel is "zzzz", NOT hex(65536): "10000" is 5
            # chars but sorts BELOW "ffff" lexicographically ('1' < 'f'),
            # which would drop the high-coordinate rows it meant to keep
            F.when(F.col("__target") >= F.col("__c"), F.lit("zzzz")).otherwise(
                F.format_string("%04x", F.expr("(__target * 65536L) div __c"))
            ),
        )
        .select("__st", "__thr")
    )
    return (
        df.join(F.broadcast(thr), df[strata_col] == F.col("__st"))
        .filter(split_bucket_hex(key_col, salt) < F.col("__thr"))
        .drop("__st", "__thr")
    )


def curriculum_tiles(
    df: DataFrame,
    score_col: str,
    n_tiles: int,
    *,
    id_col: str,
    tile_col: str = "tile",
) -> DataFrame:
    """Equal-population difficulty tiles for curriculum ordering.

    Exact ``ntile(n)`` semantics over the (score, id) total order — the
    id tie-break makes assignment a function of the data, not the
    partitioning — computed WITHOUT the single-partition window a bare
    ``Window.orderBy`` compiles to (Exchange SinglePartition = every
    row through one task; a verified non-starter at scale). Instead,
    the classic distributed global-rank construction:

    1. range-partition + sort on (score, id) — the same shuffle any
       global ranking pays, but parallel;
    2. per-partition row counts (one tiny job, numPartitions rows to
       the driver) → cumulative offsets broadcast back;
    3. global rank = partition offset + local row_number, then the
       ntile arithmetic (first n%t tiles get ⌈n/t⌉ rows) as a plain
       expression.

    The local row_number's window is partitioned by the materialized
    partition id, so no further exchange moves data.
    """
    from loan_etl_data_pipeline_spark.functions.ranking import (
        global_rank,
        ntile_from_rank,
    )

    if n_tiles <= 0:
        raise ValueError(f"n_tiles must be positive, got {n_tiles}")
    ranked = global_rank(
        df,
        [F.col(score_col).asc(), F.col(id_col).asc()],
        rank_col="__rank",
        total_col="__nt_total",
    )
    return ranked.withColumn(
        tile_col, ntile_from_rank(F.col("__rank"), F.col("__nt_total"), n_tiles)
    ).drop("__rank", "__nt_total")


def negative_samples(
    df: DataFrame,
    id_col: str,
    k: int,
    *,
    salt: str = "",
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic pseudo-random negatives: ``k`` partners per row.

    Contrastive training needs, for every anchor, a reproducible set of
    "random other" examples. Sampling them with ``rand()`` or a
    cross-join both fail at scale (drift / n²); this is the hash-ring
    construction: every id gets an md5 ring position, the ring is cut
    into ``n_buckets`` arcs (pure hash of the id — the shuffle key),
    and each row's negatives are its ``k`` clockwise ring neighbors
    WITHIN its arc, wrapping around. Positions are uniform and
    independent of any data attribute, so neighbors are as good as
    random draws — but a pure function of (id, salt): stable across
    engines, partitionings and reruns, and re-salting redraws.

    Rows in an arc of size c get ``min(k, c-1)`` negatives (never
    themselves, never duplicates). Cost: one shuffle on the arc key for
    the ranking window + one co-keyed self-join — both bounded by arc
    size ≈ n/n_buckets; scale ``n_buckets`` with the corpus so arcs
    stay task-sized.

    Output: (``anchor``, ``j`` 1..k, ``neg``) — j is the neighbor index.

    CONTRACT: ``id_col`` must uniquely identify rows. A duplicated id
    occupies two ring slots at the same position, so an anchor could
    draw itself or the same negative twice — run exact dedup first if
    ids may repeat (same contract as word_ngrams).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    from pyspark.sql import Window

    pos = md5_coord48(id_col, salt)
    base = df.select(
        F.col(id_col).alias("__id"),
        pos.alias("__pos"),
        F.pmod(pos, F.lit(n_buckets)).alias("__bucket"),
    )
    w = Window.partitionBy("__bucket").orderBy(F.asc("__pos"), F.asc("__id"))
    wc = Window.partitionBy("__bucket")
    numbered = base.withColumn("__rn", F.row_number().over(w)).withColumn(
        "__cnt", F.count(F.lit(1)).over(wc)
    )
    anchors = (
        numbered.withColumn(
            "j",
            F.explode(
                F.when(
                    F.col("__cnt") > 1,
                    F.sequence(F.lit(1), F.least(F.lit(k), F.col("__cnt") - 1)),
                ).otherwise(F.array())
            ),
        )
        .select(
            F.col("__id").alias("anchor"),
            "__bucket",
            F.col("j").cast("bigint").alias("j"),
            (
                F.pmod(F.col("__rn") - 1 + F.col("j"), F.col("__cnt")) + 1
            ).alias("__nrn"),
        )
    )
    partners = numbered.select("__bucket", F.col("__rn").alias("__nrn"), F.col("__id").alias("neg"))
    return anchors.join(partners, ["__bucket", "__nrn"]).select("anchor", "j", "neg")


def unimax_allocation(
    counts_df: DataFrame,
    key_col: str,
    cap_col: str,
    *,
    budget: int,
) -> DataFrame:
    """UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    Effective Language Sampling", ICLR 2023): split an integer token
    ``budget`` across sources as uniformly as possible, each source
    capped at its own capacity (tokens × max-epochs) — the
    principled alternative to temperature sampling that never
    over-repeats a small source. Water-filling with a single level L:
    every source gets min(capacity, L), with L the largest integer the
    budget affords.

    Relational single pass, exact int64: sort sources by capacity
    ascending; for the segment where rows 1..k-1 are fully consumed,
    the candidate level is (budget − prefix_{k-1}) div (n−k+1), valid
    iff it clears cap_{k-1} and not cap_k — exactly one segment is
    valid (or the whole budget covers every capacity). The frame here
    is PER-SOURCE aggregates (|sources| rows), so the one global
    window is a deliberate tiny-side sort, not a data-scale Exchange
    (the global_rank playbook governs data-scale ranking).

    Returns (key, capacity, alloc) with Σ alloc = min(budget mod-L
    remainder aside, Σ capacity) — the div remainder (< n rows' worth)
    is deliberately left unallocated; route it through
    operators/allocate.largest_remainder if exact exhaustion matters.
    """
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    w = Window.orderBy(F.col("__cap"), F.col("__key"))
    base = counts_df.select(
        F.col(key_col).alias("__key"),
        F.col(cap_col).cast("bigint").alias("__cap"),
    )
    n = base.count()
    ranked = (
        base.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__prefix_excl",
            F.coalesce(
                F.sum("__cap").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn(
            "__prev_cap",
            F.coalesce(
                F.lag("__cap").over(w), F.lit(0).cast("bigint")
            ),
        )
    ).localCheckpoint(eager=False)
    total_cap = ranked.agg(F.sum("__cap")).collect()[0][0] or 0
    if total_cap <= budget:
        # budget covers everything: alloc = capacity for all
        return ranked.select(
            F.col("__key").alias(key_col),
            F.col("__cap").alias("capacity"),
            F.col("__cap").alias("alloc"),
        )
    level_row = (
        ranked.withColumn(
            "__level",
            F.expr(f"({budget}L - __prefix_excl) div ({n}L - __rn + 1)"),
        )
        .filter(
            (F.col("__level") >= F.col("__prev_cap"))
            & (F.col("__level") < F.col("__cap"))
        )
        .orderBy("__rn")
        .limit(1)
        .select("__level")
    )
    return (
        ranked.crossJoin(F.broadcast(level_row))  # 1-row scalar
        .select(
            F.col("__key").alias(key_col),
            F.col("__cap").alias("capacity"),
            F.least(F.col("__cap"), F.col("__level")).alias("alloc"),
        )
    )
