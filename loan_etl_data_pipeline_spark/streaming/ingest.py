"""Streaming ingestion — the reference's file-watch loop, Spark-native.

The reference implements streaming in the control plane: an Airflow
sensor pokes a Drive folder every 60 s, keeps a seen-file-id list in an
Airflow Variable, and processes each new file exactly once
(reference: airflow/dags/google_drive_sensor.py:25-48 poke+seen-set,
airflow/dags/drive_watch_dag.py:45-50 poke_interval/timeout,
airflow/dags/spark_etl_dag.py:23 max_active_runs=1). Structured
Streaming's file source gives all three semantics natively:

- ST1 source polling   → ``readStream`` file source + processing-time
  trigger (or ``availableNow`` for drain-and-stop batch catch-up);
- ST2 exactly-once/file → the source's checkpointed processed-file log
  replaces the Airflow Variable seen-set;
- ST3 one run at a time → a StreamingQuery serializes its own triggers.

At 100 TB the file source is the right shape: listing is incremental
(``latestFirst``/``maxFilesPerTrigger`` bound each micro-batch), state
lives in the checkpoint (HDFS/S3), and each micro-batch is a normal
batch DataFrame so the whole batch operator library applies via
``foreachBatch``.
"""

from __future__ import annotations

from typing import Callable

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import LongType, StructField, StructType

from loan_etl_data_pipeline_spark.plans.etl import clean
from loan_etl_data_pipeline_spark.session import intermediates


def stream_etl(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    schema: StructType,
    ts_col: str = "timestamp",
    trigger_seconds: float | None = None,
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
    on_batch: Callable[[DataFrame, int], None] | None = None,
) -> StreamingQuery:
    """Continuous reference-parity ETL over a landing directory.

    Each discovered CSV/CSV.GZ is read exactly once (checkpointed file
    log), cleaned with the batch `clean` pipeline inside ``foreachBatch``,
    and appended as Parquet. ``on_batch(cleaned_df, batch_id)`` is the
    notification hook standing in for the reference's email step
    (reference: airflow/dags/drive_watch_dag.py:214-288) — out-of-engine
    side effects stay callbacks, exactly as SURVEY.md §7 M5 prescribes.

    A streaming file source requires an explicit schema — there is no
    inferSchema double-scan on an unbounded source, which is the
    explicit-schema fast path SURVEY.md §1.3 calls for anyway.
    """
    reader = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .option("pathGlobFilter", "*.csv*")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        cleaned = clean(batch_df, ts_col)
        cleaned.write.mode("append").parquet(output_dir)
        if on_batch is not None:
            on_batch(cleaned, batch_id)

    writer = raw.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_event_counts(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    event_type_col: str = "event_type",
    value_col: str = "value",
    window_duration: str = "1 hour",
    slide_duration: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling/sliding aggregation with late-data bound (E6).

    Works on a streaming OR batch DataFrame (same plan — that is the
    point of the unified API; tests assert batch/stream result parity).
    The watermark caps state: windows older than max(event time) −
    watermark are finalized and evicted, which is what makes unbounded
    aggregation viable at 100 TB/day ingest.
    """
    win = (
        F.window(F.col(ts_col), window_duration, slide_duration)
        if slide_duration
        else F.window(F.col(ts_col), window_duration)
    )
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(win.alias("win"), F.col(event_type_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col(value_col) * 100)).alias("sum_value_c"),
    ).select(
        F.col("win.start").alias("win_start"),
        F.col("win.end").alias("win_end"),
        event_type_col,
        "n_events",
        "sum_value_c",
    )


def streaming_dedup(
    events: DataFrame,
    keys: list[str],
    *,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once event dedup, streaming or batch (E1 in stream form).

    Streaming: ``dropDuplicatesWithinWatermark`` — per-key state is held
    only until the watermark passes, so state is bounded by (keys seen
    within the watermark horizon), the only viable contract for an
    unbounded 100 TB/day stream (a plain ``dropDuplicates`` on a stream
    keeps ALL keys forever). Batch: plain ``dropDuplicates`` on the same
    keys gives the identical key set, which is what the parity test
    asserts. Generalizes the reference's seen-file-id dedup from files
    to events (reference: airflow/dags/google_drive_sensor.py:33-46).
    """
    if events.isStreaming:
        return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def streaming_running_totals(
    events: DataFrame,
    *,
    user_col: str = "user_id",
    value_col: str = "value",
) -> DataFrame:
    """Custom stateful operator: running per-key event count + value total.

    The shape Spark's built-in aggregations can't express directly on a
    stream in update-per-batch form: arbitrary per-key state carried
    across micro-batches via ``applyInPandasWithState`` (Arrow-batched;
    state = one (count, cents) pair per key, checkpointed, restored on
    restart — asserted by the two-batch restart test). Values accumulate
    as floored cents (int64) so totals are exact and order-independent,
    matching the engine-wide determinism contract.

    Batch parity: on a non-streaming frame the same running totals are
    just a groupBy — the test asserts the final stream state equals the
    batch aggregate.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("total_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    if not events.isStreaming:
        return events.groupBy(F.col(user_col).alias("user_id")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.expr(f"cast(floor({value_col} * 100) as bigint)")).alias(
                "total_cents"
            ),
        )

    def _update(key, pdfs, state: GroupState):
        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np_floor_cents(pdf[value_col]))
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
        )

    def np_floor_cents(series) -> int:
        import numpy as np

        return int(np.floor(series.to_numpy(dtype=np.float64) * 100).astype(np.int64).sum())

    return (
        events.select(F.col(user_col).cast("long").alias(user_col), value_col)
        .groupBy(user_col)
        .applyInPandasWithState(
            _update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def streaming_heavy_hitters(
    events: DataFrame,
    *,
    value_col: str = "event_type",
    capacity: int = 8,
    n_shards: int = 16,
) -> DataFrame:
    """Streaming frequent-items: sharded Misra–Gries summaries carried
    across micro-batches via ``applyInPandasWithState``.

    Values route to ``pmod(xxhash64(value), n_shards)`` shards, so every
    occurrence of a value lands in ONE shard whose state is a bounded
    MG summary (≤ ``capacity`` (item, count) pairs + the shard's exact
    row total). The MG guarantee therefore holds per shard — and,
    because routing is total, globally: any value with true frequency
    > shard_total/capacity is present in its shard's candidate list at
    every batch boundary. This is the streaming twin of
    ``operators/frequent.py heavy_hitters`` (whose batch second pass
    turns candidates into exact counts).

    Determinism contract: an MG summary depends on decrement order, so
    within each micro-batch the new rows are pre-counted exactly and
    folded in sorted-value order — the state is then a pure function of
    the micro-batch partition sequence (checkpointed and replayed
    identically on restart), not of task scheduling inside a batch.

    Scale: state is O(n_shards · capacity) TOTAL — constant-size, never
    per-key — and each micro-batch ships one Arrow frame per shard.
    Output (update mode): one row per surviving (shard, item) per
    batch, with the MG lower-bound count and the shard total.

    On a non-streaming frame this degrades to the exact per-value
    count with the same output columns (shard, item, mg_count = exact,
    shard_total) so batch/stream tests can compare like for like.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import ArrayType, StringType

    shard = F.pmod(F.xxhash64(F.col(value_col).cast("string")), F.lit(n_shards))
    # null values are ignored in BOTH paths (a null is never a frequent
    # item any more than it equi-joins); unguarded, a null item reaches
    # the stateful kernel's sorted() fold and kills the query with a
    # str-vs-None TypeError
    routed = events.filter(F.col(value_col).isNotNull()).select(
        shard.cast("long").alias("shard"),
        F.col(value_col).cast("string").alias("item"),
    )

    out_schema = StructType(
        [
            StructField("shard", LongType()),
            StructField("item", StringType()),
            StructField("mg_count", LongType()),
            StructField("shard_total", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("items", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
            StructField("total", LongType()),
        ]
    )

    if not routed.isStreaming:
        totals = routed.groupBy("shard").agg(F.count(F.lit(1)).alias("shard_total"))
        return (
            routed.groupBy("shard", "item")
            .agg(F.count(F.lit(1)).alias("mg_count"))
            .join(totals, "shard")
            .select("shard", "item", "mg_count", "shard_total")
        )

    def _update(key, pdfs, state: GroupState):
        if state.exists:
            items, counts, total = state.get
            summary = dict(zip(list(items), list(counts)))
        else:
            summary, total = {}, 0
        batch_counts: dict[str, int] = {}
        for pdf in pdfs:
            for v in pdf["item"]:
                batch_counts[v] = batch_counts.get(v, 0) + 1
        for v in sorted(batch_counts):
            c = batch_counts[v]
            total += c
            if v in summary:
                summary[v] += c
            elif len(summary) < capacity:
                summary[v] = c
            else:
                # Misra–Gries decrement: subtract the bulk-insert count
                # from every tracked item, dropping those that hit zero;
                # leftover re-inserts if slots freed up
                m = min(summary.values())
                dec = min(c, m)
                summary = {k: n - dec for k, n in summary.items() if n > dec}
                if c > dec and len(summary) < capacity:
                    summary[v] = c - dec
        state.update((list(summary.keys()), list(summary.values()), total))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(summary),
                "item": list(summary.keys()),
                "mg_count": list(summary.values()),
                "shard_total": [total] * len(summary),
            }
        )

    return routed.groupBy("shard").applyInPandasWithState(
        _update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_sessionize(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user with a inactivity gap (E6 session form).

    ``session_window`` keeps per-key state until the watermark passes the
    session's end + gap; without the watermark a streaming session agg
    would grow state forever.
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.session_window(F.col(ts_col), gap).alias("sess"), F.col(user_col)
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("sess.start").alias("sess_start"),
        F.col("sess.end").alias("sess_end"),
        user_col,
        "n_events",
    )


def streaming_enrich(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static join: attach a slowly-changing dimension to every
    micro-batch (the streaming face of the engine's broadcast joins).

    Spark re-plans the static side each micro-batch, so a dimension
    refreshed in place is picked up on the next trigger without
    restarting the query. ``broadcast`` keeps each micro-batch
    shuffle-free (the stream side never repartitions — at 100 TB/day
    that is the difference between a map-only enrich and a per-trigger
    shuffle); disable it only when the dimension is too big to fit,
    which usually means it belongs in a stream-stream join with
    watermarks instead. Left join: stream rows without a dimension row
    pass through with nulls rather than silently dropping.
    """
    d = F.broadcast(dim) if broadcast else dim
    return stream.join(d, on, "left")


def streaming_upsert(
    stream_df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    *,
    key_cols: list[str] | str,
    partition_col: str,
    seq_col: str,
    available_now: bool = False,
    trigger_seconds: float | None = None,
    op_col: str | None = None,
    delete_value: str = "d",
) -> StreamingQuery:
    """CDC-style streaming apply: merge each micro-batch into a keyed
    parquet table (plans/upsert.py merge_upsert) instead of appending.

    With ``op_col`` set, rows whose op equals ``delete_value`` are
    TOMBSTONES (the Debezium delete shape — the event carries the key
    and, from its before-image, the partition): the per-key
    max-``seq_col`` survivor decides the key's fate, so an update and
    a later delete in one batch deletes, a delete then a later
    re-insert re-inserts, and replaying the batch is still idempotent.
    The control column never lands in the table.

    The missing half of file-stream ingestion for *state* tables
    (dimensions, per-user profiles, latest-reading-per-sensor): each
    micro-batch is collapsed to its latest row per key — max ``seq_col``
    wins, remaining columns break exact ties so the survivor is total-
    order deterministic — then upserted, rewriting only the partitions
    the batch touches.

    Delivery semantics, stated honestly: foreachBatch gives
    at-least-once on retry, and the merge is IDEMPOTENT for a replayed
    batch (same keys → same survivors → same end state), so the table
    converges exactly-once-per-key as long as seq_col is monotone per
    key — but a batch-boundary caveat applies: merge_upsert keeps the
    BATCH row for a matched key even if the table row has a higher seq
    (it never happens under per-key-monotone replay, the stated
    precondition). State lives in the checkpoint; the parquet caveat
    from plans/upsert.py (non-transactional vs Delta/Iceberg) applies
    unchanged.
    """
    from loan_etl_data_pipeline_spark.operators.dedup import dedup_exact
    from loan_etl_data_pipeline_spark.plans.upsert import merge_upsert

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        tie = [c for c in batch_df.columns if c != seq_col and c not in keys]
        latest = dedup_exact(
            batch_df, keys, order_by=[F.desc(seq_col), *[F.desc(c) for c in tie]]
        )
        deletes = None
        if op_col is not None:
            deletes = latest.filter(F.col(op_col) == delete_value).select(
                *keys, partition_col
            )
            latest = latest.filter(
                (F.col(op_col) != delete_value) | F.col(op_col).isNull()
            ).drop(op_col)
        try:
            spark.read.parquet(table_dir).schema  # existence probe
            exists = True
        except AnalysisException:
            # Missing path OR an unreadable dir (pre-created empty, or a
            # first write that died before committing footers). Either
            # way the table holds no committed data, so the create path
            # below may safely overwrite. Transient FS/permission errors
            # are NOT AnalysisException and propagate → batch retry.
            exists = False
        if exists:
            merge_upsert(
                spark,
                table_dir,
                latest,
                key_cols=keys,
                partition_col=partition_col,
                deletes=deletes,
            )
        else:
            # overwrite, not errorifexists: the probe established there is
            # no readable table, and a leftover partial directory must not
            # wedge the stream permanently (idempotent on replay, too).
            latest.write.mode("overwrite").partitionBy(partition_col).parquet(
                table_dir
            )

    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _canonical_checkpoint_id(spark, checkpoint_dir: str) -> str:
    """One spelling per checkpoint: qualified URI via Hadoop Path.

    The exactly-once dedup key is the checkpoint itself, not its
    spelling — a relative path, trailing slash, or ``file://`` scheme
    passed on a later restart must still match the manifests written
    under the original spelling, or replayed batches re-commit as
    duplicate snapshots.
    """
    sc = spark.sparkContext
    jvm = sc._jvm
    p = jvm.org.apache.hadoop.fs.Path(checkpoint_dir)
    fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
    return fs.makeQualified(p).toUri().toString().rstrip("/")


def _commit_versioned_batch(
    batch_df: DataFrame, batch_id: int, table_dir: str, run_id: str
) -> int | None:
    """Commit one micro-batch as a snapshot unless (run_id, batch_id) is
    already committed; returns the version written, None when skipped.
    Module-level so the replay-skip branch is directly unit-testable."""
    from loan_etl_data_pipeline_spark.sources.versioned import (
        version_manifests,
        write_version,
    )

    spark = batch_df.sparkSession
    seen = {
        (m.get("run_id"), m.get("batch_id"))
        for m in version_manifests(spark, table_dir).values()
    }
    if (run_id, batch_id) in seen:
        return None  # replayed batch, already committed
    return write_version(
        batch_df, table_dir, meta={"batch_id": batch_id, "run_id": run_id}
    )


def stream_to_versioned(
    events: DataFrame,
    table_dir: str,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_seconds: float | None = None,
):
    """Sink a stream into versioned snapshots, exactly once per batch.

    Each micro-batch commits as one immutable snapshot
    (sources/versioned.py), so downstream training runs can pin "the
    corpus as of version N" while ingestion keeps appending — the
    streaming producer for the time-travel reader.

    Exactly-once across restarts: foreachBatch can REPLAY a batch whose
    sink action ran but whose checkpoint offset commit did not land.
    (batch_id, checkpoint run) is recorded in the snapshot manifest,
    and a replayed batch already committed is skipped — the same
    manifest-as-commit-marker protocol the writer itself uses, extended
    one level up. Dedup is scoped to the CHECKPOINT (its dir path):
    batch_ids restart at 0 when a checkpoint is rebuilt after loss or a
    second stream targets the same table, and a bare-batch_id dedup
    would silently discard the whole reload in that scenario — the
    reprocessed batches must commit as NEW snapshots instead. (The
    manifest scan is one driver-side listing of version-count files per
    batch: fine for snapshot cadences; not a per-second sink.)
    """

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        run_id = _canonical_checkpoint_id(batch_df.sparkSession, checkpoint_dir)
        _commit_versioned_batch(batch_df, batch_id, table_dir, run_id)

    writer = events.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    lower_seconds: float = 0.0,
    upper_seconds: float = 300.0,
    watermark: str = "1 hour",
    suffix: str = "_r",
    how: str = "inner",
) -> DataFrame:
    """Stream⋈stream interval join: right events within
    ``[left_ts + lower, left_ts + upper]`` per key — the join type
    stream-static enrichment can't express (both sides unbounded).

    On streams, BOTH sides are watermarked and the time-interval
    condition is what lets Spark bound the join state: each side
    retains only rows whose event time is still within
    watermark + interval reach of the other — without the interval
    bound the state would grow forever and Spark rejects the query in
    append mode. On batch frames the identical join runs as a plain
    range-condition join, which is what the parity test compares.

    ``how="leftOuter"`` emits unmatched left rows with NULL right
    columns — but only once the watermark proves no match can still
    arrive, so on a stream an unmatched row surfaces one micro-batch
    AFTER event time passes its ``left_ts + upper + watermark``
    horizon. A finite stream therefore needs a later event (or Spark's
    no-data micro-batch) to flush the tail; the parity test drives
    this with a sentinel row past the horizon. Batch left joins have
    no such horizon and emit nulls immediately — same multiset,
    different latency.

    Output: left columns + right payload columns suffixed.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be inner or leftOuter, got {how!r}")
    r = right
    for c in r.columns:
        if c != on:
            r = r.withColumnRenamed(c, f"{c}{suffix}")
    # the right key joins under a reserved name and is dropped by NAME:
    # dropping by r[on] reference resolves ambiguously after an outer
    # join (observed: batch leftOuter kept the RIGHT key, nulling the
    # key on unmatched rows)
    r = r.withColumnRenamed(on, "__on_r")
    lts, rts = F.col(left_ts), F.col(f"{right_ts}{suffix}")
    if left.isStreaming or r.isStreaming:
        left = left.withWatermark(left_ts, watermark)
        r = r.withWatermark(f"{right_ts}{suffix}", watermark)
    # fixed-point interval literals: a bare float repr can format in
    # exponent notation (1e-05), which Spark's interval grammar rejects
    lo = f"INTERVAL '{float(lower_seconds):.6f}' SECOND"
    hi = f"INTERVAL '{float(upper_seconds):.6f}' SECOND"
    cond = (rts >= lts + F.expr(lo)) & (rts <= lts + F.expr(hi))
    return left.join(
        r, [left[on] == F.col("__on_r"), cond], how
    ).drop("__on_r")


def stream_neardup_dedup(
    docs: DataFrame,
    *,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
    trigger_seconds: float | None = None,
    **dedup_kwargs,
):
    """Continuous corpus building: dedup each arriving micro-batch of
    documents against the PERSISTENT MinHash band index, append
    survivors, grow the index — the streaming face of
    ``operators/dedup.py minhash_dedup_incremental``.

    Layout (both grow one subdirectory per micro-batch):

    - ``out_dir/batch=N`` — surviving rows of batch N;
    - ``index_dir/batch=N`` — band postings of the survivors (id,
      band_no, band_key, sig — NO document text, the production index
      shape).

    Exactly-once on replay: foreachBatch can re-run the last batch
    after a crash. Every write lands in the batch's OWN subdirectory
    with ``overwrite``, and the index loaded for batch N explicitly
    EXCLUDES ``batch=N`` — a replay overwrites its previous partial
    output instead of matching its own documents against themselves
    (which would drop every doc of the replayed batch as a
    self-duplicate).

    At 100 TB the per-batch cost is the delta-only scan plus a
    band-key join against the index postings — the accumulated corpus
    text is never re-read, exactly like the batch-incremental
    operator this wraps (see its docstring for the bucketed-index
    layout that makes the probe join exchange-free).
    """
    from loan_etl_data_pipeline_spark.operators.dedup import (
        band_postings,
        minhash_dedup_incremental,
        minhash_signatures,
    )

    spark = docs.sparkSession
    sig_kwargs = {
        k: v
        for k, v in dedup_kwargs.items()
        if k in ("num_perm", "shingle_size")
    }
    post_kwargs = {
        k: v for k, v in dedup_kwargs.items() if k in ("num_perm", "bands")
    }

    def _load_index(exclude_batch: int) -> DataFrame | None:
        # Hadoop FS listing, NOT os.listdir: index_dir is s3a://hdfs://
        # in the deployment this operator exists for, where a local
        # listing silently returns nothing and every batch would dedup
        # only against itself (the same reason _canonical_checkpoint_id
        # goes through the Hadoop Path API).
        sc = spark.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(index_dir)
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return None
        fs_dirs = sorted(
            st.getPath().toString()
            for st in fs.listStatus(p)
            if st.isDirectory()
            and st.getPath().getName().startswith("batch=")
            and st.getPath().getName() != f"batch={exclude_batch}"
        )
        if not fs_dirs:
            return None
        return spark.read.parquet(*fs_dirs)

    def _batch(bdf: DataFrame, bid: int) -> None:
        # the batch writes everything it builds, so its pinned postings
        # are released when it returns instead of accumulating per batch
        with intermediates():
            idx = _load_index(bid)
            kept, _dropped, _ = minhash_dedup_incremental(
                bdf, idx, id_col, text_col, **dedup_kwargs
            )
            kept = kept.localCheckpoint()  # consumed twice: rows + postings
            kept.write.mode("overwrite").parquet(f"{out_dir}/batch={bid}")
            delta_posts = band_postings(
                minhash_signatures(kept, id_col, text_col, **sig_kwargs),
                **post_kwargs,
            )
            delta_posts.write.mode("overwrite").parquet(
                f"{index_dir}/batch={bid}"
            )

    writer = docs.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_scd2(
    changes: DataFrame,
    table_dir: str,
    *,
    key_cols,
    attr_cols,
    order_col: str,
    checkpoint_dir: str,
    tiebreak_cols=(),
    available_now: bool = True,
    trigger_seconds: float | None = None,
):
    """Maintain a type-2 dimension from a STREAM of change events: each
    micro-batch merges into the versioned dimension table — the
    streaming producer for ``point_in_time_join`` consumers.

    Per batch: the first ever batch bootstraps the dimension with
    ``scd2_from_history``; every later batch applies ``scd2_merge``
    against the latest committed snapshot (the merge contract
    guarantees ``merge(build(h1), h2) == build(h1 ∪ h2)``, so the
    maintained table is always exactly the full rebuild over
    everything ingested — the property the parity test pins). Each
    result commits as one immutable snapshot with the same
    (run_id, batch_id) replay-skip protocol as ``stream_to_versioned``
    — a replayed foreachBatch after a crash must NOT re-merge, or
    every row would double its version history.

    Ordering: scd2_merge requires batch changes strictly later per key
    than the dimension head, which micro-batch arrival order gives for
    time-ordered feeds (CDC taps, event logs). Out-of-order keys
    across batches are the caller's watermarking problem, exactly as
    in the batch incremental-load contract.

    Scale: per batch one key-windowed delta merge + anti-join
    passthrough of untouched history (AQE broadcasts the touched-key
    set when the batch is small — the usual CDC case) + one snapshot
    write. Nothing rescans the full change history.
    """
    from loan_etl_data_pipeline_spark.operators.scd import (
        scd2_from_history,
        scd2_merge,
    )
    from loan_etl_data_pipeline_spark.sources.versioned import (
        list_versions,
        read_version,
        version_manifests,
        write_version,
    )

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        run_id = _canonical_checkpoint_id(spark, checkpoint_dir)
        versions = list_versions(spark, table_dir)
        if versions:
            seen = {
                (m.get("run_id"), m.get("batch_id"))
                for m in version_manifests(spark, table_dir).values()
            }
            if (run_id, batch_id) in seen:
                return  # replayed batch: merging again would fork history
            dim = read_version(spark, table_dir)
            merged = scd2_merge(
                dim,
                batch_df,
                key_cols,
                attr_cols,
                order_col,
                tiebreak_cols=tiebreak_cols,
            )
        else:
            merged = scd2_from_history(
                batch_df,
                key_cols,
                attr_cols,
                order_col,
                tiebreak_cols=tiebreak_cols,
            )
        write_version(
            merged, table_dir, meta={"batch_id": batch_id, "run_id": run_id}
        )

    writer = changes.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_pit_enrich(
    stream: DataFrame,
    dim_table_dir: str,
    key_cols,
    time_col: str,
    *,
    broadcast: bool = True,
) -> DataFrame:
    """Streaming point-in-time enrich: join each event to the SCD2
    dimension version ACTIVE AT THE EVENT'S OWN TIMESTAMP — the
    training-data rule (an event enriched with attributes from its
    future is label leakage; ``streaming_enrich`` attaches the current
    version, this attaches the historically-correct one). The natural
    consumer of a ``stream_scd2``-maintained table.

    The dimension is read fresh from the versioned store's LATEST
    snapshot at planning time of each micro-batch (stream-static
    semantics — Spark re-plans the static side per trigger, so newly
    committed dimension versions are picked up without a restart; the
    snapshot read is atomic via the manifest, never a torn directory
    listing). The interval predicate rules out hash equi-join, so the
    dimension side must stay broadcastable — SCD2 dimensions usually
    are (entities × versions, not events); set ``broadcast=False``
    only with AQE sizing room, and expect a per-trigger shuffle.
    """
    from loan_etl_data_pipeline_spark.operators.scd import (
        _as_list,
        point_in_time_join,
    )
    from loan_etl_data_pipeline_spark.sources.versioned import read_version

    dim = read_version(stream.sparkSession, dim_table_dir)
    d = F.broadcast(dim) if broadcast else dim
    return point_in_time_join(stream, d, _as_list(key_cols), time_col)


def streaming_fingerprint(
    stream_df: DataFrame,
    canonical,
    table_dir: str,
    *,
    checkpoint_dir: str,
    available_now: bool = True,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Continuously maintained table fingerprint: each micro-batch's
    bucketed (count, 40-bit-md5-coordinate sum) deltas
    (operators/quality.py table_fingerprint) merge into the running
    fingerprint by plain integer addition — the same commutative
    algebra that makes the batch operator partitioning-proof makes it
    STREAM-maintainable with no rescan. The running fingerprint of an
    append-only stream equals the one-shot fingerprint of everything
    ingested so far (asserted in tests), which is the continuous
    replication-validation primitive: compare against the replica's
    fingerprint at any snapshot without touching row data.

    Exactly-once across restarts via the snapshot-manifest
    (run_id, batch_id) protocol shared with stream_to_versioned: a
    replayed batch whose snapshot already committed is skipped, so
    coordinates are never double-added. Each committed version IS the
    fingerprint as-of that batch — time travel over integrity states.
    """
    from loan_etl_data_pipeline_spark.operators.quality import (
        table_fingerprint,
    )
    from loan_etl_data_pipeline_spark.sources.versioned import (
        list_versions,
        read_version,
        version_manifests,
        write_version,
    )

    def commit(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        run_id = _canonical_checkpoint_id(spark, checkpoint_dir)
        seen = {
            (m.get("run_id"), m.get("batch_id"))
            for m in version_manifests(spark, table_dir).values()
        }
        if (run_id, batch_id) in seen:
            return  # replayed batch: its deltas are already in
        delta = table_fingerprint(batch_df, canonical)
        if list_versions(spark, table_dir):
            merged = (
                read_version(spark, table_dir)
                .unionByName(delta)
                .groupBy("bucket")
                .agg(
                    F.sum("n_rows").cast("bigint").alias("n_rows"),
                    F.sum("checksum").cast("bigint").alias("checksum"),
                )
            )
        else:
            merged = delta
        # one deterministic frame per version; tiny (≤ bucket count)
        write_version(
            merged.coalesce(1),
            table_dir,
            meta={"batch_id": batch_id, "run_id": run_id},
        )

    writer = stream_df.writeStream.foreachBatch(commit).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def stream_reconcile(
    entries: DataFrame,
    *,
    pending_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    side_col: str,
    side_a: str,
    side_b: str,
    key_cols,
    order_cols,
    value_col: str,
    available_now: bool = True,
    trigger_seconds: float | None = None,
):
    """Continuous settlement reconciliation: each micro-batch's ledger
    entries match one-to-one against the OTHER side's accumulated
    unmatched backlog — the streaming face of
    ``operators/diff.py reconcile_one_to_one``. Matched pairs append;
    breaks age in a persistent pending table (the daily-ops "open
    breaks" feed).

    Matching is by occurrence rank per match group under
    (arrival batch, *order_cols) — the matched PREFIX of a group is
    immutable (new arrivals only ever take HIGHER ranks), so matching
    the pending backlog ∪ batch each round reproduces exactly what one
    global batch run would produce on everything ingested so far,
    provided arrival order refines ``order_cols`` (time-ordered feeds
    — the stream_scd2 ordering contract). That rebuild identity is
    what the parity test pins.

    Layout + replay contract (the stream_neardup_dedup protocol, plus
    a stale-future wipe): ``out_dir/batch=N`` holds batch N's newly
    matched pairs, ``pending_dir/batch=N`` the FULL open-breaks
    snapshot after batch N; both written with overwrite into the
    batch's own subdirectory, and the pending snapshot loaded for
    batch N excludes ``batch=N`` (newest EARLIER snapshot), so a
    same-bid crash-replay overwrites its partial output instead of
    double-matching. Unlike dedup (idempotent under re-matching), the
    matched feed is NOT safe to union across a checkpoint LOSS (batch
    ids restart at 0 over all input, so old incremental outputs would
    double-count every pair) — so batch N first DELETES any
    ``batch>N`` subdirectories: stale future state from a lost
    checkpoint is wiped and the restart converges to exactly the
    fresh-full-run state.

    Scale: per batch, two rank windows + one co-partitioned join over
    |pending| + |batch| rows keyed by the match group — the matched
    history is never re-read.
    """
    from loan_etl_data_pipeline_spark.operators.diff import reconcile_one_to_one

    spark = entries.sparkSession
    keys = list(key_cols)
    order = list(order_cols)

    def _wipe_stale_future(base: str, bid: int) -> None:
        sc = spark.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(base)
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if (
                st.isDirectory()
                and name.startswith("batch=")
                and int(name.split("=", 1)[1]) > bid
            ):
                fs.delete(st.getPath(), True)

    def _load_pending(exclude_batch: int) -> DataFrame | None:
        sc = spark.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(pending_dir)
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return None
        dirs = sorted(
            (
                int(st.getPath().getName().split("=", 1)[1]),
                st.getPath().toString(),
            )
            for st in fs.listStatus(p)
            if st.isDirectory()
            and st.getPath().getName().startswith("batch=")
            and int(st.getPath().getName().split("=", 1)[1]) < exclude_batch
        )
        if not dirs:
            return None
        return spark.read.parquet(dirs[-1][1])  # newest earlier snapshot

    def _batch(bdf: DataFrame, bid: int) -> None:
        _wipe_stale_future(out_dir, bid)
        _wipe_stale_future(pending_dir, bid)
        batch = bdf.withColumn("__arr", F.lit(bid).cast("long"))
        pending = _load_pending(bid)
        allrows = (
            pending.unionByName(batch) if pending is not None else batch
        ).localCheckpoint()  # consumed by both sides and the breaks write
        full_order = ["__arr", *order]
        a = allrows.filter(F.col(side_col) == side_a)
        b = allrows.filter(F.col(side_col) == side_b)
        rec = reconcile_one_to_one(a, b, keys, full_order, value_col)
        matched = rec.filter(F.col("status") == "matched")
        matched.write.mode("overwrite").parquet(f"{out_dir}/batch={bid}")
        # unmatched ORIGINAL rows (rank beyond the matched prefix),
        # recovered via per-group matched counts so arrival metadata
        # and every caller column survive into the snapshot
        m = matched.groupBy(*keys).agg(F.count(F.lit(1)).alias("__m"))
        w = Window.partitionBy(*keys, side_col).orderBy(*full_order)
        open_breaks = (
            allrows.withColumn("__rk", F.row_number().over(w))
            .join(m, keys, "left")
            .filter(F.col("__rk") > F.coalesce(F.col("__m"), F.lit(0)))
            .drop("__rk", "__m")
        )
        open_breaks.write.mode("overwrite").parquet(
            f"{pending_dir}/batch={bid}"
        )

    writer = entries.writeStream.foreachBatch(_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
