"""Driver-certifiable streaming queries (VERDICT r5 ask #4).

The streaming maintainers (streaming/ingest.py) are test-only by
nature — DuckDB has no streaming oracle — but each one carries a
maintained == batch-rebuild equality contract.  These queries put that
contract under the driver's exact value-hash gate: each runs the REAL
Structured Streaming maintainer (readStream → foreachBatch with the
same checkpoint / snapshot-manifest replay protocol production uses)
over the ``events`` table split into three strictly time-ordered
micro-batch files, then emits the final maintained state.  The oracle
is the ONE-SHOT batch derivation in plain SQL over the same rows, so a
green row certifies ``merge ∘ merge ∘ bootstrap == rebuild(everything)``
cross-engine — the invariant the whole incremental-maintenance family
rests on.

Micro-batch determinism: chunks are cut on fixed calendar boundaries
(strictly increasing ts ranges, so the scd2_merge strictly-later-per-key
precondition holds by construction), each chunk is one parquet file
whose mtime is pinned to a fixed epoch + chunk index (Spark's
FileStreamSource orders by modification time), and
``maxFilesPerTrigger=1`` under an availableNow trigger yields exactly
one micro-batch per chunk.

Reference anchor: the reference's streaming surface is a sensor-driven
file poller (google_drive_sensor.py:30-60) with at-least-once semantics;
this module certifies the exactly-once upgrade path documented in
SURVEY.md §2 ST1-ST4.

Scale: the chunk staging is harness plumbing (the driver gate runs on
one box — production points readStream at the landing prefix); the
maintainers themselves do per-batch work proportional to the batch plus
the touched keys, never rescanning history (see streaming/ingest.py
docstrings).
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from loan_etl_data_pipeline_spark.catalog import oracle, query
from loan_etl_data_pipeline_spark.sources.tables import load_table


_ROOT_CLEANUP: set[str] = set()

# fixed epoch for chunk mtimes — FileStreamSource orders by mtime, so
# pinning them makes the micro-batch order a constant of the build
_MTIME_EPOCH = 1_700_000_000

_CHUNK_BOUNDS = ("2024-01-11 00:00:00", "2024-01-21 00:00:00")


def _stream_root(sf_dir: str, tag: str) -> str:
    """Per-(sf_dir, tag, pid) scratch root — the _positional_index
    discipline (queries_curation.py): deterministic within a process
    (repeat runs reuse the checkpoint and become incremental no-ops),
    per-PID so concurrent test sessions never race, reclaimed at
    interpreter exit plus a stale-owner sweep for SIGKILLed workers;
    memoized under SPARK_GRAFT_MATERIALIZE_DIR in bench mode."""
    key = hashlib.md5(f"{sf_dir.rstrip('/')}:{tag}".encode()).hexdigest()[:12]
    mat = os.environ.get("SPARK_GRAFT_MATERIALIZE_DIR")
    if mat:
        # Keep the PID component even in memoized mode: bench.py
        # mkdtemps a fresh root per process so this changes nothing
        # there, but a user-set persistent SPARK_GRAFT_MATERIALIZE_DIR
        # shared by two concurrent processes must never share a
        # streaming checkpoint (concurrent commits corrupt its state —
        # the tmp path below keeps PID isolation for the same reason).
        return f"{mat}/streamq_{key}_pid{os.getpid()}"
    root = os.path.join(
        tempfile.gettempdir(), f"spark_graft_streamq_{key}_{os.getpid()}"
    )
    if root not in _ROOT_CLEANUP:
        _ROOT_CLEANUP.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        for stale in glob.glob(
            os.path.join(tempfile.gettempdir(), "spark_graft_streamq_*_*")
        ):
            try:
                pid = int(stale.rsplit("_", 1)[1])
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(stale, ignore_errors=True)
            except PermissionError:
                pass
    return root


def _chunked_events(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events table as three single-file parquet chunks cut
    on fixed ts boundaries (strictly increasing ranges — every row of
    chunk k+1 is later than every row of chunk k, so per-key arrival
    order refines event order, the maintainer precondition).  Returns
    the directory readStream should watch."""
    root = _stream_root(sf_dir, "evchunks")
    src = f"{root}/src"
    if os.path.exists(f"{src}/_STAGED"):
        return src
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    lo, hi = _CHUNK_BOUNDS
    preds = [
        F.col("ts") < F.lit(lo).cast("timestamp"),
        (F.col("ts") >= F.lit(lo).cast("timestamp"))
        & (F.col("ts") < F.lit(hi).cast("timestamp")),
        F.col("ts") >= F.lit(hi).cast("timestamp"),
    ]
    os.makedirs(src, exist_ok=True)
    for i, pred in enumerate(preds):
        stage = f"{root}/stage_{i}"
        ev.filter(pred).coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(f"{stage}/part-*.parquet")
        assert part, f"chunk {i} produced no parquet part file"
        dst = f"{src}/chunk{i}.parquet"
        shutil.move(part[0], dst)
        shutil.rmtree(stage, ignore_errors=True)
        t = _MTIME_EPOCH + 10 * i
        os.utime(dst, (t, t))
    with open(f"{src}/_STAGED", "w") as fh:  # '_' prefix: Spark ignores it
        fh.write("ok")
    return src


_EVENT_SCHEMA = (
    "event_id bigint, user_id bigint, event_type string, "
    "value double, ts timestamp"
)


def _event_stream(spark: SparkSession, src: str) -> DataFrame:
    return (
        spark.readStream.schema(_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )


@query
def q_scd2_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ stream-maintained SCD2 dimension == one-shot rebuild
    (streaming/ingest.py stream_scd2): three time-ordered micro-batches
    of user event_type changes merge into a versioned dimension via the
    real foreachBatch maintainer (bootstrap, then scd2_merge per batch,
    (run_id, batch_id) replay-skip); the emitted frame is the FINAL
    maintained dimension.  The oracle is the q_scd2_users one-shot
    SCD2-from-history SQL over all of events, so a green driver row is
    a cross-engine proof of ``merge(merge(build(b0), b1), b2) ==
    build(b0 ∪ b1 ∪ b2)`` — the maintainer's defining identity.

    Scale: per batch one key-windowed delta merge + anti-join
    passthrough (AQE broadcasts the touched-key set); history is never
    rescanned.  The chunk staging is gate plumbing only.
    """
    from loan_etl_data_pipeline_spark.sources.versioned import read_version
    from loan_etl_data_pipeline_spark.streaming.ingest import stream_scd2

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "scd2m")
    q = stream_scd2(
        _event_stream(spark, src),
        f"{root}/dim",
        key_cols="user_id",
        attr_cols="event_type",
        order_col="ts",
        checkpoint_dir=f"{root}/ckpt",
        tiebreak_cols="event_id",
    )
    q.awaitTermination()
    dim = read_version(spark, f"{root}/dim")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return dim.select(
        "user_id",
        "event_type",
        F.date_format("valid_from", fmt).alias("valid_from"),
        F.date_format("valid_to", fmt).alias("valid_to"),
        "version",
        "is_current",
    )


# the one-shot rebuild over everything ingested — textually the
# q_scd2_users oracle: maintained must equal rebuilt, cross-engine
oracle("q_scd2_maintained", """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER w AS rn,
               lag(event_type) OVER w AS prev
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    ), changes AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE rn = 1 OR event_type IS DISTINCT FROM prev
    ), v AS (
        SELECT user_id, event_type, ts,
               lead(ts) OVER w2 AS vt,
               row_number() OVER w2 AS version
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
           strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
           CAST(version AS BIGINT) AS version,
           vt IS NULL AS is_current
    FROM v
""")


def _event_canonical():
    """Deterministic string rendering of an event row for the
    fingerprint (floats as floor-cents, timestamps second-formatted —
    the cross-engine canonicalization contract of
    operators/quality.table_fingerprint)."""
    return F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.expr("cast(floor(value * 100) as bigint)").cast("string"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
    )


@query
def q_fingerprint_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ stream-maintained table fingerprint == one-shot fingerprint
    (streaming/ingest.py streaming_fingerprint): each micro-batch's
    bucketed (count, 40-bit md5-coordinate sum) deltas merge into the
    running fingerprint by integer addition; the emitted frame is the
    final maintained fingerprint over all three batches.  The oracle
    computes the identical bucketed checksum directly in SQL over all
    of events — certifying that the commutative-merge maintenance
    equals the one-shot scan cross-engine, which is exactly the
    replication-validation use case (compare a continuously-maintained
    fingerprint against a replica's one-shot scan).

    Scale: per batch one partial+final agg over the batch only; the
    running state is 16 rows.  Int64-safe to ~8e6 rows/bucket — raise
    bucket_hex_chars past that (operators/quality.py docstring).
    """
    from loan_etl_data_pipeline_spark.sources.versioned import read_version
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        streaming_fingerprint,
    )

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "fpm")
    q = streaming_fingerprint(
        _event_stream(spark, src),
        _event_canonical(),
        f"{root}/fp",
        checkpoint_dir=f"{root}/ckpt",
    )
    q.awaitTermination()
    return read_version(spark, f"{root}/fp").select(
        "bucket", "n_rows", "checksum"
    )


oracle("q_fingerprint_maintained", """
    WITH c AS (
        SELECT md5(concat_ws('|',
                   CAST(event_id AS VARCHAR),
                   CAST(user_id AS VARCHAR),
                   event_type,
                   CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR),
                   strftime(ts, '%Y-%m-%d %H:%M:%S'))) AS h
        FROM events
    )
    SELECT substr(h, 32, 1) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(h, 1, 10))::BIGINT) AS BIGINT)
             AS checksum
    FROM c
    GROUP BY bucket
""")


@query
def q_reconcile_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ stream-maintained settlement reconciliation == one-shot
    batch run (streaming/ingest.py stream_reconcile): purchase-vs-view
    ledger entries arrive in three time-ordered micro-batches, each
    batch matching one-to-one against the accumulated open-breaks
    backlog (the rank-prefix immutability contract); the emitted frame
    is the per-user daily-ops report — matched count, per-side open
    breaks, exact cent drift — assembled from the maintainer's matched
    feed plus its final pending snapshot.  The oracle is the q_reconcile
    GLOBAL batch SQL over all of events: chunks are cut on ts
    boundaries, so arrival order refines (ts, event_id) and the
    rebuild identity makes streamed == one-shot exactly.

    Scale: per batch two rank windows + one co-partitioned join over
    |pending| + |batch| rows; matched history is never re-read.
    """
    import glob as _glob

    from loan_etl_data_pipeline_spark.streaming.ingest import stream_reconcile

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "recm")
    stream = (
        _event_stream(spark, src)
        .filter(F.col("event_type").isin("purchase", "view"))
        .withColumn("cents", F.expr("CAST(FLOOR(value * 100) AS BIGINT)"))
        .withColumn("bucket", F.expr("cents div 1000"))
    )
    q = stream_reconcile(
        stream,
        pending_dir=f"{root}/pending",
        out_dir=f"{root}/out",
        checkpoint_dir=f"{root}/ckpt",
        side_col="event_type",
        side_a="purchase",
        side_b="view",
        key_cols=["user_id", "bucket"],
        order_cols=["ts", "event_id"],
        value_col="cents",
    )
    q.awaitTermination()
    matched = spark.read.parquet(f"{root}/out/batch=*")
    batches = [
        int(p.rsplit("=", 1)[1])
        for p in _glob.glob(f"{root}/pending/batch=*")
    ]
    if not batches:
        raise RuntimeError(
            "stream_reconcile produced no pending/batch=* snapshots under "
            f"{root}/pending — the source emitted zero micro-batches or a "
            "prior crashed run left the checkpoint without its snapshot; "
            "delete the root and rerun"
        )
    last = max(batches)
    pending = spark.read.parquet(f"{root}/pending/batch={last}")
    m = matched.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.sum(F.abs(F.col("cents_a") - F.col("cents_b")))
        .cast("bigint")
        .alias("drift_c"),
    )
    p = pending.groupBy("user_id").agg(
        F.sum((F.col("event_type") == "purchase").cast("bigint"))
        .cast("bigint")
        .alias("n_only_ledger"),
        F.sum((F.col("event_type") == "view").cast("bigint"))
        .cast("bigint")
        .alias("n_only_feed"),
    )
    return m.join(p, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_matched", F.lit(0)).cast("bigint").alias("n_matched"),
        F.coalesce("n_only_ledger", F.lit(0))
        .cast("bigint")
        .alias("n_only_ledger"),
        F.coalesce("n_only_feed", F.lit(0))
        .cast("bigint")
        .alias("n_only_feed"),
        F.coalesce("drift_c", F.lit(0)).cast("bigint").alias("drift_c"),
    )


# the one-shot global batch rebuild — textually the q_reconcile oracle:
# streamed (pending-backlog) matching must equal it exactly
oracle("q_reconcile_maintained", """
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               CAST(FLOOR(value * 100) AS BIGINT) // 1000 AS bucket
        FROM events
    ), a AS (
        SELECT user_id, bucket, cents,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts, event_id) AS rk
        FROM ev WHERE event_type = 'purchase'
    ), b AS (
        SELECT user_id, bucket, cents,
               row_number() OVER (PARTITION BY user_id, bucket
                                  ORDER BY ts, event_id) AS rk
        FROM ev WHERE event_type = 'view'
    ), j AS (
        SELECT coalesce(a.user_id, b.user_id) AS user_id,
               a.cents AS ca, b.cents AS cb,
               a.rk IS NOT NULL AS pa, b.rk IS NOT NULL AS pb
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.bucket = b.bucket AND a.rk = b.rk
    )
    SELECT user_id,
           CAST(sum(CASE WHEN pa AND pb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_matched,
           CAST(sum(CASE WHEN pa AND NOT pb THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_ledger,
           CAST(sum(CASE WHEN pb AND NOT pa THEN 1 ELSE 0 END) AS BIGINT)
               AS n_only_feed,
           CAST(sum(CASE WHEN pa AND pb
                    THEN abs(ca - cb) ELSE 0 END) AS BIGINT) AS drift_c
    FROM j GROUP BY user_id
""")


@query
def q_interval_join_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST4+ watermarked stream⋈stream interval join == batch range
    join (streaming/ingest.py stream_stream_interval_join): error
    events joined to click events within [ts, ts+300 s] per user, BOTH
    sides unbounded streams over the three time-ordered micro-batch
    files — the join type stream-static enrichment cannot express, and
    the one where Spark's state eviction (watermark + interval bound)
    could silently drop cross-batch matches if the horizon math were
    wrong.  Chunk boundaries sit mid-interval for pairs near the cut,
    so the certified equality SPECIFICALLY covers matches whose sides
    arrive in different micro-batches.  Emitted per user: pair count
    and the exact summed click-lag seconds; oracle = the plain batch
    interval join in SQL.

    Scale: Spark bounds each side's state to watermark + interval
    reach; the parity aggregate is one user-keyed shuffle.
    """
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        stream_stream_interval_join,
    )

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "sij")
    out_dir = f"{root}/out"
    # ALWAYS start the stream: a completed checkpoint makes the
    # availableNow restart a cheap no-op, while skipping on the mere
    # existence of _spark_metadata would silently aggregate over the
    # partial sink output of a crashed run (the other three streaming
    # certifications already rely on checkpoint idempotence this way).
    errors = _event_stream(spark, src).filter(
        F.col("event_type") == "error"
    ).select("event_id", "user_id", "ts")
    clicks = _event_stream(spark, src).filter(
        F.col("event_type") == "click"
    ).select("user_id", "ts")
    joined = stream_stream_interval_join(
        errors,
        clicks,
        on="user_id",
        lower_seconds=0.0,
        upper_seconds=300.0,
        watermark="1 hour",
    )
    q = (
        joined.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    pairs = spark.read.parquet(out_dir)
    return pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(
            F.unix_timestamp("ts_r") - F.unix_timestamp("ts")
        ).cast("bigint").alias("lag_sec_sum"),
    )


oracle("q_interval_join_streamed", """
    WITH e AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), c AS (
        SELECT user_id, ts FROM events WHERE event_type = 'click'
    ), j AS (
        SELECT e.user_id,
               CAST(date_diff('second', e.ts, c.ts) AS BIGINT) AS lag_sec
        FROM e JOIN c
          ON c.user_id = e.user_id
         AND c.ts >= e.ts
         AND c.ts <= e.ts + INTERVAL 300 SECOND
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(lag_sec) AS BIGINT) AS lag_sec_sum
    FROM j GROUP BY user_id
""")


def _hh_item():
    """Shared item derivation for the heavy-hitters certification: keep
    'signup' whole (the planted heavy value, ~20% of rows at every SF)
    and shard every other type across ``user_id % 50`` sub-items, so
    the per-shard Misra–Gries summaries (capacity 6, ~50 distinct items
    per shard) are forced through their decrement path — a cardinality-5
    column would never evict and would certify only the plumbing.
    F.concat (not concat_ws) so a null user_id nulls the item exactly
    like the oracle's ``||``."""
    return F.when(F.col("event_type") == "signup", F.lit("signup")).otherwise(
        F.concat(
            F.col("event_type"),
            F.lit("#"),
            (F.col("user_id") % F.lit(50)).cast("string"),
        )
    )


@query
def q_heavy_hitters_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ streaming Misra–Gries heavy hitters + exact second pass ==
    plain SQL frequency filter (streaming/ingest.py
    streaming_heavy_hitters): the REAL applyInPandasWithState maintainer
    carries sharded MG summaries across the three time-ordered
    micro-batches (state is a pure function of the pinned batch
    sequence), the final per-shard candidate lists are exact-counted in
    one batch pass, and candidates below the MG support threshold are
    dropped.  The MG guarantee — any item with true frequency
    > shard_total/(capacity+1) survives in its shard's summary — makes
    the emitted set EXACTLY ``{item : 6·n(item) > N}`` no matter which
    extra candidates the sketch carried, so the oracle is a plain
    GROUP BY/HAVING and a green row certifies the sketch's recall
    contract end-to-end, not just the plumbing.

    Scale: streaming state is O(n_shards · capacity) TOTAL; the second
    pass is one map-side-combinable aggregate semi-joined against a
    broadcast candidate list (the sketch's whole point: never a full
    distinct-item shuffle on the hot path).
    """
    from loan_etl_data_pipeline_spark.streaming.ingest import (
        streaming_heavy_hitters,
    )

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "hhm")
    mg_dir = f"{root}/mg"

    stream = streaming_heavy_hitters(
        _event_stream(spark, src).withColumn("hh_item", _hh_item()),
        value_col="hh_item",
        capacity=6,
        n_shards=4,
    )

    def _sink(df: DataFrame, bid: int) -> None:
        # one dir per micro-batch, overwrite on replay: a checkpoint
        # re-delivery after a crash rewrites the same dir (idempotent)
        (
            df.withColumn("batch_id", F.lit(int(bid)))
            .write.mode("overwrite")
            .parquet(f"{mg_dir}/b{int(bid)}")
        )

    q = (
        stream.writeStream.foreachBatch(_sink)
        .outputMode("update")
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    if not glob.glob(f"{mg_dir}/b*"):
        raise RuntimeError(
            "streaming_heavy_hitters produced no micro-batch outputs under "
            f"{mg_dir} — the source emitted zero batches or a prior crashed "
            "run left the checkpoint without its sink dirs; delete the root "
            "and rerun (same loud-failure discipline as q_reconcile_maintained)"
        )
    # final candidate list = each shard's summary as of the LAST batch
    # that touched it (untouched shards keep their earlier emission)
    mg = spark.read.parquet(f"{mg_dir}/b*")
    final_batch = mg.groupBy("shard").agg(F.max("batch_id").alias("batch_id"))
    cands = (
        mg.join(final_batch, ["shard", "batch_id"])
        .select("item")
        .distinct()
    )

    # exact second pass over everything ingested, gated on candidates;
    # the MG guarantee makes the semi-join lossless above the threshold
    ev = (
        load_table(spark, sf_dir, "events")
        .select(_hh_item().alias("item"))
        .filter(F.col("item").isNotNull())
    )
    totals = ev.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    exact = ev.groupBy("item").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        exact.join(F.broadcast(cands), "item", "left_semi")
        .crossJoin(F.broadcast(totals))
        .filter(F.col("n") * F.lit(6) > F.col("n_events"))
        .select("item", "n", "n_events")
    )


# the sketch-free derivation: every item whose exact count clears the
# MG support threshold — by the recall guarantee, exactly what the
# maintained candidates + exact second pass emit
oracle("q_heavy_hitters_maintained", """
    WITH it AS (
        SELECT CASE WHEN event_type = 'signup' THEN 'signup'
                    ELSE event_type || '#' || CAST(user_id % 50 AS VARCHAR)
               END AS item
        FROM events
    ), nn AS (
        SELECT item FROM it WHERE item IS NOT NULL
    ), t AS (
        SELECT CAST(count(*) AS BIGINT) AS n_events FROM nn
    )
    SELECT nn.item, CAST(count(*) AS BIGINT) AS n, t.n_events
    FROM nn, t
    GROUP BY nn.item, t.n_events
    HAVING 6 * count(*) > t.n_events
""")


@query
def q_enrich_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ stream-static broadcast enrichment == one-shot batch join
    (streaming/ingest.py streaming_enrich): the three time-ordered
    event micro-batches each LEFT-join a static customer-segment
    dimension via an explicit broadcast — the map-only enrich shape
    (the stream side never repartitions; at 100 TB/day that is the
    difference between a per-trigger shuffle and none) — and the
    appended sink is aggregated per (segment, event_type).  The
    dimension is deliberately RESTRICTED to ``c_custkey % 3 != 0`` so
    roughly a third of the stream rows have NO dimension row: a green
    driver row therefore certifies the left-join pass-through (null
    segment) semantics, not just the happy path.  The oracle is the
    identical batch SQL join over all of events.

    Scale: stateless per batch — Spark re-plans the static side each
    micro-batch (an in-place dimension refresh is picked up on the
    next trigger without a restart); the sink aggregate is one
    segment-keyed shuffle over the enriched output.
    """
    from loan_etl_data_pipeline_spark.streaming.ingest import streaming_enrich

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "enr")
    out_dir = f"{root}/out"
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 3 != 0)
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    enriched = streaming_enrich(
        _event_stream(spark, src).withColumn(
            "cents", F.expr("CAST(FLOOR(value * 100) AS BIGINT)")
        ),
        dim,
        on="user_id",
        broadcast=True,
    )
    q = (
        enriched.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", f"{root}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    return out.groupBy("segment", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.coalesce("cents", F.lit(0))).cast("bigint").alias("cents"),
    )


# one-shot batch derivation of the same enrich: LEFT join against the
# restricted dimension, aggregated per (segment, event_type) — the
# stream-static maintainer must match it exactly
oracle("q_enrich_maintained", """
    WITH dim AS (
        SELECT c_custkey AS user_id, c_mktsegment AS segment
        FROM customer WHERE c_custkey % 3 <> 0
    ), j AS (
        SELECT d.segment, e.event_type,
               CAST(FLOOR(e.value * 100) AS BIGINT) AS cents
        FROM events e LEFT JOIN dim d ON d.user_id = e.user_id
    )
    SELECT segment, event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(COALESCE(cents, 0)) AS BIGINT) AS cents
    FROM j GROUP BY segment, event_type
""")


@query
def q_upsert_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST2+ CDC streaming upsert WITH TOMBSTONES == one-shot argmax
    (streaming/ingest.py streaming_upsert → plans/upsert.py
    merge_upsert): events become a change feed keyed by user —
    'error' events are Debezium-style DELETE tombstones, everything
    else an upsert — merged into a shard-partitioned parquet state
    table across the three time-ordered micro-batches.  The emitted
    frame is the final maintained table; the oracle is the global
    per-key argmax over all events with deleted keys dropped — equal
    under per-key-monotone arrival, which the ts-cut chunks guarantee.
    A green row therefore certifies the tombstone path end to end:
    update-then-delete deletes, delete-then-reinsert reinserts, and
    only touched partitions rewrite (the merge_upsert contract).

    The sequence column is the exact integer second·10⁸ + event_id —
    a strictly-monotone refinement of event time that is unique per
    event (certification-SF event ids < 10⁸), so batch survivors are
    total-order deterministic without relying on column-order
    tie-breaks.  Scale: per batch one key-dedup + one partition-pruned
    merge over touched shards; history is never re-read.
    """
    from loan_etl_data_pipeline_spark.streaming.ingest import streaming_upsert

    src = _chunked_events(spark, sf_dir)
    root = _stream_root(sf_dir, "upsm")
    table_dir = f"{root}/table"
    stream = (
        _event_stream(spark, src)
        .filter(F.col("user_id").isNotNull())
        .select(
            "user_id",
            (F.col("user_id") % 8).cast("bigint").alias("shard"),
            "event_type",
            F.expr("CAST(FLOOR(value * 100) AS BIGINT)").alias("cents"),
            (
                F.expr("unix_micros(ts) div 1000000") * F.lit(100000000)
                + F.col("event_id")
            ).cast("bigint").alias("seq"),
            F.when(F.col("event_type") == "error", F.lit("d"))
            .otherwise(F.lit("u"))
            .alias("op"),
        )
    )
    q = streaming_upsert(
        stream,
        table_dir,
        f"{root}/ckpt",
        key_cols="user_id",
        partition_col="shard",
        seq_col="seq",
        available_now=True,
        op_col="op",
    )
    q.awaitTermination()
    t = spark.read.parquet(table_dir)
    return t.select(
        F.col("user_id").cast("bigint"),
        F.col("shard").cast("bigint"),
        "event_type",
        "cents",
        "seq",
    )


# one-shot rebuild: per-user argmax over the full feed, tombstoned
# keys dropped — the invariant merge∘merge∘bootstrap must preserve
oracle("q_upsert_maintained", """
    WITH ev AS (
        SELECT user_id,
               CAST(user_id % 8 AS BIGINT) AS shard,
               event_type,
               CAST(FLOOR(value * 100) AS BIGINT) AS cents,
               CAST(epoch_us(ts) // 1000000 * 100000000 + event_id
                    AS BIGINT) AS seq,
               CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
        FROM events WHERE user_id IS NOT NULL
    ), latest AS (
        SELECT * FROM (
            SELECT ev.*,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY seq DESC) AS rn
            FROM ev
        ) WHERE rn = 1
    )
    SELECT CAST(user_id AS BIGINT) AS user_id, shard, event_type, cents, seq
    FROM latest WHERE op <> 'd'
""")
