"""Versioned parquet snapshots: reproducible reads for training runs.

A training pipeline must be able to say "this model was trained on
corpus snapshot 7" and re-read EXACTLY those bytes later, while
ingestion keeps appending. Table formats (Delta/Iceberg) solve this
with manifest-tracked snapshots; this is the same core idea in plain
parquet + JSON manifests, with no services and no reader lock-in:

    table_dir/
      v00000001/part-*.parquet        <- immutable snapshot data
      v00000002/part-*.parquet
      _versions/00000001.json         <- commit marker, written LAST

A version is visible iff its manifest exists — the data directory is
written first, the manifest after, so a crashed writer leaves an
invisible orphan directory, never a half-readable snapshot (the same
commit-marker protocol as Spark's own _SUCCESS files, made explicit so
non-Spark readers can honor it too). Snapshots are full copies by
design: storage-heavier than Delta's delta-encoding but dead simple,
scheme-agnostic (local/HDFS/S3A via the Hadoop FileSystem API), and
every version is independently prunable/compactable.

Concurrency contract: ONE writer at a time (the reference pipeline's
`max_active_runs=1` model — reference: airflow/dags/spark_etl_dag.py:23);
concurrent readers are always safe, including against an in-flight
write.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from loan_etl_data_pipeline_spark.sources.tables import _read_parquet


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _manifest_dir(table_dir: str) -> str:
    return f"{table_dir}/_versions"


def list_versions(spark: SparkSession, table_dir: str) -> list[int]:
    """Committed version numbers, ascending (uncommitted orphans excluded)."""
    fs, jvm = _fs(spark, table_dir)
    mdir = jvm.org.apache.hadoop.fs.Path(_manifest_dir(table_dir))
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        if name.endswith(".json"):
            try:
                out.append(int(name[:-5]))
            except ValueError:
                continue
    return sorted(out)


def version_manifests(spark: SparkSession, table_dir: str) -> dict[int, dict]:
    """Parsed manifest of every committed version, keyed by number."""
    fs, jvm = _fs(spark, table_dir)
    out = {}
    for v in list_versions(spark, table_dir):
        p = jvm.org.apache.hadoop.fs.Path(f"{_manifest_dir(table_dir)}/{v:08d}.json")
        stream = fs.open(p)
        try:
            # commons-io rides Spark's classpath; py4j can't fill a Java
            # byte[] in place from Python, so read JVM-side in one call
            data = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        out[v] = json.loads(data.decode("utf-8"))
    return out


def write_version(df: DataFrame, table_dir: str, *, meta: dict | None = None) -> int:
    """Write ``df`` as the next snapshot of ``table_dir``; returns its number.

    Data first, manifest last (the commit point). The write itself is an
    ordinary distributed parquet write — executors stream partitions;
    only the tiny manifest goes through the driver. ``meta`` keys merge
    into the manifest (e.g. a streaming batch_id for replay detection —
    see streaming/ingest.py stream_to_versioned).
    """
    spark = df.sparkSession
    versions = list_versions(spark, table_dir)
    version = (versions[-1] + 1) if versions else 1
    data_dir = f"{table_dir}/v{version:08d}"
    # a previous writer may have crashed AFTER writing this data dir but
    # BEFORE committing its manifest — an invisible orphan. Under the
    # single-writer contract it is ours to reclaim; without this the
    # mode("error") write below would fail forever on the orphan path.
    fs, jvm = _fs(spark, table_dir)
    orphan = jvm.org.apache.hadoop.fs.Path(data_dir)
    if fs.exists(orphan):
        fs.delete(orphan, True)
    df.write.mode("error").parquet(data_dir)

    mpath = jvm.org.apache.hadoop.fs.Path(
        f"{_manifest_dir(table_dir)}/{version:08d}.json"
    )
    # write-to-tmp + rename: a crash mid-write must never leave a torn
    # NNNNNNNN.json that list_versions would count as committed (rename
    # is atomic on HDFS and posix local FS; the .tmp name is invisible
    # to the .json-suffix listing either way)
    tpath = jvm.org.apache.hadoop.fs.Path(
        f"{_manifest_dir(table_dir)}/{version:08d}.json.tmp"
    )
    out = fs.create(tpath, True)
    try:
        manifest = {"version": version, "data_dir": f"v{version:08d}"}
        if meta:
            manifest.update(meta)
        out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    finally:
        out.close()
    # Concurrent-writer guard, two layers because rename semantics are
    # filesystem-dependent: HDFS rename returns false when the target
    # exists, but RawLocalFileSystem delegates to POSIX rename(2), which
    # silently REPLACES an existing target. The exists() probe below
    # catches the common lost race on local FS (best-effort — a writer
    # landing between probe and rename still wins last-writer on local
    # FS; true mutual exclusion needs HDFS/object-store atomic
    # create-if-absent, which is where multi-writer deployments run).
    if fs.exists(mpath):
        fs.delete(tpath, False)
        raise RuntimeError(
            f"version {version} manifest already exists under {table_dir!r} — "
            "concurrent writer? (single-writer contract violated)"
        )
    if not fs.rename(tpath, mpath):  # False = target exists: not sole writer
        fs.delete(tpath, False)
        raise RuntimeError(
            f"version {version} manifest already exists under {table_dir!r} — "
            "concurrent writer? (single-writer contract violated)"
        )
    return version


def read_version(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read one committed snapshot (latest when ``version`` is None)."""
    versions = list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no committed versions under {table_dir!r}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(
            f"version {version} not committed under {table_dir!r}; have {versions}"
        )
    # a snapshot is one flat Spark-written directory: open it from one
    # footer, with no schema-inference job
    return _read_parquet(spark, f"{table_dir}/v{version:08d}")


def prune_versions(
    spark: SparkSession, table_dir: str, keep_last: int
) -> list[int]:
    """Drop all but the newest ``keep_last`` snapshots; returns the dropped.

    Manifest is removed FIRST (the version disappears atomically for
    readers), data after — the reverse of the commit order, so a crash
    mid-prune again leaves only invisible orphans.
    """
    if keep_last < 1:
        raise ValueError(f"keep_last must be >= 1, got {keep_last}")
    versions = list_versions(spark, table_dir)
    doomed = versions[:-keep_last]
    fs, jvm = _fs(spark, table_dir)
    for v in doomed:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(f"{_manifest_dir(table_dir)}/{v:08d}.json"),
            False,
        )
        fs.delete(jvm.org.apache.hadoop.fs.Path(f"{table_dir}/v{v:08d}"), True)
    return doomed


def vacuum_orphans(
    spark: SparkSession,
    table_dir: str,
    *,
    min_age_seconds: float = 24 * 3600,
) -> list[int]:
    """Delete uncommitted orphan data directories (the VACUUM step of
    the table lifecycle, complementing prune_versions which drops
    COMMITTED history); returns the reclaimed version numbers.

    Orphans — ``vNNNNNNNN`` directories with no manifest — are left by
    crashed writers; they're invisible to every reader, but their bytes
    accumulate forever without this. The ``min_age_seconds`` guard (same
    retention idea as Delta's VACUUM) is load-bearing: an IN-FLIGHT
    writer's data directory is indistinguishable from a crash's
    leftovers, so only directories whose age exceeds the window are
    reclaimed — with the one-writer contract, any orphan older than a
    job's runtime is guaranteed dead. Age is the NEWEST modification
    time among the directory and the files inside it: object stores
    (s3a) report directories as synthetic prefixes with mtime 0, so the
    dir mtime alone would mark an in-flight write "infinitely old" and
    delete it mid-job; if no timestamp at all is determinable the dir
    is conservatively skipped. Vacuuming does not change numbering:
    write_version numbers from the last COMMITTED manifest and reclaims
    any orphan squatting on its target path itself.
    """
    import time as _time

    fs, jvm = _fs(spark, table_dir)
    root = jvm.org.apache.hadoop.fs.Path(table_dir)
    if not fs.exists(root):
        return []
    committed = set(list_versions(spark, table_dir))
    now_ms = _time.time() * 1000.0
    reclaimed = []
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (
            st.isDirectory()
            and name.startswith("v")
            and len(name) == 9
            and name[1:].isdigit()
        ):
            continue
        v = int(name[1:])
        if v in committed:
            continue
        newest = st.getModificationTime()
        for child in fs.listStatus(st.getPath()):
            newest = max(newest, child.getModificationTime())
        if newest <= 0:  # no determinable age: never guess, never delete
            continue
        if now_ms - newest < min_age_seconds * 1000.0:
            continue
        fs.delete(st.getPath(), True)
        reclaimed.append(v)
    return sorted(reclaimed)


def rollback_to(spark: SparkSession, table_dir: str, version: int) -> int:
    """Restore snapshot ``version`` as a NEW latest version; returns it.

    Roll-forward-style undo: history is never rewritten (the bad
    versions stay queryable for the post-mortem), readers pinned to
    "latest" flip atomically with the new manifest commit, and a crash
    mid-rollback leaves only an invisible orphan — exactly the
    write_version guarantees, because it IS a write_version of the old
    snapshot's rows.
    """
    src = read_version(spark, table_dir, version)
    return write_version(src, table_dir, meta={"rollback_of": version})


def diff_versions(
    spark: SparkSession,
    table_dir: str,
    keys: list[str] | str,
    *,
    old_version: int,
    new_version: int | None = None,
) -> DataFrame:
    """What changed between two snapshots: versioned time travel ×
    the CDC table diff (operators/diff.py table_diff).

    The audit query every snapshot pipeline needs — "what did ingestion
    batch N actually change?" — as one full-outer key join between the
    two immutable snapshot reads. ``new_version`` defaults to latest.
    """
    from loan_etl_data_pipeline_spark.operators.diff import table_diff

    return table_diff(
        read_version(spark, table_dir, old_version),
        read_version(spark, table_dir, new_version),
        keys,
    )


def materialize(
    df: DataFrame,
    table_dir: str,
    *,
    key: str | None = None,
    meta: dict | None = None,
) -> DataFrame:
    """Certified materialized intermediate: write ``df`` as a versioned
    snapshot and return a DataFrame that SCANS the snapshot — every
    consumer reads parquet instead of re-deriving ``df``'s plan.

    The problem this solves (the reference's worst habit, generalized):
    the reference re-executes its whole clean pipeline per insight
    action (reference: airflow/dags/etl/pyspark_etl.py:38-44, flagged
    in SURVEY.md §3.1 step 6), and our own composed pipelines have the
    same shape — e.g. the exact-Jaccard pair graph feeds components,
    two-phase CC, cluster sizes, near-dup removal AND the leakage-safe
    split; rebuilding it per consumer is ~5× the build cost for zero
    new information. At 100 TB the rebuild is hours, and `.persist()`
    only helps within one session and evicts under pressure — a
    snapshot is durable, shareable across sessions/jobs, and (being a
    committed version) exactly reproducible for any later consumer.

    ``key`` enables memoization: when the NEWEST committed version
    recorded the same key, the write is skipped and that snapshot is
    read back. The key must fully determine the input data and plan
    (encode source path + operator parameters); with no key every call
    writes a fresh version. Manifest-committed like any write_version,
    so a crashed writer never leaves a half-readable intermediate.
    """
    spark = df.sparkSession
    if key is not None:
        versions = list_versions(spark, table_dir)
        if versions:
            newest = versions[-1]
            mans = version_manifests(spark, table_dir)
            if mans.get(newest, {}).get("materialize_key") == key:
                return read_version(spark, table_dir, newest)
    m = dict(meta or {})
    if key is not None:
        m["materialize_key"] = key
    v = write_version(df, table_dir, meta=m)
    return read_version(spark, table_dir, v)


def forget(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    key_col: str,
    *,
    purge_history: bool = False,
) -> int:
    """Right-to-be-forgotten delete: commit a new snapshot equal to the
    latest minus every row whose ``key_col`` appears in ``keys``
    (single-column DataFrame, any matching name), recording an audit
    trail in the manifest (``forget: {key_col, n_forgotten}``).
    Returns the new version number.

    The GDPR trap in every snapshot store: deleting from the HEAD does
    NOT delete from storage — time travel to any prior version
    resurrects the rows. ``purge_history=True`` therefore prunes all
    older snapshots after the commit (prune_versions keep_last=1),
    making the delete physical; leave it False only when a retention
    policy elsewhere bounds how long history survives.

    Scale: one key-hashed anti-join (keys shuffle, never the snapshot
    broadcast — deletion sets can be millions of subjects) + the
    ordinary distributed snapshot write. Row counts for the audit ride
    the same two jobs, not extra scans.
    """
    cur = read_version(spark, table_dir)
    if key_col not in cur.columns:
        raise ValueError(
            f"key column {key_col!r} not in snapshot columns {cur.columns}"
        )
    k = keys.select(F.col(keys.columns[0]).alias(key_col)).distinct()
    n_before = cur.count()
    remaining = cur.join(k, key_col, "left_anti")
    n_after = remaining.count()
    version = write_version(
        remaining,
        table_dir,
        meta={
            "forget": {
                "key_col": key_col,
                "n_forgotten": n_before - n_after,
            }
        },
    )
    if purge_history:
        prune_versions(spark, table_dir, keep_last=1)
    return version
