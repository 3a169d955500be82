"""SparkSession construction.

Parity target: ``create_spark`` in the reference
(airflow/dags/etl/pyspark_etl.py:7-12) — an app-named local session with
the session time zone pinned to UTC. We add the knobs a real deployment
needs (shuffle partitions, AQE, Arrow, optional S3A/MinIO wiring) while
keeping the same one-call surface.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Arrow-kernel operators (mapInPandas/applyInPandas) cloudpickle
    closures that reference module-level helpers BY MODULE NAME; workers
    then need the package on their own sys.path, which they do not
    inherit from the driver process. Zip the package once per session
    and ship it with ``addPyFile`` — works in local and cluster mode,
    regardless of the driver's working directory.
    """
    flag = "spark.app.loanEtl.pyfilesShipped"
    try:
        if spark.conf.get(flag) == "yes":
            return
    except Exception:
        pass
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, tmp = tempfile.mkstemp(suffix=".zip")
    os.close(fd)
    zpath = os.path.join(
        tempfile.gettempdir(), "loan_etl_data_pipeline_spark_pyfiles.zip"
    )
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    os.replace(tmp, zpath)
    spark.sparkContext.addPyFile(zpath)
    spark.conf.set(flag, "yes")


def s3a_conf_map(s3a: dict) -> dict[str, str]:
    """The exact ``spark.hadoop.fs.s3a.*`` keys an S3/MinIO-backed
    session needs (replaces the reference's boto3 directory walk,
    spark_etl_dag.py:79-108, with the Hadoop S3A connector — executors
    then stream parts in parallel instead of the driver copying files).

    Separated from :func:`create_session` so the wiring is unit-testable
    without an object store: ``spark.hadoop.*`` prefixed keys are
    propagated verbatim into the Hadoop ``Configuration`` of a NEW
    session (they do nothing on ``getOrCreate`` of an existing one).
    """
    return {
        "spark.hadoop.fs.s3a.endpoint": s3a["endpoint"],
        "spark.hadoop.fs.s3a.access.key": s3a.get("access_key", ""),
        "spark.hadoop.fs.s3a.secret.key": s3a.get("secret_key", ""),
        "spark.hadoop.fs.s3a.path.style.access": str(
            s3a.get("path_style", True)
        ).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": "false",
    }


def create_session(
    app_name: str = "loan-etl-spark",
    master: str | None = None,
    *,
    tz: str = "UTC",
    shuffle_partitions: int | None = None,
    s3a: dict | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession tuned for this engine.

    Parameters
    ----------
    master:
        e.g. ``local[32]`` for tests; ``None`` defers to spark-submit /
        cluster manager config so the same code runs on a 1000-executor
        cluster unchanged.
    tz:
        Session time zone; the reference pins UTC
        (reference: airflow/dags/etl/pyspark_etl.py:10) and so do we —
        date/time string formatting must not depend on host tz.
    s3a:
        Optional dict with keys ``endpoint``, ``access_key``,
        ``secret_key``, ``path_style`` — replaces the reference's
        boto3 re-upload of locally written parquet
        (reference: airflow/dags/spark_etl_dag.py:79-108) with direct
        ``s3a://`` writes from executors (no driver-side file walk, no
        double write, parallel multipart upload per task).
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)

    # Local-mode-only tunings, all measured in the single-JVM sandbox.
    # Gated on an explicit local master so a cluster deployment
    # (master=None → spark-submit / cluster manager config) gets stock
    # defaults unless it opts in via extra_conf.
    if master and master.startswith("local"):
        # The JVM sizes its JIT pool from cgroup-visible CPUs and can
        # come up with a SINGLE C2 thread; whole-stage-codegen classes
        # then queue for tens of seconds and run interpreted meanwhile
        # (measured 20-30× slowdowns on wide aggregate plans). Give the
        # JIT a real pool.
        builder = builder.config(
            "spark.driver.extraJavaOptions", "-XX:CICompilerCount=12"
        )
        # Shuffle/spill files on tmpfs when available: local mode on a
        # virtual disk sees multi-second uninterruptible-IO stalls; a
        # real cluster overrides local dirs via its manager config.
        if os.path.isdir("/dev/shm"):
            builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
        # JVM (not ICU) case mapping for UTF8_BINARY lower()/upper():
        # identical for ASCII and spares a ~1M-codepoint ICU table build
        # in a static initializer that runs interpreted (45-60 s!) when
        # the C2 compile queue is deep — measured poisoning every text
        # query that first touches lower() after a codegen-heavy query.
        builder = builder.config("spark.sql.icu.caseMappings.enabled", "false")
        # Align Spark's codegen fallback with HotSpot's compile refusal:
        # the JVM never JIT-compiles methods > 8000 bytecodes
        # (DontCompileHugeMethods), but Spark only abandons whole-stage
        # codegen at 65535 — generated methods in between run INTERPRETED
        # forever. Measured: a 6-query wide-agg/join sequence went from
        # 200 s+ (base) to 26 s with this; compiling the monsters instead
        # (-XX:-DontCompileHugeMethods) was 59 s. The non-codegen Volcano
        # path with compiled small methods wins decisively.
        builder = builder.config("spark.sql.codegen.hugeMethodLimit", "8000")

    builder = (
        builder.config("spark.sql.session.timeZone", tz)
        # AQE: runtime shuffle-partition coalescing + skew-join splitting;
        # essential at 100 TB where static partition counts are always wrong.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Make AQE coalescing honor the advisory partition SIZE instead
        # of stopping at defaultParallelism (opt r8, guide §2.2: size
        # shuffle partitions to ~100 MB-1 GB, not to the core count).
        # parallelismFirst=true (the default) exists only to avoid
        # small-query regressions; measured here it LEFT 646-task
        # stages on byte-tiny shuffles (q_pagerank) — with size-first
        # coalescing the same suite subset ran 2390 → 207 tasks and
        # 55.0 s → 40.8 s back-to-back. At 100 TB the advisory is the
        # scale-adaptive knob (64 MB here; raise per cluster).
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            "false",
        )
        # advisory partition size is the scale knob: ~64 MB on a
        # cluster (guide §2.2/§9 sizes partitions in the 100 MB-1 GB
        # band; raise via extra_conf per deployment), 4 MB in local
        # mode where a task costs milliseconds and CPU-dense,
        # byte-light stages (pairwise-stat lattices, signature
        # verifies) would otherwise coalesce onto one core — measured:
        # 64m local serialized q_siegel_slope's calendar-bounded 6M-row
        # window (3.4 s → 8.0 s) while 4m keeps KB-sized iterative
        # shuffles at 1 task
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "4m" if master and master.startswith("local") else "64m",
        )
        # Let AQE re-optimize reads of CACHED plans too (off upstream
        # only for historical output-partitioning compatibility):
        # persisted loop invariants (pagerank/PPR/textrank) otherwise
        # pin every downstream stage to the cache's full partition
        # count forever — measured 646 → 37 tasks on q_pagerank.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow for any toPandas()/pandas_udf boundary we do cross.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Let Python DataSources (sources/pydatasource.py) receive
        # pushFilters() — off by default in Spark 4.1.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # The driver testdata stores event timestamps as parquet
        # TIMESTAMP(NANOS); Spark has no nanos timestamp type, so read
        # them as raw long nanos and convert (sources/tables.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    if s3a:
        for k, v in s3a_conf_map(s3a).items():
            builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Spark caches by plan in one session-wide CacheManager with no
# per-query scope, so every cached intermediate is pinned through
# ``pin`` and released by the innermost open ``intermediates()`` scope
# (per thread). With no scope open a pinned frame lives until
# ``spark.catalog.clearCache()``.
class _Scopes(threading.local):
    def __init__(self) -> None:
        self.stack: list[list[DataFrame]] = []


_scopes = _Scopes()


def pin(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """``df.persist(level)`` (Spark's default level when ``None``),
    recorded in the innermost open :func:`intermediates` scope."""
    df = df.persist() if level is None else df.persist(level)
    if _scopes.stack:
        _scopes.stack[-1].append(df)
    return df


@contextmanager
def intermediates() -> Iterator[None]:
    """Scope for pinned intermediates: leaving it (normally or by an
    exception) unpersists exactly the frames pinned inside it and not
    in a nested scope. Close it only after every result built inside
    has been materialized — a lazy result that still reads a released
    cache recomputes it, and ``global_rank``'s offsets stay consistent
    with its rows only while its range-shuffled frame is pinned."""
    handles: list[DataFrame] = []
    _scopes.stack.append(handles)
    try:
        yield
    finally:
        _scopes.stack.pop()
        for df in handles:
            df.unpersist()
