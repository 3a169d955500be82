"""Loaders for the driver testdata star schema.

``/root/testdata/sf*/`` holds parquet tables
``region nation customer supplier part orders lineitem events documents
embeddings`` (TESTDATA.md). All are plain parquet except ``events``,
whose ``ts`` column is parquet TIMESTAMP(NANOS) — a type Spark does not
support natively. With ``spark.sql.legacy.parquet.nanosAsLong=true`` it
surfaces as a long nanosecond count, which we floor-divide to
microseconds and expose as ``timestamp_ntz`` (matching what DuckDB does
when it truncates nanos to its microsecond timestamps, so oracle
comparisons agree bit-for-bit).

Opening a table runs no Spark job. ``spark.read.parquet(path)`` infers
the schema with a distributed footer-reading job
(``SchemaMergeUtils.mergeSchemasInParallel``) even for one file; here
the driver reads one footer itself and hands the schema to
``spark.read.schema(...)``. A table is either one parquet file or a
flat directory of part files (a Spark write); for a directory the first
data file in name order is read, skipping names that start with ``_``
or ``.`` — the file Spark's own inference reads when ``mergeSchema`` is
off. A directory holding a subdirectory raises ``ValueError``.

The footer read calls the two Spark internals that inference itself
runs inside its job (``ParquetFooterReader.readFooter`` and
``ParquetFileFormat.readSchemaFromFooter``), through the session's
Hadoop conf, so the schema equals inference's by construction: the row
schema a Spark writer embeds when present, otherwise the footer
converted under the session conf. These are internal APIs pinned to
pyspark 4.1.2; ``tests/test_plans.py::TestFooterSchema`` compares every
table against ``spark.read.parquet(path).schema`` and catches drift
after an upgrade.
"""

from __future__ import annotations

import functools
import json
import os
from types import SimpleNamespace

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Expose every testdata table as a temp view — the SQL entry point.

    After this, ``spark.sql("SELECT ... FROM lineitem ...")`` works
    directly; creating the views reads one parquet footer per table on
    the driver and runs no Spark job (see :func:`load_table`), and the
    views carry the same ``events.ts`` normalization as :func:`load_table`,
    so DataFrame and SQL consumers see identical schemas.
    """
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


# weak keys: a dead session's id() can be reused by a new SparkSession
# object, which a plain id-set would wrongly treat as already tuned
import weakref

_TUNED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def tune_session(spark: SparkSession) -> None:
    """Apply the engine's DYNAMIC session tunings to a session we did
    not build (the driver hands queries a plain ``SparkSession``).

    Everything here is a runtime SQL conf with the same measured
    justification as in ``create_session`` (session.py): the AQE family
    and Arrow. Static confs (driver memory, local dirs) can't move
    post-start and are left alone. Idempotent per session; never
    overrides an explicit non-default ``shuffle.partitions`` (a harness
    that set 8 meant 8 — only the Spark default 200 is replaced, with
    2× the scheduler's default parallelism, the local-mode sweet
    spot)."""
    if spark in _TUNED_SESSIONS:
        return
    if os.environ.get("SPARK_GRAFT_NO_TUNE"):  # A/B escape hatch
        _TUNED_SESSIONS.add(spark)
        return
    conf = spark.conf
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    # size-first AQE coalescing + AQE over cached plans (opt r8) — the
    # measured session.py pair (2390 → 207 tasks on a 12-query subset);
    # both are dynamic SQL confs, safe to set on a foreign session
    conf.set(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst", "false"
    )
    conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "4m"
        if spark.sparkContext.master.startswith("local")
        else "64m",
    )
    conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
    )
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    # NOT copied from create_session: hugeMethodLimit/ICU. Those are
    # measured wins on the sf0.1 codegen-heavy bench (which runs through
    # create_session anyway) but A/B at sf0.01 on a foreign session
    # showed neutral-to-negative — Volcano fallback overhead isn't paid
    # back at small scan sizes, so they stay builder-time-only.
    if (
        spark.sparkContext.master.startswith("local")
        and conf.get("spark.sql.shuffle.partitions", "200") == "200"
    ):
        conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism * 2, 8)),
        )
    _TUNED_SESSIONS.add(spark)


@functools.lru_cache(maxsize=1)
def _parquet_jvm(client) -> SimpleNamespace:
    """Spark-internal entry points of parquet schema inference, resolved
    once per py4j gateway client: each ``jvm.a.b.C`` step and each
    static-member lookup is a round trip, about 50 per open if resolved
    on every call."""
    pq = "org.apache.spark.sql.execution.datasources.parquet."
    return SimpleNamespace(
        Path=JavaClass("org.apache.hadoop.fs.Path", client),
        Footer=JavaClass("org.apache.parquet.hadoop.Footer", client),
        Converter=JavaClass(pq + "ParquetToSparkSchemaConverter", client),
        from_status=JavaClass(
            "org.apache.parquet.hadoop.util.HadoopInputFile", client
        ).fromStatus,
        read_footer=JavaClass(pq + "ParquetFooterReader", client).readFooter,
        skip_row_groups=JavaClass(
            "org.apache.parquet.format.converter.ParquetMetadataConverter", client
        ).SKIP_ROW_GROUPS,
        read_schema=JavaClass(pq + "ParquetFileFormat", client).readSchemaFromFooter,
    )


def _footer_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` would infer, from one
    footer read on the driver (no Spark job). ``path`` is a parquet
    file or a flat directory of part files."""
    jvm = _parquet_jvm(spark.sparkContext._gateway._gateway_client)
    state = spark._jsparkSession.sessionState()
    hconf = state.newHadoopConf()
    jpath = jvm.Path(path)
    fs = jpath.getFileSystem(hconf)
    status = fs.getFileStatus(jpath)
    if status.isDirectory():
        parts = []
        for st in fs.listStatus(jpath):
            name = st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if st.isDirectory():
                raise ValueError(
                    f"{path!r} holds the subdirectory {name!r}; a table is "
                    "one parquet file or a flat directory of part files"
                )
            parts.append((name, st))
        if not parts:
            raise ValueError(f"{path!r} holds no parquet data file")
        status = min(parts, key=lambda p: p[0])[1]
    meta = jvm.read_footer(jvm.from_status(status, hconf), jvm.skip_row_groups)
    # the converter reads the session conf (nanosAsLong, inferTimestampNTZ,
    # binaryAsString, ...) when it is built, as inference's own does
    schema = jvm.read_schema(
        jvm.Footer(status.getPath(), meta), jvm.Converter(state.conf())
    )
    return StructType.fromJson(json.loads(schema.json()))


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema read from the footer,
    so opening runs no Spark job."""
    return spark.read.schema(_footer_schema(spark, path)).parquet(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table; normalizes ``events.ts`` to timestamp_ntz.

    The schema comes from one parquet footer read on the driver, so
    opening a table runs no Spark job (module docstring: the file or
    flat-directory contract and the pinned internal API).

    The driver has shipped ``events.ts`` as parquet TIMESTAMP(NANOS) in
    some rounds (unsupported by Spark → surfaced as a nanosecond long
    under ``nanosAsLong``) and plain TIMESTAMP(MICROS) in others, so the
    normalization dispatches on the type that actually arrives instead
    of assuming one encoding.
    """
    tune_session(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # These confs are dynamic; set them here so the function also works
        # on a driver-created session that didn't go through create_session.
        # nanosAsLong must be set before the footer is converted.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # ts arrives as LTZ from timestamp_micros(); the LTZ→NTZ cast uses
        # the session tz, so pin UTC for a tz-independent naive timestamp.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        schema = _footer_schema(spark, path)
        df = spark.read.schema(schema).parquet(path)
        if isinstance(schema["ts"].dataType, LongType):
            # TIMESTAMP(NANOS) via nanosAsLong
            return df.withColumn(
                "ts",
                F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"),
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    return _read_parquet(spark, path)
