"""SparkSession factory with scale-appropriate defaults.

Local test/bench configuration; on a real cluster the same code runs
unchanged — only master/memory/shuffle-partition settings differ.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "fermor-spark",
    shuffle_partitions: int | None = None,
    cpus: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    AQE is on: runtime coalescing of shuffle partitions, skew-join
    handling, and dynamic broadcast-join conversion all matter at the
    100 TB design point and cost nothing locally.

    Python workers start from ``fermor_spark.worker_daemon``, which
    imports the installed pyspark in place of ``$SPARK_HOME``'s
    ``pyspark.zip`` when both are the same release (see that module).
    The directory that holds this package goes on the workers'
    ``PYTHONPATH``, so the daemon module, and the engine functions that
    UDF closures pickle by reference, import from any driver cwd.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("FERMOR_SHUFFLE_PARTITIONS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "fermor_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory",
                os.environ.get("FERMOR_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep metastore/warehouse artifacts out of the repo working dir
        .config("spark.sql.warehouse.dir", "/tmp/fermor-warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/fermor-derby")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _default_driver_memory() -> str:
    """min(48g, half of physical RAM): a fixed 48g heap gets the JVM
    OOM-killed on a 15 GB host, while a host with 96 GB or more keeps 48g."""
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(48 * 1024, ram_mb // 2)}m"


@functools.lru_cache(maxsize=64)
def _schemas(schema: str | StructType):
    """(Spark struct, Arrow schema) for a DDL string or a struct; the DDL
    parse is a JVM round trip, and point reads repeat a few schemas."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    return struct, to_arrow_schema(struct)


def local_frame(spark: SparkSession, rows, schema: str | StructType) -> DataFrame:
    """A frame of driver-side Python rows (tuples in ``schema`` order),
    planned as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, ddl)`` plans a pickled ``LogicalRDD``
    instead: Catalyst has no statistics for it, and every action that
    reads it starts Python worker tasks to unpickle the rows — on a
    one-hop point read that was most of the read's CPU. Here the rows go
    to the JVM once, as an Arrow table typed from ``schema``. pandas is
    skipped on purpose: a pandas round trip turns a NaN double into null,
    while Arrow keeps NaN and None distinct, like the list path did."""
    import pyarrow as pa

    struct, arrow = _schemas(schema)
    rows = list(rows)
    width = len(arrow)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(f"row {bad!r} does not have the {width} fields of {struct.simpleString()}")
    cols = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


# --------------------------------------------------------------------------
# Managed query caches.
#
# Several pipeline operators cache an intermediate frame that BOTH legs of a
# self-join read (winnowing fingerprints, dedup shingle tables): without the
# cache the whole upstream cascade computes twice inside one action. Those
# caches are scoped to the QUERY, not the session — in a long-lived session
# (or the bench harness running 40+ queries back-to-back) unreleased caches
# accumulate until storage eviction quietly defeats every later cache
# (measured in round 5: text_fingerprint_overlap's warm run was 0.6 s solo
# but 5.2 s inside the bench because its cache never survived to the next
# run). Operators register such caches here; callers that run many queries
# call release_caches() between them.

_MANAGED_CACHES: list = []


def managed_cache(df):
    """cache() a frame and register it for release_caches()."""
    df = df.cache()
    _MANAGED_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every managed query cache; returns how many were released.
    Safe to call at any time — releasing mid-plan only forces a recompute."""
    n = 0
    while _MANAGED_CACHES:
        df = _MANAGED_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


def ensure_parallelism(df, target: int | None = None):
    """Round-robin repartition ONLY when the plan's scan parallelism sits
    below the session's core count — the single-giant-file fix (a one-file
    parquet table reads as 1-2 partitions and serializes every downstream
    map stage). At real scale inputs already carry thousands of partitions
    and this returns the input unchanged — no shuffle added. Safe for any
    row-independent or keyed-aggregation downstream (round-robin placement
    never changes results, only task balance)."""
    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def estimated_plan_bytes(df) -> int:
    """Catalyst's size estimate for a frame (driver-side, no job). Used to
    gate optional repartitions: a shuffle only pays for itself when there is
    enough data to spread. Unknown/unavailable stats return a huge number so
    the scale-safe (repartitioned) path is kept when in doubt."""
    try:
        v = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala BigInt to a Python int; fall back to the string
        # form for any bridge that hands back the raw JVM object
        return v if isinstance(v, int) else int(v.toString())
    except Exception:
        return 1 << 62
