"""Structured Streaming operators over event streams.

The reference has no streaming surface (its "streaming" is lazy seqs,
README.md:5-9); per the build plan (SURVEY.md §2.12/§7) this engine takes on
event-time processing natively: watermarked tumbling/sliding/session windows,
stateful dedup, and custom per-key state via applyInPandasWithState.

Every transform takes and returns a (streaming) DataFrame, so the same code
runs in batch mode for backfills — the batch analogs in
fermor_spark.queries (events_*) are exactly these shapes, which is also how
they are oracle-checked.

Scale notes: state store size is bounded by the watermark horizon; keys are
the shuffle partitioning, so heavily-skewed user_ids want a salted pre-agg
for the tumbling path. File sources use maxFilesPerTrigger to bound batch
size on backfill.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# legacy layout: TIMESTAMP(NANOS) files read with nanosAsLong; current files
# carry plain timestamp[us] (TIMESTAMP_NTZ). The stream schema is picked to
# match whichever the batch reader actually sees (read_events_stream).
EVENTS_RAW_SCHEMA_NANOS = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)
EVENTS_RAW_SCHEMA_NTZ = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events parquet (ts normalized to a
    session-tz timestamp, same dtype-adaptive rule as datasets.table)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the file streaming source requires a directory. The testdata ships
    # events.parquet as a SINGLE FILE, which is exposed through a stable
    # symlinked dir; a Spark-written events table is a DIRECTORY of part
    # files, and symlinking the directory into another dir would make the
    # source list zero files (the file listing does not descend into
    # subdirectories) — a silent zero-row drain, found by the r14
    # state-partitions scale experiment. A directory streams directly.
    import hashlib
    import os
    import tempfile

    target = os.path.abspath(f"{sf_dir}/events.parquet")
    if os.path.isdir(target):
        stream_dir = target
    else:
        key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        stream_dir = os.path.join(tempfile.gettempdir(), f"fermor_events_{key}")
        os.makedirs(stream_dir, exist_ok=True)
        link = os.path.join(stream_dir, "events.parquet")
        if not os.path.exists(link):
            os.symlink(target, link)
    # batch-read the footer once to learn which layout this file carries
    from pyspark.sql.types import LongType
    probe_type = spark.read.parquet(f"{sf_dir}/events.parquet").schema["ts"].dataType
    nanos_as_long = isinstance(probe_type, LongType)
    schema = EVENTS_RAW_SCHEMA_NANOS if nanos_as_long else EVENTS_RAW_SCHEMA_NTZ
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(stream_dir)
    if nanos_as_long:
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window counts per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )


def sliding_counts(events: DataFrame, window: str = "6 hours", slide: str = "3 hours",
                   watermark: str = "6 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes",
                      watermark: str = "1 hour") -> DataFrame:
    """Session windows per user (inactivity gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("total_value"))
        .select("user_id", F.col("w.start").alias("session_start"),
                "n_events", "total_value")
    )


def dedup_within_watermark(events: DataFrame, keys: list[str],
                           watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup bounded by the watermark horizon."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_RUNNING_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("total_value", T.DoubleType()),
])

_STATE_SCHEMA = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("total", T.DoubleType()),
])


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: running per-user event count and value sum
    via applyInPandasWithState — the arbitrary-stateful escape hatch the
    built-in aggregations don't cover (e.g. decayed counters, CUSUM)."""

    def fn(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({
            "user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]
        })

    return events.groupBy("user_id").applyInPandasWithState(
        fn, _RUNNING_SCHEMA, _STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame, on: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a (broadcastable)
    dimension table — each micro-batch joins against the static side."""
    from pyspark.sql import functions as F

    return events.join(F.broadcast(dim), on, "left")


def self_join_within(events: DataFrame, minutes: int = 10,
                     watermark: str = "30 minutes") -> DataFrame:
    """Stream-stream self-join: pair events of the same user within a time
    window (watermarks bound both sides' state). Returns
    (user_id, first_event_id, second_event_id, gap_seconds)."""
    from pyspark.sql import functions as F

    a = events.withWatermark("ts", watermark).alias("a")
    b = events.withWatermark("ts", watermark).alias("b")
    cond = (
        (F.col("a.user_id") == F.col("b.user_id"))
        & (F.col("b.ts") > F.col("a.ts"))
        & (F.col("b.ts") <= F.col("a.ts") + F.expr(f"INTERVAL {minutes} MINUTES"))
    )
    return a.join(b, cond).select(
        F.col("a.user_id").alias("user_id"),
        F.col("a.event_id").alias("first_event_id"),
        F.col("b.event_id").alias("second_event_id"),
        (F.unix_timestamp("b.ts") - F.unix_timestamp("a.ts")).alias("gap_seconds"),
    )


ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider")


class scoped_confs:
    """Set session confs for a scope and restore the previous values on
    exit (unset if previously absent). Streaming uses this for settings
    the query reads at START — provider class, changelog mode, and
    state-partition count — so the scope must cover the .start() call.

    ``state_partitions(spark, n)`` below is the common case: stateful
    operators create one state-store instance per shuffle partition, and
    per-instance open/commit is a fixed cost, so partition count should
    track state VOLUME (r14 measurement: a kilobyte-state drain at 32
    partitions pays 32 store cycles per microbatch; resizing to 8 cut
    the tumbling drain 3.0 s → 1.0-1.2 s, and the crossover where more
    stores win arrives between 1x and 8x state — PLANS.md, "r14:
    state-partitions lever at scale")."""

    def __init__(self, spark: SparkSession, confs: dict):
        self.spark = spark
        self._confs = dict(confs)
        self._prev: dict = {}

    def __enter__(self):
        # if a set() raises partway (e.g. a non-modifiable conf), __exit__
        # never runs — restore the keys already applied before re-raising,
        # otherwise they leak into the session permanently
        try:
            for k, v in self._confs.items():
                try:
                    prev = self.spark.conf.get(k)
                except Exception:
                    prev = None
                self.spark.conf.set(k, v)
                # record AFTER set() succeeds: for a non-modifiable conf
                # set() itself raises, and restoring the failing key would
                # raise again inside __exit__, masking the original error
                # and aborting the restore of the keys that did apply
                self._prev[k] = prev
        except BaseException:
            # best-effort unwind; the ORIGINAL exception must propagate
            self._restore()
            raise
        return self

    def _restore(self):
        """Per-key isolated restore — one unrestorable key must not abort
        restoring the rest. Returns the first restore error, if any."""
        first_err = None
        for k, old in self._prev.items():
            try:
                if old is None:
                    self.spark.conf.unset(k)
                else:
                    self.spark.conf.set(k, old)
            except Exception as e:  # pragma: no cover - provider-specific
                if first_err is None:
                    first_err = e
        self._prev = {}
        return first_err

    def __exit__(self, *exc):
        first_err = self._restore()
        if first_err is not None and not any(exc):
            raise first_err
        return False


def state_partitions(spark: SparkSession, n: int) -> scoped_confs:
    """Scope the stateful operator's state-store instance count (=
    shuffle partitions) to ``n`` over a query start; results are
    partition-invariant, cost is not (see scoped_confs docstring)."""
    return scoped_confs(spark, {"spark.sql.shuffle.partitions": str(n)})


class rocksdb_state:
    """Scoped switch to the RocksDB state store provider — the 100 TB
    state backend.

    The default HDFSBackedStateStoreProvider keeps every state key in
    executor HEAP (state size is bounded by memory: a long watermark
    horizon over a high-cardinality key set OOMs the executor before it
    spills). RocksDB keeps working state off-heap on local disk with
    block-cache reads and changelog checkpointing, so state scales with
    executor disk. Stateful operator SEMANTICS are provider-independent
    — pinned by tests/test_streaming.py::test_rocksdb_provider_parity,
    which drains the whole stateful family (tumbling, session,
    watermark-dedup, applyInPandasWithState, stream-stream join) under
    both providers and asserts identical results.

    Usage::

        with rocksdb_state(spark):
            run_to_memory(session_aggregate(stream), "s")

    The provider is read per-query at START, so the scope must cover the
    .start() call; the previous setting is restored on exit.

    ``changelog=True`` additionally enables RocksDB changelog
    checkpointing (incremental changelog upload per commit instead of a
    full snapshot upload — measured ~1 s/drain saved at sf0.1 with 32
    stores). ``state_partitions`` scopes
    ``spark.sql.shuffle.partitions`` over the query start: state-store
    INSTANCE COUNT equals the stateful operator's shuffle partition
    count, and per-instance open/commit cost is fixed, so a session
    default sized for batch scans (32 here) pays 32 store spin-ups for
    kilobytes of state. A production deployment sizes this to state
    volume (many partitions at 100 TB); measured at sf0.1 the 32→8
    resize is 3.0 s → 1.0-1.2 s per drain with identical results
    (aggregation is partition-invariant).
    """

    def __init__(self, spark: SparkSession, changelog: bool = False,
                 state_partitions: int | None = None):
        keys = {"spark.sql.streaming.stateStore.providerClass":
                ROCKSDB_PROVIDER}
        if changelog:
            keys["spark.sql.streaming.stateStore.rocksdb."
                 "changelogCheckpointing.enabled"] = "true"
        if state_partitions is not None:
            keys["spark.sql.shuffle.partitions"] = str(state_partitions)
        self._scope = scoped_confs(spark, keys)

    def __enter__(self):
        self._scope.__enter__()
        return self

    def __exit__(self, *exc):
        return self._scope.__exit__(*exc)


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append",
                  timeout_sec: int = 300, expect_state_provider: str | None = None):
    """Test/backfill helper: drain all available input into an in-memory
    table and stop. Returns the SparkSession-queryable table name.

    Raises instead of returning a PARTIAL table when the drain outlives
    ``timeout_sec`` — awaitTermination(timeout) returns False without
    raising, and a silently-partial memory table corrupts any downstream
    comparison (the driver gate reads this table).

    ``expect_state_provider='rocksdb'`` makes the drain assert, from the
    finished query's OWN progress (per-call, no global state), that its
    stateful operators actually ran on the RocksDB store — the provider
    conf is read at query START, so a scope bug (rocksdb_state entered
    after .start(), or a conf clobbered by a concurrent session user)
    would silently fall back to the heap store; the driver gate must fail
    loudly instead of green-lighting the wrong backend."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    done = q.awaitTermination(timeout_sec)
    if not done:
        q.stop()
        raise TimeoutError(
            f"streaming drain '{name}' still running after {timeout_sec}s — "
            f"memory table would be partial")
    if expect_state_provider == "rocksdb":
        _assert_rocksdb_provider(q, name)
    elif expect_state_provider is not None:
        raise ValueError(
            f"unknown expect_state_provider {expect_state_provider!r}")
    return name


def _assert_rocksdb_provider(q, name: str) -> None:
    """Per-call provider telemetry for a FINISHED drain: raise unless the
    query's stateful operators report RocksDB customMetrics (the provider
    conf is read at query START, so a scope bug silently falls back to the
    heap store). Split out of run_to_memory so the guard is unit-testable
    against stub progress objects."""
    ops = (q.lastProgress or {}).get("stateOperators", [])
    progresses = [p for p in (q.recentProgress or []) if p]
    # vacuity must not rely on recentProgress alone: it retains only the
    # last numRecentProgressUpdates (default 100) entries, so a
    # many-microbatch drain whose input all landed in evicted early
    # batches would sum to 0 and silently skip the provider assertion.
    # lastProgress's stateOperators numRowsTotal survives eviction — any
    # retained state proves the store was exercised.
    state_rows = sum(op.get("numRowsTotal", 0) or 0 for op in ops)
    input_rows = sum(p.get("numInputRows", 0) for p in progresses)
    if state_rows == 0 and input_rows == 0:
        # vacuously satisfied: zero rows drained (empty partition / empty
        # table) means the state store was never exercised — the
        # production contract says an empty input must not crash
        return
    if not ops:
        raise RuntimeError(
            f"drain '{name}' expected rocksdb state but the query ran "
            "no stateful operators")
    for op in ops:
        if not any(k.startswith("rocksdb")
                   for k in op.get("customMetrics", {})):
            raise RuntimeError(
                f"drain '{name}' expected the RocksDB state store but "
                f"operator {op.get('operatorName')!r} reports no rocksdb "
                "metrics — provider scope did not cover query start")


def run_to_files(stream_df: DataFrame, path: str, checkpoint: str,
                 fmt: str = "json", output_mode: str = "append",
                 partition_by=None, timeout_sec: int = 300) -> str:
    """Drain all available input into a FILE sink (json/parquet) with a
    checkpoint and stop — the production shape of a streaming pipeline
    landing a corpus: exactly-once via the checkpoint + _spark_metadata
    commit log (batch re-readers consult it and never see uncommitted
    files), directory-partitioned like the batch sinks. Raises on a
    partial drain, same contract as run_to_memory."""
    w = (
        stream_df.writeStream.format(fmt)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    q = w.start()
    done = q.awaitTermination(timeout_sec)
    if not done:
        q.stop()
        raise TimeoutError(
            f"streaming file drain to '{path}' still running after "
            f"{timeout_sec}s — output would be partial")
    return path


DOCUMENTS_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def read_documents_stream(spark: SparkSession, sf_dir: str,
                          max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the documents parquet (same
    single-file-symlink / direct-directory rule as read_events_stream)."""
    import hashlib
    import os
    import tempfile

    target = os.path.abspath(f"{sf_dir}/documents.parquet")
    if os.path.isdir(target):
        stream_dir = target
    else:
        key = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        stream_dir = os.path.join(tempfile.gettempdir(), f"fermor_docs_{key}")
        os.makedirs(stream_dir, exist_ok=True)
        link = os.path.join(stream_dir, "documents.parquet")
        if not os.path.exists(link):
            os.symlink(target, link)
    reader = spark.readStream.schema(DOCUMENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(stream_dir)


def streaming_curation(docs: DataFrame, lang: str = "en",
                       min_tokens: int = 20, split_seed: str = "split") -> DataFrame:
    """The curation front-end as an APPEND-MODE stream with ZERO state:
    language filter, token-length quality gate, and hash-lattice split tag
    are all pure column expressions (pipeline.text / pipeline.sample), so
    the exact batch operators run unchanged on a readStream frame —
    documents are curated as they land, no watermark, no state store.

    Stateful stages (dedup, repetition metrics) stay downstream: exact
    dedup within a time horizon is `dedup_within_watermark` on
    md5(text); corpus-wide dedup remains a batch compaction job.
    """
    from fermor_spark.pipeline.sample import hash_split
    from fermor_spark.pipeline.text import tokens

    gated = docs.where(
        (F.col("lang") == lang) & (F.size(tokens(F.col("text"))) >= min_tokens)
    )
    return hash_split(gated, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1},
                      seed=split_seed)
