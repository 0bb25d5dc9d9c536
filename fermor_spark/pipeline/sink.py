"""Corpus sinks: partitioned parquet writes for curated training data.

The write side of the pipeline story: a curated corpus lands partitioned by
its downstream access keys (split, lang, source, ...) so every later reader
— tokenizer training on `train`, eval decontamination on `test`, per-language
mixing — gets partition PRUNING instead of a full scan. File sizes are
bounded by maxRecordsPerFile (executor-memory-safe Arrow batches for
re-readers) and each partition directory is written by the tasks that own
its rows — no global sort, no driver collection.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def write_corpus(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("split", "lang"),
    max_records_per_file: int | None = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a curated corpus as parquet partitioned by ``partition_by``.

    Scale notes: partition columns become directory keys (pruned at read
    planning time — a `split='train'` reader never lists val/test files);
    ``max_records_per_file`` splits oversized task outputs WITHOUT a
    shuffle (the writer rolls files), bounding any downstream reader's
    per-file memory. Dynamic partition overwrite is left to the session
    config — callers replacing one split set
    spark.sql.sources.partitionOverwriteMode=dynamic.
    """
    w = df.write.mode(mode)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def read_corpus(spark, path: str, schema=None) -> DataFrame:
    """Read a corpus written by write_corpus (partition columns recovered
    from directory keys; predicate pushdown on them is pruning). Pass
    ``schema`` (the written frame's schema) to make reading a VACUOUS
    corpus well-defined — an empty partitioned write leaves no data files
    to infer from."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(path)


def write_corpus_jsonl(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] = ("split",),
    compression: str | None = "gzip",
    max_records_per_file: int | None = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write a corpus as JSON Lines — the interchange format LLM-corpus
    tooling consumes (one JSON object per line). Same scale rules as the
    parquet sink: partition columns become pruned directory keys, file
    sizes are bounded WITHOUT a shuffle, each task writes its own rows.
    gzip (splittable-enough at bounded file sizes; files roll at
    max_records_per_file) keeps text corpora ~5-10x smaller on the wire.
    Parquet remains the internal format — JSONL is the export/ingest
    boundary."""
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", int(max_records_per_file))
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.json(path)


def read_corpus_jsonl(spark, path: str, schema=None) -> DataFrame:
    """Read a JSONL corpus directory (or any newline-delimited JSON tree,
    e.g. an external dataset drop). Passing ``schema`` skips the inference
    scan — REQUIRED practice at 100 TB (schema inference reads every file
    twice) and the only well-defined behavior for empty partitions."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.json(path)


TAR_SHARD_SCHEMA = "shard string, key string, text string, meta string"


def write_corpus_tar(
    df: DataFrame,
    path: str,
    key_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: Sequence[str] = (),
    n_shards: int = 8,
) -> None:
    """Write the corpus as WebDataset-convention tar shards — the format
    sequential training loaders consume (members of one sample share a
    basename key: ``{key}.txt`` holds the text bytes, ``{key}.json`` the
    metadata object; shards stream start-to-finish with no index).

    Scale shape: rows bucket by a hash of the key (deterministic under
    any input partitioning, same mechanism as the WARC sink), one
    applyInPandas task writes one shard start-to-finish — no global
    sort, no driver collection, shard count = write parallelism. Tar
    headers are normalized (mtime/uid/gid zero) so a shard's bytes are
    a pure function of its rows — re-runs are byte-idempotent. Sizing
    rule: the applyInPandas group holds ONE shard's rows in executor
    memory (members stream to the file, so that group is the only full
    copy) — pick n_shards >= corpus_bytes / target_shard_memory, e.g.
    a 1 TB corpus at 1 GB per task needs n_shards >= 1000. Duplicate
    keys within a shard fail loudly: two members with one basename
    would silently collapse last-wins on read. Like the WARC fixture
    sink this writes task-local files under ``path``; a production
    deployment points the same writer at a mounted object store."""
    import io
    import json
    import os
    import tarfile

    import pandas as pd
    from pyspark.sql import functions as F

    os.makedirs(path, exist_ok=True)
    metas = list(meta_cols)
    sel = df.select(
        F.col(key_col).cast("string").alias("_key"),
        F.col(text_col).alias("_text"),
        *[F.col(c) for c in metas],
        (F.abs(F.xxhash64(F.col(key_col).cast("string"))) % n_shards)
        .alias("_b"))

    def write_shard(key, pdf):
        b = int(key[0])
        pdf = pdf.sort_values("_key")
        dup = pdf["_key"][pdf["_key"].duplicated()]
        if len(dup):
            raise ValueError(
                f"shard-{b:05d}: duplicate sample key(s) "
                f"{sorted(set(dup))[:5]} — tar members must have unique "
                "basenames (read_corpus_tar would collapse duplicates "
                "last-wins); dedup the corpus on the key column first")

        def add(tar, name, data: bytes):
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            tar.addfile(info, io.BytesIO(data))

        # members stream straight to a TEMP file, renamed only after the
        # tar closes cleanly: the tar never materializes as a second
        # in-memory copy of the group, and a task killed mid-write can
        # never leave a truncated shard-*.tar that a later read would
        # silently parse as a complete-but-smaller shard (the .part name
        # falls outside read_corpus_tar's *.tar glob). The temp name is
        # ATTEMPT-unique: with speculation or a zombie attempt racing a
        # retry, a shared name would interleave two attempts' writes
        # into one published file — each attempt writes its own temp and
        # the LAST clean os.replace wins (both attempts produce
        # identical bytes, so either winner is correct).
        from pyspark import TaskContext
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        final = f"{path}/shard-{b:05d}.tar"
        part = f"{final}.{attempt}.part"
        with open(part, "wb") as f, \
                tarfile.open(fileobj=f, mode="w") as tar:
            for row in pdf.itertuples(index=False):
                d = dict(zip(pdf.columns, row))
                add(tar, f"{d['_key']}.txt",
                    (d["_text"] or "").encode("utf-8"))
                meta = {c: d[c] for c in metas}
                add(tar, f"{d['_key']}.json",
                    json.dumps(meta, sort_keys=True,
                               default=str).encode("utf-8"))
        os.replace(part, final)
        return pd.DataFrame({"shard": [b], "n": [len(pdf)]})

    # Explicit repartition into n_shards tasks: the bare groupBy's shuffle
    # is AQE-coalesced toward one task at small byte sizes, serializing
    # the tar encode (same fix as the WARC sink; the explicit repartition
    # is exempt from coalescing and satisfies the groupBy's clustering, so
    # no second exchange is added). The shard values are hashed again into
    # the n_shards tasks, so collisions leave about 1/e of them empty —
    # not an n-way spread.
    sel.repartition(n_shards, "_b") \
        .groupBy("_b").applyInPandas(write_shard, "shard int, n long") \
        .collect()


def read_corpus_tar(spark, path: str) -> DataFrame:
    """Read WebDataset-style tar shards back → (shard, key, text, meta)
    rows. binaryFile one-shard-per-task scan (the shard IS the
    parallelism unit, exactly how a training loader consumes it) →
    partition-local tarfile walk grouping members by basename key; one
    output frame per shard, so a task holds one shard's samples."""
    import io
    import os
    import tarfile
    from typing import Iterator

    import pandas as pd

    files = spark.read.format("binaryFile") \
        .option("pathGlobFilter", "*.tar").load(path) \
        .select("path", "content")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for name, content in zip(pdf["path"], pdf["content"]):
                shard = os.path.basename(str(name))
                samples: dict[str, dict[str, bytes]] = {}
                raw = bytes(content)
                try:
                    # getmembers walks the whole archive INSIDE the
                    # guard: truncation mid-header raises ReadError from
                    # the walk, not from open — both must surface as the
                    # loud, named failure (the WARC reader's contract),
                    # never an anonymous task stack trace
                    with tarfile.open(fileobj=io.BytesIO(raw)) as tar:
                        # end of the last member's 512-padded data block,
                        # from per-member TarInfo fields (offset_data +
                        # padded size) — NOT TarFile.offset, which is
                        # undocumented internal reader state whose meaning
                        # could shift across CPython releases
                        end = 0
                        for m in tar.getmembers():
                            end = max(end, m.offset_data
                                      + ((m.size + 511) // 512) * 512)
                            if not m.isfile():
                                continue
                            base, _, ext = m.name.rpartition(".")
                            samples.setdefault(base, {})[ext] = \
                                tar.extractfile(m).read()
                except tarfile.TarError as e:
                    raise ValueError(f"{shard}: not a valid tar shard "
                                     f"({e})") from e
                # tarfile tolerates a MISSING end-of-archive marker when
                # truncation lands on a member boundary (empirically:
                # only an offset-0 cut raises) — a shard cut between
                # samples would otherwise read as complete-but-smaller.
                # Require the marker (two zero blocks) plus zero padding
                # through end-of-file, which is exactly what the writer
                # emits.
                trailer = raw[end:]
                if len(trailer) < 1024 or trailer.strip(b"\x00"):
                    raise ValueError(
                        f"{shard}: archive ends at byte {end} without a "
                        "clean end-of-archive marker — shard is "
                        "truncated or carries trailing garbage")
                missing = [k for k, s in samples.items()
                           if "txt" not in s or "json" not in s]
                if missing:
                    # loud, named failure (the same contract as a
                    # corrupt shard): a sample without its .txt/.json
                    # member is data loss, not an empty document
                    raise ValueError(
                        f"{shard}: sample key(s) "
                        f"{sorted(missing)[:5]} missing a .txt or "
                        ".json member — shard is incomplete or was "
                        "written by a different convention")
                rows = [(shard, k,
                         s["txt"].decode("utf-8"),
                         s["json"].decode("utf-8"))
                        for k, s in sorted(samples.items())]
                yield pd.DataFrame(
                    rows, columns=["shard", "key", "text", "meta"])

    return files.mapInPandas(run, TAR_SHARD_SCHEMA)
