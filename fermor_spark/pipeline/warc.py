"""WARC (Web ARChive, ISO 28500) source + fixture sink: the ingestion
boundary of web-crawl curation — Common Crawl publishes WARC, and a
corpus pipeline's first stage is "WARC files → (url, metadata, payload)
rows". Pure-Python record walk over the published WARC/1.0 layout, no
external library.

Scale shape: ``spark.read.format("binaryFile")`` makes each WARC file one
task's input — the real-world unit of crawl parallelism (Common Crawl
ships ~1 GB files; a 100 TB crawl is ~100k files riding one file-listing
scan). Record splitting, gzip member decompression, and HTTP header
stripping are all partition-local inside one mapInPandas pass — zero
shuffle between "bytes on disk" and "payload rows". ``read_warc_html``
runs HTML extraction (``html.extract_html``) inside that same pass, so a
crawl's "bytes on disk → extracted text rows" front half is one Python
node, not a record walk followed by a separate extraction UDF. The
writer side (``warc_bytes`` / ``write_warc``) emits valid WARC/1.0 —
warcinfo + response records, per-record gzip members (the Common Crawl
convention, readable by any WARC tool) — so round trips are
value-checkable against the source table without network access.

Record grammar (WARC/1.0): a version line ``WARC/1.0\\r\\n``, named
headers through a blank line, a Content-Length-sized block, then
``\\r\\n\\r\\n``. Payload parsing is LENGTH-driven, never delimiter
scanning, so bodies containing blank lines or stray version strings
round-trip exactly.
"""

from __future__ import annotations

import gzip
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fermor_spark.pipeline.html import (HTML_EXTRACT_COLS,
                                        HTML_EXTRACT_SCHEMA, extract_html)

WARC_SCHEMA = (
    "warc_file string, record_type string, url string, warc_date string, "
    "http_status int, content_type string, payload binary"
)


def warc_bytes(records: list[dict], warcinfo: bool = True,
               compress: bool = True) -> bytes:
    """Serialize records into one WARC file. Each record dict:
    ``url``, ``payload`` (bytes), optional ``date`` (ISO-8601 Z),
    ``status`` (default 200), ``content_type`` (default text/plain).
    ``compress=True`` gzips each record as its own member (the Common
    Crawl convention — members concatenate into one .warc.gz)."""

    def one(headers: list[tuple[str, str]], block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            f"{k}: {v}\r\n".encode("utf-8") for k, v in headers
        ) + f"Content-Length: {len(block)}\r\n\r\n".encode("ascii")
        raw = head + block + b"\r\n\r\n"
        return gzip.compress(raw) if compress else raw

    out = bytearray()
    if warcinfo:
        info = b"software: fermor-spark warc writer\r\n"
        out += one([("WARC-Type", "warcinfo"),
                    ("WARC-Date", "2000-01-01T00:00:00Z"),
                    ("WARC-Record-ID", "<urn:uuid:00000000-0000-0000-0000-000000000000>"),
                    ("Content-Type", "application/warc-fields")], info)
    for i, r in enumerate(records):
        payload = r["payload"]
        if r.get("type") == "conversion":
            # WET-style extracted-text record: raw text block, no HTTP
            # envelope (ISO 28500 §6.8)
            out += one([
                ("WARC-Type", "conversion"),
                ("WARC-Date", r.get("date", "2000-01-01T00:00:00Z")),
                ("WARC-Record-ID",
                 f"<urn:uuid:00000000-0000-0000-0000-{i:012d}>"),
                ("WARC-Target-URI", r["url"]),
                ("Content-Type",
                 r.get("content_type", "text/plain; charset=utf-8")),
            ], payload)
            continue
        status = int(r.get("status", 200))
        ctype = r.get("content_type", "text/plain; charset=utf-8")
        http = (f"HTTP/1.1 {status} OK\r\n"
                f"Content-Type: {ctype}\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
                ).encode("ascii") + payload
        out += one([
            ("WARC-Type", "response"),
            ("WARC-Date", r.get("date", "2000-01-01T00:00:00Z")),
            ("WARC-Record-ID", f"<urn:uuid:00000000-0000-0000-0000-{i:012d}>"),
            ("WARC-Target-URI", r["url"]),
            ("Content-Type", "application/http; msgtype=response"),
        ], http)
    return bytes(out)


# Raw-bytes ceiling for ONE gzip member. Per-record members (the Common
# Crawl layout) sit far below it; a pathological SINGLE-member 1 GB
# .warc.gz would otherwise decompress to several GB inside one task and
# OOM the executor — the guard makes that file fail loudly with a
# re-chunking instruction instead.
MAX_MEMBER_BYTES = 1 << 30


def _iter_warc_records(name: str, data: bytes,
                       max_member_bytes: int = MAX_MEMBER_BYTES):
    """Yield WARC record rows from raw file bytes, gzip-aware WITHOUT
    whole-file materialization: a .warc.gz is decompressed MEMBER BY
    MEMBER (zlib, gzip framing), so per-record-gzip files — the Common
    Crawl layout, ~1 GB compressed holding several GB raw — hold at most
    one member's records in memory at a time. A single-member gzip (or
    a plain file) degrades to one whole-stream parse, BOUNDED by
    ``max_member_bytes`` raw bytes per member (zlib max_length caps the
    decompression itself, so the guard trips before the memory is
    spent, not after)."""
    import zlib

    if data[:2] != b"\x1f\x8b":
        yield from _parse_warc_stream(name, data)
        return
    rest = data
    while rest[:2] == b"\x1f\x8b":
        d = zlib.decompressobj(wbits=31)
        member = d.decompress(rest, max_member_bytes + 1)
        if len(member) > max_member_bytes or d.unconsumed_tail:
            raise ValueError(
                f"{name}: a single gzip member decompresses past "
                f"max_member_bytes={max_member_bytes} — re-chunk the file "
                "into per-record gzip members (the Common Crawl layout) "
                "or raise the bound explicitly")
        member += d.flush()
        if len(member) > max_member_bytes:
            raise ValueError(
                f"{name}: a single gzip member decompresses past "
                f"max_member_bytes={max_member_bytes} — re-chunk the file "
                "into per-record gzip members (the Common Crawl layout) "
                "or raise the bound explicitly")
        yield from _parse_warc_stream(name, member)
        rest = d.unused_data
    if rest.strip(b"\r\n"):
        raise ValueError(f"{name}: trailing non-gzip bytes after members")


def _parse_warc_stream(name: str, data: bytes):
    """Walk one (decompressed) WARC byte stream → row tuples matching
    WARC_SCHEMA. Length-driven; raises ValueError on a malformed record
    so a corrupt file fails loudly instead of yielding partial rows."""
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate inter-record padding newlines
        while pos < n and data[pos:pos + 1] in (b"\r", b"\n"):
            pos += 1
        if pos >= n:
            break
        eol = data.index(b"\r\n", pos)
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"{name}: expected WARC version line at {pos}")
        hdr_end = data.index(b"\r\n\r\n", eol)
        headers = {}
        for line in data[eol + 2:hdr_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode("ascii")] = v.strip().decode(
                "utf-8", "replace")
        length = int(headers["content-length"])
        block = data[hdr_end + 4:hdr_end + 4 + length]
        if len(block) != length:
            raise ValueError(f"{name}: truncated record block at {pos}")
        pos = hdr_end + 4 + length
        rtype = headers.get("warc-type", "")
        url = headers.get("warc-target-uri")
        date = headers.get("warc-date")
        status = None
        ctype = headers.get("content-type")
        payload = block
        if rtype == "response" and (ctype or "").startswith("application/http"):
            # strip the HTTP envelope: status line + headers + CRLFCRLF
            he = block.find(b"\r\n\r\n")
            if he < 0:
                raise ValueError(f"{name}: HTTP block without header end")
            http_lines = block[:he].split(b"\r\n")
            parts = http_lines[0].split(b" ", 2)
            status = int(parts[1]) if len(parts) > 1 else None
            ctype = None
            for line in http_lines[1:]:
                k, _, v = line.partition(b":")
                if k.strip().lower() == b"content-type":
                    ctype = v.strip().decode("utf-8", "replace")
            payload = block[he + 4:]
        yield (name, rtype, url, date, status, ctype, payload)


_WARC_COLS = ["warc_file", "record_type", "url", "warc_date",
              "http_status", "content_type", "payload"]


def _warc_mapper(record_types: tuple[str, ...],
                 max_link_density: float | None = None, prefix: str = ""):
    """The mapInPandas function of the binaryFile → record-row pass,
    shared by the batch and streaming readers. With ``max_link_density``
    set, each kept record's payload also goes through
    ``html.extract_html`` in the same pass, appending the
    ``{prefix}``-named extraction columns (read_warc_html)."""
    cols = _WARC_COLS + ([prefix + c for c in HTML_EXTRACT_COLS]
                         if max_link_density is not None else [])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # one output frame per FILE: the task never holds more than
            # one file's records (plus one gzip member's raw bytes)
            for name, content in zip(pdf["path"], pdf["content"]):
                rows = [row for row in
                        _iter_warc_records(str(name), bytes(content))
                        if row[1] in record_types]
                if max_link_density is not None:
                    rows = [row + extract_html(
                        row[6].decode("utf-8", "replace"), max_link_density)
                        for row in rows]
                yield pd.DataFrame(rows, columns=cols)

    return run


def read_warc(spark: SparkSession, path: str,
              record_types: tuple[str, ...] = ("response",),
              glob: str = "*.warc*") -> DataFrame:
    """WARC files (plain or .gz with any member layout) under a directory
    → record rows.

    binaryFile scan (one file = one input row = one task's work, the
    crawl-scale parallelism unit; ``pathGlobFilter`` prunes at listing
    time) → partition-local mapInPandas record walk. Only
    ``modificationTime``-free columns are projected from the file source,
    and the ``content`` column is dropped after the parse — the payload
    rows, not the raw files, flow downstream."""
    files = spark.read.format("binaryFile") \
        .option("pathGlobFilter", glob).load(path) \
        .select("path", "content")
    return files.mapInPandas(_warc_mapper(record_types), WARC_SCHEMA)


def read_warc_html(spark: SparkSession, path: str,
                   record_types: tuple[str, ...] = ("response",),
                   glob: str = "*.warc*", max_link_density: float = 0.5,
                   prefix: str = "extracted_") -> DataFrame:
    """read_warc and html_to_text in ONE pass: the rows and columns of
    ``html_to_text(read_warc(spark, path, record_types, glob),
    col="payload", max_link_density=max_link_density, prefix=prefix)``.

    Same binaryFile scan, and the record walk's mapInPandas runs
    ``html.extract_html`` on each payload as it yields the record, so
    the plan has one Python node instead of a mapInPandas followed by an
    ArrowEvalPython. Each Python-worker task carries a fixed start-up
    cost, so fusing the two saves one task per file partition."""
    files = spark.read.format("binaryFile") \
        .option("pathGlobFilter", glob).load(path) \
        .select("path", "content")
    schema = WARC_SCHEMA + "".join(
        f", `{prefix}{name}` {typ}"
        for name, typ in (f.split() for f in HTML_EXTRACT_SCHEMA.split(",")))
    return files.mapInPandas(
        _warc_mapper(record_types, max_link_density, prefix), schema)


def read_wet(spark: SparkSession, path: str,
             glob: str = "*.wet*") -> DataFrame:
    """Common Crawl WET (extracted-text) ingestion: WET files are WARC
    containers whose text rows are ``conversion`` records (ISO 28500
    §6.8) with a text/plain payload and no HTTP envelope — the
    pre-extracted sibling of the raw crawl. Same one-file-per-task scan
    and record walk as read_warc, filtered to conversion records; the
    payload column IS the document text (UTF-8)."""
    return read_warc(spark, path, record_types=("conversion",), glob=glob)


def write_warc(df: DataFrame, path: str, url_col: str = "url",
               payload_col: str = "payload", n_files: int | None = 4,
               compress: bool = True,
               record_type: str = "response") -> None:
    """Fixture/export sink: bucket rows into ``n_files`` WARC files under
    ``path`` (task-local writes, one file per bucket — the corpus-sink
    pattern). Bucketing hashes the url so output is deterministic under
    any input partitioning. ``n_files=None`` derives the file count from
    the session's core count (``defaultParallelism``) — the file is the
    crawl-scale parallelism unit for BOTH the per-record gzip writer here
    and every downstream read_warc consumer (one file = one scan task),
    so a fixed small count serializes the whole front half of a crawl
    pipeline on a wide cluster. Any n_files yields the same record SET,
    so aggregate consumers are layout-invariant. ``record_type=
    'conversion'`` emits the WET (extracted-text) layout instead —
    conversion records with a raw text/plain block and no HTTP envelope,
    under ``.wet``/``.wet.gz`` filenames so read_wet's default glob finds
    them.

    Null-row rule (the sink analog of the ANN family's null-vector rule):
    a row with a null url or null payload contributes NO record — there is
    nothing addressable to write — and is filtered JVM-side before the
    writer task. Without the filter one failed-extraction row (a real
    crawl always has some) raised TypeError inside the Arrow writer and
    killed the whole task (found by tools/empty_sweep.py --mode nulls)."""
    import os

    if record_type not in ("response", "conversion"):
        raise ValueError(f"record_type must be 'response' or 'conversion', "
                         f"got {record_type!r}")
    if n_files is None:
        n_files = max(4, df.sparkSession.sparkContext.defaultParallelism)
    os.makedirs(path, exist_ok=True)
    bucketed = df.select(
        F.col(url_col).alias("url"), F.col(payload_col).alias("payload"),
        (F.abs(F.xxhash64(url_col)) % n_files).alias("_b"),
    ).where(F.col("url").isNotNull() & F.col("payload").isNotNull())
    # Hand the buckets to n_files tasks explicitly: the groupBy below
    # hashes on _b into spark.sql.shuffle.partitions and AQE then
    # coalesces the (tiny-bytes, gzip-CPU-heavy) post-shuffle partitions
    # toward ONE task — the per-record gzip loop, the actual cost of the
    # sink, ran serial regardless of n_files. A user repartition with an
    # explicit count is exempt from AQE coalescing, and its
    # HashPartitioning(_b, n_files) satisfies the groupBy's clustering
    # requirement, so no second exchange is added (guide §2.4/§2.5).
    # This is not an n-way spread: the n_files bucket values are hashed
    # again into n_files tasks, and the collisions leave about 1/e of the
    # tasks with no bucket while others write two or more files.
    bucketed = bucketed.repartition(n_files, "_b")
    base_ext = "wet" if record_type == "conversion" else "warc"
    ext = f"{base_ext}.gz" if compress else base_ext

    def write_bucket(key, pdf):
        b = int(key[0])
        recs = [{"url": u, "payload": bytes(p), "type": record_type}
                for u, p in sorted(zip(pdf["url"], pdf["payload"]))]
        blob = warc_bytes(recs, compress=compress)
        with open(f"{path}/part-{b:05d}.{ext}", "wb") as f:
            f.write(blob)
        return pd.DataFrame({"bucket": [b], "n": [len(recs)]})

    bucketed.groupBy("_b").applyInPandas(
        write_bucket, "bucket int, n long").collect()


def write_wet(df: DataFrame, path: str, url_col: str = "url",
              payload_col: str = "payload", n_files: int | None = 4,
              compress: bool = True) -> None:
    """WET (extracted-text) fixture/export sink: write_warc in the
    conversion-record layout — Common Crawl's pre-extracted sibling
    format, read back by read_wet."""
    write_warc(df, path, url_col=url_col, payload_col=payload_col,
               n_files=n_files, compress=compress,
               record_type="conversion")


def read_warc_stream(spark: SparkSession, path: str,
                     record_types: tuple[str, ...] = ("response",),
                     glob: str = "*.warc*",
                     max_files_per_trigger: int | None = None) -> DataFrame:
    """STREAMING WARC ingestion — the landing-zone shape: crawl files
    arrive in a directory, records flow out as they land. Same
    binaryFile one-file-per-task scan and partition-local record walk
    as read_warc, on a readStream source (the parse is stateless
    mapInPandas, so the exact batch code runs unchanged); pair with
    streaming.run_to_files for exactly-once landing via checkpoint +
    commit log, and maxFilesPerTrigger to bound per-batch work."""
    reader = spark.readStream.format("binaryFile") \
        .schema("path string, modificationTime timestamp, "
                "length long, content binary") \
        .option("pathGlobFilter", glob)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    files = reader.load(path).select("path", "content")

    return files.mapInPandas(_warc_mapper(record_types), WARC_SCHEMA)
