"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed via Arrow-batched mapInPandas.

Codec support matrix, honestly delineated (REAL = pure-Python/numpy decode
in this module, no external codec library; STUB = raises
``NotImplementedError`` unless ``fake=True`` supplies a deterministic fake):

======================  ==========================================  ======
Format / variant        Decoder                                     Status
======================  ==========================================  ======
PNG (all 5 filters,     ``_png_decode`` (zlib inflate + unfilter    REAL
depths 1-16, color      + bit unpack, Adam7 interlace)
types 0/2/3/4/6)
GIF 87a/89a             ``_gif_decode`` (LZW, global/local           REAL
                        palettes, interlace)
BMP / PPM / PGM         ``decode_image`` inline (raw raster)         REAL
JPEG baseline SOF0/1    ``_jpeg_scan`` (canonical Huffman, dequant,  REAL
                        8x8 IDCT, 4:2:0/4:2:2 upsample, restarts)
JPEG progressive SOF2   ``_jpeg_progressive`` (spectral selection,   REAL
                        successive approximation + AC refinement,
                        EOB runs, restart markers)
JPEG lossless SOF3,     ``_jpeg_lossless_scan`` (annex-H predictors  REAL
2-16 bit, single- AND   1-7, point transform, restarts, mod-2^16
multi-component         diffs incl. SSSS=16; interleaved 1x1-factor
(1x1 factors)           multi-comp scans; >8-bit emits the high
                        byte, the PNG-16 contract; encoder
                        ``_jpeg_lossless_encode`` for fixtures)
JPEG arithmetic SOF9/   ``_jpeg_arith_scan`` / ``_jpeg_arith_prog_``  REAL
SOF10 (sequential +     ``scan`` — T.81 Annex D QM-coder (Table D.3
progressive, QM-coder)  state machine) + Annex F DC/AC statistical
                        models, DAC conditioning, restart reinit;
                        interop-tested against embedded
                        libjpeg-turbo streams both directions;
                        encoder ``_jpeg_arith_encode`` for fixtures
JPEG arithmetic         returns "compressed" (SOF11/SOF13-15 +       STUB
lossless /              the differential-frame hierarchy; lossless
hierarchical /          with non-uniform sampling factors)
mixed-factor lossless
WAV (RIFF PCM)          ``decode_wav`` + FFT features                REAL
Audio METADATA          ``audio_metadata`` — WAV fmt/data math,      REAL
(wav / flac / mp3)      FLAC STREAMINFO bit unpack, MP3 ID3-skip
                        + layer-III frame-header walk; header-only
FLAC samples            ``_flac_decode``: CONSTANT/VERBATIM/FIXED    REAL
(all subframe types,    0-4 AND LPC subframes (quantized coefs +
all channel             shift); independent channels AND left-side/
assignments)            right-side/mid-side decorrelation (bps+1
                        side channel); Rice residuals incl. raw-bits
                        escape + any partition order, UTF-8 frame
                        numbers, CRC-8/CRC-16 + STREAMINFO MD5
                        verified; encoder ``_flac_encode`` for
                        fixtures (stereo_mode= / lpc= hooks)
MP3 samples             layer-III DECODE needs a codec library       STUB
Y4M (YUV4MPEG2)         ``_y4m_frames`` luma-plane frame sample      REAL
Video METADATA          ``video_metadata`` — mp4 box walk (mvhd      REAL
(mp4 / avi / y4m)       timescale/duration, tkhd dims), AVI RIFF
                        header, Y4M params; header-only
mp4 / webm / mkv        compressed FRAME decode needs ffmpeg         STUB
FRAME samples
======================  ==========================================  ======

``parse_image_header`` sniffs PNG/GIF/BMP/all-SOFn-JPEG dimensions without
decoding. ``_png_encode``/``_jpeg_encode``/``_jpeg_prog_encode``/
``_jpeg_lossless_encode`` are fixture/oracle encoders. The Spark-side
machinery — schemas, batching, partition sizing, UDF signatures, row
explosion — is real and tested for every row above, stubbed or not.

Design for 100 TB: binary payloads ride in their own column so column
pruning skips them unless projected; ``repartition_for_payload`` right-sizes
partitions by payload bytes (not row count) so Arrow batches stay within
executor memory.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fermor_spark.session import local_frame

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("kind", T.StringType()),          # image | audio | video
    T.StructField("content", T.BinaryType()),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
])

DECODED_IMAGE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
])

DECODED_PIXELS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("content", T.BinaryType()),
    T.StructField("pixel_sum", T.LongType()),
])

FRAME_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("frame", T.BinaryType()),
    T.StructField("width", T.IntegerType()),    # null on the fake path
    T.StructField("height", T.IntegerType()),
])


def media_table(spark, rows) -> DataFrame:
    """Build a media DataFrame from (media_id, kind, content_bytes, meta)."""
    return local_frame(spark, rows, MEDIA_SCHEMA)


def repartition_for_payload(df: DataFrame, target_bytes: int = 128 * 1024 * 1024,
                            size_col: str | None = None) -> DataFrame:
    """Repartition so each partition carries ~target_bytes of payload.

    At scale the row count is a terrible proxy for partition weight when a
    row is a 10 MB image; size by bytes instead."""
    sizer = F.length(F.col(size_col or "content"))
    total = df.select(F.sum(sizer).alias("b")).collect()[0]["b"] or 0
    parts = max(1, int(total // target_bytes) + 1)
    return df.repartition(parts)


IMAGE_HEADER_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("format", T.StringType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def parse_image_header(df: DataFrame) -> DataFrame:
    """REAL image metadata extraction → (media_id, format, width, height).

    Container-header parsing only (no pixel decode), so it needs no codec
    library and reads a handful of bytes per row — the shape of a metadata
    pass over 100 TB of images where full decode is deferred to the rows
    that survive filtering. Unrecognized payloads yield nulls.

    The sniffer is a NESTED function deliberately: cloudpickle ships nested
    defs by value, so executors don't need fermor_spark on PYTHONPATH."""

    def sniff(b: bytes):
        """(format, width, height) from container bytes: PNG (IHDR), GIF
        (logical screen descriptor), BMP (BITMAPINFOHEADER), JPEG (SOFn)."""
        import struct

        if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
            w, h = struct.unpack(">II", b[16:24])
            return "png", w, h
        if len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", b[6:10])
            return "gif", w, h
        if len(b) >= 26 and b[:2] == b"BM":
            w, h = struct.unpack("<ii", b[18:26])
            return "bmp", w, abs(h)
        if len(b) >= 4 and b[:2] == b"\xff\xd8":  # JPEG: walk segment markers
            i = 2
            while i + 9 < len(b):
                if b[i] != 0xFF:
                    i += 1
                    continue
                marker = b[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", b[i + 5:i + 9])
                    return "jpeg", w, h
                i += 2 + seg_len
        return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs = [], [], []
            for c in pdf["content"]:
                got = sniff(bytes(c)) if c is not None else None
                fmts.append(got[0] if got else None)
                ws.append(got[1] if got else None)
                hs.append(got[2] if got else None)
            yield pd.DataFrame({
                "media_id": pdf["media_id"], "format": fmts,
                "width": ws, "height": hs,
            })

    return df.mapInPandas(run, IMAGE_HEADER_SCHEMA)


WAV_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("bits_per_sample", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("duration_sec", T.DoubleType()),
    T.StructField("rms", T.DoubleType()),
])


def _wav_parse(b: bytes):
    """REAL RIFF/WAVE PCM parse → (rate, channels, bits, samples float64
    ndarray of raw integer sample values, interleaved) or None. WAV is an
    uncompressed container: the fmt chunk is struct parsing and the data
    chunk is one numpy frombuffer — zero external dependencies."""
    import struct

    import numpy as np

    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, rate, ch, bits, data = 12, None, None, None, None
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        clen = struct.unpack("<I", b[i + 4:i + 8])[0]
        body = b[i + 8:i + 8 + clen]
        if cid == b"fmt ":
            ch, rate = struct.unpack("<HI", body[2:8])
            bits = struct.unpack("<H", body[14:16])[0]
        elif cid == b"data":
            data = body
        i += 8 + clen + (clen & 1)
    if rate is None or data is None or bits not in (8, 16, 32):
        return None
    dtype = {8: np.uint8, 16: np.int16, 32: np.int32}[bits]
    usable = (len(data) // np.dtype(dtype).itemsize) * np.dtype(dtype).itemsize
    samples = np.frombuffer(data[:usable], dtype=dtype).astype(np.float64)
    if bits == 8:
        samples = samples - 128.0
    return rate, max(ch, 1), bits, samples


def _wav_encode(samples, rate: int, channels: int = 1) -> bytes:
    """Minimal 16-bit PCM WAV encoder (fixture/oracle side of the audio
    round trip — same role as _png_encode for images)."""
    import struct

    import numpy as np

    pcm = np.asarray(samples, dtype=np.int16).tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(pcm), b"WAVE", b"fmt ", 16, 1, channels,
        rate, rate * channels * 2, channels * 2, 16, b"data", len(pcm))
    return hdr + pcm


def decode_wav(df: DataFrame) -> DataFrame:
    """REAL audio decode for PCM WAV → header fields + RMS energy
    (_wav_parse + numpy). Non-WAV or compressed payloads yield nulls
    (route those to a codec-equipped cluster profile)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in
                    ("sample_rate", "channels", "bits_per_sample",
                     "n_samples", "duration_sec", "rms")}
            for c in pdf["content"]:
                got = _wav_parse(bytes(c)) if c is not None else None
                if got is None:
                    vals = (None,) * 6
                else:
                    rate, ch, bits, samples = got
                    n = len(samples) // ch
                    rms = (float(np.sqrt(np.mean(samples ** 2)))
                           if len(samples) else 0.0)
                    vals = (rate, ch, bits, n, n / rate if rate else 0.0, rms)
                for k, v in zip(cols, vals):
                    cols[k].append(v)
            yield pd.DataFrame({"media_id": pdf["media_id"], **cols})

    return df.mapInPandas(run, WAV_SCHEMA)


def resize_image_raw(df: DataFrame, out_w: int, out_h: int,
                     channels: int = 3) -> DataFrame:
    """REAL nearest-neighbor resize over RAW interleaved pixel arrays →
    (media_id, width, height, content). Rows carry raw HxWxC bytes with
    dimensions in meta['width']/meta['height'] (the post-decode layout a
    training pipeline materializes); resizing is one numpy fancy-index per
    image — no codec involved."""
    import numpy as np

    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("content", T.BinaryType()),
    ])

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, outs = [], []
            for mid, c, meta in zip(pdf["media_id"], pdf["content"], pdf["meta"]):
                w, h = int(meta["width"]), int(meta["height"])
                arr = np.frombuffer(bytes(c), dtype=np.uint8)
                if len(arr) != w * h * channels:
                    continue
                img = arr.reshape(h, w, channels)
                yi = (np.arange(out_h) * h // out_h)
                xi = (np.arange(out_w) * w // out_w)
                resized = img[yi][:, xi]
                ids.append(mid)
                outs.append(resized.tobytes())
            yield pd.DataFrame({
                "media_id": ids, "width": [out_w] * len(ids),
                "height": [out_h] * len(ids), "content": outs,
            })

    return df.mapInPandas(run, schema)



# Decoders of UNTRUSTED bytes must degrade to None on any parse failure —
# decode_image / frame_sample map whole Arrow batches, so one corrupt
# payload raising would fail the entire Spark task. The inner bodies keep
# their targeted handlers; this is the contract-enforcing belt (found by
# the corruption fuzz in tests/test_properties.py).
def _none_on_malformed(fn):
    import functools
    import struct
    import zlib

    @functools.wraps(fn)
    def wrapped(*a, **kw):
        try:
            return fn(*a, **kw)
        except (ValueError, IndexError, KeyError, TypeError, OverflowError,
                struct.error, zlib.error):
            return None
    return wrapped


@_none_on_malformed
def _png_decode(b: bytes):
    """REAL pure-Python/numpy PNG decode → (width, height, channels,
    pixel_bytes) or None on malformed input.

    Needs only stdlib zlib + numpy: PNG's compression IS zlib (RFC 1950/
    1951); everything else is chunk walking, per-scanline unfiltering, and
    bit unpacking. Coverage: bit depths 1/2/4/8/16 (16-bit → high byte),
    color types 0 (gray), 2 (RGB), 3 (palette→RGB), 4 (gray+alpha),
    6 (RGBA), all five scanline filters, and Adam7 interlacing. Output is
    8-bit interleaved, channels as in the source (palette expands to 3).

    Filters Sub/Up are vectorized (per-lane cumsum / row add); Average and
    Paeth are per-pixel loops over the row (their recurrences have no
    closed form) — fine for the fixture scale here; a production cluster
    profile would swap in a native codec behind the same mapInPandas shape.
    """
    import struct
    import zlib

    import numpy as np

    if len(b) < 45 or b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(b):
        clen, ctype = struct.unpack(">I4s", b[pos:pos + 8])
        data = b[pos + 8:pos + 8 + clen]
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if ihdr is None or not idat:
        return None
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0 or w == 0 or h == 0:
        return None
    if w * h > (1 << 26):   # corrupt-header memory-bomb guard (64M px)
        return None
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype_i)
    if nch is None or depth not in (1, 2, 4, 8, 16):
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = max(1, (depth * nch) // 8)  # filter lag in BYTES (spec 4.5.2)

    def unfilter(stream: memoryview, pw: int, ph: int):
        """Unfilter ph scanlines of a (sub)image pw pixels wide; returns
        (samples ndarray (ph, pw*nch) uint8-or-uint16, bytes consumed)."""
        row_bytes = (pw * nch * depth + 7) // 8
        out = np.zeros((ph, row_bytes), dtype=np.uint8)
        consumed = ph * (1 + row_bytes)
        if len(stream) < consumed:
            raise ValueError("truncated")
        prev = np.zeros(row_bytes, dtype=np.uint8)
        for y in range(ph):
            base = y * (1 + row_bytes)
            f = stream[base]
            cur = np.frombuffer(
                stream[base + 1:base + 1 + row_bytes], dtype=np.uint8
            ).copy()
            if f == 1:    # Sub: per-lane cumulative sum
                for lane in range(min(bpp, row_bytes)):
                    cur[lane::bpp] = np.cumsum(
                        cur[lane::bpp], dtype=np.uint64) & 0xFF
            elif f == 2:  # Up
                cur += prev
            elif f == 3:  # Average
                c16 = cur.astype(np.int32)
                p16 = prev.astype(np.int32)
                for i in range(row_bytes):
                    left = c16[i - bpp] if i >= bpp else 0
                    c16[i] = (c16[i] + ((left + p16[i]) >> 1)) & 0xFF
                cur = c16.astype(np.uint8)
            elif f == 4:  # Paeth
                c16 = cur.astype(np.int32)
                p16 = prev.astype(np.int32)
                for i in range(row_bytes):
                    a = c16[i - bpp] if i >= bpp else 0
                    up = p16[i]
                    ul = p16[i - bpp] if i >= bpp else 0
                    pa, pb, pc = abs(up - ul), abs(a - ul), abs(a + up - 2 * ul)
                    pred = a if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                    c16[i] = (c16[i] + pred) & 0xFF
                cur = c16.astype(np.uint8)
            elif f != 0:
                raise ValueError("bad filter")
            out[y] = cur
            prev = cur
        # bytes → per-scanline sample values
        if depth == 16:
            smp = out.reshape(ph, row_bytes).view(">u2").astype(np.uint16)
            smp = (smp >> 8).astype(np.uint8)[:, : pw * nch]
        elif depth == 8:
            smp = out[:, : pw * nch]
        else:  # 1/2/4-bit packed, MSB first
            per = 8 // depth
            shifts = np.array(
                [8 - depth * (i + 1) for i in range(per)], dtype=np.uint8)
            mask = (1 << depth) - 1
            expanded = (out[:, :, None] >> shifts[None, None, :]) & mask
            smp = expanded.reshape(ph, -1)[:, : pw * nch].astype(np.uint8)
            if ctype_i == 0:  # scale low-depth gray to 8-bit
                smp = (smp * (255 // mask)).astype(np.uint8)
        return smp, consumed

    try:
        if interlace == 0:
            img, _ = unfilter(memoryview(raw), w, h)
            img = img.reshape(h, w, nch)
        elif interlace == 1:  # Adam7
            XS = (0, 4, 0, 2, 0, 1, 0)
            YS = (0, 0, 4, 0, 2, 0, 1)
            XD = (8, 8, 4, 4, 2, 2, 1)
            YD = (8, 8, 8, 4, 4, 2, 2)
            img = np.zeros((h, w, nch), dtype=np.uint8)
            mv, off = memoryview(raw), 0
            for p in range(7):
                pw = (w - XS[p] + XD[p] - 1) // XD[p]
                ph = (h - YS[p] + YD[p] - 1) // YD[p]
                if pw == 0 or ph == 0:
                    continue
                smp, used = unfilter(mv[off:], pw, ph)
                off += used
                img[YS[p]::YD[p], XS[p]::XD[p]] = smp.reshape(ph, pw, nch)
        else:
            return None
    except ValueError:
        return None
    if ctype_i == 3:
        if plte is None or int(img.max(initial=0)) >= len(plte):
            return None
        img = plte[img.reshape(h, w)]
        nch = 3
    return w, h, nch, img.tobytes()


@_none_on_malformed
def _gif_decode(b: bytes):
    """REAL pure-Python GIF decode (first frame) → (width, height, 3,
    rgb_bytes) or None. GIF's LZW is self-contained bit unpacking — no
    codec library involved: variable-width LSB-first codes (min+1 .. 12
    bits), clear/end codes, growing dictionary (GIF89a spec appendix F).
    Handles global/local color tables, interlaced row order, and frames
    smaller than the logical screen (composited onto the background
    color). Animated GIFs yield their first frame."""
    import struct

    import numpy as np

    if len(b) < 13 or b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    W, H, packed, bg, _aspect = struct.unpack("<HHBBB", b[6:13])
    if W * H > (1 << 26):
        return None
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(b[pos:pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
        pos += 3 * n

    def subblocks(pos):
        out = []
        while pos < len(b):
            ln = b[pos]
            pos += 1
            if ln == 0:
                break
            out.append(b[pos:pos + ln])
            pos += ln
        return b"".join(out), pos

    try:
        while pos < len(b):
            tag = b[pos]
            if tag == 0x21:          # extension: introducer, label, sub-blocks
                _data, pos = subblocks(pos + 2)
            elif tag == 0x2C:        # image descriptor
                x0, y0, w, h, ipk = struct.unpack("<HHHHB", b[pos + 1:pos + 10])
                pos += 10
                ct = gct
                if ipk & 0x80:
                    n = 2 << (ipk & 0x07)
                    ct = np.frombuffer(
                        b[pos:pos + 3 * n], dtype=np.uint8).reshape(-1, 3)
                    pos += 3 * n
                if ct is None or w == 0 or h == 0:
                    return None
                mcs = b[pos]
                data, pos = subblocks(pos + 1)
                idx = _lzw_decode(data, mcs, w * h)
                if idx is None or len(idx) < w * h:
                    return None
                frame = np.asarray(idx[: w * h], dtype=np.int32)
                if int(frame.max(initial=0)) >= len(ct):
                    return None
                if ipk & 0x40:       # interlaced: 4-pass row order
                    order = np.concatenate([
                        np.arange(0, h, 8), np.arange(4, h, 8),
                        np.arange(2, h, 4), np.arange(1, h, 2)])
                    img = np.empty((h, w), dtype=np.int32)
                    img[order] = frame.reshape(h, w)
                else:
                    img = frame.reshape(h, w)
                canvas = np.full((H, W), bg if bg < len(ct) else 0,
                                 dtype=np.int32)
                canvas[y0:y0 + h, x0:x0 + w] = img[: max(0, H - y0), : max(0, W - x0)]
                return W, H, 3, ct[canvas].astype(np.uint8).tobytes()
            elif tag == 0x3B:        # trailer
                return None
            else:
                return None
    except (struct.error, IndexError, ValueError):
        return None
    return None


def _lzw_decode(data: bytes, min_code_size: int, limit: int):
    """GIF-flavor LZW: LSB-first variable-width codes, clear/end codes,
    dictionary growth to 12 bits. Returns list of palette indices."""
    if not 2 <= min_code_size <= 11:
        return None
    clear, end = 1 << min_code_size, (1 << min_code_size) + 1

    def reset():
        return {i: (i,) for i in range(clear)}, min_code_size + 1, end + 1

    table, width, nxt = reset()
    out: list = []
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table, width, nxt = reset()
                prev = None
                continue
            if code == end:
                return out
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
            elif code in table:
                entry = table[code]
                table[nxt] = prev + (entry[0],)
                nxt += 1
            elif code == nxt:
                entry = prev + (prev[0],)
                table[nxt] = entry
                nxt += 1
            else:
                return None
            out.extend(entry)
            if len(out) >= limit:
                return out
            if nxt == (1 << width) and width < 12:
                width += 1
            prev = entry
    return out


_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]


def _jpeg_idct_matrix():
    import numpy as np

    x = np.arange(8)
    T = np.cos((2 * x[None, :] + 1) * x[:, None] * np.pi / 16) / 2.0
    T[0] /= np.sqrt(2.0)
    return T  # f = T.T @ F @ T


def _jpeg_parse_dqt(data, qt) -> None:
    """Parse a DQT segment into qt[table_id] = 64 zigzag-order int32s."""
    import numpy as np

    i = 0
    while i < len(data):
        pq, tq = data[i] >> 4, data[i] & 0x0F
        i += 1
        if pq:
            tab = np.frombuffer(data[i:i + 128], dtype=">u2").astype(np.int32)
            i += 128
        else:
            tab = np.frombuffer(data[i:i + 64], dtype=np.uint8).astype(np.int32)
            i += 64
        qt[tq] = tab


def _jpeg_parse_dht(data, huff) -> None:
    """Parse a DHT segment into huff[(class, id)] = {(len, code): symbol}."""
    i = 0
    while i < len(data):
        tc, th = data[i] >> 4, data[i] & 0x0F
        counts = list(data[i + 1:i + 17])
        syms = data[i + 17:i + 17 + sum(counts)]
        i += 17 + sum(counts)
        lut, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                lut[(ln, code)] = syms[k]
                code += 1
                k += 1
            code <<= 1
        huff[(tc, th)] = lut


@_none_on_malformed
def _jpeg_parse_dac(data, dac) -> None:
    """DAC segment (T.81 B.2.4.3): pairs of (Tc<<4|Tb, Cs). For DC tables
    (Tc=0) Cs packs the conditioning bounds (U<<4)|L; for AC tables (Tc=1)
    Cs is Kx, the low/high band split for the X2 escape states."""
    i = 0
    while i + 1 < len(data):
        tc, tb, cs = data[i] >> 4, data[i] & 0x0F, data[i + 1]
        if tc == 0:
            dac[(0, tb)] = (cs & 0x0F, cs >> 4)   # (L, U)
        else:
            dac[(1, tb)] = cs                      # Kx
        i += 2


@_none_on_malformed
def _jpeg_decode(b: bytes):
    """REAL pure-Python/numpy JPEG decode → (width, height, channels,
    bytes) | None | 'compressed' (hierarchical/arithmetic-lossless/
    non-uniform-factor-lossless, which stay stubbed). Baseline sequential DCT (SOF0/SOF1): segment walk,
    canonical Huffman tables, DC-diff + AC run-length entropy decode with
    byte unstuffing and restart markers, dequant + zigzag + 8x8 IDCT
    (matrix form), chroma upsampling for 4:2:0/4:2:2, JFIF BT.601
    YCbCr→RGB. PROGRESSIVE DCT (SOF2, T.81 annex G): multi-scan walk with
    spectral selection (Ss/Se bands), successive approximation (Ah/Al
    bit-planes incl. AC refinement correction bits), EOB runs, and
    per-scan DHT/DQT/DRI redefinition — coefficients accumulate across
    scans, one shared dequant+IDCT+color tail. Grayscale (1 component)
    and YCbCr (3) supported."""
    import struct

    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    qt: dict = {}
    huff: dict = {}
    dac: dict = {}
    comps = None
    w = h = 0
    dri = 0
    progressive = False
    lossless = False
    arith = False
    pos = 2
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xFF:      # T.81 B.1.1.2 fill byte before a marker
                pos += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seg_len = struct.unpack(">H", b[pos + 2:pos + 4])[0]
            data = b[pos + 4:pos + 2 + seg_len]
            if marker == 0xDB:      # DQT
                _jpeg_parse_dqt(data, qt)
            elif marker == 0xC4:    # DHT
                _jpeg_parse_dht(data, huff)
            elif marker in (0xC0, 0xC1, 0xC2, 0xC3,   # Huffman SOFs
                            0xC9, 0xCA):              # arithmetic seq/prog
                _prec, h, w = struct.unpack(">BHH", data[0:5])
                nc = data[5]
                comps = []
                for ci in range(nc):
                    cid, hv, tq = data[6 + 3 * ci:9 + 3 * ci]
                    comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F,
                                  "tq": tq})
                progressive = marker in (0xC2, 0xCA)
                lossless = marker == 0xC3
                arith = marker in (0xC9, 0xCA)
            elif marker in (0xC5, 0xC6, 0xC7, 0xCB, 0xCD, 0xCE, 0xCF):
                return "compressed"   # hierarchical / arithmetic lossless
            elif marker == 0xCC:    # DAC: arithmetic conditioning
                _jpeg_parse_dac(data, dac)
            elif marker == 0xDD:    # DRI
                dri = struct.unpack(">H", data[:2])[0]
            elif marker == 0xDA:    # SOS → entropy-coded data follows
                if lossless:
                    # predictor+Huffman only (T.81 annex H) — no DCT/quant
                    return _jpeg_lossless_scan(
                        b, pos + 2 + seg_len, w, h, comps, data, huff,
                        dri, _prec)
                if progressive:
                    # hand the whole remaining segment stream (this scan +
                    # later DHT/DQT/DRI/SOS segments) to the multi-scan walker
                    return _jpeg_progressive(b, pos, w, h, comps, qt, huff,
                                             dri, arith=arith, dac=dac)
                ns = data[0]
                sos = {}
                for ci in range(ns):
                    cid, tt = data[1 + 2 * ci:3 + 2 * ci]
                    sos[cid] = (tt >> 4, tt & 0x0F)
                scan_start = pos + 2 + seg_len
                if arith:
                    return _jpeg_arith_scan(b, scan_start, w, h, comps,
                                            sos, qt, dri, dac)
                return _jpeg_scan(b, scan_start, w, h, comps, sos, qt,
                                  huff, dri)
            elif marker == 0xD9:
                return None
            pos += 2 + seg_len
    except (struct.error, IndexError, KeyError, ValueError):
        return None
    return None


def _jpeg_extend(v, s):
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v


def _jpeg_bitreader(b, pos):
    """Entropy-stream bit reader with 0xFF00 unstuffing, shared by the
    baseline and progressive scan decoders → (getbits, decode_huff,
    restart). `restart` byte-aligns past the next RSTn marker."""
    bitbuf = [0, 0, pos]  # acc, nbits, pos

    def fill():
        acc, nb, p = bitbuf
        while nb <= 24:
            if p >= len(b):
                acc = (acc << 8) | 0
                nb += 8
                continue
            byte = b[p]
            if byte == 0xFF:
                nxt = b[p + 1] if p + 1 < len(b) else 0
                if nxt == 0x00:
                    p += 2
                elif 0xD0 <= nxt <= 0xD7:
                    break       # restart marker: stop filling
                else:
                    acc = (acc << 8)
                    nb += 8     # pad at EOI/marker
                    continue
            else:
                p += 1
            acc = (acc << 8) | byte
            nb += 8
        bitbuf[0], bitbuf[1], bitbuf[2] = acc, nb, p

    def getbits(n):
        if n == 0:
            return 0
        if bitbuf[1] < n:
            fill()
        acc, nb = bitbuf[0], bitbuf[1]
        v = (acc >> (nb - n)) & ((1 << n) - 1)
        bitbuf[1] = nb - n
        bitbuf[0] = acc & ((1 << (nb - n)) - 1)
        return v

    def decode_huff(lut):
        code = 0
        for ln in range(1, 17):
            code = (code << 1) | getbits(1)
            s = lut.get((ln, code))
            if s is not None:
                return s
        raise ValueError("bad huffman code")

    def restart():
        # byte-align, expect RSTn, reset predictors
        bitbuf[0], bitbuf[1] = 0, 0
        p = bitbuf[2]
        while p + 1 < len(b) and not (
                b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
            p += 1
        bitbuf[2] = p + 2

    return getbits, decode_huff, restart


def _jpeg_lossless_scan(b, pos, w, h, comps, hdr, huff, dri, prec):
    """Decode a LOSSLESS (SOF3, T.81 annex H) scan: no DCT, no quantization
    — each sample is a Huffman-coded difference from a neighbor prediction
    (predictors 1-7 over Ra/Rb/Rc, point transform Pt). Supported: 2-16
    bit precision, single-component raster scans AND interleaved
    multi-component scans with uniform 1x1 sampling factors (the MCU of a
    lossless interleaved scan is then one sample per component, H.2.1);
    non-uniform sampling factors return "compressed". Deep precisions
    follow the PNG-16 output contract: the emitted byte is the high byte
    of the reconstructed (P-bit << Pt) sample.

    Prediction boundary rules (H.1.2.1): the first sample of the scan and
    the first sample after a restart use the default 1 << (P-1-Pt); the
    rest of the first row predicts from Ra; the first column predicts from
    Rb; elsewhere the scan-header predictor Sv applies. Reconstruction is
    modulo 2**16."""
    import numpy as np

    ns = hdr[0]
    if ns != len(comps) or not 2 <= prec <= 16:
        return "compressed"
    if ns > 1 and any(c["h"] != 1 or c["v"] != 1 for c in comps):
        return "compressed"
    luts = []
    for ci in range(ns):
        td = hdr[2 + 2 * ci] >> 4
        lut = huff.get((0, td))
        if lut is None:
            return None
        luts.append(lut)
    sv = hdr[1 + 2 * ns]            # Ss field = predictor selector
    pt = hdr[3 + 2 * ns] & 0x0F     # Al field = point transform
    if not 1 <= sv <= 7 or pt >= prec:
        return None
    getbits, decode_huff, restart = _jpeg_bitreader(b, pos)
    default = 1 << (prec - 1 - pt)
    out = np.zeros((ns, h, w), dtype=np.int32)
    count = 0
    reset = [True] * ns
    for y in range(h):
        rows = out[:, y]
        ups = out[:, y - 1] if y else None
        for x in range(w):
            if dri and count and count % dri == 0:
                restart()
                reset = [True] * ns
            count += 1
            for ci in range(ns):
                s = decode_huff(luts[ci])
                if s == 16:         # H.1.2.2: SSSS=16 → diff 32768, no bits
                    diff = 32768
                else:
                    diff = _jpeg_extend(getbits(s), s) if s else 0
                row = rows[ci]
                if reset[ci]:
                    px = default
                    reset[ci] = False
                elif y == 0:
                    px = int(row[x - 1])
                elif x == 0:
                    px = int(ups[ci][x])
                else:
                    up = ups[ci]
                    ra, rb, rc = int(row[x - 1]), int(up[x]), int(up[x - 1])
                    if sv == 1:
                        px = ra
                    elif sv == 2:
                        px = rb
                    elif sv == 3:
                        px = rc
                    elif sv == 4:
                        px = ra + rb - rc
                    elif sv == 5:
                        px = ra + ((rb - rc) >> 1)
                    elif sv == 6:
                        px = rb + ((ra - rc) >> 1)
                    else:
                        px = (ra + rb) >> 1
                row[x] = (px + diff) & 0xFFFF
    full = out.astype(np.uint32) << pt
    if prec > 8:                    # PNG-16 contract: high byte out
        full >>= prec - 8
    px = full.astype(np.uint8).transpose(1, 2, 0)   # (h, w, ns) interleave
    return w, h, ns, px.tobytes()


def _jpeg_color(w, h, comps, hmax, vmax, planes):
    """Crop/upsample component planes to full resolution and color-convert
    (JFIF BT.601) — the shared tail of the baseline and progressive paths."""
    import numpy as np

    full = []
    for ci, c in enumerate(comps):
        p = planes[ci]
        ry, rx = vmax // c["v"], hmax // c["h"]
        if ry > 1 or rx > 1:
            p = np.repeat(np.repeat(p, ry, axis=0), rx, axis=1)
        full.append(p[:h, :w])
    if len(full) == 1:
        out = np.clip(full[0] + 0.5, 0, 255).astype(np.uint8)
        return w, h, 1, out.tobytes()
    if len(full) != 3:
        return None
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=-1)
    return w, h, 3, np.clip(rgb + 0.5, 0, 255).astype(np.uint8).tobytes()


def _jpeg_scan(b, pos, w, h, comps, sos, qt, huff, dri):
    import numpy as np

    if not comps or w == 0 or h == 0:
        return None
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        return None
    if w * h > (1 << 26):
        return None
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    T = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    planes = []
    for c in comps:
        planes.append(np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8),
                               dtype=np.float64))

    getbits, decode_huff, restart = _jpeg_bitreader(b, pos)
    extend = _jpeg_extend

    pred = [0] * len(comps)
    mcu_count = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and mcu_count and mcu_count % dri == 0:
                    restart()
                    pred = [0] * len(comps)
                mcu_count += 1
                for ci, c in enumerate(comps):
                    dc_lut = huff[(0, sos[c["id"]][0])]
                    ac_lut = huff[(1, sos[c["id"]][1])]
                    q = qt[c["tq"]]
                    for by_ in range(c["v"]):
                        for bx in range(c["h"]):
                            s = decode_huff(dc_lut)
                            diff = extend(getbits(s), s)
                            pred[ci] += diff
                            coef = np.zeros(64, dtype=np.int64)
                            coef[0] = pred[ci]
                            k = 1
                            while k < 64:
                                rs = decode_huff(ac_lut)
                                r, s = rs >> 4, rs & 0x0F
                                if s == 0:
                                    if r == 15:
                                        k += 16
                                        continue
                                    break   # EOB
                                k += r
                                if k > 63:
                                    raise ValueError("AC overflow")
                                coef[k] = extend(getbits(s), s)
                                k += 1
                            blk = np.zeros(64, dtype=np.float64)
                            blk[zz] = coef * q
                            px = T.T @ blk.reshape(8, 8) @ T + 128.0
                            y0 = (my * c["v"] + by_) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0:y0 + 8, x0:x0 + 8] = px
    except (ValueError, KeyError, IndexError):
        return None

    return _jpeg_color(w, h, comps, hmax, vmax, planes)


def _jpeg_progressive(b, pos, w, h, comps, qt, huff, dri,
                      arith=False, dac=None):
    """Progressive (SOF2/SOF10) JPEG: walk every scan from the first SOS
    marker (``pos`` points at 0xFFDA), accumulating zigzag coefficients
    per component across spectral-selection / successive-approximation
    passes, then reconstruct once (dequant + IDCT + upsample + color).
    ``arith`` selects the QM-coder scan decoder (SOF10) with ``dac``
    conditioning in place of Huffman tables."""
    import struct

    import numpy as np

    if not comps or w == 0 or h == 0:
        return None
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        return None
    if w * h > (1 << 26):
        return None
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs, nblk = [], []
    for c in comps:
        bv, bh = mcuy * c["v"], mcux * c["h"]
        coefs.append(np.zeros((bv, bh, 64), dtype=np.int64))
        cw = -(-(w * c["h"]) // hmax)    # component size in pixels
        chh = -(-(h * c["v"]) // vmax)
        nblk.append((-(-chh // 8), -(-cw // 8)))  # non-interleaved block dims
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if marker == 0xFF:      # T.81 B.1.1.2 fill byte before a marker
                pos += 1
                continue
            if marker == 0xD9:          # EOI
                break
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                pos += 2
                continue
            seg_len = struct.unpack(">H", b[pos + 2:pos + 4])[0]
            data = b[pos + 4:pos + 2 + seg_len]
            if marker == 0xDB:
                _jpeg_parse_dqt(data, qt)
            elif marker == 0xC4:
                _jpeg_parse_dht(data, huff)
            elif marker == 0xCC:
                _jpeg_parse_dac(data, dac if dac is not None else {})
            elif marker == 0xDD:
                dri = struct.unpack(">H", data[:2])[0]
            elif marker == 0xDA:
                scan_start = pos + 2 + seg_len
                if arith:
                    _jpeg_arith_prog_scan(b, scan_start, data, comps,
                                          coefs, nblk, dac or {}, dri,
                                          mcux, mcuy)
                else:
                    _jpeg_prog_scan(b, scan_start, data, comps, coefs,
                                    nblk, huff, dri, mcux, mcuy)
                # entropy data holds no bare markers (0xFF is stuffed /
                # RSTn): the next segment starts at the first other marker.
                # T.81 B.1.1.2 allows any number of 0xFF fill bytes before
                # a marker id — skip runs of 0xFF so we stop on the LAST
                # one (the marker's own prefix), not a bare fill byte
                p = scan_start
                while p + 1 < len(b):
                    if b[p] == 0xFF:
                        nxt = b[p + 1]
                        if nxt == 0xFF:      # fill byte — keep scanning
                            p += 1
                            continue
                        if nxt != 0x00 and not 0xD0 <= nxt <= 0xD7:
                            break
                    p += 1
                pos = p
                continue
            pos += 2 + seg_len
    except (struct.error, IndexError, KeyError, ValueError):
        return None

    # reconstruct: dequant (tables are zigzag-ordered, matching the
    # accumulated coefficients), de-zigzag, blockwise IDCT, assemble planes
    T = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    planes = []
    for ci, c in enumerate(comps):
        q = qt.get(c["tq"])
        if q is None:
            return None
        bv, bh = coefs[ci].shape[:2]
        deq = coefs[ci].astype(np.float64) * q[None, None, :]
        nat = np.zeros_like(deq)
        nat[:, :, zz] = deq
        nat = nat.reshape(bv, bh, 8, 8)
        px = (T.T @ nat @ T) + 128.0
        planes.append(px.transpose(0, 2, 1, 3).reshape(bv * 8, bh * 8))
    return _jpeg_color(w, h, comps, hmax, vmax, planes)


def _jpeg_prog_scan(b, pos, hdr, comps, coefs, nblk, huff, dri, mcux, mcuy):
    """Decode ONE progressive scan (T.81 annex G.2) into the accumulated
    per-component zigzag coefficient grids.

    DC scans (Ss=0) may be interleaved (MCU order) or single-component;
    AC scans (Ss>0) are always single-component block raster over the
    component's own (non-MCU-padded) block grid. First passes (Ah=0)
    decode magnitudes shifted left by Al; refinement passes (Ah=Al+1)
    add one bit plane — DC via a single appended bit, AC via the
    correction-bit algorithm of G.1.2.3 with EOB-run bookkeeping."""
    ns = hdr[0]
    scomp = []
    for ci in range(ns):
        cid, tt = hdr[1 + 2 * ci:3 + 2 * ci]
        matches = [i for i, c in enumerate(comps) if c["id"] == cid]
        if not matches:   # corrupted SOS: unknown component id — a bare
            raise ValueError("SOS references unknown component")
        scomp.append((matches[0], tt >> 4, tt & 0x0F))
    ss, se, ahal = hdr[1 + 2 * ns], hdr[2 + 2 * ns], hdr[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if se > 63 or ss > se:
        raise ValueError("bad spectral selection")
    getbits, dec, restart = _jpeg_bitreader(b, pos)
    extend = _jpeg_extend

    if ss == 0:
        # ---- DC scan ----
        pred = [0] * len(comps)
        unit = 0

        def dc_block(idx, dc_lut, by, bx):
            blk = coefs[idx][by, bx]
            if ah == 0:
                s = dec(dc_lut)
                pred[idx] += extend(getbits(s), s)
                blk[0] = pred[idx] << al
            elif getbits(1):
                blk[0] |= 1 << al

        if ns > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and unit and unit % dri == 0:
                        restart()
                        pred = [0] * len(comps)
                    unit += 1
                    for idx, td, _ta in scomp:
                        c = comps[idx]
                        dc_lut = huff[(0, td)] if ah == 0 else None
                        for by_ in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_block(idx, dc_lut,
                                         my * c["v"] + by_, mx * c["h"] + bx)
        else:
            idx, td, _ta = scomp[0]
            dc_lut = huff[(0, td)] if ah == 0 else None
            rows, cols = nblk[idx]
            for by in range(rows):
                for bx in range(cols):
                    if dri and unit and unit % dri == 0:
                        restart()
                        pred = [0] * len(comps)
                    unit += 1
                    dc_block(idx, dc_lut, by, bx)
        return

    # ---- AC scan: always one component ----
    if ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    idx, _td, ta = scomp[0]
    ac_lut = huff[(1, ta)]
    rows, cols = nblk[idx]
    eobrun = 0
    p1, m1 = 1 << al, -(1 << al)
    unit = 0
    for by in range(rows):
        for bx in range(cols):
            if dri and unit and unit % dri == 0:
                restart()
                eobrun = 0
            unit += 1
            blk = coefs[idx][by, bx]
            if ah == 0:
                # first pass for this bit range
                if eobrun:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    rs = dec(ac_lut)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += getbits(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError("AC overflow")
                    blk[k] = extend(getbits(s), s) << al
                    k += 1
                continue
            # refinement pass (G.1.2.3): newly-significant coefficients are
            # ±1 at this bit plane; every nonzero-history coefficient passed
            # over contributes one correction bit
            k = ss
            if eobrun == 0:
                while k <= se:
                    rs = dec(ac_lut)
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                eobrun += getbits(r)
                            break
                        val = 0     # ZRL: skip 16 zero-history coefficients
                    elif s == 1:
                        val = p1 if getbits(1) else m1
                    else:
                        raise ValueError("bad refinement magnitude")
                    while k <= se:
                        if blk[k] != 0:
                            if getbits(1) and (blk[k] & p1) == 0:
                                blk[k] += p1 if blk[k] > 0 else m1
                        else:
                            if r == 0:
                                break
                            r -= 1
                        k += 1
                    if val and k <= se:
                        blk[k] = val
                    k += 1
            if eobrun > 0:
                while k <= se:
                    if blk[k] != 0 and getbits(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] > 0 else m1
                    k += 1
                eobrun -= 1


# --------------------------------------------------------------------------
# JPEG ARITHMETIC entropy coding (SOF9 sequential / SOF10 progressive) —
# T.81 Annex D (QM-coder) + Annex F (DCT statistical models), pure Python.
# The Qe probability-estimation state machine below is T.81 Table D.3
# (spec data, 113 adaptive states; index 113 is the fixed ~0.5 state used
# for non-adaptive decisions such as AC signs). The table was transcribed
# from the published spec and byte-verified against the system
# libjpeg-turbo's copy at build time.

_JPEG_ARITAB = (  # (Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS)
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0), (0x415E, 103, 99, 0),
    (0x5627, 105, 106, 1), (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0), (0x5A10, 110, 111, 1),
    (0x5522, 112, 109, 0), (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)


class _ArithDecoder:
    """QM arithmetic DECODER (T.81 D.2): registers C/A, bit counter ct,
    BYTEIN with 0xFF00 unstuffing and marker stall (markers are legal
    terminators of arithmetic entropy data — once one is seen, zero bytes
    are stuffed forever and the marker position is remembered so the scan
    loop can resume the segment walk there). State bytes pack the Table
    D.3 index in bits 0-6 and the current MPS sense in bit 7, so a whole
    statistics area is one mutable bytearray."""

    __slots__ = ("b", "p", "c", "a", "ct", "marker", "mpos")

    def __init__(self, b, pos):
        self.b = b
        self.reinit(pos)

    def reinit(self, pos):
        self.p = pos
        self.c = 0
        self.a = 0
        self.ct = -16      # pull two initial bytes on the first decision
        self.marker = 0
        self.mpos = -1

    def _byte(self):
        if self.marker:
            return 0
        b, p = self.b, self.p
        if p >= len(b):
            self.marker = 0xD9
            return 0
        d = b[p]
        p += 1
        if d == 0xFF:
            ff_at = p - 1
            while p < len(b) and b[p] == 0xFF:   # fill bytes (B.1.1.2)
                p += 1
            if p >= len(b):
                self.marker, self.mpos = 0xD9, ff_at
                return 0
            if b[p] == 0x00:                     # stuffed zero: data 0xFF
                self.p = p + 1
                return 0xFF
            self.marker, self.mpos = b[p], p - 1
            return 0
        self.p = p
        return d

    def decode(self, st, i):
        """One binary decision against state byte st[i] (D.2.4/D.2.5)."""
        a, c, ct = self.a, self.c, self.ct
        while a < 0x8000:
            ct -= 1
            if ct < 0:
                c = (c << 8) | self._byte()
                ct += 8
                if ct < 0:
                    ct += 1
                    if ct == 0:
                        a = 0x8000   # two init bytes in: A=0x10000 below
            a <<= 1
        sv = st[i]
        qe, nl, nm, sw = _JPEG_ARITAB[sv & 0x7F]
        mps = sv >> 7
        a -= qe
        temp = a << ct
        if c >= temp:
            c -= temp
            # landed in the Qe-sized subinterval
            if a < qe:   # conditional exchange: larger interval is MPS
                sym = mps
                st[i] = (sv & 0x80) | nm
            else:
                sym = mps ^ 1
                st[i] = ((mps ^ sw) << 7) | nl
            a = qe
        elif a < 0x8000:
            # MPS subinterval with renormalization pending
            if a < qe:   # conditional exchange: smaller interval is LPS
                sym = mps ^ 1
                st[i] = ((mps ^ sw) << 7) | nl
            else:
                sym = mps
                st[i] = (sv & 0x80) | nm
        else:
            sym = mps    # no renorm, no estimation update
        self.a, self.c, self.ct = a, c, ct
        return sym

    def restart(self):
        """Byte-align past the next RSTn and reinitialize the registers
        (statistics are the caller's to reset)."""
        b = self.b
        p = self.mpos if self.mpos >= 0 else self.p
        while p + 1 < len(b) and not (
                b[p] == 0xFF and 0xD0 <= b[p + 1] <= 0xD7):
            p += 1
        self.reinit(p + 2)


def _arith_dc_diff(dec, dst, dc_ctx, ci, L, U):
    """Decode one DC difference (T.81 F.2.4.1, Figures F.19-F.24) and
    update the component's conditioning context."""
    base = dc_ctx[ci]
    if dec.decode(dst, base) == 0:
        dc_ctx[ci] = 0
        return 0
    sign = dec.decode(dst, base + 1)
    i = base + 2 + sign
    m = dec.decode(dst, i)
    if m:
        i = 20                     # Table F.4: X1
        while dec.decode(dst, i):
            m <<= 1
            if m >= 0x8000:
                raise ValueError("arith DC magnitude overflow")
            i += 1
    if m < (1 << L) >> 1:
        dc_ctx[ci] = 0
    elif m > (1 << U) >> 1:
        dc_ctx[ci] = 12 + 4 * sign
    else:
        dc_ctx[ci] = 4 + 4 * sign
    v = m
    if m:
        i += 14                    # magnitude bits share one bin at X+14
        mm = m >> 1
        while mm:
            if dec.decode(dst, i):
                v |= mm
            mm >>= 1
    v += 1
    return -v if sign else v


def _arith_ac_value(dec, ast, fixed, base, k, kx):
    """Decode one nonzero AC value at zigzag index k (F.2.4.2); the
    caller has already consumed the EOB and zero-run decisions down to
    ``base`` = 3*(k-1)."""
    sign = dec.decode(fixed, 0)
    i = base + 2
    m = dec.decode(ast, i)
    if m:
        if dec.decode(ast, i):
            m = 2
            i = 189 if k <= kx else 217   # Table F.5: X2 low/high bands
            while dec.decode(ast, i):
                m <<= 1
                if m >= 0x8000:
                    raise ValueError("arith AC magnitude overflow")
                i += 1
    v = m
    if m:
        i += 14
        mm = m >> 1
        while mm:
            if dec.decode(ast, i):
                v |= mm
            mm >>= 1
    v += 1
    return -v if sign else v


def _jpeg_arith_scan(b, pos, w, h, comps, sos, qt, dri, dac):
    """SEQUENTIAL DCT scan with arithmetic entropy coding (SOF9): the
    same MCU walk / dequant / IDCT / color tail as the Huffman path, with
    the QM-coder statistical models of T.81 Annex F in place of Huffman
    tables. ``dac`` holds DAC-marker conditioning: (0,Td)→(L,U) bounds
    for the DC context, (1,Ta)→Kx for the AC band split (defaults 0,1,5
    per F.1.4.4.1.2/F.1.4.4.2)."""
    import numpy as np

    if not comps or w == 0 or h == 0:
        return None
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2) or vmax not in (1, 2):
        return None
    if w * h > (1 << 26):
        return None
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    T = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    planes = [np.zeros((mcuy * c["v"] * 8, mcux * c["h"] * 8),
                       dtype=np.float64) for c in comps]

    dec = _ArithDecoder(b, pos)
    dc_stats: dict = {}
    ac_stats: dict = {}
    for c in comps:
        td, ta = sos[c["id"]]
        dc_stats.setdefault(td, bytearray(64))
        ac_stats.setdefault(ta, bytearray(256))
    fixed = bytearray([113])
    last_dc = [0] * len(comps)
    dc_ctx = [0] * len(comps)
    mcu_count = 0
    try:
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and mcu_count and mcu_count % dri == 0:
                    dec.restart()
                    for st in dc_stats.values():
                        st[:] = bytes(len(st))
                    for st in ac_stats.values():
                        st[:] = bytes(len(st))
                    fixed[0] = 113
                    last_dc = [0] * len(comps)
                    dc_ctx = [0] * len(comps)
                mcu_count += 1
                for ci, c in enumerate(comps):
                    td, ta = sos[c["id"]]
                    dst, ast = dc_stats[td], ac_stats[ta]
                    L, U = dac.get((0, td), (0, 1))
                    kx = dac.get((1, ta), 5)
                    q = qt[c["tq"]]
                    for by_ in range(c["v"]):
                        for bx in range(c["h"]):
                            last_dc[ci] += _arith_dc_diff(
                                dec, dst, dc_ctx, ci, L, U)
                            coef = np.zeros(64, dtype=np.int64)
                            coef[0] = last_dc[ci]
                            k = 1
                            while k <= 63:
                                base = 3 * (k - 1)
                                if dec.decode(ast, base):
                                    break          # EOB
                                while dec.decode(ast, base + 1) == 0:
                                    base += 3
                                    k += 1
                                    if k > 63:
                                        raise ValueError("arith AC overflow")
                                coef[k] = _arith_ac_value(
                                    dec, ast, fixed, base, k, kx)
                                k += 1
                            blk = np.zeros(64, dtype=np.float64)
                            blk[zz] = coef * q
                            px = T.T @ blk.reshape(8, 8) @ T + 128.0
                            y0 = (my * c["v"] + by_) * 8
                            x0 = (mx * c["h"] + bx) * 8
                            planes[ci][y0:y0 + 8, x0:x0 + 8] = px
    except (ValueError, KeyError, IndexError):
        return None
    return _jpeg_color(w, h, comps, hmax, vmax, planes)


def _jpeg_arith_prog_scan(b, pos, hdr, comps, coefs, nblk, dac, dri,
                          mcux, mcuy):
    """Decode ONE progressive scan with ARITHMETIC coding (SOF10, T.81
    G.1.3) into the accumulated zigzag coefficient grids. Unlike the
    Huffman path there are no EOB runs — every block carries its own
    context-coded EOB decision; refinement correction bits ride the
    per-index SC bin (3k+2) and newly-significant signs the fixed bin."""
    ns = hdr[0]
    scomp = []
    for ci in range(ns):
        cid, tt = hdr[1 + 2 * ci:3 + 2 * ci]
        matches = [i for i, c in enumerate(comps) if c["id"] == cid]
        if not matches:
            raise ValueError("SOS references unknown component")
        scomp.append((matches[0], tt >> 4, tt & 0x0F))
    ss, se, ahal = hdr[1 + 2 * ns], hdr[2 + 2 * ns], hdr[3 + 2 * ns]
    ah, al = ahal >> 4, ahal & 0x0F
    if se > 63 or ss > se:
        raise ValueError("bad spectral selection")
    dec = _ArithDecoder(b, pos)
    fixed = bytearray([113])

    if ss == 0:
        # ---- DC scan ----
        dc_stats = {}
        for _idx, td, _ta in scomp:
            dc_stats.setdefault(td, bytearray(64))
        last_dc = [0] * len(comps)
        dc_ctx = [0] * len(comps)
        unit = 0

        def reset():
            for st in dc_stats.values():
                st[:] = bytes(len(st))
            fixed[0] = 113

        def dc_block(idx, td, by, bx):
            blk = coefs[idx][by, bx]
            if ah == 0:
                L, U = dac.get((0, td), (0, 1))
                last_dc[idx] += _arith_dc_diff(
                    dec, dc_stats[td], dc_ctx, idx, L, U)
                blk[0] = last_dc[idx] << al
            elif dec.decode(fixed, 0):
                blk[0] |= 1 << al

        if ns > 1:
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and unit and unit % dri == 0:
                        dec.restart()
                        reset()
                        last_dc = [0] * len(comps)
                        dc_ctx = [0] * len(comps)
                    unit += 1
                    for idx, td, _ta in scomp:
                        c = comps[idx]
                        for by_ in range(c["v"]):
                            for bx in range(c["h"]):
                                dc_block(idx, td,
                                         my * c["v"] + by_, mx * c["h"] + bx)
        else:
            idx, td, _ta = scomp[0]
            rows, cols = nblk[idx]
            for by in range(rows):
                for bx in range(cols):
                    if dri and unit and unit % dri == 0:
                        dec.restart()
                        reset()
                        last_dc = [0] * len(comps)
                        dc_ctx = [0] * len(comps)
                    unit += 1
                    dc_block(idx, td, by, bx)
        return

    # ---- AC scan: always one component ----
    if ns != 1:
        raise ValueError("progressive AC scan must be single-component")
    idx, _td, ta = scomp[0]
    ast = bytearray(256)
    kx = dac.get((1, ta), 5)
    rows, cols = nblk[idx]
    p1, m1 = 1 << al, -1 << al
    unit = 0
    for by in range(rows):
        for bx in range(cols):
            if dri and unit and unit % dri == 0:
                dec.restart()
                ast[:] = bytes(256)
                fixed[0] = 113
            unit += 1
            blk = coefs[idx][by, bx]
            if ah == 0:
                k = ss
                while k <= se:
                    base = 3 * (k - 1)
                    if dec.decode(ast, base):
                        break      # EOB
                    while dec.decode(ast, base + 1) == 0:
                        base += 3
                        k += 1
                        if k > se:
                            raise ValueError("arith AC overflow")
                    blk[k] = _arith_ac_value(
                        dec, ast, fixed, base, k, kx) << al
                    k += 1
                continue
            # refinement (G.1.3.3): EOBx = previous-stage end of block
            kex = se
            while kex > 0 and blk[kex] == 0:
                kex -= 1
            k = ss
            while k <= se:
                base = 3 * (k - 1)
                if k > kex and dec.decode(ast, base):
                    break          # EOB
                while True:
                    if blk[k]:
                        if dec.decode(ast, base + 2):
                            blk[k] += m1 if blk[k] < 0 else p1
                        break
                    if dec.decode(ast, base + 1):
                        blk[k] = m1 if dec.decode(fixed, 0) else p1
                        break
                    base += 3
                    k += 1
                    if k > se:
                        raise ValueError("arith AC refine overflow")
                k += 1


class _ArithEncoder:
    """QM arithmetic ENCODER (T.81 D.1) — the fixture/oracle side of
    _ArithDecoder, with the byte-stuffing / carry-stacking output rules
    of D.1.6-D.1.8 (pending-0xFF stacking, carry resolution, trailing
    zero suppression, 0x00 stuffing after emitted 0xFF data bytes)."""

    def __init__(self):
        self.out = bytearray()
        self.c = 0
        self.a = 0x10000
        self.ct = 11              # 3 spacer bits below the first byte out
        self.buffer = -1          # last byte awaiting possible carry
        self.sc = 0               # stacked 0xFF bytes awaiting carry
        self.zc = 0               # pending 0x00 bytes (dropped if trailing)

    def _zeros(self):
        if self.zc:
            self.out += b"\x00" * self.zc
            self.zc = 0

    def _carry(self):
        if self.buffer >= 0:
            self._zeros()
            v = self.buffer + 1
            self.out.append(v)
            if v == 0xFF:
                self.out.append(0)
        self.zc += self.sc        # carried-over 0xFFs become 0x00s
        self.sc = 0

    def _plain(self):
        if self.buffer == 0:
            self.zc += 1
        elif self.buffer >= 0:
            self._zeros()
            self.out.append(self.buffer)
        if self.sc:
            self._zeros()
            self.out += b"\xff\x00" * self.sc
            self.sc = 0

    def encode(self, st, i, bit):
        sv = st[i]
        qe, nl, nm, sw = _JPEG_ARITAB[sv & 0x7F]
        mps = sv >> 7
        a = self.a - qe
        if bit != mps:
            if a >= qe:           # no exchange: LPS takes the upper Qe
                self.c += a
                a = qe
            st[i] = ((mps ^ sw) << 7) | nl
        else:
            if a >= 0x8000:
                self.a = a
                return
            if a < qe:            # exchange: MPS takes the upper Qe
                self.c += a
                a = qe
            st[i] = (sv & 0x80) | nm
        c, ct = self.c, self.ct
        while True:               # renormalize & emit (D.1.6)
            a <<= 1
            c <<= 1
            ct -= 1
            if ct == 0:
                temp = c >> 19
                if temp > 0xFF:
                    self._carry()
                    self.buffer = temp & 0xFF
                elif temp == 0xFF:
                    self.sc += 1
                else:
                    self._plain()
                    self.buffer = temp
                c &= 0x7FFFF
                ct = 8
            if a >= 0x8000:
                break
        self.a, self.c, self.ct = a, c, ct

    def flush(self):
        """D.1.8 termination: pick the in-interval code point with the
        most trailing zeros, emit the remaining significant bytes."""
        temp = (self.a - 1 + self.c) & 0xFFFF0000
        self.c = temp + 0x8000 if temp < self.c else temp
        self.c <<= self.ct
        if self.c & 0xF8000000:
            self._carry()
        else:
            self._plain()
        self.buffer = -1
        if self.c & 0x7FFF800:
            self._zeros()
            b1 = (self.c >> 19) & 0xFF
            self.out.append(b1)
            if b1 == 0xFF:
                self.out.append(0)
            if self.c & 0x7F800:
                b2 = (self.c >> 11) & 0xFF
                self.out.append(b2)
                if b2 == 0xFF:
                    self.out.append(0)
        data = bytes(self.out)
        self.out = bytearray()
        return data


def _arith_encode_dc(enc, dst, dc_ctx, ci, diff, L, U):
    """Encode one DC difference (F.1.4.1/F.1.4.4.1) — _arith_dc_diff's
    mirror."""
    base = dc_ctx[ci]
    if diff == 0:
        enc.encode(dst, base, 0)
        dc_ctx[ci] = 0
        return
    enc.encode(dst, base, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(dst, base + 1, sign)
    v = (-diff if sign else diff) - 1
    i = base + 2 + sign
    m = 0
    if v:
        enc.encode(dst, i, 1)
        m = 1
        i = 20
        v2 = v >> 1
        while v2:
            enc.encode(dst, i, 1)
            m <<= 1
            i += 1
            v2 >>= 1
    enc.encode(dst, i, 0)
    if m < (1 << L) >> 1:
        dc_ctx[ci] = 0
    elif m > (1 << U) >> 1:
        dc_ctx[ci] = 12 + 4 * sign
    else:
        dc_ctx[ci] = 4 + 4 * sign
    i += 14
    mm = m >> 1
    while mm:
        enc.encode(dst, i, 1 if v & mm else 0)
        mm >>= 1


def _arith_encode_ac(enc, ast, fixed, base, k, kx, val):
    """Encode one nonzero AC value (F.1.4.2) — _arith_ac_value's mirror;
    the caller has emitted the EOB/zero-run decisions down to ``base``."""
    sign = 1 if val < 0 else 0
    enc.encode(fixed, 0, sign)
    v = (-val if sign else val) - 1
    i = base + 2
    m = 0
    if v:
        enc.encode(ast, i, 1)
        m = 1
        v2 = v >> 1
        if v2:
            enc.encode(ast, i, 1)
            m = 2
            i = 189 if k <= kx else 217
            v2 >>= 1
            while v2:
                enc.encode(ast, i, 1)
                m <<= 1
                i += 1
                v2 >>= 1
    enc.encode(ast, i, 0)
    i += 14
    mm = m >> 1
    while mm:
        enc.encode(ast, i, 1 if v & mm else 0)
        mm >>= 1


def _jpeg_arith_encode(arr, subsample=False, q=8, dri=0):
    """Fixture/oracle-side SEQUENTIAL ARITHMETIC JPEG encoder (SOF9) —
    the same forward-DCT/quant fabric as _jpeg_encode with the QM-coder
    entropy core in place of Huffman tables (no DHT segments; default
    conditioning L=0, U=1, Kx=5, so no DAC segment either). Interop
    verified both ways against libjpeg-turbo at build time; the in-repo
    guarantee is the round trip through _jpeg_decode."""
    import struct

    import numpy as np

    T = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
        factors = [(1, 1)]
    else:
        r, g, b = (arr[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def half(p):
                ph = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                            mode="edge")
                return (ph[0::2, 0::2] + ph[1::2, 0::2]
                        + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0
            planes = [y, half(cb), half(cr)]
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            factors = [(1, 1), (1, 1), (1, 1)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    padded = []
    for p, (fh, fv) in zip(planes, factors):
        th, tw = mcuy * fv * 8, mcux * fh * 8
        padded.append(np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                             mode="edge"))

    out = bytearray(b"\xff\xd8")
    qtab = np.full(64, q, dtype=np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab.tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + qtab.tobytes()
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        fh, fv = factors[ci]
        sof += bytes([ci + 1, (fh << 4) | fv, 0 if ci == 0 else 1])
    out += b"\xff\xc9" + struct.pack(">H", len(sof) + 2) + sof
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytes([nc])
    for ci in range(nc):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    enc = _ArithEncoder()
    dc_stats = {t: bytearray(64) for t in ({0} if nc == 1 else {0, 1})}
    ac_stats = {t: bytearray(256) for t in ({0} if nc == 1 else {0, 1})}
    fixed = bytearray([113])
    pred = [0] * nc
    dc_ctx = [0] * nc
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                out += enc.flush()
                out += bytes([0xFF, 0xD0 + ((mcu_count // dri - 1) % 8)])
                enc = _ArithEncoder()
                for st in dc_stats.values():
                    st[:] = bytes(len(st))
                for st in ac_stats.values():
                    st[:] = bytes(len(st))
                fixed[0] = 113
                pred = [0] * nc
                dc_ctx = [0] * nc
            mcu_count += 1
            for ci in range(nc):
                t = 0 if ci == 0 else 1
                dst, ast = dc_stats[t], ac_stats[t]
                fh, fv = factors[ci]
                for by_ in range(fv):
                    for bx in range(fh):
                        y0 = (my * fv + by_) * 8
                        x0 = (mx * fh + bx) * 8
                        blk = padded[ci][y0:y0 + 8, x0:x0 + 8] - 128.0
                        Fq = T @ blk @ T.T
                        seq = np.round(Fq / q).astype(np.int64).reshape(-1)[zz]
                        dc = int(seq[0])
                        _arith_encode_dc(enc, dst, dc_ctx, ci,
                                         dc - pred[ci], 0, 1)
                        pred[ci] = dc
                        ke = 63
                        while ke >= 1 and seq[ke] == 0:
                            ke -= 1
                        k = 1
                        while k <= ke:
                            base = 3 * (k - 1)
                            enc.encode(ast, base, 0)   # not EOB
                            while seq[k] == 0:
                                enc.encode(ast, base + 1, 0)
                                base += 3
                                k += 1
                            enc.encode(ast, base + 1, 1)
                            _arith_encode_ac(enc, ast, fixed, base, k, 5,
                                             int(seq[k]))
                            k += 1
                        if k <= 63:
                            enc.encode(ast, 3 * (k - 1), 1)   # EOB
    out += enc.flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_encode(arr, subsample=False, q=8, dri=0):
    """Fixture/oracle-side BASELINE JPEG encoder (4:4:4 or 4:2:0, optional
    restart markers) — forward DCT + quant + canonical-Huffman entropy
    coding with flat custom tables (12 DC symbols @ 4 bits, 162 AC
    symbols @ 8 bits). An independent inverse of the decoder's math (the
    _png_encode role): a round trip is only near-lossless if both
    directions follow the spec."""
    import struct

    import numpy as np

    T = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
        factors = [(1, 1)]
    else:
        r, g, b = (arr[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        if subsample:
            def half(p):
                ph = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                            mode="edge")
                return (ph[0::2, 0::2] + ph[1::2, 0::2]
                        + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0
            planes = [y, half(cb), half(cr)]
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            factors = [(1, 1), (1, 1), (1, 1)]
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    # pad every plane to its MCU-aligned size
    padded = []
    for p, (fh, fv) in zip(planes, factors):
        th, tw = mcuy * fv * 8, mcux * fh * 8
        padded.append(np.pad(p, ((0, th - p.shape[0]), (0, tw - p.shape[1])),
                             mode="edge"))

    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r_ << 4) | s for r_ in range(16)
                              for s in range(1, 11)]

    def dht(tc, th_, counts, syms):
        body = bytes([(tc << 4) | th_]) + bytes(counts) + bytes(syms)
        return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body

    dc_counts = [0] * 16
    dc_counts[3] = 12       # 12 codes of length 4
    ac_counts = [0] * 16
    ac_counts[7] = 162      # 162 codes of length 8

    def build_lut(counts, syms):
        lut, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                lut[syms[k]] = (ln, code)
                code += 1
                k += 1
            code <<= 1
        return lut

    dc_lut = build_lut(dc_counts, dc_syms)
    ac_lut = build_lut(ac_counts, ac_syms)

    out = bytearray(b"\xff\xd8")
    qtab = np.full(64, q, dtype=np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab.tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + qtab.tobytes()
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        fh, fv = factors[ci]
        sof += bytes([ci + 1, (fh << 4) | fv, 0 if ci == 0 else 1])
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += dht(0, 0, dc_counts, dc_syms) + dht(1, 0, ac_counts, ac_syms)
    if nc == 3:
        out += dht(0, 1, dc_counts, dc_syms) + dht(1, 1, ac_counts, ac_syms)
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytes([nc])
    for ci in range(nc):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    acc = [0, 0]  # bits, nbits

    def put(code, ln):
        acc[0] = (acc[0] << ln) | code
        acc[1] += ln
        while acc[1] >= 8:
            byte = (acc[0] >> (acc[1] - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc[1] -= 8
            acc[0] &= (1 << acc[1]) - 1

    def flush():
        if acc[1]:
            pad = 8 - acc[1]
            byte = ((acc[0] << pad) | ((1 << pad) - 1)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc[0] = acc[1] = 0

    def category(v):
        return int(abs(v)).bit_length()

    pred = [0] * nc
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and mcu_count and mcu_count % dri == 0:
                flush()
                out += bytes([0xFF, 0xD0 + ((mcu_count // dri - 1) % 8)])
                pred = [0] * nc
            mcu_count += 1
            for ci in range(nc):
                fh, fv = factors[ci]
                for by_ in range(fv):
                    for bx in range(fh):
                        y0 = (my * fv + by_) * 8
                        x0 = (mx * fh + bx) * 8
                        blk = padded[ci][y0:y0 + 8, x0:x0 + 8] - 128.0
                        F = T @ blk @ T.T
                        qc = np.round(F / q).astype(np.int64)
                        seq = qc.reshape(-1)[zz]
                        diff = int(seq[0]) - pred[ci]
                        pred[ci] = int(seq[0])
                        s = category(diff)
                        ln, code = dc_lut[s]
                        put(code, ln)
                        v = diff if diff >= 0 else diff + (1 << s) - 1
                        if s:
                            put(v, s)
                        run = 0
                        for k in range(1, 64):
                            v = int(seq[k])
                            if v == 0:
                                run += 1
                                continue
                            while run > 15:
                                ln, code = ac_lut[0xF0]
                                put(code, ln)
                                run -= 16
                            s = category(v)
                            ln, code = ac_lut[(run << 4) | s]
                            put(code, ln)
                            ev = v if v >= 0 else v + (1 << s) - 1
                            put(ev, s)
                            run = 0
                        if run:
                            ln, code = ac_lut[0x00]
                            put(code, ln)
    flush()
    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_prog_encode(arr, q=8, subsample=False, al=1,
                      bands=((1, 5), (6, 63)), dri=0):
    """Fixture/oracle-side PROGRESSIVE JPEG encoder (SOF2): interleaved
    DC-first scan at bit plane ``al``, per-component spectral-selection
    AC scans at ``al``, then (when al>0) DC/AC refinement scans down to
    bit plane 0 — successive approximation, EOB runs, ZRL-in-refinement
    and correction bits, built from the T.81 annex G encoding
    procedures; ``dri`` emits restart markers every dri MCUs/blocks in
    every scan. Encodes the SAME quantized coefficients as _jpeg_encode
    at equal q, so the two decodes must agree pixel-exactly."""
    import struct

    import numpy as np

    T = _jpeg_idct_matrix()
    zz = np.array(_JPEG_ZIGZAG)
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
        factors = [(1, 1)]
    else:
        r_, g, b_ = (arr[..., i].astype(np.float64) for i in range(3))
        y = 0.299 * r_ + 0.587 * g + 0.114 * b_
        cb = -0.168736 * r_ - 0.331264 * g + 0.5 * b_ + 128.0
        cr = 0.5 * r_ - 0.418688 * g - 0.081312 * b_ + 128.0
        if subsample:
            def half(p):
                ph = np.pad(p, ((0, p.shape[0] % 2), (0, p.shape[1] % 2)),
                            mode="edge")
                return (ph[0::2, 0::2] + ph[1::2, 0::2]
                        + ph[0::2, 1::2] + ph[1::2, 1::2]) / 4.0
            planes = [y, half(cb), half(cr)]
            factors = [(2, 2), (1, 1), (1, 1)]
        else:
            planes = [y, cb, cr]
            factors = [(1, 1), (1, 1), (1, 1)]
    nc = len(planes)
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)

    # quantized zigzag coefficient grids, MCU-padded (DC scan covers the
    # padded grid; AC scans cover only the component's own block grid)
    blocks, nblk = [], []
    for p, (fh, fv) in zip(planes, factors):
        th_, tw = mcuy * fv * 8, mcux * fh * 8
        pp = np.pad(p, ((0, th_ - p.shape[0]), (0, tw - p.shape[1])),
                    mode="edge")
        grid = np.zeros((th_ // 8, tw // 8, 64), dtype=np.int64)
        for by in range(th_ // 8):
            for bx in range(tw // 8):
                blk = pp[by * 8:by * 8 + 8, bx * 8:bx * 8 + 8] - 128.0
                Fq = np.round((T @ blk @ T.T) / q).astype(np.int64)
                grid[by, bx] = Fq.reshape(-1)[zz]
        blocks.append(grid)
        cw = -(-(w * fh) // hmax)
        chh = -(-(h * fv) // vmax)
        nblk.append((-(-chh // 8), -(-cw // 8)))

    # flat canonical Huffman tables (the _jpeg_bytes convention, plus the
    # EOBn symbols 0x10..0xE0 progressive scans need for EOB runs > 1)
    dc_syms = list(range(12))
    ac_syms = ([0x00, 0xF0] + [r_ << 4 for r_ in range(1, 15)]
               + [(r_ << 4) | s for r_ in range(16) for s in range(1, 11)])
    dc_counts = [0] * 16
    dc_counts[3] = 12
    ac_counts = [0] * 16
    ac_counts[7] = 176

    def build_lut(counts, syms):
        lut, code, k = {}, 0, 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                lut[syms[k]] = (ln, code)
                code += 1
                k += 1
            code <<= 1
        return lut

    dc_lut = build_lut(dc_counts, dc_syms)
    ac_lut = build_lut(ac_counts, ac_syms)

    def dht(tc, th2, counts, syms):
        body = bytes([(tc << 4) | th2]) + bytes(counts) + bytes(syms)
        return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    qtab = np.full(64, q, dtype=np.uint8)
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + qtab.tobytes()
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + qtab.tobytes()
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        fh, fv = factors[ci]
        sof += bytes([ci + 1, (fh << 4) | fv, 0 if ci == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof
    out += dht(0, 0, dc_counts, dc_syms) + dht(1, 0, ac_counts, ac_syms)
    if nc == 3:
        out += dht(0, 1, dc_counts, dc_syms) + dht(1, 1, ac_counts, ac_syms)

    acc = [0, 0]

    def put(code, ln):
        if ln == 0:
            return
        acc[0] = (acc[0] << ln) | (code & ((1 << ln) - 1))
        acc[1] += ln
        while acc[1] >= 8:
            byte = (acc[0] >> (acc[1] - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc[1] -= 8
            acc[0] &= (1 << acc[1]) - 1

    def flush():
        if acc[1]:
            pad = 8 - acc[1]
            byte = ((acc[0] << pad) | ((1 << pad) - 1)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc[0] = acc[1] = 0

    def sos(comp_list, ss, se, ah, al_):
        body = bytes([len(comp_list)])
        for ci, td, ta in comp_list:
            body += bytes([ci + 1, (td << 4) | ta])
        body += bytes([ss, se, (ah << 4) | al_])
        out.extend(b"\xff\xda" + struct.pack(">H", len(body) + 2) + body)

    if dri:
        out.extend(b"\xff\xdd" + struct.pack(">HH", 4, dri))

    def rst(unit):
        # byte-align and emit RSTn at the decoder's unit % dri boundaries
        flush()
        out.extend(bytes([0xFF, 0xD0 + ((unit // dri - 1) % 8)]))

    def category(v):
        return int(abs(v)).bit_length()

    # ---- scan 1: DC first, interleaved, bit plane al ----
    sos([(ci, 0 if ci == 0 else 1, 0) for ci in range(nc)], 0, 0, 0, al)
    pred = [0] * nc
    unit = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if dri and unit and unit % dri == 0:
                rst(unit)
                pred = [0] * nc
            unit += 1
            for ci in range(nc):
                fh, fv = factors[ci]
                lut = dc_lut
                for by in range(fv):
                    for bx in range(fh):
                        dc = int(blocks[ci][my * fv + by, mx * fh + bx, 0])
                        t = dc >> al      # arithmetic shift, two's complement
                        diff = t - pred[ci]
                        pred[ci] = t
                        s = category(diff)
                        ln, code = lut[s]
                        put(code, ln)
                        if s:
                            put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    flush()

    # ---- AC first scans: per component, per spectral band, bit plane al ----
    for ci in range(nc):
        lut = ac_lut
        rows, cols = nblk[ci]
        for (ss_, se_) in bands:
            sos([(ci, 0, 0 if ci == 0 else 1)], ss_, se_, 0, al)
            eobrun = [0]

            def flush_eob():
                if eobrun[0]:
                    r_ = eobrun[0].bit_length() - 1
                    ln, code = lut[r_ << 4]
                    put(code, ln)
                    if r_:
                        put(eobrun[0] - (1 << r_), r_)
                    eobrun[0] = 0

            unit = 0
            for by in range(rows):
                for bx in range(cols):
                    if dri and unit and unit % dri == 0:
                        flush_eob()
                        rst(unit)
                    unit += 1
                    seq = blocks[ci][by, bx]
                    vals = [int(np.sign(seq[k])) * (abs(int(seq[k])) >> al)
                            for k in range(ss_, se_ + 1)]
                    if not any(vals):
                        eobrun[0] += 1
                        continue
                    flush_eob()
                    run = 0
                    last_nz = max(i for i, v in enumerate(vals) if v)
                    for i, v in enumerate(vals):
                        if i > last_nz:
                            eobrun[0] += 1
                            break
                        if v == 0:
                            run += 1
                            continue
                        while run > 15:
                            ln, code = lut[0xF0]
                            put(code, ln)
                            run -= 16
                        s = category(v)
                        ln, code = lut[(run << 4) | s]
                        put(code, ln)
                        put(v if v >= 0 else v + (1 << s) - 1, s)
                        run = 0
            flush_eob()
            flush()

    # ---- refinement scans down to bit plane 0 ----
    for plane_al in range(al - 1, -1, -1):
        ah_ = plane_al + 1
        # DC refine: one raw bit per block, interleaved
        sos([(ci, 0, 0) for ci in range(nc)], 0, 0, ah_, plane_al)
        unit = 0
        for my in range(mcuy):
            for mx in range(mcux):
                if dri and unit and unit % dri == 0:
                    rst(unit)
                unit += 1
                for ci in range(nc):
                    fh, fv = factors[ci]
                    for by in range(fv):
                        for bx in range(fh):
                            dc = int(blocks[ci][my * fv + by, mx * fh + bx, 0])
                            put((dc >> plane_al) & 1, 1)
        flush()
        # AC refine per component per band (T.81 G.1.2.3 encoding)
        for ci in range(nc):
            lut = ac_lut
            rows, cols = nblk[ci]
            for (ss_, se_) in bands:
                sos([(ci, 0, 0 if ci == 0 else 1)], ss_, se_, ah_, plane_al)
                eobrun = [0]
                corr = []      # correction bits buffered across EOB blocks

                def flush_eob_r():
                    if eobrun[0]:
                        r_ = eobrun[0].bit_length() - 1
                        ln, code = lut[r_ << 4]
                        put(code, ln)
                        if r_:
                            put(eobrun[0] - (1 << r_), r_)
                        eobrun[0] = 0
                    while corr:
                        put(corr.pop(0), 1)

                unit = 0
                for by in range(rows):
                    for bx in range(cols):
                        if dri and unit and unit % dri == 0:
                            flush_eob_r()
                            rst(unit)
                        unit += 1
                        seq = blocks[ci][by, bx]
                        absv = [abs(int(seq[k])) >> plane_al
                                for k in range(ss_, se_ + 1)]
                        eobpos = -1
                        for i, t in enumerate(absv):
                            if t == 1:
                                eobpos = i
                        r_ = 0
                        br = []
                        for i, t in enumerate(absv):
                            if t == 0:
                                r_ += 1
                                continue
                            while r_ > 15 and i <= eobpos:
                                flush_eob_r()
                                ln, code = lut[0xF0]
                                put(code, ln)
                                r_ -= 16
                                while br:
                                    put(br.pop(0), 1)
                            if t > 1:
                                br.append(t & 1)
                                continue
                            flush_eob_r()
                            ln, code = lut[(r_ << 4) | 1]
                            put(code, ln)
                            put(1 if int(seq[ss_ + i]) >= 0 else 0, 1)
                            while br:
                                put(br.pop(0), 1)
                            r_ = 0
                        if r_ > 0 or br:
                            eobrun[0] += 1
                            corr.extend(br)
                flush_eob_r()
                flush()

    out += b"\xff\xd9"
    return bytes(out)


def _jpeg_lossless_encode(arr, predictor=1, pt=0, dri=0, prec=8):
    """LOSSLESS (SOF3) encoder — the fixture/oracle side of the annex-H
    decoder: decode(encode(a)) must reproduce a exactly for Pt=0, and
    (a >> Pt) << Pt for a nonzero point transform (high byte out for
    prec > 8, the PNG-16 contract). ``arr`` is (h, w) or (h, w, nc≤4)
    holding prec-bit samples; nc > 1 emits an interleaved multi-component
    scan with 1x1 sampling factors. Emits a fixed 17-category DC-style
    Huffman table (SSSS 0-16 — 16-bit diffs reduce mod 2**16 into
    [-32768, 32767] with the SSSS=16 escape for -32768), the scan-header
    predictor in Ss and Pt in Al, restart markers every `dri` MCUs, and
    0xFF-stuffed entropy data; mirrors the boundary/restart prediction
    rules of _jpeg_lossless_scan."""
    import struct

    import numpy as np

    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, nc = arr.shape
    s = (arr.astype(np.int32) >> pt)
    out = bytearray(b"\xff\xd8")
    sof = struct.pack(">BHHB", prec, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0])
    out += b"\xff\xc3" + struct.pack(">H", len(sof) + 2) + sof
    dc_counts = [0] * 16
    dc_counts[4] = 17               # 17 codes of length 5, symbols 0-16
    dc_syms = list(range(17))
    body = bytes([0x00]) + bytes(dc_counts) + bytes(dc_syms)
    out += b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body
    if dri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00])
    sos += bytes([predictor, 0, pt & 0x0F])
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    lut = {}
    code = 0
    for k in range(17):             # all codes are length 5 here
        lut[k] = (5, code)
        code += 1

    acc = [0, 0]

    def put(c, ln):
        acc[0] = (acc[0] << ln) | c
        acc[1] += ln
        while acc[1] >= 8:
            byte = (acc[0] >> (acc[1] - 8)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc[1] -= 8
            acc[0] &= (1 << acc[1]) - 1

    def flush():
        if acc[1]:
            pad = 8 - acc[1]
            byte = ((acc[0] << pad) | ((1 << pad) - 1)) & 0xFF
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)
            acc[0] = acc[1] = 0

    default = 1 << (prec - 1 - pt)
    count = 0
    reset = [True] * nc
    for y in range(h):
        for x in range(w):
            if dri and count and count % dri == 0:
                flush()
                out += bytes([0xFF, 0xD0 + ((count // dri - 1) % 8)])
                reset = [True] * nc
            count += 1
            for ci in range(nc):
                if reset[ci]:
                    px = default
                    reset[ci] = False
                elif y == 0:
                    px = int(s[y, x - 1, ci])
                elif x == 0:
                    px = int(s[y - 1, x, ci])
                else:
                    ra, rb, rc = (int(s[y, x - 1, ci]), int(s[y - 1, x, ci]),
                                  int(s[y - 1, x - 1, ci]))
                    px = (ra, rb, rc, ra + rb - rc, ra + ((rb - rc) >> 1),
                          rb + ((ra - rc) >> 1), (ra + rb) >> 1)[predictor - 1]
                # modulo-2**16 reduction into [-32768, 32767] (H.1.2.2)
                diff = (int(s[y, x, ci]) - px + 0x8000) % 0x10000 - 0x8000
                if diff == -0x8000:
                    ln, c = lut[16]             # SSSS=16: no extra bits
                    put(c, ln)
                    continue
                cat = abs(diff).bit_length()
                ln, c = lut[cat]
                put(c, ln)
                if cat:
                    put(diff if diff >= 0 else diff + (1 << cat) - 1, cat)
    flush()
    out += b"\xff\xd9"
    return bytes(out)


def _png_encode(arr, filter_mode: str = "mixed") -> bytes:
    """REAL pure-Python PNG encoder (8-bit, non-interlaced) for fixtures and
    the synthetic round-trip oracle: arr is uint8 (h, w) or (h, w, ch),
    ch ∈ {1,2,3,4}. filter_mode 'mixed' cycles scanline filters 0..4 by row
    so a decode exercises every unfilter path; 'none' emits filter 0 only."""
    import struct
    import zlib

    import numpy as np

    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    h, w, ch = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    bpp = ch
    lines = []
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        cur = a[y].reshape(-1).astype(np.int32)
        f = (y % 5) if filter_mode == "mixed" else 0
        left = np.concatenate([np.zeros(bpp, dtype=np.int32), cur[:-bpp]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = cur - left
        elif f == 2:
            enc = cur - prev
        elif f == 3:
            enc = cur - ((left + prev) >> 1)
        else:  # Paeth
            upleft = np.concatenate([np.zeros(bpp, dtype=np.int32), prev[:-bpp]])
            pa = np.abs(prev - upleft)
            pb = np.abs(left - upleft)
            pc = np.abs(left + prev - 2 * upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = cur - pred
        lines.append(bytes([f]) + (enc & 0xFF).astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype_b: bytes, data: bytes) -> bytes:
        body = ctype_b + data
        return struct.pack(">I", len(data)) + body + struct.pack(
            ">I", zlib.crc32(body) & 0xFFFFFFFF)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + chunk(b"IEND", b""))


def decode_image(df: DataFrame, fake: bool = False,
                 with_pixels: bool = False) -> DataFrame:
    """Decode image binaries → (media_id, width, height, channels, n_bytes),
    n_bytes = size of the decoded interleaved pixel buffer. With
    ``with_pixels=True`` the output additionally carries ``content`` (the
    decoded 8-bit interleaved pixel buffer, feeding resize_image_raw) and
    ``pixel_sum`` (sum of all pixel values — the checksum the round-trip
    oracle validates).

    REAL decode, pure numpy/stdlib, for: PPM (P6), PGM (P5), uncompressed
    8/24/32-bit BMP (BI_RGB, incl. bottom-up row order + 4-byte row
    padding), PNG (full zlib inflate + unfilter via _png_decode — all five
    scanline filters, bit depths 1-16, color types 0/2/3/4/6, Adam7), GIF
    (_gif_decode — LZW), and JPEG: baseline SOF0/1, progressive SOF2, and
    ARITHMETIC-coded SOF9/SOF10 (_jpeg_decode — Huffman + QM-coder entropy,
    multi-scan spectral selection / successive approximation + IDCT), plus
    lossless SOF3 at 2-16 bit precision (>8-bit emits the PNG-16 high-byte
    contract) including interleaved multi-component scans with uniform 1x1
    sampling factors. Hierarchical, arithmetic-lossless, and
    non-uniform-sampling-factor lossless
    JPEG payloads raise NotImplementedError unless ``fake=True``, which
    substitutes a deterministic stub decode so the full mapInPandas
    pipeline can still be exercised. Unrecognized payloads yield null dims.
    """

    def decode_one(b: bytes):
        """(width, height, channels, decoded_bytes) | None | 'compressed'"""
        import re
        import struct

        import numpy as np

        if len(b) >= 2 and b[:2] in (b"P6", b"P5"):
            # PNM header: magic, then 3 ASCII ints (w h maxval) separated by
            # whitespace/comments, then a single whitespace before pixels
            m = re.match(
                rb"P[56]\s+(?:#[^\n]*\n\s*)*(\d+)\s+(?:#[^\n]*\n\s*)*(\d+)"
                rb"\s+(?:#[^\n]*\n\s*)*(\d+)\s", b)
            if not m:
                return None
            w, h, maxval = (int(m.group(i)) for i in (1, 2, 3))
            ch = 3 if b[:2] == b"P6" else 1
            bpp = 2 if maxval > 255 else 1
            px = b[m.end():m.end() + w * h * ch * bpp]
            if len(px) < w * h * ch * bpp:
                return None
            arr = np.frombuffer(px, dtype=np.uint16 if bpp == 2 else np.uint8)
            return w, h, ch, arr.astype(np.uint8, copy=False).tobytes()
        if len(b) >= 54 and b[:2] == b"BM":
            off, = struct.unpack("<I", b[10:14])
            w, h = struct.unpack("<ii", b[18:26])
            bpp, comp = struct.unpack("<HI", b[28:34])
            if comp != 0 or bpp not in (8, 24, 32):
                return "compressed"
            ch = bpp // 8
            bottom_up, h = h > 0, abs(h)
            row = ((bpp * w + 31) // 32) * 4
            if len(b) < off + row * h:
                return None
            raw = np.frombuffer(b[off:off + row * h], dtype=np.uint8)
            px = raw.reshape(h, row)[:, : w * ch]
            if bottom_up:
                px = px[::-1]
            return w, h, ch, px.tobytes()
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            return _png_decode(b)
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return _gif_decode(b)
        if b[:2] == b"\xff\xd8":
            return _jpeg_decode(b)  # baseline+progressive real
        return None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, ws, hs, chs, nbs = [], [], [], [], []
            pxs, sums = [], []
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                got = decode_one(bytes(c)) if c is not None else None
                if got == "compressed" and not fake:
                    raise NotImplementedError(
                        "hierarchical / arithmetic-lossless JPEG (and "
                        "non-uniform-sampling-factor lossless) decode "
                        "needs an external codec (Huffman baseline, "
                        "progressive, arithmetic SOF9/SOF10, and 2-16-bit "
                        "lossless incl. 1x1 multi-component decode "
                        "natively); pass fake=True for the deterministic "
                        "stub")
                if got in ("compressed", None) and fake and c is not None:
                    got = (((c[0] if len(c) else 0) % 64) + 1,
                           ((c[1] if len(c) > 1 else 0) % 64) + 1, 3, c)
                ids.append(mid)
                ws.append(got[0] if got else None)
                hs.append(got[1] if got else None)
                chs.append(got[2] if got else None)
                nbs.append(len(got[3]) if got else None)
                if with_pixels:
                    pxs.append(got[3] if got else None)
                    sums.append(int(np.frombuffer(got[3], dtype=np.uint8)
                                    .sum(dtype=np.int64)) if got else None)
            cols = {
                "media_id": ids, "width": ws, "height": hs,
                "channels": chs, "n_bytes": nbs,
            }
            if with_pixels:
                cols["content"] = pxs
                cols["pixel_sum"] = sums
            yield pd.DataFrame(cols)

    schema = DECODED_PIXELS_SCHEMA if with_pixels else DECODED_IMAGE_SCHEMA
    return df.mapInPandas(run, schema)


def synth_jpeg_pair_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per input id, TWO media rows holding the SAME deterministic grayscale
    image — media_id = 2·id encoded as PROGRESSIVE JPEG (SOF2, successive
    approximation al=1 + refinement scans) and media_id = 2·id+1 encoded
    BASELINE (SOF0). Both encoders quantize identically, so decoding the
    pair must produce byte-identical pixel buffers: the fixture behind the
    driver-gated progressive-equals-baseline contract.

    Image: width = 8 + id % 17, height = 8 + id % 13, smooth sinusoid
    (exercises every spectral band, non-trivial EOB runs and refinement
    bits; dims are closed-form restatable in SQL)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 8 + mid % 17, 8 + mid % 13
                yy, xx = np.mgrid[0:h, 0:w]
                arr = np.clip(
                    128 + 80 * np.sin((xx + mid % 5) / 7.0)
                    * np.cos((yy + mid % 3) / 5.0), 0, 255).astype(np.uint8)
                ids.extend([2 * mid, 2 * mid + 1])
                blobs.extend([_jpeg_prog_encode(arr), _jpeg_encode(arr)])
            yield pd.DataFrame({
                "media_id": ids, "kind": ["image"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def synth_arith_jpeg_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per input id, TWO media rows holding the SAME deterministic image —
    media_id = 2·id encoded with ARITHMETIC entropy coding (SOF9, QM-coder)
    and media_id = 2·id+1 encoded BASELINE Huffman (SOF0). Both encoders
    share the forward-DCT/quant fabric, so decoding the pair must produce
    byte-identical pixel buffers: the arithmetic-decode driver-gate
    contract (the progressive-pair pattern). Even ids are grayscale, odd
    ids 4:2:0 color; restart interval = id % 3 (0 = none) so the QM
    restart path is in the gate.

    Image: width = 8 + id % 17, height = 8 + id % 13, smooth sinusoid."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 8 + mid % 17, 8 + mid % 13
                yy, xx = np.mgrid[0:h, 0:w]
                base = 128 + 80 * np.sin((xx + mid % 5) / 7.0) \
                    * np.cos((yy + mid % 3) / 5.0)
                if mid % 2:
                    arr = np.clip(np.stack(
                        [base, 255 - base, (base + 64) % 256], axis=-1),
                        0, 255).astype(np.uint8)
                    sub = True
                else:
                    arr = np.clip(base, 0, 255).astype(np.uint8)
                    sub = False
                ids.extend([2 * mid, 2 * mid + 1])
                blobs.extend([
                    _jpeg_arith_encode(arr, subsample=sub, dri=mid % 3),
                    _jpeg_encode(arr, subsample=sub, dri=mid % 3)])
            yield pd.DataFrame({
                "media_id": ids, "kind": ["image"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def synth_lossless_jpeg_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Per input id, ONE media row holding a deterministic grayscale image
    encoded as LOSSLESS JPEG (SOF3, annex H) with per-id-varied predictor
    (1 + id % 7) and restart interval (id % 4; 0 = none). Lossless decode
    reproduces pixels EXACTLY, so the decoded pixel_sum has the same
    closed form as the input grid — the oracle can state the sum itself,
    a stronger contract than the progressive pair's equality bit.

    Image: width = 4 + id % 15, height = 4 + id % 11,
    pixel (y, x) = (id*37 + y*19 + x*7) % 256."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 4 + mid % 15, 4 + mid % 11
                yy, xx = np.mgrid[0:h, 0:w]
                arr = ((mid * 37 + yy * 19 + xx * 7) % 256).astype(np.uint8)
                ids.append(mid)
                blobs.append(_jpeg_lossless_encode(
                    arr, predictor=1 + mid % 7, dri=mid % 4))
            yield pd.DataFrame({
                "media_id": ids, "kind": ["image"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def synth_png_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic PNG per input row → MEDIA_SCHEMA rows.

    Per id: width = 4 + id % 13, height = 4 + id % 11, 3 channels, pixel
    value (y, x, c) = (id*7919 + y*131 + x*31 + c*17) % 256, encoded with
    _png_encode's mixed per-row filters (cycling 0..4). Self-oracle
    fixture: the decoded pixel sum has the same closed form in SQL, so an
    encode→decode round trip is value-checkable by the DuckDB oracle
    without any image columns in the test data."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h = 4 + mid % 13, 4 + mid % 11
                y, x, c = np.ogrid[0:h, 0:w, 0:3]
                arr = ((mid * 7919 + y * 131 + x * 31 + c * 17) % 256
                       ).astype(np.uint8)
                ids.append(mid)
                blobs.append(_png_encode(arr, filter_mode="mixed"))
            yield pd.DataFrame({
                "media_id": ids, "kind": ["image"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


@_none_on_malformed
def _y4m_frames(b: bytes, every_n: int, max_frames: int):
    """REAL pure-Python YUV4MPEG2 (Y4M) frame extraction → (width, height,
    [(source_frame_index, y_plane_bytes)]) or None. Y4M is the standard
    UNCOMPRESSED video interchange container (ffmpeg/mjpegtools): a text
    header line, then per frame a 'FRAME...' line + raw planar YUV — no
    entropy coding anywhere, so sampling frames is header parsing plus
    offset arithmetic. Emits the luma (Y) plane per sampled frame: a
    grayscale image directly consumable by resize_image_raw(channels=1)."""
    if not b.startswith(b"YUV4MPEG2"):
        return None
    nl = b.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    chroma = "420"
    for tok in b[9:nl].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
        elif tok.startswith(b"C"):
            chroma = tok[1:].decode("ascii", "replace")
    if not w or not h or w < 0 or h < 0 or w * h > (1 << 26):
        return None
    ysize = w * h
    half_w, half_h = (w + 1) // 2, (h + 1) // 2
    if chroma.startswith("420"):
        csize = 2 * half_w * half_h
    elif chroma.startswith("422"):
        csize = 2 * half_w * h
    elif chroma.startswith("444"):
        csize = 2 * ysize
    elif chroma.startswith("mono"):
        csize = 0
    else:
        return None
    pos, src, out = nl + 1, 0, []
    while pos < len(b) and len(out) < max_frames:
        if b[pos:pos + 5] != b"FRAME":
            return None
        fnl = b.find(b"\n", pos)
        if fnl < 0 or len(b) < fnl + 1 + ysize + csize:
            return None
        if src % every_n == 0:
            out.append((src, b[fnl + 1:fnl + 1 + ysize]))
        pos = fnl + 1 + ysize + csize
        src += 1
    return w, h, out


def frame_sample(df: DataFrame, every_n: int = 2, max_frames: int = 4,
                 fake: bool = False) -> DataFrame:
    """Sample video frames → one row per (media_id, frame_index).

    REAL for Y4M (uncompressed YUV4MPEG2 — _y4m_frames): every_n-th frame's
    luma plane, frame_index = source frame number, width/height populated.
    Compressed containers (mp4/webm) need ffmpeg, unavailable here — those
    raise NotImplementedError unless ``fake=True``, where 'frames' are
    deterministic byte slices of the content (frame_index ordinal,
    width/height null) — the row-explosion shape (1 row in, k rows out via
    mapInPandas) stays exercised either way."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames, ws, hs = [], [], [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                content = bytes(content)
                got = _y4m_frames(content, every_n, max_frames)
                if got is not None:
                    w, h, fr = got
                    for src_idx, y in fr:
                        ids.append(mid)
                        idxs.append(src_idx)
                        frames.append(y)
                        ws.append(w)
                        hs.append(h)
                    continue
                if not fake:
                    raise NotImplementedError(
                        "compressed video decoding requires ffmpeg bindings, "
                        "unavailable here; supply Y4M payloads or pass "
                        "fake=True for the deterministic stub")
                n = min(max_frames, max(1, len(content) // every_n))
                for i in range(n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(bytes(content[i * every_n:(i + 1) * every_n]))
                    ws.append(None)
                    hs.append(None)
            yield pd.DataFrame({"media_id": ids, "frame_index": idxs,
                                "frame": frames, "width": ws, "height": hs})

    return df.mapInPandas(run, FRAME_SCHEMA)


VIDEO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("container", T.StringType()),   # y4m | avi | mp4
    T.StructField("codec", T.StringType()),       # fourcc / 'rawvideo'
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("n_tracks", T.IntegerType()),
    T.StructField("duration_s", T.DoubleType()),
])


@_none_on_malformed
def _y4m_meta(b: bytes):
    """Y4M header + frame-count walk (offset arithmetic, no pixel reads)."""
    if not b.startswith(b"YUV4MPEG2"):
        return None
    nl = b.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    fps = None
    chroma = "420"
    for tok in b[9:nl].split(b" "):
        if tok.startswith(b"W"):
            w = int(tok[1:])
        elif tok.startswith(b"H"):
            h = int(tok[1:])
        elif tok.startswith(b"C"):
            chroma = tok[1:].decode("ascii", "replace")
        elif tok.startswith(b"F"):
            fnum, fden = (int(x) for x in tok[1:].split(b":"))
            if fden and fnum:
                fps = (fnum, fden)
    if not w or not h or w < 0 or h < 0 or w * h > (1 << 26):
        return None
    ysize = w * h
    half_w, half_h = (w + 1) // 2, (h + 1) // 2
    if chroma.startswith("420"):
        csize = 2 * half_w * half_h
    elif chroma.startswith("422"):
        csize = 2 * half_w * h
    elif chroma.startswith("444"):
        csize = 2 * ysize
    elif chroma.startswith("mono"):
        csize = 0
    else:
        return None
    pos, n = nl + 1, 0
    while pos < len(b) and b[pos:pos + 5] == b"FRAME":
        fnl = b.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + ysize + csize > len(b):
            break
        n += 1
        pos = fnl + 1 + ysize + csize
    dur = _dur6(n * fps[1], fps[0]) if fps else None
    return ("y4m", "rawvideo", w, h, n, 1, dur)


@_none_on_malformed
def _avi_meta(b: bytes):
    """AVI (RIFF) header walk: avih for dims/frame count/timing, the first
    'vids' strh for the codec fourcc. Little-endian per RIFF; chunk sizes
    are padded to even offsets."""
    import struct

    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    width = height = None
    n_frames = None
    us_per_frame = 0
    n_streams = 0
    codec = None

    def walk(start, end, depth=0):
        nonlocal width, height, n_frames, us_per_frame, n_streams, codec
        pos = start
        while pos + 8 <= end and depth < 8:
            ck, sz = b[pos:pos + 4], struct.unpack("<I", b[pos + 4:pos + 8])[0]
            body = pos + 8
            if body + sz > end:
                break
            if ck == b"LIST":
                walk(body + 4, body + sz, depth + 1)   # skip list type
            elif ck == b"avih" and sz >= 40:
                (us_per_frame, _, _, _, n_frames, _, n_streams, _,
                 width, height) = struct.unpack("<10I", b[body:body + 40])
            elif ck == b"strh" and sz >= 8 and codec is None:
                if b[body:body + 4] == b"vids":
                    fcc = b[body + 4:body + 8]
                    codec = ("rawvideo" if fcc in (b"DIB ", b"\x00" * 4)
                             else fcc.decode("ascii", "replace").strip())
            pos = body + sz + (sz & 1)

    walk(12, min(len(b), 12 + struct.unpack("<I", b[4:8])[0]))
    if width is None:
        return None
    dur = ((n_frames * us_per_frame) / 1e6
           if n_frames and us_per_frame else None)  # exact integer us
    return ("avi", codec, width, height, n_frames, n_streams, dur)


@_none_on_malformed
def _mp4_meta(b: bytes):
    """ISO-BMFF (mp4/mov) box walk: mvhd for duration, per-trak tkhd dims
    (16.16 fixed point), hdlr to find the video track, its stsd entry
    format as the codec fourcc, and the stts sample-count sum as n_frames.
    Big-endian throughout; container boxes recursed, leaf boxes decoded.
    Header-only — mdat is never touched."""
    import struct

    if len(b) < 12 or b[4:8] != b"ftyp":
        return None
    containers = {b"moov", b"trak", b"mdia", b"minf", b"stbl"}

    def boxes(start, end):
        pos = start
        while pos + 8 <= end:
            sz = struct.unpack(">I", b[pos:pos + 4])[0]
            typ = b[pos + 4:pos + 8]
            body = pos + 8
            if sz == 1:     # 64-bit largesize
                if pos + 16 > end:
                    return
                sz = struct.unpack(">Q", b[pos + 8:pos + 16])[0]
                body = pos + 16
            elif sz == 0:   # to end of enclosing box
                sz = end - pos
            if sz < 8 or pos + sz > end:
                return
            yield typ, body, pos + sz
            pos += sz

    timescale = duration = None
    width = height = None
    n_frames = None
    n_tracks = 0
    codec = None

    def scan_trak(start, end, ctx):
        """Collect this trak's handler/dims/codec/frame count into ctx."""
        for typ, body, bend in boxes(start, end):
            if typ in containers:
                scan_trak(body, bend, ctx)
            elif typ == b"tkhd":
                w16, h16 = struct.unpack(">II", b[bend - 8:bend])
                if w16 and h16:
                    ctx["dims"] = (w16 >> 16, h16 >> 16)
            elif typ == b"hdlr":
                ctx["handler"] = b[body + 8:body + 12]
            elif typ == b"stsd":
                n_entries = struct.unpack(">I", b[body + 4:body + 8])[0]
                if n_entries:
                    ctx["codec"] = b[body + 12:body + 16].decode(
                        "ascii", "replace")
            elif typ == b"stts":
                cnt = struct.unpack(">I", b[body + 4:body + 8])[0]
                total = 0
                for i in range(min(cnt, 1 << 16)):
                    total += struct.unpack(
                        ">I", b[body + 8 + 8 * i:body + 12 + 8 * i])[0]
                ctx["n_frames"] = total

    def walk(start, end):
        nonlocal timescale, duration, width, height, n_frames, n_tracks, codec
        for typ, body, bend in boxes(start, end):
            if typ == b"trak":
                n_tracks += 1
                ctx = {}
                scan_trak(body, bend, ctx)
                # codec/dims/frames come from the VIDEO track specifically
                if ctx.get("handler") == b"vide" and codec is None:
                    codec = ctx.get("codec")
                    width, height = ctx.get("dims", (None, None))
                    n_frames = ctx.get("n_frames")
            elif typ in containers:
                walk(body, bend)
            elif typ == b"mvhd":
                ver = b[body]
                if ver == 1:
                    timescale = struct.unpack(">I", b[body + 20:body + 24])[0]
                    duration = struct.unpack(">Q", b[body + 24:body + 32])[0]
                else:
                    timescale, duration = struct.unpack(
                        ">II", b[body + 12:body + 20])

    walk(0, len(b))
    dur = (_dur6(duration, timescale)
           if duration is not None and timescale else None)
    return ("mp4", codec, width, height, n_frames, n_tracks or None, dur)


def _avi_encode(w, h, n_frames, fps=25, codec=b"MJPG"):
    """Minimal spec-valid AVI fixture: RIFF(AVI ) with hdrl(avih +
    strl(strh vids + strf BITMAPINFOHEADER)) and a movi list of n_frames
    placeholder '00dc' chunks (1 byte each — metadata parsing never reads
    frame bodies)."""
    import struct

    def chunk(fourcc, body):
        return fourcc + struct.pack("<I", len(body)) + body + (
            b"\x00" if len(body) & 1 else b"")

    def lst(four, body):
        return chunk(b"LIST", four + body)

    avih = struct.pack("<10I16x", int(1e6 / fps), 0, 0, 0, n_frames, 0, 1,
                       0, w, h)
    strh = struct.pack("<4s4sI2HII4I8x", b"vids", codec, 0, 0, 0, 0, 1, fps,
                       0, n_frames, 0)
    strf = struct.pack("<I2i2H6I", 40, w, h, 1, 24, 0, w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", b"\x00")
                                 for _ in range(n_frames)))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mp4_encode(w, h, n_frames, timescale=1000, duration=None,
                codec=b"avc1", with_audio=False):
    """Minimal spec-valid ISO-BMFF fixture: ftyp + moov(mvhd +
    trak(tkhd + mdia(hdlr 'vide' + minf(stbl(stsd + stts)))) [+ an audio
    trak when with_audio, placed FIRST to prove track selection]) + a
    1-byte mdat. Duration defaults to n_frames * 40 timescale units."""
    import struct

    if duration is None:
        duration = n_frames * 40

    def box(typ, body):
        return struct.pack(">I", len(body) + 8) + typ + body

    def trak(handler, fourcc, tw, th, frames):
        tkhd = box(b"tkhd", struct.pack(">I", 0x7) + bytes(12)
                   + struct.pack(">I", 1) + bytes(4)
                   + struct.pack(">I", duration) + bytes(8)
                   + struct.pack(">4H", 0, 0, 0x0100, 0) + bytes(36)
                   + struct.pack(">II", tw << 16, th << 16))
        hdlr = box(b"hdlr", bytes(8) + handler + bytes(12) + b"\x00")
        entry = struct.pack(">I", 16) + fourcc + bytes(8)
        stsd = box(b"stsd", struct.pack(">II", 0, 1) + entry)
        stts = box(b"stts", struct.pack(">IIII", 0, 1, frames, 40))
        stbl = box(b"stbl", stsd + stts)
        minf = box(b"minf", stbl)
        mdia = box(b"mdia", hdlr + minf)
        return box(b"trak", tkhd + mdia)

    mvhd = box(b"mvhd", struct.pack(">I", 0) + bytes(8)
               + struct.pack(">II", timescale, duration) + bytes(80))
    traks = b""
    if with_audio:
        traks += trak(b"soun", b"mp4a", 0, 0, 0)
    traks += trak(b"vide", codec, w, h, n_frames)
    ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isomiso2")
    return ftyp + box(b"moov", mvhd + traks) + box(b"mdat", b"\x00")


def synth_video_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic video container per input row, cycling
    id % 3 over the three supported containers with closed-form metadata
    (oracle-restatable in SQL):

    * 0 → Y4M   : w = 4 + id % 9, h = 2 + id % 7, frames = 2 + id % 5,
                  25 fps (duration = frames / 25), codec 'rawvideo'
    * 1 → AVI   : w = 16 * (1 + id % 5), h = 8 * (1 + id % 7),
                  frames = 10 + id % 20, 25 fps, codec 'MJPG'
    * 2 → MP4   : w = 32 * (1 + id % 4), h = 16 * (1 + id % 6),
                  frames = 5 + id % 15, timescale 1000 / delta 40
                  (duration = frames * 0.04 s), codec 'avc1', PLUS an
                  audio track first (n_tracks = 2, proves the metadata
                  pass picks the video track)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                kind = mid % 3
                if kind == 0:
                    w, h, nf = 4 + mid % 9, 2 + mid % 7, 2 + mid % 5
                    ysz, csz = w * h, 2 * (((w + 1) // 2) * ((h + 1) // 2))
                    out = [b"YUV4MPEG2 W%d H%d F25:1 C420\n" % (w, h)]
                    for fi in range(nf):
                        y = (np.arange(ysz, dtype=np.int64) * 13
                             + mid * 31 + fi * 97) % 256
                        out.append(b"FRAME\n" + y.astype(np.uint8).tobytes()
                                   + bytes(csz))
                    blob = b"".join(out)
                elif kind == 1:
                    blob = _avi_encode(16 * (1 + mid % 5), 8 * (1 + mid % 7),
                                       10 + mid % 20)
                else:
                    blob = _mp4_encode(32 * (1 + mid % 4), 16 * (1 + mid % 6),
                                       5 + mid % 15, with_audio=True)
                ids.append(mid)
                blobs.append(blob)
            yield pd.DataFrame({
                "media_id": ids, "kind": ["video"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def _dur6(n, rate):
    """Duration in seconds at 6-decimal precision via EXACT integer
    half-up rounding of microseconds — float round() is banker's in
    Python and half-away in SQL engines, so a tie like 1061/16000 s
    (= 66312.5 us) would hash-mismatch any float-rounded oracle. The
    oracle-side equivalent is round(n * 1000000.0 / rate) / 1000000.0
    (SQL round() is half-up for positives, and fixture magnitudes stay
    well inside float-exact integer range)."""
    if not rate or n is None:
        return None
    us = (2 * n * 1000000 + rate) // (2 * rate)
    return us / 1e6


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("container", T.StringType()),   # wav | flac | mp3
    T.StructField("codec", T.StringType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("bits", T.IntegerType()),       # null where undefined (mp3)
    T.StructField("n_samples", T.LongType()),     # per channel
    T.StructField("duration_s", T.DoubleType()),
])


@_none_on_malformed
def _wav_audio_meta(b: bytes):
    """RIFF/WAVE header math only — fmt fields + data chunk LENGTH (the
    sample bytes are never materialized, unlike decode_wav)."""
    import struct

    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    i, rate, ch, bits, dlen = 12, None, None, None, None
    while i + 8 <= len(b):
        cid = b[i:i + 4]
        clen = struct.unpack("<I", b[i + 4:i + 8])[0]
        if cid == b"fmt " and i + 24 <= len(b):
            ch, rate = struct.unpack("<HI", b[i + 10:i + 16])
            bits = struct.unpack("<H", b[i + 22:i + 24])[0]
        elif cid == b"data":
            dlen = min(clen, len(b) - i - 8)
        i += 8 + clen + (clen & 1)
    if rate is None or dlen is None or not bits or not rate:
        return None
    ch = max(ch, 1)
    n = dlen // (max(bits // 8, 1) * ch)
    return ("wav", f"pcm{bits}", rate, ch, bits, n, _dur6(n, rate))


@_none_on_malformed
def _flac_meta(b: bytes):
    """FLAC STREAMINFO metadata block: sample rate (20 bits), channels
    (3 bits + 1), bits per sample (5 bits + 1), total samples (36 bits) —
    audio frames never touched (their decode would need libFLAC)."""
    if len(b) < 42 or b[:4] != b"fLaC":
        return None
    pos = 4
    while pos + 4 <= len(b):
        hdr = b[pos]
        blen = int.from_bytes(b[pos + 1:pos + 4], "big")
        body = b[pos + 4:pos + 4 + blen]
        if (hdr & 0x7F) == 0 and blen >= 34:        # STREAMINFO
            v = int.from_bytes(body[10:18], "big")
            rate = v >> 44
            ch = ((v >> 41) & 0x7) + 1
            bps = ((v >> 36) & 0x1F) + 1
            total = v & ((1 << 36) - 1)
            if not rate:
                return None
            dur = _dur6(total, rate) if total else None
            return ("flac", "flac", rate, ch, bps, total or None, dur)
        if hdr & 0x80:                              # last-metadata flag
            break
        pos += 4 + blen
    return None


_MP3_BITRATES_V1L3 = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
                      224, 256, 320]
_MP3_BITRATES_V2L3 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                      144, 160]
_MP3_RATES = {3: [44100, 48000, 32000],     # MPEG-1
              2: [22050, 24000, 16000],     # MPEG-2
              0: [11025, 12000, 8000]}      # MPEG-2.5


@_none_on_malformed
def _mp3_meta(b: bytes):
    """MP3 (MPEG layer III) frame-header walk: skip ID3v2, then count
    frames via the header-only size formula — exact duration from
    frames x samples-per-frame / rate. Frame PAYLOAD decode needs a codec
    library; headers are structural."""
    pos = 0
    if b[:3] == b"ID3" and len(b) >= 10:
        sz = ((b[6] & 0x7F) << 21) | ((b[7] & 0x7F) << 14) \
            | ((b[8] & 0x7F) << 7) | (b[9] & 0x7F)
        pos = 10 + sz
    rate = None
    ch = None
    frames = 0
    spf = 0
    while pos + 4 <= len(b) and frames < (1 << 17):
        h = int.from_bytes(b[pos:pos + 4], "big")
        if (h >> 21) != 0x7FF:
            break
        ver = (h >> 19) & 0x3                     # 3=MPEG1, 2=MPEG2, 0=2.5
        layer = (h >> 17) & 0x3                   # 1 = layer III
        br_i = (h >> 12) & 0xF
        sr_i = (h >> 10) & 0x3
        pad = (h >> 9) & 0x1
        mode = (h >> 6) & 0x3
        if ver == 1 or layer != 1 or br_i in (0, 15) or sr_i == 3:
            break
        rates = _MP3_RATES[ver]
        bitrate = (_MP3_BITRATES_V1L3 if ver == 3
                   else _MP3_BITRATES_V2L3)[br_i] * 1000
        rate = rates[sr_i]
        spf = 1152 if ver == 3 else 576
        ch = 1 if mode == 3 else 2
        fsz = (144 if ver == 3 else 72) * bitrate // rate + pad
        if fsz < 4:
            break
        frames += 1
        pos += fsz
    if not frames:
        return None
    n = frames * spf
    return ("mp3", "mp3", rate, ch, None, n, _dur6(n, rate))


def _flac_encode_meta(rate, channels, bps, total_samples):
    """FLAC fixture: fLaC magic + a single (last) STREAMINFO block — all
    an audio-metadata pass reads. No audio frames follow."""
    v = (rate << 44) | ((channels - 1) << 41) | ((bps - 1) << 36) \
        | (total_samples & ((1 << 36) - 1))
    body = (4096).to_bytes(2, "big") * 2 + bytes(6) \
        + v.to_bytes(8, "big") + bytes(16)
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _mp3_encode_meta(n_frames, br_i=9, sr_i=0):
    """MP3 fixture: n_frames spec-valid MPEG-1 layer-III frame headers
    (bitrate index br_i, sample-rate index sr_i, no padding, mono) with
    zeroed payloads sized by the header formula."""
    rate = _MP3_RATES[3][sr_i]
    bitrate = _MP3_BITRATES_V1L3[br_i] * 1000
    fsz = 144 * bitrate // rate
    h = (0x7FF << 21) | (3 << 19) | (1 << 17) | (1 << 16) \
        | (br_i << 12) | (sr_i << 10) | (3 << 6)
    frame = h.to_bytes(4, "big") + bytes(fsz - 4)
    return frame * n_frames


def audio_metadata(df: DataFrame) -> DataFrame:
    """Header-only audio metadata pass (the audio twin of video_metadata):
    container/codec/rate/channels/bit depth/per-channel samples/duration
    for WAV (RIFF fmt + data length math), FLAC (STREAMINFO bit unpack),
    and MP3 (ID3 skip + frame-header walk with the layer-III size
    formula). No sample decode anywhere — unrecognized or malformed
    payloads yield a null-field row, never an error."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in AUDIO_META_SCHEMA.fields}
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                c = bytes(c) if c is not None else b""
                got = _wav_audio_meta(c) or _flac_meta(c) or _mp3_meta(c)
                got = got or (None,) * 7
                rows["media_id"].append(mid)
                for f, v in zip(
                        ["container", "codec", "sample_rate", "channels",
                         "bits", "n_samples", "duration_s"], got):
                    rows[f].append(v)
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, AUDIO_META_SCHEMA)


def synth_audio_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic audio container per input row, cycling
    id % 3 with closed-form metadata (oracle-restatable in SQL):

    * 0 → WAV : rate = 8000 * (1 + id % 4), mono 16-bit,
                n = 500 + id % 300 samples (silence payload)
    * 1 → FLAC: rate = [8000, 16000, 22050, 44100][id % 4],
                channels = 1 + id % 2, 16-bit, total = 1000 + id % 5000
    * 2 → MP3 : MPEG-1 layer III, 44100 Hz, 128 kbps mono,
                frames = 3 + id % 40 (n = frames * 1152)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                kind = mid % 3
                if kind == 0:
                    n = 500 + mid % 300
                    blob = _wav_encode(np.zeros(n, dtype=np.int16),
                                       8000 * (1 + mid % 4))
                elif kind == 1:
                    blob = _flac_encode_meta(
                        [8000, 16000, 22050, 44100][mid % 4],
                        1 + mid % 2, 16, 1000 + mid % 5000)
                else:
                    blob = _mp3_encode_meta(3 + mid % 40)
                ids.append(mid)
                blobs.append(blob)
            yield pd.DataFrame({
                "media_id": ids, "kind": ["audio"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def video_metadata(df: DataFrame) -> DataFrame:
    """Container-metadata pass over video BINARY columns — the cheap
    header-only scan a 100 TB multimodal pipeline runs BEFORE any decode
    (route/filter/budget by dims, duration, codec without touching frame
    data). REAL pure-Python parsers for Y4M (header + frame walk), AVI
    (RIFF avih/strh), and ISO-BMFF mp4/mov (box walk: mvhd, tkhd, stsd,
    stts — mdat never read); unrecognized or malformed payloads yield a
    null-field row, never an error. No codec library involved: metadata
    lives in container structure, so no stub is needed."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k.name: [] for k in VIDEO_META_SCHEMA.fields}
            for mid, c in zip(pdf["media_id"], pdf["content"]):
                c = bytes(c) if c is not None else b""
                got = _y4m_meta(c) or _avi_meta(c) or _mp4_meta(c)
                got = got or (None,) * 7
                rows["media_id"].append(mid)
                for f, v in zip(
                        ["container", "codec", "width", "height",
                         "n_frames", "n_tracks", "duration_s"], got):
                    rows[f].append(v)
            yield pd.DataFrame(rows)

    return df.mapInPandas(run, VIDEO_META_SCHEMA)


def synth_y4m_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic Y4M clip per input row → MEDIA_SCHEMA rows.

    Per id: width = 4 + id % 9, height = 2 + id % 7, frames = 2 + id % 5,
    C420 chroma planes zeroed, luma pixel (frame, y, x) =
    (id*31 + frame*97 + y*13 + x*7) % 256. Self-oracle fixture for the
    frame_sample path — the sampled frames' luma sums have the same closed
    form in SQL (same pattern as synth_png_table)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                w, h, nf = 4 + mid % 9, 2 + mid % 7, 2 + mid % 5
                chroma = bytes(2 * ((w + 1) // 2) * ((h + 1) // 2))
                f, y, x = np.ogrid[0:nf, 0:h, 0:w]
                lum = ((mid * 31 + f * 97 + y * 13 + x * 7) % 256
                       ).astype(np.uint8)
                body = b"".join(
                    b"FRAME\n" + lum[i].tobytes() + chroma for i in range(nf))
                ids.append(mid)
                blobs.append(
                    b"YUV4MPEG2 W%d H%d F30:1 Ip A1:1 C420\n" % (w, h) + body)
            yield pd.DataFrame({
                "media_id": ids, "kind": ["video"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


FRAME_STATS_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("frame_index", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("y_sum", T.LongType()),
])


def frame_luma_stats(df: DataFrame) -> DataFrame:
    """Feature extraction over sampled frames (frame_sample output):
    → (media_id, frame_index, width, height, y_sum) with y_sum the sum of
    luma bytes — the per-frame brightness statistic a curation pipeline
    filters on (all-black/all-white frame detection)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sums = [int(np.frombuffer(f, dtype=np.uint8).sum(dtype=np.int64))
                    if f is not None else None for f in pdf["frame"]]
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "frame_index": pdf["frame_index"],
                "width": pdf["width"], "height": pdf["height"],
                "y_sum": sums,
            })

    return df.mapInPandas(run, FRAME_STATS_SCHEMA)


def extract_meta_features(df: DataFrame) -> DataFrame:
    """Pure-column feature extraction from the metadata map — no UDF."""
    return df.select(
        "media_id", "kind",
        F.length("content").cast("long").alias("n_bytes"),
        F.col("meta").getItem("source").alias("source"),
        F.col("meta").getItem("mime").alias("mime"),
    )


# --------------------------------------------------------------------------
# FLAC codec (REAL, pure Python — no codec library).
#
# Decode scope (the honest submatrix, same discipline as the JPEG
# progression): ALL subframe types — CONSTANT / VERBATIM / FIXED(order
# 0-4) / LPC (quantized coefficients + shift) — with Rice-coded residuals
# (4- or 5-bit parameters incl. the raw-bits escape, any partition order),
# ALL channel assignments — independent AND left-side / right-side /
# mid-side decorrelation (the side channel carries bps+1 bits) — so
# libFLAC-encoded streams are in scope; 8/12/16/20/24-bit sample sizes on
# decode (the fixture encoder emits 16-bit), wasted-bits flags, UTF-8-coded
# frame numbers, CRC-8 header and CRC-16 frame verification, and the
# STREAMINFO MD5 of the unencoded PCM verified after decode. The fixture
# encoder picks the cheapest of CONSTANT/FIXED/VERBATIM per subframe and
# exposes stereo_mode= / lpc= hooks to force the decorrelated and LPC
# decode paths under test. Format per the public FLAC spec (RFC 9639).


def _crc8(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 \
                else (crc << 1) & 0xFFFF
    return crc


class _FlacBits:
    """MSB-first bit writer/reader over a bytearray."""

    def __init__(self, data: bytes = b""):
        self.buf = bytearray(data)
        self.wacc = 0
        self.wn = 0
        self.rpos = 0  # bit position for reads

    # -- writing
    def w(self, value: int, nbits: int) -> None:
        self.wacc = (self.wacc << nbits) | (value & ((1 << nbits) - 1))
        self.wn += nbits
        while self.wn >= 8:
            self.wn -= 8
            self.buf.append((self.wacc >> self.wn) & 0xFF)
        self.wacc &= (1 << self.wn) - 1

    def w_unary(self, q: int) -> None:
        while q >= 32:
            self.w(0, 32)
            q -= 32
        self.w(1, q + 1)  # q zeros then a one

    def w_align(self) -> None:
        if self.wn:
            self.w(0, 8 - self.wn)

    # -- reading
    def r(self, nbits: int) -> int:
        out = 0
        for _ in range(nbits):
            byte = self.buf[self.rpos >> 3]
            out = (out << 1) | ((byte >> (7 - (self.rpos & 7))) & 1)
            self.rpos += 1
        return out

    def r_signed(self, nbits: int) -> int:
        v = self.r(nbits)
        return v - (1 << nbits) if v & (1 << (nbits - 1)) else v

    def r_unary(self) -> int:
        q = 0
        while self.r(1) == 0:
            q += 1
        return q

    def r_align(self) -> None:
        self.rpos = (self.rpos + 7) & ~7


_FLAC_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                     4: [4, -6, 4, -1]}


def _flac_utf8_encode(v: int) -> bytes:
    if v < 0x80:
        return bytes([v])
    for nbytes, lead in ((2, 0xC0), (3, 0xE0), (4, 0xF0), (5, 0xF8),
                         (6, 0xFC), (7, 0xFE)):
        if v < (1 << (6 * (nbytes - 1) + (7 - nbytes) if nbytes < 7 else 36)):
            out = [lead | (v >> (6 * (nbytes - 1)))] if nbytes < 7 else [0xFE]
            for i in range(nbytes - 2, -1, -1):
                out.append(0x80 | ((v >> (6 * i)) & 0x3F))
            return bytes(out)
    raise ValueError("frame number too large")


def _flac_utf8_decode(bits: "_FlacBits") -> int:
    b0 = bits.r(8)
    if b0 < 0x80:
        return b0
    n = 0
    while b0 & (0x80 >> n):
        n += 1
    v = b0 & (0x7F >> n)
    for _ in range(n - 1):
        v = (v << 6) | (bits.r(8) & 0x3F)
    return v


def _rice_cost(resid, k: int) -> int:
    total = 0
    for r in resid:
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        total += (u >> k) + 1 + k
    return total


def _flac_write_residual(bits: "_FlacBits", resid: list) -> None:
    """Partition-order-0 residual block: best 4-bit Rice parameter or the
    raw-bits escape, whichever is smaller."""
    best_k, best_cost = 0, None
    for k in range(14):
        cost = _rice_cost(resid, k)
        if best_cost is None or cost < best_cost:
            best_k, best_cost = k, cost
    mx = max(max(resid), -min(resid) - 1, 0) if resid else 0
    rawbits = mx.bit_length() + 1
    raw_cost = 5 + rawbits * len(resid)
    bits.w(0b00, 2)   # residual method: 4-bit Rice parameters
    bits.w(0, 4)      # partition order 0
    if best_cost is None or raw_cost < best_cost:
        bits.w(0b1111, 4)
        bits.w(rawbits, 5)
        for r in resid:
            bits.w(r & ((1 << rawbits) - 1), rawbits)
    else:
        bits.w(best_k, 4)
        for r in resid:
            u = (r << 1) if r >= 0 else ((-r) << 1) - 1
            bits.w_unary(u >> best_k)
            bits.w(u & ((1 << best_k) - 1), best_k)


def _flac_write_subframe(bits: "_FlacBits", ch_s, bps: int,
                         lpc=None) -> None:
    """One subframe at ``bps`` bits (17 for a side channel): CONSTANT if
    flat, else LPC with the GIVEN (coefs, shift, precision) model when
    ``lpc`` is passed (fixture generator for the LPC decode path), else
    the cheapest of FIXED order 0-4 / VERBATIM."""
    import numpy as np

    nb = len(ch_s)
    mask = (1 << bps) - 1
    bits.w(0, 1)  # subframe pad bit
    sl = [int(v) for v in ch_s]
    if nb and min(sl) == max(sl):
        bits.w(0b000000, 6)
        bits.w(0, 1)  # no wasted bits
        bits.w(sl[0] & mask, bps)
        return
    if lpc is not None and nb > len(lpc[0]) > 0:
        coefs, shift, prec = lpc
        order = len(coefs)
        resid = [sl[i] - (sum(coefs[j] * sl[i - 1 - j]
                              for j in range(order)) >> shift)
                 for i in range(order, nb)]
        bits.w(0b100000 | (order - 1), 6)
        bits.w(0, 1)  # no wasted bits
        for v in sl[:order]:
            bits.w(v & mask, bps)
        bits.w(prec - 1, 4)
        bits.w(shift, 5)
        for cf in coefs:
            bits.w(cf & ((1 << prec) - 1), prec)
        _flac_write_residual(bits, resid)
        return
    # fixed orders 0-4: residual via repeated differencing
    best = None  # (cost, order, resid)
    diff = np.asarray(ch_s, dtype=np.int64)
    for order in range(0, min(4, nb - 1) + 1):
        if order > 0:
            diff = np.diff(diff)
        resid_l = [int(v) for v in diff]
        for k in range(14):
            cost = order * bps + 2 + 4 + 4 + _rice_cost(resid_l, k)
            if best is None or cost < best[0]:
                best = (cost, order, resid_l, k)
        if resid_l:  # raw-bits escape
            mx = max(max(resid_l), -min(resid_l) - 1, 0)
            rawbits = mx.bit_length() + 1
            cost = order * bps + 2 + 4 + 4 + 5 + rawbits * len(resid_l)
            if best is None or cost < best[0]:
                best = (cost, order, resid_l, ("raw", rawbits))
    if best is None or nb * bps < best[0]:
        bits.w(0b000001, 6)  # VERBATIM
        bits.w(0, 1)
        for v in sl:
            bits.w(v & mask, bps)
        return
    _cost, order, resid_l, _kk = best
    bits.w(0b001000 | order, 6)
    bits.w(0, 1)  # no wasted bits
    for v in sl[:order]:
        bits.w(v & mask, bps)
    _flac_write_residual(bits, resid_l)


_FLAC_STEREO_CODES = {"left-side": 8, "right-side": 9, "mid-side": 10}


def _flac_encode(samples, rate: int, channels: int = 1,
                 block_size: int = 4096, stereo_mode: str | None = None,
                 lpc=None) -> bytes:
    """Encode 16-bit PCM to a real FLAC stream.

    ``samples``: int16 array — flat mono, or interleaved (n*ch,), or
    (n, ch). Per block/channel picks the cheapest of CONSTANT / FIXED
    order 0-4 (best Rice parameter or the raw-bits escape) / VERBATIM.
    ``stereo_mode`` (2-channel only): "left-side" / "right-side" /
    "mid-side" inter-channel decorrelation — the side channel carries
    bps+1 bits per the spec. ``lpc``: (coefs, shift, precision) forces
    LPC subframes with that fixed model (fixture generator for the LPC
    decode path; a production encoder would estimate coefficients).
    Writes real CRC-8/CRC-16 and the STREAMINFO MD5 of the little-endian
    PCM, which _flac_decode verifies."""
    import hashlib

    import numpy as np

    x = np.asarray(samples, dtype=np.int64)
    if x.ndim == 1:
        x = x.reshape(-1, channels)
    channels = x.shape[1]
    n_total = x.shape[0]
    bps = 16
    if stereo_mode and channels != 2:
        raise ValueError("stereo_mode needs exactly 2 channels")

    md5 = hashlib.md5(
        np.ascontiguousarray(x.astype("<i2")).tobytes()).digest()
    sinfo = _FlacBits()
    sinfo.w(block_size, 16)
    sinfo.w(block_size, 16)
    sinfo.w(0, 24)  # min frame size unknown
    sinfo.w(0, 24)  # max frame size unknown
    sinfo.w(rate, 20)
    sinfo.w(channels - 1, 3)
    sinfo.w(bps - 1, 5)
    sinfo.w(n_total, 36)
    body = bytes(sinfo.buf) + md5
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + len(body).to_bytes(3, "big") + body  # last block

    ch_asgn = _FLAC_STEREO_CODES[stereo_mode] if stereo_mode \
        else channels - 1
    for fi, start in enumerate(range(0, max(n_total, 1), block_size)):
        blk = x[start:start + block_size]
        nb = blk.shape[0]
        if nb == 0:
            break
        hdr = _FlacBits()
        hdr.w(0b11111111111110, 14)
        hdr.w(0, 1)  # reserved
        hdr.w(0, 1)  # fixed-blocksize strategy; coded number = frame index
        hdr.w(0b0111, 4)   # blocksize: 16-bit value-1 at header end
        hdr.w(0b0000, 4)   # sample rate: from STREAMINFO
        hdr.w(ch_asgn, 4)
        hdr.w(0b100, 3)    # 16 bits per sample
        hdr.w(0, 1)        # reserved
        hb = bytes(hdr.buf) + _flac_utf8_encode(fi) + \
            (nb - 1).to_bytes(2, "big")
        frame = bytearray(hb + bytes([_crc8(hb)]))
        bits = _FlacBits()
        if stereo_mode:
            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            if stereo_mode == "left-side":
                subs = [(left, bps), (side, bps + 1)]
            elif stereo_mode == "right-side":
                subs = [(side, bps + 1), (right, bps)]
            else:  # mid-side: mid = (l+r)>>1 (floor), side = l-r
                subs = [((left + right) >> 1, bps), (side, bps + 1)]
            for ch_s, sbps in subs:
                _flac_write_subframe(bits, ch_s, sbps, lpc=lpc)
        else:
            for c in range(channels):
                _flac_write_subframe(bits, blk[:, c], bps, lpc=lpc)
        bits.w_align()
        frame += bytes(bits.buf)
        frame += _crc16(bytes(frame)).to_bytes(2, "big")
        out += frame
    return bytes(out)


def _flac_read_residual(bits: "_FlacBits", nb: int, order: int) -> list:
    """Rice-coded residual block: 2-bit method, partition order, per
    partition a 4/5-bit parameter or the raw-bits escape."""
    method = bits.r(2)
    if method > 1:
        raise ValueError("FLAC: reserved residual method")
    pbits = 4 if method == 0 else 5
    porder = bits.r(4)
    resid: list = []
    for p in range(1 << porder):
        cnt = (nb >> porder) - (order if p == 0 else 0)
        k = bits.r(pbits)
        if k == (1 << pbits) - 1:
            rawbits = bits.r(5)
            # rawbits 0 = legal escape meaning all residuals are zero
            resid.extend((bits.r_signed(rawbits) if rawbits else 0)
                         for _ in range(cnt))
        else:
            for _ in range(cnt):
                q = bits.r_unary()
                u = (q << k) | bits.r(k)
                resid.append((u >> 1) if (u & 1) == 0 else -((u + 1) >> 1))
    return resid


def _flac_decode(b: bytes):
    """Decode a FLAC stream → (rate, channels, bps, samples float64
    ndarray interleaved) — the _wav_parse contract. Subframes: CONSTANT,
    VERBATIM, FIXED 0-4, and LPC (quantized coefficients + shift);
    channel assignments: independent AND left/right/mid-side
    decorrelation (the side channel reads bps+1 bits). Verifies CRC-8
    per frame header, CRC-16 per frame, and the STREAMINFO MD5 when
    present; raises ValueError on any mismatch or reserved encoding;
    returns None if not a FLAC stream."""
    import hashlib

    import numpy as np

    if len(b) < 8 or b[:4] != b"fLaC":
        return None
    pos, rate, channels, bps, n_total, md5 = 4, None, None, None, 0, None
    while pos + 4 <= len(b):
        hdrb = b[pos]
        blen = int.from_bytes(b[pos + 1:pos + 4], "big")
        if (hdrb & 0x7F) == 0:  # STREAMINFO
            body = b[pos + 4:pos + 4 + blen]
            sb = _FlacBits(body)
            sb.r(16), sb.r(16), sb.r(24), sb.r(24)
            rate = sb.r(20)
            channels = sb.r(3) + 1
            bps = sb.r(5) + 1
            n_total = sb.r(36)
            md5 = body[18:34]
        pos += 4 + blen
        if hdrb & 0x80:
            break
    if rate is None:
        raise ValueError("FLAC: no STREAMINFO")
    chans: list = [[] for _ in range(channels)]
    while pos < len(b):
        fstart = pos
        bits = _FlacBits(b)
        bits.rpos = pos * 8
        if bits.r(14) != 0b11111111111110:
            raise ValueError("FLAC: lost frame sync")
        bits.r(1)
        bits.r(1)
        bs_code = bits.r(4)
        sr_code = bits.r(4)
        ch_asgn = bits.r(4)
        ss_code = bits.r(3)
        bits.r(1)
        if ch_asgn > 10:
            raise ValueError("FLAC: reserved channel assignment")
        fch = 2 if ch_asgn >= 8 else ch_asgn + 1
        fbps = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}.get(ss_code)
        if fbps is None:
            raise ValueError("FLAC: reserved sample-size code")
        _flac_utf8_decode(bits)
        if bs_code == 0b0110:
            nb = bits.r(8) + 1
        elif bs_code == 0b0111:
            nb = bits.r(16) + 1
        elif bs_code >= 0b1000:
            nb = 256 << (bs_code - 8)
        elif bs_code >= 0b0010:
            nb = 576 << (bs_code - 2)
        elif bs_code == 1:
            nb = 192
        else:
            raise ValueError("FLAC: reserved block-size code")
        if sr_code in (0b1100, 0b1101, 0b1110):
            bits.r(8 if sr_code == 0b1100 else 16)
        hdr_end = bits.rpos >> 3
        if _crc8(b[fstart:hdr_end]) != b[hdr_end]:
            raise ValueError("FLAC: frame header CRC-8 mismatch")
        bits.rpos = (hdr_end + 1) * 8
        fr_ch: list = []
        for c in range(fch):
            # the side channel of a decorrelated pair carries one extra bit
            side_extra = 1 if (ch_asgn == 8 and c == 1) or \
                (ch_asgn == 9 and c == 0) or (ch_asgn == 10 and c == 1) \
                else 0
            if bits.r(1) != 0:
                raise ValueError("FLAC: bad subframe padding bit")
            stype = bits.r(6)
            wasted = 0
            if bits.r(1):
                wasted = bits.r_unary() + 1
            eff = fbps + side_extra - wasted
            if stype == 0:
                v = bits.r_signed(eff) << wasted
                fr_ch.append([v] * nb)
            elif stype == 1:
                fr_ch.append([bits.r_signed(eff) << wasted
                              for _ in range(nb)])
            elif 8 <= stype <= 12:
                order = stype - 8
                warm = [bits.r_signed(eff) for _ in range(order)]
                resid = _flac_read_residual(bits, nb, order)
                coefs = _FLAC_FIXED_COEFS[order]
                s = warm[:]
                for r in resid:
                    s.append(r + sum(co * s[-i - 1]
                                     for i, co in enumerate(coefs)))
                fr_ch.append([v << wasted for v in s])
            elif stype >= 32:
                order = (stype & 0x1F) + 1
                warm = [bits.r_signed(eff) for _ in range(order)]
                prec = bits.r(4)
                if prec == 0b1111:
                    raise ValueError("FLAC: invalid LPC precision")
                prec += 1
                shift = bits.r_signed(5)
                if shift < 0:
                    raise ValueError("FLAC: negative LPC shift is reserved")
                coefs = [bits.r_signed(prec) for _ in range(order)]
                resid = _flac_read_residual(bits, nb, order)
                s = warm[:]
                for r in resid:
                    pred = sum(coefs[j] * s[-1 - j]
                               for j in range(order)) >> shift
                    s.append(r + pred)
                fr_ch.append([v << wasted for v in s])
            else:
                raise ValueError("FLAC: reserved subframe type")
        if ch_asgn == 8:      # left-side: right = left - side
            left, side = fr_ch
            fr_ch = [left, [l - sd for l, sd in zip(left, side)]]
        elif ch_asgn == 9:    # right-side: left = right + side
            side, right = fr_ch
            fr_ch = [[r + sd for r, sd in zip(right, side)], right]
        elif ch_asgn == 10:   # mid-side
            mid, side = fr_ch
            lr = []
            for m, sd in zip(mid, side):
                m2 = (m << 1) | (sd & 1)
                lr.append(((m2 + sd) >> 1, (m2 - sd) >> 1))
            fr_ch = [[t[0] for t in lr], [t[1] for t in lr]]
        for c in range(len(fr_ch)):
            chans[c].extend(fr_ch[c])
        bits.r_align()
        fend = bits.rpos >> 3
        if _crc16(b[fstart:fend]) != int.from_bytes(b[fend:fend + 2], "big"):
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = fend + 2
    n = min(len(ch) for ch in chans) if chans else 0
    if n == 0 and n_total > 0:
        # header-only / truncated stream: STREAMINFO declares samples but
        # no frame carried them — not a decodable payload
        raise ValueError("FLAC: stream declares samples but has no frames")
    inter = np.empty(n * channels, dtype=np.float64)
    for c in range(channels):
        inter[c::channels] = chans[c][:n]
    if md5 and md5 != bytes(16) and bps == 16:
        got = hashlib.md5(inter.astype("<i2").tobytes()).digest()
        if got != md5:
            raise ValueError("FLAC: decoded PCM fails the STREAMINFO MD5")
    return rate, channels, bps, inter


def _flac_parse_samples(b: bytes):
    """_wav_parse-shaped adapter: (rate, ch, bits, interleaved float64)
    for supported FLAC streams, None for non-FLAC, malformed, or
    header-only fixture streams."""
    if len(b) < 4 or b[:4] != b"fLaC":
        return None
    try:
        got = _flac_decode(b)
    except (ValueError, IndexError, KeyError, struct.error):
        # _flac_decode raises ValueError on checksum/grammar violations,
        # but truncated/corrupt streams can also escape as IndexError
        # ('bytearray index out of range' mid-frame) or struct.error —
        # the same exception set the other media decoders swallow. A
        # malformed payload must yield null features, never fail the
        # whole Arrow batch's Spark task.
        return None
    if got is None:
        return None
    rate, ch, bps, inter = got
    return rate, ch, bps, inter


AUDIO_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("sample_sum", T.LongType()),
    T.StructField("energy", T.LongType()),
    T.StructField("zero_crossings", T.LongType()),
    T.StructField("rms", T.DoubleType()),
    T.StructField("spectral_centroid_hz", T.DoubleType()),
    T.StructField("spectral_rolloff_hz", T.DoubleType()),
])


def audio_features(df: DataFrame) -> DataFrame:
    """REAL audio feature extraction over PCM WAV payloads → one row per
    media_id with time-domain stats (sample_sum / energy / zero_crossings
    / rms — exact integer math, SQL-restatable for the oracle gate) and
    frequency-domain features (spectral centroid + 85% rolloff via numpy
    rFFT — validated against pure-tone fixtures in pytest; no SQL oracle
    since DuckDB has no FFT). Multi-channel audio is mixed down by
    averaging interleaved channels before analysis. The curation use:
    silence/clipping detection (rms, energy), noisiness (zero-crossing
    rate), and bandwidth screens (centroid/rolloff) over a speech corpus.
    FLAC payloads decode natively — all subframe types incl. LPC and all
    channel assignments incl. mid/side (_flac_decode — real Rice/CRC/MD5
    bitstream work, no codec library); other payloads yield null
    features."""
    import numpy as np

    def feats(b: bytes):
        got = _wav_parse(b) or _flac_parse_samples(b)
        if got is None:
            return None
        rate, ch, _bits, samples = got
        n = len(samples) // ch
        if n == 0:
            return (rate, ch, 0, 0, 0, 0, 0.0, None, None)
        mono = samples[:n * ch].reshape(n, ch).mean(axis=1)
        ssum = int(mono.sum())
        energy = int((mono ** 2).sum())
        zc = int(np.count_nonzero((mono[1:] < 0) != (mono[:-1] < 0)))
        rms = float(np.sqrt(energy / n))
        # Hann window before the FFT: a rectangular window's leakage tails
        # bias the magnitude-weighted centroid upward by hundreds of Hz
        mags = np.abs(np.fft.rfft(mono * np.hanning(n)))
        total = mags.sum()
        if total <= 0:
            return (rate, ch, n, ssum, energy, zc, rms, 0.0, 0.0)
        freqs = np.fft.rfftfreq(n, d=1.0 / rate)
        centroid = float((freqs * mags).sum() / total)
        rolloff = float(freqs[np.searchsorted(
            np.cumsum(mags), 0.85 * total)])
        return (rate, ch, n, ssum, energy, zc, rms, centroid, rolloff)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols = {k: [] for k in
                    ("sample_rate", "channels", "n_samples", "sample_sum",
                     "energy", "zero_crossings", "rms",
                     "spectral_centroid_hz", "spectral_rolloff_hz")}
            for c in pdf["content"]:
                got = feats(bytes(c)) if c is not None else None
                vals = got if got is not None else (None,) * 9
                for k, v in zip(cols, vals):
                    cols[k].append(v)
            yield pd.DataFrame({"media_id": pdf["media_id"], **cols})

    return df.mapInPandas(run, AUDIO_FEATURES_SCHEMA)


def synth_wav_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic 16-bit mono WAV per input row → MEDIA_SCHEMA.

    Per id: rate = 8000 Hz, n = 64 + id % 64 samples, sample value
    v(i) = ((id*37 + i*101) % 2048) - 1024. Self-oracle fixture for the
    audio path — sample_sum / energy / zero_crossings / rms have the same
    closed form in SQL (same pattern as synth_png_table / synth_y4m_table)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                n = 64 + mid % 64
                i = np.arange(n, dtype=np.int64)
                v = ((mid * 37 + i * 101) % 2048) - 1024
                ids.append(mid)
                blobs.append(_wav_encode(v.astype(np.int16), 8000, 1))
            yield pd.DataFrame({
                "media_id": ids, "kind": ["audio"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)


def synth_flac_table(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic 16-bit mono FLAC per input row →
    MEDIA_SCHEMA. SAME closed-form signal as synth_wav_table (rate 8000,
    n = 64 + id % 64, v(i) = ((id*37 + i*101) % 2048) - 1024) so the same
    SQL oracle values both containers — but encoded through the REAL FLAC
    bitstream (_flac_encode, block_size=32 so every file spans multiple
    frames and the frame loop, CRCs and MD5 all execute)."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs = [], []
            for mid in pdf[id_col]:
                mid = int(mid)
                n = 64 + mid % 64
                i = np.arange(n, dtype=np.int64)
                v = ((mid * 37 + i * 101) % 2048) - 1024
                ids.append(mid)
                blobs.append(_flac_encode(v.astype(np.int16), 8000,
                                          channels=1, block_size=32))
            yield pd.DataFrame({
                "media_id": ids, "kind": ["audio"] * len(ids),
                "content": blobs, "meta": [{}] * len(ids),
            })

    return df.select(id_col).mapInPandas(run, MEDIA_SCHEMA)
