"""Pipeline operator tests: dedup families on planted near-dups, similarity
search recall vs the exact baseline, text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from fermor_spark.pipeline import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def planted(spark):
    """Documents with planted exact and near duplicates."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, base.replace("today", "tomorrow")),  # near dup of 1
        (4, "completely different content about spark query engines and shuffles"),
        (5, "completely different content about spark query engines and shuffles ok"),  # near dup of 4
        (6, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(planted):
    out = dedup.exact_dedup(planted, ["text"], ["doc_id"])
    ids = {r["doc_id"] for r in out.collect()}
    assert 1 in ids and 2 not in ids
    assert out.count() == 5


def test_ngram_jaccard_pairs(planted):
    pairs = dedup.ngram_jaccard_pairs(planted, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup -> jaccard 1.0
    assert (1, 3) in got and (2, 3) in got
    assert (4, 5) in got
    assert all(a != 6 and b != 6 for a, b in got)


def test_minhash_lsh_finds_planted_dups(planted):
    pairs = dedup.minhash_dedup_pairs(planted, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (4, 5) in got


def test_minhash_on_real_docs_matches_bruteforce_jaccard(spark, docs):
    """LSH candidates must contain every true Jaccard>=0.8 pair (these are
    planted 25 pairs in the driver data)."""
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    assert len(true_pairs) > 0
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    }
    missed = true_pairs - lsh_pairs
    assert len(missed) <= max(1, len(true_pairs) // 10), f"LSH recall too low: missed {missed}"


def test_simhash_near_dups(planted):
    pairs = dedup.simhash_near_dup_pairs(planted, "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # identical text -> hamming 0
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert ham[(1, 2)] == 0


def test_simhash_pairs_match_brute_force_model(spark):
    """simhash_near_dup_pairs (portable variant) pinned against a pure-
    Python model of the WHOLE pipeline: md5-60 token hash, +1/-1 per-bit
    votes with sign(>0) digest, 4x15-bit banding (candidates = pairs
    sharing >=1 exact band), hamming on the full 60-bit values. Pins the
    documented semantics including banding recall: a pair within
    max_hamming that shares NO band is (by design) not a candidate."""
    import hashlib
    import random
    import re as _re

    rng = random.Random(1311)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(5, 20))))
            for i in range(30)]
    # plus an exact pair and a whitespace-only doc (one empty token)
    docs += [(100, docs[0][1]), (101, "   ")]

    def sim60(text):
        toks = _re.split(r"\s+", text.strip())
        votes = [0] * 60
        for tok in toks:
            h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
            for i in range(60):
                votes[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(60) if votes[i] > 0)

    sims = {i: sim60(t) for i, t in docs}

    def bands(s):
        return {(b, (s >> (b * 15)) & 0x7FFF) for b in range(4)}

    max_h = 8
    want = {}
    ids = sorted(sims)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if bands(sims[a]) & bands(sims[b]):
                h = bin(sims[a] ^ sims[b]).count("1")
                if h <= max_h:
                    want[(a, b)] = h

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_dup_pairs(
               df, "doc_id", "text", max_hamming=max_h,
               portable=True).collect()}
    assert got == want
    assert want, "vacuous: model produced no pairs"
    assert (0, 100) in want and want[(0, 100)] == 0  # the exact pair


def test_ngram_jaccard_prefix_filter_is_lossless(spark):
    """ngram_jaccard_pairs pinned against brute-force all-pairs Jaccard:
    prefix filtering (AllPairs, Bayardo WWW'07) is a LOSSLESS candidate
    pruning for Jaccard >= t, so the returned pair set and values must
    EQUAL the quadratic model exactly — on a templated corpus (shared
    boilerplate shingles, the case the prefix filter exists for) with
    near-dups at and straddling the threshold."""
    import random
    import re as _re

    rng = random.Random(99)
    template = ["the", "quick", "brown", "fox", "jumps", "over", "lazy"]
    docs = []
    for base_id in range(10):
        body = [rng.choice([f"u{base_id}_{k}" for k in range(30)])
                for _ in range(40)]
        text = " ".join(template + body)      # shared boilerplate prefix
        docs.append((base_id * 10, text))
        mut = list(body)
        for _ in range(rng.randint(1, 6)):    # near-dups of varying depth
            mut[rng.randrange(len(mut))] = f"m{rng.randrange(99)}"
        docs.append((base_id * 10 + 1, " ".join(template + mut)))

    def shingles(text):
        toks = _re.split(r"\s+", text.strip())
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(t) for i, t in docs}
    t = 0.8
    want = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sh[a] & sh[b])
            union = len(sh[a]) + len(sh[b]) - inter
            if union and inter / union >= t:
                want[(a, b)] = inter / union

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(
               df, "doc_id", "text", threshold=t).collect()}
    assert set(got) == set(want), (set(got) ^ set(want))
    for k, j in want.items():
        assert abs(got[k] - j) <= 5e-7, (k, got[k], j)
    assert want and any(j < 1.0 for j in want.values())


def test_embedding_buckets_match_brute_force_model(spark):
    """embedding_buckets pinned against a pure-Python model: hyperplane
    components from md5-derived hash_u64(f"{seed}:{plane}:{dim_index}")
    centered to [-1, 1), bucket bit = sign(v . plane) with >= 0 counting
    as 1, null vector -> "" bucket. Pins the deterministic plane spec and
    the Arrow matmul kernel together."""
    import numpy as np

    from fermor_spark.pipeline.similarity import hash_u64

    rng = np.random.RandomState(4242)
    rows = [(i, [float(x) for x in rng.uniform(-2, 2, 12)])
            for i in range(25)]
    rows += [(100, rows[0][1]), (101, None), (102, [0.0] * 12)]
    num_planes, seed, dim = 8, 42, 12

    planes = np.array([[ (hash_u64(f"{seed}:{p}:{d}") / 2**64) * 2.0 - 1.0
                         for d in range(dim)] for p in range(num_planes)])

    def bucket(vec):
        if vec is None:
            return ""
        dots = planes @ np.asarray(vec, dtype=np.float64)
        return "".join("1" if x >= 0 else "0" for x in dots)

    want = {i: bucket(v) for i, v in rows}
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["id"]: r["bucket"]
           for r in dedup.embedding_buckets(
               df, "vec_id", "embedding", num_planes, seed).collect()}
    assert got == want
    assert got[100] == got[0] and len(got[0]) == num_planes  # identical copy
    assert got[101] == ""                                    # null vector
    assert got[102] == "1" * num_planes                      # zero vec: 0 >= 0


def test_minhash_pairs_match_brute_force_model(spark):
    """minhash_dedup_pairs pinned against a pure-Python model of the
    WHOLE pipeline: distinct word-3-gram shingles, 16 md5(seed||shingle)
    string-min signatures, 8x2 banding (candidates share >=1 exact band
    key), exact-Jaccard verify at the threshold. Pins hash spec, shingle
    completeness (docs under 3 tokens yield none), banding recall, and
    the intersection-count verify in one assertion."""
    import hashlib
    import random
    import re as _re

    rng = random.Random(77)
    vocab = [f"w{k}" for k in range(40)]
    docs = []
    for base_id in range(8):
        base = [rng.choice(vocab) for _ in range(60)]
        docs.append((base_id * 10, " ".join(base)))
        mut = list(base)
        mut[rng.randrange(60)] = rng.choice(vocab)     # near-dup
        docs.append((base_id * 10 + 1, " ".join(mut)))
        if base_id % 3 == 0:
            docs.append((base_id * 10 + 2, " ".join(base)))  # exact dup
    docs.append((900, "one two"))                      # < 3 tokens: no shingles

    def shingles(text):
        toks = _re.split(r"\s+", text.strip())
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(t) for i, t in docs}

    def signature(ss):
        return [min(hashlib.md5((str(k) + s).encode()).hexdigest()
                    for s in ss) if ss else None
                for k in range(16)]

    sig = {i: signature(ss) for i, ss in sh.items()}

    def band_keys(sg):
        if sg[0] is None:
            return set()
        return {(b, sg[2 * b] + sg[2 * b + 1]) for b in range(8)}

    want = {}
    ids = sorted(sig)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            if band_keys(sig[a]) & band_keys(sig[b]):
                inter = len(sh[a] & sh[b])
                union = len(sh[a]) + len(sh[b]) - inter
                if union and inter / union >= 0.8:
                    want[(a, b)] = inter / union

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.minhash_dedup_pairs(df, "doc_id", "text").collect()}
    assert set(got) == set(want), (set(got) ^ set(want))
    for k, j in want.items():
        assert abs(got[k] - j) <= 5e-7, (k, got[k], j)
    # non-vacuity: exact dups at 1.0 AND at least one strict near-dup
    assert any(j == 1.0 for j in want.values())
    assert any(j < 1.0 for j in want.values())


def test_dedup_clusters(planted):
    pairs = dedup.ngram_jaccard_pairs(planted, "doc_id", "text", threshold=0.5)
    clusters = dedup.dedup_clusters(
        pairs.select(F.col("id_a").cast("string").alias("id_a"),
                     F.col("id_b").cast("string").alias("id_b")),
        planted.select(F.col("doc_id").cast("string")),
    )
    m = {r["id"]: r["cluster"] for r in clusters.collect()}
    assert m["1"] == m["2"] == m["3"]
    assert m["4"] == m["5"]
    assert m["6"] == "6"


def test_embedding_near_dup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),   # near dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = dedup.embedding_near_dup_pairs(df, "vec_id", "embedding", threshold=0.99)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}


def test_brute_force_topk(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(emb, q, k=5)
    rows = out.collect()
    assert len(rows) == 15
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
    # ranks are 1..5 per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    q = emb.where(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(emb, q, k=5)
    approx = similarity.lsh_topk(emb, q, k=5, num_planes=4, num_tables=8)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall {recall}"


def test_token_count(planted):
    out = {r["id"]: (r["n_tokens"], r["n_bpeish"]) for r in
           text.token_count(planted, "doc_id", "text").collect()}
    assert out[6] == (3, 3)
    assert out[1][0] == 13


def test_quality_score(planted):
    out = {r["id"]: r for r in text.quality_score(planted, "doc_id", "text").collect()}
    assert out[1]["stopword_ratio"] > 0.1  # 'the' twice + 'and'
    assert 0 < out[1]["score"] <= 1
    assert out[1]["alpha_ratio"] > 0.7


def test_lang_id_deterministic(spark, docs):
    out = text.lang_id(docs, "doc_id", "text")
    rows = out.collect()
    assert len(rows) == docs.count()
    assert all(r["lang"] in text.LANG_PROFILES for r in rows)
    # determinism: run twice, same result
    again = {(r["id"], r["lang"]) for r in text.lang_id(docs, "doc_id", "text").collect()}
    assert {(r["id"], r["lang"]) for r in rows} == again


def test_fingerprint_overlap(planted):
    pairs = text.fingerprint_overlap_pairs(planted, "doc_id", "text", min_shared=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) in got


def test_tfidf_top_terms_hand_computed(spark):
    from math import log

    from fermor_spark.pipeline.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "apple apple banana shared"), (2, "banana cherry shared"),
         (3, "cherry cherry cherry shared")],
        "doc_id long, text string")
    rows = tfidf_top_terms(df, "doc_id", "text", top_n=2).collect()
    got = {(r["id"], r["rank"]): (r["term"], r["tf"], r["score"]) for r in rows}
    # doc 1: apple tf=2 df=1 -> 2·ln3 ; banana tf=1 df=2 -> ln1.5
    assert got[(1, 1)] == ("apple", 2, round(2 * log(3), 6))
    assert got[(1, 2)] == ("banana", 1, round(log(1.5), 6))
    # doc 3: cherry tf=3 df=2 -> 3·ln1.5 ; then 'shared' (df=3 -> score 0)
    assert got[(3, 1)] == ("cherry", 3, round(3 * log(1.5), 6))
    assert got[(3, 2)] == ("shared", 1, 0.0)
    # ubiquitous terms score exactly 0 (plain idf, ln 1)
    assert all(s == 0.0 for (i, rk), (t, tf, s) in got.items() if t == "shared")


def test_multimodal_decode_stub(spark):
    rows = [
        (1, "image", bytes([10, 20, 30, 40]), {"source": "s1", "mime": "image/png"}),
        (2, "image", bytes([100, 5]), {"source": "s2", "mime": "image/jpeg"}),
    ]
    df = multimodal.media_table(spark, rows)
    decoded = {r["media_id"]: r for r in multimodal.decode_image(df, fake=True).collect()}
    assert decoded[1]["width"] == 11 and decoded[1]["height"] == 21
    assert decoded[1]["n_bytes"] == 4
    # PNG/GIF/baseline/progressive/lossless/ARITHMETIC-JPEG decode for
    # real now; arithmetic-LOSSLESS (SOF11) stays stubbed without fake=True
    alossless = (b"\xff\xd8\xff\xcb\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11"
                 b"\x00\xff\xd9")
    jpg = multimodal.media_table(
        spark, [(3, "image", alossless, {"source": "s", "mime": "image/jpeg"})])
    with pytest.raises(Exception):
        multimodal.decode_image(jpg, fake=False).collect()
    # truncated progressive files (SOF2/SOF10, no scans) degrade to null dims
    for mid, sof in ((4, b"\xc2"), (5, b"\xca")):
        prog = (b"\xff\xd8\xff" + sof
                + b"\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00\xff\xd9")
        trunc = multimodal.media_table(
            spark, [(mid, "image", prog, {"source": "s", "mime": "image/jpeg"})])
        r = multimodal.decode_image(trunc, fake=False).collect()[0]
        assert r["width"] is None


def test_multimodal_png_roundtrip_all_types(spark):
    """Encode with cycling filters 0-4, decode, compare exact pixels for
    every color type; plus 16-bit, low bit depths, palette, Adam7, and an
    externally-produced known PNG."""
    import base64

    import numpy as np

    from fermor_spark.pipeline.multimodal import _png_decode, _png_encode

    rng = np.random.RandomState(7)
    for (h, w, ch) in [(7, 5, 3), (1, 1, 1), (16, 13, 4), (9, 3, 2), (33, 31, 3)]:
        arr = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
        for mode in ("mixed", "none"):
            got = _png_decode(_png_encode(arr, filter_mode=mode))
            assert got is not None
            gw, gh, gch, px = got
            assert (gw, gh, gch) == (w, h, ch)
            assert np.array_equal(
                np.frombuffer(px, dtype=np.uint8).reshape(h, w, ch), arr)
    # externally-produced fixture (canonical 1x1 libpng output):
    # 50%-alpha red — validates against an independent encoder, so a
    # symmetric encode/decode bug cannot hide
    ext = base64.b64decode(
        "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mP8"
        "z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg==")
    assert _png_decode(ext) == (1, 1, 4, b"\xff\x00\x00\x7f")
    # malformed inputs degrade to None, never raise
    assert _png_decode(b"\x89PNG\r\n\x1a\njunk") is None
    assert _png_decode(b"notapng") is None


def test_multimodal_png_low_depth_palette_interlace(spark):
    """Hand-built PNGs for the container features the encoder doesn't
    emit: palette color (type 3), sub-byte depths, 16-bit, and Adam7."""
    import struct
    import zlib

    import numpy as np

    from fermor_spark.pipeline.multimodal import _png_decode

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + struct.pack(
            ">I", zlib.crc32(t + d) & 0xFFFFFFFF)

    def png(w, h, depth, ctype, raw, extra=b"", interlace=0):
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
        return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + extra
                + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))

    # palette: 4x1, 2-bit indices [0,1,2,3] packed into one byte 0b00011011
    plte = chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9]))
    got = _png_decode(png(4, 1, 2, 3, b"\x00\x1b", extra=plte))
    assert got == (4, 1, 3, bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 9, 9, 9]))
    # 1-bit grayscale 8x1: 0b10110001 → 255/0 pattern scaled to 8-bit
    got = _png_decode(png(8, 1, 1, 0, b"\x00\xb1"))
    assert got == (8, 1, 1, bytes([255, 0, 255, 255, 0, 0, 0, 255]))
    # 16-bit grayscale 2x1: samples 0x1234, 0xABCD → high bytes 0x12, 0xAB
    got = _png_decode(png(2, 1, 16, 0, b"\x00\x12\x34\xab\xcd"))
    assert got == (2, 1, 1, bytes([0x12, 0xAB]))
    # Adam7 interlaced 2x2 grayscale: passes 1 (x0y0), 4 (x1y0... ) — for
    # 2x2 the non-empty passes are p1:(0,0) p4... verify via brute pattern
    # pass order for 2x2: p1 = pixel(0,0); p5 = pixel(0..1? ) — build from
    # spec offsets: p1 x%8==0,y%8==0 → (0,0); p4 x%4==2? no (w=2): x=...
    # passes with pixels: p1 (0,0), p6 (1,0)? p6: x odd, y even → (1,0);
    # p7: y odd → (0,1),(1,1)
    raw = (b"\x00\x11"          # pass1: 1x1 row
           + b"\x00\x22"        # pass6: 1x1 row (x=1,y=0)
           + b"\x00\x33\x44")   # pass7: 2x1 row (y=1)
    got = _png_decode(png(2, 2, 8, 0, raw, interlace=1))
    assert got == (2, 2, 1, bytes([0x11, 0x22, 0x33, 0x44]))


def _gif_bytes(arr, palette, interlace=False, local=False, bg=0,
               compress=True):
    """Test-side GIF writer with a REAL LZW compressor (dictionary growth,
    width bumps) — an independent reference implementation, so decoding it
    exercises the multi-character-entry and code==next paths a literal-only
    stream never hits."""
    import struct

    import numpy as np

    h, w = arr.shape
    n = len(palette)
    bits = max(2, (n - 1).bit_length())
    size_field = bits - 1
    pal = b"".join(bytes(p) for p in palette) + bytes(3 * ((1 << bits) - n))
    lsd_packed = size_field if local else (0x80 | size_field)
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, lsd_packed, bg, 0)
    if not local:
        out += pal
    ipk = (0x40 if interlace else 0) | ((0x80 | size_field) if local else 0)
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, ipk)
    if local:
        out += pal
    mcs = max(2, bits)
    clear, end = 1 << mcs, (1 << mcs) + 1
    rows = arr
    if interlace:
        order = np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                                np.arange(2, h, 4), np.arange(1, h, 2)])
        rows = arr[order]
    vals = [int(v) for v in rows.reshape(-1)]
    by = bytearray()
    acc = nb = 0

    def emit(c, width):
        nonlocal acc, nb
        acc |= c << nb
        nb += width
        while nb >= 8:
            by.append(acc & 0xFF)
            acc >>= 8
            nb -= 8

    table = {(i,): i for i in range(clear)}
    width, nxt = mcs + 1, end + 1
    emit(clear, width)
    buf = ()
    for v in vals:
        cand = buf + (v,)
        if compress and cand in table:
            buf = cand
            continue
        if buf:
            emit(table[buf], width)
            table[cand] = nxt
            nxt += 1
            # encoder leads the decoder's table by one entry
            if nxt == (1 << width) + 1 and width < 12:
                width += 1
            if nxt >= 4096:
                emit(clear, width)
                table = {(i,): i for i in range(clear)}
                width, nxt = mcs + 1, end + 1
        buf = (v,)
    if buf:
        emit(table[buf], width)
    emit(end, width)
    if nb > 0:
        by.append(acc & 0xFF)
    out += bytes([mcs])
    for i in range(0, len(by), 255):
        blk = by[i:i + 255]
        out += bytes([len(blk)]) + bytes(blk)
    return out + b"\x00\x3b"


def test_multimodal_gif_decode(spark):
    import base64

    import numpy as np

    from fermor_spark.pipeline.multimodal import _gif_decode

    # externally-produced fixture: the canonical 1x1 transparent-GIF
    # tracking pixel (independent encoder — symmetric bugs cannot hide)
    ext = base64.b64decode(
        "R0lGODlhAQABAIAAAAAAAP///yH5BAEAAAAALAAAAAABAAEAAAIBRAA7")
    assert _gif_decode(ext) == (1, 1, 3, b"\x00\x00\x00")
    rng = np.random.RandomState(5)
    pal = [(i * 7 % 256, i * 13 % 256, i * 29 % 256) for i in range(16)]
    for (h, w) in [(1, 1), (5, 7), (23, 9)]:
        for interlace in (False, True):
            for local in (False, True):
                # runs make the stream genuinely compressible, exercising
                # dictionary entries and the code==next special case
                runs = rng.randint(0, 16, size=h * w // 3 + 1)
                arr = np.repeat(runs, 3)[: h * w].reshape(h, w).astype(np.uint8)
                got = _gif_decode(_gif_bytes(
                    arr, pal, interlace=interlace, local=local))
                assert got is not None, (h, w, interlace, local)
                gw, gh, gch, px = got
                exp = np.array(pal, dtype=np.uint8)[arr]
                assert (gw, gh, gch) == (w, h, 3)
                assert np.array_equal(
                    np.frombuffer(px, dtype=np.uint8).reshape(h, w, 3), exp)
    # decode_image routes GIF through the real decoder now
    arr = np.arange(12, dtype=np.uint8).reshape(3, 4) % 16
    df = multimodal.media_table(
        spark, [(1, "image", _gif_bytes(arr, pal), {"source": "s", "mime": "image/gif"})])
    r = multimodal.decode_image(df, fake=False).collect()[0]
    assert (r["width"], r["height"], r["channels"], r["n_bytes"]) == (4, 3, 3, 36)


# fixture encoders live in the library (the _png_encode convention); keep
# the historical local names for the tests below
from fermor_spark.pipeline.multimodal import (  # noqa: E402
    _jpeg_encode as _jpeg_bytes,
    _jpeg_prog_encode as _jpeg_prog_bytes,
)




def test_multimodal_jpeg_progressive_roundtrip():
    """Progressive decode must be pixel-EXACTLY equal to baseline decode of
    the same quantized coefficients (both paths reconstruct identical
    coefficient grids), and within the baseline error bounds vs the
    original. Covers gray, color 4:4:4, 4:2:0, non-multiple-of-8 sizes,
    successive approximation (al=1 with refinement scans) and
    spectral-selection-only (al=0), plus a narrow-band split that forces
    long EOB runs and ZRL-in-refinement paths."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _jpeg_decode

    def smooth(h, w, ch=None):
        yy, xx = np.mgrid[0:h, 0:w]
        base = (128 + 80 * np.sin(xx / 7.0) * np.cos(yy / 5.0))
        if ch is None:
            return base.astype(np.uint8)
        return np.stack(
            [np.clip(base + 20 * i, 0, 255) for i in range(ch)],
            axis=-1).astype(np.uint8)

    rng = np.random.RandomState(33)
    noisy = rng.randint(0, 256, size=(16, 16), dtype=np.uint8)
    cases = [
        (smooth(16, 16), {}, 4.0),
        (smooth(24, 17), {"al": 0}, 4.0),                      # spectral only
        (smooth(16, 16, 3), {}, 8.0),
        (smooth(21, 19, 3), {"subsample": True}, 14.0),
        (smooth(16, 16), {"al": 2}, 4.0),                      # 2 refine rounds
        (noisy, {"bands": ((1, 2), (3, 8), (9, 63))}, 60.0),   # EOB/ZRL heavy
        (smooth(32, 24, 3), {"subsample": True, "dri": 2}, 14.0),  # restarts
    ]
    for arr, kw, tol in cases:
        enc = _jpeg_prog_bytes(arr, **kw)
        got = _jpeg_decode(enc)
        assert got not in (None, "compressed"), kw
        gw, gh, gch, px = got
        ch = 1 if arr.ndim == 2 else 3
        assert (gw, gh, gch) == (arr.shape[1], arr.shape[0], ch), kw
        dec = np.frombuffer(px, dtype=np.uint8).astype(np.float64)
        exp = arr.reshape(-1).astype(np.float64)
        assert np.abs(dec - exp).mean() < tol, (kw, np.abs(dec - exp).mean())
        # exactness: baseline encode of the same image at the same q
        # quantizes to the same coefficients -> decodes must agree exactly
        sub = kw.get("subsample", False)
        base = _jpeg_decode(_jpeg_bytes(arr, subsample=sub))
        assert base not in (None, "compressed")
        assert np.array_equal(
            np.frombuffer(px, dtype=np.uint8),
            np.frombuffer(base[3], dtype=np.uint8)), kw


def test_multimodal_y4m_frames(spark):
    import numpy as np

    planes = [np.full((4, 6), 10 * i, dtype=np.uint8) for i in range(5)]
    chroma = bytes(2 * 3 * 2)  # C420: two 3x2 chroma planes
    y4m = b"YUV4MPEG2 W6 H4 F30:1 Ip A1:1 C420\n" + b"".join(
        b"FRAME\n" + p.tobytes() + chroma for p in planes)
    df = multimodal.media_table(
        spark, [(1, "video", y4m, {"source": "s", "mime": "video/x-y4m"})])
    rows = sorted(multimodal.frame_sample(df, every_n=2, max_frames=3).collect(),
                  key=lambda r: r["frame_index"])
    assert [r["frame_index"] for r in rows] == [0, 2, 4]
    assert all((r["width"], r["height"]) == (6, 4) for r in rows)
    assert [bytes(r["frame"]) for r in rows] == [
        planes[0].tobytes(), planes[2].tobytes(), planes[4].tobytes()]
    # mono chroma + truncated payload edge cases
    from fermor_spark.pipeline.multimodal import _y4m_frames
    mono = b"YUV4MPEG2 W2 H2 Cmono\n" + b"FRAME\n" + bytes([1, 2, 3, 4])
    assert _y4m_frames(mono, 1, 10) == (2, 2, [(0, bytes([1, 2, 3, 4]))])
    assert _y4m_frames(mono[:-2], 1, 10) is None
    assert _y4m_frames(b"nope", 1, 10) is None


def test_multimodal_jpeg_idct_matches_spec():
    """IDCT matrix form vs the spec's direct double sum (ITU T.81 A.3.3) —
    validates the transform independently of both encoder and decoder."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _jpeg_idct_matrix

    rng = np.random.RandomState(9)
    F = rng.randint(-200, 200, size=(8, 8)).astype(np.float64)
    T = _jpeg_idct_matrix()
    got = T.T @ F @ T
    exp = np.zeros((8, 8))
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / np.sqrt(2) if u == 0 else 1.0
                    cv = 1 / np.sqrt(2) if v == 0 else 1.0
                    s += (cu * cv / 4.0 * F[v, u]
                          * np.cos((2 * x + 1) * u * np.pi / 16)
                          * np.cos((2 * y + 1) * v * np.pi / 16))
            exp[y, x] = s
    assert np.allclose(got, exp, atol=1e-9)


def test_multimodal_jpeg_roundtrip():
    """Decode(encode(x)) ≈ x for gray / RGB 4:4:4 / RGB 4:2:0 / restart
    markers; JPEG is lossy so assert a tight error bound, not equality."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _jpeg_decode

    rng = np.random.RandomState(21)

    def smooth(h, w, ch=None):
        # low-frequency content keeps quantization error small and bounded
        yy, xx = np.mgrid[0:h, 0:w]
        base = (128 + 80 * np.sin(xx / 7.0) * np.cos(yy / 5.0))
        if ch is None:
            return base.astype(np.uint8)
        return np.stack(
            [np.clip(base + 20 * i, 0, 255) for i in range(ch)],
            axis=-1).astype(np.uint8)

    for (h, w), kw, tol in [
        ((16, 16), {}, 4.0),                      # gray
        ((24, 17), {}, 4.0),                      # gray, non-multiple-of-8
        ((16, 16), {"rgb": True}, 8.0),           # color 4:4:4
        ((21, 19), {"rgb": True, "subsample": True}, 14.0),  # 4:2:0
        ((32, 24), {"rgb": True, "dri": 2}, 8.0),  # restart markers
    ]:
        rgb = kw.pop("rgb", False)
        arr = smooth(h, w, 3 if rgb else None)
        got = _jpeg_decode(_jpeg_bytes(arr, **kw))
        assert got not in (None, "compressed"), (h, w, kw)
        gw, gh, gch, px = got
        assert (gw, gh, gch) == (w, h, 3 if rgb else 1)
        dec = np.frombuffer(px, dtype=np.uint8).reshape(
            h, w, gch).astype(np.float64)
        exp = arr.reshape(h, w, gch).astype(np.float64)
        err = np.abs(dec - exp).mean()
        assert err < tol, (h, w, kw, err)
    # flat image: DC-only closed form — decoded block must be exactly the
    # quantized-DC reconstruction round(round(8*(v-128)/q)*q/8)+128
    for v in (0, 77, 128, 200, 255):
        arr = np.full((8, 8), v, dtype=np.uint8)
        got = _jpeg_decode(_jpeg_bytes(arr, q=8))
        dec = np.frombuffer(got[3], dtype=np.uint8)
        expected = int(np.clip(round(round(8 * (v - 128) / 8) * 8 / 8 + 128
                                     + 0.5 - 0.5), 0, 255))
        assert (dec == expected).all(), (v, dec[0], expected)


def test_multimodal_jpeg_external_files(spark):
    """Real JPEGs produced by independent encoders (Python/IPython test
    fixtures) — dimensions + full entropy-stream consumption + plausible
    statistics. Skipped when the fixtures aren't on this system."""
    import os

    import numpy as np

    from fermor_spark.pipeline.multimodal import _jpeg_decode

    base = "/mnt/sandboxing/model_tools_env/v1/python/install/lib/python3.11"
    fixtures = [
        (f"{base}/site-packages/IPython/core/tests/2x2.jpg", (2, 2, 1)),
        (f"{base}/test/test_email/data/python.jpg", (16, 16, 3)),
    ]
    found = False
    for path, dims in fixtures:
        if not os.path.exists(path):
            continue
        found = True
        got = _jpeg_decode(open(path, "rb").read())
        assert got not in (None, "compressed"), path
        w, h, ch, px = got
        assert (w, h, ch) == dims, path
        a = np.frombuffer(px, dtype=np.uint8)
        assert len(a) == w * h * ch
        assert 0 < a.mean() < 255
    if not found:
        pytest.skip("external JPEG fixtures not present")


def test_jpeg_arith_libjpeg_interop():
    """Arithmetic-coded (SOF9/SOF10) decode against REAL libjpeg-turbo
    streams: each embedded pair holds the same image Huffman- and
    QM-coded; identical coefficients through one shared IDCT must yield
    byte-identical pixels. Covers sequential gray/4:2:0/4:4:4,
    progressive gray/4:2:0, and a restart_interval=2 stream (QM restart
    reinit), all with libjpeg's own DAC segments."""
    from fermor_spark.pipeline.multimodal import _jpeg_decode
    from tests.jpeg_arith_fixtures import PAIRS

    for name, huff, arith in PAIRS:
        rh = _jpeg_decode(huff)
        ra = _jpeg_decode(arith)
        assert not isinstance(ra, (str, type(None))), name
        assert ra[:3] == rh[:3] == (37, 29, ra[2]), name
        assert ra[3] == rh[3], f"{name}: arithmetic decode diverges"


def test_jpeg_arith_spark_gate_contract(spark):
    """synth_arith_jpeg_table → decode_image through mapInPandas: every
    arithmetic/baseline pair byte-matches (the driver gate's contract),
    across gray/color and restart-interval variants."""
    ids = [0, 1, 2, 5, 61, 122]
    d = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    dec = {r["media_id"]: r for r in multimodal.decode_image(
        multimodal.synth_arith_jpeg_table(d, "doc_id"),
        with_pixels=True).collect()}
    for mid in ids:
        a, b = dec[2 * mid], dec[2 * mid + 1]
        assert a["width"] == 8 + mid % 17 and a["height"] == 8 + mid % 13
        assert a["channels"] == (3 if mid % 2 else 1)
        assert a["content"] == b["content"], mid


def test_multimodal_png_spark_roundtrip(spark):
    """synth_png_table → decode_image(with_pixels) through mapInPandas:
    pixel_sum must equal the closed form (the driver-gated query's oracle)."""
    import numpy as np

    ids = spark.createDataFrame([(i,) for i in (0, 5, 97, 1234)], "doc_id long")
    media = multimodal.synth_png_table(ids, "doc_id")
    dec = {r["media_id"]: r for r in
           multimodal.decode_image(media, with_pixels=True).collect()}
    for mid in (0, 5, 97, 1234):
        w, h = 4 + mid % 13, 4 + mid % 11
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        arr = ((mid * 7919 + y * 131 + x * 31 + c * 17) % 256).astype(np.uint8)
        r = dec[mid]
        assert (r["width"], r["height"], r["channels"]) == (w, h, 3)
        assert r["pixel_sum"] == int(arr.sum())
        assert bytes(r["content"]) == arr.tobytes()


def _bmp_bytes(w, h, pixel_rows):
    """Minimal uncompressed 24-bit bottom-up BMP."""
    import struct

    row = ((24 * w + 31) // 32) * 4
    body = b"".join(bytes(r) + b"\x00" * (row - len(r)) for r in pixel_rows[::-1])
    header = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 0, 0, 0, 0))
    return header + body


def test_multimodal_decode_real_uncompressed(spark):
    # P6 PPM 2x2 RGB, with a comment line in the header
    ppm = b"P6\n# c\n2 2\n255\n" + bytes(range(12))
    # P5 PGM 3x1 grayscale
    pgm = b"P5\n3 1\n255\n" + bytes([7, 8, 9])
    # 24-bit BMP 2x2, bottom-up: top row pixels (BGR) 0..5, bottom 6..11
    bmp = _bmp_bytes(2, 2, [[0, 1, 2, 3, 4, 5], [6, 7, 8, 9, 10, 11]])
    df = multimodal.media_table(spark, [
        (1, "image", ppm, {"source": "s", "mime": "image/x-ppm"}),
        (2, "image", pgm, {"source": "s", "mime": "image/x-pgm"}),
        (3, "image", bmp, {"source": "s", "mime": "image/bmp"}),
        (4, "image", b"garbage", {"source": "s", "mime": "application/octet-stream"}),
    ])
    got = {r["media_id"]: r for r in multimodal.decode_image(df, fake=False).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["channels"], got[1]["n_bytes"]) == (2, 2, 3, 12)
    assert (got[2]["width"], got[2]["height"], got[2]["channels"], got[2]["n_bytes"]) == (3, 1, 1, 3)
    assert (got[3]["width"], got[3]["height"], got[3]["channels"], got[3]["n_bytes"]) == (2, 2, 3, 12)
    assert got[4]["width"] is None and got[4]["n_bytes"] is None


def test_multimodal_frame_sample(spark):
    rows = [(1, "video", bytes(range(16)), {"source": "s", "mime": "video/mp4"})]
    df = multimodal.media_table(spark, rows)
    frames = multimodal.frame_sample(df, every_n=4, max_frames=3, fake=True).collect()
    assert len(frames) == 3
    assert [f["frame_index"] for f in frames] == [0, 1, 2]


def test_multimodal_meta_features(spark):
    rows = [(1, "image", bytes([1, 2, 3]), {"source": "s1", "mime": "image/png"})]
    df = multimodal.media_table(spark, rows)
    out = multimodal.extract_meta_features(df).collect()[0]
    assert out["n_bytes"] == 3 and out["mime"] == "image/png"


def test_brute_force_topk_arrow_blocked_matches_exact(spark):
    # multi-block path (block_rows < corpus size) must merge to the same
    # exact top-k as the single-join formulation — and never collect the
    # corpus to the driver
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_force_topk(emb, q, k=3).collect()
    }
    blocked = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in similarity.brute_force_topk_arrow(emb, q, k=3, block_rows=100).collect()
    }
    assert blocked == exact


def test_cosine_pairs_exact_blocked_matches_single_block(spark):
    # multi-block grid (incl. off-diagonal block pairs, where the smaller id
    # can sit in either block) must emit exactly the single-block pair set
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    one = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs_exact(emb, 0.40, block_rows=10_000).collect()
    }
    many = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in similarity.cosine_pairs_exact(emb, 0.40, block_rows=64).collect()
    }
    assert many == one and len(one) > 0
    assert all(a < b for a, b in one)


def test_ngram_jaccard_hot_shingle_cap_exact(spark):
    # force the blocked+verify path (cap=2 makes the common preamble hot):
    # the planted near-dup pair must still be found with EXACT jaccard
    common = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"{common} unique{i} filler{i} words{i} here{i}") for i in range(8)]
    rows.append((100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    rows.append((101, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5,
                                       max_shingle_df=2)
    full = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped.collect()}
    exp = {(r["id_a"], r["id_b"]): r["jaccard"] for r in full.collect()}
    assert (100, 101) in got
    assert got[(100, 101)] == exp[(100, 101)]  # jaccard exact despite cap


def test_ivf_topk_recall(spark):
    # IVF coarse quantizer: recall@5 vs exact must be high with a good
    # probe budget, and perfect when probing every cell
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").cache()
    q = emb.where(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in similarity.ivf_topk(emb, q, k=5, n_centroids=8, nprobe=4).collect()}
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.6, recall
    full = {(r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk(emb, q, k=5, n_centroids=8, nprobe=8).collect()}
    assert full == exact  # probing all cells == exact search


def _png_bytes(w, h):
    import struct, zlib
    def chunk(typ, data):
        c = struct.pack(">I", len(data)) + typ + data
        return c + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x80" * (w * 3) for _ in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def _wav_bytes(rate, n, freq=440.0):
    import io, math, struct, wave
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(rate)
        w.writeframes(b"".join(
            struct.pack("<h", int(10000 * math.sin(2 * math.pi * freq * i / rate)))
            for i in range(n)))
    return buf.getvalue()


def test_parse_image_header_real_formats(spark):
    import struct
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 20
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 640, -480) + b"\x00" * 20
    jpeg = (b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"JF"
            + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", 240, 360) + b"\x03" + b"\x00" * 6 + b"\xff\xd9")
    rows = [(1, "image", _png_bytes(5, 7), {}), (2, "image", gif, {}),
            (3, "image", bmp, {}), (4, "image", jpeg, {}),
            (5, "image", b"not an image", {})]
    out = {r["media_id"]: (r["format"], r["width"], r["height"])
           for r in multimodal.parse_image_header(multimodal.media_table(spark, rows)).collect()}
    assert out[1] == ("png", 5, 7)
    assert out[2] == ("gif", 320, 200)
    assert out[3] == ("bmp", 640, 480)
    assert out[4] == ("jpeg", 360, 240)
    assert out[5] == (None, None, None)


def test_decode_wav_real(spark):
    rows = [(1, "audio", _wav_bytes(8000, 8000), {}),
            (2, "audio", b"garbage", {})]
    out = {r["media_id"]: r for r in
           multimodal.decode_wav(multimodal.media_table(spark, rows)).collect()}
    r1 = out[1]
    assert (r1["sample_rate"], r1["channels"], r1["bits_per_sample"]) == (8000, 1, 16)
    assert r1["n_samples"] == 8000
    assert abs(r1["duration_sec"] - 1.0) < 1e-9
    # RMS of a 10000-amplitude sine ~= 10000/sqrt(2)
    assert abs(r1["rms"] - 10000 / 2 ** 0.5) < 100
    assert out[2]["sample_rate"] is None


def test_audio_features_pure_tone(spark):
    # 440 Hz sine: spectral centroid/rolloff land on the tone, ZCR = 2f·t
    rate, n, freq = 8000, 4096, 440.0
    rows = [(1, "audio", _wav_bytes(rate, n, freq=freq), {}),
            (2, "audio", b"garbage", {})]
    out = {r["media_id"]: r for r in
           multimodal.audio_features(multimodal.media_table(spark, rows)).collect()}
    r1 = out[1]
    assert (r1["sample_rate"], r1["channels"], r1["n_samples"]) == (rate, 1, n)
    assert abs(r1["rms"] - 10000 / 2 ** 0.5) < 100
    assert abs(r1["spectral_centroid_hz"] - freq) < 60
    assert abs(r1["spectral_rolloff_hz"] - freq) < 30
    expected_zc = 2 * freq * n / rate
    assert abs(r1["zero_crossings"] - expected_zc) <= 3
    assert out[2]["sample_rate"] is None and out[2]["rms"] is None


def test_audio_features_matches_closed_form(spark):
    # synth_wav_table's documented closed form, recomputed independently
    import numpy as np
    ids = spark.createDataFrame([(0,), (89,), (178,)], "doc_id: long")
    media = multimodal.synth_wav_table(ids, "doc_id")
    out = {r["media_id"]: r for r in multimodal.audio_features(media).collect()}
    for mid in (0, 89, 178):
        n = 64 + mid % 64
        v = ((mid * 37 + np.arange(n) * 101) % 2048) - 1024
        r = out[mid]
        assert r["n_samples"] == n
        assert r["sample_sum"] == int(v.sum())
        assert r["energy"] == int((v ** 2).sum())
        assert r["zero_crossings"] == int(
            np.count_nonzero((v[1:] < 0) != (v[:-1] < 0)))
        assert abs(r["rms"] - float(np.sqrt((v ** 2).sum() / n))) < 1e-9


def test_audio_features_stereo_mixdown(spark):
    # L = -R interleaved → mono mixdown cancels to silence
    import numpy as np
    v = np.tile([5000, -5000], 256).astype(np.int16)
    rows = [(1, "audio", multimodal._wav_encode(v, 8000, channels=2), {})]
    r = multimodal.audio_features(multimodal.media_table(spark, rows)).collect()[0]
    assert (r["channels"], r["n_samples"]) == (2, 256)
    assert r["energy"] == 0 and r["rms"] == 0.0
    assert r["spectral_centroid_hz"] == 0.0


def test_resize_image_raw(spark):
    import numpy as np
    img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
    rows = [(1, "image", img.tobytes(), {"width": "6", "height": "4"})]
    out = multimodal.resize_image_raw(
        multimodal.media_table(spark, rows), out_w=3, out_h=2).collect()
    assert len(out) == 1 and out[0]["width"] == 3 and out[0]["height"] == 2
    got = np.frombuffer(out[0]["content"], dtype=np.uint8).reshape(2, 3, 3)
    exp = img[[0, 2]][:, [0, 2, 4]]
    assert (got == exp).all()


def test_repetition_metrics_values(spark):
    rows = [
        (1, "a a a a"),          # one distinct token; bigram 'a a' ×3
        (2, "a b c d"),          # all distinct; 3 distinct bigrams
        (3, "solo"),             # no bigram -> null fraction
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: r for r in text.repetition_metrics(df, "doc_id", "text").collect()}
    assert out[1]["dup_token_frac"] == 0.75 and out[1]["top_bigram_frac"] == 1.0
    assert out[2]["dup_token_frac"] == 0.0
    assert abs(out[2]["top_bigram_frac"] - 0.3333) < 1e-9
    assert out[3]["n_tokens"] == 1 and out[3]["top_bigram_frac"] is None


def test_pack_sequences_layout(spark):
    # 3 docs of 4 tokens each, capacity 6: doc2 starts at 4 (straddles bin 0
    # into bin 1), doc3 starts at 8 (bin 1, offset 2)
    rows = [(1, "w w w w"), (2, "x x x x"), (3, "y y y y")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["id"]: (r["bin_id"], r["bin_offset"])
           for r in text.pack_sequences(df, "doc_id", "text", capacity=6).collect()}
    assert out == {1: (0, 0), 2: (0, 4), 3: (1, 2)}


def test_pack_sequences_sharded_independent(spark):
    rows = [(1, "w w w", "s1"), (2, "x x x", "s2"), (3, "y y y", "s1")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["id"]: (r["source"], r["bin_id"], r["bin_offset"])
           for r in text.pack_sequences(df, "doc_id", "text", capacity=4,
                                        shard_col="source").collect()}
    # each shard packs from offset 0 independently
    assert out == {1: ("s1", 0, 0), 2: ("s2", 0, 0), 3: ("s1", 0, 3)}


def test_contamination_pairs_and_decontaminate(spark, planted):
    # bench = docs 1 and 4; train = the rest. Doc 2 is an exact copy of 1,
    # doc 3 a near copy; doc 5 extends 4; doc 6 shares nothing.
    bench = planted.where(F.col("doc_id").isin(1, 4))
    train = planted.where(~F.col("doc_id").isin(1, 4))
    pairs = dedup.contamination_pairs(train, bench, n=3, min_overlap=2)
    got = {(r["train_id"], r["bench_id"]): r for r in pairs.collect()}
    assert (2, 1) in got and got[(2, 1)]["bench_frac"] == 1.0  # exact copy
    assert (3, 1) in got and got[(3, 1)]["bench_frac"] < 1.0   # near copy
    assert (5, 4) in got
    assert all(t != 6 for (t, _) in got)  # unrelated doc never flagged

    clean = dedup.decontaminate(train, bench, n=3, min_overlap=2,
                                min_bench_frac=0.5)
    ids = {r["doc_id"] for r in clean.collect()}
    assert 2 not in ids and 3 not in ids and 5 not in ids and 6 in ids


def test_redact_pii_planted(spark):
    rows = [
        (1, "contact me at alice@example.com or +1-555-123-4567 today"),
        (2, "see https://spark.apache.org/docs and 10.0.0.1 for details"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.redact_pii(df, "text").collect()}
    assert out[1]["pii_email"] == 1 and out[1]["pii_phone"] == 1
    assert "<email>" in out[1]["text_redacted"] and "<phone>" in out[1]["text_redacted"]
    assert "alice" not in out[1]["text_redacted"]
    assert out[2]["pii_url"] == 1 and out[2]["pii_ipv4"] == 1
    assert "<url>" in out[2]["text_redacted"] and "<ipv4>" in out[2]["text_redacted"]
    assert out[3]["text_redacted"] == "nothing sensitive here"

    # Java-regex vs RE2 agreement on matching inputs: replay the oracle's
    # DuckDB formulation over the same planted rows
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    dk = {}
    for kind, pat in text.PII_PATTERNS:
        for did, red in con.execute(
            "SELECT doc_id, regexp_replace(text, ?, ?, 'g') FROM t",
            [pat, f"<{kind}>"],
        ).fetchall():
            dk.setdefault(did, {})[kind] = red
    spark_single = {
        (r["doc_id"], kind): r["red"]
        for kind, pat in text.PII_PATTERNS
        for r in df.select(
            "doc_id", F.regexp_replace("text", pat, f"<{kind}>").alias("red")
        ).collect()
    }
    for did in (1, 2, 3):
        for kind, _ in text.PII_PATTERNS:
            assert spark_single[(did, kind)] == dk[did][kind], (did, kind)


def test_semantic_assign_matches_numpy(spark):
    import numpy as np

    rows = [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(6)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["id"]: r["cluster"] for r in
           similarity.semantic_assign(df, k=4).collect()}

    X = np.array([v for _, v in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    C = Xn[:4]  # seeds = 4 lowest ids
    expect = np.argmax(Xn @ C.T, axis=1)
    assert got == {i: int(expect[i]) for i in range(40)}


def test_semantic_assign_explicit_centroids(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<float>",
    )
    out = {r["id"]: r["cluster"] for r in similarity.semantic_assign(
        df, centroids=[[1.0, 0.0], [0.0, 1.0]], centroid_ids=[100, 200]
    ).collect()}
    assert out == {1: 100, 2: 200, 3: 100}


def test_semantic_assign_blocks_dedup(spark, docs):
    """cluster ids partition the corpus -> downstream dedup never all-pairs"""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = similarity.semantic_assign(emb, k=8)
    sizes = out.groupBy("cluster").count()
    assert out.count() == emb.count()
    assert sizes.count() <= 8


def test_chunk_documents_boundaries(spark):
    from fermor_spark.pipeline.text import chunk_documents
    text = " ".join(f"t{i}" for i in range(10))   # 10 tokens
    df = spark.createDataFrame([(1, text), (2, "a b"), (3, "x")],
                               "doc_id long, text string")
    out = chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=2)
    rows = {(r["id"], r["chunk_index"]): (r["n_tokens"], r["chunk_text"])
            for r in out.collect()}
    # doc 1: step=2, n_chunks = ceil((10-2)/2) = 4 -> starts 0,2,4,6
    assert rows[(1, 0)] == (4, "t0 t1 t2 t3")
    assert rows[(1, 1)] == (4, "t2 t3 t4 t5")
    assert rows[(1, 3)] == (4, "t6 t7 t8 t9")
    assert len([k for k in rows if k[0] == 1]) == 4
    # short docs: single chunk, possibly shorter than chunk_tokens
    assert rows[(2, 0)] == (2, "a b")
    assert rows[(3, 0)] == (1, "x")
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


def test_bigram_logprob_hand_computed(spark):
    import math

    from fermor_spark.pipeline.text import bigram_logprob
    # corpus: "a b a b" (bigrams: a b, b a, a b), "a b" (a b), "x" (none)
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "x")], "doc_id long, text string")
    out = {r["id"]: r["logprob"] for r in
           bigram_logprob(df, "doc_id", "text").collect()}
    # counts: c("a b")=3, c("b a")=1; prefixes: c(a .)=3, c(b .)=1; V=2
    p_ab = (3 + 1.0) / (3 + 2)       # p(b|a)
    p_ba = (1 + 1.0) / (1 + 2)       # p(a|b)
    exp1 = round((2 * math.log(p_ab) + math.log(p_ba)) / 3, 6)
    exp2 = round(math.log(p_ab), 6)
    assert out[1] == exp1
    assert out[2] == exp2
    assert 3 not in out              # no bigrams -> no row


def test_bpe_train_hand_computed(spark):
    from fermor_spark.pipeline.text import bpe_train
    # Sennrich-style fixture: counts low:5 lower:2 newest:3 widest:1
    df = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower"),
         (3, "newest newest newest"), (4, "widest")],
        "doc_id long, text string")
    merges = bpe_train(df, "doc_id", "text", num_merges=4)
    # pair counts: (l,o)=7 ties (o,w)=7 -> lexicographic smallest first;
    # then (lo,w)=7, (low,</w>)=5, then the 4-count tie resolves to (e,s)
    assert merges == [("l", "o"), ("lo", "w"), ("low", "</w>"), ("e", "s")]


def test_bpe_encode_counts_hand_computed(spark):
    from fermor_spark.pipeline.text import bpe_encode_counts
    df = spark.createDataFrame([(1, "low lower"), (2, "x")],
                               "doc_id long, text string")
    out = {r["id"]: r["n_bpe_tokens"] for r in
           bpe_encode_counts(df, "doc_id", "text",
                             [("l", "o"), ("lo", "w")]).collect()}
    # low -> [low, </w>] = 2 ; lower -> [low, e, r, </w>] = 4
    assert out[1] == 6
    # x -> [x, </w>] = 2 (no rule applies)
    assert out[2] == 2


def test_bpe_train_size_guard(spark):
    """The driver-side word-table collect is threshold-gated: over
    max_words it raises loudly instead of OOMing, and min_count filters
    rare words before the collect (exact above the floor)."""
    import pytest

    from fermor_spark.pipeline.text import bpe_train

    df = spark.createDataFrame(
        [(1, "low low low low low"), (2, "lower lower"),
         (3, "newest newest newest"), (4, "widest")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="max_words"):
        bpe_train(df, "doc_id", "text", max_words=2)
    # min_count floor drops widest(1) and lower(2); the remaining corpus
    # low:5 newest:3 still trains the same leading merges
    merges = bpe_train(df, "doc_id", "text", num_merges=3, min_count=3)
    assert merges[:3] == [("l", "o"), ("lo", "w"), ("low", "</w>")]
    # the floor can rescue an otherwise-over-cap corpus
    assert bpe_train(df, "doc_id", "text", num_merges=1,
                     min_count=3, max_words=2) == [("l", "o")]


def test_bpe_train_then_encode_compresses(spark, docs):
    from fermor_spark.pipeline.text import bpe_encode_counts, bpe_train, token_count
    merges = bpe_train(docs, "doc_id", "text", num_merges=24)
    assert len(merges) > 0
    enc = {r["id"]: r["n_bpe_tokens"] for r in
           bpe_encode_counts(docs, "doc_id", "text", merges).collect()}
    # BPE tokens are strictly fewer than characters and at least the
    # whitespace word count (each word is >= 1 token + its end marker)
    words = {r["id"]: r["n_tokens"] for r in
             token_count(docs, "doc_id", "text").collect()}
    for i, n in enc.items():
        assert n >= words[i]


def test_quantize_embeddings_roundtrip_error_bound(spark):
    import numpy as np
    rows = [(i, [float(x) for x in np.random.RandomState(i).uniform(-3, 3, 16)])
            for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = similarity.quantize_embeddings(df)
    deq = {r["id"]: r["embedding"] for r in
           similarity.dequantize_embeddings(q).collect()}
    scales = {r["id"]: r["scale"] for r in q.collect()}
    qvals = {r["id"]: r["qvec"] for r in q.collect()}
    for i, vec in rows:
        assert all(abs(v) <= 127 for v in qvals[i])
        # symmetric rounding: |x - q*scale| <= scale/2
        for orig, rec in zip(vec, deq[i]):
            assert abs(orig - rec) <= scales[i] / 2 + 1e-12, (orig, rec)


def test_quantize_arrow_matches_expression_form(spark):
    """The Arrow quantize kernel is semantics-pinned against the previous
    column-expression form (scale = max(|v|)/levels clamp 1e-12, F.round
    HALF-UP, null vector → (1e-12, null), empty → (1e-12, []), null
    element → null int, ragged rows legal)."""
    import numpy as np

    rows = [(i, [float(x) for x in np.random.RandomState(100 + i).uniform(-5, 5, 16)])
            for i in range(40)]
    # magnitude sweep: scales from subnormal-adjacent through 1e15 (incl.
    # sub-clamp vectors where scale pins at 1e-12) — the kernel and the
    # expression form must agree at every magnitude, not just O(1) data
    rows += [(2000 + j,
              [float(x) * 10.0 ** e for x in
               np.random.RandomState(7 + j).uniform(-1, 1, 8)])
             for j, e in enumerate((-15, -12, -9, -3, 3, 9, 15))]
    # exact half-way ratios: v = [2.5, -2.5, 127.0] with max 127 → scale 1.0
    # and the cross-binade tie trap: x/scale = 0.49999999999999994 (the
    # largest double below 0.5) — floor(|r|+0.5) rounds it to 1 because
    # the ADDITION lands tie-even on exactly 1.0; Spark's BigDecimal
    # HALF_UP says 0. The kernel must agree with Spark.
    rows += [(999, [0.49999999999999994, -0.49999999999999994, 127.0]),
             (1000, [2.5, -2.5, 127.0]),
             (1001, []),                        # empty
             (1002, None),                      # null vector
             (1003, [0.0, 0.0]),                # zero vector → clamped scale
             (1004, [1.0, None, -3.0]),         # null element
             (1005, [4.0])]                     # ragged (width 1)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # the previous implementation, verbatim, as the semantic oracle
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.greatest(F.array_max(F.transform(v, F.abs)) / F.lit(127.0),
                       F.lit(1e-12))
    old = df.select(
        F.col("vec_id").alias("id"), scale.alias("scale"),
        F.transform(v, lambda x: F.round(x / scale, 0).cast("int")).alias("qvec"))
    want = {r["id"]: (r["scale"], r["qvec"]) for r in old.collect()}
    got = {r["id"]: (r["scale"], r["qvec"])
           for r in similarity.quantize_embeddings(df).collect()}
    assert set(want) == set(got)
    for i in want:
        ws, wq = want[i]
        gs, gq = got[i]
        assert gs == ws, (i, gs, ws)
        assert gq == wq, (i, gq, wq)


def test_quantized_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = emb.where(F.col("vec_id") < 10)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.brute_force_topk_arrow(emb, qs, k=5).collect()}
    quant = {(r["query_id"], r["neighbor_id"])
             for r in similarity.quantized_topk(emb, qs, k=5).collect()}
    recall = len(exact & quant) / len(exact)
    assert recall >= 0.9, recall


def test_duplicated_spans_semantics(spark):
    """ESD k-gram span semantics on a hand-built corpus: a shared 12-char
    substring between two docs yields exactly one maximal span per doc
    covering it (with k=8: duplicated positions 0..4 merge to [0, 12));
    a doc with no repeated 8-gram yields no span; an in-document repeat
    (the paper's any-repeat semantics) is also caught."""
    import pandas as pd

    from fermor_spark.pipeline.dedup import duplicated_spans

    shared = "ABCDEFGHIJKL"                      # 12 chars, shared by 1+2
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [
            shared + "xqzwvu1743",               # span [0, 12)
            "mmnnoo" + shared,                   # span [6, 18)
            "zyxwvutsrqpon0123456",              # unique: no spans
            "PPQQRRSS--PPQQRRSS--",              # self-repeat "PPQQRRSS--"
        ],
    }))
    got = {(r.doc_id, r.span_start, r.span_end, r.span_len)
           for r in duplicated_spans(docs, k=8).collect()}
    assert (1, 0, 12, 12) in got
    assert (2, 6, 18, 18 - 6) in got
    assert not any(t[0] == 3 for t in got)
    # doc 4: "PPQQRRSS--" appears at 0 and 10; 8-grams at pos 0..2 equal
    # 8-grams at pos 10..12 -> duplicated positions {0,1,2,10,11,12} merge
    # into [0,10) and [10,20)
    assert (4, 0, 10, 10) in got and (4, 10, 20, 10) in got
    assert len([t for t in got if t[0] == 4]) == 2
    # min_span filter drops the length-10 self-repeat spans, keeps the 12s
    short = duplicated_spans(docs, k=8, min_span=11).collect()
    assert {(r.doc_id, r.span_len) for r in short} == {(1, 12), (2, 12)}


def test_span_coverage_decision_metric(spark):
    """span_coverage reports EVERY doc of length >= k: duplicated docs
    carry sum-of-span lengths, clean docs report 0 (left-join semantics),
    and sub-k docs are excluded (no k-gram can exist)."""
    import pandas as pd

    from fermor_spark.pipeline.dedup import span_coverage

    shared = "ABCDEFGHIJKL"
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 4],
        "text": [shared + "xqzwvu1743",          # 22 chars, 12 dup
                 "mmnnoo" + shared,              # 18 chars, 12 dup
                 "zyxwvutsrqpon0123456",         # clean
                 "tiny"],                        # < k: excluded
    }))
    got = {r.doc_id: (r.n_chars, r.dup_chars, r.dup_frac)
           for r in span_coverage(docs, k=8).collect()}
    assert got == {1: (22, 12, round(12 / 22, 4)),
                   2: (18, 12, round(12 / 18, 4)),
                   3: (20, 0, 0.0)}


def test_video_metadata_three_containers(spark):
    """video_metadata parses all three containers header-only: Y4M (frame
    walk), AVI (avih/strh), mp4 (box walk, video-track selection with an
    audio trak FIRST); malformed payloads produce null-field rows, never
    errors."""
    rows = [
        (1, "video", multimodal._avi_encode(64, 48, 12), {}),
        (2, "video", multimodal._mp4_encode(128, 96, 10, with_audio=True), {}),
        (3, "video", b"YUV4MPEG2 W6 H4 F25:1 C420\n"
         + (b"FRAME\n" + bytes(24 + 12)) * 3, {}),
        (4, "video", b"garbage not a container", {}),
    ]
    df = multimodal.media_table(spark, rows)
    got = {r.media_id: r for r in multimodal.video_metadata(df).collect()}
    assert (got[1].container, got[1].codec, got[1].width, got[1].height,
            got[1].n_frames, got[1].n_tracks, got[1].duration_s) == (
        "avi", "MJPG", 64, 48, 12, 1, 0.48)
    assert (got[2].container, got[2].codec, got[2].width, got[2].height,
            got[2].n_frames, got[2].n_tracks, got[2].duration_s) == (
        "mp4", "avc1", 128, 96, 10, 2, 0.4)
    assert (got[3].container, got[3].codec, got[3].width, got[3].height,
            got[3].n_frames) == ("y4m", "rawvideo", 6, 4, 3)
    assert got[4].container is None and got[4].width is None


def test_audio_metadata_three_containers(spark):
    """audio_metadata parses WAV/FLAC/MP3 headers without sample decode;
    an ID3v2-tagged MP3 and a malformed payload are handled."""
    import numpy as np

    rows = [
        (1, "audio", multimodal._wav_encode(
            np.zeros(700, dtype=np.int16), 16000), {}),
        (2, "audio", multimodal._flac_encode_meta(44100, 2, 16, 123456), {}),
        (3, "audio", b"ID3\x04\x00\x00\x00\x00\x00\x05" + bytes(5)
         + multimodal._mp3_encode_meta(4), {}),
        (4, "audio", b"not audio at all", {}),
    ]
    df = multimodal.media_table(spark, rows)
    got = {r.media_id: r for r in multimodal.audio_metadata(df).collect()}
    assert (got[1].container, got[1].codec, got[1].sample_rate,
            got[1].channels, got[1].bits, got[1].n_samples,
            got[1].duration_s) == ("wav", "pcm16", 16000, 1, 16, 700, 0.04375)
    assert (got[2].container, got[2].sample_rate, got[2].channels,
            got[2].n_samples, got[2].duration_s) == (
        "flac", 44100, 2, 123456, round(123456 / 44100 + 5e-7, 6))
    assert (got[3].container, got[3].sample_rate, got[3].bits,
            got[3].n_samples) == ("mp3", 44100, None, 4 * 1152)
    assert got[4].container is None and got[4].sample_rate is None


def test_duration_rounding_is_half_up_exact():
    """The 6-decimal duration must use exact integer HALF-UP rounding:
    1061 samples at 16000 Hz is exactly 66312.5 us — float round() gives
    66312 (banker's), while every SQL oracle rounds half-away to 66313.
    This is the r7 tie that hash-mismatched the gate before _dur6."""
    from fermor_spark.pipeline.multimodal import _dur6, _flac_encode_meta, _flac_meta

    assert _dur6(1061, 16000) == 0.066313
    assert _flac_meta(_flac_encode_meta(16000, 2, 16, 1061))[6] == 0.066313


def test_jsonl_roundtrip_exact_text(spark, tmp_path):
    """JSONL export/ingest must round-trip text EXACTLY — including the
    characters JSON must escape (quotes, backslashes, newlines, tabs,
    unicode) — and recover the partition column from directory keys."""
    from fermor_spark.pipeline.sink import read_corpus_jsonl, write_corpus_jsonl

    rows = [
        (1, 'he said "hi"\nand left\ttab', "en"),
        (2, "backslash \\ and / slash é中文", "zh"),
        (3, "", "en"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    path = str(tmp_path / "jsonl")
    write_corpus_jsonl(d, path, partition_by=("lang",), compression="gzip")
    back = read_corpus_jsonl(spark, path, schema=d.schema)
    got = sorted((r.doc_id, r.text, r.lang) for r in back.collect())
    assert got == sorted(rows)


def test_tar_shards_roundtrip_and_idempotent_bytes(spark, tmp_path):
    """WebDataset tar shards: exact text round trip (unicode, JSON-hostile
    characters, empty text), metadata JSON recovered per sample, shard
    assignment deterministic — and the shard BYTES are a pure function of
    the rows (normalized tar headers): writing twice produces identical
    files, so re-runs are byte-idempotent."""
    import os

    from fermor_spark.pipeline.sink import read_corpus_tar, write_corpus_tar

    rows = [
        (1, 'he said "hi"\nand left\ttab', "en", "s0"),
        (2, "backslash \\ and é中文", "zh", "s1"),
        (3, "", "en", "s0"),
        (4, "plain", "fr", "s2"),
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")

    def write(p):
        write_corpus_tar(d, p, key_col="doc_id", text_col="text",
                         meta_cols=("lang", "source"), n_shards=3)
        return {f: open(f"{p}/{f}", "rb").read()
                for f in sorted(os.listdir(p))}

    b1 = write(str(tmp_path / "a"))
    b2 = write(str(tmp_path / "b"))
    assert b1.keys() == b2.keys() and all(b1[f] == b2[f] for f in b1)

    back = read_corpus_tar(spark, str(tmp_path / "a"))
    got = {int(r["key"]): (r["text"], r["meta"]) for r in back.collect()}
    assert sorted(got) == [1, 2, 3, 4]
    for doc_id, text, lang, src in rows:
        assert got[doc_id][0] == text
        assert got[doc_id][1] == (
            '{"lang": "%s", "source": "%s"}' % (lang, src))
    # corrupt shard: LOUD named failure, never an anonymous stack trace
    import pytest as _pytest

    bad = tmp_path / "c"
    bad.mkdir()
    (bad / "shard-00000.tar").write_bytes(b"garbage not a tar file" * 30)
    with _pytest.raises(Exception, match="not a valid tar shard"):
        read_corpus_tar(spark, str(bad)).collect()


def test_tar_shards_loud_failure_contracts(spark, tmp_path):
    """r12 (VERDICT #4 + ADVICE): duplicate keys within a shard fail the
    WRITE loudly (read would collapse them last-wins), and a shard whose
    sample lacks its .txt member fails the READ loudly (data loss, not an
    empty document)."""
    import io
    import tarfile

    import pytest as _pytest

    from fermor_spark.pipeline.sink import read_corpus_tar, write_corpus_tar

    dup = spark.createDataFrame(
        [(7, "first"), (7, "second"), (8, "ok")],
        "doc_id long, text string")
    with _pytest.raises(Exception, match="duplicate sample key"):
        write_corpus_tar(dup, str(tmp_path / "dup"), key_col="doc_id",
                         text_col="text", n_shards=1)

    # hand-build a shard with a .json member but no .txt twin
    incomplete = tmp_path / "inc"
    incomplete.mkdir()
    with tarfile.open(incomplete / "shard-00000.tar", "w") as tar:
        data = b"{}"
        info = tarfile.TarInfo("42.json")
        info.size = len(data)
        tar.addfile(info, io.BytesIO(data))
    with _pytest.raises(Exception, match="missing a .txt or .json member"):
        read_corpus_tar(spark, str(incomplete)).collect()

    # a killed task's leftover .part temp file is invisible to the
    # reader (writes rename to .tar only on clean close), and a shard
    # TRUNCATED mid-archive fails loudly instead of silently parsing
    # as a complete-but-smaller shard
    ok = tmp_path / "ok"
    d2 = spark.createDataFrame([(1, "alpha"), (2, "beta")],
                               "doc_id long, text string")
    write_corpus_tar(d2, str(ok), key_col="doc_id", text_col="text",
                     n_shards=1)
    (ok / "shard-00099.tar.part").write_bytes(b"half-written garbage")
    got2 = {int(r["key"]) for r in read_corpus_tar(spark, str(ok)).collect()}
    assert got2 == {1, 2}
    full = (ok / "shard-00000.tar").read_bytes()
    # truncation at a MEMBER BOUNDARY: data complete, end-of-archive
    # marker missing — CPython tarfile parses this silently as a
    # complete-but-smaller archive, so the reader must catch it via the
    # marker check, not rely on a ReadError
    with tarfile.open(fileobj=io.BytesIO(full)) as t:
        t.getmembers()
        data_end = t.offset
    (ok / "shard-00000.tar").write_bytes(full[:data_end])
    with _pytest.raises(Exception, match="end-of-archive marker"):
        read_corpus_tar(spark, str(ok)).collect()
    (ok / "shard-00000.tar").write_bytes(full[:137])  # mid-header cut
    with _pytest.raises(Exception, match="not a valid tar shard"):
        read_corpus_tar(spark, str(ok)).collect()


def test_gopher_quality_rules(spark):
    """Hand-computed Gopher rule checks: a healthy doc passes; too-short,
    bullet-dominated, ellipsis-heavy, and symbol-heavy docs fail exactly
    the rule they violate; stopword presence counts DISTINCT hits."""
    base = ("the quick brown fox and that dog have fun with energy to "
            "spare of course be good ")
    rows = [
        (1, base * 5),                          # 85 words, all rules pass
        (2, "short text"),                      # < 50 words
        (3, "- a\n- b\n- c\nplain " + base * 4),  # 3/5 bullet lines: passes
        (4, ("- x\n" * 19) + base * 4),         # 19/20 bullet lines: fails
        (5, base * 4 + " ####" * 40),           # symbol ratio > 0.1
        (6, ("so... " * 30) + "\n" + base * 4), # '...' symbols but 2 lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from fermor_spark.pipeline.text import gopher_quality

    got = {r.id: r for r in gopher_quality(df, "doc_id", "text").collect()}
    assert got[1].passes and got[1].stop_hits == 8
    assert got[1].n_words == 85
    assert not got[2].passes and got[2].n_words == 2
    assert got[3].passes and got[3].frac_bullet_lines == 0.75
    assert not got[4].passes and got[4].frac_bullet_lines == 0.95
    assert not got[5].passes and got[5].symbol_ratio > 0.1
    # doc 6: 30 ellipsis occurrences /(30*1 + 68+...) words — symbol rule
    assert not got[6].passes


def test_line_dedup_c4_semantics(spark):
    """C4 line-dedup drops EVERY occurrence of a corpus-duplicated line
    (not just repeats), reassembles survivors in original order, and
    reports fully-duplicated docs with an empty cleaned_text."""
    from fermor_spark.pipeline.dedup import line_dedup

    rows = [
        (1, "unique one\nSHARED LINE\nunique two"),
        (2, "SHARED LINE\nonly here"),
        (3, "SHARED LINE"),                 # nothing survives
        (4, "alpha\nbeta\ngamma"),          # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_lines, r.kept_lines, r.cleaned_text)
           for r in line_dedup(df).collect()}
    assert got[1] == (3, 2, "unique one\nunique two")
    assert got[2] == (2, 1, "only here")
    assert got[3] == (1, 0, "")
    assert got[4] == (3, 3, "alpha\nbeta\ngamma")


def test_cut_spans_splice(spark):
    """cut_spans removes exactly the duplicated spans and keeps everything
    else in order: two docs sharing a long substring lose it; min_span
    spares short repeats; clean docs pass through byte-identical."""
    from fermor_spark.pipeline.dedup import cut_spans

    shared = "0123456789ABCDEF"                 # 16 chars, k=8 spans
    rows = [
        (1, "head-" + shared + "-tail"),
        (2, shared + "::suffix-unique-2"),
        (3, "totally unique content here x"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_chars, r.cut_chars, r.cleaned_text)
           for r in cut_spans(df, k=8).collect()}
    assert got[1] == (26, 16, "head--tail")
    assert got[2] == (33, 16, "::suffix-unique-2")
    assert got[3] == (29, 0, "totally unique content here x")
    # min_span larger than the shared run spares it
    spared = {r.doc_id: r.cleaned_text
              for r in cut_spans(df, k=8, min_span=20).collect()}
    assert spared[1] == rows[0][1] and spared[2] == rows[1][1]


def test_gopher_repetition_rules(spark):
    """Hand-computed repetition checks: in-doc duplicated lines count ALL
    occurrences; top-n-gram char fraction = occurrences x n-gram length /
    text length; clean prose passes, repeated-line and repeated-phrase
    docs fail their specific rule."""
    from fermor_spark.pipeline.text import gopher_repetition

    rows = [
        (1, "the cat sat on the mat today\nanother line of text here now"),
        (2, "same line\nsame line\nsame line\nother"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in gopher_repetition(df, "doc_id", "text").collect()}
    assert got[2].n_lines == 4 and got[2].dup_line_frac == 0.75
    # dup chars: 3 x len("same line")=9 -> 27 of (27 + 5) line chars
    assert got[2].dup_line_char_frac == round(27 / 32 + 5e-7, 4)
    assert not got[2].passes
    assert got[1].dup_line_frac == 0.0


def test_c4_filters_rules(spark):
    """C4 rule checks: terminal-punct/3-word/javascript line filters with
    ordered reassembly; page flags for sentences/brace/lorem ipsum."""
    from fermor_spark.pipeline.text import c4_filters

    rows = [
        (1, 'Good first sentence here.\nshort\nProper second sentence now!'
            '\nthis line uses javascript today.\nEnds with a quote"'),
        (2, "code { body }\nOne two three. Four five six. Seven eight. "
            "Nine ten. Final words here."),
        (3, "lorem ipsum dolor sit amet."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.id: r for r in c4_filters(df, "doc_id", "text").collect()}
    assert got[1].kept_lines == 3
    assert got[1].cleaned_text == ('Good first sentence here.\n'
                                   'Proper second sentence now!\n'
                                   'Ends with a quote"')
    assert not got[1].passes and got[1].n_sentences == 3
    assert got[2].has_brace and not got[2].passes and got[2].n_sentences == 5
    assert got[3].has_lorem and not got[3].passes


def test_curate_e2e_nonvacuous(spark):
    """The composed curation gate must actually gate: a funnel that drops
    every document would still hash-match a correctly-empty oracle, so the
    non-vacuity is asserted here — survivors exist, every split is
    nonempty at the fixture scale, and the funnel DID drop documents
    (quality/dedup/decontamination all bite on this corpus)."""
    from fermor_spark.queries import QUERIES
    from fermor_spark.datasets import table

    sf = "/root/testdata/sf0.001"
    out = {r["split"]: r for r in
           QUERIES["pipeline_curate_e2e"](spark, sf).collect()}
    total_docs = table(spark, sf, "documents").count()
    survivors = sum(r["n_docs"] for r in out.values())
    assert set(out) == {"train", "val", "test"}
    assert 0 < survivors < total_docs
    assert all(r["n_docs"] > 0 and r["sum_chars"] > 0 for r in out.values())


def test_crawl_e2e_nonvacuous(spark):
    """The full-crawl gate must actually gate (an all-empty funnel still
    hash-matches an all-empty oracle): survivors exist, every split is
    nonempty, and the politeness gates DID drop documents — the gated
    corpus is strictly smaller than the source, which is itself strictly
    smaller than the 2x-crawled URL set the normalization collapsed."""
    from fermor_spark.datasets import table
    from fermor_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = {r["split"]: r for r in
           QUERIES["pipeline_crawl_e2e"](spark, sf).collect()}
    total_docs = table(spark, sf, "documents").count()
    survivors = sum(r["n_docs"] for r in out.values())
    assert set(out) == {"train", "val", "test"}
    assert 0 < survivors < total_docs
    assert all(r["n_docs"] > 0 and r["sum_chars"] > 0 for r in out.values())
    # the politeness gates bite: src0 (blocklist) and the odd-source
    # /private/ docs (robots) are absent from every split by construction
    gated = table(spark, sf, "documents").where(
        "source != 'src0' AND NOT (CAST(substr(source, 4, 10) AS INT) % 2 "
        "= 1 AND doc_id % 3 = 0)").count()
    assert survivors <= gated < total_docs


def test_semantic_dedup_drops_near_dups_keeps_min_id(spark):
    """Constructed corpus: two near-identical vectors (cosine ~1) plus an
    orthogonal one. The near-dup pair resolves to one component; the min
    id survives, the other is dropped; the orthogonal vector is kept.
    Clusters come from the 2 lowest-id seed centroids."""
    from fermor_spark.pipeline.similarity import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.999, 0.01, 0.0]),   # near-dup of 1, same cluster
        (4, [0.0, 0.9, 0.3]),      # cluster 2, cosine(2,4)=0.949 < 0.995
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r for r in
           semantic_dedup(df, threshold=0.995, k=2).collect()}
    assert len(got) == 4
    assert got[1]["kept"] and not got[3]["kept"]
    assert got[1]["cluster"] == got[3]["cluster"] == 1
    assert got[2]["kept"] and got[4]["kept"]
    assert got[2]["cluster"] == got[4]["cluster"] == 2


def test_semantic_dedup_assigns_once(spark):
    """One semantic_dedup call runs the centroid assignment once: exactly
    one SQL execution's plan holds semantic_assign's MapInPandas (the
    lazy checkpoint's), and every later job reads the checkpoint instead
    of re-running the matmul's Python tasks."""
    from fermor_spark.pipeline.similarity import semantic_dedup
    from tests.fixtures import executed_plan_nodes

    rows = [(i, [float(i % 3 == 0), float(i % 3 == 1), 1.0 + i % 5])
            for i in range(1, 41)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = []
    plans = executed_plan_nodes(
        spark, lambda: out.extend(
            semantic_dedup(df, threshold=0.99, k=3).collect()))
    assert len(out) == 40 and 0 < sum(r["kept"] for r in out) < 40
    assigning = [eid for eid, nodes in plans.items()
                 if any(name.startswith("MapInPandas")
                        and desc.split()[1].startswith("assign(")
                        for name, desc in nodes)]
    assert len(assigning) == 1, plans


def test_classifier_score_decision_and_normalization(spark):
    """The integerized decision reproduces exactly: per-token weight =
    (md5-int(tok) % 4096 % 997) - 498, passes = sum > 0, score =
    half-up(sum / (997 * n), 4). Checked against a Python recomputation
    on a mixed-token doc and a single-token doc."""
    import hashlib

    from fermor_spark.pipeline.text import classifier_score

    def w(tok: str) -> int:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return (h % 4096) % 997 - 498

    rows = [(1, "alpha beta gamma delta"), (2, "zzz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["id"]: r for r in classifier_score(df, "doc_id", "text").collect()}
    for doc_id, text in rows:
        toks = text.split()
        s = sum(w(t) for t in toks)
        import math
        exp_score = math.floor(s * 10000.0 / (997 * len(toks)) + 0.5) / 10000.0
        assert got[doc_id]["n_tokens"] == len(toks)
        assert got[doc_id]["passes"] == (s > 0)
        assert got[doc_id]["score"] == exp_score


def test_curate_v2_nonvacuous_and_every_stage_bites(spark):
    """The model-based funnel (rules -> classifier -> SemDeDup -> split)
    must actually gate at every stage: an all-pass classifier or a
    no-pair SemDeDup would still hash-match the oracle. Asserts the
    composed output is nonempty per split AND each stage strictly
    shrinks the corpus. Runs at sf0.01 — the driver gate's scale, and the
    smallest at which the SemDeDup stage has a within-cluster pair to drop
    (at sf0.001 the 205 survivors contain no cosine>=0.45 pair)."""
    from pyspark.sql import functions as F

    from fermor_spark.datasets import table
    from fermor_spark.pipeline.similarity import semantic_dedup
    from fermor_spark.pipeline.text import classifier_score, repetition_metrics
    from fermor_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    d = table(spark, sf, "documents").select("doc_id", "text")
    n0 = d.count()
    rep = repetition_metrics(d, "doc_id", "text")
    s1 = d.join(
        rep.where((F.col("n_tokens") >= 20) & (F.col("dup_token_frac") <= 0.65))
        .select(F.col("id").alias("doc_id")), "doc_id", "left_semi")
    n1 = s1.count()
    s2 = s1.join(
        classifier_score(s1, "doc_id", "text").where("passes")
        .select(F.col("id").alias("doc_id")), "doc_id", "left_semi")
    n2 = s2.count()
    emb = table(spark, sf, "embeddings").join(
        s2.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi")
    sd = semantic_dedup(emb, threshold=0.45, k=8)
    n3 = sd.where("kept").count()
    assert n0 > n1 > n2 > n3 > 0, (n0, n1, n2, n3)

    from fermor_spark.queries import RETIRED_QUERIES
    out = {r["split"]: r for r in
           {**QUERIES, **RETIRED_QUERIES}["pipeline_curate_v2"](
               spark, sf).collect()}
    assert set(out) == {"train", "val", "test"}
    assert sum(r["n_docs"] for r in out.values()) == n3
    assert all(r["n_docs"] > 0 and r["sum_chars"] > 0 for r in out.values())


def test_classifier_score_trained_model_drop_in(spark):
    """The documented extension point (pipeline.text.classifier_score: 'a
    trained model drops in by replacing the closed-form weight formula
    with a broadcast weight lookup') proven real: score a tiny corpus
    against a literal weight table via broadcast join and assert equality
    with a plain numpy/python reference over the same hashed features."""
    import hashlib

    from pyspark.sql import functions as F

    from fermor_spark.pipeline.text import _id_tokens

    dim = 64
    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lazy dogs sleep all day long"),
         (3, "the the the the")], "doc_id long, text string")
    # trained model state: one weight per feature index (literal table)
    weights = [(i, float((i * 37) % 21 - 10)) for i in range(dim)]
    wdf = spark.createDataFrame(weights, "feat long, w double")

    toks = _id_tokens(docs, "doc_id", "text")
    feat = (F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15),
                   16, 10).cast("long") % dim)
    scored = (
        toks.withColumn("feat", feat)
        .join(F.broadcast(wdf), "feat")        # the trained-model lookup
        .groupBy("id")
        .agg(F.sum("w").alias("score"), F.count("*").alias("n_tokens"))
    )
    got = {r["id"]: (r["score"], r["n_tokens"]) for r in scored.collect()}

    wmap = dict(weights)
    for doc_id, text in [(1, "the quick brown fox"),
                         (2, "lazy dogs sleep all day long"),
                         (3, "the the the the")]:
        toks_py = [t for t in text.strip().split() if t]
        feats = [int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % dim
                 for t in toks_py]
        want = sum(wmap[f] for f in feats)
        assert got[doc_id][1] == len(toks_py)
        assert abs(got[doc_id][0] - want) < 1e-9, (doc_id, got[doc_id], want)


def test_token_budget_fill_then_cut_per_source(spark):
    """Constructed manifest: the crossing document is INCLUDED (budget is
    a target mass, not a ceiling), later documents are cut, sources fill
    independently, and priority (desc) orders the fill with id as the
    tiebreak."""
    from fermor_spark.pipeline.sample import token_budget

    rows = [
        # source a: priorities 9,8,7 -> fills 60+50=110 >= 100 at doc 2,
        # doc 3 (priority 7) must be cut
        (1, "a", 60, 9), (2, "a", 50, 8), (3, "a", 40, 7),
        # source b: equal priorities -> id order; 30+30+30=90 < 100, the
        # 4th doc crosses (120) and is included, nothing remains after
        (10, "b", 30, 5), (11, "b", 30, 5), (12, "b", 30, 5),
        (13, "b", 30, 5), (14, "b", 30, 5),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_tokens long, prio long")
    out = token_budget(df, "doc_id", "source", "n_tokens", budget=100,
                       priority_col="prio")
    got = {(r["source"], r["doc_id"]): r["cum_tokens"] for r in out.collect()}
    assert set(got) == {("a", 1), ("a", 2),
                        ("b", 10), ("b", 11), ("b", 12), ("b", 13)}
    assert got[("a", 2)] == 110      # crossing doc included, mass audited
    assert got[("b", 13)] == 120


def test_warc_roundtrip_adversarial_payloads(spark):
    """WARC write→read reproduces payload bytes exactly even when bodies
    embed CRLFCRLF blank lines and literal 'WARC/1.0' version strings —
    record parsing is Content-Length-driven, never delimiter scanning.
    Covers per-record gzip members (the Common Crawl layout) and plain
    files, and the HTTP envelope strip (status/content-type recovered)."""
    from fermor_spark.pipeline import warc

    rows = [(f"http://x.example/{i}",
             ("p-" + "x\r\n\r\nWARC/1.0\r\n" * (i % 3) + f"doc{i}é")
             .encode("utf-8"))
            for i in range(40)] + [("http://x.example/empty", b"")]
    df = spark.createDataFrame(rows, "url string, payload binary")
    import shutil
    import tempfile
    tmp = tempfile.mkdtemp()
    try:
        for sub, compress in (("gz", True), ("plain", False)):
            warc.write_warc(df, f"{tmp}/{sub}", n_files=3, compress=compress)
            back = warc.read_warc(spark, f"{tmp}/{sub}").collect()
            got = {r["url"]: bytes(r["payload"]) for r in back}
            assert got == dict(rows), sub
            assert all(r["http_status"] == 200 for r in back)
            assert all(r["content_type"].startswith("text/plain")
                       for r in back)
            assert all(r["record_type"] == "response" for r in back)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_warc_sink_skips_null_rows(spark):
    """The sink null-row rule: a null url or null payload contributes NO
    record (nothing addressable to write) instead of raising TypeError
    inside the writer task — one failed-extraction row must never kill a
    crawl-scale write (found by the null-injection sweep)."""
    from fermor_spark.pipeline import warc

    rows = [("http://x.example/a", b"alpha"),
            (None, b"orphan-payload"),
            ("http://x.example/null-payload", None),
            ("http://x.example/b", b"beta")]
    df = spark.createDataFrame(rows, "url string, payload binary")
    import shutil
    import tempfile
    tmp = tempfile.mkdtemp()
    try:
        warc.write_warc(df, f"{tmp}/w", n_files=2)
        got = {r["url"]: bytes(r["payload"])
               for r in warc.read_warc(spark, f"{tmp}/w").collect()}
        assert got == {"http://x.example/a": b"alpha",
                       "http://x.example/b": b"beta"}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_warc_warcinfo_filter_and_malformed(spark):
    """warcinfo records are filtered by default but reachable via
    record_types; a truncated record fails loudly (ValueError), never
    yields partial rows."""
    import pytest as _pytest

    from fermor_spark.pipeline.warc import _parse_warc_stream, warc_bytes

    blob = warc_bytes([{"url": "http://a", "payload": b"hello"}],
                      warcinfo=True, compress=False)
    rows = list(_parse_warc_stream("f", blob))
    assert [r[1] for r in rows] == ["warcinfo", "response"]
    assert rows[1][6] == b"hello" and rows[1][4] == 200
    with _pytest.raises(ValueError):
        list(_parse_warc_stream("f", blob[:-10]))
    with _pytest.raises(ValueError):
        list(_parse_warc_stream("f", b"NOTWARC/1.0\r\nx: y\r\n\r\n"))


def test_wet_conversion_records_roundtrip(spark, tmp_path):
    """Common Crawl WET shape: conversion records (raw text payload, no
    HTTP envelope) written per-record-gzip read back byte-exactly via
    read_wet; the default read_warc (response records) sees none of
    them, and a mixed file splits cleanly by record type."""
    from fermor_spark.pipeline.warc import read_warc, read_wet, warc_bytes

    recs = [{"url": f"http://w/{i}", "type": "conversion",
             "payload": f"extracted text {i} é".encode("utf-8")}
            for i in range(6)] \
        + [{"url": "http://w/html", "payload": b"<html>raw</html>"}]
    blob = warc_bytes(recs, compress=True)
    d = tmp_path / "wet"
    d.mkdir()
    (d / "part-00000.warc.wet.gz").write_bytes(blob)
    wet = {r["url"]: bytes(r["payload"])
           for r in read_wet(spark, str(d), glob="*.wet*").collect()}
    assert wet == {f"http://w/{i}": f"extracted text {i} é".encode("utf-8")
                   for i in range(6)}
    resp = read_warc(spark, str(d), glob="*.wet*").collect()
    assert [bytes(r["payload"]) for r in resp] == [b"<html>raw</html>"]


def test_warc_single_member_size_guard():
    """A gzip member that decompresses past max_member_bytes fails
    LOUDLY with the re-chunking message — zlib's max_length caps the
    decompression itself, so the executor never pays the memory before
    the guard trips. Per-record members of the same total size pass:
    the bound is per member, not per file."""
    import gzip as _gzip

    import pytest as _pytest

    from fermor_spark.pipeline.warc import _iter_warc_records, warc_bytes

    recs = [{"url": f"http://h/{i}", "payload": bytes(64)} for i in range(8)]
    one_member = _gzip.compress(warc_bytes(recs, compress=False))
    with _pytest.raises(ValueError, match="max_member_bytes"):
        list(_iter_warc_records("big.warc.gz", one_member,
                                max_member_bytes=1024))
    # the SAME records as per-record members each sit under the bound
    per_record = warc_bytes(recs, compress=True)
    rows = list(_iter_warc_records("ok.warc.gz", per_record,
                                   max_member_bytes=1024))
    assert sum(1 for r in rows if r[1] == "response") == 8
    # default bound: normal small files are untouched
    assert list(_iter_warc_records("d.warc.gz", one_member))


def test_html_extract_semantics():
    """Extractor unit contract: entities decode, script/style/template
    subtrees drop, <br> breaks lines, block tags delimit, link-dense
    blocks (nav/footer) are boilerplate, inline links in prose survive,
    titles recover, malformed input degrades without raising."""
    from fermor_spark.pipeline.html import extract_html

    t, x, nb, nl, lang, noindex = extract_html(
        '<html><head><title> A&amp;B </title><style>p{}</style>'
        '<script>var s="<p>no</p>";</script></head><body>'
        '<nav><a href="/">Home</a> <a href="/b">Blog</a></nav>'
        '<p>one&nbsp;two &lt;3&gt;</p><p>line<br>break</p>'
        '<p>prose with <a href="x">a link</a> kept by density</p>'
        '<footer><a href="/t">T</a>·<a href="/p">P</a></footer>'
        '</body></html>')
    assert t == "A&B"
    assert x == "one two <3>\nline break\nprose with a link kept by density"
    assert nb == 3 and nl == 5
    assert lang is None and noindex is False
    assert extract_html("<p>unclosed <b>bold")[1] == "unclosed bold"
    assert extract_html("")[1] == ""
    # all-boilerplate page extracts to empty text, not None
    assert extract_html('<div><a href="/">only links</a></div>')[1] == ""
    # declared language + robots directive surface for curation
    r = extract_html('<html lang="de"><head><meta name="Robots" '
                     'content="noindex,nofollow"></head><p>x</p></html>')
    assert r[4] == "de" and r[5] is True


def test_html_to_text_spark_binary_and_null(spark):
    """The Arrow-batched wrapper handles binary payloads (the WARC
    composition shape), nulls, and column-name prefixing."""
    from fermor_spark.pipeline.html import html_to_text

    rows = [(1, "<html><title>T1</title><p>alpha beta</p></html>".encode()),
            (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, html binary")
    got = {r["doc_id"]: r for r in
           html_to_text(df, col="html").collect()}
    assert got[1]["extracted_text"] == "alpha beta"
    assert got[1]["extracted_title"] == "T1"
    assert got[2]["extracted_text"] is None


def test_read_warc_html_matches_composition(spark, tmp_path):
    """The fused reader equals html_to_text(read_warc(...), col="payload")
    row for row and column for column: over a per-record-gzip file and a
    plain one, with a conversion record (filtered out by the default
    record_types), a payload that is not valid UTF-8, HTML the parser
    rejects (the all-null extraction row), and a non-default prefix,
    link-density bound and record_types."""
    from fermor_spark.pipeline.html import html_to_text
    from fermor_spark.pipeline.warc import (read_warc, read_warc_html,
                                            warc_bytes)

    nav = ('<p><a href="/a">seventy percent links</a> and prose</p>'
           '<p>kept body</p>')
    recs = [
        {"url": "http://w/ok", "payload":
            b'<html lang="en"><title>T &amp; U</title><p>alpha beta</p></html>'},
        {"url": "http://w/nav", "payload": nav.encode()},
        {"url": "http://w/bad-utf8", "payload": b"<p>bad \xff\xfe bytes</p>"},
        {"url": "http://w/malformed", "payload": b"<![ foo ]>"},
        {"url": "http://w/empty", "payload": b""},
        {"url": "http://w/conv", "type": "conversion",
         "payload": b"<p>extracted text</p>"},
    ]
    (tmp_path / "a.warc.gz").write_bytes(warc_bytes(recs[:3], compress=True))
    (tmp_path / "b.warc").write_bytes(warc_bytes(recs[3:], compress=False))
    path = str(tmp_path)

    def rows(df):
        return sorted((tuple(r) for r in df.collect()),
                      key=lambda r: (r[0], r[2]))

    for kw in ({}, {"record_types": ("response", "conversion"),
                    "max_link_density": 0.9, "prefix": "x_"}):
        reader_kw = {k: v for k, v in kw.items() if k == "record_types"}
        extract_kw = {k: v for k, v in kw.items() if k != "record_types"}
        fused = read_warc_html(spark, path, **kw)
        composed = html_to_text(read_warc(spark, path, **reader_kw),
                                col="payload", **extract_kw)
        assert fused.schema == composed.schema, kw
        got = rows(fused)
        assert got == rows(composed), kw
        by_url = {r[2]: r for r in got}
        assert ("http://w/conv" in by_url) == bool(kw), kw
        assert by_url["http://w/malformed"][7:] == (None,) * 6
        assert "\ufffd" in by_url["http://w/bad-utf8"][8]
        assert by_url["http://w/ok"][7:] == ("T & U", "alpha beta", 1, 0,
                                              "en", False)
        # the link-density bound reaches the extractor: 0.5 drops the
        # link-heavy block, 0.9 keeps it
        assert by_url["http://w/nav"][8].startswith(
            "seventy" if kw else "kept body")


def test_url_normalize_semantics(spark):
    """Canonicalization unit contract: case, default ports, slash
    cleanup, tracking-param removal with order preserved, fragment drop,
    empty-query drop, malformed -> null; both blocklist paths (literal
    arrays_overlap and suffix-explode join) agree including suffix
    matches and null hosts."""
    from fermor_spark.pipeline.url import (domain_filter, url_host,
                                           url_normalize)

    cases = {
        "HTTP://Ads.Example.COM:80/Path//x/?utm_source=a&id=7&fbclid=z#f":
            ("http://ads.example.com/Path/x?id=7", False),
        "https://www.Example.org:443/a/b?x=1&utm_campaign=c&y=2":
            ("https://www.example.org/a/b?x=1&y=2", True),
        "https://example.net:8080//": ("https://example.net:8080/", True),
        "http://example.com": ("http://example.com/", True),
        "http://Sub.ADS.example.com/p?ref=s":
            ("http://sub.ads.example.com/p", False),
        "http://notads.example.com/": ("http://notads.example.com/", True),
        "notaurl": (None, True),
    }
    df = spark.createDataFrame([(c,) for c in cases], "url string")
    out = domain_filter(url_host(url_normalize(df, "url"), "url"),
                        "host", ["ads.example.com"])
    got = {r["url"]: (r["norm_url"], r["kept"]) for r in out.collect()}
    assert got == cases
    bl = spark.createDataFrame([("ads.example.com",)], "domain string")
    got2 = {r["url"]: r["kept"] for r in domain_filter(
        url_host(df, "url"), "host", bl).collect()}
    assert got2 == {u: k for u, (_, k) in cases.items()}


def test_robots_rules_semantics():
    """RFC 9309 unit contract: group selection (exact token beats '*',
    stacked user-agent lines, merged duplicate groups), longest-match
    precedence with allow winning ties, '*' wildcards, '$' anchors,
    empty-Disallow ignored, comments stripped, no-match -> allowed."""
    from fermor_spark.pipeline.url import parse_robots, robots_allowed

    txt = """# corpus politeness
User-agent: gptbot
Disallow: /

User-agent: *
Disallow: /private/
Disallow: /tmp*
Allow: /private/press/
Disallow: /*.pdf$
Disallow:
Allow: /

User-agent: otherbot
User-agent: thirdbot
Disallow: /shared/
"""
    star = parse_robots(txt, "*")
    for path, exp in [("/", True), ("/public/x", True),
                      ("/private/doc", False), ("/private/press/x", True),
                      ("/tmpfile", False), ("/a/b.pdf", False),
                      ("/a/b.pdfx", True), ("/a.pdf/c", True)]:
        assert robots_allowed(path, star) == exp, path
    assert robots_allowed("/", parse_robots(txt, "GPTBot")) is False
    assert robots_allowed("/shared/x", parse_robots(txt, "thirdbot")) is False
    assert robots_allowed("/private/x", parse_robots(txt, "nobody")) is False
    assert robots_allowed("/anything", parse_robots("", "*")) is True


def test_robots_percent_encoding_equivalence():
    """RFC 9309 §2.2.2: percent-encoded and unencoded US-ASCII octets
    compare EQUAL (either spelling, either side, any hex case) — except
    %2F, which stays a distinct octet from a literal '/'. Encoded
    metacharacters (%2A, %24) are literal octets, never wildcards or
    anchors."""
    from fermor_spark.pipeline.url import _robots_match_len

    # encoded pattern vs decoded path, and the reverse, and hex case
    assert _robots_match_len("/a%3Cd", "/a<d") > 0
    assert _robots_match_len("/a<d", "/a%3cd") > 0
    assert _robots_match_len("/a%3cd", "/a%3Cd") > 0
    # %2F is NOT a slash: neither direction matches a literal '/'
    assert _robots_match_len("/a%2Fb", "/a/b") == -1
    assert _robots_match_len("/a/b", "/a%2Fb") == -1
    # ...but the two spellings of the exception match each other
    assert _robots_match_len("/a%2Fb", "/a%2fb") > 0
    # %2A is a literal '*', not a wildcard; %24 a literal '$', no anchor
    assert _robots_match_len("/x%2Ay", "/x*y") > 0
    assert _robots_match_len("/x%2Ay", "/xzzy") == -1
    assert _robots_match_len("/p%24", "/p$more") > 0   # prefix, no anchor
    # raw metacharacters still work through decoding
    assert _robots_match_len("/q*%3C$", "/qabc<") > 0
    # longest-match precedence is spelling-independent: both spellings
    # of the same rule report the same (decoded) match length
    assert (_robots_match_len("/a%3Cd", "/a<d")
            == _robots_match_len("/a<d", "/a<d"))
    # non-ASCII (r12): raw characters canonicalize to their UTF-8
    # percent escapes before comparison — the mainstream-matcher
    # behavior (the matcher percent-encodes the URL) — so %-spelled and
    # raw spellings of the same octet SEQUENCE match, while a
    # single-octet %E9 does NOT match the two-octet raw UTF-8 'é'
    assert _robots_match_len("/a%C3%A9", "/a%c3%a9") > 0
    assert _robots_match_len("/a%C3%A9", "/aé") > 0
    assert _robots_match_len("/aé", "/a%C3%A9") > 0
    assert _robots_match_len("/aé", "/aé") > 0
    assert _robots_match_len("/a%E9", "/aé") == -1
    assert _robots_match_len("/aé", "/a%E9") == -1
    # spelling-independent match length for precedence
    assert (_robots_match_len("/a%C3%A9", "/aé")
            == _robots_match_len("/aé", "/aé"))


def test_robots_filter_spark(spark):
    """robots_filter: per-host rules join on host, URLs evaluated per
    row; hosts without a fetched robots.txt allow everything."""
    from fermor_spark.pipeline.url import robots_filter

    robots = spark.createDataFrame([
        ("a.example", "User-agent: *\nDisallow: /private/"),
        ("b.example", "User-agent: *\nDisallow: /"),
    ], "host string, robots_txt string")
    urls = spark.createDataFrame([
        ("http://a.example/ok",), ("http://A.EXAMPLE/private/x",),
        ("https://b.example/anything",), ("http://c.example/no-robots",),
    ], "url string")
    got = {r["url"]: r["robots_ok"]
           for r in robots_filter(urls, "url", robots).collect()}
    assert got == {
        "http://a.example/ok": True,
        "http://A.EXAMPLE/private/x": False,
        "https://b.example/anything": False,
        "http://c.example/no-robots": True,
    }


def test_robots_and_domain_filter_vs_reference(spark):
    """robots_filter matches parse_robots + robots_allowed per URL on a
    42-host robots table (hosts without robots.txt, a null host and an
    unparsable URL allow), and a DataFrame blocklist matches the literal
    list path, with no Python node in its plan."""
    from urllib.parse import urlsplit

    from fermor_spark.pipeline.url import (domain_filter, parse_robots,
                                           robots_allowed, robots_filter,
                                           url_host)
    from tests.fixtures import executed_plan_nodes

    robots_rows = [
        ("a.example", "User-agent: *\nDisallow: /private/\nAllow: /private/pub"),
        ("b.example", "User-agent: *\nDisallow: /"),
    ] + [(f"pad{i}.example", "User-agent: *\nAllow: /") for i in range(40)]
    robots = spark.createDataFrame(robots_rows,
                                   "host string, robots_txt string")
    url_list = ["http://a.example/ok", "http://A.EXAMPLE/private/x",
                "http://a.example/private/pubx", "https://b.example/anything",
                "http://c.example/no-robots", "http://pad3.example/x",
                "notaurl", None]
    urls = spark.createDataFrame([(u,) for u in url_list], "url string")
    texts = dict(robots_rows)

    def ref(url):
        parts = urlsplit(url or "")
        return robots_allowed(parts.path or "/",
                              parse_robots(texts.get(parts.hostname, "")))

    got = {r["url"]: r["robots_ok"]
           for r in robots_filter(urls, "url", robots).collect()}
    assert got == {u: ref(u) for u in url_list}
    assert got["http://A.EXAMPLE/private/x"] is False
    assert got["http://a.example/private/pubx"] is True
    assert got["notaurl"] is True and got[None] is True   # null host allows

    bl_rows = [("ads.example.com",)] + [(f"pad{i}.example",)
                                        for i in range(40)]
    bl = spark.createDataFrame(bl_rows, "domain string")
    hosts = url_host(spark.createDataFrame([
        ("http://Sub.ADS.example.com/p",), ("http://notads.example.com/",),
        ("http://ads.example.com/",), ("notaurl",),
    ], "url string"), "url")
    frame = domain_filter(hosts, "host", bl)
    got = []
    plans = executed_plan_nodes(spark, lambda: got.extend(frame.collect()))
    j_path = {r["url"]: r["kept"] for r in got}
    assert j_path == {r["url"]: r["kept"] for r in domain_filter(
        hosts, "host", [d for (d,) in bl_rows]).collect()}
    assert j_path["http://Sub.ADS.example.com/p"] is False
    assert j_path["http://notads.example.com/"] is True
    assert j_path["notaurl"] is True
    assert not [name for nodes in plans.values() for name, _ in nodes
                if "Python" in name or "InPandas" in name], plans


def test_robots_verdict_runs_above_url_dedup(spark):
    """On a crawl-shaped frame (each URL crawled in two spellings,
    normalized, deduplicated by a groupBy on norm_url, then gated on the
    verdict) the robots verdict's Python node sits above the dedup
    aggregate and evaluates one row per distinct URL, not one per
    crawled copy: the planner cannot push the caller's filter on the
    verdict below the dedup into the read stage."""
    from fermor_spark.pipeline.url import robots_filter, url_normalize
    from tests.fixtures import executed_plan_nodes, plan_node_metrics

    rows = []
    for i in range(12):
        path = f"/private/{i}" if i % 3 == 0 else f"/d/{i}"
        rows.append((f"http://news.example.org{path}", f"t{i}"))
        rows.append((f"HTTP://NEWS.EXAMPLE.ORG:80{path.replace('/', '//')}"
                     "/?utm_source=x#frag", f"t{i}"))
    crawl = spark.createDataFrame(rows, "url string, text string")
    uniq = url_normalize(crawl, "url").groupBy("norm_url").agg(
        F.min_by("text", "url").alias("text"))
    robots = spark.createDataFrame(
        [("news.example.org", "User-agent: *\nDisallow: /private/")],
        "host string, robots_txt string")
    polite = robots_filter(uniq, "norm_url", robots).where(
        "robots_ok").select("norm_url", "text")
    got = []
    plans = executed_plan_nodes(spark, lambda: got.extend(polite.collect()))
    assert len(got) == 8
    verdicts = []
    for eid, nodes in plans.items():
        metrics = plan_node_metrics(spark, eid)
        dedup = [i for i, (name, desc) in enumerate(nodes)
                 if "Aggregate" in name and "key=[norm_url" in desc]
        verdicts += [(i, dedup, metrics[i]["number of output rows"])
                     for i, (name, desc) in enumerate(nodes)
                     if "Python" in name and "_verdict" in desc]
    # one verdict node; the plan graph lists a node before its children
    assert len(verdicts) == 1, plans
    i, dedup, seen = verdicts[0]
    assert dedup and all(i < j for j in dedup), plans
    assert seen == "12"


def test_robots_verdict_kept_column_runs_once(spark):
    """A filter on the verdict that keeps the verdict column selected
    plans one `_verdict` Python node, not one under the filter and a
    second that recomputes the column above it."""
    from fermor_spark.pipeline.url import robots_filter, url_normalize
    from tests.fixtures import executed_plan_nodes

    rows = [(f"http://news.example.org/{'private' if i % 3 == 0 else 'd'}/{i}",
             f"t{i}") for i in range(12)]
    crawl = url_normalize(spark.createDataFrame(rows, "url string, text string"),
                          "url").groupBy("norm_url").agg(F.min("text").alias("text"))
    robots = spark.createDataFrame(
        [("news.example.org", "User-agent: *\nDisallow: /private/")],
        "host string, robots_txt string")
    polite = robots_filter(crawl, "norm_url", robots).where("robots_ok")
    got = []
    plans = executed_plan_nodes(spark, lambda: got.extend(polite.collect()))
    assert sorted(r["text"] for r in got) == sorted(
        f"t{i}" for i in range(12) if i % 3)
    assert all(r["robots_ok"] is True for r in got)
    verdicts = [desc for nodes in plans.values() for name, desc in nodes
                if name == "ArrowEvalPython" and "_verdict" in desc]
    assert len(verdicts) == 1, plans


def test_domain_filter_paths_vs_reference(spark):
    """Both domain_filter paths — literal arrays_overlap for a list, the
    suffix-explode join for a DataFrame — agree with a pure-Python
    reference on 200 seeded random hosts (varied depth, case,
    exact/suffix/miss relations to a 30-domain blocklist, nulls)."""
    import random

    from fermor_spark.pipeline.url import domain_filter

    rng = random.Random(1131)
    blocked = sorted({
        ".".join(rng.choice(["ads", "track", "spam", "cdn", "news"])
                 + str(rng.randrange(9))
                 for _ in range(rng.randrange(1, 3))) + ".example"
        for _ in range(30)})
    hosts = []
    for i in range(200):
        kind = rng.randrange(4)
        if kind == 0:
            hosts.append(None)
        elif kind == 1:   # exactly a blocked domain, random case
            h = rng.choice(blocked)
            hosts.append("".join(c.upper() if rng.random() < .5 else c
                                 for c in h))
        elif kind == 2:   # under a blocked domain
            hosts.append(f"sub{i}.deep{i % 3}." + rng.choice(blocked))
        else:             # near-miss: prefix-similar but not a suffix
            hosts.append(f"not{rng.choice(blocked)}x.example")

    def ref(h):
        if h is None:
            return True
        parts = h.lower().split(".")
        return not any(".".join(parts[i:]) in blocked
                       for i in range(max(1, len(parts) - 1)))

    want = {i: ref(h) for i, h in enumerate(hosts)}
    df = spark.createDataFrame(list(enumerate(hosts)),
                               "i long, host string")
    bl = spark.createDataFrame([(d,) for d in blocked], "domain string")
    for out in (domain_filter(df, "host", blocked),
                domain_filter(df, "host", bl)):
        got = {r["i"]: r["kept"] for r in out.collect()}
        assert got == want
    assert False in want.values() and True in want.values()  # non-vacuous


def test_tar_shards_hostile_text_roundtrip(spark, tmp_path):
    """Tar shards round-trip 60 seeded hostile texts byte-exactly:
    newlines, NULs-adjacent controls, tar-block-sized strings, emoji,
    RTL, combining marks, JSON metacharacters — plus metadata values
    containing quotes and backslashes."""
    import random

    from fermor_spark.pipeline.sink import read_corpus_tar, write_corpus_tar

    rng = random.Random(7)
    pool = ['he said "hi"\\', "line1\nline2\r\nline3", "\t ctl",
            "x" * 512, "é中文🎉‏́", "{}[]:,\"'`", ""]
    rows = [(i, rng.choice(pool) + str(rng.randrange(1000)),
             'l"a\\ng' if i % 3 == 0 else "en")
            for i in range(60)]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    p = str(tmp_path / "shards")
    write_corpus_tar(d, p, key_col="doc_id", text_col="text",
                     meta_cols=("lang",), n_shards=4)
    from pyspark.sql import functions as F

    back = read_corpus_tar(spark, p).select(
        F.col("key").cast("long").alias("doc_id"), "text",
        F.get_json_object("meta", "$.lang").alias("lang"))
    got = sorted((r["doc_id"], r["text"], r["lang"]) for r in back.collect())
    assert got == sorted(rows)


def test_incremental_exact_dedup_bloom_screen(spark):
    """incremental_exact_dedup: exact answer (bloom misses are novel,
    bloom false positives corrected by the verify join) on planted
    overlaps, including duplicate TEXTS under different ids."""
    from fermor_spark.pipeline.dedup import incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(100)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1000 + i, f"text-{i}") for i in range(50, 60)]   # dups
        + [(2000 + i, f"fresh-{i}") for i in range(10)],    # novel
        "doc_id long, text string")
    got = {r["doc_id"]: r["is_new"] for r in
           incremental_exact_dedup(new, corpus, "doc_id", "text").collect()}
    assert all(got[1000 + i] is False for i in range(50, 60))
    assert all(got[2000 + i] is True for i in range(10))


def test_incremental_minhash_dedup_planted(spark):
    """Planted near-dups: a one-token edit of a corpus doc resolves to
    THAT doc (min corpus id among verified matches); an unrelated text
    is novel; a candidate pair that fails the exact-Jaccard verify is
    rejected (banding alone never decides); sub-n-gram-length docs are
    novel by construction."""
    from fermor_spark.pipeline.dedup import incremental_minhash_dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon")
    # one token edited out of 20: 15 of 18 shingles survive, Jaccard
    # 15/21 ≈ 0.71 ≥ 1/2 → must verify as a near-dup
    corpus = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten"),
         (3, base)],          # 1 and 3 are exact dups; min id must win
        "doc_id long, text string")
    new = spark.createDataFrame([
        (100, base.replace("delta", "DELTA")),   # near-dup of 1 (and 3)
        (101, "totally different words entirely unrelated corpus content"),
        (102, "xy"),                              # < 3 tokens: no shingles
    ], "doc_id long, text string")
    got = {r["doc_id"]: r["near_dup_of"] for r in incremental_minhash_dedup(
        new, corpus, "doc_id", "text").collect()}
    assert got[100] == 1       # verified near-dup, min corpus id
    assert got[101] is None and got[102] is None
    # precomputed corpus shingles (the persisted-per-snapshot production
    # shape) must give identical verdicts
    from fermor_spark.pipeline.dedup import shingle_table

    pre = shingle_table(corpus, "doc_id", "text", 3)
    got2 = {r["doc_id"]: r["near_dup_of"] for r in incremental_minhash_dedup(
        new, corpus, "doc_id", "text", corpus_shingles=pre).collect()}
    assert got2 == got


def test_incremental_exact_dedup_survives_hash_collisions(spark):
    """Exactness is independent of hash quality: with an injected
    CONSTANT hash (every document collides — the worst case of the
    64-bit-collision advisory), the verify stage's TEXT comparison
    still yields exactly the NOT-EXISTS answer. Only performance may
    degrade under collisions, never correctness."""
    from pyspark.sql import functions as F

    from fermor_spark.pipeline.dedup import incremental_exact_dedup

    corpus = spark.createDataFrame(
        [(i, f"text-{i}") for i in range(20)], "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, "text-3"), (101, "text-19"), (102, "totally-novel"),
         (103, "text-300")],  # note: 'text-300' is NOT in the corpus
        "doc_id long, text string")
    got = {r["doc_id"]: r["is_new"] for r in incremental_exact_dedup(
        new, corpus, "doc_id", "text",
        hash_col=lambda c: F.lit("collide")).collect()}
    assert got == {100: False, 101: False, 102: True, 103: True}


def test_profile_corpus_planted_values(spark):
    """profile_corpus on a planted corpus: exact columns exact, HLL
    within bound, GK percentiles hit exact ranks on known lengths,
    duplication visible as distinct_exact < n_docs."""
    from fermor_spark.pipeline.profile import profile_corpus

    rows = [(i, "en", "x" * (10 + i)) for i in range(100)] \
        + [(100 + i, "de", "dup-text") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["group"]: r for r in
           profile_corpus(df, "lang", "text").collect()}
    en, de = got["en"], got["de"]
    assert en["n_docs"] == 100 and en["distinct_exact"] == 100
    assert en["total_chars"] == sum(10 + i for i in range(100))
    assert abs(en["distinct_approx"] - 100) <= 3 * 0.05 * 100
    assert 10 <= en["p50_chars"] <= 109 and en["p50_chars"] <= en["p90_chars"]
    assert de["n_docs"] == 10 and de["distinct_exact"] == 1
    assert de["p50_chars"] == de["p90_chars"] == 8


def test_crawl_e2e_sql_derivation():
    """_CRAWL_E2E_SQL is derived textually from _CURATE_V2_SQL (the
    drift-proofing queries.py claims): the derivation must have (a)
    injected the gated CTE, (b) redirected every corpus read to it —
    the ONLY remaining 'FROM documents' is the gated CTE's own source
    scan — and (c) appended the text_checksum column that pins payload
    bytes through WARC + HTML. An anchor miss in the .replace chain
    (e.g. _CURATE_V2_SQL reformatted) fails HERE, not at gate-run time
    (r12, ADVICE)."""
    from fermor_spark.queries import _CRAWL_E2E_SQL, _CURATE_V2_SQL

    assert _CRAWL_E2E_SQL != _CURATE_V2_SQL
    assert "gated AS MATERIALIZED" in _CRAWL_E2E_SQL
    assert "gated" not in _CURATE_V2_SQL
    assert _CRAWL_E2E_SQL.count("FROM documents") == 1  # the gated CTE
    assert _CRAWL_E2E_SQL.count("FROM gated") == \
        _CURATE_V2_SQL.count("FROM documents")
    assert "text_checksum" in _CRAWL_E2E_SQL
    assert "text_checksum" not in _CURATE_V2_SQL
    # nothing else changed: reversing the three edits recovers the base
    recovered = _CRAWL_E2E_SQL.replace(
        """gated AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE source != 'src0'
        AND NOT (CAST(substr(source, 4) AS INT) % 2 = 1 AND doc_id % 3 = 0)
    ),
    """, "").replace(
        """,
           sum(('0x' || substr(md5(text), 1, 15))::BIGINT
               % 1000000000)::BIGINT AS text_checksum""", "").replace(
        "FROM gated", "FROM documents")
    assert recovered == _CURATE_V2_SQL


def test_incremental_minhash_band_divisibility(spark):
    """num_hashes not divisible by num_bands fails loudly instead of
    silently ignoring trailing hash functions (r12, ADVICE)."""
    import pytest

    from fermor_spark.pipeline.dedup import incremental_minhash_dedup

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="num_hashes"):
        incremental_minhash_dedup(df, df, "doc_id", "text",
                                  num_hashes=7, num_bands=4)


def test_write_wet_spark_roundtrip(spark, tmp_path):
    """write_wet -> read_wet round trip through the Spark sink path
    (bucketed conversion records, per-record gzip members, .wet.gz
    filenames the default glob finds); payloads with CRLFCRLF and WARC
    version strings survive because record walking is length-driven."""
    from fermor_spark.pipeline.warc import read_wet, write_wet

    rows = [(f"http://w.example/{i}",
             f"text {i}\r\n\r\nWARC/1.0 embedded é".encode("utf-8"))
            for i in range(7)]
    d = spark.createDataFrame(rows, "url string, payload binary")
    write_wet(d, str(tmp_path / "wet"), n_files=3)
    back = {r["url"]: bytes(r["payload"])
            for r in read_wet(spark, str(tmp_path / "wet")).collect()}
    assert back == dict(rows)
    # a bad record_type fails loudly at the writer boundary
    import pytest as _pytest

    from fermor_spark.pipeline.warc import write_warc
    with _pytest.raises(ValueError, match="record_type"):
        write_warc(d, str(tmp_path / "x"), record_type="metadata")


def test_incremental_embedding_dedup(spark):
    """Operator-level contract: identical vectors are found (same-bucket
    recall is a theorem), min corpus id wins among multiple matches,
    below-threshold vectors come back novel, and a precomputed
    corpus_buckets pass-through yields identical verdicts."""
    from fermor_spark.pipeline.dedup import (embedding_buckets,
                                             incremental_embedding_dedup)

    base = [1.0] + [0.0] * 7
    near = [0.999] + [0.001] * 7          # cosine ~0.9999 vs base
    ortho = [0.0] * 7 + [1.0]
    corpus = spark.createDataFrame(
        [(10, base), (11, base), (12, ortho)],
        "vec_id long, embedding array<double>")
    new = spark.createDataFrame(
        [(100, base), (101, near), (102, ortho), (103, [-x for x in base])],
        "vec_id long, embedding array<double>")
    out = incremental_embedding_dedup(new, corpus, "vec_id", "embedding",
                                      threshold=0.9)
    got = {r["vec_id"]: r["near_dup_of"] for r in out.collect()}
    assert got[100] == 10          # identical: min of {10, 11}
    assert got[102] == 12          # identical orthogonal vector
    assert got[103] is None        # negated: cosine -1, novel
    # 101 is near-identical: IF bucketed together it must verify; either
    # way it can never map to the orthogonal vector
    assert got[101] in (10, None)

    cb = embedding_buckets(corpus, "vec_id", "embedding")
    out2 = incremental_embedding_dedup(new, corpus, "vec_id", "embedding",
                                       threshold=0.9, corpus_buckets=cb)
    assert {r["vec_id"]: r["near_dup_of"] for r in out2.collect()} == got


def test_embedding_buckets_wide_parity(spark):
    """VERDICT r12 #5: the Arrow-matmul bucket kernel at production
    embedding width (512-dim) must agree bit-for-bit with an independent
    driver-side recomputation of the sign buckets from the same
    deterministic hyperplanes, and identical vectors on two sides of an
    incremental pass must still land in the same bucket (the recall
    theorem) at that width."""
    import numpy as np

    from fermor_spark.pipeline.dedup import embedding_buckets
    from fermor_spark.pipeline.similarity import _hyperplanes

    dim, n = 512, 40
    # deterministic pseudo-random vectors without RNG state (hash-derived,
    # the _hyperplanes convention)
    from fermor_spark.pipeline.similarity import hash_u64
    rows = [(i, [hash_u64(f"wide:{i}:{d}") / 2**63 - 1.0
                 for d in range(dim)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r["id"]: r["bucket"]
           for r in embedding_buckets(df, "vec_id", "embedding",
                                      num_planes=8, seed=42).collect()}
    planes = np.asarray(_hyperplanes(8, dim, 42))
    for i, v in rows:
        signs = planes @ np.asarray(v) >= 0
        want = "".join("1" if b else "0" for b in signs)
        assert got[i] == want, f"vec {i}: {got[i]} != {want}"
    assert len(set(got.values())) > 1   # planes actually discriminate


def test_embedding_buckets_dim_mismatch_raises(spark):
    """ADVICE r12: mismatched embedding widths across the two sides of an
    incremental dedup must fail LOUDLY (named ValueError in the kernel),
    never silently bucket to disjoint strings; ragged widths inside one
    input likewise."""
    import pytest

    from fermor_spark.pipeline.dedup import (embedding_buckets,
                                             incremental_embedding_dedup)

    corpus = spark.createDataFrame([(1, [1.0] * 8)],
                                   "vec_id long, embedding array<double>")
    new = spark.createDataFrame([(2, [1.0] * 16)],
                                "vec_id long, embedding array<double>")
    with pytest.raises(Exception) as exc:
        incremental_embedding_dedup(new, corpus, "vec_id", "embedding").collect()
    assert "embedding width" in str(exc.value) or \
        "embedding_buckets" in str(exc.value)

    ragged = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 9)],
        "vec_id long, embedding array<double>").coalesce(1)
    with pytest.raises(Exception) as exc2:
        embedding_buckets(ragged, "vec_id", "embedding").collect()
    assert "embedding_buckets" in str(exc2.value)


def test_zero_norm_cosine_is_novel(spark):
    """ADVICE r12 medium: a zero-norm embedding must report cosine 0.0
    (novel / dissimilar to everything), never NaN — unguarded 0.0/0.0 is
    NaN, and Spark's NaN >= threshold is TRUE, which would tag the zero
    vector as a near-dup of every bucket-mate."""
    from fermor_spark.pipeline.dedup import (embedding_near_dup_pairs,
                                             incremental_embedding_dedup)

    zero = [0.0] * 8
    base = [1.0] + [0.0] * 7
    corpus = spark.createDataFrame(
        [(10, base), (11, zero)], "vec_id long, embedding array<double>")
    new = spark.createDataFrame(
        [(100, zero), (101, base)], "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["near_dup_of"]
           for r in incremental_embedding_dedup(
               new, corpus, "vec_id", "embedding", threshold=0.9).collect()}
    assert got[100] is None        # zero vector: novel, not dup-of-everything
    assert got[101] == 10          # real vector still matches its copy

    pairs = embedding_near_dup_pairs(
        spark.createDataFrame([(1, zero), (2, zero), (3, base)],
                              "vec_id long, embedding array<double>"),
        "vec_id", "embedding", threshold=0.5).collect()
    assert pairs == []             # zero-zero pairs are cosine 0, not NaN


def test_embedding_buckets_null_first_row(spark):
    """r13 review finding: size(null) is null, so a null embedding in the
    probed first row crashed the driver-side dim probe with TypeError —
    while the kernel itself supports null vectors ('' bucket). The probe
    must skip nulls; all-null input degrades to '' buckets, and the
    incremental tagger still resolves real vectors around the nulls."""
    from fermor_spark.pipeline.dedup import (embedding_buckets,
                                             incremental_embedding_dedup)

    base = [1.0] + [0.0] * 7
    # null FIRST by sort order of createDataFrame's single partition
    df = spark.createDataFrame(
        [(1, None), (2, base)], "vec_id long, embedding array<double>")
    got = {r["id"]: r["bucket"]
           for r in embedding_buckets(df, "vec_id", "embedding").collect()}
    assert got[1] == "" and len(got[2]) == 8

    allnull = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>")
    assert [r["bucket"] for r in embedding_buckets(
        allnull, "vec_id", "embedding").collect()] == [""]

    corpus = spark.createDataFrame(
        [(10, None), (11, base)], "vec_id long, embedding array<double>")
    new = spark.createDataFrame(
        [(100, base), (101, None)], "vec_id long, embedding array<double>")
    got = {r["vec_id"]: r["near_dup_of"]
           for r in incremental_embedding_dedup(
               new, corpus, "vec_id", "embedding", threshold=0.9).collect()}
    assert got[100] == 11 and got[101] is None


def test_ann_family_skips_null_vectors(spark):
    """The family rule, uniform across every ANN kernel (r13): a null
    embedding contributes nothing — no neighbors, no pairs, no cluster —
    instead of turning a packed block into a numpy object array that
    fails opaquely inside BLAS."""
    from fermor_spark.pipeline.similarity import (brute_force_topk_arrow,
                                                  cosine_pairs_exact,
                                                  ivf_topk, lsh_topk,
                                                  semantic_dedup)

    base = [1.0] + [0.0] * 5
    near = [0.99] + [0.01] * 5
    rows = [(1, base), (2, near), (3, None), (4, [0.0] * 5 + [1.0])]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = brute_force_topk_arrow(e, e, k=2).collect()
    assert out and all(r.query_id != 3 and r.neighbor_id != 3 for r in out)

    pairs = cosine_pairs_exact(e, threshold=0.5).collect()
    assert pairs and all(3 not in (r.id_a, r.id_b) for r in pairs)

    out = ivf_topk(e, e, k=2, n_centroids=2, nprobe=2).collect()
    assert out and all(r.query_id != 3 and r.neighbor_id != 3 for r in out)

    out = lsh_topk(e, e, k=2, num_planes=2, num_tables=4).collect()
    assert all(r.query_id != 3 and r.neighbor_id != 3 for r in out)

    sd = semantic_dedup(e, threshold=0.5, k=2).collect()
    assert sd and all(r.vec_id != 3 for r in sd)


def test_round6_helper_matches_duckdb():
    """_np_round6_half_away (the numpy kernels' 6dp rounding) agrees with
    DuckDB round(x, 6) — the oracle side of every cosine compare — across
    a dense random grid and both signs. At EXACT 6dp knife-edge points
    the three engines genuinely diverge (e.g. 0.9999994999999999: DuckDB
    1.0, Spark BigDecimal HALF_UP and this helper 0.999999) — asserted
    below as documentation: the divergence set is measure-~0, which is
    why every contract floor sits BETWEEN attainable values and real
    cosines never land there."""
    import duckdb
    import numpy as np

    from fermor_spark.pipeline.similarity import _np_round6_half_away

    rng = np.random.RandomState(66)
    vals = list(rng.uniform(-1, 1, 2000))
    arr = np.array(vals)
    got = _np_round6_half_away(arr)
    con = duckdb.connect()
    for v, g in zip(vals, got):
        want = con.execute(f"select round({v!r}::DOUBLE, 6)").fetchone()[0]
        assert g == want, (v, g, want)
    # the documented knife-edge divergence, pinned so a future "fix" that
    # chases DuckDB here knows it would diverge from Spark instead
    edge = 0.9999994999999999
    assert con.execute(
        f"select round({edge!r}::DOUBLE, 6)").fetchone()[0] == 1.0
    assert _np_round6_half_away(np.array([edge]))[0] == 0.999999
