"""Property-based tests (hypothesis) over random small graphs — beyond the
reference's example-only test strategy (SURVEY §5 notes it has no
property-based coverage)."""

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from fermor_spark import PropertyGraph, algo, iterate

pytestmark = pytest.mark.filterwarnings("ignore")


def _graph(spark, edges):
    return PropertyGraph.build(spark).add_edges("l", edges or [("z0", "z1")]).forked()


edge_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=7).map(lambda i: f"v{i}"),
        st.integers(min_value=0, max_value=7).map(lambda i: f"v{i}"),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=14, unique=True,
)


@settings(max_examples=6, deadline=None)
@given(edges=edge_lists)
def test_out_of_transpose_equals_in(spark, edges):
    g = _graph(spark, edges)
    t = g.transpose()
    for v in list(g.vertices().id_set())[:3]:
        assert g.get_vertex(v).in_("l").id_set() == t.get_vertex(v).out("l").id_set()


@settings(max_examples=4, deadline=None)
@given(edges=edge_lists)
def test_cc_matches_union_find(spark, edges):
    g = _graph(spark, edges)
    comp_rows = iterate.connected_components(g).collect()
    got = {}
    for r in comp_rows:
        got.setdefault(r["comp"], set()).add(r["id"])

    # reference model: pure-python union-find
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    exp = {}
    for v in set(x for e in edges for x in e):
        exp.setdefault(find(v), set()).add(v)
    assert set(map(frozenset, got.values())) == set(map(frozenset, exp.values()))


@settings(max_examples=3, deadline=None)
@given(edges=edge_lists)
def test_distributed_scc_matches_tarjan(spark, edges):
    # local_edge_threshold=0 forces the pure FW-BW flood path — the hybrid
    # local finish would otherwise route these small graphs to the same
    # Tarjan we compare against
    g = _graph(spark, edges)
    dist_rows = iterate.strongly_connected_components(
        g, local_edge_threshold=0
    ).collect()
    got = {}
    for r in dist_rows:
        got.setdefault(r["component"], set()).add(r["id"])
    succ, _ = algo.collect_adjacency(g)
    exp = algo.strongly_connected_components(succ, include_singletons=True)
    assert set(map(frozenset, got.values())) == exp


@settings(max_examples=6, deadline=None)
@given(edges=edge_lists)
def test_lookahead_equiv_nonempty_out(spark, edges):
    g = _graph(spark, edges)
    via_lookahead = g.vertices().lookahead(lambda r: r.out("l")).id_set()
    have_out = {e[0] for e in edges} or {"z0"}
    assert via_lookahead == have_out


@settings(max_examples=3, deadline=None)
@given(edges=edge_lists)
def test_reachable_closed_under_step(spark, edges):
    """all_reachable's result is transitively closed: stepping out of the
    reachable set stays inside it."""
    g = _graph(spark, edges)
    start = sorted(g.vertices().id_set())[0]
    reach = {r["id"] for r in
             iterate.all_reachable(g, g.get_vertex(start), include_start=True).collect()}
    step = g.get_vertices(sorted(reach)).out("l").id_set()
    assert step <= reach


# ---- progressive JPEG: pure-Python property (no Spark session needed) ----

@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seedv=st.integers(min_value=0, max_value=2**31 - 1),
    q=st.sampled_from([4, 8, 16]),
    al=st.integers(min_value=0, max_value=2),
    dri=st.sampled_from([0, 1, 3]),
)
def test_progressive_jpeg_equals_baseline_decode(w, h, seedv, q, al, dri):
    """For ANY image content, size, quant step, successive-approximation
    depth and restart interval, decoding the progressive encoding must be
    byte-identical to decoding the baseline encoding: both encoders emit
    the same quantized coefficients, so the decodes can only diverge if a
    progressive scan path (spectral bands, refinement correction bits,
    EOB runs, restarts) mis-decodes."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (
        _jpeg_decode, _jpeg_encode, _jpeg_prog_encode)

    arr = np.random.RandomState(seedv).randint(
        0, 256, size=(h, w), dtype=np.uint8)
    base = _jpeg_decode(_jpeg_encode(arr, q=q))
    prog = _jpeg_decode(_jpeg_prog_encode(arr, q=q, al=al, dri=dri))
    assert base not in (None, "compressed")
    assert prog not in (None, "compressed")
    assert prog[:3] == base[:3] == (w, h, 1)
    assert prog[3] == base[3]


# ---- text pipeline invariants over random corpora ----

word = st.integers(min_value=0, max_value=30).map(lambda i: f"w{i}")
docs_strategy = st.lists(
    st.lists(word, min_size=1, max_size=60).map(" ".join),
    min_size=1, max_size=6,
)


@settings(max_examples=5, deadline=None)
@given(texts=docs_strategy,
       chunk=st.integers(min_value=4, max_value=24),
       overlap=st.integers(min_value=0, max_value=3))
def test_chunking_covers_every_token_in_order(spark, texts, chunk, overlap):
    """chunk_documents invariants for any corpus/window/overlap: (a) chunk 0
    starts at token 0 and consecutive chunks advance by exactly
    chunk-overlap tokens; (b) concatenating each chunk's non-overlapped
    prefix reconstructs the document; (c) every chunk except the last is
    full-size; (d) no chunk is fully contained in its predecessor."""
    from fermor_spark.pipeline.text import chunk_documents

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    step = chunk - overlap
    rows = chunk_documents(df, "doc_id", "text",
                           chunk_tokens=chunk, overlap=overlap).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["id"], {})[r["chunk_index"]] = r
    for i, t in enumerate(texts):
        toks = t.split()
        chunks = by_doc[i]
        n = len(chunks)
        assert sorted(chunks) == list(range(n))
        rebuilt = []
        for ci in range(n):
            ctoks = chunks[ci]["chunk_text"].split()
            assert ctoks == toks[ci * step: ci * step + chunk]
            assert chunks[ci]["n_tokens"] == len(ctoks)
            if ci < n - 1:
                assert len(ctoks) == chunk
            rebuilt.extend(ctoks if ci == n - 1 else ctoks[:step])
        # full coverage in order (the last chunk may re-cover the tail)
        assert rebuilt[:len(toks)] == toks[:len(rebuilt)]
        assert ci * step < len(toks)  # last window not inside predecessor


@settings(max_examples=5, deadline=None)
@given(texts=docs_strategy, capacity=st.integers(min_value=3, max_value=40))
def test_pack_sequences_layout_invariants(spark, texts, capacity):
    """pack_sequences for any corpus/capacity: offsets stay in
    [0, capacity); documents are laid end-to-end in id order (each start
    equals the previous start + its token count); bin_id is exactly
    tokens_before DIV capacity."""
    from fermor_spark.pipeline.text import pack_sequences

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    rows = sorted(pack_sequences(df, "doc_id", "text", capacity).collect(),
                  key=lambda r: r["id"])
    before = 0
    for r in rows:
        assert 0 <= r["bin_offset"] < capacity
        assert r["bin_id"] == before // capacity
        assert r["bin_offset"] == before % capacity
        before += r["n_tokens"]


@settings(max_examples=30, deadline=None)
@given(seedv=st.integers(min_value=0, max_value=2**31 - 1),
       n_flips=st.integers(min_value=1, max_value=12),
       kind=st.sampled_from(["jpg", "jpg_lossless", "png", "gif", "y4m",
                             "avi_meta", "mp4_meta", "flac_meta",
                             "mp3_meta"]))
def test_decoders_never_raise_on_corruption(seedv, n_flips, kind):
    """Robustness: random byte corruption/truncation of any valid media
    payload must degrade to None / 'compressed' / a decoded value — never
    an exception (decode_image / frame_sample map whole Arrow batches of
    untrusted bytes; one raising payload would fail the Spark task).
    The r6 fuzz found real escapes in all four decoders — StopIteration
    on corrupt progressive SOS headers, reshape/unpack/int-parse
    ValueErrors — now caught by the _none_on_malformed contract."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (
        _avi_encode, _avi_meta, _flac_encode_meta, _flac_meta, _gif_decode,
        _jpeg_decode, _jpeg_lossless_encode, _jpeg_prog_encode, _mp3_meta,
        _mp3_encode_meta, _mp4_encode, _mp4_meta, _png_decode, _png_encode,
        _y4m_frames)

    rng = np.random.RandomState(seedv)
    arr = rng.randint(0, 256, size=(9, 7, 3), dtype=np.uint8)
    if kind == "jpg":
        good = bytearray(_jpeg_prog_encode(arr[:, :, 0], dri=2))
        dec = _jpeg_decode
    elif kind == "jpg_lossless":
        good = bytearray(_jpeg_lossless_encode(arr[:, :, 0], predictor=4,
                                               dri=3))
        dec = _jpeg_decode
    elif kind == "png":
        good = bytearray(_png_encode(arr))
        dec = _png_decode
    elif kind == "gif":
        from test_pipeline import _gif_bytes
        good = bytearray(_gif_bytes(arr[:, :, 0] % 16,
                                    [(i, i, i) for i in range(16)]))
        dec = _gif_decode
    elif kind == "avi_meta":
        good = bytearray(_avi_encode(9, 7, 4))
        dec = _avi_meta
    elif kind == "mp4_meta":
        good = bytearray(_mp4_encode(9, 7, 4, with_audio=True))
        dec = _mp4_meta
    elif kind == "flac_meta":
        good = bytearray(_flac_encode_meta(22050, 2, 16, 9999))
        dec = _flac_meta
    elif kind == "mp3_meta":
        good = bytearray(_mp3_encode_meta(5))
        dec = _mp3_meta
    else:
        good = bytearray(b"YUV4MPEG2 W7 H9 C420\n" + b"FRAME\n"
                         + bytes(9 * 7) + bytes(2 * 5 * 4))
        dec = lambda b: _y4m_frames(b, 1, 4)  # noqa: E731
    for _ in range(n_flips):
        good[rng.randint(0, len(good))] = rng.randint(0, 256)
    for payload in (bytes(good), bytes(good[:rng.randint(0, len(good))])):
        got = dec(payload)
        assert got is None or got == "compressed" or isinstance(got, tuple)


def test_jpeg_fill_bytes_before_markers_tolerated():
    """T.81 B.1.1.2 allows any number of 0xFF fill bytes before a marker.
    Entropy data never contains a bare 0xFF followed by a segment-marker id
    (0xFF is stuffed as 0xFF00 or is an RSTn), so injecting an extra 0xFF
    before every DQT/DHT/SOF/SOS/EOI marker yields a legal stream with fill
    bytes at every segment boundary — including BETWEEN progressive scans,
    where the inter-scan marker search previously stopped on the bare fill
    byte, misparsed the segment length, and degraded the file to None
    (ADVICE r6 #3)."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (
        _jpeg_decode, _jpeg_encode, _jpeg_prog_encode)

    seg_markers = {0xC0, 0xC2, 0xC4, 0xD9, 0xDA, 0xDB, 0xDD}

    def inject_fill(b: bytes) -> bytes:
        out = bytearray()
        p = 0
        while p < len(b):
            if p + 1 < len(b) and b[p] == 0xFF and b[p + 1] in seg_markers:
                out += b"\xff\xff"          # two fill bytes, then the marker
            out.append(b[p])
            p += 1
        return bytes(out)

    arr = np.random.RandomState(7).randint(0, 256, size=(17, 13),
                                           dtype=np.uint8)
    for enc in (_jpeg_encode(arr, q=8),
                _jpeg_prog_encode(arr, q=8, al=1, dri=2)):
        clean = _jpeg_decode(enc)
        filled = _jpeg_decode(inject_fill(enc))
        assert clean not in (None, "compressed")
        assert filled == clean


@settings(max_examples=25, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
    seedv=st.integers(min_value=0, max_value=2**31 - 1),
    predictor=st.integers(min_value=1, max_value=7),
    pt=st.integers(min_value=0, max_value=2),
    dri=st.sampled_from([0, 1, 3]),
)
def test_lossless_jpeg_roundtrip_exact(w, h, seedv, predictor, pt, dri):
    """LOSSLESS (SOF3) contract: decode(encode(a)) must be BYTE-EXACT for
    any image content, size, annex-H predictor (1-7), point transform and
    restart interval — with Pt>0 the reproduction target is (a>>Pt)<<Pt
    (the point transform drops low bits by definition; the entropy path
    itself is exact)."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (
        _jpeg_decode, _jpeg_lossless_encode)

    arr = np.random.RandomState(seedv).randint(
        0, 256, size=(h, w), dtype=np.uint8)
    got = _jpeg_decode(_jpeg_lossless_encode(arr, predictor=predictor,
                                             pt=pt, dri=dri))
    assert got not in (None, "compressed")
    assert got[:3] == (w, h, 1)
    assert got[3] == ((arr >> pt) << pt).astype(np.uint8).tobytes()


@settings(max_examples=15, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
    seedv=st.integers(min_value=0, max_value=2**31 - 1),
    predictor=st.integers(min_value=1, max_value=7),
    prec=st.sampled_from([4, 8, 12, 16]),
    nc=st.sampled_from([1, 2, 3]),
    dri=st.sampled_from([0, 2]),
)
def test_lossless_jpeg_deep_multicomp_roundtrip(w, h, seedv, predictor,
                                                prec, nc, dri):
    """Extended LOSSLESS shapes: 2-16 bit precision and interleaved
    multi-component scans (1x1 factors) round-trip exactly under the
    PNG-16 output contract — the emitted byte is the high byte of the
    reconstructed P-bit sample (identity for P<=8). Covers the 16-bit
    mod-2**16 diff reduction incl. the SSSS=16 escape."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (
        _jpeg_decode, _jpeg_lossless_encode)

    shape = (h, w) if nc == 1 else (h, w, nc)
    arr = np.random.RandomState(seedv).randint(
        0, 1 << prec, size=shape, dtype=np.int64).astype(np.int32)
    got = _jpeg_decode(_jpeg_lossless_encode(arr, predictor=predictor,
                                             dri=dri, prec=prec))
    assert got not in (None, "compressed")
    assert got[:3] == (w, h, nc)
    a3 = arr if arr.ndim == 3 else arr[:, :, None]
    exp = (a3.astype(np.uint32) >> (prec - 8 if prec > 8 else 0)
           ).astype(np.uint8)
    assert got[3] == exp.tobytes()


@settings(max_examples=12, deadline=None)
@given(seedv=st.integers(min_value=0, max_value=2**31 - 1),
       k=st.sampled_from([3, 5, 8]))
def test_duplicated_spans_match_bruteforce(spark, seedv, k):
    """ESD spans must equal a brute-force O(n^2) reference on random
    corpora with planted repeats: mark every position whose k-gram occurs
    >= 2 times corpus-wide, merge consecutive runs, compare exactly."""
    import random

    from fermor_spark.pipeline.dedup import duplicated_spans

    rng = random.Random(seedv)
    alpha = "abcd"
    shared = "".join(rng.choice(alpha) for _ in range(rng.randint(k, 15)))
    docs = []
    for i in range(5):
        body = "".join(rng.choice(alpha) for _ in range(rng.randint(0, 30)))
        if rng.random() < 0.7:
            at = rng.randint(0, len(body))
            body = body[:at] + shared + body[at:]
        docs.append((i, body))

    # brute force
    from collections import Counter
    grams = Counter()
    for _, t in docs:
        for p in range(len(t) - k + 1):
            grams[t[p:p + k]] += 1
    expected = set()
    for i, t in docs:
        dup = [p for p in range(len(t) - k + 1) if grams[t[p:p + k]] >= 2]
        run = []
        for p in dup:
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    expected.add((i, run[0], run[-1] + k))
                run = [p]
        if run:
            expected.add((i, run[0], run[-1] + k))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_id, r.span_start, r.span_end)
           for r in duplicated_spans(df, k=k).collect()}
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(w=st.integers(min_value=1, max_value=400),
       h=st.integers(min_value=1, max_value=300),
       nf=st.integers(min_value=1, max_value=40),
       rate=st.sampled_from([8000, 11025, 22050, 44100, 48000]),
       ch=st.integers(min_value=1, max_value=8),
       total=st.integers(min_value=0, max_value=2**35))
def test_metadata_roundtrip_any_params(w, h, nf, rate, ch, total):
    """Container metadata encoders/parsers round-trip ARBITRARY parameter
    combinations exactly (no Spark session needed): AVI and mp4 dims/
    frames, FLAC STREAMINFO fields including >32-bit total_samples."""
    from fermor_spark.pipeline.multimodal import (
        _avi_encode, _avi_meta, _flac_encode_meta, _flac_meta, _mp4_encode,
        _mp4_meta)

    a = _avi_meta(_avi_encode(w, h, nf))
    assert (a[2], a[3], a[4]) == (w, h, nf)
    m = _mp4_meta(_mp4_encode(w, h, nf, with_audio=True))
    assert (m[1], m[2], m[3], m[4], m[5]) == ("avc1", w, h, nf, 2)
    f = _flac_meta(_flac_encode_meta(rate, ch, 16, total))
    assert (f[2], f[3], f[5]) == (rate, ch, total or None)


@settings(max_examples=10, deadline=None)
@given(seedv=st.integers(min_value=0, max_value=2**31 - 1))
def test_gopher_quality_matches_bruteforce(spark, seedv):
    """gopher_quality must equal a pure-Python reference on random
    multi-line documents mixing words, bullets, symbols and stopwords —
    locking the operator's semantics independently of the SQL oracle."""
    import random

    from fermor_spark.pipeline.text import GOPHER_STOPWORDS, gopher_quality

    rng = random.Random(seedv)
    vocab = ["alpha", "beta", "gamma", "x1", "##", "...", "the", "and",
             "of", "to", "-", "•", "wordy"]
    docs = []
    for i in range(6):
        lines = []
        for _ in range(rng.randint(1, 5)):
            lines.append(" ".join(rng.choice(vocab)
                                  for _ in range(rng.randint(0, 12))))
        docs.append((i, "\n".join(lines)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.id: r for r in gopher_quality(df, "doc_id", "text").collect()}

    def half_up4(x):
        import math
        return math.floor(x * 10000 + 0.5) / 10000

    for i, t in docs:
        words = [w for w in t.strip().split() if w]
        if not words:
            assert i not in got
            continue
        n = len(words)
        tot = sum(len(w) for w in words)
        n_alpha = sum(1 for w in words if any(c.isalpha() and c.isascii()
                                              for c in w))
        stop_hits = len({w.lower() for w in words
                         if w.lower() in GOPHER_STOPWORDS})
        sym = t.count("#") + (len(t) - len(t.replace("...", ""))) // 3
        lines = t.split("\n")
        nl = max(len(lines), 1)
        bl = sum(1 for ln in lines if ln.lstrip()[:1] in ("-", "*", "•"))
        el = sum(1 for ln in lines
                 if ln.rstrip().endswith("...") or ln.rstrip().endswith("…"))
        r = got[i]
        assert r.n_words == n
        assert r.mean_word_len == half_up4(tot / n)
        assert r.frac_alpha_words == half_up4(n_alpha / n)
        assert r.stop_hits == stop_hits
        assert r.symbol_ratio == half_up4(sym / n)
        assert r.frac_bullet_lines == half_up4(bl / nl)
        assert r.frac_ellipsis_lines == half_up4(el / nl)
        expected_pass = (50 <= n <= 100000 and 3 * n <= tot <= 10 * n
                         and 10 * sym <= n and 10 * bl < 9 * nl
                         and 10 * el < 3 * nl and 5 * n_alpha >= 4 * n
                         and stop_hits >= 2)
        assert r.passes == expected_pass


manifests = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=1),   # source index
        st.integers(min_value=1, max_value=40),  # n_tokens
        st.integers(min_value=0, max_value=9),   # priority
    ),
    min_size=1, max_size=12,
)


@settings(max_examples=6, deadline=None)
@given(rows=manifests, budget=st.integers(min_value=1, max_value=60))
def test_token_budget_invariants(spark, rows, budget):
    """For ANY manifest and budget: (a) the selected set per source is
    exactly a PREFIX of the (priority desc, id asc) order; (b) the prior
    mass of every selected doc is < budget (fill-then-cut: only the
    crossing doc may exceed it); (c) every source selects at least one
    doc (budget >= 1, token counts >= 1); (d) the python reference
    computes the identical selection."""
    from fermor_spark.pipeline.sample import token_budget

    data = [(i, f"s{srci}", nt, pr) for i, (srci, nt, pr) in enumerate(rows)]
    df = spark.createDataFrame(
        data, "doc_id long, source string, n_tokens long, prio long")
    got = {(r["source"], r["doc_id"]): r["cum_tokens"]
           for r in token_budget(df, "doc_id", "source", "n_tokens",
                                 budget=budget, priority_col="prio").collect()}

    by_src: dict = {}
    for i, src, nt, pr in data:
        by_src.setdefault(src, []).append((-pr, i, nt))
    want = {}
    for src, docs in by_src.items():
        cum = 0
        for _negpr, i, nt in sorted(docs):
            if cum >= budget:
                break
            cum += nt
            want[(src, i)] = cum
    assert got == want
    for src, docs in by_src.items():
        assert any(k[0] == src for k in got), f"source {src} empty"


@settings(max_examples=8, deadline=None)
@given(w=st.integers(min_value=1, max_value=40),
       h=st.integers(min_value=1, max_value=40),
       seed=st.integers(min_value=0, max_value=2**31),
       color=st.booleans(), sub=st.booleans(),
       dri=st.integers(min_value=0, max_value=3))
def test_jpeg_arith_encoder_matches_huffman_twin(w, h, seed, color, sub, dri):
    """ANY image encoded by _jpeg_arith_encode (QM-coder, SOF9) and by
    _jpeg_encode (Huffman, SOF0) with the same quant decodes to
    byte-identical pixels — the entropy layer is exactly lossless for
    arbitrary dims (edge MCUs), gray/4:4:4/4:2:0, and restart intervals."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (_jpeg_arith_encode,
                                                  _jpeg_decode, _jpeg_encode)

    rng = np.random.default_rng(seed)
    shape = (h, w, 3) if color else (h, w)
    arr = rng.integers(0, 256, size=shape).astype(np.uint8)
    sub = sub and color
    ra = _jpeg_decode(_jpeg_arith_encode(arr, subsample=sub, dri=dri))
    rh = _jpeg_decode(_jpeg_encode(arr, subsample=sub, dri=dri))
    assert not isinstance(ra, (str, type(None)))
    assert ra[:3] == rh[:3] == (w, h, 3 if color else 1)
    assert ra[3] == rh[3]


flac_signals = st.lists(st.integers(min_value=-32768, max_value=32767),
                        min_size=1, max_size=300)


@settings(max_examples=10, deadline=None)
@given(sig=flac_signals, block=st.sampled_from([16, 64, 4096]),
       ch=st.integers(min_value=1, max_value=2))
def test_flac_round_trip_bit_exact(sig, block, ch):
    """ANY int16 signal survives encode->decode bit-exactly through the
    real FLAC bitstream (fixed-predictor subset, multi-frame when the
    signal exceeds the block size), for mono and independent stereo —
    including the CRC-8/CRC-16 checks and the STREAMINFO MD5 verify that
    _flac_decode performs."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _flac_decode, _flac_encode

    x = np.asarray(sig[: (len(sig) // ch) * ch], dtype=np.int16)
    if x.size == 0:
        x = np.zeros(ch, dtype=np.int16)
    blob = _flac_encode(x, 8000, channels=ch, block_size=block)
    rate, och, bps, inter = _flac_decode(blob)
    assert (rate, och, bps) == (8000, ch, 16)
    assert inter.astype(np.int64).tolist() == x.astype(np.int64).tolist()


@settings(max_examples=8, deadline=None)
@given(sig=flac_signals, block=st.sampled_from([16, 64, 4096]),
       mode=st.sampled_from(["left-side", "right-side", "mid-side"]))
def test_flac_stereo_decorrelation_round_trip(sig, block, mode):
    """left-side / right-side / mid-side channel assignments survive
    encode->decode bit-exactly: the side channel carries bps+1 bits and
    the decoder reconstructs L/R from the decorrelated pair."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _flac_decode, _flac_encode

    x = np.asarray(sig[: (len(sig) // 2) * 2], dtype=np.int16)
    if x.size == 0:
        x = np.zeros(2, dtype=np.int16)
    blob = _flac_encode(x, 8000, channels=2, block_size=block,
                        stereo_mode=mode)
    rate, och, bps, inter = _flac_decode(blob)
    assert (rate, och, bps) == (8000, 2, 16)
    assert inter.astype(np.int64).tolist() == x.astype(np.int64).tolist()


@settings(max_examples=8, deadline=None)
@given(sig=st.lists(st.integers(min_value=-32768, max_value=32767),
                    min_size=6, max_size=300),
       block=st.sampled_from([32, 4096]),
       order=st.integers(min_value=1, max_value=4))
def test_flac_lpc_subframe_round_trip(sig, block, order):
    """LPC subframes (quantized coefficients + shift) decode bit-exactly.
    The encoder's ``lpc=`` fixture hook forces a fixed coefficient model;
    the decoder must invert it regardless of the model's quality."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _flac_decode, _flac_encode

    # a deterministic, deliberately imperfect predictor model
    coefs = [3, -2, 1, 1][:order]
    x = np.asarray(sig, dtype=np.int16)
    blob = _flac_encode(x, 8000, channels=1, block_size=block,
                        lpc=(coefs, 1, 6))
    rate, och, bps, inter = _flac_decode(blob)
    assert (rate, och, bps) == (8000, 1, 16)
    assert inter.astype(np.int64).tolist() == x.astype(np.int64).tolist()


def test_flac_lpc_stereo_combined_round_trip():
    """LPC subframes under mid-side decorrelation — both new decode
    paths composed in one stream — reconstruct bit-exactly."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import _flac_decode, _flac_encode

    t = np.arange(1000)
    left = (3000 * np.sin(t / 7.0)).astype(np.int16)
    right = (2000 * np.sin(t / 11.0 + 1.0)).astype(np.int16)
    x = np.stack([left, right], axis=1)
    blob = _flac_encode(x, 16000, channels=2, block_size=256,
                        stereo_mode="mid-side", lpc=([2, -1], 0, 4))
    rate, och, bps, inter = _flac_decode(blob)
    assert (rate, och, bps) == (16000, 2, 16)
    assert inter.astype(np.int64).reshape(-1, 2).tolist() == \
        x.astype(np.int64).tolist()


def test_flac_crc_corruption_detected():
    """A single flipped bit inside a frame fails the CRC-16 (or CRC-8 /
    MD5) check — the decoder never silently returns wrong samples."""
    import numpy as np
    import pytest as _pytest

    from fermor_spark.pipeline.multimodal import _flac_decode, _flac_encode

    blob = bytearray(_flac_encode(
        np.arange(-300, 300, dtype=np.int16), 8000, block_size=64))
    blob[len(blob) // 2] ^= 0x08
    with _pytest.raises(ValueError):
        _flac_decode(bytes(blob))


def test_flac_parse_samples_none_on_truncation():
    """A truncated/corrupt FLAC payload must yield None features, never an
    escaping exception (r10 advisory: mid-frame truncation escaped as
    IndexError and would have failed the whole audio_features Spark
    task) — _flac_parse_samples now swallows the same exception set as
    _none_on_malformed."""
    import numpy as np

    from fermor_spark.pipeline.multimodal import (_flac_encode,
                                                  _flac_parse_samples)

    blob = _flac_encode(np.arange(-300, 300, dtype=np.int16), 8000,
                        block_size=64)
    for cut in (20, len(blob) // 2, len(blob) - 3):
        assert _flac_parse_samples(bytes(blob[:cut])) is None


def test_flac_and_wav_features_agree(spark):
    """synth_flac_table carries the SAME closed-form signal as
    synth_wav_table; audio_features over both containers must produce
    identical rows — the compressed FLAC round trip is sample-exact."""
    from fermor_spark.pipeline.multimodal import (audio_features,
                                                  synth_flac_table,
                                                  synth_wav_table)

    d = spark.createDataFrame([(i,) for i in range(0, 12)], "doc_id long")
    wav = {r["media_id"]: r for r in audio_features(
        synth_wav_table(d)).collect()}
    flac = {r["media_id"]: r for r in audio_features(
        synth_flac_table(d)).collect()}
    assert set(wav) == set(flac) == set(range(12))
    for k in wav:
        assert wav[k] == flac[k]


def test_url_normalize_null_on_java_rejected_host(spark):
    """Documented null contract (pipeline/url.py): hosts Java's URI parser
    rejects — e.g. a DNS label ending in '-' (invalid per RFC 952) — make
    parse_url return null, so url_normalize yields null rather than passing
    malformed hosts through. Pinned after the r10 hypothesis flake drew
    'A-.AA' from a generator that admitted trailing-hyphen labels."""
    from fermor_spark.pipeline.url import url_normalize

    df = spark.createDataFrame([("http://ab-.example.com/x",)], "url string")
    assert url_normalize(df, "url").collect()[0]["norm_url"] is None


@settings(max_examples=12, deadline=None)
@given(host=st.from_regex(
    # RFC-952-valid labels only: no trailing hyphen (Java's URI parser —
    # hence Spark's parse_url — rejects hosts like 'ab-.example.com', and
    # url_normalize documents null for those; that contract is pinned in
    # test_url_normalize_null_on_java_rejected_host above).
    r"([A-Za-z]([A-Za-z0-9-]{0,6}[A-Za-z0-9])?\.){1,3}[A-Za-z]{2,6}",
    fullmatch=True),
       scheme=st.sampled_from(["http", "HTTP", "https", "HTTPS"]),
       port=st.sampled_from(["", ":80", ":443", ":8080"]),
       path=st.from_regex(r"(/[A-Za-z0-9._~-]{0,6}){0,4}/?", fullmatch=True),
       params=st.lists(st.sampled_from(
           ["id=1", "q=x", "utm_source=a", "fbclid=b", "ref=c", "a=b"]),
           max_size=4),
       frag=st.sampled_from(["", "#x", "#a/b"]))
def test_url_normalize_idempotent(spark, host, scheme, port, path,
                                  params, frag):
    """Canonicalization is IDEMPOTENT: norm(norm(u)) == norm(u) for any
    well-formed URL — the property that makes normalized URLs safe as
    dedup keys (a second pass can't split a group)."""
    from fermor_spark.pipeline.url import url_normalize

    u = f"{scheme}://{host}{port}{path}"
    if params:
        u += "?" + "&".join(params)
    u += frag
    df = spark.createDataFrame([(u,)], "url string")
    once = url_normalize(df, "url").collect()[0]["norm_url"]
    assert once is not None, u
    twice = url_normalize(
        spark.createDataFrame([(once,)], "url string"),
        "url").collect()[0]["norm_url"]
    assert twice == once, (u, once, twice)


@settings(max_examples=200, deadline=None)
@given(s=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
                 max_size=40))
def test_robots_pct_decode_matches_unquote_reference(s):
    """_pct_decode agrees with urllib's unquote on every printable-ASCII
    string whose decode contains only US-ASCII and no slash-octet (the
    %2F carve-out and the %80-%FF passthrough are the ONLY intended
    divergences — RFC 9309 §2.2.2 scopes the encoded/unencoded
    equivalence to US-ASCII, so non-ASCII escapes stay escape text),
    is idempotent once fully decoded of valid escapes, and never raises
    on malformed escapes."""
    from urllib.parse import unquote

    from fermor_spark.pipeline.url import _pct_decode

    got = _pct_decode(s)
    ref = unquote(s, encoding="latin-1")
    if ("/" not in ref and "%2F" not in got
            and all(ord(c) < 0x80 for c in ref)):
        assert got == ref, (s, got, ref)
    # %XX-free output is a fixpoint (all that remains are literal '%'
    # from malformed escapes or the canonical %2F carve-out)
    again = _pct_decode(got)
    if "%" not in got.replace("%2F", ""):
        assert again == got


@settings(max_examples=10, deadline=None)
@given(payloads=st.lists(st.binary(max_size=200), min_size=1, max_size=12),
       compress=st.booleans())
def test_warc_roundtrip_arbitrary_binary(payloads, compress):
    """ANY binary payloads — including bytes that look like WARC/HTTP
    framing — survive warc_bytes → _parse_warc_stream byte-exactly, in
    both plain and per-record-gzip layouts (driver-side parse; the
    Spark path shares this exact code)."""
    import gzip as _gzip

    from fermor_spark.pipeline.warc import _parse_warc_stream, warc_bytes

    recs = [{"url": f"http://h.example/{i}", "payload": p}
            for i, p in enumerate(payloads)]
    blob = warc_bytes(recs, compress=compress)
    data = _gzip.decompress(blob) if compress else blob
    rows = [r for r in _parse_warc_stream("f", data) if r[1] == "response"]
    assert [r[6] for r in rows] == payloads
    assert [r[2] for r in rows] == [r["url"] for r in recs]


@settings(max_examples=20, deadline=None)
@given(bits=st.lists(st.booleans(), min_size=0, max_size=400),
       ctxs=st.lists(st.integers(min_value=0, max_value=19), min_size=1,
                     max_size=5))
def test_qm_coder_roundtrip_any_bit_sequence(bits, ctxs):
    """The T.81 QM arithmetic coder below the JPEG layer: ANY bit
    sequence coded against ANY schedule of adaptive context bins decodes
    back exactly — interval subdivision, conditional MPS/LPS exchange,
    carry stacking, byte stuffing, flush, and the BYTEIN marker stall
    all inverse correctly. (The JPEG-layer tests cover the statistical
    models; this pins the coder itself.)"""
    from fermor_spark.pipeline.multimodal import _ArithDecoder, _ArithEncoder

    enc = _ArithEncoder()
    st_area = bytearray(20)
    for i, b in enumerate(bits):
        enc.encode(st_area, ctxs[i % len(ctxs)], 1 if b else 0)
    data = enc.flush() + b"\xff\xd9"   # terminating marker (legal stall)
    dec = _ArithDecoder(data, 0)
    st2 = bytearray(20)
    got = [dec.decode(st2, ctxs[i % len(ctxs)]) for i in range(len(bits))]
    assert got == [1 if b else 0 for b in bits]


@settings(max_examples=30, deadline=None)
@given(soup=st.text(
    alphabet=st.sampled_from(list("<>/&;=\"' abcdefps123!-\n\r\tä")),
    max_size=300))
def test_html_extract_never_raises_on_tag_soup(soup):
    """extract_html over arbitrary tag soup: never raises, and when it
    returns text the text is a whitespace-normalized string (no markup
    control characters beyond what the soup legitimately contains as
    data). Malformed-beyond-recovery inputs yield the all-None row."""
    from fermor_spark.pipeline.html import extract_html

    t, x, nb, nl, lang, noindex = extract_html(soup)
    if x is not None:
        assert isinstance(x, str)
        assert "\r" not in x and "\t" not in x
        assert nb >= 0 and nl >= 0


# --- funnel vs brute force (r13: the left-join-chain rewrite's
# null-propagation semantics randomized against a pure-python model)

_funnel_events = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),             # user
        st.integers(min_value=0, max_value=40),            # hour offset
        st.sampled_from(["view", "click", "purchase"]),    # type
    ),
    min_size=1, max_size=24,
)


@settings(max_examples=8, deadline=None)
@given(evs=_funnel_events)
def test_funnel_matches_brute_force(spark, evs):
    """funnel() == the literal cascade definition: per user, anchor at
    the FIRST step-1 time, then for each later step the earliest event
    strictly after the previous matched time and within the horizon of
    the anchor."""
    import datetime as dt

    from fermor_spark.temporal import funnel

    t0 = dt.datetime(2024, 1, 1)
    steps = ["view", "click", "purchase"]
    horizon = dt.timedelta(hours=12)
    rows = [(i, t0 + dt.timedelta(hours=h), u, ty)
            for i, (u, h, ty) in enumerate(evs)]

    # brute-force model
    exp = {s: 0 for s in steps}
    for u in {r[2] for r in rows}:
        mine = [(ts, ty) for (_, ts, uu, ty) in rows if uu == u]
        firsts = [ts for ts, ty in mine if ty == steps[0]]
        if not firsts:
            continue
        t1 = min(firsts)
        exp[steps[0]] += 1
        prev = t1
        for s in steps[1:]:
            cand = [ts for ts, ty in mine
                    if ty == s and ts > prev and ts <= t1 + horizon]
            if not cand:
                break
            prev = min(cand)
            exp[s] += 1

    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {r.step_name: r.n_users
           for r in funnel(ev, steps, horizon="12 hours").collect()}
    assert got == exp, (rows, got, exp)


# --- temporal + dedup operators vs brute-force models (r13 depth pass)

_asof_times = st.lists(st.integers(min_value=0, max_value=50),
                       min_size=1, max_size=12)


@settings(max_examples=6, deadline=None)
@given(lts=_asof_times, rts=_asof_times,
       tol=st.sampled_from([None, 5 * 60]))
def test_asof_join_matches_brute_force(spark, lts, rts, tol):
    """asof_join == the literal definition: per key, the most recent right
    row with right.ts <= left.ts (ties allowed), nulls when none or when
    outside the tolerance window."""
    import datetime as dt

    from fermor_spark.temporal import asof_join

    t0 = dt.datetime(2024, 1, 1)
    ls = [(i, t0 + dt.timedelta(minutes=m), i % 2) for i, m in enumerate(lts)]
    rs = [(100 + j, t0 + dt.timedelta(minutes=m), j % 2, float(j))
          for j, m in enumerate(rts)]
    left = spark.createDataFrame(ls, "lid long, ts timestamp, k long")
    right = spark.createDataFrame(
        rs, "rid long, ts timestamp, k long, val double")
    out = asof_join(left, right, on="ts", by="k", right_cols=["val"],
                    tolerance_seconds=tol).collect()

    for row in out:
        cands = [(ts, v) for (_, ts, k, v) in rs
                 if k == row["k"] and ts <= row["ts"]
                 and (tol is None or (row["ts"] - ts).total_seconds() <= tol)]
        if not cands:
            assert row["val_right"] is None, (row, cands)
        else:
            # several right rows may share the winning timestamp; the
            # operator's pick among exact ties is unspecified — accept any
            best_ts = max(ts for ts, _ in cands)
            allowed = {v for ts, v in cands if ts == best_ts}
            assert row["val_right"] in allowed, (row, cands)


_cohort_events = st.lists(
    st.tuples(st.integers(min_value=1, max_value=5),      # user
              st.integers(min_value=0, max_value=30)),     # day offset
    min_size=1, max_size=20,
)


@settings(max_examples=6, deadline=None)
@given(evs=_cohort_events)
def test_retention_cohorts_matches_brute_force(spark, evs):
    """retention_cohorts == the literal definition: cohort = week of the
    user's first event; (cohort, offset) counts the users of that cohort
    active in cohort_week + offset; cohort_size = cohort population."""
    import datetime as dt
    from collections import defaultdict

    from fermor_spark.temporal import retention_cohorts

    w0 = dt.datetime(2024, 1, 1)    # a Monday -> week boundaries align
    rows = [(i, w0 + dt.timedelta(days=d), u, "e")
            for i, (u, d) in enumerate(evs)]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = {(str(r["cohort_start"]), r["period_offset"]):
           (r["n_users"], r["cohort_size"])
           for r in retention_cohorts(ev).collect()}

    week = lambda ts: ts.date() - dt.timedelta(days=ts.weekday())
    first = {}
    for _, ts, u, _t in rows:
        first[u] = min(first.get(u, ts), ts)
    cohort_of = {u: week(ts) for u, ts in first.items()}
    sizes = defaultdict(int)
    for u, c in cohort_of.items():
        sizes[c] += 1
    active = {(cohort_of[u], (week(ts) - cohort_of[u]).days // 7, u)
              for _, ts, u, _t in rows}
    exp = defaultdict(int)
    for c, off, u in active:
        exp[(str(c), off)] += 1
    assert got == {k: (n, sizes[dt.date.fromisoformat(k[0])])
                   for k, n in exp.items()}, (rows, got, dict(exp))


_pair_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=9),
              st.integers(min_value=0, max_value=9)),
    min_size=0, max_size=15,
).map(lambda ps: [(a, b) for a, b in ps if a != b])


@settings(max_examples=6, deadline=None)
@given(ps=_pair_lists, force_distributed=st.booleans())
def test_dedup_clusters_matches_union_find(spark, ps, force_distributed):
    """dedup_clusters == min-id connected components over the pair graph,
    identical on the driver union-find finish AND the forced distributed
    star-contraction leg."""
    from fermor_spark.pipeline.dedup import dedup_clusters

    all_ids = spark.createDataFrame([(i,) for i in range(10)], "id long")
    pairs = spark.createDataFrame(ps or [(0, 0)], "id_a long, id_b long") \
        .where(F.col("id_a") != F.col("id_b")) if ps else \
        spark.createDataFrame([], "id_a long, id_b long")
    got = {r["id"]: r["cluster"]
           for r in dedup_clusters(
               pairs, all_ids,
               local_edge_threshold=0 if force_distributed else 200_000
           ).collect()}

    parent = list(range(10))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in ps:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp = {}
    for i in range(10):
        comp.setdefault(find(i), []).append(i)
    exp = {i: min(members) for members in comp.values() for i in members}
    assert got == exp, (ps, got, exp)


@settings(max_examples=6, deadline=None)
@given(lts=_asof_times, rts=_asof_times,
       before=st.sampled_from([0, 60, 300]),
       after=st.sampled_from([0, 90, 600]))
def test_range_join_matches_brute_force(spark, lts, rts, before, after):
    """range_join == the literal interval definition (every right row in
    [left.ts - before, left.ts + after] per key, inclusive, no duplicates)
    — pins the bin-width / ±1-probe arithmetic on random boundary-heavy
    inputs, including second-exact gaps at both bounds."""
    import datetime as dt
    from collections import Counter

    from fermor_spark.temporal import range_join

    t0 = dt.datetime(2024, 1, 1)
    ls = [(i, t0 + dt.timedelta(seconds=m * 30), i % 2)
          for i, m in enumerate(lts)]
    rs = [(100 + j, t0 + dt.timedelta(seconds=m * 30), j % 2, float(j))
          for j, m in enumerate(rts)]
    left = spark.createDataFrame(ls, "lid long, ts timestamp, k long")
    right = spark.createDataFrame(
        rs, "rid long, ts timestamp, k long, val double")
    got = Counter((r["lid"], r["rid_right"]) for r in range_join(
        left, right, on="ts", by="k",
        before_seconds=before, after_seconds=after).collect())

    exp = Counter()
    for lid, lt, lk in ls:
        for rid, rt, rk, _ in rs:
            if rk == lk and \
               lt - dt.timedelta(seconds=before) <= rt \
               <= lt + dt.timedelta(seconds=after):
                exp[(lid, rid)] += 1
    assert got == exp, (got - exp, exp - got)
    assert all(v == 1 for v in got.values())   # ±1 probe never duplicates


@settings(max_examples=5, deadline=None)
@given(edges=edge_lists,
       mn=st.sampled_from([None, 0, 1, 2]),
       mx=st.sampled_from([None, 1, 2]))
def test_lookahead_minmax_matches_brute_force(spark, edges, mn, mx):
    """lookahead(min,max) == literal out-degree counting, including the
    reference's nil-min rule (count-0 elements kept when min is None/0)."""
    if mn is not None and mx is not None and mx < mn:
        mn, mx = mx, mn
    from collections import Counter

    g = _graph(spark, edges)
    got = g.vertices().lookahead(lambda r: r.out("l"),
                                 min_count=mn, max_count=mx).id_set()
    eff = edges or [("z0", "z1")]
    deg = Counter(a for a, _ in eff)
    verts = {x for e in eff for x in e}
    exp = {v for v in verts
           if (mn is None or deg[v] >= mn) and (mx is None or deg[v] <= mx)}
    if mn is None and mx is None:   # plain semi-join: >=1 result
        exp = {v for v in verts if deg[v] >= 1}
    assert got == exp, (eff, mn, mx, got, exp)


@settings(max_examples=5, deadline=None)
@given(n=st.integers(min_value=1, max_value=60),
       w_train=st.integers(min_value=1, max_value=8),
       w_val=st.integers(min_value=1, max_value=8),
       seed=st.sampled_from(["split", "s2"]))
def test_hash_split_partition_properties(spark, n, w_train, w_val, seed):
    """hash_split invariants for any weights/seed: labels partition the
    rows (every row exactly one label from the weight map); assignment is
    a pure function of (seed, id) — re-running on a GROWN dataset never
    reassigns an existing id."""
    from fermor_spark.pipeline.sample import hash_split

    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    w = {"train": float(w_train), "val": float(w_val)}
    got = {r["doc_id"]: r["split"]
           for r in hash_split(df, "doc_id", w, seed=seed).collect()}
    assert set(got) == set(range(n))
    assert set(got.values()) <= set(w)

    grown = spark.createDataFrame([(i,) for i in range(2 * n)], "doc_id long")
    regrown = {r["doc_id"]: r["split"]
               for r in hash_split(grown, "doc_id", w, seed=seed).collect()}
    assert all(regrown[i] == got[i] for i in range(n))
