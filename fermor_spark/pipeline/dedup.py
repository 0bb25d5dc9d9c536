"""Deduplication operators.

Scale design: every near-dup path is candidate-generation-by-blocking
(LSH bands / hash buckets) followed by verification inside buckets — never
an all-pairs comparison. Exact dedup is a single hash-groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from fermor_spark.iterate import (
    _driver_scale, _fixpoint, _min_label_components, _persist, _record, round_rows)
from fermor_spark.session import managed_cache


def __getattr__(name: str):
    # PEP 562: min-propagation rounds of the calling context's most recent
    # dedup_clusters call (iterate's round record); 0 = the driver
    # union-find finish ran instead
    if name == "LAST_CLUSTER_ROUNDS":
        return len(round_rows("cluster"))
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def exact_dedup(df: DataFrame, key_cols: list[str], order_cols: list[str]) -> DataFrame:
    """Keep exactly one row per key (first by order_cols) — deterministic
    hash-groupBy dedup."""
    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, sh) exploded distinct word-n-gram shingles.

    Per-row formulation (r17): the token array materializes ONCE per row
    behind a Generate barrier (explode of a 1-element array — a bare
    array expression re-inlines the tokenization per consumer after
    Catalyst's projection collapse, the quadratic hazard documented at
    pipeline.text.fingerprint), and the complete n-grams are the
    arrays_zip of n aligned slices of that array — built-in collection
    expressions only, no per-element lambda, no lead() windows, no
    partition sort. Short documents (< n tokens) yield no shingles via
    the greatest(0, ...) slice-length clamp, mirroring the SQL-oracle
    formulation exactly.

    The explicit keyed repartition stays (now over DOC rows — strictly
    fewer bytes than the old exploded-token shuffle): it spreads the
    high-CPU explode stage, is exempt from AQE partition coalescing
    (which otherwise serializes the stage on 2 tasks), and the final
    distinct plus every downstream per-id aggregation/join ride its
    partitioning with no further exchange."""
    from fermor_spark.pipeline.text import tokens

    sc = df.sparkSession.sparkContext
    n_parts = max(sc.defaultParallelism, df.rdd.getNumPartitions())
    base = df.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("_t")
    ).repartition(n_parts, "id")
    ta = base.select("id", F.explode(F.array(tokens(F.col("_t")))).alias("_a"))
    ln = F.greatest(F.size("_a") - (n - 1), F.lit(0))
    # slices aliased: explicit struct field names (w0..wn-1) instead of
    # arrays_zip's undocumented positional naming (ADVICE r17)
    zipped = F.arrays_zip(
        *[F.slice("_a", j + 1, ln).alias(f"w{j}") for j in range(n)])
    return (
        ta.select("id", F.explode(zipped).alias("_g"))
        .select(
            "id",
            F.concat_ws(" ", *[F.col(f"_g.w{j}") for j in range(n)]).alias("sh"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.8,
    max_shingle_df: int | None = None, round_digits: int = 6,
) -> DataFrame:
    """Near-dup pairs by word-n-gram Jaccard ≥ threshold → (id_a, id_b, jaccard).

    Candidate generation is PREFIX FILTERING (AllPairs/PPJoin, Bayardo et
    al., "Scaling Up All Pairs Similarity Search", WWW'07): order every
    document's shingles by global rarity (ascending document frequency);
    for Jaccard ≥ t a true pair MUST share a shingle inside each side's
    first ``n_doc - ceil(t*n_doc) + 1`` shingles (else all shared shingles
    fit in the ceil(t*n)-1 suffix, contradicting |∩| ≥ t·n). So the
    blocking self-join runs on the ~(1-t) rarest shingles per doc only —
    on templated corpora this cuts candidates by orders of magnitude vs
    blocking on every shingle, because common template shingles sort last
    and never generate pairs. A size-ratio filter (t·max(na,nb) ≤
    min(na,nb), a Jaccard necessary condition) prunes further.

    Verification is exact and scale-safe: candidates shuffle-join the
    per-doc sorted shingle ARRAYS and count the intersection JVM-side with
    ``array_intersect`` — no broadcast of an unbounded candidate set, no
    row explosion. The returned jaccard is always exact.

    ``max_shingle_df`` additionally drops shingles with document frequency
    above the cap from candidate GENERATION only (prefix entries are the
    rarest shingles, so this almost never fires after prefix filtering —
    it is a guard against corpora whose every shingle is hot). Results are
    identical as long as every true pair shares ≥1 sub-cap shingle; at
    threshold ≥ 0.5 a near-dup pair shares most of its (overwhelmingly
    rare) shingles, so any cap well above 2 is safe.
    """
    sh = managed_cache(shingle_table(df, id_col, text_col, n))

    # global rarity order: document frequency, shingle text as tiebreak
    freq = sh.groupBy("sh").agg(F.count("*").alias("_df"))
    ranked = sh.join(freq, "sh")
    if max_shingle_df is not None:
        ranked = ranked.where(F.col("_df") <= max_shingle_df)
    # Prefix selection IN the row (r17): each doc's shingles collected and
    # sorted by (rarity, text) as one array, the first n − ⌈t·n⌉ + 1
    # sliced out — one collect_list aggregate where the former shape paid
    # the same id exchange PLUS a partition-wide sort and two window
    # passes (row_number + count) over the ranked shingle table. The
    # (_df, sh) struct sort is the window's exact ORDER BY ((id, sh)
    # unique ⟹ no ties), and _n is the same post-cap shingle count.
    per = ranked.groupBy("id").agg(
        F.sort_array(F.collect_list(F.struct("_df", "sh"))).alias("_a"))
    nsz = F.size("_a")
    plen = F.greatest(
        (nsz - F.ceil(F.lit(threshold) * nsz) + 1).cast("int"), F.lit(0))
    # persisted: consumed by BOTH legs of the blocking self-join — the
    # aliasing (id→id_a / id→id_b) sits above the exchange, so without a
    # persist each leg recomputes the join+aggregate upstream. ~(1-t) of
    # the shingle rows, far smaller than the corpus.
    prefix = (
        per.select("id", F.explode(F.slice("_a", 1, plen)).alias("_s"),
                   nsz.cast("long").alias("_n"))
        .select("id", F.col("_s.sh").alias("sh"), "_n")
    )
    prefix = managed_cache(prefix)

    a = prefix.select(F.col("id").alias("id_a"), "sh", F.col("_n").alias("na"))
    b = prefix.select(F.col("id").alias("id_b"), "sh", F.col("_n").alias("nb"))
    cands = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            F.least("na", "nb")
            >= F.ceil(F.lit(threshold) * F.greatest("na", "nb"))
        )
        .select("id_a", "id_b")
        .distinct()
    )

    # exact verify on full sorted shingle sets; arrays stay partition-local
    # through two equi-joins on doc id (sort-merge/AQE's choice) — the
    # intersection count is one JVM array_intersect per surviving pair
    # persisted for the same two-leg reason (id_a and id_b verify joins);
    # one row per document
    docsets = sh.groupBy("id").agg(
        F.sort_array(F.collect_list("sh")).alias("arr"),
        F.count("*").alias("n"),
    )
    docsets = managed_cache(docsets)
    # Verify joins are PINNED to shuffle-hash (build side = the candidate
    # list, which prefix filtering has already made the small side).
    # Unhinted, AQE broadcast-joins docsets BuildRight here: its row count
    # is tiny but every row carries the doc's full sorted shingle array, so
    # the broadcast build serializes the whole corpus's shingle mass on the
    # driver — timing-fragile under driver GC/memory pressure (the prime
    # suspect for BENCH_r07's unreproducible 11.55 s: all three timed runs
    # slow, same plan fast at 0.54 s in a clean full-sequence rerun) and
    # flatly impossible at 100 TB, where docsets is corpus-sized and only a
    # co-partitioned join on doc id can work.
    # Hint sides chosen for build-side MEMORY, not just join strategy: the
    # first join builds on bare cands (two ids per row — the small side by
    # construction). The second join's left input already carries arr_a per
    # candidate pair, so hinting IT would make the hash build hold one full
    # shingle array PER PAIR (docs duplicated across pairs — OOM risk on
    # clustered corpora where pairs >> docs); the hint goes on the docsets
    # leg instead, so the build side holds at most one array per doc.
    pairs = (
        cands.hint("shuffle_hash").join(
            docsets.select(
                F.col("id").alias("id_a"), F.col("arr").alias("arr_a"),
                F.col("n").alias("na")),
            "id_a")
        .join(
            docsets.select(
                F.col("id").alias("id_b"), F.col("arr").alias("arr_b"),
                F.col("n").alias("nb")).hint("shuffle_hash"),
            "id_b")
        .withColumn("c", F.size(F.array_intersect("arr_a", "arr_b")))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        pairs.where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, round_digits).alias("jaccard"))
    )


def _signatures_from_shingles(sh: DataFrame, num_hashes: int,
                              *extra: Column) -> DataFrame:
    """(id, h0..h{k-1}, *extra) over an (id, sh) shingle table: one
    groupBy, so ``extra`` aggregates (a per-doc size) ride the same pass
    instead of re-scanning the shingles."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(i)), F.col("sh")).cast("binary"))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs, *extra)


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, num_hashes: int = 16, shingle_n: int = 3
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature via min(md5(seed || shingle)).

    md5-over-string-min is engine-portable and deterministic; one groupBy
    with map-side partial aggregation."""
    return _signatures_from_shingles(
        shingle_table(df, id_col, text_col, shingle_n), num_hashes)


def _band_keys(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(id, band, key): each band's ``rows_per_band`` signature columns
    concatenated into one equi-join key.

    Banding is ONE array-explode projection, not a union of per-band
    selects: the union form re-evaluated the upstream signature
    aggregation once per band per self-join side (16 recomputations at
    bands=8 — measured 12s for 1.2k candidate pairs at sf0.1)."""
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat(*[F.col(f"h{band * rows_per_band + r}")
                       for r in range(rows_per_band)]).alias("key"),
        )
        for band in range(bands)
    ]
    return signatures.select(
        "id", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def lsh_candidates(signatures: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Candidate pairs sharing at least one LSH band → (id_a, id_b).

    bands × rows_per_band must equal the signature width. The join key is
    (band, concatenated-rows) — a pure equi-join, shuffle on the band key.
    With the single-scan banding of ``_band_keys`` the self-join's two
    identical legs collapse into one reused exchange."""
    banded = _band_keys(signatures, bands, rows_per_band)
    a = banded.select(F.col("id").alias("id_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str,
    num_hashes: int = 16, bands: int = 8, threshold: float = 0.8, shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ threshold.

    The shingle table is computed once and cached — the signature
    aggregation and the exact-Jaccard verify both read it (previously two
    independent posexplode passes over the corpus). It is explicitly
    hash-repartitioned by id before caching: AQE coalesces the distinct's
    shuffle to data-size-appropriate partitions (2 at sf0.1), which then
    serializes the 16-way md5 signature aggregation reading the cache —
    an explicit keyed repartition is exempt from AQE coalescing, spreads
    the hash work across cores, and co-locates every downstream id-keyed
    join/groupBy. Partition count = max(defaultParallelism, plan
    partitions) so a 100 TB input's existing parallelism is never
    reduced.

    ``shingles``: optional precomputed (id, sh) table — a composed
    pipeline that also decontaminates passes ONE cached corpus shingle
    table to every consumer stage instead of re-exploding the corpus per
    stage (the caller owns its caching/materialization)."""
    if shingles is not None:
        sh = shingles
    else:
        sc = df.sparkSession.sparkContext
        sh_raw = shingle_table(df, id_col, text_col, shingle_n)
        n_parts = max(sc.defaultParallelism, sh_raw.rdd.getNumPartitions())
        sh = managed_cache(sh_raw.repartition(n_parts, "id"))
        # materialize EAGERLY: the signature agg, the size agg, and both
        # verify legs all read this cache inside one action — left lazy,
        # their stages race to fill it and each racer recomputes the
        # uncached shingle plan (measured inside pipeline_curate_e2e at
        # sf0.1: the pairs stage swung 2.5-10.6 s run-to-run lazy vs
        # settling eager; same mechanism the caller-side s3 cache
        # documents).
        sh.count()
    sigs = _signatures_from_shingles(sh, num_hashes)
    cands = lsh_candidates(sigs, bands, num_hashes // bands)
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    inter = (
        cands.join(sh.select(F.col("id").alias("id_a"), "sh"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .where(F.col("sh") == F.col("sh_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("c"))
    )
    jac = F.col("c") * 1.0 / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .where(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str,
            portable: bool = False) -> DataFrame:
    """(id, simhash BIGINT): SimHash over whitespace tokens.

    Default token hash = xxhash64 (JVM-side, vectorizable), 64 bits. With
    ``portable=True`` the token hash is the first 60 bits of md5 as BIGINT
    — reproducible in other engines (DuckDB:
    ('0x' || substr(md5(tok),1,15))::BIGINT), which is what lets the
    driver oracle-check the candidate query. Each bit of the digest is the
    sign of the per-bit vote sum. One explode + one groupBy.
    """
    bits = 60 if portable else 64
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    )
    if portable:
        h = F.conv(
            F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10
        ).cast("long")
    else:
        h = F.xxhash64("tok")
    hashed = toks.select("id", h.alias("h"))
    # r17 (guide §4 expression cost): the per-bit vote sum(±1) is
    # equivalent to unconditional set-bit counts — vote_i = 2*s_i - n
    # with s_i = sum((h >> i) & 1) — so vote_i > 0 ⟺ 2*s_i > n. This
    # drops the branch and the signed ±1 per (token × bit) from the
    # aggregation update loop (60-64 columns × every token); measured
    # 1.45× on the sf0.1 gate with exact parity against the per-bit-vote
    # oracle SQL.
    sums = [
        F.sum(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1))).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = hashed.groupBy("id").agg(F.count(F.lit(1)).alias("_n"), *sums)
    sim = F.lit(0).cast("long")
    for i in range(bits):
        sim = sim + F.when(
            2 * F.col(f"s{i}") > F.col("_n"),
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
    return agg.select("id", sim.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    portable: bool = False,
) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming → (id_a, id_b, hamming).

    Blocking: split the hash into 4 bands (16 bits each, 15 when
    ``portable``); any pair within Hamming ≤ 3 shares ≥1 exact band
    (pigeonhole), so the candidate join is an equi-join on
    (band, band_value), then verify with bit_count(xor).

    Banding is ONE array-explode projection (the lsh_candidates pattern),
    not a union of per-band selects: the union form re-evaluated the
    upstream 60/64-bit vote aggregation once per band per self-join side
    (8 recomputations of the simhash groupBy at 4 bands) — the same
    recompute trap fixed in lsh_candidates and incremental minhash
    (c420cbe). With a single-scan explode the self-join's two legs also
    collapse into one reused exchange.
    """
    width = 15 if portable else 16
    s = simhash(df, id_col, text_col, portable=portable)
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), band * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("key"),
        )
        for band in range(4)
    ]
    banded = s.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", "simhash",
             F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.select(F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "key")
    b = banded.select(F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "key")
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.9,
    num_planes: int = 8, seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup pairs ≥ threshold via hyperplane-LSH blocking.

    Candidates share a full sign-bucket over `num_planes` deterministic
    pseudo-random hyperplanes (derived from xxhash64(seed, plane, dim) —
    no driver-side RNG state); verification is exact cosine.
    High thresholds → near-identical vectors → same bucket with high
    probability; for recall-critical use, union buckets from several seeds.
    """
    from fermor_spark.pipeline.similarity import cosine_expr

    eb = embedding_buckets(df, id_col, vec_col, num_planes, seed)
    a = eb.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                  F.col("norm").alias("na"), "bucket")
    b = eb.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                  F.col("norm").alias("nb"), "bucket")
    cos = cosine_expr("va", "vb", "na", "nb")
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .where(F.col("cosine") >= threshold)
        .distinct()
    )


def embedding_buckets(df: DataFrame, id_col: str, vec_col: str,
                      num_planes: int = 8, seed: int = 42,
                      dim: int | None = None) -> DataFrame:
    """(id, v double[], norm, bucket) — the hyperplane-LSH sign bucket
    over deterministic pseudo-random planes, exposed so an incremental
    ingest loop can persist the CORPUS side once (embeddings never
    change once computed) and pass it back via ``corpus_buckets``.

    The sign projection is ONE numpy matmul per Arrow batch (the repo's
    vector-math rule, similarity.py's blocked-matmul kernels) instead of
    num_planes interpreted aggregate/zip_with folds per row — bucket
    bits are sign decisions, robust to summation-order ulp differences,
    unlike the verify cosine which stays on the JVM fold (cosine_expr)
    for bit-exact oracle parity. norm also stays JVM-side (with_norm)
    for the same reason.

    ``dim``: the embedding width. When None it is probed from the first
    NON-NULL row (one limit(1) action). A caller bucketing TWO sides
    against each other (incremental_embedding_dedup) must probe once and
    pass the same ``dim`` to both, so mismatched inputs fail loudly in
    the kernel below instead of silently deriving disjoint plane sets.
    Every batch is validated against ``dim``: ragged or mismatched
    widths raise a named ValueError rather than bucketing garbage.

    Persisted-bucket invalidation rule: the same-bucket-for-identical-
    vectors guarantee holds only for buckets computed by the SAME kernel
    (a plane dot within an ulp of 0 may sign-flip between summation
    orders). A corpus bucket table persisted by a different kernel
    version (e.g. the pre-r13 JVM fold) must be re-bucketed — one
    map-side pass over (id, v) — before being passed as
    ``corpus_buckets`` alongside this kernel's new-side buckets."""
    from pyspark.sql import types as T

    from fermor_spark.pipeline.similarity import _hyperplanes, with_norm

    e = with_norm(df, id_col, vec_col)
    if dim is None:
        # probe NON-NULL rows only: size(null) is null and int(None)
        # raises on the driver, while the kernel itself handles null
        # vectors ("" bucket). All-null or empty input -> "" buckets.
        probe = (df.where(F.col(vec_col).isNotNull())
                 .select(F.size(F.col(vec_col)).alias("d"))
                 .limit(1).collect())
        if not probe:   # vacuous input: nothing bucketable
            return e.withColumn("bucket", F.lit(""))
        dim = int(probe[0]["d"])
    import numpy as np

    planes_t = np.asarray(_hyperplanes(num_planes, dim, seed)).T  # (dim, P)
    out_schema = T.StructType(
        list(e.schema.fields) + [T.StructField("bucket", T.StringType())])

    def fn(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                yield pdf.assign(bucket=pd.Series([], dtype=object))
                continue
            vs = [None if v is None else np.asarray(v, dtype=np.float64)
                  for v in pdf["v"]]
            live = [i for i, v in enumerate(vs) if v is not None]
            buckets = [""] * len(vs)   # null vec -> "" (len != num_planes,
            # so it can never match a real bucket; verify cosine is null
            # anyway — same no-pair outcome as the old all-zeros bucket)
            if live:
                try:
                    V = np.stack([vs[i] for i in live])
                except ValueError as exc:
                    raise ValueError(
                        "embedding_buckets: ragged embedding widths "
                        f"{sorted({vs[i].shape[0] for i in live})[:5]} in one "
                        "batch — refuse to bucket mismatched vectors") from exc
                if V.shape[1] != dim:
                    raise ValueError(
                        f"embedding_buckets: batch width {V.shape[1]} != "
                        f"declared/probed dim {dim} — the two sides of an "
                        "incremental dedup must share one embedding width")
                signs = V @ planes_t >= 0   # (n, P)
                for i, row in zip(live, signs):
                    buckets[i] = "".join("1" if b else "0" for b in row)
            yield pdf.assign(bucket=buckets)

    return e.mapInPandas(fn, out_schema)


def incremental_embedding_dedup(new_df: DataFrame, corpus_df: DataFrame,
                                id_col: str, vec_col: str,
                                threshold: float = 0.9,
                                num_planes: int = 8, seed: int = 42,
                                out_col: str = "near_dup_of",
                                corpus_buckets: DataFrame | None = None
                                ) -> DataFrame:
    """Incremental SEMANTIC ingest dedup — the embedding-cosine member
    of the incremental trio (exact / MinHash / semantic): tag each NEW
    document with its nearest corpus semantic near-duplicate (the MIN
    corpus id among verified matches; null = novel), where "near-dup"
    means exact cosine >= ``threshold`` among hyperplane-LSH bucket
    candidates (rounded to 6 dp before the compare, the family's
    threshold convention).

    Recall contract: a new vector IDENTICAL to a corpus vector lands in
    the same sign bucket with certainty (same input, same planes), so
    exact-duplicate embeddings are never missed; near-but-not-identical
    vectors share the full bucket with high probability at high
    thresholds — the documented LSH approximation, union several seeds
    when recall-critical (embedding_near_dup_pairs's note).

    Scale shape: the corpus bucket table is a map-side projection —
    persist it per snapshot and pass it back via ``corpus_buckets``
    (embedding_buckets; append-only, the corpus_shingles precedent), so
    each cycle only the new snapshot pays bucketing; candidates come
    from one equi-join on bucket where the new side is the small one;
    only candidate pairs pay the exact-cosine verify."""
    from fermor_spark.pipeline.similarity import cosine_expr

    # Probe the embedding width ONCE and hand it to both sides: two
    # independent probes would derive plane sets from each side's own
    # first row, so mismatched widths silently produce disjoint bucket
    # strings (everything "novel") — with a shared dim the kernel raises
    # a named error instead. Probe the corpus first (the side that is
    # persisted and therefore authoritative); fall back to the new side
    # when the corpus is empty (first-ever snapshot).
    probe_side = corpus_df if corpus_buckets is None else new_df
    probe = (probe_side.where(F.col(vec_col).isNotNull())
             .select(F.size(F.col(vec_col)).alias("d")).limit(1).collect())
    if not probe:
        probe = (new_df.where(F.col(vec_col).isNotNull())
                 .select(F.size(F.col(vec_col)).alias("d"))
                 .limit(1).collect())
    dim = int(probe[0]["d"]) if probe else None

    nb = embedding_buckets(new_df, id_col, vec_col, num_planes, seed,
                           dim=dim)
    cb = corpus_buckets if corpus_buckets is not None else \
        embedding_buckets(corpus_df, id_col, vec_col, num_planes, seed,
                          dim=dim)
    a = nb.select(F.col("id").alias("_nid"), F.col("v").alias("va"),
                  F.col("norm").alias("na"), "bucket")
    b = cb.select(F.col("id").alias("_cid"), F.col("v").alias("vb"),
                  F.col("norm").alias("nb"), "bucket")
    cos = cosine_expr("va", "vb", "na", "nb")
    ver = (a.join(b, "bucket")
           .where(F.round(cos, 6) >= threshold)
           .groupBy("_nid").agg(F.min("_cid").alias(out_col))
           .withColumnRenamed("_nid", id_col))
    return new_df.join(ver, id_col, "left").select(
        *new_df.columns, F.col(out_col))


def dedup_clusters(pairs: DataFrame, all_ids: DataFrame,
                   local_pair_threshold: int = 200_000) -> DataFrame:
    """Resolve near-dup pairs into clusters → (id, cluster) where cluster is
    the min id of the connected component (min-id label propagation — the
    same fixpoint as iterate.connected_components, inlined here for plain
    id-pair input).

    Distributed/local hybrid (iterate.connected_components discipline):
    near-dup candidate pair sets are tiny relative to the corpus (LSH
    keeps them so by construction), so under ``local_pair_threshold`` the
    closure is the driver union-find CC uses, whose (id, cluster) map
    broadcasts back against all_ids — replacing up-to-50 min-propagation
    rounds with one broadcast join. Pass 0 to force the distributed path,
    whose rounds run on iterate's round driver (record ``cluster``)."""
    rec = _record("cluster")
    base = all_ids.select(F.col(all_ids.columns[0]).alias("id"))
    # Probe and fetch in ONE evaluation: pairs is typically the expensive
    # LSH-verify join, so a count() gate followed by toPandas() would run
    # the whole upstream pipeline twice.
    ppdf = _driver_scale(pairs.select("id_a", "id_b"), local_pair_threshold)
    if ppdf is not None:
        import pandas as pd

        comp = _min_label_components(ppdf["id_a"].tolist(), ppdf["id_b"].tolist())
        if not comp:
            return base.withColumn("cluster", F.col("id"))
        id_t = pairs.schema["id_a"].dataType.simpleString()
        m = pd.DataFrame({"id": list(comp), "_c": list(comp.values())})
        mdf = base.sparkSession.createDataFrame(m, f"id {id_t}, _c {id_t}")
        return (
            base.join(F.broadcast(mdf), "id", "left")
            .select("id", F.coalesce(F.col("_c"), F.col("id")).alias("cluster"))
        )
    # materialized once: every round joins it, and a lazy pair set would
    # re-run the upstream LSH pipeline inside each round
    adj = _persist(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .unionByName(pairs.select(F.col("id_b").alias("u"), F.col("id_a").alias("v")))
    )

    def lower(comp: DataFrame, _: int) -> DataFrame:
        neigh = (
            comp.join(adj, comp["id"] == adj["u"], "inner")
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("cluster").alias("nc"))
        )
        return comp.select("id", "cluster").join(neigh, "id", "left").select(
            "id", F.least(F.col("cluster"), F.coalesce(F.col("nc"), F.col("cluster"))).alias("cluster"),
            (F.col("nc") < F.col("cluster")).alias("_lowered"),
        )

    # the round's fixed-point probe is the count of lowered labels, fused
    # into the job that materializes the round (labels only ever fall)
    lowered = (F.count(F.when(F.col("_lowered"), True)),)
    comp = base.withColumn("cluster", F.col("id"))
    for comp, (n,) in _fixpoint(rec, comp, lower, 50, probe=lowered):
        if n == 0:
            break
    return comp.select("id", "cluster")


def duplicated_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 20, min_count: int = 2, min_span: int = 0,
) -> DataFrame:
    """EXACT-SUBSTRING duplicate spans (the ESD operator of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", ACL 2022)
    re-expressed Spark-first: instead of a monolithic suffix array, anchor
    on character k-grams — a position p is DUPLICATED when the k-gram
    starting at p occurs >= min_count times across the whole corpus
    (repeats inside the same document count, matching the paper's
    any-repeat semantics), and maximal runs of consecutive duplicated
    positions merge into spans [span_start, span_end) with
    span_end = last_pos + k. Any duplicated substring of length >= k is
    covered exactly by one reported span.

    Returns (doc_id, span_start, span_end, span_len), spans of length
    < min_span dropped.

    Scale shape (100 TB): 100% JVM column expressions — k-gram explosion
    via sequence+explode (row-linear in corpus characters, no UDF), one
    keyed count-shuffle on the k-gram hash (map-side partial combine), one
    hash-join of positions against the duplicated-gram set, and one
    per-document window merge (partitioned by doc). Positions group on
    xxhash64(gram) rather than the gram string to keep shuffle rows at 8
    bytes/key; a collision marking a unique gram duplicated has
    probability ~n^2/2^65 — negligible against the sampling noise of any
    downstream use, and the DuckDB oracle (which groups on the raw gram)
    driver-gates the equivalence at test scale.

    The window merge is the MEASURED shape (r18): the r17 per-row
    rewrite (sort_array(collect_list(pos)) + shifted-slice span pairing,
    adopted on a neutral local A/B for its structural two-fewer-passes
    argument) was re-measured at a 4x-replicated sf0.1 per VERDICT r17
    #5 and ran 1.22-1.32x SLOWER tree-interleaved on duplicated_spans
    (1.13-1.19x on cut_spans) — the giant per-doc position arrays cost
    more in the collect_list aggregate than the window's partition sort,
    and the gap GREW with SF. Reverted to the window cascade; the
    collect-based variant lives in git history (1bab61e) with both
    measurements."""
    pos = _dup_positions(df, id_col, text_col, k, min_count)
    w = Window.partitionBy("_id").orderBy("pos")
    runs = (
        pos.withColumn(
            "_brk",
            F.when(F.col("pos") - F.lag("pos").over(w) == 1, F.lit(0))
            .otherwise(F.lit(1)))
        .withColumn("_run", F.sum("_brk").over(w))
    )
    spans = (
        runs.groupBy("_id", "_run")
        .agg(F.min("pos").alias("span_start"),
             (F.max("pos") + k).alias("span_end"))
        .select(
            F.col("_id").alias(id_col),
            "span_start", "span_end",
            (F.col("span_end") - F.col("span_start")).alias("span_len"))
    )
    if min_span > 0:
        spans = spans.where(F.col("span_len") >= min_span)
    return spans


def _dup_positions(df: DataFrame, id_col: str, text_col: str,
                   k: int, min_count: int) -> DataFrame:
    """(_id, pos) — every character position whose k-gram occurs >=
    min_count times corpus-wide (the ESD anchor set shared by
    duplicated_spans and cut_spans)."""
    base = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t"))
        .where(F.length("_t") >= k)
    )
    grams = base.select(
        "_id",
        F.explode(F.sequence(F.lit(0), F.length("_t") - k)).alias("pos"),
        "_t",
    ).select(
        "_id", "pos",
        F.xxhash64(F.expr(f"substring(_t, pos + 1, {k})")).alias("_gh"),
    )
    # the gram table feeds BOTH the count aggregate and the position join;
    # without a cache Catalyst re-scans and re-explodes the corpus twice.
    # (id, pos, hash) is 24 bytes/row — far smaller than the text it came
    # from — and MEMORY_AND_DISK spills rather than evicting at scale
    grams = managed_cache(grams)
    dup = (
        grams.groupBy("_gh").agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") >= min_count)
        .select("_gh")
    )
    return grams.join(dup, "_gh").select("_id", "pos")


def span_coverage(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 20, min_count: int = 2,
) -> DataFrame:
    """Per-document duplicated-character coverage — the DECISION metric on
    top of duplicated_spans (drop or trim documents whose duplicated
    fraction exceeds a policy threshold, the usual corpus-curation rule
    paired with ESD). Returns every document of length >= k with
    (doc_id, n_chars, dup_chars, dup_frac); documents with no duplicated
    span report 0. Spans are maximal and non-overlapping by construction,
    so dup_chars is a plain sum of span lengths."""
    spans = duplicated_spans(df, id_col, text_col, k=k, min_count=min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_len").alias("dup_chars"))
    docs = df.select(id_col, F.length(text_col).alias("n_chars")).where(
        F.col("n_chars") >= k)
    return docs.join(per_doc, id_col, "left").select(
        id_col, "n_chars",
        F.coalesce(F.col("dup_chars"), F.lit(0)).alias("dup_chars"),
        F.round(F.coalesce(F.col("dup_chars"), F.lit(0)) / F.col("n_chars"),
                4).alias("dup_frac"))


def cut_spans(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    k: int = 20, min_count: int = 2, min_span: int = 0,
) -> DataFrame:
    """Remove duplicated spans from the text — the TRIM action of the ESD
    pipeline (Lee et al. cut the duplicated substrings rather than drop
    whole documents; `min_span` keeps short incidental repeats and cuts
    only long duplications). Returns every input document with
    (n_chars, cut_chars, cleaned_text) where cleaned_text concatenates
    the segments between spans in order.

    The splice is a single JVM F.aggregate over each doc's sorted span
    array — a (position, accumulator) fold emitting substring segments;
    no UDF, no char-level explosion (the oracle re-derives the same text
    character-by-character, which is the test-scale formulation)."""
    # reverted with duplicated_spans to the window form (r18): the shared
    # per-row span-array variant measured 1.13-1.19x slower tree-
    # interleaved at a 4x-replicated sf0.1 (see duplicated_spans)
    spans = duplicated_spans(df, id_col, text_col, k=k,
                             min_count=min_count, min_span=min_span)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("span_start", "span_end")))
        .alias("_sp"),
        F.sum("span_len").alias("cut_chars"))
    j = df.select(F.col(id_col).alias("_id"),
                  F.col(text_col).alias("_t")).join(
        per_doc.withColumnRenamed(id_col, "_id"), "_id", "left")
    sp = F.coalesce(F.col("_sp"), F.array().cast(
        "array<struct<span_start:bigint,span_end:bigint>>"))
    acc0 = F.struct(F.lit(0).cast("bigint").alias("pos"),
                    F.lit("").alias("acc"))
    cleaned = F.aggregate(
        sp, acc0,
        lambda a, s: F.struct(
            s["span_end"].alias("pos"),
            F.concat(a["acc"],
                     F.substring(F.col("_t"), a["pos"] + 1,
                                 s["span_start"] - a["pos"])).alias("acc")),
        lambda a: F.concat(
            a["acc"],
            F.substring(F.col("_t"), a["pos"] + 1,
                        F.length("_t") - a["pos"])),
    )
    return j.select(
        F.col("_id").alias(id_col),
        F.length("_t").cast("long").alias("n_chars"),
        F.coalesce(F.col("cut_chars"), F.lit(0)).alias("cut_chars"),
        cleaned.alias("cleaned_text"))


def line_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """EXACT corpus-level line deduplication — the C4 rule (Raffel et al.
    2020: discard any line occurring more than once in the dataset; all
    occurrences drop, not just repeats) also applied by RefinedWeb. Returns
    every document with (n_lines, kept_lines, cleaned_text) where
    cleaned_text rejoins the surviving lines in original order ('' when
    every line was corpus-duplicated).

    Scale shape: posexplode lines (row-linear), one count shuffle on the
    line text, a join of positions against the unique-line set, and one
    per-doc aggregation whose ordering is explicit (array_sort over
    (pos, line) structs — collect_list alone has NO order guarantee under
    parallel aggregation)."""
    lines = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    uniq = (
        lines.groupBy("line").agg(F.count("*").alias("_cnt"))
        .where(F.col("_cnt") == 1).select("line")
    )
    kept = (
        lines.join(uniq, "line")
        .groupBy("_id")
        .agg(
            F.count("*").alias("kept_lines"),
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"])).alias("cleaned_text"))
    )
    base = df.select(
        F.col(id_col).alias("_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"))
    return base.join(kept, "_id", "left").select(
        F.col("_id").alias(id_col), "n_lines",
        F.coalesce(F.col("kept_lines"), F.lit(0)).alias("kept_lines"),
        F.coalesce(F.col("cleaned_text"), F.lit("")).alias("cleaned_text"))


def contamination_pairs(
    train: DataFrame, bench: DataFrame,
    train_id: str = "doc_id", train_text: str = "text",
    bench_id: str = "doc_id", bench_text: str = "text",
    n: int = 3, min_overlap: int = 2, round_digits: int = 4,
    train_shingles: DataFrame | None = None,
) -> DataFrame:
    """Benchmark-decontamination overlap: (train_id, bench_id, overlap,
    bench_frac) for every train doc sharing >= min_overlap word-n-gram
    shingles with a benchmark doc. bench_frac = overlap / |bench shingles|
    (the fraction of the benchmark doc's content present in the train doc —
    the usual decision metric for dropping train docs before training).

    Scale shape: the benchmark set is tiny next to a 100 TB corpus, so its
    shingle table is BROADCAST — the train side is exploded map-side and
    never shuffles for the join; the only exchange is the final per-pair
    aggregation, whose input is already filtered to shingles that occur in
    the benchmark at all.

    ``train_shingles``: optional precomputed (id, sh) table for the train
    side — a composed pipeline passes the dedup stage's cached corpus
    shingle table (filtered to the surviving train ids) instead of
    re-exploding 100 TB of text a second time.
    """
    if train_shingles is not None:
        tsh = train_shingles.select(F.col("id").alias("t_id"), "sh")
    else:
        tsh = shingle_table(train, train_id, train_text, n).select(
            F.col("id").alias("t_id"), "sh"
        )
    bsh = shingle_table(bench, bench_id, bench_text, n).select(
        F.col("id").alias("b_id"), "sh"
    )
    bsizes = bsh.groupBy("b_id").agg(F.count("*").alias("bn"))
    overlap = (
        tsh.join(F.broadcast(bsh), "sh")
        .groupBy("t_id", "b_id")
        .agg(F.count("*").alias("overlap"))
        .where(F.col("overlap") >= min_overlap)
    )
    return (
        overlap.join(F.broadcast(bsizes), "b_id")
        .select(
            F.col("t_id").alias("train_id"),
            F.col("b_id").alias("bench_id"),
            "overlap",
            F.round(F.col("overlap") * 1.0 / F.col("bn"), round_digits).alias("bench_frac"),
        )
    )


def decontaminate(
    train: DataFrame, bench: DataFrame,
    train_id: str = "doc_id", train_text: str = "text",
    bench_id: str = "doc_id", bench_text: str = "text",
    n: int = 3, min_overlap: int = 2, min_bench_frac: float = 0.5,
    train_shingles: DataFrame | None = None,
) -> DataFrame:
    """Drop train docs contaminated by the benchmark set: any doc whose
    shingle overlap with some benchmark doc reaches BOTH min_overlap
    (absolute) and min_bench_frac (fraction of that benchmark doc).
    Implemented as a distributed left-anti join on the flagged id set.
    ``train_shingles`` passes a precomputed train-side shingle table
    through to contamination_pairs."""
    flagged = (
        contamination_pairs(train, bench, train_id, train_text,
                            bench_id, bench_text, n, min_overlap,
                            train_shingles=train_shingles)
        .where(F.col("bench_frac") >= min_bench_frac)
        .select(F.col("train_id").alias(train_id))
        .distinct()
    )
    return train.join(flagged, train_id, "left_anti")


def incremental_exact_dedup(new_df: DataFrame, corpus_df: DataFrame,
                            id_col: str, text_col: str,
                            fpp: float = 0.001,
                            out_col: str = "is_new",
                            hash_col=None) -> DataFrame:
    """Incremental ingest dedup: tag each NEW document as novel or
    already-in-corpus by exact text match — the check every periodic
    crawl snapshot runs against the accumulated corpus before paying
    for downstream curation.

    Scale shape (the Bloom filter's composition role): the corpus's
    text hashes build a Bloom filter once (sketches.bloom_build —
    mergeable partials, so per-snapshot filters can also be kept and
    OR-merged instead of rebuilt); every new doc probes it map-side.
    A MISS is definitely novel (Bloom has no false negatives) and
    skips all further work — at crawl scale that is most documents.
    Only the HIT minority pays exact verification, and that
    verification compares TEXTS, not hashes: a 64-bit xxhash64
    collision must not mark a genuinely novel document as a duplicate
    (the result is exactly the NOT-EXISTS text answer, independent of
    hash quality — only performance depends on the hash). The corpus
    re-scan feeding the text compare is semi-join-filtered by the hit
    hashes first, so only candidate rows' texts ever shuffle:
    ~|dups| + fpp·|new| rows, not the corpus. ``hash_col`` (an expr
    builder column -> column) is injectable so tests can force total
    hash collisions and assert the exactness property."""
    from fermor_spark.sketches import bloom_build, bloom_member_col

    hfn = hash_col or (lambda c: F.xxhash64(c).cast("string"))
    corpus_h = corpus_df.select(
        hfn(F.col(text_col)).cast("string").alias("_th")).distinct()
    n = corpus_h.count()
    sketch = bloom_build(corpus_h, "_th", expected_items=max(1, n),
                         fpp=fpp)
    probed = bloom_member_col(
        new_df.withColumn("_th", hfn(F.col(text_col)).cast("string")),
        "_th", sketch, out_col="_maybe_dup")
    # Hash-keyed semi-join bounds the corpus text volume BEFORE the text
    # equality check (AQE broadcasts the small hit-hash side at runtime);
    # the text equi-join then decides exactly.
    hit_hashes = probed.where(F.col("_maybe_dup")).select("_th").distinct()
    cand = (corpus_df
            .withColumn("_cth", hfn(F.col(text_col)).cast("string"))
            .join(hit_hashes.withColumnRenamed("_th", "_hh"),
                  F.col("_cth") == F.col("_hh"), "left_semi")
            .select("_cth", F.col(text_col).alias("_ctext"))
            .distinct())
    hits = probed.where(F.col("_maybe_dup")).join(
        cand, (F.col("_th") == F.col("_cth")) &
              (F.col(text_col) == F.col("_ctext")), "left_semi") \
        .select(id_col).withColumn("_confirmed", F.lit(True))
    return probed.join(hits, id_col, "left").select(
        *new_df.columns,
        F.coalesce(~F.col("_confirmed"), F.lit(True)).alias(out_col))


def incremental_minhash_dedup(new_df: DataFrame, corpus_df: DataFrame,
                              id_col: str, text_col: str, n: int = 3,
                              num_hashes: int = 8, num_bands: int = 4,
                              threshold: tuple[int, int] = (1, 2),
                              out_col: str = "near_dup_of",
                              corpus_shingles: DataFrame | None = None
                              ) -> DataFrame:
    """Incremental NEAR-dup ingest dedup — the MinHash sibling of
    incremental_exact_dedup: tag each NEW document with its nearest
    corpus near-duplicate (the MIN corpus id among verified matches;
    null = novel), where "near-dup" means word-n-gram Jaccard >=
    ``threshold`` (a num/den rational, so the verify comparison is pure
    integer arithmetic — den·i >= num·(|A|+|B|−i) — and no float
    boundary can flip between engines) among LSH band-candidate pairs.

    The banding is the documented approximation (identical on any
    engine that replays the same md5 hash family): a true near-dup pair
    sharing no band key is not reported, exactly like the corpus-wide
    MinHash operator. Hash family = min over md5(seed‖shingle) hex —
    deterministic, oracle-replayable.

    Scale shape: the corpus signature/band table is a groupBy over
    corpus shingles — the production loop PERSISTS the per-snapshot
    shingle table and appends (shingles never change once computed) and
    passes it back via ``corpus_shingles`` (an (id, sh) frame, the
    contamination_pairs train_shingles precedent), so each cycle only
    the new snapshot pays shingling; candidates come from one equi-join
    on (band, key) where the new side is the small one; only candidate
    pairs pay the exact-Jaccard verify, which joins shingles on
    (corpus_id, shingle) — intersection-sized work, never |A|×|B|."""
    if num_hashes % num_bands != 0:
        # fail loudly: silently truncating trailing hash functions would
        # weaken recall versus what the caller configured (r12, ADVICE)
        raise ValueError(
            f"num_bands={num_bands} must divide num_hashes={num_hashes} "
            "evenly (rows per band = num_hashes/num_bands; trailing "
            "hashes would be ignored)")
    rows = num_hashes // num_bands

    # both shingle tables have 2 consumers inside one action (the
    # signature agg and the intersection join) — the multi-consumer
    # eager-cache rule applies, or each consumer replays the corpus
    # explode (measured as a climbing best-of-N sequence)
    nsh = managed_cache(shingle_table(new_df, id_col, text_col, n))
    nsh.count()
    csh = corpus_shingles if corpus_shingles is not None else \
        managed_cache(shingle_table(corpus_df, id_col, text_col, n))
    csh.count()
    # signature frames are tiny (one row per doc) but their producer —
    # the 8-md5 groupBy over the big shingle table — is the dominant
    # stage; the banding and the size lookup both read them, so cache
    # eagerly to pin exactly-one signature pass per side per action. The
    # per-doc size rides the SAME groupBy (a separate size agg would
    # re-scan the shingle table).
    size = F.count("*").alias("nsz")
    nmh = managed_cache(_signatures_from_shingles(nsh, num_hashes, size))
    nmh.count()
    cmh = managed_cache(_signatures_from_shingles(csh, num_hashes, size))
    cmh.count()
    cand = (_band_keys(nmh, num_bands, rows).withColumnRenamed("id", "new_id")
            .join(_band_keys(cmh, num_bands, rows)
                  .withColumnRenamed("id", "corpus_id"), ["band", "key"])
            .select("new_id", "corpus_id").distinct())
    nsz = nmh.select(F.col("id").alias("new_id"), F.col("nsz").alias("na"))
    csz = cmh.select(F.col("id").alias("corpus_id"),
                     F.col("nsz").alias("nc"))
    inter = (cand
             .join(nsh.select(F.col("id").alias("new_id"), "sh"), "new_id")
             .join(csh.select(F.col("id").alias("corpus_id"), "sh"),
                   ["corpus_id", "sh"])
             .groupBy("new_id", "corpus_id").agg(F.count("*").alias("i")))
    tnum, tden = threshold
    ver = (inter.join(nsz, "new_id").join(csz, "corpus_id")
           .where(tden * F.col("i")
                  >= tnum * (F.col("na") + F.col("nc") - F.col("i")))
           .groupBy("new_id").agg(F.min("corpus_id").alias(out_col))
           .withColumnRenamed("new_id", id_col))
    return new_df.join(ver, id_col, "left").select(
        *new_df.columns, F.col(out_col))


def incremental_exact_dedup_stream(new_stream: DataFrame,
                                   corpus_df: DataFrame,
                                   id_col: str, text_col: str,
                                   fpp: float = 0.001,
                                   out_col: str = "is_new",
                                   hash_col=None) -> DataFrame:
    """STREAMING-arrival variant of incremental_exact_dedup — the
    production crawl loop's novelty tag: documents land continuously and
    each must be marked novel-vs-corpus as its micro-batch drains.

    Fully STATELESS per micro-batch, so it runs in append mode with no
    state store: the corpus Bloom filter builds ONCE (batch side,
    broadcast), every arriving row probes it map-side, misses
    short-circuit as novel without touching the corpus again, and only
    the hit minority pays a stream-static left join against the corpus
    (hash, text) table — text equality decides exactly, same contract as
    the batch operator. The stream never aggregates, so arbitrarily late
    data needs no watermark here. Scale notes: persist/bucket the corpus
    (hash, text) table in production (a stream-static join re-plans the
    static side per micro-batch); IN-STREAM duplicates are deliberately
    NOT collapsed (that is dropDuplicatesWithinWatermark's job — compose
    it upstream when the landing zone can re-deliver)."""
    from fermor_spark.sketches import bloom_build, bloom_member_col

    hfn = hash_col or (lambda c: F.xxhash64(c).cast("string"))
    corpus_h = corpus_df.select(
        hfn(F.col(text_col)).cast("string").alias("_cth"),
        F.col(text_col).alias("_ctext")).distinct()
    n = corpus_h.count()
    sketch = bloom_build(corpus_h, "_cth", expected_items=max(1, n),
                         fpp=fpp)
    probed = bloom_member_col(
        new_stream.withColumn("_th", hfn(F.col(text_col)).cast("string")),
        "_th", sketch, out_col="_maybe_dup")
    misses = probed.where(~F.col("_maybe_dup")).select(
        *new_stream.columns, F.lit(True).alias(out_col))
    hits = probed.where(F.col("_maybe_dup")).join(
        corpus_h, (F.col("_th") == F.col("_cth"))
        & (F.col(text_col) == F.col("_ctext")), "left") \
        .select(*new_stream.columns, F.col("_cth").isNull().alias(out_col))
    return misses.unionByName(hits)
