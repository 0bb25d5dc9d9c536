"""Similarity search over embedding columns (array<float|double>).

Brute-force cosine top-k is the exact baseline (broadcast the query set,
JVM-side zip_with/aggregate arithmetic — no Python in the hot path).
The scale path is hyperplane-LSH bucketing: candidates from matching sign
buckets (multi-probe across several hash tables), exact re-rank inside.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fermor_spark.session import local_frame


def _floor_half_up(a):
    """floor with HALF-UP ties on a non-negative array, WITHOUT the
    floor(a + 0.5) idiom: the float ADDITION itself can round across the
    integer boundary when a and a+0.5 sit in different binades —
    0.49999999999999994 + 0.5 rounds (ties-to-even) to exactly 1.0, so
    floor(+0.5) yields 1 where Java BigDecimal HALF_UP (Spark F.round)
    and C++ std::round (DuckDB) both yield 0. Comparing the fractional
    part against 0.5 has no intermediate rounding, and for integer-scale
    rounding it agrees with BigDecimal-on-shortest-repr for every double
    (k.5 is exactly representable, so value and repr never straddle a
    tie point)."""
    import numpy as np

    f = np.floor(a)
    return f + (a - f >= 0.5)


def _np_round6_half_away(S):
    """6dp rounding with HALF-AWAY-FROM-ZERO ties — the semantics of both
    DuckDB round() and Spark F.round. np.round is banker's (half-to-even),
    so a cosine landing exactly on a 6dp half-way point could flip a
    threshold comparison between the numpy kernel and the SQL oracle;
    copysign on |x|*1e6 is direction-consistent for both signs (cosines
    are in [-1, 1]). Uses the frac>=0.5 compare, not floor(+0.5) (see
    _floor_half_up); the residual risk unique to fractional scales —
    |x|*1e6's binary value vs x's decimal repr straddling a .5 — is
    measure-~0 and absorbed by the contract floors sitting BETWEEN
    attainable values."""
    import numpy as np

    return np.copysign(_floor_half_up(np.abs(S) * 1e6), S) / 1e6


def _hyperplanes(num_planes: int, dim: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes without RNG state:
    component = centered hash of (seed, plane, dim index)."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hash_u64(f"{seed}:{p}:{d}")
            row.append((h / 2**64) * 2.0 - 1.0)
        planes.append(row)
    return planes


def hash_u64(s: str) -> int:
    import hashlib

    return struct.unpack("<Q", hashlib.md5(s.encode()).digest()[:8])[0]


def with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v double[], norm) — cast once, norm once."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return df.select(F.col(id_col).alias("id"), v.alias("v")).withColumn(
        "norm", F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x * x))
    )


def cosine_expr(va: str, vb: str, na: str, nb: str):
    """Cosine with the repo-wide zero-norm rule: a zero vector has cosine
    0.0 to everything (treated as novel / dissimilar), NEVER NaN. Spark
    sorts NaN above every number and NaN >= threshold is TRUE, so an
    unguarded 0.0/0.0 would tag a zero embedding as near-dup of every
    bucket-mate — the exact inversion of the intended semantics (ADVICE
    r12 medium). The numpy kernels already apply the same rule via the
    norm clamp np.maximum(norm, 1e-12): a zero row normalizes to the
    zero vector, so every dot against it is 0."""
    dot = F.aggregate(
        F.zip_with(F.col(va), F.col(vb), lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
    )
    denom = F.col(na) * F.col(nb)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot / denom)


def brute_force_topk(
    df: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k → (query_id, neighbor_id, rank, cosine).

    queries: subset DataFrame with the same (id_col, vec_col) schema.
    The query side is broadcast; the corpus streams through one pass.
    """
    corpus = with_norm(df, id_col, vec_col).select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("vb"), F.col("norm").alias("nb")
    )
    q = with_norm(queries, id_col, vec_col).select(
        F.col("id").alias("query_id"), F.col("v").alias("va"), F.col("norm").alias("na")
    )
    cos = cosine_expr("va", "vb", "na", "nb")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        F.broadcast(q).join(corpus, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def brute_force_topk_arrow(
    df: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """Exact cosine top-k via DISTRIBUTED blocked numpy matmul → same schema
    as brute_force_topk (query_id, neighbor_id, rank, cosine).

    Scale shape: both sides are packed into blocks of ≤ `block_rows` vectors
    (one row per block: id array + vector matrix), the QB×CB block-pair grid
    is a crossJoin of two SMALL DataFrames, and each pair computes one BLAS
    matmul + per-query partial top-k inside mapInPandas. Global top-k is the
    window-merge of per-block top-ks (each block's true top-k is a subset of
    its local top-k, so the merge is exact). Nothing is collected to the
    driver; executor memory is bounded by one block pair
    (2 × block_rows × dim × 8 B). Total shuffle = corpus×QB + queries×CB —
    the unavoidable cost of exact all-pairs, minimized by bigger blocks.

    The expression-tree form (zip_with + aggregate) evaluates interpreted
    per-pair and is ~50× slower on quadratic workloads; one matmul per block
    pair keeps the arithmetic in BLAS.
    """
    import math

    import numpy as np
    import pandas as pd

    n_c = df.count()
    n_q = queries.count()
    cb = max(1, math.ceil(n_c / block_rows))
    qb = max(1, math.ceil(n_q / block_rows))

    # null embeddings contribute nothing (the family rule: a null
    # vector has no neighbors/pairs) — filter JVM-side before packing,
    # where a null element would otherwise turn the block matrix into an
    # object array and fail opaquely inside BLAS
    packed_c = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_b", F.abs(F.hash("id")) % cb)
        .groupBy("_b")
        .agg(F.collect_list(F.struct("id", "v")).alias("c_items"))
        .drop("_b")
    )
    packed_q = (
        queries.where(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_b", F.abs(F.hash("id")) % qb)
        .groupBy("_b")
        .agg(F.collect_list(F.struct("id", "v")).alias("q_items"))
        .drop("_b")
    )
    pairs = packed_q.crossJoin(packed_c)
    # one block pair per task: pair rows are heavy (two matrices), so don't
    # let Arrow batch several of them into one python worker call
    pairs = pairs.repartition(max(qb * cb, 1))

    def fn(batches):
        for pdf in batches:
            for qi, ci in zip(pdf["q_items"], pdf["c_items"]):
                qids = np.array([x["id"] for x in qi])
                Q = np.array([x["v"] for x in qi], dtype=np.float64)
                cids = np.array([x["id"] for x in ci])
                C = np.array([x["v"] for x in ci], dtype=np.float64)
                Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
                C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
                S = Q @ C.T
                out_q, out_n, out_c = [], [], []
                for row, qid in enumerate(qids):
                    sims = S[row]
                    mask = cids != qid
                    cand_ids = cids[mask]
                    cand_sims = sims[mask]
                    # block-local top-k by (cosine desc, neighbor id asc):
                    # O(n) argpartition to the k-th cosine, widened to keep
                    # every boundary tie, then an exact k-sized lexsort —
                    # a full O(n log n) sort of a 4096-row block per query
                    # row is the kernel's hot spot at production block sizes
                    if len(cand_sims) > k:
                        kth = cand_sims[
                            np.argpartition(-cand_sims, k - 1)[k - 1]]
                        keep = np.flatnonzero(cand_sims >= kth)
                        cand_ids = cand_ids[keep]
                        cand_sims = cand_sims[keep]
                    order = np.lexsort((cand_ids, -cand_sims))[:k]
                    out_q.extend([qid] * len(order))
                    out_n.extend(cand_ids[j] for j in order)
                    out_c.extend(float(cand_sims[j]) for j in order)
                yield pd.DataFrame({
                    "query_id": out_q, "neighbor_id": out_n, "cosine": out_c,
                })

    partial = pairs.mapInPandas(fn, "query_id long, neighbor_id long, cosine double")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cosine", 6).alias("cosine"))
    )


def cosine_pairs_exact(
    df: DataFrame, threshold: float,
    id_col: str = "vec_id", vec_col: str = "embedding",
    block_rows: int = 4096, round_digits: int = 4,
) -> DataFrame:
    """EXACT embedding near-dup pairs: every (id_a < id_b) with cosine ≥
    threshold → (id_a, id_b, cosine). The exact counterpart of the LSH-blocked
    `embedding near-dup` path — same blocked-matmul shape as
    `brute_force_topk_arrow` (id-hash blocks, one BLAS matmul per block
    pair, nothing on the driver), but emitting thresholded pairs instead of
    per-query top-k. Block pairs with swapped order are skipped (each
    unordered block pair is computed once); the diagonal block applies the
    id_a < id_b filter inside the kernel.

    At 100 TB this is still O(n²) work by construction — use it on a
    blocking-survivor subset or as the verification stage behind an LSH
    candidate generator; it scales out linearly with executors but the
    total work is quadratic in rows.
    """
    import math

    import numpy as np
    import pandas as pd

    n = df.count()
    nb = max(1, math.ceil(n / block_rows))
    packed = (
        df.where(F.col(vec_col).isNotNull())   # null vec: no pairs
        .select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("_b", F.abs(F.hash("id")) % nb)
        .groupBy("_b")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
    )
    a = packed.select(F.col("_b").alias("ba"), F.col("items").alias("a_items"))
    b = packed.select(F.col("_b").alias("bb"), F.col("items").alias("b_items"))
    grid = a.join(b, F.col("ba") <= F.col("bb"))
    grid = grid.repartition(max(nb * (nb + 1) // 2, 1))

    def fn(batches):
        for pdf in batches:
            for ba, bb, ai, bi in zip(pdf["ba"], pdf["bb"], pdf["a_items"], pdf["b_items"]):
                aids = np.array([x["id"] for x in ai])
                A = np.array([x["v"] for x in ai], dtype=np.float64)
                bids = np.array([x["id"] for x in bi])
                B = np.array([x["v"] for x in bi], dtype=np.float64)
                A = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
                B = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
                S = A @ B.T
                # round to 6dp before thresholding (the ann_* convention):
                # the oracle computes the same cosine with a different BLAS
                # and boundary-value pairs must not flip between engines;
                # half-away ties match DuckDB/Spark round() (np.round is
                # banker's); zero-norm vectors clamp to cos=0 here and the
                # oracle SQL guards its NaN to 0 to match.
                ia, ib = np.nonzero(_np_round6_half_away(S) >= threshold)
                if len(ia) == 0:
                    continue
                id_a, id_b = aids[ia], bids[ib]
                cos = S[ia, ib]
                if ba == bb:
                    # diagonal block: each unordered pair appears as (x,y)
                    # AND (y,x), plus the self-pair — keep strictly one
                    keep = id_a < id_b
                    id_a, id_b, cos = id_a[keep], id_b[keep], cos[keep]
                else:
                    # off-diagonal: each cross pair appears exactly once,
                    # but the smaller id may sit in either block — normalize
                    id_a, id_b = np.minimum(id_a, id_b), np.maximum(id_a, id_b)
                yield pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": cos})

    out = grid.mapInPandas(fn, "id_a long, id_b long, cosine double")
    return out.select("id_a", "id_b", F.round("cosine", round_digits).alias("cosine"))


def ivf_fit_centroids(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16, iters: int = 3, seed: int = 42,
) -> list[list[float]]:
    """Fit IVF coarse-quantizer centroids with a few Lloyd iterations.

    Deterministic: initial centroids are the n vectors with the smallest
    xxhash64(id, seed) (a seeded sample without RNG state). Assignment runs
    distributed (one matmul per Arrow batch against the broadcast centroid
    matrix); the per-centroid mean reduces via groupBy. Only the centroid
    matrix (n_centroids × dim — model state, not data) ever reaches the
    driver."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as FF

    spark = df.sparkSession
    base = (df.where(FF.col(vec_col).isNotNull())   # null vec: no cell
            .select(FF.col(id_col).alias("id"),
                    FF.transform(FF.col(vec_col),
                                 lambda x: x.cast("double")).alias("v")))
    init = (
        base.withColumn("_h", FF.xxhash64(FF.col("id").cast("string"), FF.lit(seed)))
        .orderBy("_h").limit(n_centroids).select("v").collect()
    )
    if not init:   # empty corpus -> no centroids to fit
        return []
    C = np.array([r["v"] for r in init], dtype=np.float64)

    for _ in range(iters):
        bc = spark.sparkContext.broadcast(C)

        def assign(batches):
            cm = bc.value
            cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
            for pdf in batches:
                X = np.array(pdf["v"].tolist(), dtype=np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                a = np.argmax(Xn @ cn.T, axis=1)
                out = pd.DataFrame(X)
                out.columns = [f"d{i}" for i in range(X.shape[1])]
                out.insert(0, "c", a)
                yield out

        dim = C.shape[1]
        schema = "c int, " + ", ".join(f"d{i} double" for i in range(dim))
        assigned = base.select("v").mapInPandas(assign, schema)
        means = assigned.groupBy("c").agg(
            *[FF.avg(f"d{i}").alias(f"d{i}") for i in range(dim)]
        ).collect()
        for r in means:
            C[r["c"]] = [r[f"d{i}"] for i in range(dim)]
    return C.tolist()


def ivf_topk(
    df: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16, nprobe: int = 4, iters: int = 3, seed: int = 42,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF coarse quantizer → same schema as
    brute_force_topk.

    The corpus partitions into n_centroids inverted lists (cell = argmax
    cosine against the centroid matrix); each query probes its `nprobe`
    nearest cells and re-ranks exactly inside them. Candidate volume ≈
    corpus × nprobe / n_centroids, reached through an equi-join on the cell
    id — the blocking shape that survives a 100× scale-up (at 100 TB:
    thousands of centroids, lists bucketed by cell id on disk). The
    centroid matrix is model state (small), broadcast to executors.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as FF

    spark = df.sparkSession
    C = np.array(centroids if centroids is not None else
                 ivf_fit_centroids(df, id_col, vec_col, n_centroids, iters, seed),
                 dtype=np.float64)
    if C.size == 0:   # empty corpus -> no centroids -> empty result
        return local_frame(
            spark, [], "query_id long, neighbor_id long, rank long, cosine double")
    bc = spark.sparkContext.broadcast(C)

    def cell_of(prefix_probe: int):
        def fn(batches):
            cm = bc.value
            cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
            for pdf in batches:
                X = np.array(pdf["v"].tolist(), dtype=np.float64)
                Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
                S = Xn @ cn.T
                top = np.argsort(-S, axis=1)[:, :prefix_probe]
                rows = {"id": np.repeat(pdf["id"].to_numpy(), prefix_probe),
                        "cell": top.reshape(-1)}
                out = pd.DataFrame(rows)
                out["v"] = list(np.repeat(X, prefix_probe, axis=0))
                yield out
        return fn

    base = (df.where(FF.col(vec_col).isNotNull())   # null vec: no cell
            .select(FF.col(id_col).alias("id"),
                    FF.transform(FF.col(vec_col),
                                 lambda x: x.cast("double")).alias("v")))
    qbase = (queries.where(FF.col(vec_col).isNotNull())
             .select(FF.col(id_col).alias("id"),
                     FF.transform(FF.col(vec_col),
                                  lambda x: x.cast("double")).alias("v")))
    corpus_cells = base.mapInPandas(cell_of(1), "id long, cell int, v array<double>")
    query_cells = qbase.mapInPandas(cell_of(nprobe), "id long, cell int, v array<double>")

    cands = (
        query_cells.select(FF.col("id").alias("query_id"), "cell",
                           FF.col("v").alias("qv"))
        .join(corpus_cells.select(FF.col("id").alias("neighbor_id"), "cell",
                                  FF.col("v").alias("cv")), "cell")
        .where(FF.col("query_id") != FF.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    qn = F.sqrt(F.aggregate(F.col("qv"), F.lit(0.0), lambda a, x: a + x * x))
    cn_ = F.sqrt(F.aggregate(F.col("cv"), F.lit(0.0), lambda a, x: a + x * x))
    dot = F.aggregate(F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
                      F.lit(0.0), lambda a, x: a + x)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("cosine", F.round(dot / (qn * cn_), 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semantic_assign(
    df: DataFrame, k: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    centroid_ids: list | None = None,
) -> DataFrame:
    """Cosine-nearest-centroid assignment → (id, cluster) — the partitioning
    primitive of semantic dedup / corpus clustering (cluster first, then
    dedup/diversify WITHIN clusters so no step is ever all-pairs).

    Default centroids are the k lowest-id vectors — deterministic without
    RNG state and reproducible in plain SQL, which is what lets the driver
    oracle-check the assignment math (the Lloyd refinement loop on top is
    `ivf_fit_centroids`). Ties break toward the smallest centroid id:
    centroid rows are ordered by id and np.argmax keeps the first maximum.

    Scale shape: the centroid matrix is model state (k × dim, broadcast);
    the corpus streams through one mapInPandas matmul — no shuffle at all
    beyond the initial scan, and the output join key (`cluster`) is exactly
    the blocking key downstream stages need.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    base = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )   # null vec: unclustered (the family rule — contributes nothing)
    if centroids is None:
        rows = base.orderBy("id").limit(k).collect()  # k rows of model state
        centroid_ids = [r["id"] for r in rows]
        centroids = [r["v"] for r in rows]
    if centroid_ids is None:
        centroid_ids = list(range(len(centroids)))
    if not centroids:   # empty corpus -> no seed centroids -> empty result
        return local_frame(spark, [], "id long, cluster long")
    C = np.asarray(centroids, dtype=np.float64)
    cids = np.asarray(centroid_ids)
    bc = spark.sparkContext.broadcast((cids, C))

    def assign(batches):
        ids, cm = bc.value
        cn = cm / np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
        for pdf in batches:
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            # argmax keeps the FIRST max → ids must be ascending for the
            # smallest-centroid-id tie-break the oracle uses
            a = np.argmax(Xn @ cn.T, axis=1)
            yield pd.DataFrame({"id": pdf["id"], "cluster": ids[a]})

    return base.mapInPandas(assign, "id long, cluster long")


def semantic_dedup(
    df: DataFrame, threshold: float = 0.45, k: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster embeddings (cosine-nearest of k deterministic
    seed centroids — semantic_assign), find within-cluster near-dup pairs
    (cosine >= threshold, exact), resolve pair components, keep one
    representative (min id) per component → (id, cluster, kept).

    Scale shape — the whole point of the cluster-first design: the
    all-pairs work is confined WITHIN clusters (expected n/k rows each),
    so total pair work drops k-fold vs corpus-wide exact pairs, and the
    per-cluster work is the same packed-block BLAS matmul as
    cosine_pairs_exact (id-hash sub-blocks bound row size; one numpy
    matmul per in-cluster block pair inside mapInPandas; nothing on the
    driver). Component resolution is dedup_clusters, iterate's CC engine
    (driver union-find under its edge threshold, star-contraction rounds
    above it), which reads the pair grid once. The centroid assignment
    runs once per call: it is lazily checkpointed, so the block grid and
    the final join read one materialization.
    """
    import math

    import numpy as np
    import pandas as pd

    # (id, cluster), checkpointed lazily: the pair grid and the final
    # join both read it, and each uncheckpointed read re-ran the
    # centroid matmul's Python tasks; the first job now materializes it
    assign = semantic_assign(df, k, id_col, vec_col).localCheckpoint(
        eager=False)
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        ).join(assign, "id")
    )
    n = df.count()
    nb = max(1, math.ceil(n / block_rows))
    packed = (
        base.withColumn("_b", F.abs(F.hash("id")) % nb)
        .groupBy("cluster", "_b")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
    )
    a = packed.select(F.col("cluster").alias("ca"), F.col("_b").alias("ba"),
                      F.col("items").alias("a_items"))
    b = packed.select(F.col("cluster").alias("cb"), F.col("_b").alias("bb"),
                      F.col("items").alias("b_items"))
    grid = a.join(b, (F.col("ca") == F.col("cb")) & (F.col("ba") <= F.col("bb")))

    def fn(batches):
        for pdf in batches:
            for ba, bb, ai, bi in zip(pdf["ba"], pdf["bb"],
                                      pdf["a_items"], pdf["b_items"]):
                aids = np.array([x["id"] for x in ai])
                A = np.array([x["v"] for x in ai], dtype=np.float64)
                bids = np.array([x["id"] for x in bi])
                B = np.array([x["v"] for x in bi], dtype=np.float64)
                A = A / np.maximum(np.linalg.norm(A, axis=1, keepdims=True), 1e-12)
                B = B / np.maximum(np.linalg.norm(B, axis=1, keepdims=True), 1e-12)
                S = A @ B.T
                # round to 6dp before thresholding (the ann_* convention):
                # the oracle computes the same cosine with a different BLAS
                # and boundary-value pairs must not flip between engines;
                # half-away ties match DuckDB/Spark round() (np.round is
                # banker's); zero-norm vectors clamp to cos=0 here and the
                # oracle SQL guards its NaN to 0 to match.
                ia, ib = np.nonzero(_np_round6_half_away(S) >= threshold)
                if len(ia) == 0:
                    continue
                id_a, id_b = aids[ia], bids[ib]
                if ba == bb:
                    keep = id_a < id_b
                    id_a, id_b = id_a[keep], id_b[keep]
                else:
                    id_a, id_b = (np.minimum(id_a, id_b),
                                  np.maximum(id_a, id_b))
                yield pd.DataFrame({"id_a": id_a, "id_b": id_b})

    pairs = grid.mapInPandas(fn, "id_a long, id_b long")
    from fermor_spark.pipeline.dedup import dedup_clusters

    comp = dedup_clusters(pairs, df.select(id_col))
    return (
        assign.join(comp.select("id", F.col("cluster").alias("_rep")), "id")
        .select(F.col("id").alias(id_col), "cluster",
                (F.col("_rep") == F.col("id")).alias("kept"))
    )


def lsh_topk(
    df: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    num_planes: int = 6, num_tables: int = 4, seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k via hyperplane LSH → same schema as
    brute_force_topk.

    num_tables independent sign-bucket tables; a corpus vector is a candidate
    if it shares a bucket with the query in ANY table. Candidate set size ≈
    corpus / 2^num_planes per table — tune num_planes to corpus size. The
    candidate join is an equi-join on (table, bucket): fully shuffled, never
    all-pairs, which is the property that survives a 100× scale-up.

    All num_tables × num_planes sign bits come from ONE numpy matmul per
    Arrow batch against the stacked plane matrix (the repo's vector-math
    rule — embedding_buckets, the blocked-matmul kernels), emitted as
    num_tables rows per vector in the same kernel: one input scan, no
    union, no per-plane interpreted folds. Sign bits are ulp-robust; the
    exact re-rank cosine stays on the JVM fold (cosine_expr). Null
    vectors get NO buckets (a null query has no meaningful neighbors —
    previously it all-zeros-bucketed and emitted null-cosine ranks);
    ragged/mismatched widths raise a named ValueError.
    """
    first = (df.where(F.col(vec_col).isNotNull())
             .select(F.size(F.col(vec_col)).alias("d")).limit(1).collect())
    if not first:   # empty corpus -> empty result, stable schema
        return local_frame(
            df.sparkSession, [], "query_id long, neighbor_id long, rank long, cosine double")
    dim = int(first[0]["d"])

    import numpy as np

    planes_all_t = np.vstack([
        _hyperplanes(num_planes, dim, seed + 1000 * t)
        for t in range(num_tables)
    ]).T    # (dim, num_tables * num_planes)

    def bucketize(e: DataFrame, prefix: str) -> DataFrame:
        from pyspark.sql import types as T

        out_schema = T.StructType(
            list(e.schema.fields)
            + [T.StructField("table", T.IntegerType()),
               T.StructField("bucket", T.StringType())])

        def fn(batches):
            import numpy as np
            import pandas as pd

            for pdf in batches:
                vs = [None if v is None else np.asarray(v, dtype=np.float64)
                      for v in pdf["v"]]
                live = [i for i, v in enumerate(vs) if v is not None]
                if not live:
                    yield pdf.iloc[0:0].assign(
                        table=pd.Series([], dtype="int32"),
                        bucket=pd.Series([], dtype=object))
                    continue
                try:
                    V = np.stack([vs[i] for i in live])
                except ValueError as exc:
                    raise ValueError(
                        "lsh_topk: ragged embedding widths "
                        f"{sorted({vs[i].shape[0] for i in live})[:5]} in "
                        "one batch — refuse to bucket mismatched vectors"
                    ) from exc
                if V.shape[1] != dim:
                    raise ValueError(
                        f"lsh_topk: batch width {V.shape[1]} != probed "
                        f"corpus dim {dim}")
                signs = V @ planes_all_t >= 0   # (n_live, T*p)
                out = pdf.iloc[np.repeat(live, num_tables)].reset_index(
                    drop=True)
                out["table"] = np.tile(
                    np.arange(num_tables, dtype="int32"), len(live))
                out["bucket"] = [
                    "".join("1" if b else "0"
                            for b in srow[t * num_planes:(t + 1) * num_planes])
                    for srow in signs for t in range(num_tables)]
                yield out

        return e.mapInPandas(fn, out_schema).select(
            F.col("id").alias(f"{prefix}_id"), F.col("v").alias(f"{prefix}_v"),
            F.col("norm").alias(f"{prefix}_n"), "table", "bucket")

    corpus = bucketize(with_norm(df, id_col, vec_col), "c")
    q = bucketize(with_norm(queries, id_col, vec_col), "q")
    cands = (
        q.join(corpus, ["table", "bucket"])
        .where(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"), F.col("c_id").alias("neighbor_id"),
            "q_v", "c_v", "q_n", "c_n",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    cos = cosine_expr("q_v", "c_v", "q_n", "c_n")
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        cands.withColumn("cosine", F.round(cos, 6))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        levels: int = 127) -> DataFrame:
    """Symmetric per-vector scalar quantization → (id, scale, qvec
    ARRAY<INT> in [-levels, levels]) — the 4x storage reduction step of a
    vector store (float32 → int8 range).

    One Arrow mapInPandas pass (the repo's vector-math rule). The previous
    column-expression form inlined the ``array_max`` scale subtree into the
    per-element ``transform`` lambda — Catalyst's projection collapse
    duplicates the alias per reference, so each of the dim elements
    re-evaluated an O(dim) interpreted max: O(dim²) per row (measured at
    32k×64-dim, warm: 2.07 s expression form vs 0.54 s this kernel).

    Semantics are pinned by tests against the expression form: scale =
    max(|v|)/levels clamped at 1e-12, HALF-UP (away-from-zero) rounding
    exactly like F.round(x, 0), null vector → (1e-12, null), empty vector
    → (1e-12, []), null elements pass through as null ints. Ragged widths
    are legal (per-vector scaling — no matrix contract). Per-vector
    scaling leaves cosine similarity invariant up to rounding, so
    downstream search quality degrades only by the quantization noise
    (recall-gated in ann_quantized_topk)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("id", df.schema[id_col].dataType),
        T.StructField("scale", T.DoubleType()),
        T.StructField("qvec", T.ArrayType(T.IntegerType())),
    ])
    lv = float(levels)

    def _quant_row(vec):
        # fallback path: ragged / null-element / non-finite rows
        if vec is None:
            return 1e-12, None
        x = np.array([np.nan if e is None else float(e) for e in vec])
        if x.size == 0:
            return 1e-12, []
        mx = np.nanmax(np.abs(x)) if not np.isnan(x).all() else np.nan
        scale = mx / lv if mx / lv > 1e-12 else 1e-12  # nan compares False → clamp
        r = x / scale
        q = np.copysign(_floor_half_up(np.abs(r)), r)
        return scale, [None if np.isnan(e) else int(e) for e in q]

    def _kernel(it):
        for pdf in it:
            # positional, not index-aligned: mixing an indexed Series with
            # positional arrays in the output constructor would silently
            # misalign on any non-default index
            ids = pdf[id_col].to_numpy()
            vecs = pdf[vec_col].to_numpy()
            try:
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in vecs]) \
                    if len(vecs) else np.zeros((0, 0))
                clean = len(vecs) > 0 and np.isfinite(mat).all()
            except (ValueError, TypeError):
                clean = False
            if clean and mat.ndim == 2 and mat.shape[1] > 0:
                scales = np.maximum(np.abs(mat).max(axis=1) / lv, 1e-12)
                r = mat / scales[:, None]
                q = np.copysign(_floor_half_up(np.abs(r)), r).astype(np.int64)
                yield pd.DataFrame({
                    "id": ids, "scale": scales,
                    "qvec": [row.tolist() for row in q],
                })
            else:
                rows = [_quant_row(v) for v in vecs]
                yield pd.DataFrame({
                    "id": ids,
                    "scale": [s for s, _ in rows],
                    "qvec": [qv for _, qv in rows],
                })

    return df.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        _kernel, out_schema)


def dequantize_embeddings(qdf: DataFrame) -> DataFrame:
    """Inverse of quantize_embeddings → (id, embedding ARRAY<DOUBLE>)."""
    return qdf.select(
        "id",
        F.transform(F.col("qvec"),
                    lambda q: q.cast("double") * F.col("scale")).alias("embedding"),
    )


def quantized_topk(df: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   levels: int = 127) -> DataFrame:
    """Exact top-k over the QUANTIZED corpus (float queries) → same schema
    as brute_force_topk. The accuracy cost of quantization, isolated:
    candidate generation and ranking are exact, only the corpus vectors
    carry rounding noise."""
    deq = dequantize_embeddings(
        quantize_embeddings(df, id_col, vec_col, levels)
    ).withColumnRenamed("id", id_col).withColumnRenamed("embedding", vec_col)
    return brute_force_topk_arrow(deq, queries, k=k, id_col=id_col, vec_col=vec_col)
