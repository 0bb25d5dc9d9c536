"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting. All JVM-side column expressions (no Python UDFs)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "of", "and", "to"]

# Tiny deterministic stopword profiles for the n-gram/stopword language-ID
# heuristic. Real deployments plug in fastText/CLD3 via a pandas_udf; the
# heuristic keeps the operator dependency-free and testable.
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "von", "ein", "zu", "mit"],
    "zh": ["de", "shi", "le", "zai", "you", "wo", "ta", "men"],
}

# A BPE-ish tokenizer regex: words, numbers, or single non-space symbols —
# the shape GPT-style tokenizers use for pre-tokenization.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col):
    return F.split(F.trim(text_col), r"\s+")


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, n_bpeish): whitespace tokens + BPE-ish regex tokens."""
    return df.select(
        F.col(id_col).alias("id"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long").alias("n_bpeish"),
    )


# Below this much source data the keyed repartition in _id_tokens costs more
# than it saves: the exchange + 32 tiny per-partition window sorts double the
# cold plan (measured at sf0.1, 0.6 MB input: 4.33 s with vs 2.18 s without,
# round 5). Above it, spreading the CPU-heavy exploded-token stage across
# cores dominates. 64 MB ≈ 2 MB/core on 32 cores — the exchange amortizes.
_REPARTITION_MIN_BYTES = 64 << 20


def _id_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, pos, tok) exploded tokens, hash-repartitioned by id ONLY when
    the source is BOTH under-parallel (single-file scan reading as 1-2
    partitions) AND large enough to amortize the exchange
    (_REPARTITION_MIN_BYTES). When it fires, the keyed repartition doubles
    as the downstream id-window's exchange (same key -> no extra shuffle)
    and is exempt from AQE partition coalescing, which otherwise shrinks
    these small-bytes/high-CPU stages to 2 tasks off a single-file scan
    (same fix as dedup.shingle_table). At real scale inputs already carry
    thousands of partitions and the gate skips the shuffle entirely."""
    from fermor_spark.session import estimated_plan_bytes

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    out = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    )
    if (df.rdd.getNumPartitions() < target
            and estimated_plan_bytes(df) >= _REPARTITION_MIN_BYTES):
        return out.repartition(target, "id")
    return out


def _id_token_array(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, _a) — the document's token ARRAY materialized once per row
    behind a Generate barrier (explode of a one-element array), the r17
    shuffle-free sibling of _id_tokens. The barrier matters: referencing
    `tokens(text)` from several sibling expressions re-inlines the split
    per use after Catalyst's projection collapse (the known quadratic
    hazard documented at fingerprint/quality_score); a Generate output is
    an attribute, so every downstream expression reads the one
    materialized array. Same conditional under-parallelism repartition as
    _id_tokens, but over DOC rows (pre-explode — strictly fewer bytes
    moved when it fires). Null text yields a null array row; callers
    filter with size(_a) >= 1, which matches posexplode's empty/null
    emission exactly."""
    from fermor_spark.session import estimated_plan_bytes

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
    if (df.rdd.getNumPartitions() < target
            and estimated_plan_bytes(df) >= _REPARTITION_MIN_BYTES):
        base = base.repartition(target, "id")
    return base.select(
        "id", F.explode(F.array(tokens(F.col("_t")))).alias("_a"))


def _zip_bigrams(col: str = "_a"):
    """ARRAY<STRUCT<0,1>> of consecutive token pairs from a token-array
    column — arrays_zip of the array with its one-shifted self (both
    built-in collection expressions, no per-element lambda: higher-order
    transform() measured ~2x slower than the window form at sf0.1, while
    this form measured neutral — PLANS r17). Replaces the lead()-window
    bigram build, whose exchange shuffled the ENTIRE exploded token table
    by id just to pair neighbors (guide §2.4). The slices are aliased so
    the struct field names are explicit (w1/w2) rather than relying on
    arrays_zip's positional '0'/'1' naming of non-named children — an
    undocumented Catalyst detail that has shifted across releases
    (ADVICE r17)."""
    n = F.greatest(F.size(col) - 1, F.lit(0))
    return F.arrays_zip(F.slice(col, 1, n).alias("w1"),
                        F.slice(col, 2, n).alias("w2"))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 128, overlap: int = 16) -> DataFrame:
    """Sliding-window token chunking → one row per (id, chunk_index,
    n_tokens, chunk_text) — the context-window prep step of a training
    pipeline (long documents split into overlapping model-sized windows).

    Chunk i covers tokens [i·step, i·step + chunk_tokens) with
    step = chunk_tokens − overlap. The final chunk may be shorter, but a
    window fully contained in its predecessor is never emitted:
    n_chunks = max(1, ⌈(n_tokens − overlap) / step⌉). Pure column
    expressions (sequence + explode + slice) — JVM-side row explosion,
    no UDF, and the chunk count formula is restated verbatim in the
    DuckDB oracle (text_chunk_windows)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(F.col(text_col))
    base = df.select(F.col(id_col).alias("id"), toks.alias("_t"),
                     F.size(toks).alias("_n"))
    n_chunks = F.greatest(
        F.lit(1),
        F.ceil((F.col("_n") - F.lit(overlap)) / F.lit(step)).cast("int"))
    return (
        base.select(
            "id", "_t",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"))
        .select(
            "id", "chunk_index",
            F.slice(F.col("_t"), F.col("chunk_index") * step + 1,
                    chunk_tokens).alias("_c"))
        .select(
            "id", "chunk_index",
            F.size("_c").cast("long").alias("n_tokens"),
            F.array_join("_c", " ").alias("chunk_text"))
    )


def bigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document average bigram log-probability under the corpus's own
    bigram model → (id, logprob) — the perplexity-style outlier signal of
    a curation pipeline (garbled/boilerplate documents score far below
    the corpus mode; no external LM needed).

    Model: Laplace-smoothed conditional p(w2|w1) = (c(w1 w2) + 1) /
    (c(w1 ·) + V), with V = distinct bigram-prefix count; score = mean
    ln p over the document's bigrams (multiplicity preserved — unlike
    shingle_table this does NOT dedup). Documents with fewer than two
    tokens have no bigrams and drop out, mirroring the SQL oracle.

    Scale shape: bigram/prefix count tables are groupBys with map-side
    combine; the scoring join is an equi-join on the bigram. At 100 TB
    the model tables are corpus-sized aggregates, not broadcasts — the
    join shuffles on the bigram key, which AQE skew-handles for stop-word
    prefixes."""
    # r17: neighbor pairing via arrays_zip over the barrier-materialized
    # token array (see _zip_bigrams) — the lead() window here shuffled the
    # whole exploded token table by id before any aggregation; the model
    # tables' own keyed exchanges (big / pre) are the only shuffles left.
    ta = _id_token_array(df, id_col, text_col)
    bg = (
        ta.select("id", F.explode(_zip_bigrams()).alias("_p"))
        .select("id",
                F.concat_ws(" ", F.col("_p.w1"), F.col("_p.w2")).alias("big"),
                F.col("_p.w1").alias("pre"))
    )
    bc = bg.groupBy("big").agg(F.count("*").alias("cb"))
    uc = bg.groupBy("pre").agg(F.count("*").alias("cu"))
    nv = bg.agg(F.countDistinct("pre").alias("nv"))
    return (
        bg.join(bc, "big")
        .join(uc, "pre")
        .crossJoin(F.broadcast(nv))
        .groupBy("id")
        .agg(F.round(F.avg(
            F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("nv")))
        ), 6).alias("logprob"))
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, avg_token_len, stopword_ratio, alpha_ratio, score).

    score is a simple bounded combination: length sanity × stopword presence
    × alphabetic density — the standard cheap pre-filter shape for web-scale
    corpus cleaning.

    Explode-then-aggregate formulation: token statistics come from one
    groupBy — array-lambda forms re-inline the tokenization per use after
    projection collapse (quadratic per document). Doc-level expressions
    are materialized in their OWN select below the explode: the analyzer
    places a select's non-generator expressions in a Project ABOVE the
    Generate, where they re-evaluate once per exploded token (measured 5x
    on gopher_quality's rule set at sf0.1, r15) — a separate select pins
    them under the Generate so they evaluate once per document and flow
    through as plain attributes.
    """
    from fermor_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    stats = df.select(
        F.col(id_col).alias("id"),
        (
            F.length(F.regexp_replace(F.col(text_col), r"[^A-Za-z]", "")) * 1.0
            / F.greatest(F.length(F.col(text_col)), F.lit(1))
        ).alias("_alpha"),
        F.col(text_col).alias("_t"),
    )
    # r17 (guide §1.1): per-document stats as array expressions over the
    # Generate-barrier token array — the explode + groupBy exchange of
    # per-doc partials disappears (same rewrite as gopher_quality; row
    # set unchanged: size(_a) >= 1 ⟺ posexplode emitted a token).
    # n_stop keeps MULTIPLICITY (filter count, not array_intersect).
    ta = stats.select(
        "id", "_alpha",
        F.explode(F.array(tokens(F.col("_t")))).alias("_a"),
    ).where(F.size("_a") >= 1)
    agg = ta.select(
        "id", "_alpha",
        F.size("_a").alias("n"),
        F.length(F.concat_ws("", "_a")).cast("long").alias("tot_len"),
        F.size(F.filter("_a", lambda x: x.isin(STOPWORDS))).alias("n_stop"),
    )
    n = F.greatest(F.col("n"), F.lit(1))
    stop_ratio = F.col("n_stop") * 1.0 / n
    length_ok = F.when((F.col("n") >= 5) & (F.col("n") <= 100000), 1.0).otherwise(0.2)
    return agg.select(
        "id",
        F.col("n").cast("long").alias("n_tokens"),
        F.round(F.col("tot_len") * 1.0 / n, 4).alias("avg_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(F.col("_alpha"), 4).alias("alpha_ratio"),
        F.round(length_ok * (F.lit(0.5) + F.least(stop_ratio * 2, F.lit(0.5))) * F.col("_alpha"), 4)
        .alias("score"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have",
                    "with"]


def classifier_score(df: DataFrame, id_col: str, text_col: str,
                     dim: int = 4096) -> DataFrame:
    """Hash-kernel linear quality classifier → (id, n_tokens, score,
    passes) — the model-based scoring pass of modern curation recipes
    (fastText-style quality classifiers as used by DCLM / FineWeb-Edu):
    hashed unigram bag-of-words features scored by a linear weight
    vector. The weights here are a deterministic closed-form function of
    the feature index (w(i) = (i % 997) - 498), which keeps the full
    computation oracle-checkable in SQL; a trained model drops in by
    replacing that formula with a broadcast weight lookup — the feature
    hashing, aggregation, and decision plumbing (the part that must scale)
    are identical.

    Scale shape: one token explode (row-linear, the shared _id_tokens
    path) → one map-side-combinable groupBy(id). Feature index =
    md5-int(token) % dim (the portable hash the rest of the repo gates
    on); the score decision is INTEGERIZED (sum of integer weights > 0 —
    no float boundary in `passes`); the displayed score normalizes by
    997·n_tokens with the engine-agnostic half-up rounding."""
    # r17 (guide §1.1): the score is a per-document fold, so no shuffle is
    # fundamentally required — the former explode + groupBy(id) shipped
    # per-id partials through an exchange for a number each row already
    # knows. One aggregate() fold over the barrier-materialized token
    # array computes the weight sum; the second Generate barrier makes the
    # fold evaluate ONCE per row (score + passes both read it, and
    # CodegenFallback HOFs get no common-subexpression elimination).
    # Measured at sf0.1: 1 -> 0 Exchanges, 0.42 -> 0.39 s warm, exact
    # parity.
    # dim is interpolated into a SQL expression below — coerce to a plain
    # int so a hostile/odd argument cannot inject SQL (ADVICE r17)
    dim = int(dim)
    ta = _id_token_array(df, id_col, text_col).where(F.size("_a") >= 1)
    s = F.expr(f"""aggregate(_a, 0L,
        (acc, t) -> acc
            + (CAST(conv(substring(md5(CAST(t AS BINARY)), 1, 15), 16, 10)
                    AS BIGINT) % {dim}) % 997 - 498)""")
    ta2 = ta.select("id", F.explode(F.array(F.struct(
        F.size("_a").cast("long").alias("n"), s.alias("s")))).alias("_x"))
    return ta2.select(
        "id",
        F.col("_x.n").alias("n_tokens"),
        (F.floor(F.col("_x.s") * 10000.0 / (997 * F.col("_x.n")) + F.lit(0.5))
         / 10000.0).alias("score"),
        (F.col("_x.s") > 0).alias("passes"),
    )


def gopher_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The published Gopher corpus-quality rules (Rae et al. 2021,
    "Scaling Language Models: ... Gopher", table A1) as pure JVM column
    expressions — the standard rule set web-scale curation applies before
    any model-based filtering:

    * 50 <= word count <= 100,000
    * 3 <= mean word length <= 10
    * symbol-to-word ratio ('#' or '...') <= 0.1
    * < 90% of lines start with a bullet; < 30% end with an ellipsis
    * >= 80% of words contain an alphabetic character
    * >= 2 of {the, be, to, of, and, that, have, with} present

    Every threshold comparison is INTEGERIZED (e.g. mean-length >= 3 is
    sum_len >= 3*n) so `passes` has no float boundary; displayed ratios
    round half-up in integer space (floor(x*1e4 + 0.5)/1e4 — engine-
    agnostic, unlike round()). Explode-then-aggregate like quality_score:
    doc-level line/symbol stats materialize in their OWN select BELOW the
    explode \u2014 in a single select the analyzer projects them ABOVE the
    Generate, where the split/filter-lambda/regexp tree re-evaluates once
    per exploded token instead of once per document (measured 5x at
    sf0.1, the r15 driver-drift mechanism); token stats in one groupBy.
    """
    from fermor_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    t = F.col(text_col)
    lines = F.split(t, "\n")
    bullet = F.size(F.filter(
        lines, lambda ln: F.substring(F.ltrim(ln), 1, 1).isin("-", "*", "\u2022")))
    ellipsis = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).endswith("...")
        | F.rtrim(ln).endswith("\u2026")))
    symbols = (
        (F.length(t) - F.length(F.regexp_replace(t, "#", "")))
        + F.floor((F.length(t)
                   - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3)
    )
    stats = df.select(
        F.col(id_col).alias("id"),
        F.size(lines).alias("_nl"),
        bullet.alias("_bl"),
        ellipsis.alias("_el"),
        symbols.cast("long").alias("_sym"),
        t.alias("_t"),
    )
    # r17 (guide §1.1): every rule input is a per-document number, so the
    # token stats are now ARRAY expressions over the Generate-barrier
    # token array instead of explode + groupBy — the exchange of per-doc
    # partials disappears (3 -> 1 Exchanges at sf0.1, the survivor being
    # ensure_parallelism's under-parallel repartition, which self-disables
    # at real scale; 0.57 -> 0.19 s warm, exact value parity). The
    # array-native forms avoid per-element lambdas where a built-in
    # exists: sum of token lengths = length of the separator-free
    # concat_ws; distinct stopword hits = array_intersect size.
    ta = stats.select(
        "id", "_nl", "_bl", "_el", "_sym",
        F.explode(F.array(F.filter(tokens(F.col("_t")),
                                   lambda x: F.length(x) > 0))).alias("_a"),
    ).where(F.size("_a") >= 1)
    agg = ta.select(
        "id", "_nl", "_bl", "_el", "_sym",
        F.size("_a").alias("n"),
        F.length(F.concat_ws("", "_a")).cast("long").alias("tot_len"),
        F.size(F.filter("_a", lambda x: x.rlike("[A-Za-z]"))).alias("n_alpha"),
        F.size(F.array_intersect(
            F.transform("_a", lambda x: F.lower(x)),
            F.array(*[F.lit(w) for w in GOPHER_STOPWORDS]))).alias("stop_hits"),
    )
    n, nl = F.col("n"), F.greatest(F.col("_nl"), F.lit(1))

    def r4(x):
        # half-up in integer space: identical in every engine, unlike
        # round() (banker's in Python, half-away in SQL)
        return F.floor(x * 10000 + F.lit(0.5)) / 10000

    passes = (
        (n >= 50) & (n <= 100000)
        & (F.col("tot_len") >= 3 * n) & (F.col("tot_len") <= 10 * n)
        & (10 * F.col("_sym") <= n)
        & (10 * F.col("_bl") < 9 * nl)
        & (10 * F.col("_el") < 3 * nl)
        & (5 * F.col("n_alpha") >= 4 * n)
        & (F.col("stop_hits") >= 2)
    )
    return agg.select(
        "id",
        n.cast("long").alias("n_words"),
        r4(F.col("tot_len") * 1.0 / n).alias("mean_word_len"),
        r4(F.col("n_alpha") * 1.0 / n).alias("frac_alpha_words"),
        F.col("stop_hits").cast("int").alias("stop_hits"),
        r4(F.col("_sym") * 1.0 / n).alias("symbol_ratio"),
        r4(F.col("_bl") * 1.0 / nl).alias("frac_bullet_lines"),
        r4(F.col("_el") * 1.0 / nl).alias("frac_ellipsis_lines"),
        passes.alias("passes"),
    )


def gopher_repetition(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The repetition-removal half of the Gopher rules (Rae et al. 2021
    table A1): duplicated-LINE fractions (by count and by character mass)
    and top-n-gram character fractions for n = 2, 3, 4, with the paper's
    thresholds — dup-line fraction <= 0.30, dup-line char fraction
    <= 0.20, top-{2,3,4}-gram char fractions <= {0.20, 0.18, 0.16}.

    Semantics pinned for the oracle: a line is duplicated when its exact
    content occurs more than once IN THE DOCUMENT (all occurrences
    count); the top n-gram is the most frequent word n-gram, ties broken
    by LARGEST character mass (a numeric rule — lexicographic tie-breaks
    would couple the result to engine-specific string collation); its
    char fraction = occurrences x n-gram length (joining spaces
    included) / length(text). Threshold
    comparisons are integerized; displayed ratios use the engine-agnostic
    half-up rounding.

    Plan shape (r17 full per-row rewrite, value-parity-pinned): every
    output is a per-document number, so the operator is now entirely
    per-row — zero joins, zero windows, zero aggregation shuffles. The
    token array materializes once behind a Generate barrier; for each
    n the n-grams are arrays_zip of n aligned slices (no per-element
    lambda), array_sort groups equal grams into adjacent runs (struct
    compare), and a run-length fold tracks the best (count, count×gram
    chars) pair — the same lexicographic (c, chars) maximum the previous
    (id, n, ngram) count + struct-max aggregation computed, including
    the documented char-mass tie-break; gram length is recovered from
    the struct's token fields (+ n−1 joining spaces) without ever
    building the gram string. The r13 shape (one lead window into one
    (id, n, ngram) count, one struct-max) paid a full token-table window
    sort plus two aggregation exchanges plus a join; at corpus scale the
    fold removes every byte of token/gram traffic."""
    from fermor_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    base = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))

    # r17 (guide §1.1): the duplicated-line stats are per-document — the
    # former two-level groupBy shuffled one row per distinct line per doc
    # just to count in-document repeats. A max-run fold over the SORTED
    # line array (equal lines adjacent ⟹ runs = per-line counts) computes
    # dup_lines / dup_line_chars inside the row; the finish lambda
    # flushes the last run. Line mass = length of the separator-free
    # concat (sum over lines of length). Row set unchanged: size >= 1 ⟺
    # the old explode emitted a line (empty text splits to [""]).
    la = base.select(
        "id", "_t", F.length("_t").alias("_tc"),
        F.explode(F.array(F.split("_t", "\n"))).alias("_ls"),
    ).where(F.size("_ls") >= 1)
    dup = F.expr("""aggregate(
        array_sort(_ls),
        struct(CAST(NULL AS STRING) AS prev, 0L AS run,
               0L AS dl, 0L AS dc),
        (a, x) -> CASE WHEN x = a.prev
            THEN struct(x AS prev, a.run + 1 AS run, a.dl AS dl, a.dc AS dc)
            ELSE struct(x AS prev, 1L AS run,
                        a.dl + IF(a.run > 1, a.run, 0L) AS dl,
                        a.dc + IF(a.run > 1, a.run * length(a.prev), 0L)
                            AS dc) END,
        a -> struct(a.dl + IF(a.run > 1, a.run, 0L) AS dl,
                    a.dc + IF(a.run > 1, a.run * length(a.prev), 0L)
                        AS dc))""")
    # Top-n-gram char mass per row (r17, guide §1.1 first-principles):
    # for each n the grams are arrays_zip of n aligned G-length slices
    # of the token array (G = size − n + 1; built-in collection
    # expressions, no per-element lambda); array_sort makes equal grams
    # adjacent, and a run-length fold tracks the best (count, chars)
    # pair with chars = count × (Σ token lengths + n−1 spaces) — the
    # lexicographic (c, chars) maximum of the former count + struct-max
    # aggregation, tie-break included. run = 0 states (no grams) finish
    # at 0 chars, matching the old left-join + fill(0).
    def _topn_chars(n: int):
        G = f"greatest(size(_a) - {n - 1}, 0)"
        slices = ", ".join(f"slice(_a, {j + 1}, {G})" for j in range(n))
        fields = ", ".join(f"`{j}`: STRING" for j in range(n))
        glen_prev = (" + ".join(f"length(a.prev.`{j}`)" for j in range(n))
                     + f" + {n - 1}")
        return F.expr(f"""aggregate(
            array_sort(arrays_zip({slices})),
            struct(CAST(NULL AS STRUCT<{fields}>) AS prev,
                   0L AS run, 0L AS bc, 0L AS bchars),
            (a, x) -> CASE
                WHEN a.run > 0 AND x = a.prev
                  THEN struct(x AS prev, a.run + 1 AS run,
                              a.bc AS bc, a.bchars AS bchars)
                WHEN a.run > 0 AND (a.run > a.bc OR (a.run = a.bc
                        AND a.run * ({glen_prev}) > a.bchars))
                  THEN struct(x AS prev, 1L AS run, a.run AS bc,
                              a.run * ({glen_prev}) AS bchars)
                ELSE struct(x AS prev, 1L AS run,
                            a.bc AS bc, a.bchars AS bchars) END,
            a -> CASE
                WHEN a.run > 0 AND (a.run > a.bc OR (a.run = a.bc
                        AND a.run * ({glen_prev}) > a.bchars))
                  THEN a.run * ({glen_prev})
                ELSE a.bchars END)""")

    out = la.select(
        "id", "_t", "_tc",
        F.size("_ls").cast("long").alias("n_lines"),
        F.length(F.concat_ws("", "_ls")).cast("long").alias("line_chars"),
        F.explode(F.array(dup)).alias("_d"),
    ).select(
        "id", "_tc", "n_lines", "line_chars",
        F.col("_d.dl").alias("dup_lines"),
        F.col("_d.dc").alias("dup_line_chars"),
        F.explode(F.array(F.filter(tokens(F.col("_t")),
                                   lambda x: F.length(x) > 0))).alias("_a"),
    ).select(
        "id", "_tc", "n_lines", "line_chars", "dup_lines", "dup_line_chars",
        _topn_chars(2).alias("top2_chars"),
        _topn_chars(3).alias("top3_chars"),
        _topn_chars(4).alias("top4_chars"))

    def r4(x):
        return F.floor(x * 10000 + F.lit(0.5)) / 10000

    tc = F.greatest(F.col("_tc"), F.lit(1))
    lch = F.greatest(F.col("line_chars"), F.lit(1))
    passes = (
        (10 * F.col("dup_lines") <= 3 * F.col("n_lines"))
        & (5 * F.col("dup_line_chars") <= 1 * F.col("line_chars"))
        & (5 * F.col("top2_chars") <= tc)
        & (50 * F.col("top3_chars") <= 9 * tc)
        & (25 * F.col("top4_chars") <= 4 * tc)
    )
    return out.select(
        "id",
        F.col("n_lines").cast("long").alias("n_lines"),
        r4(F.col("dup_lines") * 1.0 / F.col("n_lines"))
        .alias("dup_line_frac"),
        r4(F.col("dup_line_chars") * 1.0 / lch).alias("dup_line_char_frac"),
        r4(F.col("top2_chars") * 1.0 / tc).alias("top2_char_frac"),
        r4(F.col("top3_chars") * 1.0 / tc).alias("top3_char_frac"),
        r4(F.col("top4_chars") * 1.0 / tc).alias("top4_char_frac"),
        passes.alias("passes"),
    )


def c4_filters(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """The C4 cleaning rules (Raffel et al. 2020, section 2.2) as JVM
    column expressions: keep lines ending in terminal punctuation
    (. ! ? closing-quote, after rtrim) with >= 3 words and no
    'javascript'; drop pages with < 5 sentences, a curly brace, or
    'lorem ipsum'. Returns every document with (n_lines, kept_lines,
    n_sentences, has_brace, has_lorem, passes, cleaned_text) — the
    cleaned text rejoins kept lines in original order, reusing the
    order-explicit array_sort reassembly of line_dedup (collect_list has
    no order guarantee). Sentences are counted as terminal-punctuation
    characters (the standard cheap proxy)."""
    from fermor_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    t = F.col(text_col)
    # doc-level stats materialize in their OWN select below the line
    # explode (the Generate projection rule fixed repo-wide in r15: a
    # sibling expression in the explode's select re-evaluates once per
    # exploded LINE — regexp_replace + two instr scans over the full
    # text, O(chars x lines) per document)
    stats = df.select(
        F.col(id_col).alias("id"),
        (F.length(t) - F.length(F.regexp_replace(t, "[.!?]", "")))
        .alias("n_sentences"),
        F.instr(t, "{").alias("_br"),
        F.instr(F.lower(t), "lorem ipsum").alias("_lo"),
        t.alias("_t"),
    )
    # r17 (guide §1.1): line filtering is per-document work — the former
    # posexplode + groupBy + collect_list + sort reassembly paid an
    # exchange of every line just to rebuild each document on the other
    # side. A filter() over the barrier-materialized line array keeps
    # original order BY CONSTRUCTION and never leaves the row.
    base = stats.select(
        "id", "n_sentences", "_br", "_lo",
        F.explode(F.array(F.split("_t", "\n"))).alias("_ls"),
    ).where(F.size("_ls") >= 1)

    def _keep(line):
        lw = F.size(F.filter(F.split(F.trim(line), r"\s+"),
                             lambda x: F.length(x) > 0))
        return (
            F.substring(F.rtrim(line), -1, 1).isin(".", "!", "?", '"')
            & (lw >= 3)
            & ~F.lower(line).contains("javascript")
        )

    # second barrier: kept_lines and cleaned_text both read the filtered
    # array, and fallback-evaluated HOFs get no common-subexpression
    # elimination — materialize the filter once per row
    kept = base.select(
        "id", "n_sentences", "_br", "_lo",
        F.size("_ls").alias("n_lines"),
        F.explode(F.array(F.filter("_ls", _keep))).alias("_kept"))
    agg = kept.select(
        "id", "n_sentences", "_br", "_lo", "n_lines",
        F.size("_kept").alias("kept_lines"),
        F.array_join("_kept", "\n").alias("cleaned_text"))
    return agg.select(
        "id",
        F.col("n_lines").cast("long").alias("n_lines"),
        F.col("kept_lines").cast("long").alias("kept_lines"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        (F.col("_br") > 0).alias("has_brace"),
        (F.col("_lo") > 0).alias("has_lorem"),
        ((F.col("n_sentences") >= 5) & (F.col("_br") == 0)
         & (F.col("_lo") == 0)).alias("passes"),
        "cleaned_text")


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, lang, lang_score): argmax over per-language stopword-hit ratios.

    Deterministic tie-break: higher score wins, then lexicographic language
    code. A pure column expression — at 100 TB this runs entirely inside
    whole-stage codegen.
    """
    from fermor_spark.session import ensure_parallelism

    df = ensure_parallelism(df)
    # r17 (guide §1.1): per-language hit counts are per-document numbers —
    # filter sizes over the Generate-barrier (lowercased) token array
    # replace the explode + groupBy exchange. Each token still pays one
    # isin probe per language, exactly as the per-language sum(when())
    # aggregates did. Row set unchanged: size >= 1 ⟺ posexplode emitted.
    ta = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(tokens(F.lower(F.col(text_col))))).alias("_a"),
    ).where(F.size("_a") >= 1)
    def _hits(words):
        # single-arg lambda: PySpark HOFs dispatch on the lambda's ARITY
        # (a second parameter would receive the element index column)
        return F.size(F.filter("_a", lambda x: x.isin(words)))

    agg = ta.select(
        "id",
        F.size("_a").alias("_n"),
        *[_hits(words).alias(f"_hit_{lang}")
          for lang, words in sorted(LANG_PROFILES.items())],
    )
    n = F.greatest(F.col("_n"), F.lit(1))
    scored = F.array(*[
        F.struct(
            F.round(F.col(f"_hit_{lang}") * 1.0 / n, 6).alias("s"),
            F.lit(lang).alias("lang"),
        )
        for lang in sorted(LANG_PROFILES)
    ])
    best = F.array_sort(
        scored,
        lambda a, b: F.when(a["s"] > b["s"], -1).when(a["s"] < b["s"], 1).otherwise(
            F.when(a["lang"] < b["lang"], -1).otherwise(1)
        ),
    ).getItem(0)
    return agg.select(
        "id",
        best["lang"].alias("lang"),
        best["s"].alias("lang_score"),
    )


def fingerprint(
    df: DataFrame, id_col: str, text_col: str, k: int = 5, window: int = 4
) -> DataFrame:
    """(id, fingerprints ARRAY<BIGINT>): winnowing document fingerprint.

    k-gram hash sequence → sliding min per `window` positions → distinct
    sorted mins (Schleimer/Wilkerson/Aiken winnowing). Robust to local
    edits; used for copy detection at corpus scale.

    The gram hash is the first 60 bits of md5 as a BIGINT — engine-portable
    (DuckDB: ('0x' || substr(md5(g),1,15))::BIGINT yields the identical
    value), which is what lets the driver oracle-check the overlap query.
    Complete k-grams only: documents shorter than k tokens fingerprint to
    the empty set, mirroring the SQL formulation.
    """
    # Fully row-linear formulation: explode tokens once, build k-grams with
    # lead() windows, sliding-min with a rows-window, re-aggregate. Nested
    # array-transform formulations (transform over sequence + element_at)
    # re-inline the tokenization per position after Catalyst's projection
    # collapse — quadratic expression evaluation per document.
    toks = _id_tokens(df, id_col, text_col)
    wl = Window.partitionBy("id").orderBy("pos")
    gram_cols = [F.col("tok")] + [F.lead("tok", j).over(wl) for j in range(1, k)]
    h60 = F.conv(
        F.substring(F.md5(F.col("_gram").cast("binary")), 1, 15), 16, 10
    ).cast("long")
    grams = (
        toks.withColumn("_gram", F.concat_ws(" ", *gram_cols))
        .withColumn("_complete", F.lead("tok", k - 1).over(wl).isNotNull())
        .where(F.col("_complete"))
        .select("id", "pos", h60.alias("h"))
    )
    wmin = Window.partitionBy("id").orderBy("pos").rowsBetween(0, window - 1)
    wcnt = Window.partitionBy("id")
    mins = (
        grams.withColumn("f", F.min("h").over(wmin))
        .withColumn("_n", F.count("*").over(wcnt))
        .where(F.col("pos") <= F.greatest(F.col("_n") - window, F.lit(0)))
        .select("id", "f")
    )
    return mins.groupBy("id").agg(
        F.array_sort(F.collect_set("f")).alias("fingerprints")
    )


def fingerprint_overlap_pairs(
    df: DataFrame, id_col: str, text_col: str, min_shared: int = 3, **fp_kwargs
) -> DataFrame:
    """Pairs sharing ≥ min_shared winnowing fingerprints → (id_a, id_b, shared).
    Blocking key = the fingerprint value (equi-join), never all-pairs."""
    from fermor_spark.session import managed_cache

    # cache: both self-join legs read this plan — uncached, the whole
    # winnowing cascade (explode + 3 windows + md5-60 hash) computes twice.
    # Managed: long-lived sessions release it via session.release_caches().
    fp = managed_cache(fingerprint(df, id_col, text_col, **fp_kwargs).select(
        "id", F.explode("fingerprints").alias("f")
    ))
    a = fp.select(F.col("id").alias("id_a"), "f")
    b = fp.select(F.col("id").alias("id_b"), "f")
    return (
        a.join(b, "f")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared"))
        .where(F.col("shared") >= min_shared)
    )


def tfidf_top_terms(df: DataFrame, id_col: str, text_col: str,
                    top_n: int = 3, round_digits: int = 6) -> DataFrame:
    """Top-n TF-IDF terms per document → (id, term, tf, score, rank) — the
    keyword-extraction / topic-signal step of a curation pipeline.

    score = tf · ln(N / df_t) with raw counts and the plain (unsmoothed)
    idf — every quantity is an exact integer until the single final ln,
    so the DuckDB oracle restates it verbatim. Ties break on term text
    ascending (deterministic across engines). Terms appearing in every
    document score 0 but still rank (ln 1 = 0), matching the oracle.

    Scale shape: one token explode → per-(id, term) count (map-side
    combinable) → document-frequency aggregate joined back on the term
    key → per-document top-n window. The DF table is corpus vocabulary —
    at 100 TB it shuffles on the term key (AQE skew-handles stopwords);
    N is a 1-row aggregate broadcast by crossJoin. No all-pairs step,
    no driver state."""
    toks = _id_tokens(df, id_col, text_col).where(F.col("tok") != "")
    tf = toks.groupBy("id", F.col("tok").alias("term")).agg(
        F.count("*").alias("tf"))
    dft = tf.groupBy("term").agg(F.count("*").alias("_df"))
    n = df.select(F.col(id_col).alias("id")).distinct().agg(
        F.count("*").alias("_n"))
    w = Window.partitionBy("id").orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n))
        .withColumn("score",
                    F.round(F.col("tf") * F.log(F.col("_n") / F.col("_df")),
                            round_digits))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= top_n)
        .select("id", "term", "tf", "score", "rank")
    )


def repetition_metrics(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens, dup_token_frac, top_bigram_frac) — repetition-based
    quality signals (the Gopher-rules family: heavily repetitive documents
    are boilerplate/spam and poison training mixes).

    dup_token_frac = 1 - distinct/total tokens; top_bigram_frac = share of
    the most frequent bigram among all bigrams. Shuffle profile: one
    explode → two per-doc aggregations keyed on id (map-side combinable) —
    row-linear, no self-join, no window over the whole corpus.
    """
    # r17 rewrite (guide §1.1 first-principles + §2.4): every output here
    # is a PER-DOCUMENT number, so the fundamentally required shuffle
    # count is ZERO — yet the old shape paid four exchanges (an (id, tok)
    # distinct expand, the lead()-window's full token-table shuffle, two
    # aggregate exchanges) plus a join. All three metrics are now array
    # expressions over the barrier-materialized token array (see
    # _id_token_array for why the barrier matters): token/distinct counts
    # are size()/array_distinct(), and the top-bigram count is a
    # max-run-length fold over the SORTED bigram array (equal bigrams are
    # adjacent after array_sort, so the longest run IS the mode count).
    # Measured at sf0.1: 4 -> 0 Exchanges, 0.71 -> 0.49 s warm, exact
    # value parity including the one-token/no-bigram null. Row set
    # unchanged: size(_a) >= 1 ⟺ posexplode emitted at least one token
    # (empty text still tokenizes to [""] — one token, no bigram).
    ta = _id_token_array(df, id_col, text_col).where(F.size("_a") >= 1)
    mx = F.expr("""aggregate(
        array_sort(transform(arrays_zip(slice(_a, 1, greatest(size(_a)-1, 0)),
                                        slice(_a, 2, greatest(size(_a)-1, 0))),
                             p -> concat(p['0'], ' ', p['1']))),
        struct(CAST(NULL AS STRING) AS prev, 0 AS run, 0 AS best),
        (acc, x) -> struct(x AS prev,
                           IF(x = acc.prev, acc.run + 1, 1) AS run,
                           GREATEST(acc.best,
                                    IF(x = acc.prev, acc.run + 1, 1)) AS best),
        acc -> acc.best)""")
    n = F.size("_a")
    return ta.select(
        "id",
        n.cast("long").alias("n_tokens"),
        F.round(F.lit(1.0) - F.size(F.array_distinct("_a")) * 1.0 / n, 4)
        .alias("dup_token_frac"),
        F.when(n >= 2, F.round(mx * 1.0 / (n - 1), 4))
        .alias("top_bigram_frac"),
    )


def pack_sequences(
    df: DataFrame, id_col: str, text_col: str, capacity: int,
    shard_col: str | None = None,
) -> DataFrame:
    """Deterministic sequence packing: lay documents end-to-end in id order
    and slice fixed token windows → (id, n_tokens, bin_id, bin_offset).

    The packed-pretraining layout: bin_id = floor(tokens_before / capacity),
    bin_offset = tokens_before % capacity (a document may straddle bins; the
    loader continues into bin_id+1). Pure window arithmetic — reproducible
    across engines, no RNG.

    Global total ordering is inherently sequential, so at scale pass
    `shard_col`: packing runs per shard (one window partition each), which
    is both the scalable plan AND what a sharded loader consumes. Without
    it the window is a single partition — fine for toy SFs only.
    """
    n_tok = F.size(tokens(F.col(text_col))).cast("long")
    extra = [shard_col] if shard_col is not None else []
    out = df.select(
        F.col(id_col).alias("id"),
        *extra,
        n_tok.alias("n_tokens"),
    )
    w = (
        Window.partitionBy(*extra).orderBy("id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = out.withColumn("_start", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    # integer DIV, not floating /: a float64 quotient silently loses token
    # offsets past 2^53 cumulative tokens
    return out.select(
        "id",
        *extra,
        "n_tokens",
        F.expr(f"_start DIV {int(capacity)}").alias("bin_id"),
        (F.col("_start") % capacity).alias("bin_offset"),
    )


# PII patterns chosen to parse identically under Java regex (Spark) and RE2
# (DuckDB): no backreferences, no lookaround. Order matters — emails before
# the bare-domain URL pattern would double-redact, so URLs go first.
PII_PATTERNS: list[tuple[str, str]] = [
    ("url", r"https?://[^\s]+"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9]{1,3}[-. ]?\(?[0-9]{3}\)?[-. ]?[0-9]{3}[-. ]?[0-9]{4}\b"),
]


def redact_pii(
    df: DataFrame, text_col: str, kinds: list[str] | None = None,
    token_fmt: str = "<{kind}>",
) -> DataFrame:
    """Replace PII-shaped spans in ``text_col`` with typed placeholder
    tokens (``<url>``, ``<email>``, ...). A chained JVM-side
    ``regexp_replace`` — whole-stage-codegen'd, no Python in the hot path,
    row-linear at any corpus size. Adds ``{text_col}_redacted`` plus a
    per-kind hit count column ``pii_{kind}`` (count BEFORE redaction, for
    audit/quality gating)."""
    pats = [(k, p) for k, p in PII_PATTERNS if kinds is None or k in kinds]
    out = df
    red = F.col(text_col)
    for kind, pat in pats:
        out = out.withColumn(
            f"pii_{kind}",
            F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))),
        )
        red = F.regexp_replace(red, pat, token_fmt.format(kind=kind))
    return out.withColumn(f"{text_col}_redacted", red)


def bpe_train(df: DataFrame, id_col: str, text_col: str,
              num_merges: int = 32, end_marker: str = "</w>",
              min_count: int = 1,
              max_words: int = 2_000_000) -> list[tuple[str, str]]:
    """Train byte-pair-encoding merge rules on the corpus → ordered list of
    (left, right) symbol pairs, highest-frequency first — the tokenizer-
    training step of a data pipeline.

    Classic BPE (Sennrich et al., ACL'16) trains on the WORD-FREQUENCY
    table, not the raw corpus: the corpus collapses to (word, count) via
    one groupBy (at 100 TB a few million unique words — model-state scale,
    not data scale), and every merge iteration is one pair-count
    aggregation over current segmentations + a 1-row argmax collect. The
    driver holds only the word table; with very large vocabularies keep
    it as a DataFrame — here it collects once because tokenizer training
    state (unique words x counts) is orders of magnitude smaller than the
    corpus, the same driver-scale argument as the hybrid graph operators.

    Deterministic: ties break on the lexicographically smallest pair.

    Driver-size guard (the same threshold discipline as the hybrid graph
    operators): a noisy web corpus at 100 TB has 10^8-10^9 unique "words"
    (typos, URLs, hex blobs) — an uncapped collect is a driver OOM.
    ``min_count`` drops words rarer than the floor BEFORE collecting;
    this is EXACT for any merge whose winning pair count exceeds the
    mass removed, because a word with count < min_count can contribute
    fewer than min_count to any pair and so can never flip an argmax won
    by a margin above the floor — in practice rare junk words never win
    merges. ``max_words`` is the hard cap: if the filtered table still
    exceeds it, raise loudly and tell the caller to raise ``min_count``
    (collecting a bigger table would OOM silently instead).
    """
    wq = (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("c"))
    )
    if min_count > 1:
        wq = wq.where(F.col("c") >= min_count)
    # limit(max_words+1) short-circuits the probe and the fetch into one
    # evaluation (iterate._driver_scale's pattern)
    words = wq.limit(max_words + 1).collect()
    if len(words) > max_words:
        raise ValueError(
            f"bpe_train: corpus has more than max_words={max_words} unique "
            f"words above min_count={min_count}; raise min_count (rare words "
            f"cannot win merges — a frequency floor is standard practice and "
            f"exact above the floor) or raise max_words explicitly."
        )
    segs = {r["w"]: tuple(r["w"]) + (end_marker,) for r in words}
    counts = {r["w"]: int(r["c"]) for r in words}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pair_counts: dict = {}
        for w, seg in segs.items():
            c = counts[w]
            for i in range(len(seg) - 1):
                p = (seg[i], seg[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        (a, b), n = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if n < 2:
            break
        merges.append((a, b))
        ab = a + b
        for w, seg in list(segs.items()):
            out, i = [], 0
            while i < len(seg):
                if i < len(seg) - 1 and seg[i] == a and seg[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(seg[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def bpe_encode_counts(df: DataFrame, id_col: str, text_col: str,
                      merges: list[tuple[str, str]],
                      end_marker: str = "</w>") -> DataFrame:
    """Per-document BPE token count under a FIXED merge-rule list →
    (id, n_bpe_tokens). Pure column expressions: each word becomes a
    space-separated symbol string (chars + end marker), each merge rule
    is one string replace applied in rank order (a left-to-right
    non-overlapping merge pass), and the final symbol count per word
    sums per document. SQL-restatable verbatim (nested replace chain),
    which is what lets the driver oracle-gate the encoder; the trainer
    is pytest-verified against hand-computed merges.

    Documented delta vs exhaustive BPE application: each rule runs ONE
    left-to-right pass (replace resumes scanning after a substitution,
    so on degenerate same-symbol runs like 'aaaa' the segmentation can
    differ from reapplying the rule to a fixed point). Natural-language
    words are unaffected; the exactness that matters here is that the
    Spark expression and the SQL oracle share scan semantics."""
    word = F.explode(tokens(F.col(text_col))).alias("w")
    base = df.select(F.col(id_col).alias("id"), word).where(F.col("w") != "")
    # "h e l l o </w>" with guard spaces so every symbol is " x "-delimited.
    # per-char via regexp_extract_all: Spark's split("(?!^)") keeps a
    # trailing empty match at end-of-string (regardless of limit), which
    # would inject a phantom empty symbol that blocks end-marker merges
    enc = F.concat(F.lit(" "),
                   F.concat_ws(" ", F.regexp_extract_all(F.col("w"), F.lit("."), 0)),
                   F.lit(" " + end_marker + " "))
    for a, b in merges:
        enc = F.replace(enc, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
    n_sym = F.size(F.split(F.trim(enc), " +"))
    return (
        base.select("id", n_sym.alias("_n"))
        .groupBy("id")
        .agg(F.sum("_n").cast("long").alias("n_bpe_tokens"))
    )
