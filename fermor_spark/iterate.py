"""Iterative frontier engine — the Spark shape of the reference's recursive
traversal (`descend`/`all` family, reference: src/fermor/core.clj:978-1249,
src/fermor/descend.clj) and of the component-style algorithms.

The reference's stack-safe CPS trampoline collapses, on Spark, into one
driver-side round loop, `_fixpoint`, that every round loop here runs on
(and `graph.assert_acyclic` and `layout.force_atlas` too):

    for state, probe in _fixpoint(rec, state, step, max_rounds, probe):
        if <fixed point or empty frontier>: break
        emit / collect

The one exception is SCC's outer FW-BW loop: its round state is
materialized by the next trim pass's first aggregate, so a `_fixpoint`
probe of its own would cost one more job per round.
`tests/test_tools.py::test_round_loops_run_on_fixpoint` keeps any other
checkpointing loop out of the package.

Key semantic deltas (documented; the reference's own tests multiset-compare):
- emission is breadth-first/unordered, not DFS-ordered;
- the no-result failsafe becomes a max-iteration guard + empty-frontier stop.

Cycle handling follows the reference's split (reference: `all` vs
`all-with-cycles`, src/fermor/core.clj:1095-1122): per-path cutting
(correct for path semantics — carries a path array + array_contains filter)
vs global-visited (fast, valid for reachability).

Scale notes:
- EVERY round `localCheckpoint(eager=False)`s its new state, and ONE
  aggregate job both materializes the checkpoint and returns the round's
  termination probe (a row count unless the operator fuses its own
  columns into the same aggregate). Cache-chained iterations look cheaper
  but Catalyst re-analyzes the ever-deeper plan each round (superlinear
  driver time: measured 15-40x slowdown by iteration ~6 at sf0.1) and
  leaked caches degrade the whole session; flat lineage keeps analysis
  O(1) per round. An eager checkpoint followed by a separate probe is one
  job more per round for the same answer.
- superseded checkpoints are NOT unpersisted: `DataFrame.unpersist`
  only uncaches CacheManager-registered plans, and a localCheckpoint is
  not one, so the call does nothing. Their blocks are reaped by the
  ContextCleaner once the frame is garbage-collected (bench.py's
  per-query drain forces that promptly).
- each hop is one shuffle join; frontiers are usually small → AQE broadcasts.
- per-path expansion is exponential on dense graphs by nature; prefer the
  global-visited reachability entry points where paths aren't needed.

Round telemetry: `round_rows(op)` is the per-round probe record of the
calling context's most recent `op` call (each thread has its own), and
`LAST_<OP>_ROUNDS` (module `__getattr__`) is its length — 0 when the
driver-side finish ran instead of distributed rounds.

Connected components have one engine, `_pair_components`: its input is
a (u, v) pair frame and an (id) universe, and its one record is `cc`.
`connected_components` passes a graph's edges, and
`pipeline.dedup.dedup_clusters` (SemDeDup's resolution too) passes
near-dup pairs.
"""

from __future__ import annotations

import itertools
from concurrent.futures import ThreadPoolExecutor
from contextvars import ContextVar
from functools import reduce
from typing import Callable, Iterator

from pyspark.sql import DataFrame, Row, Window
from pyspark.sql import functions as F

from fermor_spark.graph import PropertyGraph
from fermor_spark.route import Route
from fermor_spark.session import local_frame

# op name -> that op's round record, per context (see _record)
_ROUNDS: ContextVar[dict] = ContextVar("fermor_round_rows")

_LAST_ROUNDS = {"LAST_BFS_ROUNDS": "bfs", "LAST_CC_ROUNDS": "cc",
                "LAST_SCC_ROUNDS": "scc", "LAST_BF_ROUNDS": "bf",
                "LAST_KCORE_ROUNDS": "kcore"}


def __getattr__(name: str):
    # PEP 562: LAST_<OP>_ROUNDS read the calling context's record
    if name in _LAST_ROUNDS:
        return len(round_rows(_LAST_ROUNDS[name]))
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


def _record(op: str) -> list:
    """Start ``op``'s round record for one call. The store is a
    ContextVar and every call sets a fresh dict, so no thread (or copied
    context) sees the rounds of another's later calls."""
    rec: list = []
    _ROUNDS.set({**_ROUNDS.get({}), op: rec})
    return rec


def round_rows(op: str | None = None):
    """Per-round probe values of the calling context's most recent ``op``
    call (empty when its driver-side finish did all the work); with no
    ``op``, a dict of every op's."""
    if op is None:
        return {k: list(v) for k, v in _ROUNDS.get({}).items()}
    return list(_ROUNDS.get({}).get(op, ()))


def _fixpoint(rec: list, state: DataFrame,
              step: Callable[[DataFrame, int], DataFrame],
              max_rounds: int | None = None,
              probe=None) -> Iterator[tuple[DataFrame, Row]]:
    """The round driver. Yields ``(state, probe_row)`` once per round;
    the caller tests its fixed point on the probe and breaks out.

    Round ``i``: ``step(state, i)`` builds the next state lazily, the
    driver lazily localCheckpoints it, and one aggregate job — ``probe``
    columns, a row count by default — materializes the checkpoint and
    returns the probe row. Its value is appended to ``rec``. At most
    ``max_rounds`` rounds run (None: unbounded)."""
    cols = probe or (F.count(F.lit(1)),)
    for i in itertools.count() if max_rounds is None else range(max_rounds):
        state = step(state, i).localCheckpoint(eager=False)
        row = state.agg(*cols).first()
        rec.append(row[0] if len(row) == 1 else tuple(row))
        yield state, row


def _driver_scale(df: DataFrame, limit: int):
    """``df`` as pandas if it has at most ``limit`` rows, else None (also
    for ``limit`` <= 0, the force-distributed setting). Probe and fetch
    are ONE job: ``limit(limit + 1).toPandas()`` stops reading past the
    bound, and an expensive upstream plan runs once instead of once for a
    count and again for the fetch."""
    if limit <= 0:
        return None
    pdf = df.limit(limit + 1).toPandas()
    return pdf if len(pdf) <= limit else None


def _min_label_components(a, b) -> dict:
    """Union-find over the pairs ``zip(a, b)``, each union toward the
    smaller id: maps every id that is not its component's minimum to that
    minimum (ids absent from the map label themselves). Spark string
    comparison is UTF-8 byte order = Python code-point order, so the
    labels agree with Spark's min()."""
    par: dict = {}

    def find(x):
        r = x
        while par.get(r, r) != r:
            r = par[r]
        while par.get(x, x) != r:
            par[x], x = r, par[x]
        return r

    for x, y in zip(a, b):
        x, y = find(x), find(y)
        if x != y:
            if y < x:
                x, y = y, x
            par[y] = x
    return {k: find(k) for k in par}


def _union(frames, **kw) -> DataFrame:
    return reduce(lambda a, b: a.unionByName(b, **kw), frames)


def _persist(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint for state built ONCE per call and read by
    every round (adjacency, degree tables): materialize + truncate lineage
    before the loop starts."""
    return df.localCheckpoint(eager=True)


def _step_edges(g: PropertyGraph, labels, direction: str) -> DataFrame:
    """(u, v[, w]) adjacency pairs for a traversal direction."""
    e = g._edges_df(labels)
    out_pairs = e.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("weight").alias("w"))
    in_pairs = e.select(F.col("dst").alias("u"), F.col("src").alias("v"), F.col("weight").alias("w"))
    if direction == "out":
        return out_pairs
    if direction == "in":
        return in_pairs
    return out_pairs.unionByName(in_pairs)


def _loop_adjacency(g: PropertyGraph, labels, direction: str) -> DataFrame:
    """Adjacency frame materialized ONCE for an iterative loop.

    Every loop iteration joins the frontier against the adjacency; leaving
    it as a lazy derivation re-runs the label filter + direction union per
    round, and at cluster scale an unmaterialized big side re-shuffles
    every round. Checkpointing it keyed-side once means each iteration
    pays only the (small) frontier's work."""
    return _persist(_step_edges(g, labels, direction).select("u", "v"))


def _path_step(col: str) -> F.Column:
    return F.concat(F.col("path"), F.array(F.concat(F.lit("v:"), F.col(col))))


# --------------------------------------------------------------- reachability


def all_reachable(
    g: PropertyGraph,
    start: Route | DataFrame,
    labels=None,
    direction: str = "out",
    max_depth: int | None = None,
    include_start: bool = False,
    local_edge_threshold: int = 200_000,
) -> DataFrame:
    """Transitive expansion with GLOBAL visited-set cycle cutting → (id, depth).

    The fast mode — valid when only reachability matters
    (reference: `all` used for reachability, src/fermor/core.clj:1095-1110).

    Distributed/local hybrid (same threshold discipline as CC/SCC/k-core):
    when BOTH the label-filtered adjacency and the start set fit under
    ``local_edge_threshold``, a driver-side level-order BFS replaces the
    per-level join+anti-join+checkpoint rounds — BFS is O(diameter)
    barrier rounds distributed, pure overhead on a driver-scale subgraph.
    Pass 0 to force the distributed path (tests cover both). Distributed,
    ``LAST_BFS_ROUNDS`` counts every level round run, including a final
    one that found nothing new."""
    rec = _record("bfs")
    start_df = start.df if isinstance(start, Route) else start
    frontier = start_df.select("id").distinct().withColumn("depth", F.lit(0))
    adj = _loop_adjacency(g, labels, direction)
    apdf = _driver_scale(adj, local_edge_threshold)
    spdf = None if apdf is None else _driver_scale(
        start_df.select("id").distinct(), local_edge_threshold)
    if spdf is not None:
        # Arrow both ways: a row-at-a-time collect/createDataFrame
        # round trip costs more than the saved shuffle rounds at
        # ~200k rows (measured) — toPandas/pandas in, pandas out
        from collections import defaultdict

        import numpy as np
        import pandas as pd

        nb = defaultdict(list)
        for u, v in zip(apdf["u"].to_numpy(), apdf["v"].to_numpy()):
            nb[u].append(v)
        starts = spdf["id"].tolist()
        depth_map = {s: 0 for s in starts}
        frontier_l, d = starts, 0
        while frontier_l and (max_depth is None or d < max_depth):
            nxt = []
            for u in frontier_l:
                for v in nb.get(u, ()):
                    if v not in depth_map:
                        depth_map[v] = d + 1
                        nxt.append(v)
            frontier_l, d = nxt, d + 1
        ids = [k for k, dd in depth_map.items() if include_start or dd > 0]
        out = pd.DataFrame({
            "id": pd.array(ids, dtype="string"),
            "depth": np.fromiter(
                (depth_map[k] for k in ids), dtype=np.int32, count=len(ids)),
        })
        return g.spark.createDataFrame(out, "id string, depth int")
    levels = [frontier]
    seen = frontier

    def expand(frontier: DataFrame, i: int) -> DataFrame:
        return (
            frontier.join(adj, frontier["id"] == adj["u"], "inner")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(seen.select("id"), "id", "left_anti")
            .withColumn("depth", F.lit(i + 1))
        )

    for nxt, (n,) in _fixpoint(rec, frontier, expand, max_depth):
        if n == 0:
            break
        levels.append(nxt)
        seen = seen.unionByName(nxt)  # union of checkpointed levels
    out = levels if include_start else levels[1:]
    return _union(out) if out else frontier.limit(0)


def all_paths(
    g: PropertyGraph,
    start: Route | DataFrame,
    labels=None,
    direction: str = "out",
    max_depth: int | None = None,
    include_start: bool = True,
    to_pred=None,
    leaves_only: bool = False,
) -> DataFrame:
    """Per-path cycle-cut expansion emitting (id, path ARRAY<STRING>).

    Reference: all-paths / deepest-paths / all-paths-to / search
    (src/fermor/core.clj:1138-1202). `to_pred` (a Column predicate over the
    current vertex id) stops descending below a match and diverts it to the
    results (reference: all-paths-to). `leaves_only` emits only rows whose
    expansion is empty (reference: deepest).

    Each level carries a ``_hit`` flag (``to_pred`` of its id) instead of
    being split in two, so a level is one checkpoint + one count job; only
    its non-hit rows expand.
    """
    rec = _record("paths")
    start_df = start.df if isinstance(start, Route) else start
    adj = _loop_adjacency(g, labels, direction)
    hit = to_pred(F.col("id")) if to_pred is not None else F.lit(False)
    levels = [start_df.select("id").distinct().withColumn(
        "path", F.array(F.concat(F.lit("v:"), F.col("id")))
    ).withColumn("_hit", hit)]

    def expand(level: DataFrame, _: int) -> DataFrame:
        live = level.where(~F.col("_hit"))
        return (
            live.join(adj, live["id"] == adj["u"], "inner")
            .where(~F.array_contains(F.col("path"), F.concat(F.lit("v:"), F.col("v"))))
            .select(F.col("v").alias("id"), _path_step("v").alias("path"))
            .withColumn("_hit", hit)
        )

    for nxt, (n,) in _fixpoint(rec, levels[0], expand, max_depth):
        if n == 0:
            break
        levels.append(nxt)
    parts = []
    if to_pred is not None:
        parts += [lv.where(F.col("_hit")) for lv in levels]
    if leaves_only:
        # a live row with no child in the next level is a leaf; every
        # live row of the last level is one (its expansion was empty or
        # cut by max_depth)
        for lv, nx in zip(levels, levels[1:]):
            parents = nx.select(
                F.slice("path", 1, F.size("path") - 1).alias("_parent")).distinct()
            parts.append(lv.where(~F.col("_hit")).join(
                parents, F.col("path") == F.col("_parent"), "left_anti"))
        parts.append(levels[-1].where(~F.col("_hit")))
    elif to_pred is None:
        parts += levels if include_start else levels[1:]
    if not parts:
        return levels[0].select("id", "path").limit(0)
    return _union([p.select("id", "path") for p in parts])


def all_paths_with_cycles(
    g: PropertyGraph,
    start: Route | DataFrame,
    labels=None,
    direction: str = "out",
    max_depth: int = 10,
    include_start: bool = True,
) -> DataFrame:
    """Path expansion WITHOUT cycle cutting — requires a depth bound
    (reference: all-with-cycles / all-paths-with-cycles,
    src/fermor/core.clj:1112-1122, 1180-1190)."""
    rec = _record("paths_with_cycles")
    start_df = start.df if isinstance(start, Route) else start
    adj = _loop_adjacency(g, labels, direction)
    frontier = start_df.select("id").distinct().withColumn(
        "path", F.array(F.concat(F.lit("v:"), F.col("id")))
    )
    levels = [frontier] if include_start else []

    def expand(frontier: DataFrame, _: int) -> DataFrame:
        return frontier.join(adj, frontier["id"] == adj["u"], "inner").select(
            F.col("v").alias("id"), _path_step("v").alias("path"))

    for nxt, (n,) in _fixpoint(rec, frontier, expand, max_depth):
        if n == 0:
            break
        levels.append(nxt)
    return _union(levels) if levels else frontier.limit(0)


def square_count(g: PropertyGraph, labels=None) -> DataFrame:
    """Per-vertex 4-cycle (quadrilateral) counts → (id, squares), undirected.

    Wedge aggregation: for each endpoint pair (a, z) with m distinct 2-path
    middles, every middle pair closes a square → C(m, 2) squares through a
    and z (the distributed shape of the reference's `squares` counter,
    src/fermor/force_atlas/graph.clj:15-42). Middle vertices are credited
    via the per-(middle, endpoint-pair) wedge rows."""
    # NOT cached/persisted: both wedge legs re-run the distinct shuffle,
    # but the r16 tree A/Bs measured every materialization variant
    # (eager _persist, lazy managed_cache) SLOWER at gate SF than the
    # recompute — the columnar encode + read-back of the edge set costs
    # more than one extra small shuffle, and the window rewrite below
    # already removed the dominant 4x wedge-JOIN recompute (PLANS r16).
    e = (
        g.undirected_view(labels).select("src", "dst")
        .where(F.col("src") != F.col("dst")).distinct()
    )
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("z"))
    wedges = e1.join(e2, "b").where(F.col("a") < F.col("z"))  # 2-paths a-b-z, a<z
    # Single pass over the wedge set (r16): m = wedges per endpoint pair
    # via a window, then per-ROW integer credits — a and z each carry
    # (m-1) (summing to m(m-1) = 2*C(m,2) per pair), the middle b carries
    # 2(m-1); the final /4 folds the 2x credit scaling with the 2x
    # diagonal double-discovery. The previous shape referenced the
    # un-persisted wedge join from FOUR subtrees (groupBy m twice for the
    # endpoint union, once more under the middle join, plus the join's own
    # wedge leg) — at scale the wedge set dwarfs the edge set, and
    # recomputing it 4x is exactly the recompute class the r15 Generate
    # fix removed from the text family. One wedge join, one window
    # shuffle, all-integer arithmetic (the old double-typed shares lose
    # exactness before longs do).
    m = F.count("*").over(Window.partitionBy("a", "z"))
    wm = wedges.withColumn("_m", m).where(F.col("_m") >= 2)
    credits = wm.select(
        F.explode(F.array(
            F.struct(F.col("a").alias("id"), (F.col("_m") - 1).alias("c")),
            F.struct(F.col("z").alias("id"), (F.col("_m") - 1).alias("c")),
            F.struct(F.col("b").alias("id"),
                     (2 * (F.col("_m") - 1)).alias("c")),
        )).alias("s")
    ).select(F.col("s.id").alias("id"), F.col("s.c").alias("c"))
    # integer FLOOR division (the sum is provably divisible by 4): `/` is
    # Spark true division — long -> double before the cast — which loses
    # exactness above 2^53 even though every credit is integer (ADVICE r16)
    counts = credits.groupBy("id").agg(
        F.expr("CAST(sum(c) DIV 4 AS BIGINT)").alias("squares")
    )
    return (
        g.vertex_ids().join(counts, "id", "left")
        .select("id", F.coalesce("squares", F.lit(0)).alias("squares"))
    )



def all_cycles(
    g: PropertyGraph,
    max_len: int,
    labels=None,
    start: Route | DataFrame | None = None,
    with_edges: bool = True,
) -> DataFrame:
    """Paths that return to their origin within max_len hops → (path).

    Reference: all-cycles (src/fermor/core.clj:1204-1233; expected values
    gremlin_examples_test.clj:183-190). Emits one row per (start, cycle)
    orientation, like the reference (each 3-cycle appears once per member).
    """
    rec = _record("cycles")
    e = g._edges_df(labels)
    adj = _persist(
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("label").alias("l"))
    )
    start_df = (start.df if isinstance(start, Route) else start) if start is not None else g.vertex_ids()
    frontier = start_df.select("id").distinct().withColumn(
        "path", F.array(F.concat(F.lit("v:"), F.col("id")))
    ).withColumn("origin", F.col("id")).withColumn("_go", F.lit(True))

    def expand(frontier: DataFrame, _: int) -> DataFrame:
        live = frontier.where(F.col("_go"))
        joined = live.join(adj, live["id"] == adj["u"], "inner")
        step_path = (
            F.concat(
                F.col("path"),
                F.array(F.concat(F.lit("e:"), F.col("l"), F.lit(":"), F.col("u"), F.lit(":"), F.col("v"))),
                F.array(F.concat(F.lit("v:"), F.col("v"))),
            )
            if with_edges
            else _path_step("v")
        )
        # cut on the PRE-append path: a revisit of a non-origin vertex kills
        # the path; a revisit of the origin closes a cycle
        return joined.select(
            F.col("v").alias("id"), step_path.alias("path"), F.col("origin"),
            ((F.col("v") != F.col("origin"))
             & ~F.array_contains(F.col("path"), F.concat(F.lit("v:"), F.col("v")))
             ).alias("_go"),
        )

    rounds = []
    live = (F.count(F.when(F.col("_go"), True)),)
    for nxt, (n_live,) in _fixpoint(rec, frontier, expand, max_len, probe=live):
        rounds.append(nxt.where(F.col("id") == F.col("origin")).select("path"))
        if n_live == 0:
            break
    return _union(rounds) if rounds else frontier.select("path").limit(0)


# ------------------------------------------------------------- components


# Both stars need min(v) per u attached back to every (u, v) row. A
# groupBy + self-join pays the grouping exchange AND a join pass per
# star (2 stars x rounds); a min() window over partitionBy(u) attaches
# the same constant-per-group value in ONE exchange + sort (§2.4 —
# "window partitioned by the same key as a preceding aggregation does
# not need a second shuffle"; here the aggregation IS the window).
def _large_star(e: DataFrame) -> DataFrame:
    # symmetric view so Γ(u) sees both orientations.
    # Skew limit: the min window over partitionBy("u") is one exchange
    # that AQE's skew split does not touch (it splits join partitions,
    # not window partitions). Component minima become high-degree u keys,
    # so a giant component funnels its rows into one task.
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    return (
        sym.withColumn("m", F.least(F.min("v").over(Window.partitionBy("u")), F.col("u")))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # input is parent-pointer-shaped: (u, v) with v < u after large-star.
    # Emitting (u, m) once per EDGE rather than once per group (the old
    # union of the 1-row-per-u aggregate) is set-identical because the
    # final distinct collapses the duplicates.
    withm = e.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    return (
        withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(withm.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _pair_components(pairs: DataFrame, universe: DataFrame, *,
                     max_iter: int, local_edge_threshold: int) -> DataFrame:
    """Min-id connected components of the undirected pair graph
    ``pairs`` (u, v), labelled over ``universe`` (id) → (id, comp). The
    one CC engine: ``connected_components`` and
    ``pipeline.dedup.dedup_clusters`` both run on it (record ``cc``).

    One orientation per pair is enough: large-star symmetrizes. Ids keep
    their type. A universe id with no pair labels itself; a pair id
    outside the universe is not emitted but still links its neighbors.
    Raises if ``max_iter`` rounds end before the fixed point."""
    rec = _record("cc")
    # lazy checkpoint: the driver-scale probe or the first count
    # materializes it, so the distinct (and whatever built the pairs)
    # runs once on either path
    edges = (pairs.where(F.col("u") != F.col("v"))
             .select("u", "v").distinct().localCheckpoint(eager=False))
    id_t = edges.schema["u"].dataType.simpleString()

    def local(epdf):
        comp = _min_label_components(epdf["u"].tolist(), epdf["v"].tolist())
        return local_frame(edges.sparkSession, comp.items(),
                           f"id {id_t}, comp {id_t}")

    epdf = _driver_scale(edges, local_edge_threshold)
    if epdf is not None:
        parents = local(epdf)
    else:
        n_edges = edges.count()
        contract = lambda e, _: _small_star(_large_star(e))  # noqa: E731
        for new, (n_new,) in _fixpoint(rec, edges, contract, max_iter):
            # symmetric fixed-point test: both sides are distinct sets, so
            # new ⊆ old together with |new| == |old| means new == old. A
            # subset-only probe would accept a still-shrinking edge set.
            converged = (
                n_new == n_edges and new.exceptAll(edges).limit(1).count() == 0
            )
            edges, n_edges = new, n_new
            if converged:
                # a star forest (child → component-min center); vertices
                # never seen as a child are their own component
                parents = (edges.groupBy("u").agg(F.min("v").alias("comp"))
                           .withColumnRenamed("u", "id"))
                break
            if local_edge_threshold and n_edges <= local_edge_threshold:
                parents = local(edges.toPandas())
                break
        else:
            raise RuntimeError(
                f"connected components: no fixed point after max_iter={max_iter} rounds")
    return (
        universe.join(parents, "id", "left")
        .select("id", F.coalesce(F.col("comp"), F.col("id")).alias("comp"))
    )


def connected_components(g: PropertyGraph, labels=None,
                         incident_only: bool = False,
                         max_iter: int = 50,
                         local_edge_threshold: int = 200_000) -> DataFrame:
    """Undirected CCs via alternating large-star/small-star contraction →
    (id, component), component = min vertex id (same contract as the former
    min-id propagation, which this replaces).

    Min-id propagation converges in O(diameter) shuffle rounds — fine on a
    star schema, a scale-killer on a 100 TB graph with a long chain (10⁶
    rounds on a 10⁶-chain). The two-phase star contraction ("Connected
    Components in MapReduce and Beyond", Kiveris et al., SoCC'14) converges
    in O(log n) rounds regardless of diameter: large-star hangs every
    strictly-larger neighbor of u under u's neighborhood minimum, small-star
    re-hangs u and its smaller neighbors under that minimum, and the fixed
    point is a star forest whose centers are the component minima. Each
    round is one window pass per star over the (shrinking) edge set — no
    driver-side state beyond the round's row count.

    Distributed/local hybrid (same move as strongly_connected_components):
    once the pair set fits under ``local_edge_threshold``, a driver-side
    union-find finishes exactly — every round's pair set preserves the
    component partition over non-isolated vertices (each such vertex
    survives each round as a child or as its own star's center), so a
    local closure mid-contraction is as correct as one at the fixed
    point. At 100 TB the contraction rounds do the heavy lifting and the
    local finish only fires once the pair set is driver-scale — exactly
    when per-round shuffle barriers would dominate. Pass 0 to force the
    pure distributed path (tests assert its O(log n) round count).

    The graph's (u, v) edge pairs go to ``_pair_components``, the engine
    ``dedup_clusters`` shares; its one round record is ``cc``. Raises if
    ``max_iter`` rounds end before the fixed point.
    """
    universe = g.vertices_with_edge(labels) if incident_only else g.vertex_ids()
    return _persist(_pair_components(
        _step_edges(g, labels, "both"), universe, max_iter=max_iter,
        local_edge_threshold=local_edge_threshold))


def strongly_connected_components(
    g: PropertyGraph, labels=None, max_outer: int = 64,
    local_edge_threshold: int = 200_000,
) -> DataFrame:
    """SCC via distributed FW-BW-Trim pivot decomposition → (id, component).

    Before the first round and after every partition split, iterated Trim
    peels vertices with no in- or out-edge inside the open set as singleton
    SCCs — acyclic regions (the bulk of real graphs) settle in cheap
    semi-join passes and never pay a flood. Each remaining round: pick the
    min id of every open partition as its pivot,
    flood-fill forward and backward reachability *within the partition*;
    fwd∩bwd = the pivot's SCC (settled); the remainder splits into
    fwd-only / bwd-only / untouched sub-partitions. Converges in
    O(log n) rounds on most graphs (FW-BW-Trim family of parallel SCC
    algorithms). Reference delegates to Bifurcan's Tarjan
    (src/fermor/graph/algo.clj:24-32); a driver-side Tarjan for CFG-sized
    graphs lives in fermor_spark.algo.

    Hybrid finish: whenever the still-open subgraph has ≤
    ``local_edge_threshold`` internal edges, it is collected and finished
    with the iterative Tarjan in fermor_spark.algo — the standard
    distributed/local hybrid of the parallel-SCC literature (Hong et al.,
    PPoPP'13; Slota et al., IPDPS'14): pivot floods pay O(diameter) driver
    rounds per partition, so once Trim+splits have shrunk the cyclic core
    below driver scale, one collect beats dozens of barrier rounds. SCCs
    never span FW-BW partitions, so Tarjan on the same-part-filtered edge
    set is exact; labels stay min(SCC) (the pivot is its partition's min id,
    hence its SCC's min). Set ``local_edge_threshold=0`` to force the pure
    distributed path (used by tests to exercise the floods).

    Trim passes and flood blocks run on ``_fixpoint`` (records
    ``scc_trim``, ``scc_fwd`` and ``scc_bwd``; a flood record holds each
    block's new-vertex count and ends in 0 per round). Only the outer
    FW-BW loop stays off it: its tagged checkpoint is materialized by the
    next trim's first-pass aggregate, so a probe of its own would add a
    job per round. Its record, ``scc``, holds the open count per round.
    """
    rec, trim_rec = _record("scc"), _record("scc_trim")
    # the flood records are made here: a pool thread does not see the
    # calling thread's ContextVar
    fwd_rec, bwd_rec = _record("scc_fwd"), _record("scc_bwd")
    fwd = _loop_adjacency(g, labels, "out")
    bwd = _loop_adjacency(g, labels, "in")
    # Trim adjacency: self-loops excluded — a vertex whose only cycle is a
    # self-loop is a singleton SCC and should be peeled, not flooded.
    trim_adj = _persist(fwd.where(F.col("u") != F.col("v")))

    def trim(open_nodes: DataFrame, settled: list):
        """Iteratively peel vertices with no in- or no out-edge *within the
        open set*: each is a singleton SCC (component = own id). On acyclic
        regions — most of a real graph — this settles everything with cheap
        semi-joins, reserving pivot floods for the cyclic core (the Trim
        step of the FW-BW-Trim family). Returns (keep, n_keep) so callers
        never re-count the open set.

        ONE job per pass (r9, r18): every open vertex is tagged with a
        keep flag, and the round's aggregate returns both the total and
        the kept count — and trim runs before round 1 and after every
        split, so each saved barrier compounds with the round count.
        """
        def tag(tagged: DataFrame, _: int) -> DataFrame:
            open_nodes = tagged.where(F.col("_keep")).drop("_keep")
            ids = open_nodes.select("id")
            e_open = (
                trim_adj
                .join(ids.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(ids.withColumnRenamed("id", "v"), "v", "left_semi")
            )
            srcs = e_open.select(F.col("u").alias("id")).distinct()
            dsts = e_open.select(F.col("v").alias("id")).distinct()
            return (
                open_nodes
                .join(srcs.withColumn("_s", F.lit(1)), "id", "left")
                .join(dsts.withColumn("_d", F.lit(1)), "id", "left")
                .withColumn("_keep", F.col("_s").isNotNull() & F.col("_d").isNotNull())
                .drop("_s", "_d")
            )

        counts = (F.count(F.lit(1)), F.count(F.when(F.col("_keep"), True)))
        for tagged, (n_tot, n_keep) in _fixpoint(
                trim_rec, open_nodes.withColumn("_keep", F.lit(True)), tag,
                probe=counts):
            settled.append(tagged.where(~F.col("_keep")).select(
                "id", F.col("id").alias("component")))
            if n_keep == 0 or n_tot == n_keep:
                return tagged.where(F.col("_keep")).drop("_keep"), n_keep

    def flood(adj: DataFrame, nodes: DataFrame, rec: list,
              hops_per_round: int = 4) -> DataFrame:
        """nodes: (id, part, pivot). Returns (id, part) of vertices reachable
        from their partition's pivot, staying within the partition. Each
        block's new-vertex count goes into ``rec``.

        Two sequential per-direction floods, restored in r9: r8 tried a
        direction-tagged union flood (one loop over fwd+bwd rows) to halve
        the driver barrier count, but it MEASURED SLOWER (g_scc_distributed
        16.6 s -> 23.4 s, uniform over four driver runs) — the union doubled
        rows per frontier job, added a persisted third adjacency copy, and
        widened the anti-join key, costing more than the barriers it saved.

        What DOES cut barriers without those costs: ``hops_per_round`` BFS
        steps per materialization. The k hop joins chain lazily inside one
        job (each hop semi-joined to the partition's node set, so path
        containment is enforced per hop exactly as in the 1-hop loop); the
        driver barrier count drops from O(diameter) to O(diameter / k).
        Each hop also dedups and anti-joins the reached set LAZILY (extra
        stages inside the same job, not extra barriers), so intermediate row
        counts stay bounded by the true new-vertex counts instead of
        compounding branching^k within a block.
        """
        node_ids = nodes.select("id", "part")
        reached = nodes.where(F.col("id") == F.col("pivot")).select("id", "part")

        def block(frontier: DataFrame, _: int) -> DataFrame:
            # Each hop anti-joins the PRE-BLOCK reached set only. The r10
            # alternative — anti-joining a running (reached + prior hops)
            # union so a vertex found at hop 1 cannot re-enter hops 2-4 —
            # was tried and MEASURED 2.2x SLOWER on the forced leg
            # (g_scc_distributed solo best 4.85 s -> 10.7 s): chaining the
            # union into every hop deepens each hop's lazily-chained plan,
            # and under AQE every added exchange is its own scheduled job,
            # so the extra stages cost more driver barriers than the
            # intra-block re-entries they avoid. Re-entries are bounded:
            # the block-end distinct collapses overlap before anything
            # persists, so the compound is limited to
            # branching^(hops_per_round) WITHIN one block — k=4 keeps that
            # small by construction.
            # No per-hop distinct (r18, guide §2.4): each hop's distinct
            # was an Exchange, and under AQE every exchange materializes
            # as its own scheduled job — the jobs-per-round audit read
            # ~80 jobs per FW-BW round, dominated by ~6 exchange-jobs per
            # flood block. The block-end distinct collapses the union
            # before anything persists, so the reached SET per block is
            # unchanged. Audit after: ~2 exchange-jobs per block, SCC gate
            # 157 -> 143-146 jobs.
            hops = []
            step = frontier
            for _ in range(hops_per_round):
                step = (
                    step.join(adj, step["id"] == adj["u"], "inner")
                    .select(F.col("v").alias("id"), "part")
                    .join(node_ids, ["id", "part"], "left_semi")
                    .join(reached, ["id", "part"], "left_anti")
                )
                hops.append(step)
            return _union(hops).distinct()

        for i, (nxt, (n,)) in enumerate(_fixpoint(rec, reached, block), 1):
            if n == 0:
                return reached
            reached = reached.unionByName(nxt)
            if i % 4 == 0:
                # collapse reached's accumulating union-of-blocks lineage
                # (every hop's anti-join rescans all of it) into one RDD;
                # lazy — materialized by the next block's probe job.
                reached = reached.localCheckpoint(eager=False)

    def local_finish(open_nodes: DataFrame, settled: list) -> bool:
        """Collect the open subgraph and finish with driver Tarjan if it has
        ≤ local_edge_threshold internal same-partition edges AND vertices
        (both probed with short-circuiting limit(n+1) fetches, so a
        too-large open set never materializes on the driver)."""
        ids = open_nodes.select("id", "part")
        id_pdf = _driver_scale(ids.select("id"), local_edge_threshold)
        if id_pdf is None:
            return False
        e_open = (
            trim_adj
            .join(ids.select(F.col("id").alias("u"), F.col("part").alias("_pu")), "u")
            .join(ids.select(F.col("id").alias("v"), F.col("part").alias("_pv")), "v")
            .where(F.col("_pu") == F.col("_pv"))
            .select("u", "v")
        )
        e_pdf = _driver_scale(e_open, local_edge_threshold)
        if e_pdf is None:
            return False
        from fermor_spark import algo as _algo
        succ: dict = {v: [] for v in id_pdf["id"].tolist()}
        for u, v in zip(e_pdf["u"].tolist(), e_pdf["v"].tolist()):
            succ.setdefault(u, []).append(v)
        comps = _algo.strongly_connected_components(succ, include_singletons=True)
        # plain lexicographic min — identical to the distributed path's
        # F.min pivot label and the SQL oracles' min()
        rows = [(v, min(c)) for c in comps for v in c]
        if rows:
            settled.append(local_frame(g.spark, rows, "id string, component string"))
        return True

    settled = []
    open_nodes = g.vertex_ids().withColumn("part", F.lit("0"))
    # fast path: a driver-scale graph skips the trim barrier rounds entirely
    done = local_finish(open_nodes, settled)
    n_open = -1
    if not done:
        open_nodes, n_open = trim(open_nodes, settled)
    for _ in range(0 if done else max_outer):
        if n_open == 0:
            break
        if local_finish(open_nodes, settled):
            break
        pivots = open_nodes.groupBy("part").agg(F.min("id").alias("pivot"))
        nodes = open_nodes.join(pivots, "part")
        # the two directions' floods are independent: run them on two driver
        # threads so their per-block barrier latencies OVERLAP (what r8's
        # flood_both union tried to buy, without doubling rows per job or
        # widening the anti-join key — concurrent job submission is the
        # supported Spark idiom for independent subplans)
        with ThreadPoolExecutor(max_workers=2) as _ex:
            _ff = _ex.submit(flood, fwd, nodes, fwd_rec)
            _fb = _ex.submit(flood, bwd, nodes, bwd_rec)
            fr = _ff.result().withColumn("_f", F.lit(1))
            br = _fb.result().withColumn("_b", F.lit(1))
        tagged = (
            nodes.join(fr, ["id", "part"], "left")
            .join(br, ["id", "part"], "left")
            .select(
                "id", "part", "pivot",
                F.coalesce(F.col("_f"), F.lit(0)).alias("f"),
                F.coalesce(F.col("_b"), F.lit(0)).alias("b"),
            )
        )
        # checkpoint TAGGED once — scc and remaining are narrow filters over
        # the same frame, so materializing them separately would run the
        # pivot-join + flood-union exchanges twice per round (and under AQE
        # every exchange is its own scheduled job)
        tagged = tagged.localCheckpoint(eager=False)
        scc = tagged.where((F.col("f") == 1) & (F.col("b") == 1)).select(
            "id", F.col("pivot").alias("component")
        )
        settled.append(scc)
        remaining = tagged.where((F.col("f") == 0) | (F.col("b") == 0)).select(
            "id",
            F.concat(F.col("part"), F.lit("."), F.col("f").cast("string"),
                     F.col("b").cast("string")).alias("part"),
        )
        # splitting a partition exposes new acyclic fringes — re-trim so the
        # next round's floods only touch what is still possibly cyclic.
        # No separate remaining.count() probe (r18): trim's first-pass
        # aggregate materializes the tagged checkpoint AND returns the
        # open count in the same job — an empty remainder comes back as
        # n_open == 0 and the loop top breaks, saving one barrier per
        # round for the same answer.
        open_nodes, n_open = trim(remaining, settled)
        rec.append(n_open)
    if not settled:
        return local_frame(g.spark, [], "id string, component string")
    return _union(settled)


# ------------------------------------------------------------ shortest paths


def _improved() -> F.Column:
    """Relaxation probe: ids whose distance is new (no carried ``_od``) or
    strictly lower than the carried one."""
    return F.count(F.when(F.col("_od").isNull() | (F.col("dist") < F.col("_od")), True))


def shortest_path_weighted(
    g: PropertyGraph,
    sources: Route | DataFrame,
    labels=None,
    direction: str = "out",
    default_weight: float = 1.0,
    max_iter: int = 100,
    local_edge_threshold: int = 200_000,
) -> DataFrame:
    """Single/multi-source weighted shortest distances → (id, dist).

    Bellman-Ford-style iterative relaxation to fixpoint (min-cost aggregation
    per destination). Reference: Dijkstra via Bifurcan with user cost fn
    (src/fermor/graph/algo.clj:92-125); the relaxation formulation is the
    distributed-native equivalent.

    Distributed/local hybrid (same threshold discipline as the other
    iterative operators): under ``local_edge_threshold`` the SAME
    synchronous relaxation runs as numpy ``minimum.at`` rounds —
    bit-identical results (min over identical per-edge sum candidates,
    order-independent), O(diameter) barrier rounds saved. Pass 0 to
    force the distributed path."""
    rec = _record("bf")
    src_df = sources.df if isinstance(sources, Route) else sources
    adj = _persist(_step_edges(g, labels, direction).select(
        "u", "v", F.coalesce(F.col("w"), F.lit(default_weight)).alias("w")
    ))
    # null sources are dropped on BOTH legs (see the distributed init
    # below): here a None start would KeyError at d[ix[s]] since ids
    # excludes None; distributed, a null join key matches nothing.
    # The null drop must precede the limit probe — a null row occupying
    # one of the threshold+1 slots would let the local leg accept a
    # source set whose real (non-null) cardinality exceeds the limit,
    # silently truncating sources instead of falling through.
    src_ids = src_df.select("id").where(F.col("id").isNotNull()).distinct()
    apdf = _driver_scale(adj, local_edge_threshold)
    spdf = None if apdf is None else _driver_scale(src_ids, local_edge_threshold)
    if spdf is not None:
        import numpy as np
        import pandas as pd

        starts = spdf["id"].tolist()
        # construction drops null-endpoint edges, but raw-DataFrame
        # callers can still hand them in — a None would make sorted()
        # raise and the ix lookup KeyError
        apdf = apdf[apdf["u"].notna() & apdf["v"].notna()]
        ids = sorted((set(apdf["u"]) | set(apdf["v"]) | set(starts))
                     - {None})
        ix = {v: i for i, v in enumerate(ids)}
        su = np.fromiter((ix[u] for u in apdf["u"]), np.int64, len(apdf))
        sv = np.fromiter((ix[v] for v in apdf["v"]), np.int64, len(apdf))
        w = apdf["w"].to_numpy(dtype=np.float64)
        d = np.full(len(ids), np.inf)
        for s in starts:
            d[ix[s]] = 0.0
        for _ in range(max_iter):
            nd = d.copy()
            np.minimum.at(nd, sv, d[su] + w)
            if np.array_equal(nd, d):
                break
            d = nd
        reach = np.isfinite(d).nonzero()[0]
        out = pd.DataFrame({
            "id": pd.array([ids[i] for i in reach], dtype="string"),
            "dist": d[reach],
        })
        return g.spark.createDataFrame(out, "id string, dist double")

    # Convergence probe FUSED into the relaxation aggregate (r17 opt,
    # guide §2.4 "remove shuffles outright"): tagging the carried rows
    # lets ONE groupBy compute both the new minimum and the old distance
    # (min over the tagged subset — old has exactly one row per id), so
    # improvement is a plain filter over the aggregate's own output and
    # no probe join re-reads the previous round. Identical semantics: new
    # dist = min(old, relaxed candidates); improved ⟺ some id is new (old
    # null) or strictly better.
    def relax(dist: DataFrame, _: int) -> DataFrame:
        dist = dist.select("id", "dist")
        relaxed = (
            dist.join(adj, dist["id"] == adj["u"], "inner")
            .select(F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        cand = dist.select(
            "id", "dist", F.lit(True).alias("_old")
        ).unionByName(relaxed.select("id", "dist", F.lit(False).alias("_old")))
        return (
            cand.groupBy("id")
            .agg(F.min("dist").alias("dist"),
                 F.min(F.when(F.col("_old"), F.col("dist"))).alias("_od"))
        )

    dist = src_ids.withColumn("dist", F.lit(0.0))
    for dist, (improved,) in _fixpoint(rec, dist, relax, max_iter, probe=(_improved(),)):
        if improved == 0:
            break
    return dist.select("id", "dist")


def descend(
    g: PropertyGraph,
    start: Route,
    children: Callable[[Route], Route],
    emit_pred=None,
    descend_pred=None,
    max_depth: int = 100,
) -> DataFrame:
    """Generic control-driven recursive expansion — the distributed shape of
    the reference's `descend` engine (src/fermor/core.clj:978-1039,
    src/fermor/descend.clj).

    `children`: Route → Route producing the next frontier (any traversal
    composition). `emit_pred` / `descend_pred`: optional Column booleans
    evaluated per element. The reference's 8 control signals
    (src/fermor/core.clj:954-976) map as:

      emit-and-continue   emit_pred true,  descend_pred true   (default)
      emit                emit_pred true,  descend_pred false
      continue            emit_pred false, descend_pred true
      ignore              emit_pred false  (element not emitted)
      cut                 both false for the element — nothing below it runs
      emit-and-cut        emit_pred true,  descend_pred false for the element

    i.e. emit-and-cut IS expressible: the two predicates are evaluated
    independently on the same frontier row. What is NOT reproduced is the
    `cut` family's truncation of the remaining lazy-seq SIBLINGS and the
    chain/siblings sequencing bits — order-dependent semantics with no
    distributed meaning (documented delta, SURVEY §4.3; subtree semantics
    are exact — see tests/test_iterate_extra.py control-signal cases).
    The DFS-ordered emission becomes breadth-first levels (depths 0 to
    max_depth - 1); the NoResult starvation failsafe becomes the max_depth
    guard.
    """
    rec = _record("descend")
    route = start  # the latest Route, whose traversal state frames wrap
    levels = [start.df]

    def expand(df: DataFrame, _: int) -> DataFrame:
        nonlocal route
        frontier = route._with(df)
        to_descend = frontier._with(df.where(descend_pred)) if descend_pred is not None else frontier
        route = children(to_descend)
        return route.df

    for nxt, (n,) in _fixpoint(rec, start.df, expand, max_depth - 1):
        if n == 0:
            break
        levels.append(nxt)
    return _union([
        (lv.where(emit_pred) if emit_pred is not None else lv).withColumn("_depth", F.lit(d))
        for d, lv in enumerate(levels)
    ], allowMissingColumns=True)


def shortest_path_with_routes(
    g: PropertyGraph,
    sources: Route | DataFrame,
    labels=None,
    direction: str = "out",
    default_weight: float = 1.0,
    max_iter: int = 100,
) -> DataFrame:
    """Weighted shortest distances WITH the realized path → (id, dist, path).

    The reference's shortest-path returns the path via Dijkstra with a user
    cost fn (src/fermor/graph/algo.clj:92-125); here relaxation carries the
    path array and keeps the (dist, path)-lexicographic minimum per vertex —
    deterministic under ties. The improvement probe is fused into the
    relaxation aggregate exactly as in shortest_path_weighted.
    """
    rec = _record("sp_routes")
    src_df = sources.df if isinstance(sources, Route) else sources
    adj = _persist(_step_edges(g, labels, direction).select(
        "u", "v", F.coalesce(F.col("w"), F.lit(default_weight)).alias("w")
    ))

    def relax(dist: DataFrame, _: int) -> DataFrame:
        dist = dist.select("id", "dist", "path")
        relaxed = dist.join(adj, dist["id"] == adj["u"], "inner").select(
            F.col("v").alias("id"),
            (F.col("dist") + F.col("w")).alias("dist"),
            F.concat(F.col("path"), F.array(F.col("v"))).alias("path"),
        )
        return (
            dist.withColumn("_old", F.lit(True))
            .unionByName(relaxed.withColumn("_old", F.lit(False)))
            .groupBy("id")
            .agg(F.min(F.struct("dist", "path")).alias("best"),
                 F.min(F.when(F.col("_old"), F.col("dist"))).alias("_od"))
            .select("id", F.col("best.dist").alias("dist"),
                    F.col("best.path").alias("path"), "_od")
        )

    dist = src_df.select("id").distinct().select(
        "id", F.lit(0.0).alias("dist"), F.array(F.col("id")).alias("path")
    )
    for dist, (improved,) in _fixpoint(rec, dist, relax, max_iter, probe=(_improved(),)):
        if improved == 0:
            break
    return dist.select("id", "dist", "path")


def breadth_first_nodes(g: PropertyGraph, start, labels=None, direction: str = "out") -> DataFrame:
    """BFS order as (id, depth) — the canonical frontier loop
    (reference: breadth-first-nodes, src/fermor/graph/algo.clj:433-452)."""
    start_df = start.df if isinstance(start, Route) else start
    return all_reachable(g, start_df, labels, direction, include_start=True)


# ------------------------------------------------------------- betweenness


def betweenness_counts(g: PropertyGraph, labels=None,
                       max_vertices: int = 2000) -> DataFrame:
    """The reference's betweenness recipe (gremlin_examples_test.clj:163-179):
    all cycle-cut paths from every vertex via `both`, keep the shortest
    path-group per (first,last) pair, count vertex occurrences → (id, count).

    All cycle-cut paths from EVERY vertex is exponential in graph size — the
    recipe is meant for fixture-scale graphs, so it carries the same size
    guard as the driver-side algo family (fermor_spark.algo).
    """
    from fermor_spark.algo import SizeGuardError

    n = g.vertex_ids().limit(max_vertices + 1).count()
    if n > max_vertices:
        raise SizeGuardError(
            f"betweenness_counts enumerates all paths from every vertex; "
            f"vertex count exceeds guard ({max_vertices}). Pass a larger "
            f"max_vertices only if the graph is known to be path-sparse."
        )
    paths = all_paths(g, g.vertices(), labels=labels, direction="both", include_start=True)
    keyed = paths.select(
        F.col("path"),
        F.element_at("path", 1).alias("s"),
        F.element_at("path", -1).alias("t"),
        F.size("path").alias("len"),
    )
    minlen = keyed.groupBy("s", "t").agg(F.min("len").alias("len"))
    shortest = keyed.join(minlen, ["s", "t", "len"], "left_semi")
    return (
        shortest.select(F.explode("path").alias("vid"))
        .select(F.expr("substring(vid, 3)").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("count"))
    )


def triangle_count(g: PropertyGraph, labels=None) -> DataFrame:
    """Per-vertex triangle counts → (id, triangles), undirected semantics.

    Join-based: canonical (u<v) edge set self-joined twice — the distributed
    shape of the reference's `shapes` counter (src/fermor/force_atlas/graph.clj:15-42).
    At scale the standard degree-ordering trick applies (orient edges from
    low- to high-degree endpoint) to bound the wedge join.
    """
    e = g.undirected_view(labels).select("src", "dst").where(F.col("src") != F.col("dst"))
    # managed_cache, not a raw .cache(): the raw cache never entered the
    # managed registry, so it leaked past release_caches() and lived
    # until JVM GC (the r5 eviction-contamination class). Within-query
    # warmth is identical — release happens at the bench query boundary
    # — and the three join legs reuse the cache either way. Lazy, not
    # eager _persist: the checkpoint pass measured slower at gate SF.
    from fermor_spark.session import managed_cache

    canon = managed_cache(e.select(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).distinct())
    ab = canon.select(F.col("u").alias("a"), F.col("v").alias("b"))
    bc = canon.select(F.col("u").alias("b"), F.col("v").alias("c"))
    ac = canon.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])  # a<b<c triangles, each once
    counts = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        g.vertex_ids().join(counts, "id", "left")
        .select("id", F.coalesce("triangles", F.lit(0)).alias("triangles"))
    )


def iterate_route(route: Route, f: Callable[[Route], Route], n: int) -> Route:
    """Apply a traversal fn n times (reference: iter, src/fermor/core.clj:1245-1249)."""
    for _ in range(n):
        route = f(route)
    return route



# -------------------------------------------- whole-graph vertex rankings
#
# Beyond the reference's surface: ranking/community/core algorithms a
# 100 TB-scale graph user expects alongside CC/SCC. Same loop discipline
# as the rest of this module (adjacency checkpointed once, rounds on
# _fixpoint).


def pagerank(
    g: PropertyGraph,
    labels=None,
    direction: str = "out",
    iters: int = 10,
    damping: float = 0.85,
    dangling: str = "redistribute",
    local_edge_threshold: int = 200_000,
) -> DataFrame:
    """Fixed-iteration PageRank → (id, rank).

    Synchronous power iteration: rank_{t+1}(v) = (1-d)/N + d * (Σ_{u→v}
    rank_t(u)/outdeg(u) + dangling_mass/N). `dangling='redistribute'`
    spreads the rank of out-degree-0 vertices uniformly (the standard
    stochastic-matrix fix); `'none'` lets that mass leak (sum < 1, still a
    well-defined ranking — and exactly unrollable in a SQL oracle).

    Shuffle profile per iteration: one rank⋈adjacency shuffle join keyed on
    u + one groupBy(v) partial-aggregated sum — the minimal Pregel-step
    cost. The dangling term is one tiny scalar aggregate per iteration
    (same cost class as the convergence probes elsewhere in this module).
    Fixed `iters` (no convergence test) keeps the job count predictable;
    PageRank residuals decay geometrically by `damping`, so iters≈10 gives
    ~d^10 ≈ 0.2 residual and iters≈50 machine-precision stationarity.
    """
    if dangling not in ("redistribute", "none"):
        raise ValueError(f"dangling must be 'redistribute'|'none', not {dangling!r}")
    rec = _record("pagerank")
    adj = _loop_adjacency(g, labels, direction)
    # null ids are excluded from the universe BEFORE counting: the local
    # finish drops them from `ids` (sorted()/ix can't hold None), so an
    # unfiltered count would leave `rank` one longer than `ids` and skew
    # 1/n by a phantom vertex; the distributed path likewise gains nothing
    # from a null-id row (null join keys never match).
    universe = _persist(
        g.vertices_with_edge(labels).where(F.col("id").isNotNull()))
    n = universe.count()
    if n == 0:
        return universe.withColumn("rank", F.lit(0.0))
    apdf = _driver_scale(adj, local_edge_threshold)
    if apdf is not None:
        # driver-scale finish (same threshold discipline as CC/SCC/k-core/
        # BFS): fixed-iteration power iteration costs `iters` barrier
        # rounds distributed — on a driver-scale edge set the same float64
        # recurrence runs in numpy. Summation order differs from the
        # distributed groupBy (itself partition-order-dependent); both
        # land on identical values after the caller's rounding.
        import numpy as np
        import pandas as pd

        # defensive mirror of the construction-time null-endpoint rule
        # (raw-DataFrame callers): None ids break sorted()/ix lookups
        apdf = apdf[apdf["u"].notna() & apdf["v"].notna()]
        ids = sorted(set(universe.select("id").toPandas()["id"].tolist()) - {None})
        ix = {v: i for i, v in enumerate(ids)}
        src = np.fromiter((ix[u] for u in apdf["u"]), dtype=np.int64,
                          count=len(apdf))
        dst = np.fromiter((ix[v] for v in apdf["v"]), dtype=np.int64,
                          count=len(apdf))
        deg_l = np.bincount(src, minlength=n).astype(np.float64)
        rank = np.full(n, 1.0 / n)
        base = (1.0 - damping) / n
        nonzero = deg_l > 0
        for _ in range(iters):
            share = np.zeros(n)
            share[nonzero] = rank[nonzero] / deg_l[nonzero]
            c = np.bincount(dst, weights=share[src], minlength=n)
            dm = rank[~nonzero].sum() if dangling == "redistribute" else 0.0
            rank = base + damping * (c + dm / n)
        out = pd.DataFrame({"id": pd.array(ids, dtype="string"),
                            "rank": rank})
        return g.spark.createDataFrame(out, "id string, rank double")
    deg = _persist(adj.groupBy("u").agg(F.count("*").alias("deg")))
    base = (1.0 - damping) / n

    def power_step(ranks: DataFrame, _: int) -> DataFrame:
        contrib_src = ranks.join(deg, ranks["id"] == deg["u"], "inner").select(
            F.col("u"), (F.col("rank") / F.col("deg")).alias("share")
        )
        contrib = (
            adj.join(contrib_src, "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum("share").alias("c"))
        )
        if dangling == "redistribute":
            # 1-row aggregate crossJoined into the update: the dangling mass
            # is computed inside the same job as the iteration checkpoint
            # instead of costing its own driver action per iteration
            dm_df = (
                ranks.join(deg, ranks["id"] == deg["u"], "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
            )
        else:
            dm_df = ranks.sparkSession.range(1).select(F.lit(0.0).alias("_dm"))
        return (
            ranks.select("id").join(contrib, "id", "left")
            .crossJoin(F.broadcast(dm_df))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (F.coalesce(F.col("c"), F.lit(0.0)) + F.col("_dm") / F.lit(float(n)))
                ).alias("rank"),
            )
        )

    ranks = universe.withColumn("rank", F.lit(1.0 / n))
    for ranks, _ in _fixpoint(rec, ranks, power_step, iters):
        pass
    return ranks


def label_propagation(
    g: PropertyGraph, labels=None, iters: int = 5
) -> DataFrame:
    """Deterministic synchronous label-propagation communities → (id, community).

    Each vertex starts in its own community; every iteration it adopts the
    most frequent label among its (undirected) neighbors, ties broken by
    the lexicographically smallest label, keeping its own when isolated.
    The classic async/random LPA is nondeterministic; the (freq desc,
    label asc) tie-break makes this variant reproducible across runs and
    partitionings — the property every oracle check here relies on. Fixed
    `iters` sidesteps sync-LPA's well-known 2-cycle oscillation on
    bipartite structures (no convergence probe can terminate those).

    Per iteration: one frontier⋈adjacency join + one groupBy(v, label)
    count + one per-vertex window top-1 — all shuffles on vertex id.
    """
    rec = _record("lpa")
    adj = _loop_adjacency(g, labels, "both")
    comm = _persist(g.vertices_with_edge(labels).withColumn("community", F.col("id")))

    def adopt(comm: DataFrame, _: int) -> DataFrame:
        freq = (
            comm.join(adj, comm["id"] == adj["u"], "inner")
            .groupBy(F.col("v").alias("id"), F.col("community"))
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("community"))
        best = (
            freq.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select("id", F.col("community").alias("best"))
        )
        return (
            comm.select("id", F.col("community").alias("old"))
            .join(best, "id", "left")
            .select("id", F.coalesce("best", "old").alias("community"))
        )

    for comm, _ in _fixpoint(rec, comm, adopt, iters):
        pass
    return comm


def k_core(g: PropertyGraph, k: int, labels=None, max_iters: int = 500,
           local_edge_threshold: int = 200_000) -> DataFrame:
    """Vertices of the k-core (maximal subgraph of min undirected degree ≥ k)
    → (id, deg) with deg = the vertex's degree within the core.

    Distributed/local hybrid (same move as connected_components / SCC):
    when the whole edge set fits under ``local_edge_threshold``, peeling
    runs as a driver-side queue algorithm (O(E), zero shuffle rounds) —
    exact k-core is peel-depth-many barrier rounds distributed, so a
    driver-scale graph pays pure round overhead otherwise. Pass 0 to
    force the distributed path (tests assert its frontier math).

    Incremental peeling: degrees are computed ONCE, then each round removes
    the sub-k frontier and subtracts its edge contributions from surviving
    neighbors (frontier broadcast against the persisted adjacency — a
    map-side semi-join, so per-round work is proportional to the removed
    frontier's edges, not to |E|). Rounds remain O(peel-depth) — inherent
    to exact k-core — so the lever on deep-cascade graphs is per-round
    OVERHEAD: one job per round (the frontier is a trivial filter over the
    checkpointed degree table, recomputed lazily in both plan legs instead
    of checkpointed itself). The round's job also returns the convergence
    probe: the survivor count and the size of the NEXT frontier (survivors
    with deg < k). The loop stops when that frontier is empty, so the
    round that reaches the fixed point is the last one; an unchanged
    survivor count (the first round removed nothing) also stops it. A
    lazily-persisted multi-level batch was tried and REJECTED: AQE
    compiles the deep chained plan into far more shuffle stages than the
    flat loop (see PLANS.md). Parallel edges count once per edge,
    self-loops are excluded (standard core-number convention).
    """
    rec = _record("kcore")
    e = _persist(
        _step_edges(g, labels, "both")
        .where(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()  # 'both' emits each undirected edge once per direction
    )
    epdf = _driver_scale(e, local_edge_threshold)
    if epdf is not None:
        # driver-scale finish: Matula-Beck-style queue peel over the
        # (bounded) directed pair set — each undirected edge is present
        # in both orientations, so deg(u) = #outgoing rows
        from collections import defaultdict, deque

        nbrs: dict = defaultdict(list)
        for u, v in zip(epdf["u"].tolist(), epdf["v"].tolist()):
            nbrs[u].append(v)
        deg_l = {u: len(vs) for u, vs in nbrs.items()}
        q = deque(u for u, d in deg_l.items() if d < k)
        removed = set()
        while q:
            u = q.popleft()
            if u in removed:
                continue
            removed.add(u)
            for v in nbrs[u]:
                if v not in removed:
                    deg_l[v] -= 1
                    if deg_l[v] < k:
                        q.append(v)
        rows = [(u, deg_l[u]) for u in nbrs if u not in removed]
        return local_frame(g.spark, rows, "id string, deg long")

    deg = (e.groupBy("u").agg(F.count("*").alias("deg"))
           .withColumnRenamed("u", "id").localCheckpoint(eager=False))
    n = deg.count()

    def peel(deg: DataFrame, _: int) -> DataFrame:
        fr = deg.where(F.col("deg") < k).select("id")
        # edges lost by survivors: one per (frontier u → v) edge; rows whose
        # v was removed (this round or earlier) drop out in the anti-join.
        # Neither join is hinted: the planner sizes the frontier.
        delta = (
            e.join(fr.withColumnRenamed("id", "u"), "u", "left_semi")
            .groupBy(F.col("v").alias("id")).agg(F.count("*").alias("_d"))
        )
        return (
            deg.join(fr, "id", "left_anti")
            .join(delta, "id", "left")
            .select("id", (F.col("deg") - F.coalesce(F.col("_d"), F.lit(0))).alias("deg"))
        )

    probe = (F.count(F.lit(1)), F.count(F.when(F.col("deg") < k, 1)))
    for deg, (m, nxt) in _fixpoint(rec, deg, peel, max_iters, probe=probe):
        if m == n or nxt == 0:  # nothing removed, or nothing left to peel
            break
        n = m
    return deg.select("id", "deg")
