"""Iterative frontier engine — the Spark shape of the reference's recursive
traversal (`descend`/`all` family, reference: src/fermor/core.clj:978-1249,
src/fermor/descend.clj) and of the component-style algorithms.

The reference's stack-safe CPS trampoline collapses, on Spark, into a
driver-side loop over frontier DataFrames:

    while frontier nonempty:
        next = step(frontier)   # one join
        emit / cut per control
        checkpoint every k iterations

Key semantic deltas (documented; the reference's own tests multiset-compare):
- emission is breadth-first/unordered, not DFS-ordered;
- the no-result failsafe becomes a max-iteration guard + empty-frontier stop.

Cycle handling follows the reference's split (reference: `all` vs
`all-with-cycles`, src/fermor/core.clj:1095-1122): per-path cutting
(correct for path semantics — carries a path array + array_contains filter)
vs global-visited (fast, valid for reachability).

Scale notes:
- EVERY iteration `localCheckpoint(eager=True)`s its frontier/state and
  unpersists the superseded frame. Cache-chained iterations look cheaper but
  Catalyst re-analyzes the ever-deeper plan each round (superlinear driver
  time: measured 15-40x slowdown by iteration ~6 at sf0.1) and leaked caches
  degrade the whole session. Flat lineage keeps analysis O(1) per round;
  unpersisting a superseded checkpoint is safe because its successor is
  already materialized.
- each hop is one shuffle join; frontiers are usually small → AQE broadcasts.
- per-path expansion is exponential on dense graphs by nature; prefer the
  global-visited reachability entry points where paths aren't needed.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fermor_spark.graph import PropertyGraph
from fermor_spark.hints import bounded_broadcast
from fermor_spark.route import Route
from fermor_spark.session import local_frame

def _persist(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint: materialize + truncate lineage (see module
    docstring — per-iteration, not periodic)."""
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


def _loop_adjacency(g: PropertyGraph, labels, direction: str,
                    cols=("u", "v")) -> DataFrame:
    """Adjacency frame materialized ONCE for an iterative loop.

    Every loop iteration joins the frontier against the adjacency; leaving
    it as a lazy derivation re-runs the label filter + direction union per
    round, and at cluster scale an unpersisted big side re-shuffles every
    round. Checkpointing it keyed-side once means each iteration pays only
    the (small) frontier's work. Callers MUST unpersist it when the loop
    ends."""
    return _persist(_step_edges(g, labels, direction).select(*cols))


# --------------------------------------------------------------- reachability

# distributed BFS level rounds of the most recent all_reachable call —
# last-call-wins telemetry; 0 = the driver-local BFS finish ran instead
LAST_BFS_ROUNDS = 0


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
    Pass 0 to force the distributed path (tests cover both)."""
    global LAST_BFS_ROUNDS
    LAST_BFS_ROUNDS = 0
    start_df = start.df if isinstance(start, Route) else start
    adj = _loop_adjacency(g, labels, direction)
    if local_edge_threshold and adj.count() <= local_edge_threshold:
        starts = [r["id"] for r in start_df.select("id").distinct()
                  .limit(local_edge_threshold + 1).collect()]
        if len(starts) <= local_edge_threshold:
            # Arrow both ways: a row-at-a-time collect/createDataFrame
            # round trip costs more than the saved shuffle rounds at
            # ~200k rows (measured) — toPandas/pandas in, pandas out
            from collections import defaultdict

            import numpy as np
            import pandas as pd

            apdf = adj.toPandas()
            nb = defaultdict(list)
            for u, v in zip(apdf["u"].to_numpy(), apdf["v"].to_numpy()):
                nb[u].append(v)
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
            adj.unpersist()
            ids = [k for k, dd in depth_map.items() if include_start or dd > 0]
            out = pd.DataFrame({
                "id": pd.array(ids, dtype="string"),
                "depth": np.fromiter(
                    (depth_map[k] for k in ids), dtype=np.int32, count=len(ids)),
            })
            return g.spark.createDataFrame(out, "id string, depth int")
    frontier = start_df.select("id").distinct().withColumn("depth", F.lit(0))
    seen = frontier
    results = [frontier] if include_start else []
    depth = 0
    while True:
        if max_depth is not None and depth >= max_depth:
            break
        nxt = (
            frontier.join(adj, frontier["id"] == adj["u"], "inner")
            .select(F.col("v").alias("id"))
            .distinct()
            .join(seen.select("id"), "id", "left_anti")
            .withColumn("depth", F.lit(depth + 1))
        )
        nxt = _persist(nxt)
        if nxt.limit(1).count() == 0:
            break
        results.append(nxt)
        seen = seen.unionByName(nxt)  # union of checkpointed levels
        frontier = nxt
        depth += 1
        LAST_BFS_ROUNDS = depth
    adj.unpersist()
    if not results:
        return start_df.select("id").withColumn("depth", F.lit(0)).limit(0)
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


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
    """
    start_df = start.df if isinstance(start, Route) else start
    adj = _loop_adjacency(g, labels, direction)
    frontier = start_df.select("id").distinct().withColumn(
        "path", F.array(F.concat(F.lit("v:"), F.col("id")))
    )
    results = []
    emitted_frontiers = []
    if to_pred is not None:
        matched = frontier.where(to_pred(F.col("id")))
        results.append(matched)
        frontier = frontier.where(~to_pred(F.col("id")))
    if include_start and to_pred is None and not leaves_only:
        emitted_frontiers.append(frontier)
    depth = 0
    while True:
        if max_depth is not None and depth >= max_depth:
            if leaves_only:
                results.append(frontier)
            break
        joined = frontier.join(adj, frontier["id"] == adj["u"], "inner")
        newpath = F.concat(F.col("path"), F.array(F.concat(F.lit("v:"), F.col("v"))))
        nxt = (
            joined.where(~F.array_contains(F.col("path"), F.concat(F.lit("v:"), F.col("v"))))
            .select(F.col("v").alias("id"), newpath.alias("path"))
        )
        nxt = _persist(nxt)
        if leaves_only:
            # rows in frontier with no surviving child are leaves
            has_child = nxt.select(F.col("path").alias("_p")).withColumn(
                "_parent", F.slice(F.col("_p"), 1, F.size(F.col("_p")) - 1)
            ).select("_parent").distinct()
            leaves = frontier.join(
                has_child, frontier["path"] == has_child["_parent"], "left_anti"
            )
            results.append(leaves)
        if nxt.limit(1).count() == 0:
            break
        if to_pred is not None:
            matched = nxt.where(to_pred(F.col("id")))
            results.append(matched)
            nxt = _persist(nxt.where(~to_pred(F.col("id"))))
            if nxt.limit(1).count() == 0:
                break
        if not leaves_only and to_pred is None:
            emitted_frontiers.append(nxt)
        frontier = nxt
        depth += 1
    adj.unpersist()
    all_parts = results + emitted_frontiers
    if not all_parts:
        return frontier.limit(0)
    out = all_parts[0]
    for r in all_parts[1:]:
        out = out.unionByName(r)
    return out


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
    start_df = start.df if isinstance(start, Route) else start
    adj = _loop_adjacency(g, labels, direction)
    frontier = start_df.select("id").distinct().withColumn(
        "path", F.array(F.concat(F.lit("v:"), F.col("id")))
    )
    levels = [frontier] if include_start else []
    for depth in range(max_depth):
        frontier = (
            frontier.join(adj, frontier["id"] == adj["u"], "inner")
            .select(
                F.col("v").alias("id"),
                F.concat(F.col("path"), F.array(F.concat(F.lit("v:"), F.col("v")))).alias("path"),
            )
        )
        frontier = _persist(frontier)
        if frontier.limit(1).count() == 0:
            break
        levels.append(frontier)
    adj.unpersist()
    out = levels[0]
    for l in levels[1:]:
        out = out.unionByName(l)
    return out


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
    e = g._edges_df(labels)
    adj = _persist(
        e.select(F.col("src").alias("u"), F.col("dst").alias("v"), F.col("label").alias("l"))
    )
    start_df = (start.df if isinstance(start, Route) else start) if start is not None else g.vertex_ids()
    frontier = start_df.select("id").distinct().withColumn(
        "path", F.array(F.concat(F.lit("v:"), F.col("id")))
    ).withColumn("origin", F.col("id"))
    cycles = []
    for depth in range(max_len):
        joined = frontier.join(adj, frontier["id"] == adj["u"], "inner")
        step_path = (
            F.concat(
                F.col("path"),
                F.array(F.concat(F.lit("e:"), F.col("l"), F.lit(":"), F.col("u"), F.lit(":"), F.col("v"))),
                F.array(F.concat(F.lit("v:"), F.col("v"))),
            )
            if with_edges
            else F.concat(F.col("path"), F.array(F.concat(F.lit("v:"), F.col("v"))))
        )
        # cut on the PRE-append path: a revisit of a non-origin vertex kills
        # the path; a revisit of the origin closes a cycle
        expanded = joined.select(
            F.col("v").alias("id"), step_path.alias("path"), F.col("origin"),
            F.array_contains(F.col("path"), F.concat(F.lit("v:"), F.col("v"))).alias("_seen"),
        )
        closed = expanded.where(F.col("id") == F.col("origin")).select("id", "path", "origin")
        cycles.append(closed)
        frontier = expanded.where(
            (F.col("id") != F.col("origin")) & ~F.col("_seen")
        ).select("id", "path", "origin")
        cycles[-1] = _persist(cycles[-1])
        frontier = _persist(frontier)
        if frontier.limit(1).count() == 0:
            break
    adj.unpersist()
    out = cycles[0]
    for c in cycles[1:]:
        out = out.unionByName(c)
    return out.select("path")


# ------------------------------------------------------------- components


# round count of the most recent connected_components call — lets tests
# assert the O(log n) bound on planted high-diameter fixtures. Diagnostics
# only, last-call-wins: NOT meaningful if multiple driver threads run
# connected_components concurrently (never read on any result path).
LAST_CC_ROUNDS = 0


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
    round is two groupBy+join passes over the (shrinking) edge set — no
    driver-side state beyond a 1-row convergence probe.

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
    """
    global LAST_CC_ROUNDS
    adj = _loop_adjacency(g, labels, "both")
    universe = g.vertices_with_edge(labels) if incident_only else g.vertex_ids()

    # Both stars need min(v) per u attached back to every (u, v) row. A
    # groupBy + self-join pays the grouping exchange AND a join pass per
    # star (2 stars x rounds); a min() window over partitionBy(u) attaches
    # the same constant-per-group value in ONE exchange + sort (§2.4 —
    # "window partitioned by the same key as a preceding aggregation does
    # not need a second shuffle"; here the aggregation IS the window).
    _wu = Window.partitionBy("u")

    def large_star(e: DataFrame) -> DataFrame:
        # symmetric view so Γ(u) sees both orientations
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return (
            sym.withColumn("m", F.least(F.min("v").over(_wu), F.col("u")))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input is parent-pointer-shaped: (u, v) with v < u after large-star.
        # Emitting (u, m) once per EDGE rather than once per group (the old
        # union of the 1-row-per-u aggregate) is set-identical because the
        # final distinct collapses the duplicates.
        withm = e.withColumn("m", F.min("v").over(_wu))
        return (
            withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(withm.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    edges = _persist(
        adj.where(F.col("u") != F.col("v")).select("u", "v").distinct())
    n_edges = edges.count()
    i = 0
    parents = None
    while True:
        if local_edge_threshold and n_edges <= local_edge_threshold:
            # driver-scale finish: exact union-find over the (bounded)
            # pair set; union toward the smaller id so each root IS the
            # component minimum. Spark string comparison is UTF-8 byte
            # order = Python code-point order, so min labels agree.
            par: dict = {}

            def find(x):
                r = x
                while par.get(r, r) != r:
                    r = par[r]
                while par.get(x, x) != r:
                    par[x], x = r, par[x]
                return r

            epdf = edges.toPandas()   # Arrow-fast for up-to-threshold rows
            for a, b in zip(epdf["u"].to_numpy(), epdf["v"].to_numpy()):
                a, b = find(a), find(b)
                if a != b:
                    if b < a:
                        a, b = b, a
                    par[b] = a
            if par:
                import pandas as pd

                keys = list(par)
                out = pd.DataFrame({
                    "id": pd.array(keys, dtype="string"),
                    "comp": pd.array([find(k) for k in keys], dtype="string"),
                })
                parents = g.spark.createDataFrame(out, "id string, comp string")
            break
        new = _persist(small_star(large_star(edges)))
        i += 1
        # symmetric fixed-point test: both sides are distinct sets, so
        # new ⊆ old together with |new| == |old| means new == old. A
        # subset-only probe would accept a still-shrinking edge set.
        n_new = new.count()
        converged = (
            n_new == n_edges and new.exceptAll(edges).limit(1).count() == 0
        )
        edges.unpersist()
        edges, n_edges = new, n_new
        if converged or i >= max_iter:
            break
    LAST_CC_ROUNDS = i
    # fixed point is a star forest (child → component-min center); vertices
    # never seen as a child are their own component (centers + isolated)
    if parents is None:
        parents = edges.groupBy("u").agg(F.min("v").alias("comp")).withColumnRenamed("u", "id")
    comp = (
        universe.join(parents, "id", "left")
        .select("id", F.coalesce(F.col("comp"), F.col("id")).alias("comp"))
    )
    comp = _persist(comp)
    edges.unpersist()
    adj.unpersist()
    return comp


# distributed FW-BW outer rounds of the most recent SCC call — last-call-wins
# telemetry (same contract as LAST_CC_ROUNDS); 0 = the local finish fired
# before any flood round
LAST_SCC_ROUNDS = 0


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
    """
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

        ONE materialization per pass (r9): tag every open vertex with a
        keep flag, checkpoint lazily, and let the first count() materialize
        it — the previous shape paid three driver barriers per pass (e_open
        persist + keep checkpoint + peeled checkpoint) for the same result,
        and trim runs once per FW-BW round, so its barrier count compounds.
        """
        while True:
            ids = open_nodes.select("id")
            e_open = (
                trim_adj
                .join(ids.withColumnRenamed("id", "u"), "u", "left_semi")
                .join(ids.withColumnRenamed("id", "v"), "v", "left_semi")
            )
            srcs = e_open.select(F.col("u").alias("id")).distinct()
            dsts = e_open.select(F.col("v").alias("id")).distinct()
            tagged = (
                open_nodes
                .join(srcs.withColumn("_s", F.lit(1)), "id", "left")
                .join(dsts.withColumn("_d", F.lit(1)), "id", "left")
                .withColumn("_keep", F.col("_s").isNotNull() & F.col("_d").isNotNull())
                .drop("_s", "_d")
            )
            tagged = tagged.localCheckpoint(eager=False)
            keep = tagged.where(F.col("_keep")).drop("_keep")
            peeled = tagged.where(~F.col("_keep")).select(
                "id", F.col("id").alias("component")
            )
            settled.append(peeled)
            # both counts in ONE aggregate job (r18, guide §2.4): the
            # former count()+count() pair paid two driver barriers per
            # pass for numbers one scan of the checkpoint can produce —
            # and trim runs before round 1 and after every split, so the
            # saved barrier compounds with the round count
            cnts = tagged.agg(
                F.count(F.lit(1)).alias("_t"),
                F.count(F.when(F.col("_keep"), True)).alias("_k"),
            ).first()  # materializes the checkpoint
            n_tot, n_keep = cnts["_t"], cnts["_k"]
            if n_keep == 0 or n_tot == n_keep:
                return keep, n_keep
            open_nodes = keep

    def flood(adj: DataFrame, nodes: DataFrame, hops_per_round: int = 4) -> DataFrame:
        """nodes: (id, part, pivot). Returns (id, part) of vertices reachable
        from their partition's pivot, staying within the partition.

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
        frontier = reached
        block = 0
        while True:
            hops = []
            step = frontier
            # Each hop anti-joins the PRE-BLOCK reached set only. The r10
            # alternative — anti-joining a running (reached + prior hops)
            # union so a vertex found at hop 1 cannot re-enter hops 2-4 —
            # was tried and MEASURED 2.2x SLOWER on the forced leg
            # (g_scc_distributed solo best 4.85 s -> 10.7 s): chaining the
            # union into every hop deepens each hop's lazily-chained plan,
            # and under AQE every added exchange is its own scheduled job,
            # so the extra stages cost more driver barriers than the
            # intra-block re-entries they avoid. Re-entries are bounded:
            # each hop still dedups (distinct) and the block-end distinct
            # collapses overlap before anything persists, so the compound
            # is limited to branching^(hops_per_round) WITHIN one block —
            # k=4 keeps that small by construction.
            # No per-hop distinct (r18, guide §2.4): each hop's distinct
            # was an Exchange, and under AQE every exchange materializes
            # as its own scheduled job — the jobs-per-round audit read
            # ~80 jobs per FW-BW round, dominated by ~6 exchange-jobs per
            # flood block. The block-end distinct below collapses the
            # union before anything persists, so the reached SET per
            # block is unchanged; intra-block duplication is bounded by
            # branching^(hops_per_round) exactly like the re-entries the
            # r10 note already accepts (k=4 keeps it small). Audit after:
            # ~2 exchange-jobs per block, SCC gate 157 -> 143-146 jobs.
            for _ in range(hops_per_round):
                step = (
                    step.join(adj, step["id"] == adj["u"], "inner")
                    .select(F.col("v").alias("id"), "part")
                    .join(node_ids, ["id", "part"], "left_semi")
                    .join(reached, ["id", "part"], "left_anti")
                )
                hops.append(step)
            nxt = hops[0]
            for h in hops[1:]:
                nxt = nxt.unionByName(h)
            nxt = nxt.distinct()
            # lazy checkpoint + count = ONE job per block (eager checkpoint
            # then count paid two driver round trips for the same answer)
            nxt = nxt.localCheckpoint(eager=False)
            if nxt.count() == 0:
                return reached
            reached = reached.unionByName(nxt)
            block += 1
            if block % 4 == 0:
                # collapse reached's accumulating union-of-blocks lineage
                # (every hop's anti-join rescans all of it) into one RDD;
                # lazy — materialized by the next block's count job.
                reached = reached.localCheckpoint(eager=False)
            frontier = nxt

    def local_finish(open_nodes: DataFrame, settled: list) -> bool:
        """Collect the open subgraph and finish with driver Tarjan if it has
        ≤ local_edge_threshold internal same-partition edges AND vertices
        (both probed with short-circuiting limit(n+1) collects, so a
        too-large open set never materializes on the driver)."""
        if local_edge_threshold <= 0:
            return False
        ids = open_nodes.select("id", "part")
        id_sample = ids.select("id").limit(local_edge_threshold + 1).collect()
        if len(id_sample) > local_edge_threshold:
            return False
        e_open = (
            trim_adj
            .join(ids.select(F.col("id").alias("u"), F.col("part").alias("_pu")), "u")
            .join(ids.select(F.col("id").alias("v"), F.col("part").alias("_pv")), "v")
            .where(F.col("_pu") == F.col("_pv"))
            .select("u", "v")
        )
        sample = e_open.limit(local_edge_threshold + 1).collect()
        if len(sample) > local_edge_threshold:
            return False
        from fermor_spark import algo as _algo
        succ: dict = {r["id"]: [] for r in id_sample}
        for r in sample:
            succ.setdefault(r["u"], []).append(r["v"])
        comps = _algo.strongly_connected_components(succ, include_singletons=True)
        # plain lexicographic min — identical to the distributed path's
        # F.min pivot label and the SQL oracles' min()
        rows = [(v, min(c)) for c in comps for v in c]
        if rows:
            settled.append(local_frame(g.spark, rows, "id string, component string"))
        return True

    global LAST_SCC_ROUNDS
    LAST_SCC_ROUNDS = 0
    settled = []
    open_nodes = g.vertex_ids().withColumn("part", F.lit("0"))
    # fast path: a driver-scale graph skips the trim barrier rounds entirely
    done = local_finish(open_nodes, settled)
    n_open = -1
    if not done:
        open_nodes, n_open = trim(open_nodes, settled)
    for rnd in range(0 if done else max_outer):
        if n_open == 0:
            break
        if local_finish(open_nodes, settled):
            break
        LAST_SCC_ROUNDS = rnd + 1
        pivots = open_nodes.groupBy("part").agg(F.min("id").alias("pivot"))
        nodes = open_nodes.join(pivots, "part")
        # the two directions' floods are independent: run them on two driver
        # threads so their per-block barrier latencies OVERLAP (what r8's
        # flood_both union tried to buy, without doubling rows per job or
        # widening the anti-join key — concurrent job submission is the
        # supported Spark idiom for independent subplans)
        with ThreadPoolExecutor(max_workers=2) as _ex:
            _ff = _ex.submit(flood, fwd, nodes)
            _fb = _ex.submit(flood, bwd, nodes)
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
    fwd.unpersist()
    bwd.unpersist()
    trim_adj.unpersist()
    if not settled:
        return local_frame(g.spark, [], "id string, component string")
    out = settled[0]
    for s in settled[1:]:
        out = out.unionByName(s)
    return out


# ------------------------------------------------------------ shortest paths


# distributed Bellman-Ford relaxation rounds of the most recent
# shortest_path_weighted call — last-call-wins telemetry; 0 = the numpy
# local finish ran instead
LAST_BF_ROUNDS = 0


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
    global LAST_BF_ROUNDS
    LAST_BF_ROUNDS = 0
    src_df = sources.df if isinstance(sources, Route) else sources
    adj = _persist(_step_edges(g, labels, direction).select(
        "u", "v", F.coalesce(F.col("w"), F.lit(default_weight)).alias("w")
    ))
    if local_edge_threshold and adj.count() <= local_edge_threshold:
        # null sources are dropped on BOTH legs (see the distributed init
        # below): here a None start would KeyError at d[ix[s]] since ids
        # excludes None; distributed, a null join key matches nothing.
        # The null drop must precede the limit probe — a null row occupying
        # one of the threshold+1 slots would let the local leg accept a
        # source set whose real (non-null) cardinality exceeds the limit,
        # silently truncating sources instead of falling through.
        starts = [r["id"] for r in src_df.select("id")
                  .where(F.col("id").isNotNull()).distinct()
                  .limit(local_edge_threshold + 1).collect()]
        if len(starts) <= local_edge_threshold:
            import numpy as np
            import pandas as pd

            apdf = adj.toPandas()
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
            adj.unpersist()
            reach = np.isfinite(d).nonzero()[0]
            out = pd.DataFrame({
                "id": pd.array([ids[i] for i in reach], dtype="string"),
                "dist": d[reach],
            })
            return g.spark.createDataFrame(out, "id string, dist double")
    dist = (src_df.select("id").where(F.col("id").isNotNull())
            .distinct().withColumn("dist", F.lit(0.0)))
    # Convergence probe FUSED into the relaxation aggregate (r17 opt,
    # guide §2.4 "remove shuffles outright"): the old shape paid TWO jobs
    # per round — an eager checkpoint of the min-aggregate, then a probe
    # that re-JOINED the new table against the old one (its own exchanges)
    # just to ask "did any distance improve". Tagging the carried rows
    # lets ONE groupBy compute both the new minimum and the old distance
    # (min over the tagged subset — old has exactly one row per id), so
    # improvement is a plain filter over the aggregate's own output: the
    # probe join's exchanges vanish and the lazy checkpoint + filtered
    # count materialize in a single job per round (the SCC-trim pattern).
    # Identical semantics: new dist = min(old, relaxed candidates);
    # improved ⟺ some id is new (old null) or strictly better.
    for i in range(max_iter):
        relaxed = (
            dist.join(adj, dist["id"] == adj["u"], "inner")
            .select(F.col("v").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        cand = dist.select(
            "id", "dist", F.lit(True).alias("_old")
        ).unionByName(relaxed.select("id", "dist", F.lit(False).alias("_old")))
        new = (
            cand.groupBy("id")
            .agg(F.min("dist").alias("dist"),
                 F.min(F.when(F.col("_old"), F.col("dist"))).alias("_od"))
            .localCheckpoint(eager=False)
        )
        improved = new.where(
            F.col("_od").isNull() | (F.col("dist") < F.col("_od"))
        ).count()  # materializes the checkpoint AND probes in one job
        # No explicit release of the previous round's checkpoint:
        # Dataset.unpersist only uncaches CacheManager-registered plans and
        # local-checkpoint RDD blocks are not registered there (a call here
        # was a documented no-op — ADVICE r17). Each round's blocks are
        # dereferenced when `dist` is rebound and reaped by ContextCleaner
        # after GC; bench.py's per-query drain forces that promptly.
        dist = new.select("id", "dist")
        LAST_BF_ROUNDS = i + 1
        if improved == 0:
            break
    adj.unpersist()
    return dist


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
    The DFS-ordered emission becomes breadth-first levels; the NoResult
    starvation failsafe becomes the max_depth guard.
    """
    frontier = start
    emitted = []
    for depth in range(max_depth):
        df = frontier.df
        emit_rows = df.where(emit_pred) if emit_pred is not None else df
        emitted.append(emit_rows.withColumn("_depth", F.lit(depth)))
        to_descend = frontier._with(df.where(descend_pred)) if descend_pred is not None else frontier
        nxt = children(to_descend)
        nxt_df = _persist(nxt.df)
        if nxt_df.limit(1).count() == 0:
            break
        frontier = nxt._with(nxt_df)
    out = emitted[0]
    for e in emitted[1:]:
        out = out.unionByName(e, allowMissingColumns=True)
    return out


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
    deterministic under ties.
    """
    src_df = sources.df if isinstance(sources, Route) else sources
    adj = _persist(_step_edges(g, labels, direction).select(
        "u", "v", F.coalesce(F.col("w"), F.lit(default_weight)).alias("w")
    ))
    dist = src_df.select("id").distinct().select(
        "id", F.lit(0.0).alias("dist"), F.array(F.col("id")).alias("path")
    )
    for i in range(max_iter):
        relaxed = dist.join(adj, dist["id"] == adj["u"], "inner").select(
            F.col("v").alias("id"),
            (F.col("dist") + F.col("w")).alias("dist"),
            F.concat(F.col("path"), F.array(F.col("v"))).alias("path"),
        )
        new = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min(F.struct("dist", "path")).alias("best"))
            .select("id", F.col("best.dist").alias("dist"), F.col("best.path").alias("path"))
        )
        new = _persist(new)
        improved = (
            new.alias("n").join(dist.alias("o"), "id", "left")
            .where(F.col("o.dist").isNull() | (F.col("n.dist") < F.col("o.dist")))
            .limit(1).count()
        )
        if i > 0:
            dist.unpersist()
        dist = new
        if improved == 0:
            break
    adj.unpersist()
    return dist


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
# as the rest of this module (adjacency checkpointed once, per-iteration
# localCheckpoint, superseded frames unpersisted).


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
    Fixed `iters` (no convergence probe) keeps the job count predictable;
    PageRank residuals decay geometrically by `damping`, so iters≈10 gives
    ~d^10 ≈ 0.2 residual and iters≈50 machine-precision stationarity.
    """
    if dangling not in ("redistribute", "none"):
        raise ValueError(f"dangling must be 'redistribute'|'none', not {dangling!r}")
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
    if local_edge_threshold and adj.count() <= local_edge_threshold:
        # driver-scale finish (same threshold discipline as CC/SCC/k-core/
        # BFS): fixed-iteration power iteration costs `iters` barrier
        # rounds distributed — on a driver-scale edge set the same float64
        # recurrence runs in numpy. Summation order differs from the
        # distributed groupBy (itself partition-order-dependent); both
        # land on identical values after the caller's rounding.
        import numpy as np
        import pandas as pd

        apdf = adj.toPandas()
        # defensive mirror of the construction-time null-endpoint rule
        # (raw-DataFrame callers): None ids break sorted()/ix lookups
        apdf = apdf[apdf["u"].notna() & apdf["v"].notna()]
        ids = sorted({r["id"] for r in universe.collect()} - {None})
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
        adj.unpersist()
        universe.unpersist()
        out = pd.DataFrame({"id": pd.array(ids, dtype="string"),
                            "rank": rank})
        return g.spark.createDataFrame(out, "id string, rank double")
    deg = _persist(adj.groupBy("u").agg(F.count("*").alias("deg")))
    ranks = universe.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(iters):
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
        new = (
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
        new = _persist(new)
        if i > 0:
            ranks.unpersist()
        ranks = new
    adj.unpersist()
    deg.unpersist()
    universe.unpersist()
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
    adj = _loop_adjacency(g, labels, "both")
    comm = _persist(g.vertices_with_edge(labels).withColumn("community", F.col("id")))
    from pyspark.sql import Window

    for i in range(iters):
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
        new = (
            comm.select("id", F.col("community").alias("old"))
            .join(best, "id", "left")
            .select("id", F.coalesce("best", "old").alias("community"))
        )
        new = _persist(new)
        comm.unpersist()
        comm = new
    adj.unpersist()
    return comm


# peel-round count of the most recent k_core call — diagnostics only,
# last-call-wins (same contract as LAST_CC_ROUNDS)
LAST_KCORE_ROUNDS = 0


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
    OVERHEAD: one checkpoint job per round (the frontier is a trivial
    filter over the checkpointed degree table, recomputed lazily in both
    plan legs instead of checkpointed itself), with the convergence probe
    fused into the checkpoint's row count (count unchanged ⟺ frontier was
    empty ⟺ fixed point). A lazily-persisted multi-level batch was tried
    and REJECTED: AQE compiles the deep chained plan into far more shuffle
    stages than the flat loop (see PLANS.md). Parallel edges count once
    per edge, self-loops are excluded (standard core-number convention).
    """
    global LAST_KCORE_ROUNDS
    e = _persist(
        _step_edges(g, labels, "both")
        .where(F.col("u") != F.col("v"))
        .select("u", "v")
        .distinct()  # 'both' emits each undirected edge once per direction
    )
    if local_edge_threshold and e.count() <= local_edge_threshold:
        # driver-scale finish: Matula-Beck-style queue peel over the
        # (bounded) directed pair set — each undirected edge is present
        # in both orientations, so deg(u) = #outgoing rows
        from collections import defaultdict, deque

        nbrs: dict = defaultdict(list)
        for row in e.collect():
            nbrs[row["u"]].append(row["v"])
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
        LAST_KCORE_ROUNDS = 0  # no distributed rounds ran
        e.unpersist()
        rows = [(u, deg_l[u]) for u in nbrs if u not in removed]
        return local_frame(g.spark, rows, "id string, deg long")

    deg = _persist(
        e.groupBy("u").agg(F.count("*").alias("deg")).withColumnRenamed("u", "id"))
    n = deg.count()
    rounds = 0
    while rounds < max_iters:
        fr = deg.where(F.col("deg") < k).select("id")
        # edges lost by survivors: one per (frontier u → v) edge; rows whose
        # v was removed (this round or earlier) drop out in the anti-join
        # size-guarded hint (r17, closes the r16 audit's deferred OOM
        # class): the round-1 frontier (every deg<k vertex) can be MOST
        # of the graph, and the old literal F.broadcast collected it to
        # the driver at any size. fr ⊆ deg, so the loop's own per-round
        # count n bounds it with zero extra jobs; above the bar the
        # semi-join falls back to Catalyst + AQE.
        delta = (
            e.join(bounded_broadcast(fr.withColumnRenamed("id", "u"),
                                     known_rows=n), "u", "left_semi")
            .groupBy(F.col("v").alias("id")).agg(F.count("*").alias("_d"))
        )
        # The anti-join stays UNHINTED (r18, measured): forcing the same
        # size-guarded broadcast the delta leg uses changed neither the
        # jobs-per-round audit (7.2 both ways — a broadcast exchange is
        # its own scheduled job exactly like the shuffle it replaces) nor
        # the interleaved gate A/B (1.02-1.05x, flat at floor), because
        # AQE already broadcasts the runtime-small frontier on its own.
        new_deg = _persist(
            deg.join(fr, "id", "left_anti")
            .join(delta, "id", "left")
            .select("id", (F.col("deg") - F.coalesce(F.col("_d"), F.lit(0))).alias("deg"))
        )
        m = new_deg.count()
        rounds += 1
        deg.unpersist()
        deg = new_deg
        if m == n:  # nothing removed → frontier was empty → fixed point
            break
        n = m
    LAST_KCORE_ROUNDS = rounds
    e.unpersist()
    return deg.select("id", "deg")
