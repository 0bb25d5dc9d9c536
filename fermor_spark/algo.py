"""Driver-side graph algorithms (the inherently-sequential DFS-order family).

The reference runs these on CFG-sized graphs (≤ tens of vertices); this
module mirrors that usage: collect the (label-filtered) edge list behind an
explicit size guard, run pure-Python algorithms, return plain structures.
Distributed equivalents for the component-style algorithms live in
fermor_spark.iterate (connected_components, strongly_connected_components,
shortest_path_weighted, breadth_first_nodes).

Reference: src/fermor/graph/algo.clj (postwalk/RPO 179-271, dominators
273-312 after Cooper-Harvey-Kennedy, frontiers 339-359, intervals 361-395
after Offner GRAPHS, loop-tree/loop-info 397-430 & 484-500, SCC 24-90,
cycles 139-145, BCC 159-171).

Determinism: successor lists are enumerated in sorted-id order (numeric when
ids are numeric strings), matching the sorted iteration order of the
reference's underlying structures — this reproduces its committed DFS-order
test expectations exactly.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import functions as F

from fermor_spark.graph import PropertyGraph
from fermor_spark.session import local_frame

MAX_COLLECT_EDGES = 1_000_000


class SizeGuardError(RuntimeError):
    pass


def _smart_key(x: str):
    try:
        return (0, float(x), "")
    except (TypeError, ValueError):
        return (1, 0.0, str(x))


def collect_adjacency(
    g: PropertyGraph, labels=None, max_edges: int = MAX_COLLECT_EDGES,
    weighted: bool = False,
):
    """(succ, pred) adjacency dicts with sorted successor/predecessor lists.

    Guarded: refuses to collect more than `max_edges` edges — these algorithms
    are for CFG-scale subgraphs, not the full dataset (use fermor_spark.iterate
    for the distributed family)."""
    e = g._edges_df(labels)
    n = e.limit(max_edges + 1).count()
    if n > max_edges:
        raise SizeGuardError(
            f"edge count exceeds driver-side guard ({max_edges}); "
            "use fermor_spark.iterate for distributed algorithms or raise max_edges"
        )
    cols = ["src", "dst"] + (["weight"] if weighted else [])
    rows = e.select(*cols).collect()
    succ: dict[str, list] = {}
    pred: dict[str, list] = {}
    weights: dict[tuple, float] = {}
    for r in rows:
        succ.setdefault(r["src"], []).append(r["dst"])
        pred.setdefault(r["dst"], []).append(r["src"])
        succ.setdefault(r["dst"], [])
        pred.setdefault(r["src"], [])
        if weighted:
            weights[(r["src"], r["dst"])] = r["weight"]
    for d in (succ, pred):
        for k in d:
            d[k] = sorted(set(d[k]), key=_smart_key)
    if weighted:
        return succ, pred, weights
    return succ, pred


# ----------------------------------------------------------- DFS orderings


def postwalk(succ: dict, entry: str) -> list[str]:
    """DFS post-order (reference: postwalk, src/fermor/graph/algo.clj:179-193)."""
    seen = set()
    out: list[str] = []

    def descend(v):
        if v in seen:
            return
        seen.add(v)
        for c in succ.get(v, []):
            descend(c)
        out.append(v)

    descend(entry)
    return out


def reverse_postwalk(succ: dict, entry: str) -> list[str]:
    """RPO — every node before its descendants (reference: algo.clj:195-202)."""
    return list(reversed(postwalk(succ, entry)))


def post_order_numbering(succ: dict, entry: str) -> dict[str, int]:
    return {v: i for i, v in enumerate(postwalk(succ, entry))}


def reverse_post_order_numbering(succ: dict, entry: str) -> dict[str, int]:
    return {v: i for i, v in enumerate(reverse_postwalk(succ, entry))}


def postwalk_reduce(succ: dict, entry: str, state, f):
    for v in postwalk(succ, entry):
        state = f(state, v)
    return state


def reverse_postwalk_reduce(succ: dict, entry: str, state, f):
    for v in reverse_postwalk(succ, entry):
        state = f(state, v)
    return state


# ------------------------------------------------------------- dominators


def immediate_dominators(succ: dict, pred: dict, entry: str) -> dict[str, str]:
    """Cooper-Harvey-Kennedy iterative dominators
    (reference: algo.clj:273-312)."""
    nums = post_order_numbering(succ, entry)
    rpo = reverse_postwalk(succ, entry)
    doms: dict[str, str] = {entry: entry}

    def intersect(b1, b2):
        f1, f2 = b1, b2
        while f1 != f2:
            while nums[f1] < nums[f2]:
                f1 = doms[f1]
            while nums[f2] < nums[f1]:
                f2 = doms[f2]
        return f1

    changed = True
    while changed:
        changed = False
        for v in rpo:
            if v == entry:
                continue
            preds = [p for p in pred.get(v, []) if p in nums]
            processed = [p for p in preds if p in doms]
            if not processed:
                continue
            new_idom = processed[0]
            for p in processed[1:]:
                new_idom = intersect(p, new_idom)
            if doms.get(v) != new_idom:
                doms[v] = new_idom
                changed = True
    return doms


def dominator_depth(doms: dict[str, str], entry: str) -> dict[str, int]:
    """(reference: algo.clj:314-336)."""
    out = {}
    for node in doms:
        cursor, depth = node, 0
        while cursor != entry:
            nxt = doms.get(cursor)
            if nxt is None or nxt == cursor:
                depth = None  # unreachable from entry via dom chain
                break
            cursor = nxt
            depth += 1
        out[node] = depth
    return out


def dominance_frontiers(succ: dict, pred: dict, entry: str) -> dict[str, set]:
    """(reference: algo.clj:339-359, after the CHK paper p9)."""
    doms = immediate_dominators(succ, pred, entry)
    frontiers: dict[str, set] = {v: set() for v in doms}
    for b in doms:
        preds = [p for p in pred.get(b, []) if p in doms]
        if len(preds) >= 2:
            for p in preds:
                runner = p
                while runner != doms[b]:
                    frontiers[runner].add(b)
                    runner = doms[runner]
    return frontiers


# --------------------------------------------------------------- intervals


def intervals(succ: dict, pred: dict, entry: str) -> list[set]:
    """Graph intervals (reference: algo.clj:361-395, Offner GRAPHS p44)."""

    def pre_interval(selected: set, h: str) -> set:
        A = {h}
        worklist = [h]
        while worklist:
            node = worklist[0]
            m = None
            for s in succ.get(node, []):
                if s in selected or s in A:
                    continue
                if all(p in A for p in pred.get(s, [])):
                    m = s
                    break
            if m is not None:
                A.add(m)
                worklist.append(m)
            else:
                worklist.pop(0)
        return A

    workset: OrderedDict[str, None] = OrderedDict({entry: None})
    selected: set = set()
    out: list[set] = []
    while workset:
        h = next(reversed(workset))  # LIFO matches the reference's emitted order
        del workset[h]
        iv = pre_interval(selected, h)
        selected |= iv
        out.append(iv)
        for s in sorted(selected, key=_smart_key):
            for m in succ.get(s, []):
                if m not in selected and m not in workset:
                    workset[m] = None
    return out


# --------------------------------------------------------------- loop tree


def loop_tree(succ: dict, pred: dict, entry: str) -> dict[tuple, dict]:
    """Natural-loop nesting {(head, tail): {loop_num, parent, depth}}
    (reference: algo.clj:397-430)."""
    nums = reverse_post_order_numbering(succ, entry)
    active: dict[str, tuple] = {}  # tail -> (head, tail)
    nesting: list[tuple] = []
    loops: dict[tuple, dict] = {}
    for head in reverse_postwalk(succ, entry):
        ending = active.get(head)
        if ending is not None:
            del active[head]
            nesting = [x for x in nesting if x != ending]
        tails = [t for t in pred.get(head, []) if t in nums and nums[t] > nums[head]]
        for tail in sorted(tails, key=lambda t: -nums[t]):
            loops[(head, tail)] = {
                "loop_num": len(loops),
                "parent": nesting[-1] if nesting else None,
                "depth": len(nesting),
            }
            active[tail] = (head, tail)
            nesting.append((head, tail))
    return loops


def non_loop_vertices_between(succ: dict, frm: str, to: str) -> set:
    """Vertices on acyclic frm→to paths (reference: algo.clj:474-482)."""
    out: set = set()

    def descend(path: tuple, path_set: frozenset, v):
        if v in path_set:
            return
        if v == to:
            out.update(path + (v,))
            return
        for c in succ.get(v, []):
            descend(path + (v,), path_set | {v}, c)

    descend((), frozenset(), frm)
    return out


def loop_info(succ: dict, pred: dict, entry: str) -> dict[str, dict]:
    """Per-vertex loop membership (reference: algo.clj:484-500)."""
    tree = loop_tree(succ, pred, entry)
    out = {v: {"depth": 0} for v in postwalk(succ, entry)}
    for (frm, to), info in tree.items():
        rec = dict(info)
        rec["depth"] = rec["depth"] + 1
        rec["from"] = frm
        rec["to"] = to
        for v in non_loop_vertices_between(succ, frm, to):
            out[v] = rec
    return out


# ----------------------------------------------------------------- SCC etc.


def strongly_connected_components(succ: dict, include_singletons: bool = False) -> set[frozenset]:
    """Iterative Tarjan (reference delegates to Bifurcan, algo.clj:24-90)."""
    index: dict[str, int] = {}
    low: dict[str, int] = {}
    on_stack: set = set()
    stack: list[str] = []
    comps: list[frozenset] = []
    counter = [0]

    for root in sorted(succ, key=_smart_key):
        if root in index:
            continue
        work = [(root, iter(succ.get(root, [])))]
        index[root] = low[root] = counter[0]
        counter[0] += 1
        stack.append(root)
        on_stack.add(root)
        while work:
            v, it = work[-1]
            advanced = False
            for w in it:
                if w not in index:
                    index[w] = low[w] = counter[0]
                    counter[0] += 1
                    stack.append(w)
                    on_stack.add(w)
                    work.append((w, iter(succ.get(w, []))))
                    advanced = True
                    break
                elif w in on_stack:
                    low[v] = min(low[v], index[w])
            if not advanced:
                work.pop()
                if work:
                    pv = work[-1][0]
                    low[pv] = min(low[pv], low[v])
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    comps.append(frozenset(comp))
    if include_singletons:
        return set(comps)
    return {c for c in comps if len(c) > 1}


def strongly_connected_subgraphs(
    g: PropertyGraph, labels=None, include_singletons: bool = False,
    max_edges: int = MAX_COLLECT_EDGES,
) -> PropertyGraph:
    """Materialize each SCC back into the graph as a new edge label
    ('0', '1', ...) containing the component's internal edges
    (reference: algo.clj:127-137)."""
    succ, _pred = collect_adjacency(g, labels, max_edges)
    comps = sorted(
        strongly_connected_components(succ, include_singletons),
        key=lambda c: _smart_key(min(c, key=_smart_key)),
    )
    new = g
    for i, comp in enumerate(comps):
        edges = [
            (u, v) for u in comp for v in succ.get(u, []) if v in comp
        ]
        if edges:
            rows = local_frame(g.spark, edges, "src string, dst string")
            new = PropertyGraph(
                g.spark, new.V,
                new.E.select(*new.E.columns).unionByName(
                    rows.select(
                        F.lit(str(i)).alias("label"), "src", "dst",
                        F.lit(None).cast("double").alias("weight"),
                        F.lit(None).cast("string").alias("doc"),
                    )
                ),
                new.edge_builders, forked=True,
                materialized_vertices=new.materialized_vertices,
            )
    return new


def simple_cycles(succ: dict) -> list[list[str]]:
    """All simple cycles, Johnson's algorithm (reference: cycles via
    Bifurcan/Johnson, algo.clj:139-145). Cycles are returned as vertex paths
    closed with the start vertex; ordering is by sorted start vertex."""
    cycles: list[list[str]] = []
    nodes = sorted(succ, key=_smart_key)
    order = {v: i for i, v in enumerate(nodes)}

    for start in nodes:
        s_idx = order[start]
        blocked: set = set()
        b_map: dict[str, set] = {}
        path: list[str] = [start]

        def unblock(v):
            blocked.discard(v)
            for w in b_map.pop(v, set()):
                if w in blocked:
                    unblock(w)

        def circuit(v) -> bool:
            found = False
            blocked.add(v)
            for w in succ.get(v, []):
                if order[w] < s_idx:
                    continue
                if w == start:
                    cycles.append(path + [start])
                    found = True
                elif w not in blocked:
                    path.append(w)
                    if circuit(w):
                        found = True
                    path.pop()
            if found:
                unblock(v)
            else:
                for w in succ.get(v, []):
                    if order[w] >= s_idx:
                        b_map.setdefault(w, set()).add(v)
            return found

        circuit(start)
    return cycles


def breadth_first_reduce(succ: dict, start, state, f):
    """BFS-order reduction with early exit via StopIteration
    (reference: breadth-first-reduce, src/fermor/graph/algo.clj:454-472)."""
    from collections import deque

    seen = {start}
    q = deque([start])
    while q:
        v = q.popleft()
        try:
            state = f(state, v)
        except StopIteration:
            return state
        for w in succ.get(v, []):
            if w not in seen:
                seen.add(w)
                q.append(w)
    return state


# --------------------------------------------- undirected structure analysis


def articulation_points(g: PropertyGraph, labels=None, max_edges: int = MAX_COLLECT_EDGES) -> set:
    """Cut vertices of the undirected view (reference: algo.clj:173-177)."""
    return _hopcroft_tarjan(g, labels, max_edges)[0]


def biconnected_components(g: PropertyGraph, labels=None, max_edges: int = MAX_COLLECT_EDGES) -> list[set]:
    """Undirected BCCs as edge sets (reference: algo.clj:159-171)."""
    return _hopcroft_tarjan(g, labels, max_edges)[1]


def _hopcroft_tarjan(g: PropertyGraph, labels, max_edges):
    succ, pred = collect_adjacency(g, labels, max_edges)
    adj: dict[str, list] = {}
    for v in set(succ) | set(pred):
        adj[v] = sorted(set(succ.get(v, [])) | set(pred.get(v, [])), key=_smart_key)
    disc: dict[str, int] = {}
    low: dict[str, int] = {}
    aps: set = set()
    comps: list[set] = []
    estack: list[tuple] = []
    t = [0]

    def dfs(root):
        stack = [(root, None, iter(adj[root]))]
        disc[root] = low[root] = t[0]
        t[0] += 1
        children_of_root = 0
        while stack:
            v, parent, it = stack[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue
                if w not in disc:
                    estack.append((v, w))
                    disc[w] = low[w] = t[0]
                    t[0] += 1
                    if v == root:
                        children_of_root += 1
                    stack.append((w, v, iter(adj[w])))
                    advanced = True
                    break
                elif disc[w] < disc[v]:
                    estack.append((v, w))
                    low[v] = min(low[v], disc[w])
            if not advanced:
                stack.pop()
                if stack:
                    pv = stack[-1][0]
                    low[pv] = min(low[pv], low[v])
                    if low[v] >= disc[pv]:
                        if pv != root or children_of_root > 0:
                            comp = set()
                            while estack:
                                e = estack.pop()
                                comp.add(e)
                                if e == (pv, v):
                                    break
                            if comp:
                                comps.append(comp)
                        if pv != root:
                            aps.add(pv)
        if children_of_root >= 2:
            aps.add(root)

    for v in sorted(adj, key=_smart_key):
        if v not in disc:
            dfs(v)
    return aps, comps


# ------------------------------------------------------- convenience facade


def cfg(g: PropertyGraph, labels=None, max_edges: int = MAX_COLLECT_EDGES):
    """Collect once, analyze many: returns a small helper object bundling the
    DFS-order family over one collected adjacency."""
    succ, pred = collect_adjacency(g, labels, max_edges)
    return CFG(succ, pred)


class CFG:
    def __init__(self, succ: dict, pred: dict):
        self.succ = succ
        self.pred = pred

    def postwalk(self, entry):
        return postwalk(self.succ, entry)

    def reverse_postwalk(self, entry):
        return reverse_postwalk(self.succ, entry)

    def post_order_numbering(self, entry):
        return post_order_numbering(self.succ, entry)

    def reverse_post_order_numbering(self, entry):
        return reverse_post_order_numbering(self.succ, entry)

    def immediate_dominators(self, entry):
        return immediate_dominators(self.succ, self.pred, entry)

    def dominator_depth(self, entry):
        return dominator_depth(self.immediate_dominators(entry), entry)

    def dominance_frontiers(self, entry):
        return dominance_frontiers(self.succ, self.pred, entry)

    def intervals(self, entry):
        return intervals(self.succ, self.pred, entry)

    def loop_tree(self, entry):
        return loop_tree(self.succ, self.pred, entry)

    def loop_info(self, entry):
        return loop_info(self.succ, self.pred, entry)

    def scc(self, include_singletons=False):
        return strongly_connected_components(self.succ, include_singletons)

    def cycles(self):
        return simple_cycles(self.succ)
