"""Correctness oracles, computed during set-up from the same generated
inputs and kept out of every timed region.

- star graph: a Python adjacency index over the generated tables;
- iterate graph: networkx components, k-core and Dijkstra, and a numpy
  power method for PageRank with the engine's dangling rule (out-degree-0
  mass spread uniformly);
- corpus: the registry's own DuckDB oracle over the generated tables.
"""

from __future__ import annotations

import math
from collections import Counter, defaultdict

import numpy as np

# the engine's PageRank defaults, which the workload also calls with
PAGERANK_ITERS = 10
DAMPING = 0.85


class StarOracle:
    def __init__(self, tables: dict):
        o, li, c = tables["orders"], tables["lineitem"], tables["customer"]
        cust_of = dict(zip(o["o_orderkey"], o["o_custkey"]))
        self.bought: dict[str, set] = defaultdict(set)
        self.order_parts: dict[str, set] = defaultdict(set)
        for ok, pk in zip(li["l_orderkey"], li["l_partkey"]):
            self.bought[f"c:{cust_of[ok]}"].add(f"p:{pk}")
            self.order_parts[f"o:{ok}"].add(f"p:{pk}")
        self.nation = {f"c:{k}": n for k, n in zip(c["c_custkey"], c["c_nationkey"])}
        self.buyers: dict[str, set] = defaultdict(set)
        for cid, parts in self.bought.items():
            for p in parts:
                self.buyers[p].add(cid)
        self.orders_of: dict[str, list] = defaultdict(list)
        for ok, ck in zip(o["o_orderkey"], o["o_custkey"]):
            self.orders_of[f"c:{ck}"].append(f"o:{ok}")

    def out_1hop(self, c):
        return sorted(self.bought[c])

    def siblings_2hop(self, c):
        return sorted(x for x, n in self.nation.items() if n == self.nation[c] and x != c)

    def orders_parts(self, c):
        return sorted(set().union(*(self.order_parts[o] for o in self.orders_of[c])))

    def lookahead_min_k(self, cs, k):
        return sorted(c for c in set(cs) if len(self.orders_of[c]) >= k)

    def recommend(self, c):
        """Top 5 (part, score) by co-purchase paths, ties by part id."""
        own = self.bought[c]
        score: Counter = Counter()
        for p in own:
            for other in self.buyers[p] - {c}:
                score.update(self.bought[other] - own)
        return sorted(score.items(), key=lambda kv: (-kv[1], kv[0]))[:5]


class IterateOracle:
    """Expected outputs of the iterative algorithms on one edge table."""

    def __init__(self, edges, k: int):
        import networkx as nx

        self.nx = nx
        src, dst = edges["src"].tolist(), edges["dst"].tolist()
        self.D = nx.DiGraph()
        self.D.add_weighted_edges_from(zip(src, dst, edges["weight"].tolist()))
        D = self.D
        core = nx.k_core(nx.Graph(D.to_undirected()), k)
        self.expected = {
            "cc": {v: min(c) for c in nx.weakly_connected_components(D) for v in c},
            "scc": {v: min(c) for c in nx.strongly_connected_components(D) for v in c},
            "kcore": {v: core.degree(v) for v in core},
            "pagerank": _pagerank(src, dst),
        }

    def sssp(self, source: str) -> dict:
        return dict(self.nx.single_source_dijkstra_path_length(self.D, source))


def _pagerank(src, dst) -> dict:
    """Power iteration; the rank of out-degree-0 vertices is spread evenly."""
    ids = sorted(set(src) | set(dst))
    ix = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    s = np.array([ix[u] for u in src])
    t = np.array([ix[v] for v in dst])
    deg = np.bincount(s, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    nz = deg > 0
    for _ in range(PAGERANK_ITERS):
        share = np.zeros(n)
        share[nz] = rank[nz] / deg[nz]
        c = np.bincount(t, weights=share[s], minlength=n)
        rank = (1 - DAMPING) / n + DAMPING * (c + rank[~nz].sum() / n)
    return dict(zip(ids, rank))


def same_mapping(got: dict, want: dict, tol: float | None = None) -> bool:
    if got.keys() != want.keys():
        return False
    if tol is None:
        return got == want
    return all(math.isclose(got[k], want[k], rel_tol=tol, abs_tol=tol) for k in want)


def _norm(v):
    # (tag, value) keeps rows sortable with NULL and NaN present
    if v is None:
        return (1, 0)
    if isinstance(v, float):
        return (2, 0) if math.isnan(v) else (0, round(v, 9))
    return (0, v)


def multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


def duckdb_expected(sf_dir: str, name: str):
    """(sorted column names, row multiset) of the registry's DuckDB oracle."""
    import duckdb

    from fermor_spark import queries

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ("documents", "embeddings"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        res = con.execute(queries.ORACLES[name])
        cols = [d[0] for d in res.description]
        return sorted(cols), multiset(cols, res.fetchall())
    finally:
        con.close()
