"""The two workloads. Each is a closed loop with one client: `stream()`
yields operations forever, one cycle after another, with seeded
parameters; `run.py` times each call and checks its output against the
oracle computed at set-up.

Every operation has a role, and both workloads have all three:

- `read`: a short query that changes nothing;
- `write`: a mutation or a sink write, then a read that verifies it;
- `batch`: a whole-input computation.

| workload | read | write | batch |
|---|---|---|---|
| `graph` | five route traversals on the star graph | `add_edges` + `set_documents` -> `forked()` -> read back | five iterative algorithms, CC and k-core on their distributed round loop |
| `corpus` | filtered reads of each language partition of the exported corpus | JSONL export of the documents, read back | the crawl-to-corpus composition |

A cycle runs each write kind, then each read kind, then each batch kind,
each as many times as the workload's `repeat` says for its role. The
stream's first cycle, the cold one, runs each write and batch kind once
and no reads: set-up and the write's read-back have already warmed them.
"""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import numpy as np

import gen
import oracles
import probes

# in cycle order
ROLES = ("write", "read", "batch")
ALGOS = ("cc", "scc", "kcore", "pagerank", "sssp")
ROUNDS = {"cc": "LAST_CC_ROUNDS", "scc": "LAST_SCC_ROUNDS", "kcore": "LAST_KCORE_ROUNDS",
          "sssp": "LAST_BF_ROUNDS"}
KCORE_K = 3
# algorithms run on their distributed round loop (`local_edge_threshold=0`),
# the path a graph above the engine's default threshold takes at any size.
# The others keep the default and finish on the driver: SCC's distributed
# pivot floods take minutes on the planted rings, and distributed SSSP
# (about 20 rounds) and PageRank do not fit the time budget.
DISTRIBUTED = ("cc", "kcore")


class NoTrace:
    op_id = None
    tracing = False

    def span(self, name, **attrs):
        return nullcontext({})


class Op:
    def __init__(self, kind: str, run):
        self.kind, self.run = kind, run


def cycle(wl, cold: bool = False) -> list[str]:
    """One cycle's kinds in order: writes, reads, then batch."""
    repeat = {"write": 1, "read": 0, "batch": 1} if cold else wl.repeat
    kinds: list[str] = []
    for r in ROLES:
        kinds += [k for k, role in wl.kinds.items() if role == r] * repeat[r]
    return kinds


def cycles(wl, cold: bool):
    """The kinds of a stream: the cold cycle if `cold`, then warm cycles
    forever."""
    if cold:
        yield from cycle(wl, cold=True)
    while True:
        yield from cycle(wl)


class GraphWorkload:
    kinds = {"out_1hop": "read", "siblings_2hop": "read", "orders_parts": "read",
             "lookahead_min_k": "read", "recommend": "read", "write": "write",
             **{a: "batch" for a in ALGOS}}
    repeat = {"write": 1, "read": 1, "batch": 1}

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work = spark, work
        self.tables = gen.star_tables(seed)
        self.edges, _ = gen.iterate_edges(seed)
        self.build_s: list[float] = []

    def setup(self, rep: int) -> float:
        """Write the inputs, build the star graph, load the iterate graph."""
        from fermor_spark import PropertyGraph
        from fermor_spark.datasets import star_graph

        star_dir = os.path.join(self.work, f"star{rep}")
        iter_dir = os.path.join(self.work, f"iterate{rep}")
        t0 = time.perf_counter()
        gen.write_tables(self.tables, star_dir)
        gen.write_tables({"edges": self.edges}, iter_dir)
        t1 = time.perf_counter()
        self.g = star_graph(self.spark, star_dir)
        self.build_s.append(time.perf_counter() - t1)
        e = self.spark.read.parquet(os.path.join(iter_dir, "edges.parquet"))
        self.gi = PropertyGraph.from_dataframes(self.spark, e.localCheckpoint(eager=True))
        return time.perf_counter() - t0

    def prepare_oracles(self) -> None:
        self.star = oracles.StarOracle(self.tables)
        self.iter_oracle = oracles.IterateOracle(self.edges, KCORE_K)
        cust = sorted(self.star.orders_of)
        deg = np.array([len(self.star.orders_of[c]) for c in cust], dtype=float)
        self._cust, self._p = cust, deg / deg.sum()
        D = self.iter_oracle.D
        self._sources = sorted(v for v in D if D.out_degree(v) >= 2)

    def stream(self, seed: int, tr, cold: bool = True):
        """Start vertices are customers drawn in proportion to their degree;
        a lookahead starts from 20 of them, and a shortest-path search from
        a uniformly drawn core vertex (out-degree >= 2) of the iterate graph."""
        rng = np.random.default_rng([seed, 7])
        for n, kind in enumerate(cycles(self, cold)):
            if kind in ALGOS:
                src = str(rng.choice(self._sources))
                yield Op(kind, lambda kind=kind, src=src: self._algo(kind, src, tr))
            elif kind == "write":
                c = str(rng.choice(self._cust, p=self._p))
                yield Op(kind, lambda c=c, n=n: self._write(c, n, tr))
            else:
                arg = ([str(x) for x in rng.choice(self._cust, 20, p=self._p)],
                       int(rng.integers(8, 20))) if kind == "lookahead_min_k" \
                    else str(rng.choice(self._cust, p=self._p))
                yield Op(kind, lambda kind=kind, arg=arg: self._read(kind, arg, tr))

    def _route(self, kind, arg):
        from pyspark.sql import functions as F

        if kind == "lookahead_min_k":
            cs, k = arg
            return (self.g.get_vertices(cs).lookahead(lambda r: r.in_("placed_by"), min_count=k)
                    .df.select("id").distinct())
        origin = self.g.get_vertex(arg)
        if kind == "out_1hop":
            route = origin.out("bought")
        elif kind == "siblings_2hop":
            route = origin.out("in_nation").in_("in_nation").isnt(arg)
        elif kind == "orders_parts":
            route = origin.in_("placed_by").out("contains")
        else:
            # the registry recommender's shape for one origin: 3-hop
            # co-purchase, anti-join on what the origin bought, top 5
            paths = origin.out("bought").in_("bought").isnt(arg).out("bought").df.select("id")
            own = origin.out("bought").df.select("id")
            return (paths.join(own, "id", "left_anti").groupBy("id")
                    .agg(F.count("*").alias("score"))
                    .orderBy(F.col("score").desc(), F.col("id")).limit(5))
        return route.df.select("id").distinct()

    def _read(self, kind, arg, tr) -> bool:
        with tr.span("route.plan", kind=kind):
            df = self._route(kind, arg)
        with tr.span("route.exec", kind=kind) as rec:
            rows = df.collect()
            rec["result_rows"] = len(rows)
        if kind == "recommend":
            return [(r["id"], r["score"]) for r in rows] == self.star.recommend(arg)
        want = getattr(self.star, kind)(*arg) if kind == "lookahead_min_k" \
            else getattr(self.star, kind)(arg)
        return sorted(r["id"] for r in rows) == want

    def _write(self, c, n, tr) -> bool:
        """Add an edge and a document, fork, and read the write back."""
        new_part, doc = f"p:w{n}", {"write": n}
        with tr.span("graph.add_edges"):
            g2 = self.g.add_edges("bought", [(c, new_part)])
        with tr.span("graph.set_documents"):
            g2 = g2.set_documents([(c, doc)])
        with tr.span("graph.fork"):
            g2 = g2.forked()
        with tr.span("graph.verify"):
            got = sorted(g2.get_vertex(c).out("bought").ids())
            got_doc = g2.document(c)
        g2.E.unpersist()
        g2.V.unpersist()
        return got == sorted(self.star.bought[c] | {new_part}) and got_doc == doc

    def _algo(self, kind, src, tr) -> bool:
        from fermor_spark import iterate

        gi = self.gi
        kw = {"local_edge_threshold": 0} if kind in DISTRIBUTED else {}
        with tr.span(f"iterate.{kind}") as rec:
            if kind == "cc":
                df = iterate.connected_components(gi, **kw)
            elif kind == "scc":
                df = iterate.strongly_connected_components(gi, **kw)
            elif kind == "kcore":
                df = iterate.k_core(gi, KCORE_K, **kw)
            elif kind == "pagerank":
                df = iterate.pagerank(gi, iters=oracles.PAGERANK_ITERS, **kw)
            else:
                df = iterate.shortest_path_weighted(gi, gi.get_vertex(src), **kw)
            rows = df.collect()
            # None once the engine stops publishing round telemetry
            rec["rounds"] = getattr(iterate, ROUNDS.get(kind, ""), None)
        got = {r[0]: r[1] for r in rows}
        if kind == "sssp":
            return oracles.same_mapping(got, self.iter_oracle.sssp(src), 1e-9)
        return oracles.same_mapping(got, self.iter_oracle.expected[kind],
                                    1e-9 if kind == "pagerank" else None)


DOC_SCHEMA = "doc_id long, text string, source string, n_chars long, lang string"


class CorpusWorkload:
    kinds = {"lookup": "read", "export": "write", "crawl": "batch"}
    # an export or a lookup costs a few tenths of a CPU second, a few
    # dozen clock ticks, so each runs twice
    repeat = {"write": 2, "read": 2, "batch": 1}

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.work = spark, work
        self.tables, _ = gen.corpus_tables(seed)
        self.export = os.path.join(work, "export")

    def setup(self, rep: int) -> float:
        """Write the crawl inputs and load them into the session."""
        from fermor_spark.datasets import table

        self.dir = os.path.join(self.work, f"corpus{rep}")
        t0 = time.perf_counter()
        gen.write_tables(self.tables, self.dir)
        for name in self.tables:
            table(self.spark, self.dir, name).count()
        return time.perf_counter() - t0

    def prepare_oracles(self) -> None:
        self.expected = oracles.duckdb_expected(self.dir, "pipeline_crawl_e2e")
        docs = self.tables["documents"]
        self.docs = oracles.multiset(list(docs.columns), docs.itertuples(index=False))
        self._docs = docs

    def stream(self, seed: int, tr, cold: bool = True):
        """A lookup reads, language by language, the documents of at least
        a drawn length from the last export."""
        rng = np.random.default_rng([seed, 11])
        for kind in cycles(self, cold):
            if kind == "crawl":
                yield Op(kind, lambda: self._crawl(tr))
            elif kind == "export":
                yield Op(kind, lambda: self._export(tr))
            else:
                m = int(rng.integers(100, 500))
                yield Op(kind, lambda m=m: self._lookup(m, tr))

    def _crawl(self, tr) -> bool:
        from fermor_spark import queries
        from fermor_spark.session import release_caches

        with tr.span("pipeline.crawl"):
            df = queries.QUERIES["pipeline_crawl_e2e"](self.spark, self.dir)
            rows = [tuple(r) for r in df.collect()]
        release_caches()
        cols, want = self.expected
        return sorted(df.columns) == cols and oracles.multiset(df.columns, rows) == want

    def _export(self, tr) -> bool:
        """Export the documents as a JSONL corpus partitioned by language,
        and read the whole export back. Each export overwrites the last."""
        from fermor_spark.datasets import table
        from fermor_spark.pipeline.sink import read_corpus_jsonl, write_corpus_jsonl

        with tr.span("sink.write") as rec:
            write_corpus_jsonl(table(self.spark, self.dir, "documents"), self.export,
                               partition_by=("lang",))
        if tr.tracing:
            rec.update(probes.dir_stats(self.export))
        with tr.span("sink.read"):
            back = read_corpus_jsonl(self.spark, self.export, schema=DOC_SCHEMA)
            rows = back.collect()
        return oracles.multiset(back.columns, rows) == self.docs

    def _lookup(self, m: int, tr) -> bool:
        from pyspark.sql import functions as F

        from fermor_spark.pipeline.sink import read_corpus_jsonl

        d, ok = self._docs, True
        for lang in sorted(d["lang"].unique()):
            with tr.span("sink.lookup"):
                rows = (read_corpus_jsonl(self.spark, self.export, schema=DOC_SCHEMA)
                        .where((F.col("lang") == lang) & (F.col("n_chars") >= m))
                        .select("doc_id").collect())
            want = d.loc[(d["lang"] == lang) & (d["n_chars"] >= m), "doc_id"].tolist()
            ok &= sorted(r["doc_id"] for r in rows) == sorted(want)
        return ok


WORKLOADS = {"graph": GraphWorkload, "corpus": CorpusWorkload}
