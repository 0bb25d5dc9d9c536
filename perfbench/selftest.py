"""Self-tests of the benchmark's input generators (no Spark needed).

    python3 perfbench/selftest.py

Checks that the same seed gives byte-identical parquet files and another
seed different ones, that the iterate graph has the hub, the single giant
component, the planted rings and the pendant chains, and that the corpus
holds exactly the planted rows its generator reports.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np

import gen

WORK = os.path.join(os.getcwd(), ".perfbench_work", f"selftest-{os.getpid()}")


def digests(seed: int, tag: str) -> dict[str, str]:
    out = os.path.join(WORK, tag)
    gen.write_tables(gen.star_tables(seed), out)
    gen.write_tables({"edges": gen.iterate_edges(seed)[0]}, out)
    gen.write_tables(gen.corpus_tables(seed)[0], out)
    out_digests = {}
    for n in sorted(os.listdir(out)):
        with open(os.path.join(out, n), "rb") as fh:
            out_digests[n] = hashlib.sha256(fh.read()).hexdigest()
    return out_digests


def check_determinism() -> None:
    a, b, c = digests(5, "a"), digests(5, "b"), digests(6, "c")
    assert a == b, "same seed, different bytes"
    assert all(a[n] != c[n] for n in a if n not in ("region.parquet", "nation.parquet")), \
        "another seed left a seeded table unchanged"


def check_iterate_graph() -> None:
    import networkx as nx

    edges, rep = gen.iterate_edges(5)
    D = nx.DiGraph(zip(edges["src"], edges["dst"]))
    assert D.number_of_edges() == rep["edges"] and D.number_of_nodes() == rep["vertices"]
    in_deg = np.array([d for _, d in D.in_degree()])
    assert in_deg.max() == rep["max_in_degree"] >= 20 * in_deg.mean(), "no hub"
    assert nx.number_weakly_connected_components(D) == 1, "not one giant component"
    rings = sorted(len(c) for c in nx.strongly_connected_components(D) if len(c) > 1)
    # the core's random extra edges may close cycles of their own
    for size in set(rep["rings"]):
        assert rings.count(size) >= rep["rings"].count(size), f"ring of {size} missing"
    tails = [v for v in D if D.in_degree(v) == 1 and D.out_degree(v) == 0]
    assert len(tails) >= rep["chains"], "pendant chains missing"


def check_corpus() -> None:
    tables, rep = gen.corpus_tables(5)
    docs = tables["documents"]
    toks = docs["text"].str.split()
    low = docs.index[(toks.str.len() < 20) | (toks.map(lambda t: len(set(t))) == 1)]
    assert low.tolist() == rep["low_quality"], "low-quality rows differ from the report"
    src = docs["source"].str[3:].astype(int)
    assert (src == 0).sum() == rep["domain_blocked"] > 0
    assert ((src % 2 == 1) & (docs["doc_id"] % 3 == 0)).sum() == rep["robots_blocked"] > 0
    vec = np.stack(tables["embeddings"]["embedding"].to_numpy())
    cos = np.tril(vec @ vec.T, -1)
    near = np.flatnonzero(cos.max(axis=1) >= 0.9)
    assert near.tolist() == rep["near_dup_vectors"], "near-duplicate vectors differ"


def main() -> int:
    try:
        for check in (check_determinism, check_iterate_graph, check_corpus):
            check()
            print(f"ok  {check.__name__}")
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
