"""Iteration-engine tests — expected values from the reference's committed
assertions (gremlin_examples_test.clj, graph/algo_test.clj)."""

import pytest
from pyspark.sql import functions as F

from fermor_spark import iterate
from tests.fixtures import betweenness_graph, cycles_graph, edges_graph


@pytest.mark.parametrize("thresh", [200_000, 0])  # local BFS / distributed
def test_all_reachable(spark, thresh):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")])
    r = iterate.all_reachable(g, g.get_vertex("a"), direction="out",
                              include_start=True, local_edge_threshold=thresh)
    rows = {(x["id"], x["depth"]) for x in r.collect()}
    assert rows == {("a", 0), ("b", 1), ("c", 2), ("d", 3)}


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_all_reachable_cyclic_terminates(spark, thresh):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "a"), ("b", "c")])
    r = iterate.all_reachable(g, g.get_vertex("a"), include_start=False,
                              local_edge_threshold=thresh)
    assert {x["id"] for x in r.collect()} == {"b", "c"}


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_all_reachable_max_depth(spark, thresh):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("c", "d")])
    r = iterate.all_reachable(g, g.get_vertex("a"), include_start=True,
                              max_depth=2, local_edge_threshold=thresh)
    assert {(x["id"], x["depth"]) for x in r.collect()} == {
        ("a", 0), ("b", 1), ("c", 2)}


def test_all_paths(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("a", "c")])
    r = iterate.all_paths(g, g.get_vertex("a"))
    paths = {tuple(x["path"]) for x in r.collect()}
    assert paths == {
        ("v:a",), ("v:a", "v:b"), ("v:a", "v:c"),
        ("v:a", "v:b", "v:c"),
    }


def test_all_paths_to(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")])
    # all paths to c; stop descending past a match (reference: all-paths-to)
    r = iterate.all_paths(g, g.get_vertex("a"), to_pred=lambda c: c == "c")
    paths = {tuple(x["path"]) for x in r.collect()}
    assert paths == {("v:a", "v:c"), ("v:a", "v:b", "v:c")}


def test_deepest(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("a", "d")])
    r = iterate.all_paths(g, g.get_vertex("a"), leaves_only=True)
    leaves = {x["id"] for x in r.collect()}
    assert leaves == {"c", "d"}


def test_all_cycles(spark):
    """G3 expected (gremlin_examples_test.clj:183-190): the 3-cycle a→b→c→a
    reported once per starting member."""
    g = cycles_graph(spark)
    r = iterate.all_cycles(g, 3, with_edges=False)
    paths = {tuple(x["path"]) for x in r.collect()}
    assert paths == {
        ("v:a", "v:b", "v:c", "v:a"),
        ("v:b", "v:c", "v:a", "v:b"),
        ("v:c", "v:a", "v:b", "v:c"),
    }


def test_all_cycles_with_edges(spark):
    g = cycles_graph(spark)
    r = iterate.all_cycles(g, 3, with_edges=True)
    paths = {tuple(x["path"]) for x in r.collect()}
    assert ("v:a", "e:knows:a:b", "v:b", "e:knows:b:c", "v:c", "e:knows:c:a", "v:a") in paths
    assert len(paths) == 3


def test_betweenness(spark):
    """G2 expected (gremlin_examples_test.clj:163-179):
    {a 15, b 29, c 21, d 21, e 29, f 15}."""
    g = betweenness_graph(spark)
    counts = {r["id"]: r["count"] for r in iterate.betweenness_counts(g).collect()}
    assert counts == {"a": 15, "b": 29, "c": 21, "d": 21, "e": 29, "f": 15}


def test_connected_components(spark):
    g = edges_graph(spark, "l", [("a", "b"), ("b", "c"), ("x", "y")])
    cc = iterate.connected_components(g)
    comps = {}
    for r in cc.collect():
        comps.setdefault(r["comp"], set()).add(r["id"])
    assert set(map(frozenset, comps.values())) == {frozenset({"a", "b", "c"}), frozenset({"x", "y"})}


def test_connected_components_chain_logarithmic_rounds(spark):
    """Star-contraction CC must converge in O(log n) rounds on a planted
    chain — the case where the former min-id propagation needed O(n)
    (one shuffle round per hop of diameter)."""
    n = 64
    ids = [f"v{i:03d}" for i in range(n)]
    g = edges_graph(spark, "l", list(zip(ids, ids[1:])))
    # threshold 0 forces the pure distributed contraction (the default
    # hybrid would finish this toy graph with the driver union-find)
    cc = iterate.connected_components(g, local_edge_threshold=0)
    rows = cc.collect()
    assert {r["comp"] for r in rows} == {"v000"}
    assert len(rows) == n
    assert iterate.LAST_CC_ROUNDS <= 12, iterate.LAST_CC_ROUNDS
    # hybrid local finish must agree with the distributed fixed point
    hybrid = {(r["id"], r["comp"])
              for r in iterate.connected_components(g).collect()}
    assert hybrid == {(r["id"], r["comp"]) for r in rows}


def test_round_telemetry_per_thread(spark):
    """LAST_CC_ROUNDS is per thread: two threads running forced-distributed
    CC at once each read the rounds of their own call, not those of
    whichever call finished last."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    ids = [f"v{i:03d}" for i in range(64)]
    graphs = {"chain": edges_graph(spark, "l", list(zip(ids, ids[1:]))),
              "pair": edges_graph(spark, "l", [("a", "b")])}
    solo = {}
    for name, g in graphs.items():
        iterate.connected_components(g, local_edge_threshold=0)
        solo[name] = iterate.LAST_CC_ROUNDS
    assert solo["chain"] != solo["pair"], solo
    both_done = threading.Barrier(2)

    def run(name):
        iterate.connected_components(graphs[name], local_edge_threshold=0)
        both_done.wait(timeout=300)  # read only after both calls returned
        return iterate.LAST_CC_ROUNDS

    with ThreadPoolExecutor(max_workers=2) as ex:
        seen = dict(zip(graphs, ex.map(run, graphs)))
    assert seen == solo
    # the main thread still reads its own most recent call
    assert iterate.LAST_CC_ROUNDS == solo["pair"]


def test_scc(spark):
    """G7 expected SCCs (graph/algo_test.clj:126-139): {{M C E}, {D G}}."""
    g = edges_graph(spark, "to", [
        ("X", "T"), ("X", "B"), ("X", "C"), ("T", "B"), ("B", "D"), ("C", "E"),
        ("E", "D"), ("E", "M"), ("M", "C"), ("D", "G"), ("G", "D"),
    ])
    # both the hybrid local-Tarjan finish (default) and the pure
    # distributed FW-BW flood path (local_edge_threshold=0) must agree
    for thresh in (200_000, 0):
        scc = iterate.strongly_connected_components(g, local_edge_threshold=thresh)
        comps = {}
        for r in scc.collect():
            comps.setdefault(r["component"], set()).add(r["id"])
        multi = {frozenset(v) for v in comps.values() if len(v) > 1}
        assert multi == {frozenset({"M", "C", "E"}), frozenset({"D", "G"})}
        # every vertex assigned exactly once (graph has 8 distinct vertices)
        assert sum(len(v) for v in comps.values()) == 8


def test_scc_flood_blocks_record_rounds(spark):
    # forced-distributed SCC on a ring: one pivot flood per direction
    # covers the ring, each block's new-vertex count goes into that
    # direction's record, and each flood ends on an empty block
    ring = [(f"r{i}", f"r{(i + 1) % 6}") for i in range(6)]
    g = edges_graph(spark, "to", ring)
    comps = {r["id"]: r["component"] for r in
             iterate.strongly_connected_components(g, local_edge_threshold=0).collect()}
    assert comps == {f"r{i}": "r0" for i in range(6)}
    for op in ("scc_fwd", "scc_bwd"):
        rows = iterate.round_rows(op)
        assert rows and rows[-1] == 0, (op, rows)
        assert sum(rows) == 5, (op, rows)   # every non-pivot vertex once
    assert iterate.LAST_SCC_ROUNDS == 1


@pytest.mark.parametrize("thresh", [200_000, 0])  # local numpy / distributed
def test_shortest_path_weighted(spark, thresh):
    from fermor_spark import PropertyGraph

    g = (
        PropertyGraph.build(spark, edge_builders={"w": "weighted"})
        .add_edges("w", [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0), ("c", "d", 1.0)])
        .forked()
    )
    d = {r["id"]: r["dist"] for r in
         iterate.shortest_path_weighted(g, g.get_vertex("a"), labels="w",
                                        local_edge_threshold=thresh).collect()}
    assert d == {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_shortest_path_negativeless_cycle_terminates(spark, thresh):
    g = edges_graph(spark, "l", [("a", "b"), ("b", "a"), ("b", "c")])
    d = {r["id"]: r["dist"] for r in
         iterate.shortest_path_weighted(g, g.get_vertex("a"), default_weight=1.0,
                                        local_edge_threshold=thresh).collect()}
    assert d == {"a": 0.0, "b": 1.0, "c": 2.0}


def test_iterate_route(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("c", "d")])
    r = iterate.iterate_route(g.get_vertex("a"), lambda x: x.out("to"), 3)
    assert r.id_set() == {"d"}
