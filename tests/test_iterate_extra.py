"""Tests for descend, path-carrying shortest paths, save/load, small parity ops."""

import tempfile

import pytest
from pyspark.sql import functions as F

from fermor_spark import PropertyGraph, iterate
from tests.fixtures import edges_graph, job_graph, rec_graph


def test_descend_generic(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("c", "d"), ("b", "x")])
    # emit only vertices > 'b', stop descending below 'c'
    out = iterate.descend(
        g, g.get_vertex("a"),
        children=lambda r: r.out("to"),
        emit_pred=F.col("id") > "b",
        descend_pred=F.col("id") != "c",
    )
    rows = {(r["id"], r["_depth"]) for r in out.collect()}
    assert rows == {("c", 2), ("x", 2)}  # d never reached (cut below c)


def test_descend_all_levels(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c")])
    out = iterate.descend(g, g.get_vertex("a"), children=lambda r: r.out("to"))
    assert {(r["id"], r["_depth"]) for r in out.collect()} == {
        ("a", 0), ("b", 1), ("c", 2)}


def test_shortest_path_with_routes(spark):
    g = (
        PropertyGraph.build(spark, edge_builders={"w": "weighted"})
        .add_edges("w", [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0), ("c", "d", 1.0)])
        .forked()
    )
    got = {r["id"]: (r["dist"], tuple(r["path"])) for r in
           iterate.shortest_path_with_routes(g, g.get_vertex("a"), labels="w").collect()}
    assert got["d"] == (3.0, ("a", "b", "c", "d"))
    assert got["c"] == (2.0, ("a", "b", "c"))


def test_save_load_roundtrip(spark):
    g = job_graph(spark)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/graph"
        g.save(path)
        g2 = PropertyGraph.load(spark, path)
        assert g.graph_equals(g2)
        assert g2.get_vertex("bob").out("completes").id_set() == {"appBob1", "appBob2"}
        # label partitioning on disk
        import os
        assert any(d.startswith("label=") for d in os.listdir(f"{path}/edges"))


def test_with_values(spark):
    g = job_graph(spark)
    # people whose applications apply to a blueprints job
    people = g.vertices().has_property("type", "person").with_values(
        lambda r: r.out("completes").out("appliesTo"), ["blueprintsJob3"]
    )
    assert people.id_set() == {"stephen"}


def test_lookup_and_index_by(spark):
    g = rec_graph(spark)
    assert g.lookup("person", "alice").out("bought").count() == 5
    idx = g.vertices("person").index_by()
    assert set(idx.keys()) == {f"person:{p}" for p in ["alice", "bob", "jon", "jack", "jill"]}


def test_merge_round_robin(spark):
    from fermor_spark.route import Route

    g = job_graph(spark)
    r = Route.merge_round_robin([g.get_vertex("bob"), g.get_vertex("stephen")])
    assert r.count() == 2


def test_merge_round_robin_ordered_interleave(spark):
    """With an order key, the merge is a faithful fair interleave: one
    element from each still-live branch in turn (uneven branch lengths —
    the exhausted branch simply drops out, like the reference's rotation)."""
    from fermor_spark.graph import PropertyGraph
    from fermor_spark.route import Route

    g = PropertyGraph.build(spark).add_edges(
        "l", [("a", "a1"), ("a", "a2"), ("a", "a3"), ("b", "b1")]).forked()
    b1 = g.get_vertex("a").out("l")   # a1 a2 a3
    b2 = g.get_vertex("b").out("l")   # b1
    merged = Route.merge_round_robin([b1, b2], order_by="id")
    assert [r["id"] for r in merged.df.collect()] == ["a1", "b1", "a2", "a3"]


def test_bucketed_save_colocated_join(spark):
    """src-bucketed persisted edges join on src WITHOUT a shuffle exchange —
    the co-located traversal-join story at scale."""
    import tempfile

    g = job_graph(spark)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/bg"
        g.save(path, bucket_by_src=4)
        name = "fermor_edges_" + path.strip("/").replace("/", "_").replace("-", "_").replace(".", "_")
        t = spark.table(name)
        j = t.alias("a").join(t.alias("b"), "src").select("src")
        plan = j._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "Exchange hashpartitioning" not in plan, plan
        assert j.count() > 0
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_betweenness_size_guard(spark):
    import pytest

    from fermor_spark.algo import SizeGuardError
    from tests.fixtures import betweenness_graph

    g = betweenness_graph(spark)
    with pytest.raises(SizeGuardError):
        iterate.betweenness_counts(g, max_vertices=2)


def test_descend_control_signals(spark):
    """The reference's 8 control signals (core_test.clj:18-164) mapped to
    emit_pred/descend_pred combinations. The siblings/chain bits govern
    lazy-seq sequencing and the `cut` family's truncate-remaining-SIBLINGS
    effect — both order-dependent, with no distributed meaning (SURVEY
    §4.3); subtree semantics (what is emitted / what descends) are
    reproduced exactly. Fixture: 0 -> [1,2,3], 2 -> [9], starts {0,-1,-2}.
    """
    g = edges_graph(spark, "c", [("0", "1"), ("0", "2"), ("0", "3"), ("2", "9")])
    start = g.get_vertices(["0", "-1", "-2"])

    def run(emit_pred=None, descend_pred=None):
        out = iterate.descend(
            g, start, lambda r: r.out("c"),
            emit_pred=emit_pred, descend_pred=descend_pred, max_depth=5,
        )
        return {r["id"] for r in out.select("id").collect()}

    # continue (never emit) -> []
    assert run(emit_pred=F.lit(False)) == set()
    # emit unless v == 0, descend everywhere (emit vs continue per element)
    assert run(emit_pred=F.col("id") != "0") == {"1", "2", "3", "9", "-1", "-2"}
    # emit, never descend (the bare `emit` signal)
    assert run(descend_pred=F.lit(False)) == {"0", "-1", "-2"}
    # cut at 2: no emit, no descent below -> 9 unreachable
    assert run(emit_pred=F.col("id") != "2",
               descend_pred=F.col("id") != "2") == {"0", "1", "3", "-1", "-2"}
    # emit-and-cut at 2: emitted but its subtree pruned -> 9 unreachable
    assert run(descend_pred=F.col("id") != "2") == {"0", "1", "2", "3", "-1", "-2"}
    # ignore negatives, cut at 2 (emit-and-continue elsewhere)
    assert run(emit_pred=~F.col("id").startswith("-") & (F.col("id") != "2"),
               descend_pred=F.col("id") != "2") == {"0", "1", "3"}


# ---------------------------------------------- rankings / communities / cores


@pytest.mark.parametrize("thresh", [200_000, 0])  # local numpy / distributed
def test_pagerank_matches_numpy_reference(spark, thresh):
    # triangle a->b->c->a, pendant d->a, dangling sink c->e
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("c", "e")]
    g = edges_graph(spark, "to", edges)
    got = {r["id"]: r["rank"] for r in
           iterate.pagerank(g, iters=12, damping=0.85,
                            local_edge_threshold=thresh).collect()}

    import numpy as np
    ids = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    out = {}
    for u, v in edges:
        out.setdefault(u, []).append(v)
    r = np.full(n, 1.0 / n)
    for _ in range(12):
        nxt = np.full(n, (1 - 0.85) / n)
        dm = sum(r[idx[u]] for u in ids if u not in out)
        nxt += 0.85 * dm / n
        for u, vs in out.items():
            for v in vs:
                nxt[idx[v]] += 0.85 * r[idx[u]] / len(vs)
        r = nxt
    for v in ids:
        assert abs(got[v] - r[idx[v]]) < 1e-9, v
    # redistribute conserves total rank mass
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_pagerank_dangling_none_leaks(spark, thresh):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c")])  # c dangling
    got = iterate.pagerank(g, iters=5, dangling="none",
                           local_edge_threshold=thresh)
    assert got.agg(F.sum("rank")).first()[0] < 1.0


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_pagerank_null_vertex_id_excluded(spark, thresh):
    """Raw-constructor graphs (no construction-time null filter) can hand
    pagerank a null endpoint; the universe must drop it BEFORE n is
    counted, else the local finish builds len(ids)=n-1 against a length-n
    rank vector (ValueError) and 1/n is skewed by a phantom vertex."""
    from fermor_spark import PropertyGraph

    e = spark.createDataFrame(
        [("to", "a", "b", None, None), ("to", "b", "a", None, None),
         ("to", None, "a", None, None)],
        "label string, src string, dst string, weight double, doc string")
    g = PropertyGraph(spark, edges=e, forked=True)
    got = {r["id"]: r["rank"] for r in
           iterate.pagerank(g, iters=5, local_edge_threshold=thresh).collect()}
    assert set(got) == {"a", "b"}
    # with the phantom excluded, n=2: the a<->b 2-cycle is symmetric
    assert abs(got["a"] - 0.5) < 1e-9 and abs(got["b"] - 0.5) < 1e-9


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_shortest_path_null_source_dropped(spark, thresh):
    """A null id in a raw sources DataFrame is not a source: locally it
    would KeyError at d[ix[None]] (ids excludes None); distributed, a null
    join key matches nothing — both legs drop it."""
    from fermor_spark import PropertyGraph

    g = (PropertyGraph.build(spark, edge_builders={"w": "weighted"})
         .add_edges("w", [("a", "b", 1.0), ("b", "c", 2.0)])
         .forked())
    srcs = spark.createDataFrame([("a",), (None,)], "id string")
    d = {r["id"]: r["dist"] for r in
         iterate.shortest_path_weighted(g, srcs, labels="w",
                                        local_edge_threshold=thresh).collect()}
    assert d == {"a": 0.0, "b": 1.0, "c": 3.0}


def test_shortest_path_null_source_does_not_eat_limit_slot(spark):
    """The local-leg source probe collects limit(threshold+1) DISTINCT ids
    to decide whether the source set fits. A null row occupying one of
    those slots would let len(starts) pass the threshold check while real
    sources beyond the limit were silently truncated — the null drop must
    precede the limit. With threshold=3 and 4 non-null sources (+1 null),
    the probe must overflow to the distributed leg and every source must
    come back at dist 0 (ADVICE r14, iterate.py local-leg probe)."""
    from fermor_spark import PropertyGraph

    edges = [(f"s{i}", "hub", 1.0) for i in range(4)]
    g = (PropertyGraph.build(spark, edge_builders={"w": "weighted"})
         .add_edges("w", edges)
         .forked())
    srcs = spark.createDataFrame(
        [(None,)] + [(f"s{i}",) for i in range(4)], "id string")
    d = {r["id"]: r["dist"] for r in
         iterate.shortest_path_weighted(g, srcs, labels="w",
                                        local_edge_threshold=3).collect()}
    assert d == {f"s{i}": 0.0 for i in range(4)} | {"hub": 1.0}


def test_label_propagation_path_iterations(spark):
    # path a-b-c; sync min-tie-break LPA has exact per-iteration values
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c")])
    l1 = {r["id"]: r["community"] for r in
          iterate.label_propagation(g, iters=1).collect()}
    assert l1 == {"a": "b", "b": "a", "c": "b"}
    l2 = {r["id"]: r["community"] for r in
          iterate.label_propagation(g, iters=2).collect()}
    assert l2 == {"a": "a", "b": "b", "c": "a"}


def test_label_propagation_two_cliques(spark):
    clique1 = [("a", "b"), ("a", "c"), ("b", "c")]
    clique2 = [("x", "y"), ("x", "z"), ("y", "z")]
    g = edges_graph(spark, "to", clique1 + clique2 + [("c", "x")])
    out = {r["id"]: r["community"] for r in
           iterate.label_propagation(g, iters=4).collect()}
    # deterministic: two runs agree exactly, and the cliques never merge
    out2 = {r["id"]: r["community"] for r in
            iterate.label_propagation(g, iters=4).collect()}
    assert out == out2
    # each clique is internally uniform, and the two never merge (labels may
    # hop the bridge — clique2 ends up under c's ORIGINAL label — but the
    # partition into two communities is what LPA promises)
    assert len({out[v] for v in "abc"}) == 1
    assert len({out[v] for v in "xyz"}) == 1
    assert out["a"] != out["x"]


@pytest.mark.parametrize("thresh", [200_000, 0])  # local finish / distributed
def test_k_core_triangle_with_chain(spark, thresh):
    g = edges_graph(
        spark, "to",
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
    )
    got = {r["id"]: r["deg"] for r in
           iterate.k_core(g, k=2, local_edge_threshold=thresh).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}  # chain c-d-e peeled tail-first


def test_k_core_distributed_stops_at_fixed_point(spark):
    """The distributed peel stops in the round that reaches the fixed
    point: each round's probe is (survivors, next frontier size), and an
    empty next frontier ends the loop without a further, empty round."""
    # triangle + tail c-d-e: e goes in round 1, d in round 2, and the
    # triangle left has no vertex below k
    g = edges_graph(
        spark, "to",
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e")],
    )
    got = {r["id"]: r["deg"] for r in
           iterate.k_core(g, k=2, local_edge_threshold=0).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    assert iterate.LAST_KCORE_ROUNDS == 2
    assert iterate.round_rows("kcore") == [(4, 1), (3, 0)]
    # a 6-chain peels from both ends, two vertices a round, to nothing
    chain = edges_graph(spark, "to", [(f"v{i}", f"v{i + 1}")
                                      for i in range(5)])
    assert iterate.k_core(chain, k=2, local_edge_threshold=0).count() == 0
    assert iterate.round_rows("kcore") == [(4, 2), (2, 2), (0, 0)]


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_k_core_empty_when_no_core(spark, thresh):
    # K4 minus one edge has no 3-core (cascading removal empties it)
    g = edges_graph(
        spark, "to",
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d")],
    )
    assert iterate.k_core(g, k=3, local_edge_threshold=thresh).count() == 0


@pytest.mark.parametrize("thresh", [200_000, 0])
def test_k_core_parallel_edges_count_once(spark, thresh):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "a"), ("a", "b")])
    assert iterate.k_core(g, k=2, local_edge_threshold=thresh).count() == 0
