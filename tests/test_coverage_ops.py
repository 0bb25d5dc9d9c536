"""Tests for the coverage-completion operators (dag assertion, doc removal,
merge_with, keyed branch, subpath, squares, BFS reduce, cycles without cut)."""

import json

import pytest
from pyspark.sql import functions as F

from fermor_spark import PropertyGraph, algo, iterate
from tests.fixtures import edges_graph, job_graph


def test_assert_acyclic(spark):
    dag = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("a", "c")])
    dag.assert_acyclic("to")  # no raise
    cyc = edges_graph(spark, "to", [("a", "b"), ("b", "a")])
    with pytest.raises(ValueError, match="cycle"):
        cyc.assert_acyclic("to")
    # max_iter counts emptiness checks, the first on the input edges: a
    # 3-edge chain strips to nothing in 3 rounds, and the 4th check sees it
    chain = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("c", "d")])
    with pytest.raises(ValueError, match="max iterations exceeded"):
        chain.assert_acyclic("to", max_iter=3)
    chain.assert_acyclic("to", max_iter=4)
    assert iterate.round_rows("acyclic") == [2, 1, 0]
    with pytest.raises(ValueError, match="cycle"):
        cyc.assert_acyclic("to", max_iter=1)
    assert iterate.round_rows("acyclic") == [2]
    chain.assert_acyclic("absent")  # no edges of that label: a DAG
    assert iterate.round_rows("acyclic") == []


def test_remove_documents(spark):
    g = job_graph(spark).remove_documents(["bob"])
    assert g.document("bob") is None
    assert g.document("stephen") is not None


def test_get_vertex_checked(spark):
    g = job_graph(spark)
    assert g.get_vertex_checked("bob").count() == 1
    with pytest.raises(KeyError):
        g.get_vertex_checked("nope")


def test_merge_with(spark):
    g1 = PropertyGraph.build(spark).add_edges("l", [("a", "b", {"x": 1, "y": 1})]).forked()
    g2 = PropertyGraph.build(spark).add_edges("l", [("a", "b", {"x": 2}), ("c", "d")]).forked()

    def merge(da, db):
        d = {**json.loads(da), **json.loads(db)}
        return json.dumps(d, sort_keys=True)

    m = g1.merge_with(g2, merge)
    docs = {(r["src"], r["dst"]): r["doc"] for r in m._edges_df("l").collect()}
    assert json.loads(docs[("a", "b")]) == {"x": 2, "y": 1}
    assert ("c", "d") in docs


def test_keyed_branch(spark):
    g = job_graph(spark)
    d = g.get_vertex("bob").keyed_branch(
        apps=lambda r: r.out("completes"),
        all_=lambda r: r.both(),
    )
    assert d["apps"].id_set() == {"appBob1", "appBob2"}


def test_subpath(spark):
    g = job_graph(spark)
    r = g.get_vertex("bob").with_path().out("completes").subpath(2)
    paths = {tuple(x["path"]) for x in r.paths().collect()}
    assert ("e:completes:bob:appBob1", "v:appBob1") in paths


def test_square_count(spark):
    # cube graph Q3: every vertex lies on 3 faces (4-cycles)
    edges = [("000", "001"), ("000", "010"), ("000", "100"), ("001", "011"),
             ("001", "101"), ("010", "011"), ("010", "110"), ("100", "101"),
             ("100", "110"), ("011", "111"), ("101", "111"), ("110", "111")]
    g = edges_graph(spark, "q", edges)
    sq = {r["id"]: r["squares"] for r in iterate.square_count(g).collect()}
    assert all(v == 3 for v in sq.values()), sq
    # plain square
    g2 = edges_graph(spark, "q", [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")])
    sq2 = {r["id"]: r["squares"] for r in iterate.square_count(g2).collect()}
    assert all(v == 1 for v in sq2.values()), sq2


def test_all_paths_with_cycles(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "a")])
    out = iterate.all_paths_with_cycles(g, g.get_vertex("a"), max_depth=3)
    paths = {tuple(x["path"]) for x in out.collect()}
    assert ("v:a", "v:b", "v:a", "v:b") in paths  # cycles allowed, depth-bounded


def test_breadth_first_reduce(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("a", "c"), ("b", "d")])
    succ, _ = algo.collect_adjacency(g)
    order = algo.breadth_first_reduce(succ, "a", [], lambda acc, v: acc + [v])
    assert order[0] == "a" and set(order) == {"a", "b", "c", "d"}

    def until_c(acc, v):
        if v == "c":
            raise StopIteration
        return acc + [v]

    partial = algo.breadth_first_reduce(succ, "a", [], until_c)
    assert "d" not in partial


def test_update_documents(spark):
    import json as _json

    g = job_graph(spark)

    def upcase_name(doc):
        if doc is None:
            return None
        d = _json.loads(doc)
        if "name" in d:
            d["name"] = d["name"].upper()
        return _json.dumps(d, sort_keys=True)

    g2 = g.update_documents(upcase_name, vids=["bob"])
    assert g2.document("bob")["name"] == "BOB"
    assert g2.document("stephen")["name"] == "Stephen"
    g3 = g.update_documents(upcase_name)
    assert g3.document("stephen")["name"] == "STEPHEN"
