"""Graph construction / builder / mutation tests.

Expected values from the reference's committed assertions
(test/fermor/core_test.clj:167-208 for edge flavours).
"""

import json

from pyspark.sql import functions as F

from fermor_spark import PropertyGraph
from fermor_spark.session import local_frame
from tests.fixtures import edge_flavours_graph, edges_graph, job_graph


def test_vertices_implicit_existence(spark):
    g = edge_flavours_graph(spark)
    # reference: (= #{:a :b :c :x :y} (set (map element-id (vertices g))))
    assert g.vertices().id_set() == {"a", "b", "c", "x", "y"}


def test_unique_edge_last_wins(spark):
    g = edge_flavours_graph(spark)
    docs = {
        (r["src"], r["dst"]): r["doc"]
        for r in g._edges_df("normal").collect()
    }
    # reference: (= #{nil {:x 1}} (set (documents (out-e :normal ...))))
    assert json.loads(docs[("a", "b")]) == {"x": 1}
    assert docs[("b", "c")] is None


def test_weighted_edges_sum(spark):
    g = edge_flavours_graph(spark)
    w = {(r["src"], r["dst"]): r["weight"] for r in g._edges_df("w").collect()}
    # reference: #{11.0 23.0}
    assert w == {("a", "b"): 23.0, ("b", "c"): 11.0}


def test_parallel_edges_merged_doc(spark):
    g = edge_flavours_graph(spark)
    docs = {(r["src"], r["dst"]): json.loads(r["doc"]) for r in g._edges_df("p").collect()}
    # reference merged doc shapes, core_test.clj:192-206
    assert docs[("a", "b")] == {
        "parallel/count": 7,
        "0": {"x": 10}, "1": {"x": 2}, "3": {"x": 3}, "4": {"x": 4},
        "5": {"k": 2}, "6": {"k": 9},
    }
    assert docs[("x", "y")] == {"parallel/count": 1}
    assert docs[("b", "c")] == {"parallel/count": 2, "0": {"x": 11}, "1": {"x": 11}}


def test_vertex_documents(spark):
    g = job_graph(spark)
    assert g.document("bob") == {"type": "person", "name": "Bob"}
    assert g.document("appBob1") is None


def test_set_documents(spark):
    g = job_graph(spark).set_documents([("bob", {"name": "Robert"}), ("newv", {"a": 1})])
    assert g.document("bob") == {"name": "Robert"}
    assert g.document("newv") == {"a": 1}


def test_transpose(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c")])
    t = g.transpose()
    assert set(t.edges().edge_tuples()) == {("to", "b", "a"), ("to", "c", "b")}


def test_remove_vertices_and_edges(spark):
    g = edges_graph(spark, "to", [("a", "b"), ("b", "c"), ("c", "d")])
    g2 = g.remove_vertices(["b"])
    assert set(g2.edges().edge_tuples()) == {("to", "c", "d")}
    g3 = g.remove_edges([("to", "b", "c")])
    assert set(g3.edges().edge_tuples()) == {("to", "a", "b"), ("to", "c", "d")}


def test_merge_last_wins(spark):
    g1 = PropertyGraph.build(spark).add_edges("l", [("a", "b", {"v": 1}), ("x", "y")]).forked()
    g2 = PropertyGraph.build(spark).add_edges("l", [("a", "b", {"v": 2})]).forked()
    m = g1.merge(g2)
    docs = {(r["src"], r["dst"]): r["doc"] for r in m._edges_df("l").collect()}
    assert json.loads(docs[("a", "b")]) == {"v": 2}
    assert ("x", "y") in docs


def test_degrees(spark):
    g = job_graph(spark)
    d = {r["id"]: r["degree"] for r in g.degrees().collect()}
    # reference centrality expected: gremlin_examples_test.clj:128-140
    assert d["blueprints"] == 3
    assert d["rexster"] == 1
    for v in ["bob", "stephen", "appBob1", "appBob2", "appStephen1", "appStephen2",
              "blueprintsJob1", "blueprintsJob2", "blueprintsJob3", "rexsterJob1"]:
        assert d[v] == 2, v


def test_vertices_with_edge(spark):
    g = job_graph(spark)
    ids = {r["id"] for r in g.vertices_with_edge("created").collect()}
    assert ids == {"blueprints", "rexster", "blueprintsJob1", "blueprintsJob2",
                   "blueprintsJob3", "rexsterJob1"}


def test_graph_equality(spark):
    g1 = edges_graph(spark, "l", [("a", "b"), ("b", "c")])
    g2 = edges_graph(spark, "l", [("b", "c"), ("a", "b")])
    g3 = edges_graph(spark, "l", [("a", "b")])
    assert g1.graph_equals(g2)
    assert not g1.graph_equals(g3)


def test_undirected_view(spark):
    g = edges_graph(spark, "l", [("a", "b")])
    u = g.undirected_view()
    assert u.count() == 2


def test_from_dataframes(spark):
    e = spark.createDataFrame([("l", "a", "b")], "label string, src string, dst string")
    g = PropertyGraph.from_dataframes(spark, e)
    assert g.vertices().id_set() == {"a", "b"}


def test_re_add_vertex_last_wins(spark):
    # reference put semantics (src/fermor/graph.clj:377-384): re-adding a
    # vertex with a new doc replaces the old doc after forked()
    g = (
        PropertyGraph.build(spark)
        .add_vertices([("a", {"v": 1}), ("b", {"v": 9})])
        .add_vertices([("a", {"v": 2})])
        .forked()
    )
    assert g.document("a") == {"v": 2}
    assert g.document("b") == {"v": 9}


def test_re_add_vertex_nil_doc_does_not_clobber(spark):
    # a later nil-doc add records existence but keeps the earlier document
    g = (
        PropertyGraph.build(spark)
        .add_vertices([("a", {"v": 1})])
        .add_vertices(["a", "c"])
        .forked()
    )
    assert g.document("a") == {"v": 1}
    assert g.vertices().id_set() == {"a", "c"}


def test_add_vertices_on_forked_resolves(spark):
    g = PropertyGraph.build(spark).add_vertices([("a", {"v": 1})]).forked()
    g2 = g.add_vertices([("a", {"v": 2})])
    assert g2.document("a") == {"v": 2}
    assert g2.V.where(F.col("id") == "a").count() == 1


def test_add_edges_multibatch_dataframe_last_wins(spark):
    # batch ordering must dominate within-batch ids: a multi-partition first
    # batch once outranked later batches via monotonically_increasing_id's
    # partition component (ADVICE r1)
    b1 = spark.createDataFrame(
        [("a", "b", '{"v":1}'), ("c", "d", '{"v":1}')],
        "src string, dst string, doc string",
    ).repartition(8)
    b2 = spark.createDataFrame(
        [("a", "b", '{"v":2}')], "src string, dst string, doc string"
    )
    g = PropertyGraph.build(spark).add_edges("l", b1).add_edges("l", b2).forked()
    docs = {(r["src"], r["dst"]): r["doc"] for r in g._edges_df("l").collect()}
    assert json.loads(docs[("a", "b")]) == {"v": 2}


def test_set_documents_routes_edges(spark):
    # reference set-documents routes per element type (graph.clj:90-102):
    # one call can update a vertex doc and an edge doc
    g = (
        PropertyGraph.build(spark)
        .add_vertices([("a", {"v": 1})])
        .add_edges("l", [("a", "b", {"w": 1})])
        .forked()
    )
    g2 = g.set_documents([("a", {"v": 9}), (("l", "a", "b"), {"w": 9})])
    assert g2.document("a") == {"v": 9}
    edoc = g2.get_edge("l", "a", "b").collect()[0]["doc"]
    assert json.loads(edoc) == {"w": 9}


def test_set_edge_documents_upserts(spark):
    g = PropertyGraph.build(spark).add_edges("l", [("a", "b", {"w": 1})]).forked()
    g2 = g.set_edge_documents([("l", "a", "b", {"w": 2}), ("l", "b", "c", {"w": 3})])
    docs = {(r["src"], r["dst"]): r["doc"] for r in g2._edges_df("l").collect()}
    assert json.loads(docs[("a", "b")]) == {"w": 2}
    assert json.loads(docs[("b", "c")]) == {"w": 3}  # created
    assert g2.vertices().id_set() == {"a", "b", "c"}  # implicit existence


def test_update_edge_documents(spark):
    g = (
        PropertyGraph.build(spark)
        .add_edges("l", [("a", "b", {"n": 1})])
        .add_edges("m", [("b", "c", {"n": 5})])
        .forked()
    )

    def bump(doc):
        d = json.loads(doc) if doc else {}
        d["n"] = d.get("n", 0) + 1
        return json.dumps(d)

    g2 = g.update_edge_documents(bump, labels="l")
    docs = {(r["label"], r["src"], r["dst"]): r["doc"] for r in g2.E.collect()}
    assert json.loads(docs[("l", "a", "b")]) == {"n": 2}
    assert json.loads(docs[("m", "b", "c")]) == {"n": 5}  # untouched


def test_add_edges_on_loaded_graph_keeps_existing(spark):
    # a graph wrapped via from_dataframes has no build columns; add_edges
    # must lift it (batch 0) and keep the pre-existing edges through forked()
    e = spark.createDataFrame([("l", "a", "b")], "label string, src string, dst string")
    g = PropertyGraph.from_dataframes(spark, e)
    g2 = g.add_edges("l", [("b", "c")]).forked()
    assert set(g2.edges().edge_tuples()) == {("l", "a", "b"), ("l", "b", "c")}
    # and a re-add of the SAME edge in a new batch wins over the loaded row
    g3 = g.add_edges("l", [("a", "b", {"v": 2})]).forked()
    docs = {(r["src"], r["dst"]): r["doc"] for r in g3._edges_df("l").collect()}
    assert json.loads(docs[("a", "b")]) == {"v": 2}


def test_forked_passes_untouched_parallel_rows(spark):
    """forked()'s unique builder collapses only keys that some batch
    touched: two identical loaded rows under a label no write touched
    survive an add_edges on another label, while a write to the same key
    still collapses it to the last row."""
    e = local_frame(spark, [("l2", "a", "b"), ("l2", "a", "b"), ("l1", "x", "y")],
                    "label string, src string, dst string")
    g = PropertyGraph.from_dataframes(spark, e)
    g2 = g.add_edges("l1", [("x", "z")]).forked()
    assert sorted(g2._edges_df("l2").select("src", "dst").collect()) == [("a", "b")] * 2
    assert set(g2.edges("l1").edge_tuples()) == {("l1", "x", "y"), ("l1", "x", "z")}
    g3 = g.add_edges("l2", [("a", "b", {"v": 1})]).forked()
    rows = g3._edges_df("l2").collect()
    assert len(rows) == 1 and json.loads(rows[0]["doc"]) == {"v": 1}


def test_null_endpoint_edges_dropped(spark):
    """The construction null-endpoint rule: an edge with a null src or dst
    (the orphan shape a null FK produces) is not an edge — dropped by
    from_dataframes and add_edges — and a null-id vertex row is dropped
    too. Joins already made such rows unreachable; undropped they leaked a
    phantom null vertex id into vertex_ids() and crashed the iterative
    hybrids' driver-side local finishes (null-FK sweep finding)."""
    e = spark.createDataFrame(
        [("l", "a", "b"), ("l", None, "c"), ("l", "c", None),
         ("l", "c", "d")],
        "label string, src string, dst string")
    v = spark.createDataFrame([("a",), (None,), ("d",)], "id string")
    g = PropertyGraph.from_dataframes(spark, e, vertices=v)
    assert set(g.edges().edge_tuples()) == {("l", "a", "b"), ("l", "c", "d")}
    assert {r["id"] for r in g.V.collect()} == {"a", "d"}

    g2 = (PropertyGraph.build(spark)
          .add_edges("l", spark.createDataFrame(
              [("a", "b"), (None, "b"), ("b", None)], "src string, dst string"))
          .forked())
    assert set(g2.edges().edge_tuples()) == {("l", "a", "b")}
    # no phantom null vertex from either path
    assert None not in {r["id"] for r in g.vertex_ids().collect()}
    assert None not in {r["id"] for r in g2.vertex_ids().collect()}
