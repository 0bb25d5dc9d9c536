"""Micro-graph fixtures mirroring the reference test suite (see FIXTURES.md).

Expected values in the tests come from the reference's committed test
assertions (cited per test); comparison is multiset/set-based where the
reference's own tests wrap results in `set`. ``executed_plan_nodes``
and ``plan_node_metrics`` read executed plans and their SQL metrics
back from Spark's SQL status store.
"""

from fermor_spark import PropertyGraph


def job_graph(spark) -> PropertyGraph:
    """G1 — reference: test/fermor/gremlin_examples_test.clj:10-28."""
    return (
        PropertyGraph.build(spark)
        .add_edges("completes", [("bob", "appBob1"), ("bob", "appBob2"),
                                 ("stephen", "appStephen1"), ("stephen", "appStephen2")])
        .add_edges("appliesTo", [("appBob1", "blueprintsJob1"), ("appBob2", "blueprintsJob2"),
                                 ("appStephen1", "rexsterJob1"), ("appStephen2", "blueprintsJob3")])
        .add_edges("created", [("blueprints", "blueprintsJob1", {"creationDate": "12/20/2015"}),
                               ("blueprints", "blueprintsJob2", {"creationDate": "12/15/2015"}),
                               ("blueprints", "blueprintsJob3", {"creationDate": "12/16/2015"}),
                               ("rexster", "rexsterJob1", {"creationDate": "12/18/2015"})])
        .add_vertices([("bob", {"type": "person", "name": "Bob"}),
                       ("stephen", {"type": "person", "name": "Stephen"}),
                       ("blueprints", {"type": "company", "name": "Blueprints, Inc"}),
                       ("rexster", {"type": "company", "name": "Rexster, LLC"})])
        .forked()
    )


def betweenness_graph(spark) -> PropertyGraph:
    """G2 — reference: gremlin_examples_test.clj:153-156."""
    return (
        PropertyGraph.build(spark)
        .add_edges("next", [("a", "b"), ("b", "c"), ("b", "d"), ("c", "e"), ("d", "e"), ("e", "f")])
        .forked()
    )


def cycles_graph(spark) -> PropertyGraph:
    """G3 — reference: gremlin_examples_test.clj:158-161."""
    return (
        PropertyGraph.build(spark)
        .add_edges("knows", [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("c", "d")])
        .forked()
    )


def rec_graph(spark) -> PropertyGraph:
    """G4 recommender (KindId ids → 'kind:id' strings + kind column) —
    reference: gremlin_examples_test.clj:221-237."""
    bought = []
    for i in range(3, 8):
        bought.append((f"person:alice", f"product:{i}"))
    for i in range(1, 6):
        bought.append((f"person:bob", f"product:{i}"))
    for i in range(6, 11):
        bought.append((f"person:jon", f"product:{i}"))
    for i in range(1, 11, 2):
        bought.append((f"person:jack", f"product:{i}"))
    for i in range(2, 11, 2):
        bought.append((f"person:jill", f"product:{i}"))
    people = [(f"person:{p}", None, "person") for p in ["alice", "bob", "jon", "jack", "jill"]]
    products = [(f"product:{i}", None, "product") for i in range(1, 11)]
    return (
        PropertyGraph.build(spark)
        .add_edges("bought", bought)
        .add_vertices(people + products)
        .forked()
    )


def edge_flavours_graph(spark) -> PropertyGraph:
    """G5 — reference: core_test.clj:167-208."""
    return (
        PropertyGraph.build(spark, edge_builders={"w": "weighted", "p": "parallel"})
        .add_edges("normal", [("a", "b", {"k": 9}), ("a", "b", {"x": 1}),
                              ("b", "c", {"bc": "ski"}), ("b", "c")])
        .add_edges("p", [("a", "b", {"x": 10}), ("b", "c", {"x": 11}), ("b", "c", {"x": 11}),
                         ("a", "b", {"x": 2}), ("a", "b"), ("x", "y"), ("a", "b", {"x": 3}),
                         ("a", "b", {"x": 4}), ("a", "b", {"k": 2}), ("a", "b", {"k": 9})])
        .add_edges("w", [("a", "b", 10), ("b", "c", 11), ("a", "b", 2), ("a", "b", 2),
                         ("a", "b", 2), ("a", "b", 2), ("a", "b", 5)])
        .forked()
    )


def edges_graph(spark, label, pairs) -> PropertyGraph:
    return PropertyGraph.build(spark).add_edges(label, pairs).forked()


def executed_plan_nodes(spark, action) -> dict:
    """Run ``action()``; return ``{execution id: [(node name, node desc),
    ...]}`` for each SQL execution it started, read from the SQL status
    store (``executionsList`` / ``planGraph``, which work with the UI
    off) after the listener bus has drained."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()

    def ids():
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return {ex.executionId()
                for ex in conv.asJava(store.executionsList())}

    before = ids()
    action()
    return {eid: [(n.name(), n.desc())
                  for n in conv.asJava(store.planGraph(eid).allNodes())]
            for eid in sorted(ids() - before)}


def plan_node_metrics(spark, execution_id) -> list:
    """``{metric name: value}`` for each node of one SQL execution's plan,
    in the order ``executed_plan_nodes`` lists the nodes."""
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    values = conv.asJava(store.executionMetrics(execution_id))
    return [{m.name(): values.get(m.accumulatorId())
             for m in conv.asJava(n.metrics())}
            for n in conv.asJava(store.planGraph(execution_id).allNodes())]
