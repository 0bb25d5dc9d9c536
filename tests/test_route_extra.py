"""Tests for the extended Route surface, subgraph, triangles, layout,
NetworkX interop."""

import pytest
from pyspark.sql import functions as F

from fermor_spark import iterate, layout
from tests.fixtures import edges_graph, job_graph


def test_section_and_make_pairs(spark):
    g = job_graph(spark)
    people = g.vertices().has_property("type", "person")
    pairs = people.make_pairs(lambda r: r.out("completes"))
    got = {(r["left"], r["right"]) for r in pairs.collect()}
    assert got == {
        ("bob", "appBob1"), ("bob", "appBob2"),
        ("stephen", "appStephen1"), ("stephen", "appStephen2"),
    }


def test_sorted_section(spark):
    g = job_graph(spark)
    people = g.vertices().has_property("type", "person")
    rows = {r["_section"]: r["items"] for r in
            people.sorted_section(lambda r: r.out("completes")).collect()}
    assert rows == {
        "bob": ["appBob1", "appBob2"],
        "stephen": ["appStephen1", "appStephen2"],
    }


def test_gather_spread(spark):
    from fermor_spark.route import Route

    g = job_graph(spark)
    gathered = g.vertices().has_property("type", "person").gather()
    row = gathered.collect()[0]
    assert sorted(row["items"]) == ["bob", "stephen"]
    back = Route.spread(gathered)
    assert {r["id"] for r in back.collect()} == {"bob", "stephen"}


def test_take_drop(spark):
    g = edges_graph(spark, "l", [(f"v{i:02d}", "x") for i in range(10)])
    r = g.vertices().where(F.col("id") != "x").take_drop(2, 3, 2)
    # sorted ids v00..v09; take 2 (v00,v01), drop 3, take 2 (v05,v06)
    assert r.id_set() == {"v00", "v01", "v05", "v06"}
    r2 = g.vertices().where(F.col("id") != "x").drop_take(3, 2)
    assert r2.id_set() == {"v03", "v04"}


def test_pluck_and_subseq(spark):
    g = edges_graph(spark, "l", [("a", "b"), ("b", "c"), ("c", "d")])
    assert g.vertices().pluck(F.col("id") > "a").id_set() == {"b"}
    r = g.vertices().subseq_route("id", lo="b", hi="c")
    assert r.ids() == ["b", "c"]


def test_sorted_traversals(spark):
    g = edges_graph(spark, "l", [("p", "c"), ("p", "a"), ("p", "b")])
    out = g.get_vertex("p").out_sorted("l")
    assert out.ids() == ["a", "b", "c"]


def test_is_cycle_no_cycle(spark):
    g = edges_graph(spark, "k", [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d"), ("c", "d")])
    cyc = g.vertices().is_cycle("k", max_len=3)
    assert cyc.id_set() == {"a", "b", "c"}
    assert g.vertices().no_cycle("k", max_len=3).id_set() == {"d"}


def test_subgraph_from_paths(spark):
    g = job_graph(spark)
    r = g.get_vertex("bob").with_path().out_e("completes").in_v().out_e("appliesTo").in_v()
    sub = r.subgraph()
    assert set(sub.edges().edge_tuples()) == {
        ("completes", "bob", "appBob1"), ("completes", "bob", "appBob2"),
        ("appliesTo", "appBob1", "blueprintsJob1"), ("appliesTo", "appBob2", "blueprintsJob2"),
    }


def test_triangle_count(spark):
    g = edges_graph(spark, "t", [
        ("a", "b"), ("b", "c"), ("c", "a"),       # triangle abc
        ("c", "d"), ("d", "e"), ("e", "c"),       # triangle cde
        ("e", "f"),                                # tail
    ])
    t = {r["id"]: r["triangles"] for r in iterate.triangle_count(g).collect()}
    assert t == {"a": 1, "b": 1, "c": 2, "d": 1, "e": 1, "f": 0}


def test_force_atlas_runs_and_contracts(spark):
    g = edges_graph(spark, "l", [("a", "b"), ("b", "c"), ("c", "a"), ("d", "a")])
    pos0 = layout.init_positions(g)
    pos = layout.force_atlas(g, iterations=5)
    rows = pos.collect()
    assert len(rows) == 4
    assert all(r["x"] is not None and r["y"] is not None for r in rows)
    # gravity pulls the layout toward the origin on average
    import math
    def spread(df):
        return sum(math.hypot(r["x"], r["y"]) for r in df.collect())
    assert spread(pos) < spread(pos0) * 1.5


def test_force_atlas_rejects_unknown_keywords(spark):
    """The force constants are named parameters: a misspelled constant or
    a fixed ``speed`` raises instead of being ignored."""
    g = edges_graph(spark, "l", [("a", "b"), ("b", "c")])
    with pytest.raises(TypeError, match="gravty"):
        layout.force_atlas(g, iterations=2, gravty=9.0)
    with pytest.raises(TypeError, match="speed"):
        layout.force_atlas(g, iterations=2, speed=5.0)
    base = {r["id"]: (r["x"], r["y"])
            for r in layout.force_atlas(g, iterations=2).collect()}
    heavy = {r["id"]: (r["x"], r["y"])
             for r in layout.force_atlas(g, iterations=2, gravity=9.0).collect()}
    assert base.keys() == heavy.keys() and base != heavy


def test_to_networkx(spark):
    pytest.importorskip("networkx")
    g = job_graph(spark)
    G = g.to_networkx()
    assert G.number_of_edges() == 12
    assert G.nodes["bob"]["doc"]["name"] == "Bob"
    assert G["blueprints"]["blueprintsJob1"][0]["label"] == "created"


def test_rsubseq_route(spark):
    from fermor_spark.route import Route

    g = job_graph(spark)
    nat = g.vertices()
    r = Route(g, nat.degree(), "v").rsubseq_route("degree", 2, 3)
    rows = [x["degree"] for x in r.df.collect()]
    assert rows == sorted(rows, reverse=True)
    assert all(2 <= d <= 3 for d in rows)


def test_reset_path_and_no_path_one(spark):
    g = job_graph(spark)
    r = g.get_vertex("blueprints").with_path().out("created")
    full = {x["id"]: x["path"] for x in r.df.select("id", "path").collect()}
    assert all(len(p) == 3 for p in full.values())  # v, e, v
    one = {x["id"]: x["path"] for x in r.no_path_one().df.select("id", "path").collect()}
    assert one == {k: p[:-1] for k, p in full.items()}
    for x in r.reset_path().df.select("id", "path").collect():
        assert x["path"] == [f"v:{x['id']}"]


def test_prevent_and_no_cycles(spark):
    import pytest

    from tests.fixtures import cycles_graph

    g = cycles_graph(spark)
    # expand 3 hops with cycles allowed; prevent_cycles keeps acyclic paths
    r = g.vertices().with_path().out().out().out()
    kept = r.prevent_cycles()
    assert kept.count() < r.count()
    for row in kept.df.select("path").collect():
        vs = [p for p in row["path"] if p.startswith("v:")]
        assert len(vs) == len(set(vs))
    with pytest.raises(ValueError, match="no_cycles"):
        r.no_cycles()
    # an acyclic route passes through unchanged
    ac = g.vertices().with_path().out()
    assert ac.no_cycles().count() == ac.count()


def test_reload(spark):
    from fermor_spark import PropertyGraph

    g1 = PropertyGraph.build(spark).add_edges("l", [("a", "b"), ("b", "c")]).forked()
    g2 = PropertyGraph.build(spark).add_edges("l", [("a", "b")]).forked()
    r = g1.vertices().reload(g2)
    assert r.g is g2
    assert r.id_set() == {"a", "b"}  # 'c' gone in the new version


def test_add_edge_vertex_returning(spark):
    from fermor_spark import PropertyGraph

    g = PropertyGraph.build(spark)
    g, e = g.add_edge_returning("l", "a", "b", doc={"x": 1})
    row = e.collect()[0]
    assert (row["src"], row["dst"]) == ("a", "b")
    g, v = g.add_vertex_returning("z", {"k": 2})
    assert v.ids() == ["z"]
    assert g.forked().document("z") == {"k": 2}


def test_force_atlas_adaptive_damps_overshoot(spark):
    # the reference's swinging/traction speed adaptation (force_atlas.clj:
    # 37-42, 104-119): where a large fixed speed oscillates and diverges,
    # the adaptive controller detects the swinging and throttles — the run
    # contracts toward the origin instead of exploding
    import math

    g = edges_graph(spark, "l", [
        ("a", "b"), ("b", "c"), ("c", "a"), ("d", "a"), ("d", "e"), ("e", "f")])

    def spread(df):
        rows = df.collect()
        return sum(math.hypot(r["x"], r["y"]) for r in rows) / len(rows)

    pos = layout.init_positions(g)
    s0 = spread(pos)
    for _ in range(12):
        pos = layout.force_atlas_step(g, pos, speed=5.0).localCheckpoint()
    runaway = spread(pos)
    adaptive = spread(layout.force_atlas(g, iterations=12, jitter_tolerance=0.5))
    assert runaway > s0 * 10      # fixed speed 5.0 diverges on this fixture
    assert adaptive < s0          # adaptive contracts instead
    assert len(iterate.round_rows("force_atlas")) == 12


def test_distinct_in(spark):
    g = edges_graph(spark, "l", [("a", "b"), ("a", "c"), ("b", "c")])
    seen = g.get_vertices(["c"])
    out = g.get_vertex("a").out("l").distinct_in(seen)
    assert out.id_set() == {"b"}
