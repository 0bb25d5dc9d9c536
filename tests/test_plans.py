"""Plan contracts: physical-plan properties asserted as tests.

A correct result with a degraded plan is a silent 100-TB incident — these
tests pin the load-bearing plan shapes (scan pushdown, column pruning,
absence of cartesian/nested-loop joins, shuffle-free sampling) so a
refactor that breaks one fails CI instead of the cluster.
"""

import io
from contextlib import redirect_stdout

import pytest

from fermor_spark import queries as q

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def registry():
    # union: plan contracts apply to retired (parity-swept, benchable)
    # rows exactly as to gated ones — q19's disjunctive-pushdown pin
    # outlives its r14 retirement from the driver gate
    return {**q.all_queries(), **q.retired_queries()}


def test_q1_pushdown_and_pruning(spark, registry):
    p = plan_of(registry["q1_pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # projection pruning: the 16-column lineitem scan reads only the 7 used
    assert "l_orderkey" not in p.split("ReadSchema")[1].splitlines()[0]


def test_q19_disjunctive_pushdown_both_sides(spark, registry):
    p = plan_of(registry["q19_discounted_revenue"](spark, SF))
    assert p.count("Or(Or(And(") >= 2  # residuals pushed to BOTH scans
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sampling_is_shuffle_free(spark, registry):
    p = plan_of(registry["sample_stratified_source"](spark, SF))
    assert "Exchange" not in p
    # column pruning: only (doc_id, source) of the 5 columns reach the query.
    # If another test cached a plan-identical documents read, the scan is an
    # InMemoryTableScan — pruning then shows as a 2-column Output instead of
    # the parquet ReadSchema.
    if "InMemoryTableScan" in p:
        assert "Output [2]: [doc_id" in p
    else:
        assert "struct<doc_id:bigint,source:string>" in p


def test_split_counts_single_shuffle(spark, registry):
    # hash_split + groupBy: exactly the one aggregation exchange
    p = plan_of(registry["sample_split_counts"](spark, SF))
    assert p.count("+- Exchange") == 1


def test_dedup_joins_are_keyed(spark, registry):
    # candidate generation must stay an equi-join on the blocking key —
    # never an all-pairs product
    for name in ("dedup_minhash_lsh", "dedup_ngram_jaccard", "text_fingerprint_overlap"):
        p = plan_of(registry[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_two_hop_is_two_joins_one_plan(spark, registry):
    p = plan_of(registry["g_2hop_region"](spark, SF))
    # whole traversal is one Catalyst plan: no more than the 2 hop joins +
    # kind lookup; and the per-hop edge scans prune to the used labels
    assert "CartesianProduct" not in p


def test_dim_joins_broadcast(spark, registry):
    # q5 joins 4 dimensions: all should be broadcast, not sort-merge
    p = plan_of(registry["q5_local_supplier_volume"](spark, SF))
    assert p.count("BroadcastHashJoin") >= 3


def test_tpch_r6_tail_plan_shapes(spark, registry):
    """The r6 TPC-H completions: dimension joins broadcast, predicates
    pushed to the scans, no cartesian/nested-loop product anywhere (q11's
    scalar-aggregate crossJoin is a broadcast of a 1-row frame — it plans
    as BroadcastNestedLoopJoin by construction and is exempt)."""
    for name in ("q2_min_cost_supplier", "q16_supplier_relationship",
                 "q20_potential_promotion"):
        plan = plan_of(registry[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "PushedFilters: [" in plan, name
        assert plan.count("BroadcastHashJoin") >= 1, name
    p11 = plan_of(registry["q11_important_stock"](spark, SF))
    assert "CartesianProduct" not in p11
    # the only nested-loop is the broadcast 1-row total (the q22 pattern);
    # formatted explain prints each node twice (tree + detail section)
    assert p11.count("BroadcastNestedLoopJoin") <= 2
    assert "PushedFilters: [" in p11


def test_tpch_tail_no_sort_merge_or_cartesian(spark, registry):
    """The 8 r5 TPC-H shapes must compile to broadcast/equi joins with
    pushed filters — no SortMergeJoin at toy SF (AQE downgrades), and
    never a cartesian/nested-loop product."""
    for name in ("q8_market_share", "q9_product_profit", "q15_top_supplier",
                 "q17_small_quantity_revenue", "q21_waiting_supplier",
                 "q22_idle_customers"):
        plan = plan_of(registry[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan or name == "q22_idle_customers", name
        assert "PushedFilters: [" in plan, name


def test_lsh_banding_single_scan(spark, registry):
    """LSH banding must be ONE explode projection — the per-band union
    re-evaluated the signature aggregation once per band per self-join
    side (the 16x recomputation fixed in r5). One Generate node per
    self-join leg, not bands-many signature aggregates."""
    from fermor_spark.pipeline import dedup

    # synthetic input: the documents-table shingle plan may be cached by
    # other tests, and CacheManager substitution changes the node counts
    d = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(4)],
        "doc_id long, text string")
    sigs = dedup.minhash_signatures(d, "doc_id", "text", 16)
    plan = plan_of(dedup.lsh_candidates(sigs, 8, 2))
    # the md5 signature aggregation must not be replicated per band: with
    # 8 bands the union form planned 16+ signature HashAggregate pairs;
    # the explode form needs only the per-leg partial/final pairs plus
    # the final distinct (~6 HashAggregate nodes total)
    assert plan.count("HashAggregate") <= 10, plan.count("HashAggregate")


def test_salted_join_has_no_skew_key_exchange(spark, registry):
    """skew.salted_join joins on (key, salt): the physical join keys must
    include the salt column so one hot key spreads across tasks."""
    plan = plan_of(registry["skew_salted_join_brands"](spark, SF))
    assert "_salt" in plan


def test_ensure_parallelism_semantics(spark):
    from fermor_spark.session import ensure_parallelism

    low = spark.createDataFrame([(i,) for i in range(100)], "x long").coalesce(1)
    spread = ensure_parallelism(low)
    assert spread.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    assert spread.count() == 100
    # already-parallel inputs pass through untouched (no extra shuffle)
    wide = spark.range(100).repartition(64)
    assert ensure_parallelism(wide) is wide


def test_local_frame_round_trip(spark):
    """local_frame keeps what the list path kept: None and NaN doubles
    stay distinct, unicode and binary values and full-width bigints
    survive, and zero rows give the same schema."""
    import math

    from fermor_spark.session import local_frame

    ddl = "s string, x double, b binary, n bigint"
    rows = [("é中\U0001f600", float("nan"), b"\x00\xff", 2 ** 63 - 1),
            (None, None, None, None),
            ("", -0.5, b"", -(2 ** 63))]
    df = local_frame(spark, rows, ddl)
    got = df.collect()
    assert math.isnan(got[0]["x"]) and got[1]["x"] is None
    assert [tuple(r) for r in got[1:]] == rows[1:]
    assert (got[0]["s"], bytes(got[0]["b"]), got[0]["n"]) == rows[0][:1] + rows[0][2:]
    assert df.where("x IS NULL").count() == 1 and df.where("isnan(x)").count() == 1
    empty = local_frame(spark, [], ddl)
    assert empty.schema == df.schema and empty.count() == 0
    assert empty.schema.simpleString() == "struct<s:string,x:double,b:binary,n:bigint>"
    with pytest.raises(ValueError):
        local_frame(spark, [("a",)], ddl)


def _leaf_names(df) -> list:
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_graph_driver_rows_plan_as_local_relation(spark):
    """Every PropertyGraph entry point that takes driver-side rows plans
    them as a LocalRelation — a LogicalRDD leaf there means a pickled
    Python RDD with no statistics, which starts Python workers on each
    action that reads it."""
    import networkx as nx

    from fermor_spark import PropertyGraph

    # an earlier test's cached frame with the same (empty) rows would stand
    # in for the LocalRelation as an InMemoryRelation leaf
    spark.catalog.clearCache()
    built = PropertyGraph.build(spark)
    # parquet-backed V and E, so no join or union below folds away as
    # an empty relation and hides the driver-row leaf
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    loaded = PropertyGraph.from_dataframes(
        spark,
        nation.selectExpr("'l' AS label", "CAST(n_nationkey AS STRING) AS src",
                          "CAST(n_regionkey AS STRING) AS dst"),
        vertices=nation.selectExpr("CAST(n_nationkey AS STRING) AS id"))
    G = nx.DiGraph()
    G.add_edge("a", "b", weight=1.0)
    cases = {
        "__init__.V": built.V,
        "__init__.E": built.E,
        "add_edges": loaded.add_edges("l", [("1", "9")]).E,
        "add_vertices": loaded.add_vertices([("1", {"d": 1})]).V,
        "get_vertex": loaded.get_vertex("1").df,
        "get_vertices": loaded.get_vertices(["1", "2"]).df,
        "set_documents": loaded.set_documents([("1", {"d": 1})]).V,
        "set_edge_documents": loaded.set_edge_documents([("l", "1", "1", {"d": 1})]).E,
        "remove_vertices": loaded.remove_vertices(["1"]).E,
        "remove_documents": loaded.remove_documents(["1"]).V,
        "remove_edges": loaded.remove_edges([("l", "1", "1")]).E,
        "from_networkx": PropertyGraph.from_networkx(spark, G).E,
    }
    for name, df in cases.items():
        leaves = _leaf_names(df)
        assert "LogicalRDD" not in leaves, (name, leaves)
        assert "LocalRelation" in leaves, (name, leaves)


def test_id_tokens_repartition_gated_by_size(spark, monkeypatch, tmp_path):
    """_id_tokens only adds its keyed repartition when the source is BOTH
    under-parallel AND large enough to amortize the exchange — unconditional,
    it doubled the small-SF winnowing cold plan (r5 bench regression)."""
    from fermor_spark.pipeline import text as T

    # parquet-backed so Catalyst has a real size estimate (in-memory
    # LogicalRDDs report unknown size, which conservatively keeps the
    # scale-safe repartitioned path)
    spark.createDataFrame(
        [(i, "a b c d e") for i in range(10)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(tmp_path / "docs"))
    small = spark.read.parquet(str(tmp_path / "docs"))
    # small under-parallel input: gate must SKIP the repartition
    plan = T._id_tokens(small, "doc_id", "text")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "RepartitionByExpression" not in plan
    # same input claimed to be huge: gate must FIRE, hash-keyed on id
    monkeypatch.setattr(T, "_REPARTITION_MIN_BYTES", 0)
    plan_big = T._id_tokens(small, "doc_id", "text")._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert "RepartitionByExpression" in plan_big and "id" in plan_big
    # already-parallel inputs never repartition regardless of size
    # (still claimed huge via the monkeypatched threshold)
    wide = small.repartition(64)
    plan_wide = T._id_tokens(wide, "doc_id", "text")._jdf.queryExecution() \
        .optimizedPlan().toString()
    # the input's own round-robin repartition stays; no keyed one is added
    assert "Repartition 64" in plan_wide
    assert "RepartitionByExpression" not in plan_wide


def test_managed_cache_release(spark):
    """Operators register query-scoped caches; release_caches() unpersists
    them all (the long-session / bench cache-hygiene contract)."""
    from fermor_spark import session as S

    df = spark.range(100)
    cached = S.managed_cache(df)
    assert cached.count() == 100
    assert cached.storageLevel.useMemory
    n = S.release_caches()
    assert n >= 1
    assert not cached.storageLevel.useMemory
    assert S.release_caches() == 0  # idempotent when empty


def test_duplicated_spans_plan_contract(spark, registry):
    """ESD span plan must stay 100% JVM (no Python eval node — the gram
    explosion is sequence+explode, not a UDF), read only (doc_id, text)
    from the documents scan, and push the length(text) >= k filter down
    as a data filter. Shuffles are bounded: gram-hash count aggregate,
    per-doc window, and (at test scale) a broadcast of the dup-gram set."""
    from fermor_spark.pipeline.dedup import duplicated_spans
    from fermor_spark.session import release_caches

    # the contract pins the operator's plan against the PARQUET SCAN, but
    # Spark's cache manager substitutes any matching plan fragment with an
    # earlier test's cached full-schema InMemoryRelation (cache lookup is
    # plan-based, not object-based) — clear the cache so the explain is
    # deterministic under any test order; cached fixtures elsewhere
    # degrade to lazy recompute, not breakage
    spark.catalog.clearCache()
    d = spark.read.parquet(f"{SF}/documents.parquet")
    p = plan_of(duplicated_spans(d, "doc_id", "text", k=20))
    release_caches()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "mapInPandas" not in p and "FlatMapGroupsInPandas" not in p
    scan_schemas = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert scan_schemas and all(
        "lang" not in ln and "source" not in ln and "n_chars" not in ln
        for ln in scan_schemas)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_token_budget_window_is_source_keyed_no_global_sort(spark, registry):
    """token_budget's cumulative sum must run as ONE window over the
    source partitions: exactly one exchange keyed by source feeding the
    window, and no single-partition global sort (Exchange SinglePartition
    / rangepartitioning would serialize the corpus through one task)."""
    p = plan_of(registry["sample_token_budget"](spark, SF))
    assert "hashpartitioning(source" in p
    assert "rangepartitioning" not in p
    assert "Exchange SinglePartition" not in p
    assert p.count("Window") >= 1


def test_bloom_probe_is_broadcast_no_sort_merge(spark, registry):
    """The Bloom membership gate's probe side must stay map-side: the
    truth join is a BroadcastHashJoin and the plan has no SortMergeJoin
    or CartesianProduct — at 100 TB the probed table never shuffles; only
    the finished filter (a broadcast variable) and the distinct member
    keys move."""
    plan = plan_of(registry["sketch_bloom_membership"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_url_canonicalization_is_scan_stage_only(spark, registry):
    """URL canonicalization + literal-blocklist filtering is claimed to
    run at scan speed: the gate's plan must contain NO exchange, no
    join, and no Python evaluation — one codegen'd project over the
    parquet scan."""
    plan = plan_of(registry["pipeline_url_canonical"](spark, SF))
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_read_warc_html_one_python_node(spark, tmp_path):
    """The fused WARC reader runs record walk and HTML extraction in one
    Python node: its executed plan has exactly one (a MapInPandas) and no
    ArrowEvalPython, where html_to_text(read_warc(...)) has two. Each
    Python node costs a worker task per partition."""
    from fermor_spark.pipeline.html import html_to_text
    from fermor_spark.pipeline.warc import (read_warc, read_warc_html,
                                            warc_bytes)
    from tests.fixtures import executed_plan_nodes

    python_nodes = ("MapInPandas", "FlatMapGroupsInPandas",
                    "ArrowEvalPython", "BatchEvalPython", "MapInArrow",
                    "PythonMapInArrow")
    (tmp_path / "a.warc.gz").write_bytes(warc_bytes(
        [{"url": f"http://w/{i}", "payload": b"<p>x</p>"} for i in range(3)]))

    def python_names(df):
        plans = executed_plan_nodes(spark, df.collect)
        return [name for nodes in plans.values() for name, _ in nodes
                if name.startswith(python_nodes)]

    fused = python_names(read_warc_html(spark, str(tmp_path)))
    assert len(fused) == 1 and fused[0].startswith("MapInPandas"), fused
    composed = python_names(html_to_text(read_warc(spark, str(tmp_path)),
                                         col="payload"))
    assert len(composed) == 2 and any(
        n.startswith("ArrowEvalPython") for n in composed), composed


def test_banding_plans_are_union_free(spark, registry):
    """r13 pin on the banding recompute trap (fixed 4× across rounds:
    lsh_candidates r12, incremental minhash c420cbe, simhash + minhash_lsh
    + lsh_topk tables + force-atlas replication r13): banded/replicated
    candidate generation must be ONE array-explode projection. A Union in
    these plans means per-band/table selects came back — each re-evaluates
    the expensive upstream (signature groupBy / corpus scan) once per
    band per join side, the silent 100-TB recompute incident."""
    for name in ["dedup_simhash_candidates", "dedup_minhash_lsh",
                 "events_funnel_conversion"]:
        p = plan_of(registry[name](spark, SF))
        assert "Union" not in p, f"{name}: banding/step union reappeared"

    from pyspark.sql import functions as F

    from fermor_spark.pipeline.dedup import (minhash_signatures,
                                             lsh_candidates)
    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text") \
        .withColumnRenamed("doc_id", "id")
    sigs = minhash_signatures(d, "id", "text", num_hashes=8)
    assert "Union" not in plan_of(lsh_candidates(sigs, 4, 2))

    from fermor_spark.pipeline.similarity import lsh_topk
    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = e.limit(3)
    assert "Union" not in plan_of(
        lsh_topk(e, qs, k=3, id_col="vec_id", vec_col="embedding",
                 num_planes=3, num_tables=4))


def test_gopher_repetition_single_window_pass(spark):
    """Plan contract for the r17 fully per-row gopher_repetition: every
    output is a per-document number, so the plan carries ZERO Window
    nodes, zero joins and zero aggregation shuffles — the dup-line stats
    are a run-length fold over the sorted line array and the top-n-gram
    char masses are run-length folds over sorted arrays_zip gram arrays,
    all behind single-row explode(array(...)) evaluation barriers (the
    line array, the dup fold, and the token array — the only three
    Generates). The pre-r17 shapes this pins against: the per-n loop's
    three window sorts over recomputed explodes, and the r13 lead-window
    + (id, n, ngram) count + struct-max form."""
    from fermor_spark.pipeline.text import gopher_repetition

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    import re as _re

    p = plan_of(gopher_repetition(d, "doc_id", "text"))
    # formatted explain prints each node once in the tree and once in the
    # detail section — count the detail headers "(NN) Window"
    n_window = len(_re.findall(r"\(\d+\) Window", p))
    n_generate = len(_re.findall(r"\(\d+\) Generate", p))
    assert n_window == 0, (n_window, p)
    assert "Union" not in p
    assert "Join" not in p
    assert n_generate <= 3, (n_generate, p)


def test_dedup_family_window_free(spark):
    """Plan contract for the KEPT r17 per-row dedup rewrites:
    shingle_table builds complete n-grams as arrays_zip slices of the
    barrier token array (no lead() windows) and ngram_jaccard's PPJoin
    prefix slices each doc's rarity-sorted shingle array in the row (no
    row_number/count window pair) — both plans carry ZERO Window nodes.

    The ESD span pair (duplicated_spans / cut_spans) is deliberately NOT
    pinned window-free anymore: its r17 per-row merge was adopted on a
    neutral local A/B and REVERTED in r18 after the VERDICT-mandated
    4x-SF tree A/B read it 1.13-1.32x slower than the window cascade
    (the per-doc collect_list of every duplicated position costs more
    than the window's partition sort, and the gap grows with SF). The
    spans plans are pinned to the measured window shape instead."""
    import re as _re

    from fermor_spark.pipeline.dedup import (cut_spans, duplicated_spans,
                                             ngram_jaccard_pairs,
                                             shingle_table)

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for name, df in (
            ("shingle_table", shingle_table(d, "doc_id", "text", 3)),
            ("ngram_jaccard_pairs",
             ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.8)),
    ):
        p = plan_of(df)
        n_window = len(_re.findall(r"\(\d+\) Window", p))
        assert n_window == 0, (name, n_window)
    for name, df, max_w in (
            ("duplicated_spans",
             duplicated_spans(d, "doc_id", "text", k=20, min_count=2), 2),
            ("cut_spans",
             cut_spans(d, "doc_id", "text", k=20, min_count=2, min_span=40),
             2),
    ):
        p = plan_of(df)
        n_window = len(_re.findall(r"\(\d+\) Window", p))
        assert 1 <= n_window <= max_w, (name, n_window)


def test_doc_stats_project_below_generate(spark):
    """Plan contract for the r15 per-exploded-row recompute fix: in
    gopher_quality / quality_score / gopher_repetition, the doc-level
    statistic expressions (split + filter lambdas + regexp over the full
    text) must sit in a Project BELOW the token/line Generate, evaluating
    once per document. A single select(stats..., explode(...)) puts them
    ABOVE the Generate where they re-evaluate once per exploded row —
    measured 5x on gopher_quality at sf0.1 and the mechanism behind its
    three-record driver drift (r12-r14)."""
    from fermor_spark.pipeline.text import (gopher_quality,
                                            gopher_repetition,
                                            quality_score)

    d = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    # markers are the EXPENSIVE doc-level expressions (not the alias names:
    # float grouping keys reprint as `knownfloatingpointnormalized(...) AS
    # _alpha` inside the partial aggregate, a false positive above the
    # Generate). Plans print root-first, so below-the-Generate = a LARGER
    # string index than the Generate that consumes the stats.
    from fermor_spark.pipeline.text import c4_filters

    # gopher_repetition (r17 per-row dup-line fold): the per-line explode
    # is gone — the run-length fold rides a single-row explode(array(
    # aggregate(...))) barrier and the doc-length stat _tc sits below it,
    # evaluated once per document by construction.
    for fn, gen_marker, stat_marker in (
            (gopher_quality, "Generate", "regexp_replace"),
            (quality_score, "Generate", "regexp_replace"),
            (c4_filters, "Generate", "regexp_replace"),
            (gopher_repetition, "Generate explode(array(aggregate",
             "AS _tc")):
        plan = fn(d, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        gen_i = plan.find(gen_marker)
        stat_i = plan.find(stat_marker)
        assert gen_i != -1 and stat_i != -1, (fn.__name__, plan[:500])
        assert stat_i > gen_i, (
            f"{fn.__name__}: doc-stat expression '{stat_marker}' appears "
            f"ABOVE the Generate — re-evaluates per exploded row")


def test_square_count_single_wedge_pass(spark, registry):
    """square_count must compute the wedge join ONCE: per-pair wedge
    multiplicity m comes from a single Window over (a, z), and the three
    credit streams (both endpoints + middle) explode out of that one
    pass. The pre-r16 shape referenced the un-persisted wedge join from
    FOUR subtrees (40 Exchange nodes at gate shape vs 13 now) — at scale
    the wedge set dwarfs the edge set and recomputing it is the same
    recompute class as the r15 Generate fix."""
    import re as _re

    p = plan_of(registry["g_square_count_bipartite"](spark, SF))
    assert len(_re.findall(r"\(\d+\) Window", p)) == 1, p
    assert len(_re.findall(r"\(\d+\) Generate", p)) == 1, p
    n_exch = len(_re.findall(r"\(\d+\) Exchange", p))
    assert n_exch <= 20, f"wedge recompute came back: {n_exch} exchanges"


def test_broadcast_frontier_pins_build_side(spark, registry):
    """broadcast_frontier() must make every hop join a BroadcastHashJoin
    that builds the FRONTIER side in the INITIAL plan (no AQE repair
    needed, no edge-side exchange), stick through chained hops and
    carried columns, and leave the un-hinted default untouched. The r15
    recommender measurement: un-hinted, AQE fixed the SortMergeJoins only
    after the edge shuffle map stages ran and built the EDGE side."""
    import re as _re

    from fermor_spark.datasets import star_graph

    g = star_graph(spark, SF)
    cust = g.vertices("customer").where("id = 'c:1'")
    hinted = cust.broadcast_frontier().out("in_nation").in_("in_nation")
    p = plan_of(hinted.df)
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 2, p
    assert "SortMergeJoin" not in p
    # the hinted build side is the frontier projection (_fid), never __e_
    assert "BuildLeft" in p or "BuildRight" in p
    # recommender gate carries the pin end to end: all three hop joins
    # (plus the kind lookup) broadcast in the INITIAL plan; the one
    # SortMergeJoin left is the anti-join against the full bought table
    # (its 590k-row right side has no compile-time stats and must not be
    # frontier-hinted — at 100 TB it stays a shuffle by design)
    p2 = plan_of(registry["g_recommender"](spark, SF))
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", p2)) >= 3, p2
    assert len(_re.findall(r"\(\d+\) SortMergeJoin", p2)) <= 1, p2


def test_point_filters_auto_broadcast_frontier(spark):
    """is_/one_of bound the frontier by a literal id list, so they
    auto-apply a ONE-HOP broadcast hint — the immediately following hop
    must be an initial-plan BroadcastHashJoin, but the hint is CONSUMED
    by that hop (after an expansion the frontier is unbounded and a
    forced broadcast could OOM the driver at scale). The negated filters
    (isnt/none_of) leave the default, and the explicit
    broadcast_frontier() opt-in stays sticky."""
    import re as _re

    from fermor_spark.datasets import star_graph

    g = star_graph(spark, SF)
    hop = g.vertices("nation").one_of(["n:1", "n:5"]).out("in_region")
    p = plan_of(hop.df)
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", p)) >= 1, p
    assert "SortMergeJoin" not in p
    # the auto hint survives intermediate filters but not the hop itself
    filtered = g.vertices().is_("n:1").where("id IS NOT NULL")
    assert getattr(filtered, "_bcast_auto", False)
    assert not getattr(filtered, "_broadcast_frontier", False)
    hopped = g.vertices().is_("n:1").out("in_region")
    assert not getattr(hopped, "_bcast_auto", True)
    hopped_both = g.vertices().is_("n:1").both("in_region")
    assert not getattr(hopped_both, "_bcast_auto", True)
    # siblings builds from its hop result too (ADVICE r16 medium): the
    # pre-r17 shape rebuilt from the PRE-hop route, resurrecting the
    # spent hint for the next hop over an unbounded expanded frontier
    hopped_sib = g.vertices().one_of(["n:1", "n:5"]).siblings("in_region")
    assert not getattr(hopped_sib, "_bcast_auto", True)
    # ...while the sticky explicit opt-in still propagates through it
    sticky_sib = g.vertices().is_("n:1").broadcast_frontier().siblings("in_region")
    assert getattr(sticky_sib, "_broadcast_frontier", False)
    # explicit opt-in is sticky through hops
    sticky = g.vertices().is_("n:1").broadcast_frontier().out("in_region")
    assert getattr(sticky, "_broadcast_frontier", False)
    # negated filters stay un-hinted
    assert not getattr(g.vertices().isnt("n:1"), "_bcast_auto", False)
    assert not getattr(g.vertices().none_of(["n:1"]), "_bcast_auto", False)


def test_planner_sizes_kind_scan_and_kcore_joins(spark):
    """The kind scan (vertices(kind), vertices().of_kind(kind)) and
    k-core's peel joins carry no broadcast hint, so the session's
    autoBroadcastJoinThreshold alone picks the join. At the session
    threshold the kind join's initial plan is a BroadcastHashJoin and
    the analyzed plan has no ResolvedHint; at 1 KB the same joins plan
    SortMergeJoin (a hint would force the broadcast past any threshold).
    The values agree at both thresholds."""
    import re as _re

    from fermor_spark import iterate
    from fermor_spark.datasets import star_graph
    from tests.fixtures import edges_graph, executed_plan_nodes

    g = star_graph(spark, SF)
    # a 200-vertex ring with pendant chains: distributed k-core peels the
    # chains over several rounds, and its frontier outgrows 1 KB
    pairs = ([(f"r{i}", f"r{(i + 1) % 200}") for i in range(200)]
             + [(f"r{i}", f"p{i}") for i in range(0, 200, 2)]
             + [(f"p{i}", f"q{i}") for i in range(0, 200, 4)])
    kg = edges_graph(spark, "to", pairs)

    def run():
        kind = {"vertices": g.vertices("nation").df,
                "of_kind": g.vertices().of_kind("nation").df}
        joins = {k: _re.findall(r"\(\d+\) (BroadcastHashJoin|SortMergeJoin)",
                                plan_of(df)) for k, df in kind.items()}
        hinted = {k: "ResolvedHint" in
                  df._jdf.queryExecution().analyzed().toString()
                  for k, df in kind.items()}
        values = {k: sorted(r["id"] for r in df.collect())
                  for k, df in kind.items()}
        core = {}
        nodes = executed_plan_nodes(spark, lambda: core.update(
            (r["id"], r["deg"]) for r in
            iterate.k_core(kg, k=2, local_edge_threshold=0).collect()))
        names = [n for ns in nodes.values() for n, _ in ns]
        return joins, hinted, values, core, names

    key = "spark.sql.autoBroadcastJoinThreshold"
    session = spark.conf.get(key)
    try:
        joins, hinted, values, core, names = run()
        spark.conf.set(key, "1024")
        joins_1k, hinted_1k, values_1k, core_1k, names_1k = run()
    finally:
        spark.conf.set(key, session)

    for k in ("vertices", "of_kind"):
        assert joins[k] == ["BroadcastHashJoin"], (k, joins[k])
        assert joins_1k[k] == ["SortMergeJoin"], (k, joins_1k[k])
        assert not hinted[k] and not hinted_1k[k]
    assert "BroadcastHashJoin" in names and "SortMergeJoin" not in names
    assert "SortMergeJoin" in names_1k and "BroadcastHashJoin" not in names_1k
    assert values == values_1k and len(values["vertices"]) == 25
    assert values["vertices"] == values["of_kind"]
    assert core == core_1k and len(core) == 200
    assert set(core.values()) == {2}


def test_first_kind_scan_runs_one_execution(spark):
    """A fresh graph's first vertices(kind) is one SQL execution: the
    kind scan pays no separate size probe of V before the query runs."""
    from fermor_spark import PropertyGraph
    from tests.fixtures import executed_plan_nodes

    g = (PropertyGraph.build(spark)
         .add_vertices([("c:1", None, "customer"), ("c:2", None, "customer"),
                        ("n:1", None, "nation")])
         .add_edges("in_nation", [("c:1", "n:1"), ("c:2", "n:1")])
         .forked())
    got = []
    nodes = executed_plan_nodes(spark, lambda: got.extend(
        r["id"] for r in g.vertices("customer").df.collect()))
    assert sorted(got) == ["c:1", "c:2"]
    assert len(nodes) == 1, nodes
