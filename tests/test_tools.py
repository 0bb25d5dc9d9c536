"""Pin tools/round_close_check's record-resolution contract (VERDICT r10
#2: the r10 close compared ZERO shared per-query keys and printed
"clean"). These tests make the fix durable: the loader must resolve the
overflow-guard detail pointer to the committed per-round snapshot, strip
scalar keys from the tail parse, and REFUSE vacuous comparisons."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from round_close_check import load_driver_record  # noqa: E402


def _write(path, obj):
    with open(path, "w") as fh:
        json.dump(obj, fh)
    return str(path)


def test_parsed_queries_path(tmp_path):
    p = _write(tmp_path / "BENCH_r97.json",
               {"n": 97, "parsed": {"queries": {"q1": 1.5, "dd_x": 0.2}}})
    assert load_driver_record(p) == {"q1": 1.5, "dd_x": 0.2}


def test_overflow_guard_resolves_committed_snapshot(tmp_path, monkeypatch):
    import round_close_check as rcc

    monkeypatch.setattr(rcc, "REPO", str(tmp_path))
    _write(tmp_path / "BENCH_DETAIL_r98.json",
           {"queries": {"q1_pricing_summary": 2.0}})
    p = _write(tmp_path / "BENCH_r98.json",
               {"n": 98, "parsed": {"queries": {},
                                    "detail": "BENCH_DETAIL.json"}})
    assert load_driver_record(p) == {"q1": 2.0}   # short_key applied


def test_overflow_guard_without_snapshot_refuses(tmp_path, monkeypatch):
    import round_close_check as rcc

    monkeypatch.setattr(rcc, "REPO", str(tmp_path))
    p = _write(tmp_path / "BENCH_r99.json",
               {"n": 99, "parsed": {"queries": {},
                                    "detail": "BENCH_DETAIL.json"}})
    with pytest.raises(ValueError, match="vacuous"):
        load_driver_record(p)


def test_tail_parse_strips_scalar_keys(tmp_path):
    tail = ('{"metric":"x","value":83.15,"queries":{"q1":1.25},"sf":0.1,'
            '"rounds":{"cc":3,"kcore":23,"scc":2,"bf":3,"bfs":0},'
            '"sched_floor":9.19}')
    p = _write(tmp_path / "BENCH_r96.json", {"n": 96, "tail": tail})
    assert load_driver_record(p) == {"q1": 1.25}


def test_tail_parse_only_scalars_refuses(tmp_path):
    # exactly the r10 failure: six junk scalar keys parse, zero queries
    tail = ('"value":83.15,"sf":0.1,"cc":3,"kcore":23,"scc":2,"bf":3,'
            '"bfs":0,"sched_floor":9.1')
    p = _write(tmp_path / "BENCH_r95.json", {"n": 95, "tail": tail})
    with pytest.raises(ValueError, match="vacuous"):
        load_driver_record(p)


def test_load_current_accepts_driver_record_wrapper(tmp_path):
    """VERDICT r15 #5: --cur handed a driver-record wrapper used to crash
    with an opaque ValueError (d.get('queries', d) picked up the
    wrapper's `tail` string) — it must fall back to the driver-record
    loader instead."""
    from round_close_check import load_current

    p = _write(tmp_path / "BENCH_r93.json",
               {"n": 93, "tail": '{"queries":{"q1":1.25},"sf":0.1}',
                "parsed": {"queries": {"q1": 1.25}, "sf": 0.1}})
    assert load_current(p) == {"q1": 1.25}
    # tail-only wrapper (the r7 shape) also resolves
    p2 = _write(tmp_path / "BENCH_r92.json",
                {"n": 92, "tail": '{"queries":{"q1":0.5},"sf":0.1}'})
    assert load_current(p2) == {"q1": 0.5}
    # and an empty plain dict still refuses vacuous comparison
    p3 = _write(tmp_path / "empty.json", {"queries": {}})
    with pytest.raises(ValueError, match="vacuous"):
        load_current(p3)


def test_legacy_keymap_conflict_warns(tmp_path, monkeypatch, capsys):
    """ADVICE r15 low: if the same short key maps to DIFFERENT full names
    in different rounds' key_maps, last-file-wins silently mistranslates
    older records — the union builder must warn."""
    import round_close_check as rcc

    monkeypatch.setattr(rcc, "REPO", str(tmp_path))
    rcc._LEGACY_CACHE.pop(str(tmp_path), None)
    _write(tmp_path / "BENCH_DETAIL_r01.json",
           {"key_map": {"alpha_query_one": "aq1"}})
    _write(tmp_path / "BENCH_DETAIL_r02.json",
           {"key_map": {"another_query_one": "aq1"}})
    m = rcc._legacy_full_of()
    err = capsys.readouterr().err
    assert "key_map conflict" in err and "'aq1'" in err
    assert m["aq1"] == "another_query_one"  # documented last-wins
    rcc._LEGACY_CACHE.pop(str(tmp_path), None)


def test_disk_series_reads_all_record_shapes(tmp_path):
    """r16: the disk-throughput probe series must resolve from a detail
    body, a parsed driver record, and a raw tail line — same contract as
    the sched-floor series."""
    from round_close_check import _disk_series

    p1 = _write(tmp_path / "detail.json",
                {"queries": {"q1": 1.0}, "disk_mbps": [400, 380, 410]})
    assert _disk_series(p1) == [400.0, 380.0, 410.0]
    p2 = _write(tmp_path / "BENCH_r91.json",
                {"n": 91, "parsed": {"queries": {"q1": 1.0},
                                     "disk_mbps": [300, 290, 310]}})
    assert _disk_series(p2) == [300.0, 290.0, 310.0]
    p3 = _write(tmp_path / "BENCH_r90.json",
                {"n": 90, "tail": '"queries":{"q1":1.0},'
                                  '"disk_mbps":[250,260,255]}'})
    assert _disk_series(p3) == [250.0, 260.0, 255.0]
    p4 = _write(tmp_path / "old.json", {"queries": {"q1": 1.0}})
    assert _disk_series(p4) is None


def test_contended_io_flagged(tmp_path):
    """A record whose own disk probes spread >1.5x must print the
    CONTENDED-IO flag so write-bound lines get the mechanical caveat."""
    prev = _write(tmp_path / "BENCH_r89.json",
                  {"n": 89, "parsed": {"queries": {"q1": 1.0},
                                       "disk_mbps": [400, 390, 405]}})
    cur = _write(tmp_path / "cur.json",
                 {"queries": {"q1_pricing_summary": 1.1},
                  "disk_mbps": [400, 150, 380]})
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "round_close_check.py"),
         "--prev", prev, "--cur", cur],
        capture_output=True, text=True)
    assert "CONTENDED-IO cur" in r.stdout
    assert "disk_mbps (median of probes)" in r.stdout
    assert r.returncode == 0


def test_zero_shared_keys_blocks_close(tmp_path):
    prev = _write(tmp_path / "BENCH_r94.json",
                  {"n": 94, "parsed": {"queries": {"q1": 1.0}}})
    cur = _write(tmp_path / "cur.json", {"queries": {"zz_other": 1.0}})
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "round_close_check.py"),
         "--prev", prev, "--cur", cur],
        capture_output=True, text=True)
    assert r.returncode == 1
    assert "ZERO per-query keys" in r.stdout


def test_gate_window_invariant():
    """The r12 gate-cycle invariant (VERDICT r11 #3), checked against the
    LIVE registry and committed driver records: (a) the 50-row window
    heads with every never-gated registration, then every changed-code
    row; (b) simulating the coming round's gate, no row left outside the
    window closes the round with staleness > 3; (c) the arithmetic that
    makes the 4-round cycle satisfiable holds at the current registry
    and tier-A sizes."""
    import os

    from fermor_spark.gatelog import newest_green
    from fermor_spark.queries import (_CHANGED_THIS_ROUND, _GATE_PRIORITY,
                                      all_queries)

    names = list(all_queries())
    window = names[:50]
    assert window == _GATE_PRIORITY[:50]

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    newest, latest = newest_green(repo)
    if not newest:   # record-free checkout: window degenerates to
        return       # insertion order; nothing to check

    never = [n for n in names if n not in newest]
    changed = [n for n in _CHANGED_THIS_ROUND if n in names]
    tier_a = set(never) | set(changed)
    # (a) tier A heads the window
    assert all(n in window for n in tier_a), \
        sorted(tier_a - set(window))
    assert set(window[:len(set(never))]) == set(never)
    # (b) after the coming round gates the window, no row exceeds
    # staleness 3
    coming = latest + 1
    for n in names:
        if n not in window:
            # a never-gated row OUTSIDE the window is its own invariant
            # breach — name it, rather than KeyError-ing on newest[n]
            # (possible the moment tier A exceeds the window size)
            assert n in newest, \
                f"{n} is never-gated yet fell outside the r{coming} window"
            assert coming - newest[n] <= 3, \
                f"{n} would close r{coming} at staleness {coming - newest[n]}"
    # (c) satisfiability: registry_size <= 4*window - 3*tier_A
    assert len(names) <= 4 * 50 - 3 * len(tier_a), \
        (len(names), len(tier_a))


def test_retired_registry_integrity():
    """The r14 retirement contract: retired rows are disjoint from the
    gated registry, every retired query kept its oracle (full parity
    evidence), no oracle is orphaned on either side, and the arithmetic
    headroom the retirement bought (>= 10 rows of slack at the budgeted
    tier-A max of 14) actually holds at the live sizes."""
    from fermor_spark.queries import (ORACLES, QUERIES, RETIRED_ORACLES,
                                      RETIRED_QUERIES)

    assert not set(RETIRED_QUERIES) & set(QUERIES)
    assert set(RETIRED_ORACLES) == set(RETIRED_QUERIES)
    assert set(ORACLES) <= set(QUERIES)
    # r15 spent 2 of the 10 slack rows on the directory-table streaming
    # gate and the rocksdb sessions gate (VERDICT r14 #5 sanctioned the
    # spend); 8 rows of slack remain under the 158 ceiling at tier-A 14
    assert len(QUERIES) <= 4 * 50 - 3 * 14 - 8, len(QUERIES)


def test_suite_state_counts_parse():
    """suite_state parses pytest summary tails, treating errors as
    failures, and refuses unparseable output."""
    import sys
    sys.path.insert(0, __file__.rsplit("/tests/", 1)[0] + "/tools")
    import pytest
    from suite_state import _counts

    assert _counts("...\n320 passed in 600.1s (0:10:00)") == \
        {"passed": 320, "failed": 0}
    assert _counts("2 failed, 318 passed in 9.0s") == \
        {"passed": 318, "failed": 2}
    assert _counts("1 error in 1.2s") == {"passed": 0, "failed": 1}
    with pytest.raises(RuntimeError):
        _counts("collected 0 items")


def test_legacy_short_keys_normalize_through_detail_keymaps(tmp_path, monkeypatch):
    """r15 grew short_key's abbreviation table; driver records written
    under the old rule must translate old-short -> full -> current-short
    via the committed detail key_maps, or round-over-round comparisons
    silently lose shared keys."""
    import round_close_check as rcc

    monkeypatch.setattr(rcc, "REPO", str(tmp_path))
    _write(tmp_path / "BENCH_DETAIL_r90.json",
           {"queries": {}, "key_map": {
               "dedup_minhash_lsh": "dd_minhash_lsh",
               "ann_nearest_neighbor_all": "ann_nearest_neighbor_all"}})
    p = _write(tmp_path / "BENCH_r90.json",
               {"n": 90, "parsed": {"queries": {
                   "ann_nearest_neighbor_all": 1.27,
                   "dd_minhash_lsh": 0.66}}})
    # current short_key: nearest_neighbor -> nn; minhash key unchanged
    assert load_driver_record(p) == {"ann_nn_all": 1.27,
                                     "dd_minhash_lsh": 0.66}


def test_floor_series_parse_and_median(tmp_path):
    from round_close_check import _eff, _floor_series

    # r15 detail body: full series
    p1 = _write(tmp_path / "a.json", {"sched_floors": [10.8, 10.2, 9.0],
                                      "sched_floor": 10.8})
    assert _floor_series(p1) == [10.8, 10.2, 9.0]
    assert _eff([10.8, 10.2, 9.0]) == 10.2
    # pre-r15 driver record: single probe from the parsed body
    p2 = _write(tmp_path / "b.json",
                {"parsed": {"sched_floor": 14.66, "queries": {"q1": 1.0}}})
    assert _floor_series(p2) == [14.66]
    # tail-only record with the r15 series
    p3 = _write(tmp_path / "c.json",
                {"tail": '... "sched_floor":13.41,"sched_floors":[13.41,5.84,4.69]}'})
    assert _floor_series(p3) == [13.41, 5.84, 4.69]


def test_broadcast_sites_match_adjudicated_allowlist():
    """The r17 repo-wide forced-broadcast audit, frozen as an invariant
    (PLANS.md "r17: repo-wide forced-broadcast audit"): every literal
    F.broadcast / hint("broadcast") in non-test source is adjudicated as
    schema-, cardinality-, or contract-bounded; data-scaled sides carry
    no hint and the planner's threshold decides (PLANS.md "One broadcast
    bar"). A NEW site anywhere fails this test
    until it is adjudicated here — the r16 audit missed the bloom gate's
    SF-scaling truth leg precisely because nothing pinned the sweep.

    Detector: line-level scan with the enclosing `def` tracked by
    indentation; doc mentions (lines carrying RST double-backticks) are
    excluded. Update the allowlist ONLY together with a PLANS.md
    adjudication of the new site's bound."""
    import os
    import re
    from collections import Counter

    root = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "fermor_spark")
    sites: Counter = Counter()
    for dirpath, _, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, os.path.dirname(root))
            func_stack: list = []
            for ln in open(path).read().split("\n"):
                m = re.match(r"(\s*)def\s+(\w+)", ln)
                if m:
                    indent = len(m.group(1))
                    func_stack = [f for f in func_stack if f[0] < indent]
                    func_stack.append((indent, m.group(2)))
                s = ln.strip()
                if s.startswith("#") or "``" in ln:
                    continue
                if ("F.broadcast(" in ln or 'hint("broadcast")' in ln
                        or "hint('broadcast')" in ln):
                    sites[(rel, func_stack[-1][1] if func_stack
                           else "<module>")] += 1

    # every count below carries an adjudication in PLANS.md r17:
    # bounded (nation/region/1-row/per-group/contract)
    allow = {
        ("fermor_spark/iterate.py", "power_step"): 1,        # 1-row dangling mass
        ("fermor_spark/pipeline/dedup.py", "contamination_pairs"): 2,  # bench set by contract
        ("fermor_spark/pipeline/dedup.py", "dedup_clusters"): 1,  # driver-built UF map
        ("fermor_spark/pipeline/similarity.py", "brute_force_topk"): 1,  # query side by contract
        ("fermor_spark/pipeline/text.py", "bigram_logprob"): 1,   # 1-row stats
        ("fermor_spark/pipeline/text.py", "tfidf_top_terms"): 1,  # 1-row N
        ("fermor_spark/queries.py", "pipeline_corpus_profile"): 1,  # per-lang rows
        ("fermor_spark/queries.py", "q10_returned_items"): 1,  # nation
        ("fermor_spark/queries.py", "q11_important_stock"): 2,  # nation + 1-row total
        ("fermor_spark/queries.py", "q15_top_supplier"): 1,    # 1-row max
        ("fermor_spark/queries.py", "q22_idle_customers"): 1,  # 1-row avg
        ("fermor_spark/queries.py", "q2_min_cost_supplier"): 2,  # nation+region
        ("fermor_spark/queries.py", "q5_local_supplier_volume"): 1,  # nation+region
        ("fermor_spark/queries.py", "q7_volume_shipping"): 2,  # nation x2
        ("fermor_spark/queries.py", "q8_market_share"): 3,     # nation x2 + region
        ("fermor_spark/queries.py", "q9_product_profit"): 1,   # nation
        ("fermor_spark/route.py", "_edge_join"): 1,  # opt-in/one-hop frontier
        ("fermor_spark/sketches.py", "heavy_hitters"): 1,      # sketch row
        ("fermor_spark/streaming.py", "enrich_with_dimension"): 1,  # dim by contract
    }
    assert dict(sites) == allow, (
        "unadjudicated F.broadcast site(s): "
        f"{dict(sites.items() - allow.items())} / removed: "
        f"{dict(allow.items() - sites.items())}")


def _list_create_dataframe_hits(source: str) -> list:
    """Lines of ``createDataFrame(...)`` calls whose first argument is a
    list or tuple display or comprehension, or a name that the enclosing
    function (or the module) binds to one. ``local_frame`` is exempt: it
    is the one place driver rows become a frame."""
    import ast

    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)

    def is_display(node) -> bool:
        return isinstance(node, (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp))

    def own_nodes(scope):
        # the scope's nodes, nested function bodies left to their own visit
        todo = list(ast.iter_child_nodes(scope))
        while todo:
            n = todo.pop()
            yield n
            if not isinstance(n, funcs):
                todo.extend(ast.iter_child_nodes(n))

    hits = set()

    def visit(scope, outer: set):
        if getattr(scope, "name", None) == "local_frame":
            return
        nodes = list(own_nodes(scope))
        bound = set(outer)
        for n in nodes:
            if isinstance(n, ast.Assign) and is_display(n.value):
                bound |= {t.id for t in n.targets if isinstance(t, ast.Name)}
            elif (isinstance(n, ast.AnnAssign) and n.value is not None
                  and is_display(n.value) and isinstance(n.target, ast.Name)):
                bound.add(n.target.id)
        for n in nodes:
            if (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr == "createDataFrame" and n.args):
                arg = n.args[0]
                if is_display(arg) or (isinstance(arg, ast.Name) and arg.id in bound):
                    hits.add(n.lineno)
            elif isinstance(n, funcs):
                visit(n, bound)

    visit(ast.parse(source), set())
    return sorted(hits)


def test_list_create_dataframe_detector():
    src = (
        "def f(spark, xs):\n"
        "    rows = []\n"
        "    spark.createDataFrame(rows, 'a int')\n"
        "    spark.createDataFrame([(1,)], 'a int')\n"
        "    spark.createDataFrame([(x,) for x in xs], 'a int')\n"
        "    spark.createDataFrame(pdf, 'a int')\n"
        "def local_frame(spark, rows, ddl):\n"
        "    rows = list(rows)\n"
        "    return spark.createDataFrame([], ddl)\n"
    )
    assert _list_create_dataframe_hits(src) == [3, 4, 5]


def test_no_python_list_create_dataframe():
    """Driver-side rows go through session.local_frame, which plans them
    as a JVM LocalRelation. createDataFrame(<python list>) plans a pickled
    LogicalRDD instead: no statistics for Catalyst, and Python worker
    tasks on every action that reads it."""
    root = os.path.join(REPO, "fermor_spark")
    found = []
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    found += [f"{os.path.relpath(path, REPO)}:{ln}"
                              for ln in _list_create_dataframe_hits(f.read())]
    assert not found, "use session.local_frame for driver rows: " + ", ".join(found)


def _global_statements(source: str) -> list:
    import ast

    return sorted(n.lineno for n in ast.walk(ast.parse(source))
                  if isinstance(n, ast.Global))


def test_no_module_global_state():
    """No ``global`` statement under fermor_spark/. Per-call telemetry is
    returned with the result or kept in iterate's per-context round
    record; a module global written per call is last-call-wins, so a
    concurrent caller reads another call's value."""
    assert _global_statements("X = 0\ndef f():\n    global X\n    X = 1\n") == [3]
    root = os.path.join(REPO, "fermor_spark")
    found = []
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                with open(path) as f:
                    found += [f"{os.path.relpath(path, REPO)}:{ln}"
                              for ln in _global_statements(f.read())]
    assert not found, "module-global state: " + ", ".join(found)


_MATERIALIZING = {"localCheckpoint", "checkpoint", "cache", "persist"}

# (path, enclosing def) -> why that loop checkpoints outside _fixpoint
_OFF_FIXPOINT_LOOPS = {
    ("fermor_spark/iterate.py", "_fixpoint"): "the round driver itself",
    ("fermor_spark/iterate.py", "strongly_connected_components"):
        "SCC's outer FW-BW loop: the next trim pass's first aggregate "
        "materializes its tagged checkpoint, so a probe of its own would "
        "add a job per round",
}


def _checkpointing_loops(source: str) -> list:
    """``(line, enclosing def)`` of every ``for``/``while`` whose body
    calls one of ``_MATERIALIZING`` and whose iterable does not call
    ``_fixpoint`` (``enumerate(_fixpoint(...))`` counts as one)."""
    import ast

    funcs = (ast.FunctionDef, ast.AsyncFunctionDef)
    hits = []

    def calls(nodes, names) -> bool:
        return any(isinstance(c, ast.Call) and (
            getattr(c.func, "attr", None) in names
            or getattr(c.func, "id", None) in names)
            for n in nodes for c in ast.walk(n))

    def visit(node, func: str):
        for child in ast.iter_child_nodes(node):
            name = child.name if isinstance(child, funcs) else func
            if (isinstance(child, (ast.For, ast.AsyncFor, ast.While))
                    and calls(child.body, _MATERIALIZING)
                    and not (isinstance(child, (ast.For, ast.AsyncFor))
                             and calls([child.iter], {"_fixpoint"}))):
                hits.append((child.lineno, func))
            visit(child, name)

    visit(ast.parse(source), "<module>")
    return hits


def test_checkpointing_loop_detector():
    src = (
        "def a(df):\n"
        "    for i in range(3):\n"
        "        df = df.localCheckpoint(eager=False)\n"
        "    while True:\n"
        "        df.cache()\n"
        "    for x, (n,) in _fixpoint(rec, df, step):\n"
        "        df = x.localCheckpoint()\n"
        "    for i, (x, _) in enumerate(_fixpoint(rec, df, step), 1):\n"
        "        df = x.persist()\n"
        "    for i in range(3):\n"
        "        df = df.select('a')\n"
        "def b(df):\n"
        "    for i in range(3):\n"
        "        def c():\n"
        "            return df.checkpoint()\n"
    )
    assert _checkpointing_loops(src) == [(2, "a"), (4, "a"), (13, "b")]


def test_round_loops_run_on_fixpoint():
    """Every round loop that checkpoints or caches per round runs on
    ``iterate._fixpoint`` (one lazy checkpoint plus one probe job per
    round, and a per-call round record). A hand-rolled loop brings its
    own checkpoint rule and its own probe jobs; the allowlist names the
    loops that stay off it, each with its reason."""
    from collections import Counter

    root = os.path.join(REPO, "fermor_spark")
    found, allowed = [], Counter()
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(dirpath, fn)
                rel = os.path.relpath(path, REPO)
                with open(path) as f:
                    for ln, func in _checkpointing_loops(f.read()):
                        if (rel, func) in _OFF_FIXPOINT_LOOPS:
                            allowed[rel, func] += 1
                        else:
                            found.append(f"{rel}:{ln} ({func})")
    assert not found, "round loops off iterate._fixpoint: " + ", ".join(found)
    # one loop per allowlisted def: a second one there needs its own reason
    assert allowed == dict.fromkeys(_OFF_FIXPOINT_LOOPS, 1), allowed


_TREE_PROBE = r'''
import json, sys
sys.path.insert(0, sys.argv[1])
import pandas as pd
import fermor_spark
from fermor_spark import get_spark

def where(batches):
    import fermor_spark as fs
    for _ in batches:
        yield pd.DataFrame({"f": [fs.__file__]})

spark = get_spark(app_name="tree-ab-probe", shuffle_partitions=1, cpus="1")
worker = spark.range(1).mapInPandas(where, "f string").first()["f"]
print("TREE_AB_CHILD " + json.dumps({"driver": fermor_spark.__file__,
                                     "worker": worker}), flush=True)
'''


def test_tree_ab_child_workers_load_its_tree(tmp_path, monkeypatch):
    """exp_tree_ab's arm B runs its own tree in its Python workers too,
    not the fermor_spark of the caller's cwd."""
    import shutil

    import exp_tree_ab

    tree = tmp_path / "tree"
    shutil.copytree(os.path.join(REPO, "fermor_spark"), tree / "fermor_spark",
                    ignore=shutil.ignore_patterns("__pycache__"))
    monkeypatch.chdir(REPO)
    monkeypatch.setenv("FERMOR_DRIVER_MEMORY", "1g")
    got = exp_tree_ab._run_child(str(tree), child=_TREE_PROBE)
    assert got["driver"].startswith(str(tree) + os.sep), got
    assert got["worker"].startswith(str(tree) + os.sep), got
