"""Route: the composable traversal algebra over a PropertyGraph.

A Route is a DataFrame of "elements" — vertex rows (`id`) or edge rows
(`label, src, dst, weight, doc, dir`) — plus optional carried columns:
`path` (provenance, ARRAY<STRING>) and any `_`-prefixed tag column (e.g.
`_origin` for per-source-group semantics). Every step is a pure DataFrame
transformation, so Catalyst sees the whole traversal as one logical plan:
label filters prune partitions, chained hops become joins it can reorder,
and small frontiers broadcast.

This plays the role of the reference's lazy-seq pipeline
(reference: src/fermor/core.clj — out/in/both-e/lookahead/etc.); order is
NOT preserved (documented semantic difference — the reference's own tests
multiset-compare where order is incidental).

Edge orientation: an edge row is (src)-[label]->(dst); `out_vertex` = src,
`in_vertex` = dst, matching the reference's (out)-->(in) convention
(reference: src/fermor/graph.clj:591).  `dir` records how the edge was
reached ('fwd' via out_e, 'rev' via in_e) so `other_v`/`same_v` can steer
away from/toward the origin (reference: used-forward flag,
src/fermor/graph.clj:643-644).
"""

from __future__ import annotations

import json
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fermor_spark.graph import E_FIELDS, PropertyGraph

_E_COLS = E_FIELDS + ["dir"]


def _vrepr(col):
    return F.concat(F.lit("v:"), col)


def _erepr(label, src, dst):
    return F.concat(F.lit("e:"), label, F.lit(":"), src, F.lit(":"), dst)


class Route:
    def __init__(self, graph: PropertyGraph, df: DataFrame, etype: str):
        self.g = graph
        self.df = df
        self.etype = etype  # 'v' | 'e'

    # --------------------------------------------------------------- helpers

    def _carries(self) -> list[str]:
        base = {"id"} if self.etype == "v" else set(_E_COLS)
        return [c for c in self.df.columns if c not in base]

    def _with(self, df: DataFrame, etype: str | None = None) -> "Route":
        r = Route(self.g, df, etype or self.etype)
        r._broadcast_frontier = getattr(self, "_broadcast_frontier", False)
        # one-hop auto hint (is_/one_of): survives intermediate filters/
        # projections but is CONSUMED by the first hop join — after a hop
        # the frontier is no longer bounded by the literal id list
        r._bcast_auto = getattr(self, "_bcast_auto", False)
        return r

    def broadcast_frontier(self, on: bool = True) -> "Route":
        """Mark the frontier as the BUILD side of every subsequent hop
        join (sticky through the chain): each hop attaches a broadcast
        hint to the frontier projection, so the edge table is streamed in
        place — never exchanged, sorted, or driver-collected for a
        broadcast build.

        Why this exists: the cached edge table carries no compile-time
        stats, so Catalyst plans hop joins as SortMergeJoin and AQE fixes
        them only AFTER the edge side's shuffle map stage has already run
        — and at gate SFs AQE may even pick the EDGE table as the build
        side (measured on g_recommender: 4 driver-side builds of the
        590k-row bought table per run; hinting the frontier halved the
        line, 2.9 -> 1.5 s solo at equal floor). At 100 TB the same hint
        is the difference between a per-hop full-edge shuffle write and
        zero edge movement.

        Opt-in because it is only correct to FORCE when the traversal
        origin is selective (point lookups, small where() frontiers —
        the reference's typical entry shape): a whole-graph frontier
        would be collected to the driver. AQE keeps protecting the
        un-hinted default."""
        r = self._with(self.df, self.etype)
        r._broadcast_frontier = on
        return r

    @property
    def has_path(self) -> bool:
        return "path" in self.df.columns

    def _elem_repr(self):
        if self.etype == "v":
            return _vrepr(F.col("id"))
        return _erepr(F.col("label"), F.col("src"), F.col("dst"))

    # ------------------------------------------------------- traversal steps

    def _edge_join(self, labels, on_edge_col: str, direction: str) -> "Route":
        """frontier ⋈ E — the fundamental hop. Broadcast/shuffle choice is
        left to Catalyst+AQE unless broadcast_frontier() pinned the build
        side; at scale the frontier is usually the small side."""
        # fresh aliases per hop: chained hops self-join E, so each join gets
        # unambiguous column names
        e = self.g._edges_df(labels).select(
            *[F.col(c).alias(f"__e_{c}") for c in E_FIELDS]
        )
        f = self.df.select(
            F.col("id").alias("_fid"), *[F.col(c) for c in self._carries()]
        )
        if getattr(self, "_broadcast_frontier", False) or getattr(
            self, "_bcast_auto", False
        ):
            f = f.hint("broadcast")
        joined = f.join(e, f["_fid"] == e[f"__e_{on_edge_col}"], "inner")
        cols = [F.col(f"__e_{c}").alias(c) for c in E_FIELDS] + [F.lit(direction).alias("dir")]
        for c in self._carries():
            if c == "path":
                cols.append(
                    F.concat(
                        F.col("path"),
                        F.array(_erepr(F.col("__e_label"), F.col("__e_src"), F.col("__e_dst"))),
                    ).alias("path")
                )
            else:
                cols.append(f[c])
        out = self._with(joined.select(*cols), "e")
        out._bcast_auto = False  # the one-hop auto hint is spent
        return out

    def out_e(self, labels=None) -> "Route":
        """vertex → outgoing edges (reference: out-e, src/fermor/core.clj:484-523)."""
        assert self.etype == "v"
        return self._edge_join(labels, "src", "fwd")

    def in_e(self, labels=None) -> "Route":
        """vertex → incoming edges (reference: in-e, src/fermor/core.clj:443-482)."""
        assert self.etype == "v"
        return self._edge_join(labels, "dst", "rev")

    def both_e(self, labels=None) -> "Route":
        """(reference: both-e, src/fermor/core.clj:525-592)."""
        a, b = self.out_e(labels), self.in_e(labels)
        # build from a (hop result), not self: the one-hop auto hint was
        # consumed by BOTH legs of this single logical hop and must not
        # leak past the union to the next hop
        return a._with(a.df.unionByName(b.df), "e")

    def _project_v(self, idcol, append_path: bool = True) -> "Route":
        cols = [idcol.alias("id")]
        for c in self._carries():
            if c == "path" and append_path:
                cols.append(F.concat(F.col("path"), F.array(_vrepr(idcol))).alias("path"))
            else:
                cols.append(F.col(c))
        return self._with(self.df.select(*cols), "v")

    def in_v(self) -> "Route":
        """edge → its head/in vertex (= dst) (reference: in-v, src/fermor/core.clj:594-608)."""
        assert self.etype == "e"
        return self._project_v(F.col("dst"))

    def out_v(self) -> "Route":
        """edge → its tail/out vertex (= src)."""
        assert self.etype == "e"
        return self._project_v(F.col("src"))

    def other_v(self) -> "Route":
        """edge → the endpoint away from where traversal came from
        (reference: other-v/go-on, src/fermor/core.clj:402-412, 610-618)."""
        assert self.etype == "e"
        return self._project_v(F.when(F.col("dir") == "fwd", F.col("dst")).otherwise(F.col("src")))

    def same_v(self) -> "Route":
        assert self.etype == "e"
        return self._project_v(F.when(F.col("dir") == "fwd", F.col("src")).otherwise(F.col("dst")))

    def both_v(self) -> "Route":
        """edge → both endpoints (reference: both-v, src/fermor/core.clj:620-626)."""
        assert self.etype == "e"
        return self._with(self.out_v().df.unionByName(self.in_v().df), "v")

    def followed_forward(self) -> "Route":
        return self._with(self.df.where(F.col("dir") == "fwd"))

    def followed_reverse(self) -> "Route":
        return self._with(self.df.where(F.col("dir") == "rev"))

    def out(self, labels=None) -> "Route":
        """vertex → out-neighbors (reference: out, src/fermor/core.clj:639-648)."""
        return self.out_e(labels).in_v()

    def in_(self, labels=None) -> "Route":
        """vertex → in-neighbors (reference: in, src/fermor/core.clj:628-637)."""
        return self.in_e(labels).out_v()

    def both(self, labels=None) -> "Route":
        """neighbors in both directions (reference: both, src/fermor/core.clj:650-660)."""
        a = self.out(labels)
        return a._with(a.df.unionByName(self.in_(labels).df), "v")

    def siblings(self, labels=None) -> "Route":
        """(src)-[:l]->(parent)<-[:l]-(dest), minus self
        (reference: siblings, src/fermor/core.clj:745-790).

        Built from the hop RESULT, not the pre-hop route (mirrors the
        both() fix): the one-hop auto hint set by is_/one_of is consumed
        by the first internal hop, and building from self would
        resurrect it — the next hop after one_of(...).siblings() would
        force-broadcast an unbounded expanded frontier."""
        assert self.etype == "v"
        tagged = self._with(self.df.withColumn("_self", F.col("id")))
        res = tagged.out(labels).in_(labels)
        return res._with(res.df.where(F.col("id") != F.col("_self")).drop("_self"), "v")

    # ---------------------------------------------------------------- filters

    def where(self, cond) -> "Route":
        return self._with(self.df.where(cond))

    def is_(self, vid) -> "Route":
        """(reference: is, src/fermor/core.clj:1262-1272).

        Auto-applies a ONE-HOP broadcast hint: the surviving frontier is
        at most one id per carried tag, so building it on the next hop is
        always the right plan — but only that hop. After an expansion hop
        the frontier is no longer bounded by the literal id list, so the
        auto hint is consumed by the first _edge_join (a forced broadcast
        of an unbounded frontier could OOM the driver at scale). Sticky
        behavior stays reserved for the explicit broadcast_frontier()
        opt-in. The negated filters isnt/none_of stay un-hinted."""
        r = self._with(self.df.where(F.col("id") == str(vid)))
        r._bcast_auto = True
        return r

    def isnt(self, vid) -> "Route":
        return self._with(self.df.where(F.col("id") != str(vid)))

    def one_of(self, vids: Sequence) -> "Route":
        """Membership filter (reference: src/fermor/core.clj:1274-1282).
        Auto-applies a ONE-HOP broadcast hint (see is_): cardinality is
        bounded by the literal id list, but only until the next hop."""
        r = self._with(self.df.where(F.col("id").isin([str(v) for v in vids])))
        r._bcast_auto = True
        return r

    def none_of(self, vids: Sequence) -> "Route":
        return self._with(self.df.where(~F.col("id").isin([str(v) for v in vids])))

    def of_kind(self, kind: str) -> "Route":
        """(reference: of-kind, src/fermor/core.clj:1284-1289). Kind lives
        in V, so the filter is a join against its (id, kind) slice; the
        planner picks broadcast or shuffle from V's statistics."""
        v = self.g.V.select("id", "kind")
        return self._with(
            self.df.join(v, "id", "left").where(F.col("kind") == kind).drop("kind")
        )

    def has_property(self, key: str, value) -> "Route":
        """doc[key] == value (reference: has-property, src/fermor/core.clj:695-699)."""
        if self.etype == "v":
            v = self.g.V.select("id", "doc")
            df = self.df.join(v, "id", "left")
            out = df.where(
                F.get_json_object(F.col("doc"), f"$.{key}") == F.lit(json.dumps(value) if not isinstance(value, str) else value)
            ).drop("doc")
            return self._with(out)
        return self._with(
            self.df.where(F.get_json_object(F.col("doc"), f"$.{key}") == F.lit(value))
        )

    def with_values(self, f: Callable[["Route"], "Route"], values) -> "Route":
        """Keep elements whose sub-route yields a value in `values`
        (reference: with, src/fermor/core.clj:1251-1260) — a lookahead whose
        sub-route is filtered to the wanted values first."""
        vals = [str(v) for v in (values if isinstance(values, (list, set, tuple)) else [values])]
        return self.lookahead(lambda r: f(r).one_of(vals))

    # ------------------------------------------------------- lookahead family

    def _sub_route(self) -> "Route":
        """Tag each element with an `_origin` key and hand a fresh route to a
        sub-traversal; traversal steps carry `_origin` through."""
        if self.etype == "v":
            df = self.df.select("id").distinct().withColumn("_origin", F.col("id"))
            return Route(self.g, df, "v")
        df = self.df.select(*_E_COLS).distinct().withColumn(
            "_origin", self._elem_repr()
        )
        return Route(self.g, df, "e")

    def _origin_key(self):
        return F.col("id") if self.etype == "v" else self._elem_repr()

    def lookahead(self, f: Callable[["Route"], "Route"], min_count: int | None = None,
                  max_count: int | None = None) -> "Route":
        """Semi-join: keep elements whose sub-traversal yields ≥1 result; with
        min/max, keep elements whose sub-route size ∈ [min, max]
        (reference: lookahead, src/fermor/core.clj:826-846)."""
        sub = f(self._sub_route()).df
        if min_count is None and max_count is None:
            keep = sub.select(F.col("_origin")).distinct()
        else:
            counts = sub.groupBy("_origin").agg(F.count("*").alias("_n"))
            if not min_count:
                # no (or zero) lower bound: origins with an EMPTY sub-route
                # count as 0 and must be kept (reference keeps count-0
                # elements when min is nil, src/fermor/core.clj:826-846)
                origins = self.df.select(self._origin_key().alias("_origin")).distinct()
                counts = origins.join(counts, "_origin", "left").select(
                    "_origin", F.coalesce(F.col("_n"), F.lit(0)).alias("_n")
                )
            cond = F.lit(True)
            if min_count is not None:
                cond = cond & (F.col("_n") >= min_count)
            if max_count is not None:
                cond = cond & (F.col("_n") <= max_count)
            keep = counts.where(cond).select("_origin")
        me = self.df.withColumn("_k", self._origin_key())
        out = me.join(keep.withColumnRenamed("_origin", "_k"), "_k", "left_semi").drop("_k")
        return self._with(out)

    def neg_lookahead(self, f: Callable[["Route"], "Route"]) -> "Route":
        """Anti-join: keep elements whose sub-route is empty
        (reference: neg-lookahead, src/fermor/core.clj:872-893)."""
        sub = f(self._sub_route()).df.select("_origin").distinct()
        me = self.df.withColumn("_k", self._origin_key())
        out = me.join(sub.withColumnRenamed("_origin", "_k"), "_k", "left_anti").drop("_k")
        return self._with(out)

    # ------------------------------------------------------ branching/merging

    def branch(self, *fns: Callable[["Route"], "Route"]) -> list["Route"]:
        """(reference: branch, src/fermor/core.clj:895-904)."""
        return [f(self) for f in fns]

    def keyed_branch(self, **fns: Callable[["Route"], "Route"]) -> dict[str, "Route"]:
        """(reference: keyed-branch, src/fermor/core.clj:906-915)."""
        return {k: f(self) for k, f in fns.items()}

    @staticmethod
    def merge_round_robin(routes: Sequence["Route"],
                          order_by=None) -> "Route":
        """Round-robin branch merge (reference: merge-round-robin,
        src/fermor/core.clj:924-951).

        Without ``order_by``: fair interleave of UNORDERED branches has no
        distributed meaning (documented delta, SURVEY §2.5) — identical to
        merge_exhaustive (union + `_branch` index). With ``order_by`` (a
        column or list giving each branch a deterministic order), a faithful
        fair interleave: every row gets its within-branch position and the
        merged route sorts by (position, branch) — one element from each
        still-live branch in turn, the reference's chunk rotation at chunk
        size 1. Scale note: the per-branch enumeration is a window over the
        whole branch (one task per branch) — the same global-order cost
        class as fast_sort, inherent to the semantics."""
        merged = Route.merge_exhaustive(routes)
        if order_by is None:
            return merged
        keys = [order_by] if isinstance(order_by, str) else list(order_by)
        w = Window.partitionBy("_branch").orderBy(*keys)
        df = merged.df.withColumn("_rr", F.row_number().over(w))
        return merged._with(df.orderBy("_rr", "_branch").drop("_rr"))

    @staticmethod
    def merge_exhaustive(routes: Sequence["Route"]) -> "Route":
        """Union of branches with a branch-index column `_branch` (Spark unions
        are unordered; sort by `_branch` where the reference relied on branch
        order — reference: merge-exhaustive, src/fermor/core.clj:917-922)."""
        dfs = [r.df.withColumn("_branch", F.lit(i)) for i, r in enumerate(routes)]
        u = dfs[0]
        for d in dfs[1:]:
            u = u.unionByName(d, allowMissingColumns=True)
        return Route(routes[0].g, u, routes[0].etype)

    def union(self, other: "Route") -> "Route":
        r = self._with(self.df.unionByName(other.df, allowMissingColumns=True))
        r._bcast_auto = False  # the union side may be unbounded
        return r

    def intersect(self, other: "Route") -> "Route":
        return self._with(self.df.intersect(other.df.select(*self.df.columns)))

    def minus(self, other: "Route") -> "Route":
        """Exclude elements present in `other` — the reference's
        `(with-set remove ...)` idiom (reference: src/fermor/core.clj:1308-1325)
        as a distributed anti-join instead of a driver-side set."""
        key = "id" if self.etype == "v" else None
        if key:
            return self._with(self.df.join(other.df.select("id").distinct(), "id", "left_anti"))
        return self._with(
            self.df.join(other.df.select(*_E_COLS).distinct(), _E_COLS, "left_anti")
        )

    # ------------------------------------------------- grouping / aggregation

    def group_count(self, col: str | None = None) -> DataFrame:
        """{item → count} (reference: group-count, src/fermor/core.clj:1458-1475)."""
        key = F.col(col) if col else self._origin_key().alias("key")
        return self.df.groupBy(key if col else key).agg(F.count("*").alias("count"))

    def sorted_group_count(self, col: str | None = None) -> DataFrame:
        gc = self.group_count(col)
        return gc.orderBy(gc.columns[0])

    def group_by_count(self, col: str | None = None, min_count: int = 1) -> DataFrame:
        """{count → set of items} (reference: group-by-count, src/fermor/core.clj:1492-1506)."""
        gc = self.group_count(col)
        k = gc.columns[0]
        out = gc.where(F.col("count") >= min_count)
        return out.groupBy("count").agg(F.collect_set(k).alias("items"))

    def sorted_group_by_count(self, col: str | None = None) -> DataFrame:
        """(reference: sorted-group-by-count, src/fermor/core.clj:1508-1520)."""
        return self.group_by_count(col).orderBy("count")

    def distinct(self) -> "Route":
        return self._with(self.df.distinct())

    def distinct_by(self, col: str) -> "Route":
        """(reference: distinct-by, src/fermor/core.clj:1542-1557; order-
        preservation is not meaningful distributed — documented delta)."""
        return self._with(self.df.dropDuplicates([col]))

    def distinct_in(self, seen: "Route") -> "Route":
        """Dedup against an externally accumulated `seen` route — the
        reference's deprecated distinct-in shared-seen-atom idiom
        (src/fermor/core.clj:1327-1349) as a distributed anti-join; compose
        with `union` to thread the accumulated set between route positions."""
        return self.minus(seen)

    def limit(self, n: int) -> "Route":
        return self._with(self.df.limit(n))

    def sort(self, *cols) -> "Route":
        return self._with(self.df.orderBy(*cols))

    def count(self) -> int:
        return self.df.count()

    def degree(self, labels=None, direction: str = "both") -> DataFrame:
        """Join per-vertex degree onto the route (reference: degree family,
        src/fermor/core.clj:375-388)."""
        assert self.etype == "v"
        return self.df.join(self.g.degrees(labels, direction), "id", "left").select(
            *self.df.columns, F.coalesce(F.col("degree"), F.lit(0)).alias("degree")
        )

    # ------------------------------------------------------------- documents

    def with_doc(self) -> "Route":
        if self.etype == "v":
            return self._with(self.df.join(self.g.V.select("id", "doc"), "id", "left"))
        return self

    def values(self, *keys: str) -> DataFrame:
        """Project JSON document fields (column pruning applies — only `doc`
        is read, and only when projected; cf. reference lazy document fetch,
        src/fermor/graph.clj:646-663)."""
        d = self.with_doc().df
        return d.select(
            *self.df.columns,
            *[F.get_json_object(F.col("doc"), f"$.{k}").alias(k) for k in keys],
        ).drop("doc") if self.etype == "v" else d.select(
            *[c for c in self.df.columns],
            *[F.get_json_object(F.col("doc"), f"$.{k}").alias(k) for k in keys],
        )

    # ------------------------------------------------------------------ paths

    def with_path(self) -> "Route":
        """Start provenance tracking (reference: with-path, src/fermor/path.clj:270-280)."""
        if self.has_path:
            return self
        return self._with(self.df.withColumn("path", F.array(self._elem_repr())))

    def paths(self) -> DataFrame:
        assert self.has_path
        return self.df.select("path")

    def reverse_paths(self) -> DataFrame:
        assert self.has_path
        return self.df.select(F.reverse(F.col("path")).alias("path"))

    def path_vertices(self) -> DataFrame:
        return self.df.select(
            F.filter(F.col("path"), lambda x: x.startswith("v:")).alias("path")
        )

    def path_edges(self) -> DataFrame:
        return self.df.select(
            F.filter(F.col("path"), lambda x: x.startswith("e:")).alias("path")
        )

    def cyclic_path(self) -> "Route":
        """Keep elements whose path repeats an edge (reference: cyclic-path?,
        src/fermor/path.clj:335-363)."""
        edges = F.filter(F.col("path"), lambda x: x.startswith("e:"))
        return self._with(
            self.df.where(F.size(edges) != F.size(F.array_distinct(edges)))
        )

    def no_path(self) -> "Route":
        """Fully unwrap provenance — the reference's no-path!
        (src/fermor/path.clj:287-323)."""
        return self._with(self.df.drop("path"))

    def no_path_one(self) -> "Route":
        """Unwrap ONE provenance level: drop the most recent path entry
        (reference: no-path's single-level unwrap vs no-path!'s full unwrap,
        src/fermor/path.clj:287-323)."""
        assert self.has_path
        return self._with(self.df.withColumn(
            "path", F.slice(F.col("path"), 1, F.size(F.col("path")) - 1)
        ))

    def reset_path(self) -> "Route":
        """Restart provenance tracking at the current element
        (reference: reset-path, src/fermor/path.clj:287-323)."""
        return self._with(
            self.df.withColumn("path", F.array(self._elem_repr()))
        )

    def prevent_cycles(self) -> "Route":
        """Keep only elements whose path never revisits a vertex — the
        distributed shape of the reference's prevent-cycles truncation for
        to-one chains (src/fermor/core.clj:1351-1377): in a frontier model
        the 'truncate at first repeat' happens per path, by dropping the
        offending continuation rather than cutting a lazy seq."""
        assert self.has_path
        verts = F.filter(F.col("path"), lambda x: x.startswith("v:"))
        return self._with(
            self.df.where(F.size(verts) == F.size(F.array_distinct(verts)))
        )

    def no_cycles(self) -> "Route":
        """Like prevent_cycles but SIGNALS :on-cycle on a revisit instead of
        dropping — the reference's no-cycles! variant
        (src/fermor/core.clj:1351-1367). Handler contract mirrors the
        reference: return falsy to break out of the cycle (truncate like
        prevent_cycles), truthy to continue cycling (keep the offending
        elements); unhandled, the signal raises."""
        assert self.has_path
        verts = F.filter(F.col("path"), lambda x: x.startswith("v:"))
        offender = self.df.where(
            F.size(verts) != F.size(F.array_distinct(verts))
        ).limit(1).collect()
        if offender:
            from fermor_spark import conditions

            keep = conditions.signal_or("on-cycle", element=offender[0])
            if conditions.unhandled(keep):
                raise conditions.Condition(
                    "on-cycle", "no_cycles: cycle encountered in route path",
                    {"element": offender[0]})
            if not keep:
                return self.prevent_cycles()
        return self

    # -------------------------------------------------- section / pair forms

    def section(self, f: Callable[["Route"], "Route"]) -> "Route":
        """Per-element: run sub-route f, tag results with the origin element
        (reference: section, src/fermor/core.clj:799-804). The origin rides
        in `_section` for downstream per-origin aggregation."""
        sub = self._sub_route()
        out = f(Route(self.g, sub.df.withColumnRenamed("_origin", "_section"), self.etype))
        return out

    def context(self, f: Callable[["Route", "Route"], "Route"]) -> "Route":
        """Like section but f also receives the origin route
        (reference: context, src/fermor/core.clj:806-809)."""
        sub = self._sub_route()
        tagged = Route(self.g, sub.df.withColumnRenamed("_origin", "_section"), self.etype)
        return f(tagged, self)

    def sorted_section(self, f: Callable[["Route"], "Route"], *sort_cols) -> DataFrame:
        """section + per-origin sorted collection
        (reference: sorted-section, src/fermor/core.clj:811-814)."""
        sec = self.section(f)
        key = sec._origin_key()
        return (
            sec.df.groupBy("_section")
            .agg(F.array_sort(F.collect_list(key)).alias("items"))
        )

    def make_pairs(self, f: Callable[["Route"], "Route"]) -> DataFrame:
        """element → (element, f(element)) rows
        (reference: make-pairs, src/fermor/core.clj:792-797)."""
        sec = self.section(f)
        return sec.df.select(
            F.col("_section").alias("left"), sec._origin_key().alias("right")
        )

    def gather(self) -> DataFrame:
        """Collect the whole route into one array row
        (reference: gather, src/fermor/core.clj:816-819)."""
        return self.df.agg(F.collect_list(self._origin_key()).alias("items"))

    @staticmethod
    def spread(df: DataFrame, array_col: str = "items") -> DataFrame:
        """Flatten an array column back to rows (reference: spread,
        src/fermor/core.clj:821-824)."""
        return df.select(F.explode(F.col(array_col)).alias("id"))

    # -------------------------------------------------- ordering / pagination

    def in_sorted(self, labels=None) -> "Route":
        """in-neighbors sorted within each source-vertex group — ordering is
        expressed as explicit sort keys (reference: in-sorted,
        src/fermor/core.clj:680-688)."""
        tagged = self._with(self.df.withColumn("_grp", F.col("id")))
        return tagged.in_(labels).sort("_grp", "id")

    def out_sorted(self, labels=None) -> "Route":
        tagged = self._with(self.df.withColumn("_grp", F.col("id")))
        return tagged.out(labels).sort("_grp", "id")

    def take_drop(self, *counts: int) -> "Route":
        """Alternating take/drop chunks over a sorted-by-id route
        (reference: take-drop, src/fermor/core.clj:1381-1402). Distributed
        semantics require a deterministic order: row_number over id."""
        w = Window.orderBy(self._origin_key())
        bounds = []
        pos = 0
        keep = True
        for c in counts:
            if keep:
                bounds.append((pos, pos + c))
            pos += c
            keep = not keep
        staged = self.df.withColumn("_rn", F.row_number().over(w) - 1)
        cond = F.lit(False)
        for lo, hi in bounds:
            cond = cond | ((F.col("_rn") >= lo) & (F.col("_rn") < hi))
        return self._with(staged.where(cond).drop("_rn"))

    def drop_take(self, *counts: int) -> "Route":
        return self.take_drop(0, *counts)

    def pluck(self, cond) -> "Route":
        """First element matching pred (reference: pluck,
        src/fermor/core.clj:1417-1418)."""
        return self._with(self.df.where(cond).orderBy(self._origin_key()).limit(1))

    def subseq_route(self, col: str, lo=None, hi=None) -> "Route":
        """Range scan over a sorted route (reference: subseq-route,
        src/fermor/core.clj:716-732)."""
        c = F.col(col)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= lo)
        if hi is not None:
            cond = cond & (c <= hi)
        return self._with(self.df.where(cond).orderBy(c))

    def rsubseq_route(self, col: str, lo=None, hi=None) -> "Route":
        """Reverse range scan — same bounds, descending order
        (reference: rsubseq-route, src/fermor/core.clj:725)."""
        c = F.col(col)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= lo)
        if hi is not None:
            cond = cond & (c <= hi)
        return self._with(self.df.where(cond).orderBy(c.desc()))

    # ------------------------------------------------------------- cycles

    def is_cycle(self, labels=None, max_len: int = 10) -> "Route":
        """Keep vertices that start a cycle (reference: is-cycle,
        src/fermor/core.clj:1235-1243) — semi-join against the cycle finder."""
        from fermor_spark import iterate

        cyc = iterate.all_cycles(self.g, max_len, labels, start=self)
        origins = cyc.select(
            F.expr("substring(path[0], 3)").alias("id")
        ).distinct()
        return self._with(self.df.join(origins, "id", "left_semi"))

    def no_cycle(self, labels=None, max_len: int = 10) -> "Route":
        from fermor_spark import iterate

        cyc = iterate.all_cycles(self.g, max_len, labels, start=self)
        origins = cyc.select(
            F.expr("substring(path[0], 3)").alias("id")
        ).distinct()
        return self._with(self.df.join(origins, "id", "left_anti"))

    # ------------------------------------------------------------- subgraph

    def subgraph(self) -> "PropertyGraph":
        """Build a new graph from exactly the edges appearing in this route's
        paths (reference: subgraph, src/fermor/core.clj:1559-1579)."""
        assert self.has_path, "subgraph requires with_path()"
        edges = (
            self.df.select(F.explode("path").alias("el"))
            .where(F.col("el").startswith("e:"))
            .select(F.split("el", ":").alias("p"))
            .select(
                F.col("p").getItem(1).alias("label"),
                F.col("p").getItem(2).alias("src"),
                F.col("p").getItem(3).alias("dst"),
            )
            .distinct()
        )
        full = edges.join(self.g._edges_df(), ["label", "src", "dst"], "left")
        return PropertyGraph.from_dataframes(self.g.spark, full, self.g.V)

    # ------------------------------------------------------------ collection

    def index_by(self, col: str = "id") -> dict:
        """Driver-side {key → row} map for small results
        (reference: index-by, src/fermor/core.clj:1420-1456)."""
        return {r[col]: r.asDict() for r in self.df.collect()}

    def index_by_multi(self, col: str = "id") -> dict:
        """{key → [rows]} multi-map (reference: index-by-multi)."""
        out: dict = {}
        for r in self.df.collect():
            out.setdefault(r[col], []).append(r.asDict())
        return out

    def subpath(self, start: int = 1, length: int | None = None) -> "Route":
        """Slice the path column (reference: subpath, src/fermor/path.clj:240-254)."""
        assert self.has_path
        ln = length if length is not None else 1_000_000
        return self._with(self.df.withColumn("path", F.slice(F.col("path"), start, ln)))

    def reload(self, other: "PropertyGraph") -> "Route":
        """Re-resolve this route's vertices against another graph version
        (reference: reload, src/fermor/core.clj:262-266): keep the ids, swap
        the backing graph, drop ids that no longer exist there."""
        assert self.etype == "v"
        out = self.df.join(other.vertex_ids(), "id", "left_semi")
        return Route(other, out, "v")

    def ids(self) -> list[str]:
        assert self.etype == "v"
        return [r["id"] for r in self.df.select("id").collect()]

    def id_set(self) -> set[str]:
        return set(self.ids())

    def edge_tuples(self) -> list[tuple]:
        assert self.etype == "e"
        return [
            (r["label"], r["src"], r["dst"]) for r in self.df.select("label", "src", "dst").collect()
        ]
