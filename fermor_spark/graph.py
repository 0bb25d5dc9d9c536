"""PropertyGraph: an immutable directed property graph as two DataFrames.

Data model (cf. reference data model, src/fermor/graph.clj:114 — one
adjacency structure per edge label + a vertex-document map):

    V: id STRING, kind STRING (nullable), doc STRING (JSON, nullable)
    E: label STRING, src STRING, dst STRING,
       weight DOUBLE (nullable), doc STRING (JSON, nullable)

Vertices exist implicitly: any id appearing as an edge endpoint exists
(reference: src/fermor/graph.clj:230-236).  ``vertices()`` therefore unions
V ids with edge endpoints unless the graph was built with
``materialized_vertices=True`` (the scale-preferred path: one pre-built table
beats a 3-way union + distinct on every scan).

Edge-builder semantics (reference: src/fermor/graph.clj:312-346):
  * ``unique``   — re-adding (label, src, dst) replaces the document (last wins)
  * ``weighted`` — re-adding sums the weights
  * ``parallel`` — documents accumulate; the merged doc is a JSON object
                   ``{"parallel/count": n, "0": doc0, ...}``

Builders are applied lazily at ``forked()`` — the linear/forked lifecycle of
the reference (mutable batch build → immutable query snapshot,
src/fermor/graph.clj:262-274) maps to "append rows → resolve conflicts →
cache".
"""

from __future__ import annotations

import json
from typing import Iterable, Sequence

import pandas  # noqa: F401  (resolves stringified pandas_udf type hints)

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fermor_spark.session import local_frame

V_FIELDS = ["id", "kind", "doc"]
E_FIELDS = ["label", "src", "dst", "weight", "doc"]
# conflict resolution orders by (_batch, _seq): _batch is the driver-side
# add_edges call counter, _seq orders within a batch. A single combined
# counter can't work distributed: monotonically_increasing_id contributes
# partition_id * 2^33 per row, which would outrank any fixed per-batch base.
_E_BUILD_FIELDS = E_FIELDS + ["_batch", "_seq"]

V_SCHEMA = "id string, kind string, doc string"
V_BUILD_SCHEMA = "id string, kind string, doc string, _batch bigint, _seq bigint"
E_BUILD_SCHEMA = (
    "label string, src string, dst string, weight double, doc string, "
    "_batch bigint, _seq bigint"
)

UNIQUE = "unique"
WEIGHTED = "weighted"
PARALLEL = "parallel"


def _doc_json(doc) -> str | None:
    if doc is None:
        return None
    return json.dumps(doc, sort_keys=True, separators=(",", ":"))


class PropertyGraph:
    """Immutable when forked; builder-style while linear.

    ``linear`` state accumulates raw edge rows (with an arrival-order ``_seq``
    used for last-wins conflict resolution); ``forked()`` resolves per-label
    builder strategies and returns a query-ready immutable graph.
    """

    def __init__(
        self,
        spark: SparkSession,
        vertices: DataFrame | None = None,
        edges: DataFrame | None = None,
        edge_builders: dict[str, str] | None = None,
        forked: bool = False,
        materialized_vertices: bool = False,
    ):
        self.spark = spark
        self.V = vertices if vertices is not None else local_frame(spark, [], V_SCHEMA)
        if edges is None:
            edges = local_frame(spark, [], E_BUILD_SCHEMA)
        self.E = edges
        self.edge_builders = dict(edge_builders or {})
        self.is_forked = forked
        self.materialized_vertices = materialized_vertices
        self._seq_counter = 0

    # ------------------------------------------------------------------ build

    @classmethod
    def build(cls, spark: SparkSession, edge_builders: dict[str, str] | None = None) -> "PropertyGraph":
        """New empty linear graph (reference: build-graph, src/fermor/graph.clj:276-291)."""
        return cls(spark, edge_builders=edge_builders, forked=False)

    def _next_seq(self) -> int:
        self._seq_counter += 1
        return self._seq_counter

    def _lift_edges_for_build(self) -> DataFrame:
        """Edge rows with (_batch, _seq) arrival-order columns; pre-existing
        (already-resolved / loaded) edges get batch 0, ranking below any new
        batch in last-wins resolution."""
        e = self.E
        if "_batch" not in e.columns:
            e = e.withColumn("_batch", F.lit(0))
        if "_seq" not in e.columns:
            e = e.withColumn("_seq", F.monotonically_increasing_id())
        return e.select(*_E_BUILD_FIELDS)

    @staticmethod
    def _resolve_vertices(v: DataFrame) -> DataFrame:
        """Collapse duplicate vertex ids: the LATEST non-nil document (and
        kind) wins, matching the reference's -add-vertices put semantics
        (reference: src/fermor/graph.clj:377-384 — later additions overwrite,
        nil documents don't clobber an existing one)."""
        if "_batch" not in v.columns:
            v = v.withColumn("_batch", F.lit(0))
        if "_seq" not in v.columns:
            v = v.withColumn("_seq", F.monotonically_increasing_id())
        w = (
            Window.partitionBy("id")
            .orderBy("_batch", "_seq")
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        return (
            v.withColumn("doc", F.last("doc", ignorenulls=True).over(w))
            .withColumn("kind", F.last("kind", ignorenulls=True).over(w))
            .select(*V_FIELDS)
            .dropDuplicates(["id"])
        )

    def add_edges(
        self,
        label: str,
        triples: Iterable[Sequence] | DataFrame,
        builder: str | None = None,
    ) -> "PropertyGraph":
        """Batch-add edges under a label.

        ``triples``: iterable of (src, dst) / (src, dst, doc) / with
        builder='weighted', (src, dst, weight) — or a DataFrame with columns
        (src, dst[, weight][, doc]).
        Reference: add-edges, src/fermor/graph.clj:348-363.
        """
        if builder is not None:
            self.edge_builders.setdefault(label, builder)
        b = self.edge_builders.get(label, UNIQUE)
        batch = self._next_seq()

        if isinstance(triples, DataFrame):
            cols = triples.columns
            df = triples.select(
                F.lit(label).alias("label"),
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
                (F.col("weight").cast("double") if "weight" in cols else F.lit(None).cast("double")).alias("weight"),
                (F.col("doc").cast("string") if "doc" in cols else F.lit(None).cast("string")).alias("doc"),
                F.lit(batch).alias("_batch"),
                F.monotonically_increasing_id().alias("_seq"),
            ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        else:
            rows = []
            for i, t in enumerate(triples):
                src, dst = str(t[0]), str(t[1])
                weight, doc = None, None
                if len(t) > 2 and t[2] is not None:
                    if b == WEIGHTED:
                        weight = float(t[2])
                    else:
                        doc = _doc_json(t[2])
                rows.append((label, src, dst, weight, doc, batch, i))
            df = local_frame(self.spark, rows, E_BUILD_SCHEMA)

        new_e = self._lift_edges_for_build().unionByName(df)
        g = PropertyGraph(
            self.spark, self.V, new_e, self.edge_builders, forked=False,
            materialized_vertices=self.materialized_vertices,
        )
        g._seq_counter = self._seq_counter
        return g

    def _add_edges_anchored(self, label: str, anchor, vs,
                            edge_documents, forward: bool) -> "PropertyGraph":
        """Shared body of add_edges_from/add_edges_to (reference:
        add-edges-to/add-edges-from, src/fermor/core.clj:80-134). A document
        list shorter than the vertex list signals :missing-documents with
        the zipped prefix in context — the handler returns the triples to
        use (return ctx['triples'] to accept the prefix); unhandled, it
        raises, exactly the reference's escalation."""
        anchor = str(anchor)
        vs = [str(v) for v in vs]
        if edge_documents is not None:
            pairs = list(zip(vs, edge_documents))
            if len(pairs) != len(vs):
                from fermor_spark import conditions

                pairs = conditions.signal(
                    "missing-documents",
                    f"edge_documents has {len(edge_documents)} entries for "
                    f"{len(vs)} vertices (label {label!r})",
                    triples=pairs, vs=vs, edge_documents=edge_documents,
                    label=label)
            rows = [((anchor, v, d) if forward else (v, anchor, d))
                    for v, d in pairs]
        else:
            rows = [((anchor, v) if forward else (v, anchor)) for v in vs]
        return self.add_edges(label, rows)

    def add_edges_from(self, label: str, from_id, vs,
                       edge_documents=None) -> "PropertyGraph":
        """Connect one anchor vertex to each of ``vs``
        (reference: add-edges-from, src/fermor/core.clj:113-134)."""
        return self._add_edges_anchored(label, from_id, vs, edge_documents, True)

    def add_edges_to(self, label: str, vs, to_id,
                     edge_documents=None) -> "PropertyGraph":
        """Connect each of ``vs`` to one anchor vertex
        (reference: add-edges-to, src/fermor/core.clj:90-112)."""
        return self._add_edges_anchored(label, to_id, vs, edge_documents, False)

    def add_vertices(self, pairs: Iterable[Sequence] | DataFrame) -> "PropertyGraph":
        """Add (id[, doc]) pairs or (id, doc, kind) triples; last-wins on id.

        Reference: add-vertices, src/fermor/graph.clj:377-384.
        """
        batch = self._next_seq()
        if isinstance(pairs, DataFrame):
            cols = pairs.columns
            df = pairs.select(
                F.col("id").cast("string"),
                (F.col("kind").cast("string") if "kind" in cols else F.lit(None).cast("string")).alias("kind"),
                (F.col("doc").cast("string") if "doc" in cols else F.lit(None).cast("string")).alias("doc"),
                F.lit(batch).alias("_batch"),
                F.monotonically_increasing_id().alias("_seq"),
            )
        else:
            rows = []
            for i, p in enumerate(pairs):
                if isinstance(p, (list, tuple)):
                    vid = str(p[0])
                    doc = _doc_json(p[1]) if len(p) > 1 else None
                    kind = str(p[2]) if len(p) > 2 and p[2] is not None else None
                else:
                    vid, doc, kind = str(p), None, None
                rows.append((vid, kind, doc, batch, i))
            df = local_frame(self.spark, rows, V_BUILD_SCHEMA)
        old_v = self.V
        if "_batch" not in old_v.columns:
            old_v = old_v.withColumn("_batch", F.lit(0)).withColumn(
                "_seq", F.monotonically_increasing_id()
            )
        new_v = old_v.select(*V_FIELDS, "_batch", "_seq").unionByName(df)
        if self.is_forked:
            # forked graphs stay query-ready: resolve duplicates now
            # (reference round-trips forked mutations through linear,
            # src/fermor/graph.clj:392-395)
            new_v = self._resolve_vertices(new_v)
        g = PropertyGraph(
            self.spark, new_v, self.E, self.edge_builders, forked=self.is_forked,
            materialized_vertices=self.materialized_vertices,
        )
        g._seq_counter = self._seq_counter
        return g

    def add_edge_returning(self, label: str, src, dst, doc=None,
                           weight=None) -> tuple["PropertyGraph", DataFrame]:
        """Add one edge and return (graph', created-edge rows) — the
        reference's add-edge! build-then-return idiom as a named API
        (src/fermor/core.clj:146-230). Linear-graph building only, like the
        reference; conflict resolution still happens at forked()."""
        payload = doc if doc is not None else weight
        g = self.add_edges(label, [(src, dst, payload)] if payload is not None
                           else [(src, dst)])
        return g, g.get_edge(label, src, dst)

    def add_vertex_returning(self, vid, doc=None) -> tuple["PropertyGraph", "Route"]:
        """Add one vertex and return (graph', vertex route) — the reference's
        add-vertex! idiom as a named API (src/fermor/core.clj:146-230)."""
        g = self.add_vertices([(vid, doc)] if doc is not None else [vid])
        return g, g.get_vertex(vid)

    # ------------------------------------------------------- forked lifecycle

    def forked(self, cache: bool = True) -> "PropertyGraph":
        """Resolve per-label edge-builder conflicts → immutable query graph.

        Reference lifecycle: to-forked, src/fermor/graph.clj:267-274. On a
        cluster this is the natural checkpoint/cache boundary — builders are
        one shuffle per label-class, done once, amortized over all queries.
        """
        e = self._lift_edges_for_build()

        by_builder: dict[str, list[str]] = {}
        for lbl, b in self.edge_builders.items():
            by_builder.setdefault(b, []).append(lbl)
        special = {l for ls in by_builder.values() for l in ls if self.edge_builders.get(l) != UNIQUE}

        parts = []
        default_part = e.where(~F.col("label").isin(list(special)) if special else F.lit(True))
        # unique (last wins) — the default for unconfigured labels too.
        # Only keys some batch touched collapse: rows that all sit in batch
        # 0 (loaded as-is, e.g. the parallel rows of a from_dataframes
        # table) pass through unchanged. Both windows share one
        # partitioning and sort, so the key max adds no exchange.
        key = Window.partitionBy("label", "src", "dst")
        w = key.orderBy(F.col("_batch").desc(), F.col("_seq").desc())
        parts.append(
            default_part.withColumn("_rn", F.row_number().over(w))
            .withColumn("_max_batch", F.max("_batch").over(key))
            .where((F.col("_rn") == 1) | (F.col("_max_batch") == 0))
            .select(*E_FIELDS)
        )
        weighted = by_builder.get(WEIGHTED, [])
        if weighted:
            parts.append(
                e.where(F.col("label").isin(weighted))
                .groupBy("label", "src", "dst")
                .agg(F.sum(F.coalesce(F.col("weight"), F.lit(0.0))).alias("weight"))
                .withColumn("doc", F.lit(None).cast("string"))
                .select(*E_FIELDS)
            )
        parallel = by_builder.get(PARALLEL, [])
        if parallel:
            collected = (
                e.where(F.col("label").isin(parallel))
                .groupBy("label", "src", "dst")
                .agg(F.array_sort(F.collect_list(F.struct("_batch", "_seq", "doc"))).alias("_docs"))
            )
            # merged doc: {"parallel/count": n, "0": doc0, ...} (reference:
            # add-parallel-edge, src/fermor/graph.clj:333-346)
            doc_expr = F.concat(
                F.lit('{"parallel/count":'),
                F.size("_docs").cast("string"),
                F.coalesce(
                    F.aggregate(
                        F.filter(
                            F.transform(
                                F.col("_docs"),
                                lambda x, i: F.when(
                                    x["doc"].isNotNull(),
                                    F.concat(F.lit(',"'), i.cast("string"), F.lit('":'), x["doc"]),
                                ).otherwise(F.lit(None)),
                            ),
                            lambda s: s.isNotNull(),
                        ),
                        F.lit(""),
                        lambda acc, x: F.concat(acc, x),
                    ),
                    F.lit(""),
                ),
                F.lit("}"),
            )
            parts.append(
                collected.withColumn("doc", doc_expr)
                .withColumn("weight", F.lit(None).cast("double"))
                .select(*E_FIELDS)
            )
        resolved = parts[0]
        for p in parts[1:]:
            resolved = resolved.unionByName(p)

        v = (
            self._resolve_vertices(self.V)
            if self.V.limit(1).count() > 0 else self.V.select(*V_FIELDS)
        )
        if cache:
            resolved = resolved.cache()
            v = v.cache()
        g = PropertyGraph(
            self.spark, v, resolved, self.edge_builders, forked=True,
            materialized_vertices=self.materialized_vertices,
        )
        return g

    @classmethod
    def from_dataframes(
        cls,
        spark: SparkSession,
        edges: DataFrame,
        vertices: DataFrame | None = None,
        cache: bool = False,
    ) -> "PropertyGraph":
        """Wrap pre-built conforming DataFrames directly as a forked graph.

        The scale path: E/V come straight off Parquet/Delta, already
        deduplicated, optionally bucketed by (label, src).

        Null-endpoint rule: an edge row with a null src or dst (the
        orphan shape a null FK produces upstream) is NOT an edge and is
        dropped here, as is a vertex row with a null id. Joins already
        made such rows unreachable to traversals (null never equi-joins),
        but they leaked a phantom null vertex id into vertex_ids() and
        crashed the driver-side local finishes of the iterative hybrids
        (sorted() over ids with a None — found by the null-FK sweep).
        """
        cols = edges.columns
        e = edges.select(
            F.col("label").cast("string"),
            F.col("src").cast("string"),
            F.col("dst").cast("string"),
            (F.col("weight").cast("double") if "weight" in cols else F.lit(None).cast("double")).alias("weight"),
            (F.col("doc").cast("string") if "doc" in cols else F.lit(None).cast("string")).alias("doc"),
        ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        v = None
        if vertices is not None:
            vcols = vertices.columns
            v = vertices.select(
                F.col("id").cast("string"),
                (F.col("kind").cast("string") if "kind" in vcols else F.lit(None).cast("string")).alias("kind"),
                (F.col("doc").cast("string") if "doc" in vcols else F.lit(None).cast("string")).alias("doc"),
            ).where(F.col("id").isNotNull())
        if cache:
            e = e.cache()
            if v is not None:
                v = v.cache()
        return cls(spark, v, e, forked=True, materialized_vertices=vertices is not None)

    # ---------------------------------------------------------------- scans

    def vertex_ids(self) -> DataFrame:
        """All vertex ids (implicit-existence semantics).

        Reference: all-vertices, src/fermor/graph.clj:230-236, 470-476.
        """
        if self.materialized_vertices:
            return self.V.select("id")
        return (
            self.V.select("id")
            .unionByName(self.E.select(F.col("src").alias("id")))
            .unionByName(self.E.select(F.col("dst").alias("id")))
            .distinct()
        )

    def vertices(self, kind: str | None = None) -> "Route":
        """Route over all vertices, or those of one ``kind`` (reference:
        all-vertices plus of-kind, src/fermor/graph.clj:230-236 and
        src/fermor/core.clj:1284-1289). The kind scan is
        ``Route.of_kind``."""
        from fermor_spark.route import Route

        r = Route(self, self.vertex_ids(), "v")
        return r if kind is None else r.of_kind(kind)

    def edges(self, labels: Sequence[str] | str | None = None) -> "Route":
        from fermor_spark.route import Route

        return Route(self, self._edges_df(labels).withColumn("dir", F.lit("fwd")), "e")

    def _edges_df(self, labels: Sequence[str] | str | None = None) -> DataFrame:
        """Label-restricted edge scan → partition pruning when E is
        partitioned by label (reference per-label maps, src/fermor/graph.clj:114)."""
        e = self.E.select(*E_FIELDS)
        if labels is None:
            return e
        if isinstance(labels, str):
            labels = [labels]
        if len(labels) == 1:
            return e.where(F.col("label") == labels[0])
        return e.where(F.col("label").isin(list(labels)))

    def vertices_with_edge(self, labels=None) -> DataFrame:
        """Vertices having ≥1 edge with a label (reference: src/fermor/graph.clj:772-778)."""
        e = self._edges_df(labels)
        return e.select(F.col("src").alias("id")).unionByName(e.select(F.col("dst").alias("id"))).distinct()

    def has_vertex(self, vid: str, labels=None) -> bool:
        if labels is None:
            return self.vertex_ids().where(F.col("id") == str(vid)).limit(1).count() > 0
        e = self._edges_df(labels)
        return (
            e.where((F.col("src") == str(vid)) | (F.col("dst") == str(vid))).limit(1).count() > 0
        )

    def get_vertex(self, vid) -> "Route":
        """Point lookup, no existence check (reference: src/fermor/graph.clj:258-260)."""
        from fermor_spark.route import Route

        return Route(self, local_frame(self.spark, [(str(vid),)], "id string"), "v")

    def lookup(self, kind: str, raw_id) -> "Route":
        """KindId lookup — ids follow the 'kind:id' convention
        (reference: lookup, src/fermor/protocols.clj:356-359)."""
        return self.get_vertex(f"{kind}:{raw_id}")

    def get_vertices(self, vids: Sequence) -> "Route":
        from fermor_spark.route import Route

        return Route(
            self, local_frame(self.spark, [(str(v),) for v in vids], "id string"), "v"
        )

    def get_edge(self, label: str, src, dst) -> DataFrame:
        return self._edges_df(label).where(
            (F.col("src") == str(src)) & (F.col("dst") == str(dst))
        )

    def document(self, vid) -> dict | None:
        row = self.V.where(F.col("id") == str(vid)).select("doc").limit(1).collect()
        if not row or row[0][0] is None:
            return None
        return json.loads(row[0][0])

    # ------------------------------------------------------------- mutation

    def set_documents(self, pairs: Iterable[Sequence]) -> "PropertyGraph":
        """Upsert element documents, routed by element type like the
        reference (set-documents dispatches per element,
        src/fermor/graph.clj:90-102): a key that is a (label, src, dst)
        triple addresses an edge; anything else addresses a vertex by id.
        One call may mix both."""
        v_pairs, e_pairs = [], []
        for key, d in pairs:
            if isinstance(key, (tuple, list)) and len(key) == 3:
                e_pairs.append((key, d))
            else:
                v_pairs.append((key, d))
        g = self
        if v_pairs:
            rows = [(str(i), None, _doc_json(d)) for i, d in v_pairs]
            updates = local_frame(g.spark, rows, V_SCHEMA)
            merged = (
                g.V.select(*V_FIELDS).alias("old")
                .join(updates.alias("new"), "id", "full")
                .select(
                    "id",
                    F.coalesce(F.col("old.kind"), F.col("new.kind")).alias("kind"),
                    F.coalesce(F.col("new.doc"), F.col("old.doc")).alias("doc"),
                )
            )
            g = PropertyGraph(g.spark, merged, g.E, g.edge_builders,
                              forked=g.is_forked,
                              materialized_vertices=g.materialized_vertices)
        if e_pairs:
            g = g.set_edge_documents(
                [(l, s, d, doc) for (l, s, d), doc in e_pairs]
            )
        return g

    def set_edge_documents(self, quads: Iterable[Sequence]) -> "PropertyGraph":
        """Upsert edge documents by (label, src, dst, doc) — the edge leg of
        the reference's set-documents routing (src/fermor/graph.clj:90-102).
        Existing edges keep their weight; absent edges are created."""
        rows = [
            (str(l), str(s), str(d), _doc_json(doc)) for l, s, d, doc in quads
        ]
        updates = local_frame(
            self.spark, rows, "label string, src string, dst string, _newdoc string"
        )
        key = ["label", "src", "dst"]
        merged = (
            self.E.select(*E_FIELDS).alias("old")
            .join(updates.alias("new"), key, "full")
            .select(
                *key,
                F.col("old.weight").alias("weight"),
                F.coalesce(F.col("new._newdoc"), F.col("old.doc")).alias("doc"),
            )
        )
        return PropertyGraph(self.spark, self.V, merged, self.edge_builders,
                             forked=self.is_forked,
                             materialized_vertices=self.materialized_vertices)

    def update_documents(self, fn, vids: Sequence | None = None) -> "PropertyGraph":
        """Update vertex documents with a user fn (doc: str|None) -> str|None,
        optionally restricted to `vids` (reference: update-document,
        src/fermor/core.clj:268-291). Runs as an Arrow-batched pandas UDF."""
        from pyspark.sql.functions import pandas_udf

        def _upd(docs: pandas.Series) -> pandas.Series:
            return pandas.Series(
                [fn(d if pandas.notna(d) else None) for d in docs], dtype=object
            )

        upd = pandas_udf(_upd, "string")
        scope = F.lit(True) if vids is None else F.col("id").isin([str(v) for v in vids])
        new_v = self.V.select(
            "id", "kind",
            F.when(scope, upd(F.col("doc"))).otherwise(F.col("doc")).alias("doc"),
        )
        return PropertyGraph(self.spark, new_v, self.E, self.edge_builders,
                             forked=self.is_forked,
                             materialized_vertices=self.materialized_vertices)

    def update_edge_documents(self, fn, labels=None) -> "PropertyGraph":
        """Update edge documents with a user fn (doc: str|None) -> str|None,
        optionally restricted to `labels` — the edge leg of the reference's
        document routing (src/fermor/graph.clj:90-102; exercised by
        update-edge-documents, src/fermor/force_atlas/graph.clj:131-158).
        Arrow-batched pandas UDF, like the vertex side."""
        from pyspark.sql.functions import pandas_udf

        def _upd(docs: pandas.Series) -> pandas.Series:
            return pandas.Series(
                [fn(d if pandas.notna(d) else None) for d in docs], dtype=object
            )

        upd = pandas_udf(_upd, "string")
        if labels is None:
            scope = F.lit(True)
        else:
            lbls = [labels] if isinstance(labels, str) else list(labels)
            scope = F.col("label").isin(lbls)
        new_e = self.E.select(
            "label", "src", "dst", "weight",
            F.when(scope, upd(F.col("doc"))).otherwise(F.col("doc")).alias("doc"),
            *[c for c in self.E.columns if c not in E_FIELDS],
        )
        return PropertyGraph(self.spark, self.V, new_e, self.edge_builders,
                             forked=self.is_forked,
                             materialized_vertices=self.materialized_vertices)

    def remove_vertices(self, vids: Sequence) -> "PropertyGraph":
        """Remove vertices and their incident edges (left_anti joins)."""
        rm = local_frame(self.spark, [(str(v),) for v in vids], "id string")
        new_v = self.V.join(rm, "id", "left_anti")
        new_e = (
            self.E.join(rm.withColumnRenamed("id", "src"), "src", "left_anti")
            .join(rm.withColumnRenamed("id", "dst"), "dst", "left_anti")
            .select(*self.E.columns)
        )
        return PropertyGraph(self.spark, new_v, new_e, self.edge_builders,
                             forked=self.is_forked,
                             materialized_vertices=self.materialized_vertices)

    def remove_documents(self, vids: Sequence) -> "PropertyGraph":
        """Null out vertex documents (reference: remove-documents,
        src/fermor/graph.clj:75-112)."""
        rm = local_frame(self.spark, [(str(v),) for v in vids], "rid string")
        new_v = self.V.join(rm, self.V["id"] == rm["rid"], "left").select(
            "id", "kind",
            F.when(F.col("rid").isNotNull(), F.lit(None).cast("string"))
            .otherwise(F.col("doc")).alias("doc"),
        )
        return PropertyGraph(self.spark, new_v, self.E, self.edge_builders,
                             forked=self.is_forked,
                             materialized_vertices=self.materialized_vertices)

    def get_vertex_checked(self, vid) -> "Route":
        """Point lookup that signals :vertex-not-found when absent
        (reference: get-vertex!, src/fermor/core.clj:245-260). A bound
        handler's return value is returned as the lookup default; unhandled,
        the signal raises (conditions.Condition, a KeyError subclass-free
        analog of the reference's ex-info escalation)."""
        if not self.has_vertex(vid):
            from fermor_spark import conditions

            return conditions.signal(
                "vertex-not-found", f"vertex not found: {vid}",
                graph=self, id=vid)
        return self.get_vertex(vid)

    def assert_acyclic(self, labels=None, max_iter: int = 200) -> "PropertyGraph":
        """Validate that the (label-restricted) edges form a DAG — the
        dag-edge type as a build-time constraint (SURVEY §1.4; reference:
        dag-edge, src/fermor/graph.clj:19-42). Iterative leaf-stripping
        (distributed topological peel); raises ValueError on a cycle.

        Runs on ``iterate._fixpoint`` (record ``acyclic``: the edges left
        after each round's strip). ``max_iter`` bounds the emptiness
        checks, the first of which is on the input edges, so the last
        round's result is checked for a cycle only."""
        from fermor_spark.iterate import _fixpoint, _record  # iterate imports graph

        rec = _record("acyclic")

        def strip(remaining: DataFrame, _: int) -> DataFrame:
            # drop edges pointing at sinks (dst with no outgoing edge)
            srcs = remaining.select(F.col("src").alias("dst")).distinct()
            return remaining.join(srcs, "dst", "left_semi")

        e = self._edges_df(labels).select("src", "dst")
        n = e.count() if max_iter > 0 else None
        if n == 0:
            return self
        for i, (_, (m,)) in enumerate(_fixpoint(rec, e, strip, max_iter)):
            if m == n:
                raise ValueError(f"cycle detected among labels {labels!r}")
            if m == 0 and i + 1 < max_iter:
                return self
            n = m
        raise ValueError("assert_acyclic: max iterations exceeded")

    def merge_with(self, other: "PropertyGraph", doc_merge) -> "PropertyGraph":
        """Merge graphs resolving edge-document conflicts with a user fn
        (reference: merge-with, src/fermor/graph.clj:531-562). The user fn
        (doc_a: str|None, doc_b: str|None) -> str|None runs as an
        Arrow-batched pandas UDF over the conflicting pairs only."""
        from pyspark.sql.functions import pandas_udf

        def _merge(a: pandas.Series, b: pandas.Series) -> pandas.Series:
            out = []
            for x, y in zip(a, b):
                x = x if pandas.notna(x) else None
                y = y if pandas.notna(y) else None
                if x is not None and y is not None:
                    out.append(doc_merge(x, y))
                else:
                    out.append(y if y is not None else x)
            return pandas.Series(out, dtype=object)

        merge_docs = pandas_udf(_merge, "string")

        e1 = self.E.select(*E_FIELDS)
        e2 = other.E.select(*E_FIELDS)
        key = ["label", "src", "dst"]
        both = (
            e1.alias("a").join(e2.alias("b"), key, "full")
            .select(
                *key,
                F.coalesce(F.col("a.weight"), F.col("b.weight")).alias("weight"),
                merge_docs(F.col("a.doc"), F.col("b.doc")).alias("doc"),
            )
        )
        merged = self.merge(other)
        return PropertyGraph(self.spark, merged.V, both, merged.edge_builders,
                             forked=True,
                             materialized_vertices=merged.materialized_vertices)

    def remove_edges(self, triples: Iterable[Sequence]) -> "PropertyGraph":
        rm = local_frame(
            self.spark, [(str(l), str(s), str(d)) for l, s, d in triples],
            "label string, src string, dst string",
        )
        new_e = self.E.join(rm, ["label", "src", "dst"], "left_anti").select(*self.E.columns)
        return PropertyGraph(self.spark, self.V, new_e, self.edge_builders,
                             forked=self.is_forked,
                             materialized_vertices=self.materialized_vertices)

    # ------------------------------------------------------------ transforms

    def transpose(self, labels=None) -> "PropertyGraph":
        """Reverse all (or selected-label) edges (reference: src/fermor/graph.clj:156-167)."""
        e = self.E.select(*E_FIELDS) if "_seq" not in self.E.columns else self.E.select(*E_FIELDS)
        sel = F.lit(True) if labels is None else F.col("label").isin(
            [labels] if isinstance(labels, str) else list(labels)
        )
        flipped = e.where(sel).select(
            "label", F.col("dst").alias("src"), F.col("src").alias("dst"), "weight", "doc"
        )
        kept = e.where(~sel) if labels is not None else e.limit(0)
        return PropertyGraph(self.spark, self.V, flipped.unionByName(kept),
                             self.edge_builders, forked=True,
                             materialized_vertices=self.materialized_vertices)

    def merge(self, other: "PropertyGraph") -> "PropertyGraph":
        """Merge graphs, last-wins on conflicts (reference: src/fermor/graph.clj:531-562)."""
        w_e = Window.partitionBy("label", "src", "dst").orderBy(F.col("_pri").desc())
        e = (
            self.E.select(*E_FIELDS).withColumn("_pri", F.lit(0))
            .unionByName(other.E.select(*E_FIELDS).withColumn("_pri", F.lit(1)))
            .withColumn("_rn", F.row_number().over(w_e))
            .where(F.col("_rn") == 1)
            .select(*E_FIELDS)
        )
        w_v = Window.partitionBy("id").orderBy(F.col("_pri").desc())
        v = (
            self.V.withColumn("_pri", F.lit(0))
            .unionByName(other.V.withColumn("_pri", F.lit(1)))
            .withColumn("_rn", F.row_number().over(w_v))
            .where(F.col("_rn") == 1)
            .select(*V_FIELDS)
        )
        builders = {**other.edge_builders, **self.edge_builders}
        return PropertyGraph(self.spark, v, e, builders, forked=True,
                             materialized_vertices=self.materialized_vertices
                             and other.materialized_vertices)

    def undirected_view(self, labels=None) -> DataFrame:
        """Both orientations of each edge — the undirected-edge semantics
        (reference: src/fermor/graph.clj:19-42)."""
        e = self._edges_df(labels)
        return e.unionByName(
            e.select("label", F.col("dst").alias("src"), F.col("src").alias("dst"), "weight", "doc")
        )

    # ------------------------------------------------------------- degrees

    def degrees(self, labels=None, direction: str = "both") -> DataFrame:
        """Per-vertex edge counts → (id, degree).

        One shuffle: union the endpoint projections, single groupBy. Vertices
        with no edges get degree 0 via a left join from the vertex scan.
        Reference: degree family, src/fermor/core.clj:375-388, 1582-1598.
        """
        e = self._edges_df(labels)
        ends = []
        if direction in ("out", "both"):
            ends.append(e.select(F.col("src").alias("id")))
        if direction in ("in", "both"):
            ends.append(e.select(F.col("dst").alias("id")))
        u = ends[0]
        for x in ends[1:]:
            u = u.unionByName(x)
        counts = u.groupBy("id").agg(F.count("*").alias("degree"))
        return (
            self.vertex_ids()
            .join(counts, "id", "left")
            .select("id", F.coalesce(F.col("degree"), F.lit(0)).alias("degree"))
        )

    # -------------------------------------------------------- sources/sinks

    def save(self, path: str, mode: str = "overwrite",
             bucket_by_src: int | None = None) -> None:
        """Persist the graph as Parquet: edges partitioned by label (per-label
        traversal → partition pruning at read), vertices alongside.

        The reference has no persistence (SURVEY §2.1); Parquet/Delta tables
        of V/E are this engine's source/sink story. With `bucket_by_src`,
        edges are additionally written as a bucketed TABLE (spark_catalog)
        so repeated src-keyed traversal joins co-locate without a shuffle.
        """
        e = self.E.select(*E_FIELDS)
        if bucket_by_src:
            name = "fermor_edges_" + path.strip("/").replace("/", "_").replace("-", "_").replace(".", "_")
            (
                e.write.mode(mode)
                .partitionBy("label")
                .bucketBy(bucket_by_src, "src")
                .sortBy("src")
                .option("path", f"{path}/edges")
                .saveAsTable(name)
            )
        else:
            e.write.mode(mode).partitionBy("label").parquet(f"{path}/edges")
        self.V.select(*V_FIELDS).write.mode(mode).parquet(f"{path}/vertices")

    @classmethod
    def load(cls, spark: SparkSession, path: str, cache: bool = False) -> "PropertyGraph":
        """Load a graph persisted by save(): forked, vertices materialized."""
        e = spark.read.parquet(f"{path}/edges").select(*E_FIELDS)
        v = spark.read.parquet(f"{path}/vertices")
        return cls.from_dataframes(spark, e, v, cache=cache)

    # --------------------------------------------------------------- interop

    def to_networkx(self, labels=None, directed: bool = True, max_edges: int = 1_000_000):
        """Export to a NetworkX graph for driver-side ecosystem interop —
        the analog of the reference's Loom adapter
        (reference: as-loom-graph, src/fermor/loom_graph.clj:35-168).
        Size-guarded like fermor_spark.algo. NetworkX is optional; raises
        ImportError with guidance if absent."""
        try:
            import networkx as nx
        except ImportError as e:  # pragma: no cover
            raise ImportError(
                "networkx is not installed; driver-side interop requires it"
            ) from e
        e = self._edges_df(labels)
        n = e.limit(max_edges + 1).count()
        if n > max_edges:
            raise ValueError(f"edge count exceeds to_networkx guard ({max_edges})")
        G = nx.MultiDiGraph() if directed else nx.MultiGraph()
        for r in e.collect():
            attrs = {"label": r["label"]}
            if r["weight"] is not None:
                attrs["weight"] = r["weight"]
            if r["doc"] is not None:
                attrs["doc"] = json.loads(r["doc"])
            G.add_edge(r["src"], r["dst"], **attrs)
        for r in self.V.collect():
            if r["id"] not in G:
                G.add_node(r["id"])
            if r["doc"] is not None:
                G.nodes[r["id"]]["doc"] = json.loads(r["doc"])
            if r["kind"] is not None:
                G.nodes[r["id"]]["kind"] = r["kind"]
        return G

    @classmethod
    def from_networkx(cls, spark: SparkSession, G,
                      default_label: str = "edge") -> "PropertyGraph":
        """Import a NetworkX graph — the return leg of the ecosystem
        adapter, making the interop bidirectional like the reference's Loom
        adapter (as-loom-graph supports reads AND builds,
        src/fermor/loom_graph.clj:35-168; to_networkx is the export leg).
        Edge attrs label/weight/doc and node attrs kind/doc round-trip;
        other attributes are ignored. Driver-side by nature (the source is
        an in-memory NetworkX object — model-state scale, not data scale).
        """
        erows = []
        for u, v, data in G.edges(data=True):
            erows.append((
                str(data.get("label", default_label)), str(u), str(v),
                float(data["weight"]) if data.get("weight") is not None else None,
                _doc_json(data["doc"]) if "doc" in data else None,
            ))
        vrows = []
        for n, data in G.nodes(data=True):
            vrows.append((
                str(n), data.get("kind"),
                _doc_json(data["doc"]) if "doc" in data else None,
            ))
        e = local_frame(
            spark, erows, "label string, src string, dst string, weight double, doc string")
        vdf = local_frame(spark, vrows, V_SCHEMA) if vrows else None
        return cls.from_dataframes(spark, e, vdf)

    # -------------------------------------------------------------- equality

    def graph_equals(self, other: "PropertyGraph") -> bool:
        """Equality on (edges, documents) — test helper
        (reference: graph-equality, src/fermor/graph.clj:577-589)."""
        e1, e2 = self.E.select(*E_FIELDS), other.E.select(*E_FIELDS)
        if e1.exceptAll(e2).limit(1).count() or e2.exceptAll(e1).limit(1).count():
            return False
        v1 = self.V.where(F.col("doc").isNotNull()).select("id", "doc")
        v2 = other.V.where(F.col("doc").isNotNull()).select("id", "doc")
        return not (v1.exceptAll(v2).limit(1).count() or v2.exceptAll(v1).limit(1).count())


# ------------------------------------------------------------ default graph

def default_graph() -> "PropertyGraph | None":
    """Resolve the ambient default graph via the :default-graph condition
    (reference: core.clj `v`/`e` literals + graph.clj:911-937). The signal
    is optional — None when no handler is bound, matching the reference's
    `optional` resolution path."""
    from fermor_spark import conditions

    g = conditions.signal_or("default-graph")
    return None if conditions.unhandled(g) else g


def use_graph(g: "PropertyGraph"):
    """Lexically bind ``g`` as the default graph::

        with use_graph(g):
            v("a")         # -> point-lookup Route in g

    (reference: handling the :default-graph condition, graph.clj:911-937)"""
    from fermor_spark import conditions

    return conditions.handling("default-graph", lambda ctx: g)


def v(vid, document=None):
    """Vertex literal (reference: `v`, src/fermor/graph.clj:911-925): with a
    default graph bound, a point-lookup Route into it; detached otherwise —
    an (id, document) pair usable with add_vertices, mirroring the
    reference's graph-less ->V record."""
    g = default_graph()
    if g is None:
        return (str(vid), document)
    return g.get_vertex(vid)


def e(label, src, dst):
    """Edge literal (reference: `e->`, src/fermor/graph.clj:927-945): with a
    default graph bound, that graph's get_edge result (an edge DataFrame,
    empty when absent); detached otherwise — a (label, src, dst) triple
    usable with add_edges."""
    g = default_graph()
    if g is None:
        return (str(label), str(src), str(dst))
    return g.get_edge(label, src, dst)
