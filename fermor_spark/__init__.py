"""fermor_spark — a PySpark-native property-graph & analytics engine.

A from-scratch, Spark-first re-expression of the query surface of the
reference graph-traversal library (pangloss/fermor): an immutable property
graph stored as a pair of DataFrames (V, E), a composable Route algebra whose
steps are DataFrame joins/filters/aggregations, an iterative frontier engine
for recursive traversal, a driver-side library for inherently-sequential
CFG-style algorithms, plus large-scale data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing) and Structured
Streaming windows.

Design notes (scale-first):
- Everything user-facing is a DataFrame transformation: Catalyst gets the
  whole plan (predicate pushdown, column pruning, join selection, AQE).
- Edge tables are label-partitionable; per-label traversal = partition
  pruning, mirroring the reference's per-label adjacency maps
  (reference: src/fermor/graph.clj:114).
- No driver-side collect in the hot path; the only collects live behind the
  explicitly size-guarded `algo` module (CFG-sized graphs, matching the
  reference's own usage).
- The package imports none of its modules up front: Python workers start as
  ``python -m fermor_spark.worker_daemon``, which runs this file first,
  and pyspark must not be imported before that module settles
  ``sys.path``. The public names load on first use (PEP 562).
"""

import importlib

_EXPORTS = {
    "get_spark": "fermor_spark.session",
    "PropertyGraph": "fermor_spark.graph",
    "Route": "fermor_spark.route",
    "Condition": "fermor_spark.conditions",
    "handling": "fermor_spark.conditions",
    "set_handler": "fermor_spark.conditions",
}

__all__ = ["get_spark", "PropertyGraph", "Route",
           "Condition", "handling", "set_handler"]
__version__ = "0.1.0"


def __getattr__(name):
    module = _EXPORTS.get(name)
    if module is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value
