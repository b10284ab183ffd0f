"""metric_search_spark — a PySpark-native metric-search / spatial-join / tiling engine.

A ground-up re-imagining of the cover-tree metric-search capabilities of
SignalEmpoweringTechnology/metric_search (reference at /root/reference, studied for
semantics only) as a partition-parallel Spark engine:

- ``core``       — numpy cover-tree kernel (reference-parity semantics) + metric library
- ``cells``      — hierarchical spatial cell index (Morton quadkey; H3/S2-style API)
- ``operators``  — set-oriented joins (kNN, range, point-in-polygon), tiling/clustering,
                   dedup, ANN, graph ops, pairwise distance matrices
- ``sources``    — synthetic image+caption table generator, codecs, index state tables,
                   checkpoint/lineage/resume
- ``functions``  — Spark column expressions + vectorized Arrow kernels (vector math,
                   text analysis, image plumbing)
- ``plans``      — plan inspection helpers (pushdown / codegen / shuffle assertions)
- ``streaming``  — incremental index maintenance (foreachBatch upgrade path)

Everything is public-API PySpark: DataFrames, Arrow-vectorized pandas UDFs,
``applyInPandas``/``mapInPandas``/``applyInArrow``, Window functions, AQE. No per-row Python UDFs.
"""

__version__ = "0.1.0"

from metric_search_spark.session import build_session  # noqa: F401
