"""Degree count over the split graph.

Reference: library/CountDegree.java:12-59 driven by
SortDegreeNodeSplitting.java:28-97 (split path) — undirected degree per
original vertex, computed on the *split* edge set then tree-merged.
Golden fixture: util/NodeSplittingData.java:55-57.

Spark shape: the salted layout every distributed rung runs on
(``distributed.vertex_table`` + ``salted_layout``), a per-sub-vertex
partial count over its routing rows (groups bounded by the split), one
``groupBy(vid).sum`` merge on ``sub >> b`` and one decode to the ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import distributed, single_task
from ..graph import degrees, normalize_edges, normalize_endpoints
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..splitting import salt_bits
from ..superstep import release_checkpoint

# Single-task working set per endpoint (two per input edge): the Arrow
# id string and its dictionary code. The task replayed outside Spark (as
# pagerank's) peaks at 58-61 B per input edge on 0.6-2.4M edges.
_SINGLE_TASK_ROW_BYTES = 32


def degree_count(
    edges: DataFrame,
    split: bool = True,
    threshold: int | None = 2,
    alpha: int = 2,
    level: int = 4,
    mode: str = "flat",
    single_task_budget_bytes: int = DEFAULT_SINGLE_TASK_BUDGET,
) -> DataFrame:
    """(id, degree): undirected degree per original vertex.

    Below ``single_task_budget_bytes`` the whole count runs as one
    vectorized bincount task, the same budget-gated single-task rung as
    pagerank/cc/triangle. Above it, ``split=True`` counts over the salted
    layout PageRank, CC and LP run on (``mode`` reaches
    ``splitting.split_vids``), so any vertex id is accepted;
    ``split=False`` is one plain ``groupBy``.
    """
    # the single-task rung (single_task.py): physical strategy only,
    # identical rows; the split pipeline below is the >budget path
    def kernel(c, left_bytes):
        # degree = multiplicity of the id in the (src ∪ dst) multiset,
        # which IS the undirected degree (``undirected`` is a plain union,
        # no dedup)
        import numpy as np

        codes, ids = single_task.sorted_codes(c["src"], c["dst"])
        return {"id": ids, "degree": np.bincount(codes)}, None

    out = single_task.run(
        normalize_endpoints(edges),
        kernel,
        "id string, degree long",
        single_task_budget_bytes,
        2 * _SINGLE_TASK_ROW_BYTES,
    ).out
    if out is not None:
        return out
    edges = normalize_edges(edges)
    if not split:
        return degrees(edges)
    vt = distributed.vertex_table(edges)
    e, subs = distributed.salted_layout(edges, vt, True, threshold, alpha, level, mode)
    if mode == "tree":
        release_checkpoint(subs)  # handed over materialized; the merge reads only the routes
    partial = e.groupBy("src").agg(F.count("*").alias("pdeg"))
    merged = partial.groupBy(
        F.shiftright("src", salt_bits(alpha, level, vt.n - 1)).alias("vid")
    ).agg(F.sum("pdeg").cast("long").alias("degree"))
    return distributed.decode(merged, vt, "vid").select(F.col("vid").alias("id"), "degree")
