"""Degree count over the split graph.

Reference: library/CountDegree.java:12-59 driven by
SortDegreeNodeSplitting.java:28-97 (split path) — undirected degree per
original vertex, computed on the *split* edge set then tree-merged.
Golden fixture: util/NodeSplittingData.java:55-57.

Spark shape: per-sub-vertex partial count (groups bounded by the split) →
single ``groupBy(tag).sum`` merge. Two shuffles total, both balanced.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import single_task
from ..graph import degrees, normalize_edges
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..splitting import merge_by_tag, split_graph

# Single-task working set per exploded endpoint row (the id string plus
# the hash-table working set); two rows per edge.
_SINGLE_TASK_ROW_BYTES = 64


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

    r6 restructure (guide §1.2 no duplicate passes): the round-start
    shape derived the split fan-out table from the shared undirected
    cache in a way that made BOTH broadcast fan-out builds re-run the
    full degree aggregation (the two BroadcastExchange subtrees each
    carried their own groupBy in the plan). ``split_graph``'s defaults
    now derive ONE lazily-checkpointed degree table from the same lazily-
    checkpointed undirected expansion — each is computed exactly once
    (und on the first fan-out build, deg alongside it; the second fan-out
    broadcast and the rewrite join read the caches). Below
    ``single_task_budget_bytes`` the whole count instead runs as one
    vectorized value_counts task — the same budget-gated single-task
    rung as pagerank/cc/triangle.
    (Eagerly pre-materializing degree+und the way the ITERATIVE consumers
    do measured 4.4 s vs 2.3 s here — that direction stays rejected.)
    """
    edges = normalize_edges(edges)

    # the single-task rung (single_task.py): physical strategy only,
    # identical rows; the split pipeline below is the >budget path
    def kernel(c):
        # exact hash-based counts, no sort: degree = multiplicity of the
        # id in the exploded (src ∪ dst) multiset, which IS the undirected
        # degree (``undirected`` is a plain union, no dedup), and the id
        # strings pass through Arrow untouched
        import pandas as pd

        vc = pd.Series(c["id"]).value_counts(sort=False)
        return {"id": vc.index.to_numpy(), "degree": vc.to_numpy().astype("int64")}

    copy = single_task.gate(
        edges.select("src", "dst"), single_task_budget_bytes, 2 * _SINGLE_TASK_ROW_BYTES
    )
    if copy is not None:
        return single_task.run(
            copy.select(F.explode(F.array("src", "dst")).alias("id")),
            kernel,
            "id string, degree long",
        )
    if not split:
        return degrees(edges)
    sg = split_graph(edges, threshold=threshold, alpha=alpha, level=level, mode=mode)
    partial = sg.edges.groupBy("src", "src_tag").agg(F.count("*").alias("pdeg"))
    merged = merge_by_tag(
        partial.select(F.col("src_tag").alias("tag"), "pdeg"),
        [F.sum("pdeg").cast("long").alias("degree")],
    )
    return merged.select(F.col("tag").alias("id"), "degree")
