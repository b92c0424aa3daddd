"""Neighborhood materialization + custom gather combiners.

Reference anchors:
- A5 grouped set-union merge: example/NodeSplittingJaccard.java:99-117 —
  partial neighbor HashSets unioned per original vertex;
- A8 grouped neighborhood reduce: util/DummyGraph.java:138-253
  (reduceOnNeighbors / groupReduceOnNeighbors).

``neighbor_sets`` is the split-merge version: per *sub-vertex* collect_set
(bounded by the split fan-out — the reason splitting exists: collect_set is
NOT map-side reducible for a hub key), then one ``groupBy(tag)`` flatten +
distinct merge.

``aggregate_neighborhoods`` is the engine's custom-combiner extension
point for semantics no builtin aggregate covers: an Arrow-batched
``applyInPandas`` over the *salted* gather key, then a second pandas merge
per original vertex — the reference's RichGroupReduce surface (SURVEY
§2.9) re-expressed as vectorized pandas, never row-at-a-time Python.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, functions as F

from ..graph import normalize_edges
from ..splitting import split_graph


def _shared_split(edges: DataFrame, threshold, alpha: int, level: int):
    """The flat string split (``id#k``). These are ONE-PASS consumers of
    the split edges: ``split_graph``'s lazy undirected and degree
    checkpoints fill as the one pass runs, where the vertex table the
    distributed rungs and ``degree_count`` key on is an eager checkpoint
    plus a counting job before the first edge is routed (guide §5). The
    iterative algorithms, which re-scan every superstep, amortize it."""
    return split_graph(edges, threshold=threshold, alpha=alpha, level=level)


def neighbor_sets(
    edges: DataFrame,
    split: bool = True,
    threshold: int | None = 1000,
    alpha: int = 2,
    level: int = 8,
    as_string: bool = False,
) -> DataFrame:
    """(id, neighbors: array<string>) — sorted distinct neighbor ids.

    Split path: per-sub-vertex collect_set keeps every group ≤ ~threshold
    elements; the tag-level merge flattens ≤ alpha^level partial arrays.

    ``as_string=True`` emits the scalar projection
    (id, neighbors: string, n_neighbors: long) — the sorted set joined
    with ',' plus its cardinality. Same set-union merge underneath; the
    scalar shape is hashable by row-canonicalizing comparators (driver
    gate), where an array cell is not.
    """
    edges = normalize_edges(edges)
    sg = _shared_split(edges, threshold if split else 2**62, alpha, level)
    partial = sg.edges.groupBy("src", "src_tag").agg(
        F.collect_set("dst_tag").alias("part")
    )
    sets = (
        partial.groupBy(F.col("src_tag").alias("id"))
        .agg(
            F.sort_array(
                F.array_distinct(F.flatten(F.collect_list("part")))
            ).alias("neighbors")
        )
    )
    if not as_string:
        return sets
    return sets.select(
        "id",
        F.array_join("neighbors", ",").alias("neighbors"),
        F.size("neighbors").cast("long").alias("n_neighbors"),
    )


def aggregate_neighborhoods(
    edges: DataFrame,
    combine: Callable,
    schema: str,
    merge: Callable | None = None,
    split: bool = True,
    threshold: int | None = 1000,
    alpha: int = 2,
    level: int = 8,
) -> DataFrame:
    """Custom per-vertex neighborhood aggregation with split-merge.

    ``combine(pdf) -> pdf`` receives all gathered (id, tag, neighbor, w)
    rows of ONE salted sub-vertex (group size bounded by the split) and
    returns one row matching ``schema`` (must include a ``tag`` column).
    ``merge(pdf) -> pdf`` folds the ≤ alpha^level partial rows of one
    original vertex (defaults to ``combine`` re-applied when None —
    valid for associative combiners, the reference's requirement).
    """
    edges = normalize_edges(edges)
    sg = _shared_split(edges, threshold if split else 2**62, alpha, level)
    gathered = sg.edges.select(
        F.col("src").alias("id"),
        F.col("src_tag").alias("tag"),
        F.col("dst_tag").alias("neighbor"),
        "w",
    )
    partials = gathered.groupBy("id").applyInPandas(
        lambda pdf: combine(pdf), schema
    )
    merge_fn = merge if merge is not None else combine
    return partials.groupBy("tag").applyInPandas(lambda pdf: merge_fn(pdf), schema)
