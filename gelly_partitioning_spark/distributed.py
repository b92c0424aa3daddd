"""The distributed rungs: broadcast-state and salted Split-Merge.

The counterpart of ``single_task.py``. PageRank, connected components and
label propagation own only their raw scatter tables, their ``step`` and
their output decode; this module owns how the two distributed rungs
measure the graph, pick a rung, build and store their static tables and
wire the ``SuperstepRunner``:

- ``vertex_table``: ONE materialized (tag, degree) table aggregated from
  the DIRECTED edges (out+in ≡ the undirected groupBy), and one agg over
  it for the vertex count, the routing-row count 2|E| and, on request,
  the xxhash64 injectivity check. No serialized cache of the 2|E|
  undirected expansion is written just to aggregate it (guide §5);
- ``use_broadcast_state``: the one broadcast-vs-salted decision;
- ``broadcast_table`` / ``salted_split`` + ``salted_table``: the static
  side of each rung, stored at a level chosen once from the known row
  count;
- ``wire_runner``: batch size, chained-checkpoint truncation and the
  resume fingerprint.

Why the broadcast rung needs no split (guide §2.4/§1.2): in broadcast
mode the scatter joins on the ORIGINAL source tag against the broadcast
state, and the gather groups by the original destination tag, so
sub-vertex routing is physically irrelevant: the scatter table is the
undirected edge set itself (plus, where the step needs it, one self row
per vertex), built in one pass with zero shuffles. It is the same
multiset the split + join construction yields, so the answers are
identical; only the salted rung, whose per-superstep join is shuffled on
the source key, needs the hub split.

Every rung returns the same answer; the choice only changes where the
work runs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .splitting import SplitGraph, split_graph
from .superstep import (
    SuperstepRunner,
    checkpoint_static_sized,
    data_fingerprint,
    fits_broadcast_budget,
    static_scan_partitions,
)

# split threshold that splits nothing (``split=False``)
_NO_SPLIT = 2**62


@dataclass
class VertexTable:
    """degrees: (tag string, degree long), materialized; n: vertex count;
    e_rows: 2|E|, the undirected routing-row count; injective: whether
    xxhash64 is collision-free on the tags (None when not checked)."""

    degrees: DataFrame
    n: int
    e_rows: int
    injective: bool | None


def vertex_table(edges: DataFrame, check_hashes: bool = False) -> VertexTable:
    """The vertex/degree table of a normalized edge frame: one groupBy
    checkpoint, then one vertex-sized agg for the counts (and, with
    ``check_hashes``, the distinct xxhash64 count of the tags)."""
    degrees = (
        edges.select(F.explode(F.array("src", "dst")).alias("tag"))
        .groupBy("tag")
        .agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint(eager=True)
    )
    aggs = [F.count("*").alias("n"), F.sum("degree").alias("e_rows")]
    if check_hashes:
        aggs.append(F.countDistinct(F.xxhash64("tag")).alias("hashes"))
    row = degrees.agg(*aggs).first()
    return VertexTable(
        degrees,
        int(row["n"]),
        int(row["e_rows"] or 0),
        row["hashes"] == row["n"] if check_hashes else None,
    )


def use_broadcast_state(
    n_vertices: int, schema, threshold_vertices: int | None, budget_bytes: int
) -> bool:
    """Broadcast-state vs salted scatter: a caller's vertex-count pin
    (``broadcast_threshold_vertices``) wins; otherwise the state must fit
    the per-superstep broadcast BYTE budget (row counts are the wrong
    unit, VERDICT r1 #6)."""
    if threshold_vertices is not None:
        return n_vertices <= threshold_vertices
    return fits_broadcast_budget(n_vertices, schema, budget_bytes)


def broadcast_table(raw: DataFrame, rows: int) -> DataFrame:
    """The broadcast rung's static scatter table, ``rows`` rows.

    Coalesced to a byte-sized partition count: the undirected expansion
    (2x the input's partitions) plus self rows otherwise leaves ~3x more,
    tiny, partitions than the data needs, and the per-task overhead of
    re-scanning them EVERY superstep dominates (measured at sf0.1: 1.5
    s/superstep at ~190 partitions, 0.53-0.87 at 64, 0.27 at 8).
    coalesce is narrow (no shuffle), and ``static_scan_partitions``
    scales with the input bytes and session parallelism (guide §2.2:
    fewer, larger partitions on the per-superstep side). Callers pass a
    plain plan over ``undirected(edges)``, not a cached one: this build
    is its only consumer, so a cache would be written and read back once.
    """
    spark = raw.sparkSession
    return checkpoint_static_sized(
        raw.coalesce(static_scan_partitions(rows, raw.schema, spark)), rows, spark
    )


def salted_split(
    edges: DataFrame,
    vt: VertexTable,
    split: bool,
    threshold: int | None,
    alpha: int,
    level: int,
    mode: str,
) -> SplitGraph:
    """The salted rung's split graph, fanned out from ``vt``'s degrees
    (``split=False`` keeps every vertex whole)."""
    return split_graph(
        edges,
        threshold=threshold if split else _NO_SPLIT,
        alpha=alpha,
        level=level,
        mode=mode,
        degree_df=vt.degrees.select(F.col("tag").alias("id"), "degree"),
    )


def salted_table(edges: DataFrame, rows: int) -> DataFrame:
    """The salted rung's static routing table, ``rows`` rows.

    Pre-hash-partitioned by the scatter-join key ``src`` and checkpointed:
    the checkpoint preserves the partitioning, so every superstep's
    edge-side exchange is elided and only the vertex-sized state shuffles.
    """
    return checkpoint_static_sized(
        edges.repartition(F.col("src")), rows, edges.sparkSession
    )


def wire_runner(
    runner: SuperstepRunner | None,
    fingerprint: str,
    static: DataFrame,
    cols: tuple[str, ...] | None = None,
    batch: int = 1,
    chain: bool = False,
) -> SuperstepRunner:
    """The runner for a distributed loop (a new one when None).

    ``batch`` applies to a runner still at batch size 1 (AUTO_BATCH = 0
    lets the runner choose K). ``chain`` is for steps that reference
    their input state twice: chained batches then need per-intermediate
    lineage truncation, or the composed plan doubles per superstep. A
    runner without a fingerprint gets ``fingerprint``, plus the identity
    of ``static`` over ``cols`` (default: all its columns) when it has a
    checkpoint_dir, so resuming against a different input starts fresh.
    """
    runner = runner or SuperstepRunner(static.sparkSession)
    if batch != 1 and runner.batch_size == 1:
        runner.batch_size = batch
    if chain:
        runner.chain_checkpoint = True
    if runner.fingerprint is None:
        if runner.checkpoint_dir:
            fingerprint += f":data[{data_fingerprint(static, *(cols or static.columns))}]"
        runner.fingerprint = fingerprint
    return runner
