"""The distributed rungs: broadcast-state and salted Split-Merge.

The counterpart of ``single_task.py``. PageRank, connected components and
label propagation own only their raw scatter tables, their ``step`` and
their output decode; this module owns how the two distributed rungs
measure the graph, pick a rung, build and store their static tables and
wire the ``SuperstepRunner``. A graph reaches them as a normalized edge
frame (a fresh run) or a ``sources.graph_store.PreparedGraph`` (a
restart from the persisted salted layout); both sources feed the same
code, so where the split came from changes neither rung nor answer:

- ``vertex_table``: ONE materialized (tag, degree) table, aggregated
  from the DIRECTED edges (out+in ≡ the undirected groupBy) or read from
  a layout's stored degrees, and one agg over it for the vertex count,
  the routing-row count 2|E| and, on request, the xxhash64 injectivity
  check. No source scans the 2|E| side just to count it (guide §5);
- ``use_broadcast_state``: the one broadcast-vs-salted decision;
- ``undirected_tags`` + ``broadcast_table`` / ``salted_tables``: the
  static side of each rung, stored at a level chosen once from the
  known row count; ``salted_layout`` is also what
  ``save_prepared_graph`` writes;
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

from .encoding import IdCollisionError, encode_split_graph
from .graph import undirected
from .splitting import split_graph
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
    """degrees: (tag, degree long), materialized; n: vertex count;
    e_rows: 2|E|, the undirected routing-row count; injective: whether
    xxhash64 is collision-free on the tags (None when not checked);
    tag_dict: (tag long, tag_str) when the tags are already
    xxhash64-encoded (a long prepared layout), else None."""

    degrees: DataFrame
    n: int
    e_rows: int
    injective: bool | None
    tag_dict: DataFrame | None = None


def vertex_table(source, check_hashes: bool = False) -> VertexTable:
    """The vertex/degree table of a source: one checkpoint, then one
    vertex-sized agg for the counts (and, with ``check_hashes``, the
    distinct xxhash64 count of the tags).

    An edge frame is grouped by endpoint. A prepared layout already
    stores each sub-vertex's original-vertex degree, so its table is the
    distinct (tag, deg) rows and 2|E| is their degree sum; its tags are
    final (string, or encoded with ``tag_dict``), so ``check_hashes``
    does not apply to it.
    """
    tag_dict = None
    if isinstance(source, DataFrame):
        degrees = (
            source.select(F.explode(F.array("src", "dst")).alias("tag"))
            .groupBy("tag")
            .agg(F.count("*").cast("long").alias("degree"))
        )
    else:
        check_hashes, tag_dict = False, source.tag_dict
        degrees = source.degrees().select("tag", F.col("deg").cast("long").alias("degree"))
    degrees = degrees.localCheckpoint(eager=True)
    aggs = [F.count("*").alias("n"), F.sum("degree").alias("e_rows")]
    if check_hashes:
        aggs.append(F.countDistinct(F.xxhash64("tag")).alias("hashes"))
    row = degrees.agg(*aggs).first()
    return VertexTable(
        degrees,
        int(row["n"]),
        int(row["e_rows"] or 0),
        row["hashes"] == row["n"] if check_hashes else None,
        tag_dict,
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


def undirected_tags(source) -> DataFrame:
    """(src, dst, w): the undirected edge multiset on the source's tags —
    both orientations of an edge frame, or a layout's routing rows with
    each sub-vertex mapped back to its tag (the same multiset)."""
    if isinstance(source, DataFrame):
        return undirected(source)
    return source.edges.join(source.sub_deg.select("src", "tag"), "src").select(
        F.col("tag").alias("src"), F.col("dst_tag").alias("dst"), "w"
    )


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
    plain plan over ``undirected_tags``, not a cached one: this build is
    its only consumer, so a cache would be written and read back once.
    """
    spark = raw.sparkSession
    return checkpoint_static_sized(
        raw.coalesce(static_scan_partitions(rows, raw.schema, spark)), rows, spark
    )


def salted_layout(
    edges: DataFrame, vt: VertexTable, split: bool, threshold: int | None, alpha: int,
    level: int, mode: str = "flat", encode: bool = False, with_deg: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """The salted layout of a normalized edge frame, not materialized:
    (routing rows (src, dst_tag, w), sub-vertices (src, tag[, deg]),
    tag_dict or None).

    The split fans out from ``vt``'s degrees (``split=False`` keeps every
    vertex whole); ``encode`` xxhash64-encodes the ids, keeping strings
    when the encoding's check finds a collision; ``with_deg`` attaches
    each sub-vertex's degree.
    """
    sg = split_graph(
        edges,
        threshold=threshold if split else _NO_SPLIT,
        alpha=alpha,
        level=level,
        mode=mode,
        degree_df=vt.degrees.select(F.col("tag").alias("id"), "degree"),
    )
    key, subs, e, tag_dict = F.col, sg.vertices, sg.edges.select("src", "dst_tag", "w"), None
    if encode:
        try:
            eg = encode_split_graph(sg)
            key, subs, e, tag_dict = F.xxhash64, eg.vertices, eg.edges, eg.tag_dict
        except IdCollisionError:
            pass
    subs = subs.select(F.col("id").alias("src"), "tag")
    if with_deg:
        deg = vt.degrees.select(
            key("tag").alias("tag"), F.col("degree").cast("double").alias("deg")
        )
        subs = subs.join(deg, "tag").select("src", "tag", "deg")
    return e, subs, tag_dict


def salted_table(edges: DataFrame, rows: int) -> DataFrame:
    """The salted rung's static routing table, ``rows`` rows.

    Pre-hash-partitioned by the scatter-join key ``src`` and checkpointed:
    the checkpoint preserves the partitioning, so every superstep's
    edge-side exchange is elided and only the vertex-sized state shuffles.
    """
    return checkpoint_static_sized(
        edges.repartition(F.col("src")), rows, edges.sparkSession
    )


def salted_tables(
    source, vt: VertexTable, cols: tuple[str, ...], split: bool, threshold: int | None,
    alpha: int, level: int, mode: str, encode: bool = False, with_deg: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """``salted_layout``'s three tables as one run reads them, the routing
    rows projected to ``cols``.

    An edge frame's layout is built and checkpointed (routing rows by
    ``salted_table``). A prepared layout's stored tables are cached
    instead: the cache keeps the bucketed scan's HashPartitioning(src), so
    the edge side never exchanges, cold start included; the split
    arguments and ``encode`` are baked into it.
    """
    if isinstance(source, DataFrame):
        e, subs, tag_dict = salted_layout(
            source, vt, split, threshold, alpha, level, mode, encode, with_deg
        )
        subs = subs.localCheckpoint(eager=True)
        return salted_table(e.select(*cols), vt.e_rows), subs, tag_dict
    subs = source.sub_deg if with_deg else source.sub_deg.select("src", "tag")
    return source.edges.select(*cols).cache(), subs.cache(), source.tag_dict


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
