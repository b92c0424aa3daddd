"""The distributed rungs: broadcast-state and salted Split-Merge.

The counterpart of ``single_task.py``. PageRank, connected components and
label propagation own only their raw scatter tables, their ``step`` and
their output decode; this module owns how the two distributed rungs
measure the graph, pick a rung, build and store their static tables and
wire the ``SuperstepRunner``. A graph reaches them as a normalized edge
frame (a fresh run) or a ``sources.graph_store.PreparedGraph`` (a
restart from the persisted salted layout); both sources feed the same
code, so where the split came from changes neither rung nor answer:

- ``vertex_table``: ONE materialized (vid, tag, degree) table, ``vid``
  the vertex's rank in tag order, and one agg for the vertex count and
  the routing-row count 2|E| (no source scans the 2|E| side just to
  count it, guide §5). Every rung keys on ``vid`` — CC's min vid is its
  min tag — and decodes once through the table (``decode``); a salted
  sub-vertex is ``(vid << b) | salt`` (``splitting.split_vids``), unique
  by construction, so there is no hash to check and no fallback;
- ``use_broadcast_state``: the one broadcast-vs-salted decision;
- ``undirected_vids`` + ``broadcast_table`` / ``salted_tables``: the
  static side of each rung, stored at a level chosen once from the
  known row count; edge endpoints map to vids by a broadcast join when
  the vertex table fits the broadcast threshold, else by one shuffle
  join at setup; ``salted_layout`` is also what ``save_prepared_graph``
  writes;
- ``wire_runner``: batch size, chained-checkpoint truncation and the
  resume fingerprint; ``release_tables`` drops a run's static
  checkpoints once the loop is done.

Why the broadcast rung needs no split (guide §2.4/§1.2): in broadcast
mode the scatter joins on the ORIGINAL source vertex's vid against the
broadcast state, and the gather groups by the destination vertex's, so
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
from itertools import accumulate

from pyspark.sql import DataFrame, functions as F

from .splitting import route_vids, split_vids
from .superstep import (
    SuperstepRunner,
    checkpoint_static_sized,
    data_fingerprint,
    fits_broadcast_budget,
    release_checkpoint,
    session_broadcast_threshold,
    static_scan_partitions,
)

# split threshold that splits nothing (``split=False``)
_NO_SPLIT = 2**62


@dataclass
class VertexTable:
    """degrees: (vid long, tag, degree long), over one checkpoint; ``vid``
    is the vertex's rank in tag order, 0..n-1; n: vertex count; e_rows:
    2|E|, the undirected routing-row count."""

    degrees: DataFrame
    n: int
    e_rows: int


def vertex_table(source) -> VertexTable:
    """The vertex/degree table of a source: one checkpoint, then one
    vertex-sized agg for the counts. A prepared layout stores its table.

    An edge frame's grouped tags are range-sorted and checkpointed with
    their ``monotonically_increasing_id`` (partition index above bit 33,
    position below); the agg counts each sorted partition, and ``vid`` is
    the position plus the sizes of the partitions before it: the tag's
    rank, whatever the partitioning or the sort's sampled bounds, so
    vid-keyed resume fingerprints repeat from run to run.
    """
    if not isinstance(source, DataFrame):
        degrees = source.vertices.localCheckpoint(eager=True)
        row = degrees.agg(F.count("*").alias("n"), F.sum("degree").alias("e")).first()
        return VertexTable(degrees, row["n"], row["e"] or 0)
    ranked = (
        source.select(F.explode(F.array("src", "dst")).alias("tag"))
        .groupBy("tag")
        .agg(F.count("*").cast("long").alias("degree"))
        .orderBy("tag")
        .select(F.monotonically_increasing_id().alias("_m"), "tag", "degree")
        .localCheckpoint(eager=True)
    )
    part = F.shiftright("_m", 33)
    counts = {
        r["p"]: r
        for r in ranked.groupBy(part.alias("p"))
        .agg(F.count("*").alias("n"), F.sum("degree").alias("e"))
        .collect()
    }
    sizes = [counts[p]["n"] if p in counts else 0 for p in range(max(counts, default=0) + 1)]
    first = F.array(*map(F.lit, accumulate(sizes[:-1], initial=0)))[part]
    vid = F.col("_m").bitwiseAND((1 << 33) - 1) + first
    degrees = ranked.select(vid.alias("vid"), "tag", "degree")
    return VertexTable(degrees, sum(sizes), sum(r["e"] for r in counts.values()))


def _broadcasts(vt: VertexTable, ids: DataFrame) -> bool:
    """Whether ``vt``'s rows as ``ids`` fit the broadcast threshold."""
    return fits_broadcast_budget(vt.n, ids.schema, session_broadcast_threshold(ids.sparkSession))


def _ids(vt: VertexTable, *cols) -> DataFrame:
    """The vertex table's (tag, vid, *cols) rows, broadcast-hinted when
    they fit the broadcast threshold (a checkpoint has no size statistics
    for Catalyst to broadcast it by); otherwise joins on them shuffle."""
    ids = vt.degrees.select("tag", "vid", *cols)
    return F.broadcast(ids) if _broadcasts(vt, ids) else ids


def decode(df: DataFrame, vt: VertexTable, *cols: str) -> DataFrame:
    """``df`` with each vid column in ``cols`` replaced by its tag."""
    ids = _ids(vt)
    for c in cols:
        df = (
            df.join(ids.select(F.col("vid").alias(c), F.col("tag").alias("_id")), c)
            .drop(c)
            .withColumnRenamed("_id", c)
        )
    return df


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


def undirected_vids(source, vt: VertexTable) -> DataFrame:
    """(src, dst, w): the undirected edge multiset keyed by vid — both
    orientations of an edge frame, or a layout's routing rows with each
    sub-vertex mapped back to its vertex (the same multiset)."""
    if isinstance(source, DataFrame):
        return route_vids(source, _ids(vt, F.lit(1).cast("long").alias("n")), 0).select(
            "src", F.col("dst_tag").alias("dst"), "w"
        )
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
    plain plan over ``undirected_vids``, not a cached one: this build is
    its only consumer, so a cache would be written and read back once.
    """
    spark = raw.sparkSession
    return checkpoint_static_sized(
        raw.coalesce(static_scan_partitions(rows, raw.schema, spark)), rows, spark
    )


def salted_layout(
    edges: DataFrame, vt: VertexTable, split: bool, threshold: int | None, alpha: int,
    level: int, mode: str = "flat", with_deg: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """The salted layout of a normalized edge frame on ``vt``'s vids, not
    materialized: (routing rows (src, dst_tag, w), sub-vertices (src,
    tag[, deg])).

    The split fans out from ``vt``'s degrees (``split=False`` keeps every
    vertex whole); ``with_deg`` keeps each sub-vertex's vertex degree.
    """
    e, subs = split_vids(
        edges, _ids(vt, "degree"), threshold if split else _NO_SPLIT, alpha, level,
        mode, vt.n - 1,
    )
    deg = [F.col("degree").cast("double").alias("deg")] if with_deg else []
    return e, subs.select("src", "tag", *deg)


def salted_table(edges: DataFrame, rows: int) -> DataFrame:
    """The salted rung's static routing table, ``rows`` rows.

    Pre-hash-partitioned by the scatter-join key ``src`` into the
    session's shuffle-partition count and checkpointed: the checkpoint
    keeps HashPartitioning(src), so every superstep's edge-side exchange
    is elided and only the vertex-sized state shuffles. It is planned and
    checkpointed in a clone of the session with AQE off (an adaptive plan
    reports UnknownPartitioning, which the checkpoint would keep), then
    read back in the caller's session, whose settings it never touches.
    """
    spark = edges.sparkSession
    routed = edges.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")), F.col("src"))
    clone = spark._jsparkSession.cloneSession()
    clone.conf().set("spark.sql.adaptive.enabled", "false")
    rows_of = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    planned = DataFrame(rows_of(clone, routed._jdf.logicalPlan()), spark)
    table = checkpoint_static_sized(planned, rows, spark)
    return DataFrame(rows_of(spark._jsparkSession, table._jdf.logicalPlan()), spark)


def salted_tables(
    source, vt: VertexTable, cols: tuple[str, ...], split: bool, threshold: int | None,
    alpha: int, level: int, mode: str, with_deg: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """``salted_layout``'s two tables as one run reads them, the routing
    rows projected to ``cols``.

    An edge frame's layout is built and checkpointed (routing rows by
    ``salted_table``). A prepared layout's stored tables are cached
    instead: the cache keeps the bucketed scan's HashPartitioning(src), so
    the edge side never exchanges, cold start included; the split
    arguments are baked into it.
    """
    if isinstance(source, DataFrame):
        e, subs = salted_layout(source, vt, split, threshold, alpha, level, mode, with_deg)
        e = e.select(*cols)
        tree = mode == "tree"  # the tree split hands over both tables checkpointed
        if not tree and not _broadcasts(vt, vt.degrees):
            e = e.localCheckpoint(eager=True)  # shuffled endpoint joins: plan them under AQE
        routing = salted_table(e, vt.e_rows)
        release_checkpoint(e)  # the routing rows' checkpoint, if they had one
        return routing, subs if tree else subs.localCheckpoint(eager=True)
    subs = source.sub_deg if with_deg else source.sub_deg.select("src", "tag")
    return source.edges.select(*cols).cache(), subs.cache()


def release_tables(*tables: DataFrame | None) -> None:
    """Release a run's static checkpoints once its loop is done (None: no
    table); the answer reads only the vertex table and the final state.
    A prepared source's cached scans stay cached: the next call on the
    layout, or one reading it meanwhile, hits the same cache entry."""
    for t in tables:
        if t is not None:
            release_checkpoint(t)


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
