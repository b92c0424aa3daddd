"""Connected components: min-id label propagation to fixpoint, with a
shrinking workset (delta iteration).

Reference: example/NodeSplittingConnectedComponents.java:24-104 (split
path), library/ConnectedComponentsAlgorithm.java:22-71 (plain). Golden:
util/ConnectedComponentsData.java:27 — exact match required.

Superstep (relational gather-scatter, SURVEY.md §3.2):
  scatter: split-edges ⋈ sub-vertex state on the *salted* src id
           (balanced join — the hub key never concentrates),
  gather : groupBy(dst_tag).min  (map-side partial agg bounds the hub),
  apply  : least(old, msg); changed-count drives convergence,
  merge/propagate: state lives at tag level and is re-attached to
           sub-vertices each superstep (Split-Merge, SplitVertex.java:186-225,
           402-428). "No message keeps the old value" is the left-join +
           coalesce (util/DummyGraph.java:599-610 — SURVEY §7.4 Hard #3).

Workset semantics (the reference's delta iteration,
NodeSplittingConnectedComponents.java:55-83 ``iterateDelta(...,
closeWith(updated, updated))``): only vertices whose component *changed
last superstep* scatter this superstep. Correct for min-propagation —
an unchanged vertex's previous message is already folded into every
neighbor's running minimum, so resending is a no-op. On high-diameter
graphs late supersteps move a handful of labels; the full-scatter variant
still pays a 2|E| join for them, the workset variant pays
O(|E(changed)|) — the `_active` column filters the scatter side before
the join (and before the per-superstep broadcast on the broadcast path).

Component id = min *string* id by default (engine semantics, matches the
DuckDB oracle); ``numeric_ids=True`` compares ids as longs for reference
fixture parity (example/NodeSplittingGSAConnectedComponents.java:172-191
parses Long). The distributed rungs key vertices on the vertex table's
long ``vid`` (``distributed``), minted in string-id order, so the min vid
IS the min string id: the component is a vid, and the per-superstep min
and shuffle carry 8-byte longs; under ``numeric_ids`` the component is
the id cast to long, carried as a value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import distributed, single_task
from ..graph import normalize_edges, normalize_endpoints
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..superstep import CHANGED, DEFAULT_BROADCAST_STATE_BUDGET, SuperstepRunner

ACTIVE = "_active"

# Single-task working set per undirected row (two per input edge): the
# Arrow id strings, their dictionary codes and the sorted gather vectors.
# The task replayed outside Spark (as pagerank's) peaks at 151-175 B per
# input edge on 0.6-2.4M edges. Pure integer/rank arithmetic — the result
# is EXACTLY the min original id per component.
_SINGLE_TASK_ROW_BYTES = 88


def _cc_kernel(max_iterations: int, numeric_ids: bool):
    """The whole fixpoint in one task (``single_task.run_loop``).

    Ranks the vertex set by the SAME comparison order the distributed
    path minimizes over (string order, or numeric order under
    ``numeric_ids``), min-propagates ranks to fixpoint with a sorted
    reduceat (no per-row Python), and decodes ranks back to original ids
    — including the numeric path's long→string normalization, so the
    output is bit-identical to the distributed result.
    """

    def kernel(si, di, strs):
        import numpy as np

        n = len(strs)
        if numeric_ids:
            keyorder = np.argsort(strs.astype(np.int64), kind="stable")
        else:
            keyorder = np.argsort(strs.astype(object), kind="stable")
        rank = np.empty(n, dtype=np.int64)
        rank[keyorder] = np.arange(n)
        # group the gather side once; per superstep one reduceat min
        order = np.argsort(di, kind="stable")
        di_sorted = di[order]
        si_sorted = si[order]
        starts = np.flatnonzero(np.r_[True, di_sorted[1:] != di_sorted[:-1]])
        groups = di_sorted[starts]
        comp = rank.copy()
        done, conv = 0, False
        for _ in range(max_iterations):
            msgs = np.minimum.reduceat(comp[si_sorted], starts)
            new = comp.copy()
            new[groups] = np.minimum(new[groups], msgs)
            done += 1
            if np.array_equal(new, comp):
                conv = True  # the observed changed==0 superstep
                break
            comp = new
        out_comp = strs[keyorder][comp]
        if numeric_ids:
            # same normalization as the distributed cast chain
            # (string → long → string)
            out_comp = out_comp.astype(np.int64).astype(str).astype(object)
        return {"id": strs, "component": out_comp}, done, conv

    return kernel


def connected_components(
    edges: DataFrame | None,
    max_iterations: int = 50,
    split: bool = True,
    threshold: int | None = 2,
    alpha: int = 2,
    level: int = 4,
    mode: str = "flat",
    numeric_ids: bool = False,
    broadcast_threshold_vertices: int | None = None,
    broadcast_state_budget_bytes: int = DEFAULT_BROADCAST_STATE_BUDGET,
    superstep_batch: int = 0,
    single_task_budget_bytes: int = DEFAULT_SINGLE_TASK_BUDGET,
    prepared=None,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """(id, component) at convergence (or max_iterations).

    ``superstep_batch`` chains K supersteps per materializing action
    (0 = AUTO; see pagerank's docstring — results identical, min-
    propagation no-ops any overshoot supersteps past the fixpoint).
    Applied only to the internally-created runner: a caller-supplied
    runner keeps its own batch_size (per-superstep metrics intact).

    ``prepared`` (a ``sources.graph_store.PreparedGraph``) is the restart
    path: the persisted bucketed layout replaces split + the initial edge
    repartition (the bucketed scan already carries HashPartitioning(src)).
    It takes the same rung decision as an edge frame.
    """
    if prepared is None:
        if runner is None and broadcast_threshold_vertices is None:
            # the single-task rung (single_task.py); callers that pass a
            # runner want per-superstep metrics
            out = single_task.run_loop(
                normalize_endpoints(edges),
                _cc_kernel(max_iterations, numeric_ids),
                "id string, component string",
                single_task_budget_bytes,
                2 * _SINGLE_TASK_ROW_BYTES,
            )
            if out is not None:
                return out
        edges = normalize_edges(edges)
    source = edges if prepared is None else prepared

    vt = distributed.vertex_table(source)
    n = vt.n
    comp = F.col("tag").cast("long") if numeric_ids else F.col("vid")
    init = vt.degrees.select(
        F.col("vid").alias("tag"), comp.alias("component"), F.lit(True).alias(ACTIVE)
    )
    use_broadcast = distributed.use_broadcast_state(
        n, init.schema, broadcast_threshold_vertices, broadcast_state_budget_bytes
    )
    if use_broadcast:
        # One SELF row per vertex carries the vertex's own old
        # component through the same join + aggregation that gathers
        # its messages, so the state is referenced exactly ONCE per
        # superstep (no second vertex-sized join; see pagerank.py).
        e = distributed.broadcast_table(
            distributed.undirected_vids(source, vt)
            .select(
                F.col("src").alias("src_tag"),
                F.col("dst").alias("dst_tag"),
                F.lit(False).alias("self"),
            )
            .unionByName(
                vt.degrees.select(
                    F.col("vid").alias("src_tag"),
                    F.col("vid").alias("dst_tag"),
                    F.lit(True).alias("self"),
                )
            ),
            vt.e_rows + n,
        )
    else:
        e, sub = distributed.salted_tables(
            source, vt, ("src", "dst_tag"), split, threshold, alpha, level, mode
        )

    def step(state: DataFrame, i: int):
        if use_broadcast:
            g = (
                e.join(F.broadcast(state), e["src_tag"] == state["tag"])
                .groupBy(F.col("dst_tag").alias("tag"))
                .agg(
                    F.min(
                        F.when(~F.col("self") & F.col(ACTIVE), F.col("component"))
                    ).alias("msg"),
                    F.max(F.when(F.col("self"), F.col("component"))).alias("old"),
                )
            )
            improved = F.col("msg") < F.col("old")  # null-safe: null ⇒ no-op
            return g.select(
                "tag",
                F.least(F.col("old"), F.coalesce("msg", "old")).alias("component"),
                F.coalesce(improved, F.lit(False)).alias(ACTIVE),
                improved.alias(CHANGED),
            )
        act = state.filter(F.col(ACTIVE)).select("tag", "component")
        sub_state = sub.join(act.hint("shuffle_hash"), "tag").select("src", "component")
        msgs = (
            e.join(sub_state.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst_tag").alias("tag"))
            .agg(F.min("component").alias("msg"))
        )
        improved = F.col("msg") < F.col("component")  # null-safe: null ⇒ no-op
        return state.join(msgs.hint("shuffle_hash"), "tag", "left").select(
            "tag",
            F.least(F.col("component"), F.coalesce("msg", "component")).alias("component"),
            F.coalesce(improved, F.lit(False)).alias(ACTIVE),
            improved.alias(CHANGED),
        )

    # a caller-supplied runner keeps its own batch_size (per-superstep
    # metrics intact); the salted step references its input state twice
    # (scatter + old-value join)
    runner = distributed.wire_runner(
        runner,
        f"connected_components:v2:split={split}:threshold={threshold}:"
        f"alpha={alpha}:level={level}:mode={mode}:numeric={numeric_ids}",
        e,
        batch=superstep_batch if runner is None else 1,
        chain=not use_broadcast,
    )
    final = runner.run(init, step, max_iterations)
    distributed.release_tables(e, None if use_broadcast else sub)
    vids = ("tag",) if numeric_ids else ("tag", "component")
    return distributed.decode(final, vt, *vids).select(
        F.col("tag").alias("id"), F.col("component").cast("string")
    )
