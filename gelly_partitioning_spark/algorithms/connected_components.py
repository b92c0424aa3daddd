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
parses Long).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import distributed, single_task
from ..graph import normalize_edges
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..superstep import CHANGED, DEFAULT_BROADCAST_STATE_BUDGET, SuperstepRunner

ACTIVE = "_active"

# Single-task working set per undirected row: two int64 key columns, the
# string id column and the index vectors. Pure integer/rank arithmetic —
# the result is EXACTLY the min original id per component.
_SINGLE_TASK_ROW_BYTES = 56


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
    It must be a STRING layout (``use_long_ids=False``): the component id
    is the *minimum original id*, and min over xxhash64-encoded longs
    would elect a different representative. It takes the same rung
    decision as an edge frame.
    """
    comp_t = "long" if numeric_ids else "string"
    if prepared is not None:
        if prepared.tag_dict is not None:
            raise ValueError(
                "connected_components needs a string prepared layout "
                "(save_prepared_graph(..., use_long_ids=False)): min-id "
                "component semantics are defined on original ids, not "
                "xxhash64 encodings"
            )
    else:
        edges = normalize_edges(edges)

        if runner is None and broadcast_threshold_vertices is None:
            # the single-task rung (single_task.py); callers that pass a
            # runner want per-superstep metrics, and a hash collision
            # found in-task falls through to the probed paths below
            copy = single_task.gate(
                edges.select("src", "dst"),
                single_task_budget_bytes,
                2 * _SINGLE_TASK_ROW_BYTES,
            )
            if copy is not None:
                out = single_task.run_loop(
                    copy,
                    _cc_kernel(max_iterations, numeric_ids),
                    "id string, component string",
                )
                if out is not None:
                    return out
    source = edges if prepared is None else prepared

    # the vertex/degree table (CC's distributed paths never hash-key
    # vertices: min-id semantics live on original ids)
    vt = distributed.vertex_table(source)
    n = vt.n
    init = vt.degrees.select(
        "tag", F.col("tag").cast(comp_t).alias("component"), F.lit(True).alias(ACTIVE)
    )
    use_broadcast = distributed.use_broadcast_state(
        n, init.schema, broadcast_threshold_vertices, broadcast_state_budget_bytes
    )
    if use_broadcast:
        # One SELF row per vertex carries the vertex's own old
        # component through the same join + aggregation that gathers
        # its messages, so the state is referenced exactly ONCE per
        # superstep (no second vertex-sized join; see pagerank.py).
        #
        # Order-preserving dense-rank encoding (guide §2.3: narrower
        # types): min over ranks ≡ min over the original component
        # order, so the per-superstep min-agg, broadcast hash and
        # probes all run on 8-byte longs instead of strings (measured
        # ~0.6 → ~0.35 s/superstep at sf0.1). The rank dictionary is
        # VERTEX-sized — broadcast mode by definition means the
        # vertex set is small, so the single window sort is cheap —
        # and results decode through it at the end, so the emitted
        # components are the original ids, bit-identical.
        from pyspark.sql import Window

        order_col = F.col("tag").cast("long") if numeric_ids else F.col("tag")
        rank_dict = vt.degrees.select(
            "tag",
            F.row_number().over(Window.orderBy(order_col)).cast("long").alias("r"),
        ).localCheckpoint(eager=True)
        e = distributed.broadcast_table(
            distributed.undirected_tags(source)
            .join(
                F.broadcast(
                    rank_dict.select(F.col("tag").alias("src"), F.col("r").alias("rs"))
                ),
                "src",
            )
            .join(
                F.broadcast(
                    rank_dict.select(F.col("tag").alias("dst"), F.col("r").alias("rd"))
                ),
                "dst",
            )
            .select(
                F.col("rs").alias("src_tag"),
                F.col("rd").alias("dst_tag"),
                F.lit(False).alias("self"),
            )
            .unionByName(
                rank_dict.select(
                    F.col("r").alias("src_tag"),
                    F.col("r").alias("dst_tag"),
                    F.lit(True).alias("self"),
                )
            ),
            vt.e_rows + n,
        )
        init = rank_dict.select(
            F.col("r").alias("tag"),
            F.col("r").alias("component"),
            F.lit(True).alias(ACTIVE),
        )
    else:
        e, sub, _ = distributed.salted_tables(
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
    if use_broadcast:
        # decode the rank encoding: two vertex-sized broadcast joins, then
        # the same comp_t→string cast chain as the unencoded path (so e.g.
        # numeric_ids still normalizes the component string identically)
        return (
            final.join(
                F.broadcast(
                    rank_dict.select(F.col("r").alias("tag"), F.col("tag").alias("_id"))
                ),
                "tag",
            )
            .join(
                F.broadcast(
                    rank_dict.select(
                        F.col("r").alias("component"), F.col("tag").alias("_comp")
                    )
                ),
                "component",
            )
            .select(
                F.col("_id").alias("id"),
                F.col("_comp").cast(comp_t).cast("string").alias("component"),
            )
        )
    return final.select(F.col("tag").alias("id"), F.col("component").cast("string"))
