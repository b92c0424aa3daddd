"""PageRank over the split graph (engine-only; BASELINE.json north rule —
absent from the reference, implemented with the identical Split-Merge
superstep; SURVEY.md §2.11 last row).

Semantics (matches the NumPy oracle in tests and the unrolled SQL oracle):
  r_0(v)   = 1/N
  r_{k+1}(v) = (1-d)/N + d * Σ_{u→v} r_k(u)/deg(u)
over the undirected-expanded edge set; every inferred vertex has degree ≥ 1
so there is no dangling mass (SURVEY §8 Hard #6: deg/N are per *original*
vertex — the tag is the true identity everywhere except edge routing).

Scale notes:
- scatter join keyed on the *salted* src sub-vertex id — balanced;
- rank/deg contributions summed with groupBy(dst_tag): sum is reducible so
  map-side partial aggregation bounds the hub's reduce fan-in;
- the distributed rungs run on the vertex table's long ``vid`` keys
  (``distributed``): 8-byte keys cut shuffle bytes and hash cost ~3-4x vs
  the raw string ids; results decode through the vertex table at the end;
- shuffle_hash join hints: every build side is vertex-sized, and sort-merge
  would re-sort the 2|E| edge side per superstep;
- convergence = L∞(new-old) ≤ tol, folded into the same superstep action
  via the runner's ``_changed`` flag (no second pass).

PageRank values are invariant under the id encoding (ranks attach to
vertices; only join keys change), so the NumPy-oracle and plain≡split
tests cover every rung.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import distributed, single_task
from ..graph import normalize_edges
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..superstep import CHANGED, DEFAULT_BROADCAST_STATE_BUDGET, SuperstepRunner

# Single-task working set per undirected row: two int64 key columns plus
# the index/rank vectors.
_SINGLE_TASK_ROW_BYTES = 48


def _pagerank_kernel(
    damping: float, tol: float, max_iterations: int, fixed_iterations: int | None
):
    """The whole power iteration in one task (``single_task.run_loop``).

    Semantics are token-identical to the distributed superstep (same
    r_{k+1} = (1-d)/n + d·Σ r_k/deg over the undirected multiset, same
    per-superstep L∞ ≤ tol stop observed EVERY iteration — i.e. the
    superstep_batch=1 trajectory, no batch overshoot); float64 sums run
    in numpy's order instead of Spark's partial-agg order, which was
    never deterministic to begin with and is absorbed by the engine-wide
    dec6 output convention (measured max |Δrank| vs the distributed path
    at sf0.1: ~1e-18).
    """

    def kernel(si, di, strs):
        import numpy as np

        n = len(strs)
        deg = np.bincount(si, minlength=n).astype(np.float64)
        r = np.full(n, 1.0 / n)
        base = (1.0 - damping) / n
        iters = fixed_iterations if fixed_iterations is not None else max_iterations
        done, conv = 0, False
        for _ in range(iters):
            r2 = base + damping * np.bincount(di, weights=(r / deg)[si], minlength=n)
            done += 1
            if fixed_iterations is None and np.abs(r2 - r).max() <= tol:
                r, conv = r2, True
                break
            r = r2
        return {"id": strs, "rank": r}, done, conv

    return kernel


def _self_rows(deg: DataFrame) -> DataFrame:
    """One (dst_tag=v, tag=v, deg=NULL) row per vertex for the broadcast-
    state scatter table: the NULL deg makes rank/deg NULL (ignored by the
    mass sum) while carrying the vertex's own old rank into its gather
    group — the state then needs only ONE reference per superstep."""
    return deg.select(
        F.col("tag").alias("dst_tag"),
        "tag",
        F.lit(None).cast("double").alias("deg"),
    )


def pagerank(
    edges: DataFrame | None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    fixed_iterations: int | None = None,
    split: bool = True,
    threshold: int | None = 2,
    alpha: int = 2,
    level: int = 4,
    mode: str = "flat",
    use_long_ids: bool = True,
    broadcast_threshold_vertices: int | None = None,
    broadcast_state_budget_bytes: int = DEFAULT_BROADCAST_STATE_BUDGET,
    superstep_batch: int = 1,
    single_task_budget_bytes: int = DEFAULT_SINGLE_TASK_BUDGET,
    prepared=None,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """(id, rank). ``fixed_iterations`` disables the tolerance check (used
    by the SQL-oracle query, which unrolls exactly that many steps).

    ``superstep_batch=K`` chains K supersteps per materializing action —
    identical results (the chain is the same plan, composed lazily), but
    the per-job driver overhead amortizes K-fold. Worth it on small graphs
    where a superstep's compute is sub-second; convergence is then only
    observed every K steps (≤ K−1 overshoot supersteps after the fixpoint).

    ``prepared`` (a ``sources.graph_store.PreparedGraph``) is the restart
    path: the split/encode/bucketed layout was persisted by an earlier run.
    It takes the same rung decision as an edge frame; on the salted rung
    this call skips the split AND the initial repartition — the bucketed
    scan already carries HashPartitioning(src), so the edge side never
    exchanges, cold start included. ``split/threshold/alpha/level/mode``
    are baked into the persisted layout and ignored here.

    ``use_long_ids`` is accepted and ignored: every distributed rung runs
    on the vertex table's long ids.
    """
    if prepared is None:
        edges = normalize_edges(edges)

        if broadcast_threshold_vertices is None and (
            runner is None or runner.checkpoint_dir is None
        ):
            # the single-task rung (single_task.py): skipped when the
            # caller pinned a strategy (broadcast_threshold_vertices),
            # wants resumable checkpoints, or the table is too big for one
            # task's memory; a hash collision found in-task falls through
            copy = single_task.gate(
                edges.select("src", "dst"),
                single_task_budget_bytes,
                2 * _SINGLE_TASK_ROW_BYTES,
            )
            if copy is not None:
                out = single_task.run_loop(
                    copy,
                    _pagerank_kernel(damping, tol, max_iterations, fixed_iterations),
                    "id string, rank double",
                    runner,
                )
                if out is not None:
                    return out
    source = edges if prepared is None else prepared

    # the vertex/degree table and its vids, shared by the rung decision,
    # both static tables, the split fan-out and the decode
    vt = distributed.vertex_table(source)
    n = vt.n
    if n == 0:
        return vt.degrees.sparkSession.createDataFrame([], "id string, rank double")
    deg = vt.degrees.select(
        F.col("vid").alias("tag"), F.col("degree").cast("double").alias("deg")
    )

    # broadcast-state: the rank table (~16 B/vertex) is broadcast and
    # map-joined against a static (dst_tag, tag, deg) edge table, so
    # the 2|E| side never shuffles. Salted: sub-vertex routing (the
    # reference's Split-Merge) with shuffle_hash hints (build sides are
    # vertex-sized; SMJ would re-sort the edge side each superstep).
    # (The degree table has the state's row shape: a vid and a double.)
    use_broadcast = distributed.use_broadcast_state(
        n, deg.schema, broadcast_threshold_vertices, broadcast_state_budget_bytes
    )
    if use_broadcast:
        e = distributed.broadcast_table(
            distributed.undirected_vids(source, vt)
            .select(F.col("dst").alias("dst_tag"), F.col("src").alias("tag"))
            .join(F.broadcast(deg), "tag")
            .select("dst_tag", "tag", "deg")
            .unionByName(_self_rows(deg)),
            vt.e_rows + n,
        )
    else:
        # contribution weight rank/deg travels with each sub-vertex
        e, sub_deg = distributed.salted_tables(
            source, vt, ("src", "dst_tag"), split, threshold, alpha, level, mode,
            with_deg=True,
        )

    base = (1.0 - damping) / n
    init = deg.select("tag", F.lit(1.0 / n).alias("rank"))

    check_conv = fixed_iterations is None
    iters = fixed_iterations if fixed_iterations is not None else max_iterations

    def step(state: DataFrame, i: int):
        if use_broadcast:
            # Single-reference superstep: each vertex's SELF row in e
            # (deg NULL — contributes nothing to the mass sum) carries its
            # own old rank through the same broadcast join + aggregation
            # that gathers its incoming messages. The state is therefore
            # referenced exactly ONCE per superstep: no second
            # (vertex-sized × vertex-sized) join, two fewer exchanges per
            # superstep, and a chained batch plan grows linearly instead
            # of doubling per superstep (guide §2.4).
            g = (
                e.join(F.broadcast(state), "tag")
                .groupBy(F.col("dst_tag").alias("tag"))
                .agg(
                    F.sum(F.col("rank") / F.col("deg")).alias("mass"),
                    F.max(F.when(F.col("deg").isNull(), F.col("rank"))).alias("old"),
                )
            )
            new_rank = F.lit(base) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
            cols = ["tag", new_rank.alias("rank")]
            if check_conv:
                cols.append((F.abs(new_rank - F.col("old")) > tol).alias(CHANGED))
            return g.select(*cols)
        sub_rank = sub_deg.join(state.hint("shuffle_hash"), "tag").select(
            "src", (F.col("rank") / F.col("deg")).alias("contrib")
        )
        msgs = (
            e.join(sub_rank.hint("shuffle_hash"), "src")
            .groupBy(F.col("dst_tag").alias("tag"))
            .agg(F.sum("contrib").alias("mass"))
        )
        new_rank = F.lit(base) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
        cols = ["tag", new_rank.alias("rank")]
        if check_conv:
            # F.col('rank') here is the *input* (old) rank — the alias above
            # only names the output column.
            cols.append((F.abs(new_rank - F.col("rank")) > tol).alias(CHANGED))
        return state.join(msgs.hint("shuffle_hash"), "tag", "left").select(*cols)

    # superstep_batch=AUTO_BATCH (0) → the runner measures superstep 1 and
    # picks K itself; the salted step references its input state twice
    # (scatter + old-value join); the fingerprint's data identity is the
    # table the loop actually consumes
    runner = distributed.wire_runner(
        runner,
        f"pagerank:v2:damping={damping}:tol={tol}:fixed={fixed_iterations}:"
        f"split={split}:threshold={threshold}:alpha={alpha}:level={level}:mode={mode}",
        e,
        ("dst_tag", "tag") if use_broadcast else None,
        batch=superstep_batch,
        chain=not use_broadcast,
    )
    final = runner.run(init, step, iters)
    return distributed.decode(final, vt, "tag").select(F.col("tag").alias("id"), "rank")
