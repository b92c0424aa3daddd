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
- iterative hot path runs on xxhash64-encoded LONG keys (collision-checked,
  see encoding.py) — 8-byte keys cut shuffle bytes and hash cost ~3-4x vs
  the raw string ids; results decode through the tag dictionary at the end;
- shuffle_hash join hints: every build side is vertex-sized, and sort-merge
  would re-sort the 2|E| edge side per superstep;
- convergence = L∞(new-old) ≤ tol, folded into the same superstep action
  via the runner's ``_changed`` flag (no second pass).

PageRank values are invariant under the id encoding (ranks attach to tags;
only join keys change), so the NumPy-oracle and plain≡split tests cover
both paths; ``use_long_ids=False`` forces the string path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import single_task
from ..encoding import IdCollisionError, decode, encode_split_graph
from ..graph import normalize_edges, undirected
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..splitting import split_graph
from ..superstep import (
    CHANGED,
    DEFAULT_BROADCAST_STATE_BUDGET,
    SuperstepRunner,
    checkpoint_static,
    checkpoint_static_sized,
    data_fingerprint,
    static_scan_partitions,
    use_broadcast_state,
)

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
    path: the split/encode/bucketed layout was persisted by an earlier run,
    so this call skips the split AND the initial repartition — the bucketed
    scan already carries HashPartitioning(src), so the edge side never
    exchanges, cold start included. ``split/threshold/alpha/level/mode/
    use_long_ids`` are baked into the persisted layout and ignored here.
    """
    if prepared is not None:
        spark = prepared.edges.sparkSession
        # bucketed tables: the scan's HashPartitioning(src) replaces the
        # repartition+localCheckpoint below; cache keeps re-scans in memory
        # (InMemoryRelation preserves the bucketed partitioning)
        e = prepared.edges.select("src", "dst_tag").cache()
        sub_deg = prepared.sub_deg.cache()
        tag_dict = prepared.tag_dict
        deg = prepared.degrees().localCheckpoint(eager=True)
        n = deg.count()
        # same scatter-strategy decision as the fresh path (unchanged from
        # r5: a prepared graph may still run broadcast-state scatter when
        # the state fits the per-superstep broadcast budget)
        use_broadcast = use_broadcast_state(
            n,
            deg.select("tag", F.lit(1.0).alias("rank")).schema,
            broadcast_threshold_vertices,
            broadcast_state_budget_bytes,
        )
        if use_broadcast:
            e2 = checkpoint_static(
                e.join(sub_deg.hint("shuffle_hash"), "src")
                .select("dst_tag", "tag", "deg")
                .unionByName(_self_rows(deg))
            )
    else:
        edges = normalize_edges(edges)
        spark = edges.sparkSession

        if (
            use_long_ids
            and broadcast_threshold_vertices is None
            and (runner is None or runner.checkpoint_dir is None)
        ):
            # the single-task rung (single_task.py): skipped when the
            # caller pinned a strategy (broadcast_threshold_vertices),
            # wants resumable checkpoints, forced the string path, or the
            # table is too big for one task's memory; a hash collision
            # found in-task falls through to the probed paths below
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

        # one probe job over the DIRECTED edges: routing-table row count
        # (out+in ≡ the undirected expansion), vertex count, and the
        # tag-level xxhash64 injectivity check — feeds the scatter-
        # strategy decision AND replaces the r5 per-structure aggs
        probe = (
            edges.select(F.explode(F.array("src", "dst")).alias("tag"))
            .agg(
                F.count("*").alias("er"),
                F.countDistinct("tag").alias("nt"),
                F.countDistinct(F.xxhash64("tag")).alias("ht"),
            )
            .first()
        )
        n, e_rows = int(probe["nt"]), int(probe["er"])
        tags_injective = probe["nt"] == probe["ht"]

        # Undirected degree per ORIGINAL vertex (= per tag), aggregated
        # from the DIRECTED edges (out+in ≡ the undirected groupBy): one
        # pass, shared by the broadcast fast path, the split fan-out and
        # the scatter tables (guide §2.4) — and no serialized cache of
        # the 2|E| undirected expansion just to aggregate it (measured
        # ~1 s of pure cache-write at sf0.1; guide §5).
        deg_str = (
            edges.select(F.explode(F.array("src", "dst")).alias("tag"))
            .groupBy("tag")
            .agg(F.count("*").cast("double").alias("deg"))
            .localCheckpoint(eager=True)
        )

        tag_dict = None
        if use_long_ids and not tags_injective:
            # hash ids collide on this vertex set: fall back to the exact
            # string path (checked above in the probe job; the salted path
            # below additionally re-checks sub-vertex ids via
            # encode_split_graph)
            use_long_ids = False
        if use_long_ids:
            tag_dict = deg_str.select(
                F.xxhash64("tag").alias("tag"), F.col("tag").alias("tag_str")
            ).localCheckpoint(eager=False)
            deg = deg_str.select(F.xxhash64("tag").alias("tag"), "deg")
        else:
            deg = deg_str

        # Two scatter strategies:
        # - broadcast-state: the rank table (~16 B/vertex) is broadcast and
        #   map-joined against a static (dst_tag, tag, deg) edge table —
        #   the 2|E| side never shuffles; the only shuffle per superstep is
        #   the V-sized gather partials. Local/medium clusters.
        # - salted shuffle (V too big to re-broadcast every superstep):
        #   sub-vertex routing (the reference's Split-Merge) with
        #   shuffle_hash hints (build sides are vertex-sized; SMJ would
        #   re-sort the edge side each superstep — measured 2-3x slower in
        #   superstep_tune.py).
        # byte budget, not row count: the state is re-broadcast EVERY
        # superstep, so it must be a small fraction of JVM heap memory
        use_broadcast = use_broadcast_state(
            n,
            deg.select("tag", F.lit(1.0).alias("rank")).schema,
            broadcast_threshold_vertices,
            broadcast_state_budget_bytes,
        )

        if use_broadcast:
            # Fast path (guide §2.4/§1.2): in broadcast mode the scatter
            # joins on the ORIGINAL tag and the gather groups by the
            # original dst tag, so sub-vertex routing is physically
            # irrelevant — the static (dst_tag, tag, deg) table is the
            # undirected edge set itself with the (vertex-sized,
            # broadcastable) degree table attached. Identical multiset to
            # the split+join construction, built in ONE pass with ZERO
            # shuffles, at the final storage level (no promote re-pass).
            key = (lambda col: F.xxhash64(col)) if use_long_ids else F.col
            # plain plan, not a cached checkpoint: the expansion is
            # consumed exactly ONCE (this build) — a lazy serialized
            # cache would be written and read back for a single consumer
            und = undirected(edges)
            # coalesce to a byte-sized partition count: the union of the
            # undirected expansion (2x the input's partitions) + self rows
            # otherwise leaves ~3x more, tiny, partitions than the data
            # needs, and the per-task overhead of re-scanning them EVERY
            # superstep dominates (measured at sf0.1: 1.5 s/superstep at
            # ~190 partitions, 0.53-0.87 at 64, 0.27 at 8). coalesce is
            # narrow (no shuffle) and static_scan_partitions scales with
            # input bytes + session parallelism, not a constant
            # (guide §2.2: fewer, larger partitions on the per-superstep
            # side).
            e2_raw = (
                und.select(key("dst").alias("dst_tag"), key("src").alias("tag"))
                .join(F.broadcast(deg), "tag")
                .select("dst_tag", "tag", "deg")
                .unionByName(_self_rows(deg))
            )
            e2 = checkpoint_static_sized(
                e2_raw.coalesce(
                    static_scan_partitions(e_rows + n, e2_raw.schema, spark)
                ),
                e_rows + n,
                spark,
            )
        else:
            # salted path: the expansion feeds the split rewrite AND the
            # sub-vertex derivation — share one lazy cache
            und = checkpoint_static(undirected(edges), eager=False)
            sg = split_graph(
                edges,
                threshold=threshold if split else 2**62,
                alpha=alpha,
                level=level,
                mode=mode,
                degree_df=deg_str.select(
                    F.col("tag").alias("id"), F.col("deg").cast("long").alias("degree")
                ),
                und_df=und,
            )
            if use_long_ids:
                try:
                    eg = encode_split_graph(sg)
                    sub_raw, e_raw, tag_dict = eg.vertices, eg.edges, eg.tag_dict
                except IdCollisionError:
                    use_long_ids = False
            if not use_long_ids:
                sub_raw, e_raw = sg.vertices, sg.edges.select("src", "dst_tag", "w")
                tag_dict = None
                deg = deg_str

            # Static per-superstep inputs. Pre-hash-partition the routing
            # edges by the scatter-join key and localCheckpoint: LogicalRDD
            # preserves the partitioning, so every superstep's edge-side
            # exchange is elided — only the (vertex-sized) rank table
            # shuffles per iteration. Storage level decided once from the
            # known row count (no promote re-pass).
            sub = sub_raw.localCheckpoint(eager=True)
            e = checkpoint_static_sized(
                e_raw.select("src", "dst_tag").repartition(F.col("src")), e_rows, spark
            )
            # contribution weight rank/deg travels with each sub-vertex
            sub_deg = (
                sub.join(deg.withColumnRenamed("tag", "t"), sub["tag"] == F.col("t"))
                .select(F.col("id").alias("src"), "tag", "deg")
                .localCheckpoint(eager=True)
            )

    base = (1.0 - damping) / n
    init = deg.select("tag", F.lit(1.0 / n).alias("rank"))

    check_conv = fixed_iterations is None
    iters = fixed_iterations if fixed_iterations is not None else max_iterations

    def step(state: DataFrame, i: int):
        if use_broadcast:
            # Single-reference superstep: each vertex's SELF row in e2
            # (deg NULL — contributes nothing to the mass sum) carries its
            # own old rank through the same broadcast join + aggregation
            # that gathers its incoming messages. The state is therefore
            # referenced exactly ONCE per superstep: no second
            # (vertex-sized × vertex-sized) join, two fewer exchanges per
            # superstep, and a chained batch plan grows linearly instead
            # of doubling per superstep (guide §2.4).
            g = (
                e2.join(F.broadcast(state), "tag")
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

    runner = runner or SuperstepRunner(spark)
    # superstep_batch=AUTO_BATCH (0) → the runner measures superstep 1 and
    # picks K itself (choose_batch_size)
    if superstep_batch != 1 and runner.batch_size == 1:
        runner.batch_size = superstep_batch
    if not use_broadcast:
        # the salted step references its input state twice (scatter +
        # old-value join): chained batches need per-intermediate lineage
        # truncation or the composed plan doubles per superstep
        runner.chain_checkpoint = True
    if runner.fingerprint is None:
        fp = (
            f"pagerank:v2:damping={damping}:tol={tol}:fixed={fixed_iterations}:"
            f"split={split}:threshold={threshold}:alpha={alpha}:level={level}:mode={mode}"
        )
        if runner.checkpoint_dir:
            # input identity: resuming this dir against a different edge
            # table must start fresh, not load matching-schema stale state
            # fingerprint the table the loop actually consumes (broadcast
            # mode has no salted routing table)
            if use_broadcast:
                fp += f":data[{data_fingerprint(e2, 'dst_tag', 'tag')}]"
            else:
                fp += f":data[{data_fingerprint(e, 'src', 'dst_tag')}]"
        runner.fingerprint = fp
    final = runner.run(init, step, iters)
    if tag_dict is not None:
        final = decode(final, tag_dict, col="tag")
    return final.select(F.col("tag").alias("id"), "rank")
