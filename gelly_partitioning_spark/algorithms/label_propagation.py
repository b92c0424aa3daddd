"""Community detection via weighted label propagation with score decay.

Reference: library/CommunityDetection.java:29-141 (plain),
example/NodeSplittingCommunityDetection.java:31-144 (split). Exact
per-superstep semantics reproduced (SURVEY §7.4 Hard #4):

  init: label = own id (long), score = 1.0
  superstep i ≥ 1, per vertex v receiving messages (label, score*w) along
  every in-edge of the undirected graph:
    sum_s(l)  = Σ scores of label l          (TreeMap add,   :72-80)
    max_s(l)  = max single score of label l  (TreeMap max,    :82-92)
    best      = argmax_l sum_s(l), ties → smallest label
                (ascending TreeMap iteration + strict '>',    :96-104)
    new_score = max_s(best) − (best ≠ old_label ? delta/i : 0)   (:106-111)
    no messages → value unchanged                       (:95 guard)
  stop when no vertex's (label, score) changed, or max_iterations
  ("not guaranteed to converge", util/CommunityDetectionData.java:12).

Split-merge: both combiners (sum per label, max per label) are associative,
so the gather runs as groupBy(dst_tag, label) with map-side partials; the
argmax is one more groupBy with a struct-max — no windows, no UDFs. The
smallest-label tie-break rides in the struct as ``-label``.

Workset / delta iteration (the reference's ``iterateDelta`` contract,
example/NodeSplittingCommunityDetection.java:70-103): unlike monotone
min-propagation, an *unchanged* sender still contributes to the receiver's
argmax, so senders cannot simply drop out. The exact delta scheme instead
recomputes only the vertices whose inputs could have changed:

    frontier  = vertices whose (label, score) changed last superstep
    affected  = frontier ∪ N(frontier)
    gather    = ALL senders, but only along edges INTO affected vertices

A vertex outside ``affected`` has byte-identical messages AND own-state
versus the previous superstep, so recomputing it would reproduce its
current value exactly (the frontier itself must stay in ``affected``: a
vertex that just paid the delta/i label-change decay flips back to the
undecayed max when its label is re-confirmed). Late supersteps on a
converging graph gather O(|E(affected)|) messages instead of 2|E|; the
full-scatter path is kept for early supersteps where the frontier is the
whole graph (``workset_ratio`` picks the crossover from the runner's
changed-count metric — no extra job).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import distributed
from ..graph import normalize_edges
from ..superstep import CHANGED, DEFAULT_BROADCAST_STATE_BUDGET, SuperstepRunner


ACTIVE = "_active"


def label_propagation(
    edges: DataFrame | None,
    delta: float = 0.5,
    max_iterations: int = 30,
    split: bool = True,
    threshold: int | None = 6,
    alpha: int = 2,
    level: int = 4,
    mode: str = "flat",
    workset: bool = True,
    workset_ratio: float = 0.25,
    broadcast_threshold_vertices: int | None = None,
    broadcast_state_budget_bytes: int = DEFAULT_BROADCAST_STATE_BUDGET,
    superstep_batch: int = 1,
    prepared=None,
    runner: SuperstepRunner | None = None,
) -> DataFrame:
    """(id, label) — community label per vertex. Labels are the numeric
    value of the id when castable, else a stable 64-bit hash (reference
    labels are Long vertex ids, CommunityDetection.java:135-140).

    ``prepared`` (a ``sources.graph_store.PreparedGraph``) is the restart
    path: the persisted bucketed layout replaces split + the initial edge
    repartition. It takes the same rung decision as an edge frame.

    The distributed rungs key vertices on the vertex table's long ``vid``
    (``distributed``); the initial label derives from the original id and
    is carried as a value, so the key changes no label and no tie-break.

    ``superstep_batch`` chains K supersteps per materializing action
    (identical results) — compatible with the workset since r4: the
    runner drops to k=1 exactly while the delta crossover is engaged
    (``batch_size_fn`` below); 0 = auto-choose from the first superstep's
    wall."""
    source = normalize_edges(edges) if prepared is None else prepared
    vt = distributed.vertex_table(source)
    n, e_rows = vt.n, vt.e_rows
    # try_cast: non-numeric ids fall back to a stable 64-bit hash (a plain
    # cast throws under ANSI instead of returning NULL)
    label0 = F.coalesce(F.expr("try_cast(tag as long)"), F.xxhash64("tag"))
    init = vt.degrees.select(
        F.col("vid").alias("tag"),
        label0.alias("label"),
        F.lit(1.0).alias("score"),
        F.lit(True).alias(ACTIVE),
    )
    use_broadcast = distributed.use_broadcast_state(
        n, init.schema, broadcast_threshold_vertices, broadcast_state_budget_bytes
    )
    if use_broadcast:
        e = distributed.broadcast_table(
            distributed.undirected_vids(source, vt).select(
                F.col("src").alias("src_tag"), F.col("dst").alias("dst_tag"), "w"
            ),
            e_rows,
        )
    else:
        e, sub = distributed.salted_tables(
            source, vt, ("src", "dst_tag", "w"), split, threshold, alpha, level, mode
        )
    avg_deg = max(1.0, e_rows / max(n, 1))

    def _messages(state: DataFrame, frontier: DataFrame | None) -> DataFrame:
        """(tag, label, ms) gather messages. ``frontier=None`` → full
        scatter; else restricted to edges INTO affected = frontier ∪
        N(frontier) — ALL senders to an affected vertex still scatter
        (argmax needs the complete per-label sums), but edges into
        untouched vertices are skipped map-side (broadcast semi-join on
        dst_tag: the partition-stationary edge side never re-shuffles)."""
        ee = e
        if use_broadcast:
            if frontier is not None:
                nbrs = e.join(
                    F.broadcast(frontier), e["src_tag"] == frontier["tag"]
                ).select(F.col("dst_tag").alias("tag"))
                affected = frontier.union(nbrs).distinct()
                ee = e.join(
                    F.broadcast(affected), e["dst_tag"] == affected["tag"], "left_semi"
                )
            return ee.join(
                F.broadcast(state), ee["src_tag"] == state["tag"]
            ).select(
                F.col("dst_tag").alias("tag"),
                "label",
                (F.col("score") * F.col("w")).alias("ms"),
            )
        if frontier is not None:
            f_subs = sub.join(frontier.hint("shuffle_hash"), "tag").select("src")
            nbrs = e.join(f_subs.hint("shuffle_hash"), "src").select(
                F.col("dst_tag").alias("tag")
            )
            affected = frontier.union(nbrs).distinct()
            ee = e.join(
                F.broadcast(affected), e["dst_tag"] == affected["tag"], "left_semi"
            )
        sub_state = sub.join(state.hint("shuffle_hash"), "tag").select("src", "label", "score")
        return ee.join(sub_state.hint("shuffle_hash"), "src").select(
            F.col("dst_tag").alias("tag"), "label", (F.col("score") * F.col("w")).alias("ms")
        )

    def _delta_now() -> bool:
        # crossover to the delta path once the frontier is small: the
        # runner already counted last superstep's changed rows — reuse it
        # (no extra job); the byte guard keeps the affected-set broadcast
        # within budget (changed × avg_deg over-estimates |affected|)
        last = runner.metrics[-1] if runner.metrics else None
        return (
            workset
            and last is not None
            and last.changed is not None
            and 0 < last.changed <= workset_ratio * n
            and last.changed * avg_deg * 64 <= broadcast_state_budget_bytes
        )

    def step(state: DataFrame, i: int):
        use_delta = _delta_now()
        frontier = state.filter(F.col(ACTIVE)).select("tag") if use_delta else None
        msgs = _messages(state, frontier)
        per_label = msgs.groupBy("tag", "label").agg(
            F.sum("ms").alias("sum_s"), F.max("ms").alias("max_s")
        )
        # argmax(sum_s) with smallest-label tie-break; max_s rides along
        # ((sum_s, -label) is unique per group so max_s never compares).
        # The comparison key is the dec6-rounded sum: float64 partial-agg
        # order is nondeterministic across engines/runs, and a raw-double
        # argmax would flip discrete labels on near-tied sums — rounding to
        # 6 decimals (HALF_UP decimal cast, the engine-wide convention)
        # makes the argmax order-robust; the DuckDB oracle ranks on the
        # token-identical key. Scores compound multiplicatively with edge
        # weights (new_score = max(score·w)), so sums can outgrow ANY
        # decimal width — try_cast falls back to the raw double there
        # (absolute 1e-6 rounding is meaningless above ~1e32 anyway), and
        # TRY_CAST has the same NULL-on-overflow semantics in DuckDB.
        sum_key = F.coalesce(
            F.expr("try_cast(sum_s as decimal(38,6))").cast("double"),
            F.col("sum_s"),
        )
        best = per_label.groupBy("tag").agg(
            F.max(F.struct(sum_key.alias("sum_s"), (-F.col("label")).alias("nl"), F.col("max_s"))).alias("b")
        ).select(
            "tag",
            (-F.col("b.nl")).alias("new_label"),
            F.col("b.max_s").alias("new_max"),
        )
        changed = (F.col("_lbl") != F.col("_old_lbl")) | (F.col("_scr") != F.col("_old_scr"))
        return (
            state.join(best.hint("shuffle_hash"), "tag", "left")
            .select(
                "tag",
                F.coalesce("new_label", "label").alias("_lbl"),
                F.when(F.col("new_label").isNull(), F.col("score"))
                .when(F.col("new_label") != F.col("label"), F.col("new_max") - delta / i)
                .otherwise(F.col("new_max"))
                .alias("_scr"),
                F.col("label").alias("_old_lbl"),
                F.col("score").alias("_old_scr"),
            )
            .select(
                "tag",
                F.col("_lbl").alias("label"),
                F.col("_scr").alias("score"),
                changed.alias(ACTIVE),  # next superstep's frontier
                changed.alias(CHANGED),
            )
        )

    # the LP step references its input state twice in BOTH modes (scatter +
    # keep-old-value join), so chained batches truncate every intermediate
    # (the r6 auto-K model legitimately picks K up to 16 on fixed-cost-
    # dominated graphs, and 2^16 plan copies hang Catalyst's single-threaded
    # planner)
    runner = distributed.wire_runner(
        runner,
        f"label_propagation:v3:delta={delta}:split={split}:"
        f"threshold={threshold}:alpha={alpha}:level={level}:mode={mode}",
        e,
        batch=superstep_batch,
        chain=True,
    )
    if workset:
        # micro-batching × delta iteration (VERDICT r3 #5): full-scatter
        # supersteps batch freely (the decision is frozen per batch —
        # every chained step sees the same metrics the boundary saw, so
        # all k steps agree on full mode), but the moment the crossover
        # condition holds at a boundary the runner drops to k=1: delta
        # supersteps need FRESH changed counts for the frontier gate and
        # the affected-set broadcast byte budget (ADVICE r3: a stale
        # count could bypass the budget guard — results stay exact, the
        # broadcast could blow up). batch_size may be AUTO_BATCH; the
        # runner resolves it after measuring the first superstep.
        runner.batch_size_fn = lambda: 1 if _delta_now() else runner.batch_size
    final = runner.run(init, step, max_iterations)
    distributed.release_tables(e, None if use_broadcast else sub)
    return distributed.decode(final, vt, "tag").select(F.col("tag").alias("id"), "label")
