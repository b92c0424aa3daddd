"""Triangle count — relational 3-join with degree orientation.

Reference: example/TriangleCount.java:28-91 / NodeSplittingTriangleCount
(2-superstep higher-id wedge propagation). Golden:
util/TriangleCountData.java:31 = 3. SURVEY.md §3.3: only the count must
match — the idiomatic, scalable Spark form is the canonical-edge self-join.

Skew strategy — *degree orientation* instead of hub salting: orient every
undirected simple edge from the lower-(degree, id) endpoint to the higher
one. Every triangle then has exactly one wedge at its lowest-ranked vertex,
and the per-vertex wedge fan-out is bounded by the graph's degeneracy
(out-degree after orientation), not by raw hub degree — a degree-10^8 hub
generates *zero* wedges from its own adjacency because nearly all its edges
point *into* it. This subsumes what the reference's node splitting buys for
its wedge gather, with one fewer shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import single_task
from ..graph import canonical_edges, normalize_edges, sql_identifier
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..superstep import fits_broadcast_budget, release_checkpoint, session_broadcast_threshold

# Single-task working set per (raw or canonical) pair; the close's bitmap
# gets only the budget left after it. On the single-task rung the
# orientation + wedge enumeration + close run as vectorized numpy in one
# task — the 41M-wedge sf0.1 count drops from ~5 s of JVM join codegen to
# ~0.5 s (length-bucketed triu_indices pair gather + one bitmap probe per
# wedge). The task replayed outside Spark (10k-row Arrow batches -> kernel
# -> Arrow, peak RSS above a fresh process, searchsorted close) peaks at
# 105 B per pair on sf0.1's 1,199,575 raw pairs and 84 B on 2.4M.
_SINGLE_TASK_ROW_BYTES = 112
# Wedges generated per numpy step, and four times the closed wedges held
# before they are credited: bounds the kernel's transient arrays (~40 B
# per wedge) whatever the graph.
_WEDGE_CHUNK = 1_000_000


def canonical_pairs(np, s, d):
    """(lo, hi): the distinct unordered pairs of the integer arrays
    ``s``, ``d`` as lo < hi, self-loops dropped (``canonical_edges``
    semantics), sorted by (lo, hi)."""
    lo, hi = np.minimum(s, d), np.maximum(s, d)
    keep = lo != hi
    lo, hi = lo[keep], hi[keep]
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    if len(lo):
        first = np.r_[True, (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])]
        lo, hi = lo[first], hi[first]
    return lo, hi


def common_neighbour_counts(np, lo_ids, hi_ids, bitmap_budget_bytes):
    """Per-edge common-neighbour counts (int64, aligned with the input) of
    a CANONICAL (lo < hi by any total order), DEDUPED, self-loop-free
    simple edge set given as two integer arrays. An edge's count is the
    number of triangles through it, so the triangle count is the sum / 3.

    Semantics are identical to the distributed wedge/close joins: orient
    low→high by (degree, id) rank — any total order would do, it only
    needs some orientation — enumerate each triangle's unique wedge at its
    lowest-ranked vertex, close it against the edge set, and credit the
    closed wedge to its three edges. Pure integer work.

    The close probes an n²/8-byte adjacency bitmap when it fits
    ``bitmap_budget_bytes`` (the caller's budget left after its rows'
    charge), else a ``searchsorted`` membership test on packed rank keys
    (no n² memory; sf0.1's 41M wedges take 2.5 s instead of 1.1 s): the
    choice is made in-task, where the exact vertex count n is known.

    Max out-degree after degree-orientation is ≤ √(2m) (a vertex keeping
    t out-edges has t neighbors of degree ≥ t, so Σdeg ≥ t²), hence one
    group's pair template is ≤ m pairs — no blowup; generation is still
    chunked to bound peak memory.
    """
    m = len(lo_ids)
    if m == 0:
        return np.zeros(0, dtype=np.int64)
    import pandas as pd

    # dense vertex indexes, hash-coded: a sort with an inverse would hold
    # several 2m-sized temporaries at once
    inv, ids = pd.factorize(np.concatenate([lo_ids, hi_ids]))
    n = len(ids)
    deg = np.bincount(inv, minlength=n)
    order = np.lexsort((np.arange(n), deg))
    rank = np.empty(n, dtype=np.int32)
    rank[order] = np.arange(n, dtype=np.int32)
    rank = rank[inv]
    del inv
    lo, hi = np.minimum(rank[:m], rank[m:]), np.maximum(rank[:m], rank[m:])
    del rank
    eorder = np.lexsort((hi, lo))
    lo, hi = lo[eorder], hi[eorder]
    # sorted packed rank keys (rank < n ≤ 2m, so lo*n+hi < n² fits int64):
    # the lexsort order above IS ascending key order
    ekeys = lo.astype(np.int64) * n + hi
    stride = (n + 7) >> 3
    use_bitmap = n * stride <= bitmap_budget_bytes
    if use_bitmap:
        # adjacency bitmap: bit (u, v) set iff oriented edge u→v exists
        bits = np.zeros(n * stride, dtype=np.uint8)
        np.bitwise_or.at(
            bits, lo.astype(np.int64) * stride + (hi >> 3), (1 << (hi & 7)).astype(np.uint8)
        )
    starts = np.flatnonzero(np.r_[True, lo[1:] != lo[:-1]])
    glen = np.r_[starts[1:], m] - starts
    # per closed wedge: its two wedge edges' indexes, and the packed key
    # of the edge that closes it, resolved by one searchsorted per flush
    # (sorted needles: ~8x faster than probing in wedge order)
    credit, ends, closing = np.zeros(m, dtype=np.int64), [], []

    def flush():
        keys = np.sort(np.concatenate(closing))
        credit[:] += np.bincount(np.concatenate(ends), minlength=m)
        credit[:] += np.bincount(np.searchsorted(ekeys, keys), minlength=m)
        ends.clear()
        closing.clear()

    for g in np.unique(glen):
        if g < 2:
            continue
        sg = starts[glen == g]
        ti, tj = np.triu_indices(int(g), 1)
        step = max(1, _WEDGE_CHUNK // len(ti))
        for i in range(0, len(sg), step):
            # the wedges (v→b, v→c), b < c, at these groups' low vertices v
            rows = sg[i : i + step, None]
            wa, wb = hi[(rows + ti).ravel()], hi[(rows + tj).ravel()]
            if use_bitmap:
                byte = bits[wa.astype(np.int64) * stride + (wb >> 3)]
                bit = (byte >> (wb & 7).astype(np.uint8)) & 1
                k = np.flatnonzero(bit.view(np.bool_))
                wk = wa[k].astype(np.int64) * n + wb[k]
            else:
                wk = wa.astype(np.int64) * n + wb
                idx = np.minimum(np.searchsorted(ekeys, wk), m - 1)
                k = np.flatnonzero(ekeys[idx] == wk)
                wk = wk[k]
            # each closed wedge is one triangle: credit (v,b), (v,c), (b,c)
            r, t = np.divmod(k, len(ti))
            ends += [rows[r, 0] + ti[t], rows[r, 0] + tj[t]]
            closing.append(wk)
            if sum(map(len, closing)) >= _WEDGE_CHUNK // 4:
                flush()
    if closing:
        flush()
    common = np.empty_like(credit)
    common[eorder] = credit
    return common


def _raw_pairs_kernel(c, left_bytes):
    """One-row (triangles) from a RAW (s, d) long-pair multiset —
    duplicates, self-loops and either orientation allowed; canonicalize
    + dedup run in-task (a 1.2M-row sort beats a distinct Exchange plus
    a cached checkpoint by a wide margin at this size). Idempotent on
    already-canonical distinct input, so ``triangle_count`` feeds its
    hashed canonical pairs here too."""
    import numpy as np

    lo, hi = canonical_pairs(np, c.pop("s").to_numpy(), c.pop("d").to_numpy())
    common = common_neighbour_counts(np, lo, hi, left_bytes)
    return {"triangles": np.array([common.sum() // 3], dtype=np.int64)}, None


def triangle_count_long_pairs(
    pairs: DataFrame,
    single_task_budget_bytes: int = DEFAULT_SINGLE_TASK_BUDGET,
) -> DataFrame:
    """Global triangle count of an undirected simple graph given as a RAW
    ``(s: long, d: long)`` pair multiset (duplicates, self-loops, either
    orientation — exactly what ``canonical_edges`` would normalize away;
    pairs with a null endpoint are dropped, as ``normalize_edges`` does).

    Below the single-task budget the whole canonicalize/dedup/orient/
    wedge/close runs in one numpy task over the raw stream — no distinct
    Exchange, no string minting, no hash probe (long keys need no
    injectivity check). Above it, the raw pairs are stringified and
    handed to the generic ``triangle_count`` pipeline with the same
    budget: its canonical distinct set may still fit the single-task
    rung when the raw multiset did not. The count is identical — the
    distinct UNORDERED pair set is the same under any canonical
    orientation. ``triangle_count`` never calls back into this function.
    """
    s, d = map(sql_identifier, pairs.columns[:2])
    pairs = pairs.selectExpr(f"{s} AS s", f"{d} AS d").where("s IS NOT NULL AND d IS NOT NULL")
    out = single_task.run(
        pairs, _raw_pairs_kernel, "triangles long", single_task_budget_bytes,
        _SINGLE_TASK_ROW_BYTES,
    ).out
    if out is not None:
        return out
    return triangle_count(pairs, single_task_budget_bytes=single_task_budget_bytes)


def oriented_edges(edges: DataFrame, already_canonical: bool = False) -> DataFrame:
    """Canonical simple edges re-oriented low→high by (degree, id).

    ``already_canonical=True`` skips the canonicalization pass when the
    caller hands in an (id-canonical, distinct) edge set it has already
    materialized — re-running canonical_edges would pay a second distinct
    shuffle for nothing (guide §2.4).

    The degree table is materialized once (it is consumed by BOTH
    attachment joins — unmaterialized it would be computed twice) and
    explicitly broadcast when its measured size fits the session's
    broadcast budget: checkpointed inputs carry no stats, so Catalyst
    would otherwise plan two full sort-merge shuffles of the edge set
    just to attach two small integer columns (guide §3.1). Vertex tables
    above the budget fall back to plain shuffle joins.
    """
    canon = edges if already_canonical else canonical_edges(edges)
    spark = canon.sparkSession
    deg = (
        canon.select(F.col("src").alias("id"))
        .unionByName(canon.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
        .localCheckpoint(eager=True)
    )
    nv = deg.count()
    budget = session_broadcast_threshold(spark)
    bcast = fits_broadcast_budget(nv, deg.schema, budget)
    sd = deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "sd")
    dd = deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "dd")
    if bcast:
        sd, dd = F.broadcast(sd), F.broadcast(dd)
    e = canon.join(sd, "src").join(dd, "dst")
    lower_first = (F.col("sd") < F.col("dd")) | (
        (F.col("sd") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("lo"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("hi"),
    )


def triangle_count(
    edges: DataFrame,
    assume_canonical: bool = False,
    single_task_budget_bytes: int = DEFAULT_SINGLE_TASK_BUDGET,
) -> DataFrame:
    """Single-row DataFrame (triangles: long) — global triangle count.

    ``assume_canonical=True``: the caller guarantees ``edges`` is already
    an id-canonical (src < dst), self-loop-free, distinct simple edge set
    (e.g. the co-occurrence builder emits exactly that), so the
    canonicalization pass — a full distinct shuffle — is skipped. Results
    are identical by construction; canonical_edges is idempotent on such
    input.

    The canonical edge set is materialized ONCE and both the orientation
    pass and the wedge-close join derive from it (r5 recomputed the whole
    upstream plan — e.g. the co-occurrence self-join + distinct — twice,
    once per localCheckpoint; guide §1.2). The wedge/close joins run on
    xxhash64-encoded 8-byte keys when the hash is injective on the vertex
    set (one vertex-sized agg verifies; fall back to strings otherwise —
    the count only needs SOME total order and pair identity, never the id
    strings themselves; see encoding.py for the collision policy).
    """
    edges = normalize_edges(edges)
    canon = (
        edges.select("src", "dst") if assume_canonical else canonical_edges(edges)
    ).localCheckpoint(eager=True)
    c = canon.select(F.explode(F.array("src", "dst")).alias("id")).agg(
        F.countDistinct("id").alias("ids"),
        F.countDistinct(F.xxhash64("id")).alias("hids"),
        F.count("*").alias("er"),
    ).first()
    n_e = int(c["er"]) // 2  # every canonical edge explodes to 2 rows
    if c["ids"] == c["hids"]:
        # re-canonicalize the (distinct) pairs in hash space: least/
        # greatest is a narrow reorientation, no second distinct needed
        hs, hd = F.xxhash64("src"), F.xxhash64("dst")
        canon = canon.select(
            F.least(hs, hd).alias("src"), F.greatest(hs, hd).alias("dst")
        )
        if single_task.admits(n_e, single_task_budget_bytes, _SINGLE_TASK_ROW_BYTES):
            # the single-task rung: the whole orient/wedge/close inside
            # one task; the close picks bitmap vs searchsorted in-task
            # from the exact vertex count. >budget graphs continue below
            # unchanged.
            out = single_task.run(
                canon.select(F.col("src").alias("s"), F.col("dst").alias("d")),
                _raw_pairs_kernel,
                "triangles long",
                single_task_budget_bytes,
                _SINGLE_TASK_ROW_BYTES,
            ).out
            if out is not None:
                release_checkpoint(canon)
                return out
    o = oriented_edges(canon, already_canonical=True).localCheckpoint(eager=True)
    # The wedge table (Σ C(outdeg, 2) rows) is the LARGEST relation in
    # this query — orders of magnitude bigger than the edge set. When the
    # EDGE set fits the session broadcast budget, broadcast it on both
    # sides so the wedges are generated and closed inside one map-side
    # pass and never shuffled at all (guide §2.3: shuffle keys/metadata,
    # not the biggest table; §3.1). Above the budget: plain equi-joins,
    # which shuffle wedges — unavoidable when |E| itself is huge.
    small = fits_broadcast_budget(
        n_e, canon.schema, session_broadcast_threshold(canon.sparkSession)
    )
    # wedges at the lowest-ranked vertex: (a→b, a→c), one unordered pair
    # per wedge via id-order b < c
    oy = F.broadcast(o.alias("y")) if small else o.alias("y")
    w = (
        o.alias("x")
        .join(oy, F.col("x.lo") == F.col("y.lo"))
        .filter(F.col("x.hi") < F.col("y.hi"))
        .select(F.col("x.hi").alias("src"), F.col("y.hi").alias("dst"))
    )
    # close the wedge against the id-canonical edge set — pure equi-join on
    # (src, dst), shuffle-hash/SMJ friendly, no OR predicate
    tri = w.join(F.broadcast(canon) if small else canon, ["src", "dst"], "inner")
    return tri.agg(F.count("*").cast("long").alias("triangles"))
