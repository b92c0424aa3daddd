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
from ..graph import canonical_edges, normalize_edges
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from ..superstep import fits_broadcast_budget, session_broadcast_threshold

# Single-task working set per (raw or canonical) pair. On the single-task
# rung the orientation + wedge enumeration + close run as vectorized numpy
# in one task — the 41M-wedge sf0.1 count drops from ~5 s of JVM join
# codegen to ~0.5 s (length-bucketed triu_indices pair gather + one
# bitmap probe per wedge).
_SINGLE_TASK_ROW_BYTES = 48
# In-task cap for the n²/8-byte adjacency bitmap used by the wedge-close
# probe; above it the close falls back to a searchsorted membership test
# on packed rank keys (~5x slower per wedge, no n² memory) — the choice
# is made INSIDE the task where the exact vertex count is known.
_BITMAP_CAP_BYTES = 512 << 20


def _count_canonical_pairs(np, lo_ids, hi_ids) -> int:
    """Exact triangle count of a CANONICAL (lo < hi by any total order),
    DEDUPED, self-loop-free simple edge set given as two int64 arrays.

    Semantics are identical to the distributed wedge/close join: orient
    low→high by (degree, id) rank — the count is invariant to WHICH
    total order is used, it only needs some orientation — enumerate each
    triangle's unique wedge at its lowest-ranked vertex, and close
    against the edge set. Pure integer work.

    Max out-degree after degree-orientation is ≤ √(2m) (a vertex keeping
    t out-edges has t neighbors of degree ≥ t, so Σdeg ≥ t²), hence one
    group's pair template is ≤ m pairs — no blowup; generation is still
    chunked to bound peak memory.
    """
    m = len(lo_ids)
    if m == 0:
        return 0
    ids, inv = np.unique(np.concatenate([lo_ids, hi_ids]), return_inverse=True)
    n = len(ids)
    si, di = inv[:m].astype(np.int32), inv[m:].astype(np.int32)
    deg = np.bincount(inv, minlength=n)
    order = np.lexsort((np.arange(n), deg))
    rank = np.empty(n, dtype=np.int32)
    rank[order] = np.arange(n, dtype=np.int32)
    rs, rd = rank[si], rank[di]
    lo = np.minimum(rs, rd)
    hi = np.maximum(rs, rd)
    eorder = np.lexsort((hi, lo))
    lo, hi = lo[eorder], hi[eorder]
    stride = (n + 7) >> 3
    use_bitmap = n * stride <= _BITMAP_CAP_BYTES
    if use_bitmap:
        # adjacency bitmap: bit (u, v) set iff oriented edge u→v exists
        bits = np.zeros(n * stride, dtype=np.uint8)
        np.bitwise_or.at(
            bits,
            lo.astype(np.int64) * stride + (hi >> 3),
            (1 << (hi & 7)).astype(np.uint8),
        )
    else:
        # sorted packed rank keys (rank < n ≤ 2m, so lo*n+hi < n² fits
        # int64); lexsort order above IS ascending key order
        ekeys = lo.astype(np.int64) * n + hi.astype(np.int64)
    starts = np.flatnonzero(np.r_[True, lo[1:] != lo[:-1]]).astype(np.int64)
    glen = (np.r_[starts[1:], m] - starts).astype(np.int64)
    total = 0
    CHUNK = 16_000_000
    for g in np.unique(glen):
        if g < 2:
            continue
        sg = starts[glen == g]
        ti, tj = (a.astype(np.int64) for a in np.triu_indices(int(g), 1))
        step = max(1, CHUNK // len(ti))
        for i in range(0, len(sg), step):
            sgc = sg[i : i + step]
            wa = hi[(sgc[:, None] + ti[None, :])].ravel()
            wb = hi[(sgc[:, None] + tj[None, :])].ravel()
            if use_bitmap:
                byte = bits[wa.astype(np.int64) * stride + (wb >> 3)]
                total += int(((byte >> (wb & 7).astype(np.uint8)) & 1).sum())
            else:
                wk = wa.astype(np.int64) * n + wb.astype(np.int64)
                idx = np.searchsorted(ekeys, wk)
                idx[idx >= m] = m - 1
                total += int((ekeys[idx] == wk).sum())
    return total


def _raw_pairs_kernel(c):
    """One-row (triangles) from a RAW (s, d) long-pair multiset —
    duplicates, self-loops and either orientation allowed; canonicalize
    + dedup run in-task (a 1.2M-row sort beats a distinct Exchange plus
    a cached checkpoint by a wide margin at this size). Idempotent on
    already-canonical distinct input, so ``triangle_count`` feeds its
    hashed canonical pairs here too."""
    import numpy as np

    s, d = c["s"], c["d"]
    lo = np.minimum(s, d)
    hi = np.maximum(s, d)
    keep = lo != hi  # drop self-loops (canonical_edges semantics)
    lo, hi = lo[keep], hi[keep]
    order = np.lexsort((hi, lo))
    lo, hi = lo[order], hi[order]
    if len(lo):
        first = np.r_[True, (lo[1:] != lo[:-1]) | (hi[1:] != hi[:-1])]
        lo, hi = lo[first], hi[first]
    return {"triangles": np.array([_count_canonical_pairs(np, lo, hi)], dtype=np.int64)}


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
    cols = pairs.columns
    pairs = pairs.select(F.col(cols[0]).alias("s"), F.col(cols[1]).alias("d")).filter(
        F.col("s").isNotNull() & F.col("d").isNotNull()
    )
    copy = single_task.gate(pairs, single_task_budget_bytes, _SINGLE_TASK_ROW_BYTES)
    if copy is not None:
        return single_task.run(copy, _raw_pairs_kernel, "triangles long")
    return triangle_count(
        pairs.select(F.col("s").alias("src"), F.col("d").alias("dst")),
        single_task_budget_bytes=single_task_budget_bytes,
    )


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
            return single_task.run(
                canon.select(F.col("src").alias("s"), F.col("dst").alias("d")),
                _raw_pairs_kernel,
                "triangles long",
            )
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
