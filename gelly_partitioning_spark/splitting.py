"""Split-Merge kernel: skew-aware node splitting, re-expressed Spark-first.

This is the engine's core contribution, a from-scratch reimplementation of
the reference's node-splitting technique (splitUtils/SplitVertex.java):

- *detect*  skewed vertices: degree > threshold      (SplitVertex.java:30-44)
- *split*   replace a skewed vertex with sub-vertices; route each incident
  edge to one sub-vertex by hashing the neighbor id
  (SplitVertex.java:61-114; per-level rehash 286-294, 334-342)
- *merge*   partial per-sub-vertex values back to the original vertex via an
  associative combiner                                (SplitVertex.java:186-225)

The split has two id forms. ``split_vids`` is the one every distributed
rung runs (PageRank, CC, LP and ``degree_count``): a sub-vertex is the
long ``(vid << b) | salt`` over the vertex's minted ``vid``, unique by
construction for any vertex id. ``split_graph`` is the string form
``id#k``, flat only, for the one-pass neighborhood consumers and the
partitioning plans; it rejects a split vertex whose id contains ``#``.

Spark-first deviations (all answer-preserving — SURVEY.md §0: every merge
combiner is commutative/associative, so routing hash choice never changes
results, only load balance):

1. **Flat split** (default). The reference recursively splits still-skewed
   sub-vertices up to ``level`` times with SHA-256 rehashing per level. We
   compute the final fan-out directly: ``n_splits(v) = clamp(ceil(degree/
   threshold), 1, alpha**level)`` and route with ``pmod(xxhash64(neighbor,
   seed), n_splits)`` — one degree job + one rewrite pass instead of
   ``level`` passes over the full edge set. At 100 TB that is the difference
   between 1 and ``level`` full-shuffle scans. The recursive tree variant
   (``mode='tree'``) exists only in ``split_vids``, for reference-parity
   debugging.
2. **Explicit ``tag`` column** carries the original vertex id alongside the
   sub-vertex id, replacing every ``indexOf('_')`` string scan
   (SplitVertex.java:102-109) and letting the final merge be a *single*
   ``groupBy('tag')`` instead of ``level`` successive merges.
3. **Hash**: ``xxhash64`` (JVM-side, codegen'd) instead of Java
   ``String.hashCode`` + SHA-256 (util/Sha.java:14-18).

Why this matters on Spark at all: AQE's skew-join handles oversized *join*
partitions, but a 10^8-degree hub is still a single groupBy key in a single
task for non-reducible combiners (collect_set / map-merge), and a single
hot join key for the per-superstep scatter join. Splitting bounds both by
``alpha**level`` / ``threshold``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .superstep import checkpoint_static, release_checkpoint
from .graph import undirected

# Sub-vertex id separator. The reference uses '_' (SplitVertex.java:88);
# we use '#' so engine-derived ids like 'p_12' can never collide.
SEP = "#"

DEFAULT_ALPHA = 2   # util/NodeSplittingData.java:15
DEFAULT_LEVEL = 4   # util/NodeSplittingData.java:17
DEFAULT_THRESHOLD = 2  # util/NodeSplittingData.java:19 (test graphs)


@dataclass
class SplitGraph:
    """A split graph: routing edges + sub-vertex table.

    edges:     (src, dst, w, src_tag, dst_tag) — undirected-expanded, both
               endpoints rewritten to sub-vertex ids where skewed.
    vertices:  (id, tag) — one row per sub-vertex; tag = original id.
    """

    edges: DataFrame
    vertices: DataFrame
    alpha: int
    level: int
    threshold: int

    def tags(self) -> DataFrame:
        """Original vertex ids, one column ``tag``."""
        return self.vertices.select("tag").distinct()


def _route(edge_col: str, neighbor_tag_col: str, n_splits_col: str):
    """Salted sub-vertex id: ``id#pmod(xxhash64(neighbor, 0), n)``.

    Routing by the *neighbor* id (not random) is the reference's scheme
    (SplitVertex.java:286-296): all copies of the same (hub, neighbor)
    pair land on the same sub-vertex, keeping routing deterministic.
    """
    bucket = F.pmod(F.xxhash64(F.col(neighbor_tag_col), F.lit(0)), F.col(n_splits_col))
    return F.when(
        F.col(n_splits_col) > 1,
        F.concat(F.col(edge_col), F.lit(SEP), bucket.cast("string")),
    ).otherwise(F.col(edge_col))


def _without_separator(col: str):
    """``col``, failing the task on an id that contains ``SEP``."""
    return F.when(~F.col(col).contains(SEP), F.col(col)).otherwise(
        F.raise_error(F.concat(F.lit(f"vertex id contains reserved separator {SEP!r}: "), F.col(col)))
    ).alias(col)


def resolve_threshold(degree_df: DataFrame, threshold: int | None) -> int:
    """``threshold``, or, when None, xMin derived from a (degree) table
    (see ``split_graph``)."""
    if threshold is not None:
        return threshold
    row = degree_df.agg(
        F.count("*").alias("n"),
        F.ceil(F.avg("degree")).alias("mean_t"),
        F.expr("approx_percentile(degree, 0.999)").alias("q_t"),
    ).first()
    mean_t = max(int(row["mean_t"]) if row["mean_t"] is not None else 2, 2)
    if (row["n"] or 0) >= 10_000 and row["q_t"] is not None:
        return max(int(row["q_t"]), mean_t)
    return mean_t


def n_splits(threshold: int, alpha: int, level: int):
    """The flat fan-out of a vertex from its ``degree`` column:
    clamp(ceil(degree/threshold), 1, alpha**level)."""
    return F.least(
        F.lit(int(alpha) ** int(level)).cast("long"),
        F.greatest(F.lit(1).cast("long"), F.ceil(F.col("degree") / F.lit(threshold))),
    )


def split_graph(
    edges: DataFrame,
    threshold: int | None = DEFAULT_THRESHOLD,
    alpha: int = DEFAULT_ALPHA,
    level: int = DEFAULT_LEVEL,
) -> SplitGraph:
    """Build the flat split graph from a *directed* edge DataFrame.

    Returns undirected-expanded routing edges whose skewed endpoints are
    rewritten to sub-vertex ids, plus the (id, tag) sub-vertex table.

    ``threshold=None`` derives xMin from the data (one extra reducible agg
    job on the degree table, auto mode only):

    - graphs with ≥ 10,000 vertices: the p99.9 degree quantile (via
      approx_percentile — one-pass, bounded sketch memory), floored at the
      mean. This is the reference's *stubbed intent* — a power-law tail
      cut (SortDegreeNodeSplitting.java:55-58) — rather than what it
      executes: on real power-law data the mean sits inside the bulk and
      would split a large fraction of ordinary vertices, while the
      quantile splits only the extreme tail the technique exists for.
    - smaller graphs: ceil(average degree), floored at 2 — what the
      reference executes (AlphaNodeSplitting.java:82-102); below ~10k
      vertices the p99.9 quantile is just the max degree and would
      select nothing.
    """
    # One shared, lazily-materialized undirected set: the degree pass and
    # the rewrite pass would otherwise each re-run the upstream scan +
    # distinct (the explain audit showed the subtree duplicated).
    und = checkpoint_static(undirected(edges), eager=False)
    # lazy vertex-sized cache: the degree table feeds BOTH broadcast
    # fan-out builds (and the auto-threshold agg) — without it each
    # consumer re-ran the full aggregation (the plan showed the groupBy
    # subtree once per BroadcastExchange)
    degree_df = (
        und.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").cast("long").alias("degree"))
        .localCheckpoint(eager=False)
    )
    threshold = resolve_threshold(degree_df, threshold)
    fanout = degree_df.select(
        "id", n_splits(threshold, alpha, level).alias("n_splits")
    ).filter(F.col("n_splits") > 1)
    # Guard: an input id that already contains the sub-vertex separator
    # would make generated sub-vertex ids ambiguous. Checked only on the
    # tiny skewed set when the fanout table materializes for broadcast —
    # non-split ids never acquire a suffix, and all tag-based code paths
    # ignore the id string entirely.
    fanout = fanout.select(_without_separator("id"), "n_splits")
    # The skewed set is tiny (power-law tail above threshold) — broadcast
    # both attachment joins so the full edge set is never shuffled here.
    e = (
        und.join(
            F.broadcast(fanout.select(F.col("id").alias("src"), F.col("n_splits").alias("src_n"))),
            "src",
            "left",
        )
        .join(
            F.broadcast(fanout.select(F.col("id").alias("dst"), F.col("n_splits").alias("dst_n"))),
            "dst",
            "left",
        )
        .withColumn("src_n", F.coalesce("src_n", F.lit(1).cast("long")))
        .withColumn("dst_n", F.coalesce("dst_n", F.lit(1).cast("long")))
    )
    e = e.select(
        _route("src", "dst", "src_n").alias("src"),
        _route("dst", "src", "dst_n").alias("dst"),
        "w",
        F.col("src").alias("src_tag"),
        F.col("dst").alias("dst_tag"),
    )
    verts = (
        e.select(F.col("src").alias("id"), F.col("src_tag").alias("tag"))
        .unionByName(e.select(F.col("dst").alias("id"), F.col("dst_tag").alias("tag")))
        .distinct()
    )
    return SplitGraph(edges=e, vertices=verts, alpha=alpha, level=level, threshold=threshold)


# -- the long-id form the distributed rungs run on ---------------------------


def salt_bits(alpha: int, level: int, max_vid: int = 0) -> int:
    """b, the low bits of a long sub-vertex id ``(vid << b) | salt`` that
    hold the salt: ceil(log2 alpha) per level, so every flat fan-out
    (≤ alpha**level) and every tree path fits. Raises when the largest
    vertex id shifted by b does not fit a signed long."""
    b = int(level) * (int(alpha) - 1).bit_length()
    if max_vid.bit_length() + b > 63:
        raise ValueError(
            f"sub-vertex ids do not fit a long: vertex id {max_vid} shifted by "
            f"{b} salt bits (alpha={alpha}, level={level}); lower alpha or level"
        )
    return b


def route_vids(edges: DataFrame, ids: DataFrame, bits: int) -> DataFrame:
    """(src, dst_tag, w): both orientations of each directed edge, the
    endpoints mapped to their ``vid`` through ``ids`` (tag, vid, n) and the
    source salted to sub-vertex ``(vid << bits) | pmod(xxhash64(neighbour
    vid), n)`` — routing by the neighbour, as ``_route`` does on strings.
    One pass: each mapped edge explodes into its two routing rows."""

    def end(c: str, v: str, n: str):
        return ids.select(F.col("tag").alias(c), F.col("vid").alias(v), F.col("n").alias(n))

    e = edges.join(end("src", "s", "sn"), "src").join(end("dst", "d", "dn"), "dst")

    def row(v: str, n: str, nbr: str):
        salt = F.pmod(F.xxhash64(nbr), F.col(n))
        return F.struct(
            F.shiftleft(v, bits).bitwiseOR(salt).alias("src"),
            F.col(nbr).alias("dst_tag"),
            F.col("w"),
        )

    return e.select(F.explode(F.array(row("s", "sn", "d"), row("d", "dn", "s"))).alias("r")).select("r.*")


def _fan(base, n, shift: int = 0):
    """Explode each row into its ``n`` salted ids ``base | (k << shift)``,
    k < n (k = 0 is ``base`` itself)."""
    salts = F.sequence(F.lit(0).cast("long"), n - 1)
    return F.explode(F.transform(salts, lambda k: base.bitwiseOR(F.shiftleft(k, shift))))


def split_vids(
    edges: DataFrame, vertices: DataFrame, threshold: int | None, alpha: int,
    level: int, mode: str = "flat", max_vid: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """The split of a directed (src, dst, w) edge frame on the long ids of
    ``vertices`` (tag, vid, degree): (routing rows (src, dst_tag, w),
    sub-vertices (src, tag, degree)), ``tag`` being the vertex's vid.

    Sub-vertex ids are unique by construction, and the sub-vertex table
    is built from the fan-out, not recovered from the 2|E| routing rows:
    flat mode fans each vertex out to its n_splits salts; tree mode fans
    the skewed sub-vertices out level by level, each level's bucket in its
    own ceil(log2 alpha) bits. A salt that draws no edge is a sub-vertex
    without routing rows, which joins nothing. Tree mode returns both
    tables as checkpoints the caller owns (and releases); flat mode
    returns them unmaterialized.
    """
    b = salt_bits(alpha, level, max_vid)
    threshold = resolve_threshold(vertices, threshold)
    vid, one = F.col("vid"), F.lit(1).cast("long")
    if mode not in ("flat", "tree"):
        raise ValueError(f"unknown split mode: {mode}")
    n = n_splits(threshold, alpha, level) if mode == "flat" else one
    e = route_vids(edges, vertices.select("tag", "vid", n.alias("n")), b)
    subs = vertices.select(_fan(F.shiftleft(vid, b), n).alias("src"), vid.alias("tag"), "degree")
    per = (int(alpha) - 1).bit_length()
    if mode == "tree":
        # each level reads the last one's checkpoints, so its work does
        # not re-run the levels before it
        e, subs = e.localCheckpoint(eager=True), subs.localCheckpoint(eager=True)
    for lvl in range(int(level) if mode == "tree" else 0):
        skewed = (
            e.groupBy("src").count().filter(F.col("count") > threshold)
            .select("src", F.lit(int(alpha)).cast("long").alias("_n"))
            .localCheckpoint(eager=False)
        )
        if not skewed.count():
            release_checkpoint(skewed)
            break
        skewed, n = F.broadcast(skewed), F.coalesce("_n", one)
        bucket = F.pmod(F.xxhash64("dst_tag", F.lit(lvl + 1)), n)
        last = (skewed, e, subs)
        e = e.join(skewed, "src", "left").select(
            F.col("src").bitwiseOR(F.shiftleft(bucket, lvl * per)).alias("src"), "dst_tag", "w"
        ).localCheckpoint(eager=True)
        subs = subs.join(skewed, "src", "left").select(
            _fan(F.col("src"), n, lvl * per).alias("src"), "tag", "degree"
        ).localCheckpoint(eager=True)
        for df in last:
            release_checkpoint(df)
    return e, subs
