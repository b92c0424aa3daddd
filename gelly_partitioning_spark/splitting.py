"""Split-Merge kernel: skew-aware node splitting, re-expressed Spark-first.

This is the engine's core contribution, a from-scratch reimplementation of
the reference's node-splitting technique (splitUtils/SplitVertex.java):

- *detect*  skewed vertices: degree > threshold      (SplitVertex.java:30-44)
- *split*   replace a skewed vertex with sub-vertices ``id#b``; route each
  incident edge to one sub-vertex by hashing the neighbor id
  (SplitVertex.java:61-114; per-level rehash 286-294, 334-342)
- *merge*   partial per-sub-vertex values back to the original vertex via an
  associative combiner                                (SplitVertex.java:186-225)
- *propagate* merged values back down to every sub-vertex
  (SplitVertex.java:402-428)

Spark-first deviations (all answer-preserving — SURVEY.md §0: every merge
combiner is commutative/associative, so routing hash choice never changes
results, only load balance):

1. **Flat split** (default). The reference recursively splits still-skewed
   sub-vertices up to ``level`` times with SHA-256 rehashing per level. We
   compute the final fan-out directly: ``n_splits(v) = clamp(ceil(degree/
   threshold), 1, alpha**level)`` and route with ``pmod(xxhash64(neighbor,
   seed), n_splits)`` — one degree job + one rewrite pass instead of
   ``level`` passes over the full edge set. At 100 TB that is the difference
   between 1 and ``level`` full-shuffle scans. The recursive tree variant is
   kept (`mode='tree'`) for reference-parity debugging.
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

from .superstep import checkpoint_static
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


def _route(edge_col: str, neighbor_tag_col: str, n_splits_col: str, seed: int):
    """Salted sub-vertex id: ``id#pmod(xxhash64(neighbor, seed), n)``.

    Routing by the *neighbor* id (not random) is the reference's scheme
    (SplitVertex.java:286-296): all copies of the same (hub, neighbor)
    pair land on the same sub-vertex, keeping routing deterministic.
    """
    bucket = F.pmod(F.xxhash64(F.col(neighbor_tag_col), F.lit(seed)), F.col(n_splits_col))
    return F.when(
        F.col(n_splits_col) > 1,
        F.concat(F.col(edge_col), F.lit(SEP), bucket.cast("string")),
    ).otherwise(F.col(edge_col))


def split_graph(
    edges: DataFrame,
    threshold: int | None = DEFAULT_THRESHOLD,
    alpha: int = DEFAULT_ALPHA,
    level: int = DEFAULT_LEVEL,
    mode: str = "flat",
    degree_df: DataFrame | None = None,
) -> SplitGraph:
    """Build the split graph from a *directed* edge DataFrame.

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
    if degree_df is None:
        # lazy vertex-sized cache: the derived degree table feeds BOTH
        # broadcast fan-out builds (and the auto-threshold agg) — without
        # it each consumer re-ran the full aggregation (r6, the same fix
        # degree_count's explicit path got; the plan showed the groupBy
        # subtree once per BroadcastExchange)
        degree_df = (
            und.groupBy(F.col("src").alias("id"))
            .agg(F.count("*").cast("long").alias("degree"))
            .localCheckpoint(eager=False)
        )
    if threshold is None:
        row = degree_df.agg(
            F.count("*").alias("n"),
            F.ceil(F.avg("degree")).alias("mean_t"),
            F.expr("approx_percentile(degree, 0.999)").alias("q_t"),
        ).first()
        mean_t = max(int(row["mean_t"]) if row["mean_t"] is not None else 2, 2)
        if (row["n"] or 0) >= 10_000 and row["q_t"] is not None:
            threshold = max(int(row["q_t"]), mean_t)
        else:
            threshold = mean_t
    if mode == "flat":
        e = _split_flat(und, degree_df, threshold, alpha, level)
    elif mode == "tree":
        e = _split_tree(und, threshold, alpha, level)
    else:
        raise ValueError(f"unknown split mode: {mode}")

    verts = (
        e.select(F.col("src").alias("id"), F.col("src_tag").alias("tag"))
        .unionByName(e.select(F.col("dst").alias("id"), F.col("dst_tag").alias("tag")))
        .distinct()
    )
    return SplitGraph(edges=e, vertices=verts, alpha=alpha, level=level, threshold=threshold)


def _split_flat(und: DataFrame, degree_df: DataFrame, threshold: int, alpha: int, level: int) -> DataFrame:
    """Single-pass split: fan-out = clamp(ceil(degree/threshold), 1, alpha^level)."""
    cap = int(alpha) ** int(level)
    fanout = degree_df.select(
        "id",
        F.least(
            F.lit(cap).cast("long"),
            F.greatest(F.lit(1).cast("long"), F.ceil(F.col("degree") / F.lit(threshold))),
        ).alias("n_splits"),
    ).filter(F.col("n_splits") > 1)
    # Guard: an input id that already contains the sub-vertex separator
    # would make generated sub-vertex ids ambiguous (and unsplit() would
    # truncate it). Checked only on the tiny skewed set when the fanout
    # table materializes for broadcast — non-split ids never acquire a
    # suffix, and all tag-based code paths ignore the id string entirely.
    fanout = fanout.select(
        F.when(
            ~F.col("id").contains(SEP), F.col("id")
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"vertex id contains reserved separator {SEP!r}: "),
                    F.col("id"),
                )
            )
        ).alias("id"),
        "n_splits",
    )
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
        _route("src", "dst", "src_n", seed=0).alias("src"),
        _route("dst", "src", "dst_n", seed=0).alias("dst"),
        "w",
        F.col("src").alias("src_tag"),
        F.col("dst").alias("dst_tag"),
    )
    return e


def _split_tree(und: DataFrame, threshold: int, alpha: int, level: int) -> DataFrame:
    """Reference-shaped recursive split: ``level`` rounds, each splitting
    currently-skewed (sub-)vertices by ``alpha`` with a fresh hash seed
    (SplitVertex.java:61-114; per-level rehash = seeded xxhash64 here).
    Kept for parity debugging; O(level) passes — use 'flat' at scale."""
    e = und.select(
        "src", "dst", "w",
        F.col("src").alias("src_tag"), F.col("dst").alias("dst_tag"),
    )
    for lvl in range(int(level)):
        deg = e.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("degree"))
        skewed = deg.filter(F.col("degree") > threshold).select("id")
        if skewed.isEmpty():
            break
        # same reserved-separator guard as _split_flat: an input id that
        # already contains SEP would make generated sub-vertex ids ambiguous
        # (level-0 only: deeper levels split ids the engine itself minted)
        if lvl == 0:
            skewed = skewed.select(
                F.when(~F.col("id").contains(SEP), F.col("id"))
                .otherwise(
                    F.raise_error(
                        F.concat(
                            F.lit(f"vertex id contains reserved separator {SEP!r}: "),
                            F.col("id"),
                        )
                    )
                )
                .alias("id")
            )
        alpha_col = f"__alpha_{lvl}"
        sk_src = F.broadcast(skewed.select(F.col("id").alias("src"), F.lit(int(alpha)).cast("long").alias(alpha_col)))
        sk_dst = F.broadcast(skewed.select(F.col("id").alias("dst"), F.lit(int(alpha)).cast("long").alias(alpha_col + "d")))
        e = (
            e.join(sk_src, "src", "left")
            .join(sk_dst, "dst", "left")
            .withColumn(alpha_col, F.coalesce(alpha_col, F.lit(1).cast("long")))
            .withColumn(alpha_col + "d", F.coalesce(alpha_col + "d", F.lit(1).cast("long")))
            .select(
                _route("src", "dst_tag", alpha_col, seed=lvl + 1).alias("src"),
                _route("dst", "src_tag", alpha_col + "d", seed=lvl + 1).alias("dst"),
                "w",
                "src_tag",
                "dst_tag",
            )
        )
    return e


def merge_by_tag(partials: DataFrame, agg_exprs: list, key: str = "tag") -> DataFrame:
    """treeAggregate, collapsed: merge per-sub-vertex partials to one row
    per original vertex with associative combiners (SplitVertex.java:186-225;
    single groupBy is legal per SURVEY.md §7.1-2)."""
    return partials.groupBy(key).agg(*agg_exprs)


def propagate_to_subvertices(subvertices: DataFrame, tag_values: DataFrame, on: str = "tag") -> DataFrame:
    """propagateValuesToSplitVertices (SplitVertex.java:402-428): attach the
    merged per-original-vertex value to every sub-vertex. The join key is
    ``tag`` with ≤ alpha^level rows per key on the left — balanced by
    construction, so a plain shuffle join is safe at any scale; Catalyst/AQE
    broadcasts tag_values automatically when it is small."""
    return subvertices.join(tag_values, on=on)


def unsplit(df: DataFrame, id_col: str = "id") -> DataFrame:
    """Strip the sub-vertex suffix, recovering the original id
    (cleanupEdges, SplitVertex.java:234-257)."""
    return df.withColumn(id_col, F.substring_index(F.col(id_col), SEP, 1))
