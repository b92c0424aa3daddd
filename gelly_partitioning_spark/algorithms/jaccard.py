"""Jaccard similarity per edge: J(a,b) = |N(a) ∩ N(b)| / |N(a) ∪ N(b)|.

Reference: example/JaccardSimilarityMeasure.java:20-59, library/Jaccard.java
(per-vertex maps) and library/GSAJaccard.java (per-edge values). Goldens:
util/JaccardSimilarityMeasureData.java:33-40 (e.g. J(1,2)=1/3, J(7,8)=0.0).

The reference materializes neighbor HashSets per vertex and derives the
intersection arithmetically from set sizes (library/Jaccard.java:142-150:
|∩| = |A| + |B| − |A∪B|). Relational re-expression (no sets materialized —
the hub's neighbor set never lives in one task):

  common(a,b) = #common neighbors of edge (a,b) = #triangles through (a,b)
  J(a,b)      = common / (deg(a) + deg(b) − common)

restricted to actual edges (a,b). Since those pairs ARE edges, common()
comes from the same degree-oriented enumeration as triangle_count (each
triangle found ONCE at its lowest-(degree,id) vertex, wedge fan-out
bounded by degeneracy², not hub²), each triangle credited to its 3 edges
— never the naive wedge self-join's deg(w)² rows through every hub w.

``jaccard_counts`` is the one pipeline (``jaccard``, ``jaccard_vertex``
and the driver's query derive from it), on two rungs:

- single-task, when the rows fit ``single_task_budget_bytes`` (each
  charged a fixed size plus its ids' bytes): one task codes the ids in
  string order (Arrow sorts strings by their UTF-8 bytes, as Spark does),
  canonicalizes and dedups, and runs triangle_count's per-edge
  common-neighbour kernel — no exchange, no join;
- distributed, above the budget or on an empty input: the canonical edge
  set, ``edge_common_neighbors``' oriented wedge/close joins and two
  degree joins; an edge with no common neighbor gets 0 (left join).

``jaccard_vertex`` collects the per-edge rows into a per-vertex map (the
reference's JACCARD_VERTICES golden).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .. import single_task
from ..graph import canonical_edges, degrees, normalize_edges, normalize_endpoints
from ..single_task import DEFAULT_SINGLE_TASK_BUDGET
from .triangle_count import canonical_pairs, common_neighbour_counts, oriented_edges

# Single-task working set of an input (src, dst) string row: a fixed
# charge plus one per UTF-8 byte of its two ids, summed in the task from
# the Arrow string buffers. Set from a task that turned every id into a
# Python string (~165 B per row plus 2.0-2.5 B per id byte). The Arrow
# task replayed outside Spark (10k-row Arrow batches -> kernel -> Arrow,
# peak RSS above a fresh process, searchsorted close) holds no Python
# string per row and peaks about half as high: sf0.1's 1,199,575 'p…'
# rows (13.1 MB of ids) are charged 256 MB and peak at 136 MB; 148,000
# rows of ~205-byte ids are charged 268 MB and peak at 112 MB.
_SINGLE_TASK_ROW_BYTES = 170
_ID_BYTE_COST = 4


def edge_common_neighbors(canon: DataFrame) -> DataFrame:
    """(src, dst, common) — common-neighbor count per id-canonical edge,
    via degree-oriented triangle enumeration (triangle_count.py).

    Each triangle (v, b, c) found once (v = lowest-(degree,id) corner,
    b < c by id) contributes one common neighbor to each of its 3 edges.
    """
    # materialize the canonical set once: the orientation pass and the
    # wedge-close join below both consume it (guide §1.2 — without this
    # the upstream plan, e.g. the co-occurrence self-join + distinct, runs
    # twice), and it is already id-canonical by contract
    canon = canon.localCheckpoint(eager=True)
    o = oriented_edges(canon, already_canonical=True).localCheckpoint(eager=True)
    w = (
        o.alias("x")
        .join(o.alias("y"), F.col("x.lo") == F.col("y.lo"))
        .filter(F.col("x.hi") < F.col("y.hi"))
        .select(F.col("x.lo").alias("v"), F.col("x.hi").alias("b"), F.col("y.hi").alias("c"))
    )
    # Examined in r6: THREE consumers below (one per triangle corner)
    # and the static plan carries the wedge/close subtree thrice — but a
    # lazy checkpoint of tri measured NO warm-time change in a
    # same-window A/B (AQE's runtime stage reuse already deduplicates
    # the shuffle work), while caching a (#triangles)-row set is a real
    # memory liability at scale. Deliberately left uncached.
    tri = w.join(
        canon.select(F.col("src").alias("b"), F.col("dst").alias("c")), ["b", "c"]
    )
    per_edge = (
        tri.select(F.col("b").alias("src"), F.col("c").alias("dst"))
        .unionAll(tri.select(F.least("v", "b").alias("src"), F.greatest("v", "b").alias("dst")))
        .unionAll(tri.select(F.least("v", "c").alias("src"), F.greatest("v", "c").alias("dst")))
    )
    return per_edge.groupBy("src", "dst").agg(F.count("*").cast("long").alias("common"))


def _counts_kernel(c, left_bytes):
    """(src, dst, common_cnt, union_cnt) of the canonical simple edge set
    of raw string (src, dst) rows. The ids become their ranks in sorted
    string order, so canonical_pairs' lo < hi is the id-canonical
    orientation ``canonical_edges`` gives. The kernel's bitmap gets the
    budget left after the rows' charge."""
    import numpy as np

    m = len(c["src"])
    codes, ids = single_task.sorted_codes(c.pop("src"), c.pop("dst"))
    lo, hi = canonical_pairs(np, codes[:m], codes[m:])
    del codes
    common = common_neighbour_counts(np, lo, hi, left_bytes)
    deg = np.bincount(np.concatenate([lo, hi]), minlength=len(ids))
    return {
        "src": ids.take(lo),
        "dst": ids.take(hi),
        "common_cnt": common,
        "union_cnt": deg[lo] + deg[hi] - common,
    }, None


def jaccard_counts(
    edges: DataFrame, single_task_budget_bytes: int = DEFAULT_SINGLE_TASK_BUDGET
) -> DataFrame:
    """(src, dst, common_cnt, union_cnt) for each canonical undirected
    edge (src < dst): its common-neighbor count and the size of its
    endpoints' neighbor-set union, both exact integers."""
    out = single_task.run(
        normalize_endpoints(edges),
        _counts_kernel,
        "src string, dst string, common_cnt long, union_cnt long",
        single_task_budget_bytes,
        _SINGLE_TASK_ROW_BYTES,
        _ID_BYTE_COST,
    ).out
    if out is not None:
        return out
    canon = canonical_edges(normalize_edges(edges)).withColumn("w", F.lit(1.0))
    deg = degrees(canon)
    common = F.coalesce("common", F.lit(0)).cast("long")
    return (
        canon.select("src", "dst")
        .join(edge_common_neighbors(canon.select("src", "dst")), ["src", "dst"], "left")
        .join(deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "sd"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "dd"), "dst")
        .select(
            "src",
            "dst",
            common.alias("common_cnt"),
            (F.col("sd") + F.col("dd") - common).cast("long").alias("union_cnt"),
        )
    )


def jaccard(edges: DataFrame) -> DataFrame:
    """(src, dst, jaccard) for each canonical undirected edge."""
    return jaccard_counts(edges).selectExpr(
        "src", "dst", "common_cnt / CAST(union_cnt AS DOUBLE) AS jaccard"
    )


def jaccard_vertex(edges: DataFrame) -> DataFrame:
    """(id, neighbors: map<string,double>) — per-vertex {neighbor: J} map,
    the reference's JACCARD_VERTICES shape (library/Jaccard.java:33-37)."""
    # both orientations of each edge from ONE scan: the single-task rung's
    # output has no exchange for a union's second branch to reuse
    # both orientations of each edge from ONE scan: the single-task rung's
    # output has no exchange for a union's second branch to reuse
    both = jaccard(edges).selectExpr(
        "inline(array(struct(src, dst, jaccard), struct(dst AS src, src AS dst, jaccard)))"
    )
    return both.groupBy(F.expr("src AS id")).agg(
        F.expr("map_from_entries(sort_array(collect_list(struct(dst, jaccard)))) AS neighbors")
    )
