"""Graph core: edge/vertex DataFrames and degree/skew primitives.

Data model (SURVEY.md §1): a graph is just an edge DataFrame
``(src: string, dst: string, w: double)``; vertices are inferred from
edge endpoints (reference: ``util/DummyGraph.java:70-81``). All
operators are pure ``pyspark.sql`` — no RDDs, no Python row UDFs —
so Catalyst/AQE keep full visibility into the plan.

Reference parity anchors:
- undirected expansion  -> util/DummyGraph.java:113-125
- vertices-from-edges   -> util/DummyGraph.java:70-81
- degrees (out+in)      -> util/DummyGraph.java:497-532
- skew detection        -> splitUtils/SplitVertex.java:30-44
- canonical orientation -> example/GSATriangleCount.java:33-44
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def sql_identifier(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, inner backticks
    doubled, so dots, spaces and backticks in a column name stay part of it."""
    return "`" + name.replace("`", "``") + "`"


def _normalized(edges: DataFrame, weighted: bool) -> DataFrame:
    # one selectExpr and one where: a handful of JVM calls, where every
    # Column-API call (F.col, cast, alias, &) is a round trip of its own
    c = [sql_identifier(n) for n in edges.columns]
    exprs = [f"CAST({c[0]} AS STRING) AS src", f"CAST({c[1]} AS STRING) AS dst"]
    if weighted:
        exprs.append(f"CAST({c[2]} AS DOUBLE) AS w" if len(c) > 2 else "1.0D AS w")
    return edges.selectExpr(*exprs).where("src IS NOT NULL AND dst IS NOT NULL")


def normalize_edges(edges: DataFrame) -> DataFrame:
    """Coerce an edge DataFrame to the canonical (src, dst, w) schema.

    The first two columns are the endpoints and the third, if any, the
    weight, whatever their names. Ids become strings (reference keys are
    always String, SURVEY §1.2); a missing weight column defaults to 1.0.
    An edge with a null endpoint is dropped: it names no vertex, and
    dropping it here is what makes every strategy rung agree on it.
    """
    return _normalized(edges, True)


def normalize_endpoints(edges: DataFrame) -> DataFrame:
    """``normalize_edges`` without the weight: (src, dst) only, the rows
    the single-task rungs stream (none of their kernels reads ``w``)."""
    return _normalized(edges, False)


def undirected(edges: DataFrame) -> DataFrame:
    """Expand each edge into both orientations (no dedup).

    Mirrors Gelly ``getUndirected()`` / DummyGraph.java:113-125: every
    algorithm in the engine runs over this expanded set, so a single
    ``groupBy('src')`` is the undirected degree.
    """
    rev = edges.selectExpr("dst AS src", "src AS dst", "w")
    return edges.select("src", "dst", "w").unionByName(rev)


def vertices(edges: DataFrame) -> DataFrame:
    """Distinct endpoint ids, one column ``id``."""
    return edges.selectExpr("src AS id").unionByName(edges.selectExpr("dst AS id")).distinct()


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected degree per vertex: (id, degree).

    ``edges`` is the *directed* edge set; degree = out + in, exactly
    DummyGraph.java:497-532 (union of per-side counts, summed). One
    shuffle; map-side partial aggregation bounds the hub key's reduce
    fan-in at #partitions, so this is safe at any skew.
    """
    und = undirected(edges)
    return und.groupBy(F.expr("src AS id")).agg(F.expr("CAST(count(*) AS BIGINT) AS degree"))


def skewed_vertices(degree_df: DataFrame, threshold: int) -> DataFrame:
    """Ids with degree > threshold (SplitVertex.java:30-44). Small by
    construction (power-law tail), so always broadcastable."""
    return degree_df.filter(F.col("degree") > threshold).select("id")


def canonical_edges(edges: DataFrame) -> DataFrame:
    """Orient each edge (lo, hi) by id and dedup — the undirected
    *simple* edge set (GSATriangleCount.java:33-44 uses numeric order;
    we use lexicographic, consistent across engine and oracle)."""
    return (
        edges.selectExpr("least(src, dst) AS src", "greatest(src, dst) AS dst")
        .where("src != dst")
        .distinct()
    )


def from_pairs(spark, pairs, weights=None) -> DataFrame:
    """Build an edge DataFrame from [(src, dst)] or [(src, dst, w)]."""
    rows = []
    for i, p in enumerate(pairs):
        if len(p) == 3:
            rows.append((str(p[0]), str(p[1]), float(p[2])))
        else:
            w = 1.0 if weights is None else float(weights[i])
            rows.append((str(p[0]), str(p[1]), w))
    return spark.createDataFrame(rows, "src string, dst string, w double")


def triplets(edges: DataFrame, vertex_values: DataFrame, id_col: str = "id") -> DataFrame:
    """Edge ⋈ src-vertex value ⋈ dst-vertex value (util/DummyGraph.java:471-490).

    ``vertex_values`` is (id, <value cols…>); every value column comes back
    twice, prefixed ``src_`` / ``dst_``. Two shuffle joins on uniform keys —
    on a split graph, join against the sub-vertex table instead so the hub
    key never concentrates (the iterative algorithms inline exactly that).
    """
    vals = [c for c in vertex_values.columns if c != id_col]
    sv = vertex_values.select(
        F.col(id_col).alias("src"), *[F.col(c).alias(f"src_{c}") for c in vals]
    )
    dv = vertex_values.select(
        F.col(id_col).alias("dst"), *[F.col(c).alias(f"dst_{c}") for c in vals]
    )
    return edges.join(sv, "src").join(dv, "dst").select(
        "src", "dst", *(["w"] if "w" in edges.columns else []),
        *[f"src_{c}" for c in vals], *[f"dst_{c}" for c in vals],
    )
