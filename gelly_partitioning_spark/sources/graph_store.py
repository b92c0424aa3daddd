"""Persisted, bucketed split-graph layout — the restart path.

At 10^11 edges every cold start of an iterative job pays one full
exchange to hash-partition the routing edges by the scatter-join key
(``repartition(src)`` in ``distributed.salted_table``) before the
superstep loop can keep the edge side partition-stationary. The
reference re-reads its CSV and re-splits on every run
(AlphaNodeSplitting.java:256-273 — no counterpart); this module removes
the cost for *our* restarts:

- ``save_prepared_graph`` runs the split ONCE, the same
  ``distributed.salted_layout`` a fresh salted run builds on the same
  long vids, and writes the routing table as a Spark **bucketed table**
  (``bucketBy(n, 'src')`` + ``sortBy('src')``): the on-disk layout IS the
  hash partitioning the scatter join needs. The per-sub-vertex
  (src, tag, deg) attachment table is bucketed the same way, and the
  (vid, tag, degree) vertex table that minted the vids is stored beside
  them: a restart keys on it and decodes through it.
- ``load_prepared_graph`` reopens the tables; a bucketed scan reports
  ``HashPartitioning(src, n)`` so the scatter join's edge side needs **no
  Exchange at all** — Spark shuffles only the (vertex-sized) rank side to
  the bucket count. Asserted in tests/test_graph_store.py against the
  physical plan.

A prepared graph takes the same vertex table and rung decision as a
fresh one (``distributed``): the salted rung reads these tables, the
broadcast rung builds its table from them.

Bucket count guidance at scale: ~2-4x the executor count, and stable
across restarts (the layout is the contract). The tables are plain
parquet + metastore bucketing metadata — Iceberg's ``bucket(n, src)``
partition transform is the same layout for a real lakehouse deployment.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .. import distributed
from ..graph import normalize_edges
from ..superstep import release_checkpoint


@dataclass
class PreparedGraph:
    """Handle over the persisted layout.

    edges:    (src, dst_tag, w) routing table, bucketed by src — the
              scatter side (consumers project the columns they need; a
              projection preserves the bucketed partitioning). A salted
              run caches its projection; the bucketed partitioning
              survives the cache (InMemoryRelation keeps child
              partitioning).
    sub_deg:  (src, tag, deg) one row per sub-vertex, bucketed by src.
    vertices: (vid, tag, degree) the vertex table the layout was split
              on; ``src`` is a sub-vertex id, ``tag`` and ``dst_tag`` vids.
    """

    edges: DataFrame
    sub_deg: DataFrame
    vertices: DataFrame
    name: str


def _table(name: str, suffix: str) -> str:
    return f"{name}_{suffix}"


def save_prepared_graph(
    edges: DataFrame,
    name: str,
    base_path: str,
    threshold: int | None = 1000,
    alpha: int = 2,
    level: int = 8,
    buckets: int = 32,
    use_long_ids: bool = True,
) -> PreparedGraph:
    """Split ``edges`` once; persist the bucketed layout and its vertex
    table, replacing every table a layout of the same name had.

    The split fan-out and threshold are baked into the layout — a restart
    reuses both (changing them means re-preparing, exactly like
    re-bucketing a table). ``use_long_ids`` is accepted and ignored: a
    layout is always keyed on the vertex table's long ids.
    """
    spark = edges.sparkSession
    edges = normalize_edges(edges)
    vt = distributed.vertex_table(edges)
    e, sub_deg = distributed.salted_layout(
        edges, vt, True, threshold, alpha, level, with_deg=True
    )

    def write(df: DataFrame, suffix: str, bucketed: bool = True) -> None:
        tbl = _table(name, suffix)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        w = df.write.mode("overwrite")
        if bucketed:
            w = w.bucketBy(buckets, "src").sortBy("src")
        w.option("path", f"{base_path}/{suffix}").format("parquet").saveAsTable(tbl)

    write(e, "edges")
    write(sub_deg, "subdeg")
    write(vt.degrees, "vertices", bucketed=False)
    release_checkpoint(vt.degrees)
    return load_prepared_graph(spark, name)


def load_prepared_graph(spark: SparkSession, name: str) -> PreparedGraph:
    """Reopen a persisted layout by name (same metastore/warehouse)."""
    if not spark.catalog.tableExists(_table(name, "vertices")):
        raise ValueError(
            f"prepared layout {name!r} has no vertex table (an older format "
            "keyed on hashed or string ids): re-save it with save_prepared_graph"
        )
    return PreparedGraph(
        edges=spark.table(_table(name, "edges")),
        sub_deg=spark.table(_table(name, "subdeg")),
        vertices=spark.table(_table(name, "vertices")),
        name=name,
    )
