"""Persisted, bucketed split-graph layout — the restart path.

At 10^11 edges every cold start of an iterative job pays one full
exchange to hash-partition the routing edges by the scatter-join key
(``repartition(src)`` in ``distributed.salted_table``) before the
superstep loop can keep the edge side partition-stationary. The
reference re-reads its CSV and re-splits on every run
(AlphaNodeSplitting.java:256-273 — no counterpart); this module removes
the cost for *our* restarts:

- ``save_prepared_graph`` runs split + (optional) long-id encoding ONCE,
  the same ``distributed.salted_layout`` a fresh salted run builds, and
  writes the routing table as a Spark **bucketed table**
  (``bucketBy(n, 'src')`` + ``sortBy('src')``): the on-disk layout IS the
  hash partitioning the scatter join needs. The per-sub-vertex
  (src, tag, deg) attachment table is bucketed the same way.
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
    tag_dict: (tag, id) decode dictionary when long-encoded, else None.
    """

    edges: DataFrame
    sub_deg: DataFrame
    tag_dict: DataFrame | None
    name: str

    def degrees(self) -> DataFrame:
        """(tag, deg) per original vertex — one row per tag."""
        return self.sub_deg.select("tag", "deg").distinct()


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
    """Split + encode ``edges`` once; persist the bucketed layout.

    The split fan-out, threshold and encoding are baked into the layout —
    a restart reuses all three (changing them means re-preparing, exactly
    like re-bucketing a table).
    """
    spark = edges.sparkSession
    edges = normalize_edges(edges)
    vt = distributed.vertex_table(edges)
    e, sub_deg, tag_dict = distributed.salted_layout(
        edges, vt, True, threshold, alpha, level, encode=use_long_ids, with_deg=True
    )

    def write_bucketed(df: DataFrame, suffix: str) -> None:
        tbl = _table(name, suffix)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.mode("overwrite")
            .bucketBy(buckets, "src")
            .sortBy("src")
            .option("path", f"{base_path}/{suffix}")
            .format("parquet")
            .saveAsTable(tbl)
        )

    write_bucketed(e, "edges")
    write_bucketed(sub_deg, "subdeg")
    tbl = _table(name, "tags")
    # ALWAYS drop the old tags table first: re-preparing the same name as a
    # string layout (use_long_ids=False, or after an IdCollisionError
    # fallback) over a previously long-encoded layout must not leave a
    # stale dictionary behind — load_prepared_graph would hand consumers a
    # long-keyed tag_dict against string tags (silent empty/wrong joins)
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if tag_dict is not None:
        tag_dict.write.mode("overwrite").option("path", f"{base_path}/tags").format(
            "parquet"
        ).saveAsTable(tbl)
    else:
        import shutil

        shutil.rmtree(f"{base_path}/tags", ignore_errors=True)
    release_checkpoint(vt.degrees)
    return load_prepared_graph(spark, name)


def load_prepared_graph(spark: SparkSession, name: str) -> PreparedGraph:
    """Reopen a persisted layout by name (same metastore/warehouse)."""
    edges = spark.table(_table(name, "edges"))
    sub_deg = spark.table(_table(name, "subdeg"))
    try:
        tag_dict = spark.table(_table(name, "tags"))
    except Exception:
        tag_dict = None
    return PreparedGraph(edges=edges, sub_deg=sub_deg, tag_dict=tag_dict, name=name)
