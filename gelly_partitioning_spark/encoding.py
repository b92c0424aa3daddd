"""xxhash64 long-id encoding of a string split graph, with a checked
precondition.

The engine no longer calls this module: its distributed rungs key on the
long ``vid`` the vertex table mints, unique and order-preserving by
construction (``distributed``), so there is no hash to check. It stays
for the benchmark's traced layer probe (``perfbench/run.py``), which
times ``encode_split_graph`` on the corpus graph, until that probe
measures the id mint instead.

Collision policy: xxhash64 over |V| distinct ids collides with probability
~|V|^2 / 2^65 (≈4e-8 at 1.2M, ≈2.7% at 1e9). ``encode_split_graph``
VERIFIES injectivity with one distinct-count job and raises
``IdCollisionError`` if a collision exists.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .splitting import SplitGraph


class IdCollisionError(RuntimeError):
    pass


@dataclass
class EncodedGraph:
    """Long-keyed split graph + tag dictionary.

    edges:    (src: long, dst_tag: long, w: double)
    vertices: (id: long, tag: long)
    tag_dict: (tag: long, tag_str: string) — for decoding results
    """

    edges: DataFrame
    vertices: DataFrame
    tag_dict: DataFrame


def encode_split_graph(sg: SplitGraph, check: bool = True) -> EncodedGraph:
    edges = sg.edges.select(
        F.xxhash64("src").alias("src"),
        F.xxhash64("dst_tag").alias("dst_tag"),
        "w",
    )
    vertices = sg.vertices.select(
        F.xxhash64("id").alias("id"), F.xxhash64("tag").alias("tag")
    )
    tag_dict = (
        sg.vertices.select("tag")
        .distinct()
        .select(F.xxhash64("tag").alias("tag"), F.col("tag").alias("tag_str"))
        .localCheckpoint(eager=False)
    )
    if check:
        counts = sg.vertices.agg(
            F.countDistinct("id").alias("ids"),
            F.countDistinct(F.xxhash64("id")).alias("hids"),
            F.countDistinct("tag").alias("tags"),
            F.countDistinct(F.xxhash64("tag")).alias("htags"),
        ).collect()[0]
        if counts["ids"] != counts["hids"] or counts["tags"] != counts["htags"]:
            raise IdCollisionError(
                f"xxhash64 id collision: {counts} — use the string path"
            )
    return EncodedGraph(edges=edges, vertices=vertices, tag_dict=tag_dict)

