"""Physical-plan regression tests (explain-only, except the salted
superstep guard, which runs the two-superstep call it inspects).

Locks in the plan properties the engine promises at scale:
- parquet scans are column-pruned (ReadSchema ⊆ needed columns)
- the skew-fanout attachment joins are broadcast
- iterative scatter joins are shuffle-hash (no per-superstep edge sort),
  and the salted routing rows never exchange inside the loop
- no cartesian product outside explicitly-quadratic operators
"""

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from gelly_partitioning_spark import connected_components, pagerank


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_parquet_scan_pruned(spark):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    q = li.select("l_partkey", "l_suppkey").distinct()
    p = plan_of(q)
    assert "l_partkey" in p and "ReadSchema" in p
    scan_line = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" not in scan_line
    assert "l_quantity" not in scan_line


def test_split_uses_broadcast(spark, hub_graph):
    from gelly_partitioning_spark import split_graph

    sg = split_graph(hub_graph, threshold=2, alpha=2, level=4)
    p = plan_of(sg.edges)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_vid_routing_uses_broadcast(spark, hub_graph):
    """The long-id split maps both endpoints to vids through the
    broadcast vertex table: the 2|E| side is not shuffled to build it."""
    from gelly_partitioning_spark import distributed, normalize_edges

    g = normalize_edges(hub_graph)
    e, _ = distributed.salted_layout(
        g, distributed.vertex_table(g), True, 2, 2, 4
    )
    p = plan_of(e)
    joins = [n for n in re.findall(r"^\(\d+\) (\w+)", p, re.M) if n.endswith("Join")]
    assert joins == ["BroadcastHashJoin"] * 2, p


def test_triangle_no_cartesian(spark, tri_graph):
    from gelly_partitioning_spark import triangle_count

    p = plan_of(triangle_count(tri_graph))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_jaccard_no_cartesian(spark, jaccard_graph):
    from gelly_partitioning_spark import jaccard

    p = plan_of(jaccard(jaccard_graph))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_gated_cosine_topk_is_blocked_no_cartesian(spark):
    """The driver-gated cosine_topk row runs the blocked grid cogroup
    (VERDICT r3 #1) — the quadratic 'sql' flavor is test/oracle-only."""
    import __spark_entry__ as entry

    q = entry.queries()["cosine_topk"](spark, "/root/testdata/sf0.001")
    p = plan_of(q)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "FlatMapCoGroupsInPandas" in p


def test_corpus_extraction_prunes_content_after_sha(spark):
    """content feeds sha2 inside the scan stage and is dropped from the
    shuffle: no Exchange should carry the content column."""
    from gelly_partitioning_spark.sources import extract_edges, synthesize_repo_files

    rf = synthesize_repo_files(spark, n_files=100, n_repos=10, n_paths=10)
    e = extract_edges(rf)
    p = plan_of(e)
    # the sha2 projection happens below the exchange: the Exchange operator's
    # input attributes must not include the raw content column
    exchange = [seg for seg in p.split("(") if seg.startswith("Exchange") or "Exchange " in seg[:40]]
    for seg in exchange:
        assert "content#" not in seg.splitlines()[0]
    assert e.columns == ["src", "dst", "w", "n_rows"]


def test_jaccard_wedges_are_degree_oriented(spark, jaccard_graph):
    """The common-neighbor count must enumerate wedges from the oriented
    (lo→hi by degree) adjacency — bounded by degeneracy², never hub² —
    i.e. the plan self-joins the oriented edge set on `lo`, not the raw
    undirected set on a neighbor column."""
    from gelly_partitioning_spark.algorithms.jaccard import (
        edge_common_neighbors,
    )
    from gelly_partitioning_spark.graph import canonical_edges

    canon = canonical_edges(jaccard_graph).select("src", "dst")
    p = plan_of(edge_common_neighbors(canon))
    # the oriented self-join key is the `lo` endpoint
    assert "lo#" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


SALTED_SUPERSTEP = {
    "pagerank": lambda g: pagerank(
        g, fixed_iterations=2, threshold=2, broadcast_threshold_vertices=0
    ).collect(),
    "cc": lambda g: connected_components(
        g, max_iterations=2, threshold=2, broadcast_threshold_vertices=0
    ).collect(),
}


@pytest.mark.parametrize("algo", list(SALTED_SUPERSTEP))
def test_salted_superstep_keeps_routing_rows_in_place(spark, hub_graph, monkeypatch, algo):
    """Superstep 1 of a salted run: the routing table's checkpoint keeps
    HashPartitioning(src), so its scan feeds the scatter join with no
    Exchange; only vertex-sized sides shuffle. Five exchanges and three
    joins per superstep (the routing-row exchange is the one a checkpoint
    that lost its partitioning would add)."""
    from gelly_partitioning_spark.superstep import SuperstepRunner

    plans, run = [], SuperstepRunner.run

    def first_step(self, state, step, *a, **k):
        plans.append(plan_of(step(state, 1)))
        return run(self, state, step, *a, **k)

    monkeypatch.setattr(SuperstepRunner, "run", first_step)
    SALTED_SUPERSTEP[algo](hub_graph)
    p = plans[0]
    nodes = re.findall(r"^\(\d+\) (\w+)", p, re.M)
    assert nodes.count("Exchange") == 5, p
    assert sum(n.endswith("Join") for n in nodes) == 3, p
    routing = re.search(
        r"Scan ExistingRDD\nOutput \[\d+\]: \[(src#\d+L), dst_tag#\d+L\]", p
    ).group(1)
    # the scan's own partitioning is the only hash partitioning on that key
    assert p.count(f"hashpartitioning({routing},") == 1, p
