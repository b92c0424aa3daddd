"""Split-Merge kernel invariants (SplitVertex.java semantics)."""

import pytest
from pyspark.sql import functions as F

from gelly_partitioning_spark import degree_count, from_pairs, normalize_edges, split_graph
from gelly_partitioning_spark import distributed as dist
from gelly_partitioning_spark.splitting import SEP
from gelly_partitioning_spark.superstep import release_checkpoint

from .conftest import HUB_DEGREES


def test_split_preserves_edge_count(hub_graph):
    sg = split_graph(hub_graph, threshold=2, alpha=2, level=4)
    # undirected expansion doubles the 22 edges; splitting only renames
    assert sg.edges.count() == 44


def test_split_tags_recover_originals(hub_graph):
    sg = split_graph(hub_graph, threshold=2, alpha=2, level=4)
    tags = {r["tag"] for r in sg.tags().collect()}
    assert tags == {str(i) for i in range(1, 22)}


def test_hub_actually_splits(hub_graph):
    sg = split_graph(hub_graph, threshold=2, alpha=2, level=4)
    subs5 = [r["id"] for r in sg.vertices.filter(F.col("tag") == "5").collect()]
    assert len(subs5) > 1  # degree-18 hub must fan out
    assert all(s == "5" or s.startswith("5" + SEP) for s in subs5)
    # fan-out bounded by alpha^level
    assert len(subs5) <= 16


def test_unsplit_degree_bounded(hub_graph):
    """Post-split, every sub-vertex's routing degree ≲ threshold-sized
    buckets: max group ≤ ceil(18/9)+slack under hash balance (loose)."""
    sg = split_graph(hub_graph, threshold=2, alpha=2, level=4)
    per_sub = (
        sg.edges.groupBy("src").count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    assert per_sub <= 8  # unsplit hub would be 18


def test_degree_count_split_matches_golden_flat(hub_graph):
    got = {r["id"]: r["degree"] for r in degree_count(hub_graph, split=True).collect()}
    assert got == HUB_DEGREES


def test_degree_count_split_matches_golden_tree(hub_graph):
    got = {
        r["id"]: r["degree"]
        for r in degree_count(hub_graph, split=True, mode="tree").collect()
    }
    assert got == HUB_DEGREES


def test_degree_count_plain_matches_golden(hub_graph):
    got = {r["id"]: r["degree"] for r in degree_count(hub_graph, split=False).collect()}
    assert got == HUB_DEGREES


def test_auto_threshold_from_avg_degree(hub_graph):
    """threshold=None derives xMin = ceil(avg degree) (reference
    AlphaNodeSplitting.java:82-102) — the degree-18 hub must still split,
    and degree_count must stay golden (split never changes answers)."""
    sg = split_graph(hub_graph, threshold=None, alpha=2, level=4)
    # avg undirected degree = 44/21 ≈ 2.1 → xMin 3; hub (18) splits
    assert sg.threshold >= 2
    subs5 = [r["id"] for r in sg.vertices.filter(F.col("tag") == "5").collect()]
    assert len(subs5) > 1
    got = {
        r["id"]: r["degree"]
        for r in degree_count(hub_graph, split=True, threshold=None).collect()
    }
    assert got == HUB_DEGREES


def test_split_rejects_id_with_separator(spark):
    """A to-be-split vertex id containing the string split's reserved
    separator must be rejected (its sub-vertex ids would be ambiguous)."""
    import pytest
    from gelly_partitioning_spark import from_pairs

    bad = from_pairs(
        spark, [("x" + SEP + "0", str(i)) for i in range(6)] + [("a", "b")]
    )
    sg = split_graph(bad, threshold=2, alpha=2, level=4)
    with pytest.raises(Exception, match="reserved separator"):
        sg.edges.count()


@pytest.mark.parametrize("form", ["long"])
def test_tree_split_jobs_grow_linearly(spark, form):
    # each tree level reads the previous level's checkpoint, so every
    # level adds the same jobs; over the lazily grown plan each level
    # re-ran all the ones before it (20, 37, 70 jobs at levels 2-4)
    g = normalize_edges(from_pairs(spark, [("hub", f"leaf{i}") for i in range(20)])).cache()
    g.count()
    vt = dist.vertex_table(g)
    sc = spark.sparkContext

    def jobs(level):
        group = f"tree-split-{form}-{level}"
        sc.setJobGroup(group, group)
        try:
            e, subs = dist.salted_layout(g, vt, True, 1, 2, level, "tree")
            subs.count()
            e.count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    # threshold 1: every level up to 4 still splits some sub-vertex
    two, three, four = map(jobs, (2, 3, 4))
    assert four - three == three - two > 0


@pytest.mark.parametrize("mode", ["flat", "tree"])
def test_salted_tables_leave_only_their_tables(spark, mode):
    # the tree split's level checkpoints are released or handed over: a
    # call leaves persisted exactly the two tables it returns
    g = normalize_edges(from_pairs(spark, [("hub", f"leaf{i}") for i in range(20)])).cache()
    g.count()
    vt = dist.vertex_table(g)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())  # ids: earlier tests' RDDs may be cleaned meanwhile
    routing, subs = dist.salted_tables(g, vt, ("src", "dst_tag"), True, 1, 2, 3, mode)
    assert len(set(persisted().keySet()) - before) == 2
    assert subs.count() > vt.n  # the hub split
    for df in (routing, subs):
        release_checkpoint(df)
    assert set(persisted().keySet()) - before == set()


def test_salted_tables_never_write_the_session_conf(spark, monkeypatch):
    # the routing table is planned without AQE in a cloned session: a
    # thread sharing the caller's session never sees a setting flip
    from pyspark.sql.conf import RuntimeConfig

    g = normalize_edges(from_pairs(spark, [("hub", f"leaf{i}") for i in range(20)]))
    vt = dist.vertex_table(g)
    writes, orig = [], RuntimeConfig.set
    monkeypatch.setattr(RuntimeConfig, "set", lambda self, *a: writes.append(a) or orig(self, *a))
    tables = dist.salted_tables(g, vt, ("src", "dst_tag"), True, 1, 2, 3, "flat")
    assert writes == []
    for df in tables:
        release_checkpoint(df)
