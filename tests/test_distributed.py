"""The distributed rungs (``gelly_partitioning_spark.distributed``):
broadcast-state and salted Split-Merge give the same answer, a prepared
graph gives the fresh answer on the same rung, PageRank's hash-collision
fallbacks give the long-id answer, a graph without vertices answers with
no rows, and the runner fingerprints keep their exact form, so existing
checkpoint dirs resume."""

import dataclasses
import importlib

import pytest
from pyspark.sql import functions as F

from gelly_partitioning_spark import (
    connected_components,
    degree_count,
    from_pairs,
    jaccard,
    label_propagation,
    normalize_edges,
    pagerank,
    split_graph,
    triangle_count,
)
from gelly_partitioning_spark.encoding import IdCollisionError, encode_split_graph
from gelly_partitioning_spark.sources import save_prepared_graph
from gelly_partitioning_spark.superstep import SuperstepRunner

dist = importlib.import_module("gelly_partitioning_spark.distributed")
# the package re-exports the function under the module name
prmod = importlib.import_module("gelly_partitioning_spark.algorithms.pagerank")

DUPS_SELF_LOOPS = [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1), (3, 3), (2, 3), (3, 4), (4, 4)]


@pytest.fixture
def calls(monkeypatch):
    """``calls(module, name)`` counts the calls of ``module.name``."""

    def spy(module, name):
        seen, orig = [], getattr(module, name)
        monkeypatch.setattr(
            module, name, lambda *a, **k: seen.append(1) or orig(*a, **k)
        )
        return seen

    return spy


def _ranks(g, **kw):
    return {
        r["id"]: r["rank"]
        for r in pagerank(
            g, fixed_iterations=10, threshold=2, single_task_budget_bytes=0, **kw
        ).collect()
    }


def _assert_ranks_equal(got, want):
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, v


@pytest.mark.parametrize("graph", ["community_graph", "hub_graph", "dups_self_loops"])
def test_lp_broadcast_equals_salted(spark, request, calls, graph):
    if graph == "dups_self_loops":
        g = from_pairs(spark, DUPS_SELF_LOOPS).cache()
    else:
        g = request.getfixturevalue(graph)
    broadcast, salted = calls(dist, "broadcast_table"), calls(dist, "salted_table")

    def run(**kw):
        return {
            r["id"]: r["label"] for r in label_propagation(g, threshold=2, **kw).collect()
        }

    fast = run()
    assert (len(broadcast), len(salted)) == (1, 0)
    split = run(broadcast_threshold_vertices=0)
    assert (len(broadcast), len(salted)) == (1, 1)
    assert fast == split


def test_pagerank_tag_collision_runs_broadcast_on_strings(
    spark, hub_graph, monkeypatch, calls
):
    want = _ranks(hub_graph)
    vertex_table = dist.vertex_table

    def colliding(edges, check_hashes=False):
        assert check_hashes
        return dataclasses.replace(vertex_table(edges, check_hashes), injective=False)

    monkeypatch.setattr(dist, "vertex_table", colliding)
    broadcast, decoded = calls(dist, "broadcast_table"), calls(prmod, "decode")
    got = _ranks(hub_graph)
    assert len(broadcast) == 1 and not decoded  # broadcast rung, string ids
    _assert_ranks_equal(got, want)


def test_pagerank_subvertex_collision_runs_salted_on_strings(
    spark, hub_graph, monkeypatch, calls
):
    want = _ranks(hub_graph, broadcast_threshold_vertices=0)
    encoded = []

    def collide(sg):
        encoded.append(1)
        raise IdCollisionError("forced")

    monkeypatch.setattr(dist, "encode_split_graph", collide)
    salted, decoded = calls(dist, "salted_table"), calls(prmod, "decode")
    got = _ranks(hub_graph, broadcast_threshold_vertices=0)
    assert encoded and len(salted) == 1 and not decoded  # salted rung, string ids
    _assert_ranks_equal(got, want)


FINGERPRINTS = {
    "pagerank": "pagerank:v2:damping=0.85:tol=1e-06:fixed=2:split=True:"
    "threshold=2:alpha=2:level=4:mode=flat",
    "cc": "connected_components:v2:split=True:threshold=2:alpha=2:level=4:"
    "mode=flat:numeric=False",
    "lp": "label_propagation:v3:delta=0.5:split=True:threshold=6:alpha=2:level=4:"
    "mode=flat",
}
# with a checkpoint_dir: the identity of the static table the loop reads
# on hub_graph (22 edges, 21 vertices): 44 routing rows, plus 21 self rows
# on PageRank's and CC's broadcast tables; keyed (algo, salted)
DATA = {
    ("pagerank", False): "n=65:xor=-4280976647818350934",
    ("pagerank", True): "n=44:xor=2749496726155118998",
    ("cc", False): "n=65:xor=3458690282137241552",
    ("cc", True): "n=44:xor=-3327503870854655416",
    ("lp", False): "n=44:xor=6549337217413331859",
    ("lp", True): "n=44:xor=7425490428459558081",
}
RUNS = {
    "pagerank": lambda g, **kw: pagerank(
        g, fixed_iterations=2, single_task_budget_bytes=0, **kw
    ),
    "cc": lambda g, **kw: connected_components(
        g, max_iterations=2, single_task_budget_bytes=0, **kw
    ),
    "lp": lambda g, **kw: label_propagation(g, max_iterations=2, **kw),
}


@pytest.mark.parametrize("salted", [False, True])
@pytest.mark.parametrize("algo", list(RUNS))
def test_fingerprint_unchanged(spark, hub_graph, tmp_path, algo, salted):
    kw = {"broadcast_threshold_vertices": 0} if salted else {}
    runner = SuperstepRunner(spark)
    RUNS[algo](hub_graph, runner=runner, **kw).collect()
    assert runner.fingerprint == FINGERPRINTS[algo]

    runner = SuperstepRunner(spark, checkpoint_dir=str(tmp_path))
    RUNS[algo](hub_graph, runner=runner, **kw).collect()
    assert runner.fingerprint == f"{FINGERPRINTS[algo]}:data[{DATA[algo, salted]}]"


# -- a prepared graph is a second source for the same rungs --------------------

SPLIT = {"threshold": 2, "alpha": 2, "level": 4}


@pytest.fixture(scope="module")
def layouts(spark, hub_graph, tmp_path_factory):
    """hub_graph persisted long-encoded and as strings."""
    return {
        long_ids: save_prepared_graph(
            hub_graph,
            name=f"dist_{'long' if long_ids else 'str'}",
            base_path=str(tmp_path_factory.mktemp("layout")),
            buckets=4,
            use_long_ids=long_ids,
            **SPLIT,
        )
        for long_ids in (True, False)
    }


SOURCES = {
    "pagerank-long": (True, lambda g, **kw: {
        r["id"]: r["rank"] for r in pagerank(
            g, fixed_iterations=10, single_task_budget_bytes=0, **SPLIT, **kw
        ).collect()
    }),
    "pagerank-string": (False, lambda g, **kw: {
        r["id"]: r["rank"] for r in pagerank(
            g, fixed_iterations=10, single_task_budget_bytes=0, use_long_ids=False,
            **SPLIT, **kw,
        ).collect()
    }),
    "cc": (False, lambda g, **kw: {
        r["id"]: r["component"] for r in connected_components(
            g, single_task_budget_bytes=0, **SPLIT, **kw
        ).collect()
    }),
    "lp": (False, lambda g, **kw: {
        r["id"]: r["label"]
        for r in label_propagation(g, max_iterations=8, **SPLIT, **kw).collect()
    }),
}


@pytest.mark.parametrize("salted", [False, True])
@pytest.mark.parametrize("algo", list(SOURCES))
def test_prepared_equals_fresh_on_each_rung(spark, hub_graph, layouts, calls, algo, salted):
    long_ids, run = SOURCES[algo]
    kw = {"broadcast_threshold_vertices": 0} if salted else {}
    broadcast, tables = calls(dist, "broadcast_table"), calls(dist, "salted_tables")
    want = run(hub_graph, **kw)
    got = run(None, prepared=layouts[long_ids], **kw)
    rung = (0, 2) if salted else (2, 0)
    assert (len(broadcast), len(tables)) == rung
    if algo.startswith("pagerank"):
        _assert_ranks_equal(got, want)
    else:
        assert got == want


@pytest.mark.parametrize("long_ids", [True, False])
def test_layout_vertex_table_counts_routing_rows(spark, layouts, long_ids):
    pg = layouts[long_ids]
    vt = dist.vertex_table(pg)
    assert vt.e_rows == pg.edges.count()
    assert vt.n == 21


@pytest.mark.parametrize("long_ids", [True, False])
def test_saved_layout_rows_unchanged(spark, hub_graph, layouts, long_ids):
    """The stored tables equal the layout built the way the store built
    it before it shared ``distributed.salted_layout``: split, encode, and
    degrees counted from the routing rows."""
    sg = split_graph(normalize_edges(hub_graph), **SPLIT)
    if long_ids:
        eg = encode_split_graph(sg)
        sub, e = eg.vertices, eg.edges
    else:
        sub, e = sg.vertices, sg.edges.select("src", "dst_tag", "w")
    deg = e.groupBy(F.col("dst_tag").alias("t")).agg(F.count("*").cast("double").alias("deg"))
    sub_deg = sub.join(deg, sub["tag"] == deg["t"]).select(F.col("id").alias("src"), "tag", "deg")
    pg = layouts[long_ids]
    for stored, built in [(pg.edges, e), (pg.sub_deg, sub_deg)]:
        built = built.select(*stored.columns)
        assert stored.exceptAll(built).count() == 0
        assert built.exceptAll(stored).count() == 0


# -- a graph without vertices --------------------------------------------------

NO_VERTICES = {
    "empty": [],
    "all_null": [("1", None), (None, "2"), (None, None)],
}
ON_NO_VERTICES = {
    "pagerank": lambda g: pagerank(g, fixed_iterations=3).collect(),
    "cc": lambda g: connected_components(g).collect(),
    "lp": lambda g: label_propagation(g, max_iterations=3).collect(),
    "degree": lambda g: degree_count(g).collect(),
    "triangle": lambda g: triangle_count(g).first()["triangles"],
    "jaccard": lambda g: jaccard(g).collect(),
}


@pytest.mark.parametrize("graph", list(NO_VERTICES))
@pytest.mark.parametrize("algo", list(ON_NO_VERTICES))
def test_no_vertices_no_rows(spark, algo, graph):
    g = spark.createDataFrame(NO_VERTICES[graph], "src string, dst string")
    assert ON_NO_VERTICES[algo](g) == (0 if algo == "triangle" else [])
