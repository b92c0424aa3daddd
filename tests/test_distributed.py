"""The distributed rungs (``gelly_partitioning_spark.distributed``):
broadcast-state and salted Split-Merge give the same answer, PageRank's
hash-collision fallbacks give the long-id answer, and the runner
fingerprints keep their exact form, so existing checkpoint dirs resume."""

import dataclasses
import importlib

import pytest

from gelly_partitioning_spark import (
    connected_components,
    from_pairs,
    label_propagation,
    pagerank,
)
from gelly_partitioning_spark.encoding import IdCollisionError
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

    monkeypatch.setattr(prmod, "encode_split_graph", collide)
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
