"""The distributed rungs (``gelly_partitioning_spark.distributed``):
broadcast-state and salted Split-Merge give the same answer, every rung
agrees on ids the string split reserves, sub-vertex ids are unique by
construction, a prepared graph gives the fresh answer on the same rung,
a graph without vertices answers with no rows, and the runner
fingerprints keep their exact form, so existing checkpoint dirs resume."""

import dataclasses
import importlib
import json
import warnings
from contextlib import contextmanager

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
    triangle_count,
)
from gelly_partitioning_spark import single_task
from gelly_partitioning_spark.sources import save_prepared_graph
from gelly_partitioning_spark.splitting import salt_bits
from gelly_partitioning_spark.superstep import SuperstepRunner

dist = importlib.import_module("gelly_partitioning_spark.distributed")

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


@contextmanager
def session_conf(spark, settings):
    """The session with ``settings`` set, restored on exit."""
    old = {k: spark.conf.get(k, None) for k in settings}
    for k, v in settings.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# four uncoalesced shuffle partitions: the vertex table's range sort
# spreads ~2,500 tags over several sampled bounds
FOUR_PARTS = {
    "spark.sql.shuffle.partitions": "4",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


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


# a star whose hub id contains '#', the string split's reserved separator;
# long sub-vertex ids never spell it, so every rung answers
STAR = [("hub#1", f"leaf{i}") for i in range(20)]
RUNGS = {
    "single-task": {},
    "broadcast": {"broadcast_threshold_vertices": 10**6},
    "salted-flat": {"broadcast_threshold_vertices": 0},
    "salted-tree": {"broadcast_threshold_vertices": 0, "mode": "tree"},
}
ON_STAR = {
    "pagerank": lambda g, **kw: {
        r["id"]: round(r["rank"], 12)
        for r in pagerank(g, fixed_iterations=10, threshold=4, **kw).collect()
    },
    "cc": lambda g, **kw: {
        r["id"]: r["component"]
        for r in connected_components(g, threshold=4, **kw).collect()
    },
    "lp": lambda g, **kw: {
        r["id"]: r["label"]
        for r in label_propagation(g, threshold=4, max_iterations=8, **kw).collect()
    },
}


@pytest.mark.parametrize("algo", list(ON_STAR))
def test_every_rung_agrees_on_separator_ids(spark, calls, algo):
    g = from_pairs(spark, STAR).cache()
    g.count()  # sized, so the single-task gate admits it
    tasks, salted = calls(single_task, "run_loop"), calls(dist, "salted_table")
    answers = {}
    for rung, kw in RUNGS.items():
        answers[rung] = ON_STAR[algo](g, **kw)
        assert len(answers[rung]) == 21
    # pagerank and cc took the single-task rung once, every salted run split
    assert (len(tasks), len(salted)) == (0 if algo == "lp" else 1, 2)
    assert all(a == answers["single-task"] for a in answers.values()), answers


# numeric, negative, unicode and separator ids around a hub that splits
ODD_IDS = ["-17", "-5", "0", "10", "9", "hub#1", "é", "ü-x", "a b", "007", "7"]


@pytest.mark.parametrize("mode", ["flat", "tree"])
def test_subvertex_ids_unique_by_construction(spark, mode):
    g = normalize_edges(
        from_pairs(spark, [("hub#1", v) for v in ODD_IDS if v != "hub#1"] + [("-5", "é")])
    )
    vt = dist.vertex_table(g)
    tags = [r["tag"] for r in vt.degrees.orderBy("vid").collect()]
    assert tags == sorted(ODD_IDS)  # vid order is tag (UTF-8 byte) order
    e, subs = dist.salted_layout(g, vt, True, 2, 2, 4, mode)
    b = salt_bits(2, 4)
    row = subs.agg(F.count("*").alias("n"), F.countDistinct("src").alias("d")).first()
    assert row["n"] == row["d"]
    assert subs.filter(F.shiftright("src", b) != F.col("tag")).count() == 0
    assert e.join(subs, "src", "left_anti").count() == 0  # every route has its sub-vertex
    hub = vt.degrees.filter(F.col("tag") == "hub#1").first()["vid"]
    assert subs.filter(F.col("tag") == hub).count() > 1  # the hub split

    too_big = dataclasses.replace(vt, n=1 << (64 - b))
    with pytest.raises(ValueError, match="do not fit a long"):
        dist.salted_layout(g, too_big, True, 2, 2, 4, mode)
    assert salt_bits(2, 4, (1 << (63 - b)) - 1) == b


@pytest.mark.parametrize("algo", list(ON_STAR))
def test_shuffled_vid_joins_answer_the_same(spark, hub_graph, algo):
    """A vertex table over the broadcast threshold maps endpoints to vids
    (and decodes) through shuffle joins, and the salted rung's routing
    rows are materialized before their repartition: same answers."""
    rungs = ("broadcast", "salted-flat")
    want = {r: ON_STAR[algo](hub_graph, **RUNGS[r]) for r in rungs}
    with session_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        vt = dist.vertex_table(normalize_edges(hub_graph))
        assert not dist._broadcasts(vt, vt.degrees)
        e, _ = dist.salted_layout(normalize_edges(hub_graph), vt, True, 4, 2, 4)
        assert "BroadcastHashJoin" not in e._jdf.queryExecution().executedPlan().toString()
        got = {r: ON_STAR[algo](hub_graph, **RUNGS[r]) for r in rungs}
    assert got == want


def _wide(spark):
    """~2,500 vertices: enough rows per partition that the range sort
    samples its bounds."""
    return normalize_edges(
        spark.range(3000).select(
            F.col("id").cast("string").alias("src"),
            (F.col("id") * 7919 % 2500).cast("string").alias("dst"),
        )
    )


def test_vids_are_tag_ranks_whatever_the_partitioning(spark):
    g, minted = _wide(spark), []
    for parts in ("4", "4", "3"):
        with session_conf(spark, {**FOUR_PARTS, "spark.sql.shuffle.partitions": parts}):
            vt = dist.vertex_table(g)
            assert vt.degrees.rdd.getNumPartitions() == int(parts)
            minted.append(sorted((r["tag"], r["vid"]) for r in vt.degrees.collect()))
    assert minted[0] == minted[1] == minted[2]
    assert [v for _, v in minted[0]] == list(range(vt.n))


def test_salted_checkpoint_dir_resumes(spark, tmp_path):
    """A fresh salted run's static tables are keyed on vids, which repeat
    from call to call, so a rerun on the same checkpoint_dir resumes:
    no fingerprint warning, and its snapshots continue the first run's."""
    g, ckpt = _wide(spark), str(tmp_path)
    kw = {"broadcast_threshold_vertices": 0, "single_task_budget_bytes": 0, "threshold": 4}
    with session_conf(spark, FOUR_PARTS):
        runner = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
        connected_components(g, max_iterations=1, runner=runner, **kw).collect()
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            runner = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
            connected_components(g, runner=runner, **kw).collect()
    with open(tmp_path / "manifests.jsonl") as f:
        steps = [json.loads(line)["superstep"] for line in f]
    assert steps[0] == 1 and len(steps) > 1 and steps == sorted(set(steps)), steps


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
# on PageRank's and CC's broadcast tables; keyed (algo, salted). The rows
# are keyed on vids (PageRank's and CC's salted routing tables are the
# same rows), so these follow the vid mint, not the answers
DATA = {
    ("pagerank", False): "n=65:xor=-3238393179978062438",
    ("pagerank", True): "n=44:xor=5673849640647824305",
    ("cc", False): "n=65:xor=-4018792107783590954",
    ("cc", True): "n=44:xor=5673849640647824305",
    ("lp", False): "n=44:xor=-2606974690809017527",
    ("lp", True): "n=44:xor=4536882908118043308",
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
    """hub_graph persisted with ``use_long_ids`` on and off: the flag is
    ignored, both are the one long-id layout."""
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
    # pagerank accepts use_long_ids=False and ignores it
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


def _same_rows(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.mark.parametrize("long_ids", [True, False])
def test_saved_layout_rows_unchanged(spark, hub_graph, layouts, long_ids):
    """The stored tables equal the layout rebuilt from its stored vertex
    table by the definition: vids the ranks of the tags, each edge routed
    both ways to sub-vertex (vid << b) | pmod(xxhash64(neighbour vid), n),
    n = clamp(ceil(degree / threshold), 1, alpha**level), and one
    sub-vertex row per salt with its vertex's degree. ``use_long_ids=False``
    is accepted and writes those same rows."""
    pg = layouts[long_ids]
    if not long_ids:
        for t in ("vertices", "edges", "sub_deg"):
            _same_rows(getattr(pg, t), getattr(layouts[True], t))
        return
    tags = [r["tag"] for r in pg.vertices.orderBy("vid").collect()]
    assert tags == sorted(tags)
    assert [r["vid"] for r in pg.vertices.orderBy("vid").collect()] == list(range(len(tags)))
    b, t = salt_bits(SPLIT["alpha"], SPLIT["level"]), SPLIT["threshold"]
    cap = SPLIT["alpha"] ** SPLIT["level"]
    v = pg.vertices.select(
        "tag", "vid", "degree",
        F.least(F.lit(cap), F.greatest(F.lit(1), F.ceil(F.col("degree") / t))).alias("n"),
    )
    s = v.select(*[F.col(c).alias(f"s_{c}") for c in v.columns])
    d = v.select(*[F.col(c).alias(f"d_{c}") for c in v.columns])
    m = normalize_edges(hub_graph).join(s, F.col("src") == F.col("s_tag")).join(
        d, F.col("dst") == F.col("d_tag")
    )

    def routed(x, y):
        sub = F.shiftleft(f"{x}_vid", b).bitwiseOR(F.pmod(F.xxhash64(f"{y}_vid"), f"{x}_n"))
        return m.select(sub.alias("src"), F.col(f"{y}_vid").alias("dst_tag"), "w")

    e = routed("s", "d").unionByName(routed("d", "s"))
    sub_deg = v.select(
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("n") - 1)).alias("k"),
        F.col("vid").alias("tag"), F.col("degree").cast("double").alias("deg"),
    ).select(F.shiftleft("tag", b).bitwiseOR(F.col("k")).alias("src"), "tag", "deg")
    for stored, built in [(pg.edges, e), (pg.sub_deg, sub_deg)]:
        _same_rows(stored, built.select(*stored.columns))


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
