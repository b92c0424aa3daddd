"""The single-task rung (``gelly_partitioning_spark.single_task``): every
algorithm that has it answers exactly as with the rung disabled, on every
input shape; a call is one Spark action plus the caller's collect and
leaves nothing persisted but its result; the in-task gate is bounded,
keeps its worker when it declines, and an oversized stats hint skips the
rung without a job."""

import importlib

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from gelly_partitioning_spark import (
    connected_components,
    degree_count,
    from_pairs,
    jaccard_counts,
    pagerank,
    triangle_count,
    triangle_count_long_pairs,
)

from .conftest import cached, group_jobs

st = importlib.import_module("gelly_partitioning_spark.single_task")
# the package re-exports the functions under the module names
tcm = importlib.import_module("gelly_partitioning_spark.algorithms.triangle_count")


def _long_pairs(g):
    """The graph on long ids: each (string-cast) id hashed, nulls kept."""

    def key(c):
        return F.when(F.col(c).isNotNull(), F.xxhash64(F.col(c).cast("string")))

    return g.select(key(g.columns[0]), key(g.columns[1]))


ALGOS = {
    "pagerank": lambda g, **kw: {
        r["id"]: r["rank"]
        for r in pagerank(g, fixed_iterations=10, threshold=2, **kw).collect()
    },
    "cc": lambda g, **kw: {
        r["id"]: r["component"] for r in connected_components(g, threshold=2, **kw).collect()
    },
    "degree": lambda g, **kw: {
        r["id"]: r["degree"] for r in degree_count(g, threshold=2, **kw).collect()
    },
    "triangle_count": lambda g, **kw: triangle_count(g, **kw).first()["triangles"],
    "triangle_count_long_pairs": lambda g, **kw: triangle_count_long_pairs(
        _long_pairs(g), **kw
    ).first()["triangles"],
    "jaccard_counts": lambda g, **kw: sorted(map(tuple, jaccard_counts(g, **kw).collect())),
}

GRAPHS = {
    "hub_graph": lambda spark, request: request.getfixturevalue("hub_graph"),
    "cc_graph": lambda spark, request: request.getfixturevalue("cc_graph"),
    "tri_graph": lambda spark, request: request.getfixturevalue("tri_graph"),
    "jaccard_graph": lambda spark, request: request.getfixturevalue("jaccard_graph"),
    "dups_self_loops": lambda spark, request: cached(from_pairs(
        spark, [(1, 2), (2, 1), (1, 1), (2, 3), (3, 1), (3, 3), (2, 3), (3, 4), (4, 4)]
    )),
    # long ids, negative ones included; two triangles
    "numeric_ids": lambda spark, request: cached(spark.createDataFrame(
        [(-5, -2), (-2, -7), (-7, -5), (-5, 8), (8, -2), (100, 20)], "src long, dst long"
    )),
    "null_endpoint": lambda spark, request: cached(spark.createDataFrame(
        [("1", "2"), ("1", "3"), ("1", None), ("2", "3"), (None, "4"), ("3", "4")],
        "src string, dst string",
    )),
    # string order ("10" < "100" < "2" < "9") is not numeric order
    "string_order_ids": lambda spark, request: cached(from_pairs(
        spark, [(10, 9), (9, 100), (100, 10), (2, 10), (2, 9), (9, 7)]
    )),
    "unicode_ids": lambda spark, request: cached(from_pairs(
        spark, [("é", "a"), ("a", "ü"), ("ü", "é"), ("日本", "a"), ("日本", "é"), ("z", "日本")]
    )),
    "separator_id": lambda spark, request: cached(from_pairs(
        spark, [("x#1", "y"), ("y", "z"), ("z", "x#1"), ("z", "w"), ("w", "y"), ("x#1", "w")]
    )),
    "dup_reversed": lambda spark, request: cached(from_pairs(
        spark, [("a", "b"), ("b", "a"), ("a", "b"), ("b", "c"), ("c", "b"), ("c", "a"),
                ("a", "c"), ("c", "d"), ("d", "c"), ("b", "d")]
    )),
}


def _record(monkeypatch, keep):
    """Wrap ``single_task.run``; ``keep(seen, outcome)`` files each outcome."""
    seen, orig = [], st.run

    def run(*a, **k):
        outcome = orig(*a, **k)
        keep(seen, outcome)
        return outcome

    monkeypatch.setattr(st, "run", run)
    return seen


@pytest.fixture
def tier_runs(monkeypatch):
    """One entry per single-task run the rung admitted."""
    return _record(monkeypatch, lambda seen, o: o.out is not None and seen.append(o))


@pytest.fixture
def gate_rows(monkeypatch):
    """The rows each single-task run's task streamed before it decided,
    read from the run's returned outcome (runs that started no task,
    e.g. on a zero budget, are left out)."""
    return _record(monkeypatch, lambda seen, o: o.rows and seen.append(o.rows))


def _assert_same(algo, got, want):
    # exact for the integer algorithms, 1e-9 for PageRank
    assert got == (pytest.approx(want, abs=1e-9) if algo == "pagerank" else want)


@pytest.mark.parametrize("graph", list(GRAPHS))
@pytest.mark.parametrize("algo", list(ALGOS))
def test_tier_matches_disabled_tier(spark, request, tier_runs, algo, graph):
    g = GRAPHS[graph](spark, request)
    want = ALGOS[algo](g, single_task_budget_bytes=0)
    assert not tier_runs
    got = ALGOS[algo](g)
    assert len(tier_runs) == 1  # the tier ran, and only once
    _assert_same(algo, got, want)


def test_null_endpoint_dropped_on_every_rung(spark, tier_runs):
    # an edge with a null endpoint names no vertex: every rung answers as
    # if it were absent, so the ranks still sum to 1
    nul = cached(spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", None), ("b", "c"), ("c", "d")],
        "src string, dst string",
    ))
    want = ALGOS["pagerank"](nul.dropna(), single_task_budget_bytes=0)
    assert abs(sum(want.values()) - 1.0) < 1e-12
    for kw in ({}, {"single_task_budget_bytes": 0}, {"broadcast_threshold_vertices": 0}):
        _assert_same("pagerank", ALGOS["pagerank"](nul, **kw), want)
    assert len(tier_runs) == 1


@pytest.mark.parametrize("numeric", [False, True])
def test_cc_single_task_numeric_ids(spark, tier_runs, numeric):
    # numeric order and lexicographic order disagree on these ids
    # (min(7,10,3) = 3 numerically; min("10","3","7") = "10" as strings),
    # so this pins the tier's order-rank construction for both flavors
    g = cached(from_pairs(spark, [(10, 7), (7, 3), (100, 20)]))

    def run(**kw):
        return {
            r["id"]: r["component"]
            for r in connected_components(g, split=False, numeric_ids=numeric, **kw).collect()
        }

    local = run()
    assert local == run(single_task_budget_bytes=0)
    assert len(tier_runs) == 1
    assert local["7"] == ("3" if numeric else "10")
    assert local["100"] == ("20" if numeric else "100")


@pytest.mark.parametrize("algo", ["pagerank", "cc", "degree"])
def test_gate_is_bounded(spark, monkeypatch, tier_runs, gate_rows, algo):
    # an underestimated stats hint (here: none at all) must not buy a full
    # scan: the gate counts at most budget + 1 rows, then declines
    module = {"cc": "connected_components"}.get(algo, algo)
    row_bytes = 2 * importlib.import_module(  # per edge: two rows
        f"gelly_partitioning_spark.algorithms.{module}"
    )._SINGLE_TASK_ROW_BYTES
    # 1,000 edges: a forest of 37 stars, so the distributed runs are short
    g = spark.range(1000).select(
        (F.col("id") % 37).cast("string").alias("src"),
        (F.col("id") + 100).cast("string").alias("dst"),
    )
    monkeypatch.setattr(st, "plan_size_hint_bytes", lambda df: None)
    got = ALGOS[algo](g, single_task_budget_bytes=10 * row_bytes)
    assert gate_rows == [11] and not tier_runs
    _assert_same(algo, got, ALGOS[algo](g, single_task_budget_bytes=0))


def _row_count():
    """A kernel that returns its row count (nested, so Spark pickles it
    by value and the worker need not import this module)."""

    def kernel(c, left_bytes):
        return {"n": [len(c["src"])]}, None

    return kernel


def test_oversized_hint_runs_no_job(spark, monkeypatch):
    # a stats hint far above the budget declines the rung before any
    # Spark job: no task, no materialization
    g = cached(from_pairs(spark, [(1, 2), (2, 3), (3, 1)]))
    budget = 1 << 20

    def gate_jobs(hint, group):
        monkeypatch.setattr(st, "plan_size_hint_bytes", lambda df: hint)
        return group_jobs(spark, group, lambda: st.run(g, _row_count(), "n long", budget, 16))

    outcome, jobs = gate_jobs(8 * budget + 1, "gate-oversized-hint")
    assert outcome.out is None and outcome.rows == 0 and jobs == []
    # the control: without a hint the same call runs its task, under its group
    outcome, jobs = gate_jobs(None, "gate-no-hint")
    assert outcome.out.first()["n"] == 3 and jobs
    st.release_checkpoint(outcome.out)


def _worker_pids(spark):
    """The pids of the idle Python worker pool: idle workers are handed
    out first-in first-out, so one-task probes in a row cycle through the
    pool until the first pid comes round again. A worker that was exited
    is missing from the cycle."""

    def pid(batches):
        import os

        import pyarrow as pa

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"pid": [os.getpid()]})

    probe = spark.range(1).coalesce(1).mapInArrow(pid, "pid long")
    first = probe.collect()[0]["pid"]
    seen = {first}
    while len(seen) < 64 and (p := probe.collect()[0]["pid"]) != first:
        seen.add(p)
    return seen


def test_decline_drains_and_keeps_its_worker(spark, monkeypatch):
    # an input the hint cannot size declines in the task after cap + 1
    # rows; the task drains its input, so PySpark keeps its worker and the
    # next Python task does not pay a fresh one
    g = spark.range(1000).select(
        (F.col("id") % 37).cast("string").alias("src"),
        (F.col("id") + 100).cast("string").alias("dst"),
    )
    monkeypatch.setattr(st, "plan_size_hint_bytes", lambda df: None)
    before = _worker_pids(spark)
    outcome = st.run(g, _row_count(), "n long", 10 * 16, 16)
    assert (outcome.rows, outcome.out) == (11, None)
    assert _worker_pids(spark) == before


# the most Spark jobs a call on the rung may run, the caller's collect
# included: the fused task and the collect; triangle's and jaccard's
# bounds leave room for the shuffle stage of the grouped pair stream
# their driver queries read
RUNG_JOBS = {
    "pagerank": (lambda g: pagerank(g, fixed_iterations=10, threshold=2), 2),
    "cc": (lambda g: connected_components(g, threshold=2), 2),
    "degree": (lambda g: degree_count(g, threshold=2), 2),
    "triangle_count_long_pairs": (lambda g: triangle_count_long_pairs(_long_pairs(g)), 4),
    "jaccard_counts": (jaccard_counts, 4),
}


@pytest.mark.parametrize("algo", list(RUNG_JOBS))
def test_rung_call_jobs_and_persisted_rdds(spark, tier_runs, algo):
    # machine-independent: one action runs the task and materializes the
    # result, and the call leaves no persisted RDD but that result
    g = cached(from_pairs(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 1)]))
    fn, most = RUNG_JOBS[algo]
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keySet())
    out, jobs = group_jobs(spark, f"rung-jobs-{algo}", lambda: fn(g))
    rows, collect_jobs = group_jobs(spark, f"rung-collect-{algo}", out.collect)
    assert len(tier_runs) == 1 and rows
    assert len(jobs) + len(collect_jobs) <= most
    assert len(set(persisted().keySet()) - before) == 1  # the result
    st.release_checkpoint(out)
    assert set(persisted().keySet()) - before == set()


def test_kernel_error_surfaces(spark, hub_graph, monkeypatch):
    # a failure inside the kernel surfaces as the task's PythonException;
    # the rung never swallows it into a fallback
    prmod = importlib.import_module("gelly_partitioning_spark.algorithms.pagerank")

    def factory(*a):
        def kernel(si, di, strs):
            raise RuntimeError("unrelated failure")

        return kernel

    monkeypatch.setattr(prmod, "_pagerank_kernel", factory)
    with pytest.raises(PythonException, match="unrelated failure"):
        pagerank(cached(hub_graph), fixed_iterations=5, threshold=2).collect()


def test_long_pairs_fallback_forwards_budget(spark, tier_runs, gate_rows):
    # every edge 4x: the raw multiset (36 rows) is over budget, the
    # distinct canonical set (9 edges) is not — the generic pipeline's
    # tier runs on the caller's budget, once, and no function recurses
    from .conftest import TRI_EDGES, TRI_GOLDEN

    raw = cached(spark.createDataFrame(TRI_EDGES * 4, "s long, d long"))
    budget = 2 * len(TRI_EDGES) * tcm._SINGLE_TASK_ROW_BYTES  # 18 pair rows
    got = triangle_count_long_pairs(raw, single_task_budget_bytes=budget)
    assert got.first()["triangles"] == TRI_GOLDEN
    # the raw gate counted 18 + 1 rows and declined; the canonical set's
    # 9 edges were admitted
    assert gate_rows == [19, len(TRI_EDGES)] and len(tier_runs) == 1


def test_triangle_core_close_methods_agree():
    # the in-task close picks bitmap vs searchsorted from the exact
    # vertex count and the budget left; both must give the same per-edge
    # common-neighbour counts
    import numpy as np

    s, d = np.random.default_rng(7).integers(0, 500, (2, 20000))
    keys = np.unique(np.minimum(s, d) * 500 + np.maximum(s, d))  # canonical, deduped
    lo, hi = keys // 500, keys % 500
    lo, hi = lo[lo != hi], hi[lo != hi]
    n = len(np.unique(np.r_[lo, hi]))
    bitmap_bytes = n * ((n + 7) >> 3)  # n rows of n bits
    bitmap = tcm.common_neighbour_counts(np, lo, hi, bitmap_bytes)
    searchsorted = tcm.common_neighbour_counts(np, lo, hi, bitmap_bytes - 1)
    assert (bitmap == searchsorted).all() and bitmap.sum() > 0
    # against the dense adjacency: |N(lo) ∩ N(hi)| per edge
    adj = np.zeros((500, 500), dtype=np.int64)
    adj[lo, hi] = adj[hi, lo] = 1
    assert (bitmap == (adj @ adj)[lo, hi]).all()


def test_jaccard_rung_runs_few_jobs(spark, tier_runs):
    # a machine-independent bound on the rung's cost: the fused task and
    # the collect, with room to spare (the distributed path runs ~23)
    g = cached(from_pairs(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 1)]))
    rows, jobs = group_jobs(spark, "jaccard-single-task", lambda: jaccard_counts(g).collect())
    assert len(tier_runs) == 1 and len(rows) == 5
    assert len(jobs) <= 4


def test_jaccard_gate_charges_id_bytes(spark, tier_runs):
    # the same graph, its ids spelled 1 or 200 bytes long: a budget that
    # admits the short spelling declines the long one, whose strings the
    # task would hold several times over
    jm = importlib.import_module("gelly_partitioning_spark.algorithms.jaccard")
    pairs = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)]
    short = cached(from_pairs(spark, pairs))
    long = cached(from_pairs(spark, [(f"{a:0>200}", f"{b:0>200}") for a, b in pairs]))
    budget = len(pairs) * (jm._SINGLE_TASK_ROW_BYTES + 2 * jm._ID_BYTE_COST)
    want = ALGOS["jaccard_counts"](short, single_task_budget_bytes=0)
    assert ALGOS["jaccard_counts"](short, single_task_budget_bytes=budget) == want
    assert len(tier_runs) == 1
    got = ALGOS["jaccard_counts"](long, single_task_budget_bytes=budget)
    assert len(tier_runs) == 1  # declined: the distributed rung answered
    assert [(s.lstrip("0"), d.lstrip("0"), c, u) for s, d, c, u in got] == want
