"""The driver's share of a graph query: a call on the single-task rung
builds its plan in a bounded number of JVM round trips, the lineitem
graphs are built without a Spark job, and the SQL-expression plans give
the rows the Column-API plans gave, whatever the input's column names."""

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from gelly_partitioning_spark import (
    connected_components,
    degree_count,
    from_pairs,
    jaccard_counts,
    normalize_edges,
    pagerank,
    triangle_count_long_pairs,
)
from gelly_partitioning_spark.superstep import release_checkpoint

from .conftest import TRI_EDGES, TRI_GOLDEN, cached, group_jobs, jvm_round_trips


# the most JVM round trips one call on the rung may make, its one action
# included: 45 measured for each call (PySpark 4.1), plus a margin. One
# Column-API call costs several (F.col alone is 13); Column-API plans of
# these calls take 160-230.
MOST_ROUND_TRIPS = 50
RUNG_CALLS = {
    "pagerank": lambda g, p: pagerank(g, fixed_iterations=10, threshold=2),
    "cc": lambda g, p: connected_components(g, threshold=2),
    "degree": lambda g, p: degree_count(g, threshold=2),
    "triangle_count_long_pairs": lambda g, p: triangle_count_long_pairs(p),
    "jaccard_counts": lambda g, p: jaccard_counts(g),
}


@pytest.mark.parametrize("algo", list(RUNG_CALLS))
def test_rung_call_round_trips(spark, algo):
    g = cached(from_pairs(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1), (1, 1)]))
    pairs = cached(g.selectExpr("xxhash64(src) AS s", "xxhash64(dst) AS d"))
    call = RUNG_CALLS[algo]
    release_checkpoint(call(g, pairs))  # one-off lookups (the result schema's parse)
    with jvm_round_trips(spark) as sent:
        out = call(g, pairs)
    assert out.count() > 0
    release_checkpoint(out)
    assert len(sent) <= MOST_ROUND_TRIPS, sent


# -- lineitem read with a declared schema ------------------------------------

# five orders over parts 1-6 and suppliers 10-12: shared parts, so the
# co-occurrence pairs repeat across orders
LINEITEM = {
    "l_orderkey": [1, 1, 1, 2, 2, 3, 3, 3, 3, 4, 5, 5],
    "l_partkey": [1, 2, 3, 2, 3, 1, 3, 4, 5, 6, 5, 1],
    "l_suppkey": [10, 11, 10, 12, 10, 11, 11, 12, 10, 12, 11, 10],
}


def _write_lineitem(path, key_type, extra=False):
    cols = {k: pa.array(v, key_type) for k, v in LINEITEM.items()}
    if extra:
        n = len(LINEITEM["l_orderkey"])
        cols = {"l_comment": [f"c{i}" for i in range(n)], **cols, "l_tax": [0.5] * n}
    path.mkdir()
    pq.write_table(pa.table(cols), path / "lineitem.parquet")
    return str(path)


GRAPHS = {
    "ps_edges": entry.ps_edges,
    "lp_edges": entry.lp_edges,
    "cooc_edges": entry.cooc_edges,
    "cooc_raw_pairs": entry._cooc_raw_pairs,
}


@pytest.mark.parametrize(
    "key_type,extra", [(pa.int64(), False), (pa.int64(), True), (pa.int32(), False)],
    ids=["bigint", "extra_columns", "int32"],
)
def test_lineitem_graphs_run_no_job(spark, tmp_path, monkeypatch, key_type, extra):
    sf_dir = _write_lineitem(tmp_path / "sf", key_type, extra)
    tag = f"lineitem-{key_type}-{extra}"
    built, jobs = group_jobs(
        spark, f"{tag}-declared", lambda: {k: f(spark, sf_dir) for k, f in GRAPHS.items()}
    )
    # the control: a read that infers the schema runs a job. Once its job
    # shows, every earlier one would (the status listener sees jobs in order)
    _, inferred = group_jobs(
        spark, f"{tag}-inferred", lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    )
    deadline = time.time() + 10
    while not inferred and time.time() < deadline:
        time.sleep(0.05)
        inferred = spark.sparkContext.statusTracker().getJobIdsForGroup(f"{tag}-inferred")
    assert inferred and jobs == []
    monkeypatch.setattr(
        entry, "_lineitem", lambda s, d: s.read.parquet(f"{d}/lineitem.parquet")
    )
    for k, f in GRAPHS.items():
        assert sorted(built[k].collect()) == sorted(f(spark, sf_dir).collect()), k


# -- column names that need quoting --------------------------------------------

QUOTED = ["a.b", "c d", "e`f"]


def _column_api_normalize(edges):
    """normalize_edges as the Column API built it (plain column names only)."""
    cols = edges.columns
    w = F.col(cols[2]).cast("double") if len(cols) > 2 else F.lit(1.0)
    return edges.select(
        F.col(cols[0]).cast("string").alias("src"),
        F.col(cols[1]).cast("string").alias("dst"),
        w.alias("w"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())


FRAMES = {
    # numeric ids and an integer weight
    "numeric": ([(-5, 2, 3), (2, 7, 1), (7, -5, 2), (100, 20, 4)], "x0 long, x1 long, x2 int"),
    # a null endpoint; no weight column: w is 1.0
    "null_endpoint": (
        [("1", "2"), ("1", None), (None, "3"), ("2", "3"), ("3", "1")], "x0 string, x1 string"
    ),
}


@pytest.mark.parametrize("frame", list(FRAMES))
def test_quoted_column_names(spark, frame):
    plain = cached(spark.createDataFrame(*FRAMES[frame]))
    g = plain.toDF(*QUOTED[: len(plain.columns)])
    want = _column_api_normalize(plain)
    got = normalize_edges(g)
    assert got.schema == want.schema
    assert sorted(got.collect()) == sorted(want.collect())
    for budget in ({}, {"single_task_budget_bytes": 0}):
        assert sorted(degree_count(g, threshold=2, **budget).collect()) == sorted(
            degree_count(plain, threshold=2, **budget).collect()
        )


@pytest.mark.parametrize("budget", [{}, {"single_task_budget_bytes": 0}], ids=["rung", "joins"])
def test_triangle_long_pairs_quoted_column_names(spark, budget):
    rows = TRI_EDGES + [(3, None), (None, 1), (2, 1)]
    g = cached(spark.createDataFrame(rows, "s long, d long").toDF(*QUOTED[:2]))
    assert triangle_count_long_pairs(g, **budget).first()["triangles"] == TRI_GOLDEN
