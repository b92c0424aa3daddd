"""Shared Spark session + reference golden fixtures (FIXTURES.md §2).

All fixture graphs are copied from the reference's golden-data classes
(file:line cited per fixture) — tiny, deterministic, exact.
"""

from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from gelly_partitioning_spark import from_pairs, get_spark  # noqa: E402


@contextmanager
def jvm_round_trips(spark):
    """The py4j commands the driver sends the JVM while the block runs, one
    per round trip. py4j's garbage-collection detaches (prefix ``m\\nd\\n``),
    sent whenever Python happens to free a JVM handle, are left out."""
    client = spark.sparkContext._gateway._gateway_client
    sent, send = [], client.send_command

    def counting(command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            sent.append(command)
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        yield sent
    finally:
        client.send_command = send


def cached(df):
    """Cached and materialized, like the engine's real inputs: a frame
    built from a Python list carries no size statistics until then, and
    the single-task rung's stats pre-check skips it."""
    df = df.cache()
    df.count()
    return df


def group_jobs(spark, group, fn):
    """(fn(), the ids of the Spark jobs it ran), read by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="gps-tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


# util/NodeSplittingData.java:21-24 — hub vertex "5", degree 18
HUB_EDGES = [
    (1, 2), (2, 3), (2, 4), (2, 5), (3, 4), (4, 5), (5, 6), (5, 7), (5, 8),
    (5, 9), (5, 10), (5, 11), (5, 12), (5, 13), (5, 14), (5, 15), (5, 16),
    (5, 17), (5, 18), (5, 19), (5, 20), (5, 21),
]

# util/NodeSplittingData.java:55-57
HUB_DEGREES = {
    "1": 1, "2": 4, "3": 2, "4": 3, "5": 18,
    **{str(i): 1 for i in range(6, 22)},
}

# util/ConnectedComponentsData.java:15, 27
CC_EDGES = [(1, 2), (2, 3), (2, 4), (3, 4)]
CC_GOLDEN = {"1": "1", "2": "1", "3": "1", "4": "1"}

# util/TriangleCountData.java:13, 31
TRI_EDGES = [(1, 2), (1, 3), (2, 3), (2, 6), (3, 4), (3, 5), (3, 6), (4, 5), (6, 7)]
TRI_GOLDEN = 3

# util/JaccardSimilarityMeasureData.java:13-14, 38-40
JACCARD_EDGES = [(1, 2), (1, 7), (2, 7), (3, 4), (3, 7), (4, 7), (5, 6), (5, 7), (6, 7), (7, 8)]
JACCARD_EDGE_GOLDEN = {
    ("1", "2"): 1 / 3, ("1", "7"): 0.125, ("2", "7"): 0.125,
    ("3", "4"): 1 / 3, ("3", "7"): 0.125, ("4", "7"): 0.125,
    ("5", "6"): 1 / 3, ("5", "7"): 0.125, ("6", "7"): 0.125,
    ("7", "8"): 0.0,
}

# util/CommunityDetectionData.java:22-42 (weighted), delta=0.5, threshold=6
COMMUNITY_EDGES = [
    (1, 2, 1.0), (1, 3, 2.0), (1, 4, 3.0), (2, 3, 4.0), (2, 4, 5.0),
    (3, 5, 6.0), (5, 6, 7.0), (5, 7, 8.0), (6, 7, 9.0), (7, 12, 10.0),
    (8, 9, 11.0), (8, 10, 12.0), (8, 11, 13.0), (9, 10, 14.0),
    (9, 11, 15.0), (10, 11, 16.0), (10, 12, 17.0), (11, 12, 18.0),
]


@pytest.fixture(scope="session")
def hub_graph(spark):
    return from_pairs(spark, HUB_EDGES).cache()


@pytest.fixture(scope="session")
def cc_graph(spark):
    return from_pairs(spark, CC_EDGES).cache()


@pytest.fixture(scope="session")
def tri_graph(spark):
    return from_pairs(spark, TRI_EDGES).cache()


@pytest.fixture(scope="session")
def jaccard_graph(spark):
    return from_pairs(spark, JACCARD_EDGES).cache()


@pytest.fixture(scope="session")
def community_graph(spark):
    return from_pairs(spark, COMMUNITY_EDGES).cache()


def powerlaw_graph(spark, n_edges=2000, n_vertices=300, seed=7):
    """Seeded random power-law-ish multigraph: dst ~ zipf via inverse
    power of a uniform hash; deterministic, no RNG state."""
    import hashlib

    def h(i, salt):
        return int.from_bytes(
            hashlib.md5(f"{seed}:{salt}:{i}".encode()).digest()[:8], "big"
        )

    pairs = set()
    for i in range(n_edges):
        u = h(i, "u") % n_vertices
        # power-law target: low ids are hubs
        r = (h(i, "v") % 10**6) / 10**6
        v = int(n_vertices ** r) - 1
        if u != v:
            pairs.add((f"v{u}", f"v{v}"))
    return from_pairs(spark, sorted(pairs))
