"""Round-6 (optimization round) focused tests: the internals that changed
must keep their contracts — see OPTIMIZATION_r06.md for the measurements
each change is justified by."""

import pytest

from pyspark.sql import functions as F


def test_ppm_maxval_zero_rejected():
    # ADVICE r5: 'maxval 0' passed decode_ppm's checks and produced
    # inf/nan features via the maxval normalization
    from gelly_partitioning_spark.functions.multimodal import decode_ppm

    with pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P5\n2 2\n0\n" + bytes([0, 0, 0, 0]))


def test_observe_batch_fits_fixed_plus_marginal(spark):
    # the r6 auto-K estimator: wall = a + b*k; with a=1.2, b=0.2 and
    # target 3.0 the old per-superstep-average formula pinned K at 2
    # (3.0 / 1.4); the model chooses (3.0 - a) / b = 9
    from gelly_partitioning_spark.superstep import SuperstepRunner

    r = SuperstepRunner(spark)
    r.observe_batch(1, 1.4)  # bootstrap (single k): old formula, K = 2
    assert r._auto_k == 2
    r.observe_batch(2, 1.6)  # two ks: fit b = 0.2, a = 1.2 -> K = (3-1.2)/0.2
    assert r._auto_k in (8, 9)  # 9 up to float truncation in the floor
    # prediction drift (environment shift) resets the observation pool
    r.observe_batch(9, 30.0)
    assert r._fit is None


def test_observe_batch_slow_supersteps_stay_unbatched(spark):
    from gelly_partitioning_spark.superstep import SuperstepRunner

    r = SuperstepRunner(spark)
    r.observe_batch(1, 5.0)
    assert r._auto_k == 1
    r.observe_batch(1, 5.2)
    assert r._auto_k == 1


def test_static_scan_partitions_scales_with_bytes(spark):
    from gelly_partitioning_spark.superstep import static_scan_partitions

    schema = "dst_tag long, tag long, deg double"
    from pyspark.sql.types import _parse_datatype_string

    st = _parse_datatype_string(schema)
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # small input: the floor (min(4, shuffle.partitions))
    assert static_scan_partitions(1000, st, spark) == min(4, sp)
    # big input: scales with bytes but capped at 4x shuffle partitions
    big = static_scan_partitions(10**9, st, spark)
    assert big == min(10**9 * 48 // (16 << 20) + 1, 4 * sp)


def test_triangle_assume_canonical_matches(spark, tri_graph):
    from gelly_partitioning_spark import triangle_count
    from gelly_partitioning_spark.graph import canonical_edges, normalize_edges

    want = triangle_count(tri_graph).collect()[0]["triangles"]
    canon = canonical_edges(normalize_edges(tri_graph)).withColumn("w", F.lit(1.0))
    got = triangle_count(canon, assume_canonical=True).collect()[0]["triangles"]
    assert got == want


def test_pagerank_broadcast_equals_salted(spark, hub_graph):
    # the r6 broadcast-mode fast path (no split, self-row single-reference
    # superstep) must agree with the salted split path to float noise
    from gelly_partitioning_spark import pagerank

    fast = {
        r["id"]: r["rank"]
        for r in pagerank(
            hub_graph, fixed_iterations=12, threshold=2, single_task_budget_bytes=0
        ).collect()
    }
    salted = {
        r["id"]: r["rank"]
        for r in pagerank(
            hub_graph, fixed_iterations=12, threshold=2, broadcast_threshold_vertices=0
        ).collect()
    }
    assert set(fast) == set(salted)
    for v in fast:
        assert abs(fast[v] - salted[v]) < 1e-12, v


def test_cc_broadcast_equals_salted(spark, cc_graph):
    from gelly_partitioning_spark import connected_components

    fast = {
        r["id"]: r["component"]
        for r in connected_components(
            cc_graph, threshold=2, single_task_budget_bytes=0
        ).collect()
    }
    salted = {
        r["id"]: r["component"]
        for r in connected_components(
            cc_graph, threshold=2, broadcast_threshold_vertices=0
        ).collect()
    }
    assert fast == salted


def test_cc_auto_batching_matches_unbatched(spark, cc_graph):
    # single-task rung off: batching lives in the distributed loop
    from gelly_partitioning_spark import connected_components

    def run(batch):
        return {
            r["id"]: r["component"]
            for r in connected_components(
                cc_graph, threshold=2, superstep_batch=batch, single_task_budget_bytes=0
            ).collect()
        }

    batched, unbatched = run(0), run(1)
    assert batched == unbatched
