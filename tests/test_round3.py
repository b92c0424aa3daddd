"""Round-3 additions: hashable neighbor emission, LSH-bucketed embedding
near-dup, LP workset/delta iteration, tree-mode id guard, quantile auto
threshold, superstep micro-batching, snapshot compaction + incremental
manifests, input-data checkpoint fingerprint."""

import json
import os

import pytest
from pyspark.sql import functions as F

from gelly_partitioning_spark import SuperstepRunner, label_propagation, pagerank
from gelly_partitioning_spark.superstep import CHANGED

from .conftest import powerlaw_graph
from .test_plans import plan_of


# -- neighbor_sets scalar emission -------------------------------------------


def test_neighbor_sets_as_string(spark, hub_graph):
    from gelly_partitioning_spark.algorithms import neighbor_sets

    arr = {r["id"]: r["neighbors"] for r in neighbor_sets(hub_graph, threshold=2).collect()}
    s = {
        r["id"]: (r["neighbors"], r["n_neighbors"])
        for r in neighbor_sets(hub_graph, threshold=2, as_string=True).collect()
    }
    assert set(arr) == set(s)
    for vid, neighbors in arr.items():
        assert s[vid] == (",".join(neighbors), len(neighbors))


# -- embedding near-dup: LSH scale path --------------------------------------


def _emb_df(spark):
    import math

    rows = []
    for i in range(40):
        base = [math.cos(i / 7.0), math.sin(i / 7.0), 0.5, -0.25]
        rows.append((i, [float(x) for x in base]))
        # a near-duplicate of every 4th vector
        if i % 4 == 0:
            rows.append((1000 + i, [float(x) * 1.001 + 1e-4 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_embedding_near_dup_lsh_no_cartesian(spark):
    from gelly_partitioning_spark.functions import embedding_near_duplicates

    df = _emb_df(spark)
    p = plan_of(embedding_near_duplicates(df, min_cos=0.95, method="lsh"))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_embedding_near_dup_lsh_subset_and_recall(spark):
    """LSH pairs ⊆ exact pairs (candidates are verified exactly), and the
    planted near-identical duplicates (cos ≈ 1 ⇒ per-table collision prob
    ≈ 1) are all recovered."""
    from gelly_partitioning_spark.functions import embedding_near_duplicates

    df = _emb_df(spark)
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_duplicates(df, min_cos=0.95, method="exact").collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in embedding_near_duplicates(df, min_cos=0.95, method="lsh").collect()
    }
    assert set(lsh) <= set(exact)
    planted = {(i, 1000 + i) for i in range(0, 40, 4)}
    assert planted <= set(lsh)
    for k, v in lsh.items():
        assert v == exact[k]


# -- LP workset / delta iteration ---------------------------------------------


def test_lp_workset_equals_full(spark, community_graph):
    """workset_ratio=1.0 forces the delta path from superstep 2 onward —
    results must be identical to the full-scatter path (the delta scheme
    is exact: frontier ∪ N(frontier) covers every vertex whose inputs
    changed, including the frontier's own decay flip-back)."""
    full = {
        r["id"]: r["label"]
        for r in label_propagation(community_graph, split=True, threshold=6, workset=False).collect()
    }
    delta = {
        r["id"]: r["label"]
        for r in label_propagation(
            community_graph, split=True, threshold=6, workset=True, workset_ratio=1.0
        ).collect()
    }
    assert delta == full


def test_lp_workset_equals_full_powerlaw(spark):
    g = powerlaw_graph(spark, n_edges=400, n_vertices=80)
    full = {
        r["id"]: r["label"]
        for r in label_propagation(g, split=True, threshold=8, max_iterations=8, workset=False).collect()
    }
    delta = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, split=True, threshold=8, max_iterations=8, workset=True, workset_ratio=1.0
        ).collect()
    }
    assert delta == full


def test_lp_workset_shrinks(spark):
    """The frontier (changed count) must eventually shrink below the whole
    graph while the delta path is active — the late-superstep saving.
    (Two disjoint triangles: LP provably converges there, unlike the
    oscillating weighted community fixture.)"""
    from gelly_partitioning_spark import from_pairs

    g = from_pairs(spark, [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6)])
    r = SuperstepRunner(spark)
    label_propagation(g, split=False, workset=True, workset_ratio=1.0, runner=r)
    changed = [m.changed for m in r.metrics]
    n = r.metrics[0].rows
    assert changed[-1] == 0  # converges
    assert any(0 < c < n for c in changed)  # a genuinely partial frontier ran


# -- tree-mode separator guard -------------------------------------------------


def test_split_tree_rejects_separator_ids(spark):
    from gelly_partitioning_spark import from_pairs, split_graph

    bad = from_pairs(spark, [("a#1", f"x{i}") for i in range(8)])
    with pytest.raises(Exception, match="reserved separator"):
        split_graph(bad, threshold=2, mode="tree").edges.collect()


# -- quantile auto threshold ---------------------------------------------------


def test_auto_threshold_small_graph_uses_mean(spark, hub_graph):
    from gelly_partitioning_spark import split_graph
    from gelly_partitioning_spark.graph import degrees, normalize_edges

    sg = split_graph(normalize_edges(hub_graph), threshold=None)
    deg = [r["degree"] for r in degrees(normalize_edges(hub_graph)).collect()]
    import math

    assert sg.threshold == max(2, math.ceil(sum(deg) / len(deg)))


def test_auto_threshold_quantile_on_large_powerlaw(spark):
    """≥10k vertices: the p99.9 quantile (tail cut) wins over the mean —
    far fewer, far more skewed vertices get split."""
    from gelly_partitioning_spark.splitting import resolve_threshold

    # synthetic degree table: zipf-ish, 12000 vertices, a few extreme hubs
    degs = [(f"v{i}", max(1, int(2000 / (i + 1)))) for i in range(12000)]
    t = resolve_threshold(spark.createDataFrame(degs, "id string, degree long"), None)
    values = sorted(d for _, d in degs)
    mean_t = sum(values) / len(values)
    # approx_percentile rank error is ±n/accuracy ≈ ±1.2 ranks here; allow
    # a ±10-rank window around the exact p99.9 order statistic
    lo = values[int(0.999 * (len(values) - 1)) - 10]
    hi = values[min(int(0.999 * (len(values) - 1)) + 10, len(values) - 1)]
    assert t > mean_t  # not the bulk mean
    assert lo <= t <= hi
    assert t <= values[-1]


# -- superstep micro-batching --------------------------------------------------


def test_pagerank_batched_identical(spark, hub_graph):
    a = {r["id"]: r["rank"] for r in pagerank(hub_graph, fixed_iterations=9, threshold=2).collect()}
    b = {
        r["id"]: r["rank"]
        for r in pagerank(hub_graph, fixed_iterations=9, threshold=2, superstep_batch=4).collect()
    }
    assert set(a) == set(b)
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


def test_pagerank_batched_converges(spark, hub_graph):
    r = SuperstepRunner(spark, batch_size=4)
    got = {
        r_["id"]: r_["rank"]
        for r_ in pagerank(hub_graph, tol=1e-6, max_iterations=90, threshold=2, runner=r).collect()
    }
    want = {
        r_["id"]: r_["rank"]
        for r_ in pagerank(hub_graph, tol=1e-6, max_iterations=90, threshold=2).collect()
    }
    assert r.converged
    # batched convergence may overshoot ≤ batch−1 supersteps past the
    # unbatched stop point; each overshoot step moves ranks ≤ tol
    for k in want:
        assert abs(got[k] - want[k]) < 5e-6


# -- snapshot compaction + incremental manifests -------------------------------


def _inc_step(state, i):
    return state.select(
        "id", (F.col("v") + 1).alias("v"), (F.col("v") < 8).alias(CHANGED)
    )


def test_snapshot_compaction_keeps_latest(spark, tmp_path):
    init = spark.createDataFrame([(i, 0) for i in range(4)], "id long, v long")
    r = SuperstepRunner(
        spark, checkpoint_dir=str(tmp_path), checkpoint_every=1, keep_snapshots=2
    )
    r.run(init, _inc_step, max_iterations=5)
    snaps = sorted(d for d in os.listdir(str(tmp_path)) if d.startswith("superstep="))
    assert len(snaps) == 2
    assert "superstep=5" in snaps and "superstep=4" in snaps
    # append-only lineage survives compaction: one line per snapshot taken
    with open(os.path.join(str(tmp_path), "manifests.jsonl")) as f:
        lines = [json.loads(line) for line in f if line.strip()]
    assert [rec["superstep"] for rec in lines] == [1, 2, 3, 4, 5]
    # incremental: each manifest line carries exactly its new superstep
    assert all(len(rec["metrics"]) == 1 for rec in lines)


def test_resume_after_compaction_replays_history(spark, tmp_path):
    init = spark.createDataFrame([(i, 0) for i in range(4)], "id long, v long")
    r1 = SuperstepRunner(
        spark, checkpoint_dir=str(tmp_path), checkpoint_every=1, keep_snapshots=2
    )
    r1.run(init, _inc_step, max_iterations=4)

    r2 = SuperstepRunner(
        spark, checkpoint_dir=str(tmp_path), checkpoint_every=1, keep_snapshots=2
    )
    final = r2.run(init, _inc_step, max_iterations=20)
    assert {row["v"] for row in final.collect()} == {9}
    assert r2.converged
    # full metrics history reconstructed across 4 compacted snapshots
    assert [m.superstep for m in r2.metrics] == list(range(1, 10))


def test_checkpoint_rejects_changed_input(spark, tmp_path):
    """Same algorithm + parameters, different input data → the data
    fingerprint must force a fresh start (ADVICE r2: stale-state guard)."""
    from gelly_partitioning_spark import connected_components, from_pairs

    g1 = from_pairs(spark, [(1, 2), (2, 3), (3, 4)])
    g2 = from_pairs(spark, [(1, 2), (3, 4)])  # 1-2 | 3-4: two components

    ckpt = str(tmp_path / "cc")
    r1 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
    connected_components(g1, split=False, max_iterations=5, runner=r1)

    r2 = SuperstepRunner(spark, checkpoint_dir=ckpt, checkpoint_every=1)
    with pytest.warns(UserWarning, match="fingerprint"):
        got = connected_components(g2, split=False, max_iterations=5, runner=r2)
    comps = {r["id"]: r["component"] for r in got.collect()}
    assert comps == {"1": "1", "2": "1", "3": "3", "4": "3"}
