"""Bucketed persisted split-graph layout: restart-path correctness + the
no-initial-exchange plan guarantee (VERDICT r2 #7)."""

import pytest
from pyspark.sql import functions as F

from gelly_partitioning_spark import connected_components, label_propagation, pagerank
from gelly_partitioning_spark.sources import load_prepared_graph, save_prepared_graph

from .test_plans import plan_of


@pytest.fixture(scope="module")
def prepared(spark, hub_graph, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("store"))
    return save_prepared_graph(
        hub_graph, name="hubpg", base_path=base, threshold=2, alpha=2, level=4, buckets=4
    )


def test_prepared_pagerank_matches_cold_path(spark, hub_graph, prepared):
    want = {r["id"]: r["rank"] for r in pagerank(hub_graph, fixed_iterations=8, threshold=2).collect()}
    got = {r["id"]: r["rank"] for r in pagerank(None, fixed_iterations=8, prepared=prepared).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


def test_prepared_reload_by_name(spark, prepared):
    pg = load_prepared_graph(spark, "hubpg")
    assert pg.edges.columns == ["src", "dst_tag", "w"]
    assert set(pg.sub_deg.columns) == {"src", "tag", "deg"}
    got = {r["id"]: r["rank"] for r in pagerank(None, fixed_iterations=3, prepared=pg).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9


# the broadcast and the salted rung
RUNGS = [{}, {"broadcast_threshold_vertices": 0}]


def test_prepared_cc_matches_cold_path(spark, hub_graph, prepared):
    """CC's min id comes from the original ids, which the layout's vertex
    table keeps, so a prepared run equals a fresh one on either rung."""
    for rung in RUNGS:
        want = {
            r["id"]: r["component"]
            for r in connected_components(hub_graph, split=True, threshold=2, **rung).collect()
        }
        got = {
            r["id"]: r["component"]
            for r in connected_components(None, prepared=prepared, **rung).collect()
        }
        assert got == want, rung


def test_prepared_lp_matches_cold_path(spark, hub_graph, prepared):
    for rung in RUNGS:
        want = {
            r["id"]: r["label"]
            for r in label_propagation(
                hub_graph, split=True, threshold=2, max_iterations=8, **rung
            ).collect()
        }
        got = {
            r["id"]: r["label"]
            for r in label_propagation(None, max_iterations=8, prepared=prepared, **rung).collect()
        }
        assert got == want, rung


def test_older_layout_without_vertex_table_raises(spark, hub_graph, tmp_path):
    """A layout saved before the vertex table was stored (routing and
    sub-vertex tables only) is refused with the way out."""
    rows = spark.createDataFrame([("1#0", "2", 1.0)], "src string, dst_tag string, w double")
    spark.sql("DROP TABLE IF EXISTS oldpg_vertices")
    for suffix in ("edges", "subdeg"):
        spark.sql(f"DROP TABLE IF EXISTS oldpg_{suffix}")
        rows.write.option("path", str(tmp_path / suffix)).format("parquet").saveAsTable(
            f"oldpg_{suffix}"
        )
    with pytest.raises(ValueError, match="re-save it with save_prepared_graph"):
        load_prepared_graph(spark, "oldpg")


def test_prepared_scatter_has_no_edge_side_exchange(spark, prepared):
    """The restart-path guarantee: the scatter join consumes the bucketed
    edge scan directly — zero Exchange on the 2|E| side, cold start
    included (the shuffle-hash build side is the only exchange)."""
    rank_side = prepared.sub_deg.select("src", (F.col("deg") * 0 + 1.0).alias("contrib"))
    scatter = prepared.edges.join(rank_side.hint("shuffle_hash"), "src")
    p = plan_of(scatter)
    # the edges scan is bucketed…
    assert "Bucketed: true" in p
    # …and the plan has NO Exchange at all: edges AND sub_deg share the
    # same bucketing on src, so the scatter join is fully co-located
    # (in the live loop only the vertex-sized rank state shuffles)
    n_exchanges = sum(
        1 for line in p.splitlines() if line.strip().split(" ", 2)[1:2] == ["Exchange"]
    )
    assert n_exchanges == 0, p
