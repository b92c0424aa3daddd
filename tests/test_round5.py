"""Round-5 items (VERDICT r4 / ADVICE r4): auto-K re-estimation, capped
tie-widening in top-k preselection, checkpoint-promotion unpersist, PPM
maxval normalization, prepared CC/LP driver gates, IVF prepared (cell-
bucketed) index, and watermarked streaming sessionization."""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


# -- auto batch K re-estimation (VERDICT r4 #4) --------------------------------


def test_auto_k_adapts_to_wall_drift():
    """Realistic (k, wall) sequence, k following the chosen K: a slow
    warm-up batch must not pin a tiny K for the whole run, and a mid-run
    slowdown must shrink K on the next batch."""
    from gelly_partitioning_spark.superstep import SuperstepRunner

    r = SuperstepRunner(spark=None, auto_batch_target_sec=3.0)
    # warm-up batch: 3 s/superstep -> K = 1
    r.observe_batch(1, 3.0)
    assert r._auto_k == 1
    # the next k=1 batch is 12x faster -> K follows it at once
    r.observe_batch(1, 0.25)
    assert r._auto_k == 12
    # k=12 at the same 0.25 s/superstep: the fit (a=0, b=0.25) keeps K
    r.observe_batch(12, 3.0)
    assert r._auto_k == 12
    # machine window degrades >2x (predicted 3 s, measured 18 s): the fit
    # restarts from this batch and K shrinks for the next one
    r.observe_batch(12, 18.0)
    assert r._fit is None
    assert r._auto_k == 2


def test_auto_k_periodic_reestimate():
    """K is re-derived after every batch: a slow creep that stays within
    2x of the wall that set K still moves K on the next batch, and each
    new cheapest wall refits it."""
    from gelly_partitioning_spark.superstep import SuperstepRunner

    r = SuperstepRunner(spark=None, auto_batch_target_sec=3.0)
    ks = []
    for k, wall in [(1, 3.0), (1, 2.0), (1, 1.5), (2, 2.5), (2, 1.75), (7, 3.0)]:
        r.observe_batch(k, wall)
        ks.append(r._auto_k)
    # k=1 batches: K = target / wall each time (1.5 s -> 2); two batch
    # sizes: fit a=0.5, b=1.0 -> K=2; a cheaper k=2 batch refits a=1.25,
    # b=0.25 -> K=7; a k=7 batch on the model keeps it
    assert ks == [1, 1, 2, 2, 7, 7]
    assert r._fit == (1.25, 0.25)


# -- capped tie widening in _topk_indices (VERDICT r4 nit #3) ------------------


def test_topk_indices_all_equal_scores_capped():
    """Pathological all-equal scores: the widening pull would otherwise be
    the whole corpus; the cap falls back to one explicit full sort and the
    smallest ids still win."""
    import numpy as np

    from gelly_partitioning_spark.functions.similarity import _topk_indices

    n = 5000
    s = np.full(n, 0.5)
    rids = np.arange(n)[::-1].copy()  # ids descending so order matters
    s[7] = -np.inf  # a self row
    order = _topk_indices(s, rids, take=3, valid=n - 1)
    assert [rids[j] for j in order] == [0, 1, 2]


def test_topk_indices_tie_still_exact_below_cap():
    import numpy as np

    from gelly_partitioning_spark.functions.similarity import _topk_indices

    s = np.array([0.9] + [0.5] * 40 + [0.1])
    rids = np.arange(42)
    order = _topk_indices(s, rids, take=3, valid=42)
    assert [rids[j] for j in order] == [0, 1, 2]


# -- watermarked streaming sessionization (VERDICT r4 #6) ----------------------


def test_sessionize_stream_watermark_matches_batch_on_filtered_input(spark, tmp_path):
    """With a watermark, a row more than watermark_minutes behind the
    user's max prior event time is dropped — and the stream's closed
    sessions equal the batch flavor run on the watermark-filtered input
    (the bounded-divergence contract)."""
    import datetime as dt
    import time

    from gelly_partitioning_spark.streaming import sessionize, sessionize_stream

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    m = lambda k: base + dt.timedelta(minutes=k)  # noqa: E731
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = [
        (1, m(0), 1, "a", 1.0, "{}"),
        (2, m(10), 1, "a", 1.0, "{}"),
        (3, m(100), 1, "a", 1.0, "{}"),  # closes [0,10], opens @100
    ]
    batch2 = [
        (4, m(20), 1, "a", 1.0, "{}"),   # 80 min behind end=100 > wm=60: DROPPED
        (5, m(90), 1, "a", 1.0, "{}"),   # 10 min behind: kept, merges into @100
        (6, m(200), 1, "a", 1.0, "{}"),  # closes [90,100], opens @200
    ]
    src, ckpt = tmp_path / "events", tmp_path / "ckpt"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(str(src))
    time.sleep(1.1)  # distinct mtimes → deterministic two-batch order
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, watermark_minutes=60)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_wm")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sess_wm").collect()
    }

    # batch oracle over the input MINUS the dropped row; closed = all but
    # the last session per user
    kept = [e for e in batch1 + batch2 if e[0] != 4]
    sess = sorted(
        sessionize(spark.createDataFrame(kept, schema), gap_minutes=30).collect(),
        key=lambda r: (r["user_id"], r["session_start"]),
    )
    want = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in sess[:-1]
    }
    assert got == want
    # the dropped row surfaces nowhere (no single-event session at t+20)
    assert not any(s == m(20) for _, s, _, _ in got)


# -- IVF prepared (cell-bucketed) index (VERDICT r4 #2) ------------------------


def test_ivf_prepared_matches_recompute(spark, tmp_path):
    from gelly_partitioning_spark.functions import ivf_topk
    from gelly_partitioning_spark.sources.ann_store import (
        load_prepared_index,
        save_prepared_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(120).cache()
    want = {
        (r["id"], r["neighbor"], r["rk"], r["cos"])
        for r in ivf_topk(emb, k=3, n_centroids=8, nprobe=3).collect()
    }
    prep = save_prepared_index(
        emb, name="t5_ivf", base_path=str(tmp_path / "ivf"), n_centroids=8, buckets=4
    )
    got = {
        (r["id"], r["neighbor"], r["rk"], r["cos"])
        for r in ivf_topk(emb, k=3, nprobe=3, prepared=prep).collect()
    }
    assert got == want
    # reload-by-name round trip + prune=False flavor agree too
    prep2 = load_prepared_index(spark, "t5_ivf")
    got2 = {
        (r["id"], r["neighbor"], r["rk"], r["cos"])
        for r in ivf_topk(emb, k=3, nprobe=3, prepared=prep2, prune=False).collect()
    }
    assert got2 == want


def test_ivf_prepared_with_refine_matches_recompute(spark, tmp_path):
    """The spherical-k-means-refined quantizer persists identically too
    (refine_iterations is baked into the layout, like n_centroids)."""
    from gelly_partitioning_spark.functions import ivf_topk
    from gelly_partitioning_spark.sources.ann_store import save_prepared_index

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(60).cache()
    want = {
        (r["id"], r["neighbor"], r["rk"], r["cos"])
        for r in ivf_topk(
            emb, k=2, n_centroids=4, nprobe=2, refine_iterations=1
        ).collect()
    }
    prep = save_prepared_index(
        emb, name="t5_ivf_ref", base_path=str(tmp_path / "ivfr"), n_centroids=4,
        refine_iterations=1, buckets=2,
    )
    got = {
        (r["id"], r["neighbor"], r["rk"], r["cos"])
        for r in ivf_topk(emb, k=2, nprobe=2, prepared=prep).collect()
    }
    assert got == want


def test_ivf_prepared_probe_join_no_corpus_exchange(spark, tmp_path):
    """The index guarantee: the probe join consumes the cell-bucketed
    assignment scan directly — zero Exchange on the corpus side (the
    query-sized probe side is the only shuffle), and the probed-cell
    pushdown reaches the scan."""
    from pyspark.sql import functions as F

    from gelly_partitioning_spark.sources.ann_store import save_prepared_index

    from .test_plans import plan_of

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(80)
    prep = save_prepared_index(
        emb, name="t5_ivf_plan", base_path=str(tmp_path / "ivfp"), n_centroids=8,
        buckets=4,
    )
    cells = [r["cell"] for r in prep.assign.select("cell").distinct().limit(2).collect()]
    probe_side = prep.centroids.select(
        F.col("cid").alias("cell"), F.lit(0).alias("qid")
    )
    j = prep.assign.filter(F.col("cell").isin(cells)).join(
        probe_side.hint("shuffle_hash"), "cell"
    )
    p = plan_of(j)
    assert "Bucketed: true" in p
    # the probed-cell pushdown prunes whole BUCKETS off the scan
    assert "SelectedBucketsCount: 2 out of" in p, p
    # exactly ONE exchange — the query-sized probe side shuffling to the
    # bucket count; the corpus-sized assignment scan exchanges nothing.
    # Count the detail-section headers ("(6) Exchange"), not the tree
    # rows, so each node is counted once.
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, flags=re.M))
    assert n_exchanges == 1, p
    # the probed-cell restriction is pushed into the parquet scan, where
    # the sortBy('cell') row-group stats make it skip non-probed buckets
    assert any("PushedFilters" in l and "cell" in l for l in p.splitlines()), p
