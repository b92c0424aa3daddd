"""Round-4 items (VERDICT r3 / ADVICE r3): literal LSH hyperplanes,
blocked gated cosine_topk, tie-robust top-k preselection, exact near-dup
default, stale tag-dict drop on re-prepare, gated prepared restart path,
workset-compatible LP micro-batching, auto superstep batch size, and
very-late streaming session rows."""

from __future__ import annotations

import datetime as dt
import time

from pyspark.sql import functions as F

from .conftest import powerlaw_graph
from .test_plans import plan_of

SF_DIR = "/root/testdata/sf0.001"


# -- LSH hyperplanes as driver-side literals (VERDICT r3 #2) -------------------


def test_hyperplane_weights_bit_identical_to_engine_md5(spark):
    """hashlib.md5 on the driver must reproduce the exact doubles the old
    per-row conv(substring(md5(...))) expression produced — the DuckDB
    oracle still runs that construction."""
    from gelly_partitioning_spark.functions.similarity import _hyperplane_weights

    for plane in (0, 7, 31):
        w = _hyperplane_weights(plane, 5)
        row = spark.range(1).select(
            *[
                (
                    F.conv(
                        F.substring(F.md5(F.lit(f"plane{plane}:{d}")), 1, 8), 16, 10
                    ).cast("double")
                    / F.lit(float(16**8))
                    - 0.5
                ).alias(f"w{d}")
                for d in range(5)
            ]
        ).first()
        assert [row[f"w{d}"] for d in range(5)] == w


def test_hyperplane_sign_has_no_per_row_md5(spark):
    from gelly_partitioning_spark.functions.similarity import _hyperplane_sign

    expr = _hyperplane_sign(F.col("v"), 3, 16)
    s = str(expr).lower()
    assert "md5" not in s and "sequence" not in s


# -- tie-robust top-k preselection (ADVICE r3 #5) ------------------------------


def test_topk_sees_all_rounded_ties_at_boundary(spark):
    """13 candidates tie in raw score at the k boundary (and 12 tie at the
    top for the duplicate queries) — far beyond the fixed slack of 8. The
    numpy and blocked flavors must still rank the smallest-id neighbors
    in, exactly like the SQL/DuckDB window."""
    from gelly_partitioning_spark.functions import cosine_topk

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 0.0, 0.0])]
    rows += [(i, [0.0, 1.0, 0.0, 0.0]) for i in range(2, 15)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").cache()
    want = {
        (r["id"], r["neighbor"], r["rk"])
        for r in cosine_topk(df, k=3, implementation="sql").collect()
    }
    for impl, kw in [("numpy", {}), ("blocked", {"shard_bytes": 128})]:
        got = {
            (r["id"], r["neighbor"], r["rk"])
            for r in cosine_topk(df, k=3, implementation=impl, **kw).collect()
        }
        assert got == want, impl


# -- exact default for embedding near-dup (ADVICE r3 #4) -----------------------


def test_embedding_near_dup_default_is_exact(spark):
    from gelly_partitioning_spark.functions import embedding_near_duplicates

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(40).cache()
    default = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(emb, min_cos=0.3).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_duplicates(emb, min_cos=0.3, method="exact").collect()
    }
    assert default == exact  # recall 1 unless the caller opts into LSH


# -- re-saving a layout name replaces every table of it ----------------------


def test_resave_replaces_every_layout_table(spark, hub_graph, cc_graph, tmp_path):
    """A name re-saved over another graph's layout keeps none of the old
    routing rows, sub-vertices or vertex table: the restart answers for
    the new graph."""
    from gelly_partitioning_spark import connected_components
    from gelly_partitioning_spark.sources import (
        load_prepared_graph,
        save_prepared_graph,
    )

    base = str(tmp_path / "store")
    save_prepared_graph(hub_graph, name="resave", base_path=base, threshold=2, buckets=4)
    save_prepared_graph(cc_graph, name="resave", base_path=base, threshold=2, buckets=4)
    reloaded = load_prepared_graph(spark, "resave")
    assert reloaded.edges.count() == 2 * cc_graph.count()
    assert {r["tag"] for r in reloaded.vertices.collect()} == {"1", "2", "3", "4"}
    vids = {r["vid"] for r in reloaded.vertices.collect()}
    assert {r["tag"] for r in reloaded.sub_deg.collect()} == vids
    want = {
        r["id"]: r["component"]
        for r in connected_components(cc_graph, split=True, threshold=2).collect()
    }
    got = {
        r["id"]: r["component"]
        for r in connected_components(None, prepared=reloaded).collect()
    }
    assert got == want


# -- gated prepared restart path (VERDICT r3 #3) -------------------------------


def test_gated_pagerank_prepared_matches_plain_gate(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    want = {r["id"]: r["rank"] for r in qs["pagerank"](spark, SF_DIR).collect()}
    got = {r["id"]: r["rank"] for r in qs["pagerank_prepared"](spark, SF_DIR).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12


# -- LP micro-batching × workset (VERDICT r3 #5, ADVICE r3 #3) -----------------


def test_lp_batched_equals_unbatched_powerlaw(spark):
    from gelly_partitioning_spark import label_propagation

    g = powerlaw_graph(spark, n_edges=600, n_vertices=120).cache()
    want = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, split=True, threshold=8, max_iterations=8, workset=True,
            workset_ratio=1.0,
        ).collect()
    }
    got = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, split=True, threshold=8, max_iterations=8, workset=True,
            workset_ratio=1.0, superstep_batch=3,
        ).collect()
    }
    assert got == want


def test_lp_crossover_forces_single_step_batches(spark, community_graph):
    """With superstep_batch=3, the first boundary (no metrics yet) runs a
    full-scatter batch of 3; once the delta crossover engages, the runner
    must drop to k=1 so every delta superstep sees fresh changed counts."""
    from gelly_partitioning_spark import label_propagation
    from gelly_partitioning_spark.superstep import SuperstepRunner

    r = SuperstepRunner(spark)
    label_propagation(
        community_graph, split=False, max_iterations=7, workset=True,
        workset_ratio=1.0, superstep_batch=3, runner=r,
    )
    steps = [m.superstep for m in r.metrics]
    assert steps[0] == 3  # first batch: full scatter, chained 3
    assert all(b - a == 1 for a, b in zip(steps, steps[1:]))  # delta: k=1


# -- auto superstep batch size (VERDICT r3 #8) ---------------------------------


def test_choose_batch_size_chooser():
    from gelly_partitioning_spark.superstep import choose_batch_size

    assert choose_batch_size(0.1) == 16       # fast steps → cap
    assert choose_batch_size(1.0) == 3        # ~target/wall
    assert choose_batch_size(5.0) == 1        # slow steps stay unbatched
    assert choose_batch_size(0.0) == 16       # degenerate wall → cap
    assert choose_batch_size(0.5, target_sec=2.0, max_batch=8) == 4


def test_pagerank_auto_batch_matches_unbatched(spark, hub_graph):
    from gelly_partitioning_spark import pagerank
    from gelly_partitioning_spark.superstep import SuperstepRunner

    # single_task_budget_bytes=0: this test exercises the AUTO-batched
    # superstep loop, which the r6 single-task tier would bypass entirely
    # on a graph this small
    want = {
        r["id"]: r["rank"]
        for r in pagerank(
            hub_graph, fixed_iterations=8, threshold=2, single_task_budget_bytes=0
        ).collect()
    }
    r = SuperstepRunner(spark)
    got = {
        r2["id"]: r2["rank"]
        for r2 in pagerank(
            hub_graph, fixed_iterations=8, threshold=2, superstep_batch=0,
            runner=r, single_task_budget_bytes=0,
        ).collect()
    }
    assert got == want
    assert r._auto_k is not None and r._auto_k >= 1


# -- mid-regime deserialized storage of static checkpoints ---------------------


def test_deserialized_cache_fits_boundary():
    from pyspark.sql.types import LongType, StructField, StructType

    from gelly_partitioning_spark.superstep import (
        deserialized_cache_fits,
        estimate_row_bytes,
    )

    sch = StructType([StructField("src", LongType()), StructField("dst_tag", LongType())])
    width = estimate_row_bytes(sch)
    budget_rows = int(0.25 * (1 << 30) / (width * 3))
    assert deserialized_cache_fits(budget_rows, sch, None, heap_bytes=1 << 30)
    assert not deserialized_cache_fits(budget_rows + 1, sch, None, heap_bytes=1 << 30)


# -- IVF centroid-routed ANN tier (VERDICT r3 #4) ------------------------------


def test_ivf_recall_beats_lsh_at_equal_budget(spark):
    """The IVF tier's reason to exist: at an equal-or-smaller candidate
    budget than the (4,8) hyperplane LSH, centroid routing must recover
    at least as much of the exact top-k. Candidate budget = the ranked
    pair count with k=n (the full candidate set, no truncation)."""
    from gelly_partitioning_spark.functions import ann_lsh_topk, cosine_topk, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()
    n = emb.count()
    exact = {
        (r["id"], r["neighbor"])
        for r in cosine_topk(emb, k=3, implementation="numpy").collect()
    }
    ivf_kw = dict(n_centroids=16, nprobe=6, refine_iterations=1)
    lsh_kw = dict(n_planes=4, n_tables=8)
    ivf_budget = ivf_topk(emb, k=n, **ivf_kw).count()
    lsh_budget = ann_lsh_topk(emb, k=n, **lsh_kw).count()
    assert ivf_budget <= lsh_budget

    def recall(df):
        got = {(r["id"], r["neighbor"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    assert recall(ivf_topk(emb, k=3, **ivf_kw)) >= recall(
        ann_lsh_topk(emb, k=3, **lsh_kw)
    )


# -- real pure-stdlib codecs: PPM + WAV (VERDICT r3 #7) ------------------------


def _encode_ppm(w: int, h: int, pixels: bytes) -> bytes:
    return b"P6\n# test comment\n%d %d\n255\n" % (w, h) + pixels


def _encode_wav(samples, rate: int = 8000) -> bytes:
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(b"".join(struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_decode_ppm_roundtrip():
    from gelly_partitioning_spark.functions.multimodal import decode_ppm

    pixels = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    w, h, c, data, maxval = decode_ppm(_encode_ppm(2, 2, pixels))
    assert (w, h, c, maxval) == (2, 2, 3, 255)
    assert data == pixels
    gray = bytes([0, 128, 255, 64])
    w, h, c, data, maxval = decode_ppm(b"P5\n2 2\n255\n" + gray)
    assert (w, h, c, data, maxval) == (2, 2, 1, gray, 255)


def test_ppm_small_maxval_normalization():
    # ADVICE r4: a maxval=15 white pixel must read as 1.0, not 15/255
    from gelly_partitioning_spark.functions.multimodal import (
        _image_features,
        decode_ppm,
    )

    gray = bytes([15, 0, 15, 0])
    payload = b"P5\n2 2\n15\n" + gray
    w, h, c, data, maxval = decode_ppm(payload)
    assert maxval == 15
    feats = _image_features(payload, feature_dim=8)
    assert abs(feats[0] - 0.5) < 1e-12  # mean of [1,0,1,0]
    assert abs(feats[3] - 1.0) < 1e-12  # max sample = white = 1.0


def test_decode_wav_roundtrip():
    from gelly_partitioning_spark.functions.multimodal import decode_wav

    nch, rate, s = decode_wav(_encode_wav([0, 16384, -16384, 0], rate=8000))
    assert (nch, rate) == (1, 8000)
    assert list(s) == [0.0, 0.5, -0.5, 0.0]


def test_extract_features_real_codecs(spark):
    from gelly_partitioning_spark.functions import extract_features

    pixels = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    rows = [
        (1, "image", "image/x-portable-pixmap", 2, 2, 0, _encode_ppm(2, 2, pixels)),
        (2, "audio", "audio/wav", 0, 0, 500, _encode_wav([0, 16384, -16384, 0])),
    ]
    media = spark.createDataFrame(
        rows,
        "media_id long, kind string, mime string, width int, height int, "
        "duration_ms long, payload binary",
    )
    feats = {r["media_id"]: r["feature"] for r in extract_features(media, fake=False).collect()}
    # PPM: per-channel means are all (255+0+0+255)/4/255 = 0.5
    assert all(abs(v - 0.5) < 1e-12 for v in feats[1][:3])
    assert abs(feats[1][6] - 2 / 4096.0) < 1e-12  # width feature
    # WAV: rms = sqrt((0 + .25 + .25 + 0)/4), peak = 0.5
    assert abs(feats[2][0] - (0.125) ** 0.5) < 1e-12
    assert abs(feats[2][2] - 0.5) < 1e-12


def test_extract_features_unknown_mime_raises(spark):
    import pytest

    from gelly_partitioning_spark.functions import extract_features

    media = spark.createDataFrame(
        [(1, "image", "image/jpeg", 1, 1, 0, b"\xff\xd8\xff")],
        "media_id long, kind string, mime string, width int, height int, "
        "duration_ms long, payload binary",
    )
    with pytest.raises(Exception, match="no in-sandbox codec"):
        extract_features(media, fake=False).collect()


# -- very-late rows form their own streamed session (ADVICE r3 #2) -------------


def test_sessionize_stream_very_late_row_is_own_session(spark, tmp_path):
    from gelly_partitioning_spark.streaming import sessionize_stream

    base = dt.datetime(2026, 1, 1, 12, 0, 0)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    batch1 = [
        (1, base, 1, "a", 1.0, "{}"),
        (2, base + dt.timedelta(minutes=10), 1, "a", 1.0, "{}"),
    ]
    batch2 = [
        # VERY late: 4h older than the open session — its own session,
        # NOT absorbed via start=min
        (3, base - dt.timedelta(hours=4), 1, "a", 1.0, "{}"),
        (4, base + dt.timedelta(hours=1), 1, "a", 1.0, "{}"),  # closes s1
    ]
    src = tmp_path / "events"
    ckpt = tmp_path / "ckpt"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(str(src))
    time.sleep(1.1)
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_late")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(ckpt))
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("select * from sess_late").collect()
    }
    late = base - dt.timedelta(hours=4)
    assert got == {
        (1, late, late, 1),
        (1, base, base + dt.timedelta(minutes=10), 2),
    }
