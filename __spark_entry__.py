"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship query (split-path PageRank on the skewed
                     part–supplier link graph) at sf0.001.
``queries()``      — one callable per implemented operator (SURVEY.md §2),
                     each (spark, sf_dir) -> DataFrame.
``oracle_sql()``   — DuckDB-equivalent ANSI SQL per query key.

Cross-engine value conventions (so the driver's order-insensitive
value-hash matches):
- every aggregate/computed column is aliased identically on both sides;
- exact-rational results (Jaccard, ratios) are emitted as *integer*
  numerator/denominator counts — bit-exact in any engine;
- generic doubles (PageRank mass, cosine) are emitted as
  ``CAST(CAST(x AS DECIMAL(18,6)) AS DOUBLE)``: the Spark and SQL
  expression trees are written identically, so the pre-cast doubles are
  IEEE-identical; the decimal cast fixes the rounding convention at 6
  decimals (proven string-equal across engines) and the outer double cast
  hands the driver's hasher the same float64 bits from both engines
  (Decimal objects vs floats render differently, e.g. ``0.000071`` vs
  ``7.1e-05`` — the round-1 hash_match failures);
- portable hashing uses md5/sha2 hex (identical in Spark and DuckDB) —
  never engine-specific hash functions.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent))

from gelly_partitioning_spark import (  # noqa: E402
    connected_components,
    degree_count,
    jaccard,
    pagerank,
    skew_census,
    triangle_count,
    triangle_count_long_pairs,
)
from gelly_partitioning_spark.functions import (  # noqa: E402
    cosine_topk,
    fingerprint,
    language_id,
    minhash_lsh_candidates,
    quality_score,
    token_count,
    token_jaccard_pairs,
)

# ---------------------------------------------------------------------------
# Shared edge derivations (Spark + SQL must match token-for-token)
# ---------------------------------------------------------------------------


def _dec6(col):
    """Order-robust double emission: round via DECIMAL(18,6) (HALF_UP, the
    convention the DuckDB oracle reproduces exactly), then back to DOUBLE so
    both engines hand the driver identical float64 values."""
    return col.cast("decimal(18,6)").cast("double")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def ps_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed bipartite part–supplier link graph from lineitem.

    Suppliers are natural hubs (each supplies ~#parts/#suppliers parts) —
    the regime the Split-Merge kernel exists for.
    SQL twin: PS_EDGES_SQL.
    """
    li = _lineitem(spark, sf_dir)
    return (
        li.select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
        .withColumn("w", F.lit(1.0))
    )


PS_EDGES_SQL = (
    "SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src, "
    "'s' || CAST(l_suppkey AS VARCHAR) AS dst FROM lineitem"
)


def cooc_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence graph: parts appearing in the same order, canonical
    (src < dst), deduped — the repo-path co-occurrence shape of the
    engine's native corpus, on driver data. SQL twin: COOC_EDGES_SQL.

    Physically the pair join/distinct runs on the raw integer part keys
    (8-byte shuffle keys) and the 'p…' strings are minted once per
    DISTINCT pair afterward — the orientation filter compares the CAST
    string forms, so ('p'||a < 'p'||b) ⟺ (cast(a) < cast(b)) and the
    result set is token-identical to COOC_EDGES_SQL (concat with a fixed
    prefix is injective and order-preserving over equal prefixes)."""
    li = _lineitem(spark, sf_dir).select(
        "l_orderkey", F.col("l_partkey").cast("long").alias("pk")
    )
    # one shuffle (groupBy orderkey) + in-row pair generation instead of
    # the equivalent self-join (which pays the same exchange plus a sort
    # and merge); collect_set order is irrelevant — every a<b combination
    # is emitted and the global distinct fixes the set
    grp = li.groupBy("l_orderkey").agg(F.collect_set("pk").alias("ps"))
    pairs = (
        grp.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "ps",
                        lambda a: F.filter(
                            F.transform(
                                "ps", lambda b: F.struct(a.alias("ka"), b.alias("kb"))
                            ),
                            lambda s: s["ka"].cast("string") < s["kb"].cast("string"),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.ka").alias("ka"), F.col("p.kb").alias("kb"))
        .distinct()
    )
    return pairs.select(
        F.concat(F.lit("p"), F.col("ka").cast("string")).alias("src"),
        F.concat(F.lit("p"), F.col("kb").cast("string")).alias("dst"),
    ).withColumn("w", F.lit(1.0))


COOC_EDGES_SQL = (
    "SELECT DISTINCT a.p AS src, b.p AS dst FROM "
    "(SELECT l_orderkey, 'p' || CAST(l_partkey AS VARCHAR) AS p FROM lineitem) a "
    "JOIN (SELECT l_orderkey, 'p' || CAST(l_partkey AS VARCHAR) AS p FROM lineitem) b "
    "ON a.l_orderkey = b.l_orderkey AND a.p < b.p"
)

_UND_SQL = (
    f"e AS ({PS_EDGES_SQL}), "
    "und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e)"
)


def lp_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same part–supplier graph with *numeric string* ids (suppliers offset
    by 10^6) so community-detection labels are portable longs in both
    engines (the engine's label0 = CAST(tag AS LONG); the reference's
    labels are Long vertex ids, CommunityDetection.java:135-140).
    SQL twin: LP_EDGES_SQL."""
    li = _lineitem(spark, sf_dir)
    return (
        li.select(
            F.col("l_partkey").cast("long").cast("string").alias("src"),
            (F.col("l_suppkey").cast("long") + F.lit(1000000)).cast("string").alias("dst"),
        )
        .distinct()
        .withColumn("w", F.lit(1.0))
    )


LP_EDGES_SQL = (
    "SELECT DISTINCT CAST(l_partkey AS VARCHAR) AS src, "
    "CAST(l_suppkey + 1000000 AS VARCHAR) AS dst FROM lineitem"
)


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: split-path PageRank over the skewed part–supplier graph.

    Set ``SPARK_GRAFT_CHECKPOINT_DIR`` to make the run resumable: every 5
    supersteps the state snapshots to parquet with a fingerprinted
    manifest, and a re-invocation with the same dir resumes mid-iteration
    (the north rule's resumability clause, driver-observable — kill this
    process after a snapshot and call entry() again to continue).
    """
    import os

    from gelly_partitioning_spark.superstep import SuperstepRunner

    edges = ps_edges(spark, "/root/testdata/sf0.001")
    ckpt = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    runner = SuperstepRunner(spark, checkpoint_dir=ckpt) if ckpt else None
    pr = pagerank(
        edges, tol=1e-6, max_iterations=60, split=True, threshold=64, runner=runner
    )
    return pr.select("id", _dec6(F.col("rank")).alias("rank"))


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------


def _q_degree(spark, sf_dir):
    return degree_count(ps_edges(spark, sf_dir), split=True, threshold=64, alpha=2, level=6)


def _q_cc(spark, sf_dir):
    return connected_components(
        ps_edges(spark, sf_dir), split=True, threshold=64, alpha=2, level=6, max_iterations=60
    )


def _q_pagerank(spark, sf_dir):
    pr = pagerank(
        ps_edges(spark, sf_dir), fixed_iterations=10, split=True, threshold=64, alpha=2, level=6
    )
    return pr.select("id", _dec6(F.col("rank")).alias("rank"))


def _q_pagerank_prepared(spark, sf_dir):
    # the RESTART path, driver-gated (VERDICT r3 #3): persist the bucketed
    # split layout once (save_prepared_graph — the engine's answer to the
    # reference's re-read-and-re-split on every run,
    # AlphaNodeSplitting.java:256-273), then run PageRank from the
    # PreparedGraph handle: the bucketed scan carries
    # HashPartitioning(src), so the edge side never exchanges, cold start
    # included (plan-asserted in test_graph_store.py). Ranks are invariant
    # under the layout, so the oracle is the same unrolled PageRank SQL.
    from gelly_partitioning_spark.sources.graph_store import save_prepared_graph

    prep = save_prepared_graph(
        ps_edges(spark, sf_dir),
        name="gate_prepared_ps",
        base_path="/tmp/gps_gate_prepared",
        threshold=64,
        alpha=2,
        level=6,
        buckets=32,
    )
    pr = pagerank(None, fixed_iterations=10, prepared=prep)
    return pr.select("id", _dec6(F.col("rank")).alias("rank"))


def _q_cc_prepared(spark, sf_dir):
    # CC over the persisted bucketed restart layout (VERDICT r4 #5).
    # Components are invariant under the layout, so the oracle is the
    # same recursive CTE.
    from gelly_partitioning_spark.sources.graph_store import save_prepared_graph

    prep = save_prepared_graph(
        ps_edges(spark, sf_dir),
        name="gate_prepared_cc",
        base_path="/tmp/gps_gate_prepared_cc",
        threshold=64,
        alpha=2,
        level=6,
        buckets=32,
    )
    return connected_components(None, prepared=prep, max_iterations=60)


def _q_community_prepared(spark, sf_dir):
    # LP over the persisted bucketed restart layout (VERDICT r4 #5).
    # Labels are invariant under the layout, so the oracle is the same
    # unrolled LP SQL.
    from gelly_partitioning_spark import label_propagation
    from gelly_partitioning_spark.sources.graph_store import save_prepared_graph

    prep = save_prepared_graph(
        lp_edges(spark, sf_dir),
        name="gate_prepared_lp",
        base_path="/tmp/gps_gate_prepared_lp",
        threshold=64,
        alpha=2,
        level=6,
        buckets=32,
    )
    lp = label_propagation(None, delta=0.5, max_iterations=5, prepared=prep)
    return lp.select("id", F.col("label").cast("long").alias("label"))


def _q_skew_census(spark, sf_dir):
    return skew_census(ps_edges(spark, sf_dir), threshold=100)


def _cooc_raw_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The co-occurrence pair stream BEFORE the global distinct and the
    string minting: (s, d) long part keys, s < d numerically, one row
    per per-order pair (cross-order duplicates remain). Feeds the
    triangle count only — the count depends solely on the distinct
    UNORDERED pair set, which is identical to cooc_edges' (orientation
    convention and id spelling cannot change which unordered pairs
    exist), so the raw stream lets triangle_count_long_pairs dedup
    in-task instead of paying the distinct Exchange + string mint that
    the declared cooc_edges schema needs."""
    li = _lineitem(spark, sf_dir).select(
        "l_orderkey", F.col("l_partkey").cast("long").alias("pk")
    )
    grp = li.groupBy("l_orderkey").agg(F.collect_set("pk").alias("ps"))
    return grp.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ps",
                    lambda a: F.filter(
                        F.transform(
                            "ps", lambda b: F.struct(a.alias("ka"), b.alias("kb"))
                        ),
                        lambda s: s["ka"] < s["kb"],
                    ),
                )
            )
        ).alias("p")
    ).select(F.col("p.ka").alias("s"), F.col("p.kb").alias("d"))


def _q_triangle(spark, sf_dir):
    # the count depends only on the distinct unordered pair set, so the
    # tier consumes the RAW long-keyed pair stream and dedups in-task
    # (no distinct Exchange, no string mint, no hash probe); above the
    # budget triangle_count_long_pairs falls back to the generic
    # stringified pipeline — identical count, oracle unchanged
    return triangle_count_long_pairs(_cooc_raw_pairs(spark, sf_dir))


def _q_jaccard(spark, sf_dir):
    # integer numerator/denominator — exact across engines; common
    # neighbors via the degree-oriented triangle enumeration (bounded by
    # degeneracy², not hub² — see algorithms/jaccard.py); the oracle keeps
    # the naive wedge self-join as the semantic twin
    from gelly_partitioning_spark.algorithms.jaccard import edge_common_neighbors
    from gelly_partitioning_spark.graph import canonical_edges, degrees

    edges = cooc_edges(spark, sf_dir)
    canon = canonical_edges(edges).withColumn("w", F.lit(1.0))
    deg = degrees(canon)
    common = edge_common_neighbors(canon.select("src", "dst")).withColumnRenamed(
        "common", "common_cnt"
    )
    return (
        canon.select("src", "dst")
        .join(common, ["src", "dst"], "left")
        .join(deg.withColumnRenamed("id", "src").withColumnRenamed("degree", "sd"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("degree", "dd"), "dst")
        .select(
            "src",
            "dst",
            F.coalesce("common_cnt", F.lit(0)).cast("long").alias("common_cnt"),
            (F.col("sd") + F.col("dd") - F.coalesce("common_cnt", F.lit(0))).cast("long").alias("union_cnt"),
        )
    )


def _q_token_count(spark, sf_dir):
    return token_count(_documents(spark, sf_dir))


def _q_quality(spark, sf_dir):
    q = quality_score(_documents(spark, sf_dir))
    return q.select("doc_id", "n_chars", "n_tokens", _dec6(F.col("quality")).alias("quality"))


def _q_lang_id(spark, sf_dir):
    return language_id(_documents(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return fingerprint(_documents(spark, sf_dir))


def _q_dedup_exact(spark, sf_dir):
    d = _documents(spark, sf_dir)
    return (
        d.select(F.sha2(F.col("text"), 256).alias("sha"))
        .groupBy("sha")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def _q_token_jaccard(spark, sf_dir):
    # gated on the SCALE path: prefix-filtered candidate generation +
    # exact verification (see token_jaccard_pairs docstring); the naive
    # inverted-index SQL oracle is the semantic twin — results identical
    return token_jaccard_pairs(
        _documents(spark, sf_dir),
        min_jaccard=0.75,
        prefix_filter=True,
        emit_counts=True,
    )


def _q_minhash(spark, sf_dir):
    return minhash_lsh_candidates(
        _documents(spark, sf_dir), num_hashes=8, bands=4, shingle_n=3
    )


def _q_cosine_topk(spark, sf_dir):
    # gated on the exact SCALE path: the blocked (query-block × ref-block)
    # grid cogroup — CartesianProduct-free (plan-asserted in test_plans),
    # no broadcast, no serial driver loop. Bit-identical to the quadratic
    # 'sql' flavor (the declared oracle twin, now test-only), which stays
    # the DuckDB oracle below.
    t = cosine_topk(_embeddings(spark, sf_dir), k=3, implementation="blocked")
    return t.select("id", "neighbor", _dec6(F.col("cos")).alias("cos"), "rk")


def _q_cosine_topk_blocked(spark, sf_dir):
    # the exact SCALE path: (query-block × ref-block) grid cogroup — all
    # cells run concurrently, no broadcast, no serial driver loop; small
    # block_bytes forces a real multi-cell grid even at sf0.01. Same
    # oracle as cosine_topk (the algorithm is exact).
    t = cosine_topk(
        _embeddings(spark, sf_dir), k=3, implementation="blocked",
        shard_bytes=64 << 10,
    )
    return t.select("id", "neighbor", _dec6(F.col("cos")).alias("cos"), "rk")


def _q_windowed_events(spark, sf_dir):
    from gelly_partitioning_spark.streaming import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, window="1 hour")
    return out.select(
        "window_start", "event_type", "n_events", _dec6(F.col("sum_value")).alias("sum_value")
    )


def _q_community(spark, sf_dir):
    from gelly_partitioning_spark import label_propagation

    lp = label_propagation(
        lp_edges(spark, sf_dir),
        delta=0.5,
        max_iterations=5,
        split=True,
        threshold=64,
        alpha=2,
        level=6,
        # micro-batching is workset-compatible since r4 (the runner drops
        # to k=1 exactly while the delta crossover is engaged) — gate it
        superstep_batch=2,
    )
    return lp.select("id", F.col("label").cast("long").alias("label"))


def _q_simhash(spark, sf_dir):
    from gelly_partitioning_spark.functions import simhash

    return simhash(_documents(spark, sf_dir))


def _q_neighborhoods(spark, sf_dir):
    # as_string: the sorted neighbor set is emitted as a ','-joined scalar
    # (plus its cardinality) — array cells are unhashable for the driver's
    # pandas row canonicalizer; same collect_set split-merge underneath
    from gelly_partitioning_spark.algorithms import neighbor_sets

    return neighbor_sets(
        ps_edges(spark, sf_dir), split=True, threshold=64, alpha=2, level=6,
        as_string=True,
    )


def _q_ann_lsh(spark, sf_dir):
    from gelly_partitioning_spark.functions import ann_lsh_topk

    t = ann_lsh_topk(_embeddings(spark, sf_dir), k=3, n_planes=4, n_tables=8)
    return t.select("id", "neighbor", _dec6(F.col("cos")).alias("cos"), "rk")


def _q_ivf_topk(spark, sf_dir):
    # the centroid-routed ANN tier between blocked-exact and hyperplane
    # LSH: deterministic md5-sampled centroids (portable — the oracle
    # reproduces the identical quantizer), nearest-cell assignment with
    # the dec6 argmax convention, nprobe-cell candidate join, exact
    # rescoring. refine=0 flavor is the SQL-expressible one.
    from gelly_partitioning_spark.functions import ivf_topk

    t = ivf_topk(_embeddings(spark, sf_dir), k=3, n_centroids=16, nprobe=4)
    return t.select("id", "neighbor", _dec6(F.col("cos")).alias("cos"), "rk")


def _q_ivf_prepared(spark, sf_dir):
    # the similarity-tier restart path (VERDICT r4 #2): quantize once,
    # persist the assignment cell-bucketed (save_prepared_index — the
    # PreparedGraph analog), then probe through the handle: the corpus
    # side of the probe join is a bucketed scan (zero Exchange,
    # plan-asserted in test_round5.py) with the probed-cell set pushed
    # down. Results are bit-identical to the recompute path, so the
    # oracle is the same IVF SQL.
    from gelly_partitioning_spark.functions import ivf_topk
    from gelly_partitioning_spark.sources.ann_store import save_prepared_index

    emb = _embeddings(spark, sf_dir)
    prep = save_prepared_index(
        emb,
        name="gate_prepared_ivf",
        base_path="/tmp/gps_gate_prepared_ivf",
        n_centroids=16,
        buckets=16,
    )
    t = ivf_topk(emb, k=3, nprobe=4, prepared=prep)
    return t.select("id", "neighbor", _dec6(F.col("cos")).alias("cos"), "rk")


def _q_ngram_jaccard(spark, sf_dir):
    from gelly_partitioning_spark.functions import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _documents(spark, sf_dir),
        n=3,
        min_jaccard=0.5,
        prefix_filter=True,
        emit_counts=True,
    )


def _q_embedding_near_dup(spark, sf_dir):
    # gated on the SCALE path: LSH-bucketed candidates → exact ≥ min_cos
    # verify, never all-pairs (plan-asserted cartesian-free); the DuckDB
    # oracle reproduces the md5 hyperplanes so both engines see the
    # identical candidate set
    from gelly_partitioning_spark.functions import embedding_near_duplicates

    e = embedding_near_duplicates(
        _embeddings(spark, sf_dir), min_cos=0.4, method="lsh", n_planes=4, n_tables=8
    )
    return e.select("id_a", "id_b", _dec6(F.col("cos")).alias("cos"))


def _q_sessionize(spark, sf_dir):
    from gelly_partitioning_spark.streaming import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_minutes=30)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "degree_count": _q_degree,
        "connected_components": _q_cc,
        "pagerank": _q_pagerank,
        "pagerank_prepared": _q_pagerank_prepared,
        "cc_prepared": _q_cc_prepared,
        "community_prepared": _q_community_prepared,
        "skew_census": _q_skew_census,
        "triangle_count": _q_triangle,
        "jaccard": _q_jaccard,
        "token_count": _q_token_count,
        "quality_score": _q_quality,
        "language_id": _q_lang_id,
        "doc_fingerprint": _q_fingerprint,
        "dedup_exact": _q_dedup_exact,
        "token_jaccard_near_dup": _q_token_jaccard,
        "minhash_lsh": _q_minhash,
        "cosine_topk": _q_cosine_topk,
        "cosine_topk_blocked": _q_cosine_topk_blocked,
        "ann_lsh_topk": _q_ann_lsh,
        "ivf_topk": _q_ivf_topk,
        "ivf_topk_prepared": _q_ivf_prepared,
        "windowed_event_counts": _q_windowed_events,
        "sessionize": _q_sessionize,
        "community_detection": _q_community,
        "simhash": _q_simhash,
        "vertex_neighborhoods": _q_neighborhoods,
        "ngram_jaccard_near_dup": _q_ngram_jaccard,
        "embedding_near_dup": _q_embedding_near_dup,
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB)
# ---------------------------------------------------------------------------


def _pagerank_sql(iterations: int = 10, damping: float = 0.85) -> str:
    parts = [
        f"WITH {_UND_SQL}",
        "verts AS (SELECT DISTINCT src AS id FROM und)",
        "deg AS (SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src)",
        "n AS (SELECT COUNT(*) AS cnt FROM verts)",
        "r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / (SELECT cnt FROM n) AS r FROM verts)",
    ]
    for k in range(1, iterations + 1):
        prev = f"r{k - 1}"
        parts.append(
            f"r{k} AS (SELECT v.id, (CAST(1.0 AS DOUBLE) - {damping}) / (SELECT cnt FROM n) "
            f"+ {damping} * COALESCE(m.mass, CAST(0.0 AS DOUBLE)) AS r FROM verts v LEFT JOIN ("
            f"SELECT und.dst AS id, SUM({prev}.r / deg.degree) AS mass FROM und "
            f"JOIN {prev} ON und.src = {prev}.id JOIN deg ON und.src = deg.id "
            f"GROUP BY und.dst) m ON v.id = m.id)"
        )
    parts_sql = ", ".join(parts[1:])
    return (
        parts[0] + ", " + parts_sql +
        f" SELECT id, CAST(CAST(r AS DECIMAL(18,6)) AS DOUBLE) AS rank FROM r{iterations}"
    )


def _community_sql(iterations: int = 5, delta: float = 0.5) -> str:
    """Unrolled weighted-label-propagation oracle (like _pagerank_sql).

    Per-superstep semantics mirror label_propagation token-for-token
    (library/CommunityDetection.java:58-112): sum/max per (vertex, label),
    argmax with smallest-label tie-break, delta/i decay on label change,
    no-message keeps old state. Decay constants are Python-computed repr
    literals so both engines parse the identical double. The argmax ranks
    on the dec6-rounded sum (both engines): float64 partial-agg order is
    nondeterministic, and a raw-double argmax could flip discrete labels
    on near-tied sums."""
    parts = [
        f"WITH le AS ({LP_EDGES_SQL})",
        "und AS (SELECT src, dst FROM le UNION ALL SELECT dst AS src, src AS dst FROM le)",
        "s0 AS (SELECT DISTINCT src AS id, CAST(src AS BIGINT) AS label, "
        "CAST(1.0 AS DOUBLE) AS score FROM und)",
    ]
    for k in range(1, iterations + 1):
        prev = f"s{k - 1}"
        decay = repr(delta / k)
        parts.append(
            f"p{k} AS (SELECT und.dst AS id, s.label, "
            f"SUM(s.score * CAST(1.0 AS DOUBLE)) AS sum_s, "
            f"MAX(s.score * CAST(1.0 AS DOUBLE)) AS max_s "
            f"FROM und JOIN {prev} s ON und.src = s.id GROUP BY und.dst, s.label)"
        )
        parts.append(
            f"b{k} AS (SELECT id, label AS new_label, max_s AS new_max FROM ("
            f"SELECT id, label, max_s, ROW_NUMBER() OVER (PARTITION BY id "
            f"ORDER BY COALESCE(CAST(TRY_CAST(sum_s AS DECIMAL(38,6)) AS DOUBLE), sum_s) DESC, "
            f"label ASC) AS rn "
            f"FROM p{k}) t WHERE rn = 1)"
        )
        parts.append(
            f"s{k} AS (SELECT s.id, COALESCE(b.new_label, s.label) AS label, "
            f"CASE WHEN b.new_label IS NULL THEN s.score "
            f"WHEN b.new_label <> s.label THEN b.new_max - {decay} "
            f"ELSE b.new_max END AS score "
            f"FROM {prev} s LEFT JOIN b{k} b ON s.id = b.id)"
        )
    return (
        ", ".join(parts) + f" SELECT id, label FROM s{iterations}"
    )


_TOK_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"

_LANG_MARKERS_SQL = (
    "(VALUES ('en','the'),('en','and'),('en','of'),('en','to'),('en','in'),"
    "('de','der'),('de','die'),('de','und'),('de','das'),('de','ist'),"
    "('fr','le'),('fr','la'),('fr','et'),('fr','les'),('fr','des'),"
    "('es','el'),('es','de'),('es','que'),('es','los'),('es','las')) "
    "AS m(cand_lang, marker)"
)


def oracle_sql() -> dict[str, str]:
    sql = {}
    sql["degree_count"] = (
        f"WITH {_UND_SQL} "
        "SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src"
    )
    sql["connected_components"] = (
        f"WITH RECURSIVE {_UND_SQL}, "
        "verts AS (SELECT DISTINCT src AS id FROM und), "
        "cc(id, comp) AS ("
        "  SELECT id, id FROM verts"
        "  UNION"
        "  SELECT und.dst, cc.comp FROM cc JOIN und ON und.src = cc.id"
        ") "
        "SELECT id, MIN(comp) AS component FROM cc GROUP BY id"
    )
    sql["pagerank"] = _pagerank_sql(10, 0.85)
    # the prepared/bucketed restart paths change routing, never semantics
    sql["pagerank_prepared"] = _pagerank_sql(10, 0.85)
    sql["cc_prepared"] = sql["connected_components"]
    sql["community_prepared"] = _community_sql(5, 0.5)
    sql["skew_census"] = (
        f"WITH {_UND_SQL}, "
        "deg AS (SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src) "
        "SELECT COUNT(*) AS skewed_vertices FROM deg WHERE degree > 100"
    )
    sql["triangle_count"] = (
        f"WITH c AS ({COOC_EDGES_SQL}) "
        "SELECT COUNT(*) AS triangles FROM c e1 "
        "JOIN c e2 ON e2.src = e1.dst "
        "JOIN c e3 ON e3.src = e1.src AND e3.dst = e2.dst"
    )
    sql["jaccard"] = (
        f"WITH canon AS ({COOC_EDGES_SQL}), "
        "und AS (SELECT src, dst FROM canon UNION ALL SELECT dst AS src, src AS dst FROM canon), "
        "deg AS (SELECT src AS id, COUNT(*) AS degree FROM und GROUP BY src), "
        "common AS (SELECT n1.a AS src, n2.b AS dst, COUNT(*) AS common_cnt FROM "
        "(SELECT dst AS wid, src AS a FROM und) n1 JOIN (SELECT dst AS wid, src AS b FROM und) n2 "
        "ON n1.wid = n2.wid AND n1.a < n2.b GROUP BY n1.a, n2.b) "
        "SELECT canon.src, canon.dst, COALESCE(common.common_cnt, 0) AS common_cnt, "
        "ds.degree + dd.degree - COALESCE(common.common_cnt, 0) AS union_cnt "
        "FROM canon LEFT JOIN common ON canon.src = common.src AND canon.dst = common.dst "
        "JOIN deg ds ON canon.src = ds.id JOIN deg dd ON canon.dst = dd.id"
    )
    sql["token_count"] = (
        "SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 "
        f"ELSE len({_TOK_SQL}) END AS n_tokens FROM documents"
    )
    sql["quality_score"] = (
        "SELECT doc_id, length(text) AS n_chars, "
        "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({_TOK_SQL}) END AS n_tokens, "
        "CAST(CAST("
        "LEAST(CAST(1.0 AS DOUBLE), (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({_TOK_SQL}) END) / CAST(100.0 AS DOUBLE)) * 0.5 "
        "+ (CASE WHEN (CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE "
        f"len({_TOK_SQL}) END) > 0 THEN CAST(length(text) AS DOUBLE) / (CASE WHEN "
        f"length(trim(text)) = 0 THEN 0 ELSE len({_TOK_SQL}) END) ELSE CAST(0.0 AS DOUBLE) END) "
        "BETWEEN 3.0 AND 10.0 THEN 0.3 ELSE 0.0 END) "
        "+ (CASE WHEN (CASE WHEN length(text) > 0 THEN "
        "CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')) AS DOUBLE) "
        "/ length(text) ELSE CAST(0.0 AS DOUBLE) END) <= 0.1 THEN 0.2 ELSE 0.0 END) "
        "AS DECIMAL(18,6)) AS DOUBLE) AS quality FROM documents"
    )
    sql["language_id"] = (
        f"WITH tok AS (SELECT doc_id, unnest({_TOK_SQL}) AS marker FROM documents), "
        f"hits AS (SELECT doc_id, cand_lang, COUNT(*) AS hits FROM tok JOIN {_LANG_MARKERS_SQL} "
        "USING (marker) GROUP BY doc_id, cand_lang), "
        "best AS (SELECT doc_id, cand_lang, hits, ROW_NUMBER() OVER "
        "(PARTITION BY doc_id ORDER BY hits DESC, cand_lang DESC) AS rn FROM hits) "
        "SELECT d.doc_id, COALESCE(b.cand_lang, 'und') AS pred_lang, "
        "COALESCE(b.hits, 0) AS marker_hits FROM documents d "
        "LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON d.doc_id = b.doc_id"
    )
    sql["doc_fingerprint"] = (
        f"SELECT doc_id, substring(md5(array_to_string({_TOK_SQL}, ' ')), 1, 16) AS fp "
        "FROM documents"
    )
    sql["dedup_exact"] = (
        "SELECT sha256(text) AS sha, COUNT(*) AS n_docs FROM documents GROUP BY sha256(text)"
    )
    sql["token_jaccard_near_dup"] = (
        f"WITH tok AS (SELECT DISTINCT doc_id AS id, unnest({_TOK_SQL}) AS tok FROM documents), "
        "sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY id), "
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter_cnt FROM tok a "
        "JOIN tok b ON a.tok = b.tok AND a.id < b.id GROUP BY a.id, b.id) "
        "SELECT id_a, id_b, inter_cnt, sa.sz + sb.sz - inter_cnt AS union_cnt "
        "FROM inter JOIN sizes sa ON inter.id_a = sa.id JOIN sizes sb ON inter.id_b = sb.id "
        "WHERE inter_cnt * 4 >= (sa.sz + sb.sz - inter_cnt) * 3"
    )
    # minhash: word-3-gram shingles -> 8 portable md5 min-hashes -> 4 bands
    shingle = (
        f"list_distinct(list_filter(list_transform(range(0, greatest(len({_TOK_SQL}) - 3, 0) + 1), "
        f"i -> array_to_string(list_slice({_TOK_SQL}, i + 1, i + 3), ' ')), s -> length(s) > 0))"
    )
    minhash_aggs = ", ".join(
        f"MIN(md5(shingle || '#{k}')) AS h{k}" for k in range(8)
    )
    band_vals = ", ".join(
        f"({b}, h{2 * b} || '|' || h{2 * b + 1})" for b in range(4)
    )
    sql["minhash_lsh"] = (
        f"WITH sh AS (SELECT doc_id, unnest({shingle}) AS shingle FROM documents), "
        f"sig AS (SELECT doc_id, {minhash_aggs} FROM sh GROUP BY doc_id), "
        "banded AS (SELECT doc_id AS id, b.band, b.band_key FROM sig, "
        f"LATERAL (SELECT * FROM (VALUES {band_vals}) AS t(band, band_key)) b) "
        "SELECT a.id AS id_a, c.id AS id_b, COUNT(*) AS n_bands FROM banded a "
        "JOIN banded c ON a.band = c.band AND a.band_key = c.band_key AND a.id < c.id "
        "GROUP BY a.id, c.id"
    )
    sql["cosine_topk"] = (
        "WITH u AS (SELECT vec_id AS id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(list_sum("
        "list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v "
        "FROM embeddings), "
        "pairs AS (SELECT a.id AS id, b.id AS neighbor, "
        "CAST(CAST(list_sum(list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])) "
        "AS DECIMAL(18,6)) AS DOUBLE) AS cos FROM u a JOIN u b ON a.id <> b.id), "
        "ranked AS (SELECT id, neighbor, cos, ROW_NUMBER() OVER "
        "(PARTITION BY id ORDER BY cos DESC, neighbor ASC) AS rk FROM pairs) "
        "SELECT id, neighbor, cos, rk FROM ranked WHERE rk <= 3"
    )
    # blocked grid flavor is exact — same oracle as the sql flavor
    sql["cosine_topk_blocked"] = sql["cosine_topk"]
    sql["windowed_event_counts"] = (
        "SELECT date_trunc('hour', ts) AS window_start, event_type, "
        "COUNT(*) AS n_events, CAST(CAST(SUM(value) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY date_trunc('hour', ts), event_type"
    )
    sql["community_detection"] = _community_sql(5, 0.5)
    # simhash: 60-bit majority vote over per-token md5 bits; hex→long via
    # DuckDB's '0x…'::BIGINT == Spark's conv(hex, 16, 10) for < 2^60
    votes = ", ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(60)
    )
    bits = " + ".join(
        f"CASE WHEN b{b} > 0 THEN CAST({2 ** b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(60)
    )
    sql["simhash"] = (
        f"WITH tok AS (SELECT DISTINCT doc_id AS id, unnest({_TOK_SQL}) AS tok FROM documents), "
        "h AS (SELECT id, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tok), "
        f"votes AS (SELECT id, {votes} FROM h GROUP BY id) "
        f"SELECT id, ({bits}) AS simhash FROM votes"
    )
    sql["vertex_neighborhoods"] = (
        f"WITH {_UND_SQL} "
        "SELECT src AS id, array_to_string(list_sort(list(DISTINCT dst)), ',') AS neighbors, "
        "COUNT(DISTINCT dst) AS n_neighbors FROM und GROUP BY src"
    )
    # ann_lsh_topk: md5-derived hyperplanes are exact dyadic rationals
    # (32-bit int / 2^32 − 1/2), so signs/buckets reproduce bit-for-bit
    _unit_sql = (
        "SELECT vec_id AS id, "
        "list_transform(embedding, x -> CAST(x AS DOUBLE) / sqrt(list_sum("
        "list_transform(embedding, y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS v "
        "FROM embeddings"
    )

    def _sign_sql(plane: int) -> str:
        w = (
            f"(('0x' || substring(md5('plane{plane}:' || CAST(d AS VARCHAR)), 1, 8))::BIGINT "
            "/ 4294967296.0 - 0.5)"
        )
        return (
            "(CASE WHEN list_sum(list_transform(range(0, len(v)), "
            f"d -> v[d + 1] * {w})) >= 0 THEN '1' ELSE '0' END)"
        )

    buckets = ", ".join(
        "'" + f"{t}:" + "' || " + " || ".join(_sign_sql(t * 4 + p) for p in range(4))
        for t in range(8)
    )
    sql["ann_lsh_topk"] = (
        f"WITH u AS ({_unit_sql}), "
        f"bk AS (SELECT id, unnest([{buckets}]) AS bucket FROM u), "
        "cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b FROM bk a "
        "JOIN bk c ON a.bucket = c.bucket AND a.id <> c.id), "
        "pairs AS (SELECT cand.id_a, cand.id_b, "
        "CAST(CAST(list_sum(list_transform(range(1, len(ua.v) + 1), i -> ua.v[i] * ub.v[i])) "
        "AS DECIMAL(18,6)) AS DOUBLE) AS cos FROM cand "
        "JOIN u ua ON cand.id_a = ua.id JOIN u ub ON cand.id_b = ub.id), "
        "ranked AS (SELECT id_a, id_b, cos, ROW_NUMBER() OVER "
        "(PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rk FROM pairs) "
        "SELECT id_a AS id, id_b AS neighbor, cos, rk FROM ranked WHERE rk <= 3"
    )
    # ivf_topk: same deterministic quantizer in both engines (smallest
    # md5(id) sample), dec6-rounded argmax assignment/probing keys, exact
    # rescoring — refine=0, so every step is plain SQL
    _ivf_dot = (
        "CAST(CAST(list_sum(list_transform(range(1, len({a}) + 1), "
        "i -> {a}[i] * {b}[i])) AS DECIMAL(18,6)) AS DOUBLE)"
    )
    sql["ivf_topk"] = (
        f"WITH u AS ({_unit_sql}), "
        "cent AS (SELECT id AS cid, v AS cv FROM u "
        "ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 16), "
        "scored AS (SELECT u.id, u.v, c.cid, "
        + _ivf_dot.format(a="u.v", b="c.cv")
        + " AS ccos FROM u CROSS JOIN cent c), "
        "ranked AS (SELECT id, v, cid, ccos, ROW_NUMBER() OVER "
        "(PARTITION BY id ORDER BY ccos DESC, cid ASC) AS crk FROM scored), "
        "assign AS (SELECT id AS rid, v AS rv, cid AS cell FROM ranked WHERE crk = 1), "
        "probes AS (SELECT id, v, cid AS cell FROM ranked WHERE crk <= 4), "
        "pairs AS (SELECT p.id, a.rid AS neighbor, "
        + _ivf_dot.format(a="p.v", b="a.rv")
        + " AS cos FROM probes p JOIN assign a USING (cell) WHERE p.id <> a.rid), "
        "rk AS (SELECT id, neighbor, cos, ROW_NUMBER() OVER "
        "(PARTITION BY id ORDER BY cos DESC, neighbor ASC) AS rk FROM pairs) "
        "SELECT id, neighbor, cos, rk FROM rk WHERE rk <= 3"
    )
    # the prepared (cell-bucketed) index changes the physical layout of
    # the probe join, never the candidate set or scores
    sql["ivf_topk_prepared"] = sql["ivf_topk"]
    sql["ngram_jaccard_near_dup"] = (
        f"WITH sh AS (SELECT doc_id AS id, unnest({shingle}) AS tok FROM documents), "
        "sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id), "
        "inter AS (SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter_cnt FROM sh a "
        "JOIN sh b ON a.tok = b.tok AND a.id < b.id GROUP BY a.id, b.id) "
        "SELECT id_a, id_b, inter_cnt, sa.sz + sb.sz - inter_cnt AS union_cnt "
        "FROM inter JOIN sizes sa ON inter.id_a = sa.id JOIN sizes sb ON inter.id_b = sb.id "
        "WHERE CAST(inter_cnt AS DOUBLE) >= "
        "0.5 * CAST(sa.sz + sb.sz - inter_cnt AS DOUBLE)"
    )
    # embedding_near_dup: same md5-hyperplane LSH buckets as ann_lsh_topk
    # (identical candidate set in both engines), candidates verified
    # exactly against the threshold — the scale path IS what's gated
    sql["embedding_near_dup"] = (
        f"WITH u AS ({_unit_sql}), "
        f"bk AS (SELECT id, unnest([{buckets}]) AS bucket FROM u), "
        "cand AS (SELECT DISTINCT a.id AS id_a, c.id AS id_b FROM bk a "
        "JOIN bk c ON a.bucket = c.bucket AND a.id < c.id), "
        "pairs AS (SELECT cand.id_a, cand.id_b, "
        "CAST(CAST(list_sum(list_transform(range(1, len(ua.v) + 1), i -> ua.v[i] * ub.v[i])) "
        "AS DECIMAL(18,6)) AS DOUBLE) AS cos FROM cand "
        "JOIN u ua ON cand.id_a = ua.id JOIN u ub ON cand.id_b = ub.id) "
        "SELECT id_a, id_b, cos FROM pairs WHERE cos >= 0.4"
    )
    sql["sessionize"] = (
        "WITH g AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL THEN 1 "
        "WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800.0 THEN 1 ELSE 0 END AS new_s "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "s AS (SELECT user_id, ts, SUM(new_s) OVER "
        "(PARTITION BY user_id ORDER BY ts) AS session_seq FROM g) "
        "SELECT user_id, CAST(session_seq AS BIGINT) AS session_id, "
        "MIN(ts) AS session_start, MAX(ts) AS session_end, COUNT(*) AS n_events "
        "FROM s GROUP BY user_id, session_seq"
    )
    return sql
