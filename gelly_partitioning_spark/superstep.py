"""Superstep runner: driver-side iteration with checkpointing, resume, and
per-superstep metrics.

Spark has no native iteration operator (Flink delta iteration,
example/NodeSplittingConnectedComponents.java:55-83); the loop lives on the
driver and each superstep is a fresh, AQE-replanned job. Two hazards at
scale (SURVEY.md §7.4):

- *plan growth*: each superstep extends lineage; without truncation the
  analyzer cost grows ~superstep^2. Every superstep's state is
  ``localCheckpoint(eager=True)`` — materialized AND lineage-truncated in
  one pass (on a real cluster swap for reliable ``checkpoint()`` or rely on
  the parquet snapshots below).
- *resumability* (north rule): every ``checkpoint_every`` supersteps the
  state is snapshotted to parquet with a JSON manifest carrying superstep
  number, row counts, changed counts and per-partition row histograms
  ("per-partition lineage + metrics"). ``run`` resumes from the latest
  manifest automatically when ``checkpoint_dir`` is reused.

Protocol: ``step(state, i) -> DataFrame``. If the returned frame has a
boolean ``_changed`` column, the runner counts it for convergence (0 ⇒
stop) and strips it from the loop-carried state — one materialization per
superstep, no recompute.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

MANIFEST = "manifest.json"
MANIFEST_LOG = "manifests.jsonl"
CHANGED = "_changed"

# Broadcast-state scatter budget: the per-superstep broadcast of the vertex
# state must fit comfortably in driver + executor memory. A row-count
# threshold is the wrong unit (VERDICT r1 #6) — 10M rows of (string tag,
# double) is ~400 MB serialized, too big to re-broadcast every superstep on
# a 12g driver. Budget in BYTES, estimate row width from the schema.
DEFAULT_BROADCAST_STATE_BUDGET = 64 << 20  # 64 MiB

def plan_size_hint_bytes(df) -> int | None:
    """Catalyst's sizeInBytes estimate for the optimized plan — NO job.

    Used as a PRE-gate by the single-task tiers: an input whose estimate
    is already far above the tier budget skips the tier WITHOUT paying
    the gate's count job (at scale that count would be a full scan run
    just to learn the obvious). Estimates can be crude for complex
    plans, so callers must keep an exact row-count gate behind this —
    an overestimate merely skips the tier (correct, just distributed),
    an underestimate is caught by the exact gate.
    """
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:  # noqa: BLE001 — a hint, never load-bearing
        return None


def estimate_row_bytes(schema) -> int:
    """Rough serialized row width: 8 B per fixed-width field, 24 B per
    string/binary (hash ids / tags), 16 B default, +16 B row overhead."""
    width = 16
    for f in schema.fields:
        t = f.dataType.typeName()
        if t in ("long", "double", "integer", "float", "boolean", "date", "timestamp"):
            width += 8
        elif t in ("string", "binary"):
            width += 24
        else:
            width += 16
    return width


def fits_broadcast_budget(
    n_rows: int, schema, budget_bytes: int = DEFAULT_BROADCAST_STATE_BUDGET
) -> bool:
    """True when a per-superstep broadcast of the state is within budget."""
    return n_rows * estimate_row_bytes(schema) <= budget_bytes


# batch_size sentinel: measure the first superstep (run with k=1), then
# pick K so one materializing action carries ~AUTO_BATCH_TARGET_SEC of
# supersteps — amortizing the fixed per-action driver cost without pushing
# convergence observation (and overshoot) too far out
AUTO_BATCH = 0
AUTO_BATCH_TARGET_SEC = 3.0
AUTO_BATCH_MAX = 16


def choose_batch_size(
    first_wall_sec: float,
    target_sec: float = AUTO_BATCH_TARGET_SEC,
    max_batch: int = AUTO_BATCH_MAX,
) -> int:
    """K supersteps per action from the measured first-superstep wall.

    The measured wall includes the fixed per-action driver cost — exactly
    the overhead batching amortizes — so K = target/wall is conservative:
    a chained batch of K supersteps pays that fixed cost once, not K
    times. Slow supersteps (>= target) stay unbatched (convergence is
    observed every superstep); sub-second supersteps batch up to
    ``max_batch``.
    """
    return max(1, min(max_batch, int(target_sec / max(first_wall_sec, 1e-3))))


def checkpoint_static(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint for LARGE static tables (the edge-sized inputs every
    superstep re-scans). Stored as serialized MEMORY_AND_DISK blocks
    instead of the deserialized default: at 10^7+ rows the deserialized
    blocks overflow the storage fraction and Spark degrades to a
    partially-unrolled iterator that re-reads the data through
    row-at-a-time Java deserialization — jstack showed single tasks
    burning 20+ CPU-minutes there on a 37M-edge input. Serialized blocks
    are ~3-5x smaller (UnsafeRow bytes), spill cleanly, and cost one
    cheap bulk deserialization per scan. Vertex-sized state keeps the
    deserialized default (fits in memory; fastest to re-scan).

    Measured crossover (r4, 37M-edge routing table, 32g heap, 8 cores):
    the per-scan bulk deserialization costs ~1.4-1.6x per superstep
    (min 28.3 s/superstep serialized vs 17.3-23.1 deserialized) when the
    deserialized blocks would have fit in memory anyway. 'ser' stays the
    default because the target regime is the one where they don't (at
    10^11 edges nothing fits deserialized, and the overflow pathology is
    20+ CPU-min/task vs a bounded 1.6x here); ``checkpoint_static_sized``
    picks the deserialized layout where a known row count says it fits."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK)


def checkpoint_static_sized(df: DataFrame, n_rows: int, spark: SparkSession) -> DataFrame:
    """checkpoint_static with the storage level decided ONCE, up front.

    Serialized by default at scale (see ``checkpoint_static``),
    deserialized in the mid regime where the known row count says it
    fits storage memory — there the serialized layout would pay one bulk
    deserialization per scan, per superstep (measured 1.4-1.6x per
    superstep at 37M edges / 32g heap). Deciding before the first
    materialization costs no second pass over the table (guide §1.2).
    """
    if deserialized_cache_fits(n_rows, df.schema, spark):
        return df.localCheckpoint(eager=True)  # deserialized default level
    return checkpoint_static(df)


def session_broadcast_threshold(spark: SparkSession, default: int = 64 << 20) -> int:
    """The session's autoBroadcastJoinThreshold in bytes. Needed because
    plans rooted at a localCheckpoint (LogicalRDD) carry NO size
    statistics, so Catalyst never auto-broadcasts them — operators that
    KNOW a checkpointed table's row count gate an explicit
    ``F.broadcast`` on this same budget instead (guide §3.1)."""
    v = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    if v is None:
        return default
    v = str(v).strip().lower().rstrip("b")
    units = {"k": 10, "m": 20, "g": 30, "t": 40}
    try:
        if v and v[-1] in units:
            return int(float(v[:-1]) * (1 << units[v[-1]]))
        return int(v)
    except ValueError:
        return default


# target bytes per partition for a cached static table that every
# superstep re-scans: in-memory scans want far smaller partitions than the
# 128 MB-1 GB file-scan guidance (guide §2.2/§6) — the per-task overhead of
# re-launching the scan tens of times per run dominates long before CPU
# does. Measured at sf0.1 (1.2 M rows ≈ 50 MB): 4 partitions → 0.22
# s/superstep, 8 → 0.27-0.34, 64 → 0.53-0.87, ~190 → 1.5 — roughly
# linear in the partition count once each partition is CPU-trivial.
STATIC_SCAN_PARTITION_BYTES = 16 << 20


def static_scan_partitions(n_rows: int, schema, spark: SparkSession) -> int:
    """Scale-adaptive partition count for a per-superstep static table:
    ~``STATIC_SCAN_PARTITION_BYTES`` per partition, floored at
    min(4, shuffle.partitions) for small inputs and capped at
    4x shuffle.partitions so huge inputs still track the session's
    configured parallelism rather than a constant."""
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    est = n_rows * estimate_row_bytes(schema)
    parts = est // STATIC_SCAN_PARTITION_BYTES + 1
    return int(max(min(4, sp), min(parts, 4 * sp)))


def release_checkpoint(df: DataFrame) -> None:
    """Best-effort unpersist of a localCheckpointed DataFrame's cached RDD.

    Only frames whose analyzed plan is a LogicalRDD (i.e. produced by
    localCheckpoint), or a chain of single-child nodes (a projection) over
    one, hold a persisted RDD; anything else is a no-op (the reflection
    call fails and is swallowed). A localCheckpointed Dataset
    is not in the CacheManager (``unpersist()`` is a no-op) and ``toRdd()``
    builds a DERIVED, non-persisted RDD; the persisted RDD is the one the
    LogicalRDD plan node holds, so that is the one released.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        while plan.children().size() == 1:
            plan = plan.children().head()
        plan.rdd().unpersist(False)
    except Exception:
        pass


def _executor_heap_bytes(spark: SparkSession) -> int:
    """Per-executor JVM heap. local mode: the one JVM's Runtime.maxMemory
    (executors live in the driver). Cluster: spark.executor.memory."""
    master = spark.sparkContext.master
    if master.startswith("local"):
        return int(spark._jvm.java.lang.Runtime.getRuntime().maxMemory())
    mem = spark.sparkContext.getConf().get("spark.executor.memory", "1g")
    units = {"k": 10, "m": 20, "g": 30, "t": 40}
    mem = mem.strip().lower().rstrip("b")
    if mem[-1] in units:
        return int(float(mem[:-1]) * (1 << units[mem[-1]]))
    return int(mem)


def deserialized_cache_fits(
    n_rows: int,
    schema,
    spark: SparkSession,
    fraction: float = 0.25,
    object_factor: int = 3,
    heap_bytes: int | None = None,
) -> bool:
    """True when a deserialized MEMORY_AND_DISK cache of ``n_rows`` fits
    comfortably in the aggregate storage budget (``fraction`` of the
    executor heap, scaled here for the single-JVM case; row objects cost
    ~``object_factor``x the serialized width)."""
    heap = heap_bytes if heap_bytes is not None else _executor_heap_bytes(spark)
    return n_rows * estimate_row_bytes(schema) * object_factor <= fraction * heap


def data_fingerprint(df: DataFrame, *cols: str) -> str:
    """Cheap order-insensitive identity of an input table: row count +
    bit_xor of per-row xxhash64 over ``cols``. Folded into the runner
    fingerprint so a resume against a checkpoint_dir written for a
    *different input* starts fresh instead of silently loading stale state
    (count catches xor-cancelling duplicate rows; xor catches count-
    preserving edits). One reducible agg job — run it on the already-
    checkpointed edge table, only when a checkpoint_dir is in play."""
    row = df.agg(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64(*[F.col(c) for c in cols])).alias("h"),
    ).first()
    return f"n={row['n']}:xor={row['h']}"


@dataclass
class SuperstepMetrics:
    superstep: int
    rows: int
    changed: Optional[int]
    wall_sec: float
    partition_rows: Optional[list] = None

    def to_dict(self):
        return {
            "superstep": self.superstep,
            "rows": self.rows,
            "changed": self.changed,
            "wall_sec": round(self.wall_sec, 4),
            "partition_rows": self.partition_rows,
        }


@dataclass
class SuperstepRunner:
    """Run ``step`` to fixpoint (``_changed`` count 0) or max_iterations."""

    spark: SparkSession
    checkpoint_dir: Optional[str] = None
    checkpoint_every: int = 5
    # snapshot compaction: keep the newest k parquet snapshots; older ones
    # are deleted after each new snapshot lands (the append-only
    # manifests.jsonl keeps the full lineage of every snapshot ever taken)
    keep_snapshots: int = 2
    collect_partition_metrics: bool = False
    # supersteps composed lazily per materializing action. >1 amortizes the
    # per-job driver overhead (scheduling + one collect per action) across
    # K supersteps — the dominant cost on small graphs where a superstep's
    # actual compute is well under a second. Convergence is only observed
    # at batch boundaries (a converged monotone algorithm just no-ops the
    # overshoot steps). AUTO_BATCH (0) measures the first superstep and
    # picks K via ``choose_batch_size``. Step functions that read
    # ``runner.metrics`` between supersteps (LP's workset crossover) set
    # ``batch_size_fn`` to force k=1 exactly when fresh counts matter —
    # within a composed batch the metrics are frozen, so every chained
    # step call sees the same decision the boundary saw.
    batch_size: int = 1
    # consulted at each batch boundary; overrides batch_size when set (may
    # itself return AUTO_BATCH to delegate to the auto chooser)
    batch_size_fn: Optional[Callable[[], int]] = None
    # Set by algorithms whose step() references its input state MORE THAN
    # ONCE (e.g. scatter + old-value join): composing k such raw plans
    # duplicates the state subtree ~2^k-fold and Catalyst's single-threaded
    # planner hangs for minutes at k=16 (observed live in r6). When True,
    # every intra-batch intermediate gets a LAZY localCheckpoint — its plan
    # becomes a LogicalRDD immediately (growth back to linear) while the
    # batch still materializes in one driver-side action; the intermediate
    # RDD caches are released right after the batch lands. Costs ~0.1
    # s/superstep of cache writes, so single-reference steps (the
    # broadcast-mode fast paths) leave it off.
    chain_checkpoint: bool = False
    auto_batch_target_sec: float = AUTO_BATCH_TARGET_SEC
    _auto_k: Optional[int] = None
    # fixed+marginal batch-cost model (observe_batch): cheapest wall seen
    # per batch size k, and the last fitted (fixed_sec, marginal_sec)
    _obs_min: dict = field(default_factory=dict)
    _fit: Optional[tuple] = None
    metrics: list = field(default_factory=list)
    converged: bool = False
    # identity of the run (algorithm name + parameters + input-data
    # fingerprint). Stored in the manifest; a resume from a checkpoint_dir
    # whose manifest carries a different fingerprint (or an incompatible
    # state schema) starts fresh instead of silently loading foreign state.
    fingerprint: Optional[str] = None
    # superstep of the most recent snapshot (0 = none yet) — bounds the
    # incremental metrics slice written into each manifest
    _last_snapshot: int = 0

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int], DataFrame],
        max_iterations: int,
        start_iteration: int = 1,
    ) -> DataFrame:
        state, start_iteration = self._maybe_resume(state, start_iteration)
        state = state.localCheckpoint(eager=True)
        # the loop-carried state from the PREVIOUS batch: still referenced
        # by the current batch's plan (and its broadcast builds), released
        # only after the current batch has materialized
        prev_base: Optional[DataFrame] = state
        self.converged = False
        i = start_iteration
        while i <= max_iterations:
            t0 = time.time()
            requested = self.batch_size_fn() if self.batch_size_fn else self.batch_size
            auto = requested == AUTO_BATCH
            bs = (self._auto_k or 1) if auto else requested  # first auto batch: k=1
            k = max(1, min(bs, max_iterations - i + 1))
            # lazy localCheckpoint: the convergence agg below is the one
            # materializing action per batch — it computes the k chained
            # superstep states, caches the last, and truncates lineage in
            # a single job (plus per-intermediate truncation when the
            # algorithm declared chain_checkpoint — see the field doc)
            intermediates = []
            new_state = step(state, i)
            for j in range(1, k):
                inter = new_state.drop(CHANGED)
                if self.chain_checkpoint:
                    inter = inter.localCheckpoint(eager=False)
                    intermediates.append(inter)
                new_state = step(inter, i + j)
            new_state = new_state.localCheckpoint(eager=False)
            batch_base = new_state  # the frame holding this batch's cached RDD
            has_flag = CHANGED in new_state.columns
            if has_flag:
                agg = new_state.agg(
                    F.count("*").alias("rows"),
                    F.sum(F.col(CHANGED).cast("long")).alias("changed"),
                ).collect()[0]
                rows, changed = agg["rows"], agg["changed"] or 0
                new_state = new_state.drop(CHANGED)
            else:
                rows, changed = new_state.count(), None
            i_end = i + k - 1
            wall = time.time() - t0
            if auto:
                self.observe_batch(k, wall)
            m = SuperstepMetrics(i_end, rows, changed, wall)
            if self.collect_partition_metrics:
                m.partition_rows = [
                    r["c"]
                    for r in new_state.groupBy(F.spark_partition_id().alias("p"))
                    .agg(F.count("*").alias("c"))
                    .orderBy("p")
                    .collect()
                ]
            self.metrics.append(m)
            # this batch is materialized: the previous loop-carried state
            # and the intra-batch intermediates are dead — release their
            # cached RDDs so long runs do not accumulate one vertex-sized
            # cache per batch/superstep
            for df_ in intermediates:
                release_checkpoint(df_)
            if prev_base is not None:
                release_checkpoint(prev_base)
            prev_base = batch_base
            state = new_state
            if self.checkpoint_dir and (
                i_end // self.checkpoint_every > (i - 1) // self.checkpoint_every
            ):
                self._snapshot(state, i_end)
            if changed == 0:
                self.converged = True
                break
            i = i_end + 1
        return state

    def observe_batch(self, k: int, wall_sec: float) -> None:
        """Feed one batch's (batch size, wall) into the auto-K estimator.

        A batch's wall is well modelled as ``a + b*k``: a FIXED per-action
        cost (driver planning, job scheduling, AQE stage setup, the
        convergence agg) plus a MARGINAL per-superstep compute cost.
        An estimator that divides the whole wall by k sees ~``a/k + b``
        per superstep when the fixed cost dominates (small graphs —
        exactly where batching matters) and chooses K ≈ target/(a+b):
        the fixed cost it was built to amortize kept K pinned near 2 (measured live in r6: a≈1.2s, b≈0.2s at
        sf0.1 → old K stuck at 2, 1.1 s/superstep; fitted K≈9 →
        0.35 s/superstep). This estimator fits (a, b) from the cheapest
        observed wall at the two most distant batch sizes and picks
        K = (target − a)/b — i.e. it sizes the MARGINAL work per action
        to the target, treating the fixed cost as the overhead it is.
        Until two distinct batch sizes have been observed there is no fit:
        K is then ``choose_batch_size`` of the latest batch's
        per-superstep wall. Either way K is re-derived after every batch,
        so neither first-batch warm-up nor a machine-window change pins a
        stale K. Pure driver-side arithmetic; results are unaffected (K
        only sets how many supersteps one action amortizes, bounded by
        AUTO_BATCH_MAX).
        """
        per = wall_sec / max(k, 1)
        if self._fit is not None:
            # environment shift (the sandbox shows 2-3x windows): predict
            # this batch from the current model; far off → restart the
            # observation set from this batch alone
            pred = self._fit[0] + self._fit[1] * k
            if not (0.5 * pred <= wall_sec <= 2.0 * pred):
                self._obs_min = {}
                self._fit = None
        prev = self._obs_min.get(k)
        self._obs_min[k] = wall_sec if prev is None else min(prev, wall_sec)
        ks = sorted(self._obs_min)
        if len(ks) < 2:
            self._auto_k = choose_batch_size(per, self.auto_batch_target_sec)
            return
        k_lo, k_hi = ks[0], ks[-1]
        b = (self._obs_min[k_hi] - self._obs_min[k_lo]) / (k_hi - k_lo)
        b = max(b, 0.02 * per, 1e-3)  # floor: never extrapolate free work
        a = max(self._obs_min[k_lo] - b * k_lo, 0.0)
        self._fit = (a, b)
        head = self.auto_batch_target_sec - a
        self._auto_k = max(1, min(AUTO_BATCH_MAX, int(head / b) if head > b else 1))

    # -- checkpoint / resume ------------------------------------------------

    def _snapshot(self, state: DataFrame, superstep: int) -> None:
        path = os.path.join(self.checkpoint_dir, f"superstep={superstep}")
        state.write.mode("overwrite").parquet(path)
        manifest = {
            "superstep": superstep,
            "path": path,
            "schema": state.schema.json(),
            "fingerprint": self.fingerprint,
            # incremental: only metrics since the previous snapshot ride in
            # manifest.json; the full history accumulates append-only in
            # manifests.jsonl (long runs no longer rewrite an ever-growing
            # metrics array every k supersteps)
            "metrics": [
                m.to_dict() for m in self.metrics if m.superstep > self._last_snapshot
            ],
            "prior_metrics_in": MANIFEST_LOG if self._last_snapshot else None,
            "ts": time.time(),
        }
        # append-only lineage log: one line per snapshot ever taken (kept
        # through compaction — the durable per-superstep lineage record)
        with open(os.path.join(self.checkpoint_dir, MANIFEST_LOG), "a") as f:
            f.write(json.dumps(manifest) + "\n")
        tmp = os.path.join(self.checkpoint_dir, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, os.path.join(self.checkpoint_dir, MANIFEST))
        self._last_snapshot = superstep
        self._compact_snapshots(superstep)

    def _compact_snapshots(self, latest: int) -> None:
        """Delete all but the newest ``keep_snapshots`` parquet snapshots
        (resume only ever reads the latest; the extras are insurance
        against a torn write of the newest one)."""
        import re
        import shutil

        if self.keep_snapshots <= 0:
            return
        pat = re.compile(r"^superstep=(\d+)$")
        found = []
        for name in os.listdir(self.checkpoint_dir):
            mt = pat.match(name)
            if mt:
                found.append(int(mt.group(1)))
        for s in sorted(found, reverse=True)[self.keep_snapshots:]:
            if s < latest:  # never delete the one just written
                shutil.rmtree(
                    os.path.join(self.checkpoint_dir, f"superstep={s}"),
                    ignore_errors=True,
                )

    def _maybe_resume(self, state: DataFrame, start_iteration: int):
        if not self.checkpoint_dir:
            return state, start_iteration
        mpath = os.path.join(self.checkpoint_dir, MANIFEST)
        if not os.path.exists(mpath):
            os.makedirs(self.checkpoint_dir, exist_ok=True)
            return state, start_iteration
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("fingerprint") != self.fingerprint:
            import warnings

            warnings.warn(
                f"checkpoint manifest at {mpath} has fingerprint "
                f"{manifest.get('fingerprint')!r} != runner fingerprint "
                f"{self.fingerprint!r}; ignoring it and starting fresh",
                stacklevel=2,
            )
            return state, start_iteration
        # compare field names + types only (nullability legitimately differs
        # between the init state and a post-join superstep state)
        from pyspark.sql.types import StructType

        stored = StructType.fromJson(json.loads(manifest["schema"]))
        shape = lambda s: [(f.name, f.dataType.simpleString()) for f in s.fields]  # noqa: E731
        if shape(stored) != shape(state.schema):
            import warnings

            warnings.warn(
                f"checkpoint manifest at {mpath} stores a different state "
                "schema than the incoming state; ignoring it and starting fresh",
                stacklevel=2,
            )
            return state, start_iteration
        resumed = self.spark.read.parquet(manifest["path"])
        self.metrics = self._replay_metrics(manifest)
        self._last_snapshot = manifest["superstep"]
        return resumed, manifest["superstep"] + 1

    def _replay_metrics(self, manifest: dict) -> list:
        """Rebuild the full metrics history from the append-only log (each
        manifest carries only its incremental slice). Lines from other runs
        (different fingerprint) or rewound/duplicated snapshots are
        filtered; the latest line per superstep wins."""
        lpath = os.path.join(self.checkpoint_dir, MANIFEST_LOG)
        chunks: dict[int, list] = {}
        if os.path.exists(lpath):
            with open(lpath) as f:
                for line in f:
                    line = line.strip()
                    if not line:
                        continue
                    rec = json.loads(line)
                    if rec.get("fingerprint") != self.fingerprint:
                        continue
                    if rec["superstep"] <= manifest["superstep"]:
                        chunks[rec["superstep"]] = rec.get("metrics", [])
        chunks[manifest["superstep"]] = manifest.get("metrics", [])
        out, seen = [], set()
        for s in sorted(chunks):
            for m in chunks[s]:
                if m["superstep"] not in seen and m["superstep"] <= manifest["superstep"]:
                    seen.add(m["superstep"])
                    out.append(SuperstepMetrics(**m))
        return out

    def metrics_json(self) -> str:
        return json.dumps([m.to_dict() for m in self.metrics])
