"""Dump .explain('formatted') plans for the r06-touched queries.

Usage: python tools/dump_plans_r06.py <out_dir> [suffix] [sf_dir]

Writes <out_dir>/<query>_<suffix>.txt. For the iterative algorithms the
interesting plan is the per-superstep step() output (the query-level
DataFrame is lineage-truncated by the runner's checkpoints), so the
runner is monkeypatched to capture superstep 1's plan — this works
unchanged on both the round-start ("before") and optimized ("after")
trees, so the same script produces the comparable pair.
"""
from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

out_dir = Path(sys.argv[1])
suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
out_dir.mkdir(parents=True, exist_ok=True)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def dump(name: str, text: str) -> None:
    p = out_dir / f"{name}_{suffix}.txt"
    p.write_text(text)
    ex = text.count("Exchange") - text.count("ReusedExchange")
    print(f"{name}: exchanges={ex} bhj={text.count('BroadcastHashJoin')} "
          f"smj={text.count('SortMergeJoin')} shj={text.count('ShuffledHashJoin')}")


from gelly_partitioning_spark import get_spark  # noqa: E402
import gelly_partitioning_spark.superstep as ss  # noqa: E402

spark = get_spark(app_name="dump-plans-r06", cores=8, shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as entry  # noqa: E402

# -- iterative: capture superstep 1's plan via a runner hook ----------------
captured: dict = {}


class _StopAfterPlan(Exception):
    pass


_orig_run = ss.SuperstepRunner.run


def _capturing_run(self, state, step, max_iterations, start_iteration=1):
    captured["plan"] = plan_of(step(state.localCheckpoint(eager=True), start_iteration))
    raise _StopAfterPlan()


def capture_step(name: str, fn):
    ss.SuperstepRunner.run = _capturing_run
    try:
        fn()
    except _StopAfterPlan:
        pass
    finally:
        ss.SuperstepRunner.run = _orig_run
    dump(name, captured.pop("plan"))


from gelly_partitioning_spark import connected_components, pagerank  # noqa: E402

edges = entry.ps_edges(spark, sf_dir).cache()
edges.count()


def _call_distributed(fn, **kw):
    # the r6 tree takes single_task_budget_bytes=0 to pin the distributed
    # superstep loop (so the captured plan stays the superstep plan of
    # record); the round-start tree has no such kwarg
    try:
        return fn(single_task_budget_bytes=0, **kw)
    except TypeError:
        return fn(**kw)


capture_step(
    "pagerank_step",
    lambda: _call_distributed(
        lambda **k: pagerank(
            edges, tol=1e-6, max_iterations=100, split=True, threshold=256,
            alpha=2, level=6, superstep_batch=0, **k,
        )
    ),
)
capture_step(
    "cc_step",
    lambda: _call_distributed(
        lambda **k: connected_components(edges, threshold=256, max_iterations=60, **k)
    ),
)

# the single-task rung's own plans — no 'before' counterpart. A call on
# the rung materializes its result before it returns, so the plan of
# record is the fused task's (coalesce(1).limit(cap + 1) -> MapInArrow),
# captured as the rung checkpoints it
from gelly_partitioning_spark import degree_count  # noqa: E402


def task_plan(fn) -> str:
    cls = type(edges)  # the session's concrete DataFrame class
    plans, orig = [], cls.localCheckpoint

    def capture(self, *a, **k):
        text = plan_of(self)
        if "MapInArrow" in text:
            plans.append(text)
        return orig(self, *a, **k)

    cls.localCheckpoint = capture
    try:
        fn()
    finally:
        cls.localCheckpoint = orig
    return plans[-1]


dump(
    "pagerank_single_task",
    task_plan(lambda: pagerank(edges, fixed_iterations=10, threshold=256)),
)
dump("cc_single_task", task_plan(lambda: connected_components(edges, threshold=256)))
dump("degree_single_task", task_plan(lambda: entry._q_degree(spark, sf_dir)))
dump("triangle_single_task", task_plan(lambda: entry._q_triangle(spark, sf_dir)))
dump("jaccard_single_task", task_plan(lambda: entry._q_jaccard(spark, sf_dir)))

# -- one-shot queries: the query-level plan is the evidence -----------------
# triangle: the distributed (>budget) wedge/close plan, same entry input
# as the before-file so the pair stays comparable
from gelly_partitioning_spark import triangle_count  # noqa: E402

dump(
    "triangle_count",
    plan_of(
        _call_distributed(
            lambda **k: triangle_count(
                entry.cooc_edges(spark, sf_dir), assume_canonical=True, **k
            )
        )
    ),
)
dump("minhash_lsh", plan_of(entry._q_minhash(spark, sf_dir)))
# jaccard: the distributed (>budget) wedge/close plan over the same
# cooc_edges input as the before-file (the query itself now reads the raw
# pair stream); the round-start tree has no jaccard_counts
try:
    from gelly_partitioning_spark import jaccard_counts

    jac = jaccard_counts(entry.cooc_edges(spark, sf_dir), single_task_budget_bytes=0)
except ImportError:
    jac = entry._q_jaccard(spark, sf_dir)
dump("jaccard", plan_of(jac))
# the distributed (>budget) degree path, same entry args/input as the
# before-file so the pair is comparable: the salted layout's two broadcast
# endpoint joins over the input edges, the per-sub-vertex count and the
# merge on the vertex id (one exchange each), then one broadcast decode
# join; the vertex table they read is a checkpoint (Scan ExistingRDD)
dump(
    "degree_count",
    plan_of(
        _call_distributed(
            lambda **k: degree_count(
                entry.ps_edges(spark, sf_dir), threshold=64, alpha=2, level=6, **k
            )
        )
    ),
)
spark.stop()
