"""Graph-engine benchmark: two workloads that between them isolate the
engine's strategy rungs (single-task, broadcast-state, salted Split-Merge).

    python3 perfbench/run.py --workload corpus-rungs --seed 42 --seconds 3 --trace 0
    python3 perfbench/run.py --smoke

One run is one fresh JVM on ``local[nproc]``. It generates the workload's
input from ``--seed`` (numpy, cached as parquet per seed), runs one
untimed warm-up pass of the workload's calls on a tenth-size input, builds
the graph (``setup_s``), then runs whole timed passes until ``--seconds``
have elapsed, and at least two.
Every call's answer is checked against a numpy/pandas reference on every
timed pass; a call that raises or answers wrong is a failed op.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` turns on the
Spark event log, times the layer probes and prints the per-layer metrics.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. BENCHMARK.json and perfbench/README.md document every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

T_PROCESS = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
WORK = ROOT / "perfbench" / ".work"

# rows of generated input per workload table; "smoke" is the self-test size
SIZES = {
    "full": {"lineitem": 20_000, "repo_files": 50_000},
    "smoke": {"lineitem": 6_000, "repo_files": 20_000},
}
# setup_s is the median over SETUP_GROUPS samples, each the time of
# SETUP_BUILDS consecutive graph builds, so no sample is a sub-second job
SETUP_GROUPS = 3
SETUP_BUILDS = 2
# timed passes per run at least: one pass is too small a sample of a
# machine whose speed drifts from minute to minute
MIN_PASSES = 2
ALGOS = ["pagerank", "cc", "degree", "triangle", "jaccard"]
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "pagerank_s": "s",
}
LAYER = {
    "peak_rss_mb": "MB",
    "machine.probe_before_s": "s",
    "machine.probe_after_s": "s",
    "session.start_s": "s",
    "sources.extract_edges_s": "s",
    "graph.degrees_s": "s",
    "splitting.split_graph_s": "s",
    "splitting.routing_rows": "count",
    "splitting.subvertices": "count",
    "splitting.skewed_vertices": "count",
    "splitting.hub_flatten_ratio": "ratio",
    "encoding.encode_split_graph_s": "s",
    "trace.pass_s": "s",
    "trace.warmup_pass_s": "s",
}
PER_CALL = {
    "call_s": "s",
    "preloop_s": "s",
    "loop_s": "s",
    "output_s": "s",
    "supersteps": "count",
    "batches": "count",
    "superstep_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "jobs_per_superstep": "ratio",
    "shuffle_write_bytes": "B",
    "shuffle_read_bytes": "B",
    "task_busy_s": "s",
    "task_skew": "ratio",
}
PER_LAYER = {**LAYER, **{f"{a}.{k}": u for a in ALGOS for k, u in PER_CALL.items()}}
# counts that must repeat exactly in every pass of a run
REPEATING = ("supersteps", "batches", "jobs", "stages", "tasks")


@dataclass
class Call:
    algo: str
    run: Callable  # (ctx) -> DataFrame
    check: Callable  # (ctx, pandas result) -> None | reason
    reps: int = 1  # back-to-back calls per pass; the pass counts their median


@dataclass
class Workload:
    table: str
    build: Callable  # (ctx) -> edge DataFrame, uncached
    reference: Callable  # (ctx) -> dict of reference answers
    calls: list
    split_probe: bool = False


class Ctx:
    """What a workload's callables see: the session, the input directory,
    the cached graph and the reference answers."""

    def __init__(self, spark, input_dir: Path):
        self.spark = spark
        self.dir = input_dir
        self.edges = None
        self.ref: dict = {}


# -- workloads ---------------------------------------------------------------


def _lineitem_graph(ctx):
    import __spark_entry__ as entry

    return entry.ps_edges(ctx.spark, str(ctx.dir))


def _corpus_graph(ctx):
    from gelly_partitioning_spark.sources import extract_edges

    rf = ctx.spark.read.parquet(str(ctx.dir / "repo_files.parquet"))
    return extract_edges(rf).select("src", "dst", "w")


def _lineitem_reference(ctx):
    import numpy as np
    import pyarrow.parquet as pq

    import reference as R

    li = pq.read_table(ctx.dir / "lineitem.parquet").to_pandas()
    ps = li[["l_partkey", "l_suppkey"]].drop_duplicates()
    g = R.Graph(
        np.char.add("p", ps["l_partkey"].to_numpy().astype(str)),
        np.char.add("s", ps["l_suppkey"].to_numpy().astype(str)),
    )
    tri, jac = R.triangles_and_jaccard(li)
    return {
        "pagerank": R.pagerank(g, tol=1e-6, max_iterations=100),
        "cc": R.connected_components(g),
        "degree": R.degree(g),
        "triangle": tri,
        "jaccard": jac,
    }


def _corpus_reference(ctx):
    import numpy as np
    import pyarrow.parquet as pq

    import reference as R

    rf = pq.read_table(ctx.dir / "repo_files.parquet", columns=["repo", "path"]).to_pandas()
    e = rf.drop_duplicates()
    g = R.Graph(
        np.char.add("r:", e["repo"].to_numpy().astype(str)),
        np.char.add("p:", e["path"].to_numpy().astype(str)),
    )
    return {
        "pagerank": R.pagerank(g, fixed_iterations=CORPUS_PR_ITERS),
        "cc": R.connected_components(g),
    }


def _rows(algo, cols, key, atol=0.0):
    def check(ctx, pdf):
        import reference as R

        return R.same_rows(pdf[cols], ctx.ref[algo], key, atol)

    return check


def _count(algo, col):
    def check(ctx, pdf):
        got, want = int(pdf[col].iloc[0]), ctx.ref[algo]
        return None if got == want else f"{got}, want {want}"

    return check


PR_CHECK = _rows("pagerank", ["id", "rank"], ["id"], atol=1e-6)
CC_CHECK = _rows("cc", ["id", "component"], ["id"])
DEGREE_CHECK = _rows("degree", ["id", "degree"], ["id"])
SPLIT = {"threshold": 256, "alpha": 2, "level": 6}
CORPUS_PR_ITERS = 4


def _pr(**kw):
    from gelly_partitioning_spark import pagerank

    return lambda ctx: pagerank(ctx.edges, **kw)


def _cc(**kw):
    from gelly_partitioning_spark import connected_components

    return lambda ctx: connected_components(ctx.edges, **kw)


def _degree(**kw):
    from gelly_partitioning_spark import degree_count

    return lambda ctx: degree_count(ctx.edges, **kw)


def _triangle(ctx):
    import __spark_entry__ as entry
    from gelly_partitioning_spark import triangle_count_long_pairs

    return triangle_count_long_pairs(entry._cooc_raw_pairs(ctx.spark, str(ctx.dir)))


def _jaccard(ctx):
    import __spark_entry__ as entry

    return entry._q_jaccard(ctx.spark, str(ctx.dir))


def workloads() -> dict[str, Workload]:
    return {
        # engine defaults on a small graph, the everyday call: pagerank, cc,
        # degree and triangle take the single-task numpy rung, jaccard the
        # JVM wedge/close joins
        "lineitem-default": Workload(
            "lineitem",
            _lineitem_graph,
            _lineitem_reference,
            [
                # ~1 s a call: three per pass make pagerank_s a median of six
                Call("pagerank", _pr(tol=1e-6, max_iterations=100, superstep_batch=0, **SPLIT),
                     PR_CHECK, reps=3),
                Call("cc", _cc(threshold=256, max_iterations=60), CC_CHECK),
                Call("degree", _degree(threshold=256), DEGREE_CHECK),
                Call("triangle", _triangle, _count("triangle", "triangles")),
                Call("jaccard", _jaccard, _rows(
                    "jaccard", ["src", "dst", "common_cnt", "union_cnt"], ["src", "dst"]
                )),
            ],
        ),
        # skewed power-law corpus with the single-task rung off (a graph
        # above its budget), each call pinned to one distributed rung:
        # pagerank to salted Split-Merge (split, encode, static build,
        # shuffled supersteps), cc to broadcast-state (state re-broadcast
        # every superstep, shrinking workset)
        "corpus-rungs": Workload(
            "repo_files",
            _corpus_graph,
            _corpus_reference,
            [
                Call("pagerank", _pr(
                    fixed_iterations=CORPUS_PR_ITERS, superstep_batch=2,
                    broadcast_threshold_vertices=0, **SPLIT,
                ), PR_CHECK),
                Call("cc", _cc(
                    max_iterations=60, superstep_batch=2, single_task_budget_bytes=0, **SPLIT
                ), CC_CHECK),
            ],
            split_probe=True,
        ),
    }


# -- one run -----------------------------------------------------------------


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def run_call(ctx, call: Call, group: str, check: bool) -> dict:
    """One call: time until it returns, then until its answer is on the
    driver (``toPandas``); the check and the counter reads are untimed."""
    from measure import RunnerCapture, job_counts

    sc = ctx.spark.sparkContext
    sc.setJobGroup(group, group)
    rec = {"group": group, "error": None}
    t0 = time.perf_counter()
    try:
        with RunnerCapture() as cap:
            df = call.run(ctx)
            t1 = time.perf_counter()
            pdf = df.toPandas()
        t2 = time.perf_counter()
        loop = cap.loop_stats()
        rec.update(loop)
        rec.update(call_s=t2 - t0, output_s=t2 - t1, preloop_s=max(0.0, t1 - t0 - loop["loop_s"]))
        if check:
            rec["error"] = call.check(ctx, pdf)
    except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
        rec["error"] = traceback.format_exc(limit=3)
        rec.setdefault("call_s", time.perf_counter() - t0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec.update(job_counts(sc, group))
    if rec.get("supersteps"):
        rec["jobs_per_superstep"] = rec["jobs"] / rec["supersteps"]
    return rec


def run_pass(ctx, wl: Workload, tag: str, check: bool) -> dict:
    """algo -> the records of its ``reps`` calls in this pass."""
    return {
        c.algo: [run_call(ctx, c, f"{tag}:{c.algo}:{r}", check) for r in range(c.reps)]
        for c in wl.calls
    }


def layer_probes(ctx, wl: Workload) -> dict:
    """Time the lower layers' public functions on the workload graph."""
    from pyspark.sql import functions as F

    from gelly_partitioning_spark import degrees, skew_census, split_graph
    from gelly_partitioning_spark.encoding import encode_split_graph
    from gelly_partitioning_spark.sources import extract_edges

    out = {}
    if wl.table == "repo_files":
        rf = ctx.spark.read.parquet(str(ctx.dir / "repo_files.parquet"))
        out["sources.extract_edges_s"], _ = _timed(lambda: _noop(extract_edges(rf)))
    out["graph.degrees_s"], deg = _timed(lambda: degrees(ctx.edges).localCheckpoint(eager=True))
    out["splitting.skewed_vertices"] = skew_census(ctx.edges, threshold=SPLIT["threshold"]).first()[0]
    if wl.split_probe:
        def split():
            sg = split_graph(ctx.edges, **SPLIT)
            e = sg.edges.localCheckpoint(eager=True)
            return sg, e, e.count(), sg.vertices.count()

        out["splitting.split_graph_s"], (sg, e, rows, subs) = _timed(split)
        out["splitting.routing_rows"], out["splitting.subvertices"] = rows, subs
        max_sub = e.groupBy("src").count().agg(F.max("count")).first()[0]
        max_orig = deg.agg(F.max("degree")).first()[0]
        out["splitting.hub_flatten_ratio"] = max_orig / max_sub
        out["encoding.encode_split_graph_s"], _ = _timed(
            lambda: _noop(encode_split_graph(sg).edges)
        )
    return out


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def configure_env(trace_dir: Path | None) -> tuple[dict, int]:
    """Environment and Spark settings shared by both commits: local[nproc],
    a bounded driver heap, every temp and spill file inside the work dir."""
    nproc = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEMORY"] = "3g"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # both JVMs, spark-submit's launcher and the driver, keep their temp
    # files in the work dir and write no hsperfdata
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.local.dir": str(WORK / "local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": jvm_opts,
    }
    if trace_dir is not None:
        trace_dir.mkdir(parents=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(trace_dir),
            "spark.eventLog.compress": "false",
        })
    return conf, nproc


def run(args) -> dict:
    from gelly_partitioning_spark import get_spark

    import inputs
    from measure import PeakRss, parse_event_log, probe_machine, stop_spark

    wl = workloads()[args.workload]
    rss = PeakRss().start() if args.trace else None
    probe_before = probe_machine()
    rows = SIZES[args.size][wl.table]
    input_dir = inputs.materialize(WORK, wl.table, args.seed, rows)
    trace_dir = WORK / "eventlog" / f"{args.workload}-{args.seed}-{os.getpid()}" if args.trace else None
    conf, nproc = configure_env(trace_dir)

    phases = {"input": time.perf_counter() - T_PROCESS}
    session_s, spark = _timed(lambda: get_spark(app_name="perfbench", cores=nproc, extra_conf=conf))
    spark.sparkContext.setLogLevel("ERROR")
    phases["session"] = time.perf_counter() - T_PROCESS

    # JIT and codegen warm-up: one untimed pass on a tenth-size input
    warm_ctx = Ctx(spark, inputs.materialize(WORK, wl.table, args.seed, rows // 10))
    warm_ctx.edges = wl.build(warm_ctx).cache()
    warm_s, _ = _timed(lambda: run_pass(warm_ctx, wl, "warmup", check=False))
    warm_ctx.edges.unpersist(blocking=True)
    phases["warmup"] = time.perf_counter() - T_PROCESS

    ctx = Ctx(spark, input_dir)
    fp_ok, fp = inputs.check_fingerprint(spark, input_dir, wl.table)

    def build():
        if ctx.edges is not None:
            ctx.edges.unpersist(blocking=True)
        t0 = time.perf_counter()
        ctx.edges = wl.build(ctx).cache()
        n = ctx.edges.count()
        return time.perf_counter() - t0, n

    build()  # the first full-size build pays one-off costs; untimed
    setups = []
    for _ in range(SETUP_GROUPS):
        builds = [build() for _ in range(SETUP_BUILDS)]
        setups.append(sum(dt for dt, _ in builds))
    n_edges = builds[-1][1]

    phases["setup"] = time.perf_counter() - T_PROCESS
    ctx.ref = wl.reference(ctx)
    phases["reference"] = time.perf_counter() - T_PROCESS
    passes = []
    t_start = time.perf_counter()
    while len(passes) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
        passes.append(run_pass(ctx, wl, f"pass{len(passes)}", check=True))

    phases["passes"] = time.perf_counter() - T_PROCESS
    layers = layer_probes(ctx, wl) if args.trace else {}
    peak_mb = rss.stop_mb() if rss else 0.0
    stop_spark(spark)
    phases["stop"] = time.perf_counter() - T_PROCESS
    probe_after = probe_machine()

    def recs(a):
        return [r for p in passes for r in p[a]]

    ops = [r for a in passes[0] for r in recs(a)]
    failed = [r for r in ops if r["error"]]
    for r in failed:
        print(f"# FAILED {r['group']}: {r['error']}", file=sys.stderr)
    unsteady = [
        f"{a}.{k}" for a in passes[0] for k in REPEATING
        if len({r.get(k) for r in recs(a)}) > 1
    ]
    pass_times = [
        sum(_median([r["call_s"] for r in calls]) for calls in p.values()) for p in passes
    ]

    print(f"# workload={args.workload} size={args.size} seed={args.seed} cores={nproc} "
          f"edges={n_edges} input={fp} input_ok={fp_ok} passes={len(passes)}")
    print("# phase ends at s: " + " ".join(f"{k}={v:.1f}" for k, v in phases.items()))
    print(f"# probe_s before={probe_before:.4f} after={probe_after:.4f}")
    print(f"# pass_s per pass: warmup={warm_s:.3f} " + " ".join(f"{t:.3f}" for t in pass_times))
    print(f"# counts per pass: " + " ".join(
        f"{a}:supersteps={r.get('supersteps', 0)},batches={r.get('batches', 0)},jobs={r['jobs']}"
        for a, (r, *_) in passes[0].items()))
    if unsteady:
        print(f"# FLAG counts differ between passes: {', '.join(unsteady)}")

    untraced = WORK / "untraced" / f"{args.workload}-{args.size}-seed{args.seed}.json"
    if not args.trace:
        m = {
            "setup_s": _median(setups),
            "pass_s": _median(pass_times),
            "pagerank_s": _median([r["call_s"] for r in recs("pagerank")]),
        }
        units = END_TO_END
        untraced.parent.mkdir(parents=True, exist_ok=True)
        untraced.write_text(json.dumps({"pass_s": m["pass_s"]}))
    else:
        ev = parse_event_log(trace_dir)
        shutil.rmtree(trace_dir, ignore_errors=True)
        m = {k: 0.0 for k in PER_LAYER}
        m.update(layers)
        m["peak_rss_mb"] = peak_mb
        m["machine.probe_before_s"] = probe_before
        m["machine.probe_after_s"] = probe_after
        m["session.start_s"] = session_s
        m["trace.warmup_pass_s"] = warm_s
        m["trace.pass_s"] = _median(pass_times)
        for a in passes[0]:
            for k in PER_CALL:
                vals = [{**r, **ev.get(r["group"], {})}.get(k, 0.0) for r in recs(a)]
                m[f"{a}.{k}"] = _median(vals)
        units = PER_LAYER
        if untraced.exists():
            base = json.loads(untraced.read_text())["pass_s"]
            print(f"# trace overhead: pass_s {m['trace.pass_s']:.4f} s traced vs "
                  f"{base:.4f} s untraced ({m['trace.pass_s'] / base - 1:+.1%})")
        else:
            print("# trace overhead: no untraced run of this workload and seed to compare")

    for k, v in m.items():
        print(f"{k:<34} {v:>14.4f} {units[k]}")
    return {
        "correct": fp_ok and not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in m.items()},
    }


def smoke() -> int:
    """Every workload at the smoke size, untraced and traced: each named
    metric of BENCHMARK.json printed with its unit, every answer right."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in workloads():
        for tr in (0, 1):
            cmd = [sys.executable, __file__, "--workload", w, "--seed", "42",
                   "--seconds", "1", "--trace", str(tr), "--size", "smoke"]
            p = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                problems.append(f"{w} trace={tr}: exit {p.returncode}, no result\n{p.stderr[-2000:]}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[tr]:
                diff = sorted(k for k in set(got) | set(want[tr]) if got.get(k) != want[tr].get(k))
                problems.append(f"{w} trace={tr}: metrics missing, extra or with another unit: {diff}")
            if p.returncode or not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={tr}: exit {p.returncode}, {res['failed']} of "
                                f"{res['attempted']} ops failed, correct={res['correct']}")
            print(f"smoke {w} trace={tr}: {res['attempted']} ops, {res['failed']} failed", flush=True)
    for problem in problems:
        print(f"SMOKE FAIL {problem}")
    print("SMOKE OK" if not problems else "SMOKE FAILED")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(workloads()))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=3)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    ap.add_argument("--smoke", action="store_true", help="self-test of every workload at smoke size")
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
