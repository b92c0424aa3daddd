"""spark-submit entry point — the engine's CLI surface.

Mirrors the reference's per-algorithm ``main()`` programs
(e.g. SortDegreeNodeSplitting.java:296-315: edgePath outputPath
maxIterations alpha level) as one dispatcher:

    spark-submit --py-files gps.zip tools/submit_cli.py \\
        pagerank --edges /data/edges.parquet --output /out \\
        --threshold 1000 --alpha 2 --level 8 --tol 1e-6

(``gps.zip``: the ``gelly_partitioning_spark`` directory, zipped) or
locally: ``python -m gelly_partitioning_spark.cli <algo> ...``.

The session runs the engine's Python worker daemon
(``session.PYTHON_DAEMON``) unless spark-submit names a daemon or ships
``--py-files`` (``session.submitted_daemon_conf``): the daemon needs the
package importable when the executors' workers start, before a task
puts ``gps.zip`` on their path. To keep it under ``--py-files``, name
the archive on the executors' path too; in local mode, where the
executors share the driver's file system:

    spark-submit --py-files gps.zip \\
        --conf spark.executorEnv.PYTHONPATH=$PWD/gps.zip \\
        --conf spark.python.daemon.module=gelly_partitioning_spark._daemon \\
        tools/submit_cli.py pagerank ...

Edge input: parquet with (src, dst[, w]) or a tab-separated edge list
('#' comments skipped — reference S1 scan, AlphaNodeSplitting.java:256-273).
Output: parquet (default) or CSV (reference S4 sink).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

from . import algorithms
from .session import submitted_daemon_conf
from .sources.edge_list import read_edge_list
from .superstep import SuperstepRunner


def _load_edges(spark, path: str):
    if path.endswith((".tsv", ".txt", ".csv")):
        return read_edge_list(spark, path)
    return spark.read.parquet(path)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="gelly_partitioning_spark")
    p.add_argument("algorithm", choices=[
        "pagerank", "connected_components", "label_propagation",
        "triangle_count", "jaccard", "degree_count", "skew_census",
    ])
    p.add_argument("--edges", required=True, help="parquet dir or .tsv edge list")
    p.add_argument("--output", required=True, help="output path")
    p.add_argument("--format", default="parquet", choices=["parquet", "csv"])
    p.add_argument("--max-iterations", type=int, default=100)
    p.add_argument("--threshold", type=int, default=None,
                   help="skew threshold xMin (degree above which a vertex splits); "
                        "omit to derive ceil(avg degree) from the data "
                        "(reference AlphaNodeSplitting.java:82-102)")
    p.add_argument("--alpha", type=int, default=2)
    p.add_argument("--level", type=int, default=8)
    p.add_argument("--no-split", action="store_true")
    p.add_argument("--tol", type=float, default=1e-6)
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument("--delta", type=float, default=0.5)
    p.add_argument("--checkpoint-dir", default=None,
                   help="parquet snapshot dir; reuse to resume mid-run")
    p.add_argument("--checkpoint-every", type=int, default=5)
    p.add_argument("--metrics-out", default=None,
                   help="write per-superstep metrics JSON here")
    return p


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    # master and every other setting come from spark-submit, whose JVM holds them
    SparkContext._ensure_initialized()
    spark = (
        SparkSession.builder.appName(f"gps-{args.algorithm}")
        .config(map=submitted_daemon_conf(SparkConf()))
        .getOrCreate()
    )
    edges = _load_edges(spark, args.edges)

    split_kw = dict(
        split=not args.no_split, threshold=args.threshold,
        alpha=args.alpha, level=args.level,
    )
    runner = SuperstepRunner(
        spark,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_every=args.checkpoint_every,
        collect_partition_metrics=args.metrics_out is not None,
    )

    algo = args.algorithm
    if algo == "pagerank":
        out = algorithms.pagerank(
            edges, damping=args.damping, tol=args.tol,
            max_iterations=args.max_iterations, runner=runner, **split_kw,
        )
    elif algo == "connected_components":
        out = algorithms.connected_components(
            edges, max_iterations=args.max_iterations, runner=runner, **split_kw
        )
    elif algo == "label_propagation":
        out = algorithms.label_propagation(
            edges, delta=args.delta, max_iterations=args.max_iterations,
            runner=runner, **split_kw,
        )
    elif algo == "triangle_count":
        out = algorithms.triangle_count(edges)
    elif algo == "jaccard":
        out = algorithms.jaccard(edges)
    elif algo == "degree_count":
        out = algorithms.degree_count(
            edges, split=not args.no_split, threshold=args.threshold,
            alpha=args.alpha, level=args.level,
        )
    elif algo == "skew_census":
        out = algorithms.skew_census(
            edges,
            threshold=args.threshold if args.threshold is not None else 1000,
        )
    else:  # pragma: no cover
        raise SystemExit(f"unknown algorithm {algo}")

    writer = out.write.mode("overwrite")
    if args.format == "csv":
        writer.option("header", "true").csv(args.output)
    else:
        writer.parquet(args.output)

    if args.metrics_out:
        with open(args.metrics_out, "w") as f:
            f.write(runner.metrics_json())
    print(json.dumps({"algorithm": algo, "output": args.output,
                      "supersteps": len(runner.metrics)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
