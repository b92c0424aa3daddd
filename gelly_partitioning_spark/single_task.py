"""The single-task rung: a whole graph computation inside ONE Spark task.

When the input fits one task's memory, PageRank, connected components,
degree count, triangle count and Jaccard skip the distributed paths:
the rows are Arrow-batched into one ``mapInPandas`` task, a vectorized
numpy kernel does the whole computation, and one result batch comes
out: no collect into the application process, no per-superstep or
per-join jobs. (Triangle count and Jaccard share one kernel, the
per-edge common-neighbour count in ``algorithms/triangle_count.py``.) The
algorithms own only their kernels and their working-set bytes per row;
this module owns how the rung is gated, entered and abandoned:

- ``gate``: a jobless Catalyst-stats pre-check, then ONE bounded count
  (summing an optional per-row byte charge, e.g. jaccard's id bytes)
  that both measures the input (never past budget + 1 rows) and
  materializes the one-partition copy the kernel reads;
- ``run``: the one Arrow batching boundary — chunks concatenated by
  column name, one kernel call, one output frame;
- ``run_loop``: the iterative kernels' wrapper — undirected hashed keys
  in, the result checkpointed, its iteration count read back into a
  ``SuperstepMetrics`` record, and a fallback to the distributed paths
  when the in-task check finds an xxhash64 collision.

Every rung returns the same answer; this one only changes where the
work runs.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.errors import PythonException
from pyspark.sql import Column, DataFrame, functions as F

from .superstep import (
    SuperstepMetrics,
    SuperstepRunner,
    plan_size_hint_bytes,
    release_checkpoint,
)

# Working-set budget of the one task; 0 disables the rung. The default
# admits ~5M undirected PageRank rows (48 bytes each).
DEFAULT_SINGLE_TASK_BUDGET = 256 << 20

# Raised by the IN-TASK xxhash64 injectivity check (``run_loop``):
# ``run_loop`` matches it in the surfaced PythonException and falls back
# to the probed distributed paths. Collision probability is ~n²/2^65 — the
# check is for exactness, not likelihood. local[] runs with task
# maxFailures=1, so a collision costs one task; a cluster retries the
# deterministic failure spark.task.maxFailures times before the fallback.
COLLISION_MARKER = "xxhash64 collision on vertex ids"


def admits(rows: int, budget_bytes: int, row_bytes: int, extra_bytes: int = 0) -> bool:
    """True when ``rows`` rows (at least one) of ``row_bytes`` each, plus
    ``extra_bytes``, fit the budget; a zero budget admits nothing."""
    return bool(budget_bytes) and 0 < rows and rows * row_bytes + extra_bytes <= budget_bytes


def gate(
    df: DataFrame, budget_bytes: int, row_bytes: int, extra_bytes: Column | None = None
) -> DataFrame | None:
    """A materialized one-partition copy of ``df`` when it fits the rung,
    else None (the caller then continues on ``df`` itself). ``extra_bytes``
    is an optional per-row charge on top of ``row_bytes``, an expression
    over ``df``'s columns (e.g. the bytes of its strings), summed by the
    same action that counts the rows.

    The jobless stats hint skips obviously oversized inputs outright.
    Estimates can be crude (an underestimate passes), so the exact gate
    behind it counts ``df.coalesce(1).limit(cap + 1)``: one task pulls
    rows until cap + 1, so an oversized input costs at most cap + 1 rows
    of work past any upstream shuffle, never a full scan, and an admitted
    one is counted and materialized by the same action. (A limit without the
    coalesce would add a single-partition exchange: a shuffle stage of up
    to cap + 1 rows from every partition, measured ~0.08 s per call on a
    13k-edge graph with local[4] on 4 vCPUs.)
    """
    if not budget_bytes:
        return None
    hint = plan_size_hint_bytes(df)
    if hint is not None and hint > 8 * budget_bytes:
        return None
    copy = df.coalesce(1).limit(budget_bytes // row_bytes + 1).localCheckpoint(eager=False)
    if extra_bytes is None:
        rows, extra = copy.count(), 0
    else:
        rows, extra = copy.agg(F.count(F.lit(1)), F.sum(extra_bytes)).first()
    if admits(rows, budget_bytes, row_bytes, extra or 0):
        return copy
    release_checkpoint(copy)
    return None


def run(df: DataFrame, kernel: Callable[[dict], dict], schema: str) -> DataFrame:
    """``kernel`` over all of ``df`` inside one ``mapInPandas`` task.

    The kernel receives one numpy array per input column (the Arrow
    batches concatenated by column name) in a dict it may pop from, and
    returns the output columns as a dict. ``df`` must be non-empty
    (``gate`` and ``admits`` ensure it).
    """
    cols = df.columns

    def task(pdfs):
        import numpy as np
        import pandas as pd

        chunks = list(pdfs)
        columns = {c: np.concatenate([ch[c].to_numpy() for ch in chunks]) for c in cols}
        del chunks  # the kernel may pop its columns to free them early
        yield pd.DataFrame(kernel(columns))

    return df.coalesce(1).mapInPandas(task, schema)


def undirected_keys(edges: DataFrame) -> DataFrame:
    """(s, d, s_str): both orientations of every edge on xxhash64 keys,
    with the source's string id — the iterative kernels' input."""

    def side(a: str, b: str) -> DataFrame:
        return edges.select(
            F.xxhash64(a).alias("s"), F.xxhash64(b).alias("d"), F.col(a).alias("s_str")
        )

    return side("src", "dst").unionByName(side("dst", "src"))


def run_loop(
    edges: DataFrame,
    kernel: Callable[..., tuple],
    schema: str,
    runner: SuperstepRunner | None = None,
) -> DataFrame | None:
    """Run an iterative vertex kernel over ``undirected_keys(edges)`` (the
    gate's copy) and materialize its result.

    In the task the keys become dense vertex indexes: every vertex
    appears on the s side of the undirected expansion, so unique(s) IS
    the vertex set and first-occurrence indices recover the string ids —
    no decode join. The exact injectivity check runs there too: two
    DIFFERENT ids share a hash iff some row's string disagrees with its
    hash's representative, which raises ``COLLISION_MARKER``.

    ``kernel(si, di, strs)`` gets the per-row source and destination
    vertex indexes and the per-vertex string ids, and returns
    ``(columns, iterations, converged)``; the last two become the run's
    one ``SuperstepMetrics`` record on ``runner`` (a new one when None)
    and ``runner.converged``. Returns None on a collision: the caller
    then takes its distributed paths. Any other task failure propagates.
    """

    def indexed(c):
        import numpy as np

        s, s_str = c["s"], c["s_str"]
        ids, first = np.unique(s, return_index=True)
        si = np.searchsorted(ids, s)
        strs = s_str[first]
        if not (s_str == strs[si]).all():
            raise ValueError(COLLISION_MARKER)
        out, done, conv = kernel(si, np.searchsorted(ids, c["d"]), strs)
        n = len(strs)
        return {
            **out,
            "_iters": np.full(n, done, dtype=np.int32),
            "_conv": np.full(n, conv),
        }

    t0 = time.time()
    try:
        out = run(
            undirected_keys(edges), indexed, f"{schema}, _iters int, _conv boolean"
        ).localCheckpoint(eager=True)
        meta = out.select(
            F.max("_iters").alias("i"),
            F.max(F.col("_conv").cast("int")).alias("c"),
            F.count("*").alias("n"),
        ).first()
    except PythonException as exc:
        if COLLISION_MARKER not in str(exc):
            raise
        return None
    finally:
        release_checkpoint(edges)  # the copy is dead once out is materialized
    runner = runner or SuperstepRunner(edges.sparkSession)
    runner.metrics.append(
        SuperstepMetrics(
            superstep=int(meta["i"]),
            rows=int(meta["n"]),
            changed=0 if meta["c"] else None,
            wall_sec=time.time() - t0,
        )
    )
    runner.converged = bool(meta["c"])
    return out.drop("_iters", "_conv")
