"""The single-task rung: a whole graph computation inside ONE Spark task.

When the input fits one task's memory, PageRank, connected components,
degree count, triangle count and Jaccard skip the distributed paths: the
rows are Arrow-batched into one ``mapInArrow`` task, a vectorized numpy
kernel does the whole computation, and one result batch comes out: no
collect into the application process, no per-superstep or per-join jobs.
(Triangle count and Jaccard share one kernel, the per-edge
common-neighbour count in ``algorithms/triangle_count.py``.) The
algorithms own only their kernels and their working-set bytes per row;
this module owns how the rung is entered, gated and abandoned.

A call on the rung is one Spark action (``run``):
``df.coalesce(1).limit(cap + 1).mapInArrow(task).localCheckpoint(eager=True)``,
cap = budget // row_bytes. The task streams the Arrow batches, counts
the rows, adds the optional charge per byte of their strings (jaccard's
id bytes) and applies ``admits``. On admit it runs the kernel; on decline
it drains the rest of its input without keeping it and yields no rows (a
worker that leaves input unread is exited by PySpark, and the next call
pays a fresh one). An oversized input therefore costs at most cap + 1
streamed rows, never a full scan. The decision, the rows streamed and the
kernel's report come back through a last-value accumulator: no job. A
jobless Catalyst-stats pre-check declines obviously oversized inputs
before any of this.

Where a call's time goes (lineitem-default pagerank, 13k rows, 4 vCPUs,
median of 9 warm calls, 207 ms): ~40 ms building the plan on the driver
(45 JVM round trips; the time is mostly the JVM analysing each Dataset
and the stats pre-check), until ~115 ms for Spark to schedule the task
and start it on a worker, ~40 ms streaming the rows (two Arrow batches,
with a socket wait between them that one batch or a Unix-domain socket
avoids), 5 ms in the kernel and ~25 ms storing the result. The collect
adds ~40 ms.

Every rung returns the same answer; this one only changes where the
work runs.
"""

from __future__ import annotations

import time
from functools import cache
from typing import Callable, NamedTuple

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from .superstep import (
    SuperstepMetrics,
    SuperstepRunner,
    plan_size_hint_bytes,
    release_checkpoint,
)

# Working-set budget of the one task; 0 disables the rung. The default
# admits ~2.4M (src, dst) PageRank rows.
DEFAULT_SINGLE_TASK_BUDGET = 256 << 20


class Outcome(NamedTuple):
    """One ``run``: the rows its task streamed (at most cap + 1; 0 when
    no task ran), the materialized result (None on decline) and the
    kernel's report."""

    rows: int
    out: DataFrame | None
    report: object = None


class _LastValue(AccumulatorParam):
    """Last value wins, so a retried task reports the same thing again."""

    def zero(self, value):
        return None

    def addInPlace(self, value, update):
        return value if update is None else update


def admits(rows: int, budget_bytes: int, row_bytes: int, extra_bytes: int = 0) -> bool:
    """True when ``rows`` rows (at least one) of ``row_bytes`` each, plus
    ``extra_bytes``, fit the budget; a zero budget admits nothing."""
    return bool(budget_bytes) and 0 < rows and rows * row_bytes + extra_bytes <= budget_bytes


def _task(batches, kernel, budget_bytes, row_bytes, byte_cost, schema, report):
    """The rung's task body over an iterator of Arrow record batches:
    yields the kernel's output batch on admit, nothing on decline, and
    passes (rows, admitted, kernel report) to ``report`` either way."""
    import pyarrow as pa
    import pyarrow.compute as pc

    kept, rows, extra = [], 0, 0
    for b in batches:
        rows += b.num_rows
        if byte_cost:
            strings = [a for a in b.columns if pa.types.is_string(a.type)
                       or pa.types.is_large_string(a.type)]
            extra += byte_cost * sum(pc.sum(pc.binary_length(a)).as_py() or 0 for a in strings)
        if kept is not None and rows * row_bytes + extra <= budget_bytes:
            kept.append(b)
        else:
            kept = None  # declined: drain the rest, keep nothing
    if kept is None or not admits(rows, budget_bytes, row_bytes, extra):
        report((rows, False, None))
        return
    names = kept[0].schema.names  # the input's columns: no driver-side lookup
    columns = {c: pa.chunked_array([b.column(i) for b in kept]) for i, c in enumerate(names)}
    del kept, b  # the kernel may pop its columns to free them early
    out, info = kernel(columns, budget_bytes - rows * row_bytes - extra)
    report((rows, True, info))
    yield pa.RecordBatch.from_pydict(out, schema=schema)


@cache
def _schemas(ddl: str):
    """(StructType, Arrow schema) of a DDL string, parsed once: a DDL
    string handed to ``mapInArrow`` is parsed by the JVM on every call."""
    struct = StructType.fromDDL(ddl)
    return struct, to_arrow_schema(struct)


def run(
    df: DataFrame,
    kernel: Callable[[dict, int], tuple],
    schema: str,
    budget_bytes: int,
    row_bytes: int,
    byte_cost: int = 0,
) -> Outcome:
    """``kernel`` over all of ``df`` inside one task, when its rows fit.

    Each row is charged ``row_bytes`` plus ``byte_cost`` per UTF-8 byte
    of its string columns. ``kernel(columns, left_bytes)`` gets one Arrow
    ``ChunkedArray`` per input column in a dict it may pop from, and the
    budget left after the rows' charge; it returns ``(output columns,
    report)``, the report any small picklable value. On admit the result
    is materialized by the call's one action.
    """
    if not budget_bytes:
        return Outcome(0, None)
    hint = plan_size_hint_bytes(df)
    if hint is not None and hint > 8 * budget_bytes:
        return Outcome(0, None)
    acc = df.sparkSession.sparkContext.accumulator(None, _LastValue())
    struct, arrow = _schemas(schema)

    def task(batches):
        return _task(batches, kernel, budget_bytes, row_bytes, byte_cost, arrow, acc.add)

    out = (
        df.coalesce(1)
        .limit(budget_bytes // row_bytes + 1)
        .mapInArrow(task, struct)
        .localCheckpoint(eager=True)
    )
    rows, admitted, report = acc.value
    if not admitted:
        release_checkpoint(out)
        return Outcome(rows, None)
    return Outcome(rows, out, report)


def sorted_codes(*cols):
    """(codes, ids) of Arrow string columns encoded together: ``ids``
    their distinct values in sorted order (UTF-8 byte order, Spark's
    string order) and ``codes`` each row's int64 index into them, the
    columns' rows one after the other."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    enc = pc.dictionary_encode(pa.chunked_array([ch for c in cols for ch in c.chunks]))
    ids = enc.chunk(0).dictionary
    order = pc.array_sort_indices(ids).to_numpy()
    rank = np.empty(len(order), dtype=np.int64)
    rank[order] = np.arange(len(order))
    return rank[np.concatenate([c.indices.to_numpy() for c in enc.chunks])], ids.take(order)


def run_loop(
    edges: DataFrame,
    kernel: Callable[..., tuple],
    schema: str,
    budget_bytes: int,
    row_bytes: int,
    runner: SuperstepRunner | None = None,
) -> DataFrame | None:
    """Run an iterative vertex kernel over the rows of ``edges``, a
    (src, dst) frame (``graph.normalize_endpoints``), in one task
    (``run``); None when the rung declines.

    In the task both columns' id strings are encoded together in sorted
    order: the dictionary IS the vertex set and the codes are the rows'
    vertex indexes, so no decode join and no hash check is needed.
    ``kernel(si, di, strs)`` gets the undirected expansion's per-row
    source and destination indexes and the sorted ids (numpy objects),
    and returns ``(columns, iterations, converged)``; the last two become
    the run's one ``SuperstepMetrics`` record on ``runner`` (a new one
    when None) and ``runner.converged``. A kernel failure propagates.
    """

    def indexed(c, left_bytes):
        import numpy as np

        m = len(c["src"])
        codes, ids = sorted_codes(c.pop("src"), c.pop("dst"))
        si, di = np.roll(codes, m), codes
        out, done, conv = kernel(si, di, ids.to_numpy(zero_copy_only=False))
        return out, (done, conv, len(ids))

    t0 = time.time()
    o = run(edges, indexed, schema, budget_bytes, row_bytes)
    if o.out is None:
        return None
    done, conv, n = o.report
    runner = runner or SuperstepRunner(edges.sparkSession)
    runner.metrics.append(SuperstepMetrics(done, n, 0 if conv else None, time.time() - t0))
    runner.converged = conv
    return o.out
