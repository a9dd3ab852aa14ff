"""Diagnostics reported by the traced ``backfill`` run, never gated.

Each is the events/s of the workload's first batch (``batch_events``
events) applied to an empty table through ``Bench.pipeline``, the same
per-event path as a measured batch:

* with the paper's guarantees at ``local[4]``: the traced loop's own first
  batch (tracing adds ``tracing.overhead_ratio`` to it);
* with the same guarantees at ``local[1]``, in a child process (the scaling
  pair this 4-vCPU host can measure);
* under the bulk settings ``bench.py`` uses (``Bench.pipeline(bulk=True)``),
  timed only.

One batch rather than the whole cycle keeps the traced run, child included,
inside its time limit.
"""

from __future__ import annotations

import time

import pyarrow.compute as pc

NAMES = ("diag.bulk_apply_events_per_s", "diag.full_apply_events_per_s",
         "diag.local1_apply_events_per_s", "diag.scaling_efficiency")


def first_batch_rate(bench, bulk: bool = False) -> float:
    """Events/s of the first backfill batch applied to a new, empty table;
    the events are the slice's rows, redeliveries, DDL and poison rows
    included, as a measured batch counts them."""
    hi = bench.spec.batch_events - 1
    events = pc.sum(pc.less_equal(bench.log.column("lsn"), hi)).as_py()
    pipe = bench.pipeline("diag-bulk" if bulk else "diag-full", bulk=bulk)
    t0 = time.perf_counter()
    pipe.apply_until(hi)
    return events / (time.perf_counter() - t0)


def parent_metrics(bench, cores: int, local1_eps: float) -> dict:
    first = bench.batches[0]
    full = first["events"] / first["apply_s"]
    bulk = first_batch_rate(bench, bulk=True)
    return dict(zip(NAMES, (bulk, full, local1_eps,
                            full / (cores * local1_eps))))
