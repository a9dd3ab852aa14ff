"""Per-layer metrics from the spans of a traced run.

Batch-scoped figures are means per traced batch; read, compact and lineage
figures are means per call. A layer the workload does not reach reports 0.

A batch's apply time splits into the wrapped layer calls it makes
(``tracing.wrapped_share``) and the pipeline's own residual
(``pipeline.apply_until.self_s``); ``check_nesting`` fails the run when a
layer call of a batch is not nested inside that batch's apply call, which
is what a mis-placed wrapper looks like. ``tracing.overhead_ratio`` is an
estimate from the same traced run: apply time over apply time less the
spans' own bookkeeping (job-group calls, job lookups, output stats). It is
not a second, untraced run of the same seed.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import pyarrow as pa
import pyarrow.compute as pc

from workloads import Failure

# spans a batch makes outside its apply call
OUTSIDE_APPLY = ("storage.compact", "storage.read", "provenance.lineage_for_lsn")


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def changed_keys(log, lo: int, hi: int) -> int:
    """Distinct valid (repo, path) keys the log changes in ``(lo, hi]``."""
    lsn = log.column("lsn")
    mask = pc.and_(pc.and_(pc.greater(lsn, lo), pc.less_equal(lsn, hi)),
                   pc.is_in(log.column("op"),
                            value_set=pa.array(["insert", "update", "delete"])))
    rows = log.filter(mask).select(["repo", "path"]).drop_null()
    return rows.group_by(["repo", "path"]).aggregate([]).num_rows


def _batch_spans(tracer) -> dict[int, list[dict]]:
    by_batch: dict[int, list[dict]] = defaultdict(list)
    for rec in tracer.spans:
        if rec["batch"] is not None:
            by_batch[rec["batch"]].append(rec)
    return by_batch


def check_nesting(bench, tracer) -> None:
    """Every layer call a traced batch makes inside its apply must sit in
    that batch's one ``pipeline.apply_until`` span."""
    by_batch = _batch_spans(tracer)
    by_id = {r["id"]: r for r in tracer.spans}
    problems = []
    for b in (b for b in bench.batches if b["traced"]):
        spans = by_batch[b["batch"]]
        apply = [r for r in spans if r["name"] == "pipeline.apply_until"]
        if len(apply) != 1:
            problems.append(f"batch {b['batch']} has {len(apply)} apply spans")
            continue
        top = apply[0]["id"]
        for r in spans:
            if r["name"] in OUTSIDE_APPLY or r["id"] == top:
                continue
            p = r["parent"]
            while p is not None and p != top:
                p = by_id[p]["parent"]
            if p != top:
                problems.append(f"batch {b['batch']}: {r['name']} ran "
                                "outside its apply span")
    if problems:
        raise Failure("; ".join(problems[:5]))


def per_layer(bench, tracer) -> dict:
    traced = [b for b in bench.batches if b["traced"]]
    by_batch = _batch_spans(tracer)
    per = defaultdict(list)           # metric -> one value per traced batch
    for b in traced:
        spans = by_batch[b["batch"]]

        def named(name, spans=spans):
            return [r for r in spans if r["name"] == name]

        apply = named("pipeline.apply_until")
        merges = named("storage.merge")
        emits = named("provenance.emit")
        checks = named("ledger.slice_checksum")
        per["pipeline.apply_until.self_s"].append(sum(r["self_s"] for r in apply))
        per["pipeline.apply_until.jobs"].append(sum(len(r["jobs"]) for r in apply))
        scanned = sum(r["spark"]["input_bytes"] for r in spans
                      if r["name"] not in OUTSIDE_APPLY)
        if b["slice_bytes"]:
            per["pipeline.slice_scans"].append(scanned / b["slice_bytes"])
        per["storage.merge.s"].append(sum(r["s"] for r in merges))
        per["storage.merge.jobs"].append(sum(len(r["jobs"]) for r in merges))
        per["storage.merge.shuffle_write_bytes"].append(
            sum(r["spark"]["shuffle_write_bytes"] for r in merges))
        per["storage.merge.spill_bytes"].append(
            sum(r["spark"]["spill_memory_bytes"] + r["spark"]["spill_disk_bytes"]
                for r in merges))
        per["storage.merge.executor_run_s"].append(
            sum(r["spark"]["executor_run_ms"] for r in merges) / 1000)
        per["storage.merge.bytes_written"].append(
            sum(r.get("bytes_written", 0) for r in merges))
        rows = sum(r.get("rows_written", 0) for r in merges)
        if rows:
            per["storage.merge.useful_row_ratio"].append(
                changed_keys(bench.log, b["lo"], b["hi"]) / rows)
        evolves = named("storage.evolve")
        per["storage.evolve.s"].append(sum(r["s"] for r in evolves))
        per["storage.evolve.calls"].append(len(evolves))
        per["provenance.emit.s"].append(sum(r["s"] for r in emits))
        per["provenance.emit.calls"].append(len(emits))
        per["provenance.emit.jobs"].append(sum(len(r["jobs"]) for r in emits))
        per["provenance.emit_counts.s"].append(
            sum(r["s"] for r in named("provenance.emit_counts")))
        per["provenance.bytes_written"].append(b.get("prov_bytes", 0))
        per["ledger.commit.s"].append(sum(r["s"] for r in named("ledger.commit")))
        per["ledger.slice_checksum.s"].append(sum(r["s"] for r in checks))
        per["ledger.slice_checksum.jobs"].append(
            sum(len(r["jobs"]) for r in checks))
        top = {r["id"] for r in apply}
        wrapped = sum(r["s"] for r in spans if r["parent"] in top)
        per["tracing.wrapped_share"].append(wrapped / b["apply_s"])
    out = {k: _mean(v) for k, v in per.items()}

    calls = defaultdict(list)
    for rec in tracer.spans:
        calls[rec["name"]].append(rec)
    reads = calls["storage.read"]
    out["storage.read.s"] = _mean([r["s"] for r in reads])
    out["storage.read.jobs"] = _mean([len(r["jobs"]) for r in reads])
    out["storage.read.input_bytes"] = _mean(
        [r["spark"]["input_bytes"] for r in reads])
    compacts = calls["storage.compact"]
    out["storage.compact.s"] = _mean([r["s"] for r in compacts])
    out["storage.compact.bytes_rewritten"] = _mean(
        [r.get("bytes_written", 0) for r in compacts])
    out["provenance.lineage_for_lsn.s"] = _mean(
        [r["s"] for r in calls["provenance.lineage_for_lsn"]])
    out["spark.failed_tasks"] = sum(r["spark"]["failed_tasks"]
                                    for r in tracer.spans)
    out["spark.executor_run_s"] = sum(r["spark"]["executor_run_ms"]
                                      for r in tracer.spans) / 1000
    out["spark.shuffle_write_bytes"] = sum(r["spark"]["shuffle_write_bytes"]
                                           for r in tracer.spans)
    apply_s = sum(b["apply_s"] for b in traced)
    bookkeeping = sum(r["overhead_s"] for b in traced
                      for r in by_batch[b["batch"]]
                      if r["name"] not in OUTSIDE_APPLY)
    out["tracing.overhead_ratio"] = apply_s / (apply_s - bookkeeping)
    return out
