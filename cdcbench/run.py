"""CDC benchmark: ``CdcPipeline`` with the paper's guarantees on.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Runs one workload (see ``workloads.WORKLOADS``) at ``local[4]`` from the
root of a checkout, checks the final table against a DuckDB replay of the
same changelog, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every call into the
engine's layers is a span and the metrics are the per-layer ones; on
``backfill`` they include the local[1] and bulk-settings diagnostics
(``diag.py``), which read 0 on the other workloads. The line before it
carries the details: host fingerprint, phase times, the wall-clock
throughput and latencies too noisy to gate on a shared host (events/s,
batch p50 and tail, recovery, reads) with their sample counts, and every
failure. The run writes only under ``.cdcbench_work/`` (deleted at exit)
and ``.cdcbench_out/`` (the spans of a traced run).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".cdcbench_work")
OUT_DIR = os.path.join(ROOT, ".cdcbench_out")
CORES = 4
CHILD_TIMEOUT_S = 80

END_TO_END = {
    "setup_s": "s",
    "apply_cpu_ms_per_event": "ms", "recovery_cpu_s": "s",
    "write_amp": "ratio", "peak_mem_mb": "MB",
}
PER_LAYER = {
    "pipeline.apply_until.self_s": "s", "pipeline.apply_until.jobs": "count",
    "pipeline.slice_scans": "ratio",
    "storage.merge.s": "s", "storage.merge.jobs": "count",
    "storage.merge.shuffle_write_bytes": "bytes",
    "storage.merge.spill_bytes": "bytes", "storage.merge.executor_run_s": "s",
    "storage.merge.bytes_written": "bytes",
    "storage.merge.useful_row_ratio": "ratio",
    "storage.evolve.s": "s", "storage.evolve.calls": "count",
    "storage.read.s": "s", "storage.read.jobs": "count",
    "storage.read.input_bytes": "bytes",
    "storage.compact.s": "s", "storage.compact.bytes_rewritten": "bytes",
    "storage.space_amp": "ratio",
    "provenance.emit.s": "s", "provenance.emit.calls": "count",
    "provenance.emit.jobs": "count", "provenance.emit_counts.s": "s",
    "provenance.bytes_written": "bytes", "provenance.lineage_for_lsn.s": "s",
    "ledger.commit.s": "s", "ledger.slice_checksum.s": "s",
    "ledger.slice_checksum.jobs": "count",
    "spark.failed_tasks": "count", "spark.executor_run_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "tracing.overhead_ratio": "ratio", "tracing.wrapped_share": "ratio",
    "diag.bulk_apply_events_per_s": "1/s",
    "diag.full_apply_events_per_s": "1/s",
    "diag.local1_apply_events_per_s": "1/s",
    "diag.scaling_efficiency": "ratio",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--diag-child", action="store_true",
                   help=argparse.SUPPRESS)  # the local[1] scaling run
    return p.parse_args(argv)


def tail(latencies: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 11:
        return {"percentile": None, "value": None, "samples": n}
    xs = sorted(latencies)
    return {"percentile": round(100 * (n - 10) / n, 1),
            "value": xs[n - 11], "samples": n}


def end_to_end(bench, setup_s, recovery, written, peak_mb) -> dict:
    events = sum(b["events"] for b in bench.batches)
    return {
        "setup_s": setup_s,
        "apply_cpu_ms_per_event":
            1000 * sum(b["cpu_s"] for b in bench.batches) / events,
        "recovery_cpu_s": recovery[1] if recovery else float("nan"),
        "write_amp": written / sum(b["slice_bytes"] for b in bench.batches),
        "peak_mem_mb": peak_mb,
    }


def wall_clock(bench, recovery) -> dict:
    """Wall-clock throughput and latencies. On a shared host they move
    with the CPU time other guests take (``loop_cpu_steal``): between runs
    of the same code their spread reaches the largest bound, so they are
    printed on the detail line, not gated. The CPU-time metrics are gated
    in their place."""
    from workloads import median, rate
    lat = [b["apply_s"] for b in bench.batches]
    out = {"apply_events_per_s": {"value": rate(bench.batches),
                                  "samples": len(lat)},
           "batch_latency_p50_s": {"value": median(lat), "samples": len(lat)},
           "batch_latency_tail_s": tail(lat),
           "recovery_s": {"value": recovery[0] if recovery else None,
                          "samples": 1}}
    for k, v in bench.reads.items():
        if not v:
            continue
        name = "lineage_p50_s" if k == "lineage" else f"read_{k}_p50_s"
        out[name] = {"value": median(v), "samples": len(v)}
    return out


def run_child(seed: int, work: str) -> float:
    """The diagnostic backfill at local[1], in its own process; returns its
    events/s, or NaN when it fails or overruns."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", "backfill",
           "--seed", str(seed), "--seconds", "0", "--diag-child"]
    env = dict(os.environ, CDCBENCH_WORK=os.path.join(work, "child"))
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, env=env,
                             timeout=CHILD_TIMEOUT_S, cwd=ROOT)
    except subprocess.TimeoutExpired:
        return float("nan")
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stderr[-2000:])
        return float("nan")
    return json.loads(lines[-1])["events_per_s"]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(1, ROOT)   # the engine package lives at the checkout root
    try:
        import nifi_spark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.environ.get("CDCBENCH_WORK") or os.path.join(
        WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if args.diag_child:
            return diag_child(args, work)
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not os.environ.get("CDCBENCH_WORK"):
            try:
                os.rmdir(WORK_ROOT)
            except OSError:
                pass


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def diag_child(args, work: str) -> int:
    import diag
    import host
    from workloads import Bench
    host.configure_env(work, host.heap_mb() // 2)
    spark = host.start_spark(1, work)
    try:
        bench = Bench(spark, work, args.workload, args.seed, n_cycles=1)
        bench.setup()
        eps = diag.first_batch_rate(bench)
    finally:
        stop_spark(spark)
    print(json.dumps({"events_per_s": eps}))
    return 0


def run(args, work: str) -> int:
    import host
    from reference import Reference
    from spans import Tracer
    from workloads import Bench, cycles_for, timed

    child_eps = run_child(args.seed, work) \
        if args.trace and args.workload == "backfill" else None
    heap = host.heap_mb()
    host.configure_env(work, heap)
    fp = host.fingerprint(ROOT, heap, CORES)
    t0 = time.perf_counter()
    spark = host.start_spark(CORES, work)
    session_s = time.perf_counter() - t0
    try:
        with host.MemSampler(host.jvm_pid(spark), work) as mem:
            tracer = Tracer(spark) if args.trace else None
            bench = Bench(spark, work, args.workload, args.seed,
                          cycles_for(args.seconds), tracer)
            phases = bench.phases
            phases["session"] = session_s
            bench.setup()
            setup_s = time.perf_counter() - t0
            versions_before = bench.versions()
            steal0, iowait0 = host.steal_s(), host.iowait_s()
            with timed(phases, "loop"):
                if args.trace:
                    tracer.active = True
                    with tracer.checksum_traced():
                        bench.run()
                    tracer.active = False
                else:
                    bench.run()
            phases["loop_cpu_steal"] = host.steal_s() - steal0
            phases["loop_cpu_iowait"] = host.iowait_s() - iowait0
            written = bench.table_bytes_written(versions_before)
            referenced = bench.referenced or bench.referenced_bytes()
            recovery = None
            if not args.trace:    # no per-layer metric reads it
                with timed(phases, "recovery"):
                    recovery = bench.op("recovery replay", bench.recover)
            ref = Reference(sorted(
                os.path.join(bench.log_dir, f) for f in os.listdir(bench.log_dir)
                if f.endswith(".parquet")))
            try:
                with timed(phases, "check"):
                    bench.op("correctness check", bench.check, ref)
            finally:
                ref.close()
            with timed(phases, "rewrite"):
                compacted = bench.op("compacted rewrite", bench.compacted_bytes)
        space_amp = referenced / compacted if compacted else float("nan")
        detail = {"workload": args.workload, "seed": args.seed,
                  "seconds": args.seconds, "trace": args.trace, "host": fp,
                  "batches": len(bench.batches), "cycles": bench.cycles,
                  "problems": bench.problems, "phases_s": phases,
                  "space_amp": space_amp,
                  "ops_failed_ratio": bench.failed / max(1, bench.attempted)}
        if args.trace:
            import layers
            import diag
            tracer.resolve()
            bench.op("span nesting", layers.check_nesting, bench, tracer)
            metrics = layers.per_layer(bench, tracer)
            metrics["storage.space_amp"] = space_amp
            metrics.update(dict.fromkeys(diag.NAMES, 0.0))
            if child_eps is not None:
                metrics.update(bench.op("diagnostics", diag.parent_metrics,
                                        bench, CORES, child_eps) or {})
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(
                OUT_DIR, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: metrics.get(k, 0.0) for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics = end_to_end(bench, setup_s, recovery, written,
                                 mem.peak_mb)
            detail["ungated"] = wall_clock(bench, recovery)
            detail["batch_latencies_s"] = [b["apply_s"] for b in bench.batches]
            units = END_TO_END
    finally:
        stop_spark(spark)
    for k, v in metrics.items():
        if not (isinstance(v, (int, float)) and math.isfinite(v)):
            bench.failed += 1
            bench.attempted += 1
            bench.problems.append(f"metric {k} was not measured ({v})")
            metrics[k] = -1.0
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
