"""The benchmark's workloads: closed loops that land a batch, apply it and
repeat, with the paper's guarantees on.

Every pipeline runs with the ``CdcPipeline`` defaults (delivery dedup, DDL
read from the stream, checksummed ledger, eager counts, cached slice,
``argmax`` merge unless the workload asks for ``delta``) plus a
``ProvenanceWriter`` and a ``quarantine_path``.

A run measures whole cycles of batches, and how many is set by
``--seconds`` alone (``cycles_for``), never by the clock: state carries over
from cycle to cycle on ``mor_read_mix``, so a faster engine that fitted one
more cycle into a timed window would measure a larger table and one more
compaction. Each cycle has the same shape (DDL events at the same batch
positions, compaction after the last batch).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F

import gen
import host
from reference import Reference, engine_digest
from spans import version_output

STREAM = "changelog"
N_BUCKETS = 4
CYCLE_SECONDS = 20      # about one cycle's loop time on a 4-vCPU host


@dataclass(frozen=True)
class Spec:
    batch_events: int            # events per batch
    cycle: int                   # batches per cycle
    # clean initial load applied during set-up; without one, each cycle
    # fills a new, empty table
    preload: int = 0
    ddl_every: int = 0           # one add/rename column event per this many LSNs
    strategy: str = "argmax"     # SnapshotTableStore.merge strategy
    # a scan, point and lineage read after each batch, compaction per cycle
    read_mix: bool = False


WORKLOADS = {
    # large batches into an empty copy-on-write table: the slice scan, dedup
    # exchange, winner agg/join and full write grow with the batch
    "backfill": Spec(
        batch_events=16_000, cycle=2, ddl_every=16_000),
    # small batches into a preloaded merge-on-read table with a scan, point
    # lookup and lineage query after every batch: writes are cheap, reads
    # are not
    "mor_read_mix": Spec(
        batch_events=5_000, cycle=3, preload=6_000,
        ddl_every=15_000, strategy="delta", read_mix=True),
}


def cycles_for(seconds: float) -> int:
    """Cycles a run of ``seconds`` measures: one per ``CYCLE_SECONDS``,
    at least one."""
    return max(1, round(seconds / CYCLE_SECONDS))


def parquet_bytes(root: str) -> int:
    total = 0
    for d, _sub, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                     if f.endswith(".parquet"))
    return total


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def rate(batches: list[dict]) -> float:
    """Events applied per second of summed apply time."""
    t = sum(b["apply_s"] for b in batches)
    return sum(b["events"] for b in batches) / t if t else float("nan")


@contextmanager
def timed(phases: dict, name: str):
    t0 = time.perf_counter()
    try:
        yield
    finally:
        phases[name] = phases.get(name, 0.0) + time.perf_counter() - t0


class Failure(Exception):
    """A correctness assertion that did not hold."""


class Bench:
    def __init__(self, spark, work: str, name: str, seed: int, n_cycles: int,
                 tracer=None):
        self.spark, self.work, self.seed = spark, work, seed
        self.n_cycles = n_cycles
        self.jvm = host.jvm_pid(spark)
        self.spec = WORKLOADS[name]
        self.tracer = tracer
        self.log_dir = os.path.join(work, "changelog")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.batches: list[dict] = []     # measured batches
        self.reads: dict[str, list[float]] = {"scan": [], "point": [],
                                               "lineage": []}
        self.slices: dict[str, list[tuple[int, int]]] = {}
        self.file_bytes: dict[int, int] = {}   # batch bound -> landed bytes
        self.prov_bytes: dict[str, int] = {}   # root -> bytes seen so far
        self.phases: dict[str, float] = {}
        self.roots: list[str] = []        # tables the loop wrote
        self.pipe = None
        self.saved_ledger: str | None = None
        self.batch_no = 0
        self.cycles = 0
        self.referenced: int | None = None   # table bytes before compaction
        k = seed % 40
        self.hot_key = ("org0/repo0", f"src/pkg{k % 7}/mod{k}.py")

    def cpu_s(self) -> float:
        """CPU seconds used so far by the JVM and this process."""
        return host.cpu_s(self.jvm) + host.cpu_s(os.getpid())

    @property
    def traced(self) -> bool:
        return self.tracer is not None and self.tracer.active

    # ---------------- set-up ----------------
    def setup(self) -> None:
        s = self.spec
        n_loop = s.batch_events * s.cycle * (self.n_cycles if s.preload
                                             else 1)
        with timed(self.phases, "generate"):
            # the DDL event sits at a seed-dependent offset inside the first
            # batch of every ddl_every LSNs
            self.log = gen.gen_changelog(
                self.seed, s.preload + n_loop, live_from=s.preload,
                ddl_every=s.ddl_every,
                ddl_phase=1 + self.seed % (s.batch_events - 1))
        with timed(self.phases, "warmup"):
            if not s.preload:
                # the whole backfill is one bulk import, landed up front
                lo = -1
                for i in range(s.cycle):
                    self.land(lo, lo + s.batch_events, f"b{i:05d}.parquet")
                    lo += s.batch_events
                # JIT and codegen warm-up on a throwaway table: the first
                # batch, so the loop's first batch runs warm code too
                self.apply(self.pipeline("warmup"), s.batch_events - 1)
            else:
                # the initial load goes through the loop's pipeline: it is
                # the JIT warm-up of the loop's code paths
                self.land(-1, s.preload - 1, "preload.parquet")
                self.pipe = self.pipeline("stream")
                self.apply(self.pipe, s.preload - 1)
                if s.read_mix:
                    self.do_reads(self.pipe, s.preload // 2, record=False)

    def land(self, lo: int, hi: int, name: str) -> None:
        _p, self.file_bytes[hi] = gen.land(self.log, lo, hi, self.log_dir, name)

    def pipeline(self, name: str, bulk: bool = False):
        """A pipeline over the table, ledger and provenance under ``name``
        (created if new). ``bulk`` gives the settings ``bench.py`` measures
        with instead: no delivery dedup, no DDL scan, no checksum, no counts,
        no cached slice, no provenance or quarantine; they do not handle the
        log's DDL and poison rows, so their output is never checked."""
        from nifi_spark.ledger import OffsetLedger
        from nifi_spark.pipeline import CdcPipeline
        from nifi_spark.provenance import ProvenanceWriter
        from nifi_spark.storage import SnapshotTableStore
        root = os.path.join(self.work, name)
        store = SnapshotTableStore(os.path.join(root, "table"),
                                   n_buckets=N_BUCKETS)
        if store.current_version() < 0:
            store.init()
        ledger = OffsetLedger(os.path.join(root, "ledger"))
        if bulk:
            return CdcPipeline(self.spark, self.log_dir, store, ledger,
                               stream=STREAM, checksum=False,
                               eager_stats=False, cache_slice=False,
                               bulk_mode=True, ddl_in_stream=False,
                               dedup_deliveries=False,
                               merge_strategy=self.spec.strategy)
        pipe = CdcPipeline(self.spark, self.log_dir, store, ledger,
                           stream=STREAM,
                           provenance=ProvenanceWriter(os.path.join(root, "prov")),
                           quarantine_path=os.path.join(root, "quarantine"),
                           merge_strategy=self.spec.strategy)
        pipe.root = root
        if self.tracer is not None:
            self.tracer.instrument(pipe)
        return pipe

    # ---------------- operations ----------------
    def applied(self, pipe) -> int:
        return pipe.ledger.get(STREAM)["last_applied_lsn"]

    def apply(self, pipe, hi: int):
        self.slices.setdefault(pipe.root, []).append((self.applied(pipe), hi))
        if self.traced:
            with self.tracer.span("pipeline.apply_until"):
                return pipe.apply_until(hi)
        return pipe.apply_until(hi)

    def op(self, what: str, fn, *args):
        """One counted operation; a failure is recorded, not raised."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - any failure is one failed op
            self.failed += 1
            self.problems.append(f"{what}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None

    def batch(self, pipe, hi: int) -> bool:
        """Apply one measured batch (and its reads); False on failure."""
        lo = self.applied(pipe)
        self.saved_ledger = self.save_ledger(pipe)
        if self.tracer is not None:
            self.tracer.batch = self.batch_no
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        stats = self.op(f"batch {lo}..{hi}", self.apply, pipe, hi)
        wall = time.perf_counter() - t0
        cpu = self.cpu_s() - cpu0
        if stats is None:
            return False
        prov_written = 0
        if self.tracer is not None:
            prov = parquet_bytes(pipe.provenance.path)
            prov_written = prov - self.prov_bytes.get(pipe.root, 0)
            self.prov_bytes[pipe.root] = prov
        self.batches.append({
            "batch": self.batch_no, "lo": lo, "hi": hi,
            "events": stats.events, "apply_s": wall, "cpu_s": cpu,
            "traced": self.traced,
            "sub_batches": stats.sub_batches, "quarantined": stats.quarantined,
            "slice_bytes": self.file_bytes.get(hi, 0),
            "prov_bytes": prov_written})
        if self.spec.read_mix:
            self.do_reads(pipe, lo + 1 + (hi - lo) // 2)
        self.batch_no += 1
        return True

    def compact(self, pipe):
        if not self.traced:
            return pipe.store.compact(self.spark)
        with self.tracer.span("storage.compact") as rec:
            res = pipe.store.compact(self.spark)
        rec["bytes_written"], rec["rows_written"] = version_output(
            pipe.store.root, res["version"]) \
            if res["compacted_buckets"] else (0, 0)
        return res

    def do_reads(self, pipe, lsn: int, record: bool = True) -> None:
        from nifi_spark.provenance import lineage_for_lsn
        repo, path = self.hot_key
        spark, store = self.spark, pipe.store
        reads = {
            "scan": ("storage.read", lambda: store.read(spark).count()),
            "point": ("storage.read", lambda: store.read(spark).filter(
                (F.col("repo") == repo) & (F.col("path") == path)).collect()),
            "lineage": ("provenance.lineage_for_lsn", lambda: lineage_for_lsn(
                pipe.provenance.read(spark), lsn).collect()),
        }
        for kind, (span, fn) in reads.items():
            t0 = time.perf_counter()
            if self.traced:
                with self.tracer.span(span, read=kind):
                    out = self.op(f"read {kind}", fn)
            else:
                out = self.op(f"read {kind}", fn)
            dt = time.perf_counter() - t0
            if kind == "lineage" and out is not None and not out:
                self.failed += 1
                self.problems.append(f"lineage for lsn {lsn} is empty")
            if record:
                self.reads[kind].append(dt)

    # ---------------- the measured loop ----------------
    def run(self) -> None:
        s = self.spec
        while self.cycles < self.n_cycles:
            if not s.preload:
                self.pipe = self.pipeline(f"cycle{self.cycles}")
            if self.pipe.root not in self.roots:
                self.roots.append(self.pipe.root)
            for i in range(s.cycle):
                if not s.preload:
                    hi = (i + 1) * s.batch_events - 1
                else:
                    lo = self.applied(self.pipe)
                    hi = lo + s.batch_events
                    self.land(lo, hi, f"b{self.batch_no:05d}.parquet")
                if not self.batch(self.pipe, hi):
                    return
            if s.read_mix:
                # space amplification peaks just before compaction
                self.referenced = self.referenced_bytes()
                self.op("compact", self.compact, self.pipe)
            self.cycles += 1

    # ---------------- crash replay ----------------
    def save_ledger(self, pipe) -> str | None:
        src = os.path.join(pipe.ledger.dir, f"{STREAM}.json")
        if not os.path.exists(src):
            return None
        dst = os.path.join(self.work, "ledger-before-last-batch.json")
        shutil.copyfile(src, dst)
        return dst

    def table_digest(self, pipe):
        cols = [n for n, _ in pipe.store.schema_columns()]
        t = engine_digest(self.spark, pipe.store.read(self.spark), cols)
        return t.sort_by([("repo", "ascending"), ("path", "ascending")])

    def recover(self) -> tuple[float, float]:
        """Lose the last batch's ledger commit, then replay it with a fresh
        pipeline on the same store and ledger. Returns the replay's wall
        and CPU seconds."""
        pipe = self.pipe
        if self.saved_ledger is None:
            raise Failure("no ledger saved before the last batch")
        after = pipe.ledger.get(STREAM)
        before_digest = self.table_digest(pipe)
        shutil.copyfile(self.saved_ledger,
                        os.path.join(pipe.ledger.dir, f"{STREAM}.json"))
        lost = pipe.ledger.get(STREAM)
        fresh = self.pipeline(os.path.basename(pipe.root))
        cpu0 = self.cpu_s()
        t0 = time.perf_counter()
        self.apply(fresh, after["last_applied_lsn"])
        dt = time.perf_counter() - t0
        cpu = self.cpu_s() - cpu0
        self.pipe = fresh
        state = fresh.ledger.get(STREAM)
        if state["last_applied_lsn"] != after["last_applied_lsn"] \
                or state["batch_id"] != lost["batch_id"] + 1:
            raise Failure(f"replay moved the ledger to {state}, expected one "
                          f"step from {lost}")
        if not self.table_digest(fresh).equals(before_digest):
            raise Failure("replay changed the table content")
        return dt, cpu

    # ---------------- correctness ----------------
    def check(self, ref: Reference) -> None:
        pipe, spark = self.pipe, self.spark
        bound = self.applied(pipe)
        problems = []
        if bound != self.batches[-1]["hi"]:
            problems.append(f"ledger at {bound}, final bound "
                            f"{self.batches[-1]['hi']}")
        df = pipe.store.read(spark)
        cols = [n for n, _ in pipe.store.schema_columns()]
        problems += ref.compare(engine_digest(spark, df, cols), df.columns,
                                bound)
        slices = self.slices[pipe.root]
        q = pipe.quarantine_path
        got = spark.read.parquet(q).count() if os.path.isdir(q) else 0
        want = ref.count(slices, poison=True)
        if got != want:
            problems.append(f"quarantine holds {got} rows, {want} poison "
                            "rows were sliced")
        received = (pipe.provenance.read(spark)
                    .filter(F.col("event_type") == "RECEIVE")
                    .agg(F.sum("row_count")).collect()[0][0]) or 0
        want = ref.count(slices, poison=False)
        if received != want:
            problems.append(f"provenance RECEIVE sums to {received}, "
                            f"{want} events were sliced")
        if self.spec.strategy == "delta":
            before = self.table_digest(pipe)
            pipe.store.compact(spark)
            if not self.table_digest(pipe).equals(before):
                problems.append("compact() changed what read() returns")
        if problems:
            raise Failure("; ".join(problems))

    # ---------------- amplification ----------------
    def versions(self) -> set[str]:
        out = set()
        for root in self.roots + ([self.pipe.root] if self.pipe else []):
            vdir = os.path.join(root, "table", "versions")
            if os.path.isdir(vdir):
                out |= {os.path.join(vdir, v) for v in os.listdir(vdir)}
        return out

    def table_bytes_written(self, versions_before: set[str]) -> int:
        """Parquet bytes in the table versions the loop created."""
        return sum(parquet_bytes(v) for v in self.versions() - versions_before)

    def referenced_bytes(self) -> int:
        return sum(os.path.getsize(p.removeprefix("file://"))
                   for p in self.pipe.store.read(self.spark).inputFiles())

    def compacted_bytes(self) -> int:
        """Bytes of the same table rewritten once into fresh bucket files."""
        self.pipe.store.rebucket(self.spark, N_BUCKETS)
        return self.referenced_bytes()
