"""Spans around calls into the engine's layers, with Spark job attribution.

Every traced call runs under its own Spark job group, so each job the call
launches (and not a child call) is attributed to it. Spans stay in memory;
``resolve`` reads the per-stage metrics from the status store once, at the
end of the run, and ``dump`` writes the spans out. The session must keep
every job and stage (``spark.ui.retainedJobs`` / ``retainedStages``), or a
long run evicts the early ones before they are read.

Only the benchmark's own files wrap anything: instance attributes of the
store, ledger and provenance writer are replaced, and the pipeline module's
``slice_checksum`` global is swapped for the duration of the traced phase.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import time
from contextlib import contextmanager

STAGE_FIELDS = {            # StageData accessor -> metric key
    "executorRunTime": "executor_run_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
}


def version_output(table_root: str, version: int) -> tuple[int, int]:
    """(bytes, rows) of the parquet files a store version wrote."""
    import pyarrow.parquet as pq
    nbytes = rows = 0
    vdir = os.path.join(table_root, "versions", f"v{version:06d}")
    for d, _sub, files in os.walk(vdir):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                nbytes += os.path.getsize(p)
                rows += pq.read_metadata(p).num_rows
    return nbytes, rows


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()
        self.batch: int | None = None
        self.active = False   # spans are recorded only while active

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield {}
            return
        t0 = time.perf_counter()
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "batch": self.batch, "group": f"cdcbench-{sid}", **attrs}
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["jobs"] = list(self.sc.statusTracker()
                               .getJobIdsForGroup(rec["group"]))
            self.spans.append(rec)
            # the span's own cost: everything here but the traced call
            rec["overhead_s"] = time.perf_counter() - t0 \
                - (rec["end"] - rec["start"])

    def wrap(self, fn, name: str, after=None):
        """``fn`` under a span; ``after(rec, result)`` annotates the span once
        it has closed."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
            if after is not None and rec:
                t0 = time.perf_counter()
                after(rec, out)
                rec["overhead_s"] += time.perf_counter() - t0
            return out
        return traced

    def instrument(self, pipe) -> None:
        """Route the pipeline's calls into storage, provenance and the
        ledger through spans (instance attributes only)."""
        store = pipe.store

        def merge_output(rec, res):
            rec["bytes_written"], rec["rows_written"] = \
                version_output(store.root, res["version"]) \
                if res["dirty_buckets"] else (0, 0)

        store.merge = self.wrap(store.merge, "storage.merge", merge_output)
        store.evolve = self.wrap(store.evolve, "storage.evolve")
        if pipe.provenance is not None:
            prov = pipe.provenance
            prov.emit = self.wrap(prov.emit, "provenance.emit")
            prov.emit_counts = self.wrap(prov.emit_counts,
                                         "provenance.emit_counts")
        pipe.ledger.commit = self.wrap(pipe.ledger.commit, "ledger.commit")

    @contextmanager
    def checksum_traced(self):
        import nifi_spark.pipeline as pipeline_mod
        original = pipeline_mod.slice_checksum
        pipeline_mod.slice_checksum = self.wrap(original,
                                                "ledger.slice_checksum")
        try:
            yield
        finally:
            pipeline_mod.slice_checksum = original

    # ---------------- resolution ----------------
    def resolve(self) -> None:
        """Attach summed stage metrics to every span's jobs."""
        jvm = self.sc._jvm
        store = self.sc._jsc.sc().statusStore()
        empty = self.sc._gateway.new_array(jvm.double, 0)
        stages = {}
        it = store.stageList(jvm.java.util.ArrayList(), False, False,
                             empty, jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            key = (s.stageId(), s.attemptId())
            stages[key] = {k: getattr(s, acc)()
                           for acc, k in STAGE_FIELDS.items()}
        by_stage: dict[int, list[dict]] = {}
        for (sid, _attempt), m in stages.items():
            by_stage.setdefault(sid, []).append(m)
        # a stage reused by a later job is listed by both; charge it once,
        # to the first job that lists it
        tracker = self.sc.statusTracker()
        job_stages = {}
        for rec in self.spans:
            for jid in rec["jobs"]:
                info = tracker.getJobInfo(jid)
                job_stages[jid] = list(info.stageIds) if info else []
        owner: dict[int, int] = {}
        for jid in sorted(job_stages):
            for sid in job_stages[jid]:
                owner.setdefault(sid, jid)
        for rec in self.spans:
            agg = dict.fromkeys(STAGE_FIELDS.values(), 0)
            for jid in rec["jobs"]:
                for sid in job_stages[jid]:
                    if owner[sid] != jid:
                        continue
                    for m in by_stage.get(sid, []):
                        for k, v in m.items():
                            agg[k] += v
            rec["spark"] = agg
            rec["s"] = rec["end"] - rec["start"]
        children: dict[int, float] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children[rec["parent"]] = children.get(rec["parent"], 0.0) \
                    + rec["s"]
        for rec in self.spans:
            rec["self_s"] = rec["s"] - children.get(rec["id"], 0.0)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")
