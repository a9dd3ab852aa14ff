"""Continuous-crawl dedup — Structured Streaming over the persisted
dedup index.

The batch contract (datalib/dedup.py `build_dedup_index` +
`dedup_incremental`) classifies a crawl drop against a persisted
(doc_id, kind, key) index and grows the index by the NOVEL docs' keys
only. This module drives that loop with Structured Streaming: a
document spool is the stream source, and each micro-batch runs
classify → append results → append novel index rows inside
``foreachBatch`` — the daily-drop loop as a standing query.

Exactly-once story: ``foreachBatch`` replays a micro-batch after a
crash, so both sinks write to ``batch=<epoch-id>`` subdirectories with
``mode=overwrite`` — the canonical idempotent-foreachBatch pattern: a
replayed batch overwrites its own previous (possibly partial) output
instead of duplicating rows, and the index a batch READS contains only
batches before it (its own subdir is overwritten after the read).

Scale shape unchanged from the batch operator: the index is collapsed
to min(doc_id) per key before the lookup join (a viral bucket is ONE
row), each batch doc joins at most bands+1 rows, and the index table
grows O(novel docs × (bands+1)) partitioned by key — a rolling 100 TB
crawl classifies each drop without ever re-touching corpus text.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from nifi_spark.datalib.dedup import build_dedup_index, dedup_incremental
from nifi_spark.spool import publish

_RESULT_SCHEMA = "doc_id long, status string, matched_id long"


class StreamingDedupIndex:
    """readStream(docs spool) → foreachBatch(classify + grow index)."""

    def __init__(self, spark: SparkSession, docs_path: str,
                 index_path: str, results_path: str,
                 checkpoint_dir: str, *, id_col: str = "doc_id",
                 text_col: str = "text", k: int = 3,
                 num_perm: int = 12, bands: int = 4,
                 max_files_per_trigger: "int | None" = None,
                 schema: str = "doc_id long, text string"):
        self.spark = spark
        self.docs_path = docs_path
        self.index_path = index_path
        self.results_path = results_path
        self.checkpoint_dir = checkpoint_dir
        self.id_col, self.text_col = id_col, text_col
        self.k, self.num_perm, self.bands = k, num_perm, bands
        self.max_files_per_trigger = max_files_per_trigger
        self.schema = schema
        os.makedirs(index_path, exist_ok=True)
        os.makedirs(results_path, exist_ok=True)

    # ---------------------------------------------------------- reads

    def _read_index(self, exclude_batch: "int | None" = None
                    ) -> DataFrame:
        """All committed index subdirs, excluding the one the CURRENT
        epoch owns — a crash-replayed epoch must classify against
        exactly the index it saw the first time, not its own partial
        rows (docs would match themselves)."""
        sub = [os.path.join(self.index_path, d)
               for d in os.listdir(self.index_path)
               if d.startswith("batch=")
               and d != f"batch={exclude_batch}"]
        if not sub:
            return self.spark.createDataFrame(
                [], "doc_id long, kind string, key string")
        return (self.spark.read
                .schema("doc_id long, kind string, key string")
                .parquet(*sub))

    def read_results(self) -> DataFrame:
        sub = [os.path.join(self.results_path, d)
               for d in os.listdir(self.results_path)
               if d.startswith("batch=")]
        if not sub:
            return self.spark.createDataFrame([], _RESULT_SCHEMA)
        return self.spark.read.schema(_RESULT_SCHEMA).parquet(*sub)

    def read_index(self) -> DataFrame:
        return self._read_index()

    # ---------------------------------------------------------- batch

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        index = self._read_index(exclude_batch=batch_id)
        out = dedup_incremental(batch, index, self.id_col,
                                self.text_col, self.k, self.num_perm,
                                self.bands)
        out = out.select(F.col(self.id_col).alias("doc_id"), "status",
                         F.col("matched_id").cast("long")
                         .alias("matched_id")).localCheckpoint()
        # idempotent per-batch subdirs: a crash-replayed epoch
        # OVERWRITES its own prior output, never duplicates
        out.write.mode("overwrite").parquet(
            os.path.join(self.results_path, f"batch={batch_id}"))
        novel_ids = out.filter(F.col("status") == "novel") \
                       .select("doc_id")
        novel = batch.join(
            novel_ids.withColumnRenamed("doc_id", self.id_col),
            self.id_col, "left_semi")
        build_dedup_index(novel, self.id_col, self.text_col, self.k,
                          self.num_perm, self.bands) \
            .write.mode("overwrite").parquet(
                os.path.join(self.index_path, f"batch={batch_id}"))

    # ---------------------------------------------------------- start

    def start(self, trigger_once: bool = True):
        reader = self.spark.readStream.schema(self.schema)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   str(self.max_files_per_trigger))
        stream = reader.parquet(self.docs_path)
        writer = (stream.writeStream
                  .foreachBatch(self._apply_batch)
                  .option("checkpointLocation", self.checkpoint_dir))
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def drain(self) -> None:
        """One availableNow pass over whatever new spool files exist —
        call again after landing the next drop (the daily-crawl
        loop)."""
        q = self.start(trigger_once=True)
        q.awaitTermination()


def compact_index(spark: SparkSession, index_path: str,
                  keep_last: int = 0) -> int:
    """Fold the accumulated ``batch=N`` index subdirectories into one
    ``batch=-1`` base dir (read-equivalent: the union is unchanged, and
    `_read_index`'s min-per-key collapse is order-insensitive). A
    rolling crawl accumulates one subdir per micro-batch — thousands of
    tiny directories dominate listing time long before data size
    matters; compaction is the same maintenance move as the snapshot
    store's delta compaction. `keep_last` leaves the N highest-numbered
    batch dirs uncompacted so an in-flight replay of a recent epoch
    can still overwrite its own subdir. Returns the number of subdirs
    folded."""
    import shutil

    base = os.path.join(index_path, "batch=-1")
    old = os.path.join(index_path, "_compact_old")
    tmp = os.path.join(index_path, "_compact_tmp")
    # finish a run that died mid-swap: an old base moved aside with no
    # new one in place goes back (its rows are folded again below); one
    # left beside the new base is already folded into it
    if os.path.isdir(old):
        if os.path.isdir(base):
            shutil.rmtree(old)
        else:
            os.rename(old, base)
    subs = sorted(
        (int(d.split("=", 1)[1]), d)
        for d in os.listdir(index_path)
        if d.startswith("batch=") and d != "batch=-1")
    fold = [d for _, d in subs[:max(0, len(subs) - keep_last)]]
    if not fold:
        return 0
    paths = [os.path.join(index_path, d) for d in fold]
    if os.path.isdir(base):
        paths.append(base)
    merged = (spark.read.schema("doc_id long, kind string, key string")
              .parquet(*paths))
    merged.write.mode("overwrite").parquet(tmp)
    # publish: move the old base aside, swap the new one in, and only
    # then delete what it replaces — a crash at any point loses no row
    # (a crash after the swap leaves the folded subdirs' rows twice,
    # which the min-per-key collapse reads through; re-run to finish)
    if os.path.isdir(base):
        os.rename(base, old)
    publish(tmp, base)
    for p in paths:
        if p != base:
            shutil.rmtree(p)
    shutil.rmtree(old, ignore_errors=True)
    return len(fold)
