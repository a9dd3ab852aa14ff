"""Durable drain-to-spool landing — the one copy every listen/get source
inherits.

NiFi analog: the FlowFile repository's write-ahead log. A drained batch
becomes durable and visible in one step, and a restart resumes from
what is on disk (SURVEY.md §1). Here one drain lands one parquet file,
``batch_<8-digit id>.parquet``, carrying ``batch_id`` and a per-batch
row index; the next id is recovered from the directory listing, so a
restart never reuses a file name.

Publishing is ``publish(tmp, final)``: the file is written under a
``.``-prefixed temp name (Spark's file index skips hidden files, so a
crash mid-land leaves nothing a reader can see), fsynced, renamed into
place, and the directory is fsynced so the rename survives a power loss.
The offset ledger, the table manifest and the sources' state files
publish the same way.

On read, a spool with a sequence column gets
``seq = batch_id * MAX_PER_BATCH + index``: a global arrival order
usable as an enforce-order / watermark key downstream. A land of more
than MAX_PER_BATCH rows would alias it, so it is refused before anything
is written.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

MAX_PER_BATCH = 1_000_000  # seq packing bound, enforced loudly

_BATCH = re.compile(r"batch_(\d{8})\.parquet$")
_TEMP = re.compile(r"\.batch_\d{8}\.parquet\.tmp$")


def _fsync(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def publish(tmp: str, final: str) -> None:
    """Durably replace `final` with the fully written `tmp`: fsync the
    file, rename it over `final`, then fsync the directory."""
    _fsync(tmp)
    os.replace(tmp, final)
    _fsync(os.path.dirname(final) or ".")


def publish_json(path: str, value) -> None:
    """Write `value` as JSON to ``path + '.tmp'`` and publish it."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    publish(tmp, path)


class Spool:
    """A directory of immutable, atomically published batch files.

    `index_col` names the per-batch row index each land prepends after
    ``batch_id`` (None: no index); `seq_col` names the global sequence
    column `read` adds (None: none; it may equal `index_col`, which it
    then replaces). Subclasses set `schema` (a DDL string) to read with
    an explicit schema instead of the files' own."""

    schema: "str | None" = None

    def __init__(self, spool_dir: str, index_col: "str | None" = "msg_idx",
                 seq_col: "str | None" = "msg_seq"):
        self.spool_dir = spool_dir
        self._index_col = index_col
        self._seq_col = seq_col
        os.makedirs(spool_dir, exist_ok=True)
        ids = []
        for name in os.listdir(spool_dir):
            if _TEMP.match(name):      # a land that died before publish
                os.remove(os.path.join(spool_dir, name))
            elif m := _BATCH.match(name):
                ids.append(int(m.group(1)))
        self._next_batch = max(ids) + 1 if ids else 0

    def land(self, columns: dict) -> int:
        """Land one batch (column name → pyarrow array or list, all the
        same length) as the next batch file. Returns the row count; an
        empty batch writes nothing."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        n = len(next(iter(columns.values())))
        if not n:
            return 0
        if self._seq_col and n > MAX_PER_BATCH:
            raise ValueError(f"batch of {n} rows exceeds the "
                             f"{self._seq_col} packing bound "
                             f"{MAX_PER_BATCH}")
        bid = self._next_batch
        head = {"batch_id": pa.array([bid] * n, pa.int64())}
        if self._index_col:
            head[self._index_col] = pa.array(range(n), pa.int64())
        name = f"batch_{bid:08d}.parquet"
        tmp = os.path.join(self.spool_dir, f".{name}.tmp")
        pq.write_table(pa.table({**head, **columns}), tmp)
        publish(tmp, os.path.join(self.spool_dir, name))
        self._next_batch = bid + 1
        return n

    def _with_seq(self, df: DataFrame) -> DataFrame:
        if not self._seq_col:
            return df
        return df.withColumn(
            self._seq_col,
            F.col("batch_id") * MAX_PER_BATCH + F.col(self._index_col))

    def read(self, spark: SparkSession) -> DataFrame:
        """The landed table (plus the sequence column, if any)."""
        reader = spark.read
        if self.schema:
            reader = reader.schema(self.schema)
        return self._with_seq(reader.parquet(self.spool_dir))

    def read_stream(self, spark: SparkSession,
                    max_files_per_trigger: "int | None" = None
                    ) -> DataFrame:
        """Continuous consumption: the spool is a Structured Streaming
        file source (files are immutable and atomically published, the
        contract the file source requires); one land is one unit of
        trigger progress. Needs `schema`."""
        reader = spark.readStream.schema(self.schema)
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger",
                                   max_files_per_trigger)
        return self._with_seq(reader.parquet(self.spool_dir))
