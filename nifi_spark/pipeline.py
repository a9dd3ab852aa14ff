"""CdcPipeline — the micro-batch driver: tail → compact → merge → checkpoint.

One NiFi session-commit == one micro-batch here (SURVEY.md §3.1 mapping):

    read change slice (lsn > ledger watermark, pushdown to parquet scan)
      → apply the batch's schema_change events in LSN order
        (SnapshotTableStore.evolve — metadata-only commits; NiFi sidesteps
        this, every processor is schema-less; ConvertJSONToSQL.java:101-113
        is its drift-policy ancestor)
      → normalize changes onto the store schema (narrow projection; each
        row is read under the column names of its own schema epoch)
      → SnapshotTableStore.merge — ONE merge over all of the batch's data:
        a narrow (key, lsn, op) agg picks each key's LWW winner over
        current∪changes, a 1:1 join fetches the winning rows
        → dirty-bucket snapshot commit (atomic)
      → provenance records per stage/partition
      → OffsetLedger.commit (checksum'd) — AFTER the table commit

Crash matrix (tests/test_resume.py): crash before merge ⇒ nothing happened
(DDL already committed is skipped on replay by the store's lsn gate);
crash between merge and ledger ⇒ batch replays, `_last_lsn` LWW makes the
replay idempotent; crash after ledger ⇒ batch never replays. Exactly-once
final state in all three.

Duplicate (key,lsn) re-deliveries — NiFi's DetectDuplicate concern
(standard/DetectDuplicate.java:58-68) — are absorbed by two mechanisms:
cross-batch dups have lsn <= watermark and never pass the slice filter;
in-batch dups are dropped by `dedup_deliveries` before the merge.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from nifi_spark.ledger import OffsetLedger, slice_checksum
from nifi_spark.provenance import ProvenanceWriter
from nifi_spark.storage import SnapshotTableStore


@dataclass
class BatchStats:
    batch_id: int
    lsn_from: int
    lsn_to: int
    events: int = 0
    schema_events: int = 0
    quarantined: int = 0
    sub_batches: int = 0  # schema epochs in the batch (DDL events + 1),
    # not merges: a batch is one merge
    table_version: int = -1


@dataclass
class CdcPipeline:
    spark: SparkSession
    changelog_path: str
    store: SnapshotTableStore
    ledger: OffsetLedger
    stream: str = "changelog"
    provenance: ProvenanceWriter | None = None
    checksum: bool = True
    eager_stats: bool = True  # False: skip the per-batch count job
    # (events = -1); the apply itself never needs the count
    cache_slice: bool = True  # persist the batch slice (MEMORY_AND_DISK)
    # across the schema-scan / merge passes; size batches to the cluster
    # (micro-batch bound = the NiFi back-pressure analog) or disable to
    # re-scan the (column-pruned) parquet per pass
    bulk_mode: bool = False  # steady-state bulk CDC: skip the per-batch
    # dirty-bucket probe (every bucket assumed dirty — see
    # SnapshotTableStore.merge)
    ddl_in_stream: bool = True  # False: the feed carries no schema_change
    # events (steady-state bulk CDC where DDL arrives out-of-band — the
    # usual Debezium topology) — skips the per-batch schema-scan job, so a
    # bulk batch runs exactly one Spark job (the merge)
    quarantine_path: str | None = None  # poison-row routing: malformed
    # data events (null key, unknown op) append to this errors table
    # (with reason + batch id) instead of silently merging under a null
    # key or failing the batch — the PutSQL failure-relationship /
    # ProcessSession.penalize analog (standard/PutSQL.java:147-163,
    # ProcessSession.java:316). Like NiFi's failure relationship the
    # quarantine write is at-least-once: a crash-replayed batch re-appends
    # its poison rows; readers dedup on (lsn) if they need exactly-once.
    merge_strategy: str = "argmax"  # SnapshotTableStore.merge strategy:
    # 'argmax' (copy-on-write, shuffle-narrow) | 'delta' (merge-on-read:
    # per-bucket delta appends, bytes-written ∝ change set — the
    # steady-state small-batch shape; run store.compact() periodically
    # to restore the zero-agg read path)
    dedup_deliveries: bool = True  # at-least-once feeds can re-deliver the
    # same (key, lsn) inside one batch; the merge's 1:1 winner join
    # requires (key,lsn)-unique changes, so dedup the SLICE here (a
    # slice-sized exchange — strictly cheaper than deduping the merged
    # table). False for exactly-once feeds (a real binlog, where the LSN
    # is a unique log position) — then a batch has no dedup exchange at
    # all. DetectDuplicate analog, standard/DetectDuplicate.java:58-68.

    # ---------------- source ----------------
    def _read_slice(self, lsn_from_excl: int, lsn_to_incl: int) -> DataFrame:
        # Both predicates push down to the parquet scan (min/max row-group
        # pruning) — the QueryDatabaseTable incremental-fetch analog
        # (standard/QueryDatabaseTable.java:324-354: strict '>' on the
        # first watermark column).
        return (self.spark.read.parquet(self.changelog_path)
                .filter((F.col("lsn") > F.lit(lsn_from_excl))
                        & (F.col("lsn") <= F.lit(lsn_to_incl))))

    # ---------------- change normalization ----------------
    def _normalize_changes(self, data: DataFrame, ddl_lsns: list[int],
                           schemas: list[list[tuple[str, str]]]) -> DataFrame:
        """Project raw events onto the store schema + (op, lsn) — a pure
        narrow projection, NO shuffle.

        ``schemas[k]`` is the store schema in force for rows with
        ``ddl_lsns[k-1] <= lsn < ddl_lsns[k]`` (epoch 0 before the first
        DDL, the last epoch after the last one). Store columns are
        positional (adds append, renames keep the position), so each row
        reads position i from the data column its own epoch names there,
        or null where that epoch has no such column — what applying the
        batch serially, one merge per epoch, would store. A position that
        every epoch maps to the same data column (or to none) is one plain
        expression, so a batch without DDL, or whose DDL columns carry no
        values in the feed, projects exactly as a DDL-free one.

        LWW compaction (one winner per key by LSN) happens exactly once,
        inside ``SnapshotTableStore.merge``; same-batch delete→re-insert
        and trailing-delete tombstones resolve in that single reduce.
        """
        def source(name: str | None, dtype: str):
            return (F.col(name) if name is not None
                    else F.lit(None).cast(dtype))

        out = []
        for i, (name, dtype) in enumerate(schemas[-1]):
            srcs = [s[i][0] if i < len(s) and s[i][0] in data.columns
                    else None for s in schemas]
            expr = source(srcs[-1], dtype)
            if len(set(srcs)) > 1:
                for b, src in reversed(list(zip(ddl_lsns, srcs))):
                    expr = F.when(F.col("lsn") < b,
                                  source(src, dtype)).otherwise(expr)
            out.append(expr.alias(name))
        return data.select(
            *out,
            F.when(F.col("op") == "delete", "delete").otherwise("upsert").alias("op"),
            "lsn")

    # ---------------- one micro-batch ----------------
    def apply_until(self, lsn_to_incl: int) -> BatchStats:
        wm = self.ledger.get(self.stream)["last_applied_lsn"]
        batch_id = self.ledger.get(self.stream)["batch_id"] + 1
        stats = BatchStats(batch_id=batch_id, lsn_from=wm, lsn_to=lsn_to_incl)
        if lsn_to_incl <= wm:
            return stats

        sl = self._read_slice(wm, lsn_to_incl)
        if self.cache_slice:
            sl = sl.persist()
        try:
            stats.events = sl.count() if self.eager_stats else -1
            if self.provenance:
                self.provenance.emit(sl, "RECEIVE", batch_id, "tail")

            # schema-change events (tiny driver-side list; NiFi's analog
            # is per-record)
            if self.ddl_in_stream:
                sc = (sl.filter(F.col("op") == "schema_change")
                        .select("lsn", "sc_kind", "sc_column", "sc_new_name",
                                "sc_dtype")
                        .sort("lsn").collect())
            else:
                sc = []
            # null-safe: a NULL op is a data (poison) row, not DDL — it
            # must reach the quarantine split, not vanish in a
            # three-valued-logic filter
            data = (sl.filter(~F.col("op").eqNullSafe("schema_change"))
                    if self.ddl_in_stream else sl)
            stats.schema_events = len(sc)
            stats.sub_batches = len(sc) + 1

            # all DDL first (a crash replay finds it committed and the
            # store's lsn gate skips it), then one merge that reads each
            # row under its own epoch's schema
            schemas = [self.store.schema_columns()]
            for r in sc:
                self.store.evolve(r.sc_kind, r.sc_column, r.sc_new_name,
                                  r.sc_dtype or "string", lsn=r.lsn)
                schemas.append(self.store.schema_columns())
            self._apply_data(data, batch_id, stats, [r.lsn for r in sc],
                             schemas)

            cs = slice_checksum(data) if self.checksum else None
            stats.table_version = self.store.current_version()
            self.ledger.commit(self.stream, lsn_to_incl, batch_id, cs,
                               stats.table_version)
            return stats
        finally:
            # always release the cached slice — a failed batch must not pin
            # storage for the life of the session
            if self.cache_slice:
                sl.unpersist()

    _VALID_OPS = ("insert", "update", "delete", "upsert")

    def _apply_data(self, data: DataFrame, batch_id: int, stats: BatchStats,
                    ddl_lsns: list[int],
                    schemas: list[list[tuple[str, str]]]) -> None:
        if self.quarantine_path:
            bad = (F.col("repo").isNull() | F.col("path").isNull()
                   | ~F.coalesce(F.col("op").isin(*self._VALID_OPS),
                                 F.lit(False)))
            reason = (F.when(F.col("repo").isNull() | F.col("path").isNull(),
                             "null_key")
                      .otherwise(F.concat(F.lit("bad_op:"),
                                          F.coalesce(F.col("op"),
                                                     F.lit("null")))))
            poison = (data.filter(bad)
                      .withColumn("_reason", reason)
                      .withColumn("_batch_id", F.lit(batch_id).cast("long")))
            n_bad = poison.count() if self.eager_stats else -1
            if n_bad != 0:
                poison.write.mode("append").parquet(self.quarantine_path)
                if self.provenance:
                    self.provenance.emit(poison, "DROP", batch_id,
                                         "quarantine")
            if n_bad > 0:
                stats.quarantined += n_bad
            data = data.filter(~bad)
        changes = self._normalize_changes(data, ddl_lsns, schemas)
        if self.dedup_deliveries:
            changes = changes.dropDuplicates(["repo", "path", "lsn"])
        if self.provenance:
            self.provenance.emit(changes, "JOIN", batch_id, "compact")
        res = self.store.merge(self.spark, changes,
                               strategy=self.merge_strategy,
                               assume_all_dirty=self.bulk_mode)
        if res["dirty_buckets"] and self.provenance:
            self.provenance.emit_counts(self.spark, "SEND", batch_id, "merge",
                                        len(res["dirty_buckets"]))

    # ---------------- full run / resume ----------------
    def run(self, bounds: list[int]) -> list[BatchStats]:
        """Apply batches up to each bound; already-applied bounds skip (resume)."""
        out = []
        for b in bounds:
            out.append(self.apply_until(b))
        return out

    def final_table(self) -> DataFrame:
        return self.store.read(self.spark)
