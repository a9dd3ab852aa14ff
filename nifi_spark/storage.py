"""SnapshotTableStore — a portable, Iceberg-style versioned lake table.

The sandbox has no Iceberg catalog, so the engine targets a clean storage
seam with the same semantics an Iceberg `MERGE INTO` would give:

* **Snapshot isolation + atomic commit**: every merge writes a new version
  directory plus a JSON manifest; the commit point is a single durable
  publish (fsync, `os.replace`, directory fsync) of the VERSION pointer
  (NiFi analog: the FlowFile-repo WAL update is the session-commit
  atomicity point, StandardProcessSession.java:361-370; here the pointer
  swap plays that role).
* **Hash-bucketed layout**: rows live in `bucket = pmod(xxhash64(repo,path),
  n_buckets)` partitions. A merge only reads and rewrites *dirty* buckets —
  cost scales with the change set, not the table. At 100 TB you'd raise
  n_buckets so each bucket is a few GB; with a real Iceberg catalog the same
  pruning comes from partition transforms (`bucket(N, repo)`), and
  `IcebergTableAdapter` below shows the MERGE INTO shape.
* **Schema evolution without rewrites**: manifests carry numbered schemas;
  files written under an old schema are mapped positionally (append-only
  adds + in-place renames ⇒ position is a stable field id, the same trick
  as Iceberg field-ids). add/rename are metadata-only commits.
* **LWW merge with `_last_lsn`**: every stored row remembers the LSN that
  produced it, so replaying a batch after a crash between table-commit and
  ledger-write is idempotent (exactly-once end state; upgrades NiFi's
  at-least-once commit-then-state edge, QueryDatabaseTable.java:313-321).

The merge itself is a single hash aggregation, not a join: current rows of
dirty buckets are unioned with the compacted change set and reduced with
`max_by(row, lsn)` per key. Partial (map-side) aggregation makes this
naturally skew-tolerant — a hot repo's rows combine before the shuffle.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from nifi_spark.spool import publish_json

_BASE = [("repo", "string"), ("path", "string"), ("commit", "string"),
         ("lang", "string"), ("content", "string")]
KEY = ["repo", "path"]


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64(F.col("repo"), F.col("path")), F.lit(n_buckets)).cast("int")


class SnapshotTableStore:
    """Versioned parquet table with manifest-tracked buckets and schemas."""

    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets

    # ---------------- manifest / pointer plumbing ----------------
    def _ptr_path(self) -> str:
        return os.path.join(self.root, "VERSION")

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "manifests", f"v{version:06d}.json")

    def current_version(self) -> int:
        try:
            with open(self._ptr_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _load_manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"table at {self.root} not initialized")
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    def _commit(self, manifest: dict) -> int:
        """Write manifest, then atomically swap the VERSION pointer."""
        v = manifest["version"]
        os.makedirs(os.path.join(self.root, "manifests"), exist_ok=True)
        publish_json(self._manifest_path(v), manifest)
        publish_json(self._ptr_path(), v)  # ← the atomic commit point
        return v

    def init(self, extra_schema: list[tuple[str, str]] | None = None) -> None:
        os.makedirs(self.root, exist_ok=True)
        schema = _BASE + list(extra_schema or [])
        manifest = {
            "version": 0, "n_buckets": self.n_buckets,
            "schemas": {"0": [list(c) for c in schema]},
            "current_schema_id": 0,
            "buckets": {},  # bucket -> {path, schema_id}; absent = empty
            "last_schema_lsn": -1,  # idempotent DDL replay gate
            "committed_at": time.time(),
        }
        self._commit(manifest)

    # ---------------- schema ----------------
    def schema_columns(self, manifest: dict | None = None) -> list[tuple[str, str]]:
        m = manifest or self._load_manifest()
        return [tuple(c) for c in m["schemas"][str(m["current_schema_id"])]]

    def evolve(self, kind: str, column: str, new_name: str | None = None,
               dtype: str = "string", lsn: int | None = None) -> None:
        """Metadata-only schema commit: add_column | rename_column.

        When `lsn` is given (pipeline-driven DDL), replays of already-
        applied schema events are skipped — name-based checks alone are
        NOT idempotent (add X → rename X→Xr, replayed, would re-add X and
        rename it into a duplicate Xr).
        """
        m = self._load_manifest()
        if lsn is not None and lsn <= m.get("last_schema_lsn", -1):
            return  # crash-replay of an already-applied schema event
        cols = [list(c) for c in m["schemas"][str(m["current_schema_id"])]]
        names = [c[0] for c in cols]
        if kind == "add_column":
            if column in names:
                return  # idempotent replay
            cols.append([column, dtype])
        elif kind == "rename_column":
            if column not in names:
                if new_name in names:
                    return  # replay after rename already applied
                raise KeyError(f"rename_column: no column {column!r}")
            cols[names.index(column)][0] = new_name
        else:
            raise ValueError(f"unknown schema change kind {kind!r}")
        sid = max(int(k) for k in m["schemas"]) + 1
        m["schemas"][str(sid)] = cols
        m["current_schema_id"] = sid
        m["version"] += 1
        if lsn is not None:
            m["last_schema_lsn"] = max(m.get("last_schema_lsn", -1), lsn)
        m["committed_at"] = time.time()
        self._commit(m)

    # ---------------- read ----------------
    def _normalize(self, df: DataFrame, file_schema: list, cur: list,
                   extra: tuple[str, ...] = ("_last_lsn",)) -> DataFrame:
        """Map a file written under an older schema onto the current one.

        Positions are stable field ids (adds append, renames keep position),
        so physical column i ↦ current column i; newer columns backfill null.
        """
        sel = []
        for i, (name, dtype) in enumerate(cur):
            if i < len(file_schema):
                sel.append(F.col(file_schema[i][0]).alias(name))
            else:
                sel.append(F.lit(None).cast(dtype).alias(name))
        sel.extend(F.col(e) for e in extra)
        return df.select(*sel)

    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             with_lsn: bool = False, version: int | None = None) -> DataFrame:
        """Read the table; `version=N` time-travels to snapshot N (every
        manifest carries the FULL bucket map, so any retained version is
        readable directly — the Iceberg snapshot-read analog; NiFi's
        closest ancestor is provenance-journal archival,
        PersistentProvenanceRepository.java:156-175). Raises
        FileNotFoundError for versions dropped by expire_snapshots.

        Buckets carrying merge-on-read deltas (strategy='delta' merges)
        are folded here: base ∪ delta rows reduce with LWW by
        (lsn, base<delta) and delete tombstones drop — one extra
        hash-agg, only over the delta-carrying buckets (the classic MOR
        read cost; `compact()` restores the zero-agg fast path). Tables
        with no deltas take the COW fast path unchanged."""
        m = self._load_manifest(version)
        cur = self.schema_columns(m)
        cols = [n for n, _ in cur] + (["_last_lsn"] if with_lsn else [])
        entries = m["buckets"]
        if buckets is not None:
            entries = {str(b): entries[str(b)] for b in buckets if str(b) in entries}
        # group bucket paths by schema_id → one multi-path scan per group
        delta_by_sid: dict[str, list[str]] = {}
        delta_buckets: set[str] = set()
        for b, e in entries.items():
            if e.get("deltas"):
                delta_buckets.add(b)
                for d in e["deltas"]:
                    delta_by_sid.setdefault(str(d["schema_id"]), []).append(
                        os.path.join(self.root, d["path"]))
        # base files of delta-carrying buckets enter the fold; clean
        # buckets bypass the agg entirely
        base_clean: dict[str, list[str]] = {}
        base_delta: dict[str, list[str]] = {}
        for b, e in entries.items():
            if e.get("path"):
                tgt = base_delta if b in delta_buckets else base_clean
                tgt.setdefault(str(e["schema_id"]), []).append(
                    os.path.join(self.root, e["path"]))
        parts = []
        for sid, paths in base_clean.items():
            df = spark.read.parquet(*paths)
            parts.append(self._normalize(df, m["schemas"][sid], cur))
        if delta_by_sid:
            names = [n for n, _ in cur]
            fold_in = None
            for sid, paths in base_delta.items():
                p = (self._normalize(spark.read.parquet(*paths),
                                     m["schemas"][sid], cur)
                     .withColumn("op", F.lit("upsert"))
                     .withColumn("_src", F.lit(0)))
                fold_in = p if fold_in is None else fold_in.unionByName(p)
            for sid, paths in delta_by_sid.items():
                p = (self._normalize(spark.read.parquet(*paths),
                                     m["schemas"][sid], cur,
                                     extra=("_last_lsn", "op"))
                     .withColumn("_src", F.lit(1)))
                fold_in = p if fold_in is None else fold_in.unionByName(p)
            # LWW fold: one hash-agg (map-side combine ⇒ skew-safe);
            # ties (crash-replayed delta == compacted base, identical
            # payload by contract) resolve to the delta copy via _src,
            # mirroring the COW merge's (lsn, _src) rule.
            row = F.struct(*[F.col(c) for c in names], F.col("op"))
            folded = (fold_in.groupBy(*KEY)
                      .agg(F.max_by(row, F.struct("_last_lsn", "_src"))
                            .alias("w"),
                           F.max(F.col("_last_lsn")).alias("_last_lsn"))
                      .filter(F.col("w.op") != "delete")
                      .select(*[F.col(f"w.{c}").alias(c) for c in names],
                              "_last_lsn"))
            parts.append(folded)
        if not parts:
            fields = ", ".join(f"`{n}` {t}" for n, t in cur) + ", `_last_lsn` long"
            empty = spark.createDataFrame([], schema=fields)
            return empty.select(*cols)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(*cols)

    # ---------------- maintenance ----------------
    def versions(self) -> list[int]:
        """Retained (readable) snapshot versions, ascending."""
        mdir = os.path.join(self.root, "manifests")
        if not os.path.isdir(mdir):
            return []
        return sorted(int(f[1:-5]) for f in os.listdir(mdir)
                      if f.startswith("v") and f.endswith(".json"))

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Drop old snapshots and GC unreferenced data (the Iceberg
        expire_snapshots + remove_orphan_files analog; reference analog:
        provenance journal rollover/archival,
        PersistentProvenanceRepository.java:156-175).

        Keeps the newest `keep_last` manifests (always including the
        current pointer). A version DIRECTORY is deleted only when no
        RETAINED manifest references any bucket inside it — buckets
        untouched for many merges legitimately live in old version dirs,
        so liveness is computed from the retained bucket maps, not from
        version age. Metadata-only versions (schema commits) have no dir.
        """
        import shutil
        cur = self.current_version()
        vs = self.versions()
        keep = set(vs[-keep_last:]) | {cur}
        live_dirs: set[str] = set()
        for v in keep:
            m = self._load_manifest(v)
            for e in m["buckets"].values():
                if e.get("path"):
                    # bucket path = versions/vNNNNNN/bucket=k
                    live_dirs.add(e["path"].split(os.sep)[1])
                for d in e.get("deltas", []):
                    live_dirs.add(d["path"].split(os.sep)[1])
        removed_manifests, removed_dirs = [], []
        for v in vs:
            if v not in keep:
                os.remove(self._manifest_path(v))
                removed_manifests.append(v)
        vdir = os.path.join(self.root, "versions")
        if os.path.isdir(vdir):
            for d in os.listdir(vdir):
                if d not in live_dirs and int(d[1:]) not in keep:
                    shutil.rmtree(os.path.join(vdir, d))
                    removed_dirs.append(d)
        return {"kept_versions": sorted(keep),
                "removed_manifests": removed_manifests,
                "removed_dirs": sorted(removed_dirs)}

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> dict:
        """Rescale the bucket count — the Iceberg rewrite-data-files-
        with-new-partition-spec analog, and the maintenance operation a
        growing table needs at scale (a 100 TB table that started at 64
        buckets wants thousands so each bucket stays a few GB and merge
        parallelism matches the cluster).

        One full rewrite committed as a new snapshot: read the current
        version, re-hash every row into the new bucket space, write one
        file per new bucket, commit a manifest carrying the new
        n_buckets. Old snapshots remain time-travel-readable (each
        manifest carries its own bucket map); subsequent merges hash
        changes with the NEW bucket count automatically since they read
        n_buckets from the current manifest. Crash-safe like merge: the
        manifest pointer flips only after the full write."""
        if new_n_buckets < 1:
            raise ValueError("new_n_buckets must be >= 1")
        m = self._load_manifest()
        full = self.read(spark, with_lsn=True) \
            .withColumn("bucket", bucket_expr(new_n_buckets))
        new_version = m["version"] + 1
        rel = os.path.join("versions", f"v{new_version:06d}")
        out_dir = os.path.join(self.root, rel)
        (full.repartition(new_n_buckets, "bucket")
             .write.partitionBy("bucket").mode("overwrite").parquet(out_dir))
        written = {int(d.split("=")[1]) for d in os.listdir(out_dir)
                   if d.startswith("bucket=")}
        sid = m["current_schema_id"]
        m["buckets"] = {str(b): {"path": os.path.join(rel, f"bucket={b}"),
                                 "schema_id": sid}
                        for b in sorted(written)}
        m["n_buckets"] = new_n_buckets
        m["version"] = new_version
        m["committed_at"] = time.time()
        self._commit(m)
        return {"n_buckets": new_n_buckets, "buckets_written": len(written),
                "version": new_version}

    # ---------------- merge (the PutSQL / MERGE INTO analog) ----------------
    def merge(self, spark: SparkSession, changes: DataFrame,
              strategy: str = "argmax",
              assume_all_dirty: bool = False,
              dedup_ties: bool = False) -> dict:
        """Apply a change set (store-schema columns + `op` ∈
        {'upsert','delete'} + `lsn`; multiple rows per key allowed — LWW
        by LSN happens here, exactly once).

        strategy:
        * 'argmax' (default) — shuffle-narrow plan: aggregate only
          (repo, path, lsn, op) to find each key's winning LSN, then
          join the winner list back against current∪changes to fetch the
          winning full rows. Full-width rows (content ~KBs) NEVER enter
          a wide shuffle — measured ~2× the max_by plan at 8M
          events/batch and scales with cores because the only wide
          movement left is the final per-bucket write. AQE picks the
          join physical form at runtime: broadcast-hash while the
          touched-key set fits an executor, shuffle join past that
          (10^9+ touched keys) — same semantics either way, no driver
          count job needed.
        * 'maxby' — single wide hash-agg `max_by(full_row, lsn)`;
          simplest plan, shuffles full-width partial aggregates.
        * 'delta' — merge-on-read: the batch (within-batch LWW
          compacted, delete tombstones KEPT) appends as per-bucket
          delta files; no base bucket is read or rewritten, so
          bytes-written ∝ change set, not table size — the scale-safe
          shape for steady-state small batches over wide key
          distributions, where copy-on-write's per-batch bucket rewrite
          amplifies writes by table_size/batch_size. read() folds
          base ∪ deltas with the same (lsn, _src) LWW rule;
          `compact()` folds deltas back into base files.

        Replay ties: a replayed batch (crash between table commit and
        ledger write) re-delivers changes whose lsn equals the stored
        row's `_last_lsn`. Winner selection keys on (lsn, _src) where
        _src prefers the change copy (payloads are identical by
        contract), so the winner join matches exactly ONE wide row per
        key and the full-width rows take exactly one exchange (the
        per-bucket repartition before write). Changes must be
        (key, lsn)-unique — automatic for any real changelog, where the
        LSN is a log position; for at-least-once feeds that can
        re-deliver inside one batch, pass dedup_ties=True (adds a
        dropDuplicates — one extra wide exchange) or run
        operators.detect_duplicate upstream.

        assume_all_dirty ("bulk mode"): skip the dirty-bucket probe job
        and treat every bucket as dirty. Correct always (clean buckets
        are rewritten unchanged); profitable when micro-batches are
        large relative to n_buckets — steady-state bulk CDC — where the
        probe would return "all" anyway and its scan is pure overhead.

        Returns stats {dirty_buckets, rows_written, version}.
        """
        m = self._load_manifest()
        cur = self.schema_columns(m)
        names = [n for n, _ in cur]
        nb = m["n_buckets"]

        # No cache: the dirty-bucket probe is a column-pruned scan of just
        # (repo, path) — cheaper than materializing full-width change rows,
        # and the only viable shape when the change slice exceeds memory.
        chg = (changes.withColumn("bucket", bucket_expr(nb))
               .withColumn("_src", F.lit(1)))
        if assume_all_dirty:
            dirty = list(range(nb))
        else:
            dirty = sorted(r["bucket"] for r in
                           chg.select("bucket").distinct().collect())
        if not dirty:
            return {"dirty_buckets": [], "rows_written": 0, "version": m["version"]}

        if strategy == "delta":
            return self._merge_delta(spark, chg, dirty, m)

        current = (self.read(spark, buckets=dirty, with_lsn=True)
                   .withColumn("op", F.lit("upsert"))
                   .withColumnRenamed("_last_lsn", "lsn")
                   .withColumn("bucket", bucket_expr(nb))
                   .withColumn("_src", F.lit(0)))
        unioned = current.unionByName(chg.select(*current.columns))

        if strategy == "argmax":
            # (lsn, _src) is unique per key: the store holds one row per
            # key (_src=0) and changes are (key,lsn)-unique (_src=1), so
            # a replay tie (change lsn == stored lsn) resolves to the
            # change copy and the winner join is 1:1 — no wide dedup.
            winners = (unioned.select(*KEY, "lsn", "_src", "op")
                       .groupBy(*KEY)
                       .agg(F.max(F.struct("lsn", "_src")).alias("w"),
                            F.max_by("op", F.struct("lsn", "_src"))
                             .alias("_wop"))
                       .filter(F.col("_wop") != "delete")
                       .select(*KEY, F.col("w.lsn").alias("lsn"),
                               F.col("w._src").alias("_src")))
            # No explicit broadcast and no count job: AQE sees the
            # winners' runtime size after the narrow agg and picks
            # broadcast-hash for small winner sets, shuffle join when
            # the touched-key set is too big to broadcast.
            winner = (unioned.join(winners, [*KEY, "lsn", "_src"])
                      .withColumnRenamed("lsn", "_last_lsn")
                      .drop("op", "_src"))
            if dedup_ties:
                winner = winner.dropDuplicates(KEY)
        elif strategy == "maxby":
            # LWW reduce: one hash-agg (partial map-side combine ⇒
            # skew-safe), cheaper than the sort a window would force.
            winners = None
            row = F.struct(*[F.col(c) for c in names], F.col("op"), F.col("bucket"))
            winner = (unioned.groupBy(*KEY)
                      .agg(F.max_by(row, F.col("lsn")).alias("w"),
                           F.max("lsn").alias("_last_lsn"))
                      .select(*[F.col(f"w.{c}").alias(c) for c in names],
                              F.col("w.op").alias("op"),
                              F.col("w.bucket").alias("bucket"),
                              "_last_lsn")
                      .filter(F.col("op") != "delete")
                      .drop("op"))
        else:
            raise ValueError(f"unknown merge strategy {strategy!r}")

        new_version = m["version"] + 1
        rel = os.path.join("versions", f"v{new_version:06d}")
        out_dir = os.path.join(self.root, rel)
        # one output task per dirty bucket → exactly one file per bucket dir
        # (small-file control; MergeContent bin-packing analog).
        (winner.repartition(len(dirty), "bucket")
               .write.partitionBy("bucket").mode("overwrite").parquet(out_dir))

        written = {int(d.split("=")[1]) for d in os.listdir(out_dir)
                   if d.startswith("bucket=")}
        sid = m["current_schema_id"]
        for b in dirty:
            if b in written:
                m["buckets"][str(b)] = {"path": os.path.join(rel, f"bucket={b}"),
                                        "schema_id": sid}
            else:
                m["buckets"].pop(str(b), None)  # bucket fully deleted
        m["version"] = new_version
        m["committed_at"] = time.time()
        self._commit(m)
        return {"dirty_buckets": dirty, "rows_written": -1, "version": new_version}

    def _merge_delta(self, spark: SparkSession, chg: DataFrame,
                     dirty: list[int], m: dict) -> dict:
        """Merge-on-read append: within-batch LWW compaction (one
        batch-sized hash-agg — multiple ops per key in the batch reduce
        to the latest; delete tombstones survive as rows, read-time LWW
        needs them), then one delta file per dirty bucket. The base
        table is neither read nor rewritten."""
        cur = self.schema_columns(m)
        names = [n for n, _ in cur]
        row = F.struct(*[F.col(c) for c in names], F.col("op"),
                       F.col("bucket"))
        compacted = (chg.groupBy(*KEY)
                     .agg(F.max_by(row, F.col("lsn")).alias("w"),
                          F.max("lsn").alias("_last_lsn"))
                     .select(*[F.col(f"w.{c}").alias(c) for c in names],
                             F.col("w.op").alias("op"),
                             F.col("w.bucket").alias("bucket"),
                             "_last_lsn"))
        new_version = m["version"] + 1
        rel = os.path.join("versions", f"v{new_version:06d}")
        out_dir = os.path.join(self.root, rel)
        (compacted.repartition(len(dirty), "bucket")
                  .write.partitionBy("bucket").mode("overwrite")
                  .parquet(out_dir))
        written = {int(d.split("=")[1]) for d in os.listdir(out_dir)
                   if d.startswith("bucket=")}
        sid = m["current_schema_id"]
        for b in sorted(written):
            e = m["buckets"].setdefault(str(b),
                                        {"path": None, "schema_id": sid})
            e.setdefault("deltas", []).append(
                {"path": os.path.join(rel, f"bucket={b}"),
                 "schema_id": sid})
        m["version"] = new_version
        m["committed_at"] = time.time()
        self._commit(m)
        return {"dirty_buckets": dirty, "rows_written": -1,
                "version": new_version, "mode": "delta"}

    def compact(self, spark: SparkSession,
                buckets: list[int] | None = None) -> dict:
        """Fold merge-on-read deltas back into base files (the Iceberg
        rewrite-data-files analog for MOR tables). Only delta-carrying
        buckets are touched; results are invisible to readers — read()
        returns the identical table before and after (the rebucket
        invisibility contract). Commits a new snapshot; old versions
        stay time-travel-readable."""
        m = self._load_manifest()
        nb = m["n_buckets"]
        want = None if buckets is None else {int(b) for b in buckets}
        target = sorted(int(b) for b, e in m["buckets"].items()
                        if e.get("deltas")
                        and (want is None or int(b) in want))
        if not target:
            return {"compacted_buckets": [], "version": m["version"]}
        folded = (self.read(spark, buckets=target, with_lsn=True)
                  .withColumn("bucket", bucket_expr(nb)))
        new_version = m["version"] + 1
        rel = os.path.join("versions", f"v{new_version:06d}")
        out_dir = os.path.join(self.root, rel)
        (folded.repartition(len(target), "bucket")
               .write.partitionBy("bucket").mode("overwrite")
               .parquet(out_dir))
        written = {int(d.split("=")[1]) for d in os.listdir(out_dir)
                   if d.startswith("bucket=")}
        sid = m["current_schema_id"]
        for b in target:
            if b in written:
                m["buckets"][str(b)] = {
                    "path": os.path.join(rel, f"bucket={b}"),
                    "schema_id": sid}
            else:  # every row in the bucket was tombstoned away
                m["buckets"].pop(str(b), None)
        m["version"] = new_version
        m["committed_at"] = time.time()
        self._commit(m)
        return {"compacted_buckets": target, "version": new_version}


class IcebergTableAdapter:
    """The same seam over a real Iceberg catalog (not available in sandbox).

    With `spark.sql.catalog.lake = org.apache.iceberg.spark.SparkCatalog`
    configured, merge() issues:

        MERGE INTO lake.db.repos t
        USING changes s
        ON t.repo = s.repo AND t.path = s.path
        WHEN MATCHED AND s.op = 'delete' AND s.lsn > t._last_lsn THEN DELETE
        WHEN MATCHED AND s.lsn > t._last_lsn THEN UPDATE SET *
        WHEN NOT MATCHED AND s.op != 'delete' THEN INSERT *

    and evolve() issues `ALTER TABLE ... ADD COLUMN / RENAME COLUMN`.
    Table creation uses `PARTITIONED BY (bucket(N, repo))` so the merge
    prunes to dirty buckets exactly as SnapshotTableStore does.
    """

    def __init__(self, spark: SparkSession, table: str):
        self.spark, self.table = spark, table
        raise NotImplementedError("no Iceberg catalog in this sandbox; "
                                  "use SnapshotTableStore")
