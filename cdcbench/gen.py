"""Seeded changelog generator for the CDC benchmark.

Follows the pure-column shape of ``nifi_spark.fixtures.gen_changelog_spark``
(every column is a hash expression of the LSN, so there is no per-event
state) but evaluates the columns with NumPy in the benchmark process, takes
a workload seed, and emits the edge cases FIXTURES.md asks for, at bench
scale:

* ~1 % in-batch (key, LSN) redeliveries: the same row delivered twice;
* delete followed by re-insert of one key, on adjacent LSNs;
* ``add_column`` / ``rename_column`` events every ``ddl_every`` LSNs, at a
  chosen offset, so they land mid-batch and force sub-batch splits;
* ~0.05 % poison rows, half with a null key and half with an unknown op;
* a hot repo receiving ~30 % of the events.

LSNs below ``live_from`` form a clean initial load (inserts only, no edge
cases) that a workload may apply in bulk during set-up.

The log stays LSN-ordered. Late and out-of-order LSNs are not generated:
the engine drops them without counting them today.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

LANGS = ("python", "java", "scala", "javascript", "go", "rust", "markdown")
VALID_OPS = ("insert", "update", "delete")
POISON_EVERY = 2000      # ~0.05 % of data rows
REDELIVER_EVERY = 100    # ~1 % of data rows
PAIR_EVERY = 997         # one delete -> re-insert pair per 997 LSNs
HOT_PERCENT = 30
N_REPOS = 250
PATHS_PER_REPO = 40       # the hot repo's key space
CONTENT_CHUNKS = 4        # sha256 hex digests per content body
ADD_COLUMN, RENAME_COLUMN = "add_column", "rename_column"

SCHEMA = pa.schema([
    ("lsn", pa.int64()), ("op", pa.string()), ("repo", pa.string()),
    ("path", pa.string()), ("commit", pa.string()), ("lang", pa.string()),
    ("content", pa.string()), ("ts", pa.timestamp("us")),
    ("sc_kind", pa.string()), ("sc_column", pa.string()),
    ("sc_new_name", pa.string()), ("sc_dtype", pa.string()),
])

_M64 = (1 << 64) - 1


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser, elementwise on uint64 (wraps mod 2^64)."""
    z = x + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _h(seed: int, salt: int, x: np.ndarray) -> np.ndarray:
    """A non-negative int64 hash of ``x`` under (seed, salt)."""
    key = np.uint64((seed * 0x100000001B3 + salt * 0x9E3779B1) & _M64)
    h = _mix(x.astype(np.uint64) ^ _mix(np.array([key], dtype=np.uint64)))
    return (h >> np.uint64(1)).astype(np.int64)


def gen_changelog(seed: int, n_events: int, *, live_from: int = 0,
                  ddl_every: int = 0, ddl_phase: int = 1) -> pa.Table:
    """Changelog rows for LSNs ``[0, n_events)`` plus their redeliveries,
    in LSN order. Same ``seed`` and sizes give the same rows. A DDL event
    sits ``ddl_phase`` LSNs into every ``ddl_every`` live LSNs. Extra
    columns added by DDL carry no values in data events, so the store
    backfills them as null."""
    n_keys = N_REPOS * PATHS_PER_REPO
    n_orgs = N_REPOS // 10
    lsn = np.arange(n_events, dtype=np.int64)
    live = lsn >= live_from
    rel = lsn - live_from

    # DDL slots: slot k adds x{k}, except every third slot renames the
    # column the slot before it added (x{k-1} -> x{k-1}_r)
    if ddl_every:
        is_ddl = live & (rel % ddl_every == ddl_phase)
        slot = rel // ddl_every
    else:
        is_ddl, slot = np.zeros(n_events, bool), np.zeros(n_events, np.int64)
    is_rename = slot % 3 == 2

    # delete -> re-insert pairs: the second LSN reuses the first's key
    pair_pos = rel % PAIR_EVERY
    is_pair_del = live & (pair_pos == 500)
    is_pair_ins = live & (pair_pos == 501)
    hk = _h(seed, 0, np.where(is_pair_ins, lsn - 1, lsn))
    key_id = np.where(live & (hk % 100 < HOT_PERCENT), hk % PATHS_PER_REPO,
                      (hk // 100) % n_keys)

    opsel = _h(seed, 1, lsn) % 100
    data_op = np.select(
        [~live, is_pair_del, is_pair_ins, opsel < 30, opsel < 80, opsel < 98],
        ["insert", "delete", "insert", "insert", "update", "delete"], "update")
    hp = _h(seed, 2, lsn)
    is_poison = live & ~is_ddl & ~is_pair_del & ~is_pair_ins \
        & (hp % POISON_EVERY == 0)
    null_key = is_poison & ((hp // POISON_EVERY) % 2 == 0)
    op = np.where(is_ddl, "schema_change",
                  np.where(is_poison & ~null_key, "truncate", data_op))
    lang_ix = _h(seed, 3, lsn) % len(LANGS)
    redeliver = (live & np.isin(op, VALID_OPS) & ~null_key & ~is_ddl
                 & (_h(seed, 4, lsn) % REDELIVER_EVERY == 0))

    cols = {name: [] for name in SCHEMA.names if name not in ("lsn", "ts")}
    for i in range(n_events):
        o = str(op[i])
        if is_ddl[i]:
            k = int(slot[i])
            rename = bool(is_rename[i])
            col = f"x{k - 1}" if rename else f"x{k}"
            row = (o, None, None, None, None, None,
                   RENAME_COLUMN if rename else ADD_COLUMN, col,
                   f"{col}_r" if rename else None, "string")
        else:
            kid = int(key_id[i])
            rid = kid // PATHS_PER_REPO
            repo = None if null_key[i] else f"org{rid % n_orgs}/repo{rid}"
            path = f"src/pkg{kid % 7}/mod{kid % PATHS_PER_REPO}.py"
            if o == "delete":
                row = (o, repo, path, None, None, None, None, None, None, None)
            else:
                tag = f"{repo or ''}/{path}@{i}"
                body = "".join(hashlib.sha256(f"{tag}:{seed}:{c}".encode())
                               .hexdigest() for c in range(CONTENT_CHUNKS))
                row = (o, repo, path, hashlib.sha1(tag.encode()).hexdigest(),
                       LANGS[lang_ix[i]], f"// {tag}\n{body}",
                       None, None, None, None)
        for name, v in zip(cols, row):
            cols[name].append(v)
    table = pa.table({"lsn": lsn, **cols,
                      "ts": (lsn + 1_704_067_200) * 1_000_000})
    table = table.select(SCHEMA.names).cast(SCHEMA)
    # at-least-once delivery: the redelivered row follows its original
    take = np.repeat(np.arange(n_events), 1 + redeliver.astype(np.int64))
    return table.take(pa.array(take))


def land(log: pa.Table, lsn_from_excl: int, lsn_to_incl: int,
         directory: str, name: str) -> tuple[str, int]:
    """Write the log rows in ``(lsn_from_excl, lsn_to_incl]`` as one parquet
    file in ``directory``; returns (path, bytes). The log is LSN-ordered, so
    the rows are one contiguous slice."""
    lsns = log.column("lsn")
    lo = pc.sum(pc.less_equal(lsns, lsn_from_excl)).as_py() or 0
    hi = pc.sum(pc.less_equal(lsns, lsn_to_incl)).as_py() or 0
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, name)
    tmp = os.path.join(directory, f".{name}.tmp")  # hidden from Spark scans
    pq.write_table(log.slice(lo, hi - lo), tmp)
    os.replace(tmp, path)
    return path, os.path.getsize(path)
