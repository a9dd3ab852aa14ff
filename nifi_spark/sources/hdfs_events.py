"""GetHDFSEvents — HDFS inotify event source analog.

NiFi ancestor: GetHDFSEvents (nifi-hdfs-bundle/.../inotify/
GetHDFSEvents.java:169-262 — last.tx.id cluster-state watermark,
IOException poll retries, MissingEventsException → reset txid to -1
with documented possible loss, per-event JSON FlowFiles with
hdfs.inotify.event.type / hdfs.inotify.event.path attributes;
NotificationEventPathFilter.java — watch-path regex `matches()` +
ignore-hidden basename '.' filter; EventTypeValidator.java — the six
types append/close/create/metadata/rename/unlink, case-insensitive).

The reference reads the namenode's edit stream via the HdfsAdmin RPC
API (superuser-only, not exposed over WebHDFS REST), so the feed here
is injectable like every transport in this repo: ``feed.poll(
last_txid, max_events)`` returns an EventBatch or None. Production
wraps whatever bridge exposes the edit stream; tests and the gate use
`FakeInotifyStream`, whose retention model reproduces the API's
documented failure mode (a consumer behind the earliest retained
transaction gets MissingEventsError; resetting to -1 re-opens at the
earliest retained edit, so purged events are lost exactly like the
reference's "may cause events not to be processed").

Spark-first shape: the poll loop is single-node control plane; each
poll lands matching events as one immutable parquet spool file (the
listen-bridge pattern) and the data plane reads the spool as a batch
or streaming table keyed by txid — the same ledgered-watermark story
as every incremental source here.
"""

from __future__ import annotations

import json
import os
import re

from nifi_spark.spool import Spool, publish_json

EVENT_TYPES = ("append", "close", "create", "metadata", "rename",
               "unlink")

_SPOOL_SCHEMA = ("txid bigint, event_type string, event_path string, "
                 "event_json string, mime_type string")


class MissingEventsError(IOError):
    """The consumer's txid precedes the earliest retained transaction
    (org.apache.hadoop.hdfs.inotify.MissingEventsException)."""


class EventBatch:
    def __init__(self, txid: int, events: list[dict]):
        self.txid = txid
        self.events = events


class FakeInotifyStream:
    """Deterministic inotify feed for tests/gates. `emit(...)` appends
    journal entries with monotonically increasing txids; `purge()`
    drops the oldest retained edits (the namenode's bounded edit
    retention); `fail_next(n)` makes the next n polls raise IOError
    (the retry path)."""

    def __init__(self):
        self.journal: list[tuple[int, dict]] = []
        self._next_txid = 1
        self._earliest = 1
        self._io_failures = 0

    def emit(self, event_type: str, path: str, **fields) -> int:
        if event_type not in EVENT_TYPES:
            raise ValueError(f"unknown event type {event_type!r}")
        txid = self._next_txid
        self._next_txid += 1
        ev = {"eventType": event_type.upper(), **fields}
        if event_type == "rename":
            ev.setdefault("srcPath", path)
        else:
            ev.setdefault("path", path)
        self.journal.append((txid, ev))
        return txid

    def purge(self, upto_txid: "int | None" = None) -> None:
        cut = self._next_txid - 1 if upto_txid is None else upto_txid
        self.journal = [(t, e) for t, e in self.journal if t > cut]
        self._earliest = max(self._earliest, cut + 1)

    def fail_next(self, n: int = 1) -> None:
        self._io_failures += n

    def poll(self, last_txid: int, max_events: int = 100
             ) -> "EventBatch | None":
        if self._io_failures > 0:
            self._io_failures -= 1
            raise IOError("simulated edit-stream read failure")
        if last_txid == -1:
            # a fresh stream opens at the earliest retained edit
            last_txid = self._earliest - 1
        elif last_txid + 1 < self._earliest:
            raise MissingEventsError(
                f"txid {last_txid + 1} < earliest retained "
                f"{self._earliest}")
        out = [(t, e) for t, e in self.journal
               if t > last_txid][:max_events]
        if not out:
            return None
        return EventBatch(out[-1][0], [dict(e, _txid=t)
                                       for t, e in out])


def _event_path(ev: dict) -> str:
    """getPath (GetHDFSEvents.java:291-306): rename reports srcPath."""
    if ev.get("eventType") == "RENAME":
        return ev.get("srcPath", "")
    return ev.get("path", "")


class GetHDFSEventsSource(Spool):
    """Poll loop → parquet spool with the reference's filter +
    watermark semantics."""

    schema = _SPOOL_SCHEMA

    def __init__(self, feed, spool_dir: str, *,
                 path_watch_regex: str = ".*",
                 ignore_hidden: bool = False,
                 event_types: str = "append, close, create, metadata, "
                                    "rename, unlink",
                 poll_retries: int = 3,
                 state_path: "str | None" = None):
        wanted = [t.strip().lower() for t in event_types.split(",")
                  if t.strip()]
        bad = [t for t in wanted if t not in EVENT_TYPES]
        if bad:
            # EventTypeValidator.java's message shape
            raise ValueError(f"The following are not valid event "
                             f"types: {bad}")
        super().__init__(spool_dir, None, None)
        self.feed = feed
        self.watch = re.compile(path_watch_regex)
        self.ignore_hidden = ignore_hidden
        self.wanted = frozenset(wanted)
        self.poll_retries = poll_retries
        self.state_path = state_path or os.path.join(
            spool_dir, "_inotify_state.json")
        try:
            with open(self.state_path) as f:
                self.last_txid = int(json.load(f)["last.tx.id"])
        except FileNotFoundError:
            self.last_txid = -1

    def _persist(self) -> None:
        publish_json(self.state_path, {"last.tx.id": self.last_txid})

    def _accept(self, ev: dict) -> bool:
        """toProcessEvent + NotificationEventPathFilter: type in the
        configured list, basename not hidden (when enabled), full
        watch-regex match."""
        if ev.get("eventType", "").lower() not in self.wanted:
            return False
        path = _event_path(ev)
        if not path:
            return False
        if self.ignore_hidden and os.path.basename(path).startswith("."):
            return False
        return self.watch.fullmatch(path) is not None

    def poll(self, max_events: int = 100) -> int:
        """One onTrigger: returns matched events landed. IOError from
        the feed retries `poll_retries` times then re-raises (the
        caller yields); MissingEventsError resets the watermark to -1
        — the next poll re-opens at the earliest retained edit, purged
        events are lost (the reference's documented behavior)."""
        import pyarrow as pa

        attempt = 0
        while True:
            attempt += 1
            try:
                batch = self.feed.poll(self.last_txid, max_events)
                break
            except MissingEventsError:
                self.last_txid = -1
                self._persist()
                return 0
            except IOError:
                if attempt > self.poll_retries:
                    raise
        if batch is None:
            self._persist()
            return 0
        kept = [ev for ev in batch.events if self._accept(ev)]
        self.land({
            "txid": pa.array([int(e["_txid"]) for e in kept],
                             pa.int64()),
            "event_type": pa.array([e["eventType"] for e in kept],
                                   pa.string()),
            "event_path": pa.array([_event_path(e) for e in kept],
                                   pa.string()),
            "event_json": pa.array(
                [json.dumps({k: v for k, v in e.items()
                             if k != "_txid"}, sort_keys=True)
                 for e in kept], pa.string()),
            "mime_type": pa.array(["application/json"] * len(kept),
                                  pa.string()),
        })
        self.last_txid = batch.txid
        self._persist()            # after the spool publish: at-least-once
        return len(kept)

    def drain(self, max_events: int = 100) -> int:
        """Poll until the txid watermark stops moving."""
        total = 0
        while True:
            before = self.last_txid
            total += self.poll(max_events)
            if self.last_txid == before:
                return total
