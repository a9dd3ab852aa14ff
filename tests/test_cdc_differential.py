"""Differential property test: every merge plan against the replay oracle.

Hypothesis generates small changelogs with in-batch redeliveries (a
(key, lsn) row delivered twice), delete→re-insert, trailing tombstones,
mid-batch add and rename DDL, and poison rows (null key, unknown or null
op), and cuts each into 1–4 batches. Copy-on-write ('argmax'),
merge-on-read ('delta', compacted between batches) and bulk mode must each
leave the same bag of rows as ``oracle.replay`` over the log without its
poison rows, and route exactly the poison rows to the quarantine. The
crash cases replay every batch once from each of two points: after the
table commit and before the ledger commit, and after the batch's DDL
commits and before its merge. Equivalence under bag semantics is the
frame SPES (ICDE 2022) uses for plan equivalence; keys are unique in both
tables, so the per-key comparison of ``oracle.assert_equivalent`` is a
bag comparison.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from hypothesis import (HealthCheck, Phase, given, settings,
                        strategies as st)

from nifi_spark import fixtures, oracle
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.storage import SnapshotTableStore

KEYS = [(f"o/r{i}", f"f{j}.py") for i in range(2) for j in range(3)]
STEPS = (["write"] * 6 + ["delete"] * 2
         + ["redeliver", "add", "rename", "poison"])


@st.composite
def changelogs(draw):
    """(log, bounds, n_poison): rows in delivery order, 1–4 batch bounds."""
    rows, extras, n_poison, lsn = [], [], 0, 0
    for i in range(draw(st.integers(min_value=4, max_value=40))):
        step = "write" if i == 0 else draw(st.sampled_from(STEPS))
        repo, path = draw(st.sampled_from(KEYS))
        data = [r for r in rows if r["op"] in ("insert", "update", "delete")
                and r["repo"] is not None]
        row = {c: None for c in fixtures.CHANGELOG_COLUMNS}
        row.update(lsn=lsn, ts=pd.Timestamp("2024-01-01")
                   + pd.Timedelta(seconds=lsn))
        if step == "redeliver" and data:
            rows.append(dict(draw(st.sampled_from(data))))
            continue
        if step == "rename" and extras:
            k = draw(st.integers(0, len(extras) - 1))
            row.update(op="schema_change", sc_kind="rename_column",
                       sc_column=extras[k], sc_new_name=f"r{lsn}",
                       sc_dtype="string")
            extras[k] = f"r{lsn}"
        elif step in ("add", "rename"):
            row.update(op="schema_change", sc_kind="add_column",
                       sc_column=f"x{lsn}", sc_dtype="string")
            extras.append(f"x{lsn}")
        elif step == "delete":
            row.update(op="delete", repo=repo, path=path)
        else:
            row.update(op=draw(st.sampled_from(["insert", "update"])),
                       repo=repo, path=path, commit=f"c{lsn}",
                       lang=draw(st.sampled_from(["python", "go"])),
                       content=f"v{lsn} of {repo}/{path}")
            if step == "poison":
                n_poison += 1
                if draw(st.booleans()):
                    row["repo"] = None
                else:
                    row["op"] = draw(st.sampled_from(["bogus", None]))
        rows.append(row)
        lsn += 1
    cuts = draw(st.lists(st.integers(0, lsn - 1), max_size=3))
    log = pd.DataFrame(rows, columns=fixtures.CHANGELOG_COLUMNS)
    return log, sorted(set(cuts) | {lsn - 1}), n_poison


def _clean(log: pd.DataFrame) -> pd.DataFrame:
    """The log without its poison rows: the oracle's input."""
    ok = log["op"].isin(["insert", "update", "delete"]) & log["repo"].notna()
    return log[ok | (log["op"] == "schema_change")]


class _Run:
    """One table + ledger + quarantine under ``root``."""

    def __init__(self, spark, root, log_path, **kw):
        self.spark, self.log_path, self.kw = spark, log_path, kw
        self.store = SnapshotTableStore(os.path.join(root, "table"),
                                        n_buckets=4)
        self.store.init()
        self.ledger = OffsetLedger(os.path.join(root, "ledger"))
        self.quarantine = os.path.join(root, "quarantine")

    def pipeline(self) -> CdcPipeline:
        """A fresh pipeline over the run's state: a restarted process."""
        return CdcPipeline(self.spark, self.log_path, self.store, self.ledger,
                           quarantine_path=self.quarantine, **self.kw)

    def check(self, log: pd.DataFrame) -> None:
        expected, extras = oracle.replay(_clean(log))
        got = self.store.read(self.spark).toPandas()
        oracle.assert_equivalent(got[expected.columns.tolist()], expected)
        assert list(got.columns) == list(expected.columns)
        assert got[extras].isna().all().all()


def _settings(max_examples: int):
    # no shrink phase: every example costs seconds of Spark work, so
    # shrinking a failure would run for many minutes; a failing log is
    # reported as generated (at most 40 events)
    return settings(max_examples=max_examples, deadline=None,
                    derandomize=True,
                    phases=[Phase.explicit, Phase.generate],
                    suppress_health_check=[HealthCheck.too_slow,
                                           HealthCheck.data_too_large])


@_settings(8)
@given(case=changelogs())
def test_merge_plans_match_oracle(spark, case):
    log, bounds, n_poison = case
    with tempfile.TemporaryDirectory() as tmp:
        log_path = os.path.join(tmp, "log.parquet")
        fixtures.write_changelog_parquet(log, log_path)
        plans = {"argmax": {"merge_strategy": "argmax"},
                 "delta": {"merge_strategy": "delta"},
                 "bulk": {"merge_strategy": "argmax", "bulk_mode": True}}
        for name, kw in plans.items():
            run = _Run(spark, os.path.join(tmp, name), log_path, **kw)
            pipe = run.pipeline()
            quarantined = 0
            for b in bounds:
                quarantined += pipe.apply_until(b).quarantined
                if name == "delta":
                    run.store.compact(spark)
            run.check(log)
            assert quarantined == n_poison, name
            n_rows = (spark.read.parquet(run.quarantine).count()
                      if os.path.exists(run.quarantine) else 0)
            assert n_rows == n_poison, name


# each batch is applied four times here (twice per crash point), so fewer
# logs keep the file inside two minutes on a 4-core host
@_settings(5)
@given(case=changelogs(), strategy=st.sampled_from(["argmax", "delta"]))
def test_crash_replays_match_oracle(spark, case, strategy):
    log, bounds, _ = case
    with tempfile.TemporaryDirectory() as tmp:
        log_path = os.path.join(tmp, "log.parquet")
        fixtures.write_changelog_parquet(log, log_path)

        # crash after the table commit, before the ledger commit: roll
        # the ledger back and replay the batch from a fresh pipeline
        run = _Run(spark, os.path.join(tmp, "ledger_crash"), log_path,
                   merge_strategy=strategy)
        for b in bounds:
            st0 = run.ledger.get("changelog")
            run.pipeline().apply_until(b)
            run.ledger.commit(st0["stream"], st0["last_applied_lsn"],
                              st0["batch_id"], st0["checksum"],
                              st0["table_version"])
            run.pipeline().apply_until(b)
        run.check(log)

        # crash after the batch's DDL commits, before its merge
        run = _Run(spark, os.path.join(tmp, "merge_crash"), log_path,
                   merge_strategy=strategy)
        merge, armed = run.store.merge, [False]

        def crashing_merge(*a, **kw):
            if armed[0]:
                armed[0] = False
                raise RuntimeError("crash before merge")
            return merge(*a, **kw)

        run.store.merge = crashing_merge
        for b in bounds:
            armed[0] = True
            with pytest.raises(RuntimeError, match="crash before merge"):
                run.pipeline().apply_until(b)
            run.pipeline().apply_until(b)
        run.check(log)
