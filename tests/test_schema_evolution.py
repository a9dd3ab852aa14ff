"""Schema evolution: mid-batch DDL, add/rename, drift policies.

NiFi analog: ConvertJSONToSQL's unmatched-field/column policies
(standard/ConvertJSONToSQL.java:101-113,156-166). A batch with mid-batch
DDL applies every ALTER first and then merges once, reading each row under
the schema of its own epoch; hand-crafted changelogs pin that this equals
applying the batch serially (data → ALTER → data).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nifi_spark import fixtures, oracle
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.schema_evolution import (SchemaDriftError, UnmatchedColumn,
                                         UnmatchedField, reconcile)
from nifi_spark.storage import SnapshotTableStore


def _row(lsn, op, repo=None, path=None, commit=None, lang=None, content=None,
         sc=None):
    return {"lsn": lsn, "op": op, "repo": repo, "path": path, "commit": commit,
            "lang": lang, "content": content,
            "ts": pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=lsn),
            "sc_kind": sc[0] if sc else None, "sc_column": sc[1] if sc else None,
            "sc_new_name": sc[2] if sc else None,
            "sc_dtype": sc[3] if sc else None}


@pytest.fixture()
def crafted(tmp_path):
    rows = [
        _row(0, "insert", "o/r1", "a.py", "c0", "python", "v0 of a"),
        _row(1, "insert", "o/r1", "b.py", "c1", "python", "v0 of b"),
        _row(2, "schema_change", sc=("add_column", "stars", None, "string")),
        _row(3, "update", "o/r1", "a.py", "c2", "python", "v1 of a"),
        _row(4, "schema_change", sc=("rename_column", "stars", "stargazers", "string")),
        _row(5, "delete", "o/r1", "b.py"),
        _row(6, "insert", "o/r1", "b.py", "c3", "python", "v1 of b (reborn)"),
        _row(7, "schema_change", sc=("add_column", "license", None, "string")),
        _row(8, "update", "o/r1", "a.py", "c4", "python", "v2 of a"),
    ]
    cl = pd.DataFrame(rows, columns=fixtures.CHANGELOG_COLUMNS)
    p = str(tmp_path / "crafted.parquet")
    fixtures.write_changelog_parquet(cl, p)
    return cl, p


def test_mid_batch_ddl_split_faithful(spark, tmp_path, crafted):
    cl, path = crafted
    store = SnapshotTableStore(str(tmp_path / "t"), n_buckets=2)
    store.init()
    pipe = CdcPipeline(spark=spark, changelog_path=path, store=store,
                       ledger=OffsetLedger(str(tmp_path / "c")),
                       checksum=False)
    stats = pipe.apply_until(8)
    assert stats.schema_events == 3
    assert stats.sub_batches == 4  # 3 DDL boundaries → 4 data sub-batches
    cols = [n for n, _ in store.schema_columns()]
    assert cols == ["repo", "path", "commit", "lang", "content",
                    "stargazers", "license"]
    expected, extras = oracle.replay(cl)
    got = pipe.final_table().toPandas()
    assert list(got.columns) == list(expected.columns)
    oracle.assert_equivalent(got, expected)
    # delete→re-insert in one batch: b.py reborn with c3
    assert got.set_index("path").loc["b.py", "commit"] == "c3"
    # trailing update wins: a.py at c4
    assert got.set_index("path").loc["a.py", "commit"] == "c4"


def test_mid_batch_ddl_is_one_merge(spark, tmp_path, crafted):
    """3 DDL events in one batch: 3 metadata commits and ONE merge."""
    _cl, path = crafted
    store = SnapshotTableStore(str(tmp_path / "t2"), n_buckets=2)
    store.init()
    calls = {"merge": 0, "evolve": 0}

    def counted(name, fn):
        def wrapper(*a, **kw):
            calls[name] += 1
            return fn(*a, **kw)
        return wrapper

    store.merge = counted("merge", store.merge)
    store.evolve = counted("evolve", store.evolve)
    pipe = CdcPipeline(spark=spark, changelog_path=path, store=store,
                       ledger=OffsetLedger(str(tmp_path / "c2")),
                       checksum=False)
    assert pipe.apply_until(8).sub_batches == 4
    assert calls == {"merge": 1, "evolve": 3}


def test_evolved_column_values_follow_their_epoch(spark, tmp_path):
    """A feed that carries values for an evolved column: each row is read
    under the column names of its own schema epoch. Applying all DDL up
    front and projecting by the final schema would lose A's value, which
    the feed spells `stars` before the rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rows = [
        _row(0, "insert", "o/r1", "a.py", "c0", "python", "v0 of a"),
        _row(1, "insert", "o/r1", "b.py", "c1", "python", "v0 of b"),
        _row(2, "schema_change", sc=("add_column", "stars", None, "string")),
        dict(_row(3, "update", "o/r1", "a.py", "c2", "python", "v1 of a"),
             stars="5"),
        _row(4, "schema_change",
             sc=("rename_column", "stars", "stargazers", "string")),
        dict(_row(5, "update", "o/r1", "b.py", "c3", "python", "v1 of b"),
             stargazers="7"),
    ]
    cl = pd.DataFrame(rows, columns=fixtures.CHANGELOG_COLUMNS
                      + ["stars", "stargazers"])
    p = str(tmp_path / "valued.parquet")
    schema = pa.schema([(c, pa.int64() if c == "lsn" else
                         pa.timestamp("us") if c == "ts" else pa.string())
                        for c in cl.columns])
    pq.write_table(pa.Table.from_pandas(cl, schema=schema,
                                        preserve_index=False), p)
    store = SnapshotTableStore(str(tmp_path / "t5"), n_buckets=2)
    store.init()
    pipe = CdcPipeline(spark=spark, changelog_path=p, store=store,
                       ledger=OffsetLedger(str(tmp_path / "c5")),
                       checksum=False)
    pipe.apply_until(5)
    got = pipe.final_table().toPandas().set_index("path")
    assert got.loc["a.py", "stargazers"] == "5"
    assert got.loc["b.py", "stargazers"] == "7"
    assert list(got.loc["a.py", ["commit", "content"]]) == ["c2", "v1 of a"]


def test_evolution_is_metadata_only(spark, tmp_path, crafted):
    """add/rename never rewrite data files (Iceberg-style)."""
    cl, path = crafted
    store = SnapshotTableStore(str(tmp_path / "t3"), n_buckets=2)
    store.init()
    pipe = CdcPipeline(spark=spark, changelog_path=path, store=store,
                       ledger=OffsetLedger(str(tmp_path / "c3")),
                       checksum=False)
    pipe.apply_until(3)  # insert, insert, add_column, update
    v = store.current_version()
    store.evolve("add_column", "homepage", None, "string")
    assert store.current_version() == v + 1
    m = store._load_manifest()
    # bucket data paths unchanged by the evolve commit
    pipe2_cols = [n for n, _ in store.schema_columns()]
    assert "homepage" in pipe2_cols
    got = store.read(spark).toPandas()
    assert got["homepage"].isna().all()  # null backfill on read


def test_rename_replay_is_idempotent(spark, tmp_path):
    store = SnapshotTableStore(str(tmp_path / "t4"), n_buckets=2)
    store.init()
    store.evolve("add_column", "x", None, "string")
    store.evolve("rename_column", "x", "y")
    store.evolve("rename_column", "x", "y")  # replay → no-op
    store.evolve("add_column", "x", None, "string")  # new x after rename ok
    names = [n for n, _ in store.schema_columns()]
    assert names[-2:] == ["y", "x"]
    with pytest.raises(KeyError):
        store.evolve("rename_column", "zz", "q")


def test_drift_policies(spark):
    table_cols = [("repo", "string"), ("path", "string"), ("commit", "string"),
                  ("lang", "string"), ("content", "string")]
    chg = spark.createDataFrame(
        [("o/r", "a.py", "c0", "surprise", 0)],
        "repo string, path string, commit string, homepage string, lsn long")

    # unmatched incoming field: FAIL raises, IGNORE drops
    with pytest.raises(SchemaDriftError):
        reconcile(chg, table_cols, field_policy=UnmatchedField.FAIL)
    out = reconcile(chg, table_cols, field_policy=UnmatchedField.IGNORE)
    assert "homepage" not in out.columns

    # unmatched table column: FAIL raises, IGNORE null-fills
    with pytest.raises(SchemaDriftError):
        reconcile(chg, table_cols, column_policy=UnmatchedColumn.FAIL)
    out = reconcile(chg, table_cols, column_policy=UnmatchedColumn.IGNORE)
    row = out.collect()[0]
    assert row["lang"] is None and row["content"] is None

    # EVOLVE: adds the new column via the callback
    added = []
    out = reconcile(chg, table_cols, field_policy=UnmatchedField.EVOLVE,
                    evolve_fn=lambda k, c, n, t: added.append((k, c)))
    assert added == [("add_column", "homepage")]
    assert "homepage" in out.columns
