"""Lineage queries over the provenance table + explicit skew checks.

north_rule: "partitioning / shuffle / skew handled explicitly" — the
Zipf fixture sends ≥30% of events to one hot repo; these tests assert
(a) the lineage surface answers which batches touched an LSN, and
(b) the merge's key-hash distribution does NOT concentrate the hot
repo into one reducer (keys spread over paths; partial agg collapses
per-key duplicates before the exchange).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nifi_spark import fixtures
from nifi_spark.ledger import OffsetLedger
from nifi_spark.pipeline import CdcPipeline
from nifi_spark.provenance import (ProvenanceWriter, batch_summary,
                                   lineage_for_lsn, partition_balance)
from nifi_spark.storage import SnapshotTableStore


@pytest.fixture(scope="module")
def applied(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("provskew")
    log = fixtures.gen_changelog(n_events=4000, n_repos=20, paths_per_repo=8,
                                 zipf_s=1.6)  # strongly skewed
    lp = str(root / "log.parquet")
    fixtures.write_changelog_parquet(log, lp)
    store = SnapshotTableStore(str(root / "tbl"), n_buckets=8)
    store.init()
    prov = ProvenanceWriter(str(root / "prov"))
    pipe = CdcPipeline(spark, lp, store, OffsetLedger(str(root / "ck")),
                       provenance=prov)
    pipe.run(fixtures.batch_bounds(log, 3))
    return spark, log, pipe, prov


def test_hot_repo_is_actually_hot(applied):
    spark, log, _, _ = applied
    data = log[log["op"].isin(["insert", "update", "delete"])]
    share = (data["repo"] == "org0/repo0").mean()
    assert share >= 0.30  # fixture contract (FIXTURES.md)


def test_lineage_for_lsn(applied):
    spark, log, pipe, prov = applied
    p = prov.read(spark)
    some_lsn = int(log[log["op"] == "update"]["lsn"].iloc[10])
    lin = lineage_for_lsn(p, some_lsn).toPandas()
    assert len(lin) >= 1                       # at least the RECEIVE record
    assert set(lin["event_type"]) <= {"RECEIVE", "JOIN", "SEND"}
    # the LSN belongs to exactly one batch's range
    assert lin["batch_id"].nunique() == 1


def test_batch_summary_covers_all_batches(applied):
    spark, log, pipe, prov = applied
    summ = batch_summary(prov.read(spark)).toPandas()
    assert set(summ["batch_id"]) == {0, 1, 2}
    rec = summ[summ["event_type"] == "RECEIVE"]
    assert rec["rows"].sum() == len(log)


def test_merge_output_not_skewed_by_hot_repo(applied):
    """The final merged table's bucket distribution: the hot repo's rows
    spread across buckets by (repo, path) hash — no single bucket holds
    the hot repo's entire volume."""
    spark, log, pipe, prov = applied
    from nifi_spark.storage import bucket_expr
    final = pipe.final_table().withColumn("b", bucket_expr(8))
    dist = final.groupBy("b").count().toPandas().set_index("b")["count"]
    assert len(dist) >= 6                  # keys spread over most buckets
    assert dist.max() / dist.sum() < 0.5   # no bucket dominates


def test_partition_balance_query(applied):
    spark, log, pipe, prov = applied
    bal = partition_balance(prov.read(spark), stage="compact").toPandas()
    assert len(bal) == 3
    assert (bal["max_rows"] >= bal["mean_rows"]).all()
