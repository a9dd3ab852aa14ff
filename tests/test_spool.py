"""Spool — the durable landing every drain-to-spool source inherits:
the packing bound, a process killed mid-land, and leftover temp files
on reopen."""

from __future__ import annotations

import os
import subprocess
import sys

import pyarrow as pa
import pytest

from nifi_spark.sources.listen import ListenUDPSource
from nifi_spark.spool import MAX_PER_BATCH, Spool

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def feed(items):
    it = iter(items)
    return lambda: next(it, None)


def test_land_over_packing_bound_raises_and_writes_nothing(tmp_path):
    spool = Spool(str(tmp_path / "spool"))
    with pytest.raises(ValueError, match="packing bound"):
        spool.land({"v": pa.array(range(MAX_PER_BATCH + 1), pa.int64())})
    assert os.listdir(spool.spool_dir) == []
    assert spool._next_batch == 0
    assert spool.land({"v": pa.array([7], pa.int64())}) == 1
    assert os.listdir(spool.spool_dir) == ["batch_00000000.parquet"]


_KILLED_MID_LAND = r"""
import os, sys
sys.path.insert(0, {repo!r})
import pyarrow.parquet as pq
from nifi_spark.sources.listen import ListenUDPSource

src = ListenUDPSource({spool!r})
src.drain(lambda it=iter([("h", b"a"), ("h", b"b")]): next(it, None))
real = pq.write_table

def write_then_die(table, where, *a, **kw):
    real(table, where, *a, **kw)
    os._exit(0)                 # killed after the temp write, pre-publish

pq.write_table = write_then_die
src.drain(lambda it=iter([("h", b"lost")]): next(it, None))
"""


def test_kill_between_temp_write_and_publish(spark, tmp_path):
    spool = str(tmp_path / "spool")
    subprocess.run([sys.executable, "-c",
                    _KILLED_MID_LAND.format(repo=REPO, spool=spool)],
                   check=True, timeout=120)
    src = ListenUDPSource(spool)
    # only the published batch is visible: the dead land is not read
    assert sorted(r["raw"] for r in src.read(spark).collect()) == ["a", "b"]
    # the restarted source continues at the next id; nothing lost or
    # duplicated after a further land
    assert src._next_batch == 1
    assert src.drain(feed([("h", b"c")])) == 1
    rows = src.read(spark).orderBy("msg_seq").collect()
    assert [r["raw"] for r in rows] == ["a", "b", "c"]
    assert len({r["msg_seq"] for r in rows}) == 3


def test_temp_file_removed_on_reopen(spark, tmp_path):
    d = str(tmp_path / "spool")
    spool = Spool(d)
    spool.land({"v": pa.array([1, 2], pa.int64())})
    stray = os.path.join(d, ".batch_00000001.parquet.tmp")
    with open(stray, "wb") as f:
        f.write(b"torn")              # a land that died mid-write
    reopened = Spool(d)
    assert not os.path.exists(stray)
    assert reopened._next_batch == 1
    assert sorted(r["v"] for r in reopened.read(spark).collect()) == [1, 2]
