"""TailFileSource — TestTailFile.java scenario replays.

Each test mirrors a reference scenario by name; chunk contents are
asserted byte-for-byte against the reference's FlowFile expectations.
File mtimes are nudged forward explicitly so rotation ordering never
depends on filesystem timestamp precision.
"""

from __future__ import annotations

import os

import pytest

from nifi_spark.sources.tail_file import TailFileSource, _chunk_name

_CLOCK = [1_700_000_000_000_000_000]


def _touch(path, step=2_000_000_000):
    """Advance the file's mtime on a deterministic monotonic clock."""
    _CLOCK[0] += step
    os.utime(path, ns=(_CLOCK[0], _CLOCK[0]))


def _append(path, data: bytes):
    with open(path, "ab") as f:
        f.write(data)
    _touch(path)


def _chunks(src):
    """Landed spool rows in batch order, read via pyarrow (no Spark
    needed for the unit scenarios)."""
    import pyarrow.parquet as pq
    rows = []
    for name in sorted(os.listdir(src.spool_dir)):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(src.spool_dir, name)).to_pylist()
            rows += t
    return rows


@pytest.fixture()
def tailed(tmp_path):
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"),
                         rolling_pattern="log*.txt")
    return log, src, tmp_path


def test_consume_when_newline_found(tailed):
    """testConsumeWhenNewLineFound: partial lines stay in the file."""
    log, src, _ = tailed
    assert src.poll() == 0
    _append(log, b"hello\n")
    assert src.poll() == 6
    _append(log, b"world")                 # no newline yet
    assert src.poll() == 0
    _append(log, b"\n")
    assert src.poll() == 6
    c = _chunks(src)
    assert [r["content"] for r in c] == ["hello\n", "world\n"]
    assert c[0]["filename"] == _chunk_name("log.txt", 0, 6) == "log.0-6.txt"
    assert c[1]["filename"] == "log.6-12.txt"
    # bare-\r line completes only when the next non-\n byte arrives
    _append(log, b"cr line\r")
    assert src.poll() == 0
    _append(log, b"x")
    assert src.poll() == 8
    assert _chunks(src)[-1]["content"] == "cr line\r"


def test_remainder_recovered_after_restart(tailed):
    """testRemainderOfFileRecoveredAfterRestart: rolled remainder
    (even without a trailing newline) is consumed via the checksum
    probe, then the new file from 0."""
    log, src, tmp = tailed
    _append(log, b"hello\n")
    assert src.poll() == 6
    _append(log, b"world")                 # partial, then rotate
    os.rename(log, str(tmp / "log1.txt"))
    _touch(str(tmp / "log1.txt"))
    _append(log, b"new file\n")
    # restart: NEW instance over the same state + spool
    src2 = TailFileSource(log, src.spool_dir,
                          rolling_pattern="log*.txt",
                          state_path=src.state_path)
    src2.poll()
    contents = [r["content"] for r in _chunks(src2)]
    assert contents == ["hello\n", "world", "new file\n"]
    names = [r["filename"] for r in _chunks(src2)]
    assert names == ["log.0-6.txt", "log1.txt", "log.0-9.txt"]


def test_remainder_recovered_rolled_while_running(tailed):
    """testRemainderOfFileRecoveredIfRolledOverWhileRunning — same
    instance, no restart."""
    log, src, tmp = tailed
    _append(log, b"hello\n")
    assert src.poll() == 6
    _append(log, b"world")
    os.rename(log, str(tmp / "log1.txt"))
    _touch(str(tmp / "log1.txt"))
    _append(log, b"1\n")
    src.poll()
    assert [r["content"] for r in _chunks(src)] == ["hello\n", "world",
                                                    "1\n"]


def test_rollover_after_having_read_all_data(tmp_path):
    """testRolloverAfterHavingReadAllData: an unread partial line must
    not poison the recovery checksum."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"),
                         rolling_pattern="log.*")
    _append(log, b"hello\n")
    assert src.poll() == 6
    _append(log, b"world")
    assert src.poll() == 0                 # no newline: nothing pulled
    os.rename(log, str(tmp_path / "log.1"))
    _touch(str(tmp_path / "log.1"))
    _append(log, b"1\n")
    src.poll()
    assert [r["content"] for r in _chunks(src)] == ["hello\n", "world",
                                                    "1\n"]


def test_multiple_rollovers(tmp_path):
    """testMultipleRolloversAfterHavingReadAllData: two files rolled
    between polls, both ingested oldest-first."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"),
                         rolling_pattern="log.*")
    _append(log, b"hello\n")
    assert src.poll() == 6
    _append(log, b"world\n")
    os.rename(log, str(tmp_path / "log.1"))
    _touch(str(tmp_path / "log.1"))
    _append(log, b"abc\n")
    os.rename(log, str(tmp_path / "log.2"))
    _touch(str(tmp_path / "log.2"))
    _append(log, b"1\n")
    src.poll()
    assert [r["content"] for r in _chunks(src)] == [
        "hello\n", "world\n", "abc\n", "1\n"]


def test_rollover_and_update_at_same_time_no_reingest(tmp_path):
    """testRolloverAndUpdateAtSameTime: after recovering the rolled
    remainder, a second poll must ingest NOTHING (the mtime+1
    watermark keeps the rolled file out of the next listing)."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"),
                         rolling_pattern="log.*")
    _append(log, b"hello there\n")
    assert src.poll() == 12
    _append(log, b"another")
    os.rename(log, str(tmp_path / "log.1"))
    # NOTE: mtime deliberately NOT advanced — same-timestamp rollover
    _append(log, b"new file\n")
    src.poll()
    assert [r["content"] for r in _chunks(src)] == [
        "hello there\n", "another", "new file\n"]
    n = len(_chunks(src))
    src.poll()
    assert len(_chunks(src)) == n          # nothing re-ingested


def test_rollover_when_no_rolling_pattern(tmp_path):
    """testRolloverWhenNoRollingPattern: pre-rotation remainder is
    lost, the new shorter file restarts at 0; an undetectable
    same-length-or-longer swap continues from the old offset."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"))
    _append(log, b"hello there\n")
    assert src.poll() == 12
    _append(log, b"another")
    os.rename(log, str(tmp_path / "log.1"))
    _append(log, b"new file\n")
    src.poll()
    assert [r["content"] for r in _chunks(src)] == [
        "hello there\n", "new file\n"]     # 'another' is lost
    # longer new file: rotation is undetectable, tail continues at the
    # old offset (the reference documents this exact behavior)
    os.rename(log, str(tmp_path / "log.2"))
    _append(log, b"new file with longer data in the new file\n")
    src.poll()
    assert _chunks(src)[-1]["content"] == \
        "with longer data in the new file\n"


def test_truncation_restarts_at_beginning(tmp_path):
    """testConsumeAfterTruncationStartAtBeginningOfFile: shrink →
    restart from 0."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"))
    _append(log, b"hello\n")
    assert src.poll() == 6
    with open(log, "wb") as f:
        f.write(b"HELLO\n")                # truncate + rewrite, same len
    _touch(log)
    # same length: undetectable (reference parity) — shrink IS detected
    with open(log, "wb") as f:
        f.write(b"hi\n")
    _touch(log)
    src.poll()
    assert _chunks(src)[-1]["content"] == "hi\n"


def test_restart_checksum_mismatch_restarts_at_zero(tmp_path):
    """Recovery gate: state says position 6, but the file was replaced
    (checksum mismatch) and nothing rolled — restart from 0."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"))
    _append(log, b"hello\n")
    assert src.poll() == 6
    with open(log, "wb") as f:
        f.write(b"fresh1\nfresh2\n")       # replaced, longer
    _touch(log)
    src2 = TailFileSource(log, src.spool_dir, state_path=src.state_path)
    src2.poll()
    assert _chunks(src2)[-1]["content"] == "fresh1\nfresh2\n"


def test_spark_read_and_lines(spark, tmp_path):
    """Spark side: spool reads as a parquet table; lines() explodes to
    per-line rows in file order."""
    log = str(tmp_path / "log.txt")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp_path / "spool"),
                         rolling_pattern="log*.txt")
    _append(log, b"".join(b"ev%08d\n" % i for i in range(100)))
    src.poll()
    os.rename(log, str(tmp_path / "log1.txt"))
    _touch(str(tmp_path / "log1.txt"))
    _append(log, b"".join(b"ev%08d\n" % i for i in range(100, 150)))
    src.poll()
    df = src.read(spark)
    assert df.count() == 2
    lines = TailFileSource.lines(df).orderBy("batch_id", "line_idx")
    got = [r["line"] for r in lines.collect()]
    assert got == ["ev%08d" % i for i in range(150)]


# ------------------------------------------------ Multiple files mode

def _multi_chunks(src):
    import pyarrow.parquet as pq
    rows = []
    for root, _, files in os.walk(src.spool_dir):
        for f in sorted(files):
            if f.endswith(".parquet"):
                rows += pq.read_table(os.path.join(root, f)).to_pylist()
    return rows


def test_multiple_files_discovery_and_rollover(tmp_path):
    """testMultipleFiles: three matching files (one in a subdir,
    recursive regex), independent partial-line carry, new files
    discovered mid-run, rollovers recovered per file."""
    from nifi_spark.sources.tail_file import MultiTailFileSource
    base = tmp_path / "base"
    (base / "testDir").mkdir(parents=True)
    log = str(base / "log.txt")
    other = str(base / "testDir" / "log.txt")
    for p in (log, other):
        open(p, "wb").close()
        _touch(p)
    src = MultiTailFileSource(str(base), r"(testDir/)?log(ging)?\.txt",
                              str(tmp_path / "spool"),
                              rolling_pattern="${filename}.?",
                              recursive=True)
    assert src.poll() == 0
    third = str(base / "logging.txt")
    _append(third, b"hey\n")
    _append(other, b"hi\n")
    _append(log, b"hello\n")
    assert src.poll() == 13
    by_path = {}
    for r in _multi_chunks(src):
        by_path.setdefault(r["original_path"], []).append(r["content"])
    assert by_path[log] == ["hello\n"]
    assert by_path[other] == ["hi\n"]
    assert by_path[third] == ["hey\n"]
    # partial lines stay per file
    _append(other, b"world!")
    _append(log, b"world")
    assert src.poll() == 0
    # rotate both tracked files, remove the third, add a fourth
    os.remove(third)
    os.rename(log, str(base / "log.1"))
    _touch(str(base / "log.1"))
    os.rename(other, str(base / "testDir" / "log.1"))
    _touch(str(base / "testDir" / "log.1"))
    _append(log, b"1\n")
    _append(other, b"2\n")
    fourth = str(base / "testDir" / "logging.txt")
    _append(fourth, b"3\n")
    src.poll()
    by_path = {}
    for r in _multi_chunks(src):
        by_path.setdefault(r["original_path"], []).append(r["content"])
    assert by_path[log] == ["hello\n", "world", "1\n"]
    assert by_path[other] == ["hi\n", "world!", "2\n"]
    assert by_path[fourth] == ["3\n"]


def test_multiple_files_max_age_and_restart(tmp_path):
    """Changing-name strategy: files older than max_age are not picked
    up; a restarted source resumes every tracked file's state."""
    from nifi_spark.sources.tail_file import MultiTailFileSource
    base = tmp_path / "b"
    base.mkdir()
    old = str(base / "app-2020.log")
    new = str(base / "app-2026.log")
    _append(old, b"ancient\n")
    _append(new, b"fresh\n")
    now = os.stat(new).st_mtime_ns + 1
    src = MultiTailFileSource(str(base), r"app-\d+\.log",
                              str(tmp_path / "spool"),
                              max_age_ns=1_000_000_000,
                              now_ns=lambda: now)
    assert src.poll() == 6                  # only the fresh file
    paths = {r["original_path"] for r in _multi_chunks(src)}
    assert paths == {new}
    # restart: tracked files resume from persisted state
    _append(new, b"more\n")
    src2 = MultiTailFileSource(str(base), r"app-\d+\.log",
                               str(tmp_path / "spool"),
                               max_age_ns=1_000_000_000,
                               now_ns=lambda: now)
    assert src2.poll() == 5
    by = [r["content"] for r in _multi_chunks(src2)
          if r["original_path"] == new]
    assert by == ["fresh\n", "more\n"]


def test_multiple_files_spark_union(spark, tmp_path):
    from nifi_spark.sources.tail_file import MultiTailFileSource
    base = tmp_path / "b"
    base.mkdir()
    for i in range(3):
        _append(str(base / f"s{i}.log"),
                b"".join(b"f%d line %03d\n" % (i, j) for j in range(20)))
    src = MultiTailFileSource(str(base), r"s\d\.log",
                              str(tmp_path / "spool"))
    src.poll()
    df = src.read(spark)
    assert df.count() == 3
    lines = MultiTailFileSource.lines(df)
    assert lines.count() == 60


# ------------------------------------------------- property (hypothesis)

from hypothesis import HealthCheck, given, settings, strategies as st

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"),
                  st.text(alphabet="ab\n\r", min_size=1, max_size=12)),
        st.tuples(st.just("poll"), st.just("")),
        st.tuples(st.just("rotate"), st.just("")),
        st.tuples(st.just("restart"), st.just(""))),
    min_size=1, max_size=18)


def _complete_prefix(data: bytes) -> int:
    """The readLines cut rule, independently restated: up to the last
    \\n, or a later bare \\r that is followed by a non-\\n byte."""
    cut = data.rfind(b"\n") + 1
    for i in range(len(data) - 1):
        if data[i:i + 1] == b"\r" and data[i + 1:i + 2] != b"\n":
            cut = max(cut, i + 1)
    return cut


@settings(deadline=None, max_examples=25,
          suppress_health_check=list(HealthCheck))
@given(_OPS)
def test_tail_property_no_loss_no_dup(tmp_path_factory, ops):
    """Any interleaving of appends, polls, rotations, and restarts
    lands exactly: every rotated file's bytes (from the consumed
    offset) in rotation order, plus the current file's complete-line
    prefix — no loss, no duplication, byte-for-byte."""
    tmp = tmp_path_factory.mktemp("tailprop")
    log = str(tmp / "app.log")
    open(log, "wb").close()
    _touch(log)
    src = TailFileSource(log, str(tmp / "spool"),
                         rolling_pattern="app.log.*")
    rotated: list[bytes] = []       # full contents of rotated files
    n_rot = 0
    for op, arg in ops:
        if op == "append":
            _append(log, arg.encode())
        elif op == "poll":
            src.poll()
        elif op == "rotate":
            n_rot += 1
            data = open(log, "rb").read()
            rotated.append(data)
            os.rename(log, str(tmp / f"app.log.{n_rot}"))
            _touch(str(tmp / f"app.log.{n_rot}"))
            open(log, "wb").close()
            _touch(log)
        else:                       # restart
            src = TailFileSource(log, src.spool_dir,
                                 rolling_pattern="app.log.*",
                                 state_path=src.state_path)
    src.poll()
    src.poll()                      # second pass settles rollovers
    cur = open(log, "rb").read()
    expected = b"".join(rotated) + cur[:_complete_prefix(cur)]
    got = "".join(r["content"] for r in _chunks(src)).encode()
    assert got == expected, (ops, got, expected)


def test_gate_rollover_row_matches_oracle_off_tens(spark, tmp_path):
    """The gate row and its DuckDB oracle agree when the events table's
    row count is not a multiple of 10: the five phases then cover fewer
    than all rows, and the oracle must not fold the leftovers into the
    last chunk."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    ids = pa.array(range(7, 7 + 3 * 997, 3), pa.int64())
    pq.write_table(pa.table({"event_id": ids}),
                   str(tmp_path / "events.parquet"))
    got = (E.queries()["tail_file_rollover"](spark, str(tmp_path))
           .toPandas().sort_values("batch_id"))
    con = duckdb.connect()
    con.sql(f"create view events as select * from "
            f"'{tmp_path / 'events.parquet'}'")
    want = (con.sql(E.oracle_sql()["tail_file_rollover"]).df()
            .sort_values("batch_id"))
    assert list(got.columns) == list(want.columns)
    assert (got.astype(str).values.tolist()
            == want.astype(str).values.tolist())
