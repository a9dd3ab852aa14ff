"""The benchmark's correctness check must reject a wrong table.

Runs without Spark: the generator and the DuckDB reference are plain
Python, and a small last-writer-wins replay here stands in for the engine.

    python3 -m pytest cdcbench/tests -q
"""

from __future__ import annotations

import hashlib
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
from reference import BASE_COLUMNS, Reference  # noqa: E402

BOUND = 5_999


def replay(log: pa.Table, bound: int) -> pa.Table:
    """The table ``engine_digest`` would return for a correct engine."""
    state: dict[tuple[str, str], dict] = {}
    for r in log.to_pylist():
        if r["lsn"] > bound:
            break
        if r["op"] not in gen.VALID_OPS or r["repo"] is None or r["path"] is None:
            continue
        key = (r["repo"], r["path"])
        if r["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = r
    rows = [{"repo": r["repo"], "path": r["path"], "commit": r["commit"],
             "lang": r["lang"],
             "h": hashlib.sha256(r["content"].encode()).hexdigest(),
             "extras_set": 0} for r in state.values()]
    return pa.Table.from_pylist(rows)


@pytest.fixture(scope="module")
def case(tmp_path_factory):
    log = gen.gen_changelog(7, 8_000, live_from=2_000, ddl_every=2_000,
                            ddl_phase=500)
    d = tmp_path_factory.mktemp("log")
    path, _ = gen.land(log, -1, log.column("lsn")[-1].as_py(), str(d),
                       "all.parquet")
    ref = Reference([path])
    yield log, ref
    ref.close()


def test_check_passes_on_a_correct_table(case):
    log, ref = case
    assert ref.compare(replay(log, BOUND), ref.columns(BOUND), BOUND) == []


def test_check_fails_on_a_dropped_row(case):
    log, ref = case
    table = replay(log, BOUND)
    dropped = table.slice(1)
    problems = ref.compare(dropped, ref.columns(BOUND), BOUND)
    assert problems and "differ" in problems[0]


def test_check_fails_on_a_changed_content_hash(case):
    log, ref = case
    table = replay(log, BOUND)
    h = table.column("h").to_pylist()
    h[0] = "0" * 64
    changed = table.set_column(table.schema.get_field_index("h"), "h",
                               pa.array(h))
    assert ref.compare(changed, ref.columns(BOUND), BOUND)


def test_check_fails_on_a_missing_ddl_column(case):
    log, ref = case
    columns = ref.columns(BOUND)
    assert len(columns) > len(BASE_COLUMNS)   # the log carries DDL
    assert ref.compare(replay(log, BOUND), columns[:-1], BOUND)


def test_generator_emits_the_edge_cases(case):
    log, ref = case
    ops = log.column("op").to_pylist()
    lsns = log.column("lsn").to_pylist()
    assert "schema_change" in ops
    assert ref.count([(1_999, 7_999)], poison=True) > 0
    assert len(lsns) > len(set(lsns))            # redeliveries
    assert lsns == sorted(lsns)                  # LSN-ordered
    assert gen.gen_changelog(7, 8_000, live_from=2_000, ddl_every=2_000,
                             ddl_phase=500).equals(log)
