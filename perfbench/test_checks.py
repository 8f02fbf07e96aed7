"""Each output check of the benchmark accepts a matching result and rejects
a perturbed one; job attribution gives every job exactly one owner.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402
import tracing  # noqa: E402

ROWS = [(1, "a", 0.1 + 0.2, dt.datetime(2024, 1, 1)), (2, "b", None, None)]
COLS = ["id", "name", "x", "ts"]


def test_query_result_matches_its_oracle_twin():
    con = duckdb.connect()
    con.register("events", datagen.events_table(np.random.default_rng(3), 0, 500))
    cur = con.execute(
        "SELECT event_type, count(*) AS n, max(value) AS top "
        "FROM events GROUP BY event_type"
    )
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    expected = checks.digest(cols, rows)
    # Another row order and column order is the same result.
    shuffled = [tuple(reversed(r)) for r in reversed(rows)]
    assert checks.compare_result(
        checks.digest(list(reversed(cols)), shuffled), expected) is None


@pytest.mark.parametrize(
    "perturb",
    [
        lambda c, r: (c, r[:-1]),  # a row missing
        lambda c, r: (c, r + [r[0]]),  # a row duplicated
        lambda c, r: (c[:-1] + ["other"], r),  # a column renamed
        lambda c, r: (c, [(r[0][0] + 1,) + r[0][1:]] + r[1:]),  # one value
        lambda c, r: (c, [r[0][:2] + (np.nextafter(r[0][2], 1.0),) + r[0][3:]]
                      + r[1:]),  # one float, last bit
    ],
)
def test_query_check_rejects_a_perturbed_expectation(perturb):
    got = checks.digest(COLS, ROWS)
    cols, rows = perturb(list(COLS), list(ROWS))
    assert checks.compare_result(got, checks.digest(cols, rows)) is not None


def _table(values):
    return pa.table({
        "event_id": pa.array([1, 2, 3], pa.int64()),
        "ts": pa.array([0, 1, 2], pa.timestamp("us")),
        "value": pa.array(values, pa.float64()),
    })


def test_table_digest_ignores_row_order():
    a = _table([1.0, 2.0, 3.0])
    b = a.take([2, 0, 1])
    assert checks.compare_table(
        checks.table_digest(a), checks.table_digest(b), "x") is None


@pytest.mark.parametrize(
    "expected",
    [
        _table([1.0, 2.0, 3.5]),  # contents after a lost UPDATE
        _table([1.0, 2.0, 3.0]).slice(0, 2),  # a lost row (DELETE too much)
        _table([1.0, 2.0, 3.0]).rename_columns(["event_id", "ts", "v"]),
    ],
)
def test_contents_time_travel_and_compact_checks_reject(expected):
    # The same comparison serves the per-cycle contents check, the time
    # travel check and the compaction check.
    got = checks.table_digest(_table([1.0, 2.0, 3.0]))
    assert checks.compare_table(
        got, checks.table_digest(expected), "time travel") is not None


def test_head_advance():
    assert checks.check_head_advance([1, 2], [1, 2, 3], 3) is None
    assert checks.check_head_advance([1, 2], [1, 2], 2) is not None
    assert checks.check_head_advance([1, 2], [1, 2, 3, 4], 4) is not None
    assert checks.check_head_advance([1, 2], [1, 2, 3], 2) is not None


def test_noop_delete():
    assert checks.check_noop([1, 2], [1, 2], 5, 5) is None
    assert checks.check_noop([1, 2], [1, 2, 3], 5, 5) is not None
    assert checks.check_noop([1, 2], [1, 2], 5, 6) is not None


def test_counts():
    assert checks.check_counts(10, 10, 10) is None
    assert checks.check_counts(10, 10, 11) is not None
    assert checks.check_counts(11, 10, 10) is not None


def test_every_job_has_one_owner():
    ops = [
        {"id": 0, "start": 10.0, "built": 10.5, "end": 11.0, "layer": "x",
         "kind": "q"},
        {"id": 1, "start": 12.0, "built": 12.1, "end": 13.0, "layer": "x",
         "kind": "q"},
    ]
    jobs = [
        {"id": i, "submit": t, "end": t + 0.1, "task_s": 0.1}
        for i, t in enumerate([1.0, 10.2, 10.9, 11.5, 12.5, 14.0])
    ]
    owner = tracing.assign_jobs(jobs, ops, 10.0)
    assert [owner[j["id"]] for j in jobs] == [
        "setup", 0, 0, "check", 1, "check"]


def test_union_counts_overlap_once():
    assert tracing.union_s([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
