"""Output checks. Each returns ``None`` when the actual result matches the
expected one and a one-line reason when it does not, so a run can report
every mismatch and the tests can feed each check a wrong expectation.

Results compare the way the engine's correctness harness compares them:
columns matched by sorted name, rows order-insensitively, floats bit-exact.
"""

from __future__ import annotations

import decimal
import hashlib
import math

import numpy as np
import pandas as pd
import pyarrow as pa


def canon(v):
    """One cell in a form both engines' values agree on."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # a Spark struct Row
        return tuple(canon(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, np.generic):
        return canon(v.item())
    return v


def digest(cols: list[str], rows: list) -> tuple[int, list[str], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    names = sorted(cols)
    idx = [list(cols).index(c) for c in names]
    canon_rows = sorted(repr(tuple(canon(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256("\n".join(canon_rows).encode()).hexdigest()
    return len(rows), names, h


def compare_result(actual: tuple, expected: tuple) -> str | None:
    """Compare two ``digest`` triples."""
    (an, acols, ah), (en, ecols, eh) = actual, expected
    if acols != ecols:
        return f"schema {acols} != expected {ecols}"
    if an != en:
        return f"row count {an} != expected {en}"
    if ah != eh:
        return "values differ (order-insensitive hash)"
    return None


def table_digest(table: pa.Table) -> tuple[int, list[str], int]:
    """(row count, sorted column names, order-insensitive hash) of a whole
    table, vectorised for tables too large to compare row by row:
    timestamps hash as integer microseconds, and the per-row hashes sum
    modulo 2**64 so row order does not matter."""
    names = sorted(table.column_names)
    cols = {}
    for name in names:
        col = table.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        cols[name] = col.to_pandas()
    frame = pd.DataFrame(cols, columns=names)
    h = pd.util.hash_pandas_object(frame, index=False).to_numpy(np.uint64)
    return table.num_rows, names, int(h.sum(dtype=np.uint64))


def compare_table(actual: tuple, expected: tuple, what: str) -> str | None:
    reason = compare_result(actual, expected)
    return None if reason is None else f"{what}: {reason}"


def check_head_advance(
    before: list[int], after: list[int], returned
) -> str | None:
    """A committing operation adds exactly one snapshot, and it is the one
    the operation returned."""
    new = sorted(set(after) - set(before))
    if len(new) != 1 or len(after) != len(before) + 1:
        return f"head moved by {len(new)} snapshots, expected 1"
    if returned != new[0]:
        return f"returned snapshot {returned} but committed {new[0]}"
    return None


def check_noop(
    before: list[int], after: list[int], files_before: int, files_after: int
) -> str | None:
    """A DELETE that matches nothing commits nothing and adds no live
    file."""
    if after != before:
        return f"no-op DELETE changed snapshots {before[-3:]} -> {after[-3:]}"
    if files_after != files_before:
        return f"no-op DELETE changed live files {files_before} -> {files_after}"
    return None


def check_counts(meta: int, scanned: int, oracle: int) -> str | None:
    """The metadata row count, the scanned count and the oracle agree."""
    if not meta == scanned == oracle:
        return f"count_rows {meta}, scanned {scanned}, oracle {oracle}"
    return None
