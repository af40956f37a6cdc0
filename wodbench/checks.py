"""Output checks. Each returns a count of mismatches; the benchmark adds
every mismatching operation to ``failed``. Expectations come from the
generator's plan or a brute-force replay, never from the program."""

from __future__ import annotations

import functools
import glob
import hashlib
import json
import math
from collections import Counter
from decimal import Decimal

from gen import RECORD_COLS


def row_diff(expected, actual) -> int:
    """Rows in one multiset and not the other (0 = equal)."""
    e, a = Counter(expected), Counter(actual)
    return sum(((e - a) + (a - e)).values())


# ------------------------------------------------------------ wod_ingest


def read_jsonl_records(path: str) -> list[tuple]:
    out = []
    for part in sorted(glob.glob(f"{path}/**/*.json", recursive=True)):
        with open(part) as f:
            for line in f:
                row = json.loads(line)
                out.append(tuple(row.get(c, "") for c in RECORD_COLS))
    return out


# ------------------------------------------------------------ cdc_stream


def _desc_nulls_last(a, b) -> int:
    if a == b:
        return 0
    if a is None:
        return 1
    if b is None:
        return -1
    return -1 if a > b else 1


def _change_order(x: tuple, y: tuple) -> int:
    # seq first, then every other column in batch order (op, status, val,
    # cust), each DESC NULLS LAST: the total order cdc_apply documents
    for i in (2, 1, 3, 4, 5):
        c = _desc_nulls_last(x[i], y[i])
        if c:
            return c
    return 0


def cdc_replay(table: dict, batch: list[tuple]) -> dict:
    """Apply one change batch to ``table`` (k -> (status, val, cust)) in
    place, by brute force; returns the merge stats it implies."""
    winners: dict[int, tuple] = {}
    for row in sorted((r for r in batch if r[0] is not None), key=functools.cmp_to_key(_change_order)):
        winners.setdefault(row[0], row)
    stats = {"matched": 0, "inserted": 0, "deleted": 0}
    for k, (_, op, _, status, val, cust) in winners.items():
        present = k in table
        if op == "D":
            if present:
                del table[k]
                stats["deleted"] += 1
        else:
            stats["matched" if present else "inserted"] += 1
            table[k] = (status, val, cust)
    return stats


def table_rows(table: dict) -> list[tuple]:
    return [(k, *v) for k, v in table.items()]


# ----------------------------------------------------------- query_sweep


def _canon(v) -> str:
    """One value in an engine-neutral text form: floats to 6 places,
    integers as floats (a nullable integer can arrive as float64), dates
    and timestamps as ISO text, lists element-wise."""
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if hasattr(v, "asDict"):  # a Spark struct; DuckDB returns structs as dicts
        v = v.asDict()
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return f"{float(v):.6f}" if abs(v) < 10**15 else str(v)
    if isinstance(v, float):
        if not math.isfinite(v):
            return str(v)
        if v == 0:
            return "0.000000"
        return f"{v:.6f}" if abs(v) < 1e15 else f"{v:.6e}"
    if hasattr(v, "isoformat"):
        text = v.isoformat(sep=" ") if hasattr(v, "hour") else v.isoformat()
        return text.removesuffix(" 00:00:00")
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items(), key=str)) + "}"
    return str(v)


def result_digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result; columns are
    matched by name, so column order does not matter either."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(sorted(columns)).encode())
    for line in canon:
        h.update(line.encode() + b"\n")
    return len(canon), h.hexdigest()
