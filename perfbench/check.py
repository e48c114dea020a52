"""Output checks written without engine code.

Query results are reduced to a row count and an order-insensitive hash
of canonical row strings; flattened output directories are compared with
the counts and headers the corpus generator recorded.
"""

from __future__ import annotations

import csv
import datetime as _dt
import decimal
import hashlib
import math
import os
import sqlite3


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        x = float(v)
        if not math.isfinite(x):
            return str(x)
        if x == int(x) and abs(x) < 2**53:
            return str(int(x))
        return f"{x:.9g}"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (_dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def row_digest(rows) -> tuple[int, str]:
    """(row count, hex hash) of an iterable of row tuples.  Columns are
    taken in the given order; rows are summed mod 2**64, so row order does
    not matter and duplicate rows still count."""
    n = 0
    acc = 0
    for row in rows:
        line = "\x1f".join(_canon(v) for v in row)
        acc = (acc + int.from_bytes(
            hashlib.blake2b(line.encode(), digest_size=8).digest(), "big"
        )) % 2**64
        n += 1
    return n, f"{acc:016x}"


def sorted_columns_rows(columns: list[str], rows) -> list[tuple]:
    """Reorder each row's cells by column name, so two engines that emit
    the same columns in a different order hash the same."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(r[i] for i in order) for r in rows]


def check_flatten_output(out_dir: str, counts: dict[str, int],
                         headers: dict[str, list[str]],
                         sqlite_path: str | None = None) -> list[str]:
    """Compare the CSV tables (and optionally the sqlite tables) under
    ``out_dir`` with the generator's counts; return the mismatches."""
    problems = []
    csv_dir = os.path.join(out_dir, "csv")
    for table, want in counts.items():
        path = os.path.join(csv_dir, f"{table}.csv")
        if not os.path.exists(path):
            problems.append(f"{table}.csv missing")
            continue
        with open(path, newline="") as f:
            reader = csv.reader(f)
            header = next(reader, [])
            rows = sum(1 for _ in reader)
        if header != headers[table]:
            problems.append(f"{table}.csv header {header} != {headers[table]}")
        if rows != want:
            problems.append(f"{table}.csv rows {rows} != {want}")
    if sqlite_path is not None:
        con = sqlite3.connect(sqlite_path)
        try:
            for table, want in counts.items():
                got = con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
                if got != want:
                    problems.append(f"sqlite {table} rows {got} != {want}")
        finally:
            con.close()
    return problems


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
