"""Correctness gate: the committed icelite table against the generator's
goldens, read through the table's HEAD manifest with pyarrow (no Spark
job, so the gate never shows up in the event log or a timer)."""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from ocr_spark.sources.icelite import IceliteTable


def table_rows(table: IceliteTable) -> tuple[dict, int]:
    """(key -> (text, error), number of rows) at the table's HEAD."""
    head = table.snapshot()
    if head is None:
        return {}, 0
    paths = [os.path.join(table.root, p) for ps in head.files.values() for p in ps]
    if not paths:
        return {}, 0
    t = pq.read_table(paths, columns=[table.key_col, "text", "error"])
    keys = t.column(table.key_col).to_pylist()
    rows = dict(zip(keys, zip(t.column("text").to_pylist(), t.column("error").to_pylist())))
    return rows, len(keys)


def check(rows: dict, n_rows: int, golden: dict, limit: int = 5) -> list[str]:
    """Mismatches of a table against ``golden`` (key -> (text, error)):
    exactly one row per generated key, text byte-identical, error equal."""
    problems: list[str] = []
    if n_rows != len(rows):
        problems.append(f"{n_rows - len(rows)} duplicate key rows")
    missing = golden.keys() - rows.keys()
    extra = rows.keys() - golden.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    for key, want in golden.items():
        got = rows.get(key)
        if got is not None and got != want:
            problems.append(
                f"{key!r}: got (text[{len(got[0] or '')}], {got[1]!r}), "
                f"want (text[{len(want[0])}], {want[1]!r})"
            )
            if len(problems) >= limit:
                break
    return problems
