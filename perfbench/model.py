"""Driver-side oracle: the expected contents of every table the benchmark
writes, kept as plain Python rows and checked against what the engine
returns. A mismatch is a failed op; it is never skipped."""

from __future__ import annotations

from typing import Dict, Iterable, List, Optional, Tuple

import numpy as np
import pyarrow as pa


def table_rows(table: pa.Table) -> List[tuple]:
    return list(zip(*(table[c].to_pylist() for c in table.column_names)))


class TableModel:
    """Rows by primary key, with the column order of the source table."""

    def __init__(self, table: pa.Table, key: str):
        self.key = key
        self.columns = table.column_names
        self.schema = table.schema
        self.key_pos = self.columns.index(key)
        self.rows: Dict[int, tuple] = {r[self.key_pos]: r for r in table_rows(table)}
        self._arrays: Optional[Dict[str, np.ndarray]] = None

    def col(self, name: str) -> int:
        return self.columns.index(name)

    def put(self, table: pa.Table) -> None:
        for r in table_rows(table.select(self.columns)):
            self.rows[r[self.key_pos]] = r
        self._arrays = None

    def delete(self, keys: Iterable[int]) -> None:
        for k in keys:
            self.rows.pop(int(k), None)
        self._arrays = None

    def get(self, keys: Iterable[int]) -> Dict[int, tuple]:
        return {int(k): self.rows[int(k)] for k in keys
                if int(k) in self.rows}

    def arrays(self) -> Dict[str, np.ndarray]:
        """Numeric columns as arrays, for range and aggregate checks."""
        if self._arrays is None:
            rows = list(self.rows.values())
            self._arrays = {
                c: np.array([r[i] for r in rows], dtype=np.int64)
                for i, c in enumerate(self.columns)
                if pa.types.is_integer(self.schema.field(c).type)
            }
        return self._arrays

    def to_table(self) -> pa.Table:
        rows = [self.rows[k] for k in sorted(self.rows)]
        return pa.table({c: [r[i] for r in rows]
                         for i, c in enumerate(self.columns)},
                        schema=self.schema)

    def checksum(self) -> Tuple[int, int]:
        """(row count, sum of every integer column): what a time-travel
        read at this version must reproduce."""
        a = self.arrays()
        return len(self.rows), int(sum(int(v.sum()) for v in a.values()))


def same_rows(result: pa.Table, model: TableModel,
              expected: Dict[int, tuple]) -> bool:
    got = table_rows(result.select(model.columns))
    return len(got) == len(expected) and \
        {r[model.key_pos]: r for r in got} == expected


def group_totals(model: TableModel, rows: Iterable[tuple], by: List[str],
                 value: str) -> Dict[tuple, Tuple[int, int]]:
    """GROUP BY ``by`` over ``rows`` (in ``model``'s column order):
    (count, sum of ``value``) per group."""
    idx = [model.col(c) for c in by]
    vi = model.col(value)
    out: Dict[tuple, list] = {}
    for r in rows:
        g = out.setdefault(tuple(r[i] for i in idx), [0, 0])
        g[0] += 1
        g[1] += r[vi]
    return {k: (c, s) for k, (c, s) in out.items()}
