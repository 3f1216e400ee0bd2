"""In-memory model of one positional table, used to check store outputs.

The model holds the table's rows in canonical order as an Arrow table; a
row's position is its index, which is what the store calls ``_rowid``. Every
mutation the benchmark sends to the store is replayed here, and every read is
answered here too, so a read result from the store can be compared row for
row with the model's answer.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
import pyarrow.compute as pc

ROWID = "_rowid"


class PositionalModel:
    def __init__(self, rows: pa.Table) -> None:
        if ROWID in rows.column_names:
            rows = rows.drop_columns([ROWID])
        self.rows = rows

    @classmethod
    def from_source(cls, source: pa.Table, order_by: Sequence[str]) -> "PositionalModel":
        """Canonical order of ``source`` under ``order_by`` (a stable sort)."""
        return cls(source.sort_by([(c, "ascending") for c in order_by]))

    @property
    def nrows(self) -> int:
        return self.rows.num_rows

    @property
    def nbytes(self) -> int:
        """Arrow bytes of the live rows."""
        return self.rows.nbytes

    # -- mutations ----------------------------------------------------------

    def _splice(self, a: int, b: int, new: pa.Table | None) -> None:
        """Replace positions ``a..b-1`` with ``new`` (which may be empty)."""
        parts = [self.rows.slice(0, a)]
        if new is not None and new.num_rows:
            parts.append(new.select(self.rows.column_names).cast(self.rows.schema))
        parts.append(self.rows.slice(b))
        self.rows = pa.concat_tables(parts).combine_chunks()

    def append(self, new: pa.Table) -> None:
        self._splice(self.nrows, self.nrows, new)

    def insert(self, i: int, new: pa.Table) -> None:
        self._check(i, self.nrows)
        self._splice(i, i, new)

    def update(self, i: int, new: pa.Table) -> None:
        self._check(i, self.nrows - new.num_rows)
        self._splice(i, i + new.num_rows, new)

    def delete(self, a: int, b: int) -> None:
        """Delete the inclusive range ``a..b``; later rows shift down."""
        self._check(a, b)
        self._check(b, self.nrows - 1)
        self._splice(a, b + 1, None)

    #: a deferred delete changes what readers see exactly like a delete
    delete_deferred = delete

    def compact(self) -> None:
        """Physical re-layout only: the logical rows do not change."""

    def build_bloom(self, column: str) -> None:
        """An index over the rows; the rows do not change."""

    @staticmethod
    def _check(i: int, hi: int) -> None:
        if not 0 <= i <= hi:
            raise IndexError(f"position {i} outside 0..{hi}")

    # -- reads: rows with their positions, ordered by position ---------------

    def _take(self, positions: Sequence[int]) -> pa.Table:
        idx = pa.array(positions, pa.int64())
        return self.rows.take(idx).append_column(ROWID, idx)

    def row(self, i: int) -> pa.Table:
        return self._take([i])

    def slice(self, a: int, b: int) -> pa.Table:
        return self._take(range(a, min(b, self.nrows - 1) + 1))

    def hyperslab(self, offset: int, count: int, stride: int = 1, block: int = 1) -> pa.Table:
        pos = [
            offset + k * stride + j
            for k in range(count) for j in range(block)
            if offset + k * stride + j < self.nrows
        ]
        return self._take(pos)

    def elements(self, coords: Sequence[int]) -> pa.Table:
        return self._take(sorted(set(coords)))

    def lookup_eq(self, column: str, value) -> pa.Table:
        mask = pc.equal(self.rows.column(column), value)
        return self._take(pc.indices_nonzero(mask).to_pylist())

    def scan_between(self, column: str, lo, hi) -> pa.Table:
        col = self.rows.column(column)
        mask = pc.and_(pc.greater_equal(col, lo), pc.less_equal(col, hi))
        return self._take(pc.indices_nonzero(mask).to_pylist())


def as_rows(table: pa.Table, columns: Sequence[str]) -> list[tuple]:
    """Rows of ``table`` as tuples over ``columns``, sorted by position."""
    data = table.select(list(columns)).to_pylist()
    out = [tuple(r[c] for c in columns) for r in data]
    return sorted(out, key=lambda r: r[columns.index(ROWID)])
