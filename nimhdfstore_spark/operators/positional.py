"""Positional read algebra → ``_rowid`` predicates.

The reference's entire query surface is positional (SURVEY §2.2): point read
(nimtables.nim:149-152), backwards index (:154-157), inclusive slice
(:159-171), strided hyperslab (nimhdf5/datasets.nim:1601-1645), and explicit
coordinate sets (datasets.nim:806-860). Each compiles here to a Catalyst
predicate on the ``_rowid`` column; because store tables are written sorted by
``_rowid``, these predicates push down to Parquet row-group min/max pruning —
the exact analog of HDF5 reading only the chunks intersecting a selection.

All functions are pure and never collect. Each predicate takes the
``_rowid`` values ``r`` it tests: by default the Spark column, giving a
``Column``; or a numpy array of positions, giving a boolean mask (the store's
driver reader, ``Table._read_local``). Positions are integers, so one
definition is exact for both. Negative indices follow the reference's
BackwardsIndex semantics (``^k`` = ``nrecords - k``) and need the caller to
supply ``nrows``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID


def _resolve(i: int, nrows: int) -> int:
    """Python-style negative index → absolute position (reference ``^k``)."""
    return i + nrows if i < 0 else i


def _rowids(r):
    """The ``_rowid`` values a predicate tests: the Spark column by default."""
    return F.col(ROWID) if r is None else r


def point(i: int, nrows: int, r=None):
    """Single row at position ``i`` (P1/P2, nimtables.nim:149-157)."""
    return _rowids(r) == _resolve(i, nrows)


def slice_range(a: int, b: int, nrows: int, r=None):
    """Inclusive slice ``a..b`` (P3, nimtables.nim:159-171)."""
    r = _rowids(r)
    return (r >= _resolve(a, nrows)) & (r <= _resolve(b, nrows))


def hyperslab(
    offset: int,
    count: int,
    stride: int = 1,
    block: int = 1,
    r=None,
):
    """Strided rectangular selection on the row axis (P4).

    Mirrors HDF5's (offset, count, stride, block) 1-D hyperslab
    (nimhdf5/datasets.nim:1371-1448): ``count`` blocks of ``block`` rows,
    block starts ``stride`` apart, beginning at ``offset``.
    """
    if block > stride:
        raise ValueError("hyperslab block must be <= stride")
    r = _rowids(r)
    upper = offset + (count - 1) * stride + block
    return (r >= offset) & (r < upper) & (((r - offset) % stride) < block)


def element_set(coords: Sequence[int], nrows: int, r=None):
    """Explicit coordinate-set selection (P5, nimhdf5/datasets.nim:806-860)."""
    resolved = [_resolve(int(c), nrows) for c in coords]
    r = _rowids(r)
    if isinstance(r, Column):
        return r.isin(resolved)
    import numpy as np

    return np.isin(r, resolved)


def read_as(df: DataFrame, casts: dict[str, str], keep_rowid: bool = True) -> DataFrame:
    """Type-cast projection (P9, nimhdf5/datasets.nim:775-804,922-971)."""
    cols = []
    if keep_rowid and ROWID in df.columns:
        cols.append(F.col(ROWID))
    for name, dtype in casts.items():
        cols.append(F.col(name).cast(dtype).alias(name))
    return df.select(*cols)
