"""SparseFrame — labeled 2-D sparse numeric table on Spark DataFrames.

Re-expresses the query surface of the reference's ``SparseFrame``
(reference sparse_frame.py) with a Spark-first physical design:

* ``cells``  — long/COO DataFrame ``(key_cols..., col: string, value: double)``,
  one row per *stored* cell.  Absent cell == implicit 0.0.
* ``index``  — DataFrame of the frame's row labels (``key_cols...`` plus an
  optional hidden ``__pos__`` position column when a stable row order is
  known).  Carries rows whose cells are all zero and defines N for the
  dense-denominator statistics (reference sparse_frame.py:146-150).
* ``columns`` — small driver-side ordered list of column labels, the analog
  of the reference's ``_columns`` pandas Index.  Preserves category order
  for one-hot (reference sparse_frame.py:567-601), projection order
  (reference sparse_frame.py:460-467), and all-zero columns that a pure
  long format would lose.

Everything stays a lazy DataFrame until ``todense()`` / ``collect`` —
Catalyst replaces the reference's eager index algebra (its sentinel-row
outer-align, reference sparse_frame.py:519-552, becomes outer join +
``coalesce(value, 0)``; its sparse-matmul group-by, reference
sparse_frame.py:228-230, becomes one hash aggregate over the long rows,
which has the same work-proportional-to-nnz asymptotics and gets
map-side partial aggregation for free).
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable, Iterable, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

POS = "__pos__"  # hidden position column (stable row order, when known)
COL = "col"
VAL = "value"


def _as_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, (list, tuple)):
        return list(x)
    return [x]


class SparseFrame:
    """A labeled sparse numeric matrix backed by lazy Spark DataFrames."""

    def __init__(
        self,
        cells: DataFrame,
        key_cols: Sequence[str],
        columns: Sequence[str],
        index: DataFrame | None = None,
    ):
        self.key_cols = list(key_cols)
        self.columns = [str(c) for c in columns]
        expected = self.key_cols + [COL, VAL]
        missing = [c for c in expected if c not in cells.columns]
        if missing:
            raise ValueError(f"cells missing columns {missing}; has {cells.columns}")
        # cells may carry the hidden position column, which disambiguates
        # duplicate row labels (legal in the reference, test_sparse_frame.py:508)
        pos_cols = [POS] if POS in cells.columns else []
        self._cells = cells.select(
            *self.key_cols,
            *pos_cols,
            F.col(COL).cast("string").alias(COL),
            F.col(VAL).cast("double").alias(VAL),
        )
        if index is not None:
            keep = [c for c in self.key_cols + [POS] if c in index.columns]
            index = index.select(*keep)
        self._index = index

    # ------------------------------------------------------------------ #
    # basic properties                                                   #
    # ------------------------------------------------------------------ #

    @property
    def loc(self):
        """Label indexer: scalar / list / stop-inclusive slice / bool mask
        (reference indexing.py:3-11)."""
        from sparsity_spark.indexing import LocIndexer

        return LocIndexer(self)

    @property
    def iloc(self):
        """Positional indexer: int / list / python slice
        (reference indexing.py:13-21)."""
        from sparsity_spark.indexing import IlocIndexer

        return IlocIndexer(self)

    @property
    def data(self) -> DataFrame:
        """The long/COO cell DataFrame (public analog of reference ``.data``,
        reference sparse_frame.py:189-193 — already sans sentinel row, which
        this engine never needs)."""
        return self._cells

    @property
    def index(self) -> DataFrame:
        """Row-label DataFrame. Derived from cells (distinct keys) when not
        explicitly tracked; explicit when the frame knows about all-zero rows
        or a stable row order."""
        if self._index is None:
            return self._cells.select(*self.key_cols).distinct()
        return self._index

    @property
    def has_pos(self) -> bool:
        return self._index is not None and POS in self._index.columns

    @property
    def cells_have_pos(self) -> bool:
        return POS in self._cells.columns

    def _bare_cells(self) -> DataFrame:
        """Cells without the hidden position column."""
        return self._cells.select(*self.key_cols, COL, VAL)

    def spark(self):
        return self._cells.sparkSession

    @property
    def shape(self) -> tuple[int, int]:
        return (self.index.count(), len(self.columns))

    @property
    def ndim(self) -> int:
        return 2

    @property
    def empty(self) -> bool:
        return len(self.columns) == 0 or self.index.isEmpty()

    def nnz(self) -> int:
        """Stored-cell count (reference sparse_frame.py:162-163)."""
        return self._cells.filter(F.col(VAL) != 0.0).count()

    def copy(self) -> "SparseFrame":
        # DataFrames are immutable; copying is metadata-only
        # (reference sparse_frame.py:158-161 deep-copies scipy data).
        return SparseFrame(self._cells, self.key_cols, self.columns, self._index)

    # ------------------------------------------------------------------ #
    # projection / selection                                             #
    # ------------------------------------------------------------------ #

    def __getitem__(self, item) -> "SparseFrame":
        """Column projection preserving requested order
        (reference sparse_frame.py:460-467)."""
        names = [str(c) for c in _as_list(item)]
        unknown = [c for c in names if c not in self.columns]
        if unknown:
            raise KeyError(f"columns not found: {unknown}")
        cells = self._cells.filter(F.col(COL).isin(names))
        return SparseFrame(cells, self.key_cols, names, self._index)

    def rename(self, columns: Callable[[str], str]) -> "SparseFrame":
        """Map a callable over column labels (reference sparse_frame.py:290-300)."""
        mapping = {c: str(columns(c)) for c in self.columns}
        expr = F.col(COL)
        for old, new in mapping.items():
            if old != new:
                expr = F.when(F.col(COL) == old, F.lit(new)).otherwise(expr)
        cells = self._cells.withColumn(COL, expr)
        return SparseFrame(cells, self.key_cols, [mapping[c] for c in self.columns], self._index)

    def assign(self, **kwargs) -> "SparseFrame":
        """Append new scalar-broadcast columns (reference sparse_frame.py:423-436).
        Assigning to an existing column raises, matching the reference's
        ``NotImplementedError`` contract (reference sparse_frame.py:449-450)."""
        out = self
        for name, value in kwargs.items():
            out = out._add_scalar_col(str(name), float(value))
        return out

    def _add_scalar_col(self, name: str, value: float) -> "SparseFrame":
        if name in self.columns:
            raise NotImplementedError("assigning to an existing column is not supported")
        carry = [POS] if (self.cells_have_pos and self.has_pos) else []
        cells = self._cells if carry else self._bare_cells()
        new_rows = self.index.select(
            *self.key_cols,
            *carry,
            F.lit(name).alias(COL),
            F.lit(value).cast("double").alias(VAL),
        )
        return SparseFrame(
            cells.unionByName(new_rows), self.key_cols, self.columns + [name], self._index
        )

    def __setitem__(self, key, value):
        raise NotImplementedError(
            "SparseFrame is immutable on Spark; use .assign(name=scalar) which returns a new frame"
        )

    def set_index(
        self,
        keys: str | Sequence[str] | None = None,
        level: int | None = None,
        column: str | None = None,
        idx=None,
    ) -> "SparseFrame":
        """Re-key the frame (reference sparse_frame.py:476-494).

        * ``level=i`` keeps only the i-th key column of a composite key.
        * ``keys=[...]`` re-keys to any subset/reorder of current key columns.
        * ``column=name`` re-keys from a DATA column's (densified) values —
          rows without a stored cell in that column get key 0.0, mirroring
          the reference's dense materialization of the column.
        * ``idx=array`` re-keys positionally from an explicit array
          (reference sparse_frame.py:476-486: row i gets ``idx[i]``) — row
          order is the tracked position when known, else the sorted key
          order. Driver-sized by construction (the caller holds the array),
          like the reference; the single global row_number window here is
          bounded by len(idx).
        """
        if idx is not None:
            vals = list(idx)
            pos_join = self.has_pos and self.cells_have_pos
            if pos_join:
                n = self.index.count()
            else:
                # without a position column the cells join on key labels
                # alone — duplicate labels would fan every cell out to every
                # new index value assigned to that label, silently diverging
                # from the reference's strict row-i-gets-idx[i] assignment
                # (ADVICE r3). Detect and fail loudly below.
                n, n_distinct = self._label_counts(self.index)
            if len(vals) != n:
                raise AssertionError(f"len(idx)={len(vals)} != nrows={n}")
            if not pos_join and n_distinct != n:
                raise ValueError(
                    f"set_index(idx=) on a frame without row positions "
                    f"requires unique index labels ({n - n_distinct} "
                    f"duplicates found) — call drop_duplicate_idx() "
                    f"first, or build the frame with position tracking"
                )
            spark = self._cells.sparkSession
            # temp name avoids collision with an existing key named "idx"
            new_map = spark.createDataFrame(
                pd.DataFrame({"__ord__": range(len(vals)), "__newidx__": vals})
            )
            order_cols = [POS] if self.has_pos else self.key_cols
            w = Window.orderBy(*[F.col(c) for c in order_cols])
            old = self.index.withColumn("__ord__", F.row_number().over(w) - 1)
            keyed = old.join(F.broadcast(new_map), on="__ord__").drop("__ord__")
            join_on = self.key_cols + ([POS] if pos_join else [])
            pos_cols = [POS] if pos_join else []
            cells = (
                self._cells.join(keyed.select(*join_on, "__newidx__"), on=join_on, how="inner")
                .select(F.col("__newidx__").alias("idx"), *pos_cols, COL, VAL)
            )
            new_idx = keyed.select(
                F.col("__newidx__").alias("idx"), *([POS] if self.has_pos else [])
            )
            return SparseFrame(cells, ["idx"], self.columns, new_idx)
        if column is not None:
            if column not in self.columns:
                raise KeyError(f"{column!r} is not a frame column")
            # duplicate old labels (or coexisting duplicate cells in the
            # keyed column) would fan every remaining cell out to several
            # new keys through the join below — same hazard the idx= path
            # guards; merged cells make the per-label key value unique,
            # then distinct labels are still required
            n, n_distinct = self._label_counts(self.index)
            if n != n_distinct:
                raise ValueError(
                    f"set_index(column=) requires unique index labels "
                    f"({n - n_distinct} duplicates found) — call "
                    f"drop_duplicate_idx() first"
                )
            key_vals = (
                self._merged_bare_cells()
                .filter(F.col(COL) == column)
                .select(*self.key_cols, F.col(VAL).alias("__newkey__"))
            )
            idx = self.index
            if POS in idx.columns:
                idx = idx.drop(POS)
            keyed = idx.distinct().join(key_vals, on=self.key_cols, how="left")
            keyed = keyed.select(
                *self.key_cols,
                F.coalesce(F.col("__newkey__"), F.lit(0.0)).alias(column),
            )
            cells = (
                self._bare_cells()
                .filter(F.col(COL) != column)
                .join(keyed, on=self.key_cols, how="inner")
                .select(F.col(column), COL, VAL)
            )
            new_cols = [c for c in self.columns if c != column]
            new_idx = keyed.select(column)
            return SparseFrame(cells, [column], new_cols, new_idx)
        if level is not None:
            keys = [self.key_cols[level]]
        keys = _as_list(keys)
        unknown = [k for k in keys if k not in self.key_cols]
        if unknown:
            raise KeyError(f"not key columns: {unknown}")
        pos_cols = [POS] if self.cells_have_pos else []
        cells = self._cells.select(*keys, *pos_cols, COL, VAL)
        idx = None
        if self._index is not None:
            keep = keys + ([POS] if self.has_pos else [])
            idx = self._index.select(*keep)
        return SparseFrame(cells, keys, self.columns, idx)

    def _label_counts(self, index: DataFrame) -> tuple[int, int]:
        """(rows, distinct labels) of ``index`` from ONE aggregate: one
        group per label, then the groups' row sum and count. NULL labels
        form one group, so they count once, as under ``distinct()``."""
        row = (
            index.groupBy(*self.key_cols)
            .agg(F.count("*").alias("__rows__"))
            .agg(
                F.coalesce(F.sum("__rows__"), F.lit(0)).alias("n"),
                F.count("*").alias("n_distinct"),
            )
            .collect()[0]
        )
        return row["n"], row["n_distinct"]

    def dropna(self) -> "SparseFrame":
        """Drop rows whose row *label* is NULL (reference sparse_frame.py:469-474
        drops NaN index labels; cell values have no NULL semantics)."""
        pred = functools.reduce(operator.and_, [F.col(k).isNotNull() for k in self.key_cols])
        idx = self._index.filter(pred) if self._index is not None else None
        return SparseFrame(self._cells.filter(pred), self.key_cols, self.columns, idx)

    def drop_duplicate_idx(self) -> "SparseFrame":
        """Keep the *first* row per duplicated label (reference
        sparse_frame.py:454-458).  "First" needs an order: uses the hidden
        position column when present, else an arbitrary-but-deterministic
        representative via ``row_number`` ordered by the key itself."""
        if self.has_pos:
            if not self.cells_have_pos:
                # the index knows row order but the CELLS are unattributable
                # to a specific duplicate row — a leftsemi join on labels
                # would keep every duplicate's cells under the single kept
                # index row, i.e. silently SUM them instead of keeping the
                # first row's values. Allowed only when no duplicates exist.
                n, n_distinct = self._label_counts(self._index)
                if n != n_distinct:
                    raise ValueError(
                        "drop_duplicate_idx: this frame's index is ordered but "
                        "its cells carry no positions, so duplicate-label rows' "
                        "cells cannot be attributed to the first row — rebuild "
                        "via from_pandas/read_npz (position-tracked cells) or "
                        "express keep-first with an explicit row_number window"
                    )
                return self  # no duplicates: nothing to drop
            w = Window.partitionBy(*self.key_cols).orderBy(F.col(POS))
            keep = (
                self._index.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )
            cells = self._cells.join(keep.select(POS), on=POS, how="leftsemi")
            return SparseFrame(cells, self.key_cols, self.columns, keep)
        # Without a known row order "first" is undefined — and cells of
        # duplicate-label rows are indistinguishable in long format, so no
        # row can be reconstructed. Refuse loudly rather than silently
        # merging (the reference's frames are always ordered).
        raise ValueError(
            "drop_duplicate_idx needs a frame with a known row order "
            "(from_pandas / read_npz); for unordered frames express "
            "keep-first explicitly with a row_number window over your "
            "ordering column (see the p6_dedup_first query)"
        )

    # -- label-based selection (loc) ----------------------------------- #

    def loc_composite(self, key: Sequence) -> "SparseFrame":
        """One composite-key row lookup on a multi-level index:
        ``sf.loc[('u1', ts)]`` — equality on EVERY key level (the pandas
        MultiIndex scalar-tuple semantics)."""
        if len(key) != len(self.key_cols):
            raise ValueError(
                f"composite lookup needs {len(self.key_cols)} values, got {len(key)}"
            )
        pred = functools.reduce(
            operator.and_,
            [F.col(k) == F.lit(v) for k, v in zip(self.key_cols, key)],
        )
        idx = self._index.filter(pred) if self._index is not None else None
        return SparseFrame(self._cells.filter(pred), self.key_cols, self.columns, idx)

    def loc_in(self, values: Iterable, level: int = 0) -> "SparseFrame":
        """Label membership selection: ``sf.loc[['a','b']]``."""
        key = self.key_cols[level]
        vals = list(values)
        pred = F.col(key).isin(vals)
        idx = self._index.filter(pred) if self._index is not None else None
        return SparseFrame(self._cells.filter(pred), self.key_cols, self.columns, idx)

    def loc_range(self, start=None, stop=None, level: int = 0) -> "SparseFrame":
        """Label slice — **stop-inclusive**, matching pandas label slicing
        (reference tests test_sparse_frame.py:156-171).  Range predicates
        push down to parquet min/max stats, the Spark analog of the
        reference's sorted ``divisions`` pruning (reference dask/io.py:89-112)."""
        key = self.key_cols[level]

        def _lit(v):
            return v if isinstance(v, Column) else F.lit(v)

        pred = F.lit(True)
        if start is not None:
            pred = pred & (F.col(key) >= _lit(start))
        if stop is not None:
            pred = pred & (F.col(key) <= _lit(stop))
        idx = self._index.filter(pred) if self._index is not None else None
        return SparseFrame(self._cells.filter(pred), self.key_cols, self.columns, idx)

    def loc_mask(self, mask: Sequence[bool]) -> "SparseFrame":
        """Boolean-mask row selection (reference test_sparse_frame.py:438-443)
        — the mask is positional, so it requires a known row order; the
        driver-side mask joins against positions (small-frame path, like the
        reference's own use)."""
        self._require_pos()
        n = self.index.count()
        if len(mask) != n:
            raise IndexError(
                f"boolean mask has length {len(mask)} but the frame has "
                f"{n} rows (pandas raises here too)"
            )
        positions = [i for i, m in enumerate(mask) if m]
        return self.take(positions)

    # -- positional selection (iloc / take) ---------------------------- #

    def _require_pos(self):
        if not self.has_pos:
            raise ValueError(
                "positional selection needs a frame with a known row order "
                "(built via from_pandas / one_hot with order); label-based "
                "loc_* is the scalable path"
            )

    def _current_ranks(self) -> DataFrame:
        """Index with a ``__rank__`` column: the row's position WITHIN THIS
        frame (0-based). After row filtering, stored ``__pos__`` values stay
        absolute (they preserve order and identity); ranks re-number them.
        Numbering is distributed (range-sort + partition offsets via
        util.zip_with_position), never a single-task global window — the
        cost is one metadata-sized count job at plan-build time."""
        from sparsity_spark.util import zip_with_position

        return zip_with_position(self._index, [POS], "__rank__")

    def take(self, positions: Sequence[int], axis: int = 0) -> "SparseFrame":
        """Positional selection along rows (axis=0) or columns (axis=1)
        (reference sparse_frame.py:165-174). Positions are relative to the
        current frame, like pandas .take — driver-supplied list, intended
        for small frames. Negative positions count from the end (pandas
        semantics; one count job resolves them). Duplicate positions raise
        — a set-based filter cannot replicate rows."""
        if axis == 1:
            return self[[self.columns[int(p)] for p in positions]]
        self._require_pos()
        pos = [int(p) for p in positions]
        if any(p < 0 for p in pos):
            n = self.index.count()
            pos = [p if p >= 0 else n + p for p in pos]
            if any(p < 0 for p in pos):
                raise IndexError(f"position out of bounds for {n}-row frame")
        if len(set(pos)) != len(pos):
            raise ValueError(
                "take with repeated positions is not supported (row "
                "replication has no long-format representation here)"
            )
        ranked = self._current_ranks()
        idx = ranked.filter(F.col("__rank__").isin(pos)).drop("__rank__")
        cells = self._gather_cells(idx)
        return SparseFrame(cells, self.key_cols, self.columns, idx)

    def _gather_cells(self, idx: DataFrame) -> DataFrame:
        if self.cells_have_pos:
            return self._cells.join(idx.select(POS), on=POS, how="leftsemi")
        return self._cells.join(idx.select(*self.key_cols).distinct(), on=self.key_cols, how="leftsemi")

    def iloc_slice(self, start: int | None = None, stop: int | None = None) -> "SparseFrame":
        """Positional slice [start, stop) of the CURRENT frame — python
        slice semantics (reference indexing.py:13-21)."""
        self._require_pos()
        pred = F.lit(True)
        if start is not None:
            pred = pred & (F.col("__rank__") >= int(start))
        if stop is not None:
            pred = pred & (F.col("__rank__") < int(stop))
        idx = self._current_ranks().filter(pred).drop("__rank__")
        cells = self._gather_cells(idx)
        return SparseFrame(cells, self.key_cols, self.columns, idx)

    def head(self, n: int = 1) -> pd.DataFrame:
        """First n rows, dense pandas (reference sparse_frame.py:382-387)."""
        if self.has_pos:
            return self.iloc_slice(0, n).todense()
        idx_head = self.index.limit(n)
        cells = self._bare_cells().join(idx_head, on=self.key_cols, how="leftsemi")
        return SparseFrame(cells, self.key_cols, self.columns, idx_head).todense()

    # ------------------------------------------------------------------ #
    # sorting                                                            #
    # ------------------------------------------------------------------ #

    def sort_index(self) -> "SparseFrame":
        """Sort rows by label (reference sparse_frame.py:306-317 — minus its
        column-label-dropping bug, deliberately not reproduced).  On Spark,
        row order is only meaningful at materialization; we re-number the
        hidden position column so downstream positional ops follow label
        order, and range-partition the cells so a write produces sorted files
        (the divisions analog)."""
        from sparsity_spark.util import zip_with_position

        idx = self.index
        if POS in idx.columns:
            # stable sort: ties broken by prior position; renumbering is
            # distributed (range-sort + partition offsets), no global window
            mapping = zip_with_position(idx, self.key_cols + [POS], "__newpos__")
            new_idx = mapping.select(*self.key_cols, F.col("__newpos__").alias(POS))
            cells = self._cells
            if self.cells_have_pos:
                m = mapping.select(F.col(POS), F.col("__newpos__"))
                cells = (
                    cells.join(m, on=POS, how="inner")
                    .drop(POS)
                    .withColumnRenamed("__newpos__", POS)
                )
            cells = cells.repartitionByRange(*[F.col(k) for k in self.key_cols])
            return SparseFrame(cells, self.key_cols, self.columns, new_idx)
        idx = zip_with_position(idx, self.key_cols, POS)
        cells = self._bare_cells().repartitionByRange(*[F.col(k) for k in self.key_cols])
        return SparseFrame(cells, self.key_cols, self.columns, idx)

    # ------------------------------------------------------------------ #
    # joins / combination                                                #
    # ------------------------------------------------------------------ #

    def join(
        self,
        other: "SparseFrame",
        axis: int = 1,
        how: str = "outer",
        level: int | str | None = None,
        dup_labels: str = "merge",
    ) -> "SparseFrame":
        """Index equi-join (reference sparse_frame.py:233-288).

        axis=1 concatenates column sets, aligning rows on the key — in long
        format the cell union IS the hstack, and `how` only decides which
        keys survive.  No sentinel row, no gather: missing cells are simply
        absent rows (implicit zeros).  axis=0 is vertical concat; unlike the
        reference (whose axis=0 general case is dead code raising
        NotImplementedError, reference sparse_frame.py:265-274), column
        alignment comes free in long format.

        Duplicate row labels MERGE on the key (their cells coexist and a
        later todense sums them) rather than pandas' cross-product
        alignment — the union plan needs zero joins for how='outer', which
        is the right trade at scale; the reference never tests dup-label
        joins. Call drop_duplicate_idx() first when labels may repeat
        (pinned in tests/test_frame.py::test_join_duplicate_labels_merge).

        ``level`` (r9 — the reference signature's MultiIndex-level join,
        reference sparse_frame.py:233-241; dead code THERE — its MultiIndex
        branch raises NotImplementedError at :252 — but live here):
        aligns ``other`` on one named or positional level of this frame's
        composite key. ``other`` must be keyed by that single column; its
        cells fan out to every row of this frame sharing the level value —
        the dimension-attach join (attach nation-level features to
        (customer, nation)-keyed rows). how='left'/'inner' only: an outer
        level-join would need rows with the non-level key levels NULL,
        which a sparse frame (absent row == all zeros) cannot represent.
        ``dup_labels='cross'`` (r9 — strict pandas parity, the engine's
        documented deviation made opt-in): duplicate row labels align as a
        WITHIN-KEY CROSS PRODUCT like pandas (each left occurrence pairs
        with each right occurrence, left-order-major), instead of the
        default scale-first merge-on-key. Requires both frames to carry a
        stable row order (positional identity is what distinguishes
        duplicate occurrences); how='inner'/'left' only. The default
        'merge' stays the right call at scale — a hot key's occurrences
        multiply under cross semantics.
        """
        if dup_labels not in ("merge", "cross"):
            raise ValueError(f"dup_labels={dup_labels!r}")
        if dup_labels == "cross":
            if axis != 1 or level is not None:
                raise ValueError("dup_labels='cross' applies to plain axis=1 joins")
            return self._join_cross(other, how)
        if level is not None:
            if axis != 1:
                raise ValueError("join(level=) applies to axis=1 joins only")
            return self._join_on_level(other, how, level)
        if axis == 0:
            return self._vstack_aligned(other)
        if set(self.key_cols) != set(other.key_cols):
            raise ValueError(f"key mismatch: {self.key_cols} vs {other.key_cols}")
        ks = self.key_cols
        left, right = self._bare_cells(), other._bare_cells().select(*ks, COL, VAL)
        lk, rk = self.index.select(*ks), other.index.select(*ks)
        if how == "outer":
            cells = left.unionByName(right)
            idx = lk.unionByName(rk).distinct()
        elif how == "inner":
            idx = lk.distinct().join(rk.distinct(), on=ks, how="inner")
            cells = left.unionByName(right).join(idx, on=ks, how="leftsemi")
        elif how == "left":
            idx = lk.distinct()
            cells = left.unionByName(right.join(idx, on=ks, how="leftsemi"))
        elif how == "right":
            idx = rk.distinct()
            cells = left.join(idx, on=ks, how="leftsemi").unionByName(right)
        else:
            raise ValueError(f"how={how!r}")
        dup = [c for c in other.columns if c in self.columns]
        if dup:
            raise ValueError(f"axis=1 join with overlapping columns: {dup}")
        return SparseFrame(cells, ks, self.columns + other.columns, idx)

    def _join_cross(self, other: "SparseFrame", how: str) -> "SparseFrame":
        """axis=1 join with pandas duplicate-label alignment (see
        :meth:`join`). Plan shape: the two POSITION tables (row-label
        sized, not cell sized) equi-join on the key to enumerate
        occurrence pairs; each side's cells then equi-join the pair table
        on (key, own position) — cells replicate exactly per opposite
        occurrence, which IS the semantics' output size. New positions
        are the injective composite lpos·(max_rpos+2) + rpos+1, so row
        order is left-major/right-minor like pandas without any global
        renumbering window."""
        if set(self.key_cols) != set(other.key_cols):
            raise ValueError(f"key mismatch: {self.key_cols} vs {other.key_cols}")
        if not (
            self.has_pos
            and other.has_pos
            and self.cells_have_pos
            and other.cells_have_pos
        ):
            raise ValueError(
                "dup_labels='cross' needs both frames to carry a stable row "
                "order (positional identity distinguishes duplicate "
                "occurrences); build via from_pandas or set a row order first"
            )
        if how not in ("inner", "left"):
            raise NotImplementedError(
                "dup_labels='cross' supports how='inner'/'left' (right/outer "
                "rows missing from the left side have no left-major position)"
            )
        dup = [c for c in other.columns if c in self.columns]
        if dup:
            raise ValueError(f"axis=1 join with overlapping columns: {dup}")
        ks = self.key_cols
        lidx = self._index.select(*ks, F.col(POS).alias("__lp__"))
        ridx = other._index.select(*ks, F.col(POS).alias("__rp__"))
        maxr = other._index.agg(F.max(POS).alias("m")).collect()[0]["m"]
        stride = (0 if maxr is None else int(maxr)) + 2
        pairs = lidx.join(ridx, on=ks, how=how)
        new_pos = (
            F.col("__lp__") * F.lit(stride)
            + F.coalesce(F.col("__rp__") + 1, F.lit(0))
        ).alias(POS)
        idx = pairs.select(*ks, new_pos)
        lcells = (
            self._cells.withColumnRenamed(POS, "__lp__")
            .join(pairs, on=[*ks, "__lp__"])
            .select(*ks, new_pos, COL, VAL)
        )
        rcells = (
            other._cells.withColumnRenamed(POS, "__rp__")
            .join(pairs.where(F.col("__rp__").isNotNull()), on=[*ks, "__rp__"])
            .select(*ks, new_pos, COL, VAL)
        )
        return SparseFrame(
            lcells.unionByName(rcells), ks, self.columns + other.columns, idx
        )

    def _join_on_level(
        self, other: "SparseFrame", how: str, level: int | str
    ) -> "SparseFrame":
        """axis=1 join aligned on ONE level of the composite key (see
        :meth:`join`). Plan shape: the other frame's cells are renamed to
        the level column and equi-joined against this frame's key table —
        the level side is dimension-sized in every real use, so AQE
        broadcasts it and the corpus-sized cell table never shuffles; the
        result keeps this frame's full composite key."""
        lvl = self.key_cols[level] if isinstance(level, int) else str(level)
        if lvl not in self.key_cols:
            raise ValueError(
                f"level {level!r} is not a key level of {self.key_cols}"
            )
        if len(other.key_cols) != 1:
            raise ValueError(
                "level-join requires `other` keyed by the single level "
                f"column; got keys {other.key_cols}"
            )
        dup = [c for c in other.columns if c in self.columns]
        if dup:
            raise ValueError(f"axis=1 join with overlapping columns: {dup}")
        if how not in ("left", "inner"):
            raise NotImplementedError(
                "level-join supports how='left'/'inner' (an outer "
                "level-join cannot represent rows whose other key levels "
                "are undefined; reference sparse_frame.py:252 raises for "
                "ALL MultiIndex joins)"
            )
        ks = self.key_cols
        ok = other.key_cols[0]
        ocells = other._bare_cells().select(F.col(ok).alias(lvl), COL, VAL)
        okeys = other.index.select(F.col(ok).alias(lvl)).distinct()
        idx = self.index.select(*ks).distinct()
        left = self._bare_cells()
        if how == "inner":
            idx = idx.join(okeys, on=lvl, how="leftsemi")
            left = left.join(idx, on=ks, how="leftsemi")
        expanded = idx.join(ocells, on=lvl).select(*ks, COL, VAL)
        cells = left.unionByName(expanded)
        return SparseFrame(cells, ks, self.columns + other.columns, idx)

    def _vstack_aligned(self, other: "SparseFrame") -> "SparseFrame":
        if set(self.key_cols) != set(other.key_cols):
            raise ValueError("vstack requires matching key columns")
        cols = list(self.columns) + [c for c in other.columns if c not in self.columns]
        keep_pos = (
            self.has_pos and other.has_pos and self.cells_have_pos and other.cells_have_pos
        )
        if keep_pos:
            # keep order: other's rows come after self's. Offset by
            # max(pos)+1, NOT row count — after row filtering positions are
            # non-contiguous and a count-based offset would collide.
            max_pos = self._index.agg(F.max(POS).alias("m")).collect()[0]["m"]
            offset = (-1 if max_pos is None else max_pos) + 1
            li = self._index
            ri = other._index.withColumn(POS, F.col(POS) + F.lit(offset))
            lc = self._cells
            rc = other._cells.withColumn(POS, F.col(POS) + F.lit(offset)).select(
                *self.key_cols, POS, COL, VAL
            )
            return SparseFrame(lc.unionByName(rc), self.key_cols, cols, li.unionByName(ri))
        cells = self._bare_cells().unionByName(other._bare_cells().select(*self.key_cols, COL, VAL))
        idx = None
        if self._index is not None and other._index is not None:
            li = self._index.drop(POS) if POS in self._index.columns else self._index
            ri = other._index.drop(POS) if POS in other._index.columns else other._index
            idx = li.unionByName(ri.select(*li.columns))
        return SparseFrame(cells, self.key_cols, cols, idx)

    def vstack(self, other: "SparseFrame | Sequence[SparseFrame]") -> "SparseFrame":
        """UNION ALL with identical column sets asserted; accepts a single
        frame or a list, like the reference classmethod
        (reference sparse_frame.py:496-507)."""
        others = other if isinstance(other, (list, tuple)) else [other]
        out = self
        for o in others:
            if set(out.columns) != set(o.columns):
                raise ValueError("vstack requires identical column sets")
            out = out._vstack_aligned(o)
        return out

    @staticmethod
    def concat(frames: Sequence["SparseFrame"], axis: int = 0) -> "SparseFrame":
        """Fold with join along an axis (reference sparse_frame.py:394-398)."""
        return functools.reduce(lambda a, b: a.join(b, axis=axis), frames)

    def add(self, other: "SparseFrame", how: str = "outer") -> "SparseFrame":
        """Aligned elementwise addition (reference sparse_frame.py:319-337,
        _aligned_csr_elop 519-534).  Long format makes this union +
        re-aggregate: a single hash aggregate with map-side combine — the
        declarative form of the reference's sentinel-row alignment."""
        if set(self.columns) != set(other.columns):
            raise ValueError("add requires identical column sets (reference asserts this)")
        ks = self.key_cols
        left, right = self._bare_cells(), other._bare_cells().select(*ks, COL, VAL)
        lk, rk = self.index.select(*ks), other.index.select(*ks)
        unioned = left.unionByName(right)
        if how == "outer":
            idx = lk.unionByName(rk).distinct()
        elif how == "inner":
            idx = lk.distinct().join(rk.distinct(), on=ks, how="inner")
            unioned = unioned.join(idx, on=ks, how="leftsemi")
        elif how == "left":
            idx = lk.distinct()
            unioned = unioned.join(idx, on=ks, how="leftsemi")
        elif how == "right":
            idx = rk.distinct()
            unioned = unioned.join(idx, on=ks, how="leftsemi")
        else:
            raise ValueError(f"how={how!r}")
        cells = unioned.groupBy(*ks, COL).agg(F.sum(VAL).alias(VAL))
        return SparseFrame(cells, ks, self.columns, idx)

    def multiply(self, other: "SparseFrame") -> "SparseFrame":
        """Elementwise (Hadamard) multiplication — extension beyond the
        reference's add-only arithmetic. Sparse × sparse needs only the
        INTERSECTION of stored cells (x·0 = 0), so this is one inner join
        on (keys, col): work scales with the smaller nnz."""
        if set(self.columns) != set(other.columns):
            raise ValueError("multiply requires identical column sets")
        ks = self.key_cols
        left = self._bare_cells()
        right = other._bare_cells().select(
            *ks, COL, F.col(VAL).alias("__rv__")
        )
        cells = left.join(right, on=[*ks, COL], how="inner").select(
            *ks, COL, (F.col(VAL) * F.col("__rv__")).alias(VAL)
        )
        idx = self.index.select(*ks).distinct().join(
            other.index.select(*ks).distinct(), on=ks, how="inner"
        )
        return SparseFrame(cells, ks, self.columns, idx)

    def scale(self, factor: float) -> "SparseFrame":
        """Multiply every stored cell by a scalar (implicit zeros stay 0)."""
        cells = self._cells.withColumn(VAL, F.col(VAL) * F.lit(float(factor)))
        return SparseFrame(cells, self.key_cols, self.columns, self._index)

    def __mul__(self, other):
        if isinstance(other, SparseFrame):
            return self.multiply(other)
        return self.scale(other)

    __rmul__ = __mul__

    @property
    def npartitions(self) -> int:
        """Partition count of the cell DataFrame (dask-layer parity,
        reference dask/core.py:64-66)."""
        return self._cells.rdd.getNumPartitions()

    # ------------------------------------------------------------------ #
    # aggregation                                                        #
    # ------------------------------------------------------------------ #

    def groupby_sum(self, by: str | Sequence[str] | None = None, level: int = 0) -> "SparseFrame":
        """Group rows by key (or key level) and sum each column — the
        reference's signature sparse-matmul aggregation (reference
        sparse_frame.py:196-231, 555-564).  Here: ONE hash aggregate over
        long rows, work ∝ nnz regardless of column count, partial
        aggregation map-side.  Output keys sorted ascending for parity with
        ``np.unique`` (reference sparse_frame.py:231)."""
        if by is None:
            keys = [self.key_cols[level]]
        else:
            keys = _as_list(by)
            unknown = [k for k in keys if k not in self.key_cols]
            if unknown:
                raise KeyError(f"not key columns: {unknown}")
        # No orderBy here: sorted-ascending key parity (np.unique) is only
        # observable at materialization, and todense() sorts — an eager
        # orderBy would add a useless range-exchange to every downstream op.
        cells = self._cells.groupBy(*keys, COL).agg(F.sum(VAL).alias(VAL))
        idx = self.index.select(*keys).distinct()
        return SparseFrame(cells, keys, self.columns, idx)

    def groupby(self, by=None, level: int = 0) -> "SparseFrame":
        return self.groupby_sum(by=by, level=level)

    def groupby_agg(
        self, agg: str = "sum", by: str | Sequence[str] | None = None, level: int = 0
    ) -> "SparseFrame":
        """Generalized grouped aggregation over stored cells (extension —
        the reference only has sum). NOTE: max/min/count/mean operate on
        *stored* cells; implicit zeros do not participate (use groupby_sum
        + dense arithmetic when zero-aware semantics are needed)."""
        fns = {"sum": F.sum, "max": F.max, "min": F.min, "count": F.count, "mean": F.avg}
        if agg not in fns:
            raise ValueError(f"agg must be one of {sorted(fns)}")
        keys = [self.key_cols[level]] if by is None else _as_list(by)
        cells = self._cells.groupBy(*keys, COL).agg(
            fns[agg](VAL).cast("double").alias(VAL)
        )
        return SparseFrame(cells, keys, self.columns, self.index.select(*keys).distinct())

    def persist(self) -> "SparseFrame":
        """Pin cells (and explicit index) in executor memory for iterative
        reuse — the analog of dask's task memoization (reference
        dask/core.py:116-117,142)."""
        self._cells.persist()
        if self._index is not None:
            self._index.persist()
        return self

    def to_indexed_arrays(self) -> DataFrame:
        """ML-interop materialization (SURVEY §1.5's SparseVector layout):
        one row per logical row with sorted (indices, values) arrays and the
        vector size — built entirely from array expressions, convertible to
        pyspark.ml SparseVector driver-side without any row-at-a-time UDF."""
        pos_map = {c: i for i, c in enumerate(self.columns)}
        mapping = F.create_map(
            *[x for c, i in pos_map.items() for x in (F.lit(c), F.lit(i))]
        )
        # merged view: coexisting duplicate (key, col) cells would emit
        # duplicate indices, which SparseVector rejects
        entries = self._merged_bare_cells().withColumn("__cpos__", mapping[F.col(COL)])
        grouped = entries.groupBy(*self.key_cols).agg(
            F.array_sort(F.collect_list(F.struct("__cpos__", VAL))).alias("__e__")
        )
        # left join from the index: all-zero rows must appear with empty
        # arrays, not vanish from the training set
        idx = self.index
        if POS in idx.columns:
            idx = idx.drop(POS)
        grouped = idx.distinct().join(grouped, on=self.key_cols, how="left")
        empty = F.array().cast("array<struct<__cpos__:int,value:double>>")
        e = F.coalesce(F.col("__e__"), empty)
        return grouped.select(
            *self.key_cols,
            F.transform(e, lambda x: x["__cpos__"]).alias("indices"),
            F.transform(e, lambda x: x[VAL]).alias("values"),
            F.lit(len(self.columns)).alias("size"),
        )

    def _with_row_markers(self, cells: DataFrame) -> DataFrame:
        """``cells`` plus one marker row per index row, whose ``__n__`` is
        1 and every other column NULL: value aggregates skip the markers
        and ``count("__n__")`` is the row count N, so ONE aggregate over
        this union reads the stored values and N together."""
        markers = self.index.select(F.lit(1).alias("__n__"))
        return cells.unionByName(markers, allowMissingColumns=True)

    def _agg_with_nrows(
        self, cells: DataFrame, *aggs, by: str | None = None
    ) -> tuple[list, int]:
        """Collect ``aggs`` over ``cells`` (per ``by`` group, else one
        global row) and the row count N in ONE query. Grouped by column,
        the markers form the NULL-column group, which :meth:`_per_column`
        drops. Returns (rows, N)."""
        rows = (
            self._with_row_markers(cells)
            .groupBy(*([by] if by else []))
            .agg(*aggs, F.count("__n__").alias("__n__"))
            .collect()
        )
        return rows, sum(r["__n__"] for r in rows)

    def _per_column(self, rows: list, field: str) -> pd.Series:
        """``field`` of collected per-column ``(col, field)`` rows as a
        Series over every frame column, 0.0 where no cell is stored."""
        return pd.Series(
            [r[field] for r in rows],
            index=pd.Index([r[COL] for r in rows], name=COL),
            name="s",
            dtype="float64",
        ).reindex(self.columns, fill_value=0.0)

    def sum(self, axis: int | None = None):
        """Matrix sum (reference sparse_frame.py:143-144, scipy semantics).

        axis=None → scalar; axis=0 → per-column pandas Series;
        axis=1 → per-row SparseFrame-shaped pandas."""
        if axis is None:
            row = self._cells.agg(F.coalesce(F.sum(VAL), F.lit(0.0)).alias("s")).collect()[0]
            return row["s"]
        if axis == 0:
            return self._per_column(
                self._cells.groupBy(COL).agg(F.sum(VAL).alias("s")).collect(), "s"
            )
        # per-PHYSICAL-row sums: group by position when known so duplicate
        # labels stay distinct rows (scipy semantics); left join from the
        # index so all-zero rows appear with 0.0
        if self.has_pos and self.cells_have_pos:
            grouped = self._cells.groupBy(POS).agg(F.sum(VAL).alias("s"))
            pdf = (
                self._index.join(grouped, on=POS, how="left")
                .select(
                    *self.key_cols, POS, F.coalesce(F.col("s"), F.lit(0.0)).alias("s")
                )
                .toPandas()
                .sort_values(POS)
                .drop(columns=[POS])
            )
            return pdf.set_index(self.key_cols)["s"]
        grouped = self._cells.groupBy(*self.key_cols).agg(F.sum(VAL).alias("s"))
        idx = self.index
        if POS in idx.columns:
            idx = idx.drop(POS)
        pdf = (
            idx.distinct()
            .join(grouped, on=self.key_cols, how="left")
            .select(*self.key_cols, F.coalesce(F.col("s"), F.lit(0.0)).alias("s"))
            .toPandas()
        )
        return pdf.set_index(self.key_cols)["s"]

    def mean(self, axis: int | None = None):
        """Matrix mean with the **dense denominator** N·K — explicit zeros
        count, matching scipy (reference sparse_frame.py:146-147).  NOT the
        nnz-mean a naive ``avg(value)`` over long rows would give.

        axis=None and axis=0 read their sums and N from one aggregate
        (:meth:`_agg_with_nrows`); axis=1 divides the row sums by K and
        needs no N."""
        total = F.coalesce(F.sum(VAL), F.lit(0.0)).alias("s")
        if axis is None:
            (row,), n = self._agg_with_nrows(self._cells, total)
            return row["s"] / float(n * len(self.columns))
        if axis == 0:
            rows, n = self._agg_with_nrows(self._cells, total, by=COL)
            return self._per_column(rows, "s") / float(n)
        return self.sum(1) / float(len(self.columns))

    def _merged_bare_cells(self) -> DataFrame:
        """Stored cells with coexisting duplicate (key, col) entries SUMMED
        — the frame's documented merge semantics (duplicate-label joins /
        vstacks leave cells coexisting until an aggregate). Sum-linear
        consumers (sum, todense's pivot-sum, add) need no pre-merge; every
        NON-linear aggregate (max/min, squares for std, vector building)
        must read this view or it silently operates on pre-merge values.
        One hash aggregate with map-side partials — identity-cheap when no
        duplicates exist."""
        return self._bare_cells().groupBy(*self.key_cols, COL).agg(
            F.sum(VAL).alias(VAL)
        )

    def std(self, axis: int | None = None):
        """Dense-denominator standard deviation (reference sparse_frame.py:149-150):
        sqrt(E[x²] − E[x]²) over all N·K cells including implicit zeros.
        The sums, the sums of squares and N come from one aggregate over
        the merged cells (:meth:`_agg_with_nrows`)."""
        import math

        merged = self._merged_bare_cells()
        sums = [
            F.coalesce(F.sum(VAL), F.lit(0.0)).alias("s"),
            F.coalesce(F.sum(F.col(VAL) * F.col(VAL)), F.lit(0.0)).alias("s2"),
        ]
        if axis is None:
            (row,), n = self._agg_with_nrows(merged, *sums)
            nk = float(n * len(self.columns))
            ex, ex2 = row["s"] / nk, row["s2"] / nk
            return math.sqrt(ex2 - ex * ex)
        if axis == 0:
            rows, n = self._agg_with_nrows(merged, *sums, by=COL)
            m = self._per_column(rows, "s") / float(n)
            return ((self._per_column(rows, "s2") / float(n)) - m * m).pow(0.5)
        raise NotImplementedError("std(axis=1) not in reference surface")

    def max(self):
        """Matrix max — implicit zeros participate (reference
        sparse_frame.py:152-153). Collects :meth:`minmax_df`; -inf when
        the frame has no cells and no implicit zeros."""
        m = self.minmax_df().collect()[0]["max_value"]
        return float("-inf") if m is None else m

    def min(self):
        """Matrix min — implicit zeros participate (reference
        sparse_frame.py:155-156). Collects :meth:`minmax_df`; inf when
        the frame has no cells and no implicit zeros."""
        m = self.minmax_df().collect()[0]["min_value"]
        return float("inf") if m is None else m

    def minmax_df(self) -> DataFrame:
        """max/min as ONE lazy plan (no driver round-trips): implicit zeros
        participate exactly when the frame is not completely dense
        (reference sparse_frame.py:152-156's semantics, relational form).
        The extrema, the nonzero count and N come from one aggregate over
        the merged cells (:meth:`_with_row_markers`)."""
        k = len(self.columns)
        stats = self._with_row_markers(self._merged_bare_cells()).agg(
            F.max(VAL).alias("mx"),
            F.min(VAL).alias("mn"),
            F.count(F.when(F.col(VAL) != 0.0, 1)).alias("nnz"),
            F.count("__n__").alias("n"),
        )
        sparse = F.col("nnz") < F.col("n") * k
        return stats.select(
            F.when(sparse, F.greatest(F.col("mx"), F.lit(0.0)))
            .otherwise(F.col("mx"))
            .alias("max_value"),
            F.when(sparse, F.least(F.col("mn"), F.lit(0.0)))
            .otherwise(F.col("mn"))
            .alias("min_value"),
        )

    # ------------------------------------------------------------------ #
    # reshape / set ops (extensions; SURVEY §2.6-2.7 list these as       #
    # absent from the reference — long format provides them cheaply)     #
    # ------------------------------------------------------------------ #

    def transpose(
        self, key_as_col: str | None = None, max_columns: int = 100_000
    ) -> "SparseFrame":
        """Swap rows and columns — for a single-key frame this is a pure
        column rename in long format (zero shuffle); the reference only
        transposes internally inside its matmul group-by.

        Scale note: the old row keys become the new column dictionary, which
        lives driver-side — transpose a frame whose key cardinality is
        dictionary-sized (like the reference's), not corpus-sized.
        ``max_columns`` makes that contract a hard guard: transposing a
        corpus-keyed frame fails loudly BEFORE the driver collect instead
        of slowly OOMing it (VERDICT r3 'What's wrong' #2)."""
        if len(self.key_cols) != 1:
            raise ValueError("transpose requires a single key column")
        key = self.key_cols[0]
        # default to the old key's own name — COL as the default collided
        # with the label column in the same select
        new_key = key_as_col or (key if key != COL else f"{key}_t")
        cells = self._bare_cells().select(
            F.col(COL).alias(new_key),
            F.col(key).cast("string").alias(COL),
            F.col(VAL),
        )
        # limit(max+1) bounds the collect itself — the guard can never
        # pull more than the threshold even when the check fails
        rows = (
            self.index.select(key).distinct().orderBy(key).limit(max_columns + 1).collect()
        )
        if len(rows) > max_columns:
            raise ValueError(
                f"transpose would create more than {max_columns} columns — "
                f"the new column dictionary is driver-side state, so this "
                f"frame's key cardinality is too large to transpose; raise "
                f"max_columns explicitly if this is intentional"
            )
        new_cols = [str(r[key]) for r in rows]
        from sparsity_spark.util import local_df

        idx = local_df(self.spark(), [(c,) for c in self.columns], f"`{new_key}` string")
        return SparseFrame(cells, [new_key], new_cols, idx)

    def intersect_index(self, other: "SparseFrame") -> "SparseFrame":
        """Keep rows whose key appears in both frames (INTERSECT on the
        index — left-semi join, no row explosion)."""
        keys = other.index.select(*self.key_cols).distinct()
        cells = self._cells.join(keys, on=self.key_cols, how="leftsemi")
        idx = self.index.join(keys, on=self.key_cols, how="leftsemi")
        return SparseFrame(cells, self.key_cols, self.columns, idx)

    def except_index(self, other: "SparseFrame") -> "SparseFrame":
        """Drop rows whose key appears in the other frame (EXCEPT on the
        index — left-anti join)."""
        keys = other.index.select(*self.key_cols).distinct()
        cells = self._cells.join(keys, on=self.key_cols, how="leftanti")
        idx = self.index.join(keys, on=self.key_cols, how="leftanti")
        return SparseFrame(cells, self.key_cols, self.columns, idx)

    # ------------------------------------------------------------------ #
    # UDF surface (reference dask layer, dask/core.py:68-139)            #
    # ------------------------------------------------------------------ #

    def map_partitions(self, func: Callable[[pd.DataFrame], pd.DataFrame]) -> "SparseFrame":
        """Apply an arbitrary pandas-level function to every partition of the
        long cells (reference dask/core.py:113-123).  Arrow-batched via
        ``mapInPandas`` — schema is enforced by Spark itself, the analog of
        the reference's ``apply_and_enforce`` (reference dask/core.py:126-139)."""
        schema = self._cells.schema

        def _apply(batches):
            for pdf in batches:
                out = func(pdf)
                if out is not None and len(out):
                    yield out[[f.name for f in schema.fields]]

        cells = self._cells.mapInPandas(_apply, schema=schema)
        return SparseFrame(cells, self.key_cols, self.columns, self._index)

    def apply_grouped(
        self,
        func: Callable[[pd.DataFrame], pd.DataFrame],
        by: str | Sequence[str] | None = None,
    ) -> "SparseFrame":
        """Grouped-map UDF over whole logical rows: each group's long cells
        arrive as one pandas frame (``applyInPandas``)."""
        keys = _as_list(by) or self.key_cols
        schema = self._cells.schema

        def _apply(pdf: pd.DataFrame) -> pd.DataFrame:
            out = func(pdf)
            return out[[f.name for f in schema.fields]]

        cells = self._cells.groupBy(*keys).applyInPandas(_apply, schema=schema)
        return SparseFrame(cells, self.key_cols, self.columns, self._index)

    # ------------------------------------------------------------------ #
    # materialization                                                    #
    # ------------------------------------------------------------------ #

    def to_wide(self) -> DataFrame:
        """Pivot to a wide DataFrame (one physical column per label), keeping
        all-zero rows via a left join from the index.  Lazy — this is the
        ML-interop / todense boundary, not the canonical layout."""
        use_pos = self.has_pos and self.cells_have_pos
        group_keys = ([POS] if use_pos else []) + self.key_cols
        pivot_src = self._cells if use_pos else self._bare_cells()
        if use_pos:
            # pos is the physical row id; labels re-attach from the index
            wide = pivot_src.groupBy(POS).pivot(COL, self.columns).agg(F.sum(VAL))
            wide = self._index.join(wide, on=POS, how="left")
        else:
            wide = pivot_src.groupBy(*self.key_cols).pivot(COL, self.columns).agg(F.sum(VAL))
            idx = self.index
            if POS in idx.columns:
                idx = idx.select(*self.key_cols, POS)
            wide = idx.join(wide, on=self.key_cols, how="left")
        pos_cols = [POS] if POS in wide.columns else []
        return wide.select(
            *self.key_cols,
            *pos_cols,
            *[F.coalesce(F.col(f"`{c}`"), F.lit(0.0)).alias(c) for c in self.columns],
        )

    def todense(self, pandas: bool = True):
        """Materialize to dense pandas, labels as index
        (reference sparse_frame.py:102-123). Mirrors the reference's
        squeeze: a single-column frame comes back as a ``pd.Series`` named
        after the column (and 1-row/1-col numpy comes back 1-D when
        ``pandas=False``); multi-column frames stay DataFrames."""
        wide = self.to_wide()
        pdf = wide.toPandas()
        if POS in pdf.columns:
            pdf = pdf.sort_values(POS).drop(columns=[POS])
        else:
            pdf = pdf.sort_values(self.key_cols)
        pdf = pdf.set_index(self.key_cols if len(self.key_cols) > 1 else self.key_cols[0])
        pdf = pdf[self.columns]
        if not pandas:
            arr = pdf.to_numpy()
            # reference sparse_frame.py:111-112: 1-row or 1-col → 1-D.
            # No emptiness guard: an empty single-column frame must also
            # squeeze to a length-0 1-D array like the reference (ADVICE r3)
            if arr.shape[0] == 1 or arr.shape[1] == 1:
                return arr.reshape(-1)
            return arr
        if len(self.columns) == 1:
            # reference sparse_frame.py:116-118: Series named after the
            # col — including the EMPTY case (an empty named Series, not
            # an empty DataFrame)
            return pdf[self.columns[0]]
        return pdf

    def to_long_pandas(self) -> pd.DataFrame:
        return self._cells.toPandas()

    def toarray(self):
        """Dense numpy materialization (reference sparse_frame.py:102-104)."""
        return self.todense(pandas=False)

    @property
    def values(self):
        """Dense numpy values (reference sparse_frame.py:302-304)."""
        return self.toarray()

    def write_parquet(self, path: str, mode: str = "overwrite"):
        """Persist long cells range-partitioned by key — sorted files whose
        parquet min/max footers give the reference's ``divisions`` pruning
        for free (reference dask/io.py:89-112)."""
        (
            self._cells.repartitionByRange(*[F.col(k) for k in self.key_cols])
            .sortWithinPartitions(*self.key_cols)
            .write.mode(mode)
            .parquet(path)
        )

    def __sizeof__(self):
        """Driver-side memory footprint (reference sparse_frame.py:339-344).

        The reference sums its CSR arrays because the data lives in the
        driver process; here the cells live on executors, so the honest
        driver-side figure is the metadata: key names + the column
        dictionary (the one corpus-independent driver-resident structure).
        Use ``cells_bytes()`` for an estimate of the distributed payload."""
        import sys

        return (
            object.__sizeof__(self)
            + sum(sys.getsizeof(k) for k in self.key_cols)
            + sys.getsizeof(self.columns)
            + sum(sys.getsizeof(c) for c in self.columns)
        )

    def cells_bytes(self) -> int:
        """Estimated distributed size of the stored cells: nnz × the
        schema's fixed-width field sizes (strings estimated at their
        average length via one aggregate). One metadata-sized job."""
        avg_col = self._cells.agg(
            F.coalesce(F.avg(F.length(F.col(COL))), F.lit(0.0)).alias("a"),
            F.count("*").alias("n"),
        ).collect()[0]
        per_row = 8 * (len(self.key_cols) + 1) + int(avg_col["a"]) + 8
        return int(avg_col["n"]) * per_row

    def __repr__(self):
        cols_preview = self.columns[:25]
        return (
            f"SparseFrame(keys={self.key_cols}, ncols={len(self.columns)}, "
            f"cols[:25]={cols_preview})"
        )
