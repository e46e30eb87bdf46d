"""Array-like inputs with named dimensions ("dim arrays").

A dim array is the value attached to a mapped source node: an N-D array whose
axes have names (dims) and labeled indices (coords). This reproduces the
capability surface of the reference adapters
(``/root/reference/src/cyclebane/value_array_adapters.py``) — sequences,
numpy arrays, pandas Series, xarray/scipp data arrays — and adds a
Spark-backed variant (:class:`SparkColumn`) so that node families can be
backed by arbitrarily large DataFrames instead of driver memory.

Index semantics (parity with the reference):

- plain sequence  -> one dim named ``dim_{axis_zero}``, index = range(len)
- numpy ndarray   -> dims ``dim_{axis_zero+i}``, index = range(size) per axis
- pandas Series   -> one dim named after ``series.index.name`` (fallback
  ``dim_{axis_zero}``), index = the series index values
- xarray/scipp    -> dims from the object, coords as index values (scipp
  coords with units become ``(value, unit)`` tuples)

Only label columns backed by pandas Series (or SparkColumn) support grouping.
"""

from __future__ import annotations

from collections.abc import Hashable, Iterable, Mapping, Sequence
from functools import cached_property
from typing import Any

IndexName = Hashable
IndexValue = Hashable


class LazyCoords:
    """Marker for coords that live in a distributed DataFrame.

    Consistency validation against lazy coords is deferred to execution time
    (comparing would require an action); see ValueStore.
    """

    def __init__(self, owner: 'SparkColumn', dim: IndexName):
        self.owner = owner
        self.dim = dim

    def __iter__(self):
        raise TypeError(
            f'Coords of dim {self.dim!r} are Spark-backed (lazy); '
            'collect them explicitly via SparkColumn.collect_coords().'
        )


class DimArray:
    """Base class: named-dim array attachable to a source node."""

    #: ordered mapping dim -> iterable of index values (or LazyCoords)
    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        raise NotImplementedError

    @property
    def dims(self) -> tuple[IndexName, ...]:
        return tuple(self.coords)

    @property
    def shape(self) -> tuple[int, ...]:
        raise NotImplementedError

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        """Point-select one element by index value per dim."""
        raise NotImplementedError

    def islice(self, key: Mapping[IndexName, slice]) -> 'DimArray':
        """Positional slice along named dims."""
        raise NotImplementedError

    def lslice(self, key: Mapping[IndexName, slice]) -> 'DimArray':
        """Label-based slice along named dims (backend-native convention).

        Default: identical to positional slicing, which is correct for
        arrays with default ``range`` indices (lists, numpy). Adapters with
        real labels (pandas, Spark) override.
        """
        return self.islice(key)

    def lslice_excl(self, key: Mapping[IndexName, slice]) -> 'DimArray':
        """Label slice with stop-EXCLUSIVE bounds — the one convention the
        graph-level ``graph.loc(dim)[lo:hi]`` exposes for every backend.

        ``lslice`` keeps each backend's native convention (pandas ``.loc``
        is stop-inclusive) for ValueArray.loc reference parity; a graph
        mixing driver-backed and Spark-backed arrays on a shared dim must
        not get different row sets from one slice call, so the indexer
        routes through this normalized form instead.  Default: ``lslice``,
        already stop-exclusive for range-indexed and Spark backends;
        pandas overrides with a half-open mask.
        """
        return self.lslice(key)

    def loc(self, key: Mapping[IndexName, slice]) -> 'DimArray':
        """Label-based slice; only slices are accepted (parity with reference
        ``ValueArray.loc``, value_array.py:60-67)."""
        if not all(isinstance(i, slice) for i in key.values()):
            raise ValueError('ValueArray.loc only accepts slices, not integers')
        if not set(key).issubset(set(self.dims)):
            raise ValueError(
                f'ValueArray.loc got {key.keys()}, not a subset of {self.dims}'
            )
        return self.lslice(key)

    def equals(self, other: 'DimArray') -> bool:
        raise NotImplementedError

    def grouped(self, group_dim: IndexName) -> 'GroupsArray':
        """Group a 1-D label array by value -> GroupsArray.

        Parity: reference restricts this to pandas Series
        (value_array.py:88-97); we additionally allow Spark-backed labels.
        """
        raise NotImplementedError(
            'ValueArray.group() is only implemented for Pandas series.'
        )

    def is_grouping(self) -> bool:
        return False

    # -- Spark boundary ----------------------------------------------------
    def to_pandas_long(self) -> 'Any':
        """Long-form pandas DataFrame: one row per element.

        Columns: one per dim (named by position ``__dim{i}``) plus ``value``.
        The compiler renames dim columns according to its dim registry.
        """
        raise NotImplementedError


def _seq_equal(a: Iterable[Any], b: Iterable[Any]) -> bool:
    la, lb = list(a), list(b)
    if len(la) != len(lb):
        return False
    return all(x == y for x, y in zip(la, lb, strict=True))


def _first_positions(labels: Iterable[IndexValue]) -> dict[IndexValue, int]:
    """Label -> position of its first occurrence, as ``list.index`` finds it."""
    out: dict[IndexValue, int] = {}
    for pos, label in enumerate(labels):
        out.setdefault(label, pos)
    return out


def _position(
    positions: dict[IndexValue, int],
    labels: Iterable[IndexValue],
    value: IndexValue,
) -> int:
    """Position of ``value`` in ``labels`` through the ``positions`` table;
    a label missing from it goes to ``list.index``, which raises ValueError."""
    pos = positions.get(value)
    return pos if pos is not None else list(labels).index(value)


class SeqArray(DimArray):
    """A plain Python sequence: one dim, positional index."""

    def __init__(
        self,
        values: Sequence[Any],
        *,
        index: Sequence[IndexValue] | None = None,
        axis_zero: int = 0,
    ):
        self._values = values
        self._index = range(len(values)) if index is None else index
        self._axis_zero = axis_zero

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {f'dim_{self._axis_zero}': self._index}

    @property
    def shape(self) -> tuple[int, ...]:
        return (len(self._values),)

    @cached_property
    def _positions(self) -> dict[IndexValue, int]:
        return _first_positions(self._index)

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        (value,) = coords.values()
        return self._values[_position(self._positions, self._index, value)]

    def islice(self, key: Mapping[IndexName, slice]) -> 'SeqArray':
        (sl,) = key.values()
        return SeqArray(
            self._values[sl], index=self._index[sl], axis_zero=self._axis_zero
        )

    def equals(self, other: DimArray) -> bool:
        return (
            isinstance(other, SeqArray)
            and type(self._values) is type(other._values)
            and list(self._values) == list(other._values)
            and _seq_equal(self._index, other._index)
            and self._axis_zero == other._axis_zero
        )

    def to_pandas_long(self):
        import pandas as pd

        return pd.DataFrame(
            {'__dim0': list(self._index), 'value': list(self._values)}
        )


class NdArray(DimArray):
    """A numpy ndarray: dims ``dim_{axis_zero+i}``, positional indices."""

    def __init__(
        self,
        array: Any,
        *,
        coords: dict[IndexName, Sequence[IndexValue]] | None = None,
        axis_zero: int = 0,
    ):
        import numpy as np

        self._array = np.asarray(array)
        if coords is None:
            coords = {
                f'dim_{i + axis_zero}': range(size)
                for i, size in enumerate(self._array.shape)
            }
        self._coords = coords
        self._axis_zero = axis_zero

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return dict(self._coords)

    @property
    def shape(self) -> tuple[int, ...]:
        return self._array.shape

    @cached_property
    def _positions(self) -> dict[IndexName, dict[IndexValue, int]]:
        return {d: _first_positions(labels) for d, labels in self._coords.items()}

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        pos = tuple(
            _position(self._positions[d], labels, coords[d])
            for d, labels in self._coords.items()
        )
        return self._array[pos]

    def islice(self, key: Mapping[IndexName, slice]) -> 'NdArray':
        slicer = tuple(key.get(d, slice(None)) for d in self._coords)
        return NdArray(
            self._array[slicer],
            coords={
                d: values[key.get(d, slice(None))]
                for d, values in self._coords.items()
            },
            axis_zero=self._axis_zero,
        )

    def equals(self, other: DimArray) -> bool:
        if not isinstance(other, NdArray):
            return False
        return (
            self._array.shape == other._array.shape
            and bool((self._array == other._array).all())
            and list(self._coords) == list(other._coords)
            and all(
                _seq_equal(self._coords[d], other._coords[d])
                for d in self._coords
            )
            and self._axis_zero == other._axis_zero
        )

    def to_pandas_long(self):
        import itertools

        import pandas as pd

        dims = list(self._coords)
        rows = []
        for pos in itertools.product(*(range(s) for s in self._array.shape)):
            row = {
                f'__dim{i}': list(self._coords[d])[p]
                for i, (d, p) in enumerate(zip(dims, pos, strict=True))
            }
            row['value'] = self._array[pos]
            rows.append(row)
        return pd.DataFrame(rows)


class SeriesArray(DimArray):
    """A pandas Series: one dim named by the series index."""

    def __init__(self, series: Any, *, axis_zero: int = 0):
        self._series = series
        self._axis_zero = axis_zero

    @property
    def _dim(self) -> IndexName:
        name = self._series.index.name
        return name if name is not None else f'dim_{self._axis_zero}'

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {self._dim: self._series.index}

    @property
    def shape(self) -> tuple[int, ...]:
        return (len(self._series),)

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        ((dim, value),) = coords.items()
        if dim != self._dim:
            raise ValueError(
                f'Unexpected index name {dim} for series with index {self._dim}'
            )
        return self._series.loc[value]

    def islice(self, key: Mapping[IndexName, slice]) -> 'SeriesArray':
        (sl,) = key.values()
        return SeriesArray(self._series.iloc[sl], axis_zero=self._axis_zero)

    def lslice(self, key: Mapping[IndexName, slice]) -> 'SeriesArray':
        (sl,) = key.values()
        # pandas label slicing (stop-inclusive, pandas convention)
        return SeriesArray(self._series.loc[sl], axis_zero=self._axis_zero)

    def lslice_excl(self, key: Mapping[IndexName, slice]) -> 'SeriesArray':
        (sl,) = key.values()
        if sl.step is not None:
            raise ValueError('label slicing does not support step')
        # half-open [start, stop) mask — matches the SQL/Spark convention the
        # graph-level loc normalizes to; works for any comparable index
        idx = self._series.index
        mask = (idx >= sl.start if sl.start is not None else idx == idx) & (
            idx < sl.stop if sl.stop is not None else idx == idx
        )
        return SeriesArray(self._series[mask], axis_zero=self._axis_zero)

    def equals(self, other: DimArray) -> bool:
        return (
            isinstance(other, SeriesArray)
            and self._series.equals(other._series)
            and self._axis_zero == other._axis_zero
        )

    def grouped(self, group_dim: IndexName) -> 'GroupsArray':
        s = self._series.rename_axis(self._dim)
        members = s.groupby(s).groups  # label -> Index of inner index values
        return GroupsArray(
            group_dim=group_dim,
            inner_dim=self._dim,
            labels=list(members.keys()),
            members=[list(v) for v in members.values()],
        )

    def to_pandas_long(self):
        import pandas as pd

        return pd.DataFrame(
            {'__dim0': list(self._series.index), 'value': list(self._series)}
        )


class GroupsArray(DimArray):
    """Result of grouping a 1-D label array: one entry per distinct label.

    Stored in the value store under the groupby-reduce node's name so that
    branch surgery (getitem/setitem) carries the grouping along — mirroring
    the reference's design (graph.py:579-585). The group dim contributes its
    labels to the graph's dim catalog.
    """

    def __init__(
        self,
        *,
        group_dim: IndexName,
        inner_dim: IndexName,
        labels: list[IndexValue],
        members: list[list[IndexValue]],
    ):
        self.group_dim = group_dim
        self.inner_dim = inner_dim
        self.labels = labels
        self.members = members

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {self.group_dim: self.labels}

    @property
    def shape(self) -> tuple[int, ...]:
        return (len(self.labels),)

    def members_of(self, label: IndexValue) -> list[IndexValue]:
        return self.members[self.labels.index(label)]

    def islice(self, key: Mapping[IndexName, slice]) -> 'GroupsArray':
        (sl,) = key.values()
        return GroupsArray(
            group_dim=self.group_dim,
            inner_dim=self.inner_dim,
            labels=self.labels[sl],
            members=self.members[sl],
        )

    def equals(self, other: DimArray) -> bool:
        return (
            isinstance(other, GroupsArray)
            and self.group_dim == other.group_dim
            and self.inner_dim == other.inner_dim
            and self.labels == other.labels
            and self.members == other.members
        )

    def is_grouping(self) -> bool:
        return True


class XArrayArray(DimArray):
    """An xarray.DataArray: dims from the object, coords as labels."""

    def __init__(self, data_array: Any):
        default = {
            d: range(s)
            for d, s in data_array.sizes.items()
            if d not in data_array.coords
        }
        self._da = data_array.assign_coords(default)

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {d: list(self._da.coords[d].values) for d in self._da.dims}

    @property
    def shape(self) -> tuple[int, ...]:
        return self._da.shape

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        return self._da.sel(dict(coords))

    def islice(self, key: Mapping[IndexName, slice]) -> 'XArrayArray':
        return XArrayArray(self._da.isel(dict(key)))

    def equals(self, other: DimArray) -> bool:
        return isinstance(other, XArrayArray) and self._da.identical(other._da)

    def to_pandas_long(self):
        import itertools

        import pandas as pd

        dims = list(self._da.dims)
        coords = self.coords
        rows = []
        for pos in itertools.product(*(range(s) for s in self._da.shape)):
            row = {
                f'__dim{i}': list(coords[d])[p]
                for i, (d, p) in enumerate(zip(dims, pos, strict=True))
            }
            row['value'] = self._da.values[pos]
            rows.append(row)
        return pd.DataFrame(rows)


class ScippArray(DimArray):
    """A scipp DataArray/Variable; coords with units become (value, unit)."""

    def __init__(self, data_array: Any, sc: Any):
        default = {
            d: sc.arange(d, s, unit=None)
            for d, s in data_array.sizes.items()
            if d not in data_array.coords
        }
        self._da = data_array.assign_coords(default)
        self._sc = sc

    def _coord_labels(self, dim: IndexName) -> list[IndexValue]:
        coord = self._da.coords[dim]
        if coord.unit is None:
            return list(coord.values)
        return [(v, str(coord.unit)) for v in coord.values]

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {d: self._coord_labels(d) for d in self._da.dims}

    @property
    def shape(self) -> tuple[int, ...]:
        return self._da.shape

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        out = self._da
        for dim, value in coords.items():
            unit = None
            if isinstance(value, tuple):
                value, unit = value
            out = out[dim, self._sc.scalar(value, unit=unit)]
        return out

    def islice(self, key: Mapping[IndexName, slice]) -> 'ScippArray':
        out = self._da
        for dim, sl in key.items():
            out = out[dim, sl]
        return ScippArray(out, self._sc)

    def equals(self, other: DimArray) -> bool:
        return isinstance(other, ScippArray) and self._sc.identical(
            self._da, other._da
        )


class SparkColumn(DimArray):
    """A column of a Spark DataFrame used as a node's value array.

    This is the 100 TB path: the "array" never leaves the cluster. Dims are
    the index columns; coords are lazy. Point selection and label slicing
    compile to filters (predicate pushdown); positional slicing compiles to
    a bucketed two-level rank (numeric keys: floor(key/W) buckets;
    non-numeric keys: range-sampled split points) — never a single-reducer
    global sort. Label slicing remains the preferred pushdown path.
    """

    def __init__(self, df: Any, *, index: Sequence[str], values: str):
        self.df = df
        self.index_cols = tuple(index)
        self.value_col = values

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {c: LazyCoords(self, c) for c in self.index_cols}

    @property
    def dims(self) -> tuple[IndexName, ...]:
        return self.index_cols

    @property
    def shape(self) -> tuple[int, ...]:
        raise TypeError('SparkColumn shape requires an action; not supported')

    def collect_coords(self, dim: str) -> list[IndexValue]:
        return [r[0] for r in self.df.select(dim).distinct().orderBy(dim).collect()]

    def at(self, coords: Mapping[IndexName, IndexValue]) -> Any:
        import pyspark.sql.functions as F

        df = self.df
        for dim, value in coords.items():
            df = df.filter(F.col(dim) == value)
        rows = df.select(self.value_col).limit(2).collect()
        if len(rows) != 1:
            raise KeyError(f'Expected exactly one element at {dict(coords)}')
        return rows[0][0]

    _POS_BUCKET_W = 4096

    def _with_position(self, df):
        """Attach the global 0-based position ``__pos`` in index order via
        the bucketed two-level rank (one shared implementation:
        :func:`cyclebane_spark.functions.ranking.with_global_position`) —
        no single-reducer sort; costs one extra NARROW scan (the leading
        index column only) for the bucket counts.

        Numeric leading index column (the common case — dense ids): rows
        bucket by ``floor(col / W)`` (monotone in the sort key).
        Non-numeric leading column (strings, dates, timestamps, booleans):
        buckets from RANGE-SAMPLED split points — see
        :meth:`_range_bucket_expr`. Exotic orderable types (arrays/structs
        as index dims) raise loudly; use label slicing instead.
        """
        import pyspark.sql.functions as F
        from pyspark.sql.types import NumericType

        from ..functions.ranking import with_global_position

        order_cols = [F.col(c) for c in self.index_cols]
        lead = self.index_cols[0]
        if not isinstance(df.schema[lead].dataType, NumericType):
            bucket = self._range_bucket_expr(df, lead)
        else:
            # W is a power of two, so the double division only shifts the
            # exponent: floor(key / W) is exact for every integer key <
            # 2^53. NULL keys sort FIRST under Spark's default ascending
            # order and NaN doubles sort LAST — give each its own sentinel
            # bucket (the helper requires NULL-free buckets). The sentinels
            # sit far outside floor(key/W)'s range for any |key| < 2^53.
            from pyspark.sql.types import FractionalType

            raw_bucket = F.floor(F.col(lead) / F.lit(self._POS_BUCKET_W))
            bucket = F.when(F.col(lead).isNull(), F.lit(-(1 << 61)))
            if isinstance(df.schema[lead].dataType, FractionalType):
                bucket = bucket.when(F.isnan(lead), F.lit(1 << 61))
            bucket = bucket.otherwise(raw_bucket)
        return with_global_position(df, bucket, order_cols, '__pos')

    _POS_MAX_SPLITS = 1024

    def _range_bucket_expr(self, df, lead: str):
        """Monotone range bucket for a NON-numeric leading index column —
        the declarative statement of Spark's own RangePartitioner: sample
        split points, binary-search each row into its range.

        A monotone numeric proxy stands in for the key (strings: the first
        7 bytes of the UTF-8 encoding as an unsigned integer — Spark
        compares strings byte-wise unsigned, so the proxy can never invert
        an order, only tie keys that share a 7-byte prefix, and ties just
        share a bucket; dates/timestamps/booleans: their natural integer
        form). ONE narrow scan computes up to 1023 equi-depth split points
        of the proxy (percentile_approx) plus the row count; the split list
        is thinned to ~n/W buckets and compiled into a nested CASE
        binary-search tree (depth log2 B comparisons per row, proxy
        evaluated once via a single-element transform binding). Bucket
        balance depends on the sample quality; POSITIONS DO NOT — any
        monotone bucket assignment gives exact global positions, since the
        within-bucket window orders by the full index columns.

        Cost: one eager narrow aggregation action at slice-construction
        time (the numeric path's analog is its lazy counts scan). At 100 TB
        the 1024-bucket cap is the knob to raise; each bucket is one task's
        sort, exactly like a post-RangePartitioner partition.

        NULL keys sort first and keep their own sentinel bucket (-1; tree
        buckets are >= 0).
        """
        import pyspark.sql.functions as F
        from pyspark.sql.types import (
            BooleanType,
            DateType,
            StringType,
            TimestampNTZType,
            TimestampType,
        )

        dtype = df.schema[lead].dataType
        quoted = f'`{lead}`'
        if isinstance(dtype, StringType):
            proxy_sql = (
                f"CAST(conv(hex(rpad(CAST({quoted} AS BINARY), 7, X'00')), "
                '16, 10) AS BIGINT)'
            )
        elif isinstance(dtype, DateType):
            proxy_sql = f'unix_date({quoted})'
        elif isinstance(dtype, (TimestampType, TimestampNTZType)):
            proxy_sql = f'unix_micros(CAST({quoted} AS TIMESTAMP))'
        elif isinstance(dtype, BooleanType):
            proxy_sql = f'CAST({quoted} AS INT)'
        else:
            raise TypeError(
                f'positional slicing is not supported for a {dtype.simpleString()} '
                f'leading index column; use label slicing (graph.loc) instead'
            )

        b_max = self._POS_MAX_SPLITS
        probs = ', '.join(f'{i / b_max!r}' for i in range(1, b_max))
        row = df.selectExpr(
            f'percentile_approx({proxy_sql}, array({probs}), 10000) AS q',
            f'count({quoted}) AS n',
        ).first()
        all_splits = sorted({int(s) for s in (row['q'] or []) if s is not None})
        target = max(1, min(b_max - 1, int(row['n']) // self._POS_BUCKET_W + 1))
        if target < len(all_splits):
            step = len(all_splits) / target
            splits = sorted({all_splits[int((j + 1) * step) - 1] for j in range(target - 1)})
        else:
            splits = all_splits

        def tree(lo: int, hi: int) -> str:
            # bucket(x) = #{i : splits[i] <= x}, as a binary-search CASE tree
            if hi - lo == 1:
                return str(lo)
            mid = (lo + hi) // 2
            return (
                f'(CASE WHEN p < {splits[mid - 1]} '
                f'THEN {tree(lo, mid)} ELSE {tree(mid, hi)} END)'
            )

        search = (
            'transform(array(CAST(({proxy}) AS BIGINT)), p -> {t})[0]'.format(
                proxy=proxy_sql, t=tree(0, len(splits) + 1)
            )
        )
        return (
            F.when(F.col(lead).isNull(), F.lit(-1))
            .otherwise(F.expr(search))
            .cast('long')
        )

    def islice(self, key: Mapping[IndexName, slice]) -> 'SparkColumn':
        """True positional slice: filter on the global position in index
        order (see :meth:`_with_position` for how the position is computed
        without a single-reducer sort). Label slicing (:meth:`lslice`)
        remains the pushdown path when positions are not required.
        """
        import pyspark.sql.functions as F

        df = self.df
        for dim, sl in key.items():
            if sl.step is not None and sl.step <= 0:
                raise ValueError('slice step must be positive')
            if (sl.start is not None and sl.start < 0) or (
                sl.stop is not None and sl.stop < 0
            ):
                # translating from-the-end bounds needs a count() action;
                # fail loudly rather than silently filtering on a negative
                # position (which returns all rows / no rows)
                raise ValueError(
                    'SparkColumn positional slicing does not support negative '
                    'bounds; use label slicing (graph.loc) instead'
                )
            df = self._with_position(df)
            cond = F.lit(True)
            start = sl.start or 0
            if start:
                cond = cond & (F.col('__pos') >= start)
            if sl.stop is not None:
                cond = cond & (F.col('__pos') < sl.stop)
            if sl.step is not None:
                cond = cond & ((F.col('__pos') - start) % sl.step == 0)
            df = df.filter(cond).drop('__pos')
        return SparkColumn(df, index=self.index_cols, values=self.value_col)

    def lslice(self, key: Mapping[IndexName, slice]) -> 'SparkColumn':
        """Label-range slice: predicates on index columns (stop-exclusive,
        SQL convention) — pushed down to the parquet scan."""
        import pyspark.sql.functions as F

        df = self.df
        for dim, sl in key.items():
            if sl.step is not None:
                raise ValueError('SparkColumn label slicing does not support step')
            if sl.start is not None:
                df = df.filter(F.col(dim) >= sl.start)
            if sl.stop is not None:
                df = df.filter(F.col(dim) < sl.stop)
        return SparkColumn(df, index=self.index_cols, values=self.value_col)

    def equals(self, other: DimArray) -> bool:
        return (
            isinstance(other, SparkColumn)
            and self.df is other.df
            and self.index_cols == other.index_cols
            and self.value_col == other.value_col
        )

    def grouped(self, group_dim: IndexName) -> 'SparkGroups':
        if len(self.index_cols) != 1:
            raise NotImplementedError('grouping requires a 1-D label column')
        return SparkGroups(
            label_df=self.df,
            inner_col=self.index_cols[0],
            label_col=self.value_col,
            group_dim=group_dim,
        )


class SparkGroups(DimArray):
    """Lazy grouping of a Spark-backed label column.

    Never materializes group membership on the driver: the compiler turns it
    into ``join(labels) … groupBy(label)``.
    """

    def __init__(
        self, *, label_df: Any, inner_col: str, label_col: str, group_dim: IndexName
    ):
        self.label_df = label_df
        self.inner_col = inner_col
        self.label_col = label_col
        self.group_dim = group_dim
        self.inner_dim = inner_col

    @property
    def coords(self) -> dict[IndexName, Iterable[IndexValue]]:
        return {self.group_dim: LazyCoords(self, self.group_dim)}  # type: ignore[arg-type]

    def is_grouping(self) -> bool:
        return True

    def equals(self, other: DimArray) -> bool:
        return (
            isinstance(other, SparkGroups)
            and self.label_df is other.label_df
            and self.inner_col == other.inner_col
            and self.label_col == other.label_col
            and self.group_dim == other.group_dim
        )


def as_dim_array(obj: Any, *, axis_zero: int = 0) -> DimArray:
    """Adapt an array-like object to a DimArray (explicit dispatch)."""
    if isinstance(obj, DimArray):
        return obj
    try:
        import pandas as pd

        if isinstance(obj, pd.Series):
            return SeriesArray(obj, axis_zero=axis_zero)
    except ImportError:
        pass
    try:
        import numpy as np

        if isinstance(obj, np.ndarray):
            return NdArray(obj, axis_zero=axis_zero)
    except ImportError:
        pass
    try:
        import xarray as xr

        if isinstance(obj, xr.DataArray):
            return XArrayArray(obj)
    except ImportError:
        pass
    try:
        import scipp as sc

        if isinstance(obj, sc.Variable):
            return ScippArray(sc.DataArray(obj), sc)
        if isinstance(obj, sc.DataArray):
            return ScippArray(obj, sc)
    except ImportError:
        pass
    if isinstance(obj, Sequence):
        return SeqArray(obj, axis_zero=axis_zero)
    raise ValueError(f'Cannot create ValueArray from {obj}')
