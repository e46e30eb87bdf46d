"""The task-graph algebra: map / reduce / groupby / slicing / branch surgery.

This reproduces the *semantics* of the reference library scipp/cyclebane
(``/root/reference/src/cyclebane/graph.py``) on an independent, Spark-first
architecture:

- The compact plan is a :class:`~cyclebane_spark.plan.dag.Dag` (plain dicts,
  O(plan) surgery) whose node keys are either plain hashables or
  :class:`MappedNode` families.
- Values are :class:`~cyclebane_spark.sources.arrays.DimArray` objects in a
  :class:`~cyclebane_spark.plan.store.ValueStore` (the dim catalog).
- ``to_networkx()`` expands the compact plan for parity/testing by *semantic
  enumeration*: an instance edge ``u_i -> v_j`` exists iff the instances agree
  on all shared dims, with groupby edges additionally restricted to group
  membership. This is equivalent to (but structured differently from) the
  reference's per-dim clone-and-compose (graph.py:367-441,595-611).
  The expansion costs O(instances + instance edges): each compact edge is
  a hash join of the two families on their shared dims.
- Production execution never expands anything: see
  ``cyclebane_spark.operators.compile`` which turns node families into
  DataFrames (a family with dims d1..dk is a DataFrame keyed by columns
  d1..dk — the cartesian explosion stays distributed).

Error-message surface matches the reference (SURVEY.md §2.3).
"""

from __future__ import annotations

import itertools
from collections.abc import Hashable, Iterable, Mapping
from typing import Any
from uuid import uuid4

from ..sources.arrays import DimArray, GroupsArray, LazyCoords, SparkColumn, SparkGroups
from .dag import Dag
from .keys import IndexName, IndexValue, IndexValues, MappedNode, NodeName
from .keys import base_name as _base
from .keys import mapped as _mapped
from .keys import node_dims as _dims
from .store import ValueStore


def _unique_sink(dag: Dag) -> Hashable:
    sinks = dag.sinks()
    if len(sinks) != 1:
        raise ValueError(f'Graph must have exactly one sink node, got {sinks}')
    return sinks[0]


def _fresh_name(dag: Dag) -> str:
    while True:
        name = str(uuid4())
        if name not in dag:
            return name


def _drop_exclusive_ancestors(dag: Dag, node: Hashable) -> Dag:
    """Remove ancestors that feed *only* ``node``; keep the node, cleared.

    Parity with reference ``_remove_ancestors`` (graph.py:30-53), including
    the early return when the node has neither ancestors nor attributes.
    """
    ancestors = dag.ancestors(node)
    if not ancestors and not dag.node_attrs(node):
        return dag
    probe = dag.copy()
    probe.remove_node(node)
    doomed = [a for a in ancestors if probe.descendants(a) <= ancestors]
    out = dag.copy()
    for a in doomed:
        out.remove_node(a)
    out.remove_in_edges(node)
    out.node_attrs(node).clear()
    return out


def _to_dag(graph: Any) -> Dag:
    if isinstance(graph, Dag):
        return graph.copy()
    if hasattr(graph, 'nodes') and hasattr(graph, 'edges'):
        return Dag.from_networkx(graph)
    return Dag.from_edges(graph)


class PositionalIndexer:
    """``graph.by_position(dim)[start:stop]`` — positional slice of one dim."""

    _method = 'islice'

    def __init__(self, graph: Graph, index_name: IndexName):
        self._graph = graph
        self._index_name = index_name

    def __getitem__(self, key: int | slice) -> Graph:
        if not isinstance(key, slice):
            raise NotImplementedError('Only slices are supported')
        store = ValueStore()
        for name, array in self._graph._store.items():
            if self._index_name in array.dims:
                array = getattr(array, self._method)({self._index_name: key})
            store.set(name, array)
        return Graph(self._graph._dag, node_values=store)


class LabelIndexer(PositionalIndexer):
    """``graph.loc(dim)[lo:hi]`` — label-range slice of one dim.

    Engine addition (the reference exposes label slicing only at the
    ValueArray level, value_array.py:60-67): on Spark-backed arrays this is
    the scale path — range predicates pushed down to the scan instead of a
    global positional sort.

    Bounds are stop-EXCLUSIVE for EVERY backend (``lslice_excl``): a graph
    mixing pandas- and Spark-backed arrays on a shared dim gets one
    consistent row set.  Array-level ``DimArray.loc`` keeps each backend's
    native convention (pandas stop-inclusive) for reference parity.
    """

    _method = 'lslice_excl'


class Graph:
    """A DAG with array-like structure on mapped branches.

    Accepts a ``networkx.DiGraph``, an edge iterable, or a ``Dag``.
    """

    def __init__(self, graph: Any, *, node_values: ValueStore | None = None):
        self._dag = _to_dag(graph)
        self._store = node_values if node_values is not None else ValueStore()

    # -- introspection ------------------------------------------------------
    @property
    def graph(self):
        """A networkx.DiGraph snapshot of the compact plan (read-only)."""
        return self._dag.to_networkx()

    @property
    def dag(self) -> Dag:
        return self._dag

    @property
    def indices(self) -> dict[IndexName, Iterable[IndexValue]]:
        return self._store.indices

    @property
    def index_names(self) -> tuple[IndexName, ...]:
        return tuple(self._store.indices)

    @property
    def node_values(self) -> ValueStore:
        return self._store

    def copy(self) -> Graph:
        return Graph(self._dag.copy(), node_values=self._store.copy())

    # -- map ----------------------------------------------------------------
    def map(self, node_values: Any) -> Graph:
        """Attach arrays to source nodes; descendants gain the new dims.

        ``node_values`` is a mapping name -> array-like, or a pandas
        DataFrame (each column becomes one node, all sharing the row index).
        New dims are prepended to descendants' dims (numpy.stack axis-0
        convention).
        """
        new_store = ValueStore.from_mapping(
            _as_mapping(node_values), axis_zero=len(self.index_names)
        )
        dag = self._dag.copy()
        for root in new_store:
            dag.add_node(root)

        new_dims = tuple(new_store.indices)
        to_relabel: set[Hashable] = set()
        for root in new_store:
            if dag.in_degree(root) > 0:
                raise ValueError(f"Mapped node '{root}' is not a source node")
            to_relabel |= dag.descendants(root) | {root}
        mapping = {node: _mapped(node, new_dims) for node in to_relabel}
        return Graph(
            dag.relabel(mapping), node_values=self._store.merge(new_store)
        )

    # -- reduce ---------------------------------------------------------------
    def reduce(
        self,
        key: Hashable | None = None,
        *,
        index: Hashable | None = None,
        axis: int | None = None,
        name: Hashable | None = None,
        attrs: dict[str, Any] | None = None,
        _extra_index_name: IndexName | None = None,
    ) -> Graph:
        """Fan-in over one dim (``index``/``axis``) or all dims of ``key``.

        ``axis`` is node-relative (counts the node family's dims in prepend
        order), not graph-relative.
        """
        # falsy coalescing ('or', not 'is None') is bug-for-bug parity with
        # the reference (graph.py:308-309): a key/name of 0, '' or False
        # falls back to the unique sink / a generated uuid name there too
        key = key or _unique_sink(self._dag)
        name = name or _fresh_name(self._dag)
        attrs = attrs or {}
        if index is not None and axis is not None:
            raise ValueError('Only one of index and axis can be given')
        key = self._resolve_key(key)
        dims = _dims(key)
        if index is not None and index not in dims:
            raise ValueError(f"Node '{key}' does not have index '{index}'.")
        if axis is not None and (axis < 0 or axis >= len(dims)):
            raise ValueError(f"Node '{key}' does not have axis '{axis}'.")
        if index is not None:
            remaining = tuple(d for d in dims if d != index)
        elif axis is not None:
            remaining = tuple(d for i, d in enumerate(dims) if i != axis)
        else:
            remaining = None
        if _extra_index_name is not None:
            remaining = (
                (_extra_index_name,)
                if remaining is None
                else (*remaining, _extra_index_name)
            )
        if name in self._dag:
            raise ValueError(f"Node '{name}' already exists in the graph.")

        dag = self._dag.copy()
        new_node = MappedNode(name=name, indices=remaining) if remaining else name
        dag.add_node(new_node, **attrs)
        dag.add_edge(key, new_node)
        return Graph(dag, node_values=self._store)

    # -- groupby ----------------------------------------------------------------
    def groupby(self, node: Hashable) -> GroupbyGraph:
        return GroupbyGraph(self._dag, self._store, node)

    # -- indexing / slicing -------------------------------------------------
    def by_position(self, index_name: IndexName) -> PositionalIndexer:
        return PositionalIndexer(self, index_name)

    def loc(self, index_name: IndexName) -> LabelIndexer:
        return LabelIndexer(self, index_name)

    def _resolve_key(
        self, key: Hashable, match_dim: IndexName | None = None
    ) -> Hashable:
        """Resolve a pre-map (original) name to its current node key."""
        if key in self._dag:
            return key
        matches = [
            node
            for node in self._dag
            if isinstance(node, MappedNode) and node.name == key
        ]
        if match_dim is not None:
            matches = [node for node in matches if match_dim in node.indices]
        if len(matches) == 0:
            raise KeyError(f"Node '{key}' does not exist in the graph.")
        if len(matches) > 1:
            raise KeyError(f"Node '{key}' is ambiguous. Found {matches}.")
        return matches[0]

    # -- branch surgery -------------------------------------------------------
    def __getitem__(self, key: Hashable | slice) -> Graph:
        """The branch ending at ``key``: the node and all its ancestors."""
        if isinstance(key, slice):
            raise NotImplementedError('Only single nodes are supported ')
        key = self._resolve_key(key)
        keep = self._dag.ancestors(key) | {key}
        mapped_names = {_base(n) for n in keep if isinstance(n, MappedNode)}
        return Graph(
            self._dag.subgraph(keep),
            node_values=self._store.subset(mapped_names),
        )

    def __delitem__(self, key: Hashable | slice) -> None:
        """Drop ancestors feeding only ``key``; clear its data, keep the node."""
        if isinstance(key, slice):
            raise NotImplementedError('Only single nodes are supported ')
        key = self._resolve_key(key)
        if isinstance(key, MappedNode):
            raise ValueError('Cannot delete mapped node.')
        dag = _drop_exclusive_ancestors(self._dag, key)
        mapped_names = {_base(n) for n in dag if isinstance(n, MappedNode)}
        self._store = self._store.subset(mapped_names)
        self._dag = dag

    def __setitem__(self, branch: Hashable | slice, other: Graph) -> None:
        """Graft ``other`` (unique sink) in place of ``branch``."""
        if isinstance(branch, slice):
            raise NotImplementedError('Setting slice not supported yet.')
        if not isinstance(other, Graph):
            raise TypeError(f'Expected {Graph}, got {type(other)}')
        sink = _unique_sink(other._dag)
        try:
            branch = self._resolve_key(branch)
        except KeyError:
            pass
        if isinstance(sink, MappedNode) != isinstance(branch, MappedNode):
            raise NotImplementedError(
                'Trying to set mapped node on non-mapped node (or vice versa) '
                'is not possible in __setitem__'
            )
        new_branch = other._dag.relabel({sink: branch})
        if branch in self._dag:
            dag = _drop_exclusive_ancestors(self._dag, branch)
        else:
            dag = self._dag

        overlap = (set(dag.nodes) & set(new_branch.nodes)) - {branch}
        for node in overlap:
            if set(dag.predecessors(node)) != set(new_branch.predecessors(node)):
                raise ValueError(
                    f"Node inputs differ for node '{node}':\n"
                    f"  {dag.predecessors(node)}\n"
                    f"  {new_branch.predecessors(node)}\n"
                )
            if dag.node_attrs(node) != new_branch.node_attrs(node):
                raise ValueError(f"Node data differs for node '{node}'")

        store = self._store.merge(other._store)
        if _base(sink) in store:
            # Re-key the grafted sink's values through the VALIDATED set()
            # path (not rename): grafting onto an already-mapped node with
            # different dims/indices must raise like the reference
            # (NodeValues.__setitem__, node_values.py:54-92 via
            # graph.py:530-537), not silently desync store and dag.
            store = store.copy()
            array = store[_base(sink)]
            store.discard(_base(sink))
            store.set(_base(branch), array)
        self._store = store
        self._dag = dag.compose(new_branch)

    # -- materialization ------------------------------------------------------
    def to_networkx(self, value_attr: str = 'value'):
        """Expand the compact plan into a concrete instance DAG.

        Parity mode for tests/inspection: O(product of dim sizes) driver
        memory, exactly like the reference. Production execution goes through
        the Spark compiler instead.

        Time is O(instances + instance edges): every family is enumerated
        once, and each compact edge ``u -> v`` is a hash join on the dims the
        two families share, so no pair of instances is ever compared.
        """
        import networkx as nx

        store = _eager_store(self._store)
        catalog = {
            dim: list(values) for dim, values in store.indices.items()
        }
        groupings: dict[Hashable, GroupsArray] = {
            name: array
            for name, array in store.items()
            if isinstance(array, GroupsArray)
        }

        def axes_of(node: Hashable) -> tuple[IndexName, ...]:
            nd = set(_dims(node))
            return tuple(d for d in catalog if d in nd)

        def instances(node: Hashable) -> list[Hashable]:
            if not isinstance(node, MappedNode):
                return [node]
            axes = axes_of(node)
            return [
                NodeName(node.name, IndexValues(axes, values))
                for values in itertools.product(*(catalog[d] for d in axes))
            ]

        out = nx.DiGraph()
        family: dict[Hashable, list[Hashable]] = {}
        for node in self._dag.nodes:
            attrs = self._dag.node_attrs(node)
            family[node] = instances(node)
            for inst in family[node]:
                out.add_node(inst, **dict(attrs))

        for u, v in self._dag.edges:
            grouping = groupings.get(_base(v))
            u_axes, v_axes = axes_of(u), axes_of(v)
            shared = [d for d in v_axes if d in u_axes]
            if grouping is not None and grouping.inner_dim in set(_dims(u)):
                # Group-membership edges: the predecessor's inner-dim values
                # come from the grouping's member lists, not the catalog —
                # the grouping snapshots membership at groupby() time, so a
                # later positional slice of the inner dim does not restrict
                # grouped fan-in (parity with reference graph.py:426-441).
                #
                # Axis ORDER parity: the reference expands groupby subgraphs
                # by per-dim cloning in reversed-catalog order with
                # prepend-merge, handling the inner dim at the group dim's
                # step (graph.py:426-441, merge_index graph.py:70-73). The
                # resulting instance keys can therefore order axes
                # differently from the regular expansion of the same family
                # (the reference's own tests assert this, e.g.
                # groupby_test.py:802-806) — simulate that order here.
                inner = grouping.inner_dim
                u_dims = set(_dims(u))
                gb_axes: list[IndexName] = []
                for d in [
                    d for d in reversed(list(catalog)) if d != inner
                ]:
                    if d in u_dims:
                        gb_axes.insert(0, d)
                    if d == grouping.group_dim and inner in u_dims:
                        gb_axes.insert(0, inner)
                other_axes = [d for d in gb_axes if d != inner]
                u_attrs = self._dag.node_attrs(u)
                members = dict(
                    zip(grouping.labels, grouping.members, strict=True)
                )
                # A shared axis takes only the catalog values equal to the
                # reduce instance's own; the free axes span the catalog.
                equal = {d: _equal_values(catalog[d]) for d in shared}
                for vi in family[v]:
                    vc = vi.index.to_dict()
                    choices = [
                        equal[d].get(vc[d], ()) if d in equal else catalog[d]
                        for d in other_axes
                    ]
                    for m in members[vc[grouping.group_dim]]:
                        for combo in itertools.product(*choices):
                            uc = dict(zip(other_axes, combo, strict=True))
                            uc[inner] = m
                            ui = NodeName(
                                _base(u),
                                IndexValues(
                                    tuple(gb_axes),
                                    tuple(uc[d] for d in gb_axes),
                                ),
                            )
                            if ui not in out:
                                out.add_node(ui, **dict(u_attrs))
                            out.add_edge(ui, vi)
                continue
            # Hash join on the shared dims: bucket v's instances by their
            # shared values (in v's order), then give each u instance, in
            # u's order, the edges to its bucket.
            v_key, u_key = _shared_key(v_axes, shared), _shared_key(u_axes, shared)
            buckets: dict[tuple, list[Hashable]] = {}
            for vi in family[v]:
                key = v_key(vi)
                if all(x == x for x in key):  # NaN never matches
                    buckets.setdefault(key, []).append(vi)
            for ui in family[u]:
                for vi in buckets.get(u_key(ui), ()):
                    out.add_edge(ui, vi)

        for node in out.nodes:
            if not isinstance(node, NodeName):
                continue
            array = store.get(node.name)
            if array is None or array.is_grouping():
                continue
            out.nodes[node][value_attr] = array.at(node.index.to_dict())
        return out


class GroupbyGraph:
    """Intermediate grouped state between ``.groupby(label)`` and ``.reduce``."""

    def __init__(self, dag: Dag, store: ValueStore, node: Hashable):
        self._dag = dag
        self._store = store
        label_array = store[node]  # KeyError on unknown node (parity)
        self._group_dim = node
        self._inner_dim = label_array.dims[0]
        self._groups = label_array.grouped(node)

    def reduce(
        self,
        key: Hashable | None = None,
        *,
        name: Hashable | None = None,
        attrs: dict[str, Any] | None = None,
    ) -> Graph:
        """Per-group fan-in: one reduce instance per distinct label value."""
        # 'or' (falsy) coalescing mirrors reference graph.py:580
        name = name or _fresh_name(self._dag)
        store = self._store.merge({name: self._groups})
        return Graph(self._dag, node_values=store).reduce(
            key=key,
            index=self._inner_dim,
            name=name,
            attrs=attrs,
            _extra_index_name=self._group_dim,
        )


def _shared_key(axes: tuple[IndexName, ...], shared: list[IndexName]):
    """Instance of a family with ``axes`` -> its values on ``shared``
    (``()`` for every instance, unmapped ones included, if none are shared)."""
    positions = [axes.index(d) for d in shared]
    return lambda inst: tuple(inst.index.values[p] for p in positions)


def _equal_values(values: list[IndexValue]) -> dict[IndexValue, list[IndexValue]]:
    """Each value -> every value in ``values`` equal to it, in order.

    NaN-like labels equal nothing, not even themselves, so they are left out
    and never match: the same rule as comparing labels pairwise with ``!=``.
    """
    out: dict[IndexValue, list[IndexValue]] = {}
    for x in values:
        if x == x:
            out.setdefault(x, []).append(x)
    return out


def _as_mapping(node_values: Any) -> Mapping[Hashable, Any]:
    try:
        import pandas as pd

        if isinstance(node_values, pd.DataFrame):
            # .items() (not __getitem__) so exotic column names like Python
            # types work — DataFrame.__getitem__ chokes on callable keys.
            return dict(node_values.items())
    except ImportError:
        pass
    return node_values


def _eager_store(store: ValueStore) -> ValueStore:
    """Collect Spark-backed arrays so the catalog can be enumerated."""
    needs_collect = any(
        isinstance(a, (SparkColumn, SparkGroups))
        or any(isinstance(c, LazyCoords) for c in a.coords.values())
        for a in store._arrays.values()
    )
    if not needs_collect:
        return store
    out = store.copy()
    for name, array in list(out.items()):
        if isinstance(array, SparkGroups):
            out._arrays[name] = _collect_groups(array)
        elif isinstance(array, SparkColumn):
            out._arrays[name] = _collect_column(array)
    return out


def _collect_groups(groups: SparkGroups) -> GroupsArray:
    rows = (
        groups.label_df.select(groups.label_col, groups.inner_col)
        .orderBy(groups.label_col, groups.inner_col)
        .collect()
    )
    labels: list[IndexValue] = []
    members: list[list[IndexValue]] = []
    for label, inner in ((r[0], r[1]) for r in rows):
        if not labels or labels[-1] != label:
            labels.append(label)
            members.append([])
        members[-1].append(inner)
    return GroupsArray(
        group_dim=groups.group_dim,
        inner_dim=groups.inner_dim,
        labels=labels,
        members=members,
    )


def _collect_column(col: SparkColumn) -> DimArray:
    import pandas as pd

    if len(col.index_cols) != 1:
        return _collect_multi_index_column(col)
    pdf = col.df.select(col.index_cols[0], col.value_col).toPandas()
    series = pd.Series(
        list(pdf[col.value_col]),
        index=pd.Index(pdf[col.index_cols[0]], name=col.index_cols[0]),
    )
    from ..sources.arrays import SeriesArray

    return SeriesArray(series)


def _collect_multi_index_column(col: SparkColumn) -> DimArray:
    """Parity expansion of a multi-index SparkColumn: dense N-D pivot.

    The reference's multi-dim arrays (numpy/xarray/scipp) are DENSE — every
    coord combination holds a value — so parity mode requires the collected
    index to be a full cross product; a sparse index (e.g. ragged
    (orderkey, linenumber) pairs) has no reference-model equivalent and
    fails loudly.  Production execution compiles the sparse form natively
    (the Spark compiler joins on index columns and never densifies).
    """
    import itertools

    import numpy as np

    from ..sources.arrays import NdArray

    dims = list(col.index_cols)
    pdf = (
        col.df.select(*dims, col.value_col).toPandas().sort_values(dims)
    )
    coords = {d: sorted(pdf[d].unique().tolist()) for d in dims}
    sizes = [len(coords[d]) for d in dims]
    got = [tuple(t) for t in pdf[dims].itertuples(index=False, name=None)]
    want = list(itertools.product(*(coords[d] for d in dims)))
    if got != want:
        raise ValueError(
            f'Multi-index SparkColumn over {dims} is sparse (has '
            f'{len(got)} rows, dense cross product needs {len(want)}); '
            'parity expansion requires a dense index — use the Spark '
            'compiler for execution instead.'
        )
    values = np.empty(len(got), dtype=object)
    values[:] = list(pdf[col.value_col])
    return NdArray(values.reshape(sizes), coords=coords)
