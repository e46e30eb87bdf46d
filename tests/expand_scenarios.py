"""Plan-algebra scenarios expanded with ``to_networkx()``, shared by the
expansion goldens (``test_expand_golden.py``) and the reference differential
(``test_reference_differential.py``).

Every builder takes the graph class ``G`` — ``cyclebane_spark.Graph`` or the
reference library's ``Graph`` — and applies the same workflow with it, so
one definition serves both the frozen goldens and the live comparison. No
builder needs Spark or the reference library.
"""

from __future__ import annotations

import networkx as nx
import numpy as np
import pandas as pd


def canon(nxg):
    """Order-free canonical form of an expanded graph: sorted node strings,
    sorted edge strings and sorted stringified node attributes."""
    nodes = sorted(str(n) for n in nxg.nodes)
    edges = sorted((str(a), str(b)) for a, b in nxg.edges)
    attrs = sorted(
        (str(n), sorted((k, str(v)) for k, v in d.items()))
        for n, d in nxg.nodes(data=True)
    )
    return nodes, edges, attrs


# -- named scenarios -----------------------------------------------------------


def chained_maps_orthogonal_dims(G):
    g = G(nx.DiGraph([('a', 'c'), ('b', 'c'), ('c', 'd')]))
    g = g.map({'a': [1, 2]})
    g = g.map({'b': [10, 20, 30]})
    return g.reduce('d', name='total')


def joint_map_dataframe_shares_dim(G):
    g = G(nx.DiGraph([('x', 'z'), ('y', 'z')]))
    g = g.map(pd.DataFrame({'x': [1, 2, 3], 'y': [4, 5, 6]}))
    return g.reduce('z', name='total')


def numpy_2d_map_and_axis_reduce(G):
    g = G(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': np.arange(6).reshape(2, 3)})
    return g.reduce('b', axis=1, name='r')


def reduce_axis_is_node_relative_after_second_map(G):
    g = G(nx.DiGraph([('a', 'b'), ('c', 'b')]))
    g = g.map({'a': [1, 2]})
    g = g.map({'c': [5, 6, 7]})
    return g.reduce('b', axis=0, name='r')


def reduce_index_keeps_other_dims(G):
    g = G(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': np.arange(4).reshape(2, 2)})
    return g.reduce('b', index='dim_1', name='r')


def chained_reduce(G):
    g = G(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': np.arange(6).reshape(2, 3)})
    g = g.reduce('b', index='dim_0', name='r0')
    return g.reduce('r0', index='dim_1', name='r1')


def groupby_reduce_with_pandas_label(G):
    g = G(nx.DiGraph([('v', 'w')]))
    df = pd.DataFrame({'v': [1, 2, 3, 4], 'lab': ['p', 'q', 'p', 'q']})
    g = g.map(df)
    return g.groupby('lab').reduce('w', name='agg')


def groupby_reduce_then_regular_reduce(G):
    g = groupby_reduce_with_pandas_label(G)
    return g.reduce('agg', name='final')


def groupby_2d_node(G):
    g = G(nx.DiGraph([('v', 'w'), ('u', 'w')]))
    df = pd.DataFrame({'v': [1, 2, 3, 4], 'lab': ['p', 'q', 'p', 'q']})
    g = g.map(df)
    g = g.map({'u': [7, 8]})
    return g.groupby('lab').reduce('w', name='agg')


def regular_reduce_2d_then_groupby_reduce(G):
    g = G(nx.DiGraph([('a', 'c'), ('b', 'c')]))
    g = g.map({'a': [1, 2, 3]}).map({'b': [10, 20]})
    g = g.reduce('c', name='reduced_c', index='dim_1')
    g = g.map(
        pd.DataFrame({'param': ['x', 'x', 'y']}).set_index(
            pd.RangeIndex(3, name='dim_0')
        )
    )
    return g.groupby('param').reduce('reduced_c', name='final')


def groupby_2d_then_regular_reduce(G):
    g = G(nx.DiGraph([('a', 'c'), ('b', 'c')]))
    df = pd.DataFrame({'a': [1, 2, 3], 'param': ['x', 'x', 'y']})
    g = g.map(df).map({'b': [10, 20]})
    g = g.groupby('param').reduce('c', name='grouped_c')
    return g.reduce('grouped_c', name='final', index='dim_1')


def chained_groupby(G):
    g = G(nx.DiGraph([('v', 'w')]))
    df = pd.DataFrame({'v': [1, 2, 3, 4], 'fine': ['a', 'a', 'b', 'b']})
    g = g.map(df)
    g = g.groupby('fine').reduce('w', name='per_fine')
    g = g.map(
        pd.DataFrame({'coarse': ['g1', 'g2']}).set_index(
            pd.Index(['a', 'b'], name='fine')
        )
    )
    return g.groupby('coarse').reduce('per_fine', name='per_coarse')


def slice_inner_dim_after_groupby_keeps_grouped_fanin(G):
    """Grouping snapshots membership at groupby() time: slicing the inner
    dim afterwards must not restrict grouped fan-in (reference
    graph.py:426-441 semantics)."""
    g = groupby_reduce_with_pandas_label(G)
    return g.by_position('dim_0')[0:2]


def positional_slice_then_reduce(G):
    g = G(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': [1, 2, 3, 4, 5]})
    g = g.by_position('dim_0')[1:4]
    return g.reduce('b', name='r')


def getitem_branch(G):
    g = G(nx.DiGraph([('a', 'b'), ('b', 'c'), ('x', 'c')]))
    g = g.map({'a': [1, 2]})
    return g['b']


def setitem_grafts_branch(G):
    g = G(nx.DiGraph([('a', 'b'), ('b', 'c')]))
    g = g.map({'a': [1, 2]})
    other = G(nx.DiGraph([('p', 'b')]))
    other = other.map({'p': [5, 6]})
    g['b'] = other
    return g


def delitem_prunes_exclusive_ancestors(G):
    g = G(nx.DiGraph([('a', 'b'), ('b', 'c'), ('x', 'c')]))
    del g['b']
    return g


def attrs_preserved_through_map_and_reduce(G):
    ng = nx.DiGraph([('a', 'b')])
    ng.nodes['b']['kind'] = 'transform'
    g = G(ng)
    g = g.map({'a': [1, 2]})
    return g.reduce('b', name='r', attrs={'kind': 'agg'})


class Raw: ...


class Clean: ...


class Result: ...


def type_object_node_keys(G):
    """Node names may be arbitrary Hashables — the reference's own tests use
    Python ``type`` objects as keys (reference tests/graph_test.py:237-258)."""
    g = G(nx.DiGraph([(Raw, Clean), (Clean, Result)]))
    g = g.map({Raw: [1, 2, 3]})
    return g.reduce(Result, name='total')


def empty_map_is_noop(G):
    g = G(nx.DiGraph([('a', 'b')]))
    return g.map({})


def setitem_mapped_branch_with_mapped_graft_same_dim(G):
    """Graft a mapped graph onto a mapped branch: both sinks are mapped, the
    replacement re-keys the graft's values to the branch name and the dims
    must line up (reference graph.py:494-535)."""
    g = G(nx.DiGraph([('a', 'b'), ('b', 'c')]))
    g = g.map({'a': [1, 2]})
    other = G(nx.DiGraph([('p', 'q'), ('q', 'b')]))
    other = other.map({'p': [5, 6]})
    g['b'] = other
    return g


def numpy_3d_map_middle_axis_reduce(G):
    g = G(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': np.arange(24).reshape(2, 3, 4)})
    return g.reduce('b', axis=1, name='r')


def copy_shares_values_and_structure(G):
    g = G(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': [1, 2]})
    return g.copy().reduce('b', name='r')


def reduce_falsy_key_falls_back_to_sink(G):
    # key=0 is falsy: the reference's `key or _get_unique_sink(...)` ignores
    # the literal node 0 and reduces the sink instead — bug-for-bug parity.
    g = G(nx.DiGraph([(0, 'b')]))
    g = g.map({0: [1, 2]})
    return g.reduce(0, name='r')


def series_indexed_by_existing_dim_joins_on_it(G):
    """A second map whose pandas index IS an existing dim joins on that dim
    instead of adding a new one (reference graph_test.py:645-659)."""
    g = G(nx.DiGraph([('a', 'b'), ('c', 'b')]))
    g = g.map({'a': [10, 20, 30]})  # creates dim_0
    s = pd.Series([5, 6, 7], index=pd.RangeIndex(3, name='dim_0'), name='c')
    g = g.map({'c': s})  # keyed by the EXISTING dim
    return g.reduce('b', name='out')


def setitem_preserves_sink_node_values(G):
    """Grafting a branch re-keys the replacement's sink values onto the
    branch name (reference graph_test.py:699 semantics)."""
    g = G(nx.DiGraph([('a', 'b'), ('b', 'c')]))
    g = g.map({'a': [1, 2, 3]})
    g['b'] = g['a']  # replacement sink 'a' is mapped; values re-key to 'b'
    return g


def getitem_accepts_pre_map_original_name(G):
    """Branch selection resolves original (pre-map) node names
    (_from_orig_key, reference graph.py:343-362)."""
    g = G(nx.DiGraph([('a', 'b'), ('b', 'c')]))
    g = g.map({'a': [1, 2, 3]})
    return g['b']  # 'b' is now MappedNode('b', ('dim_0',))


NAMED = {
    build.__name__: build
    for build in (
        chained_maps_orthogonal_dims,
        joint_map_dataframe_shares_dim,
        numpy_2d_map_and_axis_reduce,
        reduce_axis_is_node_relative_after_second_map,
        reduce_index_keeps_other_dims,
        chained_reduce,
        groupby_reduce_with_pandas_label,
        groupby_reduce_then_regular_reduce,
        groupby_2d_node,
        regular_reduce_2d_then_groupby_reduce,
        groupby_2d_then_regular_reduce,
        chained_groupby,
        slice_inner_dim_after_groupby_keeps_grouped_fanin,
        positional_slice_then_reduce,
        getitem_branch,
        setitem_grafts_branch,
        delitem_prunes_exclusive_ancestors,
        attrs_preserved_through_map_and_reduce,
        type_object_node_keys,
        empty_map_is_noop,
        setitem_mapped_branch_with_mapped_graft_same_dim,
        numpy_3d_map_middle_axis_reduce,
        copy_shares_values_and_structure,
        reduce_falsy_key_falls_back_to_sink,
        series_indexed_by_existing_dim_joins_on_it,
        setitem_preserves_sink_node_values,
        getitem_accepts_pre_map_original_name,
    )
}


# -- randomized workflows ------------------------------------------------------


def random_workflow(G, rng: np.random.Generator):
    """A random-but-valid workflow applied identically to either library."""
    n_roots = int(rng.integers(1, 4))
    roots = [f'r{i}' for i in range(n_roots)]
    edges = [(r, 'mid') for r in roots] + [('mid', 'sink')]
    g = G(nx.DiGraph(edges))
    # map a random subset of roots, possibly jointly
    k = int(rng.integers(1, n_roots + 1))
    chosen = list(rng.choice(roots, size=k, replace=False))
    if rng.random() < 0.5 and k > 1:
        # joint map: one DataFrame, shared dim
        n = int(rng.integers(2, 5))
        g = g.map(
            pd.DataFrame({c: rng.integers(0, 100, n).tolist() for c in chosen})
        )
    else:
        for c in chosen:
            if rng.random() < 0.3:
                arr = rng.integers(0, 9, (2, int(rng.integers(2, 4))))
                g = g.map({c: arr})
            else:
                g = g.map({c: rng.integers(0, 100, int(rng.integers(2, 5))).tolist()})
    # maybe slice one dim positionally
    dims = list(g.indices) if hasattr(g, 'indices') else []
    if dims and rng.random() < 0.4:
        g = g.by_position(dims[0])[0:2]
    # maybe exercise branch surgery: project out 'mid' and graft it back
    if rng.random() < 0.3:
        branch = g['mid']
        g['mid'] = branch
    # reduce the sink over a random choice
    mode = rng.random()
    sink_dims = [d for d in dims]
    if mode < 0.4 and sink_dims:
        g = g.reduce('sink', index=sink_dims[int(rng.integers(len(sink_dims)))], name='out')
    elif mode < 0.6 and sink_dims:
        g = g.reduce('sink', axis=0, name='out')
    else:
        g = g.reduce('sink', name='out')
    return g


def random_groupby_workflow(G, rng: np.random.Generator):
    """Random map + groupby-reduce workflows (optionally 2-D, sliced)."""
    n = int(rng.integers(2, 8))
    labels = [str(x) for x in rng.integers(0, 3, n)]
    g = G(nx.DiGraph([('v', 'w'), ('u', 'w')]))
    g = g.map(
        pd.DataFrame({'v': rng.integers(0, 100, n).tolist(), 'lab': labels})
    )
    if rng.random() < 0.5:
        g = g.map({'u': rng.integers(0, 9, int(rng.integers(1, 4))).tolist()})
    g = g.groupby('lab').reduce('w', name='agg')
    if rng.random() < 0.3:
        g = g.by_position('dim_0')[0 : int(rng.integers(1, n + 1))]
    if rng.random() < 0.5:
        g = g.reduce('agg', name='final')
    return g


RANDOM = {'random': random_workflow, 'random_groupby': random_groupby_workflow}
SEEDS = range(100)


def rng(seed: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64(seed))
