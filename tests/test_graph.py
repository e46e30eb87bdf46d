"""Plan-algebra parity tests.

Ports the assertions of the reference suite
(``/root/reference/tests/graph_test.py``) against our engine: same expected
node sets, edge sets, attrs, and error messages. xarray/scipp cases are
skipped when the libraries are absent from the container.
"""

import re

import networkx as nx
import numpy as np
import pandas as pd
import pytest

import cyclebane_spark as cb


def idx(name, *index, offset=None, dims=('dim_0', 'dim_1')):
    return cb.NodeName(
        name, cb.IndexValues(dims[offset : len(index) + (offset or 0)], tuple(index))
    )


def chain(*nodes):
    g = nx.DiGraph()
    for u, v in zip(nodes, nodes[1:], strict=False):
        g.add_edge(u, v)
    return g


# -- map ---------------------------------------------------------------------


@pytest.mark.parametrize('params', [{}, pd.DataFrame()])
def test_map_over_empty(params):
    graph = cb.Graph(chain('a', 'b')).map(params)
    assert len(graph.to_networkx().nodes) == 2


@pytest.mark.parametrize(
    'params',
    [
        {'c': [1, 2]},
        {'a': [1, 2], 'c': [1, 2]},
        pd.DataFrame({'a': [1, 2], 'c': [1, 2]}),
    ],
)
def test_map_adds_node_when_mapping_nonexistent_node(params):
    result = cb.Graph(chain('a', 'b')).map(params).to_networkx()
    assert result.nodes[idx('c', 0)] == {'value': 1}
    assert result.nodes[idx('c', 1)] == {'value': 2}


def test_map_raises_if_mapping_non_source_node():
    graph = cb.Graph(chain('a', 'b', 'c'))
    with pytest.raises(ValueError, match="Mapped node 'b' is not a source node"):
        graph.map({'b': [1, 2]})


def test_map_raises_if_mapping_previously_mapped_node():
    mapped = cb.Graph(chain('a', 'b', 'c')).map({'a': [1, 2]})
    with pytest.raises(ValueError, match="Node 'a' has already been mapped"):
        mapped.map({'a': [1, 2]})


def test_map_raises_on_shape_mismatch():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    with pytest.raises(
        ValueError, match='value sequences in a map operation must have the same shape'
    ):
        cb.Graph(g).map({'a': [1, 2], 'b': [1, 2, 3]})


def test_map_over_list_sets_value_attrs_on_sources_only():
    result = cb.Graph(chain('a', 'b')).map({'a': [1, 2, 3]}).to_networkx()
    assert result.nodes[idx('a', 0)] == {'value': 1}
    assert result.nodes[idx('a', 1)] == {'value': 2}
    assert result.nodes[idx('a', 2)] == {'value': 3}
    assert result.nodes[idx('b', 0)] == {}
    assert result.nodes[idx('b', 1)] == {}
    assert result.nodes[idx('b', 2)] == {}


def test_map_does_not_duplicate_unrelated_node():
    g = nx.DiGraph([('a', 'b'), ('x', 'b')])
    result = cb.Graph(g).map({'a': [1, 2, 3]}).to_networkx()
    assert len(result.nodes) == 3 + 3 + 1


def test_chained_map_uses_next_default_dim_name():
    g = nx.DiGraph([('a', 'b'), ('b', 'c'), ('x', 'b')])
    result = (
        cb.Graph(g).map({'a': [1, 2, 3]}).map({'x': [4, 5]}).to_networkx()
    )
    assert result.nodes[idx('a', 0)] == {'value': 1}
    assert result.nodes[idx('a', 2)] == {'value': 3}
    assert result.nodes[idx('x', 0, offset=1)] == {'value': 4}
    assert result.nodes[idx('x', 1, offset=1)] == {'value': 5}


def test_map_does_not_descend_into_nested_lists():
    mapped = cb.Graph(chain('a', 'b')).map({'a': [[1, 2], [3, 4]]})
    assert mapped.index_names == ('dim_0',)
    assert len(mapped.to_networkx().nodes) == 2 + 2


def test_map_adds_axis_in_position_0_like_numpy_stack():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]}).map({'b': [4, 5]})
    reduced = mapped.reduce('c', name='sum', axis=0)
    result = reduced.to_networkx()
    # axis 0 is the newest dim (length 2), so 3 sinks remain
    sinks = [n for n, d in result.out_degree() if d == 0]
    assert len(sinks) == 3


def test_map_2d_numpy_default_index_names():
    mapped = cb.Graph(chain('a', 'b')).map({'a': np.array([[1, 2, 3], [4, 5, 6]])})
    assert mapped.index_names == ('dim_0', 'dim_1')
    assert len(mapped.to_networkx().nodes) == 3 * 2 * 2


def test_map_pandas_dataframe_joint_index():
    params = pd.DataFrame({'a': [1, 2, 3], 'b': [4, 5, 6]})
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map(params)
    result = mapped.to_networkx()
    assert len(result.nodes) == 3 * 3
    assert mapped.index_names == ('dim_0',)
    assert result.nodes[idx('a', 0)] == {'value': 1}
    assert result.nodes[idx('b', 2)] == {'value': 6}


def test_map_pandas_dataframe_uses_index_name_and_values():
    params = pd.DataFrame({'a': [1, 2, 3], 'b': [4, 5, 6]})
    params.index = [11, 22, 33]
    params.index.name = 'abcde'
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map(params)
    assert mapped.index_names == ('abcde',)
    for node in mapped.to_networkx().nodes:
        assert node.index.axes == ('abcde',)
        assert node.index.values[0] in [11, 22, 33]


def test_map_dataframe_with_type_as_column_name():
    raw = {int: [1, 2, 3], float: [0.1, 0.2, 0.3]}
    params = pd.DataFrame(raw)
    g = nx.DiGraph([(int, 'a'), (float, 'a')])
    result = cb.Graph(g).map(params).to_networkx()
    assert len(result.nodes) == 3 * 3
    assert result.nodes[idx(int, 1)] == {'value': 2}
    assert result.nodes[idx(float, 2)] == {'value': 0.3}


def test_map_multiple_joint_index():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2], 'b': [4, 5]})
    assert len(mapped.to_networkx().nodes) == 2 + 2 + 2


# -- reduce --------------------------------------------------------------------


def test_map_reduce_node_counts():
    g = nx.DiGraph([('a', 'b'), ('b', 'c'), ('x', 'b')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]}).map({'x': [4, 5]})
    assert len(mapped.reduce(name='func', axis=1).to_networkx().nodes) == 19
    result = mapped.reduce(name='func', axis=0).to_networkx()
    assert len(result.nodes) == 20
    assert result.nodes[idx('a', 0)] == {'value': 1}
    assert result.nodes[idx('x', 1, offset=1)] == {'value': 5}


def test_reduce_all_axes():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]}).map({'b': [4, 5]})
    reduced = mapped.reduce(name='sum', attrs={'func': 'sum'})
    assert 'sum' in reduced.graph
    assert reduced.graph.nodes['sum'] == {'func': 'sum'}


def test_reduce_preserves_graph_index_names():
    graph = cb.Graph(chain('a', 'b')).map({'a': np.ones((2, 3))})
    reduced = graph.reduce('b', name='combine')
    assert reduced.index_names == ('dim_0', 'dim_1')


def test_reduce_raises_if_new_node_name_exists():
    g = nx.DiGraph([('a', 'c'), ('other', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    with pytest.raises(ValueError, match="Node 'other' already exists in the graph."):
        mapped.reduce(name='other')


@pytest.mark.parametrize('indexer', [{'axis': 1}, {'index': 'y'}])
def test_reduce_raises_if_axis_or_index_missing(indexer):
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map(
        {'a': pd.Series([1, 2, 3], index=pd.RangeIndex(3, name='x'))}
    )
    with pytest.raises(ValueError, match='does not have'):
        mapped.reduce(name='combine', **indexer)
    with pytest.raises(ValueError, match="Node 'b' does not have "):
        mapped.reduce('b', name='combine', **indexer)


def test_reduce_raises_if_both_index_and_axis():
    mapped = cb.Graph(chain('a', 'b')).map({'a': [1, 2]})
    with pytest.raises(ValueError, match='Only one of index and axis'):
        mapped.reduce('b', name='c', index='dim_0', axis=0)


def test_reduce_default_key_requires_unique_sink():
    g = nx.DiGraph([('a', 'b'), ('a', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2]})
    with pytest.raises(ValueError, match='exactly one sink'):
        mapped.reduce(name='r')


def test_reduce_works_with_related_unmapped_nodes():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    result = mapped.reduce('c', name='combine').to_networkx()
    assert len(result.nodes) == 3 + 1 + 3 + 1


def test_can_reduce_same_node_multiple_times():
    mapped = cb.Graph(chain('a', 'b')).map({'a': [1, 1, 1]})
    reduced = mapped.reduce('b', name='c1', axis=0).reduce('b', name='c2', axis=0)
    result = reduced.to_networkx()
    assert len(result.nodes) == 3 + 3 + 1 + 1
    assert list(result.predecessors('c1')) == list(result.predecessors('c2'))


def test_axis_in_reduce_refers_to_node_axis_not_graph_axis():
    graph = cb.Graph(chain('a', 'b')).map({'a': np.ones((2, 2, 2))})
    # use named dims via a 3-D numpy array: dims are dim_0, dim_1, dim_2
    graph = graph.reduce('b', name='c', index='dim_0')
    result = graph.reduce('c', name='d', axis=1).to_networkx()
    d_nodes = [n for n in result.nodes if isinstance(n, cb.NodeName) and n.name == 'd']
    # 'c' has dims (dim_1, dim_2); axis 1 of the node is dim_2, so dim_1 is left.
    assert d_nodes
    assert all(n.index.axes == ('dim_1',) for n in d_nodes)


# -- delitem ---------------------------------------------------------------


def test_delitem_removes_ancestors_and_data_but_keeps_node():
    g = chain('a', 'b', 'c')
    g.add_node('b', value='x')
    graph = cb.Graph(g)
    del graph['b']
    result = graph.to_networkx()
    assert list(result.nodes) == ['b', 'c']
    assert result.nodes['b'] == {}


def test_delitem_preserves_ancestors_with_other_path():
    g = chain('a', 'b', 'c')
    g.add_node('b', value='x')
    g.add_edge('a', 'c')
    graph = cb.Graph(g)
    del graph['b']
    result = graph.to_networkx()
    assert sorted(result.nodes) == ['a', 'b', 'c']
    assert result.nodes['b'] == {}
    assert not result.has_edge('a', 'b')


def test_delitem_raises_for_mapped_node():
    g = chain('a', 'b', 'c')
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    with pytest.raises(ValueError, match='Cannot delete mapped node.'):
        del mapped['b']


def test_delitem_can_remove_reduced_node_depending_on_mapped_nodes():
    g = nx.DiGraph([('a', 'b'), ('x', 'y')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]}).reduce('b', name='c')
    del mapped['c']
    result = mapped.to_networkx()
    assert set(result.nodes) == {'x', 'y', 'c'}
    assert result.nodes['c'] == {}


# -- setitem -----------------------------------------------------------------


def test_setitem_raises_TypeError_if_given_networkx_graph():
    graph = cb.Graph(chain('a', 'b'))
    with pytest.raises(TypeError):
        graph['a'] = nx.DiGraph()


def test_setitem_keeps_key_name_but_replaces_node_data():
    g1 = nx.DiGraph([('b', 'a')])
    g1.nodes['b']['attr'] = 1
    g2 = nx.DiGraph([('d', 'c')])
    g2.nodes['c']['attr'] = 2
    graph = cb.Graph(g1)
    graph['b'] = cb.Graph(g2)
    result = graph.to_networkx()
    assert set(result.nodes) == {'a', 'b', 'd'}
    assert result.has_edge('d', 'b')
    assert result.has_edge('b', 'a')
    assert result.nodes['b'] == {'attr': 2}


def test_setitem_raises_on_conflicting_node_data():
    g1 = nx.DiGraph([('a', 'b'), ('x', 'b')])
    g1.nodes['a']['attr'] = 1
    g2 = nx.DiGraph([('a', 'x')])
    g2.nodes['a']['attr'] = 2
    graph = cb.Graph(g1)
    with pytest.raises(ValueError, match="Node data differs for node 'a'"):
        graph['x'] = cb.Graph(g2)


def test_setitem_raises_on_conflicting_inputs():
    g1 = nx.DiGraph([('a1', 'b'), ('b', 'c'), ('x', 'c')])
    g2 = nx.DiGraph([('a2', 'b'), ('b', 'x')])
    graph = cb.Graph(g1)
    with pytest.raises(ValueError, match="Node inputs differ for node 'b'"):
        graph['x'] = cb.Graph(g2)


def test_setitem_replaces_non_shared_ancestors():
    graph = cb.Graph(chain('a', 'b', 'c', 'd'))
    graph['c'] = cb.Graph(chain('b', 'c'))
    assert 'a' not in graph.to_networkx()


def test_setitem_self_roundtrip_is_noop():
    g = nx.DiGraph([('a', 'b'), ('b', 'c'), ('b', 'd'), ('c', 'd')])
    graph = cb.Graph(g)
    graph['c'] = graph['c']
    assert nx.utils.graphs_equal(graph.to_networkx(), g)


def test_setitem_preserves_node_values_of_sink_nodes():
    graph = cb.Graph(chain('a', 'b', 'c'))
    mapped = graph.map({'a': [1, 2, 3]})
    mapped['b'] = mapped['a']
    result = mapped.to_networkx()
    assert result.nodes[idx('b', 0)] == {'value': 1}
    assert result.nodes[idx('b', 1)] == {'value': 2}
    assert result.nodes[idx('b', 2)] == {'value': 3}
    assert len(result.nodes) == 3 * 2


def test_getitem_returns_branch():
    g = nx.DiGraph([('a', 'b'), ('b', 'c'), ('c', 'd'), ('x', 'd')])
    result = cb.Graph(g)['c'].to_networkx()
    assert len(result.nodes) == 3
    assert len(result.edges) == 2
    assert set(result.nodes) == {'a', 'b', 'c'}


def test_getitem_setitem_noop_keeps_attrs():
    g = chain('a', 'b', 'c')
    g.nodes['a']['value'] = 1
    graph = cb.Graph(g)
    graph['b'] = graph['b']
    assert graph.to_networkx().nodes['a']['value'] == 1


def test_getitem_setitem_noop_on_mapped_graph():
    g = chain('a', 'b', 'c')
    g.nodes['a']['attr'] = 1
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    mapped['b'] = mapped['b']
    result = mapped.to_networkx()
    assert result.nodes[idx('a', 0)] == {'attr': 1, 'value': 1}
    assert len([n for n in result.nodes if n.name == 'b']) == 3
    assert len([n for n in result.nodes if n.name == 'c']) == 3


def test_mapped_getitem_setitem_shrinking_graph():
    g = chain('a', 'b', 'c')
    g.nodes['a']['attr'] = 1
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    mapped['c'] = mapped['b']
    result = mapped.to_networkx()
    assert len(result.nodes) == 2 * 3
    assert result.nodes[idx('a', 1)] == {'attr': 1, 'value': 2}
    assert len([n for n in result.nodes if n.name == 'a']) == 3
    assert len([n for n in result.nodes if n.name == 'c']) == 3


def test_setitem_mapped_on_mapped_raises_on_incompatible_value():
    mapped = cb.Graph(chain('a', 'b', 'c')).map({'a': [1, 2, 3]})
    with pytest.raises(ValueError, match="Node 'a' has already been mapped"):
        mapped['b'] = cb.Graph(nx.DiGraph()).map({'a': [4, 5]})


def test_getitem_keeps_only_relevant_indices():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    assert dict(mapped['a'].indices) == {'dim_0': range(3)}
    assert dict(mapped['b'].indices) == {}
    assert dict(mapped['c'].indices) == {'dim_0': range(3)}


def test_getitem_keeps_only_relevant_node_values():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    with pytest.raises(ValueError, match='has already been mapped'):
        mapped.map({'a': [1, 2]})
    mapped['b'].map({'a': [1, 2]})  # branch dropped the 'a' mapping


def test_getitem_with_base_name_returns_mapped_branch():
    mapped = cb.Graph(chain('a', 'b', 'c')).map({'a': [1, 2, 3]})
    assert len(mapped['b'].to_networkx().nodes) == 6


def test_setitem_mapped_sink_on_unmapped_target_raises():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    graph = cb.Graph(g)
    b = cb.Graph(nx.DiGraph()).map({'b': [11, 12]})
    with pytest.raises(
        NotImplementedError,
        match=re.escape(
            'Trying to set mapped node on non-mapped node (or vice versa)'
        ),
    ):
        graph['b'] = b


def test_setitem_with_mapped_operands_raises_on_conflict():
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    d = cb.Graph(nx.DiGraph()).map({'b': [11, 12]}).reduce('b', name='d')
    with pytest.raises(
        ValueError, match='Conflicting index values for index name "dim_0" of b'
    ):
        mapped['x'] = d


def test_setitem_allows_compatible_indices():
    g = nx.DiGraph([('a', 'b'), ('c', 'd')])
    graph = cb.Graph(g)
    mapped1 = graph.map({'a': [1, 2, 3]})
    mapped2 = graph['d'].map({'c': [11, 12, 13]}).reduce('d', name='e')
    mapped1['x'] = mapped2
    assert mapped1.index_names == ('dim_0',)
    assert list(mapped1.indices['dim_0']) == [0, 1, 2]


@pytest.mark.parametrize(
    'node_values',
    [
        {'a': [1, 2, 3]},
        {'a': [1, 2, 3], 'b': [11, 12, 13]},
        {'a': np.array([1, 2, 3])},
        pd.DataFrame({'a': [1, 2, 3], 'b': [11, 12, 13]}),
    ],
)
def test_setitem_allows_compatible_node_values(node_values):
    g = nx.DiGraph([('a', 'c'), ('b', 'c')])
    mapped = cb.Graph(g).map(node_values).reduce('c', name='d')
    mapped['x'] = mapped['d']
    assert len(mapped.index_names) == 1


def test_setitem_allows_changing_node_values():
    graph = cb.Graph(chain('a', 'b'))
    mapped1 = graph.map({'a': [1, 2]}).reduce('b', name='d')
    mapped2 = graph.map({'a': [1, 3]}).reduce('b', name='d')
    mapped1['x'] = mapped2['d']
    assert len(mapped1.index_names) == 1


def test_setitem_raises_if_node_values_incompatible():
    graph = cb.Graph(chain('a', 'b'))
    mapped1 = graph.map({'a': [1, 2]}).reduce('b', name='d')
    mapped2 = graph.map(
        {'a': pd.Series([1, 2], index=pd.RangeIndex(2, name='x'))}
    ).reduce('b', name='d')
    with pytest.raises(ValueError, match='has already been mapped'):
        mapped1['x'] = mapped2['d']


def test_setitem_slice_not_supported():
    graph = cb.Graph(chain('a', 'b', 'c'))
    with pytest.raises(NotImplementedError):
        graph['b':'b'] = graph['b']


def test_setitem_raises_if_value_graph_has_multiple_sinks():
    g = nx.DiGraph([('a', 'b'), ('a', 'c')])
    graph = cb.Graph(g)
    with pytest.raises(ValueError, match='Graph must have exactly one sink node'):
        graph['a'] = graph


# -- positional slicing ------------------------------------------------------


@pytest.mark.parametrize(
    'param_table',
    [{'a': [1, 2, 3]}, {'a': np.array([1, 2, 3])}, pd.DataFrame({'a': [1, 2, 3]})],
)
def test_slice_by_position(param_table):
    mapped = cb.Graph(chain('a', 'b')).map(param_table)
    result = mapped.by_position('dim_0')[1:3].to_networkx()
    assert idx('a', 0) not in result
    assert result.nodes[idx('a', 1)] == {'value': 2}
    assert result.nodes[idx('a', 2)] == {'value': 3}


def test_by_position_rejects_single_index():
    mapped = cb.Graph(chain('a', 'b')).map({'a': [1, 2, 3]})
    with pytest.raises(NotImplementedError, match='Only slices are supported'):
        mapped.by_position('dim_0')[1]


def test_by_position_2d_slice_outer():
    mapped = cb.Graph(chain('a', 'b')).map({'a': np.array([[1, 2, 3], [4, 5, 6]])})
    result = mapped.by_position('dim_0')[1:].to_networkx()
    assert idx('a', 0, 0) not in result
    assert idx('a', 1, 0) in result
    a_values = [d['value'] for n, d in result.nodes(data=True) if n.name == 'a']
    assert a_values[0:3] == [4, 5, 6]


def test_by_position_2d_slice_inner():
    mapped = cb.Graph(chain('a', 'b')).map({'a': np.array([[1, 2, 3], [4, 5, 6]])})
    result = mapped.by_position('dim_1')[:2].to_networkx()
    assert idx('a', 0, 2) not in result
    assert idx('a', 1, 2) not in result
    assert result.nodes[idx('a', 0, 0)] == {'value': 1}
    assert result.nodes[idx('a', 0, 1)] == {'value': 2}
    assert result.nodes[idx('a', 1, 0)] == {'value': 4}
    assert result.nodes[idx('a', 1, 1)] == {'value': 5}


# -- attrs ---------------------------------------------------------------------


def test_node_attrs_are_preserved():
    g = chain('a', 'b')
    g.nodes['a']['attr'] = 1
    assert cb.Graph(g).to_networkx().nodes['a'] == {'attr': 1}


def test_node_attrs_preserved_in_getitem():
    g = chain('a', 'b', 'c')
    g.nodes['a']['attr1'] = 1
    g.nodes['b']['attr2'] = 2
    result = cb.Graph(g)['c'].to_networkx()
    assert result.nodes['a'] == {'attr1': 1}
    assert result.nodes['b'] == {'attr2': 2}


def test_node_attrs_preserved_in_map_with_custom_value_attr():
    g = chain('a', 'b')
    g.nodes['a']['attr'] = 11
    g.nodes['b']['attr'] = 22
    mapped = cb.Graph(g).map({'a': [1, 2, 3]})
    result = mapped.to_networkx(value_attr='myvalue')
    assert result.nodes[idx('a', 0)] == {'attr': 11, 'myvalue': 1}
    assert result.nodes[idx('b', 2)] == {'attr': 22}


# -- expansion cost ----------------------------------------------------------


def test_expansion_is_linear_in_instances_and_edges():
    # A 100x50 sweep: matching every pair of instances of the two
    # 5,000-instance families took about 3 minutes on a 4-vCPU VM; the hash
    # join on shared dims takes well under a second.
    import time

    g = (
        cb.Graph(nx.DiGraph([('x', 'f'), ('y', 'f'), ('f', 'g')]))
        .map({'x': list(range(100))})
        .map({'y': list(range(50))})
        .reduce('g', index='dim_1', name='r')
        .reduce('r', name='s')
    )
    start = time.perf_counter()
    result = g.to_networkx()
    elapsed = time.perf_counter() - start
    assert (result.number_of_nodes(), result.number_of_edges()) == (10_251, 20_100)
    assert elapsed < 10, f'expansion took {elapsed:.1f}s'


def test_attached_values_of_large_list_and_2d_numpy_are_positional():
    values = [3 * i + 1 for i in range(20_000)]
    result = cb.Graph(chain('a', 'b')).map({'a': values}).to_networkx()
    assert [result.nodes[idx('a', i)]['value'] for i in range(20_000)] == values

    array = np.arange(300 * 70).reshape(300, 70) * 2
    result = cb.Graph(chain('a', 'b')).map({'a': array}).to_networkx()
    for i, j in [(0, 0), (1, 0), (0, 1), (299, 69), (150, 33)]:
        assert result.nodes[idx('a', i, j)]['value'] == array[i, j]


def test_value_lookup_takes_first_of_duplicate_labels():
    from cyclebane_spark.sources.arrays import NdArray, SeqArray

    seq = SeqArray([10, 20, 30], index=['p', 'q', 'p'])
    assert [seq.at({'dim_0': label}) for label in 'pqp'] == [10, 20, 10]
    nd = NdArray(np.arange(6).reshape(3, 2), coords={'r': ['p', 'q', 'p'], 'c': [0, 1]})
    assert nd.at({'r': 'p', 'c': 1}) == 1
    with pytest.raises(ValueError):
        seq.at({'dim_0': 'z'})


def test_nan_label_never_joins_on_shared_dim():
    # Labels are matched by equality, and NaN equals nothing, so the NaN
    # instances of a shared dim get no edges between families; reducing the
    # dim away still fans every instance in.
    s = pd.Series([1, 2, 3], index=pd.Index([0.0, np.nan, 2.0], name='i'))
    g = cb.Graph(chain('x', 'f', 'g')).map({'x': s}).reduce('g', name='s')
    edges = sorted(f'{u}->{v}' for u, v in g.to_networkx().edges)
    assert edges == [
        'f(i=0.0)->g(i=0.0)',
        'f(i=2.0)->g(i=2.0)',
        'g(i=0.0)->s',
        'g(i=2.0)->s',
        'g(i=nan)->s',
        'x(i=0.0)->f(i=0.0)',
        'x(i=2.0)->f(i=2.0)',
    ]
