"""Differential tests: run the SAME workflow through the reference cyclebane
library and through cyclebane_spark's plan layer, canonicalize both
``to_networkx()`` outputs, and require equality. The module is skipped when
the reference library is not importable; ``test_expand_golden.py`` then
guards the same named and seeded scenarios (``expand_scenarios``) through
their frozen expansions.

This is the strongest parity check we have: node sets, edge sets, attrs and
attached values must agree exactly — including for randomized workflows.
"""

from __future__ import annotations

import sys

import networkx as nx
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, '/root/reference/src')
ref_cb = pytest.importorskip('cyclebane')

from cyclebane_spark import Graph  # noqa: E402
from expand_scenarios import (  # noqa: E402
    NAMED,
    SEEDS,
    canon,
    random_groupby_workflow,
    random_workflow,
    rng,
)


def check(build):
    """build(mod) -> graph-like with to_networkx(); compare both libs."""
    ours = canon(build(Graph).to_networkx())
    theirs = canon(build(ref_cb.Graph).to_networkx())
    assert ours == theirs


def check_raises(build, exc):
    with pytest.raises(exc):
        build(Graph)
    with pytest.raises(exc):
        build(ref_cb.Graph)


# -- deterministic scenarios -------------------------------------------------


@pytest.mark.parametrize('name', list(NAMED))
def test_named_scenario_matches_reference(name):
    check(NAMED[name])


def test_indices_and_index_names_parity():
    """The dimension-catalog properties agree with the reference."""
    ng = nx.DiGraph([('a', 'c'), ('b', 'c')])
    ours = Graph(ng).map({'a': [1, 2]}).map({'b': pd.Series([7, 8, 9], name='s')})
    theirs = ref_cb.Graph(ng).map({'a': [1, 2]}).map(
        {'b': pd.Series([7, 8, 9], name='s')}
    )
    assert [str(k) for k in ours.index_names] == [
        str(k) for k in theirs.index_names
    ]
    assert {str(k): [str(v) for v in vs] for k, vs in ours.indices.items()} == {
        str(k): [str(v) for v in vs] for k, vs in theirs.indices.items()
    }


# -- error-surface parity ----------------------------------------------------


def test_map_non_source_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        return g.map({'b': [1, 2]})

    check_raises(build, ValueError)


def test_remap_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2]})
        return g.map({'a': [3, 4]})

    check_raises(build, ValueError)


def test_shape_mismatch_in_joint_map_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'c'), ('b', 'c')]))
        return g.map({'a': [1, 2], 'b': [1, 2, 3]})

    check_raises(build, ValueError)


def test_reduce_index_and_axis_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2]})
        return g.reduce('b', index='dim_0', axis=0, name='r')

    check_raises(build, ValueError)


def test_reduce_unknown_index_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2]})
        return g.reduce('b', index='nope', name='r')

    check_raises(build, ValueError)


def test_groupby_unknown_node_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2]})
        return g.groupby('nope')

    check_raises(build, KeyError)


def test_setitem_non_graph_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g['b'] = 42
        return g

    check_raises(build, TypeError)


def test_setitem_mapped_on_unmapped_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        other = G(nx.DiGraph([('p', 'b')]))
        other = other.map({'p': [1, 2]})
        g['b'] = other
        return g

    check_raises(build, NotImplementedError)


def test_setitem_mapped_graft_conflicting_dims_raises():
    # Grafting a branch whose mapped sink has MORE dims than the target's
    # existing values must fail validation (reference: NodeValues.__setitem__
    # "Node 'a' has already been mapped"), not silently desync store and dag.
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2]})
        single = nx.DiGraph()
        single.add_node('x')
        other = G(single).map({'x': np.zeros((2, 3))})
        g['a'] = other
        return g

    check_raises(build, ValueError)


def test_multi_index_spark_column_parity_expansion(spark):
    # A dense 2-index SparkColumn must expand to the SAME instance DAG as
    # the reference's 2-D numpy map (dims named dim_0/dim_1, range coords).
    from cyclebane_spark.sources.arrays import SparkColumn

    vals = [[1.5, 2.5, 3.5], [4.5, 5.5, 6.5]]
    rows = [(i, j, vals[i][j]) for i in range(2) for j in range(3)]
    df = spark.createDataFrame(rows, 'dim_0 long, dim_1 long, v double')
    g = Graph(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': SparkColumn(df, index=['dim_0', 'dim_1'], values='v')})
    ours = canon(g.to_networkx())
    ref = ref_cb.Graph(nx.DiGraph([('a', 'b')])).map({'a': np.array(vals)})
    assert ours == canon(ref.to_networkx())


def test_multi_index_spark_column_sparse_raises(spark):
    # ragged index: (0,0),(0,1),(1,0) — no dense reference-model equivalent
    from cyclebane_spark.sources.arrays import SparkColumn

    df = spark.createDataFrame(
        [(0, 0, 1.0), (0, 1, 2.0), (1, 0, 3.0)], 'dim_0 long, dim_1 long, v double'
    )
    g = Graph(nx.DiGraph([('a', 'b')]))
    g = g.map({'a': SparkColumn(df, index=['dim_0', 'dim_1'], values='v')})
    with pytest.raises(ValueError, match='sparse'):
        g.to_networkx()


def test_positional_int_index_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2, 3]})
        return g.by_position('dim_0')[1]

    check_raises(build, NotImplementedError)


def test_reduce_existing_name_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b'), ('x', 'b')]))
        g = g.map({'a': [1, 2]})
        # 'x' is an unmapped source still present under its plain name
        return g.reduce('b', name='x')

    check_raises(build, ValueError)


def test_reduce_multiple_sinks_default_key_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b'), ('a', 'c')]))
        g = g.map({'a': [1, 2]})
        return g.reduce(name='r')

    check_raises(build, ValueError)


def test_delete_mapped_node_raises():
    def build(G):
        g = G(nx.DiGraph([('a', 'b')]))
        g = g.map({'a': [1, 2]})
        del g['a']
        return g

    check_raises(build, ValueError)


# -- randomized differential -------------------------------------------------


@pytest.mark.parametrize("seed", SEEDS)
def test_randomized_groupby_workflows_match_reference(seed):
    check(lambda G: random_groupby_workflow(G, rng(seed)))


@pytest.mark.parametrize("seed", SEEDS)
def test_randomized_workflows_match_reference(seed):
    check(lambda G: random_workflow(G, rng(seed)))


# -- hypothesis-driven differential vs the reference library -----------------
#
# The seeded randomized differential above samples a fixed distribution;
# hypothesis searches the space adversarially and SHRINKS failures to
# minimal workflows.

_OPS = st.sampled_from(['reduce_all', 'reduce_dim0', 'groupby', 'slice'])


@given(
    values=st.lists(st.integers(-99, 99), min_size=2, max_size=6),
    labels_src=st.lists(st.sampled_from('pqr'), min_size=6, max_size=6),
    second=st.one_of(st.none(), st.lists(st.integers(0, 9), min_size=1, max_size=3)),
    op=_OPS,
    lo=st.integers(0, 2),
)
@settings(max_examples=60, deadline=None)
def test_hypothesis_differential_matches_reference(values, labels_src, second, op, lo):
    labels = labels_src[: len(values)]

    def build(G):
        g = G(nx.DiGraph([('v', 'w'), ('u', 'w')]))
        g = g.map(pd.DataFrame({'v': values, 'lab': labels}))
        if second is not None:
            g = g.map({'u': second})
        if op == 'reduce_all':
            return g.reduce('w', name='out')
        if op == 'reduce_dim0':
            return g.reduce('w', index='dim_0', name='out')
        if op == 'groupby':
            return g.groupby('lab').reduce('w', name='out')
        g = g.by_position('dim_0')[lo : lo + 2]
        return g.reduce('w', name='out')

    try:
        theirs = canon(build(ref_cb.Graph).to_networkx())
    except ValueError:
        # Reference artifact: materializing a dim sliced to EMPTINESS crashes
        # inside nx.compose_all (unspecified behavior, untested upstream).
        # Our engine deliberately diverges: empty dims expand to zero
        # instances — at 100 TB empty partitions are routine, not errors.
        nxg = build(Graph).to_networkx()
        assert all('dim_0' not in str(n) for n in nxg.nodes)
        return
    ours = canon(build(Graph).to_networkx())
    assert ours == theirs


_TOPOLOGIES = {
    'chain': [('v', 'm'), ('m', 'w'), ('u', 'w')],
    'diamond': [('v', 'l'), ('v', 'r'), ('l', 'w'), ('r', 'w'), ('u', 'w')],
    'wide': [('v', 'w'), ('u', 'w'), ('t', 'w')],
}


@given(
    topo=st.sampled_from(sorted(_TOPOLOGIES)),
    values=st.lists(st.integers(-9, 9), min_size=1, max_size=5),
    labels_src=st.lists(st.sampled_from('pq'), min_size=5, max_size=5),
    extra=st.one_of(st.none(), st.lists(st.integers(0, 3), min_size=1, max_size=2)),
    op=_OPS,
)
@settings(max_examples=60, deadline=None)
def test_hypothesis_differential_topologies(topo, values, labels_src, extra, op):
    labels = labels_src[: len(values)]

    def build(G):
        g = G(nx.DiGraph(_TOPOLOGIES[topo]))
        g = g.map(pd.DataFrame({'v': values, 'lab': labels}))
        if extra is not None:
            g = g.map({'u': extra})
        if op == 'reduce_all':
            return g.reduce('w', name='out')
        if op == 'reduce_dim0':
            return g.reduce('w', index='dim_0', name='out')
        if op == 'groupby':
            return g.groupby('lab').reduce('w', name='out')
        g = g.by_position('dim_0')[0:2]
        return g.reduce('w', name='out')

    try:
        theirs = canon(build(ref_cb.Graph).to_networkx())
    except ValueError:
        build(Graph).to_networkx()  # ours must not crash (empty-dim artifact)
        return
    ours = canon(build(Graph).to_networkx())
    assert ours == theirs
