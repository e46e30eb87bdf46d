"""Property-based invariants of the plan algebra (hypothesis).

The reference suite has no property tests (SURVEY.md §5); these encode the
structural laws the expansion must obey for ANY dims/labels:

- |instances of a mapped family| = product of its dim sizes
- reduce fan-in = size of the reduced dim (per remaining-dim combination)
- groupby fan-in per group = group size; no cross-group edges
- map is commutative w.r.t. independent sources
"""

from __future__ import annotations

import math

import networkx as nx
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from cyclebane_spark import Graph
from cyclebane_spark.plan.keys import NodeName

dims = st.lists(st.integers(min_value=1, max_value=4), min_size=1, max_size=3)


def _family(nxg, name):
    return [
        n for n in nxg.nodes if isinstance(n, NodeName) and n.name == name
    ]


@given(sizes=dims)
@settings(max_examples=30, deadline=None)
def test_instance_count_is_dim_product(sizes):
    g = Graph(nx.DiGraph([('a', 'b')]))
    for k, size in enumerate(sizes):
        g = g.map({f'src{k}': list(range(size))} if k else {'a': list(range(size))})
    nxg = g.to_networkx()
    assert len(_family(nxg, 'a')) == sizes[0]
    # 'b' is a descendant of 'a' only -> carries only a's dim
    assert len(_family(nxg, 'b')) == sizes[0]


@given(sizes=dims)
@settings(max_examples=30, deadline=None)
def test_chained_maps_give_cartesian(sizes):
    edges = [(f'r{k}', 'sink') for k in range(len(sizes))]
    g = Graph(nx.DiGraph(edges))
    for k, size in enumerate(sizes):
        g = g.map({f'r{k}': list(range(size))})
    nxg = g.to_networkx()
    assert len(_family(nxg, 'sink')) == math.prod(sizes)


@given(n=st.integers(min_value=1, max_value=8), m=st.integers(min_value=1, max_value=4))
@settings(max_examples=30, deadline=None)
def test_reduce_fanin_equals_reduced_dim_size(n, m):
    g = Graph(nx.DiGraph([('a', 'b'), ('c', 'b')]))
    g = g.map({'a': list(range(n))})
    g = g.map({'c': list(range(m))})
    g = g.reduce('b', index='dim_0', name='r')
    nxg = g.to_networkx()
    rs = _family(nxg, 'r')
    assert len(rs) == m  # dim_1 remains
    for r in rs:
        assert nxg.in_degree(r) == n


@given(
    labels=st.lists(
        st.sampled_from(['p', 'q', 'r']), min_size=1, max_size=10
    )
)
@settings(max_examples=30, deadline=None)
def test_groupby_fanin_matches_group_sizes(labels):
    g = Graph(nx.DiGraph([('v', 'w')]))
    df = pd.DataFrame({'v': list(range(len(labels))), 'lab': labels})
    g = g.map(df)
    g = g.groupby('lab').reduce('w', name='agg')
    nxg = g.to_networkx()
    sizes = pd.Series(labels).value_counts().to_dict()
    aggs = _family(nxg, 'agg')
    assert {a.index.to_dict()['lab'] for a in aggs} == set(sizes)
    for a in aggs:
        label = a.index.to_dict()['lab']
        preds = list(nxg.predecessors(a))
        assert len(preds) == sizes[label]
        # no cross-group edges: every predecessor's dim_0 belongs to the group
        member_rows = {i for i, l in enumerate(labels) if l == label}
        assert {p.index.to_dict()['dim_0'] for p in preds} == member_rows


@given(
    a=st.lists(st.integers(), min_size=1, max_size=4),
    b=st.lists(st.integers(), min_size=1, max_size=4),
)
@settings(max_examples=30, deadline=None)
def test_map_order_of_independent_sources_is_isomorphic(a, b):
    def build(first_a: bool):
        g = Graph(nx.DiGraph([('x', 'z'), ('y', 'z')]))
        maps = [{'x': a}, {'y': b}] if first_a else [{'y': b}, {'x': a}]
        for m in maps:
            g = g.map(m)
        return g.to_networkx()

    g1, g2 = build(True), build(False)
    # same node/edge structure modulo the dim names assigned by order
    assert g1.number_of_nodes() == g2.number_of_nodes()
    assert g1.number_of_edges() == g2.number_of_edges()
    assert sorted(d for _, d in g1.degree) == sorted(d for _, d in g2.degree)


def test_bloom_prefilter_never_loses_rows(spark):
    """Property: for random key sets, the Bloom-prefilter pipeline equals
    the plain semi-join — the filter can only pass false positives, and
    the exact verify must kill every one of them."""
    import random

    import pyspark.sql.functions as F

    rng = random.Random(20260814)
    for trial in range(3):
        universe = rng.sample(range(1, 10_000), 600)
        member = set(rng.sample(universe, 150))
        fact = spark.createDataFrame(
            [(k, k % 7) for k in universe], 'k long, g long'
        )
        dim = spark.createDataFrame([(k,) for k in member], 'k long')

        m_bits = 1 << 13  # small filter -> false positives certain
        pos = [
            F.pmod(F.xxhash64('k', F.lit(i)), F.lit(m_bits)) for i in range(3)
        ]
        words = (
            dim.select(F.explode(F.array(*pos)).alias('pos'))
            .select(
                F.shiftright('pos', 6).alias('w'),
                F.expr(
                    'shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))'
                ).alias('mask'),
            )
            .groupBy('w')
            .agg(F.bit_or('mask').alias('word'))
            .localCheckpoint()
        )
        probed, hit = fact, F.lit(True)
        for i, p in enumerate(pos):
            wi = words.select(
                F.col('w').alias(f'w{i}'), F.col('word').alias(f'word{i}')
            )
            probed = probed.withColumn(f'pos{i}', p).join(
                F.broadcast(wi),
                F.shiftright(f'pos{i}', 6) == F.col(f'w{i}'),
                'left',
            )
            bit = F.expr(
                f'shiftleft(CAST(1 AS BIGINT), CAST(pos{i} % 64 AS INT))'
            )
            hit = hit & F.col(f'word{i}').isNotNull() & (
                F.col(f'word{i}').bitwiseAND(bit) != 0
            )
        cand = probed.filter(hit)
        n_cand = cand.count()
        got = {
            r.k
            for r in cand.join(
                F.broadcast(dim.select(F.col('k').alias('dk'))),
                F.col('k') == F.col('dk'),
                'left_semi',
            ).collect()
        }
        assert got == member  # exact despite false positives
        assert n_cand >= len(member)  # bloom never drops a member
