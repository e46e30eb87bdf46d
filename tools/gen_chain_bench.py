#!/usr/bin/env python
"""Chain-graph CC crossover: label propagation vs alternating stars.

Min-label propagation needs DIAMETER rounds; the large-star/small-star
contraction needs O(log n) regardless of diameter. This bench synthesizes
the propagation worst case — long path graphs — and times both
implementations end-to-end in one local session, verifying the labelings are
identical. Numbers land in SCALE.md's "CC round complexity" section.

Usage: python tools/gen_chain_bench.py [n_chains] [chain_len]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import pyspark.sql.functions as F

    from cyclebane_spark.functions import bench_session
    from cyclebane_spark.queries.dedup import (
        _connected_components,
        _largestar_components,
    )

    n_chains = int(sys.argv[1]) if len(sys.argv) > 1 else 200
    chain_len = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    spark = bench_session('cyclebane-chain-bench')
    spark.sparkContext.setLogLevel('ERROR')

    n_nodes = n_chains * chain_len
    nodes = spark.range(n_nodes).select(F.col('id').alias('doc_id'))
    # chains: i -- i+1 within each block of chain_len
    pairs = (
        spark.range(n_nodes)
        .filter((F.col('id') + 1) % chain_len != 0)
        .select(
            F.col('id').alias('doc_a'), (F.col('id') + 1).alias('doc_b')
        )
    )
    nodes.localCheckpoint()
    pairs.localCheckpoint()

    t0 = time.perf_counter()
    lp = _connected_components(
        pairs, nodes, 'doc_a', 'doc_b', 'doc_id', max_rounds=chain_len + 5
    )
    lp_rows = lp.groupBy('cluster_id').count()
    lp_sig = lp_rows.agg(
        F.count(F.lit(1)).alias('n'),
        F.bit_xor(F.xxhash64('cluster_id', 'count')).alias('sig'),
    ).collect()[0]
    t_lp = time.perf_counter() - t0

    t0 = time.perf_counter()
    ls = _largestar_components(pairs, nodes, 'doc_a', 'doc_b', 'doc_id')
    ls_rows = ls.groupBy('cluster_id').count()
    ls_sig = ls_rows.agg(
        F.count(F.lit(1)).alias('n'),
        F.bit_xor(F.xxhash64('cluster_id', 'count')).alias('sig'),
    ).collect()[0]
    t_star = time.perf_counter() - t0

    assert (lp_sig['n'], lp_sig['sig']) == (ls_sig['n'], ls_sig['sig']), (
        'labelings differ!', lp_sig, ls_sig
    )
    assert lp_sig['n'] == n_chains
    print(json.dumps({
        'n_chains': n_chains,
        'chain_len': chain_len,
        'n_nodes': n_nodes,
        'diameter': chain_len - 1,
        'label_propagation_s': round(t_lp, 2),
        'label_propagation_rounds': chain_len - 1,
        'alternating_star_s': round(t_star, 2),
        'components_identical': True,
        'loadavg_1m': os.getloadavg()[0],
    }))


if __name__ == '__main__':
    main()
