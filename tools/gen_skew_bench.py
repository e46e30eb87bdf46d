#!/usr/bin/env python
"""Skew crossover benchmark: salted vs unsalted LSH candidate generation.

Run from the repo root: ``python tools/gen_skew_bench.py``. Synthesizes a
boilerplate-heavy corpus 10x the sf0.1 document count ENTIRELY inside Spark
(spark.range -> deterministic text columns; nothing touches the driver),
where a fixed fraction of documents share identical boilerplate text — so
every LSH band funnels that fraction into ONE hot bucket, the adversarial
shape for the unsalted pair generator (a single C(K,2) fan-out task per
band). Verifies the salted and unsalted pair sets are identical (count +
order-independent xxhash64 checksum — the small-corpus bit-exactness proof
lives in tests/test_dedup_skew.py), times both best-of-3, and rewrites the
"Skew crossover" section of SCALE.md.

The point: correctness tests prove the salted join is EXACT; this records
that it is also FASTER once a bucket is hot — the wall-time claim behind
queries/dedup.py's recommendation to salt boilerplate-heavy corpora.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_DOCS = 50_000  # 10x the sf0.1 documents table
HOT_FRACTION = 20  # 1-in-20 docs share the identical boilerplate (2500 docs)
N_SALT = 8

MARKER = '## Skew crossover'


def skewed_corpus(spark):
    import pyspark.sql.functions as F

    boiler = (
        'terms of service apply to all content on this page all rights '
        'reserved contact us for licensing details unsubscribe preferences'
    )
    base = spark.range(N_DOCS).select(F.col('id').alias('doc_id'))
    # Unique docs get ~16 tokens derived from md5(doc_id) — distinct shingle
    # sets, so they never collide with the hot bucket.
    uniq = F.concat_ws(
        ' ',
        F.lit('document'),
        F.col('doc_id').cast('string'),
        *[
            F.substring(F.md5(F.concat(F.lit(f'w{k}:'), F.col('doc_id').cast('string'))), 1, 6)
            for k in range(14)
        ],
    )
    text = F.when(F.col('doc_id') % HOT_FRACTION == 0, F.lit(boiler)).otherwise(uniq)
    return base.select('doc_id', text.alias('text'))


def checksum(pairs):
    import pyspark.sql.functions as F

    row = pairs.agg(
        F.count(F.lit(1)).alias('n'),
        F.expr('bit_xor(xxhash64(doc_a, doc_b))').alias('h'),
    ).collect()[0]
    return row.n, row.h


def best_of(df, k=3):
    times = []
    for _ in range(k):
        t0 = time.perf_counter()
        df.count()
        times.append(time.perf_counter() - t0)
    return min(times)


def main() -> None:
    from cyclebane_spark.functions import bench_session
    from cyclebane_spark.queries.dedup import (
        _adaptive_pairs_from_bands,
        _minhash_bands,
        _pairs_from_bands,
        _salted_pairs_from_bands,
    )

    spark = bench_session('cyclebane-skew-bench')
    spark.sparkContext.setLogLevel('ERROR')
    load = os.getloadavg()[0]

    docs = skewed_corpus(spark)
    n_hot = N_DOCS // HOT_FRACTION
    bands = _minhash_bands(docs)
    plain = _pairs_from_bands(bands)
    salted = _salted_pairs_from_bands(bands, n_salt=N_SALT)

    n_plain, h_plain = checksum(plain)
    n_salted, h_salted = checksum(salted)
    assert (n_plain, h_plain) == (n_salted, h_salted), (
        f'pair sets differ: {(n_plain, h_plain)} vs {(n_salted, h_salted)}'
    )
    assert n_plain >= n_hot * (n_hot - 1) // 2

    # warm both once (checksum above already ran each), then time
    t_plain = best_of(plain)
    t_salted = best_of(salted)

    # The stats-gated adaptive operator on the same corpus: time the FULL
    # per-invocation cost — band build + histogram job + the branch it
    # picks (salted, here) — since the gate runs at construction time.
    adaptive0 = _adaptive_pairs_from_bands(_minhash_bands(docs), n_salt=N_SALT)
    n_ad, h_ad = checksum(adaptive0)
    assert (n_ad, h_ad) == (n_plain, h_plain), 'adaptive pair set differs'
    t_adaptive = None
    for _ in range(3):
        t0 = time.perf_counter()
        _adaptive_pairs_from_bands(_minhash_bands(docs), n_salt=N_SALT).count()
        dt = time.perf_counter() - t0
        t_adaptive = dt if t_adaptive is None else min(t_adaptive, dt)

    lines = [
        MARKER,
        '',
        'Generated by `python tools/gen_skew_bench.py` '
        f'(local[{spark.sparkContext.defaultParallelism}],',
        'best-of-3). Corpus: 50k docs synthesized in-plan, 1 in '
        f'{HOT_FRACTION} sharing',
        'identical boilerplate text — every LSH band funnels those '
        f'{n_hot} docs',
        'into ONE hot bucket, so the unsalted generator runs a single',
        f'C({n_hot},2) fan-out task per band while the salted join spreads',
        f'the same work over n_salt*(n_salt+1)/2 = {N_SALT * (N_SALT + 1) // 2} salt-pair keys per',
        'bucket. Pair sets verified identical (count + order-independent',
        'checksum); bit-exactness on a small corpus is pinned by',
        'tests/test_dedup_skew.py.',
        '',
        '| variant | pairs | wall (s) |',
        '|---|---|---|',
        f'| unsalted `dedup_minhash_lsh` | {n_plain:,} | {t_plain:.2f} |',
        f'| salted `dedup_minhash_lsh_salted` | {n_salted:,} | {t_salted:.2f} |',
        f'| adaptive `dedup_minhash_lsh_adaptive` | {n_ad:,} | {t_adaptive:.2f} |',
        '',
        f'Salted speedup under skew: **{t_plain / t_salted:.2f}x**'
        f' (1-min loadavg at run: {load:.1f}).',
        'On the organic (unskewed) gate corpus the unsalted plan wins —',
        'salting costs (n_salt+1)x band-row replication. The stats-gated',
        'adaptive operator (`dedup_minhash_lsh_adaptive`) measures the',
        'band-bucket histogram per run and picks the right branch itself',
        '(here: salted; its row above includes the histogram job and the',
        'full band build), so production needs no prior knowledge of the',
        'corpus shape. All three pair sets verified identical.',
    ]

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'SCALE.md')
    with open(path) as f:
        doc = f.read()
    # splice ONLY this tool's section (up to the next ## heading): other
    # generated sections may follow it in the document
    block = '\n'.join(lines)
    if MARKER in doc:
        start = doc.index(MARKER)
        nxt = doc.find('\n## ', start + len(MARKER))
        # keep the newline BEFORE the next heading (end = nxt, not nxt+1)
        # so the separating blank line survives regeneration
        end = len(doc) if nxt == -1 else nxt
        doc = doc[:start] + block + '\n' + doc[end:]
    else:
        doc = doc.rstrip() + '\n\n' + block + '\n'
    with open(path, 'w') as f:
        f.write(doc)
    print('\n'.join(lines))
    spark.stop()


if __name__ == '__main__':
    main()
