#!/usr/bin/env python
"""Bucketed-rank skew benchmark: sampled split points vs a naive
constant-width bucket for the shared global-rank helper.

Run from the repo root: ``python tools/gen_rank_skew_bench.py``. Synthesizes
a value-skewed table entirely inside Spark (spark.range -> 90% of keys
packed into [0, 100), 10% spread over [0, 1e9)) and ranks it globally with
``functions.ranking.with_global_position`` twice:

- NAIVE bucket: ``floor(key / W)`` with W sized for the FULL key range —
  the obvious choice when you don't know the distribution. On this corpus
  it funnels 90% of the rows into bucket 0, so the within-bucket window
  sorts 90% of the table in ONE task (the single-reducer trap re-created
  one level down).
- EQUI-DEPTH bucket: up to 31 sampled split points (percentile_approx,
  one narrow agg — the same move Spark's own RangePartitioner makes)
  compiled into a monotone indicator-sum expression, so every bucket holds
  ~1/32 of the rows and all 32 window sorts run in parallel.

Positions are verified IDENTICAL (count + order-independent checksum):
rank exactness never depends on bucket balance — only task balance does —
which is precisely why the escape hatch is safe to apply blindly. The
helper's production call sites pick their bucket exprs the same way
(`sources/arrays.py _range_bucket_expr` samples split points for
non-numeric keys; numeric callers choose floor(key/W) only where the key
is known dense, e.g. text lengths).

Rewrites ONLY its own section of SCALE.md (up to the next ``## `` heading).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ROWS = 20_000_000
KEY_MAX = 1_000_000_000
HOT_MOD = 10  # id % 10 != 0 -> hot (90% of rows), key in [0, 100)
N_BUCKETS = 32

MARKER = '## Rank-bucket skew'


def skewed_table(spark):
    import pyspark.sql.functions as F

    base = spark.range(N_ROWS).select(F.col('id'))
    key = F.when(
        F.col('id') % HOT_MOD != 0, F.col('id') % 100
    ).otherwise(F.pmod(F.xxhash64('id'), F.lit(KEY_MAX)))
    return base.select('id', key.cast('bigint').alias('k'))


def split_point_bucket(df):
    """Equi-depth monotone bucket from sampled split points: bucket =
    #splits <= k (an indicator sum — monotone in k by construction)."""
    import pyspark.sql.functions as F

    probs = ', '.join(repr(i / N_BUCKETS) for i in range(1, N_BUCKETS))
    row = df.selectExpr(
        f'percentile_approx(k, array({probs}), 10000) AS q'
    ).first()
    splits = sorted({int(s) for s in (row['q'] or []) if s is not None})
    expr = ' + '.join(f'CAST(k >= {s} AS INT)' for s in splits) or '0'
    return F.expr(expr), len(splits)


def checksum(df, spark):
    import pyspark.sql.functions as F

    row = df.agg(
        F.count(F.lit(1)).alias('n'),
        F.expr('bit_xor(xxhash64(k, id, __pos))').alias('h'),
    ).collect()[0]
    return row.n, row.h


def best_of(make_df, spark, k=3):
    """Time the checksum aggregation, NOT count(): a bare count() lets
    Catalyst prune the row_number window (no column demand), so the rank
    would never be computed and the bench would time only the join."""
    times = []
    for _ in range(k):
        t0 = time.perf_counter()
        checksum(make_df(), spark)
        times.append(time.perf_counter() - t0)
    return min(times)


def main() -> None:
    import pyspark.sql.functions as F

    from cyclebane_spark.functions import bench_session
    from cyclebane_spark.functions.ranking import with_global_position

    spark = bench_session('cyclebane-rank-skew-bench')
    spark.sparkContext.setLogLevel('ERROR')
    load = os.getloadavg()[0]

    docs = skewed_table(spark).persist()
    docs.count()

    naive_w = KEY_MAX // N_BUCKETS
    naive = lambda: with_global_position(  # noqa: E731
        docs, F.floor(F.col('k') / naive_w), ['k', 'id']
    )
    sp_bucket, n_splits = split_point_bucket(docs)
    equi = lambda: with_global_position(docs, sp_bucket, ['k', 'id'])  # noqa: E731

    n_a, h_a = checksum(naive(), spark)
    n_b, h_b = checksum(equi(), spark)
    assert (n_a, h_a) == (n_b, h_b), (
        f'position sets differ: {(n_a, h_a)} vs {(n_b, h_b)}'
    )
    assert n_a == N_ROWS

    t_naive = best_of(naive, spark)
    t_equi = best_of(equi, spark)

    # observed bucket balance (max bucket share) for the honesty row
    def max_share(bucket):
        top = (
            docs.select(bucket.alias('b'))
            .groupBy('b')
            .count()
            .agg(F.max('count'))
            .collect()[0][0]
        )
        return top / N_ROWS

    share_naive = max_share(F.floor(F.col('k') / naive_w))
    share_equi = max_share(sp_bucket)

    lines = [
        MARKER,
        '',
        'Generated by `python tools/gen_rank_skew_bench.py` '
        f'(local[{spark.sparkContext.defaultParallelism}],',
        f'best-of-3). Corpus: {N_ROWS:,} rows synthesized in-plan, 90% of',
        'keys packed into [0, 100) and 10% spread over [0, 1e9) — the',
        'value-skew shape where a constant-width bucket for the shared',
        'two-level global rank (`functions/ranking.py`) collapses into',
        'one giant within-bucket window sort, while the sampled',
        'split-point bucketing (the documented escape hatch, the same',
        'equi-depth move as `sources/arrays.py _range_bucket_expr`)',
        'keeps all 32 bucket sorts parallel. Positions verified identical',
        '(count + order-independent checksum): bucket choice affects task',
        'balance only, never rank exactness.',
        '',
        '| bucket expr | max bucket share | wall (s) |',
        '|---|---|---|',
        f'| naive `floor(k / {naive_w:,})` | {share_naive:.0%} | {t_naive:.2f} |',
        f'| {n_splits + 1} equi-depth sampled ranges | {share_equi:.0%} | {t_equi:.2f} |',
        '',
        f'Split-point speedup under value skew: **{t_naive / t_equi:.2f}x**'
        f' (1-min loadavg at run: {load:.1f}).',
        'On a uniformly distributed key both bucketings are equi-depth and',
        'the constant-width form wins on construction cost (no sampling',
        'agg) — the helper leaves the choice to the call site, and the',
        'one call site with an unknown distribution (positional slicing',
        'over arbitrary backends) already samples.',
    ]

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        'SCALE.md',
    )
    with open(path) as f:
        doc = f.read()
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
    print(block)
    spark.stop()


if __name__ == '__main__':
    main()
