#!/usr/bin/env python
"""Synthesize an sf1 dataset (10x sf0.1) for the scale sweep.

Run from the repo root: ``python tools/gen_sf1.py`` — writes parquet tables
to /tmp/cb_sf1 (override with SPARK_GRAFT_SF1_DIR). The shipped testdata
tops out at sf0.1; this extends the SCALE.md sweep to a third 10x step so
the "no super-linear growth" claim rests on three decades, not two.

Construction (all in-plan, nothing collects to the driver):

- FACT tables (lineitem, orders, events, documents, embeddings) are
  replicated 10x via a crossJoin with a 10-row replica dim; replica r
  offsets the primary key (and the orders<->lineitem join key in lockstep)
  by r * 100M, so keys stay unique and the orders/lineitem join fans out
  exactly as at sf0.1.
- DIM tables (region, nation, customer, supplier, part) are copied as-is:
  facts-per-dim-row grows 10x, which is how real warehouses scale.
- documents.text is salted per replica (every token at position i%3==0
  gets an ``_r{r}`` suffix; replica 0 keeps the original text), so every
  3-token shingle of a replica contains a salted token: replicas share NO
  shingles, the near-dup pair structure replicates linearly (10x the sf0.1
  pairs), and MinHash timings stay interpretable instead of exploding into
  a 10-copy exact-duplicate corpus.
- embeddings replicate with offset vec_ids; the ANN query side stays
  vec_id < 5 (replica 0), so the corpus grows 10x while the query set is
  fixed — the scale axis that matters for the broadcast-side join.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = '/root/testdata/sf0.1'
N_REP = 10
OFF = 100_000_000


def main() -> None:
    import pyspark.sql.functions as F

    from cyclebane_spark.functions import bench_session

    out_dir = os.environ.get('SPARK_GRAFT_SF1_DIR', '/tmp/cb_sf1')
    spark = bench_session('cyclebane-gen-sf1')
    spark.sparkContext.setLogLevel('ERROR')
    spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')

    rep = spark.range(N_REP).select(F.col('id').cast('long').alias('__r'))

    def replicate(df, key_offsets: dict[str, int]):
        out = df.crossJoin(rep)
        for col, mult in key_offsets.items():
            out = out.withColumn(col, F.col(col) + F.col('__r') * mult)
        return out.drop('__r')

    def write(df, name: str) -> None:
        df.repartition(32).write.mode('overwrite').parquet(
            f'{out_dir}/{name}.parquet'
        )
        print(f'{name}: {spark.read.parquet(f"{out_dir}/{name}.parquet").count():,} rows')

    # dims: straight copies
    for name in ('region', 'nation', 'customer', 'supplier', 'part'):
        write(spark.read.parquet(f'{SRC}/{name}.parquet'), name)

    li = spark.read.parquet(f'{SRC}/lineitem.parquet')
    write(replicate(li, {'l_orderkey': OFF}), 'lineitem')

    orders = spark.read.parquet(f'{SRC}/orders.parquet')
    write(replicate(orders, {'o_orderkey': OFF}), 'orders')

    from cyclebane_spark.tables import events_table

    ev = events_table(spark, SRC)  # normalizes ts to TIMESTAMP_NTZ
    write(replicate(ev, {'event_id': OFF, 'user_id': OFF}), 'events')

    docs = spark.read.parquet(f'{SRC}/documents.parquet')
    salted_tok = F.transform(
        F.split(F.col('text'), r'\s+'),
        lambda t, i: F.when(
            (i % 3 == 0) & (F.col('__r') > 0),
            F.concat(t, F.lit('_r'), F.col('__r').cast('string')),
        ).otherwise(t),
    )
    docs_rep = (
        docs.crossJoin(rep)
        .withColumn('doc_id', F.col('doc_id') + F.col('__r') * OFF)
        .withColumn('text', F.concat_ws(' ', salted_tok))
        .drop('__r')
    )
    write(docs_rep, 'documents')

    emb = spark.read.parquet(f'{SRC}/embeddings.parquet')
    write(replicate(emb, {'vec_id': OFF}), 'embeddings')

    spark.stop()
    print(f'sf1 written to {out_dir}')


if __name__ == '__main__':
    main()
