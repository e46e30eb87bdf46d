"""Parquet table catalog for the TESTDATA star schema.

The same loaders serve every scale factor; at 100 TB the only change is the
directory. All readers go through ``spark.read.parquet`` so Catalyst gets
predicate pushdown / column pruning on the scan (check ``PushedFilters`` in
``df.explain``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    'region',
    'nation',
    'customer',
    'supplier',
    'part',
    'orders',
    'lineitem',
    'events',
    'documents',
    'embeddings',
)

# Resolved-relation cache, the local analog of a metastore's table cache:
# ``spark.read.parquet`` lists files and reads footers on every call, a
# driver-side round-trip that would otherwise be paid per query construction.
# DataFrames are immutable plans, so handing the same object out is safe; the
# cache is keyed by applicationId so entries die with their session.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    app_id = spark.sparkContext.applicationId
    # Entries for stopped sessions can never be handed out again (their
    # applicationId no longer matches) — drop them so plans don't accumulate
    # for the process lifetime across session restarts.
    for k in [k for k in _RELATION_CACHE if k[0] != app_id]:
        del _RELATION_CACHE[k]
    key = (app_id, sf_dir, name)
    df = _RELATION_CACHE.get(key)
    if df is None:
        if name == 'events':
            df = events_table(spark, sf_dir)
        else:
            df = spark.read.parquet(f'{sf_dir}/{name}.parquet')
        _RELATION_CACHE[key] = df
    elif name == 'events':
        # The two session confs the events plan depends on are asserted in
        # events_table on cache miss; intervening code could have un-pinned
        # them since. Re-assert on the cached path — cheap idempotent sets.
        spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')
        spark.conf.set('spark.sql.session.timeZone', 'UTC')
    return df


def events_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as TIMESTAMP_NTZ.

    The testdata generator has shipped ``ts`` two ways across rounds:
    nanosecond timestamps (which Spark's vectorized reader rejects — read as
    raw longs via the legacy conf and truncate to microseconds, matching
    DuckDB's ns->us truncation) or plain microsecond timestamps.  Detect
    which from the loaded type so either generation works; both paths end at
    a naive (NTZ) timestamp so no result depends on the session timezone.
    """
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')
    # Pin the session to UTC: any instant->NTZ cast below renders in the
    # session TZ at *execution* time, so this must hold for the DataFrame's
    # lifetime (not just during construction).
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    ev = spark.read.parquet(f'{sf_dir}/events.parquet')
    if isinstance(ev.schema['ts'].dataType, LongType):
        # Nanos-as-long: `div` (integer division) because epoch-nanos exceed
        # double's exact range, so `/ 1000` through double would round the
        # microsecond.
        ev = ev.withColumn('ts', F.expr('ts div 1000')).withColumn(
            'ts', F.timestamp_micros('ts').cast('timestamp_ntz')
        )
    else:
        ev = ev.withColumn('ts', F.col('ts').cast('timestamp_ntz'))
    return ev


def tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: table(spark, sf_dir, n) for n in (names or TABLE_NAMES)}


# Inputs whose scan cannot fill the cluster (fewer files than cores AND at
# most this many bytes) get a spreading repartition before heavy per-row
# compute; anything bigger relies on file/row-group splitting, which at
# production layouts (many ~128MB-1GB files, row groups to match) already
# yields >= one split per core, and a full-input exchange would be exactly
# the shuffle the optimization guide says to remove. Parameterised so a
# deployment can move the crossover without code changes.
SPREAD_MAX_BYTES_CONF = 'spark.cyclebane.spread.maxBytes'
SPREAD_MAX_BYTES_DEFAULT = 1 << 30


def _spread_max_bytes(spark: SparkSession) -> int:
    """The byte cap every layout gate reads. A value <= 1 is the kill
    switch: :func:`provably_small` is then False and no spread helper
    touches the plan (the A/B toggle used by tests and measurements)."""
    return int(spark.conf.get(SPREAD_MAX_BYTES_CONF, str(SPREAD_MAX_BYTES_DEFAULT)))


def provably_small(df: DataFrame) -> bool:
    """True iff ``df``'s input layout is PROVABLY small and local: fewer
    files than ``defaultParallelism``, every file a stat-able ``file:``
    path, total bytes within ``spark.cyclebane.spread.maxBytes`` (so False
    whenever the kill switch sets that cap <= 1). False on
    any doubt (remote storage, un-statable paths, no file info — e.g. a
    foreachBatch DataFrame, whose ``inputFiles()`` is empty) — i.e. false
    in every production layout, so callers can key layout-only plan
    adjustments on it without ever touching the plan at scale."""
    import os

    max_bytes = _spread_max_bytes(df.sparkSession)
    if max_bytes <= 1:
        return False
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return False
    if not files or len(files) >= par:
        return False
    from urllib.parse import unquote

    total = 0
    for f in files:
        if not f.startswith('file:'):
            return False  # remote storage: never add a full-input exchange
        try:
            # inputFiles() returns Hadoop URIs — percent-decode so paths
            # with spaces/% still stat (an OSError here would silently
            # disable the spread)
            total += os.path.getsize(unquote(f[len('file:'):]))
        except OSError:
            return False
        if total > max_bytes:
            return False
    return True


def spread_small(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive scan spread: hash-repartition a SMALL, few-file input
    to ``defaultParallelism`` so per-row compute (decimal aggregation, md5
    signatures, shingling) runs on every core instead of the one task a
    single-row-group file yields.

    Strictly a no-op (``df`` returned unchanged, no plan node added) when
    the input already arrives as >= parallelism files, exceeds the byte
    cap, or is not locally sizable — i.e. in every production layout (the
    :func:`provably_small` predicate). The round-11 measurement behind it:
    the sf0.1 driver tables are single parquet files with ONE row group,
    so file splitting cannot parallelize the scan (all rows land on the
    task holding the row-group midpoint) and a scan-dominated aggregation
    runs one core while 31 idle; q1 measured 1.36s -> 0.75s and the param
    sweep 2.03s -> 1.13s at sf0.1 with the spread, while the synthesized
    32-part sf1 tables take the no-op path (their scans are already
    core-wide, and the exchange this helper would add is pure overhead
    there — measured, see OPTIMIZATION_r11.md).

    ``key_cols`` should be a high-cardinality deterministic key (hash
    repartition; deterministic under task retries, unlike round-robin which
    also pays a local sort — SPARK-23207/38388, optimization guide §2.5).
    """
    if not provably_small(df):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *key_cols)


def spread_batch(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive spread for a STREAMING MICRO-BATCH DataFrame before
    heavy per-row compute (the foreachBatch analog of :func:`spread_small`).

    File-layout introspection is unavailable here — ``inputFiles()`` on a
    foreachBatch DataFrame returns [] — but a micro-batch is by
    construction DELTA-sized, so the repartition can never be the
    full-input shuffle spread_small guards against; the risk is only a
    pointless delta shuffle when the batch already arrives well
    partitioned. The decision therefore keys on the batch's actual
    partition count: fewer partitions than ``defaultParallelism`` (e.g.
    the common one-file-per-trigger landing pattern, or this repo's
    single-file driver layout) -> hash-repartition to parallelism so the
    per-row work fills the cluster; otherwise the plan is untouched. This
    is guide §2.5's "one huge unsplittable file -> repartition immediately
    after the read", scoped to the batch.

    Honors the same ``spark.cyclebane.spread.maxBytes`` kill switch as
    every other layout gate (see :func:`_spread_max_bytes`).
    """
    if _spread_max_bytes(df.sparkSession) <= 1:
        return df
    par = df.sparkSession.sparkContext.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n >= par:
        return df
    return df.repartition(par, *key_cols)


def spread_cluster(df: DataFrame, *key_cols: str) -> DataFrame:
    """Like :func:`spread_small`, but for call sites that need the exchange
    on EVERY layout — a materialization barrier (tokenize-once before an
    ~8x gram fan-out) or a pre-fan-out clustering the downstream window /
    aggregation reuses. The exchange therefore always happens; only its
    partition-count policy adapts:

    - small few-file input (the spread_small predicate): pinned to
      ``defaultParallelism``. AQE's parallelism-first coalescing targets
      max(bytes/parallelism, 1MB) per partition, so a few-MB local shuffle
      coalesces to 2-3 partitions and the heavy stage above it runs on 2-3
      of 32 cores; a user-pinned REPARTITION_BY_NUM is never coalesced.
    - anything else: ``repartition(*key_cols)`` — AQE-elastic sizing, the
      correct policy when the shuffle actually carries cluster-scale bytes.
    """
    spread = spread_small(df, *key_cols)
    return spread if spread is not df else df.repartition(*key_cols)
