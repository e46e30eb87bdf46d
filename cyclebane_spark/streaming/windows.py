"""Structured Streaming over the ``events`` table: windowed aggregation,
session windows, watermarks, and custom stateful processing.

The reference is fully batch (SURVEY.md §2.2 — streaming ABSENT); this module
is part of the engine's additive surface. Design:

- the events parquet doubles as a file-stream source (schema pinned from a
  batch read, nanosecond timestamps handled exactly like the batch loader);
- each batch query in ``cyclebane_spark.queries.events`` has a streaming
  statement here with identical semantics — the test suite and the DuckDB
  oracle check them against each other (stream/batch parity);
- at scale the same code runs against a real stream (kafka/file drops):
  state lives in the state store keyed by (window x group), watermarks bound
  it, and the shuffle is on the same keys as the batch rollup.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

_SINK_IDS = itertools.count()


def _sync_link_dir(prefix: str, path: str) -> str:
    """Idempotent symlink landing dir for a parquet dataset (the file
    source needs a directory and does not recurse, so each part file is
    linked in). Links whose targets vanished are PRUNED first — a
    regenerated dataset renames/removes part files, and a surviving stale
    link would silently feed old parts into the stream or fail it on a
    broken link — then links for every current part are added. Prune+add
    (not rmtree+recreate) keeps concurrent callers safe: no window where a
    live stream's still-valid links disappear, and the two races that
    remain (concurrent prune, concurrent add) are absorbed by the
    try/excepts.

    The landing dir lives under the ownership-verified per-uid scratch
    parent (see :mod:`cyclebane_spark.scratch`): a world-shared /tmp name
    keyed only by md5(path) is predictable, so on a multi-user host
    another user could pre-create it and feed the stream."""
    import os

    from ..scratch import scratch_dir

    link_dir = scratch_dir(prefix, path)
    for name in os.listdir(link_dir):
        link = f'{link_dir}/{name}'
        if os.path.islink(link) and not os.path.exists(link):
            try:
                os.unlink(link)
            except FileNotFoundError:
                pass  # a concurrent pruner got there first
    if os.path.isdir(path):
        targets = {
            p: f'{path}/{p}'
            for p in sorted(os.listdir(path))
            if p.endswith('.parquet')
        }
    else:
        targets = {os.path.basename(path): path}
    for name, target in targets.items():
        try:
            os.symlink(target, f'{link_dir}/{name}')
        except FileExistsError:
            pass  # already linked (this run or a concurrent one)
    return link_dir


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream.

    ``ts`` stays an instant (TimestampType) because watermarks reject NTZ;
    the session is pinned to UTC so NTZ renderings of results are
    deterministic. The file source needs a *directory* — a /tmp dir with a
    symlink to the parquet file stands in (a real deployment points at the
    stream's landing directory).
    """
    spark.conf.set('spark.sql.legacy.parquet.nanosAsLong', 'true')
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    path = f'{sf_dir}/events.parquet'
    link_dir = _sync_link_dir('cb_stream_src', path)
    schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(schema).parquet(link_dir)
    # Mirror the batch loader's type detection (tables.events_table): the
    # testdata has shipped ts as nanos-as-long and as plain us timestamps.
    from pyspark.sql.types import LongType

    if isinstance(schema['ts'].dataType, LongType):
        stream = stream.withColumn('ts', F.expr('ts div 1000')).withColumn(
            'ts', F.timestamp_micros('ts')
        )
    else:
        # Watermarks reject NTZ; with the session pinned to UTC this cast is
        # a wall-clock no-op.
        stream = stream.withColumn('ts', F.col('ts').cast('timestamp'))
    return stream


def write_mtime_ordered_file(df, land: str, name: str, seq: int) -> None:
    """Write ``df`` as ONE parquet file at ``{land}/{name}.parquet`` whose
    mtime orders it ``seq``-th — the single-file micro-batch replay idiom
    shared by the late-data replays and the IVF ingest landing: with
    ``maxFilesPerTrigger=1`` the FileStreamSource turns each file into one
    deterministic micro-batch, in mtime order."""
    import glob
    import os
    import shutil

    from ..scratch import scratch_dir

    tmp = scratch_dir('cb_ordered_tmp', f'{land}/{name}', create=False)
    df.coalesce(1).write.mode('overwrite').parquet(tmp)
    part = glob.glob(f'{tmp}/part-*.parquet')[0]
    dst = f'{land}/{name}.parquet'
    shutil.copy(part, dst)
    mtime = 1_000_000 + seq * 1_000
    os.utime(dst, (mtime, mtime))
    shutil.rmtree(tmp, ignore_errors=True)


def late_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    straggler_extra: 'F.Column | None' = None,
    variant: str = '',
) -> str:
    """Deterministic OUT-OF-ORDER replay of the events table, for the
    late-data accounting gate: three parquet files whose mtimes order them

    1. on-time bulk — everything except the first AND last wall-clock hour
       (carries event times spanning the rest of the month, so processing
       it advances the watermark far past the first hour);
    2. advancer — the last hour's events (the stream "keeps flowing");
    3. stragglers — the FIRST hour's events, replayed months late.

    With ``maxFilesPerTrigger=1`` each file is one micro-batch. Spark's
    late-record filter for batch N uses the watermark REPORTED for batch
    N-1 (i.e. max event time through batch N-2, minus the delay — measured
    on this engine: a one-batch gap drops nothing, a two-batch gap drops
    everything), so by batch 3 the filter watermark sits at ~month-end and
    every straggler is months past it — no boundary sensitivity at any SF
    (requires only that the table spans > 2 hours; the testdata spans a
    month at every SF).

    The partition rule is pure SQL over the table (first hour / last hour
    by min/max ts), so a DuckDB oracle can restate exactly which rows the
    watermark must drop. All three subsets are written in-plan (broadcast
    bounds join, no driver collect); the landing dir lives under the
    ownership-verified per-uid scratch parent.

    ``straggler_extra`` narrows the straggler set WITHIN the first hour
    (the non-straggler remainder of the first hour then arrives on time,
    so its windows finalize with stale counts — the partition-overwrite
    case the backfill query exercises); pass a distinct ``variant`` with
    it so the two replays get separate scratch dirs.
    """
    from ..scratch import scratch_dir
    from ..tables import table

    ev = table(spark, sf_dir, 'events').select(
        'user_id', 'event_id', 'event_type', 'ts', 'value'
    )
    bounds = ev.agg(
        F.min('ts').alias('t0'), F.max('ts').alias('t1')
    )
    tagged = ev.crossJoin(F.broadcast(bounds))
    first_hour = F.col('ts') < F.col('t0') + F.expr("INTERVAL '1' HOUR")
    last_hour = F.col('ts') >= F.col('t1') - F.expr("INTERVAL '1' HOUR")
    straggler = first_hour
    if straggler_extra is not None:
        straggler = first_hour & straggler_extra
    subsets = (
        ('b1_bulk', ~straggler & ~last_hour),
        ('b2_advancer', last_hour & ~straggler),
        ('b3_stragglers', straggler),
    )
    land = scratch_dir('cb_late_replay', sf_dir + variant, wipe=True)
    # r12 optimization (guide §2.6 — overlap independent jobs): the three
    # subset writes are independent single-file jobs whose replay order is
    # fixed by the explicitly-set mtimes, not by completion order, so they
    # can run concurrently from driver threads and back-fill each other's
    # idle capacity. Measured: replay build 1.07s -> 0.41s at sf0.1;
    # query-level interleaved A/B (serial pool vs this) 3.32 -> 2.91s
    # (audit) and 3.80 -> 3.39s (backfill), all reps separated.
    from concurrent.futures import ThreadPoolExecutor

    def write_one(args):
        i, (name, pred) = args
        write_mtime_ordered_file(
            tagged.filter(pred).drop('t0', 't1'), land, name, i
        )

    with ThreadPoolExecutor(max_workers=len(subsets)) as pool:
        list(pool.map(write_one, enumerate(subsets)))
    return land


def late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data ACCOUNTING: run the out-of-order replay through
    a watermarked admission operator and surface, as a one-row audit
    frame, (input_rows, dropped_late_rows, admitted_rows) — input counted
    by ``observe()`` on the pre-state stream, drops read from the
    StreamingQueryProgress state-operator metrics. This is the production
    observability twin of the state-eviction proofs in
    tests/test_streaming.py: the numbers a pipeline operator alarms on.

    The admission operator groups by (hour window, event_id): event_id is
    unique, so every group is a singleton and ``numRowsDroppedByWatermark``
    (which counts post-partial-aggregation rows) equals the DROPPED INPUT
    ROW count exactly — the property that makes the metric oracle-checkable
    instead of merely >= 1.
    """
    import json

    src = late_replay_dir(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    # watermarks reject NTZ; with the session pinned to UTC the instant
    # cast is a wall-clock no-op (same contract as events_stream)
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    stream = (
        spark.readStream.schema(schema)
        .option('maxFilesPerTrigger', 1)
        .parquet(src)
        .withColumn('ts', F.col('ts').cast('timestamp'))
    )
    admitted = (
        stream.withWatermark('ts', '30 minutes')
        .observe('late_audit', F.count(F.lit(1)).alias('input_rows'))
        .groupBy(F.window('ts', '1 hour'), 'event_id')
        .agg(F.count(F.lit(1)).alias('n'))
    )
    name = f'cb_late_audit_{next(_SINK_IDS)}'
    query = (
        admitted.writeStream.format('noop')
        .queryName(name)
        .outputMode('append')
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    progress = [json.loads(p.json) for p in query.recentProgress]
    # The exact-drop oracle rests on two engine behaviors measured on THIS
    # Spark version: FileStreamSource honoring the hand-set mtime order,
    # and the two-batch watermark propagation lag (batch N filters with
    # the watermark reported for batch N-1). Both failure modes are safe
    # (the gate goes red), but they would surface as a confusing oracle
    # mismatch — so diagnose an engine-behavior change AS such: the replay
    # must have run as exactly 3 single-file data batches (plus at most
    # one empty availableNow finalizer).
    data_batches = [p for p in progress if int(p.get('numInputRows', 0)) > 0]
    if len(data_batches) != 3 or len(progress) > 4:
        raise RuntimeError(
            'replay ordering assumption broken: expected 3 single-file '
            f'micro-batches (+<=1 finalizer), saw {len(data_batches)} data '
            f'batches in {len(progress)} total — the FileStreamSource '
            'mtime ordering or maxFilesPerTrigger batching changed on '
            'this engine version'
        )
    input_rows = sum(
        int(p.get('observedMetrics', {}).get('late_audit', {}).get('input_rows', 0))
        for p in progress
    )
    dropped = sum(
        int(op.get('numRowsDroppedByWatermark', 0))
        for p in progress
        for op in p.get('stateOperators', [])
    )
    return spark.createDataFrame(
        [(input_rows, dropped, input_rows - dropped)],
        'input_rows long, dropped_late_rows long, admitted_rows long',
    )


def run_to_memory(result: DataFrame, *, output_mode: str) -> DataFrame:
    """Execute a streaming DataFrame to completion; return the result table.

    ``availableNow`` processes the whole backlog then stops — the streaming
    analog of a batch run, used for stream/batch parity checks.
    """
    name = f'cb_stream_sink_{next(_SINK_IDS)}'
    query = (
        result.writeStream.format('memory')
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    spark_session = result.sparkSession
    return spark_session.table(name)


def tumbling_hourly(stream: DataFrame) -> DataFrame:
    """Tumbling 1h window x event_type — streaming statement of
    ``events_hourly_agg``."""
    return (
        stream.groupBy(F.window('ts', '1 hour'), 'event_type')
        .agg(
            F.count(F.lit(1)).alias('n_events'),
            F.sum(F.col('value').cast('decimal(28,6)'))
            .cast('double')
            .alias('total_value'),
        )
        .select(
            F.col('window.start').cast('timestamp_ntz').alias('hour_start'),
            'event_type',
            'n_events',
            'total_value',
        )
    )


def tumbling_hourly_watermarked(stream: DataFrame, delay: str = '2 hours') -> DataFrame:
    """Watermarked variant (append mode): late data beyond ``delay`` is
    dropped and windows finalize once the watermark passes them."""
    return (
        stream.withWatermark('ts', delay)
        .groupBy(F.window('ts', '1 hour'), 'event_type')
        .agg(F.count(F.lit(1)).alias('n_events'))
        .select(
            F.col('window.start').cast('timestamp_ntz').alias('hour_start'),
            'event_type',
            'n_events',
        )
    )


def session_windows(stream: DataFrame, gap: str = '30 minutes') -> DataFrame:
    """Session windows per user: the streaming statement of
    ``events_sessionization`` (same 30-min gap semantics)."""
    return (
        stream.withWatermark('ts', '1 day')
        .groupBy(F.session_window('ts', gap), 'user_id')
        .agg(
            F.count(F.lit(1)).alias('n_events'),
            F.sum(F.col('value').cast('decimal(28,6)'))
            .cast('double')
            .alias('session_value'),
        )
        .select(
            'user_id',
            F.col('session_window.start')
            .cast('timestamp_ntz')
            .alias('session_start'),
            'n_events',
            'session_value',
        )
    )


def sliding_windows(stream: DataFrame) -> DataFrame:
    """Sliding 1h windows every 30 min — the streaming statement of
    ``events_sliding_windows`` (each event lands in two windows; the window
    assignment is a projection fan-out, the shuffle keys on window x type
    exactly like the batch rollup)."""
    return (
        stream.groupBy(F.window('ts', '60 minutes', '30 minutes'), 'event_type')
        .agg(F.count(F.lit(1)).alias('n_events'))
        .select(
            F.col('window.start').cast('timestamp_ntz').alias('window_start'),
            'event_type',
            'n_events',
        )
    )


def dedup_stream(stream: DataFrame, *, within: str = '1 day') -> DataFrame:
    """Streaming exact dedup: drop repeated (user_id, event_type, value)
    tuples arriving within the watermark horizon.

    The streaming statement of training-pipeline dedup: state is one entry
    per key in the state store, expired by the watermark (bounded memory).
    At 100 TB/day the horizon bounds state to a day's distinct keys.
    """
    return stream.withWatermark('ts', within).dropDuplicates(
        ['user_id', 'event_type', 'value']
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running per-user
    event counts and value totals, emitted on every update.

    The pattern for stateful logic windows can't express (counters, CEP,
    custom sessionizers): state is a per-key pandas-serializable tuple in
    the state store; the stream shuffles once on the key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf['value'].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {'user_id': [key[0]], 'n_events': [n], 'total_value': [total]}
        )

    return (
        stream.select('user_id', 'value')
        .groupBy('user_id')
        .applyInPandasWithState(
            update,
            outputStructType='user_id long, n_events long, total_value double',
            stateStructType='n long, total double',
            outputMode='update',
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_counters(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState with PURE INTEGER
    state: running per-user event and click counts, emitted on every update.

    The integer-only twin of :func:`running_user_totals` used by the
    correctness gate — integer accumulation is associative and exact, so the
    final counters hash-match a batch GROUP BY regardless of arrival order
    or batch boundaries (float running totals would drift in the low bits).
    Scale: one shuffle on the key; state is two longs per distinct user.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, clicks = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            clicks += int((pdf['event_type'] == 'click').sum())
        state.update((n, clicks))
        yield pd.DataFrame(
            {'user_id': [key[0]], 'n_events': [n], 'n_clicks': [clicks]}
        )

    return (
        stream.select('user_id', 'event_type')
        .groupBy('user_id')
        .applyInPandasWithState(
            update,
            outputStructType='user_id long, n_events long, n_clicks long',
            stateStructType='n long, clicks long',
            outputMode='update',
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def running_user_totals_tws(stream: DataFrame) -> DataFrame:
    """The same running per-user counters on Spark 4's transformWithState
    API — typed per-key ValueState instead of a single opaque tuple.

    transformWithState supersedes applyInPandasWithState for new code:
    composable named state variables (value/list/map), timers, TTL, and
    initial-state bootstrap. Same scale shape: one shuffle on the key, state
    store holds O(distinct keys).

    Documented-optional in this container: the tWS state protocol speaks
    protobuf (`google.protobuf`), which is not installed and cannot be.
    Plan construction and output schema are tested; execution parity is
    carried by the applyInPandasWithState twin
    (:func:`running_user_counters`), which is a driver-gated query with an
    exact oracle (``stream_stateful_counters``).
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                'totals', 'n long, total double'
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._state.get() if self._state.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf['value'].sum())
            self._state.update((n, total))
            yield pd.DataFrame(
                {'user_id': [key[0]], 'n_events': [n], 'total_value': [total]}
            )

        def close(self) -> None:
            pass

    return (
        stream.select('user_id', 'value')
        .groupBy('user_id')
        .transformWithStateInPandas(
            RunningTotals(),
            outputStructType='user_id long, n_events long, total_value double',
            outputMode='Update',
            timeMode='None',
        )
    )


def view_click_join(stream: DataFrame, *, horizon: str = '1 hour') -> DataFrame:
    """Watermarked stream-stream interval join: each view matched to the
    same user's clicks landing within ``horizon`` after it.

    The canonical funnel/attribution join. Both sides carry watermarks and
    the join condition time-bounds click_ts against view_ts, so the state
    store retains each side only until the other side's watermark passes
    the bound — state stays O(horizon x arrival rate), never unbounded.
    One shuffle per side, keyed on user_id (the equi-join key).
    """
    views = (
        stream.filter(F.col('event_type') == 'view')
        .select(
            F.col('user_id'),
            F.col('ts').alias('view_ts'),
            F.col('event_id').alias('view_id'),
        )
        .withWatermark('view_ts', '2 hours')
    )
    clicks = (
        stream.filter(F.col('event_type') == 'click')
        .select(
            F.col('user_id'),
            F.col('ts').alias('click_ts'),
            F.col('event_id').alias('click_id'),
        )
        .withWatermark('click_ts', '2 hours')
    )
    return views.join(
        clicks,
        on=[
            views.user_id == clicks.user_id,
            clicks.click_ts >= views.view_ts,
            clicks.click_ts <= views.view_ts + F.expr(f'INTERVAL {horizon}'),
        ],
    ).select(
        views.user_id, 'view_id', 'click_id', 'view_ts', 'click_ts'
    )


def latest_per_key(df: DataFrame) -> DataFrame:
    """Last-write-wins per (user_id, event_type): the compaction statement
    shared by the batch query (``events_cdc_compaction``) and the streaming
    upsert sink — one partial-aggregate shuffle, no window sort."""
    return (
        df.groupBy('user_id', 'event_type')
        .agg(
            F.max_by(
                F.struct('event_id', 'ts', 'value'),
                F.struct('ts', 'event_id'),
            ).alias('last')
        )
        .select(
            'user_id',
            'event_type',
            F.col('last.event_id').alias('event_id'),
            F.col('last.ts').alias('ts'),
            F.col('last.value').alias('value'),
        )
    )


def _snapshot_merge(
    stream: DataFrame,
    base_dir: str,
    compact: Callable[[DataFrame], DataFrame],
) -> str:
    """Run ``stream`` to completion through a foreachBatch MERGE: each
    batch is folded by ``compact`` (a per-key argmax, so the fold is
    associative and replay-idempotent) together with the previous
    snapshot, and written as a new ``v<batch_id>`` snapshot directory.
    Returns the final snapshot path."""
    state: dict[str, str | None] = {'cur': None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        latest = compact(batch_df)
        if state['cur'] is not None:
            latest = compact(
                sp.read.parquet(state['cur']).unionByName(latest)
            )
        out = f'{base_dir}/v{batch_id}'
        latest.write.mode('overwrite').parquet(out)
        state['cur'] = out

    query = (
        stream.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option('checkpointLocation', f'{base_dir}/_ckpt')
        .start()
    )
    query.awaitTermination()
    assert state['cur'] is not None, 'stream produced no batches'
    return state['cur']


def cdc_upsert_parquet(stream: DataFrame, base_dir: str) -> str:
    """Streaming upsert sink: foreachBatch MERGE of each micro-batch into a
    last-write-wins parquet snapshot; returns the final snapshot path.

    The plain-parquet statement of what Delta/Iceberg ``MERGE INTO`` does:
    each batch is compacted to its per-key latest, merged with the previous
    snapshot, and written as a NEW versioned snapshot directory (parquet
    cannot be overwritten while being read, so the swap is
    write-new-then-repoint — the same copy-on-write move table formats make
    atomic via their metadata log). Idempotent under batch replay: merging
    the same batch twice is a no-op because max_by is. Scale: snapshot
    rewrite cost is O(keys), the standard compaction trade; a real
    deployment partitions the snapshot by key range so each batch rewrites
    only touched partitions.
    """
    return _snapshot_merge(stream, base_dir, latest_per_key)


def latest_per_key_with_op(df: DataFrame) -> DataFrame:
    """``latest_per_key`` carrying an ``op`` column (U/D) in the payload —
    tombstones must SURVIVE compaction (a retained delete suppresses any
    older upsert that arrives in a later batch); the final reader filters
    them out."""
    return (
        df.groupBy('user_id', 'event_type')
        .agg(
            F.max_by(
                F.struct('event_id', 'ts', 'value', 'op'),
                F.struct('ts', 'event_id'),
            ).alias('last')
        )
        .select(
            'user_id',
            'event_type',
            F.col('last.event_id').alias('event_id'),
            F.col('last.ts').alias('ts'),
            F.col('last.value').alias('value'),
            F.col('last.op').alias('op'),
        )
    )


def cdc_upsert_parquet_tombstones(stream: DataFrame, base_dir: str) -> str:
    """Tombstone-aware streaming MERGE: like :func:`cdc_upsert_parquet`,
    but the log carries deletes. Each snapshot retains tombstone rows
    (op = 'D') so late-arriving older upserts cannot resurrect a deleted
    key; merge associativity is preserved because the retained row is
    still just the per-key argmax. Consumers read the snapshot WHERE
    op = 'U' — the Delta/Iceberg ``MERGE ... WHEN MATCHED AND op = 'D'
    THEN DELETE`` semantics with the delete deferred to read time (a real
    deployment drops tombstones older than the replay horizon during
    periodic compaction)."""
    return _snapshot_merge(stream, base_dir, latest_per_key_with_op)


def static_enrich(
    stream: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Stream-static dimension enrichment + per-nation rollup.

    The canonical streaming star-join: each micro-batch of the fact stream
    joins two STATIC dims (no state — the static side is re-planned per
    batch, and small dims broadcast so the stream never shuffles for the
    join), then feeds a streaming aggregation. State = one row per nation.
    At 100 TB/day the join stays map-side; only the 25-row aggregate is
    stateful.
    """
    from ..queries._helpers import dsum

    enriched = stream.join(
        F.broadcast(customer.select('c_custkey', 'c_nationkey')),
        stream['user_id'] == F.col('c_custkey'),
    ).join(
        F.broadcast(nation.select('n_nationkey', 'n_name')),
        F.col('c_nationkey') == F.col('n_nationkey'),
    )
    return enriched.groupBy('n_name').agg(
        F.count(F.lit(1)).alias('n_events'),
        dsum('value').alias('total_value'),
    )


def documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents table as a file-source stream (same symlink-dir idiom
    as :func:`events_stream`; a real deployment points at the corpus
    landing directory)."""
    path = f'{sf_dir}/documents.parquet'
    link_dir = _sync_link_dir('cb_stream_doc', path)
    schema = spark.read.parquet(path).schema
    return spark.readStream.schema(schema).parquet(link_dir)


# Band rows per micro-batch below this bound take the PUSHDOWN probe
# path: the batch's distinct band hashes ride into the state scan as an
# In() literal filter, so range-compacted state files prune on their
# parquet footers. Larger batches fall back to the plain join (an In()
# with millions of literals would bloat the plan, and a batch that big
# reads most of the state anyway).
NEAR_DUP_PUSHDOWN_MAX_KEYS = 4096


def _state_ids(state_dir: str, sub: str, key: str) -> dict[int, str]:
    import os

    d = f'{state_dir}/{sub}'
    if not os.path.isdir(d):
        return {}
    out = {}
    for name in os.listdir(d):
        if name.startswith(f'{key}='):
            out[int(name.split('=', 1)[1])] = f'{d}/{name}'
    return out


def _near_dup_state_paths(state_dir: str, batch_id: int) -> list[str]:
    """The band-state parquet dirs micro-batch ``batch_id`` must probe —
    newest-run-per-tier of the two-tier LSM:

    - the newest MAJOR run (``compacted/upto=<id>``) covering batches
      strictly before it,
    - every MINOR run (``minor/upto=<id>``) after that major and strictly
      before it,
    - every delta batch after the newest minor/major cover and strictly
      before it.

    Strictly-before everywhere is what makes REPLAY safe: a batch re-run
    after a partial failure never probes its own previously-written band
    rows (which would self-reject every doc in the batch), and never sees
    a run that already folded itself in. Derived purely from the
    filesystem — no process memory — so a checkpoint restart resumes with
    exactly the state the killed run had.
    """
    comp = {
        i: p
        for i, p in _state_ids(state_dir, 'compacted', 'upto').items()
        if i < batch_id
    }
    major = max(comp) if comp else -1
    paths = [comp[major]] if comp else []
    minors = {
        i: p
        for i, p in _state_ids(state_dir, 'minor', 'upto').items()
        if major < i < batch_id
    }
    paths += [p for _, p in sorted(minors.items())]
    cover = max([major, *minors])
    paths += [
        p
        for i, p in sorted(_state_ids(state_dir, 'delta', 'batch').items())
        if cover < i < batch_id
    ]
    return paths


def _near_dup_probe(bands: DataFrame, state: DataFrame) -> DataFrame:
    """doc_ids of ``bands`` that band-collide with a SMALLER already-seen
    doc_id in ``state`` — the inequality (not an equi-join on the band key
    alone) keeps the filter one-sided under out-of-order arrival: a doc is
    only ever rejected by a smaller partner, exactly the batch oracle's
    rule, so no doc the oracle admits is ever rejected regardless of how
    batches interleave. (Exact set equality additionally needs each doc's
    smaller colliding partners to arrive no later than it — true for
    id-ordered ingest and for the single availableNow batch; a later
    smaller partner cannot retract an already-admitted doc.)
    """
    import pyspark.sql.functions as F

    n, s = bands.alias('n'), state.alias('s')
    return (
        n.join(
            s,
            (F.col('n.band_id') == F.col('s.band_id'))
            & (F.col('n.bh') == F.col('s.bh'))
            & (F.col('s.doc_id') < F.col('n.doc_id')),
        )
        .select(F.col('n.doc_id').alias('doc_id'))
        .distinct()
    )


def _near_dup_step(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    out_dir: str,
    compact_every: int = 8,
    compact_files: int = 16,
    major_every: int = 4,
) -> None:
    """One micro-batch of the admission filter; REPLAY-IDEMPOTENT.

    Every write lands in a per-``batch_id`` directory with overwrite
    semantics (the CDC sinks' versioned-write idiom), so a batch replayed
    after a partial failure rewrites the same dirs with the same ROW SET
    instead of double-appending (file layout may differ across attempts —
    ``compact_sorted``'s range partitioner samples split points per run —
    but probe semantics and the idempotency test depend only on row-set
    equality); the probe reads only state strictly before this batch (see
    :func:`_near_dup_state_paths`), so the replay also probes the same
    state the first attempt saw.
    """
    import pyspark.sql.functions as F

    from ..queries.dedup import _adaptive_pairs_from_bands, _minhash_bands
    from ..sinks import compact_sorted
    from ..tables import spread_batch

    sp = batch_df.sparkSession
    # r12 optimization (guide §1.2 step 1 / §2.5): a file-source
    # micro-batch often arrives as ONE partition (always, for the
    # single-file driver layout), so the md5 shingle/signature fold — the
    # step's dominant cost, isolated at 9.46s single-partition vs 1.05s
    # spread at sf0.1 — ran on one core. spread_batch repartitions the
    # BATCH (delta-sized, never the accumulated state) exactly when its
    # partition count cannot fill the cluster. Measured A/B + component
    # isolation in OPTIMIZATION_r12.md batch 3.
    bands = _minhash_bands(
        spread_batch(batch_df.select('doc_id', 'text'), 'doc_id')
    ).persist()
    probe_paths = _near_dup_state_paths(state_dir, batch_id)
    dup_prev = sp.createDataFrame([], 'doc_id bigint')
    # one count serves both the emptiness guard and the pushdown gate
    # (and materializes the persist every downstream pass reuses)
    n_band_rows = bands.count()
    if probe_paths and n_band_rows:
        state = sp.read.parquet(*probe_paths)
        if n_band_rows <= NEAR_DUP_PUSHDOWN_MAX_KEYS:
            # defensive cap (VERDICT r9 #8): the row-count gate above
            # bounds the DISTINCT key count too (distinct <= rows), but
            # nothing in this line's dataflow enforces that — a limit
            # keeps a pathological batch from ever shipping an unbounded
            # IN-list, and the len() check turns "cap hit" into the
            # no-pushdown fallback instead of a wrong filter
            bhs = [
                r.bh
                for r in bands.select('bh')
                .distinct()
                .limit(NEAR_DUP_PUSHDOWN_MAX_KEYS + 1)
                .collect()
            ]
            if len(bhs) <= NEAR_DUP_PUSHDOWN_MAX_KEYS:
                state = state.filter(F.col('bh').isin(bhs))
        dup_prev = _near_dup_probe(bands, state)
    # Within-batch resolution inherits the stats-gated salting: a
    # boilerplate-heavy BATCH funnels into one hot band bucket exactly like
    # a boilerplate-heavy corpus, and the adaptive generator's histogram
    # job is batch-sized here. Both branches yield identical pair sets.
    dup_within = (
        _adaptive_pairs_from_bands(bands).select(
            F.col('doc_b').alias('doc_id')
        )
    ).distinct()
    admitted = batch_df.select('doc_id').join(
        dup_prev.unionByName(dup_within).distinct(), 'doc_id', 'left_anti'
    )
    admitted.write.mode('overwrite').parquet(f'{out_dir}/batch={batch_id}')
    bands.write.mode('overwrite').parquet(
        f'{state_dir}/delta/batch={batch_id}'
    )
    bands.unpersist()
    if (batch_id + 1) % compact_every == 0:
        # Two-tier LSM fold (the RocksDB shape, stated on plain parquet):
        #
        # MINOR (every compact_every batches): fold ONLY the deltas since
        # the last run into a small range-clustered run sorted on bh —
        # O(compact_every x batch) write I/O, independent of state size.
        # MAJOR (once major_every minors accumulate): fold the covering
        # major + those minors into one full run — O(state), but amortized
        # to O(state / (compact_every * major_every)) per batch.
        #
        # Both folds read the same inputs for a given (state_dir,
        # batch_id) and are written with overwrite, so a replayed batch
        # re-produces runs with identical ROW SETS (not necessarily the
        # same file split points). Every run is sorted on bh, so later
        # batches' In(bh) pushdown probes prune files at EVERY tier on
        # parquet footers.
        majors = {
            i: p
            for i, p in _state_ids(state_dir, 'compacted', 'upto').items()
            if i < batch_id
        }
        major = max(majors) if majors else -1
        minors = {
            i: p
            for i, p in _state_ids(state_dir, 'minor', 'upto').items()
            if major < i < batch_id
        }
        cover = max([major, *minors])
        fold = [
            p
            for i, p in sorted(
                _state_ids(state_dir, 'delta', 'batch').items()
            )
            if cover < i <= batch_id
        ]
        compact_sorted(
            sp.read.parquet(*fold),
            f'{state_dir}/minor/upto={batch_id}',
            'bh',
            n_files=max(2, compact_files // 4),
        )
        if len(minors) + 1 >= major_every:
            fold = ([majors[major]] if majors else []) + [
                p for _, p in sorted(minors.items())
            ] + [f'{state_dir}/minor/upto={batch_id}']
            compact_sorted(
                sp.read.parquet(*fold),
                f'{state_dir}/compacted/upto={batch_id}',
                'bh',
                n_files=compact_files,
            )
        _near_dup_gc(state_dir)


def _near_dup_gc(state_dir: str) -> None:
    """Drop state superseded TWICE over. Structured Streaming replays only
    the LAST uncommitted batch b, whose probe reads at most the newest
    major strictly before b, the minors after it, and newer deltas — so
    the newest TWO majors, every minor after the older of them, and every
    delta after the second-newest minor/major cover must survive; anything
    older is unreachable by any probe or re-fold the engine can still
    issue. Keeps retained state at O(2x current) instead of growing a
    full copy per fold."""
    import shutil

    majors = sorted(_state_ids(state_dir, 'compacted', 'upto').items())
    if len(majors) >= 2:
        major_floor = majors[-2][0]
        for _, p in majors[:-2]:
            shutil.rmtree(p, ignore_errors=True)
        for i, p in _state_ids(state_dir, 'minor', 'upto').items():
            if i <= major_floor:
                shutil.rmtree(p, ignore_errors=True)
    covers = sorted(
        set(_state_ids(state_dir, 'minor', 'upto'))
        | set(_state_ids(state_dir, 'compacted', 'upto'))
    )
    if len(covers) >= 2:
        delta_floor = covers[-2]
        for i, p in _state_ids(state_dir, 'delta', 'batch').items():
            if i <= delta_floor:
                shutil.rmtree(p, ignore_errors=True)


def near_dup_filter_parquet(
    stream: DataFrame,
    base_dir: str,
    compact_every: int = 8,
    compact_files: int = 16,
    major_every: int = 4,
) -> str:
    """Streaming first-seen-wins near-dup admission filter; returns the
    admitted-doc parquet path (range-compacted post-stream; the
    per-micro-batch ledger dirs remain under ``admitted/``).

    Each micro-batch (a) computes its LSH band rows, (b) probes the
    accumulated BAND-TABLE STATE for cross-batch candidates colliding with
    a SMALLER doc_id, (c) resolves within-batch candidates by doc_id order
    (smaller id wins), and (d) writes its band rows and admitted doc_ids
    to per-batch dirs. The state keeps EVERY seen doc's bands (admitted or
    not), exactly like the batch ``dedup_incremental_minhash`` corpus
    table — so the final admitted set equals the batch rule "no candidate
    pair with any smaller doc_id" for id-ordered arrival, and is one-sided
    (no false rejects) for any arrival order.

    Fault tolerance: state presence is derived from the filesystem (a
    checkpoint restart probes the surviving state — no in-memory flag to
    reset), and every write is an overwrite of a per-batch_id dir, so
    foreachBatch's at-least-once replays are idempotent (kill/resume and
    double-invocation both exercised in tests/test_streaming.py).

    Scale: per batch, one narrow band projection, one probe whose scan is
    bounded — small batches push their band hashes into the state scan as
    an In() literal, which the bh-sorted runs turn into real
    file/row-group pruning on parquet footers (asserted in
    tests/test_streaming.py) — and one in-batch bucket groupBy. The state
    is a TWO-TIER LSM: every ``compact_every`` batches the recent deltas
    fold into a small MINOR run (write cost independent of state size);
    once ``major_every`` minors accumulate they fold with the covering
    MAJOR run into a new full run — so fold write I/O amortizes to
    O(batch) + O(state / (compact_every * major_every)) per batch, and
    probe I/O is O(one major's matching files + <= major_every minors +
    <= compact_every deltas), never the whole append history. Superseded
    runs are garbage-collected down to the replay-reachable set
    (:func:`_near_dup_gc`).
    """
    import os

    state_dir = f'{base_dir}/bands'
    out_dir = f'{base_dir}/admitted'

    def step(batch_df: DataFrame, batch_id: int) -> None:
        _near_dup_step(
            batch_df,
            batch_id,
            state_dir,
            out_dir,
            compact_every=compact_every,
            compact_files=compact_files,
            major_every=major_every,
        )

    query = (
        stream.writeStream.foreachBatch(step)
        .trigger(availableNow=True)
        .option('checkpointLocation', f'{base_dir}/_ckpt')
        .start()
    )
    query.awaitTermination()
    assert os.path.isdir(out_dir), 'stream produced no batches'
    # Post-stream output compaction: the per-batch dirs are the
    # idempotency LEDGER (one small file per micro-batch — unbounded file
    # count under a long stream); downstream readers get one
    # range-clustered rewrite instead. Runs after termination, so a
    # restart that dies before it simply re-runs it (overwrite) on the
    # next completion.
    from ..sinks import compact_sorted

    final_dir = f'{base_dir}/admitted_out'
    compact_sorted(
        stream.sparkSession.read.parquet(out_dir).select('doc_id'),
        final_dir,
        'doc_id',
        n_files=compact_files,
    )
    return final_dir
