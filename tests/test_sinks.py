"""Sink / file-format coverage: parquet, partitioned parquet, CSV, JSON
round-trips, and the approximate-distinct error bound."""

import os

import pyspark.sql.functions as F

SF_DIR = '/root/testdata/sf0.001'


def test_parquet_roundtrip(spark, tmp_path):
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    out = str(tmp_path / 'docs_out')
    docs.write.mode('overwrite').parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == docs.count()
    assert set(back.columns) == set(docs.columns)
    a = sorted(r.doc_id for r in docs.select('doc_id').collect())
    b = sorted(r.doc_id for r in back.select('doc_id').collect())
    assert a == b


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    """Hive-partitioned layout: partition pruning must skip directories."""
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    out = str(tmp_path / 'docs_by_lang')
    docs.write.mode('overwrite').partitionBy('lang').parquet(out)
    assert any(d.startswith('lang=') for d in os.listdir(out))
    back = spark.read.parquet(out)
    en = back.filter(F.col('lang') == 'en')
    plan = en._jdf.queryExecution().executedPlan().toString()
    # partition filter present on the scan, not a post-filter on all rows
    assert 'PartitionFilters: [isnotnull(lang' in plan
    expected = docs.filter(F.col('lang') == 'en').count()
    assert en.count() == expected


def test_csv_roundtrip(spark, tmp_path):
    nation = spark.read.parquet(f'{SF_DIR}/nation.parquet')
    out = str(tmp_path / 'nation_csv')
    nation.write.mode('overwrite').option('header', True).csv(out)
    back = (
        spark.read.option('header', True)
        .option('inferSchema', True)
        .csv(out)
    )
    assert sorted(r.n_name for r in back.collect()) == sorted(
        r.n_name for r in nation.collect()
    )


def test_json_roundtrip(spark, tmp_path):
    region = spark.read.parquet(f'{SF_DIR}/region.parquet')
    out = str(tmp_path / 'region_json')
    region.write.mode('overwrite').json(out)
    back = spark.read.json(out)
    assert back.count() == region.count()
    assert sorted(r.r_name for r in back.collect()) == sorted(
        r.r_name for r in region.collect()
    )


def test_orc_roundtrip(spark, tmp_path):
    orders = spark.read.parquet(f'{SF_DIR}/orders.parquet')
    out = str(tmp_path / 'orders_orc')
    orders.write.mode('overwrite').orc(out)
    back = spark.read.orc(out)
    assert back.count() == orders.count()
    assert back.schema == orders.schema
    # ORC scans support predicate pushdown too
    plan = back.filter(F.col('o_orderkey') < 100)._jdf.queryExecution()
    assert 'LessThan(o_orderkey,100)' in plan.executedPlan().toString()
    got = back.filter(F.col('o_orderkey') < 100).count()
    assert got == orders.filter(F.col('o_orderkey') < 100).count()


def test_approx_count_distinct_error_bound(spark):
    li = spark.read.parquet(f'{SF_DIR}/lineitem.parquet')
    exact = {
        r.l_returnflag: r.n
        for r in li.groupBy('l_returnflag')
        .agg(F.count_distinct('l_partkey').alias('n'))
        .collect()
    }
    approx = {
        r.l_returnflag: r.n
        for r in li.groupBy('l_returnflag')
        .agg(F.approx_count_distinct('l_partkey', rsd=0.02).alias('n'))
        .collect()
    }
    for flag, n in exact.items():
        assert abs(approx[flag] - n) / n < 0.1


def test_bucketed_tables_join_without_shuffle(spark, tmp_path, sf_dir):
    """Bucketing = the co-located-join scale path: two tables bucketed by
    the join key join with NO Exchange on either side (only sorts), so at
    100 TB the repeated fact-fact join never reshuffles."""
    from cyclebane_spark.tables import table

    warehouse = str(tmp_path / 'wh')
    for name, key in (('orders', 'o_orderkey'), ('lineitem', 'l_orderkey')):
        (
            table(spark, sf_dir, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option('path', f'{warehouse}/{name}')
            .mode('overwrite')
            .saveAsTable(f'bkt_{name}')
        )
    # Disable broadcast: at test scale every table broadcasts, which hides
    # the bucketed sort-merge path this asserts (at 100 TB neither side fits).
    prev = spark.conf.get('spark.sql.autoBroadcastJoinThreshold')
    spark.conf.set('spark.sql.autoBroadcastJoinThreshold', '-1')
    try:
        joined = spark.table('bkt_lineitem').join(
            spark.table('bkt_orders'),
            on=spark.table('bkt_lineitem').l_orderkey
            == spark.table('bkt_orders').o_orderkey,
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert 'Exchange' not in plan, plan
        # sanity: result matches the plain (shuffling) join
        expected = (
            table(spark, sf_dir, 'lineitem')
            .join(
                table(spark, sf_dir, 'orders'),
                on=F.col('l_orderkey') == F.col('o_orderkey'),
            )
            .count()
        )
        assert joined.count() == expected
    finally:
        spark.conf.set('spark.sql.autoBroadcastJoinThreshold', prev)
        spark.sql('DROP TABLE IF EXISTS bkt_lineitem')
        spark.sql('DROP TABLE IF EXISTS bkt_orders')


def test_dynamic_partition_pruning_on_star_join(spark, tmp_path):
    """Dynamic partition pruning: a partitioned fact joined to a FILTERED
    dim must prune fact partitions at RUNTIME from the dim's join keys —
    the star-join feature that turns a 100 TB fact scan into a scan of the
    few partitions the dim filter selects. The plan carries a
    dynamicpruningexpression subquery on the fact scan's partition column."""
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    fact = str(tmp_path / 'fact_by_lang')
    docs.write.partitionBy('lang').mode('overwrite').parquet(fact)
    # Filter the dim on a NON-join column (the derived count): a filter on
    # the join column itself would propagate statically and hide DPP.
    dim = (
        docs.groupBy('lang')
        .agg(F.count(F.lit(1)).alias('n'))
        .filter(F.col('n') > 100)
    )
    joined = spark.read.parquet(fact).join(dim, 'lang')
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert 'dynamicpruningexpression' in plan, plan
    expected = (
        docs.join(
            docs.groupBy('lang')
            .agg(F.count(F.lit(1)).alias('n'))
            .filter(F.col('n') > 100),
            'lang',
        ).count()
    )
    assert joined.count() == expected


def test_runtime_bloom_filter_prunes_fact_rows(spark, tmp_path):
    """AQE runtime row-level filtering: a selective dim filter must inject a
    bloom filter (or semi-join InSubquery) into the fact scan so non-joining
    fact rows drop BEFORE the shuffle — the row-granularity complement of
    dynamic partition pruning for joins on non-partition columns."""
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    fact = str(tmp_path / 'fact_flat')
    docs.write.mode('overwrite').parquet(fact)
    confs = {
        'spark.sql.optimizer.runtime.bloomFilter.enabled': 'true',
        'spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold': '10GB',
        # a test-sized fact scan sits far below the 10 GB default
        # application-side threshold, which can keep the filter off it
        'spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold': '1b',
        'spark.sql.optimizer.runtimeFilter.number.threshold': '10',
        'spark.sql.autoBroadcastJoinThreshold': '-1',
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        dim = docs.filter(F.col('source') == 'src1').select(
            'source', F.col('n_chars').alias('dim_chars')
        )
        joined = spark.read.parquet(fact).join(dim, 'source')
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert 'bloom_filter' in plan.lower() or 'mightContain' in plan, plan
        expected = docs.filter(F.col('source') == 'src1').count() * dim.count()
        assert joined.count() == expected
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_binaryfile_source_for_multimodal_ingest(spark, tmp_path):
    """binaryFile is the ingest source for raw media: one row per file with
    (path, modificationTime, length, content) — the bytes land directly in
    a binary column ready for the mapInPandas decode operators, and the
    pathGlobFilter prunes non-media files at listing time (no read)."""
    media = tmp_path / 'media'
    media.mkdir()
    payloads = {f'img_{i}.fake': bytes([i]) * (i + 1) for i in range(5)}
    (media / 'notes.txt').write_text('not media')
    for name, blob in payloads.items():
        (media / name).write_bytes(blob)
    df = (
        spark.read.format('binaryFile')
        .option('pathGlobFilter', '*.fake')
        .load(str(media))
    )
    rows = {r.path.rsplit('/', 1)[-1]: r for r in df.collect()}
    assert set(rows) == set(payloads)
    for name, blob in payloads.items():
        assert bytes(rows[name].content) == blob
        assert rows[name].length == len(blob)


def test_csv_corrupt_record_modes(spark, tmp_path):
    """Malformed-input policy on ingest: PERMISSIVE captures broken lines in
    _corrupt_record (audit-then-quarantine, the 100 TB default — one bad
    row must not kill a day-long job), DROPMALFORMED silently drops them,
    FAILFAST aborts loudly for gated pipelines."""
    import pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    p = tmp_path / 'rows.csv'
    p.write_text('id,n\n1,10\n2,notanumber\n3,30\n')
    schema = StructType(
        [
            StructField('id', LongType()),
            StructField('n', LongType()),
            StructField('_corrupt_record', StringType()),
        ]
    )
    permissive = (
        spark.read.schema(schema)
        .option('header', 'true')
        .option('mode', 'PERMISSIVE')
        .option('columnNameOfCorruptRecord', '_corrupt_record')
        .csv(str(p))
    )
    # caching avoids the documented Spark caveat: referencing ONLY the
    # corrupt-record column of an uncached CSV read raises AnalysisException
    permissive = permissive.cache()
    assert permissive.count() == 3
    bad = permissive.filter(F.col('_corrupt_record').isNotNull())
    assert [r.id for r in bad.collect()] == [2]

    dropped = (
        spark.read.schema('id long, n long')
        .option('header', 'true')
        .option('mode', 'DROPMALFORMED')
        .csv(str(p))
    )
    assert sorted(r.id for r in dropped.collect()) == [1, 3]

    failfast = (
        spark.read.schema('id long, n long')
        .option('header', 'true')
        .option('mode', 'FAILFAST')
        .csv(str(p))
    )
    with pytest.raises(Exception, match='FAILFAST|Malformed'):
        failfast.collect()


def test_parquet_schema_evolution_mergeschema(spark, tmp_path):
    """Schema drift across ingest batches (a new column appears mid-stream —
    routine over a 100 TB multi-month landing zone): mergeSchema unions the
    per-file schemas, old files surface NULL for the new column, and the
    default non-merging read keeps the cheap single-footer behavior."""
    out = str(tmp_path / 'evolving')
    spark.range(3).selectExpr('id', 'id * 2 AS a').write.parquet(f'{out}/b=1')
    spark.range(3, 6).selectExpr(
        'id', 'id * 2 AS a', "concat('v', id) AS b_new"
    ).write.parquet(f'{out}/b=2')
    merged = spark.read.option('mergeSchema', 'true').parquet(out)
    assert set(merged.columns) >= {'id', 'a', 'b_new'}
    rows = {r.id: r.b_new for r in merged.collect()}
    assert rows[0] is None and rows[5] == 'v5'
    assert merged.count() == 6
    # the default read picks ONE footer's schema (cheap, no footer union) —
    # all rows still surface, whichever footer wins
    plain = spark.read.parquet(out)
    assert {'id', 'a'} <= set(plain.columns) <= {'id', 'a', 'b_new', 'b'}
    assert plain.count() == 6


def test_writer_controls_compression_and_file_sizing(spark, tmp_path):
    """Output hygiene at scale: compression codec is set per write (zstd —
    the modern default for cold data), and maxRecordsPerFile bounds file
    size so one fat partition cannot emit a 100 GB file that downstream
    scans cannot split across row groups effectively."""
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    out = str(tmp_path / 'sized')
    (
        docs.coalesce(1)
        .write.option('compression', 'zstd')
        .option('maxRecordsPerFile', 150)
        .parquet(out)
    )
    files = [f for f in os.listdir(out) if f.endswith('.parquet')]
    # 500 docs / 150 per file -> at least 4 files despite ONE task
    assert len(files) >= 4, files
    assert all('zstd' in f for f in files), files
    back = spark.read.parquet(out)
    assert back.count() == docs.count()


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """Idempotent daily reruns: with partitionOverwriteMode=dynamic an
    INSERT OVERWRITE replaces ONLY the partitions present in the incoming
    batch — rerunning one day's job can never wipe the rest of a year's
    table (static mode, the default, truncates every partition first)."""
    out = str(tmp_path / 'daily')
    base = spark.createDataFrame(
        [(1, 'd1'), (2, 'd1'), (3, 'd2'), (4, 'd3')], 'id long, day string'
    )
    base.write.partitionBy('day').parquet(out)
    prev = spark.conf.get('spark.sql.sources.partitionOverwriteMode')
    spark.conf.set('spark.sql.sources.partitionOverwriteMode', 'dynamic')
    try:
        rerun = spark.createDataFrame([(9, 'd2')], 'id long, day string')
        rerun.write.mode('overwrite').partitionBy('day').parquet(out)
    finally:
        spark.conf.set('spark.sql.sources.partitionOverwriteMode', prev)
    got = {
        (r.id, r.day) for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 'd1'), (2, 'd1'), (9, 'd2'), (4, 'd3')}


def test_range_partitioned_write_gives_narrow_file_stats(spark, tmp_path):
    """Data layout for skipping: repartitionByRange + sortWithinPartitions
    on the filter column writes files whose parquet min/max footers cover
    NARROW disjoint key ranges, so a point/range predicate prunes most row
    groups at scan time — the sort-based clustering a 100 TB time-series
    table needs. Asserted on the actual parquet footer statistics."""
    import pyarrow.parquet as pq

    from cyclebane_spark.tables import table

    # via the catalog loader: handles nanosecond-ts testdata generations
    ev = table(spark, SF_DIR, 'events').select('event_id', 'user_id', 'value')
    out = str(tmp_path / 'clustered')
    (
        ev.repartitionByRange(4, 'event_id')
        .sortWithinPartitions('event_id')
        .write.parquet(out)
    )
    spans = []
    for f in os.listdir(out):
        if not f.endswith('.parquet'):
            continue
        md = pq.ParquetFile(f'{out}/{f}').metadata
        col_idx = md.schema.names.index('event_id')
        lo = min(
            md.row_group(g).column(col_idx).statistics.min
            for g in range(md.num_row_groups)
        )
        hi = max(
            md.row_group(g).column(col_idx).statistics.max
            for g in range(md.num_row_groups)
        )
        spans.append((lo, hi))
    spans.sort()
    assert len(spans) == 4
    total = ev.count()
    # disjoint, narrow ranges: EVERY file covers < half the keyspace and
    # consecutive files do not overlap
    assert all(hi - lo < total / 2 for lo, hi in spans), spans
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans


def _file_spans(out_dir, col_name):
    """(min, max) of col_name's parquet footer stats per data file."""
    import pyarrow.parquet as pq

    spans = {}
    for f in os.listdir(out_dir):
        if not f.endswith('.parquet'):
            continue
        md = pq.ParquetFile(f'{out_dir}/{f}').metadata
        idx = md.schema.names.index(col_name)
        stats = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        spans[f] = (min(s.min for s in stats), max(s.max for s in stats))
    return spans


def test_zorder_write_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order clustering: after write_zordered on (x, y), a 2-D box
    predicate must be answerable from a strict SUBSET of the files by
    min/max footers alone — and the second dimension must contribute
    pruning beyond what the first dimension gives (the thing a linear sort
    cannot do). Uses a synthetic uniform grid so the geometry is exact."""
    from cyclebane_spark.sinks import write_zordered

    n = 64
    grid = spark.range(n * n).select(
        (F.col('id') % n).alias('x'),
        (F.col('id') / n).cast('long').alias('y'),
        F.col('id').alias('payload'),
    )
    out = str(tmp_path / 'zorder')
    write_zordered(grid, out, ['x', 'y'], n_files=16)

    xs = _file_spans(out, 'x')
    ys = _file_spans(out, 'y')
    files = list(xs)
    assert len(files) == 16
    # the 2-D box: one quadrant-of-a-quadrant
    x_lo, x_hi, y_lo, y_hi = 0, 15, 0, 15
    match_x = {f for f in files if xs[f][0] <= x_hi and xs[f][1] >= x_lo}
    match_box = {
        f
        for f in match_x
        if ys[f][0] <= y_hi and ys[f][1] >= y_lo
    }
    # pruning happened at all, and BOTH dimensions contributed
    assert len(match_box) < len(files), (len(match_box), len(files))
    assert len(match_box) < len(match_x), (len(match_box), len(match_x))
    # the box holds 1/16 of the rows; the curve should confine it to a
    # small fraction of the files (allow slack for quantization edges)
    assert len(match_box) <= len(files) // 4, sorted(match_box)

    # correctness: layout changed, data did not
    back = spark.read.parquet(out)
    assert back.count() == n * n
    got = back.filter(
        (F.col('x').between(x_lo, x_hi)) & (F.col('y').between(y_lo, y_hi))
    ).count()
    assert got == 16 * 16


def test_zorder_write_beats_linear_sort_on_secondary_dim(spark, tmp_path):
    """The motivating comparison: a linear sort on x leaves every file
    spanning the FULL y range (zero y-pruning), while the Z-order layout
    keeps y spans narrow too."""
    from cyclebane_spark.sinks import write_zordered

    n = 64
    grid = spark.range(n * n).select(
        (F.col('id') % n).alias('x'),
        (F.col('id') / n).cast('long').alias('y'),
    )
    linear = str(tmp_path / 'linear')
    (
        grid.repartitionByRange(16, 'x')
        .sortWithinPartitions('x')
        .write.parquet(linear)
    )
    zord = str(tmp_path / 'z')
    write_zordered(grid, zord, ['x', 'y'], n_files=16)

    y_lin = _file_spans(linear, 'y')
    y_z = _file_spans(zord, 'y')
    full = n - 1
    # linear layout: (almost) every file spans the whole y domain
    lin_narrow = [f for f, (lo, hi) in y_lin.items() if hi - lo < full / 2]
    z_narrow = [f for f, (lo, hi) in y_z.items() if hi - lo < full / 2]
    assert len(lin_narrow) == 0, y_lin
    assert len(z_narrow) >= len(y_z) // 2, y_z


def test_zorder_handles_nulls_and_constant_columns(spark, tmp_path):
    from cyclebane_spark.sinks import write_zordered

    df = spark.createDataFrame(
        [(None, 1), (2, 1), (3, 1), (None, 1)], 'x long, y long'
    )
    out = str(tmp_path / 'znull')
    write_zordered(df, out, ['x', 'y'], n_files=2)
    back = spark.read.parquet(out)
    assert back.count() == 4
    assert back.filter(F.col('x').isNull()).count() == 2


def test_rebalance_hint_before_write(spark):
    """AQE rebalance: the pre-write hint that splits skewed output
    partitions and coalesces tiny ones at runtime — the standard fix for
    the small-files problem a skewed 100 TB write produces. The logical
    plan must carry RebalancePartitions and execution must preserve rows."""
    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    rb = docs.hint('rebalance', 'lang')
    logical = rb._jdf.queryExecution().optimizedPlan().toString()
    assert 'RebalancePartitions' in logical, logical
    assert rb.count() == docs.count()


def test_compact_sorted_gives_disjoint_narrow_file_stats(spark, tmp_path):
    """The streaming-state compaction helper: range-clustered rewrite gives
    every output file a narrow, non-overlapping key range in its parquet
    footer (the property the admission filter's pushdown probe prunes on)."""
    from cyclebane_spark.sinks import compact_sorted
    from cyclebane_spark.tables import table

    ev = table(spark, SF_DIR, 'events').select('event_id', 'value')
    out = str(tmp_path / 'compacted')
    compact_sorted(ev, out, 'event_id', n_files=6)
    spans = sorted(_file_spans(out, 'event_id').values())
    assert len(spans) == 6
    total = ev.count()
    assert all(hi - lo < total / 2 for lo, hi in spans), spans
    for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans
