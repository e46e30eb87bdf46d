#!/usr/bin/env python
"""Z-order layout benchmark: candidate-file counts per predicate/layout.

Run from the repo root: ``python tools/gen_layout_bench.py``. Writes the
sf0.1 events table (100k rows) twice — linear-sorted by user_id, and
Z-order clustered on (user_id, event_id) — then, for a box predicate
selecting ~1/16 of each key domain, counts how many files could contain
matches according to their parquet min/max footers (the same statistics
Spark's scan uses for row-group skipping). Rewrites the "Data layout"
section of SCALE.md.

The point: tests/test_sinks.py proves the geometry on a synthetic grid;
this records the file-skipping win on the real events table — the number
that turns into scanned-bytes at 100 TB.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = '/root/testdata/sf0.1'
N_FILES = 32
MARKER = '## Data layout'


def file_spans(out_dir: str, col: str) -> dict:
    import pyarrow.parquet as pq

    spans = {}
    for f in os.listdir(out_dir):
        if not f.endswith('.parquet'):
            continue
        md = pq.ParquetFile(f'{out_dir}/{f}').metadata
        idx = md.schema.names.index(col)
        st = [md.row_group(g).column(idx).statistics for g in range(md.num_row_groups)]
        spans[f] = (min(s.min for s in st), max(s.max for s in st))
    return spans


def candidates(out_dir: str, box: dict) -> int:
    files = None
    for col, (lo, hi) in box.items():
        spans = file_spans(out_dir, col)
        match = {f for f, (fl, fh) in spans.items() if fl <= hi and fh >= lo}
        files = match if files is None else files & match
    return len(files)


def main() -> None:
    import pyspark.sql.functions as F

    from cyclebane_spark.functions import bench_session
    from cyclebane_spark.sinks import write_zordered
    from cyclebane_spark.tables import table

    spark = bench_session('cyclebane-layout-bench')
    spark.sparkContext.setLogLevel('ERROR')

    ev = table(spark, SF_DIR, 'events').select('event_id', 'user_id', 'value')
    n = ev.count()
    stats = ev.agg(
        F.min('user_id'), F.max('user_id'), F.min('event_id'), F.max('event_id')
    ).first()
    u_lo, u_hi, e_lo, e_hi = stats
    u_span = (u_hi - u_lo) // 16
    e_span = (e_hi - e_lo) // 16
    box = {
        'user_id': (u_lo, u_lo + u_span),
        'event_id': (e_lo, e_lo + e_span),
    }

    base = tempfile.mkdtemp(prefix='cb_layout_')
    linear = f'{base}/linear'
    zord = f'{base}/zorder'
    (
        ev.repartitionByRange(N_FILES, 'user_id')
        .sortWithinPartitions('user_id')
        .write.parquet(linear)
    )
    write_zordered(ev, zord, ['user_id', 'event_id'], n_files=N_FILES)

    preds = {
        'user_id slab (1/16)': {'user_id': box['user_id']},
        'event_id slab (1/16)': {'event_id': box['event_id']},
        '2-D box (1/256)': box,
    }
    cand = {
        name: (candidates(linear, b), candidates(zord, b))
        for name, b in preds.items()
    }
    c_lin, c_z = cand['2-D box (1/256)']
    # sanity: both layouts return identical rows under every predicate
    for name, b in preds.items():
        pred = F.lit(True)
        for col, (lo, hi) in b.items():
            pred = pred & F.col(col).between(lo, hi)
        r_lin = spark.read.parquet(linear).filter(pred).count()
        r_z = spark.read.parquet(zord).filter(pred).count()
        assert r_lin == r_z, (name, r_lin, r_z)

    lines = [
        MARKER,
        '',
        'Generated by `python tools/gen_layout_bench.py`. The sf0.1 events',
        f'table ({n:,} rows) written as {N_FILES} files two ways; the box',
        'predicate selects ~1/16 of BOTH the user_id and event_id domains',
        '(~1/256 of rows). "Candidate files" = files whose parquet min/max',
        'footers admit matches — what a scan must read.',
        '',
        '| predicate | linear sort on user_id | Z-order (user_id, event_id) |',
        '|---|---|---|',
        *[
            f'| {name} | {cl} / {N_FILES} | {cz} / {N_FILES} |'
            for name, (cl, cz) in cand.items()
        ],
        '',
        'The linear layout prunes only its sort column: a predicate on',
        'event_id alone admits EVERY file. The Z-order layout keeps both',
        'columns narrow per file, so it prunes well on either column alone',
        'AND on the conjunction — the multi-predicate layout win that is',
        'scanned-bytes at 100 TB (the classic trade: slightly coarser on',
        'the primary column, orders better on every other one). Row counts',
        'under each predicate verified identical across layouts; geometry',
        'proven in tests/test_sinks.py on a synthetic grid.',
    ]
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), 'SCALE.md'
    )
    with open(path) as f:
        doc = f.read()
    if MARKER in doc:
        start = doc.index(MARKER)
        rest = doc[start:]
        nxt = rest.find('\n## ', 1)
        doc = doc[:start].rstrip() + '\n' + (rest[nxt:].lstrip('\n') if nxt != -1 else '')
    doc = doc.rstrip() + '\n\n' + '\n'.join(lines) + '\n'
    with open(path, 'w') as f:
        f.write(doc)
    print('\n'.join(lines))
    import shutil

    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == '__main__':
    main()
