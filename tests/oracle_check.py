#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` side-by-side on the
same parquet tables (default sf0.001; pass a dir or set SPARK_GRAFT_SF_DIR)
and compares row count, sorted column names, and cell values
(order-insensitive, floats to 1e-9 relative tolerance with exactness
reported). Exit code 0 iff every query with an oracle matches.

Usage: python tests/oracle_check.py [--checksum] [sf_dir] [query_name ...]

``--checksum`` replaces the Python-side value canon with an
order-independent checksum computed INSIDE each engine over the same
canonical row string: ``count(*)``, the exact ``sum``, and ``bit_xor``
of a 60-bit slice of ``md5`` over the sorted-column ``concat_ws``
rendering (the sum makes the fold multiplicity-sensitive — xor alone
cancels even-multiplicity differences; see the fold comment below).
Nothing but one (n, s, x) row per engine crosses the driver, so outputs
of any size get VALUE evidence — this is how the 24M/48.9M-row sf1 rows are verified
(docs/SF1_ORACLE.md). Exactness requires every output column to render
identically via ``cast(col as string)`` in Spark and DuckDB — true for
int/bigint/string/date/decimal. Double columns are QUANTIZED through
decimal(38,9) first (1e-9 absolute, matching the full canon's float
tolerance; sound only for |v| < ~4e6 — see canon_string_sql) and the
result is reported ``ok~`` rather than ``ok``. Array/map-typed output
columns are rejected loudly, as in the full-canon path.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    'region nation customer supplier part orders lineitem events documents embeddings'
).split()


def _canon_cell(v):
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, (np.bool_,)):
        v = bool(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    return v


def _kind(dtype) -> str:
    k = dtype.kind
    if k in 'iu':
        return f'int{dtype.itemsize * 8}'
    if k == 'f':
        return 'float'
    if k == 'b':
        return 'bool'
    if k == 'M':
        return 'ts'
    return 'obj'


def canon(pdf):
    """sorted-columns, sorted-rows canonical form: (cols, kinds, rows)."""
    cols = sorted(pdf.columns)
    kinds = [f'{c}:{_kind(pdf[c].dtype)}' for c in cols]
    rows = [tuple(_canon_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    return cols, kinds, sorted(rows, key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))


def cells_equal(a, b):
    if a is None and b is None:
        return True, True
    if isinstance(a, float) and isinstance(b, float):
        if a == b:
            return True, True
        tol = 1e-9 * max(abs(a), abs(b), 1.0)
        return abs(a - b) <= tol, False
    if isinstance(a, tuple) and isinstance(b, tuple) and len(a) == len(b):
        oks = [cells_equal(x, y) for x, y in zip(a, b)]
        return all(o[0] for o in oks), all(o[1] for o in oks)
    return a == b, a == b


def canon_string_sql(cols, double_cols=()) -> str:
    """Engine-portable canonical row string over the sorted columns.

    Every fragment here parses and evaluates identically in Spark SQL and
    DuckDB: ``cast(x as string)`` (STRING aliases VARCHAR in DuckDB),
    ``coalesce``, ``chr``, ``concat_ws``. chr(1) marks NULL cells, chr(2)
    separates cells. Soundness caveat: the encoding is unambiguous only
    while the data itself contains neither control character — true for
    every registry output (printable corpus text, numerics, dates); a
    dataset that embedded \\x01/\\x02 in string cells could alias two
    different row multisets. The full Python canon has no such caveat, so
    checksum mode stays an explicit opt-in for oversized outputs.

    Doubles render differently across engines (Java Double.toString uses
    scientific notation from 1e7; DuckDB much later), so double columns
    are canonicalized through ``decimal(38,9)`` first — a 1e-9 absolute
    quantization, the same strength as the full canon's 1e-9 float
    tolerance. Soundness bound: this agrees across engines only while the
    double's ulp spacing is below 5e-10, i.e. |v| < ~4e6 — Spark's
    double→decimal goes through the shortest decimal repr
    (BigDecimal.valueOf) while DuckDB expands the exact binary value, and
    past that magnitude the 9th decimal digit exposes the difference
    (measured: q1's 2.8e8-scale sums render ...557027000 vs ...557026976).
    Larger doubles false-FAIL (the safe direction); use the full canon's
    relative tolerance for those. Residual caveat even INSIDE the |v| <
    ~4e6 bound: Spark rounds the shortest decimal repr (BigDecimal
    .valueOf) while DuckDB rounds the exact binary expansion, so a value
    lying within half an ulp of a 9th-decimal halfway point can have the
    two HALF_UP roundings straddle it — a rare flaky false FAIL. If one
    ever appears, fall back to the full canon's relative tolerance for
    that query rather than chasing the bound.
    """
    double_cols = set(double_cols)
    parts = ', '.join(
        'coalesce(cast('
        + (f'cast({c} as decimal(38,9))' if c in double_cols else c)
        + " as string), chr(1))"
        for c in sorted(cols)
    )
    return f'concat_ws(chr(2), {parts})'


# 60-bit md5 slice: fits a signed bigint in both engines. The fold is
# (count, exact SUM, bit_xor) of the slice — all order-independent. xor
# alone is NOT a sound multiset proxy: any row-set difference with even
# per-row multiplicity cancels ({r1,r1,r2} and {r2,r3,r3} share
# (count, xor), verified). The SUM closes that: it is multiplicity-
# sensitive, and with 60-bit terms it stays exact in both engines
# (Spark decimal(38,0) holds sums to ~1e38 ≈ 2^126; DuckDB sum(bigint)
# promotes to hugeint), so no wraparound modulus is even needed below
# ~2^66 rows. Residual risk is md5 collision / algebraic coincidence on
# BOTH sum and xor simultaneously — a heuristic proxy, strictly weaker
# than the full Python canon, which is why checksum mode stays an
# explicit opt-in for oversized outputs.
SPARK_XOR = (
    'bit_xor(cast(conv(substring(md5({c}),1,15),16,10) as bigint))'
)
DUCK_XOR = "bit_xor(('0x' || substr(md5({c}),1,15))::bigint)"
SPARK_SUM = (
    'sum(cast(conv(substring(md5({c}),1,15),16,10) as decimal(38,0)))'
)
DUCK_SUM = "sum(('0x' || substr(md5({c}),1,15))::bigint)"


def double_columns(df):
    return [
        f.name
        for f in df.schema.fields
        if f.dataType.simpleString() in ('double', 'float')
    ]


def spark_checksum(df):
    """(count, sum, xor) computed inside Spark — see canon_string_sql."""
    c = canon_string_sql(df.columns, double_columns(df))
    row = df.selectExpr(
        'count(1) as n',
        SPARK_SUM.format(c=c) + ' as s',
        SPARK_XOR.format(c=c) + ' as x',
    ).collect()[0]
    return (
        int(row.n),
        None if row.s is None else int(row.s),
        None if row.x is None else int(row.x),
    )


def duckdb_checksum(con, sql: str, cols, double_cols=()):
    c = canon_string_sql(cols, double_cols)
    q = (
        f'SELECT count(*) AS n, '
        f"{DUCK_SUM.format(c='_row_canon')} AS s, "
        f"{DUCK_XOR.format(c='_row_canon')} AS x "
        f'FROM (SELECT {c} AS _row_canon FROM ({sql}) _q) _t'
    )
    n, s, x = con.execute(q).fetchone()
    return (
        int(n),
        None if s is None else int(s),
        None if x is None else int(x),
    )


def connect(sf_dir: str):
    """DuckDB connection with one view per table present under ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f'{sf_dir}/{t}.parquet'
        if os.path.isdir(p):  # Spark-written multi-file table (e.g. sf1)
            p = f'{p}/*.parquet'
        if p.endswith('*.parquet') or os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _reject_nested(df) -> None:
    """Compatibility gate for the external correctness harness: it
    canonicalizes through pandas sort_values, which cannot factorize
    list/dict cells — an array/map-typed output column passes a lenient
    local compare but hard-errors there. Reject it here so the local gate
    predicts the external one (in checksum mode too, where a pass must not
    mask it)."""
    from pyspark.sql.types import ArrayType, MapType

    nested = [
        f.name for f in df.schema.fields if isinstance(f.dataType, (ArrayType, MapType))
    ]
    if nested:
        raise TypeError(
            f'array/map-typed output columns {nested} — the external harness '
            'cannot canonicalize these; emit a joined string or exploded '
            'rows instead'
        )


def _check_checksum(spark, con, query, sf_dir) -> tuple[str, str]:
    try:
        df = query.fn(spark, sf_dir)
        _reject_nested(df)
        ocols = sorted(df.columns)
        tcols = sorted(
            d[0] for d in con.execute(f'SELECT * FROM ({query.oracle}) LIMIT 0').description
        )
        if ocols != tcols:
            raise ValueError(f'schema {ocols} != {tcols}')
        dbl = double_columns(df)
        ours = spark_checksum(df)
        theirs = duckdb_checksum(con, query.oracle, ocols, dbl)
    except Exception as exc:  # noqa: BLE001
        return 'FAIL', f'checksum error: {exc}'
    n, _, x = ours
    if ours != theirs:
        return 'FAIL', f'checksum {ours} != {theirs}'
    if dbl:
        return 'ok~', f'({n} rows, checksum-exact x={x}; doubles {dbl} quantized at 1e-9)'
    return 'ok', f'({n} rows, checksum-exact x={x})'


def _check_canon(spark, con, query, sf_dir) -> tuple[str, str]:
    try:
        df = query.fn(spark, sf_dir)
        _reject_nested(df)
        ours = df.toPandas()
        # Same class of hazard, probed the way the external harness hits it:
        # sort every column pandas-side and surface any TypeError.
        ours.sort_values(by=sorted(ours.columns), kind='mergesort')
    except Exception as exc:  # noqa: BLE001
        return 'FAIL', f'spark error: {exc}'
    if query.oracle is None:
        return '----', f'no oracle ({len(ours)} rows)'
    try:
        theirs = con.execute(query.oracle).df()
    except Exception as exc:  # noqa: BLE001
        return 'FAIL', f'oracle error: {exc}'
    ocols, okinds, orows = canon(ours)
    tcols, tkinds, trows = canon(theirs)
    if ocols != tcols:
        return 'FAIL', f'schema {ocols} != {tcols}'
    if okinds != tkinds:
        return 'FAIL', f'dtype kinds\n  ours  ={okinds}\n  oracle={tkinds}'
    if len(orows) != len(trows):
        return 'FAIL', f'rowcount {len(orows)} != {len(trows)}'
    all_exact = True
    for i, (ra, rb) in enumerate(zip(orows, trows)):
        ok, exact = cells_equal(ra, rb)
        if not ok:
            return 'FAIL', f'row {i}:\n  ours  ={ra!r}\n  oracle={rb!r}'
        all_exact = all_exact and exact
    if not all_exact:
        return 'ok~', f'({len(orows)} rows; float-tolerance only — a hash compare may differ!)'
    return 'ok', f'({len(orows)} rows, exact)'


def check_query(spark, con, query, sf_dir: str, checksum: bool = False) -> tuple[str, str]:
    """Run one registry ``Query`` against its DuckDB oracle on ``con``.

    Returns ``(status, detail)``. ``status`` is ``'ok'`` (exact), ``'ok~'``
    (equal only within the float tolerance, or checksum-equal with doubles
    quantized), ``'FAIL'``, or ``'----'`` (no oracle to compare with).
    The session time zone is pinned to UTC while the query runs and
    restored afterwards.
    """
    if checksum and query.oracle is None:
        return '----', 'no oracle (skipped in checksum mode)'
    prev_tz = spark.conf.get('spark.sql.session.timeZone')
    spark.conf.set('spark.sql.session.timeZone', 'UTC')
    try:
        return (_check_checksum if checksum else _check_canon)(spark, con, query, sf_dir)
    finally:
        spark.conf.set('spark.sql.session.timeZone', prev_tz)


def main() -> int:
    from cyclebane_spark.functions import bench_session
    from cyclebane_spark.queries import registry

    args = sys.argv[1:]
    use_checksum = '--checksum' in args
    args = [a for a in args if a != '--checksum']
    sf_dir = os.environ.get('SPARK_GRAFT_SF_DIR', '/root/testdata/sf0.001')
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    only = set(args)

    spark = bench_session('oracle-check')
    spark.sparkContext.setLogLevel('ERROR')
    con = connect(sf_dir)

    counts = {'ok': 0, 'ok~': 0, 'FAIL': 0, '----': 0}
    exact_misses = []
    for name, query in registry().items():
        if only and name not in only:
            continue
        status, detail = check_query(spark, con, query, sf_dir, use_checksum)
        counts[status] += 1
        if status == 'ok~':
            exact_misses.append(name)
        sep = ': ' if status in ('FAIL', '----') else ' '
        print(f'{status:<4} {name}{sep}{detail}', flush=True)

    print(
        f"\n{counts['ok'] + counts['ok~']} matched "
        f"({counts['ok~']} tolerance-only), {counts['FAIL']} failed, "
        f"{counts['----']} rows-only"
    )
    if exact_misses:
        print('tolerance-only (fix for driver hash):', ', '.join(exact_misses))
    return 1 if counts['FAIL'] else 0


if __name__ == '__main__':
    raise SystemExit(main())
