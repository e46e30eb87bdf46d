"""Public column-function library: the reusable pieces behind the query
registry, importable as ``from cyclebane_spark import functions as CF``.

All functions return Spark ``Column`` expressions (JVM-side, whole-stage
codegen) unless noted; nothing here touches the driver. Determinism: the
hash-based functions build exclusively on md5, so results are reproducible
across engines, runs, and partitionings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

__all__ = [
    'tokens',
    'word_ngrams',
    'shingles',
    'token_count',
    'stopword_count',
    'fingerprint',
    'hash_bucket',
    'hash_sample',
    'dot',
    'l2_norm',
    'cosine',
    'exact_sum',
    'exact_avg',
    'minhash_signature',
    'zorder_interleave',
    'checksum_consume',
    'bench_session',
]

DEFAULT_STOPWORDS = ('the', 'a', 'and', 'of', 'to')


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# -- text --------------------------------------------------------------------


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization: array<string>."""
    return F.split(F.trim(_col(text)), r'\s+')


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles in document order, duplicates kept:
    array<string>. The ONE canonical gram definition — :func:`shingles`
    (Jaccard semantics) and the MinHash signature path (min-fold, which is
    duplicate-insensitive) both build on it. It is
    :func:`word_ngrams_of` over :func:`tokens`.
    """
    return word_ngrams_of(tokens(text), n)


def word_ngrams_of(toks: Column | str, n: int) -> Column:
    """Word n-grams of an ALREADY-TOKENIZED array column, duplicates
    kept: array<string>. Tokenize-once pipelines that materialize the
    token array behind a repartition barrier build their grams here
    rather than hand-copying the guarded builder.

    Arrays with fewer than ``n`` tokens yield an empty array (matching SQL
    ``range(0, size - n + 1)``, which is empty when size < n); without the
    guard ``sequence(0, size - n)`` would DESCEND and emit bogus partial
    grams. A NULL array yields an empty array too.

    The token array is bound ONCE per row, as the lambda variable of a
    one-element ``transform(array(toks), t -> grams(t))``, and the grams
    are built from that variable. Lambda bodies are interpreted per
    element with no common-subexpression elimination, so a ``toks``
    expression captured inside the per-position lambda (``split(text)``
    after projection collapse) would be re-evaluated n times per gram:
    O(tokens^2) regex splits per document.
    """

    def grams(t: Column) -> Column:
        seq = F.sequence(F.lit(0), F.size(t) - n)
        gram = lambda i: F.concat_ws(' ', *[F.get(t, i + k) for k in range(n)])  # noqa: E731
        return F.when(F.size(t) >= n, F.transform(seq, gram)).otherwise(
            F.array().cast('array<string>')
        )

    return F.flatten(F.transform(F.array(_col(toks)), grams))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the text: array<string>."""
    return F.array_distinct(word_ngrams(text, n))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_count(
    text: Column | str, stopwords: tuple[str, ...] = DEFAULT_STOPWORDS
) -> Column:
    return F.size(F.filter(tokens(text), lambda x: x.isin(*stopwords)))


def fingerprint(text: Column | str) -> Column:
    """Canonicalizing md5 fingerprint (lowercase, collapsed whitespace) —
    the dedup shuffle key."""
    return F.md5(F.lower(F.regexp_replace(F.trim(_col(text)), r'\s+', ' ')))


# -- hashing / sampling ------------------------------------------------------


def hash_bucket(key: Column | str, n_buckets: int) -> Column:
    """Deterministic bucket in [0, n_buckets) from the md5 of the key.

    Content-derived (stable under re-partitioning and engine changes),
    unlike hash()/pmod which are engine-specific.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(_col(key).cast('string')), 1, 8), 16, 10).cast(
            'long'
        ),
        F.lit(n_buckets),
    )


def hash_sample(key: Column | str, fraction_sixteenths: int) -> Column:
    """Boolean filter column selecting ~fraction_sixteenths/16 of rows by
    the first hex digit of md5(key) — reproducible train/holdout splits."""
    digits = '0123456789abcdef'[:fraction_sixteenths]
    return F.substring(F.md5(_col(key).cast('string')), 1, 1).isin(*digits)


# -- vectors -----------------------------------------------------------------


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential double fold of the elementwise product (deterministic)."""
    prods = F.zip_with(
        _col(a), _col(b), lambda x, y: x.cast('double') * y.cast('double')
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# -- exact aggregates --------------------------------------------------------


def exact_sum(c: Column | str) -> Column:
    """Order-independent double sum via a decimal accumulator, as double."""
    return F.sum(_col(c).cast('decimal(28,6)')).cast('double')


def exact_avg(c: Column | str) -> Column:
    col = _col(c)
    return F.sum(col.cast('decimal(28,6)')).cast('double') / F.count(col)


# -- space-filling curves ----------------------------------------------------


def zorder_interleave(*qcols: Column | str, bits: int = 16) -> Column:
    """Morton (Z-order) key: bit-interleave ``bits`` low bits of each
    already-quantized nonnegative integer column.

    The multi-dimensional clustering key behind Delta/Iceberg's
    OPTIMIZE ZORDER: sorting by the interleaved key places rows close in
    EVERY dimension near each other, so parquet min/max footers stay
    narrow on all interleaved columns at once and a multi-predicate scan
    prunes files/row-groups on each dimension — a linear sort can only
    do that for its leading column. Callers quantize first (see
    :func:`cyclebane_spark.sinks.write_zordered`, which equi-width-maps
    each column onto [0, 2^bits)).

    The interleave is a flat OR-chain of shiftleft/shiftright terms with
    LITERAL shift amounts — whole-stage-codegen-friendly, no interpreted
    higher-order functions in the write path.
    """
    assert len(qcols) >= 2 and bits * len(qcols) <= 63
    out = F.lit(0).cast('bigint')
    for d, c in enumerate(qcols):
        q = _col(c).cast('bigint')
        for i in range(bits):
            pos = i * len(qcols) + d
            out = out.bitwiseOR(
                F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), pos)
            )
    return out.alias('zkey')


# -- minhash -----------------------------------------------------------------


def minhash_signature(shingle: Column | str, n_perms: int = 16) -> list[Column]:
    """Aggregate expressions for an n_perm MinHash signature over an
    exploded shingle column: use inside ``groupBy(doc).agg(*sig)``.

    Permutation 4i+j is min over the j-th 8-hex chunk of md5(f'{i}:'||s).
    """
    assert n_perms % 4 == 0
    out = []
    for p in range(n_perms):
        seed, chunk = divmod(p, 4)
        m = F.md5(F.concat(F.lit(f'{seed}:'), _col(shingle)))
        out.append(
            F.min(F.substring(m, chunk * 8 + 1, 8)).alias(f'h{p}')
        )
    return out


# -- bench/harness helpers -----------------------------------------------------


def _contains_map(dt) -> bool:
    """True when a Spark DataType contains a MapType at ANY nesting level
    (xxhash64 rejects maps — they are unordered, so they have no canonical
    hash — including maps inside arrays and structs)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return True
    if isinstance(dt, ArrayType):
        return _contains_map(dt.elementType)
    if isinstance(dt, StructType):
        return any(_contains_map(f.dataType) for f in dt.fields)
    return False


def bench_session(app_name: str):
    """The one SparkSession factory: every Spark session in the repo
    starts here, so the plans the tests pin are the plans the bench
    times. Callers: ``bench.py``, ``perfbench/worker.py``, the ``spark``
    fixture in ``tests/conftest.py``, ``tests/oracle_check.py``, and the
    tools ``dump_plan``, ``marginal_bench``, ``sf1_twin_evidence``,
    ``gen_sf1``, ``gen_skew_bench``, ``gen_chain_bench`` and
    ``gen_layout_bench``.

    ``local[cpus]`` with one shuffle partition per core, AQE on, the
    session time zone pinned to UTC, and Spark's DEFAULT 10MB
    autoBroadcastJoinThreshold: a 64MB override made Catalyst broadcast
    multi-million-row FILTERED FACT sides at sf1 (q3 built a hash table
    from the shipdate-filtered lineitem) — measured 2.5-4x slower than the
    shuffle joins it displaced, while every headliner improved or tied at
    sf0.1 under the default (SCALE.md). Dimension broadcasts are explicit
    F.broadcast calls and unaffected.

    Env: SPARK_GRAFT_CPUS (default ``os.cpu_count()``)."""
    import os

    from pyspark.sql import SparkSession

    cpus = os.environ.get('SPARK_GRAFT_CPUS', str(os.cpu_count()))
    return (
        SparkSession.builder.master(f'local[{cpus}]')
        .config('spark.sql.shuffle.partitions', cpus)
        .config('spark.sql.adaptive.enabled', 'true')
        .config('spark.sql.session.timeZone', 'UTC')
        .config('spark.driver.memory', '16g')
        .config(
            'spark.sql.autoBroadcastJoinThreshold', str(10 * 1024 * 1024)
        )
        .appName(app_name)
        .getOrCreate()
    )


def checksum_consume(df) -> None:
    """Force FULL evaluation of every output column: fold an all-columns
    xxhash64 with bit_xor. The shared consumption action of bench.py and
    tools/marginal_bench.py — a bare count() lets Catalyst PRUNE
    expressions no downstream operator demands (the round-6 harness fix;
    measured: q1 0.21s -> 0.98s, param sweep 0.40s -> 1.55s at sf0.1 once
    forced). The hash fold runs over the FINAL rows only, so its own cost
    is noise. Columns containing a map at any nesting depth are serialized
    through to_json first rather than crashing the harness."""
    cols = [
        F.to_json(f.name) if _contains_map(f.dataType) else F.col(f.name)
        for f in df.schema.fields
    ]
    df.select(F.xxhash64(*cols).alias('h')).agg(F.bit_xor('h')).collect()
