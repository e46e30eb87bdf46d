"""Tests for the public column-function library."""

import pyspark.sql.functions as F
import pytest

from cyclebane_spark import functions as CF

SF_DIR = '/root/testdata/sf0.001'


@pytest.fixture(scope='module')
def docs(spark):
    return spark.read.parquet(f'{SF_DIR}/documents.parquet').limit(100)


def test_tokens_and_counts(spark, docs):
    row = (
        docs.select(
            CF.token_count('text').alias('n'),
            F.size(CF.tokens('text')).alias('n2'),
            CF.stopword_count('text').alias('s'),
        )
        .agg(F.sum('n'), F.sum('n2'), F.sum('s'))
        .collect()[0]
    )
    assert row[0] == row[1] > 0
    assert 0 < row[2] < row[0]


def test_shingles_count(spark, docs):
    r = docs.select(
        CF.token_count('text').alias('n'),
        F.size(CF.shingles('text', 3)).alias('k'),
    ).collect()
    for row in r:
        assert row.k <= row.n - 2  # distinct <= total 3-grams


def test_word_ngram_count_is_tokens_minus_n_plus_1_clamped(spark):
    """Property: for ANY token count t, word_ngrams yields exactly
    max(0, t - n + 1) grams — the SQL range() contract, including the
    short-text clamp."""
    rows = [(' '.join(f'w{i}' for i in range(t)),) for t in range(0, 9)]
    df = spark.createDataFrame(rows, ['t']).select(
        CF.token_count('t').alias('n_tok'),
        F.size(CF.word_ngrams('t', 3)).alias('n_gram'),
    )
    for r in df.collect():
        assert r.n_gram == max(0, r.n_tok - 2), r


def test_zorder_interleave_roundtrip_and_monotone_blocks(spark):
    """Properties of the Morton key: (a) interleave is a bijection — the
    de-interleaved coordinates recover the inputs exactly; (b) keys in the
    same 2^k-aligned square share a prefix (curve locality)."""
    import itertools

    rows = [(x, y) for x, y in itertools.product(range(16), repeat=2)]
    df = spark.createDataFrame(rows, 'x long, y long').select(
        'x', 'y', CF.zorder_interleave('x', 'y', bits=4)
    )
    got = {(r.x, r.y): r.zkey for r in df.collect()}
    assert len(set(got.values())) == 256  # bijective on the grid
    for (x, y), z in got.items():
        dx = sum(((z >> (2 * i)) & 1) << i for i in range(4))
        dy = sum(((z >> (2 * i + 1)) & 1) << i for i in range(4))
        assert (dx, dy) == (x, y)
    # curve locality: every 4x4-aligned block maps to ONE z-prefix (z >> 4)
    blocks = {}
    for (x, y), z in got.items():
        blocks.setdefault((x >> 2, y >> 2), set()).add(z >> 4)
    for members in blocks.values():
        assert len(members) == 1


def test_word_ngrams_short_texts_yield_empty_not_bogus_partials(spark):
    """Texts with fewer than n tokens must produce an EMPTY gram array —
    matching SQL range(0, size-n+1) — not the descending-sequence partial
    grams the unguarded form emitted ('a b' -> ['a b','a b'])."""
    df = spark.createDataFrame(
        [('a b',), ('x',), ('',), (None,), ('one two three',)], ['t']
    ).select('t', CF.word_ngrams('t', 3).alias('g'))
    got = {r.t: r.g for r in df.collect()}
    assert got['a b'] == []
    assert got['x'] == []
    assert got[''] == []
    assert got[None] == []
    assert got['one two three'] == ['one two three']
    df = spark.createDataFrame(
        [('a b  c',), (' a   b c ',)], ['t']
    ).select(CF.fingerprint('t').alias('f'))
    a, b = [r.f for r in df.collect()]
    assert a == b


GRAM_TEXTS = [
    'one two three four five six seven eight nine ten eleven twelve',
    '   leading spaces here and there now',
    'trailing spaces here and there now   ',
    'repeated    inner   whitespace\tand\ttabs here  too',
    'a b a b a b a b a b a b',
    'few words',
    'x',
    '',
    '   ',
    None,
]


def _ref_tokens(text):
    """Spark's tokens(): trim strips spaces only, split keeps empties."""
    import re

    return None if text is None else re.split(r'\s+', text.strip(' '))


def _ref_grams(toks, n):
    if toks is None:
        return []
    return [' '.join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize('n', [1, 2, 3, 5, 8])
def test_gram_builders_match_python_reference(spark, n):
    """word_ngrams, word_ngrams_of (over tokens() and over a materialized
    array column) and shingles equal the pure-Python definition for every
    n: grams in document order, ``[]`` below n tokens and for NULL."""
    rows = [(t, _ref_tokens(t)) for t in GRAM_TEXTS]
    df = spark.createDataFrame(rows, 't string, toks array<string>').select(
        't',
        CF.word_ngrams('t', n).alias('wn'),
        CF.word_ngrams_of(CF.tokens('t'), n).alias('wn_of'),
        CF.word_ngrams_of('toks', n).alias('wn_arr'),
        CF.shingles('t', n).alias('sh'),
    )
    got = df.collect()
    assert len(got) == len(GRAM_TEXTS)
    for r in got:
        want = _ref_grams(_ref_tokens(r.t), n)
        assert r.wn == want, (r.t, n)
        assert r.wn_of == want, (r.t, n)
        assert r.wn_arr == want, (r.t, n)
        assert r.sh == list(dict.fromkeys(want)), (r.t, n)


def test_hash_bucket_range_and_stability(spark, docs):
    out = docs.select('doc_id', CF.hash_bucket('doc_id', 8).alias('b'))
    rows = {r.doc_id: r.b for r in out.collect()}
    assert all(0 <= b < 8 for b in rows.values())
    again = {
        r.doc_id: r.b
        for r in docs.repartition(7)
        .select('doc_id', CF.hash_bucket('doc_id', 8).alias('b'))
        .collect()
    }
    assert rows == again


def test_hash_sample_fraction(spark, docs):
    n = docs.count()
    k = docs.filter(CF.hash_sample('doc_id', 4)).count()
    assert 0 < k < n
    assert abs(k / n - 0.25) < 0.2


def test_cosine_self_is_one(spark):
    emb = spark.read.parquet(f'{SF_DIR}/embeddings.parquet').limit(10)
    rows = emb.select(
        CF.cosine('embedding', 'embedding').alias('c')
    ).collect()
    for r in rows:
        assert r.c == pytest.approx(1.0, abs=1e-9)


def test_exact_sum_matches_decimal(spark):
    li = spark.read.parquet(f'{SF_DIR}/lineitem.parquet')
    a = li.agg(CF.exact_sum('l_quantity')).collect()[0][0]
    b = li.agg(
        F.sum(F.col('l_quantity').cast('decimal(28,6)')).cast('double')
    ).collect()[0][0]
    assert a == b


def test_minhash_signature_shape(spark, docs):
    sh = docs.select(
        'doc_id', F.explode(CF.shingles('text')).alias('s')
    )
    sig = sh.groupBy('doc_id').agg(*CF.minhash_signature('s'))
    assert len(sig.columns) == 17
    r = sig.limit(1).collect()[0]
    assert all(len(r[f'h{p}']) == 8 for p in range(16))
