"""Text-analysis operators over the ``documents`` table (north-star surface):
token counting, quality scoring, language identification, fingerprinting,
and the Arrow-batched Python path (pandas UDF / applyInPandas).

All hot-path variants stay JVM-side (split/regexp/aggregate builtins inside
whole-stage codegen); the pandas-UDF variants exist to prove the vectorized
Python escape hatch produces identical results. At 100 TB the documents
table partitions by source file; every operator here is embarrassingly
parallel per row (no shuffle) except the grouped z-score (one shuffle on the
group key).
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Window

from .. import functions as _CF
from ..tables import spread_small, table
from . import register

STOPWORDS = ('the', 'a', 'and', 'of', 'to')
_STOP_SQL = "('the', 'a', 'and', 'of', 'to')"


@register(
    'text_token_stats',
    oracle=r"""
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS n_tokens,
           length(text) AS n_chars_measured,
           len(list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x IN """ + _STOP_SQL + r""")) AS n_stopwords
    FROM documents
    """,
)
def text_token_stats(spark, sf_dir):
    """Whitespace tokenization + stopword counting, all JVM-side."""
    docs = table(spark, sf_dir, 'documents')
    toks = F.split(F.trim(F.col('text')), r'\s+')
    return docs.select(
        'doc_id',
        F.size(toks).cast('long').alias('n_tokens'),
        F.length('text').cast('long').alias('n_chars_measured'),
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
        .cast('long')
        .alias('n_stopwords'),
    )


@register(
    'text_quality_score',
    oracle=r"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tokens,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                        x -> x IN """ + _STOP_SQL + r""")) AS DOUBLE) AS n_stop,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           n_tokens,
           (n_stop / n_tokens) AS stopword_ratio,
           (n_punct / n_chars) AS punct_ratio,
           (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END
            * (1.0 - n_punct / n_chars)
            * least(1.0, 4.0 * n_stop / n_tokens)) AS quality
    FROM t
    """,
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality score: length gate x punct penalty x stopword signal.

    Mirrors the shape of C4/Gopher-style quality filters; every term is a
    deterministic single-op double expression so the oracle matches exactly.
    """
    docs = table(spark, sf_dir, 'documents')
    toks = F.split(F.trim(F.col('text')), r'\s+')
    n_tokens = F.size(toks).cast('double')
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast('double')
    n_punct = F.length(F.regexp_replace('text', r'[^.,;:!?]', '')).cast('double')
    n_chars = F.length('text').cast('double')
    length_gate = F.when((n_tokens >= 20) & (n_tokens <= 1000), 1.0).otherwise(0.0)
    return docs.select(
        'doc_id',
        n_tokens.alias('n_tokens'),
        (n_stop / n_tokens).alias('stopword_ratio'),
        (n_punct / n_chars).alias('punct_ratio'),
        (
            length_gate
            * (F.lit(1.0) - n_punct / n_chars)
            * F.least(F.lit(1.0), F.lit(4.0) * n_stop / n_tokens)
        ).alias('quality'),
    )


# Language-ID: marker-token heuristic. The markers are chosen per language
# family; the CASE ladder is evaluated top-down identically in both engines.
_LANG_RULES = (
    ('zh', r'[一-鿿]'),
    ('de', r'\b(und|der|die|das|nicht|ist)\b'),
    ('fr', r'\b(le|la|les|et|est|une?)\b'),
    ('es', r'\b(el|los|las|y|es|una?)\b'),
)


@register(
    'text_language_id',
    oracle="""
    SELECT doc_id, lang,
           CASE
             WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
             WHEN regexp_matches(text, '\\b(und|der|die|das|nicht|ist)\\b') THEN 'de'
             WHEN regexp_matches(text, '\\b(le|la|les|et|est|une?)\\b') THEN 'fr'
             WHEN regexp_matches(text, '\\b(el|los|las|y|es|una?)\\b') THEN 'es'
             ELSE 'en'
           END AS predicted_lang
    FROM documents
    """,
)
def text_language_id(spark, sf_dir):
    """n-gram/marker language-ID heuristic (lang column kept for scoring)."""
    docs = table(spark, sf_dir, 'documents')
    pred = None
    for lang, pattern in reversed(_LANG_RULES):
        hit = F.regexp_like('text', F.lit(pattern))
        pred = F.when(hit, lang).otherwise(F.lit('en') if pred is None else pred)
    return docs.select('doc_id', 'lang', pred.alias('predicted_lang'))


@register(
    'text_fingerprint',
    oracle=r"""
    SELECT doc_id,
           md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Canonicalizing document fingerprint: md5 of normalized text.

    md5 is identical across engines, making this the anchor for exact-dedup
    oracles. At scale the fingerprint is the shuffle key for dedup.
    """
    docs = table(spark, sf_dir, 'documents')
    normalized = F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' '))
    return docs.select('doc_id', F.md5(normalized).alias('fingerprint'))


@register(
    'pipeline_training_data',
    oracle=r"""
    WITH sized AS (
        SELECT doc_id, lang, text,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
        FROM documents
    ), kept AS (
        SELECT * FROM sized WHERE n_tokens BETWEEN 10 AND 5000
    ), deduped AS (
        SELECT * FROM kept
        WHERE doc_id IN (SELECT min(doc_id) FROM kept GROUP BY fp)
    ), chunked AS (
        SELECT doc_id, lang, n_tokens,
               unnest(generate_series(1, greatest(length(text), 1), 150)) AS pos
        FROM deduped
    )
    SELECT lang,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_chunks,
           CAST(SUM(n_tokens) AS BIGINT) / COUNT(*) AS tokens_per_chunk_x
    FROM chunked GROUP BY lang
    """,
)
def pipeline_training_data(spark, sf_dir):
    """End-to-end training-data pipeline in ONE lazy plan: quality gate ->
    exact dedup (canonical = min doc_id per fingerprint) -> overlapping
    chunking -> per-language corpus stats.

    Scale: the quality gate is a scan-level filter; dedup is one hash
    aggregate on the md5 fingerprint plus a semi join (no fan-out); chunk
    offsets explode executor-side; the final rollup is a tiny hash agg.
    Four stages, two shuffles (dedup agg + final agg) — this is the shape a
    100 TB corpus prep runs nightly.
    """
    docs = table(spark, sf_dir, 'documents')
    sized = docs.select(
        'doc_id',
        'lang',
        'text',
        F.size(F.split(F.trim(F.col('text')), r'\s+')).cast('long').alias('n_tokens'),
        F.md5(
            F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' '))
        ).alias('fp'),
    )
    kept = sized.filter(F.col('n_tokens').between(10, 5000))
    # canonical-per-fingerprint via a window min, NOT an agg + self-semi-join:
    # the join formulation re-reads the corpus for the second side (plan
    # diamonds duplicate subtrees); the window keeps the plan linear — one
    # scan, one shuffle on fp.
    deduped = kept.withColumn(
        'min_doc', F.min('doc_id').over(Window.partitionBy('fp'))
    ).filter(F.col('doc_id') == F.col('min_doc'))
    chunked = deduped.select(
        'doc_id',
        'lang',
        'n_tokens',
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length('text'), F.lit(1)), F.lit(150))
        ).alias('pos'),
    )
    return chunked.groupBy('lang').agg(
        F.count_distinct('doc_id').alias('n_docs'),
        F.count(F.lit(1)).alias('n_chunks'),
        (F.sum('n_tokens') / F.count(F.lit(1))).alias('tokens_per_chunk_x'),
    )


@register(
    'text_chunking',
    oracle="""
    SELECT doc_id,
           CAST((pos - 1) // 150 AS BIGINT) AS chunk_idx,
           pos AS chunk_start,
           substr(text, pos, 200) AS chunk,
           length(substr(text, pos, 200)) AS chunk_len
    FROM (
        SELECT doc_id, text,
               CAST(unnest(generate_series(1, greatest(length(text), 1), 150)) AS BIGINT) AS pos
        FROM documents
    ) positions
    """,
)
def text_chunking(spark, sf_dir):
    """Overlapping document chunking (200-char windows, stride 150) — the
    standard LLM-ingest split, fully distributed.

    Scale: chunk offsets are generated executor-side per row
    (``sequence`` + ``explode``); no shuffle at all — the op is a pure
    projection fan-out, embarrassingly parallel over any corpus size.
    """
    docs = table(spark, sf_dir, 'documents')
    pos = F.explode(
        F.sequence(F.lit(1), F.greatest(F.length('text'), F.lit(1)), F.lit(150))
    )
    chunk = F.substring(F.col('text'), F.col('pos'), 200)
    return (
        docs.select('doc_id', 'text', pos.alias('pos'))
        .withColumn('pos', F.col('pos').cast('long'))
        .select(
            'doc_id',
            ((F.col('pos') - 1) / F.lit(150)).cast('long').alias('chunk_idx'),
            F.col('pos').alias('chunk_start'),
            chunk.alias('chunk'),
            F.length(chunk).cast('long').alias('chunk_len'),
        )
    )


@register(
    'text_greedy_packing',
    oracle=r"""
    WITH sized AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 2048 AS BIGINT) AS bin_id
        FROM sized
    )
    SELECT bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY bin_id
    """,
)
def text_greedy_packing(spark, sf_dir):
    """Sequential sequence-packing: assign documents (in doc_id order) to
    2048-token context bins by cumulative token count — the deterministic
    packing used for LLM pre-training batches.

    Scale: one global ordered cumsum. On a real cluster this is range-
    partitioned by the sort key (Spark's Window over a global ORDER BY plans
    a single-partition pass — for 100 TB, pack per shard: add a shard key to
    the partitionBy and bins stay shard-local, which is what training
    pipelines do anyway). Integer arithmetic throughout -> exact parity.
    """
    docs = table(spark, sf_dir, 'documents')
    sized = docs.select(
        'doc_id',
        F.size(F.split(F.trim(F.col('text')), r'\s+')).cast('long').alias('n_tokens'),
    )
    w = Window.orderBy('doc_id').rowsBetween(Window.unboundedPreceding, -1)
    packed = sized.select(
        'doc_id',
        'n_tokens',
        F.floor(
            F.coalesce(F.sum('n_tokens').over(w), F.lit(0)) / F.lit(2048)
        ).cast('long').alias('bin_id'),
    )
    return packed.groupBy('bin_id').agg(
        F.count(F.lit(1)).alias('n_docs'),
        F.sum('n_tokens').alias('total_tokens'),
    )


@register(
    'text_packing_two_level',
    oracle=r"""
    WITH sized AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        FROM documents
    ), packed AS (
        SELECT shard, doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 2048 AS BIGINT) AS local_bin
        FROM sized
    ), bins AS (
        SELECT shard, local_bin, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM packed GROUP BY shard, local_bin
    ), flagged AS (
        SELECT *, local_bin = MAX(local_bin) OVER (PARTITION BY shard) AS is_rem
        FROM bins
    ), remainders AS (
        SELECT shard, n_docs, total_tokens,
               CAST(COALESCE(SUM(total_tokens) OVER (
                   ORDER BY shard
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 2048 AS BIGINT) AS merged
        FROM flagged WHERE is_rem
    )
    SELECT shard * 1000000 + local_bin AS bin_id, n_docs, total_tokens
    FROM flagged WHERE NOT is_rem
    UNION ALL
    SELECT -1 - merged AS bin_id, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(total_tokens) AS BIGINT) AS total_tokens
    FROM remainders GROUP BY merged
    """,
)
def text_packing_two_level(spark, sf_dir):
    """Two-level sequence packing: shard-local greedy packing, then a global
    merge of each shard's underfull remainder bin — so cross-shard tokens are
    no longer left on the table (the honest limitation of
    ``text_greedy_packing``'s single-ordered variant at scale).

    Level 1 partitions the cumsum window BY SHARD (here ``doc_id % 8`` as a
    stand-in for the input-split id): every shard packs in parallel, no
    global sort. Level 2's window orders ONLY the per-shard remainder bins —
    exactly one row per shard, a constant-size (thousands of rows at 100 TB)
    driver-light pass — and merges them into full bins. Full bins get id
    ``shard * 1e6 + local_bin``; merged bins get negative ids. Integer
    arithmetic throughout -> exact cross-engine parity.
    """
    docs = table(spark, sf_dir, 'documents')
    sized = docs.select(
        'doc_id',
        (F.col('doc_id') % 8).alias('shard'),
        F.size(F.split(F.trim(F.col('text')), r'\s+')).cast('long').alias('n_tokens'),
    )
    w1 = (
        Window.partitionBy('shard')
        .orderBy('doc_id')
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = sized.select(
        'shard',
        'n_tokens',
        F.floor(
            F.coalesce(F.sum('n_tokens').over(w1), F.lit(0)) / F.lit(2048)
        ).cast('long').alias('local_bin'),
    )
    bins = packed.groupBy('shard', 'local_bin').agg(
        F.count(F.lit(1)).alias('n_docs'),
        F.sum('n_tokens').alias('total_tokens'),
    )
    flagged = bins.withColumn(
        'is_rem',
        F.col('local_bin')
        == F.max('local_bin').over(Window.partitionBy('shard')),
    )
    full_bins = flagged.filter(~F.col('is_rem')).select(
        (F.col('shard') * 1000000 + F.col('local_bin')).alias('bin_id'),
        'n_docs',
        'total_tokens',
    )
    w2 = (
        Window.orderBy('shard')
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        flagged.filter(F.col('is_rem'))
        .select(
            'shard',
            'n_docs',
            'total_tokens',
            F.floor(
                F.coalesce(F.sum('total_tokens').over(w2), F.lit(0)) / F.lit(2048)
            ).cast('long').alias('merged'),
        )
        .groupBy('merged')
        .agg(
            F.sum('n_docs').alias('n_docs'),
            F.sum('total_tokens').alias('total_tokens'),
        )
        .select(
            (F.lit(-1) - F.col('merged')).alias('bin_id'), 'n_docs', 'total_tokens'
        )
    )
    return full_bins.unionByName(merged)


@register(
    'text_tfidf_top_terms',
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, tf, score, rk FROM (
        SELECT tf.doc_id, tf.term, tf.tf,
               CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
               ROW_NUMBER() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY CAST(tf.tf * n.n AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
                            tf.term
               ) AS rk
        FROM tf JOIN df USING (term) CROSS JOIN n
    ) ranked WHERE rk <= 3
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    """Top-3 distinguishing terms per document by tf x (N/df).

    The score is the rational tf*N/df rather than the log-scaled classic —
    a monotone transform per term that keeps the cross-engine comparison
    exact (ln() differs by an ulp between libm implementations). Scale: one
    explode (no shuffle), two hash aggs, and a broadcast of the tiny
    (term, df) side if AQE sizes it so; the rank window partitions by doc.

    r11 optimization: spread on doc_id — locally the spread exchange
    replaces the (doc_id, term) groupBy exchange (subset clustering) and
    the tokenize explode runs core-wide; no-op on multi-split layouts.
    """
    docs = table(spark, sf_dir, 'documents')
    # spread only the token branch — the tiny corpus-count branch below
    # must stay a bare scan (spreading it would shuffle rows just to count
    # them)
    toks = spread_small(docs, 'doc_id').select(
        'doc_id', F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('term')
    )
    tf = toks.groupBy('doc_id', 'term').agg(F.count(F.lit(1)).alias('tf'))
    # df derived from tf itself: tf rows are unique (doc, term) pairs, so a
    # count over the term partition IS the document frequency. One explode,
    # one corpus scan — no tf-vs-df diamond re-reading the corpus twice
    # (DataFrame plans duplicate shared subtrees; a linear window chain
    # doesn't need the sharing).
    df = F.count(F.lit(1)).over(Window.partitionBy('term'))
    n = docs.agg(F.count(F.lit(1)).alias('n'))  # tiny 1-column side scan
    score = (F.col('tf') * F.col('n')).cast('double') / F.col('df').cast('double')
    w = Window.partitionBy('doc_id').orderBy(F.desc('score'), F.asc('term'))
    return (
        tf.withColumn('df', df.cast('long'))
        .join(F.broadcast(n))
        .select('doc_id', 'term', 'tf', score.alias('score'))
        .withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= 3)
    )


@register(
    'text_token_count_pandas_udf',
    oracle=r"""
    SELECT doc_id, len(string_split_regex(trim(text), '\s+')) AS n_tokens
    FROM documents
    """,
)
def text_token_count_pandas_udf(spark, sf_dir):
    """Same token count through the Arrow-batched pandas-UDF path.

    Proves the vectorized Python escape hatch (for logic builtins can't
    express) yields identical results to the JVM path. Arrow transfer,
    no per-row Python overhead.
    """
    docs = table(spark, sf_dir, 'documents')

    @F.pandas_udf('long')
    def n_tokens(text: pd.Series) -> pd.Series:
        return text.str.strip().str.split(r'\s+').str.len().astype('int64')

    return docs.select('doc_id', n_tokens('text').alias('n_tokens'))


@register(
    'text_zscore_by_lang',
    oracle="""
    WITH g AS (
        SELECT lang, COUNT(*) AS n, SUM(n_chars) AS s1,
               SUM(n_chars * n_chars) AS s2
        FROM documents GROUP BY lang
    )
    SELECT doc_id, d.lang,
           (n_chars - CAST(s1 AS DOUBLE) / n)
             / sqrt((CAST(s2 AS DOUBLE)
                     - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                    / (n - 1)) AS z_chars
    FROM documents d JOIN g USING (lang)
    """,
)
def text_zscore_by_lang(spark, sf_dir):
    """Grouped normalization via applyInPandas (grouped-map UDF).

    The oracle states it relationally; our implementation uses the
    applyInPandas path to exercise grouped Arrow batches — the pattern for
    per-group logic Spark can't express (per-language tokenizers, etc.).
    One shuffle on the group key; groups stream through pandas. Both sides
    derive mean/std from exact integer sums with the same IEEE op sequence,
    so the doubles are bit-identical.
    """
    docs = table(spark, sf_dir, 'documents').select('doc_id', 'lang', 'n_chars')

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        x = pdf.n_chars.astype('int64')
        n = float(len(x))
        s1 = float(int(x.sum()))
        s2 = float(int((x * x).sum()))
        mean = s1 / n
        std = math.sqrt((s2 - s1 * s1 / n) / (n - 1.0))
        return pd.DataFrame(
            {
                'doc_id': pdf.doc_id,
                'lang': pdf.lang,
                'z_chars': (x.astype('float64') - mean) / std,
            }
        )

    return docs.groupBy('lang').applyInPandas(
        zscore, 'doc_id long, lang string, z_chars double'
    )


_BPE_PATTERN = r'[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\s]+|\s+'


@register(
    'text_bpe_token_count',
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_BPE_PATTERN}')) AS BIGINT)
               AS n_bpe_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark, sf_dir):
    """BPE-style pre-tokenizer token count: GPT-2-ish split into letter
    runs, single digits, punctuation runs, and whitespace runs.

    Pure JVM regexp (regexp_extract_all inside whole-stage codegen) — the
    cheap token-budget estimator a 100 TB corpus pass runs before paying
    for a real BPE encode. The alternation's branches start with disjoint
    character classes, so Java (leftmost-first) and RE2 (DuckDB) agree.
    """
    docs = table(spark, sf_dir, 'documents')
    return docs.select(
        'doc_id',
        F.size(F.regexp_extract_all('text', F.lit(_BPE_PATTERN), F.lit(0)))
        .cast('long')
        .alias('n_bpe_tokens'),
    )


@register(
    'text_sentences_udtf',
    oracle="""
    WITH p AS (
        SELECT doc_id, string_split(text, '. ') AS parts FROM documents
    )
    SELECT doc_id,
           unnest(range(1, len(parts) + 1)) AS sent_idx,
           unnest(parts) AS sentence
    FROM p
    """,
)
def text_sentences_udtf(spark, sf_dir):
    """Python UDTF (table function) coverage: one->many sentence split via
    LATERAL, the §2.2 UDTF row.

    A UDTF is the right harness when per-row logic yields a VARIABLE number
    of rows with computed columns (segmenters, parsers, samplers) — things a
    scalar UDF can't express and built-ins only cover for trivial splits.
    Rows stream batch-wise through Python; at 100 TB this path is reserved
    for logic explode()+HOFs can't state (this literal split could be one —
    the point here is exercising the UDTF plumbing end-to-end).
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType='sent_idx: bigint, sentence: string')
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate(text.split('. '), start=1):
                yield i, s

    spark.udtf.register('split_sentences', SplitSentences)
    docs = table(spark, sf_dir, 'documents')
    docs.createOrReplaceTempView('__docs_for_udtf')
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM __docs_for_udtf d, LATERAL split_sentences(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1): documents whose
# content is dominated by a few repeated tokens/n-grams are low-quality
# boilerplate. The public heuristics: type-token ratio, fraction of tokens
# that are the single most frequent token, fraction of bigram instances
# belonging to repeated bigrams.
# Scale: two partial-aggregable groupBys keyed on (doc_id, gram) + one join
# on doc_id — every shuffle key carries the doc_id prefix, so at 100 TB the
# whole thing co-partitions on doc_id and the gram aggregations combine
# map-side (each doc's grams live in one input split).
# ---------------------------------------------------------------------------



def _gopher_counts(docs):
    """Per-doc Gopher counts over (doc_id, text): n_tokens, n_types and
    top_cnt from the unigram counts, LEFT JOINed on doc_id with n_bigrams
    and dup_bg (instances of bigrams seen more than once) from the bigram
    counts. Every aggregate is keyed on doc_id or (doc_id, gram), so a
    doc_id-partitioned input feeds them without another exchange."""
    toks = F.split(F.trim(F.col('text')), r'\s+')
    t = docs.select('doc_id', toks.alias('toks'))

    u = (
        t.select('doc_id', F.explode('toks').alias('g'))
        .groupBy('doc_id', 'g')
        .agg(F.count(F.lit(1)).alias('cnt'))
    )
    uni = u.groupBy('doc_id').agg(
        F.sum('cnt').alias('n_tokens'),
        F.count(F.lit(1)).alias('n_types'),
        F.max('cnt').alias('top_cnt'),
    )

    bigrams = F.transform(
        # range(1, len) in DuckDB is [1, len-1]: bigram i pairs toks[i],
        # toks[i+1] (1-based). Spark mirrors with a 0-based sequence slice.
        F.slice('toks', 1, F.greatest(F.size('toks') - 1, F.lit(0))),
        lambda x, i: F.concat_ws(' ', x, F.col('toks')[i + 1]),
    )
    b = (
        t.select('doc_id', F.explode(bigrams).alias('g'))
        .groupBy('doc_id', 'g')
        .agg(F.count(F.lit(1)).alias('cnt'))
    )
    bi = b.groupBy('doc_id').agg(
        F.sum('cnt').alias('n_bigrams'),
        F.sum(F.when(F.col('cnt') > 1, F.col('cnt')).otherwise(0)).alias('dup_bg'),
    )
    return uni.join(bi, 'doc_id', 'left')


def _gopher_ratios():
    """(type-token ratio, top-token fraction, dup-bigram fraction, pass
    gate) Columns over :func:`_gopher_counts`. Unaliased, so a filter or a
    select uses them without adding a projection."""
    ttr = F.col('n_types').cast('double') / F.col('n_tokens')
    top_frac = F.col('top_cnt').cast('double') / F.col('n_tokens')
    dup_frac = F.when(
        F.coalesce(F.col('n_bigrams'), F.lit(0)) > 0,
        F.col('dup_bg').cast('double') / F.col('n_bigrams'),
    ).otherwise(0.0)
    passes = (ttr >= 0.5) & (top_frac <= 0.125) & (dup_frac <= 0.25)
    return ttr, top_frac, dup_frac, passes


@register(
    'text_gopher_repetition',
    oracle=r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    u AS (
        SELECT doc_id, t AS g, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS t FROM t)
        GROUP BY doc_id, g
    ),
    uni AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(MAX(cnt) AS BIGINT) AS top_cnt
        FROM u GROUP BY doc_id
    ),
    b AS (
        SELECT doc_id, g, COUNT(*) AS cnt
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM t
        )
        GROUP BY doc_id, g
    ),
    bi AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_bg
        FROM b GROUP BY doc_id
    )
    SELECT uni.doc_id,
           uni.n_tokens,
           CAST(uni.n_types AS DOUBLE) / uni.n_tokens AS type_token_ratio,
           CAST(uni.top_cnt AS DOUBLE) / uni.n_tokens AS top_token_frac,
           CASE WHEN coalesce(bi.n_bigrams, 0) > 0
                THEN CAST(bi.dup_bg AS DOUBLE) / bi.n_bigrams
                ELSE 0.0 END AS dup_bigram_frac,
           (CAST(uni.n_types AS DOUBLE) / uni.n_tokens >= 0.5
            AND CAST(uni.top_cnt AS DOUBLE) / uni.n_tokens <= 0.125
            AND (CASE WHEN coalesce(bi.n_bigrams, 0) > 0
                      THEN CAST(bi.dup_bg AS DOUBLE) / bi.n_bigrams
                      ELSE 0.0 END) <= 0.25) AS gopher_pass
    FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
    """,
)
def text_gopher_repetition(spark, sf_dir):
    """Gopher repetition filters: TTR, top-token fraction, dup-bigram mass.

    Every ratio is a single BIGINT/BIGINT divide (one IEEE op — exact
    cross-engine); the boolean gate composes three deterministic compares.
    The doc_id spread satisfies every per-doc clustering of
    :func:`_gopher_counts`, so locally it replaces all of their exchanges
    and the token explodes run core-wide; no-op on multi-split layouts.
    """
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    ttr, top_frac, dup_frac, passes = _gopher_ratios()
    return _gopher_counts(docs).select(
        'doc_id',
        'n_tokens',
        ttr.alias('type_token_ratio'),
        top_frac.alias('top_token_frac'),
        dup_frac.alias('dup_bigram_frac'),
        passes.alias('gopher_pass'),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (n-gram overlap): before training, every corpus
# document is checked for verbatim n-gram overlap against the evaluation
# benchmarks (the public method used for GPT-3/PaLM/Llama training sets —
# typically 8-13 token n-grams; 5 here because the synthetic docs are ~50
# tokens). A deterministic md5 split of doc_id, CAPPED to the first 256
# matching doc_ids, stands in for the benchmark corpus: real benchmarks are
# fixed-size, so the stand-in must be too — without the cap the md5 split
# grows linearly with the corpus and the pinned broadcast below would stop
# being constant-size (r2 ADVICE).
# Scale: the join is keyed on md5(gram) — fixed-width keys, benchmark side
# is genuinely constant (256 docs' grams, broadcast), corpus side never
# shuffles; per-doc aggregation carries doc_id as shuffle key with map-side
# combine.
# ---------------------------------------------------------------------------

BENCH_CAP = 256

_SQL_BENCH_IDS = f"""
        SELECT doc_id FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
        ORDER BY doc_id LIMIT {BENCH_CAP}
"""


def _bench_ids(docs):
    """The fixed-size synthetic benchmark: first BENCH_CAP md5-selected
    doc_ids. orderBy().limit() plans as TakeOrderedAndProject — no global
    sort — and the result is a constant 256-row table, always broadcast."""
    is_bench = F.substring(F.md5(F.col('doc_id').cast('string')), 1, 1).isin(
        '0', '1', '2', '3'
    )
    return docs.filter(is_bench).select('doc_id').orderBy('doc_id').limit(BENCH_CAP)


def _sql_5grams() -> str:
    from .dedup import _sql_shingles

    return _sql_shingles(5)


@register(
    'text_decontamination',
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    bench_ids AS ({_SQL_BENCH_IDS}),
    g AS (
        SELECT doc_id, md5(unnest({{grams}})) AS gh
        FROM t
    ),
    bm AS (
        SELECT doc_id, gh FROM g
        WHERE doc_id IN (SELECT doc_id FROM bench_ids)
    ),
    cp AS (
        SELECT doc_id, gh FROM g
        WHERE doc_id NOT IN (SELECT doc_id FROM bench_ids)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM cp GROUP BY doc_id),
    hits AS (
        SELECT cp.doc_id,
               COUNT(DISTINCT cp.gh) AS n_shared,
               COUNT(DISTINCT bm.doc_id) AS n_bench_docs
        FROM cp JOIN bm ON cp.gh = bm.gh
        GROUP BY cp.doc_id
    )
    SELECT h.doc_id,
           s.n_grams,
           h.n_shared,
           h.n_bench_docs,
           CAST(h.n_shared AS DOUBLE) / s.n_grams AS contamination
    FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
    """.format(grams=_sql_5grams()),
)
def text_decontamination(spark, sf_dir):
    """Training-set decontamination: corpus docs sharing 5-grams with the
    fixed-size benchmark split, with overlap counts and contaminated
    fraction."""
    from .. import functions as CF

    docs = table(spark, sf_dir, 'documents')
    bench = _bench_ids(docs)
    # r11 optimization (guide §1.2 step 1 / §2.4): the old shape built the
    # exploded full-corpus gram stream `g` once and referenced it three
    # times (bench grams, per-doc gram counts, hit counts) — THREE complete
    # shingle-explode + md5 passes over every document, each fused into the
    # single-task scan the one-row-group driver file yields (measured
    # 17.9s at sf0.1, the slowest query in the repo). Restructured:
    # - the bench-side doc filter moves BELOW the explode, so the bm
    #   branch shingles only the 256 benchmark docs instead of the corpus;
    # - per-doc gram counts become a count window over the exploded
    #   stream (identical to the old COUNT(*) re-aggregation), so the
    #   `sizes` pass and its re-join vanish; the window reuses the
    #   spread's doc_id clustering — no extra exchange;
    # - the one remaining corpus gram pass is spread_small'd so the
    #   explode+md5 run core-wide on few-file layouts (no-op elsewhere).
    # NOTE the explode takes the shingle EXPRESSION inline: materializing
    # the array through a named projection first and exploding the column
    # measured 16x slower (33.9s vs 2.0s for the bare pass at sf0.1) —
    # keep Generate's input an expression.
    # Oracle unchanged; results verified exact at sf0.001/0.01/0.1.
    sh = CF.shingles('text', 5)
    bm = (
        docs.join(F.broadcast(bench), 'doc_id')
        .select(F.col('doc_id').alias('b_doc'), F.explode(sh).alias('gram'))
        .select('b_doc', F.md5('gram').alias('gh'))
    )
    corp = spread_small(
        docs.join(F.broadcast(bench), 'doc_id', 'left_anti'), 'doc_id'
    )
    cp = (
        corp.select('doc_id', F.explode(sh).alias('gram'))
        .select('doc_id', F.md5('gram').alias('gh'))
        .withColumn(
            'n_grams',
            F.count(F.lit(1)).over(Window.partitionBy('doc_id')),
        )
    )
    hits = (
        cp.join(F.broadcast(bm), 'gh')
        .groupBy('doc_id')
        .agg(
            F.countDistinct('gh').alias('n_shared'),
            F.countDistinct('b_doc').alias('n_bench_docs'),
            F.max('n_grams').alias('n_grams'),
        )
    )
    return hits.select(
        'doc_id',
        'n_grams',
        'n_shared',
        'n_bench_docs',
        (F.col('n_shared').cast('double') / F.col('n_grams')).alias(
            'contamination'
        ),
    )


# ---------------------------------------------------------------------------
# Quality-proportional importance sampling (the data-mixing primitive behind
# DoReMi / quality-weighted corpus sampling): each document is kept with
# probability equal to its quality score, using an md5-derived uniform so the
# "coin flip" is deterministic, reproducible, and embarrassingly parallel —
# the property a 100 TB sampling pass needs (no RNG state, no driver
# coordination, resampling a shard re-derives identical decisions).
# ---------------------------------------------------------------------------


@register(
    'text_importance_sampling',
    oracle=r"""
    WITH q AS (
        SELECT doc_id,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS n_tokens,
               CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                        x -> x IN """ + _STOP_SQL + r""")) AS DOUBLE) AS n_stop,
               CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END
            * (1.0 - n_punct / n_chars)
            * least(1.0, 4.0 * n_stop / n_tokens)) AS quality,
           CAST(('0x' || substring(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) / 4294967296.0 AS u_sample,
           (CAST(('0x' || substring(md5('samp:' || CAST(doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) / 4294967296.0
            < (CASE WHEN n_tokens >= 20 AND n_tokens <= 1000 THEN 1.0 ELSE 0.0 END
               * (1.0 - n_punct / n_chars)
               * least(1.0, 4.0 * n_stop / n_tokens))) AS accepted
    FROM q
    """,
)
def text_importance_sampling(spark, sf_dir):
    """Keep each doc with probability = quality score, via an md5 uniform.

    The uniform is ``hex32(md5('samp:' || doc_id)) / 2^32`` — one exact
    integer-to-double convert and one IEEE divide, so the accept decision
    is bit-deterministic on both engines and across reruns/shards.
    """
    docs = table(spark, sf_dir, 'documents')
    toks = F.split(F.trim(F.col('text')), r'\s+')
    n_tokens = F.size(toks).cast('double')
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast('double')
    n_punct = F.length(F.regexp_replace('text', r'[^.,;:!?]', '')).cast('double')
    n_chars = F.length('text').cast('double')
    quality = (
        F.when((n_tokens >= 20) & (n_tokens <= 1000), 1.0).otherwise(0.0)
        * (F.lit(1.0) - n_punct / n_chars)
        * F.least(F.lit(1.0), F.lit(4.0) * n_stop / n_tokens)
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit('samp:'), F.col('doc_id').cast('string'))), 1, 8
        ),
        16,
        10,
    ).cast('bigint') / F.lit(4294967296.0)
    return docs.select(
        'doc_id',
        quality.alias('quality'),
        u.alias('u_sample'),
        (u < quality).alias('accepted'),
    )


# ---------------------------------------------------------------------------
# The composed corpus-prep flagship: Gopher repetition gate -> benchmark
# decontamination -> exact dedup -> per-language stats, ONE lazy plan.
# Each stage reuses the standalone operator's exact semantics (same
# thresholds, same 5-gram overlap, same fingerprint canon), so this query
# demonstrates operator COMPOSITION: Catalyst fuses the per-doc metrics into
# shared scans, the contamination check stays a broadcast semi/anti join,
# and nothing materializes between stages.
# Scale: gram aggregations shuffle on doc_id-prefixed keys (map-side
# combine), the benchmark side broadcasts, dedup is one fp-window — the
# number of corpus-sized shuffles is 3 end to end.
# ---------------------------------------------------------------------------


@register(
    'pipeline_clean_corpus',
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    u AS (
        SELECT doc_id, t AS g, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(toks) AS t FROM t)
        GROUP BY doc_id, g
    ),
    uni AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(MAX(cnt) AS BIGINT) AS top_cnt
        FROM u GROUP BY doc_id
    ),
    b AS (
        SELECT doc_id, g, COUNT(*) AS cnt
        FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])) AS g
            FROM t
        )
        GROUP BY doc_id, g
    ),
    bi AS (
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_bg
        FROM b GROUP BY doc_id
    ),
    gop AS (
        SELECT uni.doc_id, uni.n_tokens, uni.n_types
        FROM uni LEFT JOIN bi ON uni.doc_id = bi.doc_id
        WHERE CAST(uni.n_types AS DOUBLE) / uni.n_tokens >= 0.5
          AND CAST(uni.top_cnt AS DOUBLE) / uni.n_tokens <= 0.125
          AND (CASE WHEN coalesce(bi.n_bigrams, 0) > 0
                    THEN CAST(bi.dup_bg AS DOUBLE) / bi.n_bigrams
                    ELSE 0.0 END) <= 0.25
    ),
    bench_ids AS ({_SQL_BENCH_IDS}),
    g5 AS (
        SELECT doc_id, md5(unnest({{grams}})) AS gh,
               doc_id IN (SELECT doc_id FROM bench_ids) AS bench
        FROM t
    ),
    contaminated AS (
        SELECT DISTINCT cp.doc_id
        FROM g5 cp JOIN g5 bm ON cp.gh = bm.gh
        WHERE NOT cp.bench AND bm.bench
    ),
    clean AS (
        SELECT d.doc_id, d.lang, d.text, gop.n_tokens, gop.n_types
        FROM documents d JOIN gop ON d.doc_id = gop.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM bench_ids)
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    deduped AS (
        SELECT * FROM (
            SELECT clean.*,
                   MIN(doc_id) OVER (
                       PARTITION BY md5(lower(regexp_replace(trim(text),
                                                             '\s+', ' ', 'g')))
                   ) AS min_doc
            FROM clean
        ) WHERE doc_id = min_doc
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_types) AS DOUBLE) / SUM(n_tokens) AS micro_ttr
    FROM deduped GROUP BY lang
    """.format(grams=_sql_5grams()),
)
def pipeline_clean_corpus(spark, sf_dir):
    """Gopher gate -> decontamination -> exact dedup -> per-lang stats."""
    from .. import functions as CF

    docs = table(spark, sf_dir, 'documents')
    # The gopher counts and the corpus 5-gram pass run from a doc_id spread
    # (core-wide on the few-file driver layout; the per-doc aggregations
    # reuse its clustering). The benchmark-side gram subtree filters to
    # the bench docs BELOW its explode, so the corpus is exploded once.
    docs_s = spread_small(docs, 'doc_id')
    *_, passes = _gopher_ratios()
    gop = _gopher_counts(docs_s).filter(passes).select(
        'doc_id', 'n_tokens', 'n_types'
    )

    bench = _bench_ids(docs)
    sh5 = CF.shingles('text', 5)
    bm5 = (
        docs.join(F.broadcast(bench), 'doc_id')
        .select(F.explode(sh5).alias('gram'))
        .select(F.md5('gram').alias('gh'))
    )
    g5 = (
        docs_s.join(F.broadcast(bench), 'doc_id', 'left_anti')
        .select('doc_id', F.explode(sh5).alias('gram'))
        .select('doc_id', F.md5('gram').alias('gh'))
    )
    contaminated = g5.join(F.broadcast(bm5), 'gh').select('doc_id').distinct()

    clean = (
        docs.join(F.broadcast(bench), 'doc_id', 'left_anti')
        .join(gop, 'doc_id')
        .join(contaminated, 'doc_id', 'left_anti')
        .select('doc_id', 'lang', 'text', 'n_tokens', 'n_types')
    )
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' ')))
    deduped = clean.withColumn(
        'min_doc', F.min('doc_id').over(Window.partitionBy(fp))
    ).filter(F.col('doc_id') == F.col('min_doc'))
    return deduped.groupBy('lang').agg(
        F.count(F.lit(1)).alias('n_docs'),
        F.sum('n_tokens').alias('total_tokens'),
        (F.sum('n_types').cast('double') / F.sum('n_tokens')).alias('micro_ttr'),
    )


# ---------------------------------------------------------------------------
# C4-style global span dedup: the corpus-level repetition remover (C4 drops
# any three-sentence span occurring twice; RefinedWeb dedups fixed-token
# windows). The corpus has no sentence delimiters, so the span unit is 8
# consecutive tokens (non-overlapping). First occurrence wins globally —
# ordered by (doc_id, position) — and surviving spans reassemble into the
# cleaned document text.
# Scale: one explode to spans; the winner per span hash is an argmin hash
# agg (min of an encoded (doc_id, pos) key — partial-aggregable, no window);
# the survivor join co-partitions on the hash; reassembly is one groupBy
# doc_id with an in-executor array_sort (spans-per-doc sized). Three
# span-sized shuffles end to end, everything exact string/integer ops.
# ---------------------------------------------------------------------------

SPAN_W = 8
_POS_ENC = 1_000_000_000  # doc_id * enc + pos: unique, order = (doc_id, pos)


@register(
    'text_span_dedup',
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    spans AS (
        SELECT doc_id, CAST(unnest(range(0, CAST(ceil(len(toks) / {SPAN_W}.0) AS BIGINT))) AS BIGINT) AS pos,
               toks FROM t
    ),
    sh AS (
        SELECT doc_id, pos,
               array_to_string(toks[(pos * {SPAN_W} + 1):(pos * {SPAN_W} + {SPAN_W})], ' ') AS span,
               md5(array_to_string(toks[(pos * {SPAN_W} + 1):(pos * {SPAN_W} + {SPAN_W})], ' ')) AS h
        FROM spans
    ),
    keep AS (
        SELECT h, MIN(doc_id * {_POS_ENC} + pos) AS k FROM sh GROUP BY h
    ),
    kept AS (
        SELECT s.doc_id, s.pos, s.span
        FROM sh s JOIN keep ON s.h = keep.h
         AND s.doc_id * {_POS_ENC} + s.pos = keep.k
    ),
    totals AS (SELECT doc_id, COUNT(*) AS n_spans FROM sh GROUP BY doc_id),
    clean AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(span, ' ' ORDER BY pos) AS clean_text
        FROM kept GROUP BY doc_id
    )
    SELECT totals.doc_id, totals.n_spans,
           CAST(COALESCE(clean.n_kept, 0) AS BIGINT) AS n_kept,
           COALESCE(clean.clean_text, '') AS clean_text
    FROM totals LEFT JOIN clean USING (doc_id)
    """,
)
def text_span_dedup(spark, sf_dir):
    """Global 8-token-span dedup with first-occurrence keep and document
    reassembly — the C4-style corpus repetition remover. See the module
    note for the shuffle budget."""
    # r11 optimization note (examined, deliberately left alone): spreading
    # the scan before the span explode measured FLAT across three
    # interleaved A/B rounds at sf0.1 (off/on minima 0.98/1.05, 0.81/0.83,
    # 1.00/0.96) — the global first-occurrence window and reassembly
    # shuffles below dominate, so the added exchange buys nothing. On
    # multi-split production layouts the scan parallelizes by itself.
    docs = table(spark, sf_dir, 'documents')
    toks = F.split(F.trim(F.col('text')), r'\s+')
    n_spans = F.ceil(F.size('toks') / F.lit(SPAN_W)).cast('bigint')
    spans = (
        docs.select('doc_id', toks.alias('toks'))
        .select(
            'doc_id',
            'toks',
            F.explode(F.sequence(F.lit(0), n_spans - 1)).alias('pos'),
        )
        .select(
            'doc_id',
            F.col('pos').cast('bigint').alias('pos'),
            F.concat_ws(
                ' ', F.slice('toks', F.col('pos') * SPAN_W + 1, SPAN_W)
            ).alias('span'),
        )
        .withColumn('h', F.md5('span'))
    )
    enc = F.col('doc_id') * _POS_ENC + F.col('pos')
    keep = spans.groupBy('h').agg(F.min(enc).alias('k'))
    kept = spans.join(
        keep,
        (spans.h == keep.h) & (enc == keep.k),
    ).select('doc_id', 'pos', 'span')
    totals = spans.groupBy('doc_id').agg(F.count(F.lit(1)).alias('n_spans'))
    clean = kept.groupBy('doc_id').agg(
        F.count(F.lit(1)).alias('n_kept'),
        F.concat_ws(
            ' ',
            F.transform(
                F.array_sort(F.collect_list(F.struct('pos', 'span'))),
                lambda x: x['span'],
            ),
        ).alias('clean_text'),
    )
    return (
        totals.join(clean, 'doc_id', 'left')
        .select(
            'doc_id',
            'n_spans',
            F.coalesce('n_kept', F.lit(0)).alias('n_kept'),
            F.coalesce('clean_text', F.lit('')).alias('clean_text'),
        )
    )


# ---------------------------------------------------------------------------
# SymSpell-style fuzzy vocabulary join: typo/variant candidate pairs within
# edit distance 2, WITHOUT the O(V^2) vocabulary self-join. Two terms within
# k edits share an element of each other's <=k-deletion neighborhoods (the
# SymSpell guarantee), so blocking is an EQUI-join on the deletion key and
# the exact levenshtein only runs on candidates — the inverted-index trick
# that makes fuzzy matching tractable at a many-million-term vocabulary
# (key count = O(V x avg_len^2) for k=2, shuffle keyed on short strings,
# no quadratic stage anywhere).
# ---------------------------------------------------------------------------


def _sql_del2_keys() -> str:
    """The <=2-deletion neighborhood of ``term`` as a DuckDB list expr."""
    L = 'length(term)'
    d1 = f'substr(term, 1, i - 1) || substr(term, i + 1, {L})'
    d2 = (
        'substr(term, 1, i - 1) || substr(term, i + 1, j - i - 1)'
        f' || substr(term, j + 1, {L})'
    )
    return f"""list_distinct(list_prepend(term,
        flatten(list_transform(range(1, {L} + 1), i ->
            list_prepend({d1},
                list_transform(range(i + 1, {L} + 1), j -> {d2}))))))"""


@register(
    'text_typo_candidates',
    oracle=rf"""
    WITH vocab AS (
        SELECT term, COUNT(*) AS cnt
        FROM (
            SELECT unnest(string_split_regex(trim(text), '\s+')) AS term
            FROM documents
        ) GROUP BY term
    ),
    keys AS (
        SELECT term, unnest({_sql_del2_keys()}) AS k
        FROM vocab
    ),
    pairs AS (
        SELECT DISTINCT a.term AS term_a, b.term AS term_b
        FROM keys a JOIN keys b ON a.k = b.k AND a.term < b.term
    )
    SELECT term_a, term_b,
           CAST(levenshtein(term_a, term_b) AS BIGINT) AS edit_dist,
           CAST(a.cnt AS BIGINT) AS cnt_a, CAST(b.cnt AS BIGINT) AS cnt_b
    FROM pairs
    JOIN vocab a ON a.term = pairs.term_a
    JOIN vocab b ON b.term = pairs.term_b
    WHERE levenshtein(term_a, term_b) <= 2
    """,
)
def text_typo_candidates(spark, sf_dir):
    """Vocabulary pairs within edit distance 2 via SymSpell deletion-
    neighborhood blocking (equi-join on <=2-deletion keys, exact
    levenshtein verification on candidates only). See the module note."""
    docs = table(spark, sf_dir, 'documents')
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('term')
        )
        .groupBy('term')
        .agg(F.count(F.lit(1)).alias('cnt'))
    )
    t = F.col('term')
    L = F.length('term')

    def d1(i):
        return F.concat(t.substr(F.lit(1), i - 1), t.substr(i + 1, L))

    def d2(i, j):
        return F.concat(
            t.substr(F.lit(1), i - 1),
            t.substr(i + 1, j - i - 1),
            t.substr(j + 1, L),
        )

    # all i < j pairs via filter on the full position range (F.sequence with
    # start > stop would generate a DESCENDING range, not an empty one)
    del_keys = F.array_distinct(
        F.concat(
            F.array(t),
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), L),
                    lambda i: F.concat(
                        F.array(d1(i)),
                        F.transform(
                            F.filter(F.sequence(F.lit(1), L), lambda j: j > i),
                            lambda j: d2(i, j),
                        ),
                    ),
                )
            ),
        )
    )
    keys = vocab.select('term', F.explode(del_keys).alias('k'))
    a, b = keys.alias('a'), keys.alias('b')
    pairs = (
        a.join(
            b,
            (F.col('a.k') == F.col('b.k'))
            & (F.col('a.term') < F.col('b.term')),
        )
        .select(
            F.col('a.term').alias('term_a'), F.col('b.term').alias('term_b')
        )
        .distinct()
        .withColumn('edit_dist', F.levenshtein('term_a', 'term_b').cast('long'))
        .filter(F.col('edit_dist') <= 2)
    )
    # No broadcast hint on the vocab sides: at the many-million-term scale
    # this query is written for, the full count table exceeds any broadcast
    # threshold — the pairs side is already keyed on term, so the planner's
    # choice (shuffle join at scale, auto-broadcast when actually small) is
    # the right one.
    va = vocab.select(F.col('term').alias('term_a'), F.col('cnt').alias('cnt_a'))
    vb = vocab.select(F.col('term').alias('term_b'), F.col('cnt').alias('cnt_b'))
    return (
        pairs.join(va, 'term_a')
        .join(vb, 'term_b')
        .select('term_a', 'term_b', 'edit_dist', 'cnt_a', 'cnt_b')
    )


# ---------------------------------------------------------------------------
# PII redaction: the data-governance pass every training corpus runs before
# the tokenizer — find and scrub emails / phone numbers / IPv4 addresses.
# The synthetic corpus contains no PII, so the query first INJECTS a
# deterministic doc_id-derived contact line (the same honest-synthesis
# pattern as the multimodal payloads), then counts and scrubs it — the
# regexes run against real positive AND negative text in every row.
# Patterns stay inside the Java-regex/RE2 common subset (no lookarounds, no
# backreferences) so Spark and DuckDB match identically.
# Scale: pure per-row projection — zero shuffle, whole-stage codegen,
# perfectly parallel at any corpus size.
# ---------------------------------------------------------------------------

_PII_EMAIL = r'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'
_PII_PHONE = r'\b\d{3}-\d{3}-\d{4}\b'
_PII_IPV4 = r'\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'


@register(
    'text_pii_redaction',
    oracle=rf"""
    WITH dirty AS (
        SELECT doc_id,
               text || ' contact user' || doc_id ||
               '@mail.example.com or 10.' || (doc_id % 256) || '.0.' ||
               ((doc_id * 7) % 256) || ' tel 555-' ||
               lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-' ||
               lpad(CAST((doc_id * 13) % 10000 AS VARCHAR), 4, '0')
                   AS dirty_text
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(dirty_text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(dirty_text, '{_PII_PHONE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(
               regexp_replace(regexp_replace(dirty_text, '{_PII_EMAIL}',
                                             '<EMAIL>', 'g'),
                              '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IPV4}')) AS BIGINT) AS n_ips,
           regexp_replace(
               regexp_replace(
                   regexp_replace(dirty_text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                   '{_PII_PHONE}', '<PHONE>', 'g'),
               '{_PII_IPV4}', '<IP>', 'g') AS clean_text
    FROM dirty
    """,
)
def text_pii_redaction(spark, sf_dir):
    """Scrub emails, US-style phone numbers and IPv4s; report per-doc counts.

    The scrub is a fixed cascade (email -> phone -> IP) in BOTH engines, and
    the IP count runs after the email/phone scrub so an address inside an
    email domain is never double-counted — cascade order is part of the
    operator's contract, stated identically in the oracle.
    """
    docs = table(spark, sf_dir, 'documents')
    dirty = F.concat(
        F.col('text'),
        F.lit(' contact user'),
        F.col('doc_id'),
        F.lit('@mail.example.com or 10.'),
        F.col('doc_id') % 256,
        F.lit('.0.'),
        (F.col('doc_id') * 7) % 256,
        F.lit(' tel 555-'),
        F.lpad((F.col('doc_id') % 1000).cast('string'), 3, '0'),
        F.lit('-'),
        F.lpad(((F.col('doc_id') * 13) % 10000).cast('string'), 4, '0'),
    )
    d = docs.select('doc_id', dirty.alias('dirty_text'))
    no_email = F.regexp_replace('dirty_text', _PII_EMAIL, '<EMAIL>')
    no_phone = F.regexp_replace(no_email, _PII_PHONE, '<PHONE>')
    clean = F.regexp_replace(no_phone, _PII_IPV4, '<IP>')
    return d.select(
        'doc_id',
        F.regexp_count('dirty_text', F.lit(_PII_EMAIL))
        .cast('bigint')
        .alias('n_emails'),
        F.regexp_count('dirty_text', F.lit(_PII_PHONE))
        .cast('bigint')
        .alias('n_phones'),
        F.regexp_count(no_phone, F.lit(_PII_IPV4))
        .cast('bigint')
        .alias('n_ips'),
        clean.alias('clean_text'),
    )


# ---------------------------------------------------------------------------
# Feature hashing (the "hashing trick"): text -> fixed-dimension sparse
# feature vector without a vocabulary pass. Each token hashes to a feature
# index in [0, D) and a +/-1 sign (the signed variant keeps collision noise
# zero-mean — Weinberger et al. 2009); the doc's vector is the signed count
# per index, emitted sparsely as (doc_id, feature, weight) rows. The
# vocabulary-free property is what matters at 100 TB: no term dictionary to
# build, broadcast, or keep consistent across runs — the classic trainer-
# side vectorizer for linear/quality-filter models over web-scale corpora.
# D=64 here so the gate output is inspectable; production D=2^20 changes
# only a literal. Scale: one explode, ONE map-side-combinable hash agg on
# (doc_id, feature); md5-derived index+sign make both engines bit-equal.
# ---------------------------------------------------------------------------

_FEATURE_DIM = 64


@register(
    'text_hashed_features',
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 64
                   AS feature,
               CASE WHEN substring(md5(tok), 9, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE -1 END AS sign
        FROM tok
    )
    SELECT doc_id, feature, CAST(SUM(sign) AS BIGINT) AS weight
    FROM h GROUP BY doc_id, feature HAVING SUM(sign) <> 0
    """,
)
def text_hashed_features(spark, sf_dir):
    """Signed feature hashing: sparse (doc_id, feature, weight) rows, zero
    vocabulary state. See the module note above for the scale rationale."""
    docs = table(spark, sf_dir, 'documents')
    tok = docs.select(
        'doc_id', F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok')
    )
    m = F.md5('tok')
    feature = F.pmod(
        F.conv(F.substring(m, 1, 8), 16, 10).cast('long'),
        F.lit(_FEATURE_DIM),
    )
    sign = F.when(
        F.substring(m, 9, 1).isin(*'01234567'), F.lit(1)
    ).otherwise(F.lit(-1))
    return (
        tok.select('doc_id', feature.alias('feature'), sign.alias('sign'))
        .groupBy('doc_id', 'feature')
        .agg(F.sum('sign').alias('weight'))
        .filter(F.col('weight') != 0)
    )


# ---------------------------------------------------------------------------
# Equal-frequency curriculum binning WITHOUT a global sort: the length-based
# curriculum/bucketing step of a training pipeline (short docs first, or
# per-bin batch shaping) needs each document's EXACT global quartile. The
# naive statement — ntile(4) OVER (ORDER BY n_tokens) — funnels the corpus
# through one reducer. This is the same problem the positional slice solved
# (sources/arrays.py): group by the sort key (token count), cumulate the
# per-key counts into start offsets over the ~|distinct lengths| rows
# (metadata-sized), broadcast the offsets back, and compute each doc's
# global rank as offset + within-key row_number — every window partitions
# by the key, all sorts run in parallel. bin = (pos * 4) div N — the
# floor-rank quantile definition, stated identically in the oracle, so
# parity is definitional (ntile's remainder-spreading convention differs;
# this query deliberately uses the simpler floor form on both engines).
# ---------------------------------------------------------------------------


@register(
    'text_length_curriculum',
    oracle=r"""
    WITH d AS (
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT doc_id, n_tokens,
               ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) - 1 AS pos
        FROM d
    )
    SELECT doc_id, n_tokens,
           CAST((pos * 4) // (SELECT COUNT(*) FROM d) AS BIGINT) AS bin
    FROM r
    """,
)
def text_length_curriculum(spark, sf_dir):
    """Exact equal-frequency quartile bin per document by token count,
    computed with the bucketed two-level rank (no single-reducer sort) —
    see the module note above."""
    from ..functions.ranking import with_global_position

    docs = table(spark, sf_dir, 'documents')
    d = docs.select(
        'doc_id',
        F.size(F.split(F.trim(F.col('text')), r'\s+')).cast('bigint').alias('n_tokens'),
    )
    total = d.agg(F.count(F.lit(1)).alias('n'))
    # Bucket = the sort key itself (token counts are low-cardinality), so
    # the shared two-level rank needs no sampling here.
    ranked = with_global_position(d, F.col('n_tokens'), ['doc_id'], 'pos')
    return ranked.crossJoin(F.broadcast(total)).select(
        'doc_id',
        'n_tokens',
        F.expr('(pos * 4) div n').cast('bigint').alias('bin'),
    )


# ---------------------------------------------------------------------------
# Term co-occurrence with PMI-style lift — the association-mining step of a
# corpus-analysis pipeline (collocation discovery, topic seeds, tokenizer
# merge candidates). Presence-based: each doc contributes each unordered
# term pair at most once.
# Scale: the naive statement is a self-join of the (doc, term) table with
# itself — quadratic in per-doc vocabulary. Bounded here the way production
# does it: (1) distinct per doc first (explode + ONE hash agg), (2) a
# document-frequency floor prunes rare terms BEFORE the pair join (the df
# table is tiny — |vocab| rows — and broadcasts), (3) the pair join is
# doc-blocked (equi-join on doc_id), never corpus-global. Lift
# = P(x,y)/(P(x)P(y)) is computed from integer counts with two IEEE double
# ops, so both engines are bit-identical; PMI itself is just log2(lift),
# monotone in it, so the ranking is PMI ranking without cross-engine libm.
# ---------------------------------------------------------------------------

_PMI_MIN_DF = 25  # prune terms seen in <5% of docs before the pair join
_PMI_TOP = 25


@register(
    'text_pmi_cooccurrence',
    oracle=r"""
    WITH tok AS (
        SELECT DISTINCT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    df AS (
        SELECT tok, COUNT(*) AS df FROM tok GROUP BY tok
        HAVING COUNT(*) >= 25
    ),
    ft AS (SELECT t.doc_id, t.tok, d.df FROM tok t JOIN df d USING (tok)),
    pairs AS (
        SELECT a.tok AS t1, b.tok AS t2,
               a.df AS c_x, b.df AS c_y, COUNT(*) AS c_xy
        FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok, a.df, b.df
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok)
    SELECT t1, t2, c_xy, c_x, c_y,
           CAST(c_xy AS DOUBLE) * n_docs / (c_x * c_y) AS lift
    FROM pairs, n
    ORDER BY lift DESC, t1, t2
    LIMIT 25
    """,
)
def text_pmi_cooccurrence(spark, sf_dir):
    """Top term-pair associations by lift (monotone in PMI). See the module
    note for the df-floor + doc-blocked join scale shape."""
    from pyspark import StorageLevel

    # r11 optimization: the tokenize explode + partial distinct below the
    # persist ran inside the single scan task; spread_small restores
    # core-wide execution (no-op on multi-split layouts).
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    # ft feeds BOTH sides of the pair self-join and the df aggregate —
    # three references; without a persist Spark would plan (and shuffle)
    # the distinct (doc, term) stream three times (same idiom as the
    # PageRank edge list in dedup.py)
    tok = (
        docs.select(
            'doc_id', F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok')
        )
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    df = (
        tok.groupBy('tok')
        .agg(F.count(F.lit(1)).alias('df'))
        .filter(F.col('df') >= _PMI_MIN_DF)
    )
    ft = tok.join(F.broadcast(df), 'tok')
    a = ft.select('doc_id', F.col('tok').alias('t1'), F.col('df').alias('c_x'))
    b = ft.select('doc_id', F.col('tok').alias('t2'), F.col('df').alias('c_y'))
    n = tok.agg(F.countDistinct('doc_id').alias('n_docs'))
    return (
        a.join(b, ['doc_id'])
        .filter(F.col('t1') < F.col('t2'))
        .groupBy('t1', 't2', 'c_x', 'c_y')
        .agg(F.count(F.lit(1)).alias('c_xy'))
        .crossJoin(F.broadcast(n))
        .select(
            't1',
            't2',
            'c_xy',
            'c_x',
            'c_y',
            (
                F.col('c_xy').cast('double')
                * F.col('n_docs')
                / (F.col('c_x') * F.col('c_y'))
            ).alias('lift'),
        )
        .orderBy(F.col('lift').desc(), 't1', 't2')
        .limit(_PMI_TOP)
    )


# ---------------------------------------------------------------------------
# In-engine linear quality classifier — the fasttext-style scoring step of a
# data-curation pipeline, run AS a query: score(doc) = sum over tokens of
# sign(tok) * w(feature(tok)), where feature/sign come from the same
# vocabulary-free hashing as text_hashed_features and the weight table is a
# fixed deterministic function of the feature index (a stand-in for trained
# weights; swapping in a learned vector changes one expression, not the
# plan). Integer arithmetic end to end, so parity is exact.
# Scale: no feature-vector materialization — the score folds into ONE
# map-side-combinable hash agg per doc (explode + groupBy(doc_id)); the
# "model" is an expression, not a join, so 100 TB scoring is a single pass
# with no shuffle besides the per-doc agg.
# ---------------------------------------------------------------------------


@register(
    'text_quality_classifier',
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    h AS (
        SELECT doc_id,
               CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) % 64
                   AS feature,
               CASE WHEN substring(md5(tok), 9, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 1 ELSE -1 END AS sign
        FROM tok
    )
    SELECT doc_id,
           CAST(SUM(sign * ((feature * 2654435761) % 1000 - 500)) AS BIGINT)
               AS score,
           CAST(SUM(sign * ((feature * 2654435761) % 1000 - 500)) AS BIGINT)
               > 0 AS keep
    FROM h GROUP BY doc_id
    """,
)
def text_quality_classifier(spark, sf_dir):
    """Linear classifier over hashed features as a single-pass aggregate.
    See the module note; weights are a fixed Knuth-multiplicative function
    of the feature index so the gate is deterministic."""
    docs = table(spark, sf_dir, 'documents')
    tok = docs.select(
        'doc_id', F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok')
    )
    m = F.md5('tok')
    feature = F.pmod(
        F.conv(F.substring(m, 1, 8), 16, 10).cast('long'), F.lit(_FEATURE_DIM)
    )
    sign = F.when(
        F.substring(m, 9, 1).isin(*'01234567'), F.lit(1)
    ).otherwise(F.lit(-1))
    # DuckDB's % keeps the sign of the dividend; feature >= 0 here so a
    # plain % (Spark: expr mod) matches. 2654435761 = Knuth's 2^32/phi.
    weight = (feature * F.lit(2654435761)) % F.lit(1000) - F.lit(500)
    return (
        tok.select('doc_id', (sign * weight).alias('contrib'))
        .groupBy('doc_id')
        .agg(F.sum('contrib').cast('bigint').alias('score'))
        .select('doc_id', 'score', (F.col('score') > 0).alias('keep'))
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage / OOV-rate audit — the tokenizer-fit check run before
# training: build the top-V corpus vocabulary, then measure each document's
# out-of-vocabulary token rate.
# Scale: the vocabulary is a TakeOrderedAndProject over the term-count
# aggregate (V rows), broadcast back into a single-pass per-doc aggregate —
# the corpus is scanned twice, shuffled only for the two hash aggs; the
# vocab side never grows with corpus size (V is fixed).
# ---------------------------------------------------------------------------

_VOCAB_V = 16


@register(
    'text_vocab_coverage',
    oracle=r"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM tok GROUP BY tok
        ORDER BY COUNT(*) DESC, tok LIMIT 16
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               * 100.0 / COUNT(*) AS oov_pct
    FROM tok t LEFT JOIN vocab v ON t.tok = v.tok
    GROUP BY t.doc_id
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Per-document OOV rate against the corpus top-V vocabulary. The vocab
    is deterministic (count desc, token asc tiebreak) and broadcast."""
    docs = table(spark, sf_dir, 'documents')
    tok = docs.select(
        'doc_id', F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok')
    )
    vocab = (
        tok.groupBy('tok')
        .agg(F.count(F.lit(1)).alias('c'))
        .orderBy(F.col('c').desc(), 'tok')
        .limit(_VOCAB_V)
        .select('tok', F.lit(True).alias('_in_vocab'))
    )
    return (
        tok.join(F.broadcast(vocab), 'tok', 'left')
        .groupBy('doc_id')
        .agg(
            F.count(F.lit(1)).alias('n_tokens'),
            F.sum(F.when(F.col('_in_vocab').isNull(), 1).otherwise(0))
            .cast('bigint')
            .alias('n_oov'),
        )
        .select(
            'doc_id',
            'n_tokens',
            'n_oov',
            (F.col('n_oov') * 100.0 / F.col('n_tokens')).alias('oov_pct'),
        )
    )


# ---------------------------------------------------------------------------
# Seeded global shuffle + sharding — the "shuffle the corpus, cut it into
# training shards" step every epoch pipeline runs. Deterministic: the
# permutation key is md5(seed || doc_id), so reruns (and the oracle)
# reproduce the identical order.
# Scale: NO global sort. The shard assignment is a stateless hash-bucket
# expression (narrow, no shuffle); the within-shard position is a
# row_number PARTITIONED by shard — 64 parallel sorts of n/64 rows each
# instead of one single-reducer sort of n. Writing then partitions by
# shard (one file per shard), which is exactly the training-reader layout.
# ---------------------------------------------------------------------------

_SHUFFLE_SEED = 'seed42|'
_N_SHARDS = 64


@register(
    'pipeline_seeded_shuffle',
    oracle=r"""
    WITH keyed AS (
        SELECT doc_id,
               md5('seed42|' || CAST(doc_id AS VARCHAR)) AS k
        FROM documents
    )
    SELECT doc_id,
           CAST(('0x' || substring(k, 1, 8)) AS BIGINT) % 64 AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY CAST(('0x' || substring(k, 1, 8)) AS BIGINT) % 64
               ORDER BY k, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
)
def pipeline_seeded_shuffle(spark, sf_dir):
    """Deterministic corpus shuffle into 64 training shards with in-shard
    positions — partitioned ranks only, no global sort (module note)."""
    docs = table(spark, sf_dir, 'documents')
    k = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col('doc_id').cast('string')))
    keyed = docs.select(
        'doc_id',
        k.alias('k'),
        F.pmod(
            F.conv(F.substring(k, 1, 8), 16, 10).cast('long'), F.lit(_N_SHARDS)
        ).alias('shard'),
    )
    w = Window.partitionBy('shard').orderBy('k', 'doc_id')
    return keyed.select(
        'doc_id', 'shard', F.row_number().over(w).cast('bigint').alias('pos')
    )


# ---------------------------------------------------------------------------
# Weighted upsampling (epoch mixing) — replicate each document according to
# a per-source mixing weight, the standard way a training pipeline
# over-represents high-quality slices without a separate materialized copy
# per epoch. Copies are explicit rows with a copy index so downstream
# shuffling treats them independently.
# Scale: explode(sequence(1, n_copies)) is a NARROW op — zero shuffle, and
# the amplification happens after the scan so the parquet read stays 1x.
# The per-source weight table is a broadcast dim. The check aggregate
# (copies per source) collapses map-side.
# ---------------------------------------------------------------------------


@register(
    'pipeline_weighted_upsampling',
    oracle=r"""
    WITH w AS (
        SELECT source,
               1 + CAST(('0x' || substring(md5(source), 1, 4)) AS BIGINT) % 3
                   AS n_copies
        FROM (SELECT DISTINCT source FROM documents)
    ),
    expanded AS (
        SELECT d.doc_id, d.source, u.copy
        FROM documents d
        JOIN w USING (source),
        LATERAL unnest(generate_series(1, w.n_copies)) AS u(copy)
    )
    SELECT doc_id, source, copy FROM expanded
    """,
)
def pipeline_weighted_upsampling(spark, sf_dir):
    """Per-source deterministic mixing weights (1-3 copies) applied as an
    explode of sequence(1, n) — zero-shuffle row amplification."""
    docs = table(spark, sf_dir, 'documents')
    w = docs.select('source').distinct().select(
        'source',
        (
            1
            + F.pmod(
                F.conv(F.substring(F.md5('source'), 1, 4), 16, 10).cast('long'),
                F.lit(3),
            )
        ).alias('n_copies'),
    )
    return (
        docs.join(F.broadcast(w), 'source')
        .select(
            'doc_id',
            'source',
            F.explode(F.sequence(F.lit(1).cast('long'), F.col('n_copies'))).alias(
                'copy'
            ),
        )
        .select('doc_id', 'source', 'copy')
    )


# ---------------------------------------------------------------------------
# Token-id encoding — the tokenize-to-ids step that feeds the trainer:
# encode each document's token stream against the corpus top-V vocabulary
# (id = frequency rank), OOV -> -1, ORDER PRESERVED.
# Scale: the encode pass is a zero-shuffle projection — the vocabulary
# aggregates once (TakeOrderedAndProject to V rows; the id-assigning
# row_number runs over those V rows only, never the corpus), folds into a
# ONE-ROW map via map_from_entries, broadcasts, and each doc encodes via
# transform(tokens, t -> element_at(map, t)) entirely JVM-side. No explode
# of the corpus, no per-token join — the shape that holds when the corpus
# is 100 TB and the vocab is 100k entries.
# ---------------------------------------------------------------------------


@register(
    'pipeline_tokenize_to_ids',
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(text), '\s+')) AS tok,
               generate_subscripts(string_split_regex(trim(text), '\s+'), 1)
                   AS ord
        FROM documents
    ),
    vocab AS (
        SELECT tok,
               CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) - 1
                    AS BIGINT) AS id
        FROM tok GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 16
    )
    SELECT t.doc_id,
           string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ','
                      ORDER BY t.ord) AS ids_csv,
           COUNT(*) AS n_tokens
    FROM tok t LEFT JOIN vocab v USING (tok)
    GROUP BY t.doc_id
    """,
)
def pipeline_tokenize_to_ids(spark, sf_dir):
    """Order-preserving token-id encoding against a broadcast one-row
    vocabulary map — zero-shuffle encode pass (module note).

    The encoded stream is emitted as a comma-joined string (``ids_csv``)
    rather than ``array<bigint>``: external hash-compare harnesses
    canonicalize result cells through pandas, which cannot sort/factorize
    list-valued columns. The order-preserving semantics are identical —
    the CSV is the array, positionally."""
    docs = table(spark, sf_dir, 'documents')
    toks = F.split(F.trim(F.col('text')), r'\s+')
    tok = docs.select(F.explode(toks).alias('tok'))
    vocab = (
        tok.groupBy('tok')
        .agg(F.count(F.lit(1)).alias('c'))
        .orderBy(F.col('c').desc(), 'tok')
        .limit(_VOCAB_V)
    )
    w = Window.orderBy(F.col('c').desc(), 'tok')  # over V rows only
    vmap = vocab.select(
        'tok', (F.row_number().over(w) - 1).cast('bigint').alias('id')
    ).agg(
        F.map_from_entries(F.collect_list(F.struct('tok', 'id'))).alias('m')
    )
    return (
        docs.crossJoin(F.broadcast(vmap))
        .select(
            'doc_id',
            F.expr(
                r"transform(split(trim(text), '\\s+'), "
                't -> coalesce(element_at(m, t), CAST(-1 AS BIGINT)))'
            ).alias('ids'),
        )
        .select(
            'doc_id',
            F.array_join(F.col('ids').cast('array<string>'), ',').alias(
                'ids_csv'
            ),
            F.size('ids').cast('bigint').alias('n_tokens'),
        )
    )


# ---------------------------------------------------------------------------
# Classifier evaluation — the confusion matrix of the heuristic language
# identifier against the gold ``lang`` label, the standard model-eval
# rollup run in-engine after any scoring pass.
# Scale: projection + ONE map-side-combinable agg to |langs|^2 rows; the
# per-gold-class recall is a single IEEE divide of two integer counts.
# ---------------------------------------------------------------------------


@register(
    'text_langid_confusion',
    oracle="""
    WITH pred AS (
        SELECT lang,
               CASE
                 WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
                 WHEN regexp_matches(text, '\\b(und|der|die|das|nicht|ist)\\b') THEN 'de'
                 WHEN regexp_matches(text, '\\b(le|la|les|et|est|une?)\\b') THEN 'fr'
                 WHEN regexp_matches(text, '\\b(el|los|las|y|es|una?)\\b') THEN 'es'
                 ELSE 'en'
               END AS predicted_lang
        FROM documents
    )
    SELECT lang, predicted_lang, COUNT(*) AS n,
           CAST(SUM(CASE WHEN lang = predicted_lang THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred GROUP BY lang, predicted_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """Confusion-matrix rollup of the language-ID heuristic vs gold."""
    docs = table(spark, sf_dir, 'documents')
    pred = None
    for lang, pattern in reversed(_LANG_RULES):
        hit = F.regexp_like('text', F.lit(pattern))
        pred = F.when(hit, lang).otherwise(F.lit('en') if pred is None else pred)
    return (
        docs.select('lang', pred.alias('predicted_lang'))
        .groupBy('lang', 'predicted_lang')
        .agg(
            F.count(F.lit(1)).alias('n'),
            F.sum(
                F.when(F.col('lang') == F.col('predicted_lang'), 1).otherwise(0)
            )
            .cast('bigint')
            .alias('n_correct'),
        )
    )


# ---------------------------------------------------------------------------
# Lexical diversity via Gini impurity — the repetition/diversity scoring
# used in quality filtering, stated as Gini (1 - sum(p_i^2)) rather than
# Shannon entropy DELIBERATELY: Gini is a rational function of integer
# counts ((n^2 - sum c_i^2) / n^2, one IEEE divide), so both engines are
# bit-identical, while entropy's per-term log2 would hang parity on libm
# rounding. Monotone enough for gating (both maximize at uniform usage).
# Scale: two map-side-combinable hash aggs — (doc, token) counts, then
# per-doc moment sums; no window, no join.
# ---------------------------------------------------------------------------


@register(
    'text_lexical_gini',
    oracle=r"""
    WITH tc AS (
        SELECT doc_id, tok, COUNT(*) AS c
        FROM (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\s+')) AS tok
            FROM documents
        ) GROUP BY doc_id, tok
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) * SUM(c) - SUM(c * c) AS DOUBLE)
               / (SUM(c) * SUM(c)) AS gini
    FROM tc GROUP BY doc_id
    """,
)
def text_lexical_gini(spark, sf_dir):
    """Per-document Gini-impurity lexical diversity from integer counts.
    See the module note for why Gini, not entropy."""
    docs = table(spark, sf_dir, 'documents')
    tc = (
        docs.select(
            'doc_id',
            F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok'),
        )
        .groupBy('doc_id', 'tok')
        .agg(F.count(F.lit(1)).alias('c'))
    )
    n = F.sum('c')
    return tc.groupBy('doc_id').agg(
        n.cast('bigint').alias('n_tokens'),
        F.count(F.lit(1)).cast('bigint').alias('n_types'),
        ((n * n - F.sum(F.col('c') * F.col('c'))).cast('double') / (n * n)).alias(
            'gini'
        ),
    )


# ---------------------------------------------------------------------------
# BPE trainer step — the merge-candidate count of byte-pair encoding: the
# weighted frequency of each ADJACENT character pair, where the weight is
# the token's corpus frequency. This is how real BPE trainers iterate:
# collapse the corpus to a (token, count) vocabulary ONCE, then do all
# pair counting over the vocabulary table (|V| rows), never the corpus.
# Scale: one corpus-sized hash agg (token counts), then the pair explode
# fans out over |V| rows only — the 100 TB corpus is touched exactly once
# regardless of how many merge iterations follow.
# ---------------------------------------------------------------------------


@register(
    'text_bpe_merge_candidates',
    oracle=r"""
    WITH tok AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    pairs AS (
        -- single-char tokens yield no pairs (stated on both engines:
        -- Spark's sequence(1, 0) would DESCEND, the word_ngrams trap)
        SELECT substring(tok, i, 2) AS pair, c
        FROM tf, LATERAL unnest(generate_series(1, length(tok) - 1)) AS t(i)
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS n
    FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20
    """,
)
def text_bpe_merge_candidates(spark, sf_dir):
    """Top-20 BPE merge candidates (adjacent char pairs weighted by token
    frequency), counted over the collapsed vocabulary (module note)."""
    docs = table(spark, sf_dir, 'documents')
    tf = (
        docs.select(
            F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok')
        )
        .groupBy('tok')
        .agg(F.count(F.lit(1)).alias('c'))
    )
    return (
        tf.filter(F.length('tok') >= 2)
        .select(
            F.explode(
                F.expr(
                    'transform(sequence(1, length(tok) - 1), '
                    'i -> substring(tok, i, 2))'
                )
            ).alias('pair'),
            'c',
        )
        .groupBy('pair')
        .agg(F.sum('c').cast('bigint').alias('n'))
        .orderBy(F.col('n').desc(), 'pair')
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Iterative BPE trainer: three full greedy merge rounds, not just the
# candidate count. Each round (a) counts weighted adjacent-symbol pairs
# over the COLLAPSED vocabulary, (b) picks the argmax pair (ties broken
# lexicographically), (c) applies the merge to every vocabulary word and
# recounts. Words are separator-joined symbol strings ('·a·b·c·'), so
# applying a merge is ONE non-overlapping left-to-right string replace —
# Spark's replace(), DuckDB's replace() and Python's str.replace all scan
# left-to-right and resume AFTER the inserted text, so greedy-merge
# semantics ('aaa' + merge(a,a) -> [aa, a]) are identical by construction.
# Scale: the corpus is scanned ONCE (token counts); every merge round
# touches |V| rows — pair explode, 1-row argmax broadcast, projection.
# Real tokenizer training runs thousands of rounds over exactly this
# shape; 3 unrolled rounds keep the gate plan finite while exercising the
# recount-after-merge dependency that the single-step candidate query
# cannot.
# ---------------------------------------------------------------------------

BPE_SEP = '·'  # absent from the corpus (lowercase ASCII + spaces)


def _bpe_sql_round(i: int, carry: str = '') -> str:
    """One greedy merge round as SQL CTEs. ``carry`` prefixes extra
    columns (e.g. ``'tok, '``) threaded through the vocabulary — the
    apply oracle keys its codec by token; the train oracle carries none
    (``carry=''`` emits byte-identical text to the round-7 form)."""
    prev = f'v{i - 1}'
    return f"""p{i} AS (
        SELECT s[i] AS lhs, s[i + 1] AS rhs, c
        FROM (SELECT string_split(trim(w, '{BPE_SEP}'), '{BPE_SEP}') AS s, c
              FROM {prev}),
             LATERAL unnest(generate_series(1, len(s) - 1)) AS t(i)
        WHERE len(s) >= 2
    ),
    m{i} AS (
        SELECT lhs, rhs, CAST(SUM(c) AS BIGINT) AS n
        FROM p{i} GROUP BY lhs, rhs ORDER BY n DESC, lhs, rhs LIMIT 1
    ),
    v{i} AS (
        SELECT {carry}replace(w, '{BPE_SEP}' || m{i}.lhs || '{BPE_SEP}' || m{i}.rhs
                          || '{BPE_SEP}',
                       '{BPE_SEP}' || m{i}.lhs || m{i}.rhs || '{BPE_SEP}') AS w,
               c
        FROM v{i - 1} CROSS JOIN m{i}
    )"""


def _bpe_train_oracle(rounds: int) -> str:
    parts = [
        rf"""tok AS (
        SELECT unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    v0 AS (
        SELECT '{BPE_SEP}' || regexp_replace(tok, '(.)', '\1{BPE_SEP}', 'g')
                   AS w,
               c
        FROM tf
    )"""
    ]
    parts.extend(_bpe_sql_round(i) for i in range(1, rounds + 1))
    selects = ' UNION ALL '.join(
        f'SELECT {i} AS step, lhs, rhs, n FROM m{i}'
        for i in range(1, rounds + 1)
    )
    return 'WITH ' + ',\n    '.join(parts) + '\n    ' + selects


BPE_ROUNDS = 3


def _bpe_collapsed_vocab(docs, keep_token: bool = False):
    """Token frequencies collapsed to the separator-joined symbol
    vocabulary (columns [tok?, w, c]); the shared front end of the BPE
    trainer and the apply codec. ``keep_token`` threads the token key
    through (the codec joins the corpus back on it)."""
    tf = (
        docs.select(
            F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok')
        )
        .groupBy('tok')
        .agg(F.count(F.lit(1)).alias('c'))
    )
    return tf.select(
        *(['tok'] if keep_token else []),
        F.concat(
            F.lit(BPE_SEP),
            F.regexp_replace('tok', '(.)', '$1' + BPE_SEP),
        ).alias('w'),
        'c',
    )


def _bpe_merge_rounds(v, carry=()):
    """Run BPE_ROUNDS greedy merge rounds over the collapsed vocabulary
    ``v`` (columns [*carry, w, c]); returns (final vocabulary, merge list
    — one 1-row (step, lhs, rhs, n) DataFrame per round). The ONE
    implementation of the merge semantics, shared by the trainer and the
    apply codec so a tie-break fix can never diverge them.

    The vocabulary is re-derived by every round's pair count AND the
    merge projection; each stage persists (|V|-sized, tiny next to the
    corpus scan that produced it)."""
    v = v.persist()
    merges = []
    for step in range(1, BPE_ROUNDS + 1):
        # project the symbol array ONCE, outside the lambda — interpreted
        # HOF lambdas get no common-subexpression elimination, so a split
        # inside the transform would re-split per element (the same reason
        # functions.word_ngrams_of binds its token array once)
        pairs = (
            v.select(
                F.split(
                    F.expr(f"trim(BOTH '{BPE_SEP}' FROM w)"), BPE_SEP, -1
                ).alias('s'),
                'c',
            )
            .filter(F.size('s') >= 2)
            .select(
                F.explode(
                    F.expr(
                        'transform(sequence(0, size(s) - 2), '
                        'i -> struct(s[i] AS lhs, s[i + 1] AS rhs))'
                    )
                ).alias('p'),
                'c',
            )
            .select('p.lhs', 'p.rhs', 'c')
        )
        m = (
            pairs.groupBy('lhs', 'rhs')
            .agg(F.sum('c').cast('bigint').alias('n'))
            .orderBy(F.col('n').desc(), 'lhs', 'rhs')
            .limit(1)
        )
        merges.append(m.select(F.lit(step).alias('step'), 'lhs', 'rhs', 'n'))
        nxt = v.crossJoin(F.broadcast(m.select('lhs', 'rhs'))).select(
            *carry,
            F.replace(
                F.col('w'),
                F.concat(
                    F.lit(BPE_SEP),
                    F.col('lhs'),
                    F.lit(BPE_SEP),
                    F.col('rhs'),
                    F.lit(BPE_SEP),
                ),
                F.concat(
                    F.lit(BPE_SEP), F.col('lhs'), F.col('rhs'), F.lit(BPE_SEP)
                ),
            ).alias('w'),
            'c',
        )
        v = nxt.persist() if step < BPE_ROUNDS else nxt
    return v, merges


@register('text_bpe_train_iterative', oracle=_bpe_train_oracle(BPE_ROUNDS))
def text_bpe_train_iterative(spark, sf_dir):
    """Three greedy BPE merge rounds over the collapsed vocabulary
    (module note above). Returns one row per round: (step, lhs, rhs, n)."""
    docs = table(spark, sf_dir, 'documents')
    _v, merges = _bpe_merge_rounds(_bpe_collapsed_vocab(docs))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


# ---------------------------------------------------------------------------
# BPE APPLY: the trained merge table applied back to the corpus — the
# missing half of the train->apply loop (text_bpe_train_iterative trains;
# this encodes). BPE applies per token TYPE, so the collapsed vocabulary
# IS the codec: after the merge rounds, each vocab row carries the token's
# final symbol decomposition, and encoding the corpus is ONE equi-join of
# the token stream against the BROADCAST (token -> n_symbols) table — no
# per-document Python, no re-running merges over corpus rows. Scale: a
# production tokenizer's vocab is bounded (tens of thousands of types) so
# the broadcast side stays KB-MB at any corpus size; the only corpus-sized
# shuffle keys on doc_id for the final per-doc aggregate, with map-side
# partials collapsing each doc.
# ---------------------------------------------------------------------------


def _bpe_apply_oracle(rounds: int) -> str:
    parts = [
        rf"""tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    v0 AS (
        SELECT tok,
               '{BPE_SEP}' || regexp_replace(tok, '(.)', '\1{BPE_SEP}', 'g')
                   AS w,
               c
        FROM tf
    )"""
    ]
    # the SAME round CTEs as the train oracle, with the token key carried
    parts.extend(_bpe_sql_round(i, carry='tok, ') for i in range(1, rounds + 1))
    parts.append(
        f"""vocab AS (
        SELECT tok,
               len(string_split(trim(w, '{BPE_SEP}'), '{BPE_SEP}')) AS n_sym
        FROM v{rounds}
    )"""
    )
    return (
        'WITH '
        + ',\n    '.join(parts)
        + """
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(n_sym) AS BIGINT) AS n_symbols
    FROM tok t JOIN vocab USING (tok)
    GROUP BY t.doc_id
    """
    )


@register('text_bpe_apply', oracle=_bpe_apply_oracle(BPE_ROUNDS))
def text_bpe_apply(spark, sf_dir):
    """Encode the corpus with the trained BPE merges (module note above):
    train the BPE_ROUNDS greedy merges over the collapsed vocabulary
    exactly as text_bpe_train_iterative does, then apply by broadcasting
    the (token -> symbol count) codec against the token stream. Returns
    one row per document: (doc_id, n_tokens, n_symbols) — n_symbols is the
    document's encoded length under the trained tokenizer, the number a
    packing/budgeting pipeline consumes."""
    docs = table(spark, sf_dir, 'documents')
    toks = docs.select(
        'doc_id',
        F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok'),
    )
    # the SAME merge implementation as text_bpe_train_iterative, with the
    # token key carried through — a merge-semantics fix lands in both
    v, _merges = _bpe_merge_rounds(
        _bpe_collapsed_vocab(docs, keep_token=True), carry=('tok',)
    )
    vocab = v.select(
        'tok',
        F.size(
            F.split(F.expr(f"trim(BOTH '{BPE_SEP}' FROM w)"), BPE_SEP, -1)
        ).alias('n_sym'),
    )
    return (
        toks.join(F.broadcast(vocab), 'tok')
        .groupBy('doc_id')
        .agg(
            F.count(F.lit(1)).alias('n_tokens'),
            F.sum('n_sym').cast('bigint').alias('n_symbols'),
        )
    )


# ---------------------------------------------------------------------------
# Statistical-LM fluency filter (the CCNet/KenLM recipe, in-engine): train a
# bigram model over the corpus, then score every document by how predictable
# its token sequence is under that model. Low-likelihood documents are the
# classic junk signal (boilerplate tables, mangled encodings, word salad).
#
# Cross-engine exactness: the usual perplexity is exp(-mean log p) — but ln
# is the one libm call the two engines are NOT contracted to round
# identically, so the gate statistic is the arithmetic-mean INVERSE bigram
# probability, in integers: per bigram, inv = ((c1 + V) * 1e6) div (c12 + 1)
# — the reciprocal of the add-one-smoothed p(w2|w1), scaled and floored.
# AM >= GM, so this upper-bounds true per-doc perplexity, ranks documents
# the same way for the filtering decision, and is bit-equal everywhere
# (integer ops + one final IEEE divide). V is the vocabulary observed in
# bigram slots (model-derived; singleton-token docs contribute no bigrams).
#
# Scale: the model is two hash aggregates over the exploded bigram stream
# (map-side combinable; |model| = bigram types, capped in production by a
# count floor exactly like the PMI df-floor). Scoring joins the corpus
# bigram stream against the BROADCAST model and re-aggregates per doc_id —
# partial aggs collapse each doc map-side, so the only corpus-sized shuffle
# keys on doc_id. No window, no sort, no Python.
# ---------------------------------------------------------------------------

_LM_SCALE = 1_000_000
_LM_KEEP_BELOW = 30_000_000  # inv-probability proxy; tuned on this corpus


def _sql_bigrams() -> str:
    return "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"


@register(
    'text_bigram_lm_score',
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, unnest({_sql_bigrams()}) AS g FROM t
    ),
    m AS (SELECT g, COUNT(*) AS c12 FROM g GROUP BY g),
    ctx AS (
        SELECT split_part(g, ' ', 1) AS w1, CAST(SUM(c12) AS BIGINT) AS c1
        FROM m GROUP BY 1
    ),
    v AS (
        SELECT COUNT(*) AS vsize FROM (
            SELECT DISTINCT split_part(g, ' ', 1) AS tok FROM m
            UNION
            SELECT DISTINCT split_part(g, ' ', 2) FROM m
        )
    )
    SELECT gg.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(((ctx.c1 + v.vsize) * {_LM_SCALE}) // (m.c12 + 1))
                AS BIGINT) AS inv_mass,
           CAST(SUM(((ctx.c1 + v.vsize) * {_LM_SCALE}) // (m.c12 + 1))
                AS DOUBLE) / COUNT(*) AS ppl_proxy,
           CAST(SUM(((ctx.c1 + v.vsize) * {_LM_SCALE}) // (m.c12 + 1))
                AS DOUBLE) / COUNT(*) < {_LM_KEEP_BELOW} AS keep
    FROM g gg JOIN m ON gg.g = m.g
    JOIN ctx ON split_part(gg.g, ' ', 1) = ctx.w1
    CROSS JOIN v
    GROUP BY gg.doc_id
    """,
)
def text_bigram_lm_score(spark, sf_dir):
    """Bigram-LM fluency score per document (module note above)."""
    # r11 optimization: `grams` feeds BOTH the model-count aggregate and
    # the per-doc scoring join — two full bigram explodes, each fused into
    # the single scan task on the few-file driver layout. spread_small
    # runs both passes core-wide, and the scoring groupBy(doc_id) reuses
    # the spread clustering (no extra exchange). Measured 14.1s -> 2.1s
    # best-of-5 at sf0.1 (the after reading under loadavg 40 — quiet-box
    # reruns land lower); no-op on multi-split layouts.
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    grams = docs.select(
        'doc_id', F.explode(_CF.word_ngrams('text', 2)).alias('g')
    )
    m = grams.groupBy('g').agg(F.count(F.lit(1)).alias('c12'))
    w1 = F.split_part(F.col('g'), F.lit(' '), F.lit(1))
    w2 = F.split_part(F.col('g'), F.lit(' '), F.lit(2))
    ctx = (
        m.groupBy(w1.alias('w1'))
        .agg(F.sum('c12').cast('bigint').alias('c1'))
    )
    vocab = (
        m.select(w1.alias('tok'))
        .union(m.select(w2.alias('tok')))
        .agg(F.countDistinct('tok').alias('vsize'))
    )
    model = (
        m.join(ctx, w1 == ctx['w1'])
        .crossJoin(F.broadcast(vocab))
        .select(
            'g',
            F.expr(f'((c1 + vsize) * {_LM_SCALE}) div (c12 + 1)').alias('inv'),
        )
    )
    return (
        grams.join(F.broadcast(model), 'g')
        .groupBy('doc_id')
        .agg(
            F.count(F.lit(1)).alias('n_bigrams'),
            F.sum('inv').cast('bigint').alias('inv_mass'),
        )
        .select(
            'doc_id',
            'n_bigrams',
            'inv_mass',
            (F.col('inv_mass').cast('double') / F.col('n_bigrams')).alias(
                'ppl_proxy'
            ),
            (
                F.col('inv_mass').cast('double') / F.col('n_bigrams')
                < _LM_KEEP_BELOW
            ).alias('keep'),
        )
    )


# ---------------------------------------------------------------------------
# Dataset card: the one-row corpus summary a training-data release ships
# with — volume, token mass, language mix, duplication rate, quality
# spread. Everything here is a re-aggregation of single-pass per-doc
# stats: one corpus scan computes (tokens, chars, lang, fingerprint),
# then a handful of tiny aggregates combine map-side. The fingerprint
# distinct-count rides the same scan (no second pass over text), and the
# output is ONE row — the operator's cost is the scan, full stop.
# ---------------------------------------------------------------------------


@register(
    'pipeline_dataset_card',
    oracle=r"""
    WITH per_doc AS (
        SELECT doc_id,
               lang,
               length(string_split_regex(trim(text), '\s+')) AS n_tokens,
               length(text) AS n_chars,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))
                   AS fingerprint
        FROM documents
    )
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS n_langs,
           COUNT(DISTINCT fingerprint) AS n_unique_docs,
           CAST(COUNT(*) - COUNT(DISTINCT fingerprint) AS BIGINT)
               AS n_exact_dups,
           MIN(n_tokens) AS min_tokens,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*) AS avg_tokens
    FROM per_doc
    """,
)
def pipeline_dataset_card(spark, sf_dir):
    """One-row dataset card for the documents corpus (see module note)."""
    docs = table(spark, sf_dir, 'documents')
    canon = F.lower(F.regexp_replace(F.trim('text'), r'\s+', ' '))
    per_doc = docs.select(
        'doc_id',
        'lang',
        F.size(F.split(F.trim('text'), r'\s+')).alias('n_tokens'),
        F.length('text').alias('n_chars'),
        F.md5(canon).alias('fingerprint'),
    )
    return per_doc.agg(
        F.count(F.lit(1)).alias('n_docs'),
        F.sum('n_tokens').cast('bigint').alias('total_tokens'),
        F.sum('n_chars').cast('bigint').alias('total_chars'),
        F.countDistinct('lang').alias('n_langs'),
        F.countDistinct('fingerprint').alias('n_unique_docs'),
        (F.count(F.lit(1)) - F.countDistinct('fingerprint'))
        .cast('bigint')
        .alias('n_exact_dups'),
        F.min('n_tokens').cast('bigint').alias('min_tokens'),
        F.max('n_tokens').cast('bigint').alias('max_tokens'),
        (F.sum('n_tokens').cast('double') / F.count(F.lit(1))).alias(
            'avg_tokens'
        ),
    )


# ---------------------------------------------------------------------------
# Domain-mixing weights: given per-source token mass, compute the
# acceptance ratio each source needs so the SAMPLED corpus hits a target
# mixture (uniform across sources here) without upsampling — the
# source with the largest deficit relative to target keeps ratio 1.0 and
# everything else downsamples toward it. This is the planning step of
# data-mixture work (the weights feed the seeded-shuffle/upsampling
# operators); determinism: ratios are single IEEE divides of identical
# operands in both engines, masses are exact BIGINTs.
# Scale: one corpus scan -> K-row aggregate; the window max runs over K
# sources, not rows.
# ---------------------------------------------------------------------------


@register(
    'pipeline_mix_weights',
    oracle=r"""
    WITH src AS (
        SELECT source,
               CAST(SUM(length(string_split_regex(trim(text), '\s+')))
                    AS BIGINT) AS tok
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT source, tok,
               CAST(SUM(tok) OVER () AS BIGINT) AS total,
               COUNT(*) OVER () AS k
        FROM src
    ),
    rel AS (
        SELECT source, tok, total,
               (CAST(total AS DOUBLE) / k) / tok AS raw_w
        FROM tot
    )
    SELECT source,
           tok AS n_tokens,
           CAST(tok AS DOUBLE) / total AS share,
           raw_w / MAX(raw_w) OVER () AS accept_ratio
    FROM rel
    """,
)
def pipeline_mix_weights(spark, sf_dir):
    """Per-source acceptance ratios for a uniform target mixture (see the
    module note)."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, 'documents')
    src = docs.groupBy('source').agg(
        F.sum(F.size(F.split(F.trim('text'), r'\s+')))
        .cast('bigint')
        .alias('tok')
    )
    w = Window.partitionBy()
    rel = src.select(
        'source',
        'tok',
        F.sum('tok').over(w).cast('bigint').alias('total'),
        F.count(F.lit(1)).over(w).alias('k'),
    ).withColumn(
        'raw_w',
        (F.col('total').cast('double') / F.col('k')) / F.col('tok'),
    )
    return rel.select(
        'source',
        F.col('tok').alias('n_tokens'),
        (F.col('tok').cast('double') / F.col('total')).alias('share'),
        (F.col('raw_w') / F.max('raw_w').over(w)).alias('accept_ratio'),
    )


# ---------------------------------------------------------------------------
# Cross-source contamination matrix: pairwise Jaccard overlap between the
# 3-gram shingle VOCABULARIES of every pair of sources. This is the corpus
# audit that catches one source being a scrape/mirror of another before
# mixing weights are chosen (the per-pair analogue of text_decontamination's
# corpus-vs-benchmark check).
#
# Scale shape: ONE corpus scan explodes distinct (source, shingle) pairs;
# per-source vocabulary sizes are a K-row aggregate; the pair counts come
# from a groupBy on shingle emitting the <= K*(K-1)/2 source combinations of
# each shingle's (sorted, collect_set) source list — the shingle set is
# shuffled once and never self-joined, so the plan is linear in corpus size
# with a K^2 term only on the tiny (K sources) side. The per-source totals
# join is broadcast (K rows). The ORACLE uses the quadratic shingle
# self-join instead — an intentionally different shape proving the same
# relation.
#
# Determinism: counts are exact BIGINTs; jaccard is one IEEE divide of
# identical integer operands in both engines. Source order inside a pair is
# fixed by ASCII '<' on the source name in both engines.
# ---------------------------------------------------------------------------


def _source_overlap_oracle() -> str:
    from .dedup import _sql_shingles

    return rf"""
    WITH t AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, unnest({_sql_shingles(3)}) AS shingle
        FROM t
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           ta.n AS n_a, tb.n AS n_b,
           CAST(n_shared AS DOUBLE) / (ta.n + tb.n - n_shared) AS jaccard
    FROM inter
    JOIN tot ta ON inter.source_a = ta.source
    JOIN tot tb ON inter.source_b = tb.source
    """


def _source_shingles(spark, sf_dir):
    """Distinct (source, shingle) pairs over 3-gram shingles, persisted:
    both the per-source totals and the pair counts read it. The doc_id
    spread runs the shingle explode and the partial distinct core-wide on
    the few-file driver layout (no-op on multi-split layouts)."""
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    return (
        docs.select(
            'source', F.explode(_CF.shingles('text', 3)).alias('shingle')
        )
        .distinct()
        .persist()
    )


def _shared_shingle_counts(sh):
    """Exact (source_a, source_b, n_shared) with source_a < source_b: one
    groupBy on shingle emits the source pairs of each shingle's sorted
    source set, so the shingle set is never self-joined."""
    return (
        sh.groupBy('shingle')
        .agg(F.sort_array(F.collect_set('source')).alias('srcs'))
        .where(F.size('srcs') >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (a, i) -> "
                    'transform(slice(srcs, i + 2, size(srcs) - i - 1), '
                    "b -> named_struct('sa', a, 'sb', b))))"
                )
            ).alias('p')
        )
        .groupBy(
            F.col('p.sa').alias('source_a'), F.col('p.sb').alias('source_b')
        )
        .agg(F.count(F.lit(1)).alias('n_shared'))
    )


@register('quality_source_overlap', oracle=_source_overlap_oracle())
def quality_source_overlap(spark, sf_dir):
    """Pairwise shingle-vocabulary Jaccard between sources (module note)."""
    sh = _source_shingles(spark, sf_dir)
    tot = sh.groupBy('source').agg(F.count(F.lit(1)).alias('n'))
    pairs = _shared_shingle_counts(sh)
    tot_a = tot.select(
        F.col('source').alias('source_a'), F.col('n').alias('n_a')
    )
    tot_b = tot.select(
        F.col('source').alias('source_b'), F.col('n').alias('n_b')
    )
    return (
        pairs.join(F.broadcast(tot_a), 'source_a')
        .join(F.broadcast(tot_b), 'source_b')
        .select(
            'source_a',
            'source_b',
            'n_shared',
            'n_a',
            'n_b',
            (
                F.col('n_shared').cast('double')
                / (F.col('n_a') + F.col('n_b') - F.col('n_shared'))
            ).alias('jaccard'),
        )
    )


# ---------------------------------------------------------------------------
# Keyword-taxonomy tagging: annotate every document with the topics whose
# dictionary keywords it contains, then report per (source, topic) reach.
# This is the broadcast-dictionary pattern every labeling/filtering pipeline
# uses at scale: the taxonomy is a tiny dimension (here 18 rows) broadcast
# to the executors; the corpus explodes to (doc, token) once and hits the
# dictionary via a broadcast HASH equi-join — the fact side never shuffles
# for the join, and the only shuffle is the final (source, topic) rollup.
# Determinism: integer counts only.
# ---------------------------------------------------------------------------

_TAXONOMY = (
    ('execution', ('scan', 'sort', 'agg', 'join', 'merge', 'filter')),
    ('storage', ('column', 'table', 'row', 'part', 'line')),
    ('streaming', ('stream', 'batch', 'window')),
    ('indexing', ('hash', 'key', 'vector')),
)


def _taxonomy_rows():
    return [(t, k) for t, kws in _TAXONOMY for k in kws]


def _keyword_tagging_oracle() -> str:
    values = ', '.join(f"('{t}', '{k}')" for t, k in _taxonomy_rows())
    return rf"""
    WITH dict(topic, kw) AS (VALUES {values}),
    tok AS (
        SELECT doc_id, source,
               lower(unnest(string_split_regex(trim(text), '\s+'))) AS w
        FROM documents
    )
    SELECT source, topic,
           COUNT(*) AS n_hits,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM tok JOIN dict ON tok.w = dict.kw
    GROUP BY source, topic
    """


@register('text_keyword_tagging', oracle=_keyword_tagging_oracle())
def text_keyword_tagging(spark, sf_dir):
    """Per-(source, topic) keyword-taxonomy reach (see module note)."""
    docs = table(spark, sf_dir, 'documents')
    dict_df = spark.createDataFrame(
        _taxonomy_rows(), 'topic string, w string'
    )
    tok = docs.select(
        'doc_id',
        'source',
        F.explode(F.split(F.lower(F.trim('text')), r'\s+')).alias('w'),
    )
    return (
        tok.join(F.broadcast(dict_df), 'w')
        .groupBy('source', 'topic')
        .agg(
            F.count(F.lit(1)).alias('n_hits'),
            F.countDistinct('doc_id').alias('n_docs'),
        )
    )


# ---------------------------------------------------------------------------
# Extractive summarization: keep each document's top-2 sentences by token
# rarity — the content-selection step of a training-data distillation
# pipeline. Sentence score = sum over the sentence's DISTINCT tokens of
# (N - df(token)), where df is the whole-corpus document frequency of the
# whitespace token: an integer-exact tf-idf surrogate with no logarithm
# (cross-engine ln is banned by the determinism rules). Ties break on the
# earlier sentence.
#
# Scale shape: df is ONE (token, doc) distinct + count aggregate; the
# K-row... rather, the |vocab|-row df table joins the exploded sentence
# tokens on the token key (shuffle equi-join — the vocab of a 100 TB corpus
# out-sizes a broadcast); per-sentence scores partial-aggregate on
# (doc_id, sent_idx); top-2 is a doc-partitioned window over ~sentences/doc
# rows. Tokens that whitespace-split differently at sentence boundaries
# ('bar.' vs 'bar') miss the df table and score df = 0 — identically in
# both engines (COALESCE 0).
# ---------------------------------------------------------------------------


@register(
    'text_extractive_summary',
    oracle=r"""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    df AS (
        SELECT tok, COUNT(*) AS df FROM (
            SELECT DISTINCT doc_id,
                   unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
            FROM documents
        ) GROUP BY tok
    ),
    sent AS (
        SELECT doc_id,
               unnest(range(1, len(parts) + 1)) AS sent_idx,
               unnest(parts) AS sentence
        FROM (SELECT doc_id, string_split(text, '. ') AS parts
              FROM documents)
    ),
    stok AS (
        SELECT DISTINCT doc_id, sent_idx,
               unnest(string_split_regex(lower(trim(sentence)), '\s+'))
                   AS tok
        FROM sent
    ),
    scored AS (
        SELECT s.doc_id, s.sent_idx,
               CAST(SUM(n.n_docs - COALESCE(df.df, 0)) AS BIGINT) AS score
        FROM stok s CROSS JOIN n LEFT JOIN df ON s.tok = df.tok
        GROUP BY s.doc_id, s.sent_idx
    ),
    ranked AS (
        SELECT sc.doc_id, sc.sent_idx, sc.score, se.sentence,
               row_number() OVER (
                   PARTITION BY sc.doc_id
                   ORDER BY sc.score DESC, sc.sent_idx
               ) AS rk
        FROM scored sc
        JOIN sent se ON sc.doc_id = se.doc_id AND sc.sent_idx = se.sent_idx
    )
    SELECT doc_id, rk, sent_idx, score, sentence
    FROM ranked WHERE rk <= 2
    """,
)
def text_extractive_summary(spark, sf_dir):
    """Top-2 sentences per document by integer rarity score (module note)."""
    docs = table(spark, sf_dir, 'documents')
    n = docs.agg(F.count(F.lit(1)).alias('n_docs'))
    df_tbl = (
        docs.select(
            'doc_id',
            F.explode(
                F.split(F.lower(F.trim('text')), r'\s+')
            ).alias('tok'),
        )
        .distinct()
        .groupBy('tok')
        .agg(F.count(F.lit(1)).alias('df'))
    )
    sent = docs.select(
        'doc_id',
        F.posexplode(F.split('text', r'\. ')).alias('idx0', 'sentence'),
    ).select(
        'doc_id',
        (F.col('idx0') + 1).cast('bigint').alias('sent_idx'),
        'sentence',
    ).persist()
    stok = sent.select(
        'doc_id',
        'sent_idx',
        F.explode(
            F.split(F.lower(F.trim('sentence')), r'\s+')
        ).alias('tok'),
    ).distinct()
    scored = (
        stok.crossJoin(F.broadcast(n))
        .join(df_tbl, 'tok', 'left')
        .groupBy('doc_id', 'sent_idx')
        .agg(
            F.sum(F.col('n_docs') - F.coalesce('df', F.lit(0)))
            .cast('bigint')
            .alias('score')
        )
    )
    w = Window.partitionBy('doc_id').orderBy(
        F.col('score').desc(), 'sent_idx'
    )
    return (
        scored.join(sent, ['doc_id', 'sent_idx'])
        .withColumn('rk', F.row_number().over(w).cast('bigint'))
        .where(F.col('rk') <= 2)
        .select('doc_id', 'rk', 'sent_idx', 'score', 'sentence')
    )


# ---------------------------------------------------------------------------
# Sketch-estimated cross-source overlap, audited against the exact matrix:
# the 100 TB path for quality_source_overlap. Per-source Datasketches HLL
# sketches (hll_sketch_agg, lgK 14) are ONE scan + a K-row table; every
# pairwise overlap estimate is then pure sketch algebra —
#     est_inter = n_a + n_b - estimate(union(sk_a, sk_b))
# (n_a, n_b are exact per-source counts, so the only estimation error is
# the single union estimate) — no per-pair data pass at all. Following the
# approx_percentile_bounds pattern, the gate contract is the EXACT overlap
# plus a flag asserting the estimate lands within 2% of the union size
# (~5 sigma at lgK 14's ~0.41% rsd) + a floor of 8 for tiny overlaps; the
# oracle states the exact values and TRUE. The exact pipeline here is the
# verification harness — production ships the sketch path alone.
# ---------------------------------------------------------------------------


def _overlap_hll_oracle() -> str:
    from .dedup import _sql_shingles

    return rf"""
    WITH t AS (
        SELECT source, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT source, unnest({_sql_shingles(3)}) AS shingle
        FROM t
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared, TRUE AS est_ok
    FROM inter
    """


@register('quality_source_overlap_hll', oracle=_overlap_hll_oracle())
def quality_source_overlap_hll(spark, sf_dir):
    """HLL-sketch overlap estimates audited against the exact matrix (see
    module note)."""
    sh = _source_shingles(spark, sf_dir)
    sk = sh.groupBy('source').agg(
        F.expr('hll_sketch_agg(shingle, 14)').alias('sk'),
        F.count(F.lit(1)).alias('n'),
    )
    pairs_est = (
        sk.alias('a')
        .crossJoin(F.broadcast(sk.alias('b')))
        .where(F.col('a.source') < F.col('b.source'))
        .select(
            F.col('a.source').alias('source_a'),
            F.col('b.source').alias('source_b'),
            F.col('a.n').alias('n_a'),
            F.col('b.n').alias('n_b'),
            F.expr(
                'hll_sketch_estimate(hll_union(a.sk, b.sk))'
            ).alias('est_union'),
        )
    )
    exact = _shared_shingle_counts(sh)
    est_inter = F.col('n_a') + F.col('n_b') - F.col('est_union')
    exact_union = F.col('n_a') + F.col('n_b') - F.col('n_shared')
    tol = F.greatest(F.lit(8), (exact_union * 0.02).cast('bigint'))
    return (
        exact.join(F.broadcast(pairs_est), ['source_a', 'source_b'])
        .select(
            'source_a',
            'source_b',
            'n_shared',
            (
                F.abs(est_inter - F.col('n_shared')) <= tol
            ).alias('est_ok'),
        )
    )


# -- end-to-end corpus build (composition) ------------------------------------


@register(
    'pipeline_corpus_build',
    oracle=r"""
    WITH canon AS (
        SELECT doc_id, text,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint
        FROM documents
    ), kept AS (
        SELECT doc_id, text, fingerprint FROM (
            SELECT doc_id, text, fingerprint,
                   ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rk
            FROM canon
        ) WHERE rk = 1
    ), scored AS (
        SELECT doc_id, fingerprint,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
               (CASE WHEN CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) >= 20
                      AND CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) <= 1000
                     THEN 1.0 ELSE 0.0 END
                * (1.0 - CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
                       / CAST(length(text) AS DOUBLE))
                * least(1.0, 4.0 * CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                       x -> x IN """ + _STOP_SQL + r""")) AS DOUBLE)
                                 / CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)))
               AS quality
        FROM kept
    ), gated AS (
        SELECT doc_id, n_tokens,
               CASE WHEN substring(md5(fingerprint), 1, 1)
                         IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                    THEN 'train' ELSE 'holdout' END AS split,
               doc_id % 8 AS shard
        FROM scored WHERE quality > 0.5
    ), packed AS (
        SELECT split, shard, n_tokens,
               CASE WHEN split = 'train' THEN
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY split, shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) // 2048 AS BIGINT)
               ELSE -1 END AS bin_id
        FROM gated
    )
    SELECT split, shard, bin_id, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM packed GROUP BY split, shard, bin_id
    """,
)
def pipeline_corpus_build(spark, sf_dir):
    """End-to-end corpus build in ONE composed plan: exact dedup -> quality
    gate -> content-hash train/holdout split -> shard-local sequence
    packing -> per-bin summary. Exercises operator COMPOSITION at the plan
    layer — each stage is an existing registry operator's logic
    (``dedup_exact``, ``text_quality_score``, ``sample_hash_based``'s split
    idiom, ``text_packing_two_level``'s shard-local cumsum) fused into a
    single Catalyst plan with no materialization between stages.

    Scale: one shuffle per stage boundary that needs one — fingerprint
    window (dedup), nothing for the row-local score/split, the
    (split, shard)-partitioned packing window (shard-local, no global
    sort), and the final (split, shard, bin) aggregate. The split hashes
    the CONTENT fingerprint, so replicated raw rows can never straddle the
    boundary: dedup keeps one copy and identical text always hashes to the
    same side regardless of doc_id.
    """
    docs = table(spark, sf_dir, 'documents')
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' ')))
    canon = docs.select('doc_id', 'text', fp.alias('fingerprint'))
    w_fp = Window.partitionBy('fingerprint').orderBy('doc_id')
    kept = (
        canon.withColumn('rk', F.row_number().over(w_fp))
        .filter(F.col('rk') == 1)
        .drop('rk')
    )
    toks = F.split(F.trim(F.col('text')), r'\s+')
    ntd = F.size(toks).cast('double')
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))).cast('double')
    n_punct = F.length(F.regexp_replace('text', r'[^.,;:!?]', '')).cast('double')
    n_chars = F.length('text').cast('double')
    length_gate = F.when((ntd >= 20) & (ntd <= 1000), 1.0).otherwise(0.0)
    quality = (
        length_gate
        * (F.lit(1.0) - n_punct / n_chars)
        * F.least(F.lit(1.0), F.lit(4.0) * n_stop / ntd)
    )
    scored = kept.select(
        'doc_id',
        'fingerprint',
        F.size(toks).cast('long').alias('n_tokens'),
        quality.alias('quality'),
    )
    gated = scored.filter(F.col('quality') > 0.5).select(
        'doc_id',
        'n_tokens',
        F.when(_CF.hash_sample('fingerprint', 12), F.lit('train'))
        .otherwise(F.lit('holdout'))
        .alias('split'),
        (F.col('doc_id') % 8).alias('shard'),
    )
    w_pack = (
        Window.partitionBy('split', 'shard')
        .orderBy('doc_id')
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = gated.select(
        'split',
        'shard',
        'n_tokens',
        F.when(
            F.col('split') == 'train',
            F.floor(
                F.coalesce(F.sum('n_tokens').over(w_pack), F.lit(0))
                / F.lit(2048)
            ).cast('long'),
        )
        .otherwise(F.lit(-1).cast('long'))
        .alias('bin_id'),
    )
    return packed.groupBy('split', 'shard', 'bin_id').agg(
        F.count(F.lit(1)).alias('n_docs'),
        F.sum('n_tokens').alias('total_tokens'),
    )


# ---------------------------------------------------------------------------
# HTML / boilerplate extraction — the step every web-scale corpus runs
# BEFORE the quality gates above (CCNet / trafilatura class): strip markup,
# split the page into blocks, and keep only content blocks, where
# "boilerplate" is detected by LINK DENSITY (chars inside anchors vs text
# chars — navs and link farms approach 1.0) and a minimum text length.
# The corpus is deterministic synthetic HTML derived from each document's
# own words (the multimodal_scene_cuts doc-derived-geometry trick), so a
# DuckDB oracle can re-run the IDENTICAL generation + extraction and the
# gate compares exact integers and the exact extracted main text:
# - nav: five one-word links (link density 1.0 -> dropped);
# - 2-4 paragraphs of 12 words (npara = 2 + doc_id % 3): most carry one
#   inline link (1/13 link mass -> kept); every (doc_id + i) % 4 == 0
#   paragraph is LINK-STUFFED — every word wrapped in an anchor ->
#   dropped by density, not by a tag heuristic;
# - footer: two words (dropped by the 10-word length floor).
# The density decision is the integer compare 2 * link_chars <= text_chars
# (<=> density <= 0.5) — no float anywhere, bit-equal across engines.
#
# Scale: one column-pruned documents scan, narrow per-doc generation
# (unrolled — no shuffle), block explode is x~6 rows, every regex/string
# op is a JVM codegen built-in, and the single exchange is the doc_id-
# keyed final aggregate. At 100 TB this is a map-mostly pipeline.
# ---------------------------------------------------------------------------

HTML_MIN_WORDS = 60  # generation needs word 11 + 12*4 - 1 = 58
_HTML_BLOCK_RE = '<(p|nav|footer)>(.*?)</(p|nav|footer)>'
_HTML_ANCHOR_RE = '<a href="#">(.*?)</a>'


def _html_anchor(col):
    return F.concat(F.lit('<a href="#">'), col, F.lit('</a>'))


def _html_corpus(docs):
    """Deterministic synthetic HTML per document (>= 60 words), built from
    the doc's own words — see the section note for the block layout."""
    w = F.split('text', ' ')
    nav = F.concat_ws(
        ' ', *[_html_anchor(F.element_at(w, i)) for i in range(1, 6)]
    )
    paras = []
    for i in range(4):
        start = 11 + 12 * i
        pw = F.slice(w, start, 12)
        stuffed = F.array_join(
            F.transform(pw, lambda x: _html_anchor(x)), ' '
        )
        plain = F.concat(
            F.array_join(pw, ' '),
            F.lit(' '),
            _html_anchor(F.element_at(w, start)),
        )
        body = F.when((F.col('doc_id') + i) % 4 == 0, stuffed).otherwise(plain)
        paras.append(
            F.when(
                F.lit(i) < 2 + F.col('doc_id') % 3,
                F.concat(F.lit('<p>'), body, F.lit('</p>')),
            ).otherwise(F.lit(''))
        )
    html = F.concat(
        F.lit('<html><body><nav>'),
        nav,
        F.lit('</nav>'),
        *paras,
        F.lit('<footer>Copyright '),
        F.element_at(w, 2),
        F.lit('</footer></body></html>'),
    )
    return docs.filter(F.size(w) >= HTML_MIN_WORDS).select(
        'doc_id', html.alias('html')
    )


def _sql_html_gen() -> str:
    """DuckDB twin of :func:`_html_corpus` (same unrolled generation)."""
    nav = " || ' ' || ".join(
        f"'<a href=\"#\">' || w[{i}] || '</a>'" for i in range(1, 6)
    )
    paras = []
    for i in range(4):
        start = 11 + 12 * i
        stuffed = (
            "array_to_string(list_transform("
            f"list_slice(w, {start}, {start + 11}), "
            "x -> '<a href=\"#\">' || x || '</a>'), ' ')"
        )
        plain = (
            f"array_to_string(list_slice(w, {start}, {start + 11}), ' ') || "
            f"' <a href=\"#\">' || w[{start}] || '</a>'"
        )
        paras.append(
            f"CASE WHEN {i} < 2 + doc_id % 3 THEN '<p>' || "
            f"CASE WHEN (doc_id + {i}) % 4 = 0 THEN {stuffed} "
            f"ELSE {plain} END || '</p>' ELSE '' END"
        )
    return f"""
    docs AS (
        SELECT doc_id, str_split(text, ' ') AS w FROM documents
        WHERE len(str_split(text, ' ')) >= {HTML_MIN_WORDS}
    ),
    gen AS (
        SELECT doc_id,
               '<html><body><nav>' || {nav} || '</nav>' ||
               {' || '.join(paras)} ||
               '<footer>Copyright ' || w[2] || '</footer></body></html>'
                   AS html
        FROM docs
    )"""


@register(
    'text_html_extract',
    oracle=f"""WITH {_sql_html_gen()},
    blocks AS (
        SELECT doc_id,
               generate_subscripts(
                   regexp_extract_all(html, '{_HTML_BLOCK_RE}', 2), 1
               ) - 1 AS pos,
               unnest(regexp_extract_all(html, '{_HTML_BLOCK_RE}', 2)) AS body
        FROM gen
    ),
    scored AS (
        SELECT doc_id, pos, clean,
               COALESCE(list_sum(list_transform(
                   regexp_extract_all(body, '{_HTML_ANCHOR_RE}', 1),
                   x -> length(x))), 0) AS link_chars,
               length(replace(clean, ' ', '')) AS text_chars,
               len(str_split(clean, ' ')) AS n_words
        FROM (
            SELECT doc_id, pos, body,
                   regexp_replace(trim(regexp_replace(
                       body, '<[^>]*>', ' ', 'g')), ' +', ' ', 'g') AS clean
            FROM blocks
        )
    ),
    kept AS (
        SELECT *, (2 * link_chars <= text_chars AND n_words >= 10) AS keep
        FROM scored
    )
    SELECT doc_id,
           COUNT(*) AS n_blocks,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN keep THEN n_words ELSE 0 END) AS BIGINT)
               AS kept_words,
           CAST(SUM(CASE WHEN keep THEN text_chars ELSE 0 END) AS BIGINT)
               AS kept_chars,
           COALESCE(
               string_agg(CASE WHEN keep THEN clean END, ' ' ORDER BY pos),
               '') AS main_text
    FROM kept GROUP BY doc_id
    """,
)
def text_html_extract(spark, sf_dir):
    """HTML boilerplate extraction (see the section note): block split by
    tag, tag-strip, integer link-density + length filter, and ordered
    reassembly of the surviving main text. Generation is synthetic and
    unrolled; the EXTRACTION side is generic — it assumes nothing about
    block count or order, so the same plan serves arbitrary pages."""
    docs = table(spark, sf_dir, 'documents').select('doc_id', 'text')
    blocks = _html_corpus(docs).select(
        'doc_id',
        F.posexplode(
            F.regexp_extract_all('html', F.lit(_HTML_BLOCK_RE), F.lit(2))
        ).alias('pos', 'body'),
    )
    clean = F.regexp_replace(
        F.trim(F.regexp_replace('body', '<[^>]*>', ' ')), ' +', ' '
    )
    link_chars = F.aggregate(
        F.regexp_extract_all('body', F.lit(_HTML_ANCHOR_RE), F.lit(1)),
        F.lit(0).cast('long'),
        lambda acc, x: acc + F.length(x),
    )
    scored = blocks.select(
        'doc_id',
        'pos',
        clean.alias('clean'),
        link_chars.alias('link_chars'),
        F.length(F.replace(clean, F.lit(' '), F.lit(''))).alias('text_chars'),
        F.size(F.split(clean, ' ')).alias('n_words'),
    )
    kept = scored.withColumn(
        'keep',
        (2 * F.col('link_chars') <= F.col('text_chars'))
        & (F.col('n_words') >= 10),
    )
    return kept.groupBy('doc_id').agg(
        F.count(F.lit(1)).alias('n_blocks'),
        F.sum(F.col('keep').cast('long')).alias('n_kept'),
        F.sum(F.when(F.col('keep'), F.col('n_words')).otherwise(0))
        .cast('bigint')
        .alias('kept_words'),
        F.sum(F.when(F.col('keep'), F.col('text_chars')).otherwise(0))
        .cast('bigint')
        .alias('kept_chars'),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col('keep'), F.struct('pos', 'clean'))
                    )
                ),
                lambda s: s.getField('clean'),
            ),
            ' ',
        ).alias('main_text'),
    )


# ---------------------------------------------------------------------------
# WordPiece apply — the OTHER half of production tokenization next to the
# BPE codec above: greedy leftmost-LONGEST subword matching against a
# bounded vocabulary of initial pieces and '##' continuation pieces
# (BERT-style), with whole-word [UNK] fallback for words over the length
# cap. Relational statement: tokenize the DISTINCT-word table (the
# dictionary trick — distinct words are millions where the corpus is
# trillions of tokens), one bounded unrolled round per consumed piece;
# each round resolves longest-match with LEFT equi-joins against the
# per-length vocab tables (key = substr(word, off+1, L); a shorter
# remainder can never equal a longer piece, so the joins are 1:0/1 and
# COALESCE(L=4,3,2,1) IS the leftmost-longest argmax — no window needed),
# then the (word -> n_tokens) result BROADCASTS back onto the corpus
# token stream exactly like text_bpe_apply. Everything is integer/string
# built-ins — bit-equal across engines.
#
# The vocab is derived deterministically from the corpus so the oracle
# can rebuild it: initial chars of all distinct words + chars at
# positions 2..cap (progress is guaranteed, so [UNK] only fires on the
# length cap) + prefixes (len 2-4) and interior pieces (positions 2-5,
# len 2-3) of the TOP-20 words by frequency.
# ---------------------------------------------------------------------------

WP_MAX_LEN = 6  # words longer than this are whole-word [UNK] (exercised)
WP_TOP = 20  # frequent words contributing multi-char pieces


def _wp_vocab(spark, sf_dir):
    """The per-length vocab tables: {('init', L): df, ('cont', L): df},
    each a DISTINCT one-column (piece) frame, eagerly checkpointed (tiny —
    every round of the matcher references them)."""
    docs = table(spark, sf_dir, 'documents').select('doc_id', 'text')
    tok = docs.select(F.explode(F.split('text', ' ')).alias('word'))
    wf = tok.groupBy('word').agg(F.count(F.lit(1)).alias('c'))
    words = wf.select('word')
    top = wf.orderBy(F.desc('c'), 'word').limit(WP_TOP).select('word')
    pos = F.explode(F.sequence(F.lit(2), F.lit(WP_MAX_LEN))).alias('i')

    out = {}
    out[('init', 1)] = words.select(
        F.substring('word', 1, 1).alias('piece')
    ).distinct()
    for L in (2, 3, 4):
        out[('init', L)] = (
            top.filter(F.length('word') >= L)
            .select(F.substring('word', 1, L).alias('piece'))
            .distinct()
        )
    out[('cont', 1)] = (
        words.select('word', pos)
        .filter(F.length('word') >= F.col('i'))
        .select(F.substring('word', F.col('i'), F.lit(1)).alias('piece'))
        .distinct()
    )
    for L in (2, 3):
        posn = F.explode(F.sequence(F.lit(2), F.lit(5))).alias('i')
        out[('cont', L)] = (
            top.select('word', posn)
            .filter(F.length('word') >= F.col('i') + (L - 1))
            .select(F.substring('word', F.col('i'), F.lit(L)).alias('piece'))
            .distinct()
        )
    return {k: v.localCheckpoint(eager=True) for k, v in out.items()}, words


def wordpiece_word_tokens(spark, sf_dir):
    """(word, n, toks) for every distinct corpus word — the dictionary the
    corpus stream joins. Exposed for the pure-Python twin test."""
    vocab, words = _wp_vocab(spark, sf_dir)

    st = words.filter(F.length('word') <= WP_MAX_LEN).select(
        'word',
        F.length('word').alias('wl'),
        F.lit(0).alias('off'),
        F.lit('').alias('toks'),
        F.lit(0).alias('n'),
    )

    def lookup(st, kind, lengths):
        """LEFT-join the per-length piece tables on the current suffix and
        coalesce longest-first — the leftmost-longest argmax."""
        cols = []
        for L in lengths:
            piece = vocab[(kind, L)].select(
                F.col('piece').alias(f'p{L}')
            )
            st = st.join(
                F.broadcast(piece),
                F.substring(
                    F.col('word'), F.col('off') + 1, F.lit(L)
                )
                == F.col(f'p{L}'),
                'left',
            )
            cols.append(F.col(f'p{L}'))
        return st, F.coalesce(*cols)

    # round 0: the initial piece (off == 0 exactly once)
    st, p = lookup(st, 'init', (4, 3, 2, 1))
    st = st.select(
        'word',
        'wl',
        (F.col('off') + F.length(p)).alias('off'),
        p.alias('toks'),
        F.lit(1).alias('n'),
    )
    # rounds 1..cap-1: continuation pieces; char coverage guarantees
    # progress, so every state terminates by construction
    for _ in range(1, WP_MAX_LEN):
        st, p = lookup(st, 'cont', (3, 2, 1))
        active = F.col('off') < F.col('wl')
        st = st.select(
            'word',
            'wl',
            F.when(active, F.col('off') + F.length(p))
            .otherwise(F.col('off'))
            .alias('off'),
            F.when(active, F.concat(F.col('toks'), F.lit(' ##'), p))
            .otherwise(F.col('toks'))
            .alias('toks'),
            (F.col('n') + active.cast('int')).alias('n'),
        )
    unk = words.filter(F.length('word') > WP_MAX_LEN).select(
        'word', F.lit(1).alias('n'), F.lit('[UNK]').alias('toks')
    )
    return st.select('word', 'n', 'toks').unionByName(unk)


def _sql_wordpiece() -> str:
    rounds = []
    for k in range(1, WP_MAX_LEN):
        rounds.append(f"""r{k} AS (
        SELECT word, wl,
               CASE WHEN off < wl THEN off + length(p) ELSE off END AS off,
               CASE WHEN off < wl THEN toks || ' ##' || p ELSE toks END AS toks,
               n + CASE WHEN off < wl THEN 1 ELSE 0 END AS n
        FROM (
            SELECT s.*, COALESCE(c3.piece, c2.piece, c1.piece) AS p
            FROM r{k - 1} s
            LEFT JOIN cont3 c3 ON substr(s.word, s.off + 1, 3) = c3.piece
            LEFT JOIN cont2 c2 ON substr(s.word, s.off + 1, 2) = c2.piece
            LEFT JOIN cont1 c1 ON substr(s.word, s.off + 1, 1) = c1.piece
        )
    )""")
    return f"""WITH wf AS (
        SELECT word, COUNT(*) AS c FROM (
            SELECT unnest(str_split(text, ' ')) AS word FROM documents
        ) GROUP BY word
    ),
    words AS (SELECT word FROM wf),
    top AS (SELECT word FROM wf ORDER BY c DESC, word LIMIT {WP_TOP}),
    init1 AS (SELECT DISTINCT substr(word, 1, 1) AS piece FROM words),
    init2 AS (SELECT DISTINCT substr(word, 1, 2) AS piece FROM top
              WHERE length(word) >= 2),
    init3 AS (SELECT DISTINCT substr(word, 1, 3) AS piece FROM top
              WHERE length(word) >= 3),
    init4 AS (SELECT DISTINCT substr(word, 1, 4) AS piece FROM top
              WHERE length(word) >= 4),
    cont1 AS (SELECT DISTINCT substr(word, i, 1) AS piece
              FROM words, generate_series(2, {WP_MAX_LEN}) t(i)
              WHERE length(word) >= i),
    cont2 AS (SELECT DISTINCT substr(word, i, 2) AS piece
              FROM top, generate_series(2, 5) t(i)
              WHERE length(word) >= i + 1),
    cont3 AS (SELECT DISTINCT substr(word, i, 3) AS piece
              FROM top, generate_series(2, 5) t(i)
              WHERE length(word) >= i + 2),
    r0 AS (
        SELECT word, wl, length(p) AS off, p AS toks, 1 AS n
        FROM (
            SELECT s.word, length(s.word) AS wl,
                   COALESCE(i4.piece, i3.piece, i2.piece, i1.piece) AS p
            FROM words s
            LEFT JOIN init4 i4 ON substr(s.word, 1, 4) = i4.piece
            LEFT JOIN init3 i3 ON substr(s.word, 1, 3) = i3.piece
            LEFT JOIN init2 i2 ON substr(s.word, 1, 2) = i2.piece
            LEFT JOIN init1 i1 ON substr(s.word, 1, 1) = i1.piece
            WHERE length(s.word) <= {WP_MAX_LEN}
        )
    ),
    {','.join(rounds)},
    word_tokens AS (
        SELECT word, n, toks FROM r{WP_MAX_LEN - 1}
        UNION ALL
        SELECT word, 1 AS n, '[UNK]' AS toks FROM words
        WHERE length(word) > {WP_MAX_LEN}
    )
    SELECT d.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(wt.n) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN wt.toks = '[UNK]' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unk
    FROM (
        SELECT doc_id, unnest(str_split(text, ' ')) AS word FROM documents
    ) d
    JOIN word_tokens wt USING (word)
    GROUP BY d.doc_id
    """


@register('text_wordpiece_apply', oracle=_sql_wordpiece())
def text_wordpiece_apply(spark, sf_dir):
    """WordPiece/greedy-longest-match tokenizer apply (see the section
    note): tokenize the distinct-word dictionary in WP_MAX_LEN unrolled
    rounds of per-length LEFT equi-joins (COALESCE longest-first = the
    leftmost-longest argmax), then broadcast the (word -> n_tokens, unk)
    dictionary onto the corpus token stream for the per-doc rollup — one
    equi-join + one doc_id-keyed shuffle over the corpus, exactly the
    text_bpe_apply scale shape."""
    docs = table(spark, sf_dir, 'documents').select('doc_id', 'text')
    wt = wordpiece_word_tokens(spark, sf_dir)
    stream = docs.select(
        'doc_id', F.explode(F.split('text', ' ')).alias('word')
    )
    return (
        stream.join(F.broadcast(wt), 'word')
        .groupBy('doc_id')
        .agg(
            F.count(F.lit(1)).alias('n_words'),
            F.sum('n').cast('bigint').alias('n_tokens'),
            F.sum((F.col('toks') == '[UNK]').cast('int'))
            .cast('bigint')
            .alias('n_unk'),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM segmentation (SentencePiece-style Viterbi) — the third
# production tokenizer next to BPE (train/apply above) and WordPiece:
# segment each word into the piece sequence MAXIMIZING the product of
# unigram piece probabilities (argmax Π p(piece_i), p = cnt/D over the
# piece inventory). Floats would be engine-divergent, so the objective is
# quantized to exact integers: q(piece) = (SCALE * cnt) DIV D with
# SCALE = 1e6, and segmentations of different lengths are compared via
# the length-normalized DP value v = Π q_i * SCALE^(j - n) (= the common-
# denominator cross-multiplication of Π q_i / SCALE^n, exact because
# v <= SCALE^6 = 1e36 < 1e38 — decimal(38,0) in Spark, HUGEINT in
# DuckDB). Since every q < SCALE, longer segmentations pay per piece —
# the true unigram trade-off between piece frequency and piece count.
# Ties break on the segmentation string.
#
# The Viterbi DP unrolls relationally over the DISTINCT-word dictionary
# (same trick as WordPiece): dp[j] = argmax over piece length L of
# dp[j-L] * q(word[j-L+1 .. j]) * SCALE^(L-1), one CTE / DataFrame per
# position j = 1..cap, candidates from <= 4 broadcast piece lookups,
# argmax via one tiny window per round. Piece inventory and counts come
# from the corpus itself (all single chars + every length-2..4 substring
# above a frequency floor), so the oracle rebuilds them exactly.
# ---------------------------------------------------------------------------

UNIGRAM_MAX_LEN = 6  # words longer than this emit a single [UNK]
UNIGRAM_PROB_SCALE = 1_000_000  # probability quantization denominator
UNIGRAM_FLOOR_DIV = 50  # keep multi-char pieces with cnt * 50 >= total words


def _unigram_vocab(spark, sf_dir, scale: int = UNIGRAM_PROB_SCALE):
    """(piece, q) table: q = integer-quantized unigram probability
    (scale * cnt) DIV D, where cnt is the corpus-occurrence-weighted
    count of the piece over every position of every distinct word and
    D = sum of cnt over the kept inventory. Single chars are always kept
    (segmentability); length-2..4 pieces need cnt * UNIGRAM_FLOOR_DIV >=
    total word occurrences. ``scale``: the Viterbi/hard paths quantize
    at UNIGRAM_PROB_SCALE; the soft (forward-backward) trainer passes
    UNIGRAM_SOFT_SCALE so its lattice sums stay inside decimal(38,0) /
    HUGEINT (the kept inventory is scale-independent — the floor tests
    cnt, not q)."""
    # r11 optimization note (examined, deliberately left alone): spreading
    # the corpus scan before the tokenize was measured SLOWER at sf0.1
    # (text_unigram_segment 3.64s -> 4.92s min, interleaved A/B) — the
    # trainer family's cost is its ~20 dictionary-sized checkpointed DP
    # rounds (sf0.001 takes 2.8s vs sf0.1's 2.6s: fixed overhead, not the
    # corpus pass), so the extra exchange+stage only adds scheduling. On
    # multi-split production layouts the scan parallelizes by itself.
    docs = table(spark, sf_dir, 'documents').select('text')
    wf = (
        docs.select(F.explode(F.split('text', ' ')).alias('word'))
        .groupBy('word')
        .agg(F.count(F.lit(1)).alias('c'))
    )
    pos = F.explode(F.sequence(F.lit(1), F.lit(UNIGRAM_MAX_LEN))).alias('i')
    ln = F.explode(F.sequence(F.lit(1), F.lit(4))).alias('l')
    sub = (
        wf.select('word', 'c', pos)
        .select('word', 'c', 'i', ln)
        .filter(F.length('word') >= F.col('i') + F.col('l') - 1)
        .select(
            F.substring(F.col('word'), F.col('i'), F.col('l')).alias('piece'),
            F.col('l'),
            'c',
        )
        .groupBy('piece', 'l')
        .agg(F.sum('c').alias('cnt'))
    )
    tot = wf.agg(F.sum('c').alias('tot'))
    kept = (
        sub.crossJoin(F.broadcast(tot))
        .filter(
            (F.col('l') == 1)
            | (F.col('cnt') * UNIGRAM_FLOOR_DIV >= F.col('tot'))
        )
        .select('piece', 'cnt')
    )
    d = kept.agg(F.sum('cnt').alias('d'))
    # Exact integral division (ADVICE r9): `floor(cnt * SCALE / d)` promotes
    # the bigints to double, which silently disagrees with the oracle's
    # integer `//` once cnt * SCALE exceeds 2^53 (~1e9 word occurrences —
    # exactly the scale this section targets). decimal(38,0) `div` keeps
    # the quotient exact up to 38 digits, the same overflow bound the
    # k-means centroid divide documents.
    vocab = kept.crossJoin(F.broadcast(d)).select(
        'piece',
        F.expr(
            f'cast(cnt as decimal(38,0)) * {scale} div d'
        ).cast('bigint').alias('q'),
    )
    return vocab.localCheckpoint(eager=True), wf


def unigram_word_segments(spark, sf_dir, materialize: bool = True, seed=None):
    """(word, toks, n_pieces, score_num) for every distinct corpus word —
    the Viterbi-optimal segmentation. Exposed for the pure-Python twin;
    ``materialize=False`` keeps the raw composed plan for the plan-shape
    pin (the _occupancy_drift pattern). ``seed``: an existing
    ``(vocab, wf)`` pair — the trainer step passes its own so the
    corpus-scale vocab derivation runs once, not twice."""
    vocab, wf = seed if seed is not None else _unigram_vocab(spark, sf_dir)
    words = wf.select('word').withColumn('wl', F.length('word'))
    dec = 'decimal(38,0)'

    # dp[j] frames: best length-normalized value v = prod(q) * SCALE^(j-n)
    dp = {
        0: words.filter(F.col('wl') <= UNIGRAM_MAX_LEN).select(
            'word',
            'wl',
            F.lit(1).cast(dec).alias('v'),
            F.lit('').alias('toks'),
            F.lit(0).alias('n'),
        )
    }
    for j in range(1, UNIGRAM_MAX_LEN + 1):
        cands = []
        for L in range(1, min(4, j) + 1):
            piece = F.substring(F.col('word'), j - L + 1, L)
            prev = dp[j - L].filter(F.col('wl') >= j)
            norm = UNIGRAM_PROB_SCALE ** (L - 1)
            cands.append(
                prev.join(
                    F.broadcast(vocab), piece == F.col('piece')
                ).select(
                    'word',
                    'wl',
                    (
                        F.col('v')
                        * F.col('q')
                        * F.lit(norm).cast(dec)
                    ).alias('v'),
                    F.when(F.col('toks') == '', F.col('piece'))
                    .otherwise(F.concat_ws(' ', 'toks', 'piece'))
                    .alias('toks'),
                    (F.col('n') + 1).alias('n'),
                )
            )
        allc = cands[0]
        for c in cands[1:]:
            allc = allc.unionByName(c)
        w = Window.partitionBy('word').orderBy(F.desc('v'), 'toks')
        # each dp frame is consumed by up to 4 later rounds AND the final
        # union — without materialization Catalyst re-expands the whole
        # prefix per consumer (measured: 115 joins / 62 windows for what
        # is 20 joins / 6 argmaxes of dictionary-sized frames). An eager
        # localCheckpoint per round keeps the plan linear in rounds (the
        # drift-gate lesson); the frames are distinct-words-sized.
        dp[j] = (
            allc.withColumn('rk', F.row_number().over(w))
            .filter(F.col('rk') == 1)
            .drop('rk')
        )
        if materialize:
            dp[j] = dp[j].localCheckpoint(eager=True)

    segmented = None
    for j in range(1, UNIGRAM_MAX_LEN + 1):
        part = dp[j].filter(F.col('wl') == j)
        segmented = part if segmented is None else segmented.unionByName(part)
    unk = words.filter(F.col('wl') > UNIGRAM_MAX_LEN).select(
        'word',
        'wl',
        F.lit(0).cast(dec).alias('v'),
        F.lit('[UNK]').alias('toks'),
        F.lit(1).alias('n'),
    )
    return segmented.unionByName(unk).select(
        'word',
        'toks',
        F.col('n').cast('bigint').alias('n_pieces'),
        F.col('v').cast('string').alias('score_num'),
    )


def _sql_unigram_seed(scale: int) -> str:
    """The seed-vocab WITH-prefix (wf/sub/tot/kept/d/vocab) at the given
    quantization scale — the Viterbi chain uses UNIGRAM_PROB_SCALE, the
    soft trainer UNIGRAM_SOFT_SCALE (mirrors ``_unigram_vocab``)."""
    return f"""WITH wf AS (
        SELECT word, COUNT(*) AS c FROM (
            SELECT unnest(str_split(text, ' ')) AS word FROM documents
        ) GROUP BY word
    ),
    sub AS (
        SELECT substr(word, i, l) AS piece, l, SUM(c) AS cnt
        FROM wf,
             generate_series(1, {UNIGRAM_MAX_LEN}) t(i),
             generate_series(1, 4) u(l)
        WHERE length(word) >= i + l - 1
        GROUP BY substr(word, i, l), l
    ),
    tot AS (SELECT SUM(c) AS tot FROM wf),
    kept AS (
        SELECT piece, cnt FROM sub, tot
        WHERE l = 1 OR cnt * {UNIGRAM_FLOOR_DIV} >= tot
    ),
    d AS (SELECT SUM(cnt) AS d FROM kept),
    vocab AS (
        SELECT piece,
               (cnt * {scale}) // d AS q
        FROM kept, d
    ),"""


def _sql_unigram_ctes() -> str:
    """The shared WITH-prefix: seed vocab (wf/sub/tot/kept/d/vocab) + the
    unrolled Viterbi dp frames dp0..dpMAX — used by both the segmentation
    oracle and the trainer-step oracle."""
    dps = []
    for j in range(1, UNIGRAM_MAX_LEN + 1):
        cands = []
        for L in range(1, min(4, j) + 1):
            norm = UNIGRAM_PROB_SCALE ** (L - 1)
            cands.append(f"""
            SELECT p.word, p.wl,
                   p.v * v.q * {norm}::HUGEINT AS v,
                   CASE WHEN p.toks = '' THEN v.piece
                        ELSE p.toks || ' ' || v.piece END AS toks,
                   p.n + 1 AS n
            FROM dp{j - L} p
            JOIN vocab v ON substr(p.word, {j - L + 1}, {L}) = v.piece
            WHERE p.wl >= {j}""")
        # MATERIALIZED for the same reason as the soft trainer's frames
        # below: inlined, each dp frame re-expands every earlier one per
        # reference, and DuckDB spends most of the oracle's time planning
        dps.append(f"""dp{j} AS MATERIALIZED (
        SELECT word, wl, v, toks, n FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY word ORDER BY v DESC, toks
            ) AS rk
            FROM ({' UNION ALL '.join(cands)})
        ) WHERE rk = 1
    )""")
    return f"""{_sql_unigram_seed(UNIGRAM_PROB_SCALE)}
    dp0 AS (
        SELECT word, length(word) AS wl, 1::HUGEINT AS v,
               '' AS toks, 0 AS n
        FROM wf WHERE length(word) <= {UNIGRAM_MAX_LEN}
    ),
    {','.join(dps)}"""


def _sql_unigram_finals() -> str:
    return ' UNION ALL '.join(
        f'SELECT word, toks, n, v FROM dp{j} WHERE wl = {j}'
        for j in range(1, UNIGRAM_MAX_LEN + 1)
    )


def _sql_unigram() -> str:
    return f"""{_sql_unigram_ctes()}
    SELECT word, toks, CAST(n AS BIGINT) AS n_pieces,
           CAST(v AS VARCHAR) AS score_num
    FROM ({_sql_unigram_finals()})
    UNION ALL
    SELECT word, '[UNK]' AS toks, CAST(1 AS BIGINT) AS n_pieces,
           '0' AS score_num
    FROM wf WHERE length(word) > {UNIGRAM_MAX_LEN}
    """


@register('text_unigram_segment', oracle=_sql_unigram())
def text_unigram_segment(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) Viterbi segmentation of the
    distinct-word dictionary (see the section note): relational DP —
    one tiny frame per character position, candidates from broadcast
    piece lookups, argmax by the EXACT length-normalized integer product
    of quantized piece probabilities with a string tiebreak. Completes
    the tokenizer triptych (BPE train/apply, WordPiece greedy, unigram
    Viterbi); in production the resulting (word -> pieces) dictionary
    broadcasts onto the corpus stream exactly as in
    text_wordpiece_apply."""
    return unigram_word_segments(spark, sf_dir)


# ---------------------------------------------------------------------------
# Unigram-LM trainer step (Viterbi-EM prune round): the TRAIN side of the
# unigram tokenizer, closing train->apply for all three tokenizers the way
# text_bpe_train_iterative closed BPE's loop. One bounded relational round
# of SentencePiece's EM-and-prune schedule, in its hard-EM (Viterbi-EM)
# form:
#
#   E-step: expected piece counts over the VITERBI segmentation the DP
#     already computes — explode each distinct word's optimal toks,
#     weighted by the word's corpus frequency (hard EM assigns the full
#     posterior mass to the argmax path; the published SOFT
#     forward-backward E-step ships as `text_unigram_train_soft` below —
#     the same DP frames with sum in place of argmax).
#   PRUNE: single-char pieces are never dropped (segmentability floor —
#     same invariant as the seed vocab); multi-char pieces rank by
#     (expected count ASC, piece ASC) and the bottom UNIGRAM_PRUNE_PCT%
#     (integer floor) are removed — SentencePiece's shrink step. Vocab
#     pieces the Viterbi paths never used count 0 and rank first.
#   M-step: re-quantize q' = (ec * SCALE) div D' over the SURVIVING
#     inventory (D' = sum of surviving expected counts) — exact decimal
#     integral division, the same overflow discipline as the seed vocab
#     (exact to 38 digits; the double-promoting floor/divide was the
#     ADVICE-r9 hazard this avoids).
#
# Scale: every frame is dictionary-sized (the distinct-word explode is the
# corpus-bounded step and shuffles once on piece); the rank window runs on
# the BOUNDED multi-char inventory (cnt * FLOOR_DIV >= tot caps it at
# FLOOR_DIV pieces per length), so the empty-partition window is a
# constant-size frame, not a corpus sort.
# ---------------------------------------------------------------------------

UNIGRAM_PRUNE_PCT = 20  # SentencePiece-style shrink: drop bottom 20%


def _sql_unigram_prune_tail() -> str:
    """The shared prune + re-quantize tail: expects a ``vec`` CTE of
    (piece, ec) over the full vocabulary; emits the final SELECT."""
    return f"""
    multi AS (
        SELECT piece, ec,
               ROW_NUMBER() OVER (ORDER BY ec, piece) AS rk,
               COUNT(*) OVER () AS nm
        FROM vec WHERE length(piece) > 1
    ),
    keptv AS (
        SELECT piece, ec FROM vec WHERE length(piece) = 1
        UNION ALL
        SELECT piece, ec FROM multi
        WHERE rk > (nm * {UNIGRAM_PRUNE_PCT}) // 100
    ),
    d2 AS (SELECT SUM(ec) AS d2 FROM keptv)
    SELECT piece, CAST(ec AS BIGINT) AS ec,
           CAST((ec * {UNIGRAM_PROB_SCALE}) // d2 AS BIGINT) AS q
    FROM keptv, d2
    """


def _sql_unigram_train() -> str:
    return f"""{_sql_unigram_ctes()},
    seg AS (SELECT word, toks FROM ({_sql_unigram_finals()})),
    ec AS (
        -- stays HUGEINT: a BIGINT cast here would make ec * SCALE below a
        -- checked BIGINT multiply that overflows past ec ~ 9.2e12 while
        -- the Spark side's decimal(38,0) succeeds — the same >2^53 parity
        -- band the seed-vocab divide protects
        SELECT piece, SUM(c) AS ec FROM (
            SELECT s.word, unnest(str_split(s.toks, ' ')) AS piece
            FROM seg s
        ) u JOIN wf USING (word) GROUP BY piece
    ),
    vec AS (
        SELECT v.piece, COALESCE(e.ec, 0) AS ec
        FROM vocab v LEFT JOIN ec e ON v.piece = e.piece
    ),{_sql_unigram_prune_tail()}"""


@register('text_unigram_train_step', oracle=_sql_unigram_train())
def text_unigram_train_step(spark, sf_dir):
    """One unigram-LM EM-prune training round (module note above): hard-EM
    expected counts over the Viterbi segmentations, bottom-20% multi-char
    prune, exact integer re-quantization. Output: the post-round
    vocabulary (piece, ec, q)."""
    vocab, wf = _unigram_vocab(spark, sf_dir)
    seg = unigram_word_segments(spark, sf_dir, seed=(vocab, wf))

    # E-step: frequency-weighted piece counts over the Viterbi paths
    # (words longer than the DP cap segment to [UNK] and carry no pieces)
    ec = (
        seg.filter(F.length('word') <= UNIGRAM_MAX_LEN)
        .join(wf, 'word')
        .select(F.explode(F.split('toks', ' ')).alias('piece'), 'c')
        .groupBy('piece')
        .agg(F.sum('c').cast('bigint').alias('ec'))
    )
    # ec is dictionary-sized; without the hint the checkpointed vocab's
    # unknown stats push Catalyst to sort-merge joins (4 of them — the
    # vec subtree is consumed by singles/multi and again by d2/final)
    vec = vocab.join(F.broadcast(ec), 'piece', 'left').select(
        'piece', F.coalesce('ec', F.lit(0)).cast('bigint').alias('ec')
    )

    return _unigram_prune_requant(vec)


def _unigram_prune_requant(vec):
    """The shared prune + M-step tail of both trainer rounds (hard and
    soft E-steps feed the same shrink schedule): rank the BOUNDED
    multi-char inventory ascending by (ec, piece), drop the bottom
    UNIGRAM_PRUNE_PCT% (integer floor; singles are the segmentability
    floor), then exact integral re-quantization over the survivors."""
    singles = vec.filter(F.length('piece') == 1)
    w = Window.orderBy('ec', 'piece')
    multi = (
        vec.filter(F.length('piece') > 1)
        .withColumn('rk', F.row_number().over(w))
        .withColumn('nm', F.count(F.lit(1)).over(Window.partitionBy()))
    )
    kept_multi = multi.filter(
        F.col('rk') > F.expr(f'nm * {UNIGRAM_PRUNE_PCT} div 100')
    ).select('piece', 'ec')
    keptv = singles.unionByName(kept_multi)

    # M-step: exact integral re-quantization over the surviving inventory
    d2 = keptv.agg(F.sum('ec').alias('d2'))
    return keptv.crossJoin(F.broadcast(d2)).select(
        'piece',
        'ec',
        F.expr(f'cast(ec as decimal(38,0)) * {UNIGRAM_PROB_SCALE} div d2')
        .cast('bigint')
        .alias('q'),
    )


# ---------------------------------------------------------------------------
# Unigram-LM trainer step, SOFT E-step (forward-backward): the published
# SentencePiece EM round — the hard (Viterbi-EM) step above assigns the
# full posterior mass to the argmax path; this one computes TRUE expected
# piece counts over ALL segmentations of each word via the lattice
# forward-backward identity
#
#   E[count of piece occurrence (i, i+L]] = alpha(i) * q * beta(i+L) / Z
#
# stated relationally as the SAME unrolled DP frames as the Viterbi chain
# with SUM in place of argmax: ahat(j) = sum_L ahat(j-L) * q * SCALE^(L-1)
# (the common-denominator lattice sum — every path of j chars and n pieces
# contributes prod(q) * SCALE^(j-n), exactly the Viterbi v normalization),
# bhat symmetric from the word end, Z = ahat(wl).
#
# Exactness: all lattice sums are integers. The soft path quantizes its
# seed vocab at UNIGRAM_SOFT_SCALE = 1e4 (not 1e6) so every bound fits
# decimal(38,0)/HUGEINT: <= 29 compositions of 6 chars into <= 4-char
# pieces, each path < SCALE^6 = 1e24, so Z < 2.9e25, a piece's summed
# occurrence numerators N < 6 * 29 * 1e24 ~ 1.8e26, and the posterior
# quantization r = (N * ECS) div Z (ECS = 1e6) stays < 1.8e32. Expected
# counts are then ec(piece) = sum_w c_w * r_w(piece) — exact integers,
# deterministic in any aggregation order. Words whose lattice has zero
# mass (every path hits a q=0 piece) are excluded in BOTH engines (their
# posterior is undefined); words longer than UNIGRAM_MAX_LEN contribute
# nothing, as in the hard step. The prune + re-quantize tail is shared
# verbatim with the hard step (_unigram_prune_requant).
#
# Scale: identical to the hard trainer — every frame is dictionary-sized,
# piece lookups are broadcast joins, the occurrence generate is the
# bounded 18-combo explode of the distinct-word frame, and the prune rank
# runs on the bounded multi-char inventory.
# ---------------------------------------------------------------------------

UNIGRAM_SOFT_SCALE = 10_000  # lattice quantization (bounds note above)
UNIGRAM_SOFT_ECS = 1_000_000  # per-word posterior quantization scale

_SOFT_COMBOS = tuple(
    (i, L)
    for i in range(UNIGRAM_MAX_LEN)
    for L in range(1, 5)
    if i + L <= UNIGRAM_MAX_LEN
)


def _sql_unigram_soft_train() -> str:
    sc = UNIGRAM_SOFT_SCALE
    fws, bws = [], []
    for j in range(1, UNIGRAM_MAX_LEN + 1):
        cands = [
            f"""
            SELECT p.word, p.wl, p.a * v.q * {sc ** (L - 1)}::HUGEINT AS a
            FROM fw{j - L} p
            JOIN vocab v ON substr(p.word, {j - L + 1}, {L}) = v.piece
            WHERE p.wl >= {j}"""
            for L in range(1, min(4, j) + 1)
        ]
        # MATERIALIZED: DuckDB inlines plain CTEs per reference, so the
        # frame chain would re-expand combinatorially (the relational
        # analog of the projection-collapse the Spark side checkpoints
        # away) — measured: un-materialized, the oracle does not finish
        # at sf0.001; materialized it runs in seconds
        fws.append(f"""fw{j} AS MATERIALIZED (
        SELECT word, wl, SUM(a) AS a FROM ({' UNION ALL '.join(cands)})
        GROUP BY word, wl
    )""")
    for s in range(1, UNIGRAM_MAX_LEN + 1):
        cands = [
            f"""
            SELECT p.word, p.wl, p.b * v.q * {sc ** (L - 1)}::HUGEINT AS b
            FROM bw{s - L} p
            JOIN vocab v ON substr(p.word, p.wl - {s} + 1, {L}) = v.piece
            WHERE p.wl >= {s}"""
            for L in range(1, min(4, s) + 1)
        ]
        bws.append(f"""bw{s} AS MATERIALIZED (
        SELECT word, wl, SUM(b) AS b FROM ({' UNION ALL '.join(cands)})
        GROUP BY word, wl
    )""")
    fw_all = ' UNION ALL '.join(
        f'SELECT word, {j} AS j, a FROM fw{j}'
        for j in range(UNIGRAM_MAX_LEN + 1)
    )
    bw_all = ' UNION ALL '.join(
        f'SELECT word, {s} AS s, b FROM bw{s}'
        for s in range(UNIGRAM_MAX_LEN + 1)
    )
    norm_case = (
        'CASE s.l '
        + ' '.join(
            f'WHEN {L} THEN {sc ** (L - 1)}::HUGEINT' for L in range(1, 5)
        )
        + ' END'
    )
    return f"""{_sql_unigram_seed(UNIGRAM_SOFT_SCALE)}
    fw0 AS MATERIALIZED (
        SELECT word, length(word) AS wl, 1::HUGEINT AS a
        FROM wf WHERE length(word) <= {UNIGRAM_MAX_LEN}
    ),
    bw0 AS MATERIALIZED (
        SELECT word, length(word) AS wl, 1::HUGEINT AS b
        FROM wf WHERE length(word) <= {UNIGRAM_MAX_LEN}
    ),
    {','.join(fws)},
    {','.join(bws)},
    fwall AS MATERIALIZED ({fw_all}),
    bwall AS MATERIALIZED ({bw_all}),
    z AS (
        SELECT f.word, f.a AS z FROM fwall f
        JOIN wf ON f.word = wf.word AND f.j = length(wf.word)
        WHERE f.a > 0
    ),
    ws AS (
        SELECT word, length(word) AS wl FROM wf
        WHERE length(word) <= {UNIGRAM_MAX_LEN}
    ),
    spans AS (
        SELECT w.word, w.wl, t.i, u.l, substr(w.word, t.i + 1, u.l) AS piece
        FROM ws w,
             generate_series(0, {UNIGRAM_MAX_LEN - 1}) t(i),
             generate_series(1, 4) u(l)
        WHERE t.i + u.l <= w.wl
    ),
    occ AS (
        SELECT s.word, v.piece,
               f.a * v.q * {norm_case} * b.b AS num
        FROM spans s
        JOIN vocab v ON s.piece = v.piece
        JOIN fwall f ON f.word = s.word AND f.j = s.i
        JOIN bwall b ON b.word = s.word AND b.s = s.wl - s.i - s.l
    ),
    nums AS (SELECT word, piece, SUM(num) AS num FROM occ GROUP BY 1, 2),
    post AS (
        SELECT n.word, n.piece,
               (n.num * {UNIGRAM_SOFT_ECS}) // z.z AS r
        FROM nums n JOIN z USING (word)
    ),
    ec AS (
        SELECT piece, SUM(c * r) AS ec
        FROM post JOIN wf USING (word) GROUP BY piece
    ),
    vec AS (
        SELECT v.piece, COALESCE(e.ec, 0) AS ec
        FROM vocab v LEFT JOIN ec e ON v.piece = e.piece
    ),{_sql_unigram_prune_tail()}"""


@register('text_unigram_train_soft', oracle=_sql_unigram_soft_train())
def text_unigram_train_soft(spark, sf_dir):
    """One unigram-LM EM-prune round with the SOFT (forward-backward)
    E-step — the published SentencePiece algorithm (module note above:
    lattice identity, integer bounds, zero-mass exclusion). Output: the
    post-round vocabulary (piece, ec, q), same schema as the hard step."""
    vocab, wf = _unigram_vocab(spark, sf_dir, scale=UNIGRAM_SOFT_SCALE)
    # the word-frequency frame is consumed 5x (both lattice bases, z,
    # spans, the ec weight join) — checkpoint the corpus word-count ONCE
    # (dictionary-sized) instead of re-scanning documents per reference
    wf = wf.localCheckpoint(eager=True)
    dec = 'decimal(38,0)'
    sc = UNIGRAM_SOFT_SCALE
    words = (
        wf.select('word')
        .withColumn('wl', F.length('word'))
        .filter(F.col('wl') <= UNIGRAM_MAX_LEN)
    )

    def lattice(direction):
        """Unrolled lattice sums: forward ahat by prefix length j, or
        backward bhat by suffix length s — the Viterbi dp chain with
        groupBy-SUM where the hard path ranks. Returns the (word, j, v)
        union of all frames."""
        frames = {
            0: words.select(
                'word', 'wl', F.lit(1).cast(dec).alias('v')
            ).localCheckpoint(eager=True)
        }
        for j in range(1, UNIGRAM_MAX_LEN + 1):
            cands = []
            for L in range(1, min(4, j) + 1):
                if direction == 'fw':
                    piece = F.substring(F.col('word'), j - L + 1, L)
                else:
                    piece = F.col('word').substr(
                        F.col('wl') - j + 1, F.lit(L)
                    )
                norm = sc ** (L - 1)
                cands.append(
                    frames[j - L]
                    .filter(F.col('wl') >= j)
                    .join(F.broadcast(vocab), piece == F.col('piece'))
                    .select(
                        'word',
                        'wl',
                        (F.col('v') * F.col('q') * F.lit(norm).cast(dec))
                        .cast(dec)
                        .alias('v'),
                    )
                )
            allc = cands[0]
            for c in cands[1:]:
                allc = allc.unionByName(c)
            frames[j] = (
                allc.groupBy('word', 'wl')
                .agg(F.sum('v').cast(dec).alias('v'))
                .localCheckpoint(eager=True)
            )
        out = None
        for j in range(UNIGRAM_MAX_LEN + 1):
            part = frames[j].select('word', F.lit(j).alias('j'), 'v')
            out = part if out is None else out.unionByName(part)
        return out

    # every lattice frame is checkpointed (unknown stats) and
    # dictionary-sized — broadcast hints everywhere, as in the hard step
    fw_all = lattice('fw')
    bw_all = lattice('bw')
    z = (
        fw_all.join(F.broadcast(words), 'word')
        .filter(F.col('j') == F.col('wl'))
        .filter(F.col('v') > 0)
        .select('word', F.col('v').alias('z'))
    )

    spans = (
        words.select(
            'word',
            'wl',
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias('i'), F.lit(L).alias('l')
                        )
                        for i, L in _SOFT_COMBOS
                    ]
                )
            ).alias('il'),
        )
        .select('word', 'wl', F.col('il.i').alias('i'), F.col('il.l').alias('l'))
        .filter(F.col('i') + F.col('l') <= F.col('wl'))
        .withColumn(
            'piece', F.col('word').substr(F.col('i') + 1, F.col('l'))
        )
    )
    norm = F.when(F.col('l') == 1, F.lit(1))
    for L in range(2, 5):
        norm = norm.when(F.col('l') == L, F.lit(sc ** (L - 1)))
    occ = (
        spans.join(F.broadcast(vocab), 'piece')
        .join(
            F.broadcast(fw_all.select('word', 'j', F.col('v').alias('a'))),
            ['word'],
        )
        .filter(F.col('j') == F.col('i'))
        .join(
            F.broadcast(
                bw_all.select(
                    'word', F.col('j').alias('s'), F.col('v').alias('b')
                )
            ),
            ['word'],
        )
        .filter(F.col('s') == F.col('wl') - F.col('i') - F.col('l'))
        .select(
            'word',
            'piece',
            (F.col('a') * F.col('q') * norm.cast(dec) * F.col('b'))
            .cast(dec)
            .alias('num'),
        )
    )
    nums = occ.groupBy('word', 'piece').agg(
        F.sum('num').cast(dec).alias('num')
    )
    post = nums.join(F.broadcast(z), 'word').select(
        'word',
        'piece',
        F.expr(f'num * {UNIGRAM_SOFT_ECS} div z').alias('r'),
    )
    ec = (
        post.join(F.broadcast(wf), 'word')
        .groupBy('piece')
        .agg(
            F.sum(F.expr('cast(c as decimal(38,0)) * r'))
            .cast('bigint')
            .alias('ec')
        )
    )
    vec = vocab.join(F.broadcast(ec), 'piece', 'left').select(
        'piece', F.coalesce('ec', F.lit(0)).cast('bigint').alias('ec')
    )
    return _unigram_prune_requant(vec)
