"""Deduplication operators over ``documents`` / ``embeddings`` (north-star):
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

Everything is built from cross-engine-deterministic primitives (md5, integer
sums, single-op IEEE arithmetic) so each operator has an exact DuckDB oracle.

Scale design (100 TB):
- exact dedup: one shuffle on the fingerprint hash — no text comparison.
- MinHash LSH: per-doc signatures are one narrow projection — a fold over
  each document's shingle array carrying all 16 running mins, no shingle
  explode and no signature shuffle; candidate generation groups the band
  rows on (band_id, band_hash) — shuffle keyed on *buckets*, never
  all-pairs. Skewed buckets (boilerplate shingles) would salt or cap.
- SimHash: embarrassingly parallel signature per doc; near-dup lookup is a
  bucket join on the signature.
- n-gram Jaccard: inverted-index join (shingle -> docs) + co-occurrence
  count; the shingle join is the scale bottleneck, which is exactly why the
  MinHash path exists — Jaccard here doubles as its verification oracle.
- embedding near-dup: blocked all-pairs inside label partitions (an
  IVF-style coarse quantizer); global all-pairs never materializes.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from .. import functions as _CF
from ..tables import provably_small, spread_cluster, spread_small, table
from . import register

N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS

# -- shared shingle builders (Spark + SQL kept textually parallel) -----------


def _spark_shingles(n: int):
    """array of distinct n-gram shingles of the whitespace-tokenized text."""
    return _CF.shingles('text', n)


def _sql_shingles(n: int) -> str:
    gram = " || ' ' || ".join(f'toks[i+{k}]' for k in range(n))
    return (
        f'list_distinct(list_transform(range(1, len(toks) - {n - 2}), '
        f'i -> {gram}))'
    )


_SQL_TOKS = r"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    )"""


@register(
    'dedup_exact',
    oracle=r"""
    SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY fingerprint
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on the canonical fingerprint, keep min id."""
    docs = table(spark, sf_dir, 'documents')
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' ')))
    return (
        docs.groupBy(fp.alias('fingerprint'))
        .agg(
            F.min('doc_id').alias('keep_doc_id'),
            F.count(F.lit(1)).alias('n_copies'),
        )
    )


# -- MinHash + LSH -----------------------------------------------------------


# 16 permutations from ONE md5 call per shingle (Carter–Wegman): md5 yields
# two independent 32-bit words h1, h2; perm_p(x) = (h1 + p*h2) mod 2^32 is a
# pairwise-independent family, the standard minwise-hashing construction.
# 16x fewer md5 evaluations than one-md5-per-permutation and 4x fewer than
# the seeded-chunk scheme, same LSH quality; the arithmetic is exact in
# BIGINT on both engines (max value 16 * 2^32 < 2^63), so signatures match
# the oracle bit-for-bit.
_PERM_MOD = 1 << 32


def _perm_min_sql(p: int) -> str:
    return f'MIN((h1 + {p} * h2) % {_PERM_MOD}) AS h{p}'


_SQL_H12 = """
        SELECT doc_id,
               CAST(('0x' || substring(md5(s), 1, 8)) AS BIGINT) AS h1,
               CAST(('0x' || substring(md5(s), 9, 8)) AS BIGINT) AS h2
        FROM sh"""


def _minhash_ctes(recursive: bool = False) -> str:
    """CTE chain ending in ``pairs(doc_a, doc_b)`` — shared oracle prefix."""
    mins = ',\n               '.join(_perm_min_sql(p) for p in range(N_PERM))
    band_selects = '\n        UNION ALL '.join(
        "SELECT doc_id, {b} AS band_id, md5({expr}) AS bh FROM sig".format(
            b=b,
            expr=" || '|' || ".join(
                f'h{b * ROWS_PER_BAND + r}' for r in range(ROWS_PER_BAND)
            ),
        )
        for b in range(N_BANDS)
    )
    toks = _SQL_TOKS
    if recursive:
        toks = toks.replace('WITH t AS', 'WITH RECURSIVE t AS', 1)
    return f"""{toks},
    sh AS (
        SELECT doc_id, unnest({_sql_shingles(3)}) AS s FROM t
    ),
    sig AS (
        SELECT doc_id, {mins}
        FROM ({_SQL_H12}) GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id
    )"""


def _minhash_oracle() -> str:
    return _minhash_ctes() + '\n    SELECT doc_a, doc_b FROM pairs'


def _minhash_bands(docs):
    """(doc_id, band_id, bh) LSH band rows for a documents DataFrame.

    MinHash(16 Carter–Wegman perms from ONE md5 per shingle) + LSH(4x4).
    md5 and BIGINT arithmetic are identical across engines, so signatures
    (and therefore candidate pairs) match the oracle exactly.

    Signatures are computed per document with array higher-order functions
    (shingle array -> (h1, h2) word array -> one aggregate fold carrying
    all 16 running mins in a struct accumulator) — one narrow projection,
    NO shingle explode and NO signature shuffle. The md5 is hoisted into
    its own pre-transform so it runs exactly once per shingle (interpreted
    HOF lambdas get no codegen CSE, so an inlined md5 in both h1 and h2
    substrings would really hash twice). The single fold replaces 16
    separate array traversals (array HOFs are interpreted per element, so
    traversal count, not arithmetic, is the cost), so widening N_PERM
    costs arithmetic, not passes over the array.

    The fold is stated as ONE SQL string through ``F.expr``, not as nested
    Column lambdas: building the 16-field struct accumulator through the
    Column API issues hundreds of driver gateway calls and re-analyzes a
    huge Python-built tree on EVERY query construction (~0.5 s/run at the
    bench's measure-per-construction cadence — a pure driver-side tax that
    would also stack up across the many short queries of a real workload);
    the string form parses once in the JVM. Semantics are identical — the
    same fold measured ~1.66 s/run Column-built vs ~1.20 s expr-built at
    sf0.1, bit-equal pair sets.

    The accumulator init is > the 2^32 max perm value, so the first element
    always wins; empty shingle arrays keep the sentinel (they cannot occur
    for this corpus — every doc has >= 3 tokens — and an array_min
    formulation would yield NULLs there, equally out-of-band).

    Shingles are deliberately NOT deduplicated here (unlike
    :func:`cyclebane_spark.functions.shingles`, whose distinct IS the
    semantics for Jaccard): a min-fold is duplicate-insensitive, so the
    signatures are identical either way, and the per-doc array_distinct
    would string-hash every shingle only to save md5s of the few
    duplicates. The oracle keeps list_distinct; pair sets are bit-equal.
    """
    sh = docs.select('doc_id', _shingle_arr_expr().alias('sh'))
    sig = sh.select('doc_id', _minhash_sig_expr().alias('s')).select(
        'doc_id', *[F.col(f's.m{p}').alias(f'h{p}') for p in range(N_PERM)]
    )
    return _bands_from_sigs(sig)


def _shingle_arr_expr():
    """Non-deduplicated 3-gram shingle array over a ``text`` column (see
    :func:`_minhash_bands` for why no distinct). Delegates to the canonical
    gram definition so the MinHash and Jaccard families can never diverge."""
    return _CF.word_ngrams('text', 3)


def _minhash_sig_expr():
    """The 16-min signature fold as one Column over a ``sh`` shingle-array
    column: struct<m0..m15 bigint>. One SQL string (driver build cost —
    see :func:`_minhash_bands`)."""
    init = ', '.join(
        f"'m{p}', CAST({_PERM_MOD + 1} AS BIGINT)" for p in range(N_PERM)
    )
    step = ', '.join(
        f"'m{p}', least(acc.m{p}, pmod(w.h1 + {p} * w.h2, {_PERM_MOD}))"
        for p in range(N_PERM)
    )
    return F.expr(
        'aggregate('
        'transform(transform(sh, s -> md5(s)), m -> named_struct('
        "'h1', CAST(conv(substring(m, 1, 8), 16, 10) AS BIGINT), "
        "'h2', CAST(conv(substring(m, 9, 8), 16, 10) AS BIGINT))), "
        f'named_struct({init}), '
        f'(acc, w) -> named_struct({step}))'
    )


def _bands_from_sigs(sig):
    """(doc_id, band_id, bh) band rows from an h0..h15 signature table."""
    band_cols = [
        F.md5(
            F.concat_ws(
                '|', *[f'h{b * ROWS_PER_BAND + r}' for r in range(ROWS_PER_BAND)]
            )
        ).alias(f'b{b}')
        for b in range(N_BANDS)
    ]
    stack_args = ', '.join(f'{b}, b{b}' for b in range(N_BANDS))
    return sig.select('doc_id', *band_cols).selectExpr(
        'doc_id', f'stack({N_BANDS}, {stack_args}) AS (band_id, bh)'
    )


def _pairs_from_bands(bands):
    """Candidate pairs via per-bucket collect_list + array-HOF pair fan-out.

    The bucket groupBy and the final pair distinct are the only shuffles,
    both keyed on data that is ~#docs sized, never #shingles sized. A
    bucket with K members yields K*(K-1)/2 pairs inside ONE task — fine for
    organic near-dup buckets (K small), quadratic-single-task for
    boilerplate-heavy corpora; those use :func:`_salted_pairs_from_bands`.
    """
    buckets = (
        bands.groupBy('band_id', 'bh')
        .agg(F.sort_array(F.collect_list('doc_id')).alias('ids'))
        .filter(F.size('ids') > 1)
    )
    return (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        'ids',
                        lambda x: F.transform(
                            F.filter(F.col('ids'), lambda y: y > x),
                            lambda y: F.struct(
                                x.alias('doc_a'), y.alias('doc_b')
                            ),
                        ),
                    )
                )
            ).alias('p')
        )
        .select('p.doc_a', 'p.doc_b')
        .distinct()
    )


def _salted_pairs_from_bands(bands, n_salt: int = 8):
    """Skew-resistant candidate pairs: triangle-decomposed salted self-join.

    Each doc gets a deterministic salt g in [0, n_salt); the unordered
    salt-pair (ga, gb) joins docs of salt ga with docs of salt gb, so a hot
    bucket with K members is processed by n_salt*(n_salt+1)/2 independent
    tasks of ~(K/n_salt)^2 work instead of one K^2 task.  The join key is
    (band_id, bh, ga, gb) — the salt is IN the shuffle key, which is what
    actually spreads the hot bucket (AQE skew-join can split a skewed
    partition too, but only for sort-merge joins it replans; this shape
    is deterministic and engine-version-independent).

    Replication cost: each band row appears (n_salt - g) times on the left
    and (g + 1) times on the right — (n_salt + 1) copies total, the classic
    salted-join tradeoff.  Production would gate this on bucket-size stats
    (salt only hot buckets); here the fully-salted variant doubles as the
    bit-exactness proof against the unsalted path.

    Exactness: pair {a, b} in bucket (band, bh) with salts s1 <= s2 is
    emitted exactly at key (band, bh, s1, s2) — by a (left, salt s1,
    exploded j = s2) x (right, salt s2, exploded i = s1) match; same-salt
    pairs arrive in both orders and collapse via least/greatest + distinct
    (the distinct already exists to merge multi-band hits).
    """
    salted = bands.withColumn(
        'g', F.pmod(F.xxhash64(F.col('doc_id')), F.lit(n_salt)).cast('int')
    )
    left = salted.select(
        'band_id',
        'bh',
        F.col('g').alias('ga'),
        F.explode(F.sequence(F.col('g'), F.lit(n_salt - 1))).alias('gb'),
        F.col('doc_id').alias('da'),
    )
    right = salted.select(
        'band_id',
        'bh',
        F.explode(F.sequence(F.lit(0), F.col('g'))).alias('ga'),
        F.col('g').alias('gb'),
        F.col('doc_id').alias('db'),
    )
    return (
        left.join(right, on=['band_id', 'bh', 'ga', 'gb'])
        .filter(F.col('da') != F.col('db'))
        .select(
            F.least('da', 'db').alias('doc_a'),
            F.greatest('da', 'db').alias('doc_b'),
        )
        .distinct()
    )


HOT_BUCKET_THRESHOLD = 64


def _adaptive_pairs_from_bands(
    bands, hot_threshold: int = HOT_BUCKET_THRESHOLD, n_salt: int = 8
):
    """Stats-gated salting: measure the band-bucket histogram, then pick
    the unsalted or the salted pair generator.

    SCALE.md's measured crossover motivates the gate: salting wins ~1.9x
    once one bucket holds a large share of the corpus (boilerplate-heavy
    crawls) and LOSES on organic near-dup data, where the (n_salt+1)x row
    replication is pure overhead. Production can't know which corpus it has
    in advance — so the operator measures: persist the band rows, aggregate
    the max bucket size (a map-side-combinable count shuffle over ~#docs
    rows, then a 1-row max), and branch. The stats job reuses the persisted
    bands, so the signature computation — the dominant cost — runs once
    either way; the branch decision is one small driver-side scalar, the
    same move as AQE's runtime skew-join replan, stated explicitly.

    ``hot_threshold`` bounds the worst single-task fan-out the unsalted
    path may take: a bucket of K members is a K(K-1)/2-pair task, so 64
    caps it at ~2k pairs. Both branches produce bit-identical pair sets
    (tests/test_dedup_skew.py).
    """
    from pyspark import StorageLevel

    bands = bands.persist(StorageLevel.MEMORY_AND_DISK)
    max_k = (
        bands.groupBy('band_id', 'bh')
        .agg(F.count(F.lit(1)).alias('k'))
        .agg(F.max('k').alias('max_k'))
        .first()['max_k']
    )
    if max_k is not None and max_k > hot_threshold:
        return _salted_pairs_from_bands(bands, n_salt=n_salt)
    return _pairs_from_bands(bands)


def _minhash_docs(spark, sf_dir):
    # No size()>0 filter here: the signature is a FOLD (no explode), so a
    # sub-n-token doc would just keep its sentinel signature — and the
    # corpus invariant (every doc >= 3 tokens; word_ngrams now returns []
    # below n, matching the oracle's range()) means none exist. A filter on
    # the shingle array would also get pushed below the repartition —
    # recomputing every shingle inside the single pre-shuffle scan task.
    return spread_small(table(spark, sf_dir, 'documents'), 'doc_id')


def _minhash_pairs(spark, sf_dir):
    return _pairs_from_bands(_minhash_bands(_minhash_docs(spark, sf_dir)))


@register('dedup_minhash_lsh', oracle=_minhash_oracle(), headline=True)
def dedup_minhash_lsh(spark, sf_dir):
    """Near-duplicate candidate pairs from MinHash + LSH banding."""
    return _minhash_pairs(spark, sf_dir)


@register('dedup_minhash_lsh_salted', oracle=_minhash_oracle())
def dedup_minhash_lsh_salted(spark, sf_dir):
    """Skew-resistant LSH candidate generation (salted self-join).

    Identical pair set to ``dedup_minhash_lsh`` (same oracle) — the
    boilerplate-skew scale path: see :func:`_salted_pairs_from_bands`.
    tests/test_dedup_skew.py additionally proves bit-exact equality on a
    synthesized boilerplate-heavy corpus where one bucket holds 60% of all
    docs.
    """
    return _salted_pairs_from_bands(_minhash_bands(_minhash_docs(spark, sf_dir)))


@register('dedup_minhash_lsh_adaptive', oracle=_minhash_oracle())
def dedup_minhash_lsh_adaptive(spark, sf_dir):
    """Adaptive LSH candidate generation: the band-bucket histogram decides
    at runtime whether the salted or the unsalted pair join runs — see
    :func:`_adaptive_pairs_from_bands`. Same pair set (and oracle) as both
    fixed-path variants; on this organic corpus the gate picks the unsalted
    branch, on the skew bench it picks the salted one.
    """
    return _adaptive_pairs_from_bands(
        _minhash_bands(_minhash_docs(spark, sf_dir))
    )


def _cc_oracle() -> str:
    return (
        _minhash_ctes(recursive=True)
        + """,
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, other) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.d FROM reach r JOIN edges e ON r.other = e.s
    )
    SELECT doc_id, MIN(other) AS cluster_id FROM reach GROUP BY doc_id
    """
    )


def _symmetrize(pairs, a: str, b: str):
    """Undirected pair list -> directed edge list (s, d): both (a, b) and
    (b, a) for every pair, in ONE pass over ``pairs``. A ``fwd.union(rev)``
    would plan the pair subtree twice (Union branches share no exchange,
    so e.g. a broadcast similarity join upstream runs twice)."""
    e = F.explode(
        F.array(
            F.struct(F.col(a).alias('s'), F.col(b).alias('d')),
            F.struct(F.col(b).alias('s'), F.col(a).alias('d')),
        )
    )
    return pairs.select(e.alias('e')).select('e.s', 'e.d')


def _connected_components(
    pairs, nodes, a: str, b: str, node_col: str, max_rounds: int = 25
):
    """Min-label propagation over an undirected pair list (the standard
    distributed CC loop; cf. the large-star/small-star algorithm for
    billion-edge graphs): each round joins labels to the symmetrized edge
    list, takes the min of own and neighbor labels, and stops when a round
    changes nothing. Rounds needed = cluster diameter — tiny for near-dup
    clusters. localCheckpoint() truncates the per-round lineage growth; on
    a real cluster this would be checkpoint() to durable storage so
    failures don't replay all rounds. The convergence check piggybacks on
    the checkpoint job as an observe() metric — ONE job per round, no
    second scan of the labels. Returns (node_col, cluster_id) with
    cluster_id = min node id of the component.

    Raises RuntimeError if ``max_rounds`` pass without convergence (a
    component with diameter > max_rounds): a loud failure instead of a
    silently-wrong labeling. Graphs whose diameter is unknown/unbounded
    should use the alternating-star variant (`dedup_cc_largestar`), which
    converges in O(log n) rounds regardless of diameter — the chain-graph
    crossover is measured in SCALE.md.
    """
    from pyspark.sql import Observation

    edges = _symmetrize(pairs, a, b)
    if provably_small(edges):
        # r12 optimization (guide §1.2 step 2 — per-round fixed cost): on
        # the small local layout the edge list checkpoints as one map
        # partition per upstream shuffle partition, so EVERY round
        # schedules many tiny tasks over a few-hundred-row edge list; an
        # AQE-elastic repartition lets the coalescer shrink the
        # checkpoint to a handful of partitions (pipeline_embedding_
        # clusters CC stage: 2.38s -> 1.71s best-of-5 at sf0.1,
        # identical labels). Layout-gated OFF at scale: the repartition
        # would be one extra full-edge shuffle there, and a pinned-count
        # variant cannot pay it back — localCheckpoint does not preserve
        # outputPartitioning, so no per-round exchange is ever elided
        # (verified empirically; see OPTIMIZATION_r12.md batch 4).
        edges = edges.repartition('d')
    edges = edges.localCheckpoint()
    labels = nodes.select(
        F.col(node_col).alias('doc_id'), F.col(node_col).alias('cluster_id')
    )
    converged = False
    for _ in range(max_rounds):
        nb = (
            edges.join(
                labels.select(
                    F.col('doc_id').alias('d'),
                    F.col('cluster_id').alias('d_cl'),
                ),
                on='d',
            )
            .groupBy('s')
            .agg(F.min('d_cl').alias('nb_cl'))
            .select(F.col('s').alias('doc_id'), 'nb_cl')
        )
        obs = Observation()
        new = (
            labels.join(nb, on='doc_id', how='left')
            .select(
                'doc_id',
                F.least(
                    'cluster_id', F.coalesce('nb_cl', 'cluster_id')
                ).alias('cluster_id'),
                (F.coalesce('nb_cl', 'cluster_id') < F.col('cluster_id'))
                .cast('long')
                .alias('_changed'),
            )
            .observe(obs, F.sum('_changed').alias('n_changed'))
            .select('doc_id', 'cluster_id')
            .localCheckpoint()  # eager: materializes + collects the metric
        )
        labels = new
        if obs.get['n_changed'] == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f'connected components did not converge in {max_rounds} rounds '
            '(component diameter exceeds the cap); use dedup_cc_largestar '
            'for unbounded-diameter graphs'
        )
    return labels.select(F.col('doc_id').alias(node_col), 'cluster_id')


@register('dedup_connected_components', oracle=_cc_oracle())
def dedup_connected_components(spark, sf_dir):
    """Duplicate clusters: connected components over the MinHash-LSH
    candidate pairs; every document is labeled with the min doc_id of its
    component — the canonical keep-one-per-cluster id of a dedup pipeline.
    See :func:`_connected_components` for the loop's scale design; the
    oracle is the same computation as a DuckDB recursive CTE.
    """
    pairs = _minhash_pairs(spark, sf_dir)
    nodes = table(spark, sf_dir, 'documents').select('doc_id')
    return _connected_components(pairs, nodes, 'doc_a', 'doc_b', 'doc_id')


def _leakage_split_oracle() -> str:
    return (
        _minhash_ctes(recursive=True)
        + """,
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, other) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.d FROM reach r JOIN edges e ON r.other = e.s
    ),
    labels AS (
        SELECT doc_id, MIN(other) AS cluster_id FROM reach GROUP BY doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3','4','5','6','7','8','9','a','b')
                THEN 'train' ELSE 'holdout' END AS split
    FROM labels
    """
    )


@register('pipeline_leakage_safe_split', oracle=_leakage_split_oracle())
def pipeline_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/holdout split: hash the near-dup CLUSTER id, not
    the document id, so every near-duplicate lands on the same side.

    The standard eval-contamination guard for training corpora: a plain
    per-doc split leaks held-out content into training whenever a near-dup
    pair straddles the boundary. Splitting by the connected-component label
    (min doc_id of the MinHash-LSH cluster) makes that impossible by
    construction — tests/test_split.py asserts zero candidate pairs cross
    the split. The ~75/25 ratio comes from the first hex digit of
    md5(cluster_id) (deterministic across engines/runs/partitionings, the
    same content-hash idiom as ``sample_hash_based``). Scale: CC label
    assignment is the dedup pipeline's existing output; the split adds one
    narrow projection — no extra shuffle.
    """
    pairs = _minhash_pairs(spark, sf_dir)
    nodes = table(spark, sf_dir, 'documents').select('doc_id')
    labels = _connected_components(pairs, nodes, 'doc_a', 'doc_b', 'doc_id')
    return labels.select(
        'doc_id',
        'cluster_id',
        F.when(
            _CF.hash_sample('cluster_id', 12), F.lit('train')
        ).otherwise(F.lit('holdout')).alias('split'),
    )


# -- SimHash -----------------------------------------------------------------


def _simhash_terms(int_div: str) -> list[str]:
    """The 16 per-token bit contributions, as engine-neutral SQL text.

    Bit j lives in hex digit j//4 of md5(token); ``int_div`` is the engine's
    integer-division operator ('div' for Spark SQL, '//' for DuckDB).
    """
    terms = []
    for j in range(16):
        digit = f'substring(md5(tok), {j // 4 + 1}, 1)'
        v = f"(instr('0123456789abcdef', {digit}) - 1)"
        p = 2 ** (3 - j % 4)
        if int_div == 'div':
            bit = f'(({v} div {p}) % 2)'
        else:
            bit = f'(({v} // {p}) % 2)'
        terms.append(f'SUM(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s{j}')
    return terms


_SIMHASH_COMBINE = ' + '.join(
    f'(CASE WHEN s{j} > 0 THEN {2 ** j} ELSE 0 END)' for j in range(16)
)


@register(
    'dedup_simhash',
    oracle=f"""{_SQL_TOKS},
    tok AS (
        SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM t
    ),
    sums AS (
        SELECT doc_id, {', '.join(_simhash_terms('//'))}
        FROM tok GROUP BY doc_id
    )
    SELECT doc_id, {_SIMHASH_COMBINE} AS simhash16
    FROM sums
    """,
)
def dedup_simhash(spark, sf_dir):
    """16-bit SimHash over distinct tokens (md5-derived bits).

    Each token votes +/-1 per bit position; the signature packs the sign
    bits. Near-dup docs land in equal or near-equal buckets. Both engines evaluate
    the same generated expressions, so signatures match exactly.
    """
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    toks = F.split(F.trim(F.col('text')), r'\s+')
    tok = docs.select(
        'doc_id', F.explode(F.array_distinct(toks)).alias('tok')
    )
    sums = tok.groupBy('doc_id').agg(
        *[F.expr(term) for term in _simhash_terms('div')]
    )
    return sums.select('doc_id', F.expr(_SIMHASH_COMBINE).alias('simhash16'))


# -- n-gram Jaccard ----------------------------------------------------------


@register(
    'dedup_ngram_jaccard',
    oracle=f"""{_SQL_TOKS},
    sh AS (
        SELECT doc_id, unnest({_sql_shingles(3)}) AS s FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           (CAST(c AS DOUBLE) / (sa.n + sb.n - c)) AS jaccard
    FROM co
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE (CAST(c AS DOUBLE) / (sa.n + sb.n - c)) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard >= 0.5 via inverted-index co-occurrence join.

    Shingle-set sizes ride ON the index rows (a doc_id-partition window over
    the already-doc_id-partitioned index — no exchange, just a sort) instead
    of a separate sizes aggregate joined back twice: that formulation
    re-tokenized the corpus in two extra plan subtrees. Two corpus scans
    remain — the a/b sides of the self-join, the honest minimum.
    """
    from pyspark.sql import Window

    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    sh = docs.select('doc_id', F.explode(_spark_shingles(3)).alias('s'))
    shn = sh.withColumn(
        'n', F.count(F.lit(1)).over(Window.partitionBy('doc_id'))
    )
    a, b = shn.alias('a'), shn.alias('b')
    co = (
        a.join(
            b,
            (F.col('a.s') == F.col('b.s'))
            & (F.col('a.doc_id') < F.col('b.doc_id')),
        )
        .groupBy(
            F.col('a.doc_id').alias('doc_a'), F.col('b.doc_id').alias('doc_b')
        )
        .agg(
            F.count(F.lit(1)).alias('c'),
            F.min(F.col('a.n')).alias('n_a'),  # constant per doc
            F.min(F.col('b.n')).alias('n_b'),
        )
    )
    jac = F.col('c').cast('double') / (F.col('n_a') + F.col('n_b') - F.col('c'))
    return (
        co.select('doc_a', 'doc_b', jac.alias('jaccard'))
        .filter(F.col('jaccard') >= 0.5)
    )


# -- embedding cosine near-dup ----------------------------------------------


def _spark_dot(a, b):
    from .. import functions as CF

    return CF.dot(a, b)


SQL_DOT = (
    'list_sum(list_transform(range(1, 65), '
    'i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))'
)


@register(
    'dedup_embedding_cosine',
    oracle=f"""
    WITH n AS (
        SELECT vec_id, label, embedding,
               sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ({SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)) AS cosine
    FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ({SQL_DOT.format(a='a.embedding', b='b.embedding')} / (a.nrm * b.nrm)) >= 0.35
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Cosine near-dup pairs, blocked by label (IVF-style coarse partition).

    The all-pairs join runs only inside label blocks — the pattern that keeps
    near-dup search tractable at scale (candidate set shrinks by the number
    of coarse cells). Dot products fold doubles sequentially in both engines.
    """
    emb = table(spark, sf_dir, 'embeddings')

    def normed(df):
        return df.select(
            'vec_id',
            'label',
            'embedding',
            F.sqrt(
                _spark_dot(F.col('embedding'), F.col('embedding'))
            ).alias('nrm'),
        )

    # r11 optimization: the label-block join plans as a broadcast hash join
    # whose probe side is the bare scan, and the cosine (an interpreted
    # 64-element zip_with/aggregate fold) sits in the JOIN CONDITION — so
    # every within-label pair's dot product ran inside the one scan task a
    # single-row-group file yields (measured 3.6s at sf0.1, ~200k pairs).
    # Spreading the probe side moves the pair fan-out + fold onto every
    # core; the build side stays un-spread so its broadcast needs no
    # shuffle, and on multi-split production layouts the spread is a no-op
    # (there the planner also outgrows the broadcast and falls back to a
    # shuffle join on label — unchanged). Results are join-order
    # independent; verified oracle-exact at sf0.001/0.01/0.1.
    a, b = normed(spread_small(emb, 'vec_id')).alias('a'), normed(emb).alias('b')
    cos = _spark_dot(F.col('a.embedding'), F.col('b.embedding')) / (
        F.col('a.nrm') * F.col('b.nrm')
    )
    return (
        a.join(
            b,
            (F.col('a.label') == F.col('b.label'))
            & (F.col('a.vec_id') < F.col('b.vec_id')),
        )
        .select(
            F.col('a.vec_id').alias('vec_a'),
            F.col('b.vec_id').alias('vec_b'),
            cos.alias('cosine'),
        )
        .filter(F.col('cosine') >= 0.35)
    )


# ---------------------------------------------------------------------------
# PageRank over the near-dup pair graph: ranks the "center" of each
# duplicate cluster (high-degree boilerplate hubs score highest) — the
# second iterative graph algorithm on the LSH candidate graph, alongside
# connected components. Like the k-means family, everything runs in scaled
# INTEGER arithmetic (scores are billionths, damping 0.85 applied as
# *85 div 100, per-edge contributions floor-divided by degree), so three
# unrolled iterations are bit-exact across engines — float PageRank would
# drift in summation order. Scale: each iteration is one shuffle keyed on
# the destination node (partial-aggregable sum of contributions) plus a
# broadcastable node-count scalar; the edge list is the already-bucketed
# LSH pair set, never all-pairs.
# ---------------------------------------------------------------------------

PR_SCALE = 1_000_000_000
PR_ITERS = 3


def _pagerank_oracle() -> str:
    parts = [
        _minhash_ctes()
        + """,
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
    deg AS (SELECT s AS doc_id, COUNT(*) AS deg FROM edges GROUP BY s),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    p0 AS (
        SELECT doc_id, CAST(%(scale)d // nn.n AS BIGINT) AS pr
        FROM nodes, nn
    )"""
        % {'scale': PR_SCALE}
    ]
    for i in range(1, PR_ITERS + 1):
        parts.append(
            """p%(i)d AS (
        SELECT nodes.doc_id,
               CAST((%(scale)d // nn.n) * 15 // 100
                    + 85 * COALESCE(cont.c, 0) // 100 AS BIGINT) AS pr
        FROM nodes CROSS JOIN nn
        LEFT JOIN (
            SELECT e.d AS doc_id,
                   CAST(SUM(p.pr // deg.deg) AS BIGINT) AS c
            FROM p%(prev)d p
            JOIN deg ON p.doc_id = deg.doc_id
            JOIN edges e ON e.s = p.doc_id
            GROUP BY e.d
        ) cont ON nodes.doc_id = cont.doc_id
    )"""
            % {'i': i, 'prev': i - 1, 'scale': PR_SCALE}
        )
    return (
        ',\n    '.join(parts)
        + f'\n    SELECT doc_id, pr FROM p{PR_ITERS}'
    )


@register('graph_pagerank_neardup', oracle=_pagerank_oracle())
def graph_pagerank_neardup(spark, sf_dir):
    """Integer-exact PageRank (3 unrolled iterations, damping 0.85) over
    the symmetrized MinHash-LSH candidate graph. See the module note."""
    pairs = _minhash_pairs(spark, sf_dir)
    edges = _symmetrize(pairs, 'doc_a', 'doc_b')
    # The pair set feeds the edge list, degree table, AND every iteration's
    # contribution join — persist once (same idiom as the k-means family).
    from pyspark import StorageLevel

    edges = edges.persist(StorageLevel.MEMORY_AND_DISK)
    nodes = edges.select(F.col('s').alias('doc_id')).distinct()
    deg = edges.groupBy(F.col('s').alias('doc_id')).agg(
        F.count(F.lit(1)).alias('deg')
    )
    nn = nodes.agg(F.count(F.lit(1)).alias('n'))

    base = F.expr(f'({PR_SCALE} div n) * 15 div 100')
    p = nodes.crossJoin(F.broadcast(nn)).select(
        'doc_id', F.expr(f'{PR_SCALE} div n').alias('pr')
    )
    for _ in range(PR_ITERS):
        cont = (
            p.join(deg, 'doc_id')
            .select('doc_id', F.expr('pr div deg').alias('share'))
            .join(edges, F.col('doc_id') == F.col('s'))
            .groupBy(F.col('d').alias('doc_id'))
            .agg(F.sum('share').alias('c'))
        )
        p = (
            nodes.crossJoin(F.broadcast(nn))
            .join(cont, 'doc_id', 'left')
            .select(
                'doc_id',
                (base + F.expr('85 * coalesce(c, 0) div 100'))
                .cast('bigint')
                .alias('pr'),
            )
        )
    return p


# ---------------------------------------------------------------------------
# Composed embedding pipeline: cosine near-dup pairs -> connected components
# -> per-cluster stats, ONE lazy plan per stage family. The embeddings
# counterpart of pipeline_clean_corpus: demonstrates that the dedup
# machinery (pair generation, CC labeling) composes across modalities — the
# cluster table is exactly what an embedding-dedup job materializes before
# keeping one representative per cluster. Scale: the pair join is label-
# blocked (never all-pairs), CC shuffles per round on node id, and the
# final stats are one hash agg on cluster_id.
# ---------------------------------------------------------------------------


def _embedding_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE n AS (
        SELECT vec_id, label, embedding,
               sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE ({SQL_DOT.format(a='a.embedding', b='b.embedding')}
               / (a.nrm * b.nrm)) >= 0.35
    ),
    edges AS (
        SELECT vec_a AS s, vec_b AS d FROM pairs
        UNION ALL
        SELECT vec_b AS s, vec_a AS d FROM pairs
    ),
    reach(vec_id, other) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT r.vec_id, e.d FROM reach r JOIN edges e ON r.other = e.s
    ),
    labels AS (
        SELECT vec_id, MIN(other) AS cluster_id FROM reach GROUP BY vec_id
    )
    SELECT cluster_id,
           COUNT(*) AS n_members,
           CAST(MAX(vec_id) AS BIGINT) AS max_vec
    FROM labels GROUP BY cluster_id
    """


@register('pipeline_embedding_clusters', oracle=_embedding_clusters_oracle())
def pipeline_embedding_clusters(spark, sf_dir):
    """Embedding near-dup clustering end to end: label-blocked cosine pairs
    (>= 0.35) -> min-label connected components -> cluster size table keyed
    by the representative (min) vec_id. See the module note."""
    pairs = dedup_embedding_cosine(spark, sf_dir).select('vec_a', 'vec_b')
    nodes = table(spark, sf_dir, 'embeddings').select('vec_id')
    labels = _connected_components(pairs, nodes, 'vec_a', 'vec_b', 'vec_id')
    return labels.groupBy('cluster_id').agg(
        F.count(F.lit(1)).alias('n_members'),
        F.max('vec_id').alias('max_vec'),
    )


# ---------------------------------------------------------------------------
# Triangle counting over the near-dup candidate graph: the classic
# distributed graph metric (clustering-coefficient numerator). A triangle
# {a < b < c} in the ordered edge list E appears exactly once as
# (a,b),(b,c) joined on b, confirmed by (a,c) in E — so the count needs two
# equi-joins on edge endpoints and no symmetrization, the standard
# ordered-wedge formulation that avoids counting each triangle 6 times.
# Scale: both joins shuffle on node ids of the (sparse) candidate edge
# list, never on the corpus. This query feeds from the UNSALTED pair path;
# a boilerplate-skewed corpus would swap in _salted_pairs_from_bands for
# the pair stage (bit-exact, see dedup_minhash_lsh_salted) — high-degree
# nodes then still skew the wedge join itself, which AQE's skew-join
# split handles (sort-merge shape; ASSERTED in tests/test_dedup_skew.py —
# SortMergeJoin(skew=true) activates on a synthesized star graph) or a
# degree-threshold cap bounds.
# ---------------------------------------------------------------------------


@register(
    'graph_triangles_neardup',
    oracle=_minhash_ctes()
    + """
    SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
    FROM pairs ab
    JOIN pairs bc ON ab.doc_b = bc.doc_a
    JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b
    """,
)
def graph_triangles_neardup(spark, sf_dir):
    """Enumerate triangles in the MinHash-LSH candidate graph (one row per
    triangle, a < b < c). See the module note for the wedge formulation."""
    return _triangles_from_pairs(_minhash_pairs(spark, sf_dir))


def _triangles_from_pairs(pairs):
    """Ordered-wedge triangle enumeration over an (doc_a < doc_b) pair list.

    The wedge join keys on the middle node b, so a high-degree node is a
    hot join key: deg_lo(b) x deg_hi(b) wedges land in one shuffle
    partition. AQE's skew-join split handles that at runtime (the join is
    sort-merge shaped; tests/test_dedup_skew.py asserts the split actually
    activates on a synthesized high-degree graph — the claim is pinned, not
    assumed). A degree-threshold cap is the complementary static bound for
    adversarial graphs.
    """
    from pyspark import StorageLevel

    # three self-references -> persist once (same idiom as PageRank above)
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    ab = pairs.select(F.col('doc_a').alias('a'), F.col('doc_b').alias('b'))
    bc = pairs.select(F.col('doc_a').alias('b'), F.col('doc_b').alias('c'))
    ac = pairs.select(F.col('doc_a').alias('a'), F.col('doc_b').alias('c'))
    return ab.join(bc, 'b').join(ac, ['a', 'c']).select('a', 'b', 'c')


# ---------------------------------------------------------------------------
# MinHash estimator audit: for every LSH candidate pair, the signature
# agreement (matching permutations out of 16 — the MinHash Jaccard
# estimator) next to the EXACT shingle-set Jaccard as integer
# intersection/union. The quality-control query for the dedup family:
# E[est_matches/16] = true Jaccard, and drift between the two columns is
# how production detects a broken hash family or band config. All-integer
# output, so the oracle is exact.
# Scale: ONE corpus scan computes signature + shingle set together in one
# projection, persisted and reused by band generation and both pair
# join-backs (an audit query may cache shingle sets; the production dedup
# path never materializes them).
# ---------------------------------------------------------------------------


@register(
    'dedup_minhash_estimator',
    oracle=_minhash_ctes()
    + f""",
    shl AS (
        SELECT doc_id, {_sql_shingles(3)} AS sa FROM t
    )
    SELECT p.doc_a, p.doc_b,
           CAST({' + '.join(f'(CASE WHEN a.h{p} = b.h{p} THEN 1 ELSE 0 END)' for p in range(N_PERM))}
               AS BIGINT) AS est_matches,
           CAST(len(list_intersect(la.sa, lb.sa)) AS BIGINT) AS jac_inter,
           CAST(len(la.sa) + len(lb.sa) - len(list_intersect(la.sa, lb.sa))
               AS BIGINT) AS jac_union
    FROM pairs p
    JOIN sig a ON a.doc_id = p.doc_a
    JOIN sig b ON b.doc_id = p.doc_b
    JOIN shl la ON la.doc_id = p.doc_a
    JOIN shl lb ON lb.doc_id = p.doc_b
    """,
)
def dedup_minhash_estimator(spark, sf_dir):
    """Signature-agreement estimate vs exact Jaccard per candidate pair.

    See the module note; both sides are integers (matching permutations;
    set intersection/union sizes), so the comparison is engine-exact.
    """
    from pyspark import StorageLevel

    docs = _minhash_docs(spark, sf_dir)
    both = (
        docs.select('doc_id', _shingle_arr_expr().alias('sh'))
        .select(
            'doc_id',
            _minhash_sig_expr().alias('s'),
            F.array_distinct('sh').alias('sa'),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig = both.select(
        'doc_id', *[F.col(f's.m{p}').alias(f'h{p}') for p in range(N_PERM)]
    )
    pairs = _pairs_from_bands(_bands_from_sigs(sig))
    a = both.select(
        F.col('doc_id').alias('doc_a'),
        F.col('s').alias('s_a'),
        F.col('sa').alias('sa_a'),
    )
    b = both.select(
        F.col('doc_id').alias('doc_b'),
        F.col('s').alias('s_b'),
        F.col('sa').alias('sa_b'),
    )
    est = sum(
        F.when(F.col(f's_a.m{p}') == F.col(f's_b.m{p}'), 1).otherwise(0)
        for p in range(N_PERM)
    )
    inter = F.size(F.array_intersect('sa_a', 'sa_b'))
    return (
        pairs.join(a, 'doc_a')
        .join(b, 'doc_b')
        .select(
            'doc_a',
            'doc_b',
            est.cast('bigint').alias('est_matches'),
            inter.cast('bigint').alias('jac_inter'),
            (F.size('sa_a') + F.size('sa_b') - inter)
            .cast('bigint')
            .alias('jac_union'),
        )
    )


def _cluster_keep_best_oracle() -> str:
    return (
        _minhash_ctes(recursive=True)
        + """,
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, other) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.d FROM reach r JOIN edges e ON r.other = e.s
    ),
    labels AS (
        SELECT doc_id, MIN(other) AS cluster_id FROM reach GROUP BY doc_id
    ),
    lj AS (
        SELECT l.cluster_id, d.doc_id, d.n_chars
        FROM labels l JOIN documents d USING (doc_id)
    ),
    mx AS (SELECT cluster_id, MAX(n_chars) AS mx FROM lj GROUP BY cluster_id)
    SELECT lj.cluster_id,
           COUNT(*) AS n_members,
           CAST(SUM(lj.n_chars) AS BIGINT) AS total_chars,
           MIN(CASE WHEN lj.n_chars = mx.mx THEN lj.doc_id END) AS rep_doc_id
    FROM lj JOIN mx USING (cluster_id)
    GROUP BY lj.cluster_id
    """
    )


@register('dedup_cluster_representatives', oracle=_cluster_keep_best_oracle())
def dedup_cluster_representatives(spark, sf_dir):
    """Keep-best canonicalization after dedup clustering: per near-dup
    cluster, the representative is the LONGEST document (ties -> lowest
    doc_id), plus member count and total size — the selection step a
    curation pipeline runs between clustering and corpus rewrite.

    Scale: one join of the CC labels to the documents table (both keyed by
    doc_id — co-partitioned), then ONE combinable hash agg per cluster;
    the argmax is max(struct(n_chars, -doc_id)) — no window sort over
    members, no second join-back (the oracle states the same argmax as a
    max+filter two-level aggregate).
    """
    pairs = _minhash_pairs(spark, sf_dir)
    docs = table(spark, sf_dir, 'documents')
    labels = _connected_components(
        pairs, docs.select('doc_id'), 'doc_a', 'doc_b', 'doc_id'
    )
    best = F.max(F.struct(F.col('n_chars'), (-F.col('doc_id')).alias('neg')))
    return (
        labels.join(docs.select('doc_id', 'n_chars'), 'doc_id')
        .groupBy('cluster_id')
        .agg(
            F.count(F.lit(1)).alias('n_members'),
            F.sum('n_chars').cast('bigint').alias('total_chars'),
            (-best.getField('neg')).alias('rep_doc_id'),
        )
    )


@register(
    'dedup_incremental_exact',
    oracle=r"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS f
        FROM documents
    ),
    corpus AS (SELECT DISTINCT f FROM fp WHERE source = 'src0'),
    incoming AS (SELECT * FROM fp WHERE source <> 'src0')
    SELECT i.doc_id, i.source,
           (c.f IS NOT NULL) AS already_in_corpus
    FROM incoming i LEFT JOIN corpus c ON i.f = c.f
    """,
)
def dedup_incremental_exact(spark, sf_dir):
    """Incremental ingest dedup: flag each INCOMING document (source !=
    'src0') whose canonical fingerprint already exists in the CORPUS
    partition (source = 'src0') — the join every ingestion pipeline runs
    against its historical fingerprint table instead of re-deduping the
    whole corpus per batch.

    Scale: the corpus side reduces to DISTINCT fingerprints once (in
    production that table is maintained incrementally and bucketed by
    fingerprint, making this a zero-exchange join on the corpus side);
    the probe is one equi-join keyed on the hash — uniformly distributed
    by construction, so no skew. A bloom filter on the corpus fingerprints
    (built free by AQE's runtime filter when the incoming batch is
    selective) short-circuits most probes before the shuffle.
    """
    docs = table(spark, sf_dir, 'documents')
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' ')))
    keyed = docs.select('doc_id', 'source', fp.alias('f'))
    corpus = (
        keyed.filter(F.col('source') == 'src0')
        .select(F.col('f').alias('cf'))
        .distinct()
    )
    incoming = keyed.filter(F.col('source') != 'src0')
    return incoming.join(
        corpus, incoming.f == corpus.cf, 'left'
    ).select(
        'doc_id', 'source', F.col('cf').isNotNull().alias('already_in_corpus')
    )


# -- prefix-filtered exact set-similarity join (AllPairs / PPJoin) -----------


@register(
    'dedup_jaccard_prefix_filter',
    oracle=f"""{_SQL_TOKS},
    sh AS (
        SELECT doc_id, unnest({_sql_shingles(3)}) AS s FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           (CAST(c AS DOUBLE) / (sa.n + sb.n - c)) AS jaccard
    FROM co
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE (CAST(c AS DOUBLE) / (sa.n + sb.n - c)) >= 0.5
    """,
)
def dedup_jaccard_prefix_filter(spark, sf_dir):
    """Exact 3-gram Jaccard >= 0.5 via prefix filtering (AllPairs/PPJoin).

    Same output as ``dedup_ngram_jaccard`` — the oracle IS the brute-force
    inverted-index join — but the candidate generation only indexes each
    document's PREFIX under a rarest-first global token order: with
    threshold t and set size n, any pair with J >= t must share one of the
    first ``n - ceil(t*n) + 1`` tokens (Bayardo et al., WWW'07; Xiao et
    al., WWW'08). A length filter (``t*|a| <= |b| <= |a|/t``) prunes the
    rest, then surviving candidate pairs are verified exactly against the
    full per-doc shingle arrays.

    Scale: this is THE web-scale formulation. The full inverted index on a
    near-dup corpus is quadratic in the hot posting lists (stop-shingles
    shared by half the corpus); the prefix index keeps only each doc's
    rarest ~(1-t) fraction, so frequent shingles — the skew — are exactly
    the ones dropped from the index. Verification joins two fixed-width
    per-doc arrays on the (small) deduped candidate set instead of
    re-aggregating the token stream. Two token-stream shuffles (global df,
    per-doc rank) + one candidate shuffle, all key-uniform.
    """
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    return _prefix_filter_pairs(docs, t=0.5)


def _prefix_filter_pairs(docs, t: float):
    """AllPairs/PPJoin candidate generation + exact verification.

    ``docs`` must have (doc_id, text); returns (doc_a, doc_b, jaccard) for
    every pair with 3-gram set Jaccard >= ``t``, doc_a < doc_b. Exact —
    property-tested against brute force on adversarial corpora
    (tests/test_dedup_skew.py).
    """
    from pyspark.sql import Window

    sh = docs.select('doc_id', F.explode(_spark_shingles(3)).alias('s'))

    # Global document frequency per shingle: the rarest-first total order.
    by_s = Window.partitionBy('s')
    by_doc = Window.partitionBy('doc_id')
    ranked = (
        sh.withColumn('df', F.count(F.lit(1)).over(by_s))
        .withColumn('n', F.count(F.lit(1)).over(by_doc))
        .withColumn(
            'pos',
            F.row_number().over(by_doc.orderBy(F.asc('df'), F.asc('s'))),
        )
    )
    # Jaccard-t prefix: n - ceil(t*n) + 1 tokens.
    prefix = ranked.filter(
        F.col('pos') <= F.col('n') - F.ceil(F.lit(t) * F.col('n')) + 1
    )

    a, b = prefix.alias('a'), prefix.alias('b')
    cand = (
        a.join(
            b,
            (F.col('a.s') == F.col('b.s'))
            & (F.col('a.doc_id') < F.col('b.doc_id'))
            # length filter: J >= t forces t*|b| <= |a| and t*|a| <= |b|
            & (F.lit(t) * F.col('b.n') <= F.col('a.n'))
            & (F.lit(t) * F.col('a.n') <= F.col('b.n')),
        )
        .select(
            F.col('a.doc_id').alias('doc_a'), F.col('b.doc_id').alias('doc_b')
        )
        .distinct()
    )
    # r12 optimization (guide §1.2 step 1): on the small local layout the
    # per-doc set tables broadcast, so the exact verification — an
    # array_intersect over every surviving candidate pair — runs fused
    # into the candidate distinct's AQE-coalesced output (measured 4 of
    # 32 partitions at sf0.1, the stage being the query's dominant cost).
    # spread_small pins the verify stage core-wide there (4.37s -> 2.08s
    # interleaved A/B, identical pairs); on production layouts it no-ops
    # and the verify joins shuffle-cluster by doc id as before.
    cand = spread_small(cand, 'doc_a', 'doc_b')

    sets = sh.groupBy('doc_id').agg(
        F.collect_list('s').alias('arr'), F.count(F.lit(1)).alias('n')
    )
    sa, sb = sets.alias('sa'), sets.alias('sb')
    inter = F.size(F.array_intersect(F.col('sa.arr'), F.col('sb.arr')))
    verified = (
        cand.join(sa, F.col('doc_a') == F.col('sa.doc_id'))
        .join(sb, F.col('doc_b') == F.col('sb.doc_id'))
        .withColumn('c', inter)
    )
    jac = F.col('c').cast('double') / (
        F.col('sa.n') + F.col('sb.n') - F.col('c')
    )
    return verified.select(
        'doc_a', 'doc_b', jac.alias('jaccard')
    ).filter(F.col('jaccard') >= t)


# ---------------------------------------------------------------------------
# Incremental NEAR-dup ingest: probe each incoming document's LSH band
# buckets against the CORPUS partition's band table — the near-duplicate
# analogue of dedup_incremental_exact, and the join every ingestion
# pipeline runs per batch instead of re-banding the whole corpus. In
# production the corpus band table is maintained incrementally (append
# the incoming bands after the probe) and bucketed on (band_id, bh), so
# the probe is a zero-exchange join on the corpus side; the band hash is
# md5-uniform, so no skew beyond genuine boilerplate — which the salted
# variant's triangle decomposition already covers.
# ---------------------------------------------------------------------------


@register(
    'dedup_incremental_minhash',
    oracle=_minhash_ctes()
    + """,
    src AS (SELECT doc_id, source FROM documents),
    cand AS (
        SELECT DISTINCT i.doc_id AS in_doc, c.doc_id AS corpus_doc
        FROM bands i
        JOIN bands c ON i.band_id = c.band_id AND i.bh = c.bh
        JOIN src si ON si.doc_id = i.doc_id AND si.source <> 'src0'
        JOIN src sc ON sc.doc_id = c.doc_id AND sc.source = 'src0'
    )
    SELECT in_doc, corpus_doc FROM cand
    """,
)
def dedup_incremental_minhash(spark, sf_dir):
    """Batch-vs-corpus near-dup probe (module note above)."""
    docs = _minhash_docs(spark, sf_dir)
    bands = _minhash_bands(docs)
    src = docs.select('doc_id', 'source')
    keyed = bands.join(src, 'doc_id')
    incoming = keyed.filter(F.col('source') != 'src0').select(
        F.col('doc_id').alias('in_doc'), 'band_id', 'bh'
    )
    corpus = keyed.filter(F.col('source') == 'src0').select(
        F.col('doc_id').alias('corpus_doc'), 'band_id', 'bh'
    )
    return (
        incoming.join(corpus, ['band_id', 'bh'])
        .select('in_doc', 'corpus_doc')
        .distinct()
    )


# ---------------------------------------------------------------------------
# Large-star / small-star connected components — the alternating-star
# algorithm for billion-edge graphs (Kiveris et al., "Connected Components
# in MapReduce and Beyond", SoCC'14). Same contract (and oracle) as
# `dedup_connected_components`; different convergence mechanics:
#
#   large-star(u): attach every STRICTLY LARGER neighbor of u to
#                  m = min(N(u) + {u});
#   small-star(u): over edges directed larger->smaller, attach u and its
#                  smaller neighbors to m = min of that set.
#
# Label propagation converges in diameter(D) rounds; alternating stars
# converge in O(log n) rounds REGARDLESS of diameter — the right choice when
# dedup clusters chain (A~B~C~... boilerplate chains at web scale produce
# long paths that defeat per-round min-propagation). Each round is two
# (groupBy min + join back) stages over the current edge list; edges stay
# deduplicated so the list shrinks toward one star per component. The
# convergence check rides the per-round localCheckpoint as an observe()
# metric (rounds become stable when every edge already points at its
# component min and both stars emit the edge set unchanged) — one job per
# half-round, no extra scan, same design as `_connected_components`.
# ---------------------------------------------------------------------------


def _star_round(edges, large: bool):
    """One star contraction. ``edges`` is (s, d) — symmetric for the large
    star, directed larger->smaller for the small star. Returns the emitted
    (s, d) edge list, deduplicated, self-loops dropped."""
    m = (
        edges.groupBy('s')
        .agg(F.least(F.col('s'), F.min('d')).alias('m'))
        .select(F.col('s').alias('u'), 'm')
    )
    joined = edges.join(m, edges['s'] == F.col('u'))
    if large:
        out = joined.filter(F.col('d') > F.col('s')).select(
            F.col('d').alias('s'), F.col('m').alias('d')
        )
    else:
        out = joined.filter(F.col('d') != F.col('m')).select(
            F.col('d').alias('s'), F.col('m').alias('d')
        ).unionByName(
            m.filter(F.col('u') != F.col('m')).select(
                F.col('u').alias('s'), F.col('m').alias('d')
            )
        )
    return out.filter(F.col('s') != F.col('d')).distinct()


LARGESTAR_MAX_ROUNDS = 12  # O(log n) rounds: 2^12 components is the cap


def _largestar_components(pairs, nodes, a: str, b: str, node_col: str):
    """Alternating large-star/small-star contraction (module note above)
    over an undirected pair list: the same call shape and result as
    :func:`_connected_components` — (node_col, cluster_id) with cluster_id
    = min node id of the component — in O(log n) rounds regardless of
    diameter. A round is stable when its edge count and edge-set hash
    repeat the previous round's; raises RuntimeError if
    ``LARGESTAR_MAX_ROUNDS`` pass without that."""
    from pyspark.sql import Observation

    edges = _symmetrize(pairs, a, b).distinct().localCheckpoint()
    prev = None
    for _ in range(LARGESTAR_MAX_ROUNDS):
        # Large star consumes the symmetric list; small star consumes the
        # larger->smaller orientation of the large star's output.
        sym = _star_round(_symmetrize(edges, 's', 'd').distinct(), large=True)
        directed = (
            sym.select(F.greatest('s', 'd').alias('s'), F.least('s', 'd').alias('d'))
            .distinct()
        )
        obs = Observation()
        edges = (
            _star_round(directed, large=False)
            .observe(
                obs,
                F.count(F.lit(1)).alias('n'),
                F.bit_xor(F.xxhash64('s', 'd')).alias('sig'),
            )
            .localCheckpoint()  # eager: materializes + collects the metric
        )
        cur = (obs.get['n'], obs.get['sig'])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            'alternating-star contraction did not converge in '
            f'{LARGESTAR_MAX_ROUNDS} rounds'
        )
    # Converged edges are stars (member -> component min). Singletons map to
    # themselves; min() guards the (already converged) star property.
    stars = edges.groupBy('s').agg(F.min('d').alias('root'))
    return nodes.join(
        stars, nodes[node_col] == stars['s'], 'left'
    ).select(
        node_col, F.coalesce('root', node_col).alias('cluster_id')
    )


@register('dedup_cc_largestar', oracle=_cc_oracle())
def dedup_cc_largestar(spark, sf_dir):
    """Duplicate clusters via alternating large-star/small-star contraction
    (module note above): every document labeled with the min doc_id of its
    near-dup component. Identical result set to the label-propagation
    variant `dedup_connected_components` — both run against the same
    recursive-CTE oracle, and tests/test_pipeline_ops.py asserts that
    :func:`_largestar_components` and :func:`_connected_components` agree
    on adversarial chain/star/clique graphs."""
    return _largestar_components(
        _minhash_pairs(spark, sf_dir),
        table(spark, sf_dir, 'documents').select('doc_id'),
        'doc_a',
        'doc_b',
        'doc_id',
    )


# ---------------------------------------------------------------------------
# Sparse-vector cosine similarity join (inverted-index AllPairs): the
# bag-of-words counterpart to the dense-embedding ANN family — TF vectors
# never materialize; the dot product is assembled from the inverted index
# (tf rows joined on the shared token), which is exactly how sparse
# similarity is computed at scale (Elasticsearch/Lucene scoring, AllPairs/
# PPJoin literature). Distinct from `dedup_ngram_jaccard` (set overlap —
# weights ignored) and `dedup_embedding_cosine` (dense float vectors).
#
# Exactness: integer tf counts; per-pair dot and per-doc squared norms are
# integer sums; the ranking statistic is cosine^2 = dot^2/(|a|^2*|b|^2) —
# one IEEE divide of exactly-representable integers, monotone in cosine
# (all dots are >= 0 here), so the top-25 set and order match bit-for-bit
# with the doc-id tiebreak.
#
# Scale: the (doc_a, doc_b) partial products are map-side combinable; the
# shuffle keys on the pair, never on a doc's full vector. The known cost of
# EXACT AllPairs is sum(df^2) over tokens — stop-token skew lands on the
# same salting machinery measured in SCALE.md, and thresholded production
# workloads prune with the rarest-first prefix filter already shipped as
# `dedup_jaccard_prefix_filter` (dropping hot terms from the INDEX changes
# cosine, so the exact gate keeps the full index).
# ---------------------------------------------------------------------------

_COS_PAIR_K = 25


def _pair_dots(tf, term: str):
    """Sort-merge AllPairs dot product over (doc_id, term, tf) postings:
    (doc_a, doc_b, dot) for every doc_a < doc_b sharing a term, with the
    integer dot summed per pair."""
    a = tf.select(
        F.col('doc_id').alias('doc_a'), term, F.col('tf').alias('tfa')
    )
    b = tf.select(
        F.col('doc_id').alias('doc_b'), term, F.col('tf').alias('tfb')
    )
    return (
        a.join(b, term)
        .filter(F.col('doc_a') < F.col('doc_b'))
        .groupBy('doc_a', 'doc_b')
        .agg(F.sum(F.col('tfa') * F.col('tfb')).cast('bigint').alias('dot'))
    )


def _top_cos2_pairs(dp, tf):
    """Top-``_COS_PAIR_K`` pairs of ``dp`` by cosine^2 = dot^2/(|a|^2*|b|^2),
    with the integer squared norms summed from the ``tf`` postings and the
    doc-id tiebreak."""
    n2 = tf.groupBy('doc_id').agg(
        F.sum(F.col('tf') * F.col('tf')).cast('bigint').alias('n2')
    )
    na = n2.select(F.col('doc_id').alias('doc_a'), F.col('n2').alias('na2'))
    nb = n2.select(F.col('doc_id').alias('doc_b'), F.col('n2').alias('nb2'))
    return (
        dp.join(na, 'doc_a')
        .join(nb, 'doc_b')
        .select(
            'doc_a',
            'doc_b',
            'dot',
            (
                (F.col('dot') * F.col('dot')).cast('double')
                / (F.col('na2') * F.col('nb2')).cast('double')
            ).alias('cos2'),
        )
        .orderBy(F.desc('cos2'), 'doc_a', 'doc_b')
        .limit(_COS_PAIR_K)
    )


@register(
    'dedup_tf_cosine_pairs',
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    n2 AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1
    ),
    dp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM tf a JOIN tf b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dot,
           CAST(dot * dot AS DOUBLE) / CAST(na.n2 * nb.n2 AS DOUBLE) AS cos2
    FROM dp
    JOIN n2 na ON doc_a = na.doc_id
    JOIN n2 nb ON doc_b = nb.doc_id
    ORDER BY cos2 DESC, doc_a, doc_b LIMIT {_COS_PAIR_K}
    """,
)
def dedup_tf_cosine_pairs(spark, sf_dir):
    """Top-25 most cosine-similar document pairs over TF bag-of-words
    vectors via the inverted index (module note above).

    MEASURED SCALE LIMIT (sf1 oracle pass): the synthetic corpus
    has a CLOSED ~300-term vocabulary, so every base token is a stop
    token (df ~ N) and the exact AllPairs cost sum(df^2) reaches ~2.5e10
    pair-partials at sf1 (50k docs) — the one registry query whose sf1
    check is small-SF-only (exact at sf0.001/0.01/0.1). This is the cost
    model of EXACT all-pairs cosine, not a plan defect: on Zipfian real
    corpora the hot tail is bounded, and corpus-scale similarity goes
    through the shipped sub-quadratic paths (MinHash-LSH banding, the
    ANN family, `dedup_jaccard_prefix_filter`)."""
    # Two plan shapes over the same integer dot/norm arithmetic. On a
    # provably small local layout (spread_small returned a new frame) the
    # corpus is spread by doc_id once and the (tok -> [(doc_b, tfb)])
    # postings are broadcast: every later clustering (tf's (doc_id, tok)
    # agg, n2, the (doc_a, doc_b) agg) is a superset of the spread key, so
    # the pair partials never cross an exchange and each partial aggregate
    # sees only its own docs' groups. The postings are corpus-sized, not
    # bounded like a dim table, so every other layout takes the sort-merge
    # AllPairs join instead of risking a driver-side broadcast.
    base = table(spark, sf_dir, 'documents')
    docs = spread_small(base, 'doc_id')
    small_local = docs is not base
    tf = (
        docs.select('doc_id', F.explode(_CF.tokens('text')).alias('tok'))
        .groupBy('doc_id', 'tok')
        .agg(F.count(F.lit(1)).alias('tf'))
    )
    if small_local:
        postings = tf.groupBy('tok').agg(
            F.collect_list(
                F.struct(
                    F.col('doc_id').alias('doc_b'), F.col('tf').alias('tfb')
                )
            ).alias('ps')
        )
        dp = (
            tf.join(F.broadcast(postings), 'tok')
            .select(
                F.col('doc_id').alias('doc_a'),
                F.col('tf').alias('tfa'),
                F.explode(
                    F.expr('filter(ps, p -> p.doc_b > doc_id)')
                ).alias('p'),
            )
            .groupBy('doc_a', F.col('p.doc_b').alias('doc_b'))
            .agg(
                F.sum(F.col('tfa') * F.col('p.tfb')).cast('bigint').alias('dot')
            )
        )
    else:
        dp = _pair_dots(tf, 'tok')
    return _top_cos2_pairs(dp, tf)


# ---------------------------------------------------------------------------
# df-capped TF-cosine (the sf1-feasible production variant of the exact
# AllPairs gate above): cosine over 3-GRAM SHINGLE term vectors with the
# classic max-df drop — terms appearing in more than COS_DF_CAP documents
# are removed from the inverted index BEFORE the pair join, and the norms
# are recomputed over the surviving (cold) terms, so the statistic is the
# EXACT cosine of the cold-term projections of both vectors ("exact on
# the remaining mass"). Contract: a hot term contributes to NO pair's dot
# or norm — pairs similar only through boilerplate terms rank by their
# residual; a pair sharing no cold term is absent. With df_t <= cap for
# every indexed term, the pair-partial cost is sum(df^2) <= cap * sum(df)
# = cap * |postings| — LINEAR in the corpus for fixed cap, vs the
# uncapped gate's unbounded sum(df^2) (measured ~2.5e10 at sf1 on this
# closed-vocabulary corpus, the one registry row whose exact form is
# small-SF-only).
#
# Term choice: 3-gram shingles, not unigrams — this corpus has a CLOSED
# 31-token vocabulary where every unigram's df is ~N (min 5% of docs), so
# any unigram max-df cap is degenerate (drops all or nothing); shingled
# terms are the standard df-cappable similarity index (w-shingling), df
# max 25 at sf0.1 / ~250 at sf1, far under the cap — the gate SFs
# exercise the exact-on-remainder path and the synthetic cap test
# exercises the drop.
# Scale: df count is map-side combinable; the hot-term set (corpus/cap-
# bounded) is checkpointed once and broadcast anti-joined onto the
# postings — shuffle-free, partitioning-preserving (the same idiom as
# dedup_exact_substr's anchor cap); pair partials combine map-side; the
# top-K is TakeOrderedAndProject (no global sort).
# ---------------------------------------------------------------------------

COS_DF_CAP = 1000  # max document frequency for an indexed term


def _cos_capped_postings(spark, sf_dir):
    """UNCHECKPOINTED capped postings pipeline (doc_id, term, tf) —
    exposed separately so the plan pin can assert the shape that the
    query's localCheckpoint would otherwise hide: the tokenize-once
    doc_id repartition barrier, the map-side-combinable df count, and
    the broadcast anti join dropping hot terms."""
    docs = table(spark, sf_dir, 'documents')
    # Tokenize once behind a doc_id repartition — the same parallelism
    # barrier as dedup_exact_substr's gram stage: the ~3x gram explode and
    # the term counts above it run on the barrier's partitions, not on
    # the scan's. spread_cluster pins the barrier's partition count to
    # defaultParallelism on the few-file driver layout (AQE's
    # parallelism-first coalescing left the gram stage above the few-MB
    # local shuffle on 2-3 of 32 cores) and keeps the AQE-elastic
    # repartition('doc_id') on production layouts.
    toks = spread_cluster(
        docs.select('doc_id', _CF.tokens('text').alias('toks')), 'doc_id'
    )
    tf = (
        toks.select(
            'doc_id', F.explode(_CF.word_ngrams_of('toks', 3)).alias('term')
        )
        .groupBy('doc_id', 'term')
        .agg(F.count(F.lit(1)).alias('tf'))
    )
    hot = (
        tf.groupBy('term')
        .agg(F.count(F.lit(1)).alias('df'))
        .filter(F.col('df') > COS_DF_CAP)
        .select('term')
    ).localCheckpoint()
    return tf.join(F.broadcast(hot), 'term', 'left_anti')


@register(
    'dedup_tf_cosine_capped',
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS term
        FROM t, unnest(range(1, len(toks) - 1)) AS u(i)
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY 1, 2),
    dfc AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    cold AS (
        SELECT tf.doc_id, tf.term, tf.tf
        FROM tf JOIN dfc USING (term) WHERE dfc.df <= {COS_DF_CAP}
    ),
    n2 AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM cold GROUP BY 1
    ),
    dp AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM cold a JOIN cold b ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, dot,
           CAST(dot * dot AS DOUBLE) / CAST(na.n2 * nb.n2 AS DOUBLE) AS cos2
    FROM dp
    JOIN n2 na ON doc_a = na.doc_id
    JOIN n2 nb ON doc_b = nb.doc_id
    ORDER BY cos2 DESC, doc_a, doc_b LIMIT {_COS_PAIR_K}
    """,
)
def dedup_tf_cosine_capped(spark, sf_dir):
    """Top-25 cosine-similar document pairs over df-capped 3-gram shingle
    TF vectors — exact cosine of the cold-term (df <= COS_DF_CAP)
    projections (module note above states the contract and the
    linear-in-corpus cost bound). Determinism: integer dots and norms,
    one IEEE divide of exactly-representable values (dot ~ doc length,
    dot^2 << 2^53; n2 products < 2^53), doc-id tiebreak."""
    # Materialize the capped postings ONCE (the suffix-array analog: the
    # paper also materializes its index before pairing): n2, and both
    # sides of the pair join read the checkpoint instead of re-running
    # the tokenize+explode+agg pipeline per reference (4 passes -> 2:
    # one for the df count, one here).
    cold = _cos_capped_postings(spark, sf_dir).localCheckpoint()
    return _top_cos2_pairs(_pair_dots(cold, 'term'), cold)


# ---------------------------------------------------------------------------
# Recursive-CTE reachability: Spark 4's WITH RECURSIVE executed BY SPARK
# (everywhere else in this module recursion appears only on the DuckDB
# oracle side, with the Spark half an explicit DataFrame loop). The edge
# list is the oriented (doc_a < doc_b) MinHash-LSH candidate graph — an
# acyclic orientation, so UNION ALL recursion terminates without a visited
# set; the depth bound caps chain dups (A~B~C~D) at 4 hops, and MIN(depth)
# per reachable pair is deterministic regardless of path enumeration
# order. Spark's recursive CTE only supports UNION ALL (no UNION-distinct
# dedup between rounds, verified SQLSTATE 42836), which is exactly why the
# unbounded/cyclic closure ships as the iterative min-label loop
# (`dedup_connected_components`) instead: on a clique-ish component UNION
# ALL multiplies paths combinatorially with depth. This operator is the
# bounded-hop complement: "how far does boilerplate propagate", with hop
# distance attached.
# Scale: pairs is tiny relative to the corpus (near-dup candidates), each
# recursion round is one equi-join on doc_a keyed by the previous
# frontier; 4 rounds max. The corpus-sized work (signatures, banding)
# happens once, before the recursion.
# ---------------------------------------------------------------------------


@register(
    'dedup_recursive_hops',
    oracle=_minhash_ctes(recursive=True)
    + """,
    reach AS (
        SELECT doc_a AS src, doc_b AS dst, 1 AS depth FROM pairs
        UNION ALL
        SELECT r.src, p.doc_b, r.depth + 1
        FROM reach r JOIN pairs p ON p.doc_a = r.dst
        WHERE r.depth < 4
    )
    SELECT src AS doc_a, dst AS doc_b, CAST(MIN(depth) AS BIGINT) AS hops
    FROM reach GROUP BY src, dst
    """,
)
def dedup_recursive_hops(spark, sf_dir):
    """Bounded-depth transitive reachability (with min hop count) over the
    oriented near-dup candidate DAG, via Spark's own WITH RECURSIVE."""
    # Materialize the (tiny) edge list before recursing — the UnionLoop
    # references the view once per iteration, and without the checkpoint
    # each round re-executes the entire signature+banding pipeline
    # (measured 10.4s -> 0.64s at sf0.1). Same idiom as the CC loop's
    # edges.localCheckpoint().
    pairs = _minhash_pairs(spark, sf_dir).localCheckpoint()
    pairs.createOrReplaceTempView('cb_neardup_edges')
    return spark.sql(
        """
        WITH RECURSIVE reach(src, dst, depth) AS (
            SELECT doc_a, doc_b, 1 FROM cb_neardup_edges
            UNION ALL
            SELECT r.src, e.doc_b, r.depth + 1
            FROM reach r JOIN cb_neardup_edges e ON e.doc_a = r.dst
            WHERE r.depth < 4
        )
        SELECT src AS doc_a, dst AS doc_b, CAST(MIN(depth) AS BIGINT) AS hops
        FROM reach GROUP BY src, dst
        """
    )


# ---------------------------------------------------------------------------
# LSH band diagnostics: the bucket-size histogram that the adaptive salting
# gate reasons over, exposed as an operator. Per band: bucket count,
# colliding-bucket count, the hottest bucket, and the candidate-pair mass
# sum(c*(c-1)/2) that the pair join will shuffle. This is the tuning
# surface for (bands x rows) LSH parameter sweeps and the observability
# hook for "why did candidate generation explode on this corpus".
# Scale: one count per (band, bucket) over the band stream (map-side
# combinable), then 4-row output — strictly cheaper than the pair join it
# instruments.
# ---------------------------------------------------------------------------


@register(
    'dedup_lsh_band_diagnostics',
    oracle=_minhash_ctes()
    + """,
    bc AS (
        SELECT band_id, bh, COUNT(*) AS c FROM bands GROUP BY band_id, bh
    )
    SELECT band_id,
           COUNT(*) AS n_buckets,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_colliding,
           MAX(c) AS max_bucket,
           CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS cand_pairs
    FROM bc GROUP BY band_id
    """,
)
def dedup_lsh_band_diagnostics(spark, sf_dir):
    """Band-bucket histogram of the MinHash LSH index (see module note)."""
    bands = _minhash_bands(_minhash_docs(spark, sf_dir))
    bc = bands.groupBy('band_id', 'bh').agg(F.count(F.lit(1)).alias('c'))
    return bc.groupBy('band_id').agg(
        F.count(F.lit(1)).alias('n_buckets'),
        F.sum((F.col('c') > 1).cast('int')).cast('bigint').alias('n_colliding'),
        F.max('c').alias('max_bucket'),
        F.sum(F.col('c') * (F.col('c') - 1) / 2)
        .cast('bigint')
        .alias('cand_pairs'),
    )


# ---------------------------------------------------------------------------
# Containment near-dup: C(A,B) = |A ∩ B| / |A| over distinct 3-gram sets.
# The asymmetric complement of Jaccard — a short doc quoted inside a long
# one has high containment but low Jaccard, so symmetric dedup never sees
# it. This is the operator for "is this doc (mostly) inside another"
# (quote mining, boilerplate inclusion, sub-document plagiarism).
# Scale: the probe side is prefix-filtered exactly like the AllPairs join
# (C >= t forces A's rarest |A| - ceil(t|A|) + 1 shingles to intersect B),
# but the INDEX side must stay full — containment has no length filter in
# the super-doc direction (any B can contain a small A). Verification then
# joins two fixed-width per-doc arrays on the deduped candidate set. The
# shuffles are keyed on shingles / candidate pairs, never all-pairs.
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.6


@register(
    'dedup_containment_pairs',
    oracle=f"""{_SQL_TOKS},
    sh AS (
        SELECT doc_id, unnest({_sql_shingles(3)}) AS s FROM t
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_sub, doc_super,
           (CAST(c AS DOUBLE) / sa.n) AS containment
    FROM co
    JOIN sizes sa ON sa.doc_id = doc_sub
    WHERE (CAST(c AS DOUBLE) / sa.n) >= {_CONTAIN_T}
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Directed containment pairs (sub -> super) with C >= 0.6 over
    distinct 3-gram sets; prefix-filtered probe, full index, exact
    verification (see the module note)."""
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    return _containment_pairs(docs, t=_CONTAIN_T)


def _fits_broadcast(df) -> bool:
    """Conf-gated broadcast decision for a verification build side: the
    optimizer's own size estimate of ``df`` against
    ``spark.sql.autoBroadcastJoinThreshold``. Returns False when the user
    disabled broadcasting (threshold <= 0) or the estimate exceeds it —
    callers then pin a shuffle-HASH join instead (never sort-merge; see
    the containment-verify note). Estimate errors only flip WHICH exact
    plan runs, never the answer — and so does any failure here: the
    threshold is read through Spark's own typed conf getter (the parse
    the optimizer itself uses), and any failure of it or of the stats
    probe (private-API drift across Spark upgrades) falls back to the
    always-safe shuffle-hash branch instead of surfacing as a
    query-construction exception."""
    try:
        conf = df.sparkSession._jsparkSession.sessionState().conf()
        threshold = int(conf.autoBroadcastJoinThreshold())
        if threshold <= 0:
            return False
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return False
    return est <= threshold


def _containment_pairs(docs, t: float):
    """Prefix-filtered directed containment join.

    ``docs`` must have (doc_id, text); returns (doc_sub, doc_super,
    containment) for every ordered pair with distinct-3-gram containment
    |sub ∩ super| / |sub| >= ``t``. Exact — property-tested against brute
    force on adversarial corpora (tests/test_dedup_skew.py).

    Shape (sf1 profile drove each choice; was 23.7s, see git history):

    - The per-doc shingle ARRAY table (1 row/doc, sorted array + its
      size) is computed once and persisted: tokenize+shingle is the
      single most expensive projection in the query and the old plan
      recomputed it four times (~4s/pass at sf1). The array row is what
      verification needs anyway, and ``n = size(arr)`` makes the
      separate per-doc count aggregation (and its broadcast) free. At
      100 TB the persist becomes a scratch-parquet materialization —
      1 row/doc, roughly text-sized — the standard shape for a
      multi-consumer intermediate.
    - Document frequency comes from a map-side-combinable
      ``groupBy(s).count()`` joined back on s, NOT a
      ``count over (partition by s)`` window: the window sorts the full
      2.6M-row stream; the aggregate shrinks it to the 725k-row vocab
      before the join.
    - The only remaining window is the per-doc rarest-first rank that
      picks the prefix — partitioned by doc_id, never global. The
      rarest-first ORDER is a pure candidate-count optimization: the
      prefix-filter guarantee (C >= t forces any |A|-ceil(t|A|)+1
      shingles of A to intersect B) holds for ANY fixed prefix, so
      correctness never depends on df.
    """
    from pyspark.sql import Window

    # _spark_shingles is per-doc DISTINCT by construction, so the exploded
    # (doc_id, s) stream needs no dedup shuffle. array_sort makes the
    # verification intersect a sorted-merge rather than a hash probe and
    # costs one in-memory sort of an already-persisted row.
    arrs = docs.select(
        'doc_id', F.array_sort(_spark_shingles(3)).alias('arr')
    ).withColumn('n', F.size('arr'))
    arrs.persist()

    sh = arrs.select('doc_id', 'n', F.explode('arr').alias('s'))

    dfs = sh.groupBy('s').agg(F.count(F.lit(1)).alias('df'))
    by_doc = Window.partitionBy('doc_id')
    ranked = sh.join(dfs, 's').withColumn(
        'pos',
        F.row_number().over(by_doc.orderBy(F.asc('df'), F.asc('s'))),
    )
    prefix = ranked.filter(
        F.col('pos')
        <= F.col('n') - F.ceil(F.lit(t) * F.col('n')) + 1
    )

    # The one length filter containment admits: C >= t forces B to hold at
    # least t*|A| of A's shingles, so |B| >= t*|A| (no upper bound — any
    # B may contain a small A). n rides the index stream straight off the
    # persisted array row — no per-doc count aggregation needed.
    cand = (
        prefix.alias('a')
        .join(
            sh.alias('b'),
            (F.col('a.s') == F.col('b.s'))
            & (F.col('a.doc_id') != F.col('b.doc_id'))
            & (
                F.col('b.n').cast('double')
                >= F.lit(t) * F.col('a.n')
            ),
        )
        .select(
            F.col('a.doc_id').alias('doc_sub'),
            F.col('b.doc_id').alias('doc_super'),
        )
        .distinct()
    )

    # Verification joins the candidate pairs back to the persisted array
    # rows — the persist is also the pushdown barrier that keeps the
    # join's inferred isnotnull filters from dragging the whole shingle
    # expression below the repartition into the single-split parquet scan
    # (measured: that serializes the corpus-wide gram compute into one
    # task). The array side is broadcast-PINNED when it fits: cold-stats
    # AQE picks sort-merge here, and SMJ sorts the first join's OUTPUT —
    # candidate pairs already widened by a ~1.3KB shingle array each
    # (2.3GB of sort spill at sf1; measured 92s vs 9s). The broadcast
    # table is 1 row/doc of arrays (65MB at sf1); where the corpus
    # outgrows the broadcast threshold, the SAME plan switches to a
    # shuffle-HASH join on doc_id (hash, not merge — it's the sort of
    # wide rows, not the shuffle, that kills). The switch is conf-gated
    # below: the optimizer's own size estimate of the array table vs
    # spark.sql.autoBroadcastJoinThreshold; both branches are plan-pinned
    # (tests/test_plans.py).
    if _fits_broadcast(arrs):
        sa, sb = F.broadcast(arrs).alias('sa'), F.broadcast(arrs).alias('sb')
    else:
        sa = arrs.hint('shuffle_hash').alias('sa')
        sb = arrs.hint('shuffle_hash').alias('sb')
    verified = (
        cand.join(sa, F.col('doc_sub') == F.col('sa.doc_id'))
        .join(sb, F.col('doc_super') == F.col('sb.doc_id'))
        .withColumn(
            'c', F.size(F.array_intersect(F.col('sa.arr'), F.col('sb.arr')))
        )
    )
    containment = F.col('c').cast('double') / F.col('sa.n')
    return verified.filter(containment >= t).select(
        'doc_sub', 'doc_super', containment.alias('containment')
    )


# ---------------------------------------------------------------------------
# Incremental connected components: maintain yesterday's cluster labels
# under a batch of late-arriving edges WITHOUT re-running CC over the
# corpus. New edges are mapped through the existing labels (two equi-joins)
# and contracted to a components-level graph — cluster ids, not documents —
# whose CC then runs over a graph proportional to the DELTA's footprint,
# not the corpus. The relabel join-back is exact because cluster ids are
# component MINIMA: merging components through contracted edges preserves
# "label = min member id" (min of mins). At 100 TB this is the difference
# between an hourly dedup refresh touching the new partition and a full
# 25-round corpus relabel.
# The deterministic old/new edge split (any pair touching a doc_id % 7 == 0
# endpoint arrives "late") exercises real merges at every SF; the oracle is
# the FULL recompute — incremental maintenance must be invisible in the
# result.
# ---------------------------------------------------------------------------


@register('dedup_cc_incremental', oracle=_cc_oracle())
def dedup_cc_incremental(spark, sf_dir):
    """Delta-proportional CC maintenance (see the module note): old-edge
    labels + contracted-graph CC over the new batch == full recompute."""
    pairs = _minhash_pairs(spark, sf_dir).localCheckpoint()
    late = (F.col('doc_a') % 7 == 0) | (F.col('doc_b') % 7 == 0)
    old_edges = pairs.filter(~late)
    new_edges = pairs.filter(late)

    nodes = table(spark, sf_dir, 'documents').select('doc_id')
    # "Yesterday's" state: labels over the old edge set.
    base = _connected_components(old_edges, nodes, 'doc_a', 'doc_b', 'doc_id')

    # Contract: new edges expressed between existing cluster ids.
    la = base.select(
        F.col('doc_id').alias('doc_a'), F.col('cluster_id').alias('ca')
    )
    lb = base.select(
        F.col('doc_id').alias('doc_b'), F.col('cluster_id').alias('cb')
    )
    contracted = (
        new_edges.join(la, 'doc_a')
        .join(lb, 'doc_b')
        .filter(F.col('ca') != F.col('cb'))
        .select('ca', 'cb')
        .distinct()
    )
    cl_nodes = base.select(F.col('cluster_id').alias('cid')).distinct()
    merged = _connected_components(contracted, cl_nodes, 'ca', 'cb', 'cid')

    relabel = merged.select(
        F.col('cid').alias('old_label'),
        F.col('cluster_id').alias('new_label'),
    )
    return base.join(
        relabel, base['cluster_id'] == relabel['old_label']
    ).select('doc_id', F.col('new_label').alias('cluster_id'))


# ---------------------------------------------------------------------------
# k-core peeling over the near-dup candidate graph: iteratively remove
# nodes with degree < k until the k-core remains. The k-core is the dense
# region — boilerplate families, template farms — where pair-level dedup
# underestimates cluster mass; peeling separates it from incidental
# near-dup edges. Fixed 3 rounds of the 2-core, unrolled (the pagerank
# pattern: a deterministic round count keeps the oracle expressible as
# chained CTEs; real corpora converge in a handful of rounds because near-
# dup graphs are shallow). Per round: one degree aggregation (count per
# endpoint over the current edge list) + two semi-joins restricting edges
# to surviving nodes — every shuffle is edge-list-sized, never corpus-
# sized, and each round's edge list is checkpointed so lineage (and
# failure replay) stays one round deep, same as the CC loop.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ROUNDS = 3


def _sql_kcore_round(r: int) -> str:
    # MATERIALIZED: DuckDB inlines a plain CTE at every reference, and each
    # round reads the previous edge list five times, so three inlined
    # rounds take minutes to plan; materialized, the oracle takes about a
    # second at sf0.001
    prev = f'e{r - 1}'
    return f""",
    d{r} AS (
        SELECT v, COUNT(*) AS deg FROM (
            SELECT doc_a AS v FROM {prev}
            UNION ALL SELECT doc_b AS v FROM {prev}
        ) GROUP BY v
    ),
    v{r} AS (SELECT v FROM d{r} WHERE deg >= {_KCORE_K}),
    e{r} AS MATERIALIZED (
        SELECT doc_a, doc_b FROM {prev}
        WHERE doc_a IN (SELECT v FROM v{r})
          AND doc_b IN (SELECT v FROM v{r})
    )"""


@register(
    'graph_kcore_peel',
    oracle=_minhash_ctes()
    + ',\n    e0 AS (SELECT doc_a, doc_b FROM pairs)'
    + ''.join(_sql_kcore_round(r) for r in range(1, _KCORE_ROUNDS + 1))
    + f"""
    SELECT v AS doc_id, COUNT(*) AS deg FROM (
        SELECT doc_a AS v FROM e{_KCORE_ROUNDS}
        UNION ALL SELECT doc_b AS v FROM e{_KCORE_ROUNDS}
    ) GROUP BY v
    """,
)
def graph_kcore_peel(spark, sf_dir):
    """3 unrolled peeling rounds of the 2-core over the LSH candidate
    graph; returns each surviving node with its final-round degree (see
    the module note)."""
    edges = _minhash_pairs(spark, sf_dir).localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col('doc_a').alias('v'))
            .union(edges.select(F.col('doc_b').alias('v')))
            .groupBy('v')
            .agg(F.count(F.lit(1)).alias('deg'))
        )
        keep = deg.filter(F.col('deg') >= _KCORE_K).select('v')
        edges = (
            edges.join(keep.withColumnRenamed('v', 'doc_a'), 'doc_a', 'semi')
            .join(keep.withColumnRenamed('v', 'doc_b'), 'doc_b', 'semi')
            .localCheckpoint()
        )
    return (
        edges.select(F.col('doc_a').alias('doc_id'))
        .union(edges.select(F.col('doc_b').alias('doc_id')))
        .groupBy('doc_id')
        .agg(F.count(F.lit(1)).alias('deg'))
    )


# ---------------------------------------------------------------------------
# Dedup-quality audit: confusion counts of the MinHash-LSH candidate set
# against exact 3-gram Jaccard >= 0.5 ground truth — the measurement that
# justifies (or indicts) the LSH parameters before a corpus-wide dedup
# run. TP/FP/FN come from one full-outer join of the two pair sets;
# precision/recall are reported in integer per-mille (1000*tp div tp+fp)
# so the one-row audit matches the oracle bit-for-bit with no float
# accumulation. Scale: both inputs are the already-bucketed/blocked pair
# pipelines (never all-pairs); the join keys are candidate pairs — output-
# sized, not corpus-sized — and the final aggregate is one row.
# ---------------------------------------------------------------------------


@register(
    'dedup_eval_confusion',
    oracle=_minhash_ctes()
    + """,
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    truth AS (
        SELECT doc_a, doc_b FROM co
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE (CAST(c AS DOUBLE) / (sa.n + sb.n - c)) >= 0.5
    ),
    j AS (
        SELECT (p.doc_a IS NOT NULL) AS in_pred,
               (t.doc_a IS NOT NULL) AS in_truth
        FROM pairs p FULL OUTER JOIN truth t
          ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b
    ),
    cm AS (
        SELECT CAST(SUM(CASE WHEN in_pred AND in_truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
               CAST(SUM(CASE WHEN in_pred AND NOT in_truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
               CAST(SUM(CASE WHEN in_truth AND NOT in_pred THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM j
    )
    SELECT tp, fp, fn,
           1000 * tp // NULLIF(tp + fp, 0) AS precision_milli,
           1000 * tp // NULLIF(tp + fn, 0) AS recall_milli
    FROM cm
    """,
)
def dedup_eval_confusion(spark, sf_dir):
    """LSH-vs-exact-Jaccard confusion audit (see the module note)."""
    pred = _minhash_pairs(spark, sf_dir)
    truth = dedup_ngram_jaccard(spark, sf_dir).select('doc_a', 'doc_b')
    p, t = pred.alias('p'), truth.alias('t')
    j = p.join(
        t,
        (F.col('p.doc_a') == F.col('t.doc_a'))
        & (F.col('p.doc_b') == F.col('t.doc_b')),
        'full_outer',
    ).select(
        F.col('p.doc_a').isNotNull().alias('in_pred'),
        F.col('t.doc_a').isNotNull().alias('in_truth'),
    )
    cm = j.agg(
        F.sum((F.col('in_pred') & F.col('in_truth')).cast('int'))
        .cast('bigint')
        .alias('tp'),
        F.sum((F.col('in_pred') & ~F.col('in_truth')).cast('int'))
        .cast('bigint')
        .alias('fp'),
        F.sum((F.col('in_truth') & ~F.col('in_pred')).cast('int'))
        .cast('bigint')
        .alias('fn'),
    )
    return cm.select(
        'tp',
        'fp',
        'fn',
        F.expr('1000 * tp div NULLIF(tp + fp, 0)').alias('precision_milli'),
        F.expr('1000 * tp div NULLIF(tp + fn, 0)').alias('recall_milli'),
    )


# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup (SNM): the classic entity-resolution blocking
# alternative to LSH — sort the corpus by a normalized key and compare each
# record only to its W nearest neighbors in the sort order.
#
# Scale shape: the global sort rank is computed WITHOUT a single-reducer
# window — rows bucket by the key's first character, each bucket gets a
# partitioned row_number, and per-bucket start offsets (a K-row cumsum)
# broadcast back, the same two-level-rank shape as the positional-slice
# path (sources/arrays.py). Candidate pairs come from W shuffle equi-joins
# on the rank value (rank_b = rank_a + k, k = 1..W) carrying only
# (doc_id, rank); the shingle arrays join in AFTER pair generation, keyed
# by doc_id, so wide rows never ride the rank shuffle. Verification is
# exact 3-gram Jaccard on the O(N*W) candidates — never O(N^2).
#
# Determinism: the sort key is (normalized 32-char prefix, doc_id) — unique
# tiebreak, so ranks match the oracle's row_number exactly; Jaccard is one
# IEEE divide of exact integer set sizes.
# ---------------------------------------------------------------------------

SNM_WINDOW = 3


def _snm_oracle() -> str:
    return rf"""
    WITH t AS (
        SELECT doc_id, lower(trim(substr(text, 1, 32))) AS k,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    g AS (SELECT doc_id, k, {_sql_shingles(3)} AS grams FROM t),
    r AS (
        SELECT doc_id, k, grams,
               row_number() OVER (ORDER BY k, doc_id) AS rn
        FROM g
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.rn AS rank_a, b.rn AS rank_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
               / (len(a.grams) + len(b.grams)
                  - len(list_intersect(a.grams, b.grams))) AS jaccard
    FROM r a JOIN r b ON b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW}
    """


@register('dedup_sorted_neighborhood', oracle=_snm_oracle())
def dedup_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood candidate pairs + exact Jaccard (module note)."""
    from ..functions.ranking import with_global_position

    docs = table(spark, sf_dir, 'documents')
    key = F.lower(F.trim(F.substring('text', 1, 32)))
    d = docs.select(
        'doc_id', key.alias('k'), _spark_shingles(3).alias('grams')
    ).persist()
    # Bucket = 2-char key prefix: MONOTONE in the sort key, so the shared
    # two-level rank applies (functions/ranking.py). A boilerplate-heavy
    # corpus (many docs sharing a prefix) skews tasks, not answers; the
    # escape hatch at scale is the sampled-split-point range bucketing the
    # positional-slice path uses (sources/arrays.py _range_bucket_expr),
    # same two-level shape, equi-depth buckets by construction.
    b = d.select('doc_id', 'k')
    # (doc_id, rn) is two longs/row — persist so the rank pipeline (scan,
    # bucket window, offset broadcast) runs once, not once per join side.
    ranked = (
        with_global_position(b, F.substring('k', 1, 2), ['k', 'doc_id'])
        .select('doc_id', (F.col('__pos') + 1).alias('rn'))
        .persist()
    )
    left = ranked.select(
        F.col('doc_id').alias('doc_a'),
        F.col('rn').alias('rank_a'),
        F.explode(
            F.sequence(F.col('rn') + 1, F.col('rn') + SNM_WINDOW)
        ).alias('rank_b'),
    )
    pairs = left.join(
        ranked.select(
            F.col('doc_id').alias('doc_b'), F.col('rn').alias('rank_b')
        ),
        'rank_b',
    )
    ga = d.select(F.col('doc_id').alias('doc_a'), F.col('grams').alias('ga'))
    gb = d.select(F.col('doc_id').alias('doc_b'), F.col('grams').alias('gb'))
    inter = F.size(F.array_intersect('ga', 'gb'))
    return (
        pairs.join(ga, 'doc_a')
        .join(gb, 'doc_b')
        .select(
            'doc_a',
            'doc_b',
            'rank_a',
            'rank_b',
            (
                inter.cast('double')
                / (F.size('ga') + F.size('gb') - inter)
            ).alias('jaccard'),
        )
    )


# ---------------------------------------------------------------------------
# B-cubed cluster-quality evaluation: the cluster-level complement of the
# pair-level dedup_eval_confusion audit. Predicted clustering = connected
# components over the MinHash-LSH candidate pairs; ground truth = exact
# duplicate groups (canonical-fingerprint equality). For each document,
# B-cubed precision is |pred-cluster ∩ truth-cluster| / |pred-cluster| and
# recall the same over the truth cluster; the reported numbers are the
# corpus averages plus F1 — the standard extrinsic metric for dedup/ER
# clustering (Bagga & Baldwin 1998).
#
# Scale shape: the contingency table (pred, truth, n_pt) is ONE shuffle of
# the per-doc label pairs; per-cluster sums are partial-aggregable hash
# aggs over that tiny table; the three one-row aggregates broadcast into a
# final single-row join. Per-cluster ratios are single IEEE divides summed
# through the decimal accumulator (see _helpers), so the averages match
# the oracle bit-for-bit.
# ---------------------------------------------------------------------------


def _bcubed_oracle() -> str:
    from ._helpers import sql_dsum

    return (
        _minhash_ctes(recursive=True)
        + rf""",
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, other) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.d FROM reach r JOIN edges e ON r.other = e.s
    ),
    pred AS (SELECT doc_id, MIN(other) AS p FROM reach GROUP BY doc_id),
    truth AS (
        SELECT doc_id,
               MIN(doc_id) OVER (
                   PARTITION BY md5(lower(regexp_replace(trim(text),
                                                         '\s+', ' ', 'g')))
               ) AS t
        FROM documents
    ),
    cell AS (
        SELECT p, t, COUNT(*) AS n_pt
        FROM pred JOIN truth USING (doc_id)
        GROUP BY p, t
    ),
    per_p AS (
        SELECT p, SUM(n_pt) AS n_p, SUM(n_pt * n_pt) AS a_p
        FROM cell GROUP BY p
    ),
    per_t AS (
        SELECT t, SUM(n_pt) AS n_t, SUM(n_pt * n_pt) AS a_t
        FROM cell GROUP BY t
    ),
    tot AS (SELECT COUNT(*) AS n_docs FROM documents),
    pr AS (
        SELECT {sql_dsum('CAST(a_p AS DOUBLE) / n_p')} AS sp,
               COUNT(*) AS n_pred
        FROM per_p
    ),
    rc AS (
        SELECT {sql_dsum('CAST(a_t AS DOUBLE) / n_t')} AS st,
               COUNT(*) AS n_truth
        FROM per_t
    )
    SELECT n_docs,
           n_pred AS n_pred_clusters,
           n_truth AS n_truth_clusters,
           sp / n_docs AS bcubed_precision,
           st / n_docs AS bcubed_recall,
           2 * (sp / n_docs) * (st / n_docs)
               / ((sp / n_docs) + (st / n_docs)) AS bcubed_f1
    FROM tot, pr, rc
    """
    )


@register('dedup_bcubed_eval', oracle=_bcubed_oracle())
def dedup_bcubed_eval(spark, sf_dir):
    """B-cubed precision/recall/F1 of LSH-CC clusters vs exact-duplicate
    truth (see module note)."""
    from pyspark.sql import Window

    from ._helpers import dsum

    docs = table(spark, sf_dir, 'documents')
    pairs = _minhash_pairs(spark, sf_dir)
    pred = _connected_components(
        pairs, docs.select('doc_id'), 'doc_a', 'doc_b', 'doc_id'
    ).select('doc_id', F.col('cluster_id').alias('p'))
    fp = F.md5(F.lower(F.regexp_replace(F.trim('text'), r'\s+', ' ')))
    truth = docs.select(
        'doc_id', F.min('doc_id').over(Window.partitionBy(fp)).alias('t')
    )
    cell = (
        pred.join(truth, 'doc_id')
        .groupBy('p', 't')
        .agg(F.count(F.lit(1)).alias('n_pt'))
    )
    per_p = cell.groupBy('p').agg(
        F.sum('n_pt').alias('n_p'),
        F.sum(F.col('n_pt') * F.col('n_pt')).alias('a_p'),
    )
    per_t = cell.groupBy('t').agg(
        F.sum('n_pt').alias('n_t'),
        F.sum(F.col('n_pt') * F.col('n_pt')).alias('a_t'),
    )
    pr = per_p.agg(
        dsum(F.col('a_p').cast('double') / F.col('n_p')).alias('sp'),
        F.count(F.lit(1)).alias('n_pred'),
    )
    rc = per_t.agg(
        dsum(F.col('a_t').cast('double') / F.col('n_t')).alias('st'),
        F.count(F.lit(1)).alias('n_truth'),
    )
    tot = docs.agg(F.count(F.lit(1)).alias('n_docs'))
    prec = F.col('sp') / F.col('n_docs')
    rec = F.col('st') / F.col('n_docs')
    return (
        tot.crossJoin(F.broadcast(pr))
        .crossJoin(F.broadcast(rc))
        .select(
            'n_docs',
            F.col('n_pred').alias('n_pred_clusters'),
            F.col('n_truth').alias('n_truth_clusters'),
            prec.alias('bcubed_precision'),
            rec.alias('bcubed_recall'),
            (2 * prec * rec / (prec + rec)).alias('bcubed_f1'),
        )
    )


# ---------------------------------------------------------------------------
# Label-propagation community detection (LPA) over the near-dup candidate
# graph — the max-frequency-label complement of the min-label connected
# components: each round every node adopts the most common label among its
# neighbors (ties -> smallest label), which splits dense regions CC would
# merge through a single bridge edge. Two synchronous rounds, deterministic
# by construction (integer counts, min-label tiebreak), so the result is
# exactly reproducible and SQL-expressible — classic LPA's random update
# order is replaced by the synchronous variant for that reason.
#
# Scale shape per round: ONE shuffle joins labels to the symmetrized edge
# list + ONE (node, label) count aggregate + the argmax-by-count as a
# min(struct(-cnt, lbl)) hash aggregate — partial-aggregable, no windows;
# isolated nodes keep their own label via the self-loop edges. Rounds are unrolled
# lazily into one plan (fixed depth, same pattern as PageRank's unrolled
# iterations at dedup.py:694).
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    prev = 'l0'
    rounds_sql = ''
    for r in range(1, LPA_ROUNDS + 1):
        rounds_sql += f""",
    c{r} AS (
        SELECT e.s, l.lbl, COUNT(*) AS cnt
        FROM edges e JOIN {prev} l ON e.d = l.doc_id
        GROUP BY e.s, l.lbl
    ),
    n{r} AS (
        SELECT s, min({{'nc': -cnt, 'l': lbl}}).l AS lbl
        FROM c{r} GROUP BY s
    ),
    l{r} AS (
        SELECT d.doc_id, COALESCE(n{r}.lbl, d.doc_id) AS lbl
        FROM documents d LEFT JOIN n{r} ON d.doc_id = n{r}.s
    )"""
        prev = f'l{r}'
    return (
        _minhash_ctes()
        + f""",
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
        UNION ALL
        SELECT doc_id AS s, doc_id AS d FROM documents
    ),
    l0 AS (SELECT doc_id, doc_id AS lbl FROM documents){rounds_sql}
    SELECT doc_id, lbl AS community FROM {prev}
    """
    )


@register('graph_label_propagation', oracle=_lpa_oracle())
def graph_label_propagation(spark, sf_dir):
    """Synchronous 2-round LPA communities over the LSH candidate graph
    (see module note)."""
    pairs = _minhash_pairs(spark, sf_dir)
    docs = table(spark, sf_dir, 'documents').select('doc_id')
    # self-loops: a node's own label joins the count, which breaks the
    # synchronous-LPA two-cycle (an isolated duplicate pair would otherwise
    # swap labels every round and never merge)
    self_loops = docs.select(
        F.col('doc_id').alias('s'), F.col('doc_id').alias('d')
    )
    edges = _symmetrize(pairs, 'doc_a', 'doc_b').union(self_loops).persist()
    labels = docs.select('doc_id', F.col('doc_id').alias('lbl'))
    for _ in range(LPA_ROUNDS):
        counts = (
            edges.join(
                labels.select(
                    F.col('doc_id').alias('d'), F.col('lbl').alias('nlbl')
                ),
                'd',
            )
            .groupBy('s', 'nlbl')
            .agg(F.count(F.lit(1)).alias('cnt'))
        )
        new = counts.groupBy('s').agg(
            F.min(
                F.struct(
                    (-F.col('cnt')).alias('nc'), F.col('nlbl').alias('l')
                )
            )['l'].alias('nlbl')
        )
        labels = (
            docs.join(new.withColumnRenamed('s', 'doc_id'), 'doc_id', 'left')
            .select(
                'doc_id',
                F.coalesce('nlbl', 'doc_id').alias('lbl'),
            )
        )
    return labels.select('doc_id', F.col('lbl').alias('community'))


# ---------------------------------------------------------------------------
# End-to-end entity resolution: the composed dedup workflow a production
# corpus actually runs —
#   candidates = MinHash-LSH buckets  UNION  sorted-neighborhood windows
#   (two independent blocking strategies; each catches pairs the other's
#   blind spot misses: LSH high-Jaccard pairs anywhere, SNM shared-prefix
#   near-neighbors below the LSH threshold),
#   verify     = exact 3-gram Jaccard >= 1/2, stated in INTEGERS
#   (2*|inter| >= |union|) so the threshold can never float-tie,
#   cluster    = connected components over the verified pairs,
#   emit       = one row per duplicate cluster (min-id label, member count).
# Scale: both blocking stages are the gated operators above (no new
# shapes); verification touches only O(candidates) pairs; CC runs on the
# verified subgraph, which is duplicate-sized, not corpus-sized.
# ---------------------------------------------------------------------------


def _er_oracle() -> str:
    return (
        _minhash_ctes(recursive=True)
        + rf""",
    snm_g AS (
        SELECT doc_id, lower(trim(substr(text, 1, 32))) AS k,
               {_sql_shingles(3)} AS grams
        FROM t JOIN documents USING (doc_id)
    ),
    snm_r AS (
        SELECT doc_id, row_number() OVER (ORDER BY k, doc_id) AS rn
        FROM snm_g
    ),
    snm_pairs AS (
        SELECT least(a.doc_id, b.doc_id) AS doc_a,
               greatest(a.doc_id, b.doc_id) AS doc_b
        FROM snm_r a JOIN snm_r b ON b.rn - a.rn BETWEEN 1 AND {SNM_WINDOW}
    ),
    cand AS (
        SELECT doc_a, doc_b FROM pairs
        UNION
        SELECT doc_a, doc_b FROM snm_pairs
    ),
    verified AS (
        SELECT c.doc_a, c.doc_b
        FROM cand c
        JOIN snm_g ga ON c.doc_a = ga.doc_id
        JOIN snm_g gb ON c.doc_b = gb.doc_id
        WHERE 2 * len(list_intersect(ga.grams, gb.grams))
              >= len(ga.grams) + len(gb.grams)
                 - len(list_intersect(ga.grams, gb.grams))
    ),
    vnodes AS (
        SELECT doc_a AS doc_id FROM verified
        UNION
        SELECT doc_b AS doc_id FROM verified
    ),
    vedges AS (
        SELECT doc_a AS s, doc_b AS d FROM verified
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM verified
    ),
    vreach(doc_id, other) AS (
        SELECT doc_id, doc_id FROM vnodes
        UNION
        SELECT r.doc_id, e.d FROM vreach r JOIN vedges e ON r.other = e.s
    ),
    vlabels AS (
        SELECT doc_id, MIN(other) AS cluster_id FROM vreach GROUP BY doc_id
    )
    SELECT cluster_id, COUNT(*) AS n_members
    FROM vlabels GROUP BY cluster_id
    """
    )


@register('pipeline_entity_resolution', oracle=_er_oracle())
def pipeline_entity_resolution(spark, sf_dir):
    """LSH + SNM blocking -> integer-exact Jaccard verify -> CC clusters
    (see module note)."""
    # r11 optimization: the shingle table is persisted and every
    # downstream reference (both verify-join sides, the SNM key rank)
    # reads the cache — whose partitioning is the plan's beneath it: ONE
    # partition on the few-file driver layout, so shingling and every
    # map stage over the cache ran single-core. spread_small gives the
    # cache core-wide partitioning locally; no-op at production layouts.
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    key = F.lower(F.trim(F.substring('text', 1, 32)))
    g = docs.select(
        'doc_id', key.alias('k'), _spark_shingles(3).alias('grams')
    ).persist()

    lsh = _minhash_pairs(spark, sf_dir).select('doc_a', 'doc_b')
    snm = dedup_sorted_neighborhood(spark, sf_dir).select(
        F.least('doc_a', 'doc_b').alias('doc_a'),
        F.greatest('doc_a', 'doc_b').alias('doc_b'),
    )
    cand = lsh.union(snm).distinct()

    ga = g.select(F.col('doc_id').alias('doc_a'), F.col('grams').alias('ga'))
    gb = g.select(F.col('doc_id').alias('doc_b'), F.col('grams').alias('gb'))
    inter = F.size(F.array_intersect('ga', 'gb'))
    verified = (
        cand.join(ga, 'doc_a')
        .join(gb, 'doc_b')
        .where(2 * inter >= F.size('ga') + F.size('gb') - inter)
        .select('doc_a', 'doc_b')
        .persist()
    )
    vnodes = (
        verified.select(F.col('doc_a').alias('doc_id'))
        .union(verified.select(F.col('doc_b').alias('doc_id')))
        .distinct()
    )
    labels = _connected_components(
        verified, vnodes, 'doc_a', 'doc_b', 'doc_id'
    )
    return labels.groupBy('cluster_id').agg(
        F.count(F.lit(1)).alias('n_members')
    )


# ---------------------------------------------------------------------------
# Cluster-balanced sampling ("soft dedup"): keep at most K documents per
# near-dup cluster, chosen by content hash — the corpus-construction step
# that DOWNWEIGHTS heavily-duplicated content instead of hard-dropping it
# (hard dedup keeps 1 per cluster and loses natural-frequency signal; no
# dedup lets boilerplate dominate the token budget; capping at K is the
# standard middle ground).
# Scale: the per-cluster rank is stated as a SALTED two-phase top-K so a
# boilerplate mega-cluster never funnels into one window task: phase 1
# ranks within (cluster, doc_id % S) — S parallel sorts per hot cluster —
# and keeps K per salt; phase 2 ranks the <= K*S survivors per cluster.
# The two-phase result is EXACTLY the single-window top-K (each salt keeps
# its own K smallest hash keys, and the cluster's true top-K are smallest
# within their salts a fortiori), so the DuckDB oracle states the simple
# single-window form. Hash keys are md5(doc_id) with a doc_id tiebreak —
# deterministic across engines, runs and partitionings.
# ---------------------------------------------------------------------------

_CBS_K = 4  # docs kept per cluster
_CBS_SALTS = 8  # phase-1 fan-out per cluster


def _cluster_balanced_oracle() -> str:
    return (
        _minhash_ctes(recursive=True)
        + f""",
    edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ),
    reach(doc_id, other) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.doc_id, e.d FROM reach r JOIN edges e ON r.other = e.s
    ),
    labels AS (
        SELECT doc_id, MIN(other) AS cluster_id FROM reach GROUP BY doc_id
    ),
    sizes AS (
        SELECT cluster_id, COUNT(*) AS n_cluster FROM labels
        GROUP BY cluster_id
    ),
    ranked AS (
        SELECT doc_id, cluster_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY cluster_id
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS BIGINT) AS sample_rank
        FROM labels
    )
    SELECT r.doc_id, r.cluster_id, s.n_cluster, r.sample_rank
    FROM ranked r JOIN sizes s USING (cluster_id)
    WHERE r.sample_rank <= {_CBS_K}
    """
    )


@register('pipeline_cluster_balanced_sample', oracle=_cluster_balanced_oracle())
def pipeline_cluster_balanced_sample(spark, sf_dir):
    """Keep at most K=4 docs per near-dup cluster by content hash — the
    salted two-phase statement of per-cluster top-K (module note)."""
    from pyspark.sql import Window

    pairs = _minhash_pairs(spark, sf_dir)
    nodes = table(spark, sf_dir, 'documents').select('doc_id')
    labels = _connected_components(pairs, nodes, 'doc_a', 'doc_b', 'doc_id')
    sizes = labels.groupBy('cluster_id').agg(
        F.count(F.lit(1)).alias('n_cluster')
    )
    keyed = labels.select(
        'doc_id',
        'cluster_id',
        F.md5(F.col('doc_id').cast('string')).alias('h'),
        F.pmod('doc_id', F.lit(_CBS_SALTS)).alias('salt'),
    )
    w1 = Window.partitionBy('cluster_id', 'salt').orderBy('h', 'doc_id')
    survivors = (
        keyed.withColumn('r1', F.row_number().over(w1))
        .filter(F.col('r1') <= _CBS_K)
        .drop('r1', 'salt')
    )
    w2 = Window.partitionBy('cluster_id').orderBy('h', 'doc_id')
    return (
        survivors.withColumn(
            'sample_rank', F.row_number().over(w2).cast('bigint')
        )
        .filter(F.col('sample_rank') <= _CBS_K)
        .join(sizes, 'cluster_id')
        .select('doc_id', 'cluster_id', 'n_cluster', 'sample_rank')
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (ExactSubstr, Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better"): emit every MAXIMAL token
# run of length >= EXSUB_L shared verbatim between two documents — the
# published dedup family `text_span_dedup` (fixed-width spans) does not
# cover. The paper builds a corpus suffix array; the relational statement
# is the k-mer ANCHOR JOIN + DIAGONAL RUN-MERGE equivalent:
#
#   1. every L-token window of every doc is a gram (the suffix array's
#      depth-L cut: two suffixes share a depth-L prefix iff their grams
#      are equal);
#   2. the self-join on gram yields all aligned window pairs across docs
#      (doc_a < doc_b orients the pair);
#   3. within one (doc_a, doc_b, diagonal = pos_b - pos_a) group, a
#      shared substring of length M >= L appears as exactly M - L + 1
#      CONSECUTIVE gram matches; the islands trick (pos minus
#      row_number over the diagonal — the sorted-neighborhood rank
#      machinery) merges each run in ONE window pass, and
#      match_len = run_size + L - 1.
#
# Maximality proof sketch: if token pos_a-1 also matched on the diagonal,
# the window at pos_a-1 would equal the window at pos_b-1 (its last L-1
# tokens lie inside the already-matched region), so the gram pair at
# pos_a-1 would exist and run-merge would have absorbed it — hence every
# emitted run is left-maximal, and symmetrically right-maximal. The
# pure-Python twin (tests/test_pipeline_ops.py) re-derives the same rows
# by explicit left/right EXTENSION from anchor hits — a different
# mechanism, so the equality is evidence, not restatement.
#
# Scale: the gram join is inverted-index shaped — shuffle keys on the
# gram, never on a document; cost is sum over grams of df^2, and an
# L-token verbatim window is exponentially rarer than a token (at sf1
# this corpus has 1.06e4 matched window pairs from 1.5e6 windows). The
# df^2 term is BOUNDED by the paper's hot-gram drop (Lee et al. 2022
# suffix-array implementation: grams occurring more than 1000 times are
# excluded from anchoring): gram occurrence counts are a map-side-
# combinable aggregate, the >cap survivors are a corpus/cap-bounded
# dimension (broadcast), and grams join anti against it BEFORE the
# self-join — so the worst gram contributes cap^2 pairs, not df^2.
# Run-merge shuffles once on (doc_a, doc_b, diag) — pair-bounded, far
# smaller than the corpus.
#
# RECALL CONTRACT of the cap (stated, matched by oracle + twin): a match
# is a maximal run of consecutive COLD (df <= cap) gram matches on one
# (doc_a, doc_b, diagonal). A pure-boilerplate run — every one of its
# grams occurs > cap times corpus-wide — is SUPPRESSED (that is the
# point: its pair set is quadratic in the boilerplate's popularity and
# carries no dedup signal). A hot gram INSIDE an otherwise-unique run
# splits the reported run into the cold sub-runs flanking it (each still
# >= L tokens); the duplicated region is still found, with conservative
# per-fragment lengths. Runs with at least one cold gram are otherwise
# reported exactly as before.
# ---------------------------------------------------------------------------

EXSUB_L = 8  # minimum shared-run length in tokens (the paper: 50 BPE toks)
EXSUB_DF_CAP = 1000  # max corpus-wide occurrences for an anchoring gram


_EXSUB_SELF_M = """
    m AS (
        SELECT a.doc_id AS da, b.doc_id AS db, a.p AS pa, b.p AS pb
        FROM cold a JOIN cold b ON a.gram = b.gram AND a.doc_id < b.doc_id
    ),"""


def _exact_substr_ctes(m_clause: str = _EXSUB_SELF_M) -> str:
    """The full ExactSubstr oracle as a CTE chain ending in ``runs``
    (doc_a, doc_b, a_start, b_start, match_len) — shared by the match
    reporter `dedup_exact_substr`, the span cutter
    `pipeline_exact_substr_cut`, and (with a role-join ``m`` clause in
    place of the oriented self-join) the incremental admission path
    `dedup_exact_substr_incremental`. The gram stream carries ``source``
    so a pair stage can filter by ingest role; the self-join ignores
    it."""
    return rf"""
    WITH t AS (
        SELECT doc_id, source,
               string_split_regex(trim(text), '\s+') AS toks
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source, toks,
               unnest(range(1, len(toks) - {EXSUB_L} + 2)) AS p
        FROM t
    ),
    gr AS (
        SELECT doc_id, source, p,
               array_to_string(toks[p : p + {EXSUB_L} - 1], ' ') AS gram
        FROM pos
    ),
    cold AS (
        SELECT doc_id, source, p, gram FROM (
            SELECT doc_id, source, p, gram,
                   COUNT(*) OVER (PARTITION BY gram) AS df
            FROM gr
        ) WHERE df <= {EXSUB_DF_CAP}
    ),{m_clause}
    islands AS (
        SELECT da, db, pb - pa AS diag, pa,
               pa - ROW_NUMBER() OVER (
                   PARTITION BY da, db, pb - pa ORDER BY pa
               ) AS grp
        FROM m
    ),
    runs AS (
        SELECT da AS doc_a, db AS doc_b,
               CAST(MIN(pa) AS BIGINT) AS a_start,
               CAST(MIN(pa) + diag AS BIGINT) AS b_start,
               CAST(COUNT(*) + {EXSUB_L} - 1 AS BIGINT) AS match_len
        FROM islands GROUP BY da, db, diag, grp
    )"""


def _exsub_cold_grams(spark, sf_dir, with_source: bool = False):
    """The capped ExactSubstr gram stream (doc_id[, source], p, gram):
    tokenize-once doc_id barrier, posexploded L-grams, hot-gram
    (df > EXSUB_DF_CAP) instances dropped via the checkpointed
    broadcast anti join. ``with_source`` carries the ingest-role column
    for the incremental admission variant (the standing self-join keeps
    the stream narrow)."""
    docs = table(spark, sf_dir, 'documents')
    # Tokenize ONCE behind an exchange. The doc_id repartition makes the
    # gram stage's parallelism independent of the input file count (a
    # single-file corpus otherwise runs the whole explode+join in one
    # task — the sf0.1 > sf1 wall-time inversion the first SCALE sweep
    # caught). One extra corpus-sized shuffle of (doc_id, toks),
    # amortized by the ~8x larger gram stage it parallelizes.
    keep = ['doc_id', 'source'] if with_source else ['doc_id']
    # r11 optimization: spread_cluster (see _cos_capped_postings) — the
    # barrier stays on every layout, but its partition count is pinned to
    # defaultParallelism on the few-file driver layout so the ~8x gram
    # explode + anchor join above it run core-wide instead of on the 2-3
    # partitions AQE's parallelism-first coalescing leaves a few-MB
    # shuffle with.
    toks = spread_cluster(
        docs.select(*keep, _CF.tokens('text').alias('toks')), 'doc_id'
    )
    grams = toks.select(
        *keep,
        F.posexplode(_CF.word_ngrams_of('toks', EXSUB_L)).alias('p0', 'gram'),
    ).select(*keep, (F.col('p0') + 1).alias('p'), 'gram')

    # Hot-gram anchor cap (Lee et al.: drop >1000-occurrence grams). The
    # occurrence count is a map-side-combinable groupBy (a hot gram's
    # instances partial-count inside each task before the exchange — the
    # count never funnels df rows into one reducer), and the >cap
    # survivors — a corpus/cap-bounded dimension — are materialized ONCE
    # with an eager localCheckpoint and BROADCAST to an anti join on
    # each side of the anchor join. The anti join is shuffle-free and
    # preserves the doc_id repartition, so the capped plan keeps the
    # uncapped plan's entire shape (anchor join keying, run-merge's
    # zero-exchange window). Without the checkpoint Spark re-derives the
    # hot set per reference — the HOF-lambda gram builder defeats
    # canonical exchange reuse — measured 4.7x slower at sf0.1; a
    # count-over-window(gram) variant loses the run-merge partitioning
    # reuse and measured 3.5x slower. Worst-case pair fan-out per gram
    # drops from df^2 to cap^2 at the price of one extra corpus gram
    # pass (the df count — the suffix-array paper gets it from the
    # array it already built).
    hot = (
        grams.groupBy('gram')
        .agg(F.count(F.lit(1)).alias('df'))
        .filter(F.col('df') > EXSUB_DF_CAP)
        .select('gram')
    ).localCheckpoint()
    return grams.join(F.broadcast(hot), 'gram', 'left_anti')


def _exsub_run_merge(m, out_a: str, out_b: str):
    """Diagonal islands run-merge over matched window pairs m(da, db,
    pa, pb): one window + one aggregate per (da, db, pb-pa) group,
    emitting maximal runs as (out_a, out_b, a_start, b_start,
    match_len). Shared by the self-join reporter and the incremental
    admission variant — the run/maximality semantics are identical."""
    from pyspark.sql import Window

    m = m.select(
        'da', 'db', 'pa', (F.col('pb') - F.col('pa')).alias('diag')
    )
    w = Window.partitionBy('da', 'db', 'diag').orderBy('pa')
    runs = m.withColumn('grp', F.col('pa') - F.row_number().over(w))
    return (
        runs.groupBy('da', 'db', 'diag', 'grp')
        .agg(
            F.min('pa').alias('a0'),
            (F.count(F.lit(1)) + EXSUB_L - 1).cast('bigint').alias('match_len'),
        )
        .select(
            F.col('da').alias(out_a),
            F.col('db').alias(out_b),
            F.col('a0').cast('bigint').alias('a_start'),
            (F.col('a0') + F.col('diag')).cast('bigint').alias('b_start'),
            'match_len',
        )
    )


@register(
    'dedup_exact_substr',
    oracle=_exact_substr_ctes()
    + """
    SELECT doc_a, doc_b, a_start, b_start, match_len FROM runs
    """,
)
def dedup_exact_substr(spark, sf_dir):
    """ExactSubstr dedup: maximal >= EXSUB_L-token verbatim runs of COLD
    (df <= EXSUB_DF_CAP) gram matches shared across document pairs
    (module note above — incl. the recall contract of the hot-gram
    anchor cap). Output: one row per maximal run — (doc_a, doc_b,
    a_start, b_start, match_len), positions 1-based in token space."""
    cold = _exsub_cold_grams(spark, sf_dir)
    a = cold.select(
        F.col('doc_id').alias('da'), F.col('p').alias('pa'), 'gram'
    )
    b = cold.select(
        F.col('doc_id').alias('db'), F.col('p').alias('pb'), 'gram'
    )
    m = a.join(b, 'gram').filter(F.col('da') < F.col('db'))
    return _exsub_run_merge(m, 'doc_a', 'doc_b')


# ---------------------------------------------------------------------------
# ExactSubstr -> ACTION: cut the duplicated spans and reassemble documents
# (the Lee et al. 2022 end product — the match reporter above is their
# analysis artifact). Keep-first policy, consistent with text_span_dedup:
# every reported run is cut from doc_b, the LATER document of the oriented
# (doc_a < doc_b) pair — the first occurrence survives; overlapping cut
# intervals union per document before removal. Inherits the match
# reporter's hot-gram recall contract verbatim (pure-boilerplate runs are
# not reported, hence not cut).
# Scale: the runs frame is pair-bounded (checkpointed once — tiny); cut
# positions aggregate into ONE array per affected document
# (matched-token-mass-bounded), and the removal is a positional
# higher-order FILTER over the already-tokenized array — the token
# stream never explodes, there is no (doc_id, p) anti join (which would
# re-shuffle the exploded corpus on the composite key:
# requireAllClusterKeysForCoPartition defeats the subset-partitioning
# reuse), and no reassembly groupBy: the corpus crosses the wire once
# (the doc_id barrier), the cut-array join rides that partitioning, and
# order is preserved by the array itself.
# ---------------------------------------------------------------------------


@register(
    'pipeline_exact_substr_cut',
    oracle=_exact_substr_ctes()
    + """,
    tpos AS (
        SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks FROM t
    ),
    toksp AS (SELECT doc_id, p, toks[p] AS tok FROM tpos),
    cuts AS (
        SELECT DISTINCT doc_b AS doc_id, b_start + u.i AS p
        FROM runs, unnest(range(0, match_len)) AS u(i)
    ),
    kept AS (
        SELECT o.doc_id, o.p, o.tok FROM toksp o
        ANTI JOIN cuts c ON o.doc_id = c.doc_id AND o.p = c.p
    ),
    clean AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               string_agg(tok, ' ' ORDER BY p) AS clean_text
        FROM kept GROUP BY doc_id
    ),
    totals AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens FROM t)
    SELECT totals.doc_id, totals.n_tokens,
           CAST(totals.n_tokens - COALESCE(clean.n_kept, 0) AS BIGINT)
               AS n_cut,
           COALESCE(clean.clean_text, '') AS clean_text
    FROM totals LEFT JOIN clean USING (doc_id)
    """,
)
def pipeline_exact_substr_cut(spark, sf_dir):
    """Cut every ExactSubstr-reported duplicated span from the later
    document of its pair and reassemble the survivors (module note
    above: keep-first policy, interval union, one corpus shuffle)."""
    docs = table(spark, sf_dir, 'documents')
    runs = dedup_exact_substr(spark, sf_dir).localCheckpoint()
    # cut positions as a per-doc MAP, not an array: the removal filter
    # probes once per token, and an array_contains probe is a linear
    # scan — O(len * |cuts|) per row, quadratic on exactly the heavily-
    # duplicated documents this query targets. The map probe is O(1),
    # keeping the row at O(len + |cuts|). try_element_at (NOT
    # element_at: ANSI mode throws on a missing map key) returns NULL
    # both for a kept position and on the NULL map of an uncut
    # document, so one isNull() covers both.
    cutarr = (
        runs.select(
            F.col('doc_b').alias('doc_id'),
            F.explode(
                F.sequence(
                    F.col('b_start'),
                    F.col('b_start') + F.col('match_len') - 1,
                )
            ).alias('p'),
        )
        .groupBy('doc_id')
        .agg(F.collect_set('p').alias('cut_ps'))
        .select(
            'doc_id',
            F.map_from_arrays(
                'cut_ps', F.transform('cut_ps', lambda x: F.lit(True))
            ).alias('cut_map'),
        )
        .repartition('doc_id')
    )
    toks = docs.select(
        'doc_id', _CF.tokens('text').alias('toks')
    ).repartition('doc_id')
    kept = F.filter(
        'toks',
        lambda x, i: F.try_element_at(
            F.col('cut_map'), (i + F.lit(1)).cast('bigint')
        ).isNull(),
    )
    return (
        toks.join(cutarr, 'doc_id', 'left')
        .select(
            'doc_id',
            F.size('toks').cast('bigint').alias('n_tokens'),
            F.size(kept).alias('n_kept_i'),
            F.concat_ws(' ', kept).alias('clean_text'),
        )
        .select(
            'doc_id',
            'n_tokens',
            (F.col('n_tokens') - F.col('n_kept_i')).cast('bigint').alias('n_cut'),
            'clean_text',
        )
    )


# ---------------------------------------------------------------------------
# Incremental ExactSubstr admission: the per-batch form of the match
# reporter — maximal cold-gram runs between each INCOMING document
# (source = 'src1', the batch being admitted) and the STANDING corpus
# (every other source), the delta the admission pipeline needs when a
# batch arrives, without re-running the corpus x corpus self-join
# (pattern of `dedup_incremental_exact` / `dedup_incremental_minhash`:
# the role split is a source predicate on the shared documents table).
# Output is role-oriented, not id-oriented: (corpus_doc, new_doc,
# c_start, n_start, match_len); within-batch pairs are NOT reported
# (they are the ordinary self-join's job). The hot-gram anchor cap and
# the run/maximality contract are inherited verbatim; df counts over the
# FULL corpus incl. the batch (in production: the standing index's gram
# stats plus the batch increment).
# Scale: the batch side of the anchor join is delta-sized — the source
# predicate pushes down to the parquet scan of that branch, so the
# incoming gram build reads ~1/20 of the corpus; the standing side is
# the persisted inverted gram index in production (here rebuilt inline
# for oracle reproducibility, like every standing-index oracle in this
# registry). Pair fan-out is (batch grams) x (per-gram df <= cap) —
# delta-proportional, never corpus^2.
# ---------------------------------------------------------------------------

_EXSUB_INC_M = """
    m AS (
        SELECT c.doc_id AS da, n.doc_id AS db, c.p AS pa, n.p AS pb
        FROM cold c JOIN cold n ON c.gram = n.gram
        WHERE c.source <> 'src1' AND n.source = 'src1'
    ),"""


@register(
    'dedup_exact_substr_incremental',
    oracle=_exact_substr_ctes(_EXSUB_INC_M)
    + """
    SELECT doc_a AS corpus_doc, doc_b AS new_doc,
           a_start AS c_start, b_start AS n_start, match_len
    FROM runs
    """,
)
def dedup_exact_substr_incremental(spark, sf_dir):
    """Per-batch ExactSubstr admission (module note above): maximal
    cold-gram runs between each incoming src1 document and the standing
    corpus, oriented by ROLE — (corpus_doc, new_doc, c_start, n_start,
    match_len)."""
    cold = _exsub_cold_grams(spark, sf_dir, with_source=True)
    corpus = cold.filter(F.col('source') != 'src1').select(
        F.col('doc_id').alias('da'), F.col('p').alias('pa'), 'gram'
    )
    incoming = cold.filter(F.col('source') == 'src1').select(
        F.col('doc_id').alias('db'), F.col('p').alias('pb'), 'gram'
    )
    m = corpus.join(incoming, 'gram')
    return _exsub_run_merge(m, 'corpus_doc', 'new_doc').select(
        'corpus_doc',
        'new_doc',
        F.col('a_start').alias('c_start'),
        F.col('b_start').alias('n_start'),
        'match_len',
    )
