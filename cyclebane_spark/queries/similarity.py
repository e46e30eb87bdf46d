"""Similarity search over the ``embeddings`` table (north-star):
brute-force cosine top-k as the correctness baseline, and a blocked
(IVF-style) variant as the scale path.

Scale design (100 TB of vectors):
- Brute force is O(Q x N) — correct but only viable for small query sets;
  it is the oracle for everything else.
- The IVF variant restricts candidates to the query's coarse cell (here the
  ``label`` column stands in for a k-means cell id; in production the cell
  id is computed once at ingest). The candidate join becomes an equi-join on
  the cell id — shuffle-partitionable, broadcast-able for small query sets.
- Ranking uses a rounded cosine plus the vector id as tiebreaker so top-k
  sets are deterministic across engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..tables import spread_small, table
from . import register
from .dedup import SQL_DOT, _spark_dot

N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10


def _ranked(joined, partition_col):
    """rank by rounded cosine desc, vec_id asc — deterministic top-k."""
    cos = F.round(
        _spark_dot(F.col('q.embedding'), F.col('c.embedding'))
        / (F.col('q.nrm') * F.col('c.nrm')),
        9,
    )
    w = Window.partitionBy(partition_col).orderBy(
        F.desc('cosine'), F.asc('neighbor_id')
    )
    return (
        joined.select(
            F.col('q.vec_id').alias('query_id'),
            F.col('c.vec_id').alias('neighbor_id'),
            cos.alias('cosine'),
        )
        .withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= TOP_K)
    )


_SQL_COS = (
    f"round({SQL_DOT.format(a='q.embedding', b='c.embedding')}"
    ' / (q.nrm * c.nrm), 9)'
)

_SQL_NORMED = f"""
    WITH n AS (
        SELECT vec_id, label, embedding,
               sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    )"""


@register(
    'ann_bruteforce_topk',
    headline=True,
    oracle=f"""{_SQL_NORMED}
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COS} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS} DESC, c.vec_id
               ) AS rk
        FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_bruteforce_topk(spark, sf_dir):
    """Exact cosine top-k: Q query vectors against the full corpus."""
    emb = table(spark, sf_dir, 'embeddings')

    def normed(rows):
        return rows.select(
            'vec_id',
            'label',
            'embedding',
            F.sqrt(_spark_dot(F.col('embedding'), F.col('embedding'))).alias('nrm'),
        )

    q = normed(emb).filter(F.col('vec_id') < N_QUERIES).alias('q')
    # r11 optimization: the corpus pipeline (dot products, norms, and the
    # WindowGroupLimit partial top-k) is fused into the scan stage — on the
    # few-file driver layout that is ONE core for the entire O(Q x N)
    # compute. spread_small restores core-wide execution locally and is a
    # no-op on multi-split production layouts (guide §1.2 step 1); the
    # query side stays an un-spread scan so its 5-row broadcast build needs
    # no shuffle stage.
    c = normed(spread_small(emb, 'vec_id')).filter(
        F.col('vec_id') >= N_QUERIES
    ).alias('c')
    # Broadcast the (small) query side: the corpus never shuffles.
    return _ranked(F.broadcast(q).crossJoin(c), 'query_id')


def _rademacher_planes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — identical constants are
    embedded as literals in the Spark plan and the DuckDB oracle, so no
    engine evaluates any hashing at query time."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f'{p}:{i}'.encode()).hexdigest()[0] in '02468ace'
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


_PLANES = _rademacher_planes()


def _sql_plane_dot(plane: list[float]) -> str:
    lit = '[' + ', '.join(f'{w:.1f}' for w in plane) + ']'
    return (
        f'list_sum(list_transform(range(1, 65), '
        f'i -> CAST(embedding[i] AS DOUBLE) * ({lit}::DOUBLE[])[i]))'
    )


_SQL_BUCKET = 'concat(' + ', '.join(
    f"CASE WHEN {_sql_plane_dot(p)} >= 0 THEN '1' ELSE '0' END" for p in _PLANES
) + ')'



def _rp_lsh_buckets(spark, sf_dir):
    """(vec_id, embedding, nrm, bucket): each embedding with its norm and
    its 8-bit sign-LSH bucket, one bit per ``_PLANES`` hyperplane. The
    plane constants are literals in the projection, so bucketing hashes
    nothing at runtime."""
    emb = table(spark, sf_dir, 'embeddings')
    bits = [
        F.when(
            _spark_dot(
                F.col('embedding'), F.array(*[F.lit(w) for w in plane])
            ) >= 0,
            '1',
        ).otherwise('0')
        for plane in _PLANES
    ]
    return emb.select(
        'vec_id',
        'embedding',
        F.sqrt(_spark_dot(F.col('embedding'), F.col('embedding'))).alias('nrm'),
        F.concat(*bits).alias('bucket'),
    )


@register(
    'explode_outer_long_tokens',
    oracle=r"""
    SELECT doc_id,
           unnest(CASE WHEN len(long_toks) = 0
                       THEN [CAST(NULL AS VARCHAR)] ELSE long_toks END) AS tok
    FROM (
        SELECT doc_id,
               list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                           t -> length(t) > 6) AS long_toks
        FROM documents
    ) t
    """,
)
def explode_outer_long_tokens(spark, sf_dir):
    """explode_outer: documents with NO long tokens survive as a null row
    (plain explode silently drops them — the classic lost-rows bug in
    flatten pipelines). Scale: projection-only fan-out, no shuffle.

    NULL-safe by construction: coalesce(text, '') on BOTH sides, because
    Spark's explode_outer(NULL array) emits a null row while the oracle's
    CASE WHEN len(...) is NULL for a NULL list (unnest(NULL) emits zero
    rows) — without the coalesce the two sides agree only on corpora with
    no NULL text."""
    docs = table(spark, sf_dir, 'documents')
    long_toks = F.filter(
        F.split(F.trim(F.coalesce(F.col('text'), F.lit(''))), r'\s+'),
        lambda t: F.length(t) > 6,
    )
    return docs.select(
        'doc_id', F.explode_outer(long_toks).alias('tok')
    )


@register(
    'ann_rp_lsh_topk',
    oracle=f"""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm,
               {_SQL_BUCKET} AS bucket
        FROM embeddings
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COS} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS} DESC, c.vec_id
               ) AS rk
        FROM n q JOIN n c
          ON q.bucket = c.bucket AND q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_rp_lsh_topk(spark, sf_dir):
    """Random-hyperplane (sign) LSH ANN: 8 Rademacher projections hash each
    vector to an 8-bit bucket; candidates are restricted to the query's
    bucket (expected collision rate (1 - theta/pi)^8 for angle theta).

    Scale: bucketing is a projection over the scan (the plane constants live
    in the plan — nothing is joined or hashed at runtime); the candidate
    join becomes an equi-join on the bucket string, shuffle-partitionable
    exactly like the IVF variant but requiring NO trained quantizer.
    Probe multiple buckets (flip lowest-margin bits) to trade cost for
    recall.
    """
    n = _rp_lsh_buckets(spark, sf_dir)
    q = n.filter(F.col('vec_id') < N_QUERIES).alias('q')
    c = n.filter(F.col('vec_id') >= N_QUERIES).alias('c')
    joined = q.join(c, F.col('q.bucket') == F.col('c.bucket'))
    return _ranked(joined, 'query_id')


@register(
    'explode_embedding_components',
    oracle="""
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
           CAST(UNNEST(embedding) AS DOUBLE) AS component
    FROM embeddings
    WHERE vec_id < 100
    """,
)
def explode_embedding_components(spark, sf_dir):
    """posexplode: array column -> (position, value) rows — the lateral-view
    path that turns nested data relational. Scale: pure projection fan-out
    (64x rows), no shuffle; position becomes a first-class joinable column
    (this is exactly the long-form melt the plan layer ingests N-D arrays
    with — SURVEY.md §1.3)."""
    emb = table(spark, sf_dir, 'embeddings').filter(F.col('vec_id') < 100)
    return emb.select(
        'vec_id', F.posexplode('embedding').alias('pos', 'component')
    ).select('vec_id', 'pos', F.col('component').cast('double').alias('component'))


@register(
    'ann_ivf_blocked_topk',
    oracle=f"""{_SQL_NORMED}
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COS} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS} DESC, c.vec_id
               ) AS rk
        FROM n q JOIN n c
          ON q.label = c.label AND q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_ivf_blocked_topk(spark, sf_dir):
    """IVF-style ANN: candidates restricted to the query's coarse cell.

    The cross join collapses to an equi-join on the cell id — at scale this
    is the difference between O(Q x N) and O(Q x N / n_cells). Recall is
    bounded by the quantizer (probe more cells to trade cost for recall).
    """
    emb = table(spark, sf_dir, 'embeddings')
    n = emb.select(
        'vec_id',
        'label',
        'embedding',
        F.sqrt(_spark_dot(F.col('embedding'), F.col('embedding'))).alias('nrm'),
    )
    q = n.filter(F.col('vec_id') < N_QUERIES).alias('q')
    c = n.filter(F.col('vec_id') >= N_QUERIES).alias('c')
    joined = q.join(c, F.col('q.label') == F.col('c.label'))
    return _ranked(joined, 'query_id')


# ---------------------------------------------------------------------------
# k-means-trained IVF: the production ANN shape. `ann_ivf_blocked_topk`
# borrows the pre-existing `label` column as its coarse quantizer; this query
# TRAINS the quantizer — 2 unrolled Lloyd iterations of k-means — and then
# searches the nearest trained cell (nprobe=1).
#
# Exactness across engines is the interesting part: float k-means is
# order-dependent (centroid means sum doubles in shuffle order), so the whole
# computation runs in QUANTIZED INTEGER space — components are scaled to
# BIGINT (round(v * 2^14); |v| < 1 so diffs fit 2^15), distances are exact
# integer sums (64 * (2^15)^2 < 2^63), and centroid updates floor-divide
# exact integer sums (sum <= n * 2^14 << 2^53, so the double divide + floor
# is exact). Integer-quantized training is also what real vector indexes do
# (PQ/SQ train on int8/int16 codes) — determinism and scale economy align.
#
# Scale: centroids are K x DIM = 512 rows — broadcast to every assignment
# join; the corpus explodes to (vec_id, pos, q) once and co-partitions on
# vec_id for every groupBy; each Lloyd iteration is one broadcast join + two
# partial-aggregable shuffles. Iterations are a Python loop over lazy plans
# (no driver action per iteration — one job at the end).
# ---------------------------------------------------------------------------

KM_K = 8  # clusters
KM_ITERS = 2  # unrolled Lloyd iterations
KM_SCALE = 1 << 14  # component quantization
KM_TOPK = 10


def _sql_kmeans_ctes(extra: str = '', prefix: str = '') -> str:
    """CTE chain: quantized explode -> seed -> (assign, centroid) x 2 ->
    final corpus re-assignment `af` against the trained centroids, so the
    inverted lists and the query probe share one quantizer (real IVF).

    ``extra``: additional corpus predicate appended to every corpus
    filter (e.g. ``' AND (vec_id % 10) <> 9'`` to hold out an incoming
    batch for the incremental-maintenance query).

    ``prefix``: prepended to every CTE name (``e`` -> ``{prefix}e`` etc.)
    so TWO independent trainings can share one WITH clause — the index-
    merge oracle trains on two corpus shards. Parametrization is
    append-only: the defaults render byte-identical SQL to the
    unparametrized form (pinned by tests/test_golden_sql.py)."""
    p = prefix
    # alias prefixed CTEs back to their bare names so the SELECT bodies are
    # prefix-independent; with the default '' the rendered text is exactly
    # the historical (golden-pinned) form, alias-free
    e_ref = f'{p}e e' if p else 'e'
    seed_ref = f'{p}seed seed' if p else 'seed'
    parts = [
        f"""{p}e AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST(round(CAST(UNNEST(embedding) AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS q
        FROM embeddings
    ),
    {p}seed AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
        FROM (SELECT DISTINCT vec_id FROM {p}e WHERE vec_id >= {N_QUERIES}{extra}
              ORDER BY vec_id LIMIT {KM_K})
    ),
    {p}c0 AS (
        SELECT seed.cl, e.pos, e.q AS c
        FROM {e_ref} JOIN {seed_ref} ON e.vec_id = seed.vec_id
    )"""
    ]
    for i in range(1, KM_ITERS + 1):
        parts.append(f"""{p}a{i} AS (
        SELECT vec_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM {e_ref} JOIN {p}c{i - 1} c ON e.pos = c.pos
            WHERE e.vec_id >= {N_QUERIES}{extra}
            GROUP BY e.vec_id, c.cl
        ) WHERE rk = 1
    ),
    {p}c{i} AS (
        SELECT a.cl, e.pos,
               CAST(floor(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM {e_ref} JOIN {p}a{i} a ON e.vec_id = a.vec_id
        GROUP BY a.cl, e.pos
    )""")
    parts.append(f"""{p}af AS (
        SELECT vec_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM {e_ref} JOIN {p}c{KM_ITERS} c ON e.pos = c.pos
            WHERE e.vec_id >= {N_QUERIES}{extra}
            GROUP BY e.vec_id, c.cl
        ) WHERE rk = 1
    )""")
    return 'WITH ' + ',\n    '.join(parts)


def _sql_search_tail(nprobe: int, af: str = 'af') -> str:
    """The probe/search SQL tail shared by every IVF search oracle: assign
    queries to their ``nprobe`` nearest trained cells, rank candidates
    from those cells' inverted lists. ``af``: name of the inverted-list
    assignment CTE (the ingest oracle searches a full-corpus ``afall``).
    Defaults render byte-identical to the historical form."""
    return f"""
    qa AS (
        SELECT vec_id AS query_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM e JOIN c{KM_ITERS} c ON e.pos = c.pos
            WHERE e.vec_id < {N_QUERIES}
            GROUP BY e.vec_id, c.cl
        ) WHERE rk <= {nprobe}
    ),
    cand AS (
        SELECT qa.query_id, a.vec_id AS neighbor_id,
               SUM((eq.q - ec.q) * (eq.q - ec.q)) AS dist2
        FROM qa
        JOIN {af} a ON a.cl = qa.cl
        JOIN e eq ON eq.vec_id = qa.query_id
        JOIN e ec ON ec.vec_id = a.vec_id AND ec.pos = eq.pos
        GROUP BY qa.query_id, a.vec_id
    )
    SELECT query_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2, rk FROM (
        SELECT query_id, neighbor_id, dist2,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY dist2, neighbor_id
               ) AS rk
        FROM cand
    ) WHERE rk <= {KM_TOPK}
    """


def _sql_kmeans_search(nprobe: int) -> str:
    """Full-corpus-trained IVF search oracle: k-means CTEs + shared tail."""
    return f'{_sql_kmeans_ctes()},{_sql_search_tail(nprobe)}'


def _kmeans_train(spark, sf_dir, extra_filter=None):
    """Train the coarse integer k-means quantizer: returns the persisted
    quantized component table ``e``, the trained centroids ``cent``
    (cl, pos, c), the final corpus assignment ``final_assigned``
    (vec_id, cl, dist2) and the ``assign`` helper. Shared by the IVF
    searches and the IVF+PQ composition.

    ``extra_filter``: optional Column predicate narrowing the TRAINING
    corpus (the incremental-maintenance query holds out its incoming
    batch); the default leaves the plan untouched."""
    from pyspark import StorageLevel

    # r11 optimization note (examined, deliberately left alone): spreading
    # the base rows before the posexplode+persist (so the cached component
    # table and every Lloyd-loop map stage get core-wide partitioning) was
    # measured SLOWER at sf0.1 — kmeans_topk 2.85s -> 3.69s min,
    # persisted_topk 4.83s -> 6.92s, interleaved A/B — because the trainer
    # is many-small-jobs overhead-bound: 32-way partitions multiply task
    # scheduling across its ~40 tiny stages while the per-stage compute is
    # microseconds. On multi-split production layouts the cache inherits
    # core-wide partitioning from the scan anyway (the sf1 32-part tables
    # measure ~2x/decade, SCALE.md), so there is nothing to fix at scale.
    emb = table(spark, sf_dir, 'embeddings')
    e = emb.select(
        'vec_id', F.posexplode('embedding').alias('pos', 'v')
    ).select(
        'vec_id',
        'pos',
        F.round(F.col('v').cast('double') * KM_SCALE, 0)
        .cast('bigint')
        .alias('q'),
    )
    # The Lloyd loop references the quantized table 2*ITERS + 4 times; each
    # reference is a plan diamond that would re-scan the parquet. Persisting
    # collapses them to one compute + cache reads — the standard Spark
    # iterative-algorithm idiom (MLlib k-means does the same). CacheManager
    # keys on the canonical plan, so repeated runs of this query share one
    # entry; MEMORY_AND_DISK spills rather than OOMs at scale.
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    corpus = e.filter(F.col('vec_id') >= N_QUERIES)
    if extra_filter is not None:
        corpus = corpus.filter(extra_filter)

    # Seed = first K corpus vec_ids. limit(K) first so the row_number window
    # runs over K rows, not the whole corpus (Spark plans the distinct+limit
    # as TakeOrderedAndProject — no single-task global window; see ADVICE r2).
    seed = (
        corpus.select('vec_id')
        .distinct()
        .orderBy('vec_id')
        .limit(KM_K)
        .withColumn('cl', F.row_number().over(Window.orderBy('vec_id')) - 1)
    )
    cent = corpus.join(seed, 'vec_id').select(
        'cl', 'pos', F.col('q').alias('c')
    )

    def assign(points, cent, n=1):
        """top-n clusters by (distance, cl) for each vec_id in points."""
        d2 = F.sum(
            (F.col('q') - F.col('c')) * (F.col('q') - F.col('c'))
        ).alias('dist2')
        w = Window.partitionBy('vec_id').orderBy('dist2', 'cl')
        return (
            points.join(F.broadcast(cent), 'pos')
            .groupBy('vec_id', 'cl')
            .agg(d2)
            .withColumn('rk', F.row_number().over(w))
            .filter(F.col('rk') <= n)
            .select('vec_id', 'cl', 'dist2')
        )

    for _ in range(KM_ITERS):
        assigned = assign(corpus, cent)
        cent = (
            corpus.join(assigned.select('vec_id', 'cl'), 'vec_id')
            .groupBy('cl', 'pos')
            .agg(
                F.floor(
                    F.sum('q').cast('double') / F.count(F.lit(1))
                )
                .cast('bigint')
                .alias('c')
            )
        )

    # Re-assign the corpus against the FINAL centroids so the inverted lists
    # and the query probe share one quantizer — real IVF semantics (r2
    # ADVICE: previously the lists predated the centroids used for probing).
    final_assigned = assign(corpus, cent)
    return e, cent, final_assigned, assign


def _kmeans_search(spark, sf_dir, nprobe: int):
    """Train the integer k-means quantizer and search the query vectors'
    ``nprobe`` nearest cells. Shared by the nprobe=1 and nprobe=2 gate
    queries — the only difference is how many inverted lists a query probes.
    """
    e, cent, final_assigned, assign = _kmeans_train(spark, sf_dir)

    qa = assign(e.filter(F.col('vec_id') < N_QUERIES), cent, n=nprobe).select(
        F.col('vec_id').alias('query_id'), 'cl'
    )
    # A corpus vector lives in exactly one cell, so probing 2 cells yields
    # disjoint candidate sets — no dedup needed before ranking.
    cand = (
        qa.join(
            final_assigned.select(F.col('vec_id').alias('neighbor_id'), 'cl'),
            'cl',
        )
        .join(
            e.select(F.col('vec_id').alias('query_id'), 'pos', F.col('q').alias('qq')),
            'query_id',
        )
        .join(
            e.select(
                F.col('vec_id').alias('neighbor_id'), 'pos', F.col('q').alias('qc')
            ),
            ['neighbor_id', 'pos'],
        )
        .groupBy('query_id', 'neighbor_id')
        .agg(
            F.sum((F.col('qq') - F.col('qc')) * (F.col('qq') - F.col('qc'))).alias(
                'dist2'
            )
        )
    )
    w = Window.partitionBy('query_id').orderBy('dist2', 'neighbor_id')
    return (
        cand.withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= KM_TOPK)
        .select('query_id', 'neighbor_id', 'dist2', 'rk')
    )


@register('ann_ivf_kmeans_topk', oracle=_sql_kmeans_search(1))
def ann_ivf_kmeans_topk(spark, sf_dir):
    """IVF with a TRAINED coarse quantizer: 2 Lloyd iterations of integer
    k-means, then nprobe=1 search of the winning cell. See the module note
    for why quantized-integer training is exact across engines."""
    return _kmeans_search(spark, sf_dir, nprobe=1)


@register('ann_ivf_persisted_topk', oracle=_sql_kmeans_search(1))
def ann_ivf_persisted_topk(spark, sf_dir):
    """IVF index lifecycle step 4: PERSIST + SERVE. The trained inverted
    lists are written as cell-PARTITIONED parquet (partitionBy('cl') —
    the on-disk layout of a production vector index: one directory per
    coarse cell) and the search runs against the standing files: the
    probe joins the partitioned index on the partition column with the
    small query-assignment side broadcast, so Spark's dynamic partition
    pruning restricts the scan to the PROBED CELLS' directories — at
    100 TB the serving path reads nprobe/K of the index bytes, enforced
    by the storage layout rather than a post-scan filter (plan pinned:
    dynamicpruningexpression on the index scan). Results are identical
    to the in-memory ``ann_ivf_kmeans_topk`` (same quantizer, same
    integer distances), so it shares that oracle.

    Training is self-contained for oracle parity, as with the other
    lifecycle queries; in production the write happens once and serving
    amortizes it (the drift gate schedules the rewrite). The build and
    the serve are split into :func:`ivf_standing_index` /
    :func:`ivf_serve` so tools/marginal_bench.py can time the serve
    alone against a standing on-disk index (the merge_from_summaries
    pattern).
    """
    idx_dir, e, cent, assign = ivf_standing_index(spark, sf_dir)
    return ivf_serve(spark, idx_dir, e, cent, assign)


def ivf_standing_index(spark, sf_dir, extra_filter=None):
    """Train the quantizer and write the cell-partitioned inverted lists
    ONCE; returns the standing serve state (idx_dir, e, cent, assign).
    In production these are the persisted index artifacts — the marginal
    bench pays the build here, untimed."""
    from ..scratch import scratch_dir

    e, cent, final_assigned, assign = _kmeans_train(
        spark, sf_dir, extra_filter=extra_filter
    )
    cent = cent.localCheckpoint(eager=True)  # Lloyd runs once; probe reuses
    idx_dir = scratch_dir('cb_ivf_index', sf_dir, wipe=True, create=False)
    (
        final_assigned.select('vec_id', 'cl')
        .join(e.filter(F.col('vec_id') >= N_QUERIES), 'vec_id')
        .select(
            F.col('vec_id').alias('neighbor_id'),
            'pos',
            F.col('q').alias('qc'),
            'cl',
        )
        .write.partitionBy('cl')
        .mode('overwrite')
        .parquet(idx_dir)
    )
    return idx_dir, e, cent, assign


def ivf_serve(spark, idx_dir, e, cent, assign):
    """The dynamically-pruned probe join against a standing on-disk
    cell-partitioned index — everything the serving path pays per query
    batch: assign the queries to the broadcast centroids, then the DPP
    probe join + per-(query, neighbor) integer distance fold + top-k.
    Timed alone by tools/marginal_bench.py; selects exactly the probe
    columns, so any partition-layout variant (the ingest layout adds a
    per-batch subpartition level) serves unchanged."""
    index = spark.read.parquet(idx_dir).select(
        'neighbor_id', 'pos', 'qc', 'cl'
    )
    queries_e = e.filter(F.col('vec_id') < N_QUERIES)
    qa = assign(queries_e, cent, n=1).select(
        F.col('vec_id').alias('query_id'), 'cl'
    )
    qcomp = queries_e.select(
        F.col('vec_id').alias('query_id'), 'pos', F.col('q').alias('qq')
    )
    cand = (
        index.join(F.broadcast(qa), 'cl')
        .join(F.broadcast(qcomp), ['query_id', 'pos'])
        .groupBy('query_id', 'neighbor_id')
        .agg(
            F.sum(
                (F.col('qq') - F.col('qc')) * (F.col('qq') - F.col('qc'))
            ).alias('dist2')
        )
    )
    w = Window.partitionBy('query_id').orderBy('dist2', 'neighbor_id')
    return (
        cand.withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= KM_TOPK)
        .select('query_id', 'neighbor_id', 'dist2', 'rk')
    )


@register('ann_ivf_kmeans_nprobe2', oracle=_sql_kmeans_search(2))
def ann_ivf_kmeans_nprobe2(spark, sf_dir):
    """Trained IVF probing the 2 nearest cells per query — the standard
    recall/cost knob. Candidates double (two inverted lists instead of one)
    while the plan shape is unchanged: the probe is still an equi-join on
    the cell id, so the 100 TB story is identical to nprobe=1.
    ``tests/test_similarity_recall.py`` asserts recall@10 against the exact
    quantized-space top-k improves strictly over nprobe=1."""
    return _kmeans_search(spark, sf_dir, nprobe=2)


# ---------------------------------------------------------------------------
# Product quantization + asymmetric distance computation (ADC): the memory-
# bound production ANN shape (IVF prunes candidates; PQ shrinks per-vector
# bytes from 64 floats to M codes, and distances are computed from a
# query-specific lookup table without touching raw vectors).
#
# The 64-dim space splits into PQ_M = 16 subspaces of PQ_SUB_DIM = 4 dims;
# each subspace trains its own PQ_K = 16-centroid codebook with one Lloyd
# iteration of the same quantized-integer k-means used by the IVF family
# (exact cross-engine, see the k-means note above). The subspace id is JUST
# A COLUMN (sub = pos div PQ_SUB_DIM), so all 16 codebooks train in ONE
# grouped plan — no per-subspace loop. A corpus vector's code is its nearest
# centroid per subspace (16 small ints); the query side computes an exact
# distance table to every centroid (Q x PQ_M x PQ_K = 1280 rows —
# broadcast), and ADC distance = sum over subspaces of table[code]. The
# corpus-side scan touches only (vec_id, sub, code): at 100 TB the raw
# vectors are read once at encode time and never again — the entire search
# is a broadcast-lookup + per-vector 16-row sum.
# ---------------------------------------------------------------------------

# M=16 x 4-dim subspaces, 16-centroid codebooks: recall@10 = 0.5 on the
# synthetic corpus (vs 0.06 at M=4 — near-uniform synthetic embeddings
# need fine subspaces; real clustered embeddings tolerate coarser M).
# Codes are 16 small ints per vector vs 64 doubles — the 100 TB memory win.
PQ_M = 16  # subspaces
PQ_SUB_DIM = 4  # dims per subspace (16 x 4 = 64)
PQ_K = 16  # centroids per subspace codebook


def _sql_pq() -> str:
    return f"""
    WITH e AS (
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
               CAST((generate_subscripts(embedding, 1) - 1) // {PQ_SUB_DIM} AS INT) AS sub,
               CAST(round(CAST(UNNEST(embedding) AS DOUBLE) * {KM_SCALE}) AS BIGINT) AS q
        FROM embeddings
    ),
    seed AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cl
        FROM (SELECT DISTINCT vec_id FROM e WHERE vec_id >= {N_QUERIES}
              ORDER BY vec_id LIMIT {PQ_K})
    ),
    c0 AS (
        SELECT e.sub, seed.cl, e.pos, e.q AS c
        FROM e JOIN seed ON e.vec_id = seed.vec_id
    ),
    a1 AS (
        SELECT vec_id, sub, cl FROM (
            SELECT e.vec_id, e.sub, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id, e.sub
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM e JOIN c0 c ON e.pos = c.pos AND e.sub = c.sub
            WHERE e.vec_id >= {N_QUERIES}
            GROUP BY e.vec_id, e.sub, c.cl
        ) WHERE rk = 1
    ),
    c1 AS (
        SELECT a.sub, a.cl, e.pos,
               CAST(floor(CAST(SUM(e.q) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM e JOIN a1 a ON e.vec_id = a.vec_id AND e.sub = a.sub
        GROUP BY a.sub, a.cl, e.pos
    ),
    codes AS (
        SELECT vec_id, sub, cl FROM (
            SELECT e.vec_id, e.sub, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id, e.sub
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM e JOIN c1 c ON e.pos = c.pos AND e.sub = c.sub
            WHERE e.vec_id >= {N_QUERIES}
            GROUP BY e.vec_id, e.sub, c.cl
        ) WHERE rk = 1
    ),
    qd AS (
        SELECT e.vec_id AS query_id, e.sub, c.cl,
               SUM((e.q - c.c) * (e.q - c.c)) AS d
        FROM e JOIN c1 c ON e.pos = c.pos AND e.sub = c.sub
        WHERE e.vec_id < {N_QUERIES}
        GROUP BY e.vec_id, e.sub, c.cl
    ),
    adc AS (
        SELECT qd.query_id, codes.vec_id AS neighbor_id,
               CAST(SUM(qd.d) AS BIGINT) AS adc_dist2
        FROM codes JOIN qd ON codes.sub = qd.sub AND codes.cl = qd.cl
        GROUP BY qd.query_id, codes.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist2, rk FROM (
        SELECT query_id, neighbor_id, adc_dist2,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adc_dist2, neighbor_id
               ) AS rk
        FROM adc
    ) WHERE rk <= {KM_TOPK}
    """


@register('ann_pq_adc_topk', oracle=_sql_pq())
def ann_pq_adc_topk(spark, sf_dir):
    """PQ-coded ANN with asymmetric distance computation. See the module
    note: 16 subspace codebooks trained in one grouped plan, corpus encoded
    to 16 codes, search = broadcast distance-table lookup + 16-row sum."""
    from pyspark import StorageLevel

    # r11 optimization: the persisted component table inherited ONE
    # partition from the single-file scan, so every consumer (both assign
    # passes, the centroid update, the ADC distance-table build) ran its
    # map side on one core (same shape as the entity-resolution shingle
    # cache, OPTIMIZATION_r11.md batch 2). spread_small gives the cache
    # core-wide partitioning; unlike the Lloyd-loop kmeans family (left
    # alone — see _kmeans_train), this trainer is ONE update round over a
    # persisted fan-out, so the extra scheduling does not stack. No-op on
    # multi-split layouts. Measured with the conf-toggle A/B below.
    emb = spread_small(table(spark, sf_dir, 'embeddings'), 'vec_id')
    # One row per (vec_id, subspace) carrying the 4 quantized components
    # as an array — NO per-component explode. The old shape joined the
    # exploded (vec_id, pos) stream to the centroid table on (sub, pos),
    # fanning out to N x DIM x K rows (51M at sf1) and then hash-
    # aggregating + window-ranking them back down TWICE (assign runs for
    # a1 and codes); stating the subspace as an array makes each distance
    # one zip_with fold over 4 elements and the argmin a map-side-
    # combinable min(struct(d, cl)) — the fan-out drops to N x M x K
    # narrow rows and both sorts disappear. Measured 1.4x at sf1 (5.1s vs
    # 7.2s best-of-4 quiet); parity at sf0.1, where fixed per-job overhead
    # dominates either shape.
    subs = F.expr(
        f'transform(sequence(0, {PQ_M - 1}), s -> transform('
        f'slice(embedding, s * {PQ_SUB_DIM} + 1, {PQ_SUB_DIM}), '
        f'v -> cast(round(cast(v AS double) * {KM_SCALE}) AS bigint)))'
    )
    e = emb.select('vec_id', F.posexplode(subs).alias('sub', 'qa'))
    e = e.persist(StorageLevel.MEMORY_AND_DISK)
    corpus = e.filter(F.col('vec_id') >= N_QUERIES)

    seed = (
        corpus.select('vec_id')
        .distinct()
        .orderBy('vec_id')
        .limit(PQ_K)
        .withColumn('cl', F.row_number().over(Window.orderBy('vec_id')) - 1)
    )
    cent = corpus.join(seed, 'vec_id').select(
        'sub', 'cl', F.col('qa').alias('ca')
    )

    _d2 = F.aggregate(
        F.zip_with('qa', 'ca', lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast('bigint'),
        lambda acc, x: acc + x,
    )

    def assign(points, cent):
        """argmin-by-(distance, cl) centroid per (vec_id, subspace):
        min(struct(d, cl)) — partial-agg combinable, no window sort."""
        return (
            points.join(F.broadcast(cent), 'sub')
            .select('vec_id', 'sub', _d2.alias('d'), 'cl')
            .groupBy('vec_id', 'sub')
            .agg(F.min(F.struct('d', 'cl')).alias('m'))
            .select('vec_id', 'sub', F.col('m.cl').alias('cl'))
        )

    a1 = assign(corpus, cent)
    # Centroid update needs per-position means: re-explode the assigned
    # subspace arrays once (N x DIM rows, ONE pass) and regroup the
    # floor-means back into centroid arrays (M x K rows).
    cent = (
        corpus.join(a1, ['vec_id', 'sub'])
        .select('sub', 'cl', F.posexplode('qa').alias('pos', 'q'))
        .groupBy('sub', 'cl', 'pos')
        .agg(
            F.floor(F.sum('q').cast('double') / F.count(F.lit(1)))
            .cast('bigint')
            .alias('c')
        )
        .groupBy('sub', 'cl')
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct('pos', 'c'))),
                lambda s: s['c'],
            ).alias('ca')
        )
    )
    codes = assign(corpus, cent)

    # Query-to-centroid distance table: Q x M x K rows — broadcast side.
    qd = (
        e.filter(F.col('vec_id') < N_QUERIES)
        .join(F.broadcast(cent), 'sub')
        .select(
            F.col('vec_id').alias('query_id'), 'sub', 'cl', _d2.alias('d')
        )
    )
    adc = (
        codes.select(F.col('vec_id').alias('neighbor_id'), 'sub', 'cl')
        .join(F.broadcast(qd), ['sub', 'cl'])
        .groupBy('query_id', 'neighbor_id')
        .agg(F.sum('d').alias('adc_dist2'))
    )
    w = Window.partitionBy('query_id').orderBy('adc_dist2', 'neighbor_id')
    return (
        adc.withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= KM_TOPK)
        .select('query_id', 'neighbor_id', 'adc_dist2', 'rk')
    )


# ---------------------------------------------------------------------------
# IVF + PQ combined (the FAISS-IVFPQ production shape): the coarse k-means
# quantizer prunes the candidate set to the probed cell's inverted list,
# and PQ codes computed on RESIDUALS (vector minus its cell's centroid —
# within one cell, ||q - x|| == ||r_q - r_x||, so residual-ADC is exact
# PQ semantics) shrink per-vector bytes. The two stages compose cleanly
# because everything is integer-exact: residuals are bigint differences,
# codebooks are floor-means, distances are integer sums — so the whole
# two-level quantizer matches the DuckDB oracle bit-for-bit. Scale: the
# search never touches raw vectors — it is (probe: K-row broadcast
# argmin) + (inverted-list equi-join on the cell id) + (ADC: broadcast
# Q x M x K distance table + 16-row sum per candidate). Codebooks are
# GLOBAL across cells (the FAISS default), so PQ training is one grouped
# plan over all residuals, not a per-cell loop.
# ---------------------------------------------------------------------------


def _sql_ivfpq() -> str:
    return f"""{_sql_kmeans_ctes()},
    qa AS (
        SELECT vec_id AS query_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM e JOIN c{KM_ITERS} c ON e.pos = c.pos
            WHERE e.vec_id < {N_QUERIES}
            GROUP BY e.vec_id, c.cl
        ) WHERE rk = 1
    ),
    rc AS (
        SELECT e.vec_id, a.cl AS ccl, e.pos,
               CAST(e.pos // {PQ_SUB_DIM} AS INT) AS sub,
               e.q - c.c AS r
        FROM e
        JOIN af a ON e.vec_id = a.vec_id
        JOIN c{KM_ITERS} c ON c.cl = a.cl AND c.pos = e.pos
    ),
    rq AS (
        SELECT qa.query_id, e.pos,
               CAST(e.pos // {PQ_SUB_DIM} AS INT) AS sub,
               e.q - c.c AS r
        FROM e
        JOIN qa ON e.vec_id = qa.query_id
        JOIN c{KM_ITERS} c ON c.cl = qa.cl AND c.pos = e.pos
    ),
    pseed AS (
        SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS pcl
        FROM (SELECT DISTINCT vec_id FROM rc ORDER BY vec_id LIMIT {PQ_K})
    ),
    p0 AS (
        SELECT rc.sub, pseed.pcl, rc.pos, rc.r AS c
        FROM rc JOIN pseed ON rc.vec_id = pseed.vec_id
    ),
    pa1 AS (
        SELECT vec_id, sub, pcl FROM (
            SELECT rc.vec_id, rc.sub, p.pcl,
                   ROW_NUMBER() OVER (
                       PARTITION BY rc.vec_id, rc.sub
                       ORDER BY SUM((rc.r - p.c) * (rc.r - p.c)), p.pcl
                   ) AS rk
            FROM rc JOIN p0 p ON rc.pos = p.pos AND rc.sub = p.sub
            GROUP BY rc.vec_id, rc.sub, p.pcl
        ) WHERE rk = 1
    ),
    p1 AS (
        SELECT a.sub, a.pcl, rc.pos,
               CAST(floor(CAST(SUM(rc.r) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        FROM rc JOIN pa1 a ON rc.vec_id = a.vec_id AND rc.sub = a.sub
        GROUP BY a.sub, a.pcl, rc.pos
    ),
    codes AS (
        SELECT vec_id, sub, pcl FROM (
            SELECT rc.vec_id, rc.sub, p.pcl,
                   ROW_NUMBER() OVER (
                       PARTITION BY rc.vec_id, rc.sub
                       ORDER BY SUM((rc.r - p.c) * (rc.r - p.c)), p.pcl
                   ) AS rk
            FROM rc JOIN p1 p ON rc.pos = p.pos AND rc.sub = p.sub
            GROUP BY rc.vec_id, rc.sub, p.pcl
        ) WHERE rk = 1
    ),
    qd AS (
        SELECT rq.query_id, rq.sub, p.pcl,
               SUM((rq.r - p.c) * (rq.r - p.c)) AS d
        FROM rq JOIN p1 p ON rq.pos = p.pos AND rq.sub = p.sub
        GROUP BY rq.query_id, rq.sub, p.pcl
    ),
    adc AS (
        SELECT qd.query_id, codes.vec_id AS neighbor_id,
               CAST(SUM(qd.d) AS BIGINT) AS adc_dist2
        FROM codes
        JOIN af a ON a.vec_id = codes.vec_id
        JOIN qa ON qa.cl = a.cl
        JOIN qd ON qd.query_id = qa.query_id
               AND qd.sub = codes.sub AND qd.pcl = codes.pcl
        GROUP BY qd.query_id, codes.vec_id
    )
    SELECT query_id, neighbor_id, adc_dist2, rk FROM (
        SELECT query_id, neighbor_id, adc_dist2,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY adc_dist2, neighbor_id
               ) AS rk
        FROM adc
    ) WHERE rk <= {KM_TOPK}
    """


@register('ann_ivfpq_topk', oracle=_sql_ivfpq())
def ann_ivfpq_topk(spark, sf_dir):
    """IVF + PQ combined search (nprobe=1): coarse cells from the trained
    k-means quantizer, PQ codebooks trained on cell residuals, candidates
    restricted to the probed cell's inverted list, distances via
    residual-ADC. See the module note above.
    """
    from pyspark import StorageLevel

    e, cent, af, assign = _kmeans_train(spark, sf_dir)
    corpus_cells = af.select('vec_id', 'cl')

    # corpus residuals against each vector's own cell centroid
    rc = (
        e.filter(F.col('vec_id') >= N_QUERIES)
        .join(corpus_cells, 'vec_id')
        .join(F.broadcast(cent), ['cl', 'pos'])
        .select(
            'vec_id',
            F.col('cl').alias('ccl'),
            'pos',
            F.floor(F.col('pos') / PQ_SUB_DIM).cast('int').alias('sub'),
            (F.col('q') - F.col('c')).alias('r'),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # query residuals against the PROBED cell's centroid
    qa = assign(e.filter(F.col('vec_id') < N_QUERIES), cent, n=1).select(
        F.col('vec_id').alias('query_id'), 'cl'
    )
    rq = (
        e.filter(F.col('vec_id') < N_QUERIES)
        .join(qa, F.col('vec_id') == F.col('query_id'))
        .join(F.broadcast(cent), ['cl', 'pos'])
        .select(
            'query_id',
            'pos',
            F.floor(F.col('pos') / PQ_SUB_DIM).cast('int').alias('sub'),
            (F.col('q') - F.col('c')).alias('r'),
        )
    )

    # global PQ codebooks over residuals (one grouped plan, all subspaces)
    pseed = (
        rc.select('vec_id')
        .distinct()
        .orderBy('vec_id')
        .limit(PQ_K)
        .withColumn('pcl', F.row_number().over(Window.orderBy('vec_id')) - 1)
    )
    pcent = rc.join(pseed, 'vec_id').select(
        'sub', 'pcl', 'pos', F.col('r').alias('c')
    )

    def passign(points, idc, cent):
        d2 = F.sum((F.col('r') - F.col('c')) * (F.col('r') - F.col('c'))).alias('d')
        w = Window.partitionBy(idc, 'sub').orderBy('d', 'pcl')
        return (
            points.join(F.broadcast(cent), ['sub', 'pos'])
            .groupBy(idc, 'sub', 'pcl')
            .agg(d2)
            .withColumn('rk', F.row_number().over(w))
            .filter(F.col('rk') == 1)
            .select(idc, 'sub', 'pcl')
        )

    a1 = passign(rc, 'vec_id', pcent)
    pcent = (
        rc.join(a1, ['vec_id', 'sub'])
        .groupBy('sub', 'pcl', 'pos')
        .agg(
            F.floor(F.sum('r').cast('double') / F.count(F.lit(1)))
            .cast('bigint')
            .alias('c')
        )
    )
    codes = passign(rc, 'vec_id', pcent)

    # query distance table (Q x M x K rows — broadcast side)
    qd = (
        rq.join(F.broadcast(pcent), ['sub', 'pos'])
        .groupBy('query_id', 'sub', 'pcl')
        .agg(F.sum((F.col('r') - F.col('c')) * (F.col('r') - F.col('c'))).alias('d'))
    )
    # ADC restricted to the probed cell's inverted list (the IVF part)
    adc = (
        codes.select(F.col('vec_id').alias('neighbor_id'), 'sub', 'pcl')
        .join(
            corpus_cells.select(F.col('vec_id').alias('neighbor_id'), 'cl'),
            'neighbor_id',
        )
        .join(F.broadcast(qa), 'cl')
        .join(F.broadcast(qd), ['query_id', 'sub', 'pcl'])
        .groupBy('query_id', 'neighbor_id')
        .agg(F.sum('d').alias('adc_dist2'))
    )
    w = Window.partitionBy('query_id').orderBy('adc_dist2', 'neighbor_id')
    return (
        adc.withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= KM_TOPK)
        .select('query_id', 'neighbor_id', 'adc_dist2', 'rk')
    )


# ---------------------------------------------------------------------------
# RAG-style retrieval composition: ANN top-k over the embedding corpus,
# then hydrate the neighbors from the documents table — the retrieval data
# path every RAG ingest/serving pipeline runs (vector search returns ids;
# the text store join returns passages). Scale: the top-k side is Q x k
# rows (tiny — broadcast into the documents join, the corpus-sized side
# never shuffles); snippet extraction is a projection.
# ---------------------------------------------------------------------------


@register(
    'pipeline_rag_retrieval',
    oracle=f"""{_SQL_NORMED}
    , topk AS (
        SELECT query_id, neighbor_id, cosine, rk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   {_SQL_COS} AS cosine,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS} DESC, c.vec_id
                   ) AS rk
            FROM n q JOIN n c
              ON q.label = c.label AND q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    )
    SELECT t.query_id, t.neighbor_id, t.cosine, t.rk,
           d.doc_id IS NOT NULL AS has_doc,
           CAST(COALESCE(length(substring(d.text, 1, 200)), 0) AS BIGINT)
               AS snippet_len
    FROM topk t LEFT JOIN documents d ON t.neighbor_id = d.doc_id
    """,
)
def pipeline_rag_retrieval(spark, sf_dir):
    """Vector search -> passage hydration: IVF-blocked cosine top-k joined
    back to the documents table (left join — neighbors without a passage
    survive with has_doc = false, exactly what a serving layer must handle).
    """
    topk = ann_ivf_blocked_topk(spark, sf_dir)
    docs = table(spark, sf_dir, 'documents').select(
        F.col('doc_id').alias('neighbor_id'),
        F.substring('text', 1, 200).alias('snippet'),
    )
    # The Q x k result is the tiny side — broadcast IT into the documents
    # join so the corpus-sized text store never shuffles.
    return (
        F.broadcast(topk)
        .join(docs, 'neighbor_id', 'left')
        .select(
            'query_id',
            'neighbor_id',
            'cosine',
            'rk',
            F.col('snippet').isNotNull().alias('has_doc'),
            F.coalesce(F.length('snippet'), F.lit(0)).cast('bigint').alias('snippet_len'),
        )
    )


# ---------------------------------------------------------------------------
# mapInArrow: the zero-copy Arrow-RecordBatch UDF path — one level below
# mapInPandas (no pandas conversion, columnar batches straight from
# Tungsten). The right tool when the Python work is itself columnar
# (vectorized quantization, batch scoring against an in-process model).
# The computation is integer quantization (round each float32 component
# to 1e-3 fixed point, sum per vector), so the result is order- and
# engine-exact — the same determinism rule as the quantized k-means IVF.
# Scale: embarrassingly parallel per batch, zero shuffle.
# ---------------------------------------------------------------------------


@register(
    'embeddings_quantized_norm_arrow',
    oracle="""
    SELECT vec_id,
           CAST(list_sum(list_transform(embedding,
                    x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)))
               AS BIGINT) AS q_sum,
           CAST(len(embedding) AS BIGINT) AS dim
    FROM embeddings
    """,
)
def embeddings_quantized_norm_arrow(spark, sf_dir):
    """Per-vector quantized component sum via ``mapInArrow``.

    Each Arrow batch is processed columnar-natively: the list column's
    flat values buffer is quantized in one vectorized pass and re-summed
    per list offset — no pandas materialization, no per-row Python.
    """
    import numpy as np
    import pyarrow as pa

    def quantize(batches):
        for batch in batches:
            la = batch.column('embedding')
            # flat float32 values buffer + list offsets: one vectorized pass
            v = la.values.to_numpy(zero_copy_only=False).astype('float64')
            # HALF AWAY FROM ZERO to match SQL round() — np.rint/Python
            # round are half-to-even and would diverge on exact .5 ties
            q = (np.sign(v) * np.floor(np.abs(v) * 1000.0 + 0.5)).astype(
                'int64'
            )
            off = np.asarray(la.offsets)
            csum = np.concatenate(([0], np.cumsum(q)))
            # NULL lists: SQL yields NULL/NULL, so mask them out (their
            # offset span is empty and would otherwise read as 0/0). NULL
            # ELEMENTS inside a list are outside the schema contract.
            null_mask = ~np.asarray(la.is_valid())
            yield pa.record_batch(
                {
                    'vec_id': batch.column('vec_id'),
                    'q_sum': pa.array(
                        csum[off[1:]] - csum[off[:-1]],
                        pa.int64(),
                        mask=null_mask,
                    ),
                    'dim': pa.array(
                        np.diff(off), pa.int64(), mask=null_mask
                    ),
                }
            )

    emb = table(spark, sf_dir, 'embeddings')
    return emb.select('vec_id', 'embedding').mapInArrow(
        quantize, 'vec_id long, q_sum long, dim long'
    )


@register(
    'ann_filtered_topk',
    oracle=f"""{_SQL_NORMED}
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COS} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS} DESC, c.vec_id
               ) AS rk
        FROM n q JOIN n c
          ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
         AND c.label IN (2, 5, 7)
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_filtered_topk(spark, sf_dir):
    """Metadata-FILTERED vector search (the vector-DB "filtered ANN"
    problem): top-k cosine neighbors among corpus vectors whose label is
    in the predicate set, via PRE-filtering — the filter applies before
    scoring, so recall@k over the admissible set is exact by construction
    (post-filtering an unfiltered top-k would silently return < k or
    degrade recall when the filter is selective).

    Scale: the label predicate pushes down to the parquet scan (at 100 TB
    the corpus partitions by coarse label, turning the filter into
    partition pruning — scanned bytes shrink by the filter's selectivity
    before any compute); the query side broadcasts; the corpus never
    shuffles. The same pre-filter composes inside the IVF probe
    (filter the inverted list before ADC) without changing shape.
    """
    emb = table(spark, sf_dir, 'embeddings')
    n = emb.select(
        'vec_id',
        'label',
        'embedding',
        F.sqrt(_spark_dot(F.col('embedding'), F.col('embedding'))).alias('nrm'),
    )
    q = n.filter(F.col('vec_id') < N_QUERIES).alias('q')
    c = (
        n.filter(F.col('vec_id') >= N_QUERIES)
        .filter(F.col('label').isin(2, 5, 7))
        .alias('c')
    )
    return _ranked(F.broadcast(q).crossJoin(c), 'query_id')


# ---------------------------------------------------------------------------
# SemDedup (Abbas et al., 2023): semantic deduplication of an embedding
# corpus — k-means-cluster first, then drop near-duplicates WITHIN each
# cluster only. Clustering is what makes semantic dedup tractable: the
# pairwise test runs inside cells, so the quadratic is bounded by the cell
# size, and K grows with the corpus to hold |cell| constant (the published
# recipe: K ~ sqrt(N) keeps cells O(sqrt N)). Reuses the trained integer
# quantizer from the IVF family, so distances are bit-exact across engines
# (dist2 on unit-norm vectors is monotone in cosine: dist2 ~ 2*SCALE^2 *
# (1 - cos), so the integer threshold below IS a cosine >= 0.35 gate).
# Keep rule: a vector is dropped iff some SMALLER vec_id in its cell is
# within the threshold — deterministic, no ordering ambiguity.
# Scale: one corpus shuffle to cells, per-cell bounded pair-gen, component
# join only on surviving candidate pairs, one anti-join-shaped flag merge.
# ---------------------------------------------------------------------------

# integer dist2 threshold == cosine >= 0.35 on unit-norm inputs
SEM_T = (2 * KM_SCALE * KM_SCALE * 65) // 100


@register(
    'dedup_semantic_kmeans',
    oracle=f"""{_sql_kmeans_ctes()},
    cellpairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb
        FROM af a JOIN af b ON a.cl = b.cl AND a.vec_id < b.vec_id
    ),
    pd AS (
        SELECT p.va, p.vb,
               SUM((ea.q - eb.q) * (ea.q - eb.q)) AS dist2
        FROM cellpairs p
        JOIN e ea ON ea.vec_id = p.va
        JOIN e eb ON eb.vec_id = p.vb AND eb.pos = ea.pos
        GROUP BY p.va, p.vb
    ),
    dups AS (SELECT DISTINCT vb AS vec_id FROM pd WHERE dist2 <= {SEM_T})
    SELECT af.vec_id, CAST(af.cl AS BIGINT) AS cl,
           (d.vec_id IS NULL) AS kept
    FROM af LEFT JOIN dups d ON af.vec_id = d.vec_id
    """,
)
def dedup_semantic_kmeans(spark, sf_dir):
    """SemDedup: per-cluster semantic near-dup removal (module note above)."""
    e, _cent, final_assigned, _assign = _kmeans_train(spark, sf_dir)
    mem = final_assigned.select('vec_id', 'cl')

    a, b = mem.alias('ma'), mem.alias('mb')
    cellpairs = a.join(
        b,
        (F.col('ma.cl') == F.col('mb.cl'))
        & (F.col('ma.vec_id') < F.col('mb.vec_id')),
    ).select(F.col('ma.vec_id').alias('va'), F.col('mb.vec_id').alias('vb'))

    ea = e.select(F.col('vec_id').alias('va'), 'pos', F.col('q').alias('qa'))
    eb = e.select(F.col('vec_id').alias('vb'), 'pos', F.col('q').alias('qb'))
    pd = (
        cellpairs.join(ea, 'va')
        .join(eb, ['vb', 'pos'])
        .groupBy('va', 'vb')
        .agg(
            F.sum(
                (F.col('qa') - F.col('qb')) * (F.col('qa') - F.col('qb'))
            ).alias('dist2')
        )
    )
    dups = (
        pd.filter(F.col('dist2') <= SEM_T)
        .select(F.col('vb').alias('vec_id'))
        .distinct()
        .withColumn('dup', F.lit(True))
    )
    return mem.join(dups, 'vec_id', 'left').select(
        'vec_id',
        F.col('cl').cast('bigint').alias('cl'),
        F.col('dup').isNull().alias('kept'),
    )


# ---------------------------------------------------------------------------
# Multi-probe sign-LSH: probe the query's own bucket PLUS every bucket at
# Hamming distance 1 (flip each of the 8 bits) — the standard multiprobe
# trade (Lv et al., VLDB'07): recall rises steeply for a 9x probe cost on
# the QUERY side only. Corpus vectors still live in exactly ONE bucket,
# so the probe set is disjoint and no candidate dedup is needed; the
# corpus-side plan is IDENTICAL to the single-probe query (same bucket
# projection, same equi-join key) — only the tiny query side fans out.
# ---------------------------------------------------------------------------

_SQL_PROBES = (
    'list_prepend(bucket, list_transform(range(1, 9), i -> '
    "substring(bucket, 1, i - 1) || "
    "(CASE WHEN substring(bucket, i, 1) = '1' THEN '0' ELSE '1' END) || "
    'substring(bucket, i + 1, 8)))'
)


@register(
    'ann_rp_lsh_multiprobe',
    oracle=f"""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm,
               {_SQL_BUCKET} AS bucket
        FROM embeddings
    ),
    qp AS (
        SELECT vec_id, embedding, nrm, unnest({_SQL_PROBES}) AS probe
        FROM n WHERE vec_id < {N_QUERIES}
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_SQL_COS} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_SQL_COS} DESC, c.vec_id
               ) AS rk
        FROM qp q JOIN n c
          ON q.probe = c.bucket AND c.vec_id >= {N_QUERIES}
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_rp_lsh_multiprobe(spark, sf_dir):
    """Hamming-1 multiprobe over the sign-LSH buckets (module note)."""
    n = _rp_lsh_buckets(spark, sf_dir)
    probes = F.expr(
        "array_prepend(transform(sequence(1, 8), i -> "
        "concat(substring(bucket, 1, i - 1), "
        "if(substring(bucket, i, 1) = '1', '0', '1'), "
        "substring(bucket, i + 1, 8))), bucket)"
    )
    q = (
        n.filter(F.col('vec_id') < N_QUERIES)
        .select('vec_id', 'embedding', 'nrm', F.explode(probes).alias('probe'))
        .alias('q')
    )
    c = n.filter(F.col('vec_id') >= N_QUERIES).alias('c')
    joined = F.broadcast(q).join(c, F.col('q.probe') == F.col('c.bucket'))
    return _ranked(joined, 'query_id')


# ---------------------------------------------------------------------------
# Two-stage retrieval (the production RAG shape): a cheap quantized ANN
# stage recalls top-10 candidates per query, then a full-precision exact
# cosine RERANKS just those candidates and keeps the top 5. The precision
# stage touches Q x 10 rows — raw vectors are fetched by equi-join on
# vec_id (point lookups into the bucketed vector store at scale), never a
# corpus scan. This is the retrieve-then-rerank split every vector search
# deployment runs; the quantized stage bounds cost, the rerank stage
# restores full-precision ordering.
# ---------------------------------------------------------------------------


@register(
    'pipeline_rag_rerank',
    oracle=f"""
    WITH s1 AS ({_sql_kmeans_search(1)}),
    n AS (
        SELECT vec_id, embedding,
               sqrt({SQL_DOT.format(a='embedding', b='embedding')}) AS nrm
        FROM embeddings
    )
    SELECT query_id, neighbor_id, cosine, rk2 FROM (
        SELECT s1.query_id, s1.neighbor_id,
               round({SQL_DOT.format(a='q.embedding', b='c.embedding')}
                     / (q.nrm * c.nrm), 9) AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY s1.query_id
                   ORDER BY round({SQL_DOT.format(a='q.embedding', b='c.embedding')}
                                  / (q.nrm * c.nrm), 9) DESC, s1.neighbor_id
               ) AS rk2
        FROM s1
        JOIN n q ON q.vec_id = s1.query_id
        JOIN n c ON c.vec_id = s1.neighbor_id
    ) WHERE rk2 <= 5
    """,
)
def pipeline_rag_rerank(spark, sf_dir):
    """Quantized-recall + exact-precision rerank (module note above)."""
    s1 = _kmeans_search(spark, sf_dir, 1).select('query_id', 'neighbor_id')
    emb = table(spark, sf_dir, 'embeddings')
    n = emb.select(
        'vec_id',
        'embedding',
        F.sqrt(_spark_dot(F.col('embedding'), F.col('embedding'))).alias('nrm'),
    )
    q = n.select(
        F.col('vec_id').alias('query_id'),
        F.col('embedding').alias('qe'),
        F.col('nrm').alias('qn'),
    )
    c = n.select(
        F.col('vec_id').alias('neighbor_id'),
        F.col('embedding').alias('ce'),
        F.col('nrm').alias('cn'),
    )
    cos = F.round(
        _spark_dot(F.col('qe'), F.col('ce')) / (F.col('qn') * F.col('cn')), 9
    )
    w = Window.partitionBy('query_id').orderBy(
        F.desc('cosine'), F.asc('neighbor_id')
    )
    return (
        s1.join(F.broadcast(q), 'query_id')
        .join(c, 'neighbor_id')
        .select('query_id', 'neighbor_id', cos.alias('cosine'))
        .withColumn('rk2', F.row_number().over(w).cast('long'))
        .filter(F.col('rk2') <= 5)
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval fusion (Reciprocal Rank Fusion): the modern RAG retrieval
# stack — a DENSE ranking (exact embedding cosine, the `ann_*` family) and a
# SPARSE ranking (inverted-index TF cosine of the query document's text, the
# `dedup_tf_cosine_pairs` machinery) fused per query with RRF:
#     score(d) = sum over lists containing d of  1e6 div (60 + rank_list(d))
# (Cormack et al.'s k=60), kept in INTEGERS so the fused ranking is
# bit-identical across engines — no float accumulation anywhere.
#
# Scale: each list is its own already-scaled retrieval plan (queries
# broadcast, corpus never shuffles); the fusion is a full-outer equi-join of
# two Q x 10 result sets — driver-trivial at any corpus size — plus one
# Q-partitioned window over <= 20 rows per query.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_SCALE = 1_000_000
_RRF_TOP = 5


@register(
    'pipeline_rrf_fusion',
    oracle=f"""{_SQL_NORMED},
    dense AS (
        SELECT query_id, neighbor_id, rk FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {_SQL_COS} DESC, c.vec_id
                   ) AS rk
            FROM n q JOIN n c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE rk <= {TOP_K}
    ),
    toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    n2 AS (
        SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS n2 FROM tf GROUP BY 1
    ),
    sdot AS (
        SELECT a.doc_id AS query_id, b.doc_id AS cand_id,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM tf a JOIN tf b ON a.tok = b.tok
        WHERE a.doc_id < {N_QUERIES} AND b.doc_id >= {N_QUERIES}
        GROUP BY 1, 2
    ),
    sparse AS (
        SELECT query_id, cand_id, rk FROM (
            SELECT s.query_id, s.cand_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.query_id
                       ORDER BY CAST(s.dot * s.dot AS DOUBLE)
                                / CAST(na.n2 * nb.n2 AS DOUBLE) DESC,
                                s.cand_id
                   ) AS rk
            FROM sdot s
            JOIN n2 na ON s.query_id = na.doc_id
            JOIN n2 nb ON s.cand_id = nb.doc_id
        ) WHERE rk <= {TOP_K}
    ),
    fused AS (
        SELECT COALESCE(d.query_id, s.query_id) AS query_id,
               COALESCE(d.neighbor_id, s.cand_id) AS doc_id,
               CAST(COALESCE({_RRF_SCALE} // ({_RRF_K} + d.rk), 0)
                    + COALESCE({_RRF_SCALE} // ({_RRF_K} + s.rk), 0)
                    AS BIGINT) AS rrf_score,
               d.rk IS NOT NULL AS in_dense,
               s.rk IS NOT NULL AS in_sparse
        FROM dense d
        FULL OUTER JOIN sparse s
          ON d.query_id = s.query_id AND d.neighbor_id = s.cand_id
    )
    SELECT query_id, doc_id, rrf_score, in_dense, in_sparse, rk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY rrf_score DESC, doc_id
        ) AS rk FROM fused
    ) WHERE rk <= {_RRF_TOP}
    """,
)
def pipeline_rrf_fusion(spark, sf_dir):
    """Fuse the dense (embedding cosine) and sparse (TF cosine) top-10
    lists per query with integer Reciprocal Rank Fusion; return the top-5
    fused results per query (module note above)."""
    from pyspark.sql import Window as W

    dense = ann_bruteforce_topk(spark, sf_dir).select(
        'query_id', F.col('neighbor_id').alias('doc_id'),
        F.col('rk').alias('rk_d'),
    )

    docs = table(spark, sf_dir, 'documents')
    tf = (
        docs.select(
            'doc_id',
            F.explode(F.split(F.trim(F.col('text')), r'\s+')).alias('tok'),
        )
        .groupBy('doc_id', 'tok')
        .agg(F.count(F.lit(1)).alias('tf'))
    )
    n2 = tf.groupBy('doc_id').agg(
        F.sum(F.col('tf') * F.col('tf')).cast('bigint').alias('n2')
    )
    qtf = tf.filter(F.col('doc_id') < N_QUERIES).select(
        F.col('doc_id').alias('query_id'), 'tok', F.col('tf').alias('tfa')
    )
    ctf = tf.filter(F.col('doc_id') >= N_QUERIES).select(
        F.col('doc_id').alias('cand_id'), 'tok', F.col('tf').alias('tfb')
    )
    sdot = (
        F.broadcast(qtf)
        .join(ctf, 'tok')
        .groupBy('query_id', 'cand_id')
        .agg(F.sum(F.col('tfa') * F.col('tfb')).cast('bigint').alias('dot'))
    )
    na = n2.select(F.col('doc_id').alias('query_id'), F.col('n2').alias('na2'))
    nb = n2.select(F.col('doc_id').alias('cand_id'), F.col('n2').alias('nb2'))
    ws = W.partitionBy('query_id').orderBy(F.desc('cos2'), F.asc('cand_id'))
    sparse = (
        sdot.join(F.broadcast(na), 'query_id')
        .join(nb, 'cand_id')
        .select(
            'query_id',
            'cand_id',
            (
                (F.col('dot') * F.col('dot')).cast('double')
                / (F.col('na2') * F.col('nb2')).cast('double')
            ).alias('cos2'),
        )
        .withColumn('rk_s', F.row_number().over(ws))
        .filter(F.col('rk_s') <= TOP_K)
        .select('query_id', F.col('cand_id').alias('doc_id'), 'rk_s')
    )

    fused = (
        dense.join(sparse, ['query_id', 'doc_id'], 'full_outer')
        .select(
            'query_id',
            'doc_id',
            (
                F.coalesce(
                    F.expr(f'{_RRF_SCALE} div ({_RRF_K} + rk_d)'), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f'{_RRF_SCALE} div ({_RRF_K} + rk_s)'), F.lit(0)
                )
            ).cast('bigint').alias('rrf_score'),
            F.col('rk_d').isNotNull().alias('in_dense'),
            F.col('rk_s').isNotNull().alias('in_sparse'),
        )
    )
    wf = W.partitionBy('query_id').orderBy(F.desc('rrf_score'), F.asc('doc_id'))
    return (
        fused.withColumn('rk', F.row_number().over(wf).cast('long'))
        .filter(F.col('rk') <= _RRF_TOP)
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive / triplet training: for each anchor
# (query vector), the top-k HIGHEST-cosine corpus vectors whose label
# differs from the anchor's — the negatives a contrastive loss learns the
# most from — plus the triplet margin against the anchor's best positive
# (margin > 0 = this negative currently outranks every positive: a loss
# violator). This is the mining pass of every embedding-training pipeline;
# run per epoch over the full corpus it is the dominant data job.
# Scale: the anchor side is Q rows and broadcasts; the corpus never
# shuffles (one scan computes all cosines, the per-anchor top-k is a
# Q-partitioned window over Q x N rows). The best-positive table is Q rows
# and broadcasts back into the negative stream. margin subtracts two
# round(.,9) cosines — identical operands on both engines, exact.
# ---------------------------------------------------------------------------


@register(
    'ann_hard_negatives',
    oracle=f"""{_SQL_NORMED},
    scored AS (
        SELECT q.vec_id AS query_id, q.label AS q_label,
               c.vec_id AS neighbor_id, c.label AS n_label,
               {_SQL_COS} AS cosine
        FROM n q JOIN n c ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    best_pos AS (
        SELECT query_id, MAX(cosine) AS best_pos_cos
        FROM scored WHERE n_label = q_label GROUP BY query_id
    )
    SELECT query_id, neighbor_id, cosine,
           (cosine - best_pos_cos) AS margin, rk
    FROM (
        SELECT s.query_id, s.neighbor_id, s.cosine, b.best_pos_cos,
               ROW_NUMBER() OVER (
                   PARTITION BY s.query_id
                   ORDER BY s.cosine DESC, s.neighbor_id
               ) AS rk
        FROM scored s JOIN best_pos b ON s.query_id = b.query_id
        WHERE s.n_label <> s.q_label
    ) WHERE rk <= {TOP_K}
    """,
)
def ann_hard_negatives(spark, sf_dir):
    """Per-anchor hardest cross-label negatives with triplet margins (see
    the module note). One corpus scan; anchors and best-positive table
    broadcast. An anchor with NO same-label corpus vector has no defined
    margin and is dropped by the inner join — the oracle states the same
    inner join (cannot occur on this corpus: every label has >= 40
    members)."""
    emb = table(spark, sf_dir, 'embeddings')
    n = emb.select(
        'vec_id',
        'label',
        'embedding',
        F.sqrt(_spark_dot(F.col('embedding'), F.col('embedding'))).alias('nrm'),
    )
    q = n.filter(F.col('vec_id') < N_QUERIES).alias('q')
    c = n.filter(F.col('vec_id') >= N_QUERIES).alias('c')
    cos = F.round(
        _spark_dot(F.col('q.embedding'), F.col('c.embedding'))
        / (F.col('q.nrm') * F.col('c.nrm')),
        9,
    )
    scored = F.broadcast(q).crossJoin(c).select(
        F.col('q.vec_id').alias('query_id'),
        F.col('q.label').alias('q_label'),
        F.col('c.vec_id').alias('neighbor_id'),
        F.col('c.label').alias('n_label'),
        cos.alias('cosine'),
    )
    best_pos = F.broadcast(
        scored.filter(F.col('n_label') == F.col('q_label'))
        .groupBy('query_id')
        .agg(F.max('cosine').alias('best_pos_cos'))
    )
    w = Window.partitionBy('query_id').orderBy(
        F.desc('cosine'), F.asc('neighbor_id')
    )
    return (
        scored.filter(F.col('n_label') != F.col('q_label'))
        .join(best_pos, 'query_id')
        .withColumn('rk', F.row_number().over(w).cast('long'))
        .filter(F.col('rk') <= TOP_K)
        .select(
            'query_id',
            'neighbor_id',
            'cosine',
            (F.col('cosine') - F.col('best_pos_cos')).alias('margin'),
            'rk',
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka funnel retrieval: coarse-score every candidate on the FIRST
# 16 embedding dimensions (truncate-and-renormalize, the matryoshka
# property), keep the top-64 per query, then exactly re-rank only those
# candidates on all 64 dims. The funnel is the production pattern for
# nested-dimension embeddings: stage 1 reads 1/4 of the vector bytes (and
# in a real system runs against a far smaller prefix index), stage 2
# touches 64 rows per query. Recall against full brute force depends on
# how much signal the prefix carries: matryoshka-TRAINED embeddings
# concentrate it there by construction; the synthetic test vectors are
# isotropic, so measured recall@10 is ~0.5 (sf0.001) — the gate therefore
# checks the funnel's exact two-stage semantics (oracle), and the property
# test pins stage 2 as bit-exact re-ranking of the stage-1 candidates. Same determinism recipe as every ANN query here: round(cos, 9)
# with a vec_id tiebreak at BOTH stages, so candidate sets and final ranks
# are bit-stable across engines.
# ---------------------------------------------------------------------------

MAT_DIMS = 16
MAT_CAND = 64

_SQL_DOT8 = (
    f'list_sum(list_transform(range(1, {MAT_DIMS + 1}), '
    'i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))'
)


def _matryoshka_oracle() -> str:
    dot8 = _SQL_DOT8.format(a='q.embedding', b='c.embedding')
    coarse = f'round({dot8} / (q.nrm8 * c.nrm8), 9)'
    full = f"round({SQL_DOT.format(a='q.embedding', b='c.embedding')}"
    full += ' / (q.nrm * c.nrm), 9)'
    self8 = _SQL_DOT8.format(a='embedding', b='embedding')
    self64 = SQL_DOT.format(a='embedding', b='embedding')
    return f"""
    WITH n AS (
        SELECT vec_id, embedding,
               sqrt({self8}) AS nrm8,
               sqrt({self64}) AS nrm
        FROM embeddings
    ),
    coarse AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {coarse} DESC, c.vec_id
                   ) AS crk
            FROM n q JOIN n c
              ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
        ) WHERE crk <= {MAT_CAND}
    )
    SELECT query_id, neighbor_id, cosine, rk FROM (
        SELECT cd.query_id, cd.neighbor_id,
               {full.replace('q.', 'qq.').replace('c.', 'cc.')} AS cosine,
               ROW_NUMBER() OVER (
                   PARTITION BY cd.query_id
                   ORDER BY {full.replace('q.', 'qq.').replace('c.', 'cc.')}
                            DESC, cd.neighbor_id
               ) AS rk
        FROM coarse cd
        JOIN n qq ON cd.query_id = qq.vec_id
        JOIN n cc ON cd.neighbor_id = cc.vec_id
    ) WHERE rk <= {TOP_K}
    """


@register('ann_matryoshka_rerank', oracle=_matryoshka_oracle())
def ann_matryoshka_rerank(spark, sf_dir):
    """8-dim prefix funnel + exact 64-dim re-rank (see module note)."""
    emb = table(spark, sf_dir, 'embeddings')
    pre = F.slice('embedding', 1, MAT_DIMS)
    n = emb.select(
        'vec_id',
        'embedding',
        F.sqrt(_spark_dot(pre, pre)).alias('nrm8'),
        F.sqrt(
            _spark_dot(F.col('embedding'), F.col('embedding'))
        ).alias('nrm'),
    ).persist()
    q = n.filter(F.col('vec_id') < N_QUERIES).alias('q')
    c = n.filter(F.col('vec_id') >= N_QUERIES).alias('c')
    coarse_cos = F.round(
        _spark_dot(
            F.slice(F.col('q.embedding'), 1, MAT_DIMS),
            F.slice(F.col('c.embedding'), 1, MAT_DIMS),
        )
        / (F.col('q.nrm8') * F.col('c.nrm8')),
        9,
    )
    wc = Window.partitionBy('query_id').orderBy(
        F.desc('coarse'), F.asc('neighbor_id')
    )
    cand = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            F.col('q.vec_id').alias('query_id'),
            F.col('c.vec_id').alias('neighbor_id'),
            coarse_cos.alias('coarse'),
        )
        .withColumn('crk', F.row_number().over(wc))
        .filter(F.col('crk') <= MAT_CAND)
        .select('query_id', 'neighbor_id')
    )
    qq = n.select(
        F.col('vec_id').alias('query_id'),
        F.col('embedding').alias('q_emb'),
        F.col('nrm').alias('q_nrm'),
    )
    cc = n.select(
        F.col('vec_id').alias('neighbor_id'),
        F.col('embedding').alias('c_emb'),
        F.col('nrm').alias('c_nrm'),
    )
    full_cos = F.round(
        _spark_dot(F.col('q_emb'), F.col('c_emb'))
        / (F.col('q_nrm') * F.col('c_nrm')),
        9,
    )
    wf = Window.partitionBy('query_id').orderBy(
        F.desc('cosine'), F.asc('neighbor_id')
    )
    return (
        cand.join(F.broadcast(qq), 'query_id')
        .join(cc, 'neighbor_id')
        .select('query_id', 'neighbor_id', full_cos.alias('cosine'))
        .withColumn('rk', F.row_number().over(wf).cast('long'))
        .filter(F.col('rk') <= TOP_K)
        .select('query_id', 'neighbor_id', 'cosine', 'rk')
    )


# ---------------------------------------------------------------------------
# IVF x matryoshka composition: coarse PREFIX-distance scoring WITHIN the
# probed cells' inverted lists, then exact full-dim re-rank of the coarse
# survivors. This is the production form of the matryoshka funnel: the
# plain funnel (ann_matryoshka_rerank) scores the 16-dim prefix against the
# ENTIRE corpus — a correct semantics oracle but still a full scan — while
# here the trained IVF quantizer (shared with ann_ivf_kmeans_*) prunes the
# corpus to nprobe inverted lists FIRST, so the prefix stage touches only
# |probed cells| rows and the full-dim stage only MAT_CAND rows per query.
#
# Scale: identical to the trained-IVF searches — candidates arrive via an
# equi-join on the cell id (never a corpus cross join), centroids broadcast,
# and the prefix stage reads a quarter of the component rows (pos <
# MAT_DIMS) of the probed lists only. Everything runs in the same quantized
# integer space as the IVF family, so distances are exact integers and both
# engines rank bit-identically ((dist2, neighbor_id) tiebreak at both
# stages).
# ---------------------------------------------------------------------------

IVF_MAT_NPROBE = 2  # cells probed per query (matches ann_ivf_kmeans_nprobe2)


def _sql_ivf_matryoshka() -> str:
    return f"""{_sql_kmeans_ctes()},
    qa AS (
        SELECT vec_id AS query_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM e JOIN c{KM_ITERS} c ON e.pos = c.pos
            WHERE e.vec_id < {N_QUERIES}
            GROUP BY e.vec_id, c.cl
        ) WHERE rk <= {IVF_MAT_NPROBE}
    ),
    coarse AS (
        SELECT query_id, neighbor_id FROM (
            SELECT qa.query_id, a.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY qa.query_id
                       ORDER BY SUM((eq.q - ec.q) * (eq.q - ec.q)), a.vec_id
                   ) AS crk
            FROM qa
            JOIN af a ON a.cl = qa.cl
            JOIN e eq ON eq.vec_id = qa.query_id AND eq.pos < {MAT_DIMS}
            JOIN e ec ON ec.vec_id = a.vec_id AND ec.pos = eq.pos
            GROUP BY qa.query_id, a.vec_id
        ) WHERE crk <= {MAT_CAND}
    )
    SELECT query_id, neighbor_id, CAST(dist2 AS BIGINT) AS dist2, rk FROM (
        SELECT query_id, neighbor_id, dist2,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY dist2, neighbor_id
               ) AS rk
        FROM (
            SELECT c.query_id, c.neighbor_id,
                   SUM((eq.q - ec.q) * (eq.q - ec.q)) AS dist2
            FROM coarse c
            JOIN e eq ON eq.vec_id = c.query_id
            JOIN e ec ON ec.vec_id = c.neighbor_id AND ec.pos = eq.pos
            GROUP BY c.query_id, c.neighbor_id
        )
    ) WHERE rk <= {KM_TOPK}
    """


@register('ann_ivf_matryoshka_topk', oracle=_sql_ivf_matryoshka())
def ann_ivf_matryoshka_topk(spark, sf_dir):
    """Trained IVF probe -> 16-dim-prefix coarse rank within the probed
    inverted lists -> exact 64-dim re-rank of the MAT_CAND survivors (see
    the module note). The coarse stage is the ann_ivfpq_topk residual-ADC
    shape with a MAT_DIMS-prefix distance instead of a codebook lookup."""
    e, cent, final_assigned, assign = _kmeans_train(spark, sf_dir)

    qa = assign(
        e.filter(F.col('vec_id') < N_QUERIES), cent, n=IVF_MAT_NPROBE
    ).select(F.col('vec_id').alias('query_id'), 'cl')
    lists = final_assigned.select(F.col('vec_id').alias('neighbor_id'), 'cl')
    # A corpus vector lives in exactly one cell, so probing 2 cells yields
    # disjoint candidate sets — no dedup before the coarse rank.
    pairs = qa.join(lists, 'cl').select('query_id', 'neighbor_id')

    eq = e.select(F.col('vec_id').alias('query_id'), 'pos', F.col('q').alias('qq'))
    ec = e.select(F.col('vec_id').alias('neighbor_id'), 'pos', F.col('q').alias('qc'))
    d2 = F.sum(
        (F.col('qq') - F.col('qc')) * (F.col('qq') - F.col('qc'))
    )

    wc = Window.partitionBy('query_id').orderBy('cdist2', 'neighbor_id')
    coarse = (
        pairs.join(eq.filter(F.col('pos') < MAT_DIMS), 'query_id')
        .join(ec, ['neighbor_id', 'pos'])
        .groupBy('query_id', 'neighbor_id')
        .agg(d2.alias('cdist2'))
        .withColumn('crk', F.row_number().over(wc))
        .filter(F.col('crk') <= MAT_CAND)
        .select('query_id', 'neighbor_id')
    )

    wf = Window.partitionBy('query_id').orderBy('dist2', 'neighbor_id')
    return (
        coarse.join(eq, 'query_id')
        .join(ec, ['neighbor_id', 'pos'])
        .groupBy('query_id', 'neighbor_id')
        .agg(d2.alias('dist2'))
        .withColumn('rk', F.row_number().over(wf).cast('long'))
        .filter(F.col('rk') <= KM_TOPK)
        .select('query_id', 'neighbor_id', 'dist2', 'rk')
    )


# ---------------------------------------------------------------------------
# Incremental IVF index maintenance: assign an INCOMING batch of vectors to
# the cells of the already-trained coarse quantizer without retraining —
# the per-ingest step that keeps a production vector index current (the
# ANN counterpart of dedup_incremental_exact / dedup_incremental_minhash).
# The index trains on the standing corpus only (the batch held out); the
# batch then probes the K trained centroids.
# Scale: the maintenance work is BATCH-proportional — the standing corpus
# is never rescanned at assignment time (its components feed only the
# one-off training job, which at 100 TB is amortized across ingests), and
# the assignment itself is a broadcast join of the K x DIM centroid table
# (512 rows) against the exploded batch, one partial-aggregable shuffle on
# the batch's vec_ids. Distances stay in the quantized integer space, so
# both engines assign bit-identically.
# ---------------------------------------------------------------------------

ANN_INCR_MOD = 10  # vec_id % 10 == 9 is the incoming batch; rest = corpus

_INCR_HOLDOUT = f' AND (vec_id % {ANN_INCR_MOD}) <> {ANN_INCR_MOD - 1}'


@register(
    'ann_ivf_incremental_assign',
    oracle=f"""{_sql_kmeans_ctes(_INCR_HOLDOUT)}
    SELECT vec_id, cl, CAST(dist2 AS BIGINT) AS dist2 FROM (
        SELECT e.vec_id, c.cl,
               SUM((e.q - c.c) * (e.q - c.c)) AS dist2,
               ROW_NUMBER() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
               ) AS rk
        FROM e JOIN c{KM_ITERS} c ON e.pos = c.pos
        WHERE e.vec_id >= {N_QUERIES}
          AND (e.vec_id % {ANN_INCR_MOD}) = {ANN_INCR_MOD - 1}
        GROUP BY e.vec_id, c.cl
    ) WHERE rk = 1
    """,
)
def ann_ivf_incremental_assign(spark, sf_dir):
    """Assign the incoming vector batch (vec_id % 10 == 9) to the nearest
    cell of the quantizer trained on the standing corpus — batch-
    proportional index maintenance (see the module note)."""
    e, cent, _final, assign = _kmeans_train(
        spark,
        sf_dir,
        extra_filter=F.col('vec_id') % ANN_INCR_MOD != ANN_INCR_MOD - 1,
    )
    incoming = e.filter(
        (F.col('vec_id') >= N_QUERIES)
        & (F.col('vec_id') % ANN_INCR_MOD == ANN_INCR_MOD - 1)
    )
    return assign(incoming, cent, n=1).select(
        'vec_id',
        F.col('cl').cast('bigint').alias('cl'),
        F.col('dist2').cast('bigint').alias('dist2'),
    )


# ---------------------------------------------------------------------------
# IVF index maintenance, step 2: DRIFT DETECTION. Incremental assignment
# (above) keeps the index current; nothing yet tells the pipeline when the
# accumulated ingests have degraded the quantizer. The cheap monitor is the
# cell-OCCUPANCY histogram: if the incoming batch lands in the trained
# cells with a distribution far from the training-time occupancy, the
# centroids no longer describe the data and a retrain is due — the ANN
# analogue of the adaptive-salt gate (dedup.py), a one-scalar-job decision.
# Statistic: total-variation distance between the two occupancy histograms,
# kept in INTEGER arithmetic (|batch_n*corpus_total - corpus_n*batch_total|
# summed; TVD = drift_num / (2*corpus_total*batch_total)) so both engines
# flag bit-identically. Retrain iff TVD > 1/4 <=> 2*drift_num > ct*bt.
# Scale: two K-row histogram aggs (one partial-aggregable shuffle each over
# data already produced by training/assignment) + a broadcast of the 1-row
# totals — batch-proportional, like the assignment itself.
# ---------------------------------------------------------------------------

DRIFT_TAU_NUM, DRIFT_TAU_DEN = 1, 4  # retrain threshold: TVD > 1/4


def _occupancy_drift(corp, batch, checkpoint: bool = True):
    """One-row drift summary from two (cl, *_n) occupancy histograms:
    (corpus_total, batch_total, drift_num, retrain). Pure integer TVD —
    the decision the synthetic-shift test drives directly.

    ``cells`` (at most K + novel-cell rows) is consumed by TWO jobs — the
    broadcast totals and the final aggregate — and in the registered gate
    each consumption would re-execute the full k-means assignment subtree
    above it (two WindowGroupLimit top-1 passes per re-execution; the
    uncheckpointed plan showed the subtree three times). An eager
    ``localCheckpoint`` materializes the K-row histogram ONCE and both
    jobs read the checkpointed rows. ``checkpoint=False`` keeps the raw
    composed plan for the plan-shape pin tests."""
    cells = (
        corp.join(batch, 'cl', 'full_outer')
        .select(
            F.coalesce('corpus_n', F.lit(0)).alias('corpus_n'),
            F.coalesce('batch_n', F.lit(0)).alias('batch_n'),
        )
    )
    if checkpoint:
        cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum('corpus_n').cast('bigint').alias('ct'),
        F.sum('batch_n').cast('bigint').alias('bt'),
    )
    # The cross terms are count PRODUCTS: at 10^12-row corpora they pass
    # bigint range, so the whole decision runs in 128-bit-safe arithmetic
    # (decimal(38,0) here, HUGEINT in the oracle — both exact to 1e38).
    # The drift_num diagnostic stays 128-bit too, surfaced as its decimal
    # digit string: a bigint downcast would NULL (Spark, non-ANSI) or
    # error (DuckDB) at the 1e12-row design point where the numerator
    # (~2*ct*bt ≈ 1e24) exceeds int64.
    dec = 'decimal(38,0)'
    term = F.abs(
        F.col('batch_n').cast(dec) * F.col('ct')
        - F.col('corpus_n').cast(dec) * F.col('bt')
    )
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy('ct', 'bt')
        .agg(F.sum(term).alias('dn'))
        .select(
            F.col('ct').alias('corpus_total'),
            F.col('bt').alias('batch_total'),
            F.col('dn').cast('string').alias('drift_num'),
            # TVD = dn/(2*ct*bt) > NUM/DEN  <=>  (exact, pre-downcast)
            (
                F.lit(DRIFT_TAU_DEN).cast(dec) * F.col('dn')
                > F.lit(2 * DRIFT_TAU_NUM).cast(dec)
                * F.col('ct').cast(dec)
                * F.col('bt')
            )
            .cast('int')
            .alias('retrain'),
        )
    )


@register(
    'ann_ivf_drift_gate',
    oracle=f"""{_sql_kmeans_ctes(_INCR_HOLDOUT)},
    corp AS (SELECT cl, COUNT(*) AS corpus_n FROM af GROUP BY cl),
    ba AS (
        SELECT cl, COUNT(*) AS batch_n FROM (
            SELECT vec_id, cl FROM (
                SELECT e.vec_id, c.cl,
                       ROW_NUMBER() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                       ) AS rk
                FROM e JOIN c{KM_ITERS} c ON e.pos = c.pos
                WHERE e.vec_id >= {N_QUERIES}
                  AND (e.vec_id % {ANN_INCR_MOD}) = {ANN_INCR_MOD - 1}
                GROUP BY e.vec_id, c.cl
            ) WHERE rk = 1
        ) GROUP BY cl
    ),
    cells AS (
        SELECT COALESCE(corp.corpus_n, 0) AS corpus_n,
               COALESCE(ba.batch_n, 0) AS batch_n
        FROM corp FULL OUTER JOIN ba ON corp.cl = ba.cl
    ),
    tot AS (SELECT SUM(corpus_n) AS ct, SUM(batch_n) AS bt FROM cells)
    SELECT CAST(tot.ct AS BIGINT) AS corpus_total,
           CAST(tot.bt AS BIGINT) AS batch_total,
           CAST(SUM(ABS(CAST(batch_n AS HUGEINT) * tot.ct
                        - CAST(corpus_n AS HUGEINT) * tot.bt)) AS VARCHAR)
               AS drift_num,
           CAST(
               {DRIFT_TAU_DEN}
                   * SUM(ABS(CAST(batch_n AS HUGEINT) * tot.ct
                             - CAST(corpus_n AS HUGEINT) * tot.bt))
               > 2 * {DRIFT_TAU_NUM} * CAST(tot.ct AS HUGEINT) * tot.bt
               AS INT
           ) AS retrain
    FROM cells, tot
    GROUP BY tot.ct, tot.bt
    """,
)
def ann_ivf_drift_gate(spark, sf_dir):
    """Quantizer-drift monitor: TVD between the incoming batch's
    cell-occupancy histogram and the training-time occupancy, flagging
    retrain past 1/4 — the decision gate that schedules step-3 retraining
    (see the module note; a shifted batch trips the flag and a
    proportional one doesn't: tests/test_similarity_recall.py).

    The registered query is SELF-CONTAINED (it re-trains the quantizer so
    the DuckDB oracle can reproduce it), which is what SCALE.md times; on
    a standing index the monitor's marginal cost is only the batch
    assignment plus the two K-row histogram aggregations. The histograms
    are localCheckpoint'ed inside :func:`_occupancy_drift`, so the whole
    training/assignment subtree executes exactly once per call instead of
    once per consuming job (the uncheckpointed plan showed it three times)."""
    return _occupancy_drift(*_drift_gate_histograms(spark, sf_dir))


def _drift_gate_histograms(spark, sf_dir):
    """The two (cl, *_n) occupancy histograms the drift gate compares:
    training-time corpus occupancy and the incoming batch's assignment
    occupancy. Split out so the plan-shape test can pin the composed
    (pre-checkpoint) plan via ``_occupancy_drift(..., checkpoint=False)``."""
    e, cent, final_assigned, assign = _kmeans_train(
        spark,
        sf_dir,
        extra_filter=F.col('vec_id') % ANN_INCR_MOD != ANN_INCR_MOD - 1,
    )
    incoming = e.filter(
        (F.col('vec_id') >= N_QUERIES)
        & (F.col('vec_id') % ANN_INCR_MOD == ANN_INCR_MOD - 1)
    )
    corp = final_assigned.groupBy('cl').agg(
        F.count(F.lit(1)).alias('corpus_n')
    )
    batch = assign(incoming, cent, n=1).groupBy('cl').agg(
        F.count(F.lit(1)).alias('batch_n')
    )
    return corp, batch


def drift_standing_index(spark, sf_dir):
    """Standing-index state for the marginal-cost bench: centroids and
    training-time corpus occupancy, eagerly checkpointed so the Lloyd
    training is PAID HERE and excluded from the timed monitor path. In
    production these are the persisted index artifacts; the registered
    ``ann_ivf_drift_gate`` re-derives them inline only for oracle parity."""
    e, cent, final_assigned, assign = _kmeans_train(
        spark,
        sf_dir,
        extra_filter=F.col('vec_id') % ANN_INCR_MOD != ANN_INCR_MOD - 1,
    )
    cent = cent.localCheckpoint(eager=True)  # K x DIM rows
    corp = (
        final_assigned.groupBy('cl')
        .agg(F.count(F.lit(1)).alias('corpus_n'))
        .localCheckpoint(eager=True)  # K rows
    )
    return e, cent, corp, assign


def drift_monitor(e, cent, corp, assign):
    """The monitor's marginal work on a standing index: assign the
    incoming batch to the checkpointed centroids, histogram it, and run
    the integer-TVD decision against the checkpointed corpus occupancy —
    batch-proportional plus two K-row aggregations, nothing else."""
    incoming = e.filter(
        (F.col('vec_id') >= N_QUERIES)
        & (F.col('vec_id') % ANN_INCR_MOD == ANN_INCR_MOD - 1)
    )
    batch = assign(incoming, cent, n=1).groupBy('cl').agg(
        F.count(F.lit(1)).alias('batch_n')
    )
    return _occupancy_drift(corp, batch)


# ---------------------------------------------------------------------------
# IVF index maintenance, step 3: INDEX MERGE. Build (ann_ivf_kmeans_topk),
# assign (ann_ivf_incremental_assign) and drift-gate (ann_ivf_drift_gate)
# cover a single standing index; at 100 TB indexes are BUILT IN PARALLEL,
# one per corpus shard, and the per-shard quantizers must then merge into
# one serving index without touching the vectors again. The merge consumes
# only each partial index's SUMMARY — centroids (K x DIM rows) and cell
# occupancy (K rows) — never the corpus: pair every B cell with its nearest
# A cell by integer centroid distance, then take the occupancy-weighted
# mean of each A cell and the B cells that mapped to it. Cost is
# O(K^2 * DIM) pairing + O(K * DIM) folding, INDEPENDENT of corpus size —
# the defining property of a mergeable index summary (the same contract as
# sketch merging, relational3.py). Weighted sums run in decimal(38,0) /
# HUGEINT like the drift gate: occupancy x centroid products pass int64 at
# the 1e12-row design point.
# ---------------------------------------------------------------------------

_MERGE_A = ' AND (vec_id % 2) = 0'
_MERGE_B = ' AND (vec_id % 2) = 1'


def _ivf_partial_summary(spark, sf_dir, parity: int):
    """Train one shard's partial index (corpus = vec_id % 2 == parity) and
    return its merge summary: checkpointed centroids (cl, pos, c) and cell
    occupancy (cl, n). Each summary is consumed by several downstream jobs
    of the merge plan; without the eager localCheckpoint every consumption
    would replay the shard's full Lloyd loop (the drift-gate lesson)."""
    e, cent, _fa, assign = _kmeans_train(
        spark, sf_dir, extra_filter=F.col('vec_id') % 2 == parity
    )
    cent = cent.localCheckpoint(eager=True)  # K x DIM rows; Lloyd runs once
    corpus = e.filter(
        (F.col('vec_id') >= N_QUERIES) & (F.col('vec_id') % 2 == parity)
    )
    counts = (
        assign(corpus, cent, n=1)
        .groupBy('cl')
        .agg(F.count(F.lit(1)).alias('n'))
        .localCheckpoint(eager=True)  # K rows
    )
    return cent, counts


@register(
    'ann_ivf_merge',
    oracle=f"""{_sql_kmeans_ctes(_MERGE_A, 'x')},
    {_sql_kmeans_ctes(_MERGE_B, 'y')[len('WITH '):]},
    na AS (SELECT cl, COUNT(*) AS n FROM xaf GROUP BY cl),
    nb AS (SELECT cl, COUNT(*) AS n FROM yaf GROUP BY cl),
    pair AS (
        SELECT cl_b, cl_a FROM (
            SELECT b.cl AS cl_b, a.cl AS cl_a,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.cl
                       ORDER BY SUM((b.c - a.c) * (b.c - a.c)), a.cl
                   ) AS rk
            FROM yc{KM_ITERS} b JOIN xc{KM_ITERS} a ON b.pos = a.pos
            GROUP BY b.cl, a.cl
        ) WHERE rk = 1
    ),
    contrib AS (
        SELECT a.cl AS cl, a.pos, CAST(na.n AS HUGEINT) * a.c AS nc, na.n AS n
        FROM xc{KM_ITERS} a JOIN na ON na.cl = a.cl
        UNION ALL
        SELECT p.cl_a AS cl, b.pos, CAST(nb.n AS HUGEINT) * b.c AS nc, nb.n AS n
        FROM yc{KM_ITERS} b
        JOIN pair p ON p.cl_b = b.cl
        JOIN nb ON nb.cl = b.cl
    )
    SELECT CAST(cl AS BIGINT) AS cl, CAST(pos AS BIGINT) AS pos,
           CAST(floor(CAST(SUM(nc) AS DOUBLE) / SUM(n)) AS BIGINT) AS c,
           CAST(SUM(n) AS BIGINT) AS n_merged
    FROM contrib GROUP BY cl, pos
    """,
)
def ann_ivf_merge(spark, sf_dir):
    """Merge two shard-local IVF indexes into one: nearest-centroid cell
    pairing (B -> A, tiebreak cl) followed by an occupancy-weighted
    centroid fold, touching only the K x DIM index summaries (see the
    module note). The registered query is SELF-CONTAINED — it trains both
    partial indexes so the DuckDB oracle can reproduce them; in production
    the inputs are the standing summaries and the merge is the only work
    (timed separately: tools/marginal_bench.py → SCALE.md).

    The weighted mean floor()s through double exactly like the trainer's
    centroid update, so merged centroids are bit-identical cross-engine.
    """
    cent_a, n_a = _ivf_partial_summary(spark, sf_dir, 0)
    cent_b, n_b = _ivf_partial_summary(spark, sf_dir, 1)
    return merge_from_summaries(cent_a, n_a, cent_b, n_b)


def merge_from_summaries(cent_a, n_a, cent_b, n_b):
    """The merge proper — everything downstream of the standing shard
    summaries. Split out so the marginal-cost bench can time it alone."""
    pair = (
        cent_b.alias('b')
        .join(F.broadcast(cent_a.alias('a')), F.col('b.pos') == F.col('a.pos'))
        .groupBy(F.col('b.cl').alias('cl_b'), F.col('a.cl').alias('cl_a'))
        .agg(
            F.sum(
                (F.col('b.c') - F.col('a.c')) * (F.col('b.c') - F.col('a.c'))
            ).alias('d2')
        )
    )
    w = Window.partitionBy('cl_b').orderBy('d2', 'cl_a')
    pair = (
        pair.withColumn('rk', F.row_number().over(w))
        .filter(F.col('rk') == 1)
        .select('cl_b', 'cl_a')
    )
    # the occupancy tables and the pair map are K rows, but a checkpointed
    # RDD carries no stats, so Catalyst would plan sort-merge joins for
    # them — broadcast explicitly; the only exchange left in the decision
    # plan is the final (cl, pos) fold over 2 x K x DIM rows
    dec = 'decimal(38,0)'
    contrib_a = cent_a.join(F.broadcast(n_a), 'cl').select(
        'cl', 'pos', (F.col('n').cast(dec) * F.col('c')).alias('nc'), 'n'
    )
    contrib_b = (
        cent_b.join(F.broadcast(n_b), 'cl')
        .join(F.broadcast(pair), F.col('cl') == F.col('cl_b'))
        .select(
            F.col('cl_a').alias('cl'),
            'pos',
            (F.col('n').cast(dec) * F.col('c')).alias('nc'),
            'n',
        )
    )
    return (
        contrib_a.unionByName(contrib_b)
        .groupBy('cl', 'pos')
        .agg(
            F.floor(F.sum('nc').cast('double') / F.sum('n'))
            .cast('bigint')
            .alias('c'),
            F.sum('n').cast('bigint').alias('n_merged'),
        )
        .select(
            F.col('cl').cast('bigint').alias('cl'),
            F.col('pos').cast('bigint').alias('pos'),
            'c',
            'n_merged',
        )
    )


# ---------------------------------------------------------------------------
# IVF index maintenance, step 5: STREAMING INGEST into the persisted index.
# ann_ivf_persisted_topk writes the cell-partitioned on-disk layout once;
# at 100 TB vectors arrive continuously, and rebuilding the index per batch
# is the one thing the layout exists to avoid. The streaming edge: a file
# stream of raw vectors runs through foreachBatch; each micro-batch is
# (a) quantized and ASSIGNED to the standing centroids (broadcast K x DIM
# rows — batch-proportional, the ann_ivf_incremental_assign math), (b)
# APPENDED into the matching cl= directories as a per-batch subpartition
# (partitionBy('cl', 'ingest_batch') + dynamic partition overwrite: a
# replayed batch OVERWRITES exactly its own subpartitions — the same
# overwrite-by-batch-id replay-idempotence discipline as the near-dup
# filter's LSM state, streaming/windows.py), and (c) drift-checked against
# the training-time occupancy (integer-TVD, the ann_ivf_drift_gate
# decision) with the verdict appended to a retrain ledger. The post-ingest
# serve is the SAME dynamically-pruned probe join as the persisted query,
# and its result is exactly the index built in one batch — assignment is
# per-vector, so standing ∪ ingested assignments = full-corpus assignment
# against the standing quantizer. That identity is the oracle: train on
# the standing corpus (holdout), assign ALL corpus vectors, search.
#
# Reference tie-in (cyclebane graph.py:367-424): to_networkx-style
# materialization kept incremental — the compact plan never re-expands;
# only the delta pays.
# ---------------------------------------------------------------------------

IVF_INGEST_FILES = 3  # incoming batch replays as 3 single-file micro-batches


def _ivf_ingest_landing(spark, sf_dir: str) -> str:
    """Write the incoming vector batch (vec_id % 10 == 9) as
    ``IVF_INGEST_FILES`` parquet files of RAW embedding rows whose mtimes
    order them — with maxFilesPerTrigger=1 each file is one micro-batch
    (the late_replay_dir idiom). The file split is deterministic
    ((vec_id // 10) % 3), so replays see identical batches."""
    from ..scratch import scratch_dir
    from ..streaming.windows import write_mtime_ordered_file

    emb = table(spark, sf_dir, 'embeddings').select('vec_id', 'embedding')
    incoming = emb.filter(
        (F.col('vec_id') >= N_QUERIES)
        & (F.col('vec_id') % ANN_INCR_MOD == ANN_INCR_MOD - 1)
    )
    land = scratch_dir('cb_ivf_ingest_land', sf_dir, wipe=True)
    for i in range(IVF_INGEST_FILES):
        write_mtime_ordered_file(
            # integral `div` (ADVICE r9): float `/` + cast matches the
            # documented (vec_id // 10) % 3 only below 2^53 and breaks the
            # no-float determinism discipline for batch membership
            incoming.filter(
                F.expr(f'vec_id div {ANN_INCR_MOD}') % IVF_INGEST_FILES == i
            ),
            land,
            f'b{i}',
            i,
        )
    return land


def _quantize_components(emb_rows):
    """(vec_id, embedding) -> the quantized component rows (vec_id, pos, q)
    — the same integer quantization as _kmeans_train's corpus explode."""
    return emb_rows.select(
        'vec_id', F.posexplode('embedding').alias('pos', 'v')
    ).select(
        'vec_id',
        'pos',
        F.round(F.col('v').cast('double') * KM_SCALE, 0)
        .cast('bigint')
        .alias('q'),
    )


def ivf_ingest_standing(spark, sf_dir: str, replay: bool = False):
    """Build the ingest's STANDING state — trained quantizer, training-time
    occupancy, on-disk base index, landing files — without processing any
    batch. Returns ``(idx_dir, ledger, land, cent, corp_occ, e, assign)``.
    Shared by :func:`ivf_ingest_run` (the full stream) and
    ``tools/marginal_bench.py`` (which times ONE batch against this state,
    training excluded — the production per-batch cost)."""
    from ..scratch import scratch_dir

    holdout = F.col('vec_id') % ANN_INCR_MOD != ANN_INCR_MOD - 1
    e, cent, final_assigned, assign = _kmeans_train(
        spark, sf_dir, extra_filter=holdout
    )
    cent = cent.localCheckpoint(eager=True)  # K x DIM rows; Lloyd runs once
    corp_occ = (
        final_assigned.groupBy('cl')
        .agg(F.count(F.lit(1)).alias('corpus_n'))
        .localCheckpoint(eager=True)  # K rows
    )

    idx_dir = scratch_dir(
        'cb_ivf_ingest_idx', sf_dir, wipe=not replay, create=False
    )
    ledger = scratch_dir('cb_ivf_ingest_ledger', sf_dir, wipe=not replay)
    if not replay:
        # standing index: the persisted-topk layout plus the per-batch
        # subpartition level (base rows are "batch -1")
        (
            final_assigned.select('vec_id', 'cl')
            .join(e.filter(F.col('vec_id') >= N_QUERIES), 'vec_id')
            .select(
                F.col('vec_id').alias('neighbor_id'),
                'pos',
                F.col('q').alias('qc'),
                'cl',
                F.lit(-1).alias('ingest_batch'),
            )
            .write.partitionBy('cl', 'ingest_batch')
            .mode('overwrite')
            .parquet(idx_dir)
        )
        _ivf_ingest_landing(spark, sf_dir)
    land = scratch_dir('cb_ivf_ingest_land', sf_dir)
    return idx_dir, ledger, land, cent, corp_occ, e, assign


def ivf_ingest_batch(
    idx_dir: str, ledger: str, cent, corp_occ, assign, batch_df, batch_id: int
) -> None:
    """ONE micro-batch of the ingest: assign against the broadcast standing
    centroids, dynamic-partition-overwrite exactly this batch's
    ``(cl, ingest_batch)`` leaves, append the drift verdict to the ledger.
    This is the entire per-batch marginal — batch-proportional work plus
    two K-row aggs; no training, no standing-corpus scan."""
    sp = batch_df.sparkSession
    bq = _quantize_components(batch_df)
    assigned = assign(bq, cent, n=1).select('vec_id', 'cl')
    rows = (
        assigned.join(bq, 'vec_id')
        .select(
            F.col('vec_id').alias('neighbor_id'),
            'pos',
            F.col('q').alias('qc'),
            'cl',
            F.lit(batch_id).cast('int').alias('ingest_batch'),
        )
    )
    prev = sp.conf.get('spark.sql.sources.partitionOverwriteMode')
    sp.conf.set('spark.sql.sources.partitionOverwriteMode', 'dynamic')
    try:
        # dynamic overwrite touches only the (cl, ingest_batch=N)
        # leaves this batch produced: replaying batch N replaces its
        # own rows and nothing else
        (
            rows.write.partitionBy('cl', 'ingest_batch')
            .mode('overwrite')
            .parquet(idx_dir)
        )
    finally:
        sp.conf.set('spark.sql.sources.partitionOverwriteMode', prev)
    # drift verdict for this batch against training-time occupancy
    batch_occ = assigned.groupBy('cl').agg(
        F.count(F.lit(1)).alias('batch_n')
    )
    (
        _occupancy_drift(corp_occ, batch_occ)
        .withColumn('ingest_batch', F.lit(batch_id).cast('int'))
        .coalesce(1)
        .write.mode('overwrite')
        .parquet(f'{ledger}/b{batch_id}')
    )


def ivf_ingest_run(spark, sf_dir: str, replay: bool = False):
    """Run the streaming ingest to completion; returns (index_dir,
    ledger_dir). ``replay=True`` keeps the standing index/landing files
    from a prior run and re-processes the SAME stream from a fresh
    checkpoint — the idempotence scenario (a recovered job re-reading its
    source): per-batch dynamic partition overwrite makes it a no-op."""
    from ..scratch import scratch_dir

    idx_dir, ledger, land, cent, corp_occ, e, assign = ivf_ingest_standing(
        spark, sf_dir, replay=replay
    )

    def ingest(batch_df, batch_id: int) -> None:
        ivf_ingest_batch(
            idx_dir, ledger, cent, corp_occ, assign, batch_df, batch_id
        )

    schema = spark.read.parquet(land).schema
    ckpt = scratch_dir('cb_ivf_ingest_ckpt', sf_dir, wipe=True)
    query = (
        spark.readStream.schema(schema)
        .option('maxFilesPerTrigger', 1)
        .parquet(land)
        .writeStream.foreachBatch(ingest)
        .trigger(availableNow=True)
        .option('checkpointLocation', ckpt)
        .start()
    )
    query.awaitTermination()
    return idx_dir, ledger, (e, cent, assign)


def ivf_persisted_serve(spark, sf_dir: str, idx_dir: str):
    """Serve a standing ingest-layout index: re-derive the STANDING-corpus
    quantizer (holdout training, exactly as the index was built) and run
    the shared :func:`ivf_serve` probe against the on-disk files."""
    holdout = F.col('vec_id') % ANN_INCR_MOD != ANN_INCR_MOD - 1
    e, cent, _fa, assign = _kmeans_train(spark, sf_dir, extra_filter=holdout)
    cent = cent.localCheckpoint(eager=True)
    return ivf_serve(spark, idx_dir, e, cent, assign)


_INGEST_AFALL = f"""
    afall AS (
        SELECT vec_id, cl FROM (
            SELECT e.vec_id, c.cl,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY SUM((e.q - c.c) * (e.q - c.c)), c.cl
                   ) AS rk
            FROM e JOIN c{KM_ITERS} c ON e.pos = c.pos
            WHERE e.vec_id >= {N_QUERIES}
            GROUP BY e.vec_id, c.cl
        ) WHERE rk = 1
    )"""


@register(
    'stream_ivf_ingest',
    oracle=(
        f'{_sql_kmeans_ctes(_INCR_HOLDOUT)},{_INGEST_AFALL},'
        + _sql_search_tail(1, af='afall')
    ),
)
def stream_ivf_ingest(spark, sf_dir):
    """IVF lifecycle step 5: streaming foreachBatch ingest into the
    persisted cell-partitioned index, then serve (see the module note).
    The gate's exactness claim: the post-ingest on-disk search equals the
    index built in ONE batch from the full corpus against the standing
    quantizer — the oracle trains on the standing corpus (holdout), then
    assigns and searches ALL corpus vectors. Batching, replay, and the
    drift ledger cannot move the result; the replay-idempotence and
    drift-ledger properties are pinned in tests/test_streaming.py. The
    serve reuses the ingest run's standing quantizer state (training runs
    ONCE per execution; the test path re-derives it independently via
    ivf_persisted_serve as a stronger check)."""
    idx_dir, _ledger, (e, cent, assign) = ivf_ingest_run(spark, sf_dir)
    return ivf_serve(spark, idx_dir, e, cent, assign)
