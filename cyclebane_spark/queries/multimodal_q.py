"""Multimodal queries for the correctness gate.

The fake payload generator derives image dimensions from stable document
fields, so the metadata-extraction pipeline (build binary -> parse binary in
a pandas UDF) has a real SQL oracle: the oracle recomputes the dimensions
relationally while Spark recovers them by actually parsing the bytes.
Decode statistics (numpy inside mapInPandas) check their structural columns
exactly plus a deterministic in-bounds flag for the numpy-only pixel mean.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ..multimodal.media import (
    audio_features,
    decode_images,
    image_metadata,
    sample_frames,
    with_fake_audio,
    with_fake_images,
    with_fake_videos,
)
from ..tables import spread_small, table
from . import register


@register(
    'multimodal_image_metadata',
    oracle="""
    SELECT doc_id,
           'image/x-fake' AS mime,
           CAST(16 + n_chars % 17 AS INT) AS width,
           CAST(16 + doc_id % 13 AS INT) AS height,
           24 AS n_bytes
    FROM documents
    """,
)
def multimodal_image_metadata(spark, sf_dir):
    """binary-column round trip: build payloads, parse them back via UDF."""
    docs = table(spark, sf_dir, 'documents')
    out = image_metadata(with_fake_images(docs))
    return out.select(
        'doc_id',
        F.col('image_meta.mime').alias('mime'),
        F.col('image_meta.width').alias('width'),
        F.col('image_meta.height').alias('height'),
        F.col('image_meta.n_bytes').alias('n_bytes'),
    )


@register(
    'multimodal_decode_stats',
    oracle="""
    SELECT doc_id,
           CAST(16 + n_chars % 17 AS INT) AS width,
           CAST(16 + doc_id % 13 AS INT) AS height,
           CAST((16 + n_chars % 17) * (16 + doc_id % 13) AS BIGINT) AS n_pixels,
           TRUE AS mean_in_bounds
    FROM documents
    """,
)
def multimodal_decode_stats(spark, sf_dir):
    """Full decode path through mapInPandas (deterministic stub decoder).

    The numpy pixel mean itself is not SQL-expressible, so the checkable
    contract mirrors ``approx_count_distinct_hll``: the structural stats
    (dims, pixel count — recomputable relationally because payload headers
    derive from document fields) are compared exactly, plus a deterministic
    flag that the decoded mean of >=256 uniform[0,1) pixels landed in
    [0.4, 0.6] (>5 sigma; the stub decoder is seeded, so the flag is stable
    run-to-run).  Exact per-image means are asserted in
    tests/test_multimodal.py against an independent numpy reference.
    """
    docs = table(spark, sf_dir, 'documents')
    decoded = decode_images(with_fake_images(docs))
    return decoded.select(
        'doc_id',
        'width',
        'height',
        (F.col('width').cast('long') * F.col('height')).alias('n_pixels'),
        F.col('mean_intensity').between(0.4, 0.6).alias('mean_in_bounds'),
    )


@register(
    'multimodal_resize_pixels',
    oracle="""
    SELECT doc_id,
           4 AS width,
           4 AS height,
           16 AS n_pixels,
           TRUE AS avg_in_bounds
    FROM documents
    """,
)
def multimodal_resize_pixels(spark, sf_dir):
    """Decode + block-average resize to a 4x4 thumbnail grid (the
    feature-extraction shape behind CLIP-style preprocessing), emitting the
    pixel array through Arrow.

    Contract mirrors ``multimodal_decode_stats``: the output grid shape and
    pixel count are exact; the average of the 16 block means over >=16
    uniform[0,1) pixels each lands in [0.4, 0.6] (>5 sigma, deterministic
    because the stub decoder is seeded). Per-block values are asserted in
    tests/test_multimodal.py. Scale: one mapInPandas pass, the full-res
    pixel array lives only inside the executor batch; only the 16-double
    thumbnail leaves.
    """
    from ..multimodal.media import resize_images

    # r12 optimization (guide §1.2 step 1, §4): the per-doc numpy decode
    # loop (full-pixel decode per doc/frame) is this query's whole cost
    # and rode the single scan task on the few-file driver layout;
    # spread_small runs it core-wide (no-op on multi-split production
    # layouts). Interleaved A/B at sf0.1, all 5 reps separated — see
    # OPTIMIZATION_r12.md batch 2. The cheap header-parse siblings
    # measured SLOWER with the spread and keep the plain scan.
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    resized = resize_images(with_fake_images(docs), out_w=4, out_h=4)
    avg = F.aggregate(
        'pixels', F.lit(0.0), lambda acc, x: acc + x
    ) / F.size('pixels')
    return resized.select(
        'doc_id',
        'width',
        'height',
        F.size('pixels').alias('n_pixels'),
        avg.between(0.4, 0.6).alias('avg_in_bounds'),
    )


@register(
    'multimodal_frame_sample',
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(0, CAST(4 + doc_id % 5 AS INT) - 1, 2))
                AS INT) AS frame_idx
    FROM documents
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """Video frame sampling (every 2nd frame): the decoder parses each
    payload and fans out one row per kept frame inside mapInPandas.

    The (doc_id, frame_idx) skeleton has an exact relational oracle because
    frame counts derive from document fields; the per-frame pixel means are
    numpy-only and asserted in tests/test_multimodal.py. Scale: fan-out
    happens per Arrow batch on executors — no shuffle at all.
    """
    docs = table(spark, sf_dir, 'documents')
    return sample_frames(with_fake_videos(docs), every_n=2).select(
        'doc_id', 'frame_idx'
    )


@register(
    'multimodal_audio_features',
    oracle="""
    SELECT doc_id,
           CAST(8000 + (doc_id % 3) * 4000 AS INT) AS sample_rate,
           CAST(256 + n_chars % 100 AS INT) AS n_samples
    FROM documents
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """Audio feature extraction: the UDF parses the waveform header and
    computes rms/zero-crossings; the structural columns round-trip exactly
    against the oracle (the numpy features are covered by unit tests)."""
    docs = table(spark, sf_dir, 'documents')
    return audio_features(with_fake_audio(docs)).select(
        'doc_id', 'sample_rate', 'n_samples'
    )


# ---------------------------------------------------------------------------
# CLIP-score-style cross-modal alignment filter — the LAION recipe: embed
# the image, embed the caption, keep pairs whose cosine clears a threshold.
# Encoders are deterministic stubs (the image side genuinely parses the
# binary payload through a pandas UDF — media.embed_images is the plug
# point for a real vision tower; the text side is a JVM-side md5-derived
# vector standing in for a text tower). The cosine test is stated in
# INTEGERS — keep iff dot > 0 and 25*dot^2 >= 16*|a|^2*|b|^2 (cos >= 0.8)
# — so both engines compare exactly, no float norms.
# Scale: embeddings are computed per row (narrow, no shuffle); the filter
# is a pure projection. At 100 TB this is one pass over the image shards
# with the model broadcast to executors; nothing here shuffles at all.
# ---------------------------------------------------------------------------


@register(
    'multimodal_clip_filter',
    oracle="""
    WITH base AS (
        SELECT doc_id,
               CAST(16 + n_chars % 17 AS BIGINT) AS w,
               CAST(16 + doc_id % 13 AS BIGINT) AS h,
               CAST(doc_id AS BIGINT) AS seed,
               md5(text) AS m
        FROM documents
    ),
    dims AS (
        SELECT doc_id,
               (seed * (i + 1) + w * (i + 2) + h * (i + 3)) % 997 AS iv,
               CAST(('0x' || substring(m, 1 + 4 * i, 4)) AS BIGINT) % 997 AS tv
        FROM base, LATERAL unnest(generate_series(0, 7)) AS t(i)
    ),
    scored AS (
        SELECT doc_id,
               CAST(SUM(iv * tv) AS BIGINT) AS dot,
               CAST(SUM(iv * iv) AS BIGINT) AS img_norm2,
               CAST(SUM(tv * tv) AS BIGINT) AS txt_norm2
        FROM dims GROUP BY doc_id
    )
    SELECT doc_id, dot, img_norm2, txt_norm2,
           (dot > 0 AND 25 * dot * dot >= 16 * img_norm2 * txt_norm2) AS keep
    FROM scored
    """,
)
def multimodal_clip_filter(spark, sf_dir):
    """Image-text alignment scoring with an integer-exact cosine threshold.
    See the module note; the image embedding really round-trips through the
    binary payload (pandas UDF parse), the text embedding stays JVM-side."""
    from ..multimodal.media import embed_images, with_fake_images

    docs = table(spark, sf_dir, 'documents')
    embedded = embed_images(with_fake_images(docs)).withColumn(
        'txt_emb',
        F.expr(
            'transform(sequence(0, 7), i -> '
            'CAST(conv(substring(md5(text), 1 + 4 * i, 4), 16, 10) AS BIGINT)'
            ' % 997)'
        ),
    )
    dot = F.expr(
        'aggregate(zip_with(image_emb, txt_emb, (x, y) -> x * y), '
        'CAST(0 AS BIGINT), (acc, v) -> acc + v)'
    )
    norm2 = (
        'aggregate(transform({c}, x -> x * x), '
        'CAST(0 AS BIGINT), (acc, v) -> acc + v)'
    )
    return embedded.select(
        'doc_id',
        dot.alias('dot'),
        F.expr(norm2.format(c='image_emb')).alias('img_norm2'),
        F.expr(norm2.format(c='txt_emb')).alias('txt_norm2'),
    ).select(
        '*',
        (
            (F.col('dot') > 0)
            & (
                25 * F.col('dot') * F.col('dot')
                >= 16 * F.col('img_norm2') * F.col('txt_norm2')
            )
        ).alias('keep'),
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (aHash) image dedup: MinHash-LSH's sibling in HAMMING
# space. Each doc gets a "photo" whose base pixels derive from a content
# group (the 4-token text prefix — docs sharing it hold re-encodes of one
# photo, with small per-doc encoder jitter; see media.NSY docs). aHash maps
# images to 64 bits; variants land a couple of bits apart, unrelated
# photos ~32 +- 4. Candidate generation is a self-join on 4 x 16-bit hash
# bands — and because the verify radius is bands-1, pigeonhole makes band
# recall EXACT, not probabilistic (see _PHASH_RADIUS) — then
# bit_count(XOR) verifies the radius. The pair set is DETERMINISTIC on
# this corpus at every tested SF, and equals the prefix-equality pairs —
# which is what the oracle states relationally (the hashes themselves are
# numpy-side, like all NSY pixel content).
# Scale: one mapInPandas pass emits 8 bytes/image; the band join shuffles
# 4 narrow rows/doc keyed by 16-bit bucket — never pixels, never all
# pairs. Same skew story as the LSH band join (salt/adapt if one band
# value goes hot).
# ---------------------------------------------------------------------------

# With B bands, a pair within hamming radius B-1 ALWAYS agrees on a full
# band (pigeonhole), so radius <= bands - 1 makes band recall exact by
# construction instead of probabilistic — the design rule this operator
# pins. Geometry history: 4 x 16-bit bands with radius 3 held at
# sf0.001-0.1, but the round-7 sf1 oracle pass measured ONE true variant
# pair at hamming 4 (jitter diameter has a tail: ham histogram at sf1 is
# 2078/554/88/9/1 for 0-4), so the verify radius must dominate the
# MEASURED jitter diameter with margin. Now 8 x 8-bit bands, radius 6:
# pigeonhole exact to 7, x2 headroom over the observed max of 4, and the
# false-positive side stays negligible (unrelated hashes are ~Bernoulli:
# P(ham<=6) ~ 4.6e-12/pair, ~0.006 expected over sf1's 1.25e9 unrelated
# pairs). Cost of the tighter radius: byte buckets are denser than 16-bit
# ones (P(band match) 2^-8 vs 2^-16), so the candidate join carries more
# rows — the standard multi-index recall/cost trade, absorbed by the same
# salt/adapt machinery as the LSH band join.
_PHASH_BANDS = 8
_PHASH_RADIUS = 6


@register(
    'multimodal_phash_dedup',
    oracle=r"""
    WITH p AS (
        SELECT doc_id,
               array_to_string(
                   list_slice(string_split_regex(lower(trim(text)), '\s+'),
                              1, 4), ' ') AS pre
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM p a JOIN p b ON a.pre = b.pre AND a.doc_id < b.doc_id
    """,
)
def multimodal_phash_dedup(spark, sf_dir):
    """Near-duplicate image pairs via 64-bit aHash + banded hamming join."""
    from ..multimodal.media import ahash64_images, with_fake_photo_variants

    docs = table(spark, sf_dir, 'documents')
    pre = F.array_join(
        F.slice(F.split(F.lower(F.trim('text')), r'\s+'), 1, 4), ' '
    )
    # r11 optimization note (examined, deliberately left alone): spreading
    # the scan before the Python stages (variant synth pandas UDF +
    # decode/aHash mapInPandas) was measured SLOWER at sf0.1 (interleaved
    # A/B min 1.70s -> 1.87s, median 1.79 -> 2.12): 32-way partitioning
    # multiplies Python-worker batch round-trips while the synthetic 32x32
    # decode is microseconds per image, and the banded self-join below the
    # checkpoint dominates the query. On multi-split production layouts
    # (real images, real decode cost) the scan parallelizes by itself.
    seeded = docs.withColumn('base', F.xxhash64(pre))
    # Materialize the hash table (8 bytes/doc) before the self-join: the
    # two join sides otherwise each re-run the decode+hash Python stage
    # (pandas UDF subtrees don't qualify for exchange reuse; measured
    # 1.9s -> 1.0s at sf0.1).
    ph = ahash64_images(
        with_fake_photo_variants(seeded, 'base')
    ).localCheckpoint()

    bands = ph.select(
        'doc_id',
        'phash',
        F.explode(
            F.array(*[F.lit(b) for b in range(_PHASH_BANDS)])
        ).alias('b'),
    ).withColumn(
        'bv', F.expr('shiftright(phash, b * 8) & CAST(255 AS BIGINT)')
    )
    a, b = bands.alias('a'), bands.alias('b')
    cand = a.join(
        b,
        (F.col('a.b') == F.col('b.b'))
        & (F.col('a.bv') == F.col('b.bv'))
        & (F.col('a.doc_id') < F.col('b.doc_id')),
    ).select(
        F.col('a.doc_id').alias('doc_a'),
        F.col('a.phash').alias('pa'),
        F.col('b.doc_id').alias('doc_b'),
        F.col('b.phash').alias('pb'),
    )
    ham = F.bit_count(F.col('pa').bitwiseXOR(F.col('pb')))
    # r12 optimization (guide §2.3 — shuffle fewer bytes): verify the
    # hamming radius BEFORE the multi-band dedup, so the distinct's
    # exchange carries only verified (doc_a, doc_b) pairs (~true-pair
    # count, 2 longs) instead of every band collision with both 8-byte
    # hashes. Equivalent because each doc has exactly ONE phash (the
    # checkpointed table above), so distinct-then-filter and
    # filter-then-distinct admit the same pair set — verified identical
    # at sf0.1 (273 pairs). Locally flat (interleaved A/B min 1.12s ->
    # 1.11s; the sf0.1 candidate stream is small); the cut is the
    # candidate/true-pair ratio, which grows with corpus density.
    return (
        cand.filter(ham <= _PHASH_RADIUS).select('doc_a', 'doc_b').distinct()
    )


@register(
    'multimodal_scene_cuts',
    oracle="""
    SELECT doc_id,
           CAST(unnest(generate_series(
               CAST(2 + doc_id % 3 AS INT),
               CAST(6 + doc_id % 7 AS INT) - 1,
               CAST(2 + doc_id % 3 AS INT)
           )) AS INT) AS cut_idx
    FROM documents
    """,
)
def multimodal_scene_cuts(spark, sf_dir):
    """Scene-change detection over stub videos: mapInPandas decodes
    consecutive frames and thresholds the mean |pixel delta| — the
    detector never reads scene positions from the header. The cut
    skeleton (doc_id, cut_idx) has an exact relational oracle because
    the synthetic scene structure derives from document fields: scenes
    of length 2 + doc_id % 3 over 6 + doc_id % 7 frames put a cut at
    every scene-length multiple. frame_dist values are numpy-only and
    asserted in tests/test_multimodal.py. Scale: like frame sampling —
    per-Arrow-batch fan-out on executors, zero shuffle.
    """
    from ..multimodal.media import scene_cuts, with_fake_scene_videos

    # r12 optimization (guide §1.2 step 1, §4): the per-doc numpy decode
    # loop (full-pixel decode per doc/frame) is this query's whole cost
    # and rode the single scan task on the few-file driver layout;
    # spread_small runs it core-wide (no-op on multi-split production
    # layouts). Interleaved A/B at sf0.1, all 5 reps separated — see
    # OPTIMIZATION_r12.md batch 2. The cheap header-parse siblings
    # measured SLOWER with the spread and keep the plain scan.
    docs = spread_small(table(spark, sf_dir, 'documents'), 'doc_id')
    return scene_cuts(with_fake_scene_videos(docs)).select('doc_id', 'cut_idx')


@register(
    'multimodal_voice_activity',
    oracle="""
    SELECT doc_id,
           CAST(i * sf AS INT) AS start_frame,
           CAST((i + 1) * sf - 1 AS INT) AS end_frame
    FROM (
        SELECT doc_id, 1 + doc_id % 3 AS sf,
               unnest(range(3 + doc_id % 4)) AS i
        FROM documents
    )
    WHERE i % 2 = doc_id % 2
    """,
)
def multimodal_voice_activity(spark, sf_dir):
    """Energy-based VAD over stub audio: mapInPandas frames the samples,
    thresholds per-frame RMS and merges consecutive active frames into
    speech runs — the detector never reads segment positions from the
    header. The run skeleton has an exact relational oracle because the
    synthetic speech/silence geometry derives from document fields
    (segments of 1 + doc_id % 3 frames, speech on the doc's parity).
    Scale: per-Arrow-batch fan-out on executors, zero shuffle — the audio
    twin of multimodal_scene_cuts.
    """
    from ..multimodal.media import voice_activity, with_fake_vad_audio

    docs = table(spark, sf_dir, 'documents')
    return voice_activity(with_fake_vad_audio(docs))
