"""Invariant tests for the round-4 pipeline operators — properties the
DuckDB oracle equality cannot express (permutation-ness, bounds, monotone
relationships) checked directly on small-SF output."""

import math

import pyspark.sql.functions as F
import pytest

from cyclebane_spark.queries import queries

SF_DIR = '/root/testdata/sf0.001'


def test_seeded_shuffle_is_a_permutation(spark):
    """Every document appears exactly once; shards cover [0, 64); in-shard
    positions are 1..count(shard) with no gaps; and the assignment is
    reproducible run to run (seeded, no RNG state)."""
    out = queries()['pipeline_seeded_shuffle'](spark, SF_DIR)
    rows = out.collect()
    docs = [r.doc_id for r in rows]
    assert len(docs) == len(set(docs)) == 500
    assert all(0 <= r.shard < 64 for r in rows)
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in queries()['pipeline_seeded_shuffle'](spark, SF_DIR).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in rows}


def test_upsampling_copy_counts_follow_weights(spark):
    out = queries()['pipeline_weighted_upsampling'](spark, SF_DIR)
    per_doc = (
        out.groupBy('doc_id', 'source')
        .agg(F.count(F.lit(1)).alias('n'), F.max('copy').alias('maxc'))
        .collect()
    )
    assert len(per_doc) == 500
    per_source = {}
    for r in per_doc:
        assert 1 <= r.n <= 3 and r.maxc == r.n  # copies are 1..n, no holes
        per_source.setdefault(r.source, set()).add(r.n)
    # the weight is a function of source alone
    assert all(len(ns) == 1 for ns in per_source.values())


def test_lexical_gini_bounds_and_extremes(spark):
    rows = queries()['text_lexical_gini'](spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0.0 <= r.gini < 1.0
        assert r.n_types <= r.n_tokens
        # gini == 0 iff single type; gini upper bound 1 - 1/n_types
        if r.n_types == 1:
            assert r.gini == 0.0
        assert r.gini <= 1.0 - 1.0 / r.n_types + 1e-12


def test_tokenize_ids_lengths_and_vocab_range(spark):
    rows = queries()['pipeline_tokenize_to_ids'](spark, SF_DIR).collect()
    assert len(rows) == 500
    used = set()
    for r in rows:
        ids = [int(x) for x in r.ids_csv.split(',')]
        assert len(ids) == r.n_tokens
        assert all(-1 <= i < 16 for i in ids)
        used.update(ids)
    # the whole 16-entry vocab is actually exercised, plus OOV
    assert used == set(range(-1, 16))


def test_interarrival_stats_internal_consistency(spark):
    rows = queries()['events_interarrival_stats'](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.min_gap_us <= r.max_gap_us
        assert r.n_gaps >= 1 and r.sum_gap_us >= r.n_gaps * r.min_gap_us
        assert math.isclose(r.mean_gap_us, r.sum_gap_us / r.n_gaps, rel_tol=0)
        assert r.burstiness >= 1.0 - 1e-12  # max >= mean always


def test_quality_classifier_score_decomposes(spark):
    """score(doc) must equal the dot product of the doc's hashed-feature
    vector (text_hashed_features) with the fixed weight table — i.e. the
    single-pass fold and the materialized-vector path agree."""
    feats = queries()['text_hashed_features'](spark, SF_DIR).collect()
    scores = {
        r.doc_id: r.score
        for r in queries()['text_quality_classifier'](spark, SF_DIR).collect()
    }
    agg = {}
    for r in feats:
        w = (r.feature * 2654435761) % 1000 - 500
        agg[r.doc_id] = agg.get(r.doc_id, 0) + r.weight * w
    for doc_id, s in agg.items():
        assert scores[doc_id] == s
    # docs whose features cancelled entirely (weight 0 rows filtered) still
    # have a score entry
    assert set(scores) >= set(agg)


def test_pmi_lift_matches_counts(spark):
    rows = queries()['text_pmi_cooccurrence'](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 25
    for r in rows:
        assert r.t1 < r.t2
        assert r.c_xy <= min(r.c_x, r.c_y)
        assert r.lift == r.c_xy * 500 / (r.c_x * r.c_y)


def test_vocab_coverage_oov_consistency(spark):
    rows = queries()['text_vocab_coverage'](spark, SF_DIR).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 <= r.n_oov <= r.n_tokens
        assert math.isclose(r.oov_pct, r.n_oov * 100.0 / r.n_tokens, rel_tol=0)


def test_semantic_dedup_matches_numpy_brute_force(spark):
    """Recompute the within-cluster quantized distances in numpy (an
    engine-independent twin) and verify every kept/dropped flag: a vector
    is dropped iff some SMALLER vec_id in ITS cluster is within SEM_T."""
    import numpy as np
    import pandas as pd

    from cyclebane_spark.queries.similarity import KM_SCALE, SEM_T

    out = queries()['dedup_semantic_kmeans'](spark, SF_DIR).collect()
    emb = pd.read_parquet(f'{SF_DIR}/embeddings.parquet')
    q = {
        int(r.vec_id): np.round(np.asarray(r.embedding, float) * KM_SCALE)
        for r in emb.itertuples(index=False)
    }
    by_cl = {}
    for r in out:
        by_cl.setdefault(r.cl, []).append(r)
    assert sum(len(v) for v in by_cl.values()) == 495
    for members in by_cl.values():
        members.sort(key=lambda r: r.vec_id)
        for i, r in enumerate(members):
            near_smaller = any(
                np.sum((q[r.vec_id] - q[m.vec_id]) ** 2) <= SEM_T
                for m in members[:i]
            )
            assert r.kept == (not near_smaller), r


def test_basket_rules_mirrored_and_bounded(spark):
    rows = queries()['basket_brand_rules'](spark, '/root/testdata/sf0.01').collect()
    assert rows, 'no rules above min support'
    seen = {(r.antecedent, r.consequent): r for r in rows}
    for (a, c), r in seen.items():
        assert a != c
        assert r.support_cnt >= 50
        assert 0.0 < r.confidence <= 1.0
        assert r.lift > 0.0
        mirror = seen[(c, a)]  # every rule ships with its reverse
        assert mirror.support_cnt == r.support_cnt
        assert mirror.lift == r.lift  # lift is direction-symmetric


def test_stratified_sample_exact_k_per_language(spark):
    rows = queries()['sample_stratified_exact_k'](spark, SF_DIR).collect()
    per_lang = {}
    for r in rows:
        per_lang.setdefault(r.lang, []).append(r.rk)
    for lang, rks in per_lang.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), lang
        assert len(rks) <= 40
    assert len({r.doc_id for r in rows}) == len(rows)


def test_feature_lags_frame_semantics(spark):
    rows = queries()['events_feature_lags'](spark, SF_DIR).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    total_events = sum(r.n_events for r in rows)
    assert total_events == spark.read.parquet(f'{SF_DIR}/events.parquet').count()
    for days in by_user.values():
        days.sort(key=lambda r: r.day)
        assert days[0].prev_value is None
        assert days[0].rolling3 == days[0].day_value
        for prev, cur in zip(days, days[1:]):
            assert cur.prev_value == prev.day_value


def test_bpe_train_matches_pure_python(spark):
    """Re-run the three greedy merge rounds in pure Python (collections +
    str.replace — same left-to-right non-overlapping semantics) and
    require identical (step, lhs, rhs, n) rows."""
    from collections import Counter

    import pandas as pd

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    tf = Counter()
    for text in docs.text:
        tf.update(text.strip().split())
    vocab = {'·' + '·'.join(w) + '·': c for w, c in tf.items()}
    # identical-word collisions impossible: keys are distinct words
    expected = []
    for step in (1, 2, 3):
        pc = Counter()
        for w, c in vocab.items():
            s = w.strip('·').split('·')
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += c
        (lhs, rhs), n = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expected.append((step, lhs, rhs, n))
        vocab = {
            w.replace(f'·{lhs}·{rhs}·', f'·{lhs}{rhs}·'): c
            for w, c in vocab.items()
        }
    rows = queries()['text_bpe_train_iterative'](spark, SF_DIR).collect()
    got = sorted((r.step, r.lhs, r.rhs, r.n) for r in rows)
    assert got == expected


def test_largestar_cc_agrees_with_label_propagation_on_adversarial_graphs(spark):
    """The alternating-star CC and the label-propagation CC must produce the
    identical labeling on graphs chosen to stress each: a long CHAIN
    (diameter = n-1, the label-propagation worst case the star algorithm
    exists to kill), a STAR rooted at the max id (forces the small-star
    re-rooting), two disjoint cliques, and isolated singletons."""
    from cyclebane_spark.queries.dedup import (
        _connected_components,
        _largestar_components,
    )

    chain = [(i, i + 1) for i in range(20, 40)]  # one 21-node path
    star = [(99, v) for v in range(90, 99)]  # hub has the LARGEST id
    cliques = [(a, b) for a in range(3) for b in range(3) if a < b] + [
        (a, b) for a in range(50, 54) for b in range(50, 54) if a < b
    ]
    pairs = spark.createDataFrame(
        chain + star + cliques, ['doc_a', 'doc_b']
    )
    node_ids = sorted(
        {x for p in chain + star + cliques for x in p} | {7, 8}
    )  # 7, 8: isolated singletons
    nodes = spark.createDataFrame([(n,) for n in node_ids], ['doc_id'])

    lp = {
        r['doc_id']: r['cluster_id']
        for r in _connected_components(
            pairs, nodes, 'doc_a', 'doc_b', 'doc_id'
        ).collect()
    }

    ls = {
        r['doc_id']: r['cluster_id']
        for r in _largestar_components(
            pairs, nodes, 'doc_a', 'doc_b', 'doc_id'
        ).collect()
    }

    assert lp == ls
    assert ls[40] == 20 and ls[21] == 20  # chain collapses to its min
    assert ls[99] == 90  # star re-roots at the MIN member, not the hub
    assert ls[7] == 7 and ls[8] == 8  # singletons self-label


def _chain(spark, n):
    """One n-node path 0 - 1 - ... - n-1 (diameter n-1)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ['doc_a', 'doc_b']
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ['doc_id'])
    return pairs, nodes


def test_label_propagation_round_cap_fails_loudly(spark):
    """A chain whose diameter exceeds max_rounds raises instead of
    returning a partial labeling."""
    from cyclebane_spark.queries.dedup import _connected_components

    pairs, nodes = _chain(spark, 8)
    with pytest.raises(RuntimeError, match='did not converge in 3 rounds'):
        _connected_components(
            pairs, nodes, 'doc_a', 'doc_b', 'doc_id', max_rounds=3
        )


def test_largestar_round_cap_fails_loudly(spark, monkeypatch):
    """The alternating-star loop raises at its round cap too: one round can
    never show a stable edge set, so a cap of 1 must fail."""
    from cyclebane_spark.queries import dedup

    monkeypatch.setattr(dedup, 'LARGESTAR_MAX_ROUNDS', 1)
    pairs, nodes = _chain(spark, 8)
    with pytest.raises(RuntimeError, match='did not converge in 1 rounds'):
        dedup._largestar_components(pairs, nodes, 'doc_a', 'doc_b', 'doc_id')


def test_hard_negatives_margins_and_labels(spark):
    """Every mined negative must (a) carry a label different from its
    anchor's, (b) rank below no same-label vector it beats on margin:
    margin > 0 iff the negative's cosine exceeds the anchor's best
    positive. Verified against a numpy brute force."""
    import numpy as np

    out = queries()['ann_hard_negatives'](spark, SF_DIR).collect()
    import duckdb

    emb = duckdb.sql(
        f"SELECT vec_id, label, embedding FROM "
        f"read_parquet('{SF_DIR}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    vecs = {r[0]: (r[1], np.array(r[2])) for r in emb}
    for r in out:
        ql, qv = vecs[r.query_id]
        nl, nv = vecs[r.neighbor_id]
        assert nl != ql, (r.query_id, r.neighbor_id)
        cos = round(
            float(qv @ nv) / (np.sqrt(qv @ qv) * np.sqrt(nv @ nv)), 9
        )
        assert abs(cos - r.cosine) < 1e-9
        best_pos = max(
            round(float(qv @ v) / (np.sqrt(qv @ qv) * np.sqrt(v @ v)), 9)
            for vid, (lb, v) in vecs.items()
            if vid >= 5 and lb == ql
        )
        assert abs((r.cosine - best_pos) - r.margin) < 1e-9
    # per anchor: exactly top-k, ranked by cosine desc
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        assert all(
            rows[i].cosine >= rows[i + 1].cosine for i in range(len(rows) - 1)
        )


def test_cms_never_underestimates(spark):
    """The count-min guarantee: est >= exact for every term, and the
    counter matrix the estimates come from is fixed-size (<= d*w cells)
    regardless of vocabulary."""
    out = queries()['sketch_cms_frequency'](spark, SF_DIR).collect()
    assert len(out) > 0
    for r in out:
        assert r.cms_estimate >= r.exact_cnt, r.term
        assert r.overestimate == r.cms_estimate - r.exact_cnt
    # total exact mass equals the token count of the corpus
    import duckdb

    n_toks = duckdb.sql(
        f"SELECT SUM(len(string_split_regex(trim(text), '\\s+'))) FROM "
        f"read_parquet('{SF_DIR}/documents.parquet')"
    ).fetchone()[0]
    assert sum(r.exact_cnt for r in out) == n_toks


def test_target_encoding_is_leave_one_out(spark):
    """enc(row) must equal the mean target of the OTHER rows in the
    row's segment — recomputed independently from the raw table."""
    import duckdb

    out = {
        r.c_custkey: (r.c_mktsegment, r.loo_enc)
        for r in queries()['pipeline_target_encoding'](spark, SF_DIR).collect()
    }
    rows = duckdb.sql(
        f"SELECT c_custkey, c_mktsegment, c_acctbal FROM "
        f"read_parquet('{SF_DIR}/customer.parquet')"
    ).fetchall()
    by_seg = {}
    for _, seg, bal in rows:
        by_seg.setdefault(seg, []).append(bal)
    for key, seg, bal in rows:
        others = [b for b in by_seg[seg]]
        others.remove(bal)  # one instance only
        want = sum(others) / len(others)
        got = out[key][1]
        assert out[key][0] == seg
        assert abs(got - want) < 1e-6, (key, got, want)


def test_kcore_peel_on_synthetic_graph(spark):
    """Hand-built graph: a triangle {1,2,3} (its own 2-core) with a
    pendant chain 3-4-5 that must peel away: round 1 drops 5 (deg 1),
    round 2 drops 4, round 3 confirms the triangle. Checked by running
    the same unrolled rounds the query uses over an injected edge list."""
    import pyspark.sql.functions as F

    from cyclebane_spark.queries.dedup import _KCORE_K, _KCORE_ROUNDS

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], 'doc_a long, doc_b long'
    ).localCheckpoint()
    for _ in range(_KCORE_ROUNDS):
        deg = (
            edges.select(F.col('doc_a').alias('v'))
            .union(edges.select(F.col('doc_b').alias('v')))
            .groupBy('v').agg(F.count(F.lit(1)).alias('deg'))
        )
        keep = deg.filter(F.col('deg') >= _KCORE_K).select('v')
        edges = (
            edges.join(keep.withColumnRenamed('v', 'doc_a'), 'doc_a', 'semi')
            .join(keep.withColumnRenamed('v', 'doc_b'), 'doc_b', 'semi')
            .localCheckpoint()
        )
    got = {(r.doc_a, r.doc_b) for r in edges.collect()}
    assert got == {(1, 2), (2, 3), (1, 3)}


def test_quantile_bins_are_equi_depth_and_monotone(spark):
    """Each of the four bins holds ~25% of the orders (exact-boundary
    equi-depth up to ties) and the binning is monotone in the binned
    value."""
    out = queries()['pipeline_quantile_bins'](spark, SF_DIR)
    import duckdb

    prices = dict(
        duckdb.sql(
            f"SELECT o_orderkey, o_totalprice FROM "
            f"read_parquet('{SF_DIR}/orders.parquet')"
        ).fetchall()
    )
    rows = [(r.o_orderkey, r.price_bin) for r in out.collect()]
    assert len(rows) == len(prices)
    n = len(rows)
    from collections import Counter

    shares = Counter(b for _, b in rows)
    assert set(shares) == {1, 2, 3, 4}
    for b in shares:
        assert 0.2 < shares[b] / n < 0.3, (b, shares[b] / n)
    ranked = sorted(rows, key=lambda kv: prices[kv[0]])
    bins = [b for _, b in ranked]
    assert bins == sorted(bins)  # monotone in value


def test_kanonymity_cells_meet_k(spark):
    """Every released level-0/1 cell must hold >= K customers (the
    k-anonymity guarantee the ladder exists for), and the cell table must
    partition the full customer set."""
    from cyclebane_spark.queries.relational3 import _KANON_K

    rows = queries()['quality_kanonymity_audit'](spark, SF_DIR).collect()
    assert sum(r.n_customers for r in rows) == 150  # sf0.001 customers
    for r in rows:
        if r.level in (0, 1):
            assert r.n_customers >= _KANON_K, (r.level, r.area, r.c_mktsegment)
        assert (r.area == '*') == (r.level == 2)
    # the tiny SF must actually exercise generalization
    assert {r.level for r in rows} == {0, 1, 2}


def test_source_overlap_matches_python_set_arithmetic(spark):
    """quality_source_overlap vs a pure-Python set computation: per-source
    3-gram vocabularies built with ordinary ``set()`` arithmetic must give
    identical pair counts and Jaccard values (the query and the DuckDB
    oracle share no code with this check)."""
    import itertools
    import re

    import pandas as pd

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    vocab: dict[str, set] = {}
    for _, row in docs.iterrows():
        toks = re.split(r'\s+', row.text.strip())
        grams = {
            ' '.join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }
        vocab.setdefault(row.source, set()).update(grams)
    expected = {}
    for a, b in itertools.combinations(sorted(vocab), 2):
        inter = len(vocab[a] & vocab[b])
        if inter:
            expected[(a, b)] = (
                inter,
                len(vocab[a]),
                len(vocab[b]),
                inter / (len(vocab[a]) + len(vocab[b]) - inter),
            )
    out = queries()['quality_source_overlap'](spark, SF_DIR).collect()
    got = {
        (r.source_a, r.source_b): (r.n_shared, r.n_a, r.n_b, r.jaccard)
        for r in out
    }
    assert got == expected


def test_sorted_neighborhood_pair_structure(spark):
    """SNM invariants the oracle equality can't express directly: with N
    docs and window W, the candidate set has exactly N*W - W*(W+1)/2 pairs
    (each rank pairs with its W successors, truncated at the end), every
    rank gap is in 1..W, Jaccard is in [0, 1], and at least one pair
    crosses a first-character bucket boundary (proving the two-level rank
    is global, not per-bucket)."""
    from cyclebane_spark.queries.dedup import SNM_WINDOW as W

    out = queries()['dedup_sorted_neighborhood'](spark, SF_DIR).collect()
    n_docs = 500
    assert len(out) == n_docs * W - W * (W + 1) // 2
    assert all(1 <= r.rank_b - r.rank_a <= W for r in out)
    assert all(0.0 <= r.jaccard <= 1.0 for r in out)
    ranks = {}
    for r in out:
        ranks[r.rank_a] = r.doc_a
        ranks[r.rank_b] = r.doc_b
    assert sorted(ranks) == list(range(1, n_docs + 1))  # a permutation


def test_keyword_tagging_matches_python_counts(spark):
    """text_keyword_tagging vs a pure-Python recount of hits and reached
    docs per (source, topic)."""
    import re

    import pandas as pd

    from cyclebane_spark.queries.text import _TAXONOMY

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    kw2topic = {k: t for t, kws in _TAXONOMY for k in kws}
    hits, reach = {}, {}
    for _, row in docs.iterrows():
        for tok in re.split(r'\s+', row.text.strip()):
            topic = kw2topic.get(tok.lower())
            if topic:
                key = (row.source, topic)
                hits[key] = hits.get(key, 0) + 1
                reach.setdefault(key, set()).add(row.doc_id)
    out = queries()['text_keyword_tagging'](spark, SF_DIR).collect()
    got = {(r.source, r.topic): (r.n_hits, r.n_docs) for r in out}
    assert got == {
        k: (hits[k], len(reach[k])) for k in hits
    }


def test_ewma_fold_matches_python_recurrence(spark):
    """events_ewma_fold vs a pure-Python left fold over (ts, event_id)-
    ordered values — must be bit-identical (alpha = 1/2 halvings are exact
    IEEE ops in the same order)."""
    import pandas as pd

    ev = pd.read_parquet(f'{SF_DIR}/events.parquet')
    expected = {}
    for uid, grp in ev.groupby('user_id'):
        vals = grp.sort_values(['ts', 'event_id'])['value'].tolist()
        s = vals[0]
        for x in vals[1:]:
            s = s * 0.5 + x * 0.5
        expected[uid] = (len(vals), s)
    out = queries()['events_ewma_fold'](spark, SF_DIR).collect()
    got = {r.user_id: (r.n_events, r.ewma) for r in out}
    assert got == expected


def test_bcubed_recall_is_one_by_containment(spark):
    """Identical texts get identical MinHash signatures, so every
    exact-duplicate (truth) cluster is contained in one LSH-CC predicted
    cluster — B-cubed recall is therefore EXACTLY 1.0, precision is in
    (0, 1], F1 follows as 2p/(p+1), and cluster counts bound each other
    (pred merges truth clusters, never splits them)."""
    [r] = queries()['dedup_bcubed_eval'](spark, SF_DIR).collect()
    assert r.bcubed_recall == 1.0
    assert 0.0 < r.bcubed_precision <= 1.0
    p = r.bcubed_precision
    assert r.bcubed_f1 == 2 * p * 1.0 / (p + 1.0)
    assert r.n_pred_clusters <= r.n_truth_clusters <= r.n_docs


def test_lpa_communities_respect_components_and_merge_exact_dups(spark):
    """LPA invariants: labels only flow along edges, so every node's
    community label must live in its own connected component; exact
    duplicates have identical neighborhoods (plus the self-loop), so they
    must share a community; and every community label is a real doc_id."""
    lpa = {
        r.doc_id: r.community
        for r in queries()['graph_label_propagation'](spark, SF_DIR).collect()
    }
    cc = {
        r.doc_id: r.cluster_id
        for r in queries()['dedup_connected_components'](
            spark, SF_DIR
        ).collect()
    }
    assert set(lpa) == set(cc)
    for doc, com in lpa.items():
        assert com in cc  # label is a real doc_id
        assert cc[com] == cc[doc]  # label stayed inside the component
    import pandas as pd

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    import re

    canon = docs.text.map(lambda t: re.sub(r'\s+', ' ', t.strip()).lower())
    by_fp = docs.assign(fp=canon).groupby('fp')['doc_id'].agg(list)
    for group in by_fp:
        assert len({lpa[d] for d in group}) == 1, group


def test_entity_resolution_clusters_cover_exact_dups(spark):
    """ER invariants: every cluster has >= 2 members (singletons never
    enter the verified-pair graph); every exact-duplicate group of size
    >= 2 appears inside ONE cluster (exact dups pass any Jaccard threshold
    and always share an LSH bucket); and total members never exceeds the
    corpus size."""
    import re

    import pandas as pd

    out = queries()['pipeline_entity_resolution'](spark, SF_DIR).collect()
    assert all(r.n_members >= 2 for r in out)
    assert sum(r.n_members for r in out) <= 500
    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    canon = docs.text.map(lambda t: re.sub(r'\s+', ' ', t.strip()).lower())
    dup_groups = [
        g
        for g in docs.assign(fp=canon).groupby('fp')['doc_id'].agg(list)
        if len(g) >= 2
    ]
    # exact dups always verify and always share an LSH bucket, so each dup
    # group lives inside ONE component whose label (min id of the whole
    # component) is <= the group's min id and whose size covers the group
    by_id = {r.cluster_id: r.n_members for r in out}
    for g in dup_groups:
        assert any(
            cid <= min(g) and n >= len(g) for cid, n in by_id.items()
        ), g
    # and the clusters must account for at least every exact-duplicated doc
    assert sum(by_id.values()) >= sum(len(g) for g in dup_groups)


def test_sessionization_sweep_monotone_and_consistent(spark):
    """Sweep invariants: growing the idle timeout can only MERGE sessions,
    so session count and singleton count are non-increasing in the timeout
    while average duration is non-decreasing; and the 30-minute point must
    agree exactly with the standalone events_sessionization query."""
    rows = {
        r.timeout_min: r
        for r in queries()['events_sessionization_sweep'](
            spark, SF_DIR
        ).collect()
    }
    assert sorted(rows) == [10, 30, 90]
    assert rows[10].n_sessions >= rows[30].n_sessions >= rows[90].n_sessions
    assert (
        rows[10].n_singletons
        >= rows[30].n_singletons
        >= rows[90].n_singletons
    )
    assert (
        rows[10].avg_session_us
        <= rows[30].avg_session_us
        <= rows[90].avg_session_us
    )
    standalone = queries()['events_sessionization'](spark, SF_DIR).count()
    assert rows[30].n_sessions == standalone


def test_cusum_matches_textbook_recurrence(spark):
    """The window-identity CUSUM must equal the sequential textbook
    recurrence s_i = max(0, s_{i-1} + (x_i - k)) replayed in Python per
    event type, including the alarm flags."""
    rows = queries()['events_cusum_alarm'](spark, SF_DIR).collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    for series in by_type.values():
        series.sort(key=lambda r: r.hour_start)
        total = sum(r.cnt for r in series)
        n = len(series)
        k = (total + n - 1) // n
        s = 0
        for r in series:
            s = max(0, s + (r.cnt - k))
            assert r.cusum == s, r
            assert r.alarm == (s >= 5 * k), r


def test_extractive_summary_structure_and_scores(spark):
    """Summary invariants: <= 2 rows per doc with ranks {1} or {1, 2},
    scores non-increasing with rank, sentences actually substrings of the
    source document, and the rank-1 sentence has the maximum score over
    ALL of the doc's sentences (recomputed in Python from the same '. '
    split and df definition)."""
    import re

    import pandas as pd

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    n_docs = len(docs)
    df_counts = {}
    for _, row in docs.iterrows():
        for tok in set(re.split(r'\s+', row.text.strip().lower())):
            df_counts[tok] = df_counts.get(tok, 0) + 1

    def score(sentence):
        toks = set(re.split(r'\s+', sentence.strip().lower()))
        return sum(n_docs - df_counts.get(t, 0) for t in toks)

    out = queries()['text_extractive_summary'](spark, SF_DIR).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    text_by_id = dict(zip(docs.doc_id, docs.text))
    assert set(by_doc) == set(text_by_id)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.rk)
        assert [r.rk for r in rows] in ([1], [1, 2])
        assert all(r.sentence in text_by_id[doc_id] for r in rows)
        if len(rows) == 2:
            assert rows[0].score >= rows[1].score
        best = max(
            score(s) for s in text_by_id[doc_id].split('. ')
        )
        assert rows[0].score == best == score(rows[0].sentence)


def test_hll_overlap_estimates_match_exact_matrix(spark):
    """The sketch-audit query must agree with quality_source_overlap on
    the exact pair counts, and every estimate flag must hold (the sketch
    path is deterministic for fixed data, so this is a hard assertion,
    not a flaky-probabilistic one)."""
    exact = {
        (r.source_a, r.source_b): r.n_shared
        for r in queries()['quality_source_overlap'](spark, SF_DIR).collect()
    }
    rows = queries()['quality_source_overlap_hll'](spark, SF_DIR).collect()
    assert {(r.source_a, r.source_b): r.n_shared for r in rows} == exact
    assert all(r.est_ok for r in rows)


def test_matryoshka_stage2_is_exact_rerank_of_stage1(spark):
    """Funnel invariant, recomputed in numpy: for every query, the output
    must equal the top-10 by FULL-dim cosine (round 9, vec_id tiebreak)
    restricted to the top-64 candidates by 16-dim prefix cosine — i.e.
    stage 2 is an exact re-rank of exactly stage 1's candidate set."""
    import numpy as np
    import pandas as pd

    from cyclebane_spark.queries.similarity import (
        MAT_CAND,
        MAT_DIMS,
        N_QUERIES,
        TOP_K,
    )

    emb = pd.read_parquet(f'{SF_DIR}/embeddings.parquet')
    vecs = {
        int(r.vec_id): np.asarray(r.embedding, dtype=float)
        for r in emb.itertuples(index=False)
    }

    def cos(a, b, d=None):
        a = a[:d] if d else a
        b = b[:d] if d else b
        return round(
            float(a @ b) / (np.sqrt(a @ a) * np.sqrt(b @ b)), 9
        )

    corpus = sorted(v for v in vecs if v >= N_QUERIES)
    expected = {}
    for qid in range(N_QUERIES):
        coarse = sorted(
            corpus,
            key=lambda c: (-cos(vecs[qid], vecs[c], MAT_DIMS), c),
        )[:MAT_CAND]
        final = sorted(
            coarse, key=lambda c: (-cos(vecs[qid], vecs[c]), c)
        )[:TOP_K]
        for rk, c in enumerate(final, start=1):
            expected[(qid, c)] = (rk, cos(vecs[qid], vecs[c]))
    out = queries()['ann_matryoshka_rerank'](spark, SF_DIR).collect()
    got = {
        (r.query_id, r.neighbor_id): (r.rk, r.cosine) for r in out
    }
    assert got == expected


def test_corpus_build_composes_its_stages_conservatively(spark):
    """The composed corpus build must agree with its independently computed
    stage logic: (1) output doc mass == the number of deduped,
    quality-gated docs; (2) token mass is conserved into the bins;
    (3) train bins are contiguous per shard and holdout is exactly the
    bin_id = -1 pool; (4) identical raw text can never straddle the split
    (the leakage guard the fingerprint hash buys by construction)."""
    out = queries()['pipeline_corpus_build'](spark, SF_DIR).collect()

    docs = spark.read.parquet(f'{SF_DIR}/documents.parquet')
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col('text')), r'\s+', ' ')))
    toks = F.split(F.trim(F.col('text')), r'\s+')
    ntd = F.size(toks).cast('double')
    n_stop = F.size(F.filter(toks, lambda x: x.isin('the', 'a', 'and', 'of', 'to'))).cast('double')
    n_punct = F.length(F.regexp_replace('text', r'[^.,;:!?]', '')).cast('double')
    n_chars = F.length('text').cast('double')
    gate = F.when((ntd >= 20) & (ntd <= 1000), 1.0).otherwise(0.0)
    quality = gate * (F.lit(1.0) - n_punct / n_chars) * F.least(
        F.lit(1.0), F.lit(4.0) * n_stop / ntd
    )
    from pyspark.sql import Window

    w = Window.partitionBy('fp').orderBy('doc_id')
    expected = (
        docs.select('doc_id', 'text', fp.alias('fp'), quality.alias('q'),
                    F.size(toks).cast('long').alias('n_tokens'))
        .withColumn('rk', F.row_number().over(w))
        .filter((F.col('rk') == 1) & (F.col('q') > 0.5))
    )
    exp = expected.agg(
        F.count(F.lit(1)).alias('n'), F.sum('n_tokens').alias('t')
    ).collect()[0]
    assert sum(r.n_docs for r in out) == exp.n
    assert sum(r.total_tokens for r in out) == exp.t

    # holdout <=> bin_id = -1; train bins contiguous 0..max per shard
    assert all((r.split == 'holdout') == (r.bin_id == -1) for r in out)
    train_bins = {}
    for r in out:
        if r.split == 'train':
            train_bins.setdefault(r.shard, []).append(r.bin_id)
    for shard, bins in train_bins.items():
        assert sorted(bins) == list(range(len(bins))), shard

    # no fingerprint survives twice (dedup) => identical text cannot
    # straddle the split; spot-check the stronger claim directly
    n_fp = expected.select('fp').distinct().count()
    assert n_fp == exp.n


def test_html_extract_matches_pure_python(spark):
    """Re-run the synthetic-HTML generation AND the boilerplate extraction
    in pure Python (re + str ops — same block split, tag strip, integer
    link-density and length rules) and require identical rows, main text
    included. Also pins the designed block behavior: navs and footers are
    always dropped, link-stuffed paragraphs are dropped by DENSITY, and
    every kept block is a plain paragraph."""
    import re

    import pandas as pd

    from cyclebane_spark.queries.text import (
        _HTML_ANCHOR_RE,
        _HTML_BLOCK_RE,
        HTML_MIN_WORDS,
    )

    def anchor(word):
        return f'<a href="#">{word}</a>'

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    expected = {}
    for doc_id, text in zip(docs.doc_id, docs.text):
        w = text.split(' ')
        if len(w) < HTML_MIN_WORDS:
            continue
        nav = ' '.join(anchor(x) for x in w[:5])
        paras = []
        npara = 2 + doc_id % 3
        for i in range(4):
            if i >= npara:
                continue
            pw = w[10 + 12 * i : 22 + 12 * i]
            if (doc_id + i) % 4 == 0:
                body = ' '.join(anchor(x) for x in pw)
            else:
                body = ' '.join(pw) + ' ' + anchor(pw[0])
            paras.append(f'<p>{body}</p>')
        html = (
            f'<html><body><nav>{nav}</nav>' + ''.join(paras)
            + f'<footer>Copyright {w[1]}</footer></body></html>'
        )
        kept, stats = [], [0, 0, 0, 0]
        blocks = re.findall(_HTML_BLOCK_RE, html, flags=re.DOTALL)
        for tag, body, _ in blocks:
            clean = re.sub(' +', ' ', re.sub('<[^>]*>', ' ', body).strip())
            link_chars = sum(
                len(m) for m in re.findall(_HTML_ANCHOR_RE, body)
            )
            text_chars = len(clean.replace(' ', ''))
            n_words = len(clean.split(' '))
            keep = 2 * link_chars <= text_chars and n_words >= 10
            stats[0] += 1
            if keep:
                assert tag == 'p', 'only plain paragraphs may survive'
                stats[1] += 1
                stats[2] += n_words
                stats[3] += text_chars
                kept.append(clean)
            elif tag == 'p':
                # a dropped paragraph must be a link-stuffed one
                assert 2 * link_chars > text_chars
        expected[int(doc_id)] = (*stats, ' '.join(kept))
    rows = queries()['text_html_extract'](spark, SF_DIR).collect()
    got = {
        int(r.doc_id): (
            r.n_blocks, r.n_kept, r.kept_words, r.kept_chars, r.main_text
        )
        for r in rows
    }
    assert got == expected


def test_wordpiece_matches_pure_python(spark):
    """Re-run the vocab build AND the greedy leftmost-longest matcher in
    pure Python and require identical per-word tokenizations (piece
    sequence included, not just counts) — the property that pins the
    COALESCE-longest-first join cascade as a correct WordPiece matcher.
    Also asserts the designed behavior: every over-cap word is [UNK],
    every tokenization reassembles to its word, and at least one word
    uses a multi-char piece (the matcher is not degenerating to chars)."""
    from collections import Counter

    import pandas as pd

    from cyclebane_spark.queries.text import (
        WP_MAX_LEN,
        WP_TOP,
        wordpiece_word_tokens,
    )

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    wf = Counter()
    for text in docs.text:
        wf.update(text.split(' '))
    words = sorted(wf)
    top = [w for w, _ in sorted(wf.items(), key=lambda kv: (-kv[1], kv[0]))[:WP_TOP]]

    init = {w[:1] for w in words}
    for L in (2, 3, 4):
        init |= {w[:L] for w in top if len(w) >= L}
    cont = {w[i : i + 1] for w in words for i in range(1, WP_MAX_LEN)}
    for L in (2, 3):
        cont |= {
            w[i : i + L] for w in top for i in range(1, 5) if len(w) >= i + L
        }

    def tokenize(w):
        if len(w) > WP_MAX_LEN:
            return ['[UNK]']
        toks, off = [], 0
        while off < len(w):
            table = init if off == 0 else cont
            for L in (4, 3, 2, 1) if off == 0 else (3, 2, 1):
                p = w[off : off + L]
                if len(p) == L and p in table:
                    toks.append(p if off == 0 else '##' + p)
                    off += L
                    break
        return toks

    expected = {w: tokenize(w) for w in words}
    got = {
        r.word: r.toks.split(' ')
        for r in wordpiece_word_tokens(spark, SF_DIR).collect()
    }
    assert got == expected
    multi = 0
    for w, toks in got.items():
        if toks == ['[UNK]']:
            assert len(w) > WP_MAX_LEN
            continue
        assert ''.join(t.removeprefix('##') for t in toks) == w
        multi += any(len(t.removeprefix('##')) > 1 for t in toks)
    assert multi > 0


def test_unigram_segment_matches_pure_python(spark):
    """Re-run the quantized-probability derivation AND the Viterbi DP in
    pure Python (dict DP, exact int products, same SCALE quantization,
    length normalization and (v DESC, toks ASC) tiebreak) and require
    identical rows. Also asserts the objective does real work: at least
    one word segments into a multi-char piece (not all-chars), every
    non-UNK segmentation reassembles to its word, and every over-cap
    word is [UNK]."""
    from collections import Counter

    import pandas as pd

    from cyclebane_spark.queries.text import (
        UNIGRAM_FLOOR_DIV,
        UNIGRAM_MAX_LEN,
        UNIGRAM_PROB_SCALE,
        unigram_word_segments,
    )

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    wf = Counter()
    for text in docs.text:
        wf.update(text.split(' '))
    tot = sum(wf.values())
    cnt = Counter()
    for w, c in wf.items():
        for i in range(min(len(w), UNIGRAM_MAX_LEN)):
            for L in (1, 2, 3, 4):
                if i + L <= len(w):
                    cnt[w[i : i + L]] += c
    kept = {
        p: n
        for p, n in cnt.items()
        if len(p) == 1 or n * UNIGRAM_FLOOR_DIV >= tot
    }
    d = sum(kept.values())
    vocab = {p: (n * UNIGRAM_PROB_SCALE) // d for p, n in kept.items()}

    def viterbi(w):
        if len(w) > UNIGRAM_MAX_LEN:
            return ('[UNK]', 1, '0')
        dp = {0: (1, '', 0)}  # v = prod(q) * SCALE^(j - n)
        for j in range(1, len(w) + 1):
            best = None
            for L in range(1, min(4, j) + 1):
                p = w[j - L : j]
                if p in vocab and (j - L) in dp:
                    v, tk, n = dp[j - L]
                    cand = (
                        v * vocab[p] * UNIGRAM_PROB_SCALE ** (L - 1),
                        (tk + ' ' + p) if tk else p,
                        n + 1,
                    )
                    if best is None or (-cand[0], cand[1]) < (-best[0], best[1]):
                        best = cand
            dp[j] = best
        v, tk, n = dp[len(w)]
        return (tk, n, str(v))

    expected = {w: viterbi(w) for w in wf}
    got = {
        r.word: (r.toks, r.n_pieces, r.score_num)
        for r in unigram_word_segments(spark, SF_DIR).collect()
    }
    assert got == expected
    nontrivial = sum(
        1
        for w, (tk, n, _) in got.items()
        if tk != '[UNK]' and n < len(w)
    )
    assert nontrivial > 0, 'Viterbi degenerated to all-chars everywhere'
    for w, (tk, n, _) in got.items():
        if tk != '[UNK]':
            assert tk.replace(' ', '') == w


def exact_substr_extension_twin(
    toks: dict, L: int, cap: int, pair_ok=None
) -> set:
    """Pure-Python twin of dedup_exact_substr by a DIFFERENT mechanism —
    explicit anchor hits + cold-gram left-maximality check + rightward
    gram-by-gram EXTENSION (the Spark statement is islands/run-merge
    arithmetic over a join). A (pa, pb) cold anchor starts a run iff the
    predecessor positions are NOT themselves a cold gram match; the
    extension counts consecutive cold gram matches; match_len =
    run_grams + L - 1. Dropping hot (df > cap) grams happens at the
    index — identical to the registered query's anti-join. ``pair_ok``:
    the pair predicate over ordered (da, db) — default the oriented
    da < db self-join; the incremental admission twin passes the
    (standing, incoming) role predicate instead."""
    from collections import defaultdict

    if pair_ok is None:
        pair_ok = lambda da, db: da < db  # noqa: E731

    idx = defaultdict(list)
    for d, ts in toks.items():
        for p in range(len(ts) - L + 1):
            idx[tuple(ts[p : p + L])].append((d, p))
    df = {g: len(occs) for g, occs in idx.items()}

    def cold_match(da, pa, db, pb):
        A, B = toks[da], toks[db]
        if pa < 0 or pb < 0 or pa + L > len(A) or pb + L > len(B):
            return False
        ga, gb = tuple(A[pa : pa + L]), tuple(B[pb : pb + L])
        return ga == gb and df[ga] <= cap

    expected = set()
    for g, occs in idx.items():
        if df[g] > cap:
            continue
        for da, pa in occs:
            for db, pb in occs:
                if da == db or not pair_ok(da, db):
                    continue
                if cold_match(da, pa - 1, db, pb - 1):
                    continue  # not a cold-run start on this diagonal
                ln = 0
                while cold_match(da, pa + ln, db, pb + ln):
                    ln += 1
                expected.add((da, db, pa + 1, pb + 1, ln + L - 1))
    return expected


def test_exact_substr_matches_extension_twin(spark):
    """Twin equality on the gate corpus, plus: the corpus must actually
    contain shared runs, and (documented) no gram is hot at this SF — so
    the capped output here coincides with the uncapped published
    semantics and the token-level maximality proof still binds."""
    import re
    from collections import defaultdict

    import pandas as pd

    from cyclebane_spark.queries.dedup import EXSUB_DF_CAP, EXSUB_L

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    toks = {
        int(r.doc_id): re.split(r'\s+', r.text.strip())
        for r in docs.itertuples(index=False)
    }
    expected = exact_substr_extension_twin(toks, EXSUB_L, EXSUB_DF_CAP)
    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_len)
        for r in queries()['dedup_exact_substr'](spark, SF_DIR).collect()
    }
    assert got == expected
    assert got, 'corpus has no shared runs — the gate proves nothing'
    assert all(t[4] >= EXSUB_L for t in got)
    # cap sanity at this SF: gate data has no hot gram, so this run also
    # certifies the uncapped semantics (the synthetic cap tests exercise
    # suppression and splitting)
    idx = defaultdict(int)
    for ts in toks.values():
        for p in range(len(ts) - EXSUB_L + 1):
            idx[tuple(ts[p : p + EXSUB_L])] += 1
    assert max(idx.values()) <= EXSUB_DF_CAP


def test_exact_substr_incremental_matches_role_twin(spark):
    """dedup_exact_substr_incremental against the extension twin with
    the (standing, incoming) role predicate: runs are exactly the
    cross-role pairs, oriented corpus->new regardless of id order.
    Also asserts consistency with the full self-join reporter: every
    cross-role run the full reporter finds appears here (in role
    orientation), no within-batch or within-corpus pair leaks in, and
    the sf fixture actually produces cross-role AND would-be
    within-batch matches (so the exclusions are exercised)."""
    import re

    import pandas as pd

    from cyclebane_spark.queries.dedup import EXSUB_DF_CAP, EXSUB_L

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    toks = {
        int(r.doc_id): re.split(r'\s+', r.text.strip())
        for r in docs.itertuples(index=False)
    }
    src = {int(r.doc_id): r.source for r in docs.itertuples(index=False)}
    role_ok = lambda c, n: src[c] != 'src1' and src[n] == 'src1'  # noqa: E731
    expected = exact_substr_extension_twin(
        toks, EXSUB_L, EXSUB_DF_CAP, pair_ok=role_ok
    )
    got = {
        (r.corpus_doc, r.new_doc, r.c_start, r.n_start, r.match_len)
        for r in queries()['dedup_exact_substr_incremental'](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert got, 'no cross-role matches — the gate proves nothing'
    assert all(
        src[c] != 'src1' and src[n] == 'src1' for c, n, *_ in got
    )
    # consistency with the full reporter: its cross-role subset equals
    # this output up to role re-orientation
    full = exact_substr_extension_twin(toks, EXSUB_L, EXSUB_DF_CAP)
    cross = {
        (a, b, pa, pb, ln) if role_ok(a, b) else (b, a, pb, pa, ln)
        for a, b, pa, pb, ln in full
        if role_ok(a, b) or role_ok(b, a)
    }
    assert got == cross
    # the exclusion classes are non-empty on this fixture
    assert any(
        src[a] == 'src1' and src[b] == 'src1' for a, b, *_ in full
    ) or any(
        src[a] != 'src1' and src[b] != 'src1' for a, b, *_ in full
    ), 'no excluded-class matches in the fixture'


def test_exact_substr_hot_gram_cap(spark, tmp_path):
    """Adversarial boilerplate: the anchor cap must (a) SUPPRESS the
    pure-boilerplate clique whose uncapped pair count is quadratic,
    (b) SPLIT a unique run around an interior hot gram into its two cold
    fragments, (c) leave a fully-cold pair untouched — all three against
    the extension twin AND hand-computed rows."""
    import pandas as pd

    from cyclebane_spark.queries.dedup import EXSUB_DF_CAP, EXSUB_L

    boiler = [f'b{k}' for k in range(EXSUB_L)]  # one hot gram per doc
    n_boiler = EXSUB_DF_CAP + 1  # df = cap + 3 > cap (with docs X, Y)
    rows = [
        {'doc_id': i, 'text': ' '.join(boiler)} for i in range(n_boiler)
    ]
    # X and Y share U1..U6 B1..B8 V1..V6: the interior boilerplate gram is
    # hot, the 6 grams on each flank are unique to the pair
    shared = [f'u{k}' for k in range(6)] + boiler + [f'v{k}' for k in range(6)]
    rows.append({'doc_id': 5000, 'text': ' '.join(shared + ['xonly'])})
    rows.append({'doc_id': 5001, 'text': ' '.join(shared + ['yonly'])})
    # P and Q share a fully-cold 10-token run (3 grams -> one len-10 row)
    coldrun = [f'c{k}' for k in range(10)]
    rows.append({'doc_id': 6000, 'text': ' '.join(coldrun + ['ponly'])})
    rows.append({'doc_id': 6001, 'text': ' '.join(['qonly'] + coldrun)})
    pd.DataFrame(rows).to_parquet(tmp_path / 'documents.parquet')

    got = {
        (r.doc_a, r.doc_b, r.a_start, r.b_start, r.match_len)
        for r in queries()['dedup_exact_substr'](
            spark, str(tmp_path)
        ).collect()
    }
    toks = {int(r['doc_id']): r['text'].split(' ') for r in rows}
    assert got == exact_substr_extension_twin(toks, EXSUB_L, EXSUB_DF_CAP)
    # (a) no row touches two boilerplate-only docs — the uncapped form
    # would emit C(n_boiler, 2) > 500k of them
    assert not any(a < n_boiler and b < n_boiler for a, b, *_ in got)
    assert n_boiler * (n_boiler - 1) // 2 > 500_000
    # (b) the X/Y run splits into the two 13-token cold fragments
    assert {t for t in got if t[0] == 5000} == {
        (5000, 5001, 1, 1, 13),
        (5000, 5001, 8, 8, 13),
    }
    # (c) the cold pair is exact and unsplit
    assert {t for t in got if t[0] == 6000} == {(6000, 6001, 1, 2, 10)}


def test_exact_substr_cut_matches_twin_and_conserves(spark):
    """pipeline_exact_substr_cut against an independent Python twin:
    runs re-derived by the extension twin (different mechanism), cut
    sets unioned per LATER doc in Python, applied to the raw token
    arrays. Also asserts stage conservation (n_tokens - n_cut == tokens
    remaining in clean_text), that the corpus actually gets cut, and
    the keep-first policy (a doc that is only ever doc_a keeps every
    token)."""
    import re
    from collections import defaultdict

    import pandas as pd

    from cyclebane_spark.queries.dedup import EXSUB_DF_CAP, EXSUB_L

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    toks = {
        int(r.doc_id): re.split(r'\s+', r.text.strip())
        for r in docs.itertuples(index=False)
    }
    runs = exact_substr_extension_twin(toks, EXSUB_L, EXSUB_DF_CAP)
    cut = defaultdict(set)
    only_a = {da for da, *_ in runs} - {db for _, db, *_ in runs}
    for _, db, _, b_start, ln in runs:
        cut[db].update(range(b_start, b_start + ln))  # 1-based
    expected = {}
    for d, ts in toks.items():
        kept = [t for i, t in enumerate(ts, start=1) if i not in cut[d]]
        expected[d] = (len(ts), len(ts) - len(kept), ' '.join(kept))
    got = {
        r.doc_id: (r.n_tokens, r.n_cut, r.clean_text)
        for r in queries()['pipeline_exact_substr_cut'](
            spark, SF_DIR
        ).collect()
    }
    assert got == expected
    assert any(n_cut > 0 for _, n_cut, _ in got.values()), 'nothing cut'
    for d, (n_tokens, n_cut, clean) in got.items():
        n_left = len(clean.split(' ')) if clean else 0
        assert n_tokens - n_cut == n_left, f'doc {d} not conserved'
        if d in only_a:
            assert n_cut == 0, f'doc_a-only doc {d} lost tokens'


def test_tf_cosine_capped_hot_term_drop(spark, tmp_path):
    """Adversarial boilerplate for the df-capped TF-cosine: a 1005-doc
    clique sharing one hot trigram contributes NO pairs (uncapped pair
    count would exceed 500k); a duplicated pair similar through cold
    trigrams ranks by the exact cosine of the cold projection (hot term
    excluded from dot AND norms); a partially-similar cold pair gets
    the hand-computed cos^2."""
    import pandas as pd

    from cyclebane_spark.queries.dedup import COS_DF_CAP

    n_boiler = COS_DF_CAP + 5
    rows = [
        {'doc_id': i, 'text': f'h1 h2 h3 u{i}'} for i in range(n_boiler)
    ]  # trigrams: (h1 h2 h3) hot, (h2 h3 u{i}) unique
    rows.append({'doc_id': 5000, 'text': 'h1 h2 h3 p q r s'})
    rows.append({'doc_id': 5001, 'text': 'h1 h2 h3 p q r s'})
    rows.append({'doc_id': 6000, 'text': 'a b c d e'})
    rows.append({'doc_id': 6001, 'text': 'z a b c d'})
    pd.DataFrame(rows).to_parquet(tmp_path / 'documents.parquet')

    got = [
        (r.doc_a, r.doc_b, r.dot, r.cos2)
        for r in queries()['dedup_tf_cosine_capped'](
            spark, str(tmp_path)
        ).collect()
    ]
    # X/Y: cold terms (h2 h3 p),(h3 p q),(p q r),(q r s) -> dot=4,
    # n2=4 each, cos2=1.0. P/Q share (a b c),(b c d) of 3 cold terms
    # each -> dot=2, cos2=4/9. Boiler docs pair with X/Y/each other
    # ONLY through the hot trigram -> absent entirely.
    assert got == [(5000, 5001, 4, 1.0), (6000, 6001, 2, 4.0 / 9.0)]
    assert n_boiler * (n_boiler - 1) // 2 > 500_000


def test_unigram_train_step_matches_pure_python(spark):
    """Re-run the FULL trainer round in pure Python — seed vocab, Viterbi
    segmentation (the same dict DP as the segment twin), hard-EM expected
    counts, bottom-20% multi-char prune by (ec, piece), exact integer
    re-quantization — and require identical (piece, ec, q) rows. Also
    asserts the round does real work: at least one multi-char piece is
    pruned, singles all survive, and zero-usage vocab pieces rank into
    the pruned set before any used piece with higher count."""
    from collections import Counter

    import pandas as pd

    from cyclebane_spark.queries.text import (
        UNIGRAM_FLOOR_DIV,
        UNIGRAM_MAX_LEN,
        UNIGRAM_PROB_SCALE,
        UNIGRAM_PRUNE_PCT,
    )

    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    wf = Counter()
    for text in docs.text:
        wf.update(text.split(' '))
    tot = sum(wf.values())
    cnt = Counter()
    for w, c in wf.items():
        for i in range(min(len(w), UNIGRAM_MAX_LEN)):
            for L in (1, 2, 3, 4):
                if i + L <= len(w):
                    cnt[w[i : i + L]] += c
    kept = {
        p: n
        for p, n in cnt.items()
        if len(p) == 1 or n * UNIGRAM_FLOOR_DIV >= tot
    }
    d = sum(kept.values())
    vocab = {p: (n * UNIGRAM_PROB_SCALE) // d for p, n in kept.items()}

    def viterbi(w):
        dp = {0: (1, '', 0)}
        for j in range(1, len(w) + 1):
            best = None
            for L in range(1, min(4, j) + 1):
                p = w[j - L : j]
                if p in vocab and (j - L) in dp:
                    v, tk, n = dp[j - L]
                    cand = (
                        v * vocab[p] * UNIGRAM_PROB_SCALE ** (L - 1),
                        (tk + ' ' + p) if tk else p,
                        n + 1,
                    )
                    if best is None or (-cand[0], cand[1]) < (-best[0], best[1]):
                        best = cand
            dp[j] = best
        return dp[len(w)][1]

    # E-step: frequency-weighted Viterbi piece counts
    ec = Counter()
    for w, c in wf.items():
        if len(w) <= UNIGRAM_MAX_LEN:
            for p in viterbi(w).split(' '):
                ec[p] += c
    vec = {p: ec.get(p, 0) for p in vocab}
    # prune bottom PCT% of multi-char pieces by (ec, piece)
    multi = sorted(
        ((e, p) for p, e in vec.items() if len(p) > 1)
    )
    n_drop = len(multi) * UNIGRAM_PRUNE_PCT // 100
    dropped = {p for _, p in multi[:n_drop]}
    keptv = {p: e for p, e in vec.items() if len(p) == 1 or p not in dropped}
    d2 = sum(keptv.values())
    expected = {
        p: (e, (e * UNIGRAM_PROB_SCALE) // d2) for p, e in keptv.items()
    }

    got = {
        r.piece: (r.ec, r.q)
        for r in queries()['text_unigram_train_step'](spark, SF_DIR).collect()
    }
    assert got == expected
    assert n_drop > 0, 'no piece pruned — the round proves nothing'
    assert all(len(p) == 1 or p not in dropped for p in got)
    assert all(p in got for p in vocab if len(p) == 1)


def test_unigram_train_soft_matches_pure_python(spark):
    """Re-run the SOFT (forward-backward) trainer round in pure Python —
    seed vocab at the soft lattice scale, integer alpha/beta lattice
    sums per word, per-word posterior quantization (N * ECS) div Z,
    frequency-weighted expected counts, shared prune + re-quantize —
    and require identical (piece, ec, q) rows. Also asserts the lattice
    is consistent (forward total == backward total per word) and that
    the soft E-step does real soft work: some piece the Viterbi argmax
    path never uses carries nonzero soft mass."""
    from collections import Counter

    import pandas as pd

    from cyclebane_spark.queries.text import (
        UNIGRAM_FLOOR_DIV,
        UNIGRAM_MAX_LEN,
        UNIGRAM_PROB_SCALE,
        UNIGRAM_PRUNE_PCT,
        UNIGRAM_SOFT_ECS,
        UNIGRAM_SOFT_SCALE,
    )

    SC = UNIGRAM_SOFT_SCALE
    docs = pd.read_parquet(f'{SF_DIR}/documents.parquet')
    wf = Counter()
    for text in docs.text:
        wf.update(text.split(' '))
    tot = sum(wf.values())
    cnt = Counter()
    for w, c in wf.items():
        for i in range(min(len(w), UNIGRAM_MAX_LEN)):
            for L in (1, 2, 3, 4):
                if i + L <= len(w):
                    cnt[w[i : i + L]] += c
    kept = {
        p: n
        for p, n in cnt.items()
        if len(p) == 1 or n * UNIGRAM_FLOOR_DIV >= tot
    }
    d = sum(kept.values())
    q = {p: (n * SC) // d for p, n in kept.items()}

    ec = Counter()
    viterbi_used = set()
    for w, c in wf.items():
        n = len(w)
        if n > UNIGRAM_MAX_LEN:
            continue
        a = [0] * (n + 1)
        a[0] = 1
        for j in range(1, n + 1):
            a[j] = sum(
                a[j - L] * q[w[j - L : j]] * SC ** (L - 1)
                for L in range(1, min(4, j) + 1)
                if w[j - L : j] in q
            )
        b = [0] * (n + 1)  # b[s]: lattice mass of the last s chars
        b[0] = 1
        for s in range(1, n + 1):
            b[s] = sum(
                q[w[n - s : n - s + L]] * SC ** (L - 1) * b[s - L]
                for L in range(1, min(4, s) + 1)
                if w[n - s : n - s + L] in q
            )
        z = a[n]
        assert b[n] == z, f'lattice inconsistent for {w!r}'
        if z == 0:
            continue
        num = Counter()
        for i in range(n):
            for L in range(1, 5):
                p = w[i : i + L]
                if i + L <= n and p in q:
                    num[p] += a[i] * q[p] * SC ** (L - 1) * b[n - i - L]
        for p, nm in num.items():
            ec[p] += c * ((nm * UNIGRAM_SOFT_ECS) // z)
        # Viterbi path (same q) for the soft-vs-hard distinction check
        dp = {0: (1, '')}
        for j in range(1, n + 1):
            best = None
            for L in range(1, min(4, j) + 1):
                p = w[j - L : j]
                if p in q and (j - L) in dp:
                    v, tk = dp[j - L]
                    cand = (
                        v * q[p] * SC ** (L - 1),
                        (tk + ' ' + p) if tk else p,
                    )
                    if best is None or (-cand[0], cand[1]) < (
                        -best[0],
                        best[1],
                    ):
                        best = cand
            dp[j] = best
        viterbi_used.update(dp[n][1].split(' '))

    vec = {p: ec.get(p, 0) for p in q}
    multi = sorted((e, p) for p, e in vec.items() if len(p) > 1)
    n_drop = len(multi) * UNIGRAM_PRUNE_PCT // 100
    dropped = {p for _, p in multi[:n_drop]}
    keptv = {p: e for p, e in vec.items() if len(p) == 1 or p not in dropped}
    d2 = sum(keptv.values())
    expected = {
        p: (e, (e * UNIGRAM_PROB_SCALE) // d2) for p, e in keptv.items()
    }

    got = {
        r.piece: (r.ec, r.q)
        for r in queries()['text_unigram_train_soft'](spark, SF_DIR).collect()
    }
    assert got == expected
    assert n_drop > 0, 'no piece pruned — the round proves nothing'
    off_path = {p for p, e in vec.items() if e > 0} - viterbi_used
    assert off_path, 'soft mass never left the Viterbi paths — not soft EM'
