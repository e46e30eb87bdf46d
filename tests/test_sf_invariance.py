"""Oracle exactness of the query registry, checked on every CI run.

Every registered query is checked against its DuckDB oracle at sf0.001.
Exactness failures that only appear at larger row counts (decimal-cast
rounding ties, double accumulation order, RANGE-frame boundaries at denser
timestamps) never show up there, so the SF-trap classes below are
re-proved at sf0.01 AND sf0.1 as well. Each case goes through
``oracle_check.check_query``, the same function the manual sweep
(``python tests/oracle_check.py <sf_dir>``) uses, so the two cannot
disagree.
"""

import importlib.util
import os

import pytest

from cyclebane_spark.queries import registry

_spec = importlib.util.spec_from_file_location(
    'oracle_check', os.path.join(os.path.dirname(__file__), 'oracle_check.py')
)
oracle_check = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_check)

# The SF-trap classes (one representative each):
QUERIES = (
    'graph_param_sweep_broadcast',  # chained decimal reduces (r1 ulp trap)
    'stats_exact_moments',          # double->decimal cast near rounding ties
    'window_range_frame_trailing',  # RANGE frame boundaries at denser ts
    'text_tfidf_top_terms',         # log() doubles + rank ties
    'text_zscore_by_lang',          # variance via exact integer moments
    'percentile_exact',             # even-count interpolation of doubles
    'q1_pricing_summary',           # core decimal aggregation
    'dedup_minhash_lsh',            # md5 signature volume
    'ann_ivf_kmeans_topk',          # quantized k-means: denser clusters
    'text_gopher_repetition',       # gram-count ratios at longer docs
    'approx_percentile_bounds',     # sketch rank bounds at larger n
    'pipeline_clean_corpus',        # composed gate/decon/dedup chain
    'text_span_dedup',              # global argmin ties + reassembly order
    'ann_pq_adc_topk',              # ADC distance ties at denser corpora
    'text_packing_two_level',       # remainder-merge cumsum at more shards
    'q11_important_parts',          # threshold compare near ties at scale
    # round-4 additions whose constants interact with corpus size
    'text_pmi_cooccurrence',        # df floor + lift ties at denser vocab
    'text_vocab_coverage',          # top-V vocab cutoff ties at scale
    'pipeline_tokenize_to_ids',     # vocab-rank ties -> id assignment
    'events_value_histogram',       # bin-edge arithmetic at denser values
    'events_interarrival_stats',    # gap microsecond sums at more events
    'q17_small_quantity_revenue',   # 0.2x-avg threshold compare near ties
    'events_feature_lags',          # decimal rolling frames at denser days
    'dedup_semantic_kmeans',        # quantized cell distances at denser cells
    # late round-4 additions with corpus-wide models / rank ties
    'text_bigram_lm_score',         # LM counts + integer-div scores at scale
    'dedup_tf_cosine_pairs',        # cos^2 top-k ties at denser term overlap
    'pipeline_rrf_fusion',          # fused-rank ties across two lists
    'multimodal_phash_dedup',       # hamming-radius ties at denser corpora
    'ann_hard_negatives',           # rounded-cosine rank ties at denser corpora
    'sketch_cms_frequency',         # collision mass shifts with vocab density
    # round-5 additions: two-stage rank ties + md5-keyed sampling ranks
    'ann_ivf_matryoshka_topk',      # prefix-rank funnel cutoff ties at density
    'ann_ivf_incremental_assign',   # held-out quantizer vs denser batch
    'pipeline_cluster_balanced_sample',  # md5-rank cap-K ties at bigger clusters
    'stream_near_dup_filter',       # band-collision volume at denser corpora
    # round-6 addition
    'ann_ivf_drift_gate',           # integer TVD flag near threshold at density
    # round-7 additions
    'ann_ivf_merge',                # pairing ties + weighted floors at density
    'pipeline_corpus_build',        # quality-gate 0.5 compare + bin cumsum
    # round-8 additions
    'graph_branch_graft_sweep',     # decimal sweep multiply at denser items
    'text_bpe_apply',               # merge-argmax ties shift with density
    'stream_late_backfill_merge',   # reconciliation across denser windows
    'ann_ivf_persisted_topk',       # cell sizes / DPP probe at density
    # round-9 additions
    'stream_ivf_ingest',            # batch split / cell assignment at density
    'text_html_extract',            # density/length cutoffs at longer docs
    'text_wordpiece_apply',         # top-20 vocab cutoff ties at density
    'text_unigram_segment',         # quantized-prob Viterbi ties at density
    # round-10 additions
    'dedup_exact_substr',           # run-merge island boundaries at density
    'text_unigram_train_step',      # prune-rank ties + requantize at density
    # round-11 additions
    'dedup_tf_cosine_capped',       # cold-term cos^2 top-k ties at density
    'pipeline_exact_substr_cut',    # cut-interval unions at denser matches
    'text_unigram_train_soft',      # lattice posteriors + prune at density
    'dedup_exact_substr_incremental',  # cross-role run density at scale
)

SFS = ('/root/testdata/sf0.01', '/root/testdata/sf0.1')
SF0001 = os.path.join(os.path.dirname(SFS[0]), 'sf0.001')

# The SF-trap classes at the two larger scale factors, plus every
# registered query at sf0.001.
CASES = [
    *((name, sf_dir) for name in QUERIES for sf_dir in SFS),
    *((name, SF0001) for name in registry()),
]


@pytest.mark.parametrize(
    ('name', 'sf_dir'),
    [pytest.param(name, sf_dir, id=f'{name}-{os.path.basename(sf_dir)}') for name, sf_dir in CASES],
)
def test_oracle_exact_across_sfs(spark, sf_dir, name):
    with oracle_check.connect(sf_dir) as con:
        status, detail = oracle_check.check_query(spark, con, registry()[name], sf_dir)
    assert status == 'ok', f'{name}@{sf_dir}: {status} {detail}'
