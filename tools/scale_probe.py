"""Empirical scaling probe: time representative operators across the three
fixture scale factors and report the growth exponent.

Each SF (sf0.001, sf0.01, sf0.1 in turn) gets one ``bench.time_queries``
call with one pass: a whole-list warm-up at sf0.001, then one whole-list
noop-sink pass at that SF. The growth exponent
alpha = log10(t_sf0.1 / t_sf0.01) is the slope of log(t) vs log(rows) over
the last 10x data step. alpha ~ 1 means linear scaling (shuffle- or
scan-bound as designed); alpha >> 1 flags a shape that would not survive
100 TB. A run over the default probe list rewrites SCALING.md; a run over
named queries only prints its table.

Fixed overhead (JVM, planning, stream startup) dominates small SFs, so the
exponent uses the sf0.01 -> sf0.1 step only; the smaller SFs are reported
for context. This is the measured companion to SCALE.md's design audit.

Usage: python tools/scale_probe.py [query ...]
"""

from __future__ import annotations

import math
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

# Representative heavy/structural operators, one per family.
PROBES = [
    "q1_pricing_summary",        # scan-filter-agg
    "q9_product_profit",         # multi-join enriched agg
    "q21_waiting_supplier",      # semi/anti self-joins
    "q_window_top_orders",       # window rank
    "q_sessionize",              # event-time gaps-and-islands
    "dedup_exact",               # hash groupBy
    "dedup_minhash_lsh",         # banded LSH + verify
    "dedup_ngram_jaccard",       # PPJoin prefix filter
    "ann_topk_bruteforce",       # broadcast brute force
    "ann_topk_gemm",             # Arrow GEMM
    "ann_ivf",                   # coarse-quantized ANN
    "cluster_kmeans_fixed",      # iterative Lloyd
    "text_cooccurrence_pairs",   # df-banded pair explosion
    "text_search_and_rank",      # inverted-index retrieval
    "q_market_basket_pairs",     # bounded self-join mining
    "graph_link_prediction",     # wedge join + anti
    "cluster_stability_rand",    # decimal pair-count Rand/ARI fold
    "corpus_ablation_grid",      # CUBE expand
    "ts_downsample_lttb",        # bucketed downsampling
    "q_encoding_stats",          # global-sort window (oracle baseline)
    "q_encoding_stats_sharded",  # per-shard windows (production form)
    "ml_knn_classifier_eval",    # GEMM-scored k-NN eval
    "q_weighted_median",         # two-phase bucketed order statistic
    "emb_bitpack_hamming_topk",  # XOR+popcount binary-code retrieval
    "emb_cosine_histogram",      # congruence-sampled pair geometry
    "text_bm25_topk",            # inverted-index BM25
    "text_bigram_lm_score",      # bigram-count fluency join
    "ann_two_stage_rerank",      # code shortlist + exact re-rank
    "ann_multiprobe_lsh",        # Hamming-1 bucket probes
    "ann_ivf_nprobe_recall",     # IVF tuning curve (2 corpus scans)
    "emb_cka_alignment",         # one-pass centered cross-Gram fold
    "q_compaction_plan",         # metadata-ledger bin packing
    "q_interval_overlap_join",   # binned range self-join
    "graph_ktruss",              # per-round triangle support peel
    "text_kneser_ney_bigram",    # KN marginals: 3 partial-agg shuffles
    "q_skyline_grouped",         # banded two-phase prefix max
    "corpus_curriculum_schedule",# two-phase global rank
    "q_bitemporal_asof",         # tx gate + carry-forward window
    "q_attribution_linear",      # bounded range join + remainder split
    "ts_cross_correlation",      # lead-lag array fold
    "dedup_lsh_tuning_curve",    # 3-config banded joins
    "q_join_skew_audit",         # key-skew partial agg
    "q_zorder_skipping",         # layout advisor aggregates
    "graph_kcore",               # iterative peeling
    "text_bpe_pair_merges",      # char-pair explode
    "q_ks_drift",                # distinct-value CDF window
    "ts_mad_outliers",           # double order-statistic
    "q_table_checksum",          # map-side fingerprint sums
    "q_ingest_quarantine",       # corrupt-record parse split
    "dedup_dup_spans",           # positional window-hash df + islands
    "text_cdc_chunks",           # rolling-hash chunking + chunk-df window
    "q_ivm_agg_retract",         # signed-delta partial-agg merge (IVM)
    "q_bucketed_agg",            # exchange-free bucketed aggregate
    "q_bucketed_reuse",          # second consumer of the bucketed layout
    "dedup_dup_spans_removal",   # ExactSubstr cut + first-occurrence keep
    "streaming_exactly_once_sink",  # txn-ledger foreachBatch replay
    "quality_gopher_rules",      # in-row rule battery + source agg
    "emb_isotropy_score",        # d-keyed quantized moment fold
    "corpus_soft_dedup_weights", # shingle-df inverted-index reweight
    "q_deletion_vectors",        # broadcast position-mask scan
    "dedup_bbit_minhash",        # 2-bit signature estimator audit
    "ts_sax_symbols",            # equi-depth symbolization words
    "cluster_kcenter_greedy",    # K broadcast scans, zero corpus shuffles
    "graph_hyperball_nf",        # KMV register merge per round
    "ml_calibration_bins",       # scored pass + 10-key agg (rows-only op)
    "quality_gopher_repetition", # in-row chunk/gram gen + doc-keyed aggs
    "emb_abtt_postprocess",      # centered power rounds + dim-keyed collapse
    "ann_ivf_spill",             # closure-assignment postings + 1-probe recall
    "q_partition_evolution",     # per-spec manifest pruning, one scan + 2-key agg
    "quality_ccnet_buckets",     # LM-proxy scoring + per-lang ntile cut
    "ann_filtered_search",       # one scored pass, k'-fan-out recall curve
    "ts_holt_linear",            # per-series in-row recurrence fold
    "dedup_keep_best_quality",   # cluster-sized argmax ledger on dup_pairs
    "ml_isotonic_calibration",   # calibration bins + driver-side PAV
    "dedup_repeated_lines",      # line-string groupBy + join-back ledger
    "quality_fineweb_rules",     # pure map pass, in-row line battery
    "text_tokenizer_fertility",  # pair-vocab agg + map-pass merge scoring
    "graph_hits",                # integer max-norm power half-rounds
    "ts_changepoint_cusum",      # series-keyed running-window closed form
    "q_zorder_clustering",       # in-row Morton ids + manifest-key agg
    "emb_matryoshka_eval",       # broadcast-query scan, 4-dims fan-out
    "corpus_upsampling_epochs",  # per-source ledger + prefix-window greedy
    "emb_sq_recall",             # global-grid quantize + broadcast scan
    "text_bpe_multiround",       # vocab-ledger rounds + 1-row argmaxes
    "corpus_dsir_selection",     # gram-bucket ledger + broadcast rescore
    "corpus_unimax_budget",      # per-lang ledger waterfill windows
    "corpus_doremi_weights",     # domain-ledger DRO rounds
    "cluster_prototype_prune",   # broadcast argmin + histogram cut
    "text_readability_fk",       # in-row syllable scan, map pass
    "ts_matrix_profile_paa",     # per-series in-row O(M^2 L) profile
    "sketch_ddsketch_quantile",  # log-bucket histogram + ledger cum
    "emb_ood_mahalanobis",       # (label,dim) moment ledger + argmin
    "q_vacuum_eligibility",      # manifest-ledger retention audit
    "graph_resource_allocation", # map-side wedge explode + RA sum
    "corpus_split_leakage",      # dup_pairs x split broadcast joins
]


def main() -> None:
    spark, qs = bench.bench_session("scale-probe")
    names = [n for n in sys.argv[1:] or PROBES if n in qs]
    runs = [bench.time_queries(spark, qs, names, sf, 1) for sf in SFS]

    lines = [
        "# SCALING — measured growth exponents (generated by tools/scale_probe.py)",
        "",
        "Wall seconds at each fixture SF (10x rows per step), noop sink,",
        "shared warm JVM. `alpha` = log10(t_sf0.1 / t_sf0.01): the growth",
        "exponent over the last 10x step. alpha <= ~0.5 means fixed",
        "overhead still dominates; alpha ~ 1.0 is proportional (linear)",
        "scaling; alpha > 1.3 would flag a super-linear shape that needs a",
        "redesign before 100 TB. Exponents below ~1 extrapolate favorably:",
        "per-row cost FALLS as data grows into the fixed overhead.",
        "",
        "| query | sf0.001 s | sf0.01 s | sf0.1 s | alpha |",
        "|---|---|---|---|---|",
    ]
    for name in names:
        errs = [
            f"{os.path.basename(sf)} {run['errors'][name]}"
            for sf, run in zip(SFS, runs)
            if name in run["errors"]
        ]
        if errs:
            lines.append(f"| {name} | — | — | — | ERROR: {errs[0][:120]} |")
            continue
        t0, t1, t2 = (run["queries"][name] for run in runs)
        alpha = math.log10(max(t2, 1e-3) / max(t1, 1e-3))
        lines.append(f"| {name} | {t0:.2f} | {t1:.2f} | {t2:.2f} | {alpha:.2f} |")
    out = "\n".join(lines) + "\n"
    if len(sys.argv) == 1:
        with open(os.path.join(ROOT, "SCALING.md"), "w") as fh:
            fh.write(out)
    print(out)


if __name__ == "__main__":
    main()
