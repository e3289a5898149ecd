"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001 as a smoke check.
Each query module registers its queries once, in one ``QUERIES`` mapping
from a ``(spark, sf_dir) -> DataFrame`` callable to its DuckDB oracle SQL,
or to ``None`` for a rows-only query (ML model internals, count-triggered
batch boundaries; the entry's comment gives the reason). ``queries()``
names every callable by its ``__name__``; ``oracle_sql()`` keeps the
entries that have SQL, so the driver gives the others its rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    from kafka_pyspark_bigdata_spark.plans import relational

    return relational.q1_pricing_summary(spark, SF0001)


def _modules():
    # Registration order drives the driver's correctness sweep, which covers
    # only a prefix of the registry (~50 queries in round 2). Modules the
    # driver has never verified — and the families fixed this round — come
    # first; the relational/TPC-H core (driver-green in rounds 1 AND 2)
    # registers last.
    import importlib

    # Never-driver-verified families first (CORRECTNESS_r01/r02 covered
    # relational, advanced, tpch_extra, and the head of analytic): the
    # LLM-pipeline operator modules, then lakehouse/sources/streaming/ml,
    # then the already-twice-green families.
    return [importlib.import_module(modpath) for modpath in (
        "kafka_pyspark_bigdata_spark.operators.timeseries",
        "kafka_pyspark_bigdata_spark.plans.mining",
        "kafka_pyspark_bigdata_spark.operators.geo",
        "kafka_pyspark_bigdata_spark.plans.behavioral",
        "kafka_pyspark_bigdata_spark.operators.dedup",
        "kafka_pyspark_bigdata_spark.operators.similarity",
        "kafka_pyspark_bigdata_spark.operators.text",
        "kafka_pyspark_bigdata_spark.operators.quality",
        "kafka_pyspark_bigdata_spark.operators.multimodal",
        "kafka_pyspark_bigdata_spark.operators.pipeline",
        "kafka_pyspark_bigdata_spark.plans.lakehouse",
        "kafka_pyspark_bigdata_spark.sources.queries",
        "kafka_pyspark_bigdata_spark.streaming.queries",
        "kafka_pyspark_bigdata_spark.ml.queries",
        "kafka_pyspark_bigdata_spark.plans.analytic",
        "kafka_pyspark_bigdata_spark.plans.advanced",
        "kafka_pyspark_bigdata_spark.plans.relational",
        "kafka_pyspark_bigdata_spark.plans.tpch_extra",
    )]


# Round-13 rotation (optimization round 2). No new queries (registry
# stays 372 = 357 oracle-backed + 15 rows-only). Per the r12 ADVICE
# rule — prioritize names whose PLAN changed in the round so the
# driver independently re-checks optimization rewrites — the ~50-name
# window is spent on: (1) the 14 queries whose physical plan this
# round's rewrites changed (gopher coverage in-row, LTTB argmax,
# encoding-stats split, fine-bucket quantile prunes, BPE checkpoint
# drop, sparse matrix-profile, LSH tuning collapse, co-occurrence id
# keys, basket collect_set, lazy-pin/in-row-totals pair, two
# TakeOrdered rewrites); (2) corpus_split_leakage, which no driver
# sample has ever covered (computed from CORRECTNESS_r01..r12); then
# (3) re-verification depth by staleness: the 15-name r03 remainder
# the r12 rotation rolled forward, then the head of the r04 cohort in
# name order (the rest of r04 rolls to the next round).
_PRIORITY = [
    # -- plan changed in r13 (14) --
    "quality_gopher_repetition",
    "ts_downsample_lttb",
    "q_encoding_stats_sharded",
    "q_weighted_median",
    "sketch_gk_quantile_eval",
    "text_bpe_multiround",
    "ts_matrix_profile_paa",
    "dedup_lsh_tuning_curve",
    "text_cooccurrence_pairs",
    "q_market_basket_pairs",
    "dedup_shingle_coverage",
    "corpus_ngram_novelty",
    "text_keyphrase_rake",
    "ts_similarity_paa",
    # -- never in any driver sample (1) --
    "corpus_split_leakage",
    # -- oldest driver checks: the r03 remainder (15) --
    "q_recursive_bom",
    "q_seq_pattern_match",
    "q_sessionize",
    "q_sql_udf_pricing",
    "q_table_checksum",
    "q_variant_shred",
    "q_zorder_skipping",
    "streaming_checkpoint_resume",
    "streaming_dedup_within_watermark",
    "streaming_rocksdb_agg",
    "streaming_stream_join",
    "streaming_watermark_lates",
    "text_chunk_udtf",
    "text_search_and_rank",
    "text_simpson_diversity",
    # -- next-oldest: last verified in r04, head in name order (20) --
    "ann_two_stage_rerank",
    "corpus_dup_source_matrix",
    "corpus_shard_manifest",
    "corpus_survivorship",
    "corpus_temperature_sampling",
    "dedup_containment",
    "dedup_incremental_minhash",
    "emb_bitpack_hamming_topk",
    "emb_bitpack_recall_eval",
    "emb_gram_matrix",
    "emb_knn_outlier_score",
    "emb_pca_power_iter",
    "emb_rank_correlation",
    "geo_knn_join",
    "q_chi2_independence",
    "q_click_no_purchase",
    "q_compact_small_files",
    "q_cumulative_distinct_users",
    "q_dpp_prune",
    "q_event_transition_matrix",
]


def _ordered(raw: dict) -> dict:
    out = {k: raw[k] for k in _PRIORITY if k in raw}
    out.update(raw)
    return out


def _registered() -> dict:
    out: dict = {}
    for mod in _modules():
        out.update(mod.QUERIES)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered({fn.__name__: fn for fn in _registered()})


def oracle_sql() -> dict[str, str]:
    return _ordered(
        {fn.__name__: sql for fn, sql in _registered().items() if sql is not None}
    )
