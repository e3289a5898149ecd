"""Corpus-pipeline operators: deterministic sampling, train/eval splits,
eval decontamination, corpus term statistics, and sequence packing — the
bookkeeping half of an LLM training-data pipeline (the dedup/similarity
half lives in operators.dedup / operators.similarity).

Everything is hash-deterministic (md5 of the stable doc_id, never rand()):
a sample or split must be reproducible across runs, engines, and cluster
sizes, so the sampling key is content-addressed — the same property the
dedup operators rely on. All operators are pure `pyspark.sql.functions`
expression trees (zero Python UDFs) with value-exact DuckDB oracles.

Scale notes per operator are on the functions; the common pattern is
narrow projection → (optionally) one key shuffle, nothing quadratic.

Token, bigram and stopword rules come from ``operators.text``
(``with_tokens``, ``token_rows``, ``bigrams_expr``, ``stop_count``,
``sql_list``), Gopher's word rules from ``quality.gopher_word_rules``,
and the md5 hex-prefix integer from ``functions.numeric.md5_int``. Two
skeletons shared by queries here have one home each: ``size_rank0``
(the two-phase global size rank) and ``source_weight`` (the per-source
mixture weight). A zero-token document contributes 0 tokens to every
token total here and is never divided by.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.numeric import md5_int
from ..sources.batch import load_table
from .dedup import (
    MINHASH_VERIFY_THRESHOLD,
    SHINGLES_CTE,
    _minhash_ctes,
    dup_pairs,
    with_shingles,
)
from .quality import (
    _GOPHER_STOP_SQL,
    GOPHER_MAX_WORDS,
    GOPHER_MIN_WORDS,
    GOPHER_STOPWORDS,
    gopher_word_rules,
)
from .text import (
    EN_STOPWORDS,
    NORMALIZED_SQL,
    _STOP_SQL,
    TOKENS_SQL,
    bigrams_expr,
    load_documents,
    normalized_text_expr,
    sql_list,
    stop_count,
    token_rows,
    tokens_expr,
    with_tokens,
)

SAMPLE_BUCKETS = 10          # hash space for sampling/splits
TRAIN_BUCKETS = 8            # buckets 0-7 → train, 8-9 → eval (80/20)
PACK_CAPACITY = 2048         # tokens per packed sequence
TOPK_TERMS = 50


def hash_bucket_expr(col: str = "doc_id", buckets: int = SAMPLE_BUCKETS) -> Column:
    """Deterministic bucket in [0, buckets): first 4 hex chars of
    md5(CAST(id AS string)) mod buckets. Stable across engines, runs and
    partitionings — the content-addressed alternative to rand() sampling."""
    return (md5_int(col, 4) % buckets).cast("int")


def _bucket_sql(col: str = "doc_id", buckets: int = SAMPLE_BUCKETS) -> str:
    return (
        f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 4))::BIGINT"
        f" % {buckets} AS INTEGER)"
    )


def corpus_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample (bucket 0 of 10). A pure scan
    filter — the predicate is computable from the row alone, so at 100 TB
    this is a map-side pass with no shuffle and no coordination, unlike
    rand()-based sampling which is neither reproducible nor stratifiable."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("bucket", hash_bucket_expr())
        .filter(F.col("bucket") == 0)
        .select("doc_id", "source", "lang", "bucket")
        .orderBy("doc_id")
    )


CORPUS_SAMPLE_SQL = f"""
SELECT doc_id, source, lang, {_bucket_sql()} AS bucket
FROM documents
WHERE {_bucket_sql()} = 0
ORDER BY doc_id
"""


STRATIFIED_K = 20  # docs kept per source stratum


def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: exactly K documents PER SOURCE, selected by
    hash order (md5 of doc_id) — the deterministic equivalent of a
    per-stratum uniform draw, reproducible across engines and runs.

    Plan: one shuffle on ``source`` + a per-group top-K window. K is
    small and fixed, so even a hot stratum only streams through one
    reducer heap; for huge K the two-phase per-partition pre-top-K
    variant applies, but per-stratum sample sizes are sampling knobs,
    not data-sized."""
    docs = load_table(spark, sf_dir, "documents")
    hkey = F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8"))
    w = Window.partitionBy("source").orderBy(hkey.asc(), F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= STRATIFIED_K)
        .select("doc_id", "source", F.col("rn").alias("sample_rank"))
        .orderBy("source", "sample_rank")
    )


CORPUS_STRATIFIED_SQL = f"""
SELECT doc_id, source, CAST(rn AS INTEGER) AS sample_rank
FROM (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
WHERE rn <= {STRATIFIED_K}
ORDER BY source, sample_rank
"""


def corpus_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based 80/20 train/eval split with per-(split, source) counts —
    the stratification report every dataset card needs. One partial-agg
    shuffle over (split, source)."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        hash_bucket_expr() < TRAIN_BUCKETS, F.lit("train")
    ).otherwise(F.lit("eval"))
    return (
        docs.select(split.alias("split"), "source")
        .groupBy("split", "source")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "source")
    )


CORPUS_SPLIT_SQL = f"""
SELECT CASE WHEN {_bucket_sql()} < {TRAIN_BUCKETS} THEN 'train' ELSE 'eval' END AS split,
       source, COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
ORDER BY split, source
"""


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination by n-gram overlap (the public GPT-2/GPT-3
    style filter): a TRAIN document is contaminated if it shares any
    word-3-gram shingle with any EVAL document. Candidates come from the
    inverted-index equi-join on the shingle — never a doc×doc product; at
    scale the eval shingle set (benchmarks, ~millions of shingles) is
    broadcast so the corpus-side pass is map-side only. Returns the
    contaminated train docs with their overlap size."""
    sh = with_shingles(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "shingles", hash_bucket_expr().alias("bucket")
    )
    train = sh.filter(F.col("bucket") < TRAIN_BUCKETS).select(
        "doc_id", F.explode("shingles").alias("s")
    )
    eval_sh = (
        sh.filter(F.col("bucket") >= TRAIN_BUCKETS)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    return (
        train.join(F.broadcast(eval_sh), "s")
        .groupBy(F.col("doc_id").alias("train_doc_id"))
        .agg(F.countDistinct("s").alias("n_shared_shingles"))
        .orderBy("train_doc_id")
    )


TEXT_DECONTAMINATE_SQL = f"""
WITH {SHINGLES_CTE},
b AS (SELECT doc_id, shingles, {_bucket_sql()} AS bucket FROM sh),
train AS (
  SELECT doc_id, UNNEST(shingles) AS s FROM b WHERE bucket < {TRAIN_BUCKETS}
),
eval_sh AS (
  SELECT DISTINCT UNNEST(shingles) AS s FROM b WHERE bucket >= {TRAIN_BUCKETS}
)
SELECT doc_id AS train_doc_id, COUNT(DISTINCT s) AS n_shared_shingles
FROM train JOIN eval_sh USING (s)
GROUP BY doc_id
ORDER BY train_doc_id
"""


def text_topk_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-50 terms by tf·idf. idf uses the rational form
    N/df instead of ln(N/df): the ranking is order-isomorphic for fixed N
    and the value avoids cross-engine libm ulp drift (exact integer ops +
    one double multiply/divide). Term stats are ONE explode + partial-agg
    pass; the scalar N is a broadcast one-row join; top-k is TakeOrdered."""
    docs = load_table(spark, sf_dir, "documents")
    terms = token_rows(docs, "doc_id", alias="term").filter(
        ~F.col("term").isin(*EN_STOPWORDS)
    )
    stats = terms.groupBy("term").agg(
        F.count("*").alias("tf"), F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    score = (F.col("tf").cast("double") * F.col("n_docs")) / F.col("df")
    return (
        stats.crossJoin(F.broadcast(n_docs))
        .select("term", "tf", "df", score.alias("tfidf_score"))
        .orderBy(F.desc("tfidf_score"), "term")
        .limit(TOPK_TERMS)
    )


TEXT_TOPK_TERMS_SQL = f"""
WITH tok AS (SELECT doc_id, {TOKENS_SQL} AS toks FROM documents),
t AS (
  SELECT doc_id, UNNEST(toks) AS term FROM tok
),
f AS (SELECT doc_id, term FROM t WHERE term NOT IN ({_STOP_SQL})),
stats AS (
  SELECT term, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df FROM f GROUP BY term
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term, tf, df, CAST(tf AS DOUBLE) * n_docs / df AS tfidf_score
FROM stats, n
ORDER BY tfidf_score DESC, term
LIMIT {TOPK_TERMS}
"""


def corpus_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-capacity token bins by
    running-sum chunking within each source (concatenate-then-chunk — how
    LLM pretraining actually fills context windows). The running sum is an
    integer window aggregate per source: ONE shuffle on the source key,
    then a linear per-key pass; no global ordering bottleneck."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens_expr()).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        docs.withColumn(
            "pack_id", (cum_before / PACK_CAPACITY).cast("int")
        )
        .select("doc_id", "source", "n_tokens", "pack_id")
        .orderBy("doc_id")
    )


CORPUS_PACK_SQL = f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len({TOKENS_SQL}) AS INTEGER) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS cum_before
  FROM tok
)
SELECT doc_id, source, n_tokens,
       CAST(cum_before // {PACK_CAPACITY} AS INTEGER) AS pack_id
FROM c ORDER BY doc_id
"""


def corpus_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: keep a source-specific fraction of each
    source's documents (bucket < rate), deterministically. The per-source
    rate is the mixture recipe — here derived from the fixture's source id
    (``srcN`` → rate 1 + N mod 9 out of 10; a real pipeline supplies a
    rate table the same way, broadcast or inlined). The mixing decision is
    computable row-locally, so remixing 100 TB is a single map-side scan
    and the kept set is stable across runs (a re-run adds/removes
    nothing). Returns per-source kept/total/rate."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "bucket", hash_bucket_expr()
    )
    return (
        docs.withColumn("rate", source_weight().cast("int"))
        .groupBy("source", "rate")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("bucket") < F.col("rate"), 1)).alias("n_kept"),
        )
        .orderBy("source")
    )


def source_weight() -> Column:
    """The fixture's per-source mixture weight: 1 + (N mod 9) for source
    ``srcN`` (a real pipeline joins a weight table instead)."""
    return F.lit(1) + F.pmod(F.substring("source", 4, 10).try_cast("int"), F.lit(9))


_MIX_RATE_SQL = "CAST(1 + CAST(substr(source, 4) AS INTEGER) % 9 AS INTEGER)"

CORPUS_MIX_SQL = f"""
SELECT source, {_MIX_RATE_SQL} AS rate,
       COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE {_bucket_sql()} < {_MIX_RATE_SQL}) AS n_kept
FROM documents
GROUP BY source
ORDER BY source
"""


PREP_MIN_CHARS = 100
PREP_MIN_TOKS = 20


def corpus_preprocess_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standard corpus-preprocessing chain as ONE composed plan —
    quality gate → exact dedup (keep lowest doc_id) → per-(lang, source)
    accounting — proving the operators compose without materialization
    barriers between stages.

    Stages stay in a single lineage: the quality gate is a projection
    (flag, no shuffle), the dedup rank is one window over the
    fingerprint (the md5 shuffle exact-dedup always pays), and the
    accounting is one partial-agg shuffle on the tiny (lang, source)
    key. Catalyst pipelines the flags through — a doc is scanned ONCE
    end to end, which is the point: at 100 TB, every materialized
    intermediate between pipeline stages is a full-corpus write."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens_expr()).alias("n_toks"),
        (
            (F.col("n_chars") >= PREP_MIN_CHARS)
            & (F.size(tokens_expr()) >= PREP_MIN_TOKS)
        ).alias("pass_quality"),
        F.md5(F.encode(normalized_text_expr(), "UTF-8")).alias("fp"),
    )
    # dedup ranks among quality SURVIVORS only, so pass_quality joins the
    # window partition key — a failed doc must not shadow a passing dup.
    w2 = Window.partitionBy("fp", "pass_quality").orderBy("doc_id")
    ranked = flagged.withColumn("dup_rank", F.row_number().over(w2))
    kept = F.col("pass_quality") & (F.col("dup_rank") == 1)
    return (
        ranked.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(~F.col("pass_quality"), 1).otherwise(0)).alias(
                "n_quality_fail"
            ),
            F.sum(
                F.when(F.col("pass_quality") & (F.col("dup_rank") > 1), 1).otherwise(0)
            ).alias("n_dups_removed"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_toks")).otherwise(0)).alias("toks_kept"),
        )
        .orderBy("lang", "source")
    )


CORPUS_PREP_SQL = f"""
WITH flagged AS (
  SELECT doc_id, lang, source,
         len({TOKENS_SQL}) AS n_toks,
         (n_chars >= {PREP_MIN_CHARS}
          AND len({TOKENS_SQL}) >= {PREP_MIN_TOKS}) AS pass_quality,
         md5({NORMALIZED_SQL}) AS fp
  FROM documents
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY fp, pass_quality ORDER BY doc_id
  ) AS dup_rank
  FROM flagged
)
SELECT lang, source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN NOT pass_quality THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality_fail,
       CAST(SUM(CASE WHEN pass_quality AND dup_rank > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dups_removed,
       CAST(SUM(CASE WHEN pass_quality AND dup_rank = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN pass_quality AND dup_rank = 1 THEN n_toks ELSE 0 END) AS BIGINT)
         AS toks_kept
FROM ranked GROUP BY lang, source ORDER BY lang, source
"""


TOKEN_BUDGET = 1_000_000  # target training-mix size in tokens


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: given per-source token inventories
    and mixture weights (the recipe — derived here from the source id the
    same deterministic way `corpus_mix_weighted` does; a real pipeline
    broadcasts a weight table), compute each source's token TARGET under
    a fixed total budget and the repeat factor (epochs, ppm) needed to
    hit it — the "how many passes over CC vs books vs code" planning step
    every LLM data recipe starts from (cf. the sampling-proportion tables
    in public LLM reports).

    Plan: one partial-agg shuffle collapses the corpus to |sources| rows;
    the weight total enters as a broadcast 1-row aggregate; everything
    after is arithmetic on the tiny dimension. All integers (targets via
    BIGINT DIV, epochs in ppm) — engine-exact."""
    docs = with_tokens(load_table(spark, sf_dir, "documents"))
    per_src = (
        docs.select("source", F.size("toks").alias("n_toks"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("toks_have"))
        .withColumn("weight", source_weight().cast("long"))
    )
    wtot = per_src.agg(F.sum("weight").alias("w_total"))
    return (
        per_src.crossJoin(F.broadcast(wtot))
        .select(
            "source",
            "n_docs",
            "toks_have",
            "weight",
            F.expr(f"weight * {TOKEN_BUDGET} DIV w_total").alias("toks_target"),
            # NULL, as in DuckDB, for a source of only zero-token docs
            F.expr(
                f"(weight * {TOKEN_BUDGET} DIV w_total) * 1000000"
                " DIV nullif(toks_have, 0)"
            ).alias("epochs_ppm"),
        )
        .orderBy("source")
    )


CORPUS_TOKEN_BUDGET_SQL = f"""
WITH tok AS (
  SELECT source, len({TOKENS_SQL}) AS n_toks FROM documents
),
per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_toks) AS BIGINT) AS toks_have,
         CAST(1 + CAST(substr(source, 4, 10) AS INTEGER) % 9 AS BIGINT)
           AS weight
  FROM tok GROUP BY source
),
wtot AS (SELECT SUM(weight) AS w_total FROM per_src)
SELECT source, n_docs, toks_have, weight,
       CAST(weight * {TOKEN_BUDGET} // w_total AS BIGINT) AS toks_target,
       CAST((weight * {TOKEN_BUDGET} // w_total) * 1000000 // toks_have
            AS BIGINT) AS epochs_ppm
FROM per_src CROSS JOIN wtot
ORDER BY source
"""


LENGTH_CUTOFFS = (0, 50, 100, 200, 400, 800, 1600, 3200)


def corpus_length_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-filter survival curve: for each candidate min-length cutoff,
    how many documents and characters survive `n_chars >= cutoff` — the
    threshold-tuning table behind every "drop short docs" decision (C4
    drops <3-sentence pages; picking the cutoff IS this query). Reported
    absolute and in ppm of the corpus.

    Plan: one scan with a FIXED |cutoffs|× explode fan-out (not
    data-dependent), straight into a partial agg on the tiny cutoff key;
    corpus totals ride the same pass as cutoff 0's row. At 100 TB this
    is exactly one map-side-combined aggregation."""
    cuts = F.array(*[F.lit(c) for c in LENGTH_CUTOFFS])
    docs = load_table(spark, sf_dir, "documents").select("n_chars")
    per_cut = (
        docs.select(
            F.explode(cuts).alias("cutoff"),
            "n_chars",
        )
        .filter(F.col("n_chars") >= F.col("cutoff"))
        .groupBy("cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_chars").alias("n_chars_kept"),
        )
    )
    total = docs.agg(
        F.count(F.lit(1)).alias("t_docs"), F.sum("n_chars").alias("t_chars")
    )
    return (
        per_cut.crossJoin(F.broadcast(total))
        .select(
            "cutoff",
            "n_docs_kept",
            "n_chars_kept",
            F.expr("n_docs_kept * 1000000 DIV t_docs").alias("docs_ppm"),
            # char totals at 100 TB (~1e14) wrap a BIGINT·1e6 product —
            # run the ppm wide, re-narrow at the end
            F.expr(
                "CAST(CAST(n_chars_kept AS DECIMAL(38,0)) * 1000000"
                " DIV t_chars AS BIGINT)"
            ).alias("chars_ppm"),
        )
        .orderBy("cutoff")
    )


CORPUS_LENGTH_SURVIVAL_SQL = f"""
WITH cuts AS (SELECT UNNEST({list(LENGTH_CUTOFFS)}) AS cutoff),
per_cut AS (
  SELECT cutoff, COUNT(*) AS n_docs_kept,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_kept
  FROM documents JOIN cuts ON n_chars >= cutoff
  GROUP BY cutoff
),
tot AS (
  SELECT COUNT(*) AS t_docs, CAST(SUM(n_chars) AS BIGINT) AS t_chars
  FROM documents
)
SELECT cutoff, n_docs_kept, n_chars_kept,
       CAST(n_docs_kept * 1000000 // t_docs AS BIGINT) AS docs_ppm,
       CAST(CAST(n_chars_kept AS HUGEINT) * 1000000 // t_chars AS BIGINT) AS chars_ppm
FROM per_cut CROSS JOIN tot
ORDER BY cutoff
"""


CAP_PER_SOURCE = 30


def corpus_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain capping: keep at most {CAP_PER_SOURCE} documents per
    source, chosen by a DETERMINISTIC hash priority (md5 of the doc id)
    — the curation step that stops one crawled domain from dominating
    the training mix (the published C4/RefinedWeb pipelines cap or
    down-weight dominant hosts the same way).

    Hash priority beats rand(): reproducible across runs/partitionings,
    and the selection is a per-source top-k window — one shuffle keyed
    by source, per-group heap state, no global sort. Reported per
    source: kept/dropped and the priority cutoff actually used (the
    audit trail for "why was this doc dropped?").
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.encode(F.col("doc_id").cast("string"), "UTF-8")).alias("pri"),
    )
    w = Window.partitionBy("source").orderBy("pri", "doc_id")
    ranked = docs.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rk") <= CAP_PER_SOURCE).cast("int")).alias("n_kept"),
            F.sum((F.col("rk") > CAP_PER_SOURCE).cast("int")).alias("n_dropped"),
            F.max(F.when(F.col("rk") == CAP_PER_SOURCE, F.col("pri"))).alias(
                "cutoff_pri"
            ),
        )
        .orderBy("source")
    )


CORPUS_CAP_SQL = f"""
WITH ranked AS (
  SELECT source, doc_id, md5(CAST(doc_id AS VARCHAR)) AS pri,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk
  FROM documents
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rk <= {CAP_PER_SOURCE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN rk > {CAP_PER_SOURCE} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped,
       MAX(CASE WHEN rk = {CAP_PER_SOURCE} THEN pri END) AS cutoff_pri
FROM ranked GROUP BY source ORDER BY source
"""


N_SHARDS = 8


def size_rank0(docs: DataFrame, descending: bool = False) -> DataFrame:
    """``docs`` (with doc_id, n_chars) plus ``rank0``: each document's
    0-based global rank by (n_chars, doc_id), n_chars descending if
    asked — computed two-phase, with no single-task sort: bucket docs by
    ``n_chars DIV 64``, turn the tiny per-bucket count table into rank
    offsets with one cumulative window, and rank WITHIN each bucket (a
    bucket-partitioned window). Size ties cannot straddle a bucket
    boundary, so offset + in-bucket rank IS the global rank."""
    order = F.desc if descending else F.asc
    docs = docs.withColumn("b", F.expr("n_chars DIV 64"))
    per_b = docs.groupBy("b").agg(F.count(F.lit(1)).alias("bn"))
    wb = Window.orderBy(order("b")).rowsBetween(Window.unboundedPreceding, 0)
    offsets = per_b.select("b", (F.sum("bn").over(wb) - F.col("bn")).alias("roff"))
    win = Window.partitionBy("b").orderBy(order("n_chars"), "doc_id")
    return docs.join(F.broadcast(offsets), "b").withColumn(
        "rank0", F.col("roff") + F.row_number().over(win) - 1
    )


def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-balanced training-shard manifest: assign every document to
    one of {N_SHARDS} output shards so shard sizes come out nearly
    equal — the step that decides what each data-loader worker reads,
    where a size-skewed assignment becomes a straggler for the whole
    training job.

    Assignment is longest-processing-time-first round-robin: rank docs
    by size descending (ties by doc_id for determinism), shard =
    (rank−1) mod {N_SHARDS} — the classic greedy LPT approximation,
    here exactly expressible as one window + modulo. The audit reports
    per-shard doc counts, byte totals, and each shard's deviation from
    the ideal equal split in ppm; the complement of ``corpus_pack_greedy``
    (which packs a sequence dimension, not output files).

    Scale: the global (n_chars DESC, doc_id) rank is ``size_rank0``'s
    distributed two-phase rank, with no single-task sort anywhere.
    Everything after is a {N_SHARDS}-key aggregate. The manifest itself
    (doc → shard) stays distributed — this query returns only the
    audit."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    assigned = size_rank0(docs, descending=True).select(
        "doc_id", "n_chars", (F.col("rank0") % N_SHARDS).alias("shard")
    )
    shards = assigned.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("shard_chars"),
    )
    total = shards.agg(F.sum("shard_chars").alias("all_chars"))
    return (
        shards.crossJoin(F.broadcast(total))
        .select(
            "shard",
            "n_docs",
            "shard_chars",
            F.expr(
                f"shard_chars * {N_SHARDS} * 1000000 div all_chars - 1000000"
            ).alias("dev_ppm"),
        )
        .orderBy("shard")
    )


CORPUS_SHARD_SQL = f"""
WITH assigned AS (
  SELECT doc_id, n_chars,
         (ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1)
           % {N_SHARDS} AS shard
  FROM documents
),
shards AS (
  SELECT shard, COUNT(*) AS n_docs, SUM(n_chars) AS shard_chars
  FROM assigned GROUP BY shard
),
total AS (SELECT SUM(shard_chars) AS all_chars FROM shards)
SELECT shard, n_docs, CAST(shard_chars AS BIGINT) AS shard_chars,
       CAST(shard_chars * {N_SHARDS} * 1000000 // all_chars - 1000000
            AS BIGINT) AS dev_ppm
FROM shards, total ORDER BY shard
"""


IMP_HALF_PPM = 500_000  # an average-length doc keeps with p = 0.5


def corpus_importance_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOC-LEVEL importance sampling — the quality/length-weighted keep
    decision (the DCLM/quality-classifier resampling shape), made
    REPRODUCIBLE: each document's keep probability is proportional to
    its length relative to the corpus mean (capped at 1), and the
    "draw" is a content-addressed uniform — the first 5 hex digits of
    md5(doc_id), scaled 16⁵ → 10⁶ by exact integer arithmetic (a
    ``% 10⁶`` of a hex prefix would over-weight residues below the
    remainder by ~6% relative, since 16⁶ is not a multiple of 10⁶) —
    compared against that probability as exact
    integers. No rand(): the same doc gets the same verdict on any
    engine, run, or cluster size, which is what makes sampled corpora
    auditable. Complements ``corpus_temperature_sampling`` (source-level
    re-weighting) with the per-document rung.

    Output is the per-source audit: realized keep rate vs the expected
    rate (Σ keep_ppm), the check that the hash-uniform is behaving.
    Plan: 1-row mean broadcast, map-side verdicts, one partial agg per
    source — a single scan at any corpus size."""
    docs = load_documents(spark, sf_dir).select("doc_id", "source", "n_chars")
    mean = docs.agg(
        F.expr("CAST(SUM(n_chars) DIV COUNT(1) AS BIGINT)").alias("avg_chars")
    )
    scored = docs.crossJoin(F.broadcast(mean)).select(
        "source",
        F.expr(
            f"LEAST(CAST(1000000 AS BIGINT),"
            f" n_chars * {IMP_HALF_PPM} DIV avg_chars)"
        ).alias("keep_ppm"),
        # h·10⁶ DIV 2²⁰ as a shift: h is non-negative
        F.shiftright(md5_int("doc_id", 5) * 1000000, 20).alias("u_ppm"),
    )
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("u_ppm") < F.col("keep_ppm")).cast("long")).alias(
                "n_kept"
            ),
            F.expr("CAST(SUM(keep_ppm) DIV 1000000 AS BIGINT)").alias(
                "expected_kept"
            ),
        )
        .select(
            "source",
            "n_docs",
            "n_kept",
            "expected_kept",
            F.expr("n_kept * 1000000 DIV n_docs").alias("kept_ppm"),
        )
        .orderBy("source")
    )


CORPUS_IMPORTANCE_SQL = f"""
WITH mean AS (
  SELECT CAST(SUM(n_chars) // COUNT(*) AS BIGINT) AS avg_chars FROM documents
),
scored AS (
  SELECT source,
         LEAST(1000000::BIGINT, n_chars * {IMP_HALF_PPM} // avg_chars) AS keep_ppm,
         ('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT
           * 1000000 // 1048576 AS u_ppm
  FROM documents, mean
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN u_ppm < keep_ppm THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(keep_ppm) // 1000000 AS BIGINT) AS expected_kept,
       CAST(SUM(CASE WHEN u_ppm < keep_ppm THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS kept_ppm
FROM scored GROUP BY source ORDER BY source
"""


TEMP_SQRT_SCALE = 100_000_000  # fixed-point sqrt: 4 decimal digits


def corpus_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source re-weighting (the public multilingual
    sampling rule, α = 0.5: sample source s proportionally to p_s^α
    instead of p_s) — the knob that keeps a 100 TB corpus's long-tail
    sources from vanishing under proportional sampling. Reports, per
    source: document share, the α=0.5 sampling weight, and the
    up/down-sampling factor the weight implies.

    p_s^0.5 reduces to sqrt(n_s) (the corpus total cancels in the
    normalization), computed in FIXED POINT as floor(sqrt(n_s·10^8)) —
    the argument stays exactly double-representable, both engines'
    IEEE sqrt round identically, and every division after it is
    integer, so the output is engine-exact with no float accumulation
    (summing raw double sqrts across sources would be
    order-dependent). One partial-agg shuffle on ``source``, then
    arithmetic over a handful of rows; DECIMAL(38,0) keeps the factor
    numerator safe at warehouse row counts."""
    counts = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "s_fp",
            F.expr(
                f"CAST(FLOOR(SQRT(n_docs * CAST({TEMP_SQRT_SCALE} AS DOUBLE)))"
                " AS BIGINT)"
            ),
        )
    )
    totals = counts.agg(
        F.sum("n_docs").alias("n_total"), F.sum("s_fp").alias("s_total")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            F.expr("n_docs * 1000000 div n_total").alias("share_ppm"),
            F.expr("s_fp * 1000000 div s_total").alias("weight_ppm"),
            F.expr(
                "CAST(CAST(s_fp AS DECIMAL(38,0)) * n_total * 1000000"
                " div (CAST(s_total AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
            ).alias("factor_ppm"),
        )
        .orderBy("source")
    )


CORPUS_TEMPERATURE_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(FLOOR(SQRT(n_docs * CAST({TEMP_SQRT_SCALE} AS DOUBLE)))
              AS BIGINT) AS s_fp
  FROM documents GROUP BY source
),
totals AS (
  SELECT SUM(n_docs) AS n_total, SUM(s_fp) AS s_total FROM counts
)
SELECT source, n_docs,
       CAST(n_docs * 1000000 // n_total AS BIGINT) AS share_ppm,
       CAST(s_fp * 1000000 // s_total AS BIGINT) AS weight_ppm,
       CAST(CAST(s_fp AS HUGEINT) * n_total * 1000000
            // (CAST(s_total AS HUGEINT) * n_docs) AS BIGINT) AS factor_ppm
FROM counts, totals ORDER BY source
"""


# ---------------------------------------------------------------------------
# corpus_upsampling_epochs — data-constrained epoch allocation per source
# ---------------------------------------------------------------------------

UPS_MAX_EPOCHS = 4   # diminishing returns beyond ~4 epochs (Muennighoff 2023)
UPS_BUDGET_MULT = 2  # token budget = 2 x the corpus's one-epoch tokens


def corpus_upsampling_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-allocation planner for a data-constrained run (Muennighoff
    et al. 2023, public: repeating data is worth nearly as much as new
    data up to ~4 epochs, then value collapses — so a token budget
    beyond one epoch should buy REPEATS of the best sources, not more
    of everything). Every source gets its base epoch; the extra budget
    (here 1x corpus tokens, UPS_BUDGET_MULT=2) is spent in quality
    order by SLOT RESERVATION: each source in turn reserves its full
    3-extra-epoch slot while budget remains, the marginal source takes
    floor(remaining / tokens) whole epochs, everyone after takes none —
    a deterministic whole-epoch greedy whose prefix form is closed
    (extra_s = clamp((B − Σ_{{r<s}} 3·T_r) div T_s, 0, 3)), so both
    engines compute it with ONE prefix-sum window over the per-source
    aggregate rather than a sequential fold.

    The quality signal is the cheap two-rule Gopher subset (word count
    in [50, 100k] AND ≥2 function words — quality_gopher_rules'
    wordcount + stopwords rules) as a per-source pass ppm: integer,
    self-contained, and exactly what a planner has on hand after the
    gate pass.

    Scale shape: one documents scan with in-row gate flags → one
    |sources|-key partial agg → a prefix window and arithmetic over
    the handful of source rows (metadata scale). At 100 TB the plan is
    the same: the allocator's input is the per-source ledger, never
    the corpus."""
    docs = with_tokens(load_documents(spark, sf_dir))
    r_wordcount, r_stopwords = gopher_word_rules(
        F.size("toks"), stop_count(GOPHER_STOPWORDS)
    )
    per_doc = docs.select(
        "source", F.size("toks").alias("nw"), (r_wordcount & r_stopwords).alias("ok")
    )
    src = (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nw").cast("bigint").alias("tokens"),
            F.sum(F.col("ok").cast("bigint")).alias("n_pass"),
        )
        .withColumn("quality_ppm", F.expr("n_pass * 1000000 div n_docs"))
    )
    totals = src.agg(F.sum("tokens").alias("t_total"))
    w = (
        Window.orderBy(F.desc("quality_ppm"), F.asc("source"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    extra_cap = UPS_MAX_EPOCHS - 1
    alloc = (
        src.crossJoin(F.broadcast(totals))
        .withColumn(
            "pre",
            F.coalesce(
                F.sum(F.expr(f"{extra_cap} * tokens")).over(w),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn(
            # greatest(tokens, 1): a source of only zero-token documents
            # must take 0 extra epochs, not divide by zero.
            "extra",
            F.expr(
                f"greatest(CAST(0 AS BIGINT), least(CAST({extra_cap} AS"
                f" BIGINT), (t_total * {UPS_BUDGET_MULT - 1} - pre)"
                f" div greatest(tokens, 1)))"
            ),
        )
    )
    return alloc.select(
        "source",
        "n_docs",
        "quality_ppm",
        "tokens",
        F.expr("CAST(1 + extra AS INT)").alias("epochs"),
        F.expr("(1 + extra) * tokens").alias("tokens_contributed"),
        F.expr(
            f"(1 + extra) * tokens * 1000000"
            f" div greatest(t_total * {UPS_BUDGET_MULT}, 1)"
        ).alias("budget_share_ppm"),
    ).orderBy("source")


def _upsampling_sql() -> str:
    return f"""
WITH tok AS (
  SELECT source, {TOKENS_SQL} AS toks FROM documents
),
per_doc AS (
  SELECT source, len(toks) AS nw,
         (len(toks) BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS}
          AND len(list_filter(toks, t -> t IN ({_GOPHER_STOP_SQL}))) >= 2) AS ok
  FROM tok
),
src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(nw) AS BIGINT) AS tokens,
         CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) * 1000000
           // COUNT(*) AS quality_ppm
  FROM per_doc GROUP BY source
),
totals AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t_total FROM src),
alloc AS (
  SELECT src.*, t_total,
         CAST(COALESCE(SUM({UPS_MAX_EPOCHS - 1} * tokens) OVER (
           ORDER BY quality_ppm DESC, source
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS pre
  FROM src, totals
),
ext AS (
  SELECT *,
         GREATEST(CAST(0 AS BIGINT), LEAST(CAST({UPS_MAX_EPOCHS - 1} AS
           BIGINT), (t_total * {UPS_BUDGET_MULT - 1} - pre)
           // GREATEST(tokens, 1)))
           AS extra
  FROM alloc
)
SELECT source, n_docs, quality_ppm, tokens,
       CAST(1 + extra AS INTEGER) AS epochs,
       (1 + extra) * tokens AS tokens_contributed,
       (1 + extra) * tokens * 1000000
         // GREATEST(t_total * {UPS_BUDGET_MULT}, 1)
         AS budget_share_ppm
FROM ext ORDER BY source
"""


CORPUS_UPSAMPLING_SQL = _upsampling_sql()


# UniMax budget allocator: per-language epoch cap and the token budget
# as a fraction of the corpus (3/2 of total tokens — chosen so the
# fixture lands in the interesting partial-saturation regime: the four
# smaller languages saturate at their epoch cap and the largest, en, is
# DOWN-sampled to the uniform water level below even one epoch).
UNIMAX_EPOCH_CAP = 2
UNIMAX_BUDGET_NUM = 3
UNIMAX_BUDGET_DEN = 2


def corpus_unimax_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, ICLR: "UniMax:
    Fairer and More Effective Language Sampling for Large-Scale
    Multilingual Pretraining"): allocate a token budget as UNIFORMLY as
    possible across languages, subject to a per-language repeat cap —
    the published successor to temperature sampling
    (``corpus_temperature_sampling``) that avoids both starving
    tail languages and over-repeating them. The complementary planner
    to ``corpus_upsampling_epochs``: that one spends an EXTRA budget in
    quality order (greedy, per-source); this one waterfills a TOTAL
    budget uniformly per language under a cap.

    The waterfilling solution in closed prefix form: sort languages by
    capped capacity ``cap_e = tokens × {UNIMAX_EPOCH_CAP}`` ascending;
    a language saturates (takes all of cap_e) iff
    ``cap_e_i · (K − i + 1) ≤ N − P_{{i−1}}`` (its capacity is below the
    even split of what remains; P = prefix sum of cap_e). Saturation is
    prefix-closed under this order — if the condition fails at i it
    fails at every later language — so the saturated set is determined
    by ONE prefix-sum window over the K-row ledger, and everyone past
    the cut takes the integer water level
    ``(N − P_j) div (K − j)`` (truncating; the ≤ K−1 remainder tokens
    are deliberately left unspent — documented, deterministic). On the
    fixture N = 3·total div 2: de/fr/es/zh saturate at 2 epochs and en
    is down-sampled to 0.84 epochs — exactly the paper's headline
    behavior (the largest language absorbs the budget pressure).

    Scale shape: one documents scan → one |languages|-key partial agg →
    windows and arithmetic over the K-row ledger (metadata scale). The
    allocator's input is the per-language ledger, never the corpus."""
    docs = with_tokens(load_documents(spark, sf_dir))
    ledger = docs.groupBy("lang").agg(
        F.expr("CAST(SUM(size(toks)) AS BIGINT)").alias("cap_tokens")
    )
    totals = ledger.agg(
        F.sum("cap_tokens").alias("t_total"),
        F.count(F.lit(1)).alias("k"),
    )
    cap_e = F.expr(f"cap_tokens * {UNIMAX_EPOCH_CAP}")
    w_ord = Window.orderBy(F.asc("cap_e"), F.asc("lang"))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    base = (
        ledger.crossJoin(F.broadcast(totals))
        .withColumn("cap_e", cap_e)
        .withColumn(
            "budget",
            F.expr(
                f"t_total * {UNIMAX_BUDGET_NUM} div {UNIMAX_BUDGET_DEN}"
            ),
        )
        .withColumn("rn", F.row_number().over(w_ord))
        .withColumn(
            "p_prev",
            F.coalesce(
                F.sum("cap_e").over(
                    w_ord.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        .withColumn(
            "saturated",
            F.expr("cap_e * (k - rn + 1) <= budget - p_prev"),
        )
        .withColumn(
            "j",
            F.max(F.expr("CASE WHEN saturated THEN rn ELSE 0 END")).over(
                w_all
            ),
        )
        .withColumn(
            "p_j",
            F.max(
                F.expr("CASE WHEN saturated THEN p_prev + cap_e ELSE 0 END")
            ).over(w_all),
        )
        .withColumn(
            "level",
            F.expr(
                "CASE WHEN k > j THEN (budget - p_j) div (k - j)"
                " ELSE CAST(0 AS BIGINT) END"
            ),
        )
    )
    return base.select(
        "lang",
        "cap_tokens",
        F.col("cap_e").alias("cap_epoch_tokens"),
        F.expr("CAST(CASE WHEN saturated THEN 1 ELSE 0 END AS INT)").alias(
            "saturated"
        ),
        F.expr("CASE WHEN saturated THEN cap_e ELSE level END").alias(
            "alloc_tokens"
        ),
        F.expr(
            "CASE WHEN saturated THEN cap_e ELSE level END * 1000000"
            " div greatest(cap_tokens, 1)"
        ).alias("epochs_ppm"),
    ).orderBy("lang")


CORPUS_UNIMAX_SQL = f"""
WITH ledger AS (
  SELECT lang, CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS cap_tokens
  FROM documents GROUP BY lang
),
totals AS (
  SELECT CAST(SUM(cap_tokens) AS BIGINT) AS t_total, COUNT(*) AS k
  FROM ledger
),
base AS (
  SELECT lang, cap_tokens,
         cap_tokens * {UNIMAX_EPOCH_CAP} AS cap_e,
         t_total * {UNIMAX_BUDGET_NUM} // {UNIMAX_BUDGET_DEN} AS budget,
         k,
         ROW_NUMBER() OVER (ORDER BY cap_tokens * {UNIMAX_EPOCH_CAP}, lang)
           AS rn,
         CAST(COALESCE(SUM(cap_tokens * {UNIMAX_EPOCH_CAP}) OVER (
           ORDER BY cap_tokens * {UNIMAX_EPOCH_CAP}, lang
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS p_prev
  FROM ledger, totals
),
sat AS (
  SELECT *, (cap_e * (k - rn + 1) <= budget - p_prev) AS saturated
  FROM base
),
cut AS (
  SELECT *,
         MAX(CASE WHEN saturated THEN rn ELSE 0 END) OVER () AS j,
         CAST(MAX(CASE WHEN saturated THEN p_prev + cap_e ELSE 0 END)
              OVER () AS BIGINT) AS p_j
  FROM sat
)
SELECT lang, cap_tokens, cap_e AS cap_epoch_tokens,
       CAST(CASE WHEN saturated THEN 1 ELSE 0 END AS INTEGER) AS saturated,
       CAST(CASE WHEN saturated THEN cap_e
            WHEN k > j THEN (budget - p_j) // (k - j)
            ELSE 0 END AS BIGINT) AS alloc_tokens,
       CAST(CASE WHEN saturated THEN cap_e
            WHEN k > j THEN (budget - p_j) // (k - j)
            ELSE 0 END AS BIGINT) * 1000000 // GREATEST(cap_tokens, 1)
         AS epochs_ppm
FROM cut ORDER BY lang
"""



# ---------------------------------------------------------------------------
# Filter-ablation grid (one-pass CUBE)
# ---------------------------------------------------------------------------


def corpus_ablation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filter ablation in ONE pass: every combination of the three
    quality-gate flags (length floor / language allowlist / head-source
    split) gets its doc count and char volume via ``CUBE`` — the
    "what would each filter config keep?" table that otherwise costs
    2^k separate corpus scans when tuning a training-data recipe.

    CUBE is a map-side Expand (each row fans to its 8 grouping sets
    BEFORE the exchange, partial-aggregated immediately), so the plan is
    still one shuffle of (tiny) group keys — the 100 TB corpus is read
    once no matter how many ablation cells are requested. Rolled-up
    cells surface as -1 (COALESCE) so every output column stays a
    non-null integer for exact cross-engine comparison.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("len_ok"),
        F.when(F.col("lang").isin("en", "de", "fr"), 1).otherwise(0).alias("lang_ok"),
        F.when(
            F.regexp_extract("source", "src(\\d+)", 1).cast("int") < 10, 1
        ).otherwise(0).alias("head_source"),
        "n_chars",
    )
    return (
        docs.cube("len_ok", "lang_ok", "head_source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            F.coalesce("len_ok", F.lit(-1)).alias("len_ok"),
            F.coalesce("lang_ok", F.lit(-1)).alias("lang_ok"),
            F.coalesce("head_source", F.lit(-1)).alias("head_source"),
            "n_docs",
            "total_chars",
        )
        .orderBy("len_ok", "lang_ok", "head_source")
    )


CORPUS_ABLATION_SQL = """
WITH flags AS (
  SELECT CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS len_ok,
         CASE WHEN lang IN ('en','de','fr') THEN 1 ELSE 0 END AS lang_ok,
         CASE WHEN CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) < 10
              THEN 1 ELSE 0 END AS head_source,
         n_chars
  FROM documents
)
SELECT COALESCE(len_ok, -1) AS len_ok,
       COALESCE(lang_ok, -1) AS lang_ok,
       COALESCE(head_source, -1) AS head_source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM flags
GROUP BY CUBE (len_ok, lang_ok, head_source)
ORDER BY len_ok, lang_ok, head_source
"""



EPOCH_COUNT = 3
EPOCH_SHARDS = 16


def corpus_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch shard ordering: each training epoch
    visits every shard exactly once in a different pseudo-random order,
    with NO RNG — the order key is md5(epoch:shard), so any worker (or
    a resumed job) recomputes the identical schedule from scratch.
    This is how large training runs shuffle data they cannot afford to
    physically reshuffle: permute the shard READ ORDER per epoch, keep
    the bytes where they are.

    Plan: |shards|×|epochs| rows total (metadata-sized), one window per
    epoch partition for positions. The md5 key is cross-engine
    (DuckDB's md5 = Spark's), making even the "random" order
    oracle-exact.
    """
    shards = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % EPOCH_SHARDS).alias("shard"))
        .distinct()
    )
    epochs = spark.range(1, EPOCH_COUNT + 1).select(F.col("id").alias("epoch"))
    keyed = shards.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "shard",
        F.md5(F.concat_ws(":", F.col("epoch"), F.col("shard"))).alias("k"),
    )
    w = Window.partitionBy("epoch").orderBy("k")
    return keyed.select(
        "epoch",
        F.row_number().over(w).cast("long").alias("position"),
        "shard",
    ).orderBy("epoch", "position")


CORPUS_EPOCH_SQL = f"""
WITH shards AS (SELECT DISTINCT doc_id % {EPOCH_SHARDS} AS shard FROM documents),
epochs AS (SELECT unnest(generate_series(1, {EPOCH_COUNT})) AS epoch),
keyed AS (
  SELECT epoch, shard,
         md5(CAST(epoch AS VARCHAR) || ':' || CAST(shard AS VARCHAR)) AS k
  FROM shards CROSS JOIN epochs
)
SELECT epoch,
       CAST(row_number() OVER (PARTITION BY epoch ORDER BY k) AS BIGINT) AS position,
       shard
FROM keyed
ORDER BY epoch, position
"""



SPAN_LEN = 3     # masked-span length in tokens
SPAN_EVERY = 5   # one span begins every SPAN_EVERY * SPAN_LEN tokens


def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption mask planning (the T5/UL2 denoising objective's
    data prep): deterministically mark token spans for masking — span
    s of length SPAN_LEN begins at every SPAN_EVERY-th span slot — and
    report per-language mask budget: tokens, masked tokens, span count,
    and the realized mask ratio in ppm (the number the training config
    asserts, typically ~15-20%).

    Position arithmetic only: a token at position p is masked iff
    (p DIV SPAN_LEN) % SPAN_EVERY == 0 — no RNG, so any worker (or a
    replayed job) plans the identical masks, and the oracle hash-checks
    the realized ratio exactly. One explode with posexplode, one
    partial-agg shuffle on lang.
    """
    toks = with_tokens(load_documents(spark, sf_dir)).select(
        "lang", F.posexplode("toks").alias("pos", "tok")
    )
    flagged = toks.select(
        "lang",
        F.when(
            F.expr(f"(pos DIV {SPAN_LEN}) % {SPAN_EVERY} = 0"), 1
        ).otherwise(0).alias("masked"),
        F.when(
            F.expr(
                f"(pos DIV {SPAN_LEN}) % {SPAN_EVERY} = 0 AND pos % {SPAN_LEN} = 0"
            ),
            1,
        ).otherwise(0).alias("span_start"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("masked").alias("n_masked"),
            F.sum("span_start").alias("n_spans"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_masked",
            "n_spans",
            F.expr("n_masked * 1000000 DIV n_tokens").alias("mask_ratio_ppm"),
        )
        .orderBy("lang")
    )


CORPUS_SPAN_SQL = f"""
WITH toks AS (
  SELECT lang, g.i - 1 AS pos
  FROM (SELECT lang, {TOKENS_SQL} AS t FROM documents),
       LATERAL (SELECT unnest(generate_series(1, len(t))) AS i) g
), flagged AS (
  SELECT lang,
         CASE WHEN (pos // {SPAN_LEN}) % {SPAN_EVERY} = 0 THEN 1 ELSE 0 END AS masked,
         CASE WHEN (pos // {SPAN_LEN}) % {SPAN_EVERY} = 0 AND pos % {SPAN_LEN} = 0
              THEN 1 ELSE 0 END AS span_start
  FROM toks
)
SELECT lang, COUNT(*) AS n_tokens,
       CAST(SUM(masked) AS BIGINT) AS n_masked,
       CAST(SUM(span_start) AS BIGINT) AS n_spans,
       CAST(SUM(masked) * 1000000 // COUNT(*) AS BIGINT) AS mask_ratio_ppm
FROM flagged GROUP BY lang ORDER BY lang
"""


# --- Curriculum schedule (rank-quantile phase assignment) -------------------

CURRICULUM_PHASES = 4  # easy -> hard training phases


def corpus_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum schedule: assign every document to one of
    {CURRICULUM_PHASES} training phases by its global difficulty rank
    (n_chars ASC — short/easy first, the curriculum-learning shape of
    Bengio et al. 2009), phases sized equal-by-COUNT so every phase is
    the same number of optimizer steps:

        phase = (rank − 1) · {CURRICULUM_PHASES} DIV n_docs

    Readout is the schedule manifest a dataloader consumes: per (phase,
    source) doc counts, char totals, and the phase's difficulty band
    [min, max n_chars] — the audit that the curriculum is monotone and
    no source is starved in early phases.

    Scale: the global rank is ``size_rank0``'s two-phase construction,
    so there is no whole-corpus window; the 1-row n_docs rides a
    broadcast cross join and the output is ({CURRICULUM_PHASES} ×
    sources) rows."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    total = docs.agg(F.count(F.lit(1)).alias("n_docs_total"))
    return (
        size_rank0(docs)
        .crossJoin(F.broadcast(total))
        .select(
            "source",
            "n_chars",
            F.expr(f"rank0 * {CURRICULUM_PHASES} DIV n_docs_total").alias("phase"),
        )
        .groupBy("phase", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("phase", "source")
    )


CORPUS_CURRICULUM_SQL = f"""
WITH ranked AS (
  SELECT source, n_chars,
         (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
           * {CURRICULUM_PHASES} // (SELECT COUNT(*) FROM documents) AS phase
  FROM documents
)
SELECT CAST(phase AS BIGINT) AS phase, source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM ranked GROUP BY 1, 2 ORDER BY phase, source
"""


# ---------------------------------------------------------------------------
# corpus_soft_dedup_weights — reweight-instead-of-drop dedup (SoftDeDup)
# ---------------------------------------------------------------------------


def corpus_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING near-duplicate documents,
    down-WEIGHT common ones (He et al. 2024, "SoftDedup: an Efficient Data
    Reweighting Method for Speeding Up Language Model Pre-training", ACL —
    public). A document's *commonness* is the mean document frequency of
    its distinct 3-gram shingles (the same shingle contract as the dedup
    family, ``with_shingles``); its sampling weight is the reciprocal, so
    text whose n-grams saturate the corpus contributes proportionally
    less training signal without hard-deleting borderline docs.

    Fixed-point contract: commonness is kept in millis (``Σdf·1000 div
    n_shingles``) and the reciprocal weight in ppm (``10⁹ div
    commonness_milli``) — a fully-unique doc scores exactly 1 000 000 ppm,
    and every value is an integer division of bigint counts, so the
    per-source report is engine-exact.

    Plan shape (inverted-index, never all-pairs): explode distinct
    shingles → ONE partial-agg shuffle keyed by shingle (document
    frequency) → join back to the exploded frame on shingle (AQE handles
    the hot-shingle skew; a df-cap prefilter is the documented production
    escape hatch) → per-doc partial agg → |sources|-row report. At 100 TB
    the df table is the only corpus-wide state, and it aggregates
    map-side first.
    """
    # Pin the COMPACT per-doc shingle arrays before exploding: the frame
    # feeds both the df aggregate and the join-back, and without the pin
    # the collapsed projection re-inlines the tokenize+shingle expression
    # tree under the generator (the text.py HOF-inlining trap) — measured
    # 11.4 s -> ~1.8 s per fresh invocation at sf0.1.
    compact = (
        with_shingles(load_table(spark, sf_dir, "documents"))
        .select("doc_id", "source", "shingles")
        .localCheckpoint(eager=False)
    )
    sh = compact.select("doc_id", "source", F.explode("shingles").alias("s"))
    df_tab = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        sh.join(df_tab, "s")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("df").alias("sum_df"),
            F.count(F.lit(1)).alias("n_sh"),
        )
        .select(
            "source",
            F.expr("sum_df * 1000 div n_sh").alias("commonness_milli"),
        )
        .withColumn("weight_ppm", F.expr("1000000000 div commonness_milli"))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(commonness_milli) div count(1)").alias(
                "mean_commonness_milli"
            ),
            F.sum("weight_ppm").alias("sum_weight_ppm"),
        )
        .withColumn(
            "effective_frac_ppm", F.expr("sum_weight_ppm div n_docs")
        )
        .orderBy("source")
    )


CORPUS_SOFT_DEDUP_SQL = f"""
WITH {SHINGLES_CTE},
ex AS (
  SELECT doc_id, unnest(shingles) AS s FROM sh
),
df_tab AS (
  SELECT s, COUNT(*) AS df FROM ex GROUP BY s
),
per_doc AS (
  SELECT e.doc_id,
         CAST(SUM(df) * 1000 // COUNT(*) AS BIGINT) AS commonness_milli
  FROM ex e JOIN df_tab USING (s)
  GROUP BY e.doc_id
),
weighted AS (
  SELECT d.source, commonness_milli,
         CAST(1000000000 // commonness_milli AS BIGINT) AS weight_ppm
  FROM per_doc p JOIN documents d USING (doc_id)
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(commonness_milli) // COUNT(*) AS BIGINT) AS mean_commonness_milli,
       CAST(SUM(weight_ppm) AS BIGINT) AS sum_weight_ppm,
       CAST(SUM(weight_ppm) // COUNT(*) AS BIGINT) AS effective_frac_ppm
FROM weighted GROUP BY source ORDER BY source
"""


def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval NEAR-DUP leakage audit — the published failure mode
    behind deduplicating before splitting (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", §6:
    near-duplicates straddling the train/validation boundary inflate
    eval scores; the C4/GPT-3 papers report the same class of test-set
    contamination). An EVAL document is LEAKED when it is a verified
    near-duplicate (the minhash-LSH pair table at the
    {MINHASH_VERIFY_THRESHOLD} Jaccard verify threshold) of at least
    one TRAIN document under the engine's content-addressed 80/20
    hash split (``corpus_split_stats``' exact split rule). Where
    ``text_decontaminate`` catches EXACT shingle overlap with a
    curated eval set, this audits the sampled split itself for
    near-dup contamination — the check a dataset card runs before
    quoting held-out perplexity.

    Output per source: eval population, leaked eval docs (distinct),
    leakage ppm, and the raw cross-split pair count. Sources with no
    leakage still appear (left join, zero-filled).

    Plan shape: the verified pair table is the AMORTIZED per-session
    ``dup_pairs`` checkpoint (shared with the nine graph-family
    consumers — no minhash recompute); both endpoints join against the
    broadcastable (doc_id, split) projection; leaked docs collapse via
    a distinct-by-key partial agg; the rollup is |sources|-sized.
    At 100 TB: two hash joins on the pair table + ledger arithmetic —
    the dedup chain itself is the dominant (already amortized) cost."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (hash_bucket_expr() < TRAIN_BUCKETS).alias("is_train"),
    )
    pairs = dup_pairs(spark, sf_dir)
    a = docs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("source").alias("src_a"),
        F.col("is_train").alias("train_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("source").alias("src_b"),
        F.col("is_train").alias("train_b"),
    )
    cross = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("train_a") != F.col("train_b"))
        .select(
            F.when(F.col("train_a"), F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("eval_doc"),
            F.when(F.col("train_a"), F.col("src_b"))
            .otherwise(F.col("src_a"))
            .alias("source"),
        )
    )
    leaked = cross.groupBy("source").agg(
        F.countDistinct("eval_doc").alias("n_leaked"),
        F.count(F.lit(1)).alias("n_cross_pairs"),
    )
    eval_pop = (
        docs.filter(~F.col("is_train"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_eval"))
    )
    return (
        eval_pop.join(leaked, "source", "left")
        .select(
            "source",
            "n_eval",
            F.coalesce("n_leaked", F.lit(0)).cast("bigint").alias("n_leaked"),
            F.coalesce("n_cross_pairs", F.lit(0))
            .cast("bigint")
            .alias("n_cross_pairs"),
            F.expr(
                "coalesce(n_leaked, 0) * 1000000 div greatest(n_eval, 1)"
            ).alias("leak_ppm"),
        )
        .orderBy("source")
    )


def _split_leakage_sql() -> str:
    return f"""
WITH {_minhash_ctes()},
pairs AS (
  SELECT doc_a, doc_b FROM verified
  WHERE jaccard >= {MINHASH_VERIFY_THRESHOLD}
),
split AS (
  SELECT doc_id, source,
         ({_bucket_sql()} < {TRAIN_BUCKETS}) AS is_train
  FROM documents
),
cross_pairs AS (
  SELECT CASE WHEN a.is_train THEN p.doc_b ELSE p.doc_a END AS eval_doc,
         CASE WHEN a.is_train THEN b.source ELSE a.source END AS source
  FROM pairs p
  JOIN split a ON p.doc_a = a.doc_id
  JOIN split b ON p.doc_b = b.doc_id
  WHERE a.is_train <> b.is_train
),
leaked AS (
  SELECT source, COUNT(DISTINCT eval_doc) AS n_leaked,
         COUNT(*) AS n_cross_pairs
  FROM cross_pairs GROUP BY source
),
eval_pop AS (
  SELECT source, COUNT(*) AS n_eval FROM split
  WHERE NOT is_train GROUP BY source
)
SELECT e.source, e.n_eval,
       CAST(COALESCE(l.n_leaked, 0) AS BIGINT) AS n_leaked,
       CAST(COALESCE(l.n_cross_pairs, 0) AS BIGINT) AS n_cross_pairs,
       CAST(COALESCE(l.n_leaked, 0) * 1000000
            // GREATEST(e.n_eval, 1) AS BIGINT) AS leak_ppm
FROM eval_pop e LEFT JOIN leaked l USING (source)
ORDER BY e.source
"""


CORPUS_SPLIT_LEAKAGE_SQL = _split_leakage_sql()


# DoReMi knobs: unrolled Group-DRO rounds and the multiplicative step
# size applied to the per-domain excess-loss proxy (ppm scale).
DOREMI_ROUNDS = 3
DOREMI_ETA = 8


def corpus_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi domain reweighting (Xie et al. 2023, NeurIPS: "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    Group-DRO over domains — per round, upweight domains with EXCESS
    loss (where the proxy model underperforms the reference),
    renormalize, and average the weight iterates into the final
    mixture. The published rung between per-domain quality signals and
    ``corpus_mix_weighted``'s static mixing.

    Two fixture adaptations, both documented: (1) the container trains
    no proxy/reference model pair, so the per-domain excess-loss proxy
    is the deterministic heuristic on hand — each source's absolute
    deviation of its stopword share from the corpus baseline (the
    fixture's sources genuinely differ, spanning 0.04..0.074; a domain
    far from the reference distribution stands in for "domain the
    proxy models badly"); (2) the paper's exponentiated-gradient
    update ``w·exp(η·excess)`` is LINEARIZED to the exact fixed-point
    multiplicative step ``w·(10⁶ + η·excess) div 10⁶`` — the
    first-order expansion, per the engine's no-libm exactness rule.
    {DOREMI_ROUNDS} rounds are unrolled; truncating renormalization
    makes the rounds genuinely sequential (not a closed power form).

    Plan shape: one documents scan → one |sources|-key partial agg →
    all rounds as arithmetic + ledger-sized window sums over the
    ~20-row domain ledger (metadata scale — the allocator input is the
    ledger, never the corpus), the ``corpus_upsampling_epochs``
    convention."""
    docs = with_tokens(load_documents(spark, sf_dir))
    ledger = docs.groupBy("source").agg(
        F.expr("CAST(SUM(size(toks)) AS BIGINT)").alias("tokens"),
        F.sum(stop_count()).alias("stop_tokens"),
    )
    totals = ledger.agg(
        F.sum("tokens").alias("t_all"),
        F.sum("stop_tokens").alias("s_all"),
        F.count(F.lit(1)).alias("k"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cur = (
        ledger.crossJoin(F.broadcast(totals))
        .withColumn(
            "loss_ppm",
            F.expr("stop_tokens * 1000000 div greatest(tokens, 1)"),
        )
        .withColumn(
            "base_ppm", F.expr("s_all * 1000000 div greatest(t_all, 1)")
        )
        .withColumn("excess_ppm", F.expr("abs(loss_ppm - base_ppm)"))
        .withColumn("w0", F.expr("CAST(1000000 div k AS BIGINT)"))
    )
    for t in range(1, DOREMI_ROUNDS + 1):
        cur = (
            cur.withColumn(
                f"u{t}",
                F.expr(
                    f"w{t - 1} * (1000000 + {DOREMI_ETA} * excess_ppm)"
                    f" div 1000000"
                ),
            )
            .withColumn(f"su{t}", F.sum(f"u{t}").over(w_all))
            .withColumn(
                f"w{t}", F.expr(f"u{t} * 1000000 div su{t}")
            )
        )
    wavg = " + ".join(f"w{t}" for t in range(1, DOREMI_ROUNDS + 1))
    return cur.select(
        "source",
        "tokens",
        "excess_ppm",
        *[F.col(f"w{t}") for t in range(DOREMI_ROUNDS + 1)],
        F.expr(f"({wavg}) div {DOREMI_ROUNDS}").alias("w_final_ppm"),
    ).orderBy("source")


def _doremi_sql() -> str:
    sql = f"""
WITH ledger AS (
  SELECT source,
         CAST(SUM(len({TOKENS_SQL})) AS BIGINT) AS tokens,
         CAST(SUM(len(list_filter({TOKENS_SQL}, t -> t IN ({_STOP_SQL}))))
              AS BIGINT) AS stop_tokens
  FROM documents GROUP BY source
),
totals AS (
  SELECT CAST(SUM(tokens) AS BIGINT) AS t_all,
         CAST(SUM(stop_tokens) AS BIGINT) AS s_all,
         COUNT(*) AS k
  FROM ledger
),
r0 AS (
  SELECT source, tokens,
         abs(stop_tokens * 1000000 // GREATEST(tokens, 1)
             - s_all * 1000000 // GREATEST(t_all, 1)) AS excess_ppm,
         CAST(1000000 // k AS BIGINT) AS w0
  FROM ledger, totals
)"""
    for t in range(1, DOREMI_ROUNDS + 1):
        sql += f""",
u{t} AS (
  SELECT *, w{t - 1} * (1000000 + {DOREMI_ETA} * excess_ppm) // 1000000
           AS uu{t}
  FROM r{t - 1}
),
r{t} AS (
  SELECT *, CAST(uu{t} * 1000000 // (SUM(uu{t}) OVER ()) AS BIGINT) AS w{t}
  FROM u{t}
)"""
    wavg = " + ".join(f"w{t}" for t in range(1, DOREMI_ROUNDS + 1))
    cols = ", ".join(f"w{t}" for t in range(DOREMI_ROUNDS + 1))
    sql += f"""
SELECT source, tokens, excess_ppm, {cols},
       ({wavg}) // {DOREMI_ROUNDS} AS w_final_ppm
FROM r{DOREMI_ROUNDS} ORDER BY source
"""
    return sql


CORPUS_DOREMI_SQL = _doremi_sql()


# DSIR hashed n-gram selection: feature-hash space and the declared
# curated target subset (stands in for the paper's Wikipedia+books
# target — the fixture's sources differ measurably in token mix, e.g.
# stopword shares span 0.04..0.074, so the bucket distributions carry
# a real signal).
DSIR_BUCKETS = 64
DSIR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
_DSIR_TGT_SQL = sql_list(DSIR_TARGET_SOURCES)


def corpus_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection via Importance Resampling (Xie et al.
    2023, NeurIPS): the published distribution-matching rung between
    the quality gate (``corpus_filter_verdict``) and mixing
    (``corpus_mix_weighted``). Documents are scored by how much more
    likely their hashed n-gram features are under a TARGET corpus
    distribution than under the raw pool, and kept when target-like.
    Features are the paper's §4 hashed n-grams: unigrams + adjacent
    bigrams, feature-hashed (md5) into {DSIR_BUCKETS} buckets; both
    distributions are Laplace-smoothed bucket frequencies.

    Log-free adaptation (the no-libm exactness rule): the paper sums
    per-gram LOG likelihood ratios; this engine scores each gram with
    the exact fixed-point likelihood RATIO
    ``(tgt_b+1)·(S_raw+B) · 10⁶ div ((raw_b+1)·(S_tgt+B))`` (DECIMAL/
    HUGEINT intermediates) and takes the per-document MEAN ratio, with
    deterministic selection at ratio ≥ 1 (score_ppm ≥ 10⁶: the doc's
    grams are on average more probable under the target) instead of
    Gumbel top-k resampling — reproducible across engines, runs, and
    cluster sizes.

    Output: the per-source selection-rate audit (docs, selected, rate,
    mean score) — the table a pipeline owner reads to see which raw
    sources the target distribution actually admits (the declared
    target sources themselves should, and do, select at the top).

    Plan shape: one documents scan → in-row gram array → one generate →
    the compact (doc, source, bucket) gram frame, pinned
    (localCheckpoint: it feeds the bucket ledger AND the scoring pass —
    the plan-duplication trap) → a {DSIR_BUCKETS}-row bucket ledger
    (partial-agg shuffle; buckets collapse map-side) → broadcast the
    weighted ledger back onto the gram frame → per-doc partial agg →
    per-source rollup. At 100 TB: two data-keyed exchanges total, with
    the ledger a broadcast relation — the model-state pattern."""
    docs = (
        with_tokens(load_documents(spark, sf_dir))
        .filter(F.size("toks") >= 1)
        .select("doc_id", "source", "toks")
    )
    grams = (
        docs.select(
            "doc_id",
            "source",
            # unigrams ++ adjacent bigrams (a 1-token doc has none)
            F.explode(
                F.concat(
                    "toks",
                    F.when(F.size("toks") >= 2, bigrams_expr()).otherwise(
                        F.expr("CAST(array() AS ARRAY<STRING>)")
                    ),
                )
            ).alias("g"),
        )
        .select(
            "doc_id",
            "source",
            (md5_int("g", 8) % DSIR_BUCKETS).alias("bucket"),
            F.col("source")
            .isin(*DSIR_TARGET_SOURCES)
            .cast("long")
            .alias("is_tgt"),
        )
        .localCheckpoint(eager=False)
    )
    ledger = grams.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("raw_n"),
        F.sum("is_tgt").alias("tgt_n"),
    )
    totals = ledger.groupBy().agg(
        F.sum("raw_n").alias("s_raw"), F.sum("tgt_n").alias("s_tgt")
    )
    weighted = ledger.crossJoin(F.broadcast(totals)).select(
        "bucket",
        F.expr(
            f"CAST(CAST(tgt_n + 1 AS DECIMAL(38,0))"
            f" * (s_raw + {DSIR_BUCKETS}) * 1000000"
            f" DIV (CAST(raw_n + 1 AS DECIMAL(38,0))"
            f"      * (s_tgt + {DSIR_BUCKETS})) AS BIGINT)"
        ).alias("r_ppm"),
    )
    per_doc = (
        grams.join(F.broadcast(weighted), "bucket")
        .groupBy("doc_id", "source")
        .agg(
            F.expr("CAST(SUM(r_ppm) AS BIGINT)").alias("sr"),
            F.count(F.lit(1)).alias("ng"),
        )
        .select(
            "source",
            F.expr("sr DIV ng").alias("score_ppm"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("score_ppm") >= 1_000_000).cast("long")
            ).alias("n_selected"),
            F.expr(
                "CAST(SUM(score_ppm) DIV COUNT(1) AS BIGINT)"
            ).alias("avg_score_ppm"),
        )
        .withColumn(
            "sel_rate_ppm", F.expr("n_selected * 1000000 DIV n_docs")
        )
        .select(
            "source", "n_docs", "n_selected", "sel_rate_ppm", "avg_score_ppm"
        )
        .orderBy("source")
    )


CORPUS_DSIR_SQL = f"""
WITH docs AS (
  SELECT doc_id, source, {TOKENS_SQL} AS toks FROM documents
  WHERE len({TOKENS_SQL}) >= 1
),
grams AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(g), 1, 8))::BIGINT % {DSIR_BUCKETS}
              AS BIGINT) AS bucket,
         CASE WHEN source IN ({_DSIR_TGT_SQL}) THEN 1 ELSE 0 END AS is_tgt
  FROM (
    SELECT doc_id, source, unnest(list_concat(toks,
             CASE WHEN len(toks) >= 2 THEN
               list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])
             ELSE [] END)) AS g
    FROM docs)
),
ledger AS (
  SELECT bucket, COUNT(*) AS raw_n, SUM(is_tgt) AS tgt_n
  FROM grams GROUP BY bucket
),
totals AS (SELECT SUM(raw_n) AS s_raw, SUM(tgt_n) AS s_tgt FROM ledger),
weighted AS (
  SELECT bucket,
         CAST(CAST(tgt_n + 1 AS HUGEINT) * (s_raw + {DSIR_BUCKETS}) * 1000000
              // (CAST(raw_n + 1 AS HUGEINT) * (s_tgt + {DSIR_BUCKETS}))
              AS BIGINT) AS r_ppm
  FROM ledger, totals
),
per_doc AS (
  SELECT doc_id, source,
         CAST(SUM(r_ppm) AS BIGINT) // COUNT(*) AS score_ppm
  FROM grams JOIN weighted USING (bucket)
  GROUP BY doc_id, source
)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN score_ppm >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected,
       CAST(SUM(CASE WHEN score_ppm >= 1000000 THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // COUNT(*) AS sel_rate_ppm,
       CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS avg_score_ppm
FROM per_doc GROUP BY source ORDER BY source
"""


QUERIES = {
    corpus_soft_dedup_weights: CORPUS_SOFT_DEDUP_SQL,
    corpus_curriculum_schedule: CORPUS_CURRICULUM_SQL,
    corpus_ablation_grid: CORPUS_ABLATION_SQL,
    corpus_epoch_shuffle: CORPUS_EPOCH_SQL,
    corpus_span_corruption: CORPUS_SPAN_SQL,
    corpus_temperature_sampling: CORPUS_TEMPERATURE_SQL,
    corpus_upsampling_epochs: CORPUS_UPSAMPLING_SQL,
    corpus_unimax_budget: CORPUS_UNIMAX_SQL,
    corpus_doremi_weights: CORPUS_DOREMI_SQL,
    corpus_split_leakage: CORPUS_SPLIT_LEAKAGE_SQL,
    corpus_dsir_selection: CORPUS_DSIR_SQL,
    corpus_importance_sampling: CORPUS_IMPORTANCE_SQL,
    corpus_shard_manifest: CORPUS_SHARD_SQL,
    corpus_cap_per_source: CORPUS_CAP_SQL,
    corpus_preprocess_e2e: CORPUS_PREP_SQL,
    corpus_token_budget: CORPUS_TOKEN_BUDGET_SQL,
    corpus_length_survival: CORPUS_LENGTH_SURVIVAL_SQL,
    corpus_mix_weighted: CORPUS_MIX_SQL,
    corpus_sample_hash: CORPUS_SAMPLE_SQL,
    corpus_sample_stratified: CORPUS_STRATIFIED_SQL,
    corpus_split_stats: CORPUS_SPLIT_SQL,
    text_decontaminate: TEXT_DECONTAMINATE_SQL,
    text_topk_terms: TEXT_TOPK_TERMS_SQL,
    corpus_pack_greedy: CORPUS_PACK_SQL,
}
